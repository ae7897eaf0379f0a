"""Empirical scale probe: replicate the sf0.1 tables K-fold and measure
how the heavy catalog entries' wall-clock grows with input volume.

Two replication modes per table family:

- **volume mode (default)**: each copy k gets disjoint keys AND disjoint
  content (documents: every token is prefixed with the copy tag, so
  shingles/signatures never collide across copies; embeddings: first
  component shifted by k; lineitem: orderkey/partkey offset into a
  disjoint id range, so the co-purchase graph becomes K disconnected
  copies).  Result density per input row stays constant, so a
  scale-linear operator should show t(K) ~= K * t(1) (modulo fixed
  overhead) and a superlinear one is exposed directly.
- **stress mode (--stress)**: documents AND (since round 9) embeddings
  are replicated EXACTLY (same text / same vector, new ids),
  manufacturing K-sized exact-duplicate clusters and identical-vector
  LSH buckets — the giant-bucket / boilerplate-shingle worst case the
  salted joins in operators/dedup.py, operators/similarity.py, and
  queries_text.dedup_containment exist for. Output pair count
  necessarily grows ~K^2 per cluster; the probe checks the jobs
  COMPLETE with bounded task sizes rather than that time stays linear,
  and --count-output shows time tracking the OUTPUT, not a quadratic
  plan.

Usage:
    python scripts/scale_probe.py [--scales 1,4,8] [--stress]
        [--sf-dir /root/testdata/sf0.1] [--work-dir /tmp/spark_graft_scale]

Prints one JSON line per (query, K) and a final summary with the
log-log slope (fitted scaling exponent) per query.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from bench import time_entry  # noqa: E402

SMALL_TABLES = ["region", "nation", "customer", "supplier", "part", "orders"]
ID_OFFSET = 10_000_000
USER_OFFSET = 1_000_000

# Queries worth probing: the ones whose sf0.1 cost is dominated by the
# scaled tables (documents / embeddings / lineitem) rather than fixed
# overhead.  Each maps to the table family that drives its cost.
PROBE_QUERIES = {
    "dedup_exact": "documents",
    "dedup_minhash": "documents",
    "dedup_simhash": "documents",
    "dedup_containment": "documents",
    "contamination_ngram": "documents",
    "corpus_clean": "documents",
    "embedding_near_dup": "embeddings",
    "topk_cosine_lsh": "embeddings",
    "copurchase_pairs": "lineitem",
    "pagerank_copurchase": "lineitem",
    "triangle_count": "lineitem",
    # events family: copies carry disjoint users over the SAME time range,
    # so per-user work is constant and time-bucket density grows with K —
    # the realistic shape of traffic growth.
    "asof_join": "events",
    "interval_join": "events",
    "event_funnel": "events",
    "markov_transitions": "events",
    "distinct_users_daily": "events",
    "salted_agg_users": "events",
    "retention_cohorts": "events",
    "winnowing_fingerprint": "documents",
    "bm25_search": "documents",
    # round-4 ext5 additions
    "dedup_chunk_exact": "documents",
    "source_overlap": "documents",
    "knn_classify": "embeddings",
    "psi_value_drift": "events",
    # bpe_merges: each round is a pair-keyed partial agg over all tokens,
    # so cost should be ~linear in corpus volume; copy-tagged tokens mean
    # the top pair differs per copy, exercising the top-1 + merge path.
    "bpe_merges": "documents",
    # hard_negatives: anchors broadcast into one corpus scan with a
    # map-side struct-max — cost should track corpus volume linearly.
    "hard_negatives": "embeddings",
    # round-5 additions
    "hard_negatives_lsh": "embeddings",  # bucket-join candidates: sub-linear
    "dedup_simhash_md5": "documents",    # md5 vote fold is per-row compute
    "ks_value_drift": "events",          # distinct-value window per type
    # round-7 additions
    # flagship: replay -> zero-fill -> scale -> anomaly -> pivot; the
    # zero-fill grid x series join is the one data-sized join
    "flagship_pipeline": "events",
    # finite gate: map-only scan + 5-group agg — must be flat-per-byte
    "embedding_finite_gate": "embeddings",
    # value gate: map-only scan + 4-group agg — must be flat-per-byte
    "events_value_gate": "events",
    # rolling window + fixed-point rounding: one event_type-keyed shuffle
    "rolling_stats": "events",
    # grid expand + two-direction running windows, span-capped
    "interpolate_gaps": "events",
}

STRESS_QUERIES = [
    "dedup_exact", "dedup_minhash", "dedup_simhash", "dedup_containment",
    # round-4: chunk dedup forms no pairs (census only) and exact-copy
    # replication adds no new (source, shingle) rows for source_overlap —
    # both should stay FLAT under stress, not merely complete
    "dedup_chunk_exact", "source_overlap",
    # round-9: embeddings are also replicated EXACTLY under --stress (no
    # Rademacher decorrelation), so every vector becomes a K-sized
    # identical cluster — the true-pair count grows C(K,2) per vector and
    # the probe's --count-output shows time tracking OUTPUT, not a
    # quadratic plan
    "embedding_near_dup",
]


def _near_dup_auto(spark, sf_dir: str):
    """embedding_near_dup with planes='auto' (log2-scaled bucket space) —
    the scale parametrization of the catalog entry, which pins planes=8
    for its DuckDB oracle and therefore goes quadratic once bucket
    occupancy grows with the corpus."""
    from amazon_macie_activity_generator_spark.operators.similarity import (
        embedding_near_dup,
    )
    from amazon_macie_activity_generator_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_near_dup(
        emb.select("vec_id", "embedding"), threshold=0.9, planes="auto"
    )


EXTRA_PROBES = {"embedding_near_dup_auto": _near_dup_auto}


def build_scaled_dir(spark, sf_dir: str, out_dir: str, k: int, stress: bool) -> None:
    """Write a K-fold scaled copy of the sf tables into out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    for t in SMALL_TABLES:
        dst = os.path.join(out_dir, f"{t}.parquet")
        if not os.path.exists(dst):
            shutil.copy(os.path.join(sf_dir, f"{t}.parquet"), dst)

    # events: disjoint users/event ids per copy over the SAME time range
    # (traffic growth: per-user history constant, per-time-bucket density
    # x K). Loaded via load_table so the nanos ts is normalized once; the
    # scaled copy is written as plain TIMESTAMP micros.
    from amazon_macie_activity_generator_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    evparts = []
    for i in range(k):
        evparts.append(
            ev.withColumn("event_id", F.col("event_id") + F.lit(i * ID_OFFSET))
            .withColumn("user_id", F.col("user_id") + F.lit(i * USER_OFFSET))
        )
    scaled_ev = evparts[0]
    for p in evparts[1:]:
        scaled_ev = scaled_ev.unionByName(p)
    scaled_ev.write.mode("overwrite").parquet(os.path.join(out_dir, "events.parquet"))

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    parts = []
    for i in range(k):
        c = docs.withColumn("doc_id", F.col("doc_id") + F.lit(i * ID_OFFSET))
        if i > 0 and not stress:
            # disjoint content per copy: tag every token so no shingle,
            # minhash band, or simhash chunk collides across copies
            tagged = F.concat_ws(
                " ",
                F.transform(
                    F.split(F.col("text"), r"\s+"),
                    lambda tok: F.concat(F.lit(f"c{i}"), tok),
                ),
            )
            c = c.withColumn("text", tagged)
        parts.append(c)
    scaled_docs = parts[0]
    for p in parts[1:]:
        scaled_docs = scaled_docs.unionByName(p)
    scaled_docs.write.mode("overwrite").parquet(os.path.join(out_dir, "documents.parquet"))

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    eparts = []
    for i in range(k):
        c = emb.withColumn("vec_id", F.col("vec_id") + F.lit(i * ID_OFFSET))
        if i > 0 and not stress:
            # copy-specific Rademacher sign flip per component: copies are
            # ~orthogonal to their originals (and to each other), so SRP
            # buckets decorrelate and near-dup DENSITY stays constant.
            # (A first-component shift kept copies near-identical to the
            # original — that manufactures genuine quadratic pair growth
            # no bucketing scheme can avoid, and measures the data, not
            # the operator.)
            sign = lambda x, j: x * (  # noqa: E731
                F.when(
                    F.pmod(F.xxhash64(F.lit(i), j), F.lit(2)) == 0, F.lit(1.0)
                ).otherwise(F.lit(-1.0))
            )
            c = c.withColumn(
                "embedding",
                F.transform(F.col("embedding"), lambda x, j: sign(x, j)),
            )
        eparts.append(c)
    scaled_emb = eparts[0]
    for p in eparts[1:]:
        scaled_emb = scaled_emb.unionByName(p)
    scaled_emb.write.mode("overwrite").parquet(os.path.join(out_dir, "embeddings.parquet"))

    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    lparts = []
    for i in range(k):
        c = li.withColumn("l_orderkey", F.col("l_orderkey") + F.lit(i * ID_OFFSET)).withColumn(
            "l_partkey", F.col("l_partkey") + F.lit(i * ID_OFFSET)
        )
        lparts.append(c)
    scaled_li = lparts[0]
    for p in lparts[1:]:
        scaled_li = scaled_li.unionByName(p)
    scaled_li.write.mode("overwrite").parquet(os.path.join(out_dir, "lineitem.parquet"))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scales", default="1,4,8")
    ap.add_argument("--queries", default=None, help="comma-separated subset to probe")
    ap.add_argument("--stress", action="store_true")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--work-dir", default="/tmp/spark_graft_scale")
    ap.add_argument(
        "--reps", type=int, default=1,
        help="repetitions per (query, K); min-of-N is recorded — single "
        "runs are ±1-2 s noisy on this box, which distorts log-log "
        "exponents for the 2-6 s entries",
    )
    ap.add_argument(
        "--count-output", action="store_true",
        help="also count() each query's output rows per K (one extra "
        "execution) — for output-bound entries the check is time/row "
        "staying flat, not time/input",
    )
    args = ap.parse_args()
    scales = [int(s) for s in args.scales.split(",")]

    from amazon_macie_activity_generator_spark.queries import QUERIES
    from amazon_macie_activity_generator_spark.session import get_spark, warm_up

    spark = get_spark("scale-probe")
    spark.sparkContext.setLogLevel("ERROR")
    warm_up(spark)

    names = STRESS_QUERIES if args.stress else list(PROBE_QUERIES)
    extra_probes = dict(EXTRA_PROBES)
    if args.queries:
        keep = set(args.queries.split(","))
        names = [n for n in names if n in keep]
        extra_probes = {n: f for n, f in extra_probes.items() if n in keep}
    mode = "stress" if args.stress else "volume"
    results: dict[str, dict[int, float]] = {n: {} for n in names}
    out_rows: dict[str, dict[int, int]] = {}
    for k in scales:
        out_dir = os.path.join(args.work_dir, f"{mode}_x{k}")
        build_scaled_dir(spark, args.sf_dir, out_dir, k, args.stress)
        probe_fns = {n: QUERIES[n][0] for n in names}
        if not args.stress:
            probe_fns.update(extra_probes)
        for name, fn in probe_fns.items():
            results.setdefault(name, {})
            # rebuild per rep: no plan reuse
            runs = [round(time_entry(spark, fn, out_dir)[1], 2)
                    for _ in range(max(args.reps, 1))]
            secs = min(runs)
            results[name][k] = secs
            rec = {"query": name, "k": k, "sec": secs, "runs": runs, "mode": mode}
            if args.count_output:
                rows = fn(spark, out_dir).count()
                # the count run re-persists the builder's scoped frames;
                # clear them so the NEXT query's timed rep starts clean
                spark.catalog.clearCache()
                out_rows.setdefault(name, {})[k] = rows
                rec["rows"] = rows
                rec["us_per_row"] = round(secs / rows * 1e6, 2) if rows else None
            print(json.dumps(rec), flush=True)

    summary = {}
    for name, by_k in results.items():
        ks = sorted(by_k)
        if len(ks) >= 2 and by_k[ks[0]] > 0:
            # least-squares slope in log-log space = fitted scaling exponent
            xs = [math.log(k) for k in ks]
            ys = [math.log(max(by_k[k], 1e-3)) for k in ks]
            mx, my = sum(xs) / len(xs), sum(ys) / len(ys)
            denom = sum((x - mx) ** 2 for x in xs)
            slope = sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / denom if denom else 0.0
            summary[name] = {"times": by_k, "exponent": round(slope, 2)}
            if name in out_rows:
                summary[name]["rows"] = out_rows[name]
    print(json.dumps({"mode": mode, "summary": summary}, sort_keys=True), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
