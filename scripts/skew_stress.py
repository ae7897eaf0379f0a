"""Skewed-key wall-clock stress (VERDICT r7 ask #3, measurement half).

Builds sf0.1-scale corpora whose KEY DISTRIBUTION is hostile —
- events: hub user owns ~30% of rows, one event_type owns ~90%;
- documents: a 500-copy exact-duplicate cluster appended;
- embeddings: 1,500 bit-identical vectors appended (~23% of the corpus);
- lineitem: one hot part in ~30% of line items (hub co-purchase node) —
and times family-representative catalog entries on the UNIFORM sf0.1
corpus vs the SKEWED one (min over --reps full passes each). A bounded
ratio says no stage degenerates into a few-hot-cores straggler; results
are recorded in SCALE.md.

Usage:
    python scripts/skew_stress.py [--sf-dir /root/testdata/sf0.1]
        [--work-dir /tmp/spark_graft_skew] [--reps 2]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import time_entry  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# family representative -> the table its skew targets
STRESS_QUERIES = {
    "tumbling_counts": "events",
    "rolling_stats": "events",
    "session_paths": "events",
    "event_gaps": "events",
    "dedup_exact": "documents",
    "dedup_minhash_md5": "documents",
    "dedup_containment": "documents",
    "embedding_near_dup": "embeddings",
    "topk_cosine_lsh": "embeddings",
    "copurchase_pairs": "lineitem",
    "pagerank_copurchase": "lineitem",
    "triangle_count": "lineitem",
}

DUP_TEXT = ("the quiet harbor town woke early and the fishing boats left "
            "before the sun cleared the eastern ridge while gulls followed "
            "the wake looking for scraps of the morning catch")

HUB_USER = 42
HOT_TYPE = "view"


# --------------------------------------------------------------------------
# Shared skew-corpus recipes. tests/test_skew_corpus.py imports THESE
# builders (at smaller copy counts) so the corpus the correctness sweep
# validates can never de-sync from the corpus these wall-clock numbers
# are measured on (the repo's single-source convention).
# --------------------------------------------------------------------------

def write_ts_ns(frame, path: str) -> None:
    """Write a pandas frame as parquet with TIMESTAMP(NANOS) columns —
    the driver tables' timestamp physical type (load_table normalizes)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pa.Table.from_pandas(frame, preserve_index=False)
    fields = [pa.field(f.name, pa.timestamp("ns"))
              if pa.types.is_timestamp(f.type) else f for f in t.schema]
    pq.write_table(t.cast(pa.schema(fields)), path)


def write_hub_user_events(sf_dir: str, out_path: str) -> None:
    """Hub user owns ~30% of rows; one event_type owns ~90%."""
    import duckdb
    import numpy as np

    ev = duckdb.sql(f"SELECT * FROM '{sf_dir}/events.parquet'").df()
    idx = np.arange(len(ev))
    ev["user_id"] = np.where(idx % 10 < 3, HUB_USER, ev["user_id"])
    ev["event_type"] = np.where(idx % 10 < 9, HOT_TYPE, ev["event_type"])
    write_ts_ns(ev, out_path)


def write_dup_cluster_docs(sf_dir: str, out_path: str, n_copies: int,
                           id_start: int, hub_source_frac: int | None = None,
                           alternate_cluster_sources: bool = False) -> None:
    """Base documents + an ``n_copies`` exact-duplicate cluster (new ids
    from ``id_start``). Optionally route ``hub_source_frac``-in-10 of the
    base rows to source 's1' (hub source), and alternate the cluster's
    sources s1/s2 (so cross-source overlap entries see the cluster)."""
    import duckdb
    import numpy as np
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    docs = duckdb.sql(f"SELECT * FROM '{sf_dir}/documents.parquet'").df()
    if hub_source_frac is not None:
        idx = np.arange(len(docs))
        docs["source"] = np.where(idx % 10 < hub_source_frac, "s1", docs["source"])
    cluster = pd.DataFrame({
        "doc_id": np.arange(id_start, id_start + n_copies, dtype=np.int64),
        "text": DUP_TEXT,
        "lang": "en",
        "source": (np.where(np.arange(n_copies) % 2 == 0, "s1", "s2")
                   if alternate_cluster_sources else "s1"),
        "n_chars": np.int64(len(DUP_TEXT)),
    })
    pq.write_table(
        pa.Table.from_pandas(pd.concat([docs, cluster], ignore_index=True),
                             preserve_index=False),
        out_path)


def write_identical_vec_emb(sf_dir: str, out_path: str, n_clones: int,
                            id_start: int) -> None:
    """Base embeddings + ``n_clones`` bit-identical copies of row 0 (one
    LSH bucket / kmeans cell swallowing the additions)."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    emb = duckdb.sql(f"SELECT * FROM '{sf_dir}/embeddings.parquet'").arrow()
    one = emb.slice(0, 1).to_pylist()[0]
    clones = pa.Table.from_pylist(
        [{"vec_id": id_start + i, "embedding": one["embedding"],
          "label": one["label"]} for i in range(n_clones)],
        schema=emb.schema)
    pq.write_table(pa.concat_tables([emb, clones]), out_path)


def write_hot_part_lineitem(sf_dir: str, out_path: str) -> None:
    """One hot part in ~30% of line items (hub co-purchase node). duckdb
    COPY preserves the source column types (incl. the DOUBLE money
    columns a pandas round-trip could disturb)."""
    import duckdb

    hot = duckdb.sql(
        f"SELECT min(l_partkey) FROM '{sf_dir}/lineitem.parquet'").fetchone()[0]
    duckdb.sql(f"""
        COPY (SELECT * REPLACE (
                CASE WHEN (l_orderkey * 7 + l_linenumber) % 10 < 3
                     THEN {hot} ELSE l_partkey END AS l_partkey)
              FROM '{sf_dir}/lineitem.parquet')
        TO '{out_path}' (FORMAT PARQUET)
    """)


def build_skewed(sf_dir: str, out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for t in TABLES:
        if t not in ("events", "documents", "embeddings", "lineitem"):
            shutil.copy(f"{sf_dir}/{t}.parquet", f"{out_dir}/{t}.parquet")
    write_hub_user_events(sf_dir, f"{out_dir}/events.parquet")
    write_dup_cluster_docs(sf_dir, f"{out_dir}/documents.parquet",
                           n_copies=500, id_start=1_000_001)
    write_identical_vec_emb(sf_dir, f"{out_dir}/embeddings.parquet",
                            n_clones=1500, id_start=2_000_001)
    write_hot_part_lineitem(sf_dir, f"{out_dir}/lineitem.parquet")
    # done-marker LAST: an embeddings/lineitem sentinel would accept a
    # crash-truncated corpus forever (lineitem is written after it)
    with open(os.path.join(out_dir, "_BUILD_DONE"), "w") as fh:
        fh.write("ok\n")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--work-dir", default="/tmp/spark_graft_skew")
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--queries", default=",".join(STRESS_QUERIES))
    args = ap.parse_args()

    skew_dir = os.path.join(args.work_dir, "skewed")
    if not os.path.exists(os.path.join(skew_dir, "_BUILD_DONE")):
        build_skewed(args.sf_dir, skew_dir)

    from amazon_macie_activity_generator_spark.queries import QUERIES
    from amazon_macie_activity_generator_spark.session import get_spark, warm_up

    spark = get_spark("skew-stress")
    spark.sparkContext.setLogLevel("ERROR")
    warm_up(spark)

    names = [q for q in args.queries.split(",") if q in STRESS_QUERIES]
    results = {}
    for name in names:
        fn = QUERIES[name][0]
        row = {}
        for label, d in (("uniform", args.sf_dir), ("skewed", skew_dir)):
            row[label] = round(min(time_entry(spark, fn, d)[1] for _ in range(args.reps)), 3)
        row["ratio"] = round(row["skewed"] / row["uniform"], 2)
        row["table"] = STRESS_QUERIES[name]
        results[name] = row
        print(json.dumps({"query": name, **row}), flush=True)
    print(json.dumps({"summary": results}))


if __name__ == "__main__":
    main()
