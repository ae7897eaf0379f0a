"""sf1 one-shot cross-engine drive (round 9, VERDICT r8 ask #4).

Materializes an sf1-scale dataset (10x sf0.1, every table scaled with
consistent disjoint key offsets so joins stay referentially intact;
documents get disjoint content via copy-tagged tokens, embeddings a
copy-specific Rademacher decorrelation — the scale_probe volume-mode
recipes) into a work dir, then drives EVERY oracle-backed catalog entry
cross-engine (Spark vs DuckDB) under the sweeps' 9-significant-digit
protocol (tests/_cross_engine.py::canon). This turns "designed for
scale" into measured agreement at a third order of magnitude above the
sf0.01 driver gate.

Chunked across fresh JVMs (~35 entries each): one long-lived local JVM
degrades from GC pressure after ~130 heavy queries (observed r7) —
session lifetime, not query defects.

Usage:
  python scripts/sf1_drive.py --build [--k 10]
  python scripts/sf1_drive.py --chunk 0 [--chunk-size 35]   # per fresh JVM
  python scripts/sf1_drive.py --summarize

Every mode takes ``--work-dir DIR`` (default /tmp/spark_graft_sf1): the
built tables go to DIR/data and the drive appends to DIR/results.jsonl.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from amazon_macie_activity_generator_spark.session import get_spark  # noqa: E402

DEFAULT_WORK_DIR = "/tmp/spark_graft_sf1"
ID_OFFSET = 10_000_000  # events' user offset lives in scale_probe.USER_OFFSET
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def build(sf_dir: str, k: int, work_dir: str) -> None:
    import shutil

    from pyspark.sql import functions as F

    from amazon_macie_activity_generator_spark.sources.tables import load_table

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from scale_probe import build_scaled_dir

    spark = get_spark("sf1-drive")
    spark.sparkContext.setLogLevel("ERROR")
    data = os.path.join(work_dir, "data")
    os.makedirs(data, exist_ok=True)
    # documents / embeddings / events / lineitem + small-table copies:
    # the proven volume-mode recipe (disjoint keys AND content)
    build_scaled_dir(spark, sf_dir, data, k, stress=False)

    # the probe leaves dims at 1x; scale them too, with offsets CONSISTENT
    # with lineitem/orders so every FK keeps a parent
    def scale(table: str, offsets: dict[str, int]) -> None:
        df = load_table(spark, sf_dir, table)
        parts = []
        for i in range(k):
            c = df
            for col, off in offsets.items():
                c = c.withColumn(col, F.col(col) + F.lit(i * off))
            parts.append(c)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        out.write.mode("overwrite").parquet(os.path.join(data, f"{table}.parquet"))

    scale("customer", {"c_custkey": ID_OFFSET})
    scale("supplier", {"s_suppkey": ID_OFFSET})
    scale("part", {"p_partkey": ID_OFFSET})
    scale("orders", {"o_orderkey": ID_OFFSET, "o_custkey": ID_OFFSET})
    # lineitem: the probe already offsets l_orderkey/l_partkey; redo with
    # l_suppkey too so supplier joins stay intact
    li = load_table(spark, sf_dir, "lineitem")
    parts = []
    for i in range(k):
        parts.append(
            li.withColumn("l_orderkey", F.col("l_orderkey") + F.lit(i * ID_OFFSET))
            .withColumn("l_partkey", F.col("l_partkey") + F.lit(i * ID_OFFSET))
            .withColumn("l_suppkey", F.col("l_suppkey") + F.lit(i * ID_OFFSET))
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    out.write.mode("overwrite").parquet(os.path.join(data, "lineitem_tmp.parquet"))
    shutil.rmtree(os.path.join(data, "lineitem.parquet"))
    os.rename(os.path.join(data, "lineitem_tmp.parquet"),
              os.path.join(data, "lineitem.parquet"))
    for t in TABLES:
        n = spark.read.parquet(os.path.join(data, f"{t}.parquet")).count()
        print(json.dumps({"table": t, "rows": n}), flush=True)
    spark.stop()


def oracle_names() -> list[str]:
    from amazon_macie_activity_generator_spark.queries import QUERIES

    return [n for n, (_, sql) in QUERIES.items() if sql is not None]


ORACLE_TIMEOUT_S = int(os.environ.get("SF1_ORACLE_TIMEOUT_S", "300"))

# Known oracle-heavy entries get a raised cap UP FRONT (r12: the
# triangle_count DuckDB oracle legitimately runs ~330 s at sf1 where
# Spark takes 27 s — an oracle-side cost, not an engine property; a
# first-attempt timeout there just forces a manual uncapped re-drive).
ORACLE_TIMEOUT_OVERRIDES_S = {
    "triangle_count": max(ORACLE_TIMEOUT_S, 600),
    "pagerank_copurchase": max(ORACLE_TIMEOUT_S, 600),
}


def _duck_with_timeout(con, sql: str, seconds: int):
    """Run an oracle with a wall-clock cap. Several oracles are
    INTENTIONALLY gate-scale all-pairs constructions (e.g. the exact
    jaccard join: probes x corpus with per-pair list_intersect) — the
    simplest possible spec of the semantics, quadratic by design and
    priced for sf0.01/sf0.1. At sf1 those are hours; the cap records
    them as oracle_timeout instead of stalling the drive.

    Returns (df, err, hung): ``hung`` is True when the worker survived
    interrupt + grace join and still HOLDS the connection — the caller
    must switch to a fresh connection or the next entry's execute blocks
    behind the connection lock, silently unbounding the cap."""
    import threading

    out: dict = {}

    def run() -> None:
        try:
            out["df"] = con.execute(sql).df()
        except Exception as e:  # noqa: BLE001
            out["err"] = e

    th = threading.Thread(target=run, daemon=True)
    th.start()
    th.join(seconds)
    if th.is_alive():
        con.interrupt()
        th.join(60)
        return None, "timeout", th.is_alive()
    if "err" in out:
        return None, out["err"], False
    return out["df"], None, False


def drive_chunk(
    chunk: int, chunk_size: int, work_dir: str, only: list[str] | None = None
) -> None:
    import duckdb

    import __spark_entry__ as entrymod
    from tests._cross_engine import canon

    if only is not None:
        names = only
        chunk = -1
    else:
        names = oracle_names()[chunk * chunk_size : (chunk + 1) * chunk_size]
    if not names:
        print(json.dumps({"chunk": chunk, "empty": True}))
        return
    spark = get_spark("sf1-drive")
    spark.sparkContext.setLogLevel("ERROR")
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    data = os.path.join(work_dir, "data")

    def fresh_con():
        c = duckdb.connect()
        for t in TABLES:
            # Spark writes tables as part-file directories; the copied
            # dims stay single files — glob accordingly
            p = os.path.join(data, f"{t}.parquet")
            src = f"{p}/*.parquet" if os.path.isdir(p) else p
            c.execute(f"CREATE VIEW {t} AS FROM '{src}'")
        return c

    con = fresh_con()
    with open(os.path.join(work_dir, "results.jsonl"), "a") as out:
        for name in names:
            rec: dict = {"name": name, "chunk": chunk}
            try:
                t0 = time.perf_counter()
                sdf = qs[name](spark, data).toPandas()
                rec["spark_s"] = round(time.perf_counter() - t0, 2)
                t0 = time.perf_counter()
                ddf, err, hung = _duck_with_timeout(
                    con, oracles[name],
                    ORACLE_TIMEOUT_OVERRIDES_S.get(name, ORACLE_TIMEOUT_S),
                )
                rec["duck_s"] = round(time.perf_counter() - t0, 2)
                if hung:
                    # the worker still holds this connection — abandon it
                    # so the NEXT oracle doesn't block behind its lock
                    con = fresh_con()
                if err == "timeout":
                    rec["agree"] = None
                    rec["oracle_timeout"] = True
                    rec["rows"] = len(sdf)
                    rec["status"] = "oracle_timeout"
                elif err is not None:
                    # the exception came from the DuckDB worker thread —
                    # an ORACLE-side failure by construction (the Spark
                    # half already completed above), so resource
                    # exhaustion here is an oracle-scalability row; a
                    # Spark-side ENOSPC raises in the outer except and is
                    # labeled a plain engine error, never oracle_resource
                    rec["agree"] = False
                    rec["error"] = f"{type(err).__name__}: {err}"[:400]
                    rec["status"] = ("oracle_resource"
                                     if "No space left" in rec["error"]
                                     else "oracle_error")
                else:
                    s, d = canon(sdf), canon(ddf)
                    rec["rows"] = len(s)
                    ok = (list(s.columns) == list(d.columns) and s.shape == d.shape
                          and s.astype(str).equals(d.astype(str)))
                    rec["agree"] = bool(ok)
                    rec["status"] = "agree" if ok else "mismatch"
            except Exception as e:  # noqa: BLE001 — record, keep driving
                rec["agree"] = False
                rec["error"] = f"{type(e).__name__}: {e}"[:400]
                rec["status"] = "error"  # engine-side (or compare) failure
            spark.catalog.clearCache()
            out.write(json.dumps(rec) + "\n")
            out.flush()
            print(json.dumps(rec), flush=True)
    spark.stop()


def summarize(work_dir: str) -> None:
    # latest row per entry wins (re-drives append); rows from before the
    # r10 status field are classified by the same rules they'd get today
    results = os.path.join(work_dir, "results.jsonl")
    recs = [json.loads(line) for line in open(results)]
    latest: dict[str, dict] = {r["name"]: r for r in recs}
    # Re-driven entries leave their stale rows in the file — mark them
    # superseded IN PLACE so the committed jsonl self-describes and a
    # naive recount (rows == entries) stays honest (r12: triangle_count
    # carried a timeout row plus the uncapped agree row).
    stale = [r for r in recs if r is not latest[r["name"]]
             and not r.get("superseded")]
    if stale:
        for r in stale:
            r["superseded"] = True
        with open(results, "w") as out:
            for r in recs:
                out.write(json.dumps(r) + "\n")
    agree = [r for r in latest.values() if r.get("agree")]
    timeout = [r for r in latest.values() if r.get("oracle_timeout")]

    # prefer the explicit status written since r10; legacy rows without
    # one fall back to the old text heuristic (which could not tell an
    # oracle-side ENOSPC from an engine-side one — status can)
    def is_resource(r: dict) -> bool:
        if "status" in r:
            return r["status"] == "oracle_resource"
        return "No space left" in r.get("error", "")

    resource = [r for r in latest.values()
                if not r.get("agree") and not r.get("oracle_timeout")
                and is_resource(r)]
    # oracle-side failures that are neither timeouts nor resource deaths
    # (e.g. a DuckDB OutOfMemoryException) — still not engine failures.
    # The status values are mutually exclusive by construction in
    # drive_chunk, so no overlap check with `resource` is needed.
    oracle_err = [r for r in latest.values()
                  if r.get("status") == "oracle_error"]
    fail = [r for r in latest.values()
            if not r.get("agree") and not r.get("oracle_timeout")
            and r not in resource and r not in oracle_err]
    print(json.dumps({
        "entries": len(latest),
        "agree": len(agree),
        "oracle_timeout": sorted(r["name"] for r in timeout),
        "oracle_resource": sorted(r["name"] for r in resource),
        "oracle_error": sorted(r["name"] for r in oracle_err),
        "fail": sorted(r["name"] for r in fail),
        "spark_total_s": round(sum(r.get("spark_s", 0) for r in latest.values()), 1),
        "duck_total_s": round(sum(r.get("duck_s", 0) for r in latest.values()), 1),
        "slowest_spark": sorted(
            ((r["name"], r["spark_s"]) for r in latest.values() if "spark_s" in r),
            key=lambda x: -x[1])[:8],
        "slowest_duck": sorted(
            ((r["name"], r.get("duck_s", 0)) for r in latest.values()),
            key=lambda x: -x[1])[:8],
    }))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--build", action="store_true")
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--chunk", type=int, default=None)
    ap.add_argument("--chunk-size", type=int, default=35)
    ap.add_argument("--entries", default=None,
                    help="comma-separated entry names to (re-)drive (fresh "
                    "JVM; results.jsonl keeps the latest row per entry)")
    ap.add_argument("--summarize", action="store_true")
    ap.add_argument("--work-dir", default=DEFAULT_WORK_DIR,
                    help="holds the built tables (data/) and results.jsonl")
    args = ap.parse_args()
    if args.build:
        build(args.sf_dir, args.k, args.work_dir)
    elif args.summarize:
        summarize(args.work_dir)
    elif args.entries:
        drive_chunk(-1, 0, args.work_dir, only=args.entries.split(","))
    elif args.chunk is not None:
        drive_chunk(args.chunk, args.chunk_size, args.work_dir)
    else:
        ap.print_help()


if __name__ == "__main__":
    main()
