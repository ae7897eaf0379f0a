"""The benchmark workloads: one pass of each, and its output checks.

All workloads are closed loops with one client: each step starts when
the previous one has finished. A step's wall time runs from the first
call into the package to the last result materialized (curation steps,
collected to the driver) or written (blueprint steps). Checks, counter
reads and clean-up run between steps, outside every timer.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from collections import Counter
from contextlib import nullcontext

import pyarrow.dataset as ds
import pyarrow.parquet as pq
from inputs import CC_MAX_ITER, CHAIN_THRESHOLD, chain_pairs, label_propagation

from tests._cross_engine import canon

# curation: connected_components' eager label-propagation loop over a
# pair graph in which every near-dup chain is a path (chain_groups), and
# the Arrow Python worker path plus the candidate-pair gather of the
# catalog's embedding_near_dup
CURATION = ["chain_groups", "embedding_near_dup"]
TABLES = ["documents", "embeddings"]


def chain_groups(spark, data_dir: str):
    """Near-dup groups of the seeded documents: exact word-3-gram Jaccard
    pairs within a source, resolved by connected_components. Package
    functions are looked up on their modules at call time, so the traced
    run's wrappers see the calls."""
    from pyspark.sql import functions as F

    from amazon_macie_activity_generator_spark.operators import dedup
    from amazon_macie_activity_generator_spark.sources import tables

    docs = tables.load_table(spark, data_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, threshold=CHAIN_THRESHOLD, block_on=F.col("source"))
    return dedup.connected_components(pairs, max_iter=CC_MAX_ITER)


def frame_hash(pdf) -> str:
    """Order-insensitive value hash under the cross-engine ``canon``
    protocol the oracle tests use."""
    text = canon(pdf).astype(str).to_csv(index=False)
    return hashlib.sha256(text.encode()).hexdigest()


def expected_hashes(data_dir: str, queries: dict) -> dict[str, str]:
    """Expected result hash of every curation step on the same inputs:
    the catalog step's DuckDB oracle, and for chain_groups the pair graph
    and label propagation computed in Python."""
    import duckdb
    import pandas as pd

    docs = pq.read_table(os.path.join(data_dir, "documents.parquet"))
    labels, _ = label_propagation(chain_pairs(
        docs["doc_id"].to_pylist(), docs["text"].to_pylist(), docs["source"].to_pylist()))
    out = {"chain_groups": frame_hash(pd.DataFrame(
        sorted(labels.items()), columns=["id", "group_id"], dtype="int64"))}
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS FROM '{os.path.join(data_dir, t)}.parquet'")
        for s in CURATION:
            if s in queries:
                out[s] = frame_hash(con.execute(queries[s][1]).df())
        return out
    finally:
        con.close()


def _builder(name: str, queries: dict):
    return chain_groups if name == "chain_groups" else queries[name][0]


class Step:
    """One timed step: wall window, its job group, and its outcome."""

    def __init__(self, name: str, group: str) -> None:
        self.name, self.group = name, group
        self.start = self.end = 0.0
        self.build_s = self.exec_s = 0.0
        self.error: str | None = None
        self.extra: dict = {}

    @property
    def wall(self) -> float:
        return self.end - self.start


def _set_group(spark, group: str) -> None:
    spark.sparkContext.setJobGroup(group, group)


def curation_pass(spark, data_dir: str, pass_id: int, queries: dict, expected: dict,
                  tracer=None) -> list[Step]:
    """Run every curation step once. Each result is collected, then
    hash-checked against its expected hash; a traced pass also records the
    executed plan's node counts and the bytes the step left cached."""
    from spans import cached_bytes, plan_counts

    out = []
    for name in CURATION:
        step = Step(name, f"p{pass_id}:{name}")
        _set_group(spark, step.group)
        df = pdf = None
        step.start = time.time()
        t0 = time.perf_counter()
        try:
            with tracer.span(f"catalog.{name}") if tracer else nullcontext():
                df = _builder(name, queries)(spark, data_dir)
                t1 = time.perf_counter()
                pdf = df.toPandas()
            t2 = time.perf_counter()
            step.build_s, step.exec_s = t1 - t0, t2 - t1
        except Exception as exc:  # a failing step is counted, not fatal
            step.error = f"{type(exc).__name__}: {str(exc)[:300]}"
        step.end = time.time()
        _set_group(spark, "bench")
        if pdf is not None:
            got = frame_hash(pdf)
            if got != expected[name]:
                step.error = (f"result hash {got[:12]} != expected {expected[name][:12]} "
                              f"({len(pdf)} rows)")
            if tracer:
                step.extra.update(plan_counts(df), cache_bytes=cached_bytes(spark))
        spark.catalog.clearCache()
        spark.range(1).count()  # absorb asynchronous cache eviction here
        out.append(step)
    _drop_temp_views(spark)
    return out


def _drop_temp_views(spark) -> None:
    for tbl in spark.catalog.listTables():
        if tbl.isTemporary:
            spark.catalog.dropTempView(tbl.name)


def blueprint_pass(spark, bp_doc: dict, pass_dir: str, pass_id: int,
                   tracer=None) -> tuple[list[Step], dict]:
    """generate -> queue -> every target (run_blueprint), then redeliver
    the whole queue once (the SQS redelivery shape) and drain it with the
    reference pacing: one queue write unit per trigger."""
    from amazon_macie_activity_generator_spark.config import parse_blueprint
    from amazon_macie_activity_generator_spark.plans import pipeline
    from amazon_macie_activity_generator_spark.sinks import local as sinks
    from amazon_macie_activity_generator_spark.streaming import replay as streaming
    from spans import stream_progress

    out_dir = os.path.join(pass_dir, "out")
    queue = os.path.join(out_dir, "queue")
    delivered = os.path.join(pass_dir, "delivered")
    steps: list[Step] = []
    result: dict = {}
    query = None

    def run(name, fn):
        step = Step(name, f"p{pass_id}:{name}")
        _set_group(spark, step.group)
        step.start = time.time()
        try:
            with tracer.span(f"blueprint.{name}") if tracer else nullcontext():
                fn()
        except Exception as exc:  # a failing step is counted, not fatal
            step.error = f"{type(exc).__name__}: {str(exc)[:300]}"
        step.end = time.time()
        _set_group(spark, "bench")
        steps.append(step)
        return step.error is None

    def cycle():
        bp = parse_blueprint(bp_doc)
        result.update(pipeline.run_blueprint(spark, bp, out_dir, run_id=bp_doc["run_id"]))

    def redeliver():
        sinks.write_queue(spark.read.parquet(queue), queue)

    def drain():
        nonlocal query
        schema = spark.read.parquet(queue).schema
        query = streaming.replay_to_table(
            spark, queue, schema, delivered, os.path.join(pass_dir, "checkpoint"),
            available_now=True, max_files_per_trigger=1)
        query.awaitTermination()

    ok = run("run_blueprint", cycle) and run("redeliver", redeliver) and run("replay", drain)
    stats: dict = {}
    if query is not None:
        stats = stream_progress(query)
    if ok:
        failures = check_blueprint(bp_doc, result, queue, delivered)
        for step, err in zip(steps, failures):
            step.error = err
        stats.update(sink_stats(out_dir))
    spark.catalog.clearCache()
    _drop_temp_views(spark)
    return steps, stats


def _read(path: str):
    return ds.dataset(path, format="parquet", partitioning="hive").to_table()


def check_blueprint(bp_doc: dict, result: dict, queue: str, delivered: str) -> list[str | None]:
    """Checks for the three blueprint steps, in step order.

    run_blueprint: s3 put objects = manifest rows = units of value of the
    selected series (one object per unit); s3 get rows = units of value;
    grouped lambda = one payload per slot whose datapoints sum to the
    series values; cloudwatch rows = slots x selected series. The values
    come from the queue bodies.
    redeliver: the queue holds every slot exactly twice.
    replay: delivered rows = distinct (run_id, t) queue rows, none lost,
    none duplicated."""
    n_points = int(bp_doc["commons"]["num_points"])
    q = _read(queue).to_pandas()
    slots = {}
    for t, body in zip(q["t"], q["body"]):
        slots[int(t)] = json.loads(body)
    errs: list[str | None] = [None, None, None]

    def units(gens):
        return sum(int(slots[t][g]) for t in slots for g in gens if slots[t][g] >= 1)

    problems = []
    for tgt, spec in zip(result["targets"], bp_doc["targets"]):
        gens = spec["generators"]
        kind = f"{tgt['type']}/{spec.get('action', spec.get('function', ''))}"
        if tgt["type"] == "s3" and spec["action"] == "put":
            n_files = sum(len(f) for _, _, f in os.walk(tgt["objects"]))
            n_rows = _read(tgt["manifest"]).num_rows
            if not (n_files == n_rows == units(gens)):
                problems.append(f"{kind}: files {n_files} manifest {n_rows} units {units(gens)}")
        elif tgt["type"] == "s3":
            n_rows = _read(tgt["manifest"]).num_rows
            if n_rows != units(gens):
                problems.append(f"{kind}: rows {n_rows} units {units(gens)}")
        elif tgt["type"] == "lambda":
            lines = _payload_lines(tgt["payloads"])
            sums = Counter()
            for line in lines:
                for dp in json.loads(line)["datapoints"]:
                    sums[dp["generator_id"]] += dp["value"]
            want = Counter({g: sum(slots[t][g] for t in slots) for g in gens})
            if len(lines) != n_points or +sums != +want:
                problems.append(f"{kind}: payloads {len(lines)} slots {n_points}, "
                                f"value sums {dict(sums)} != {dict(want)}")
        elif tgt["type"] == "cloudwatch":
            n_rows = _read(tgt["metrics"]).num_rows
            if n_rows != n_points * len(gens):
                problems.append(f"{kind}: rows {n_rows} expected {n_points * len(gens)}")
    if problems:
        errs[0] = "; ".join(problems)
    keys = Counter(zip(q["run_id"], q["t"]))
    if len(keys) != n_points or set(keys.values()) != {2}:
        errs[1] = f"queue: {len(keys)} slots, copies {sorted(set(keys.values()))}"
    d = _read(delivered).to_pandas()
    got = Counter(zip(d["run_id"], d["t"]))
    dup = sum(c - 1 for c in got.values())
    lost = len(set(keys) - set(got))
    if dup or lost or len(got) != len(keys):
        errs[2] = f"replay: {dup} duplicated, {lost} lost of {len(keys)}"
    return errs


def _payload_lines(path: str) -> list[str]:
    lines = []
    for root, _, files in os.walk(path):
        for f in files:
            if f.startswith("part-"):
                with open(os.path.join(root, f)) as fh:
                    lines.extend(line for line in fh.read().splitlines() if line)
    return lines


def sink_stats(out_dir: str) -> dict:
    """Bytes, files and rows the sinks wrote (queue excluded): object
    files and payload lines count one row each, parquet rows from the
    footers."""
    n_bytes = n_files = n_rows = 0
    for root, _, files in os.walk(out_dir):
        if os.sep + "queue" in root[len(out_dir):]:
            continue
        for f in files:
            path = os.path.join(root, f)
            if f.startswith(".") or f == "_SUCCESS":
                continue
            n_bytes += os.path.getsize(path)
            n_files += 1
            if f.endswith(".parquet"):
                n_rows += ds.dataset(path).count_rows()
            elif f.startswith("part-"):
                with open(path) as fh:
                    n_rows += sum(1 for line in fh if line.strip())
            else:
                n_rows += 1
    return {"sink_bytes": n_bytes, "sink_files": n_files, "sink_rows": n_rows}
