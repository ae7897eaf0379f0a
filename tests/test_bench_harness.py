"""bench.py, the one catalog timer: per-entry layer metrics, streaming
jobs attributed to the entry that started the stream, and the printed
line's contract.

A micro-batch job runs in the job group of its stream's run id, not in
the caller's group, so a group-only reader sees about one job for a
streaming build; ``time_entry`` adds the groups of the streams the
entry started.
"""

from __future__ import annotations

import json

import pytest

import bench
from amazon_macie_activity_generator_spark.queries import QUERIES
from perfbench.spans import job_groups

LAYER_FIELDS = {
    "jobs", "stream_jobs", "stages", "tasks",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
    "gc_ms", "executor_cpu_s", "driver_gap_s",
    "plan.filescans", "plan.exchanges", "plan.broadcasts", "plan.python_evals",
}

# the printed line's keys before layer metrics were added: the driver
# contract, which must not change
LINE_KEYS = {"metric", "value", "unit", "queries", "n_queries", "build_total",
             "reps", "detail", "top_n", "sf"}
DETAIL_KEYS = {"metric", "value", "unit", "queries", "build_secs", "build_total",
               "n_queries", "reps", "sf", "cpus", "git_sha", "driver_memory", "layers"}


@pytest.mark.parametrize("name", ["grouping_sets_parts", "streaming_tumbling"])
def test_time_entry_records_layers(spark, sf_dir, name):
    build_s, exec_s, layers = bench.time_entry(spark, QUERIES[name][0], sf_dir, name)
    assert build_s >= 0 and exec_s > 0
    assert set(layers) == LAYER_FIELDS
    assert layers["jobs"] >= 1 and layers["tasks"] >= layers["jobs"]
    assert 0 <= layers["driver_gap_s"] <= build_s + exec_s + 0.5
    assert not spark.streams.active
    assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None
    group_only = len(job_groups(spark, {name})[name]["jobs"])
    if name.startswith("streaming_"):
        assert layers["stream_jobs"] >= 1
        assert layers["jobs"] > group_only
    else:
        assert layers["stream_jobs"] == 0
        assert layers["jobs"] == group_only


def test_time_entry_without_name_measures_nothing(spark, sf_dir):
    build_s, exec_s, layers = bench.time_entry(spark, QUERIES["tumbling_counts"][0], sf_dir)
    assert layers is None and exec_s > 0


def test_main_prints_the_contract_line(spark, sf_dir, tmp_path, monkeypatch, capsys):
    detail = tmp_path / "BENCH_DETAIL.json"
    monkeypatch.setattr(bench, "DETAIL_PATH", str(detail))
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", sf_dir)
    monkeypatch.setenv("SPARK_GRAFT_BENCH_REPS", "2")
    names = ["streaming_dedup", "event_gaps"]
    bench.main(names)
    out = capsys.readouterr().out.strip().splitlines()
    line = json.loads(out[-1])
    assert set(line) == LINE_KEYS
    assert line["n_queries"] == 2 and line["reps"] == 2
    rec = json.loads(detail.read_text())
    assert set(rec) == DETAIL_KEYS
    assert set(rec["queries"]) == set(rec["build_secs"]) == set(rec["layers"]) == set(names)
    assert rec["value"] == line["value"]
    assert rec["cpus"] == spark.sparkContext.defaultParallelism
    assert all(set(v) == LAYER_FIELDS for v in rec["layers"].values())
    assert rec["layers"]["streaming_dedup"]["stream_jobs"] >= 1


def test_main_rejects_unknown_entries():
    with pytest.raises(SystemExit, match="no_such_entry"):
        bench.main(["no_such_entry"])
