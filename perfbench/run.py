"""Benchmark for the activity generator: two workloads, timed end to
end and, in a separate traced run, per layer.

    python3 perfbench/run.py --workload blueprint_cycle --seed 1 --seconds 1 --trace 0

Run from the repository root. One run:

1. derives the workload's inputs from ``--seed`` (once per seed, under
   ``.perfbench/data``) and, for curation, the expected result hashes
   from the oracles of the code under test, outside every timer;
2. starts a Spark session in a fresh JVM and warms it up (noop sink and
   one Python worker per core), as every command-line run of the package
   does; this is ``setup_s``;
3. runs one cold pass in that session (``first_pass_s``), then the
   workload's number of warm passes, and more until ``--seconds`` have
   been measured (``run_s`` is their median);
4. checks every step's output and counts failures;
5. prints a summary line with every end-to-end figure by name and unit
   (``setup_s``, ``first_pass_s``, ``run_s``, ``failed_ratio``, the JVM's
   ``peak_rss_mb`` and, for blueprint_cycle, the median replay
   micro-batch ``tick_p50_s`` with its sample count), then one JSON line:
   the bounded end-to-end metrics with ``--trace 0``, or with
   ``--trace 1`` the per-layer metrics of traced warm passes, which
   alternate with untraced ones so the tracing overhead is measured.

Spark runs in one process at ``local[nproc / 2]`` (see ``spark_cpus``).
Every file the run writes stays under ``.perfbench`` in the current
directory.
"""

from __future__ import annotations

import argparse
import faulthandler
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.getcwd()
PKG = "amazon_macie_activity_generator_spark"
WORKLOADS = ("blueprint_cycle", "curation")
# Warm passes per run; run_s is their median, so one pass slowed by the
# host does not set it alone. The JVM launch, its warmup and the cold
# pass take 20-40 s of every run, and the runs' time budget allows no
# more than two warm passes on top.
WARM_PASSES = {"blueprint_cycle": 2, "curation": 2}
# pairs of untraced/traced warm passes in a traced run
TRACE_PAIRS = 2
WATCHDOG_S = 170
E2E = {"setup_s": "s", "first_pass_s": "s", "run_s": "s"}
# first_pass_s is a single cold sample; its spread across seeds reached
# the 0.25 cap, so it is printed in the summary but not bounded
BOUNDED = ("setup_s", "run_s")


def spark_cpus() -> int:
    """Spark task threads: half the cores this process may use. The
    passes are mostly driver work (Python, Py4J, planning), and the
    driver's threads, the JIT, the GC and the Python workers need cores
    of their own; at one task thread per core they queue behind the
    tasks, and a pass runs slower."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def _environment(work: str) -> None:
    """Pin the load and keep every file the run writes inside ``work``.
    Must run before pyspark starts the JVM."""
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(spark_cpus())
    os.environ.pop("SPARK_GRAFT_EXTRA_CONF", None)
    os.environ.pop("SPARK_GRAFT_DRIVER_MEM", None)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # no hsperfdata file: the JVM would write it under /tmp regardless
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable


def _warmup(spark) -> None:
    """JVM, noop-sink and Python-worker warmup: a noop write as the
    catalog bench does, then an Arrow map over one partition per core so
    that every core has a Python worker spawned."""
    spark.range(1_000_000).selectExpr("sum(id) AS s").write.format("noop").mode("overwrite").save()
    n = spark.sparkContext.defaultParallelism
    spark.range(0, 1000 * n, 1, n).mapInPandas(lambda it: it, "id long") \
        .write.format("noop").mode("overwrite").save()


def _setup() -> tuple[object, float, float]:
    """Start a session in a fresh JVM and warm it up, as a command-line
    run of the package does: ``(spark, start_s, warmup_s)``."""
    from amazon_macie_activity_generator_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    _warmup(spark)
    t2 = time.perf_counter()
    return spark, t1 - t0, t2 - t1


def _shutdown(spark) -> None:
    """Stop Spark and wait until the JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not reported")


def _source_sha() -> str:
    h = hashlib.sha256()
    for base, dirs, files in sorted(os.walk(os.path.join(ROOT, PKG))):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(base, f), "rb") as fh:
                    h.update(f.encode() + fh.read())
    return h.hexdigest()[:16]


def _git_sha() -> str | None:
    try:
        with open(os.path.join(ROOT, ".git", "HEAD")) as fh:
            head = fh.read().strip()
        if head.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", head[5:])) as fh:
                return fh.read().strip()
        return head
    except OSError:
        return None


class Run:
    """State of one benchmark run: inputs, passes and spans."""

    def __init__(self, args, work: str) -> None:
        self.args, self.work = args, work
        self.workload, self.seed = args.workload, args.seed
        self.passes: list[dict] = []
        self.tracer = None

    def prepare(self) -> None:
        """Derive the seed's inputs and, for curation, compute the
        expected result hashes from the current code's oracles."""
        import inputs
        from amazon_macie_activity_generator_spark.queries import QUERIES
        from workloads import expected_hashes

        self.queries = QUERIES
        self.data_dir, self.record = inputs.derive(
            self.workload, self.seed, os.path.join(self.work, "data"))
        if self.workload == "blueprint_cycle":
            self.bp_doc = inputs.blueprint_doc(self.data_dir)
            return
        self.expected = expected_hashes(self.data_dir, QUERIES)

    def one_pass(self, spark, traced: bool) -> None:
        from workloads import blueprint_pass, curation_pass

        pid = len(self.passes)
        tracer = self.tracer if traced else None
        if tracer:
            tracer.pass_id = pid
        if self.workload == "blueprint_cycle":
            pass_dir = os.path.join(self.work, "passes", f"p{pid}")
            shutil.rmtree(pass_dir, ignore_errors=True)
            steps, stats = blueprint_pass(spark, self.bp_doc, pass_dir, pid, tracer)
            shutil.rmtree(pass_dir, ignore_errors=True)
        else:
            steps = curation_pass(spark, self.data_dir, pid, self.queries, self.expected, tracer)
            stats = {}
        self.passes.append({"id": pid, "traced": traced, "wall": sum(s.wall for s in steps),
                            "steps": steps, "stats": stats})
        # collect the JVM's garbage, so that its ContextCleaner drops the
        # pass's shuffle files and checkpointed blocks, and flush the page
        # cache so write-back of the files the pass wrote (sink objects,
        # checkpoints) is not charged to the next pass
        spark.sparkContext._jvm.System.gc()
        os.sync()

    def measure(self, spark) -> None:
        """One cold pass, then warm passes until the workload's count is
        reached and ``--seconds`` have been measured. With tracing, each
        untraced warm pass is paired with a traced one, in the order
        untraced-traced, traced-untraced, ..., so that a steady speed-up
        of the passes as the JIT warms up cancels out of the tracing
        overhead."""
        self.one_pass(spark, traced=False)
        t_end = time.perf_counter() + self.args.seconds
        if self.args.trace:
            from spans import Tracer

            self.tracer = Tracer()
        # a traced run makes two pairs, one of each order
        want = TRACE_PAIRS if self.tracer else WARM_PASSES[self.workload]
        done = 0
        while done < want or time.perf_counter() < t_end:
            order = [False, True] if self.tracer else [False]
            for traced in order if done % 2 == 0 else order[::-1]:
                if traced:
                    self.tracer.install()
                try:
                    self.one_pass(spark, traced=traced)
                finally:
                    if traced:
                        self.tracer.uninstall()
            done += 1

    # ------------------------------------------------------------ results

    def failures(self) -> tuple[int, int, list[str]]:
        """Steps attempted and failed; a pass cut short by a failing step
        counts its missing steps as failed."""
        from workloads import CURATION

        per_pass = 3 if self.workload == "blueprint_cycle" else len(CURATION)
        errs = [f"pass {p['id']} {s.name}: {s.error}" for p in self.passes
                for s in p["steps"] if s.error]
        missing = sum(per_pass - len(p["steps"]) for p in self.passes)
        return per_pass * len(self.passes), len(errs) + missing, errs

    def e2e(self, setup_s: float) -> dict:
        warm = [p for p in self.passes[1:] if not p["traced"]]
        return {
            "setup_s": setup_s,
            "first_pass_s": self.passes[0]["wall"],
            "run_s": statistics.median(p["wall"] for p in warm),
        }

    def ticks(self) -> list[float]:
        """Replay micro-batch durations of the untraced warm passes."""
        return [t for p in self.passes[1:] if not p["traced"]
                for t in p["stats"].get("tick_s", [])]

    def layers(self, spark, start_s: float, warmup_s: float) -> dict:
        from spans import wait_listeners

        wait_listeners(spark)
        traced = [p for p in self.passes if p["traced"]]
        untraced = [p for p in self.passes[1:] if not p["traced"]]
        per_pass = [self._pass_layers(spark, p) for p in traced]
        out = {k: statistics.median(d[k] for d in per_pass) for k in per_pass[0]}
        out["session.start_s"] = start_s
        out["session.warmup_s"] = warmup_s
        out["trace.overhead_s"] = (statistics.median(p["wall"] for p in traced)
                                   - statistics.median(p["wall"] for p in untraced))
        return out

    def _pass_layers(self, spark, p: dict) -> dict:
        from spans import covered, job_groups

        tr, pid, steps, st = self.tracer, p["id"], p["steps"], p["stats"]
        groups = job_groups(spark, {s.group for s in steps})
        jobs = [j for g in groups.values() for j in g["jobs"]]
        cc = tr.intervals("dedup.connected_components", pid)
        gap = sum(s.wall - covered(groups[s.group]["jobs"], s.start, s.end) for s in steps)

        def tot(key: str) -> int:
            return sum(g[key] for g in groups.values())

        ok, bad = tot("tasks_ok"), tot("tasks_failed")
        ticks = st.get("tick_s", [])
        m = {
            "catalog.build_s": sum(s.build_s for s in steps),
            "catalog.exec_s": sum(s.exec_s for s in steps),
            "spark.driver_gap_s": gap,
            "dedup.connected_components_s": tr.total("dedup.connected_components", pid),
            "dedup.cc_jobs": sum(1 for a, _ in jobs if any(lo <= a <= hi for lo, hi in cc)),
            "similarity.embedding_near_dup_s": tr.total("similarity.embedding_near_dup", pid),
            "spark.executor_cpu_s": tot("cpu_ns") / 1e9,
            "sources.load_table_s": tr.total("sources.load_table", pid),
            "sources.scan_bytes": tot("input_bytes"),
            "sources.scan_rows": tot("input_records"),
            "spark.shuffle_read_bytes": tot("shuffle_read"),
            "spark.shuffle_write_bytes": tot("shuffle_write"),
            "spark.spill_bytes": tot("spill"),
            "plans.generate_s": tr.total("plans.generate", pid),
            "plans.write_queue_s": tr.total("plans.write_queue", pid),
            "sinks.bytes_written": st.get("sink_bytes", 0),
            "sinks.files_written": st.get("sink_files", 0),
            "sinks.rows_written": st.get("sink_rows", 0),
            "streaming.ticks": len(ticks),
            "streaming.tick_p50_s": statistics.median(ticks) if ticks else 0.0,
            "streaming.commit_ms": st.get("commit_ms", 0),
            "streaming.add_batch_ms": st.get("add_batch_ms", 0),
            "streaming.state_rows": st.get("state_rows", 0),
            "streaming.state_bytes": st.get("state_bytes", 0),
            "spark.jobs": len(jobs),
            "spark.stages": sum(len(g["stage_ids"]) for g in groups.values()),
            "spark.tasks": tot("tasks"),
            "spark.task_success_ratio": ok / (ok + bad) if ok + bad else 1.0,
            "spark.gc_s": tot("gc_ms") / 1000.0,
            "cache.persists": len(tr.intervals("cache.scoped_persist", pid)),
            "cache.bytes": max(s.extra.get("cache_bytes", 0) for s in steps),
        }
        for kind in ("s3_put", "s3_get", "lambda", "cloudwatch"):
            m[f"plans.execute_target_s.{kind}"] = tr.total(f"plans.execute_target.{kind}", pid)
        for key in ("plan.filescans", "plan.exchanges", "plan.broadcasts", "plan.python_evals"):
            m[key] = sum(s.extra.get(key, 0) for s in steps)
        return m

    def write_spans(self, per_layer: dict) -> str:
        path = os.path.join(self.work, "trace", f"{self.workload}-s{self.seed}.json")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        steps = [{"pass": p["id"], "traced": p["traced"], "name": s.name, "start": s.start,
                  "end": s.end, "build_s": s.build_s, "exec_s": s.exec_s, "error": s.error}
                 for p in self.passes for s in p["steps"]]
        with open(path, "w") as fh:
            json.dump({"spans": self.tracer.spans, "steps": steps, "per_layer": per_layer}, fh)
        return path


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")):
        print(f"perfbench: no {PKG} package under {ROOT}; run from the repository root",
              file=sys.stderr)
        return 2
    # a run that hangs prints every thread's stack and exits non-zero
    # instead of outliving its time limit; the JVM exits with this process
    faulthandler.dump_traceback_later(WATCHDOG_S, exit=True)
    work = os.path.join(ROOT, ".perfbench")
    _environment(work)
    sys.path.insert(0, ROOT)

    phases = [("start", time.perf_counter())]
    run = Run(args, work)
    run.prepare()
    phases.append(("prepare", time.perf_counter()))
    # one setup per run: each launches a JVM, which costs about as much as
    # a warm pass; the runs over many seeds give setup_s its samples
    spark, start_s, warmup_s = _setup()
    phases.append(("setup", time.perf_counter()))
    try:
        import pyspark

        header = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "nproc": len(os.sched_getaffinity(0)),
            "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
            "git_sha": _git_sha(), "source_sha": _source_sha(),
            "driver_memory": spark.sparkContext.getConf().get("spark.driver.memory"),
            "pyspark": pyspark.__version__,
            "java": spark.sparkContext._jvm.System.getProperty("java.version"),
            "inputs": run.record,
        }
        print("perfbench header " + json.dumps(header, sort_keys=True), flush=True)
        run.measure(spark)
        phases.append(("passes", time.perf_counter()))
        attempted, failed, errs = run.failures()
        for e in errs:
            print("perfbench FAILED " + e, file=sys.stderr)
        e2e = run.e2e(start_s + warmup_s)
        ticks = run.ticks()
        summary = {
            **{k: [v, E2E[k]] for k, v in e2e.items()},
            "failed_ratio": [failed / attempted, "ratio"],
            "peak_rss_mb": [_peak_rss_mb(spark), "MB"],
            "passes": len(run.passes),
            "step_s": {p["id"]: {s.name: round(s.wall, 3) for s in p["steps"]}
                       for p in run.passes},
            "phase_s": {b[0]: round(b[1] - a[1], 3) for a, b in zip(phases, phases[1:])},
            "setup_split_s": [round(start_s, 3), round(warmup_s, 3)],
        }
        if ticks:
            summary["tick_p50_s"] = [statistics.median(ticks), "s", f"n={len(ticks)}"]
        if args.trace:
            per_layer = run.layers(spark, start_s, warmup_s)
            summary["spans_file"] = run.write_spans(per_layer)
            metrics = {k: {"value": v, "unit": _unit(k)} for k, v in sorted(per_layer.items())}
        else:
            metrics = {k: {"value": e2e[k], "unit": E2E[k]} for k in BOUNDED}
        print("perfbench summary " + json.dumps(summary, sort_keys=True), flush=True)
    finally:
        _shutdown(spark)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


def _unit(name: str) -> str:
    if name.endswith("_s") or ".execute_target_s." in name:
        return "s"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("bytes") or name.endswith("bytes_written"):
        return "bytes"
    if name.endswith("ratio"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
