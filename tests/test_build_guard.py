"""Build-phase eagerness guard (the triangle_count lesson).

For two rounds, ``triangle_count`` ran its census EAGERLY at
DataFrame-build time, so the bench timer measured a 1-row
createDataFrame while the real ~13 s hid in the unbenched build phase.
This guard pins the number of Spark JOBS each catalog builder launches
during plan construction — machine-speed-independent, unlike a wall
clock bound. A lazy builder launches only parquet schema-inference jobs
(one small job per distinct table read, stable per entry); eager work
(count/collect/streaming execution/convergence loops) launches more and
trips the cap.

Entries that are LEGITIMATELY eager at build are listed with their
reason and a cap sized to their mechanism; everything else must stay at
the schema-read floor. A new catalog entry that is eager by design must
be added here explicitly — silence is the failure mode this test exists
to kill.
"""

from __future__ import annotations

from amazon_macie_activity_generator_spark.queries import QUERIES

# schema-inference floor: at most one tiny job per table the entry reads
# (multi-table TPC-H joins read up to 6), plus one slack
_DEFAULT_CAP = 7

# legitimately eager builders: mechanism -> cap (measured jobs + slack)
_EAGER_CAPS = {
    # Structured Streaming executes at build — a batch result cannot be
    # handed back unexecuted (bench.py documents the same split)
    "streaming_tumbling": 6,
    "streaming_dedup": 8,
    # streaming_replay and blueprint_e2e also build a blueprint fact
    # table and local-checkpoint their result before removing their work
    # directory: 9 and 17 jobs measured at sf0.001 (8 and 14 before the
    # checkpoint), 24 and 22 when every statistic replayed earlier stages.
    # The replay's micro-batch jobs run in the stream's own group and are
    # not counted here. blueprint_e2e measured 15 while its sinks wrote
    # one after another; written concurrently, each of the five readers
    # of the not-yet-filled fact cache submits its own (cheap, shared)
    # materialization job, and the count job is gone
    "streaming_replay": 12,
    "streaming_join": 6,
    "streaming_left_join": 6,
    "streaming_append_windows": 6,
    "sessionize_stateful": 8,
    # connected-components contraction rounds: one localCheckpoint per
    # round (data-dependent round count); 7 and 8 measured at sf0.001 in
    # each of six builds, 18-21 with the pointer-jumping join loop and
    # 32-33 with one round per hop
    "dedup_groups": 9,
    "dedup_keep_best": 10,
    # bucket_pairs' size check: the largest LSH bucket's member count,
    # one eager aggregation that plans the pair gather (and fills the
    # persisted signature base it reads); 5 measured at sf0.001 on
    # local[4] for each entry in each of three builds (1 for the
    # MinHash/SimHash builds before the check, 6 for embedding_near_dup
    # with its former eager base count)
    "dedup_minhash": 6,
    "dedup_minhash_md5": 6,
    "dedup_simhash": 6,
    "dedup_simhash_md5": 6,
    "split_leakage": 6,
    "embedding_near_dup": 6,
    # driver-side model state embedded as plan literals: IVF centroids,
    # k-means Lloyd iterations
    "topk_cosine_ivf": 16,
    "topk_recall_ivf": 8,
    "kmeans_assign": 8,
    "semantic_dedup": 8,
    # e2e blueprint pipeline: writes its sinks (side effects ARE the op)
    "blueprint_e2e": 18,
}


def test_builders_launch_no_eager_jobs(spark, sf_dir):
    sc = spark.sparkContext
    over = {}
    for name, (fn, _sql) in QUERIES.items():
        group = f"build-guard-{name}"
        sc.setJobGroup(group, name)
        try:
            fn(spark, sf_dir)
        finally:
            spark.catalog.clearCache()
        n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        cap = _EAGER_CAPS.get(name, _DEFAULT_CAP)
        if n_jobs > cap:
            over[name] = (n_jobs, cap)
    assert not over, (
        "builders launched more build-time jobs than their cap "
        "(eager work is hiding outside the bench timer): "
        f"{over}"
    )
