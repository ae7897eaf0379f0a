"""Physical-plan assertions: the scale properties README.md claims —
pushdown, pruning, broadcast joins, no unpartitioned windows — pinned so
a refactor that silently degrades the plan fails CI, not the cluster."""

from __future__ import annotations

from amazon_macie_activity_generator_spark.queries import QUERIES


def _plan(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_agg_pricing_pushdown_and_pruning(spark, sf_dir):
    fn, _ = QUERIES["agg_pricing_summary"]
    plan = _plan(fn(spark, sf_dir))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # pruned scan: only the 5 referenced columns reach the reader
    read_schema = next(ln for ln in plan.splitlines() if "ReadSchema" in ln)
    assert "l_quantity" in read_schema and "l_comment" not in read_schema
    assert read_schema.count(":") <= 6


def test_join_topn_broadcasts_dimension(spark, sf_dir):
    fn, _ = QUERIES["join_topn_customers"]
    plan = _plan(fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_scale_minmax_no_unpartitioned_window(spark, sf_dir):
    """Per-series min/max must be two-pass agg + broadcast join — an
    unpartitioned window would single-thread the whole table at scale."""
    fn, _ = QUERIES["scale_minmax"]
    plan = _plan(fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "Window" not in plan


def test_generation_stays_expression_only(spark):
    """The generation DAG: no Python UDFs anywhere (BatchEvalPython would
    mean a per-row Python round trip in the hot path)."""
    from amazon_macie_activity_generator_spark.config import parse_blueprint
    from amazon_macie_activity_generator_spark.plans.generate import generate

    bp = parse_blueprint({
        "commons": {"num_points": 50},
        "generators": [
            {"id": "a", "shape": "sinusoidal", "config": {"frequency": 0.2}},
            {"id": "b", "shape": "random", "config": {"type": "gammavariate", "alpha": 2.0}},
            {"id": "c", "shape": "custom",
             "config": {"formula": "t * 2 + 1", "anomalies": {"start": 5, "end": 20, "counts": 3}}},
        ],
        "targets": [],
    })
    plan = _plan(generate(spark, bp, run_id="plantest"))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_bucketed_join_needs_no_shuffle(spark, sf_dir, tmp_path):
    """Co-located join via bucketing: both sides bucketed by the join key
    -> SortMergeJoin with ZERO Exchange operators. The pre-partitioning
    strategy for repeated big-big joins at 100 TB (write once bucketed,
    join shuffle-free forever)."""
    from amazon_macie_activity_generator_spark.sources.tables import load_table

    events = load_table(spark, sf_dir, "events")
    left, right = "bj_left_tbl", "bj_right_tbl"
    spark.sql(f"DROP TABLE IF EXISTS {left}")
    spark.sql(f"DROP TABLE IF EXISTS {right}")
    (events.select("event_id", "user_id", "value")
     .write.bucketBy(8, "user_id").sortBy("user_id")
     .option("path", str(tmp_path / "l")).saveAsTable(left))
    (events.groupBy("user_id").count()
     .write.bucketBy(8, "user_id").sortBy("user_id")
     .option("path", str(tmp_path / "r")).saveAsTable(right))
    # at test scale Spark rightly prefers broadcast; disable it to expose
    # the big-big path bucketing exists for
    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    saved_aqe = spark.conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold", None)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table(left).join(spark.table(right), on="user_id")
        plan = _plan(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan  # bucketing replaces the shuffle
        assert joined.count() == events.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
        if saved_aqe is not None:
            spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", saved_aqe)
        else:
            spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
        spark.sql(f"DROP TABLE IF EXISTS {left}")
        spark.sql(f"DROP TABLE IF EXISTS {right}")


def test_hash_split_and_quantize_are_map_only(spark, sf_dir):
    """Split tagging and int8 quantization must stay pure projections:
    zero Exchange, zero Python eval — at 100 TB these run as map-only
    column rewrites with no shuffle at all."""
    from amazon_macie_activity_generator_spark.operators.sampling import hash_split
    from amazon_macie_activity_generator_spark.operators.similarity import quantize_int8
    from amazon_macie_activity_generator_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    plan = _plan(hash_split(docs, "doc_id"))
    assert "Exchange" not in plan and "BatchEvalPython" not in plan

    emb = load_table(spark, sf_dir, "embeddings")
    plan = _plan(emb.select("vec_id", quantize_int8(F.col("embedding")).alias("qz")))
    assert "Exchange" not in plan and "BatchEvalPython" not in plan


def test_minhash_md5_join_is_keyed(spark, sf_dir):
    """LSH candidate generation must join on (band, bh) buckets — a
    nested-loop/cartesian plan would be the all-pairs comparison LSH
    exists to avoid."""
    from amazon_macie_activity_generator_spark.queries_text import q_dedup_minhash_md5

    df = q_dedup_minhash_md5(spark, sf_dir)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    df.sparkSession.catalog.clearCache()


def test_interval_join_avoids_nested_loop(spark, sf_dir):
    """Range-containment via time-bucket discretization must plan as a
    keyed join — BNLJ/Cartesian is the quadratic trap it exists to avoid."""
    from amazon_macie_activity_generator_spark.queries_warehouse import q_interval_join

    plan = _plan(q_interval_join(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_no_cartesian_product_anywhere_in_catalog(spark, sf_dir):
    """Sweep EVERY batch catalog query's physical plan: a CartesianProduct
    is never acceptable at 100 TB. (Streaming queries execute eagerly and
    single-row-stats broadcasts legitimately plan BroadcastNestedLoopJoin,
    so only the cartesian check is global.)"""
    import __spark_entry__ as entrymod

    skip = {"streaming_tumbling", "streaming_replay", "streaming_dedup",
            "streaming_join", "streaming_left_join",
            "streaming_append_windows",
            "sessionize_stateful", "blueprint_e2e"}  # eager/side-effecting
    offenders = []
    for name, fn in entrymod.queries().items():
        if name in skip:
            continue
        try:
            plan = _plan(fn(spark, sf_dir))
        finally:
            spark.catalog.clearCache()
        if "CartesianProduct" in plan:
            offenders.append(name)
    assert not offenders, f"cartesian plans: {offenders}"


def test_partitioned_table_prunes_partitions(spark, sf_dir, tmp_path):
    """Hive-partitioned layout + a literal partition predicate must prune
    at planning time: the scan's PartitionFilters carry the predicate and
    only the matching directory is read. This is the layout the queue
    table (sinks/local.py write_queue: partitionBy(run_id, batch_id)) and
    any date-partitioned 100 TB fact table rely on."""
    from amazon_macie_activity_generator_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    events = load_table(spark, sf_dir, "events")
    path = str(tmp_path / "events_by_type")
    events.write.partitionBy("event_type").parquet(path)
    df = spark.read.parquet(path).filter(F.col("event_type") == "click")
    plan = _plan(df)
    pf_line = next(ln for ln in plan.splitlines() if "PartitionFilters" in ln)
    # the predicate reached the scan's partition filters (pruned at listing
    # time, before any file IO), not just a post-scan Filter node
    assert "event_type" in pf_line and "click" in pf_line
    n_click = events.filter(F.col("event_type") == "click").count()
    assert df.count() == n_click


def test_revenue_by_nation_plan(spark, sf_dir):
    """Q5-shaped join: every dimension join is broadcast (no SortMergeJoin
    on a dim) and the order-date range predicate reaches the orders scan
    as PushedFilters — the two properties that keep this plan alive when
    lineitem is 100 TB."""
    fn, _ = QUERIES["revenue_by_nation"]
    plan = _plan(fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any("o_orderdate" in ln and "GreaterThanOrEqual" in ln for ln in pushed), pushed


def test_contamination_single_scan_no_join(spark, sf_dir):
    """One corpus scan, zero joins: the bench-membership flag is a
    whole-partition window over the gram key, then one re-aggregation per
    doc. Three exchanges max: the CPU-spread repartition, the gram-key
    window, the per-doc aggregate. (Formatted explain prints each node in
    the tree AND the detail list — count the numbered detail nodes.)"""
    import re

    fn, _ = QUERIES["contamination_ngram"]
    plan = _plan(fn(spark, sf_dir))
    assert "Join" not in plan
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 3


def test_bm25_single_row_stats_broadcast(spark, sf_dir):
    """Corpus stats join is a 1-row broadcast (BroadcastNestedLoopJoin is
    the legitimate plan for a cross join with a single-row side); top-k is
    TakeOrdered, not a global Sort+Limit materialization."""
    fn, _ = QUERIES["bm25_search"]
    plan = _plan(fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan


def test_dedup_latest_event_single_shuffle(spark, sf_dir):
    """Keep-newest dedup: exactly one exchange (the window key shuffle)."""
    fn, _ = QUERIES["dedup_latest_event"]
    plan = _plan(fn(spark, sf_dir))
    assert plan.count("Exchange") <= 2  # hashpartitioning only (+AQE read)
    assert "CartesianProduct" not in plan


def test_table_profile_no_expand(spark, sf_dir):
    """Round 1 put five exact count_distincts in one agg, and Catalyst's
    Expand replicated every row ~6x through the shuffle (the slowest r1
    query). The fixed shape: ONE full-width pass for the map-side
    combinable aggs, plus one pruned single-column scan per exact
    distinct (a lone distinct rewrites to two hash aggregates — no
    Expand), met by one-row broadcast joins. Pin: no Expand, no
    cartesian, exactly 6 scans of which 5 read a single column."""
    import re

    fn, _ = QUERIES["table_profile"]
    plan = _plan(fn(spark, sf_dir))
    assert "Expand" not in plan
    assert "CartesianProduct" not in plan
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 6
    n_fields = sorted(
        ln.count(":") - 1 for ln in plan.splitlines() if "ReadSchema" in ln
    )
    assert n_fields == [1, 1, 1, 1, 1, 5]


def test_semantic_dedup_cluster_prefilter_shape(spark, sf_dir):
    """Pair search must stay inside clusters: the centroid assignment is
    a broadcast of the 8-row seed frame (BNLJ on a tiny side is the
    legitimate plan), and the a-b pair join is a KEYED join on the
    cluster id — never a cartesian all-pairs — with no Python eval node
    anywhere in the DAG."""
    fn, _ = QUERIES["semantic_dedup"]
    plan = _plan(fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    # the id_a < id_b pair join keyed on cluster plans as a hash join
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_kmeans_assign_broadcast_centroids_no_python(spark, sf_dir):
    """Each Lloyd assignment broadcasts the k-row centroid frame (tiny
    side -> BNLJ is correct); the mean recompute shuffles only k*dim
    rows. No cartesian, no Python eval — pure column expressions."""
    fn, _ = QUERIES["kmeans_assign"]
    plan = _plan(fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_doc_pack_partitioned_window_single_scan(spark, sf_dir):
    """Packing's cumsum must run per-lang (per-shard at scale) — an
    unpartitioned window would single-thread the corpus; and the whole
    layout comes from ONE scan with no Python eval."""
    import re

    fn, _ = QUERIES["doc_pack"]
    plan = _plan(fn(spark, sf_dir))
    assert "Exchange SinglePartition" not in plan
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_bpe_pair_counts_partial_agg_takeordered(spark, sf_dir):
    """Pair counting must partial-aggregate map-side (the shuffle carries
    (pair, partial_count), not one row per pair occurrence) and pick the
    top-20 with TakeOrdered — a global sort of the pair table is the
    100 TB trap."""
    fn, _ = QUERIES["bpe_pair_counts"]
    plan = _plan(fn(spark, sf_dir))
    assert "partial_count" in plan
    assert "TakeOrderedAndProject" in plan


def test_winnowing_single_scan_bounded_exchanges(spark, sf_dir):
    """Winnowing is one scan + a doc-keyed window + a distinct — two hash
    exchanges, never a global one."""
    import re

    fn, _ = QUERIES["winnowing_fingerprint"]
    plan = _plan(fn(spark, sf_dir))
    assert "Exchange SinglePartition" not in plan
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 3


def test_mix_weights_no_cartesian_no_python(spark, sf_dir):
    """The balance-to-largest factor joins a one-row max via broadcast —
    BNLJ on the scalar frame is fine, a CartesianProduct is not."""
    fn, _ = QUERIES["mix_sampling_weights"]
    plan = _plan(fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_interpolation_uses_running_frames_only(spark, sf_dir):
    """Both neighbor lookups must be running frames — a shrinking
    currentRow..unboundedFollowing frame re-aggregates per row (O(n^2)
    per series; measured 305s -> 10s at sf0.1 when this was fixed)."""
    fn, _ = QUERIES["interpolate_gaps"]
    plan = _plan(fn(spark, sf_dir))
    assert "unboundedfollowing" not in plan.lower()


def test_entry_flagship_plan_clean(spark):
    """The driver's entry() smoke query: no cartesian, no Python eval."""
    import __spark_entry__ as entrymod

    plan = _plan(entrymod.entry(spark))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_event_gaps_single_shuffle_partitioned_window(spark, sf_dir):
    """The lag() window must be partitioned by user_id (one hash shuffle,
    in-partition sort) — never an unpartitioned global-order window."""
    fn, _ = QUERIES["event_gaps"]
    plan = _plan(fn(spark, sf_dir))
    assert "Window" in plan
    n_exchanges = sum(
        1 for ln in plan.splitlines() if ln.strip().startswith("(") and ") Exchange" in ln
    )
    assert n_exchanges == 1
    assert "SinglePartition" not in plan


def test_char_entropy_partial_agg_no_python(spark, sf_dir):
    """The per-character explode must partial-aggregate map-side (the
    shuffle carries (doc_id, ch) counts, not one row per character) and
    stay expression-only — no Python round trip per character."""
    fn, _ = QUERIES["char_entropy"]
    plan = _plan(fn(spark, sf_dir))
    assert "Generate" in plan  # the explode
    assert "partial_count" in plan or "partial" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_small_qty_revenue_broadcasts_part(spark, sf_dir):
    """The part dimension must be broadcast; only the lineitem self-join
    on l_partkey may shuffle."""
    fn, _ = QUERIES["small_qty_revenue"]
    plan = _plan(fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_large_orders_partial_aggregates_lineitem(spark, sf_dir):
    """The HAVING-side aggregate must partial-aggregate map-side before
    the shuffle; at runtime AQE broadcasts the shrunken side."""
    fn, _ = QUERIES["large_orders"]
    plan = _plan(fn(spark, sf_dir))
    assert "partial_sum" in plan


def test_fuzzy_pairs_join_is_keyed_on_blocks(spark, sf_dir):
    """The quadratic compare must ride an equi-join on the block key
    (p_type, p_size) — never a cartesian with a levenshtein filter."""
    fn, _ = QUERIES["fuzzy_name_pairs"]
    plan = _plan(fn(spark, sf_dir))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "Join" in plan


def test_rolling_time_window_partitioned_frame(spark, sf_dir):
    """The RANGE frame must be partitioned by user_id — one hash
    exchange, no SinglePartition global sort."""
    fn, _ = QUERIES["rolling_time_window"]
    plan = _plan(fn(spark, sf_dir))
    n_exchanges = sum(
        1 for ln in plan.splitlines() if ln.strip().startswith("(") and ") Exchange" in ln
    )
    assert n_exchanges == 1
    assert "SinglePartition" not in plan


def test_mom_revenue_partial_aggregates_before_window(spark, sf_dir):
    """The data-sized work (month rollup) must partial-aggregate map-side;
    only the ~80 aggregate rows reach the single-partition lag window."""
    fn, _ = QUERIES["mom_revenue_change"]
    plan = _plan(fn(spark, sf_dir))
    assert "partial_sum" in plan
    assert "Window" in plan


def test_pair_join_norms_hoisted_below_join(spark, sf_dir):
    """Cosine-pair queries must compute vector norms per ROW (pre-join
    projection), never per PAIR: a SQRT inside a Filter/Join condition
    means O(pairs * dim) redundant work — the dominant cost of a bucket
    self-join at scale."""
    for name in ("semantic_dedup", "embedding_near_dup"):
        fn, _ = QUERIES[name]
        plan = _plan(fn(spark, sf_dir))
        assert "SQRT" in plan, name  # norms exist somewhere (guard stays live)
        for ln in plan.splitlines():
            s = ln.strip()
            if s.startswith("Condition") or s.startswith("Join condition"):
                assert "SQRT" not in s, (name, s[:160])


def test_markov_transitions_user_keyed_window(spark, sf_dir):
    """The lag() window must be partitioned by user_id; the transition
    count must partial-aggregate map-side; the prob denominator comes
    from a window over the tiny counted frame, not a second events
    scan."""
    fn, _ = QUERIES["markov_transitions"]
    plan = _plan(fn(spark, sf_dir))
    assert "Window" in plan
    assert "partial_count" in plan
    # formatted explain prints each node twice (tree + detail): one scan = 2
    assert plan.count("Scan parquet") == 2
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_pmi_and_bigram_lm_partial_agg_no_python(spark, sf_dir):
    """The pair/unigram counts behind the LM statistics must partial-
    aggregate map-side (the shuffle carries partial counts, not tokens)
    and stay expression-only."""
    for name in ("pmi_collocations", "bigram_logprob"):
        fn, _ = QUERIES[name]
        plan = _plan(fn(spark, sf_dir))
        assert "partial_count" in plan, name
        assert "Generate" in plan, name  # the explode
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name


def test_containment_inverted_index_join_keyed(spark, sf_dir):
    """Candidate pairs must form via the shingle-keyed inverted-index
    join — a nested-loop or cartesian plan would be the all-pairs
    comparison the posting-list join exists to avoid. The persisted
    shingle table must appear (the build-the-index-once barrier), and
    the heavy-gram path must join on the SALTED key (g, sa, sb) — the
    xxhash64-pmod salt reaching a join keyed on three columns — so one
    hot shingle's pairs spread across S^2 shuffle cells."""
    fn, _ = QUERIES["dedup_containment"]
    df = fn(spark, sf_dir)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "InMemoryTableScan" in plan or "InMemoryRelation" in plan
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert "pmod" in analyzed and "xxhash64" in analyzed
    assert "sa" in analyzed and "sb" in analyzed
    df.sparkSession.catalog.clearCache()


def test_copurchase_join_keyed_on_order(spark, sf_dir):
    """The self-join must key on l_orderkey (pair fan-out bounded by
    order width) and the pair count must partial-aggregate before the
    final TakeOrdered."""
    fn, _ = QUERIES["copurchase_pairs"]
    plan = _plan(fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "partial_count" in plan
    assert "TakeOrderedAndProject" in plan


def test_triangle_count_degree_oriented_and_lazy(spark, sf_dir):
    """The closure join must consume the DEGREE-oriented out-adjacency:
    the r13 orientation filters each node's gathered (neighbor, degree)
    list against its own degree (= list size) — no node-table join — and
    building the DataFrame must stay lazy (no eager .count() at
    construction — the census is a broadcast cross-join of single-row
    aggregates). All joins keyed, never cartesian on the big side."""
    fn, _ = QUERIES["triangle_count"]
    df = fn(spark, sf_dir)
    plan = _plan(df)
    # lazy census: one row out of three combined single-row aggregates
    assert "BroadcastNestedLoopJoin" in plan or "CartesianProduct" in plan
    # degree orientation: the oriented out-adjacency is cached; its
    # build plan carries the (degree, id)-vs-own-size lambda filter
    assert "InMemoryRelation" in plan or "InMemoryTableScan" in plan
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert "size(nd" in analyzed and "filter(nd" in analyzed
    assert "array_intersect" in analyzed
    assert df.schema.simpleString() == (
        "struct<n_nodes:bigint,n_edges:bigint,n_triangles:bigint>"
    )
    row = df.collect()[0]
    assert row.n_nodes > 0 and row.n_edges > 0 and row.n_triangles >= 0
    df.sparkSession.catalog.clearCache()


def test_knn_classify_broadcasts_query_side(spark, sf_dir):
    """The brute-force scan must broadcast the tiny query side into the
    corpus scan (BroadcastNestedLoopJoin with a broadcast build — the
    corpus itself is never shuffled for pair formation), the vote /
    truth lookups must be broadcast hash joins, and every window must be
    partitioned (by query_id). Expression-only: no Python eval."""
    fn, _ = QUERIES["knn_classify"]
    plan = _plan(fn(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan  # broadcast cross of |q| rows
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_psi_drift_broadcast_stats_and_partial_agg(spark, sf_dir):
    """The |types|-row stats frame must come back to the event stream
    via a broadcast hash join (the stream is never shuffled for the
    join), the (type, seg, bin) census must partial-aggregate map-side,
    and every grid/total join runs on tiny frames — no cartesian over
    the stream, no Python eval."""
    fn, _ = QUERIES["psi_value_drift"]
    plan = _plan(fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "partial_count" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_simhash_md5_arrow_fold_banded_join(spark, sf_dir):
    """The md5 vote fold runs as ONE vectorized Arrow batch kernel (r13
    — the old pure-expression nibble-parse chain was the measured
    bottleneck; never the row-at-a-time BatchEvalPython form), and
    candidates form via the banded hash join, never a cartesian
    product."""
    fn, _ = QUERIES["dedup_simhash_md5"]
    plan = _plan(fn(spark, sf_dir))
    assert "ArrowEvalPython" in plan  # the vectorized vote fold
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ks_drift_windows_distinct_values_not_events(spark, sf_dir):
    """The cumulative-ECDF window must run over the (type, value)-grouped
    frame — map-side partial aggregation collapses the stream BEFORE the
    per-type sort — and time stats / totals come back broadcast."""
    fn, _ = QUERIES["ks_value_drift"]
    plan = _plan(fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "partial_sum" in plan  # grouped census before the window
    assert "Window" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_chunk_dedup_keyed_on_chunk(spark, sf_dir):
    """The duplicate census must form via the chunk-keyed join of the
    exploded chunk stream against the per-chunk distinct-doc counts —
    never a cartesian — and the counts must partial-aggregate."""
    fn, _ = QUERIES["dedup_chunk_exact"]
    plan = _plan(fn(spark, sf_dir))
    assert "Generate" in plan  # the chunk explode
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "partial_count" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_source_overlap_keyed_on_shingle(spark, sf_dir):
    """Pair formation must key on the shingle (fan-out bounded per
    shingle by the number of sources containing it) — never an all-pairs
    product over documents — and the per-source totals must join back
    broadcast."""
    fn, _ = QUERIES["source_overlap"]
    plan = _plan(fn(spark, sf_dir))
    assert "Generate" in plan  # the shingle explode
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_source_overlap_df_cap_guard(spark, sf_dir):
    """The per-shingle source-df cap bounds the (#sources)^2 fan-out of
    one boilerplate shingle. Below the cap it is a no-op (hash evidence
    stays valid); at cap=1 every SHARED shingle (df >= 2 by definition)
    is excluded, so no pair can form at all."""
    from amazon_macie_activity_generator_spark.queries_text import q_source_overlap

    default = q_source_overlap(spark, sf_dir).toPandas()
    uncapped = q_source_overlap(spark, sf_dir, source_df_cap=10**9).toPandas()
    key = ["source_a", "source_b"]
    assert (
        default.sort_values(key, ignore_index=True)
        .equals(uncapped.sort_values(key, ignore_index=True))
    )  # the sf-test corpora have far fewer than 1000 sources
    assert len(default) > 0  # the no-op comparison is not vacuous
    assert q_source_overlap(spark, sf_dir, source_df_cap=1).count() == 0


def test_source_overlap_oracle_tracks_cap(spark, sf_dir):
    """The oracle is generated from the same cap parameter as the query
    (ADVICE r5): at a non-default, binding cap the two engines must
    still hash-agree — a hardcoded oracle cap would diverge here."""
    import duckdb

    from amazon_macie_activity_generator_spark.queries_text import (
        _sql_source_overlap,
        q_source_overlap,
    )

    cap = 3  # binding at sf-test scale (sources share boilerplate shingles)
    spark_pdf = q_source_overlap(spark, sf_dir, source_df_cap=cap).toPandas()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS FROM '{sf_dir}/documents.parquet'")
    duck_pdf = con.sql(_sql_source_overlap(cap)).df()
    key = ["source_a", "source_b"]
    s = spark_pdf.sort_values(key, ignore_index=True)
    d = duck_pdf.sort_values(key, ignore_index=True)
    assert s.equals(d)
    # the cap actually bound something, or this proves nothing
    default = q_source_overlap(spark, sf_dir).toPandas()
    assert not len(s) or s["n_shared"].sum() < default["n_shared"].sum()


def test_training_mix_single_scan_broadcast_totals(spark, sf_dir):
    """The composed pipeline must stay join-light: the dedup census is
    ONE text-partitioned window (r13 — min(doc_id) over quality rows in
    the same pass, no survivors aggregate + text-keyed join back), the
    per-source totals and global max come back broadcast, and nothing
    drops to Python or a cartesian over documents."""
    fn, _ = QUERIES["training_mix"]
    plan = _plan(fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "Window" in plan  # the census
    assert "SortMergeJoin" not in plan  # no text-keyed join back
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_knn_lsh_candidates_keyed_on_bucket(spark, sf_dir):
    """The ANN classifier's candidates must form via the (table, bucket)-
    keyed join — never a cross product over the corpus — and the vote /
    label joins stay hash joins."""
    fn, _ = QUERIES["knn_classify_lsh"]
    plan = _plan(fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_hard_negatives_partial_struct_max_no_window(spark, sf_dir):
    """Triplet mining must reduce the |corpus| x |anchors| scored stream
    map-side (struct-max partial aggregation), never window over it; the
    anchor side broadcasts into one corpus scan."""
    fn, _ = QUERIES["hard_negatives"]
    plan = _plan(fn(spark, sf_dir))
    assert "partial_max" in plan  # map-side combine of the argmax struct
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # broadcast anchors x corpus scan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_bpe_encode_per_round_partial_agg_and_no_doc_shuffle(spark, sf_dir):
    """The encode path keeps the training loop's shape (pair-keyed
    partial agg per round, broadcast 1-row merge) and never shuffles or
    windows the corpus on doc_id — the per-doc stats are a map-side
    projection of the carried columns."""
    fn, _ = QUERIES["bpe_encode"]
    plan = _plan(fn(spark, sf_dir))
    assert plan.count("partial_count") >= 3
    assert "CartesianProduct" not in plan
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_bpe_merges_per_round_partial_agg(spark, sf_dir):
    """Each unrolled merge round must partial-aggregate its pair count
    map-side (the shuffle carries (pair, partial_count), not tokens) and
    the 1-row top pair broadcasts into the re-tokenization — the corpus
    is never self-joined or windowed."""
    fn, _ = QUERIES["bpe_merges"]
    plan = _plan(fn(spark, sf_dir))
    assert plan.count("partial_count") >= 3  # one per round
    assert "CartesianProduct" not in plan
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_spread_small_scan_is_conditional(spark, sf_dir):
    """spread_small_scan must repartition ONLY when the scan cannot
    provide parallelism itself: a single-row-group local file gets the
    hash spread; an input already at or above defaultParallelism is
    returned unchanged (the zero-shuffle map-only shape at scale)."""
    from amazon_macie_activity_generator_spark.sources.tables import (
        load_table,
        spread_small_scan,
    )

    par = spark.sparkContext.defaultParallelism
    docs = load_table(spark, sf_dir, "documents")
    spread = spread_small_scan(docs, "doc_id")
    assert spread.rdd.getNumPartitions() == par
    assert "repartitionbyexpression" in spread._jdf.queryExecution() \
        .logical().toString().lower()
    # already-parallel input: no exchange added, plan returned as-is
    wide = docs.repartition(par, "doc_id")
    assert spread_small_scan(wide, "doc_id") is wide


def test_ngram_jaccard_single_tokenize_no_probe_persist(spark, sf_dir):
    """dedup_ngram_jaccard (r13): exploding the projected grams column
    let InferFiltersFromGenerate put `size(grams) > 0` below the
    Generate, and pushdown then inlined the WHOLE shingle expression
    into that filter — the corpus tokenized twice per row (10 inlined
    shingle subtrees in the plan). The outer explode infers no filter;
    exactly one inlined tokenize per union branch (= 2) may remain. The
    probe side must NOT persist: its one consumer is the broadcast
    build, so a cache only added a fill write (the PageRank
    single-consumer lesson)."""
    fn, _ = QUERIES["dedup_ngram_jaccard"]
    plan = _plan(fn(spark, sf_dir))
    # the tokenize fingerprint: the 3-gram concat_ws/slice lambda chain
    assert plan.count("concat_ws( , slice") <= 2
    assert "InMemoryRelation" not in plan  # no probe cache
    assert "BroadcastHashJoin" in plan     # probe side still broadcasts


def test_unigram_branches_tokenize_once(spark, sf_dir):
    """pmi_collocations / bigram_logprob (r13): the unigram branch must
    explode the tokenize EXPRESSION inline — exploding the projected
    attribute re-tokenized every document inside an inferred
    `size(tk) > 0` filter, once per copy of the subtree in the final
    plan. Pin: no Filter condition carries a lambda-bearing expression."""
    for name in ("pmi_collocations", "bigram_logprob"):
        fn, _ = QUERIES[name]
        plan = _plan(fn(spark, sf_dir))
        fat = [ln for ln in plan.splitlines()
               if ln.startswith("Condition") and "lambdafunction" in ln]
        assert fat == [], f"{name}: tokenize re-inlined into filters: {fat[:1]}"


def test_triangle_census_single_aggregate(spark, sf_dir):
    """triangle_count (r13): node and edge counts come from ONE combined
    aggregate over the cached adjacency — two separate single-row
    aggregates chained an extra sequential broadcast build for the
    identical numbers. Pin: exactly one nested-loop census join remains
    (combined counts x triangle total)."""
    fn, _ = QUERIES["triangle_count"]
    df = fn(spark, sf_dir)
    try:
        plan = _plan(df)
        # one census operator: count detail headers like "(46) BroadcastNested…"
        # (the formatted plan prints each op in the tree AND as a detail block)
        bnlj_ops = [ln for ln in plan.splitlines()
                    if ln.startswith("(") and "BroadcastNestedLoopJoin" in ln]
        assert len(bnlj_ops) == 1
        assert df.schema.simpleString() == (
            "struct<n_nodes:bigint,n_edges:bigint,n_triangles:bigint>"
        )
    finally:
        # always drop the cached adjacency: a failed assert must not leak
        # it into later tests sharing the session-scoped Spark fixture
        df.sparkSession.catalog.clearCache()
