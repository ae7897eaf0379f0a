"""Semantic invariants for catalog entries (text, warehouse and graph):
properties the DuckDB hash-oracle can't express — bounds, structural
guarantees, cross-operator consistency."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from amazon_macie_activity_generator_spark.queries import QUERIES
from amazon_macie_activity_generator_spark.sources.tables import load_table


def _run(name, spark, sf_dir):
    fn, _ = QUERIES[name]
    return fn(spark, sf_dir)


def test_event_gaps_nonnegative_and_counts(spark, sf_dir):
    """Gaps are ordered so never negative; exactly one row per event
    minus one per distinct user (the first event has no predecessor)."""
    gaps = _run("event_gaps", spark, sf_dir)
    assert gaps.filter(F.col("gap_s") < 0).count() == 0
    ev = load_table(spark, sf_dir, "events")
    n_events = ev.count()
    n_users = ev.select("user_id").distinct().count()
    assert gaps.count() == n_events - n_users


def test_char_entropy_bounds(spark, sf_dir):
    """0 <= H <= log2(distinct chars in the doc) — Shannon's bound; and
    every document is scored."""
    ent = _run("char_entropy", spark, sf_dir).collect()
    docs = load_table(spark, sf_dir, "documents")
    assert len(ent) == docs.count()
    for r in ent:
        assert -1e-9 <= r.entropy_bits <= math.log2(max(r.n_chars_seen, 2)) + 1e-9


def test_small_qty_revenue_threshold_holds(spark, sf_dir):
    """Every contributing lineitem is strictly below 0.2x its part's
    average quantity — re-derived independently of the query's join."""
    li = load_table(spark, sf_dir, "lineitem")
    th = li.groupBy("l_partkey").agg((0.2 * F.avg("l_quantity")).alias("th"))
    n_small = li.join(th, "l_partkey").filter(F.col("l_quantity") < F.col("th")).count()
    out = _run("small_qty_revenue", spark, sf_dir)
    total_lines = out.agg(F.sum("n_lines")).first()[0]
    assert total_lines == n_small


def test_large_orders_all_exceed_threshold(spark, sf_dir):
    rows = _run("large_orders", spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.sum_qty > 250


def test_fuzzy_name_pairs_canonical_and_blocked(spark, sf_dir):
    """Pairs are canonical (key_a < key_b, so no mirrors/self-pairs) and
    within the edit-distance cap."""
    rows = _run("fuzzy_name_pairs", spark, sf_dir).collect()
    assert rows
    seen = set()
    for r in rows:
        assert r.key_a < r.key_b
        assert 0 <= r.edit_dist <= 4
        assert (r.key_a, r.key_b) not in seen
        seen.add((r.key_a, r.key_b))


def test_rolling_time_window_contains_self(spark, sf_dir):
    """Each event's 1h frame includes at least itself, and the frame
    count never exceeds that user's total events."""
    out = _run("rolling_time_window", spark, sf_dir)
    assert out.filter(F.col("n_1h") < 1).count() == 0
    totals = load_table(spark, sf_dir, "events").groupBy("user_id").count()
    assert (
        out.join(totals, "user_id").filter(F.col("n_1h") > F.col("count")).count() == 0
    )


def test_streaming_left_join_consistent_with_inner(spark, sf_dir):
    """Matched rows of the left-outer join are exactly the inner join's
    rows; unmatched rows carry the -1 sentinel."""
    outer = _run("streaming_left_join", spark, sf_dir).cache()
    inner = _run("streaming_join", spark, sf_dir)
    matched = outer.filter(F.col("matched"))
    assert matched.count() == inner.count()
    assert (
        matched.select("user_id", "click_id", "purchase_id")
        .exceptAll(inner.select("user_id", "click_id", "purchase_id"))
        .count() == 0
    )
    assert outer.filter(~F.col("matched") & (F.col("purchase_id") != -1)).count() == 0


def test_mom_revenue_change_consistent_with_monthly_sums(spark, sf_dir):
    """pct_change re-derives from consecutive monthly revenue sums."""
    rows = {r.month: r for r in _run("mom_revenue_change", spark, sf_dir).collect()}
    orders = load_table(spark, sf_dir, "orders")
    monthly = {
        r.month: r.rev
        for r in orders.groupBy(
            F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM").alias("month")
        ).agg(F.sum("o_totalprice").alias("rev")).collect()
    }
    months = sorted(monthly)
    assert set(rows) == set(months[1:])
    for prev, cur in zip(months, months[1:]):
        expect = (monthly[cur] - monthly[prev]) / monthly[prev] * 100
        assert abs(rows[cur].pct_change - expect) < 1e-3


def test_winnowing_survives_short_documents(spark, tmp_path):
    """A doc with fewer than k=5 tokens must contribute zero fingerprints,
    not crash the job (sequence(1, 0) is descending and slice(tk, 0, k)
    is an illegal start — regression for the short-doc guard)."""
    from amazon_macie_activity_generator_spark.queries_text import q_winnowing_fingerprint

    rows = [
        (1, "a b c", "en", "srcA", 5),                       # < k tokens
        (2, "", "en", "srcA", 0),                            # empty
        (3, "one two three four five six seven", "en", "srcA", 33),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.write.parquet(str(tmp_path / "documents.parquet"))
    out = q_winnowing_fingerprint(spark, str(tmp_path))
    got = {r.doc_id for r in out.collect()}
    assert got == {3}  # only the >= 5-token doc fingerprints


def test_event_funnel_monotone(spark, sf_dir):
    """Funnel stages can only shrink: users >= viewed >= clicked-after-
    view >= purchased-after-click."""
    from amazon_macie_activity_generator_spark.queries_warehouse import q_event_funnel

    r = q_event_funnel(spark, sf_dir).first()
    assert r.n_users >= r.viewed >= r.clicked_after_view >= r.purchased_after_click
    assert r.purchased_after_click >= 0


def test_containment_catches_subset_with_larger_id(spark, tmp_path):
    """The ADVICE-flagged gap: a subset document whose doc_id is the
    LARGER of the pair must still be flagged. Doc 1 is a long base text;
    doc 9 is a strict prefix (every one of its shingles is contained in
    doc 1), so shared/|doc9| = 1.0 even though shared/|doc1| is small —
    only the symmetrized greatest() form keeps the pair."""
    import pandas as pd

    base = " ".join(f"word{i} filler{i} token{i}" for i in range(40))
    subset = " ".join(base.split()[:15])  # strict prefix, far under 0.8 of base
    docs = pd.DataFrame(
        {
            "doc_id": [1, 9],
            "text": [base, subset],
            "lang": ["en", "en"],
            "source": ["t", "t"],
            "n_chars": [len(base), len(subset)],
        }
    )
    docs.to_parquet(str(tmp_path / "documents.parquet"))
    fn, _ = QUERIES["dedup_containment"]
    rows = {(r.da, r.db): r for r in fn(spark, str(tmp_path)).collect()}
    assert (1, 9) in rows
    assert rows[(1, 9)].containment == 1.0


def test_containment_salted_heavy_path_end_to_end(spark, tmp_path):
    """The df > 64 salted pair join is DORMANT on the driver testdata
    (max shingle df at sf0.1 is ~25), so force it: 72 docs share a
    boilerplate phrase (its 3-grams get df = 74 > 64 -> heavy/salted
    path) and two extra docs are a subset pair whose shared shingles
    span BOTH branches (heavy boilerplate grams + light unique grams).
    The full output must match the entry's own DuckDB oracle on the
    same corpus — pinning that the salted union aggregates shared
    counts correctly across branches."""
    import duckdb
    import pandas as pd

    from amazon_macie_activity_generator_spark.queries import QUERIES

    boiler = "alpha beta gamma delta epsilon"
    texts, ids = [], []
    for i in range(72):
        ids.append(i)
        texts.append(f"{boiler} u{i}a u{i}b u{i}c u{i}d u{i}e u{i}f u{i}g u{i}h")
    base = f"{boiler} x1 x2 x3 x4 x5 x6 x7 x8 x9 x10"
    ids += [100, 101]
    texts += [base, base + " extra"]
    docs = pd.DataFrame({
        "doc_id": ids, "text": texts,
        "lang": ["en"] * len(ids), "source": ["t"] * len(ids),
        "n_chars": [len(t) for t in texts],
    })
    docs.to_parquet(str(tmp_path / "documents.parquet"))

    fn, sql = QUERIES["dedup_containment"]
    spdf = fn(spark, str(tmp_path)).toPandas()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS FROM '{tmp_path}/documents.parquet'")
    ddf = con.sql(sql).df()
    cols = sorted(spdf.columns)
    s = spdf[cols].sort_values(by=cols, ignore_index=True)
    d = ddf[cols].sort_values(by=cols, ignore_index=True)
    pd.testing.assert_frame_equal(s, d, check_dtype=False)
    # the subset pair survives with containment 1.0; the boilerplate-only
    # pairs (3 shared shingles out of ~11) are below the 0.8 threshold
    keyed = {(r.da, r.db): r for r in s.itertuples()}
    assert (100, 101) in keyed and keyed[(100, 101)].containment == 1.0
    assert all(not (da < 100 and db < 100) for da, db in keyed)


def test_containment_null_doc_id_counts_toward_df_cap(spark, tmp_path):
    """The r13 gathered-posting-list form drops NULL doc_ids from
    collect_list, but the oracle's DISTINCT collapses a gram's NULL-id
    rows into ONE row that its df cap then counts. Pin the count-back:
    with df_cap=3, a gram in 3 id'd docs plus a NULL-id doc has df 4 and
    must be dropped (no pairs), while the same corpus without the
    NULL-id doc sits at the cap and keeps its C(3,2) pairs."""
    import pandas as pd

    from amazon_macie_activity_generator_spark.queries_text import (
        q_dedup_containment,
    )

    text = "alpha beta gamma"  # one shingle per doc
    with_null = pd.DataFrame({
        "doc_id": pd.array([1, 2, 3, None], dtype="Int64"),
        "text": [text] * 4,
        "lang": ["en"] * 4, "source": ["t"] * 4,
        "n_chars": [len(text)] * 4,
    })
    d1 = tmp_path / "with_null"
    d1.mkdir()
    with_null.to_parquet(str(d1 / "documents.parquet"))
    assert q_dedup_containment(spark, str(d1), df_cap=3).count() == 0

    without_null = with_null.iloc[:3]
    d2 = tmp_path / "without_null"
    d2.mkdir()
    without_null.to_parquet(str(d2 / "documents.parquet"))
    pairs = {
        (r.da, r.db)
        for r in q_dedup_containment(spark, str(d2), df_cap=3).collect()
    }
    assert pairs == {(1, 2), (1, 3), (2, 3)}


def test_minhash_salted_giant_bucket_end_to_end(spark, tmp_path):
    """Duplicate-cluster LSH corpus vs the entry's own DuckDB oracle:
    72 exact-duplicate docs land in ONE (band, bh) bucket (below the
    512 salting threshold, so this exercises the light path on a
    worst-case-shaped bucket; the salted branch itself is pinned by
    test_banded_self_pairs_salted_branch_equivalence). All C(72,2)
    duplicate pairs must come back at jaccard 1.0."""
    import duckdb
    import pandas as pd

    from amazon_macie_activity_generator_spark.queries import QUERIES

    dup = "the quick brown fox jumps over the lazy dog again and again"
    ids = list(range(72)) + [200, 201, 202]
    texts = [dup] * 72 + [
        "completely different text about spark catalyst optimizer internals",
        "another unrelated document mentioning parquet row groups",
        "third singleton document covering arrow batches and pandas udfs",
    ]
    docs = pd.DataFrame({
        "doc_id": ids, "text": texts,
        "lang": ["en"] * len(ids), "source": ["t"] * len(ids),
        "n_chars": [len(t) for t in texts],
    })
    docs.to_parquet(str(tmp_path / "documents.parquet"))

    fn, sql = QUERIES["dedup_minhash_md5"]
    spdf = fn(spark, str(tmp_path)).toPandas()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS FROM '{tmp_path}/documents.parquet'")
    ddf = con.sql(sql).df()
    cols = sorted(spdf.columns)
    s = spdf[cols].sort_values(by=cols, ignore_index=True)
    d = ddf[cols].sort_values(by=cols, ignore_index=True)
    pd.testing.assert_frame_equal(s, d, check_dtype=False)
    dup_pairs = s[(s.jaccard == 1.0)]
    assert len(dup_pairs) >= 72 * 71 // 2


def test_banded_self_pairs_salted_branch_equivalence(spark):
    """Pair-set equality of the salted heavy branch: with the threshold
    forced low, buckets route through the two-sided salted join and must
    produce exactly the same (id_a, id_b) set as the plain self-join —
    including a 70-doc bucket (salted) next to small buckets (light)."""
    from pyspark.sql import functions as F

    from amazon_macie_activity_generator_spark.operators.dedup import _banded_self_pairs

    rows = [(i, 0, 111) for i in range(70)]        # one giant bucket
    rows += [(100 + i, 1, 222) for i in range(5)]  # small bucket
    rows += [(200, 2, 333)]                        # singleton
    rows += [(100 + i, 0, 444) for i in range(3)]  # same ids, other band
    banded = spark.createDataFrame(rows, "id long, band int, bh long")
    plain = (
        banded.alias("l")
        .join(
            banded.alias("r"),
            on=[F.col("l.band") == F.col("r.band"), F.col("l.bh") == F.col("r.bh"),
                F.col("l.id") < F.col("r.id")],
        )
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    salted = _banded_self_pairs(banded, heavy_bucket=8)
    expected = {(r.id_a, r.id_b) for r in plain.collect()}
    got = {(r.id_a, r.id_b) for r in salted.collect()}
    assert got == expected
    # 2415 giant-bucket pairs + 10 small-bucket pairs; the other-band
    # bucket's 3 pairs duplicate small-bucket pairs and collapse
    assert len(expected) == 70 * 69 // 2 + 5 * 4 // 2
    spark.catalog.clearCache()
