"""Text and dedup catalog entries over the ``documents`` table.

Exact, MinHash, SimHash, n-gram, containment and chunk-level dedup with
near-dup grouping; tokenization and BPE; language-model and
collocation statistics; quality filters and gates; retrieval indexes;
cross-source overlap and the composed training-mix decision table. The
reference (a time-series activity generator) has none of this; these are
the operations a large-scale training-data pipeline runs (SURVEY.md
§2.8).

Same contract as queries.py: name -> (spark_builder, duckdb_sql | None).
The oracles here share one DuckDB-side tokenizer (``DUCK_TOKS_SQL``) and
one set of shingle / Jaccard fragments, so a tokenizer change can never
de-sync two entries' DuckDB sides.

Scale notes (local[32] tests, 1000-executor design):
- ``contamination_ngram`` / ``inverted_index`` shuffle once on the token
  (n-gram) key; the benchmark-gram side of the contamination join is tiny
  by construction and broadcast.
- ``bm25_search`` computes corpus stats (N, avgdl, df) as a single-row
  aggregate crossJoin-broadcast back — two passes over the corpus, no
  wide shuffle; top-k is TakeOrdered (no global sort materialization).
- ``char_entropy`` explodes to one row per character but immediately
  partial-aggregates to (doc_id, ch) counts map-side — the shuffle carries
  at most |alphabet| rows per doc, not n_chars. Two doc_id-keyed shuffles.
- ``pmi_collocations`` / ``bigram_logprob``: pair and unigram counts are
  map-side-combinable aggregations (shuffle carries partial counts, not
  tokens); the LM join keys on (w1, w2) — at 100 TB both sides hash on
  the pair key once, and the scalar totals (token count, vocab size)
  ride along as broadcast one-row frames, never a driver collect.
- ``dedup_containment``: inverted-index bucket join on the shingle key —
  candidate pairs only ever form inside one shingle's posting list, never
  an all-pairs product. A document-frequency cap on the posting lists
  (df <= 1000 here) bounds the worst list so one boilerplate shingle
  cannot quadratically explode a partition; AQE skew-join covers the
  rest.
- ``chi2_source_lang``: two grouped counts plus a margins join on tiny
  (source x lang) frames — broadcast all the way.
- ``dedup_chunk_exact``: chunking is a per-row projection (no shuffle);
  the duplicate census is one chunk-keyed shuffle with a map-side
  combinable distinct-doc count, joined back keyed on the same chunk —
  candidate work only ever forms inside one chunk's hash bucket.
- ``source_overlap``: the self-join is keyed on the shingle; per-shingle
  fan-out is bounded by (#sources that contain it)^2, and the output is
  |sources|^2 rows. Per-source totals broadcast. The df-cap guard
  (shingles spanning > 1000 sources dropped from join AND totals, the
  dedup_containment pattern) bounds the square at a million-source
  corpus; mirrored in the oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from amazon_macie_activity_generator_spark.cache import begin_scope, scoped_persist
from amazon_macie_activity_generator_spark.operators.dedup import (
    DUCK_TOKS_SQL,
    JAVA_WS,
    dedup_exact,
    dedup_minhash_candidates,
    simhash64,
    simhash_near_pairs,
    tokens_expr,
    word_shingles_expr,
)
from amazon_macie_activity_generator_spark.operators.sampling import split_threshold_hex
from amazon_macie_activity_generator_spark.operators.text import (
    PII_PATTERNS,
    STOPWORDS,
    fingerprint_md5,
    lang_id_expr,
    quality_features,
)
from amazon_macie_activity_generator_spark.sources.tables import load_table, spread_small_scan


def _docs_aug(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents plus deterministic near-duplicate copies: every doc with
    doc_id % 100 == 0 reappears as doc_id+1000000 with two extra tokens.
    Gives the near-dup operators real positives on the driver's corpus
    (which is otherwise almost entirely unique)."""
    docs = load_table(spark, sf_dir, "documents")
    dup = docs.filter(F.col("doc_id") % 100 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" near duplicate")).alias("text"),
        "lang", "source", "n_chars",
    )
    out = docs.unionByName(dup)
    # small files arrive as 1-2 input splits; the downstream shingle/
    # signature projections are CPU-bound, so spread them across the
    # cluster (at real scale maxPartitionBytes provides the splits).
    return out.repartition(out.sparkSession.sparkContext.defaultParallelism, "doc_id")


_DUCK_DOCS_AUG = """
  SELECT doc_id, text, lang, source, n_chars FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text || ' near duplicate' AS text,
         lang, source, n_chars
  FROM documents WHERE doc_id % 100 = 0
"""


# ------------------------------------------------------------------ dedup

def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1 — exact text dedup: canonical id + copy count per distinct text."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup_exact(docs).select("doc_id", "n_copies")


SQL_DEDUP_EXACT = """
SELECT min(doc_id) AS doc_id, count(*) AS n_copies
FROM documents GROUP BY text
"""


def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 — MinHash-LSH near-dup candidates (rows-only: xxhash64 minhash
    families are engine-local). Jaccard >= 0.7 verified pairs over the
    augmented corpus (planted near-dups)."""
    return dedup_minhash_candidates(_docs_aug(spark, sf_dir), jaccard_threshold=0.7)


def q_dedup_minhash_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 oracle bridge — the FULL MinHash-LSH pipeline (signature ->
    banding -> bucket join -> exact-Jaccard verify) value-hash-checked:
    md5-based signatures (operators/dedup.py:minhash_signature_md5) are
    byte-identical across engines, so unlike the xxhash64 family the
    candidate generation itself is oracle-verified, not just invariants.
    16 hashes x 4 bands over the augmented corpus, threshold 0.7."""
    from amazon_macie_activity_generator_spark.operators.dedup import (
        dedup_minhash_md5_pairs,
    )

    return dedup_minhash_md5_pairs(
        _docs_aug(spark, sf_dir), num_hashes=16, bands=4, jaccard_threshold=0.7
    )


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard pairs: probe docs (doc_id % 50 == 0)
    against the augmented corpus (planted near-dups), threshold 0.2.

    Inverted-index set-similarity join (PPJoin-family, minus prefix
    pruning): explode distinct grams, equi-join on the gram, count shared
    grams per pair, then |A∪B| = |A|+|B|-|A∩B|. Exactly equivalent to the
    all-pairs crossJoin (a pair with zero shared grams cannot reach any
    positive threshold) but the join is keyed — no O(probe x corpus)
    nested loop, and the same plan scales out on gram hash instead of
    broadcasting the corpus."""
    docs = _docs_aug(spark, sf_dir)
    grams = docs.select(
        F.col("doc_id").alias("id"),
        F.array_distinct(_spark_3grams()).alias("grams"),
    ).withColumn("n_grams", F.size("grams"))
    # explode_OUTER (r13, guide §2.4/§4.4): plain explode lets
    # InferFiltersFromGenerate add `size(grams) > 0 AND isnotnull(grams)`
    # below the Generate, and predicate pushdown then inlines the whole
    # shingle expression into that filter — the corpus was tokenized
    # TWICE per row (measured in the plan: 10 inlined shingle subtrees
    # vs 2). The outer form infers no filter (it drops no rows), and is
    # semantically identical here: word_shingles_expr never yields an
    # empty or NULL array (zero-token text folds to ['']), and even if
    # it did, an outer NULL gram can never equi-join.
    base_ex = grams.select("id", "n_grams", F.explode_outer("grams").alias("gram"))
    # No probe persist (r13, the PageRank single-consumer lesson): the
    # probe side has exactly ONE consumer — the broadcast build below —
    # so the cache prevented no recompute and only added a cache-fill
    # write inside that job. The % 50 filter sits below the shingle
    # projection (it references only doc_id), so the broadcast build
    # tokenizes just the ~2% probe rows either way.
    probe_ex = base_ex.filter(F.col("id") % 50 == 0).withColumnsRenamed(
        {"id": "pid", "n_grams": "p_grams"}
    )
    inter = (
        base_ex.join(F.broadcast(probe_ex), on="gram")
        .filter(F.col("pid") < F.col("id"))
        .groupBy("pid", "id", "p_grams", "n_grams")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    union = F.col("p_grams") + F.col("n_grams") - F.col("inter")
    jac = F.round(F.col("inter") / union, 4)
    return (
        inter.select(F.col("pid").alias("id_a"), F.col("id").alias("id_b"), jac.alias("jaccard"))
        .filter(F.col("jaccard") >= 0.2)
    )


def _spark_3grams():
    return word_shingles_expr(F.col("text"), 3)


# coalesce: DuckDB array_to_string([]) is NULL where Spark concat_ws is
# '' — a zero-token doc must yield the same [''] shingle set both sides
_DUCK_3GRAMS = (
    "list_distinct(list_transform("
    "range(0, greatest(len(toks) - 3, 0) + 1), "
    "i -> coalesce(array_to_string(toks[i + 1 : i + 3], ' '), '')))"
)

SQL_DEDUP_NGRAM = f"""
WITH docs_aug AS ({_DUCK_DOCS_AUG}),
tok AS (
  SELECT doc_id, {DUCK_TOKS_SQL} AS toks FROM docs_aug
),
grams AS (
  SELECT doc_id, {_DUCK_3GRAMS} AS g FROM tok
),
ex AS MATERIALIZED (
  SELECT doc_id, len(g) AS n, unnest(g) AS gram FROM grams
),
inter AS (
  -- r10: inverted-index set-similarity join — the SAME spec the engine
  -- runs (a pair sharing zero grams has jaccard 0 < 0.2, so the gram
  -- equi-join is exactly equivalent to the all-pairs nested loop this
  -- oracle used through r9, which timed out at sf1 while Spark finished
  -- in 7 s). g is distinct per doc, so count(*) = |A n B| and
  -- |A u B| = n_a + n_b - i.
  SELECT p.doc_id AS id_a, e.doc_id AS id_b, p.n AS pn, e.n AS en,
         count(*) AS i
  FROM ex p JOIN ex e ON e.gram = p.gram
  WHERE p.doc_id % 50 = 0 AND p.doc_id < e.doc_id
  GROUP BY 1, 2, 3, 4
)
SELECT id_a, id_b,
       round(CAST(i AS DOUBLE) / (pn + en - i), 4) AS jaccard
FROM inter
WHERE round(CAST(i AS DOUBLE) / (pn + en - i), 4) >= 0.2
"""


_DUCK_JAC = (
    "round(CASE WHEN len(list_distinct(list_concat(a.g, b2.g))) > 0 "
    "THEN CAST(len(list_intersect(a.g, b2.g)) AS DOUBLE) "
    "/ len(list_distinct(list_concat(a.g, b2.g))) ELSE 0.0 END, 4)"
)

SQL_DEDUP_MINHASH_MD5 = f"""
WITH docs_aug AS ({_DUCK_DOCS_AUG}),
tok AS (SELECT doc_id, {DUCK_TOKS_SQL} AS toks FROM docs_aug),
sh AS (SELECT doc_id, {_DUCK_3GRAMS} AS g FROM tok),
sig AS (
  SELECT doc_id, g,
         list_transform(generate_series(0, 15),
           j -> list_aggregate(
                  list_transform(g, s -> md5(CAST(j AS VARCHAR) || ':' || s)),
                  'min')) AS sig
  FROM sh
),
bands AS (
  SELECT doc_id, b.b AS band,
         md5(array_to_string(sig[b.b * 4 + 1 : b.b * 4 + 4], '|')) AS bh
  FROM sig, range(0, 4) AS b(b)
),
cand AS (
  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
  FROM bands l JOIN bands r
    ON l.band = r.band AND l.bh = r.bh AND l.doc_id < r.doc_id
)
SELECT c.id_a, c.id_b, {_DUCK_JAC} AS jaccard
FROM cand c
JOIN sh a  ON a.doc_id = c.id_a
JOIN sh b2 ON b2.doc_id = c.id_b
WHERE {_DUCK_JAC} >= 0.7
"""


def q_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup GROUP resolution: connected components over the exact
    ngram-Jaccard pairs — (doc_id, group_id = canonical min id). The
    pairs are deterministic, so the whole iterative algorithm
    oracle-checks against DuckDB's recursive CTE."""
    from amazon_macie_activity_generator_spark.operators.dedup import connected_components

    pairs = q_dedup_ngram_jaccard(spark, sf_dir)
    return connected_components(pairs).select(
        F.col("id").alias("doc_id"), "group_id"
    )


def _make_sql_dedup_groups(rounds: int = 24) -> str:
    """Connected-components oracle via UNROLLED min-label propagation
    with pointer jumping (r10) — replaces the r1-era recursive
    reachability CTE, whose working set is sum-of-component-size-squared
    (it enumerates every (node, reachable-label) pair) and which timed
    out at sf1. Each round takes, per node, the min label over
    self, neighbors, and label-of-label (the pointer jump); after
    round t every node's label is the min id within graph radius r_t
    where r_(t+1) >= 2*r_t + 1, so ``rounds=24`` converges for any
    component with diameter < 2^24 — far beyond the corpus size, and
    the per-round cost is one edge join + one self join over the
    node-sized label table (linear, the same shape the engine's
    label-propagation loop shuffles). An unconverged oracle cannot pass
    silently: the driver value-hashes the full result."""
    parts = [
        f"WITH pairs AS MATERIALIZED ({SQL_DEDUP_NGRAM}),",
        """edges AS MATERIALIZED (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
),
l0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS lbl FROM edges)""",
    ]
    for t in range(rounds):
        parts.append(f""", l{t + 1} AS MATERIALIZED (
  SELECT node, min(lbl) AS lbl FROM (
    SELECT node, lbl FROM l{t}
    UNION ALL
    SELECT e.dst AS node, l.lbl FROM edges e JOIN l{t} l ON l.node = e.src
    UNION ALL
    SELECT l.node, j.lbl FROM l{t} l JOIN l{t} j ON j.node = l.lbl
  ) GROUP BY node
)""")
    parts.append(
        f"\nSELECT node AS doc_id, lbl AS group_id FROM l{rounds}"
    )
    return "\n".join(parts)


SQL_DEDUP_GROUPS = _make_sql_dedup_groups()


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs over the augmented corpus, Hamming <= 3
    (rows-only: bit votes depend on engine hash). The lazy persist is the
    plan barrier: the InMemoryRelation keeps the signature expression
    from inlining into both banded self-join sides, and per-partition
    cache locking keeps the two branches from double-computing it at
    runtime — no eager count() needed, so the build phase stays
    action-free and the bench timer sees the real cost."""
    begin_scope("dedup_simhash", spark)
    sig = scoped_persist(simhash64(_docs_aug(spark, sf_dir)), "dedup_simhash")
    return simhash_near_pairs(sig, max_hamming=3)


def q_dedup_simhash_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2b oracle bridge — the SAME banded Hamming-pair pipeline as
    ``dedup_simhash`` but over md5-derived 63-bit signatures
    (``simhash64_md5``), so the whole vote fold -> signature -> 16-bit
    bands -> candidate join -> Hamming filter replays in DuckDB and
    value-hash-matches. The xxhash64 entry stays the production/scale
    path; this one anchors its semantics (the X2f minhash-md5 move)."""
    from amazon_macie_activity_generator_spark.operators.dedup import simhash64_md5

    begin_scope("dedup_simhash_md5", spark)
    sig = scoped_persist(simhash64_md5(_docs_aug(spark, sf_dir)), "dedup_simhash_md5")
    return simhash_near_pairs(sig, max_hamming=3)


SQL_DEDUP_SIMHASH_MD5 = f"""
WITH docs_aug AS ({_DUCK_DOCS_AUG}),
tok AS (SELECT doc_id, unnest({DUCK_TOKS_SQL}) AS t FROM docs_aug),
bits AS (
  SELECT doc_id, b.b,
         ((strpos('0123456789abcdef', substr(md5(t), (b.b // 4) + 1, 1)) - 1)
          // ([8,4,2,1])[(b.b % 4) + 1]) % 2 AS bit
  FROM tok CROSS JOIN (SELECT unnest(range(63)) AS b) b
),
votes AS (SELECT doc_id, b, sum(2 * bit - 1) AS v FROM bits GROUP BY 1, 2),
sig0 AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN v > 0 THEN CAST(1 AS BIGINT) << b ELSE 0 END) AS BIGINT) AS simhash
  FROM votes GROUP BY 1
),
sig AS (
  -- strict-majority vote rule (2*ones > n, the production fold):
  -- empty-token and null-text docs fold to signature 0, as in Spark
  SELECT d.doc_id, coalesce(s.simhash, 0) AS simhash
  FROM docs_aug d LEFT JOIN sig0 s USING (doc_id)
),
bands AS (
  SELECT doc_id, c.c AS band, (simhash >> (c.c * 16)) & 65535 AS bh
  FROM sig CROSS JOIN (SELECT unnest(range(4)) AS c) c
),
cand AS (
  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
  FROM bands l JOIN bands r
    ON l.band = r.band AND l.bh = r.bh AND l.doc_id < r.doc_id
)
SELECT c.id_a, c.id_b,
       CAST(bit_count(xor(sa.simhash, sb.simhash)) AS INTEGER) AS hamming
FROM cand c JOIN sig sa ON sa.doc_id = c.id_a JOIN sig sb ON sb.doc_id = c.id_b
WHERE bit_count(xor(sa.simhash, sb.simhash)) <= 3
"""


# -------------------------------------------------------------------- text

def q_text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 — per-language corpus stats over whitespace tokens."""
    from amazon_macie_activity_generator_spark.operators.text import token_count_ws

    docs = load_table(spark, sf_dir, "documents")
    per_doc = docs.select("lang", token_count_ws(F.col("text")).alias("n_tok"), "n_chars")
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("n_tok"), 4).alias("avg_tokens"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        F.sum("n_tok").alias("total_tokens"),
    )


SQL_TEXT_TOKEN_STATS = f"""
WITH tok AS (
  SELECT lang, len({DUCK_TOKS_SQL}) AS n_tok, n_chars FROM documents
)
SELECT lang, count(*) AS n_docs,
       round(avg(n_tok), 4) AS avg_tokens,
       round(avg(n_chars), 4) AS avg_chars,
       CAST(sum(n_tok) AS BIGINT) AS total_tokens
FROM tok GROUP BY lang
"""


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 — per-doc quality features + composite score. Map-only; the
    scan is conditionally spread (r13) because the local single-row-
    group file otherwise pins the whole tokenize to one task."""
    docs = spread_small_scan(load_table(spark, sf_dir, "documents"), "doc_id")
    return quality_features(docs).select(
        "doc_id", "n_tokens", "n_bpe_tokens", "mean_token_len",
        "punct_ratio", "stopword_ratio", "quality_score",
    )


_DUCK_EN_STOP = "['" + "', '".join(STOPWORDS["en"]) + "']"

SQL_TEXT_QUALITY = f"""
WITH base AS (
  SELECT doc_id, text, length(text) AS n_chars,
         {DUCK_TOKS_SQL} AS toks,
         length(regexp_replace(text, '[a-zA-Z0-9{JAVA_WS}]', '', 'g')) AS punct
  FROM documents
),
feat AS (
  SELECT doc_id,
         len(toks) AS n_tokens,
         len(regexp_extract_all(lower(text), '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9{JAVA_WS}]')) AS n_bpe_tokens,
         CASE WHEN len(toks) > 0 THEN CAST(n_chars AS DOUBLE) / len(toks) ELSE 0.0 END AS mean_token_len,
         CASE WHEN n_chars > 0 THEN CAST(punct AS DOUBLE) / n_chars ELSE 0.0 END AS punct_ratio,
         CASE WHEN len(toks) > 0
              THEN CAST(len(list_filter(toks, t -> list_contains({_DUCK_EN_STOP}, t))) AS DOUBLE) / len(toks)
              ELSE 0.0 END AS stopword_ratio
  FROM base
)
SELECT doc_id, n_tokens, n_bpe_tokens,
       round(mean_token_len, 4) AS mean_token_len,
       round(punct_ratio, 4) AS punct_ratio,
       round(stopword_ratio, 4) AS stopword_ratio,
       round(
         (CASE WHEN n_tokens >= 10 AND n_tokens <= 100000 THEN 1.0 ELSE 0.3 END)
         * (CASE WHEN punct_ratio <= 0.2 THEN 1.0 ELSE 1.0 - punct_ratio END)
         * (0.5 + 0.5 * least(stopword_ratio * 5, 1.0)), 4) AS quality_score
FROM feat
"""


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 — heuristic stopword-vote language ID. Map-only; scan spread
    conditionally (r13, see spread_small_scan)."""
    docs = spread_small_scan(load_table(spark, sf_dir, "documents"), "doc_id")
    return docs.select("doc_id", "lang", lang_id_expr(F.col("text")).alias("lang_pred"))


def _duck_hits(lang: str) -> str:
    stop = "['" + "', '".join(STOPWORDS[lang]) + "']"
    return f"len(list_filter(toks, t -> list_contains({stop}, t)))"


SQL_LANG_ID = f"""
WITH tok AS (
  SELECT doc_id, lang, {DUCK_TOKS_SQL} AS toks FROM documents
),
scored AS (
  SELECT doc_id, lang,
         list_sort([
           struct_pack(hits := {_duck_hits('de')}, lang := 'de'),
           struct_pack(hits := {_duck_hits('en')}, lang := 'en'),
           struct_pack(hits := {_duck_hits('es')}, lang := 'es'),
           struct_pack(hits := {_duck_hits('fr')}, lang := 'fr'),
           struct_pack(hits := {_duck_hits('zh')}, lang := 'zh')
         ])[-1] AS best
  FROM tok
)
SELECT doc_id, lang,
       CASE WHEN best.hits > 0 THEN best.lang ELSE 'und' END AS lang_pred
FROM scored
"""


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detect + redact over documents with deterministically planted
    sensitive strings (SSN / email / AWS key formats — the very formats
    the K6 fake providers emit). Counts and the redacted fingerprint both
    oracle-check: detection finds exactly the plants, redaction removes
    them all."""
    from amazon_macie_activity_generator_spark.operators.text import (
        pii_counts,
        pii_redact,
    )

    docs = spread_small_scan(load_table(spark, sf_dir, "documents"), "doc_id")
    # coalesce(doc_id, 0) in the plant arithmetic: Spark format_string
    # renders a NULL int as the string 'null' (and would then COUNT the
    # 'usernull@example.com' plant) while DuckDB printf nulls the whole
    # row — a NULL-id doc gets doc-0's plants in BOTH engines instead
    did = F.coalesce(F.col("doc_id"), F.lit(0))
    planted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.format_string(
                " ssn %03d-%02d-%04d contact user%d@example.com key AKIA",
                F.pmod(did, F.lit(899)) + 1,
                F.pmod(did, F.lit(99)) + 1,
                F.pmod(did, F.lit(9999)) + 1,
                did,
            ),
            F.repeat(F.lit("Q"), 16),
        ).alias("text"),
    )
    c = pii_counts(F.col("text"))
    return planted.select(
        "doc_id",
        c["ssn"].cast("long").alias("n_ssn"),
        c["email"].cast("long").alias("n_email"),
        c["aws_key"].cast("long").alias("n_aws"),
        F.md5(pii_redact(F.col("text"))).alias("redacted_md5"),
    )


# the SAME pattern strings the Spark operators compile — single source
# (operators/text.py) so the bounded-quantifier fix and any future tweak
# reach both engines atomically
_DUCK_REDACT = "text2"
for _pat in PII_PATTERNS.values():
    _DUCK_REDACT = f"regexp_replace({_DUCK_REDACT}, '{_pat}', '[REDACTED]', 'g')"

SQL_PII_REDACT = f"""
WITH planted AS (
  SELECT doc_id,
         text || printf(' ssn %03d-%02d-%04d contact user%d@example.com key AKIA',
                        coalesce(doc_id, 0) % 899 + 1, coalesce(doc_id, 0) % 99 + 1,
                        coalesce(doc_id, 0) % 9999 + 1, coalesce(doc_id, 0))
              || repeat('Q', 16) AS text2
  FROM documents
)
SELECT doc_id,
       len(regexp_extract_all(text2, '{PII_PATTERNS["ssn"]}')) AS n_ssn,
       len(regexp_extract_all(text2, '{PII_PATTERNS["email"]}')) AS n_email,
       len(regexp_extract_all(text2, '{PII_PATTERNS["aws_key"]}')) AS n_aws,
       md5({_DUCK_REDACT}) AS redacted_md5
FROM planted
"""


def q_doc_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 — context-window chunking (operators/text.py:chunk_docs):
    50-token chunks, 10-token overlap; md5 of each chunk text hashes the
    exact split points cross-engine."""
    from amazon_macie_activity_generator_spark.operators.text import chunk_docs

    docs = load_table(spark, sf_dir, "documents")
    out = chunk_docs(docs, chunk_tokens=50, overlap=10)
    return out.select(
        F.col("id").alias("doc_id"), "chunk_idx",
        F.col("n_tok").cast("long").alias("n_tok"),
        F.md5("chunk_text").alias("chunk_md5"),
    )


SQL_DOC_CHUNK = f"""
WITH tok AS (SELECT doc_id, {DUCK_TOKS_SQL} AS toks FROM documents),
s AS (
  SELECT doc_id, toks,
         unnest(generate_series(0, greatest(len(toks) - 1, 0), 40)) AS s
  FROM tok
)
SELECT doc_id, s // 40 AS chunk_idx,
       CAST(len(list_slice(toks, s + 1, s + 50)) AS BIGINT) AS n_tok,
       md5(coalesce(array_to_string(list_slice(toks, s + 1, s + 50), ' '), '')) AS chunk_md5
FROM s
"""


_PACK_LEN = 512


def q_doc_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing — the concat-and-chunk layout LLM pretraining
    uses: per language, documents concatenate in doc_id order and split
    into fixed 512-token training sequences; a document may straddle a
    boundary and contribute tokens to two (or more) sequences. One
    window cumsum gives each doc its token offset, a sequence explode
    fans a doc to every training sequence it touches, and a groupBy
    rolls up per-sequence fill stats. At 100 TB the partition key is
    (lang, input shard) so each window partition is one shard — the
    layout then matches how packing actually runs, shard-local with no
    global sort. Output: per (lang, seq_id) doc count, token fill, and
    doc-id span; every sequence except each language's last must be
    exactly full (asserted by the fill column both engines compute)."""

    from amazon_macie_activity_generator_spark.operators.text import token_count_ws

    docs = load_table(spark, sf_dir, "documents")
    # no key, no pack position: the layout is doc_id-ordered, and a NULL
    # id has no deterministic place in it (the engines also disagree on
    # NULL sort position — Spark NULLS FIRST, DuckDB NULLS LAST)
    toks = docs.select(
        "doc_id", "lang", token_count_ws(F.col("text")).alias("n_tok")
    ).filter((F.col("n_tok") > 0) & F.col("doc_id").isNotNull())
    w = Window.partitionBy("lang").orderBy("doc_id")
    with_off = toks.withColumn(
        "off", F.sum("n_tok").over(w) - F.col("n_tok")
    )
    L = F.lit(_PACK_LEN)
    spans = with_off.select(
        "doc_id", "lang", "n_tok", "off",
        F.explode(
            F.sequence(
                (F.col("off") / L).cast("long"),
                ((F.col("off") + F.col("n_tok") - 1) / L).cast("long"),
            )
        ).alias("seq_id"),
    )
    tok_in_seq = (
        F.least((F.col("seq_id") + 1) * L, F.col("off") + F.col("n_tok"))
        - F.greatest(F.col("seq_id") * L, F.col("off"))
    )
    return (
        spans.withColumn("tok_in_seq", tok_in_seq)
        .groupBy("lang", "seq_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("tok_in_seq").alias("n_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


SQL_DOC_PACK = f"""
WITH toks AS (
  -- no key, no pack position (mirrors the Spark-side NULL-id filter)
  SELECT * FROM (
    SELECT doc_id, lang, len({DUCK_TOKS_SQL}) AS n_tok FROM documents
  ) WHERE n_tok > 0 AND doc_id IS NOT NULL
), with_off AS (
  SELECT doc_id, lang, n_tok,
         CAST(sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
                               ROWS UNBOUNDED PRECEDING) - n_tok AS BIGINT) AS off
  FROM toks
), spans AS (
  SELECT doc_id, lang, n_tok, off,
         unnest(range(off // {_PACK_LEN}, (off + n_tok - 1) // {_PACK_LEN} + 1)) AS seq_id
  FROM with_off
)
SELECT lang, seq_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(least((seq_id + 1) * {_PACK_LEN}, off + n_tok)
                - greatest(seq_id * {_PACK_LEN}, off)) AS BIGINT) AS n_tokens,
       min(doc_id) AS first_doc,
       max(doc_id) AS last_doc
FROM spans
GROUP BY lang, seq_id
"""


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 — TF-IDF: term frequency per doc x ln(N/df), top-3 terms per
    doc for doc_id < 20 with deterministic (score desc, token asc)
    tiebreak. The df table is a narrow token-keyed agg broadcast back —
    same two-pass discipline as the scaling stats."""

    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()
    tf = (
        docs.select(F.col("doc_id"), F.explode(tokens_expr(F.col("text"))).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("token").agg(F.count_distinct("doc_id").alias("df"))
    scored = (
        tf.filter(F.col("doc_id") < 20)
        .join(F.broadcast(dfreq), on="token")
        .withColumn("score", F.round(F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 4))
    )

    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("token"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "token", "score", F.col("rank").cast("long").alias("rank"))
    )


SQL_TFIDF = f"""
WITH tok AS (
  SELECT doc_id, unnest({DUCK_TOKS_SQL}) AS token FROM documents
),
tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
dfreq AS (SELECT token, count(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.token,
         round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / dfreq.df), 4) AS score
  FROM tf JOIN dfreq USING (token), n
  WHERE tf.doc_id < 20
)
SELECT doc_id, token, score, CAST(rank AS BIGINT) AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, token ASC) AS rank
  FROM scored
) WHERE rank <= 3
"""


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 — canonical-form md5 fingerprint (cross-engine-stable)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", fingerprint_md5(F.col("text")).alias("fingerprint"))


SQL_DOC_FINGERPRINT = """
SELECT doc_id,
       md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fingerprint
FROM documents
"""


def q_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/holdout split (operators/sampling.py): bucket =
    md5 prefix vs hex threshold — engine-stable, so the exact membership
    (not just the ratio) oracle-checks. Per-lang counts prove stratified
    stability."""
    from amazon_macie_activity_generator_spark.operators.sampling import hash_split

    docs = load_table(spark, sf_dir, "documents")
    return (
        hash_split(docs, "doc_id", train_fraction=0.9)
        .groupBy("lang", "split")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("min_doc_id"))
    )


SQL_HASH_SPLIT = f"""
SELECT lang,
       CASE WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 6)
                 < '{split_threshold_hex(0.9)}'
            THEN 'train' ELSE 'holdout' END AS split,
       count(*) AS n_docs, min(doc_id) AS min_doc_id
FROM documents GROUP BY 1, 2
"""


_STRAT_FRACTIONS = {"en": 0.25, "zh": 0.5}


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus rebalancing: cap en to 25% and zh to 50%, keep the rest —
    deterministic per-stratum membership (operators/sampling.py), so the
    exact surviving doc set oracle-checks."""
    from amazon_macie_activity_generator_spark.operators.sampling import stratified_sample

    docs = load_table(spark, sf_dir, "documents")
    kept = stratified_sample(docs, "doc_id", "lang", _STRAT_FRACTIONS)
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
    )


SQL_STRATIFIED_SAMPLE = f"""
SELECT lang, count(*) AS n_docs, min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
FROM documents
WHERE substr(md5('strat:' || CAST(doc_id AS VARCHAR)), 1, 6)
      < CASE lang WHEN 'en' THEN '{split_threshold_hex(0.25)}'
                  WHEN 'zh' THEN '{split_threshold_hex(0.5)}'
                  ELSE 'g' END
GROUP BY lang
"""


def q_token_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 — corpus token-frequency table (the wordcount of training-data
    curation: stopword lists, vocab pruning). Explode whitespace tokens,
    one agg; top 20 with deterministic (count desc, token asc) tiebreak."""

    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(tokens_expr(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(20)
    )


SQL_TOKEN_FREQ = f"""
SELECT tok AS token, count(*) AS n
FROM (SELECT unnest({DUCK_TOKS_SQL}) AS tok FROM documents)
GROUP BY tok ORDER BY n DESC, tok ASC LIMIT 20
"""


def q_corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite training-data pipeline: quality filter -> canonical-form
    dedup (md5 fingerprint, keep min doc_id) -> drop language-unidentified
    docs -> per-language survivor stats. The full chain oracle-checks."""

    docs = spread_small_scan(load_table(spark, sf_dir, "documents"), "doc_id")
    # no key, no canonical identity: the pick-one window orders by
    # doc_id, and the engines disagree on NULL sort position — a NULL-id
    # duplicate would be kept by Spark (NULLS FIRST) and dropped by the
    # oracle (NULLS LAST). Same rule as doc_pack/inverted_index.
    feat = quality_features(docs.filter(F.col("doc_id").isNotNull())).filter(
        (F.col("n_tokens") >= 10) & (F.col("punct_ratio") <= 0.3)
    )
    with_fp = feat.select(
        "doc_id", "lang", "n_tokens", "quality_score",
        fingerprint_md5(F.col("text")).alias("fp"),
        lang_id_expr(F.col("text")).alias("lang_pred"),
    )
    canon = with_fp.withColumn(
        "rk", F.row_number().over(Window.partitionBy("fp").orderBy("doc_id"))
    ).filter(F.col("rk") == 1)
    kept = canon.filter(F.col("lang_pred") != "und")
    return kept.groupBy("lang_pred").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.round(F.avg("quality_score"), 4).alias("avg_quality"),
    )


SQL_CORPUS_CLEAN = f"""
WITH tok AS (
  -- no key, no canonical identity (mirrors the Spark-side NULL-id filter)
  SELECT doc_id, text, lang, length(text) AS n_chars, {DUCK_TOKS_SQL} AS toks,
         length(regexp_replace(text, '[a-zA-Z0-9{JAVA_WS}]', '', 'g')) AS punct
  FROM documents WHERE doc_id IS NOT NULL
),
feat AS (
  SELECT doc_id, text, toks, len(toks) AS n_tokens,
         CASE WHEN n_chars > 0 THEN CAST(punct AS DOUBLE) / n_chars ELSE 0.0 END AS punct_ratio,
         CASE WHEN len(toks) > 0
              THEN CAST(len(list_filter(toks, t -> list_contains({_DUCK_EN_STOP}, t))) AS DOUBLE) / len(toks)
              ELSE 0.0 END AS stopword_ratio
  FROM tok
),
scored AS (
  SELECT *,
         round((CASE WHEN n_tokens >= 10 AND n_tokens <= 100000 THEN 1.0 ELSE 0.3 END)
         * (CASE WHEN punct_ratio <= 0.2 THEN 1.0 ELSE 1.0 - punct_ratio END)
         * (0.5 + 0.5 * least(stopword_ratio * 5, 1.0)), 4) AS quality_score,
         md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp,
         list_sort([
           struct_pack(hits := {_duck_hits('de')}, lang := 'de'),
           struct_pack(hits := {_duck_hits('en')}, lang := 'en'),
           struct_pack(hits := {_duck_hits('es')}, lang := 'es'),
           struct_pack(hits := {_duck_hits('fr')}, lang := 'fr'),
           struct_pack(hits := {_duck_hits('zh')}, lang := 'zh')
         ])[-1] AS best
  FROM feat
  WHERE n_tokens >= 10 AND round(punct_ratio, 4) <= 0.3
),
canon AS (
  SELECT *, CASE WHEN best.hits > 0 THEN best.lang ELSE 'und' END AS lang_pred,
         row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rk
  FROM scored
)
SELECT lang_pred, count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       round(avg(quality_score), 4) AS avg_quality
FROM canon WHERE rk = 1 AND lang_pred <> 'und'
GROUP BY lang_pred
"""


def q_doc_fingerprint_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rabin-Karp rolling-hash fingerprint over the token stream
    (rows-only: engine-local hash; md5 variant is the oracle-checked one)."""
    from amazon_macie_activity_generator_spark.operators.text import fingerprint_rolling

    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", fingerprint_rolling(F.col("text")).alias("fingerprint"))


# --------------------------------------------------------------------------
# contamination_ngram — word-5-gram overlap between train and benchmark docs
# --------------------------------------------------------------------------

_NGRAM_N = 5


def _five_grams(toks):
    """Distinct word 5-grams of a token array (empty when < 5 tokens).

    The token array is BOUND ONCE via the array-wrap trick (transform's
    lambda variable is an evaluated value): referencing ``toks`` directly
    inside the index lambda re-evaluates the whole tokenize expression
    per gram index — O(n_tokens x doc_len), which turned a single 300 KB
    document into a >8-minute task (the huge-doc sweep's catch). Bound,
    the same doc grams in ~1 s."""
    grams = F.element_at(
        F.transform(
            F.array(toks),  # bind the token array once
            lambda t: F.when(
                F.size(t) >= _NGRAM_N,
                F.transform(
                    F.sequence(F.lit(0), F.size(t) - _NGRAM_N),
                    lambda i: F.concat_ws(" ", F.slice(t, i + 1, _NGRAM_N)),
                ),
            ).otherwise(F.array().cast("array<string>")),
        ),
        1,
    )
    return F.array_distinct(grams)


def q_contamination_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination pass: docs with doc_id % 10 == 0 act as the held-out
    benchmark; every other doc reports how many of its distinct word
    5-grams also occur in any benchmark doc. ONE corpus scan: explode
    grams once, flag each gram row with a whole-partition window max of
    "appears in a benchmark doc" (single shuffle on the gram key), then
    re-aggregate per train doc — no second scan, no broadcast build, and
    the gram shuffle is the same hash partitioning an LSH band join would
    use at 100 TB. The local file arrives as one input split while gram
    construction is CPU-bound, so spread it first (at real scale
    maxPartitionBytes provides the splits and this is a no-op)."""
    docs = load_table(spark, sf_dir, "documents")
    docs = docs.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    grams = docs.select(
        "doc_id", F.explode(_five_grams(tokens_expr(F.col("text")))).alias("gram")
    )
    in_bench = F.max((F.col("doc_id") % 10 == 0).cast("int")).over(
        Window.partitionBy("gram")
    )
    flagged = grams.withColumn("hit", in_bench)
    per_doc = (
        flagged.filter(F.col("doc_id") % 10 != 0)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum("hit").alias("n_contaminated"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_grams",
        "n_contaminated",
        F.round(F.col("n_contaminated") / F.col("n_grams"), 4).alias("contamination_rate"),
    )


SQL_CONTAMINATION = f"""
WITH toks AS (
  SELECT doc_id, {DUCK_TOKS_SQL} AS tk FROM documents
), grams AS (
  SELECT doc_id, unnest(list_distinct(
    list_transform(range(1, greatest(len(tk) - {_NGRAM_N - 2}, 1)),
                   i -> coalesce(array_to_string(list_slice(tk, i, i + {_NGRAM_N - 1}), ' '), ''))
  )) AS gram
  FROM toks
), bench AS (
  SELECT DISTINCT gram FROM grams WHERE doc_id % 10 = 0
)
SELECT g.doc_id,
       count(*) AS n_grams,
       count(b.gram) AS n_contaminated,
       round(count(b.gram) / count(*), 4) AS contamination_rate
FROM grams g LEFT JOIN bench b USING (gram)
WHERE g.doc_id % 10 <> 0
GROUP BY g.doc_id
"""


# --------------------------------------------------------------------------
# bm25_search — classic BM25 ranking for a fixed 3-term query
# --------------------------------------------------------------------------

_BM25_TERMS = ["spark", "hash", "window"]
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_TOPK = 25


def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-k over the documents table for the fixed query
    {spark, hash, window}: idf = ln(1 + (N - df + .5)/(df + .5)),
    tf-saturated with k1=1.2, b=0.75 length normalization. Corpus stats
    (N, avgdl, per-term df) come from one single-row aggregate that is
    crossJoin-broadcast back onto the docs — the 100 TB plan is two scans
    and a TakeOrdered top-k, never a global sort."""
    docs = spread_small_scan(
        load_table(spark, sf_dir, "documents"), "doc_id"
    ).withColumn(
        "__toks", tokens_expr(F.col("text"))
    )
    def _tf(term: str):
        # NB: a 2-arg lambda would be read by F.filter as (element, index)
        return F.size(F.filter("__toks", lambda x: x == F.lit(term)))

    tf_cols = [_tf(t).alias(f"tf_{i}") for i, t in enumerate(_BM25_TERMS)]
    scored_src = docs.select("doc_id", F.size("__toks").alias("dl"), *tf_cols)
    stats = scored_src.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("long")).alias(f"df_{i}")
            for i in range(len(_BM25_TERMS))
        ],
    )
    j = scored_src.crossJoin(F.broadcast(stats))
    score = None
    for i in range(len(_BM25_TERMS)):
        tf = F.col(f"tf_{i}").cast("double")
        df_t = F.col(f"df_{i}").cast("double")
        idf = F.log(
            F.lit(1.0) + (F.col("n_docs") - df_t + F.lit(0.5)) / (df_t + F.lit(0.5))
        )
        denom = tf + F.lit(_BM25_K1) * (
            F.lit(1.0 - _BM25_B) + F.lit(_BM25_B) * F.col("dl") / F.col("avgdl")
        )
        term = idf * tf * F.lit(_BM25_K1 + 1.0) / denom
        score = term if score is None else score + term
    return (
        j.select("doc_id", F.round(score, 4).alias("bm25"))
        .filter(F.col("bm25") > 0)
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(_BM25_TOPK)
    )


def _duck_tf(term: str) -> str:
    return f"len(list_filter(tk, x -> x = '{term}'))"


SQL_BM25 = f"""
WITH toks AS (
  SELECT doc_id, {DUCK_TOKS_SQL} AS tk FROM documents
), scored_src AS (
  SELECT doc_id, len(tk) AS dl,
         {", ".join(f"{_duck_tf(t)} AS tf_{i}" for i, t in enumerate(_BM25_TERMS))}
  FROM toks
), stats AS (
  SELECT count(*) AS n_docs, avg(dl) AS avgdl,
         {", ".join(f"sum(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS df_{i}"
                    for i in range(len(_BM25_TERMS)))}
  FROM scored_src
)
SELECT doc_id, bm25 FROM (
  SELECT doc_id, round({" + ".join(
    f"ln(1.0 + (n_docs - CAST(df_{i} AS DOUBLE) + 0.5) / (CAST(df_{i} AS DOUBLE) + 0.5))"
    f" * CAST(tf_{i} AS DOUBLE) * {_BM25_K1 + 1.0}"
    f" / (CAST(tf_{i} AS DOUBLE) + {_BM25_K1} * ({1.0 - _BM25_B} + {_BM25_B} * dl / avgdl))"
    for i in range(len(_BM25_TERMS)))}, 4) AS bm25
  FROM scored_src, stats
)
WHERE bm25 > 0
ORDER BY bm25 DESC, doc_id
LIMIT {_BM25_TOPK}
"""


# --------------------------------------------------------------------------
# inverted_index — token -> postings list (capped), the retrieval substrate
# --------------------------------------------------------------------------

_POSTINGS_CAP = 8


def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build an inverted index over documents: one row per distinct token
    with document frequency and the first 8 doc_ids as a postings prefix.
    One shuffle on the token key; collect_list stays bounded because the
    per-token groups are the shuffle partitions' natural unit (at 100 TB
    the cap would move into a window row_number < cap before the
    collect to bound skewed tokens' state)."""
    docs = load_table(spark, sf_dir, "documents")
    # a NULL doc_id cannot be a posting: unindexable rows are excluded
    # in both engines (Spark rendered their lists as '' via concat_ws,
    # DuckDB as NULL — the NULL-id probe's divergence)
    postings = docs.filter(F.col("doc_id").isNotNull()).select(
        "doc_id", F.explode(F.array_distinct(tokens_expr(F.col("text")))).alias("token")
    )
    w = Window.partitionBy("token").orderBy("doc_id")
    capped = postings.withColumn("rn", F.row_number().over(w))
    return (
        capped.groupBy("token")
        .agg(
            F.max("rn").cast("long").alias("n_docs"),
            F.concat_ws(
                ",",
                F.transform(
                    F.sort_array(F.collect_list(F.when(F.col("rn") <= _POSTINGS_CAP, F.col("doc_id")))),
                    lambda d: d.cast("string"),
                ),
            ).alias("postings"),
        )
    )


SQL_INVERTED_INDEX = f"""
WITH postings AS (
  -- NULL doc_id cannot be a posting (mirrors the Spark-side filter)
  SELECT doc_id, unnest(list_distinct({DUCK_TOKS_SQL})) AS token
  FROM documents WHERE doc_id IS NOT NULL
)
SELECT token, count(*) AS n_docs,
       array_to_string(list_sort(list(doc_id ORDER BY doc_id))[1:{_POSTINGS_CAP}], ',') AS postings
FROM postings
GROUP BY token
"""


# --------------------------------------------------------------------------
# repetition_ratio — intra-document repetition quality signals
# --------------------------------------------------------------------------

def q_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc repetition features (a Gopher-style quality rule family):
    distinct-token ratio and the share of the single most frequent token.
    Expressed as explode -> two-level aggregate so the token counting is a
    map-side-combinable groupBy, not a per-row O(vocab*len) array scan."""
    docs = spread_small_scan(load_table(spark, sf_dir, "documents"), "doc_id")
    tok = docs.select("doc_id", F.explode(tokens_expr(F.col("text"))).alias("token"))
    per_token = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("c"))
    return (
        per_token.groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.max("c").alias("top_token_count"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_distinct",
            F.round(F.col("n_distinct") / F.col("n_tokens"), 4).alias("distinct_ratio"),
            F.round(F.col("top_token_count") / F.col("n_tokens"), 4).alias("top_token_share"),
        )
    )


SQL_REPETITION = f"""
WITH tok AS (
  SELECT doc_id, unnest({DUCK_TOKS_SQL}) AS token FROM documents
), per_token AS (
  SELECT doc_id, token, count(*) AS c FROM tok GROUP BY doc_id, token
)
SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens, count(*) AS n_distinct,
       round(count(*) / sum(c), 4) AS distinct_ratio,
       round(max(c) / sum(c), 4) AS top_token_share
FROM per_token
GROUP BY doc_id
"""


# --------------------------------------------------------------------------
# unigram_logprob — corpus LM scoring (perplexity proxy per document)
# --------------------------------------------------------------------------

def q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model score per doc: train token frequencies over
    the whole corpus (one aggregate), broadcast the tiny vocabulary back,
    and score each doc as the mean negative log-probability of its tokens
    — the classic cheap perplexity proxy used to filter training data.
    Two corpus passes, vocab-sized broadcast, no wide shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(tokens_expr(F.col("text"))).alias("token"))
    vocab = tok.groupBy("token").agg(F.count(F.lit(1)).alias("c"))
    total = vocab.agg(F.sum("c").alias("total"))
    scored = (
        tok.join(F.broadcast(vocab), "token")
        .crossJoin(F.broadcast(total))
        .withColumn("nll", -F.log(F.col("c") / F.col("total")))
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.avg("nll"), 4).alias("mean_nll"),
        )
    )


SQL_UNIGRAM_LOGPROB = f"""
WITH tok AS (
  SELECT doc_id, unnest({DUCK_TOKS_SQL}) AS token FROM documents
), vocab AS (
  SELECT token, count(*) AS c FROM tok GROUP BY token
), total AS (
  SELECT CAST(sum(c) AS DOUBLE) AS total FROM vocab
)
SELECT doc_id, count(*) AS n_tokens,
       round(avg(-ln(c / total)), 4) AS mean_nll
FROM tok JOIN vocab USING (token) CROSS JOIN total
GROUP BY doc_id
"""


# --------------------------------------------------------------------------
# char_entropy — per-doc Shannon character entropy (quality filter)
# --------------------------------------------------------------------------

def q_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H = log2(n) - sum(c*log2 c)/n over per-doc character counts — the
    single-division form avoids a per-row p=c/n divide. The explode is
    tamed by map-side partial aggregation: the shuffle carries (doc_id,
    ch) pairs (bounded by the alphabet), never one row per character.
    Empty fragments from the empty-pattern split are filtered on both
    engines (Spark keeps a trailing '', DuckDB doesn't)."""
    docs = spread_small_scan(load_table(spark, sf_dir, "documents"), "doc_id")
    ch = (
        docs.select("doc_id", F.explode(F.split(F.col("text"), "")).alias("ch"))
        .filter(F.col("ch") != "")
    )
    freq = ch.groupBy("doc_id", "ch").agg(F.count(F.lit(1)).alias("c"))
    n = F.sum("c").cast("double")
    return freq.groupBy("doc_id").agg(
        F.sum("c").alias("n_chars_seen"),
        F.round(
            F.log2(n) - F.sum(F.col("c") * F.log2(F.col("c"))) / n, 4
        ).alias("entropy_bits"),
    )


SQL_CHAR_ENTROPY = """
WITH ch AS (
  SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents
), freq AS (
  SELECT doc_id, ch, CAST(count(*) AS DOUBLE) AS c
  FROM ch WHERE ch <> '' GROUP BY doc_id, ch
)
SELECT doc_id,
       CAST(sum(c) AS BIGINT) AS n_chars_seen,
       round(log2(sum(c)) - sum(c * log2(c)) / sum(c), 4) AS entropy_bits
FROM freq GROUP BY doc_id
"""


# --------------------------------------------------------------------------
# bpe_pair_counts — the core BPE-training statistic
# --------------------------------------------------------------------------

def q_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The inner loop of BPE tokenizer training: count every adjacent
    token pair across the corpus and emit the top 20 merge candidates
    (count desc, pair asc tiebreak). Pairs form inside each document's
    token array with arrays_zip(toks, toks[1:]) — no self-join, no
    window: the explode feeds straight into a map-side-combinable count,
    so the shuffle carries (pair, partial_count), and the top-20 is a
    TakeOrdered, not a global sort. At 100 TB this is exactly one
    pair-keyed shuffle per merge iteration."""

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(tokens_expr(F.col("text")).alias("tk"))
    pairs = toks.select(
        F.explode(
            F.arrays_zip(
                F.slice("tk", 1, F.greatest(F.size("tk") - 1, F.lit(0))),
                F.slice("tk", 2, F.greatest(F.size("tk") - 1, F.lit(0))),
            )
        ).alias("p")
    ).select(F.concat_ws(" ", F.col("p")["0"], F.col("p")["1"]).alias("pair"))
    counted = pairs.groupBy("pair").agg(F.count(F.lit(1)).alias("n"))
    return (
        counted.orderBy(F.desc("n"), F.asc("pair")).limit(20)
        .withColumn("rank", F.row_number().over(
            Window.orderBy(F.desc("n"), F.asc("pair"))
        ).cast("int"))
    )


SQL_BPE_PAIR_COUNTS = f"""
WITH toks AS (
  SELECT {DUCK_TOKS_SQL} AS tk FROM documents
), pairs AS (
  SELECT unnest(list_transform(range(1, greatest(len(tk), 1)),
                i -> tk[i] || ' ' || tk[i + 1])) AS pair
  FROM toks
), counted AS (
  SELECT pair, count(*) AS n FROM pairs GROUP BY pair
)
SELECT pair, n, CAST(row_number() OVER (ORDER BY n DESC, pair) AS INT) AS rank
FROM counted
ORDER BY n DESC, pair
LIMIT 20
"""


# --------------------------------------------------------------------------
# mix_sampling_weights — domain reweighting for training mixtures
# --------------------------------------------------------------------------

def q_mix_sampling_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture reweighting: per source, the upsample factor that
    balances every domain to the largest one (epochs_per_source =
    max_domain_tokens / domain_tokens — the standard oversampling rule
    when a mixture spec wants under-represented domains repeated).
    Deterministic cross-engine: token counts are exact integers, the max
    is exact, and the only FP op is one int/int division per group —
    no order-dependent double summation anywhere."""
    from amazon_macie_activity_generator_spark.operators.text import token_count_ws

    docs = load_table(spark, sf_dir, "documents")
    per_src = (
        docs.select("source", token_count_ws(F.col("text")).alias("n_tok"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_tok").alias("n_tokens"))
    )
    mx = per_src.agg(F.max("n_tokens").alias("mx"))
    return (
        per_src.crossJoin(F.broadcast(mx))
        .select(
            "source", "n_docs", "n_tokens",
            F.round(F.col("mx") / F.col("n_tokens"), 6).alias("upsample_factor"),
        )
    )


SQL_MIX_SAMPLING_WEIGHTS = f"""
WITH per_src AS (
  SELECT source, count(*) AS n_docs,
         CAST(sum(len({DUCK_TOKS_SQL})) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
)
SELECT source, n_docs, n_tokens,
       round((SELECT max(n_tokens) FROM per_src) / CAST(n_tokens AS DOUBLE), 6)
         AS upsample_factor
FROM per_src
"""


# --------------------------------------------------------------------------
# winnowing_fingerprint — MOSS-style robust document fingerprints
# --------------------------------------------------------------------------

_WIN_K = 5   # k-gram length
_WIN_W = 4   # winnowing window


def q_winnowing_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (Schleimer/Wilkerson/Aiken '03): hash every token
    k-gram, slide a w-hash window, keep each window's minimum — the
    guarantee is any shared substring of length >= w+k-1 yields at least
    one shared fingerprint, at ~1/w the storage of all-grams. Hash is
    md5 (deterministic cross-engine, like doc_fingerprint); the window
    min is a bounded ROWS frame over the in-document gram order — one
    doc-keyed shuffle, no self-join. Output: distinct (doc_id,
    fingerprint) pairs, the near-dup index a plagiarism/contamination
    checker would build at corpus scale."""

    # r13 (guide §2.5 input skew): the md5-per-gram transform runs in the
    # scan stage, which is ONE task locally (single-split parquet) — the
    # spread is a no-op at real scale and unlocks all cores here.
    # Measured min-of-3 at sf0.1: 1.14 -> 0.32 s.
    docs = spread_small_scan(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id"
    )
    toks = docs.select("doc_id", tokens_expr(F.col("text")).alias("tk"))
    n_grams = F.size("tk") - (_WIN_K - 1)
    # sequence(1, 0) yields the DESCENDING [1, 0] and slice(tk, 0, k) is an
    # illegal start index — a doc with < k tokens must produce an empty
    # gram array, not crash the job (the oracle's range() already does)
    gram_hashes = F.when(
        n_grams >= 1,
        F.transform(
            F.sequence(F.lit(1), n_grams),
            lambda i: F.md5(F.concat_ws(" ", F.slice("tk", i, _WIN_K))),
        ),
    ).otherwise(F.array().cast("array<string>"))
    grams = toks.select("doc_id", F.posexplode(gram_hashes).alias("pos", "h"))
    w = (
        Window.partitionBy("doc_id").orderBy("pos")
        .rowsBetween(0, _WIN_W - 1)
    )
    return (
        grams.withColumn("fp", F.min("h").over(w))
        .select("doc_id", F.col("fp").alias("fingerprint"))
        .distinct()
    )


SQL_WINNOWING = f"""
WITH toks AS (
  SELECT doc_id, {DUCK_TOKS_SQL} AS tk FROM documents
), grams AS (
  SELECT doc_id,
         unnest(list_transform(range(1, greatest(len(tk) - {_WIN_K - 2}, 1)),
                i -> md5(coalesce(array_to_string(list_slice(tk, i, i + {_WIN_K - 1}), ' '), '')))) AS h,
         unnest(range(1, greatest(len(tk) - {_WIN_K - 2}, 1))) AS pos
  FROM toks
)
SELECT DISTINCT doc_id,
       min(h) OVER (PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN CURRENT ROW AND {_WIN_W - 1} FOLLOWING) AS fingerprint
FROM grams
"""


# --------------------------------------------------------------------------
# dedup_incremental — new batch vs existing corpus (no self-join)
# --------------------------------------------------------------------------

def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MinHash dedup (operators/dedup.py:dedup_incremental_md5):
    documents = the indexed corpus; the batch mixes true near-dups (every
    doc_id % 100 == 0 reappears at +1000000 with two extra tokens) with
    genuinely new docs (every doc_id % 100 == 50 at +2000000 with the
    token order reversed — same vocabulary, different shingles). The full
    md5-LSH path (signature -> bands -> asymmetric bucket join -> exact
    Jaccard verify -> per-doc argmax) value-hash-checks cross-engine."""
    from amazon_macie_activity_generator_spark.operators.dedup import dedup_incremental_md5

    docs = load_table(spark, sf_dir, "documents")
    # spread the corpus across cores (r13, the _docs/_emb rule): the
    # 16-hash md5 signature projection is the CPU cost and the table
    # arrives as one input split locally; the (small) batch side stays
    # on the raw scan — it is broadcast everywhere downstream
    corpus = docs.select("doc_id", "text").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    near = docs.filter(F.col("doc_id") % 100 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" near duplicate")).alias("text"),
    )
    fresh = docs.filter(F.col("doc_id") % 100 == 50).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.concat_ws(" ", F.reverse(tokens_expr(F.col("text")))).alias("text"),
    )
    return dedup_incremental_md5(corpus, near.unionByName(fresh), jaccard_threshold=0.7)


def _sql_dedup_incremental() -> str:
    sig = (
        "list_transform(generate_series(0, 15), "
        "j -> list_aggregate(list_transform(g, s -> md5(CAST(j AS VARCHAR) || ':' || s)), 'min'))"
    )
    bnd = "md5(array_to_string(sig[b.b * 4 + 1 : b.b * 4 + 4], '|'))"
    return f"""
WITH corpus AS (SELECT doc_id, text FROM documents),
batch AS (
  SELECT doc_id + 1000000 AS doc_id, text || ' near duplicate' AS text
  FROM documents WHERE doc_id % 100 = 0
  UNION ALL
  SELECT doc_id + 2000000 AS doc_id,
         coalesce(array_to_string(list_reverse({DUCK_TOKS_SQL}), ' '), '') AS text
  FROM documents WHERE doc_id % 100 = 50
),
ctok AS (SELECT doc_id, {DUCK_TOKS_SQL} AS toks FROM corpus),
cg AS (SELECT doc_id, {_DUCK_3GRAMS} AS g FROM ctok),
csig AS (SELECT doc_id, g, {sig} AS sig FROM cg),
cbands AS (SELECT doc_id, b.b AS band, {bnd} AS bh FROM csig, range(0, 4) AS b(b)),
btok AS (SELECT doc_id, {DUCK_TOKS_SQL} AS toks FROM batch),
bg AS (SELECT doc_id, {_DUCK_3GRAMS} AS g FROM btok),
bsig AS (SELECT doc_id, g, {sig} AS sig FROM bg),
bbands AS (SELECT doc_id, b.b AS band, {bnd} AS bh FROM bsig, range(0, 4) AS b(b)),
cand AS (
  SELECT DISTINCT bb.doc_id AS bid, cb.doc_id AS cid
  FROM bbands bb JOIN cbands cb ON bb.band = cb.band AND bb.bh = cb.bh
),
ver AS (
  SELECT cand.bid, cand.cid, {_DUCK_JAC} AS jaccard
  FROM cand JOIN bg a ON a.doc_id = cand.bid JOIN cg b2 ON b2.doc_id = cand.cid
),
best AS (
  SELECT bid, cid, jaccard,
         row_number() OVER (PARTITION BY bid ORDER BY jaccard DESC, cid) AS rk
  FROM ver WHERE jaccard >= 0.7
)
SELECT b.doc_id,
       coalesce(best.cid, -1) AS dup_of,
       coalesce(best.jaccard, 0.0) AS jaccard,
       best.cid IS NULL AS is_new
FROM batch b LEFT JOIN best ON best.bid = b.doc_id AND best.rk = 1
"""


SQL_DEDUP_INCREMENTAL = _sql_dedup_incremental()


# --------------------------------------------------------------------------
# dedup_keep_best — representative selection per near-dup group
# --------------------------------------------------------------------------

def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Representative selection — the step AFTER group resolution in a
    real dedup pipeline (C4/RefinedWeb-style: keep one member per
    duplicate cluster): for every near-dup group keep exactly one
    document (longest text, doc_id tie-break); ungrouped documents pass
    through as keep=true singletons.

    Scale shape: the argmax aggregate and the keep-decision join run
    ONLY on the grouped subset — a few percent of the corpus at real
    near-dup rates — and the group table joins back onto the corpus as
    a broadcast; the full corpus is never windowed or shuffled on a
    group key. Output: (doc_id, group_id, keep) for the whole augmented
    corpus."""

    corpus = _docs_aug(spark, sf_dir).select("doc_id", "n_chars")
    groups = q_dedup_groups(spark, sf_dir)  # (doc_id, group_id), grouped docs only
    members = groups.join(corpus, "doc_id")
    # argmax by (n_chars DESC, doc_id ASC) via lexicographic struct min —
    # one map-side-combinable agg over the tiny grouped subset
    best = (
        members.groupBy("group_id")
        .agg(F.min(F.struct((-F.col("n_chars")).alias("neg"), F.col("doc_id").alias("d"))).alias("b"))
        .select("group_id", F.col("b.d").alias("kept_doc"))
    )
    decided = groups.join(best, "group_id").select(
        "doc_id", "group_id", (F.col("doc_id") == F.col("kept_doc")).alias("keep")
    )
    singles = corpus.join(groups.select("doc_id"), "doc_id", "left_anti").select(
        "doc_id", F.col("doc_id").alias("group_id"), F.lit(True).alias("keep")
    )
    return decided.unionByName(singles)


SQL_DEDUP_KEEP_BEST = """
WITH groups AS ({groups_sql}),
aug AS ({aug_sql}),
members AS (
  SELECT g.doc_id, g.group_id, a.n_chars FROM groups g JOIN aug a USING (doc_id)
),
best AS (
  SELECT group_id, doc_id AS kept_doc FROM (
    SELECT group_id, doc_id,
           row_number() OVER (PARTITION BY group_id ORDER BY n_chars DESC, doc_id) AS rk
    FROM members
  ) WHERE rk = 1
)
SELECT m.doc_id, m.group_id, m.doc_id = b.kept_doc AS keep
FROM members m JOIN best b USING (group_id)
UNION ALL
SELECT a.doc_id, a.doc_id AS group_id, TRUE AS keep
FROM aug a ANTI JOIN groups g ON a.doc_id = g.doc_id
""".format(groups_sql=SQL_DEDUP_GROUPS, aug_sql=_DUCK_DOCS_AUG)


# --------------------------------------------------------------------------
# pmi_collocations — pointwise mutual information of adjacent pairs
# --------------------------------------------------------------------------

def q_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 collocations by PMI over adjacent token pairs:
    pmi(x,y) = ln( (n_xy / N_bi) / ((n_x / N_uni) * (n_y / N_uni)) )
    with a min-count floor of 3 to suppress noise. All counts are exact
    integers; the division/log chain is written with the same operation
    order in both engines and rounded to 6 dp, and the final ordering
    keys on the ROUNDED pmi (then pair) so near-equal doubles cannot
    reorder across engines. Unigram counts join onto the pair counts by
    token key (two hash joins); the two scalar totals ride as broadcast
    one-row frames."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(tokens_expr(F.col("text")).alias("tk"))
    # inline generator child (r13): see q_bigram_logprob — exploding the
    # projected attribute re-tokenized the corpus inside an inferred
    # `size(tk) > 0` filter, once per copy of this subtree (three in the
    # final plan: the two unigram joins and the total).
    uni = (
        docs.select(F.explode(tokens_expr(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("nw"))
    )
    n_uni = uni.agg(F.sum("nw").alias("n_uni"))
    pairs = toks.select(
        F.explode(
            F.arrays_zip(
                F.slice("tk", 1, F.greatest(F.size("tk") - 1, F.lit(0))),
                F.slice("tk", 2, F.greatest(F.size("tk") - 1, F.lit(0))),
            )
        ).alias("p")
    ).select(F.col("p")["0"].alias("w1"), F.col("p")["1"].alias("w2"))
    big = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("nxy"))
    n_bi = big.agg(F.sum("nxy").alias("n_bi"))
    joined = (
        big.filter(F.col("nxy") >= 3)
        .join(uni.withColumnRenamed("w", "w1").withColumnRenamed("nw", "n1"), "w1")
        .join(uni.withColumnRenamed("w", "w2").withColumnRenamed("nw", "n2"), "w2")
        .crossJoin(F.broadcast(n_bi))
        .crossJoin(F.broadcast(n_uni))
    )
    pmi = F.round(
        F.log(
            (F.col("nxy").cast("double") / F.col("n_bi"))
            / (
                (F.col("n1").cast("double") / F.col("n_uni"))
                * (F.col("n2").cast("double") / F.col("n_uni"))
            )
        ),
        6,
    )
    return (
        joined.select(
            F.concat_ws(" ", "w1", "w2").alias("pair"),
            F.col("nxy").alias("n"),
            pmi.alias("pmi"),
        )
        .orderBy(F.desc("pmi"), F.asc("pair"))
        .limit(20)
    )


SQL_PMI_COLLOCATIONS = f"""
WITH toks AS (
  SELECT {DUCK_TOKS_SQL} AS tk FROM documents
), uni AS (
  SELECT unnest(tk) AS w FROM toks
), ucnt AS (
  SELECT w, count(*) AS nw FROM uni GROUP BY w
), totals_u AS (SELECT sum(nw) AS n_uni FROM ucnt),
pairs AS (
  SELECT unnest(list_transform(range(1, greatest(len(tk), 1)),
                i -> [tk[i], tk[i + 1]])) AS p
  FROM toks
), bcnt AS (
  SELECT p[1] AS w1, p[2] AS w2, count(*) AS nxy FROM pairs GROUP BY 1, 2
), totals_b AS (SELECT sum(nxy) AS n_bi FROM bcnt)
SELECT b.w1 || ' ' || b.w2 AS pair, b.nxy AS n,
       round(ln((CAST(b.nxy AS DOUBLE) / tb.n_bi)
                / ((CAST(u1.nw AS DOUBLE) / tu.n_uni)
                   * (CAST(u2.nw AS DOUBLE) / tu.n_uni))), 6) AS pmi
FROM bcnt b
JOIN ucnt u1 ON b.w1 = u1.w
JOIN ucnt u2 ON b.w2 = u2.w
CROSS JOIN totals_b tb CROSS JOIN totals_u tu
WHERE b.nxy >= 3
ORDER BY pmi DESC, pair
LIMIT 20
"""


# --------------------------------------------------------------------------
# bigram_logprob — per-document fluency under a corpus bigram LM
# --------------------------------------------------------------------------

def q_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean add-one-smoothed bigram log-likelihood per document:
    logp(w2 | w1) = ln((c(w1,w2) + 1) / (c(w1) + V)), averaged over the
    document's bigrams. c(.) are corpus-wide exact integer counts and V
    is the vocabulary size, so the only FP is the per-bigram ln and the
    final mean (rounded to 6 dp — the ~150-term sum's order jitter is
    ~1e-13). Per-doc bigrams join the LM tables on (w1,w2) and w1 — the
    same two hash joins a 100 TB scoring pass would run; V and nothing
    else is broadcast."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokens_expr(F.col("text")).alias("tk"))
    doc_bi = toks.select(
        "doc_id",
        F.explode(
            F.arrays_zip(
                F.slice("tk", 1, F.greatest(F.size("tk") - 1, F.lit(0))),
                F.slice("tk", 2, F.greatest(F.size("tk") - 1, F.lit(0))),
            )
        ).alias("p"),
    ).select("doc_id", F.col("p")["0"].alias("w1"), F.col("p")["1"].alias("w2"))
    big = doc_bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    # explode the tokenize expression INLINE (r13, guide §2.4): exploding
    # the projected `tk` attribute lets InferFiltersFromGenerate add
    # `size(tk) > 0 AND isnotnull(tk)` below the Generate, and pushdown
    # then inlines the whole tokenize expression into that filter — the
    # unigram branch tokenized every document twice (plan-verified). With
    # the expression as the generator child the rule does not fire;
    # explode drops empty arrays anyway, so the rows are identical.
    uni = (
        docs.select(F.explode(tokens_expr(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    vocab = uni.agg(F.count(F.lit(1)).alias("v"))
    scored = (
        doc_bi.join(big, ["w1", "w2"])
        .join(uni.withColumnRenamed("w", "w1"), "w1")
        .crossJoin(F.broadcast(vocab))
        .withColumn(
            "lp",
            F.log(
                (F.col("c2") + 1).cast("double") / (F.col("c1") + F.col("v"))
            ),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.avg("lp"), 6).alias("avg_logprob"),
        )
    )


SQL_BIGRAM_LOGPROB = f"""
WITH toks AS (
  SELECT doc_id, {DUCK_TOKS_SQL} AS tk FROM documents
), doc_bi AS (
  SELECT doc_id,
         unnest(list_transform(range(1, greatest(len(tk), 1)),
                i -> [tk[i], tk[i + 1]])) AS p
  FROM toks
), db AS (
  SELECT doc_id, p[1] AS w1, p[2] AS w2 FROM doc_bi
), bcnt AS (
  SELECT w1, w2, count(*) AS c2 FROM db GROUP BY 1, 2
), ucnt AS (
  SELECT w, count(*) AS c1
  FROM (SELECT unnest(tk) AS w FROM toks) GROUP BY w
), vocab AS (SELECT count(*) AS v FROM ucnt)
SELECT d.doc_id, count(*) AS n_bigrams,
       round(avg(ln(CAST(b.c2 + 1 AS DOUBLE) / (u.c1 + vocab.v))), 6)
         AS avg_logprob
FROM db d
JOIN bcnt b ON d.w1 = b.w1 AND d.w2 = b.w2
JOIN ucnt u ON d.w1 = u.w
CROSS JOIN vocab
GROUP BY d.doc_id
"""


# --------------------------------------------------------------------------
# dedup_containment — asymmetric shingle containment
# --------------------------------------------------------------------------

def q_dedup_containment(
    spark: SparkSession, sf_dir: str, df_cap: int = 1000, heavy_df: int = 64
) -> DataFrame:
    """Containment near-dup detection: for document pairs sharing at
    least one distinct 3-word shingle, containment =
    max(|A ∩ B| / |A|, |A ∩ B| / |B|), keeping pairs >= 0.8 — the
    SYMMETRIZED asymmetric measure, so a subset document is caught
    regardless of which side carries the smaller doc_id (one-directional
    shared/|A| with A = lower id misses a contained doc whose id is the
    larger of the pair). Candidates come from gathered posting lists:
    ONE g-keyed ``sort_array(collect_list(doc_id))`` aggregation, capped
    at df <= 1000 (boilerplate-shingle guard), with light pairs
    (df <= 64) exploding in-task over the sorted list — no join. Grams
    with df > 64 go through a two-sided SALTED pair join — each posting
    list is split into S=8 hash buckets and pairs form per
    (g, salt_a, salt_b) cell, so the worst task builds (1000/8)^2 ≈ 16k
    pairs instead of ~500k from one 1000-df shingle. Pair set identical
    to the plain inverted-index self-join; counts are exact integers;
    the divisions are rounded to 6 dp."""
    # spread the one-input-split table across cores (r13, the _docs
    # rule): tokenize + shingle explode is the CPU cost and otherwise
    # runs entirely on the scan's single task
    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    # distinct (doc_id, g) pairs come from array_distinct BEFORE the
    # explode — in-task, zero shuffle (r13; the old dropDuplicates form
    # paid a (doc_id, g)-keyed exchange of the full gram table)
    grams = docs.select(
        "doc_id",
        F.explode(F.array_distinct(word_shingles_expr(F.col("text"), 3))).alias("g"),
    )
    # r13 (guide §2.4): gather the posting list per shingle with ONE
    # g-keyed aggregation — df IS size(ds), so the old separate df
    # aggregate and the df join back onto the gram table are gone, and
    # light pairs explode in-task over the sorted list (the
    # _banded_self_pairs construction) instead of a two-sided self-join.
    # Persist barrier: the gathered table feeds the size table, the
    # light explode, and both salted heavy sides.
    # df semantics pinned to the oracle: its DISTINCT collapses ALL
    # NULL-id rows of a gram into ONE row (NULLs compare equal there),
    # which the df cap then counts. collect_list drops NULLs, so count
    # that one row back explicitly — a NULL-id doc never pairs
    # (NULL < x is NULL) and never matches the size joins, but it must
    # push a gram over the 1000 cap exactly as the oracle's count(*)
    # does. No-op on NULL-id-free corpora.
    begin_scope("dedup_containment", spark)
    grouped = scoped_persist(
        grams.groupBy("g")
        .agg(
            F.sort_array(F.collect_list("doc_id")).alias("ds"),
            F.max(F.col("doc_id").isNull().cast("int")).alias("null_doc"),
        )
        .filter(F.size("ds") + F.col("null_doc") <= df_cap)
        .select("g", "ds"),
        "dedup_containment",
    )
    sizes = (
        grouped.select(F.explode("ds").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("sz"))
    )
    n_salt = 8
    light_pairs = (
        grouped.filter(F.size("ds") <= heavy_df)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ds, (x, i) -> "
                    "transform(slice(ds, i + 2, size(ds)), "
                    "y -> struct(x AS da, y AS db))))"
                )
            ).alias("pr")
        )
        .select("pr.da", "pr.db")
    )
    # heavy grams (64 < df <= 1000) keep the two-sided salted join: a
    # single 1000-df gram would otherwise form its ~500k pairs in one
    # task; the salt splits it into n_salt^2 cells exactly as before
    heavy = grouped.filter(F.size("ds") > heavy_df).select(
        "g", F.explode("ds").alias("doc_id")
    )

    def _salt(c):
        return F.pmod(F.xxhash64(c, F.lit("containment-salt")), F.lit(n_salt)).cast("int")

    fan = F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1)))
    ha = (
        heavy.select(F.col("doc_id").alias("da"), "g")
        .withColumn("sa", _salt(F.col("da")))
        .withColumn("sb", fan)
    )
    hb = (
        heavy.select(F.col("doc_id").alias("db"), "g")
        .withColumn("sb", _salt(F.col("db")))
        .withColumn("sa", fan)
    )
    heavy_pairs = (
        ha.join(hb, ["g", "sa", "sb"])
        .filter(F.col("da") < F.col("db"))
        .select("da", "db")
    )
    shared = (
        light_pairs.unionAll(heavy_pairs)
        .groupBy("da", "db")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    containment = F.round(
        F.greatest(
            F.col("shared") / F.col("sz_a"), F.col("shared") / F.col("sz_b")
        ),
        6,
    )
    return (
        shared.join(sizes.select(F.col("doc_id").alias("da"), F.col("sz").alias("sz_a")), "da")
        .join(sizes.select(F.col("doc_id").alias("db"), F.col("sz").alias("sz_b")), "db")
        .select("da", "db", "shared", containment.alias("containment"))
        .filter(F.col("containment") >= 0.8)
    )


SQL_DEDUP_CONTAINMENT = f"""
WITH toks AS (
  -- NULL text ≡ empty text (Spark's shingle path folds both to the ''
  -- shingle); without the coalesce the NULL doc vanishes through unnest
  SELECT doc_id, coalesce({DUCK_TOKS_SQL}, []) AS tk FROM documents
), grams AS (
  SELECT DISTINCT doc_id,
         unnest(CASE WHEN len(tk) < 3 THEN [coalesce(array_to_string(tk, ' '), '')]
                ELSE list_transform(range(1, len(tk) - 1),
                     i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2])
                END) AS g
  FROM toks
), capped AS (
  SELECT g FROM (SELECT g, count(*) AS df FROM grams GROUP BY g)
  WHERE df <= 1000
), sh AS (
  SELECT grams.doc_id, grams.g FROM grams JOIN capped USING (g)
), sizes AS (
  SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id
), shared AS (
  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS shared
  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT s.da, s.db, s.shared,
       round(greatest(s.shared / za.sz, s.shared / zb.sz), 6) AS containment
FROM shared s
JOIN sizes za ON s.da = za.doc_id
JOIN sizes zb ON s.db = zb.doc_id
WHERE round(greatest(s.shared / za.sz, s.shared / zb.sz), 6) >= 0.8
"""


# --------------------------------------------------------------------------
# chi2_source_lang — categorical association / mixture drift
# --------------------------------------------------------------------------

def q_chi2_source_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-squared statistic per source against the corpus-wide language
    distribution: over the full (source x lang) grid (zero-count cells
    included — they still contribute E to the statistic),
    chi2 = sum((O - E)^2 / E) with E = src_total * lang_total / N.
    Margins and the grid are tiny aggregates of one corpus scan —
    broadcast joins all the way; counts are exact and the statistic is
    rounded to 6 dp."""
    docs = load_table(spark, sf_dir, "documents")
    cells = docs.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("o"))
    src_tot = cells.groupBy("source").agg(F.sum("o").alias("st"))
    lang_tot = cells.groupBy("lang").agg(F.sum("o").alias("lt"))
    n = cells.agg(F.sum("o").alias("nn"))
    grid = (
        src_tot.crossJoin(F.broadcast(lang_tot))
        .join(cells, ["source", "lang"], "left")
        .crossJoin(F.broadcast(n))
        .withColumn("o", F.coalesce(F.col("o"), F.lit(0)))
        .withColumn("e", F.col("st").cast("double") * F.col("lt") / F.col("nn"))
    )
    return (
        grid.groupBy("source")
        .agg(
            F.max("st").alias("n_docs"),
            F.round(
                F.sum((F.col("o") - F.col("e")) * (F.col("o") - F.col("e")) / F.col("e")),
                6,
            ).alias("chi2"),
            (F.count(F.lit(1)) - 1).alias("dof"),
        )
    )


SQL_CHI2_SOURCE_LANG = """
WITH cells AS (
  SELECT source, lang, count(*) AS o FROM documents GROUP BY 1, 2
), st AS (SELECT source, sum(o) AS st FROM cells GROUP BY 1),
lt AS (SELECT lang, sum(o) AS lt FROM cells GROUP BY 1),
n AS (SELECT sum(o) AS nn FROM cells),
grid AS (
  SELECT st.source, lt.lang, st.st, lt.lt,
         coalesce(c.o, 0) AS o,
         CAST(st.st AS DOUBLE) * lt.lt / n.nn AS e
  FROM st CROSS JOIN lt
  LEFT JOIN cells c ON c.source = st.source AND c.lang = lt.lang
  CROSS JOIN n
)
SELECT source, CAST(max(st) AS BIGINT) AS n_docs,
       round(sum((o - e) * (o - e) / e), 6) AS chi2,
       count(*) - 1 AS dof
FROM grid
GROUP BY source
"""


# --------------------------------------------------------------------------
# gopher_quality_flags — named quality-rule audit table
# --------------------------------------------------------------------------

# THE Gopher rule set — single source of truth, shared by this audit
# table and by q_training_mix (the composed pipeline whose
# docstring promises these exact rules): tuning a threshold here retunes
# both entries on BOTH engines.
GOPHER_STOPWORDS = ("the", "a", "and", "of", "to", "in")
GOPHER_WORDS_LO, GOPHER_WORDS_HI = 10, 100000
GOPHER_MWL_LO, GOPHER_MWL_HI = 2.0, 10.0
GOPHER_STOP_MIN = 2
_DUCK_STOPLIST = "[" + ", ".join(f"'{w}'" for w in GOPHER_STOPWORDS) + "]"


def gopher_feature_exprs():
    """(n_words, mean_word_len, n_stopwords) column expressions over
    ``documents.text`` — the shared feature stage of the Gopher rules.
    ``mean_word_len`` carries the documented 6-dp boundary rounding.
    NULL text ≡ empty text (token coalesce): a NULL doc gets the same
    (0, 0.0, 0) features and definite False flags as an empty doc,
    instead of NULL-propagating through every rule."""
    tk = F.coalesce(tokens_expr(F.col("text")), F.array())
    stop = F.array([F.lit(w) for w in GOPHER_STOPWORDS])
    n_words = F.size(tk)
    mean_wl = F.round(
        F.aggregate(tk, F.lit(0).cast("long"), lambda acc, w: acc + F.length(w))
        .cast("double") / F.greatest(n_words, F.lit(1)),
        6,
    )
    n_stop = F.size(F.filter(tk, lambda w: F.array_contains(stop, w)))
    return n_words, mean_wl, n_stop


def gopher_keep_expr(n_words, mean_wl, n_stop):
    """The conjunction keep rule over the shared feature expressions."""
    return (
        (n_words >= GOPHER_WORDS_LO) & (n_words <= GOPHER_WORDS_HI)
        & (mean_wl >= GOPHER_MWL_LO) & (mean_wl <= GOPHER_MWL_HI)
        & (n_stop >= GOPHER_STOP_MIN)
    )


def q_gopher_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document named quality-rule flags in the style of the Gopher
    rules (Rae et al. '21): word-count bounds, mean-word-length bounds,
    and a minimum stopword count, plus the conjunction keep flag. Unlike
    ``corpus_clean`` (which APPLIES a filter chain and reports survivor
    stats), this emits the audit table — every doc with every rule's
    verdict — the shape used to tune thresholds before committing a
    filter. Single scan, pure expressions, exact integer/ratio rules.

    Boundary rule (deliberate, mirrored in the oracle): ``ok_word_len``
    compares the 6-dp ROUNDED ``mean_word_len`` against the 2.0/10.0
    bounds — a doc at 1.9999996 rounds to 2.0 and passes in BOTH
    engines; zero-token docs get mean_word_len = 0.0 (Spark's aggregate
    seed; the oracle coalesces DuckDB's NULL list_sum([]) to 0)."""
    # r13 (guide §2.5): the gopher feature exprs tokenize in the scan
    # stage; spread is a no-op at real scale
    docs = spread_small_scan(load_table(spark, sf_dir, "documents"), "doc_id")
    n_words, mean_wl, n_stop = gopher_feature_exprs()
    flags = docs.select(
        "doc_id",
        n_words.cast("long").alias("n_words"),
        mean_wl.alias("mean_word_len"),
        n_stop.cast("long").alias("n_stopwords"),
    ).select(
        "doc_id", "n_words", "mean_word_len", "n_stopwords",
        ((F.col("n_words") >= GOPHER_WORDS_LO)
         & (F.col("n_words") <= GOPHER_WORDS_HI)).alias("ok_word_count"),
        ((F.col("mean_word_len") >= GOPHER_MWL_LO)
         & (F.col("mean_word_len") <= GOPHER_MWL_HI)).alias("ok_word_len"),
        (F.col("n_stopwords") >= GOPHER_STOP_MIN).alias("ok_stopwords"),
    )
    return flags.withColumn(
        "keep",
        F.col("ok_word_count") & F.col("ok_word_len") & F.col("ok_stopwords"),
    )


SQL_GOPHER_QUALITY_FLAGS = f"""
WITH feat AS (
  SELECT doc_id,
         len(tk) AS n_words,
         round(CAST(coalesce(list_sum(list_transform(tk, w -> length(w))), 0)
                    AS DOUBLE)
               / greatest(len(tk), 1), 6) AS mean_word_len,
         len(list_filter(tk, w -> list_contains(
             {_DUCK_STOPLIST}, w))) AS n_stopwords
  FROM (SELECT doc_id, coalesce({DUCK_TOKS_SQL}, []) AS tk FROM documents)
)
SELECT doc_id, n_words, mean_word_len, n_stopwords,
       n_words >= {GOPHER_WORDS_LO} AND n_words <= {GOPHER_WORDS_HI} AS ok_word_count,
       mean_word_len >= {GOPHER_MWL_LO} AND mean_word_len <= {GOPHER_MWL_HI} AS ok_word_len,
       n_stopwords >= {GOPHER_STOP_MIN} AS ok_stopwords,
       (n_words >= {GOPHER_WORDS_LO} AND n_words <= {GOPHER_WORDS_HI})
         AND (mean_word_len >= {GOPHER_MWL_LO} AND mean_word_len <= {GOPHER_MWL_HI})
         AND n_stopwords >= {GOPHER_STOP_MIN} AS keep
FROM feat
"""


# --------------------------------------------------------------------------
# dedup_chunk_exact — C4-style chunk-level duplicate ratio per document
# --------------------------------------------------------------------------

_CHUNK = 8  # tokens per non-overlapping chunk; trailing partial chunks drop


def q_dedup_chunk_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X29 — per-document chunk-level exact-duplicate audit: split each
    document into non-overlapping 8-token chunks (trailing partial chunk
    dropped), count how many of its chunk INSTANCES also occur in at
    least one other document, and flag keep = dup_ratio <= 0.5.

    This is the span-level dedup document-level hashing misses (C4 /
    Raffel et al. '20 remove repeated three-sentence spans; tokens stand
    in for sentences here because the corpus has no punctuation).
    """
    # r13 (guide §2.5): tokenize+chunk-explode runs in the scan stage;
    # spread is a no-op at real scale
    docs = spread_small_scan(load_table(spark, sf_dir, "documents"), "doc_id")
    tk = tokens_expr(F.col("text"))
    n_full = F.floor(F.size("tk") / _CHUNK).cast("int")
    # sequence(0, -1) would yield [0, -1] (negative step), so gate on >= 1 chunk
    idx = F.when(
        n_full >= 1, F.sequence(F.lit(0), n_full - 1)
    ).otherwise(F.array().cast("array<int>"))
    chunks = (
        docs.select("doc_id", tk.alias("tk"))
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    idx,
                    lambda i: F.concat_ws(
                        " ", F.slice(F.col("tk"), i * _CHUNK + 1, _CHUNK)
                    ),
                )
            ).alias("chunk"),
        )
    )
    freq = chunks.groupBy("chunk").agg(F.count_distinct("doc_id").alias("ndocs"))
    per_doc = (
        chunks.join(freq, "chunk")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum(F.when(F.col("ndocs") > 1, 1).otherwise(0)).alias("n_dup_chunks"),
        )
    )
    out = (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_chunks"), F.lit(0)).alias("n_chunks"),
            F.coalesce(F.col("n_dup_chunks"), F.lit(0)).alias("n_dup_chunks"),
        )
    )
    ratio = F.round(
        F.col("n_dup_chunks") / F.greatest(F.col("n_chunks"), F.lit(1)), 6
    )
    return out.withColumn("dup_ratio", ratio).withColumn(
        "keep", F.col("dup_ratio") <= 0.5
    )


SQL_DEDUP_CHUNK_EXACT = f"""
WITH tk AS (
  SELECT doc_id, {DUCK_TOKS_SQL} AS tk FROM documents
),
chunks AS (
  SELECT doc_id,
         unnest(list_transform(range(CAST(floor(len(tk) / {_CHUNK}.0) AS BIGINT)),
                i -> array_to_string(tk[(i * {_CHUNK} + 1):(i * {_CHUNK} + {_CHUNK})], ' '))) AS chunk
  FROM tk
),
freq AS (
  SELECT chunk, count(DISTINCT doc_id) AS ndocs FROM chunks GROUP BY 1
),
per_doc AS (
  SELECT c.doc_id,
         count(*) AS n_chunks,
         sum(CASE WHEN f.ndocs > 1 THEN 1 ELSE 0 END) AS n_dup_chunks
  FROM chunks c JOIN freq f USING (chunk)
  GROUP BY 1
)
SELECT d.doc_id,
       CAST(coalesce(p.n_chunks, 0) AS BIGINT) AS n_chunks,
       CAST(coalesce(p.n_dup_chunks, 0) AS BIGINT) AS n_dup_chunks,
       round(coalesce(p.n_dup_chunks, 0) / greatest(coalesce(p.n_chunks, 0), 1), 6) AS dup_ratio,
       round(coalesce(p.n_dup_chunks, 0) / greatest(coalesce(p.n_chunks, 0), 1), 6) <= 0.5 AS keep
FROM documents d LEFT JOIN per_doc p USING (doc_id)
"""


# --------------------------------------------------------------------------
# source_overlap — pairwise shingle overlap between sources
# --------------------------------------------------------------------------

_OVERLAP_SOURCE_DF_CAP = 1000


def q_source_overlap(
    spark: SparkSession, sf_dir: str, source_df_cap: int = _OVERLAP_SOURCE_DF_CAP
) -> DataFrame:
    """X30 — cross-source duplication audit: for every pair of sources,
    the number of distinct 3-word shingles they share and the Jaccard of
    their shingle sets. Pairs with zero shared shingles are omitted.

    Pair formation is bounded per shingle by C(#sources containing it, 2)
    — never an all-pairs product over documents. That square is the
    residual risk at a million-source corpus: one boilerplate shingle
    present in every source would form |sources|^2 pairs in a single
    task. The df-cap guard (dedup_containment's posting-list cap,
    above) bounds it: shingles spanning more than
    ``source_df_cap`` sources are dropped from BOTH the pair explode and
    the per-source totals — such shingles carry no dedup signal (they
    are corpus-wide boilerplate), and excluding them from the Jaccard
    denominator keeps the ratio consistent with the capped numerator. A
    no-op below the cap (the sf-test corpora have ~20 sources), mirrored
    exactly in the oracle.

    r13 (guide §2.4): the per-shingle source set is gathered with ONE
    (shingle)-keyed ``collect_set`` aggregation and pairs explode
    in-task over the sorted set (the copurchase_pairs construction in
    queries_warehouse.py). The previous form — distinct (source, shingle) rows,
    a df-count aggregate joined back as the cap filter, then a
    shingle-keyed SELF-JOIN — shuffled the fat shingle strings four
    times (distinct, df aggregate, both join sides); this shuffles them
    once, the distinct folds into the set-union semantics of
    ``collect_set``, the cap filter is ``size(ss) <= cap`` on the
    aggregate itself, and the per-source totals explode from the same
    persisted set table. In-task fan-out is C(|ss|, 2) <= C(cap, 2),
    exactly the old per-shingle join bound.
    """
    # spread the one-input-split table across cores (r13, the _docs
    # rule): tokenize + shingle explode is the CPU cost and otherwise
    # runs entirely on the scan's single task before the aggregate's
    # exchange spreads anything
    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )

    # persist barrier: the capped per-shingle source-set table feeds the
    # pair explode AND the totals explode — uncached each consumer
    # replays tokenize+explode+aggregate
    begin_scope("source_overlap", spark)
    # df semantics pinned to the oracle: its cap counts DISTINCT
    # (source, shingle) rows, which includes a NULL source once.
    # collect_set drops NULLs, so count it back explicitly — a NULL
    # source can never pair (NULL < x is NULL) or match the totals
    # joins, but it must still push a shingle over the cap exactly as
    # the oracle's count(*) does. No-op on NULL-free corpora.
    srcs = scoped_persist(
        docs.select(
            "source", F.explode(word_shingles_expr(F.col("text"), 3)).alias("sh")
        )
        .groupBy("sh")
        .agg(
            F.sort_array(F.collect_set("source")).alias("ss"),
            F.max(
                F.when(F.col("source").isNull(), F.lit(1)).otherwise(F.lit(0))
            ).alias("null_src"),
        )
        .filter(F.size("ss") + F.col("null_src") <= source_df_cap)
        .select("sh", "ss"),
        "source_overlap",
    )
    pairs = (
        srcs.select(
            F.explode(
                F.expr(
                    "flatten(transform(ss, (x, i) -> "
                    "transform(slice(ss, i + 2, size(ss)), "
                    "y -> struct(x AS sa, y AS sb))))"
                )
            ).alias("pr")
        )
        .groupBy(
            F.col("pr.sa").alias("source_a"),
            F.col("pr.sb").alias("source_b"),
        )
        # source sets are sets, so each co-occurring pair appears once
        # per shared shingle: count(*) IS the number of distinct shared
        # shingles
        .agg(F.count("*").alias("n_shared"))
    )
    totals = (
        srcs.select(F.explode("ss").alias("source"))
        .groupBy("source")
        .agg(F.count("*").alias("n_sh"))
    )
    ta = totals.select(F.col("source").alias("source_a"), F.col("n_sh").alias("na"))
    tb = totals.select(F.col("source").alias("source_b"), F.col("n_sh").alias("nb"))
    jac = F.round(
        F.col("n_shared") / (F.col("na") + F.col("nb") - F.col("n_shared")), 6
    )
    return (
        pairs.join(F.broadcast(ta), "source_a")
        .join(F.broadcast(tb), "source_b")
        .select("source_a", "source_b", "n_shared", jac.alias("jaccard"))
    )


def _sql_source_overlap(source_df_cap: int = _OVERLAP_SOURCE_DF_CAP) -> str:
    """Oracle twin of q_source_overlap, generated from the SAME cap
    parameter so a caller-supplied cap can never silently diverge from
    the comparison SQL (the _sql_split_leakage pattern)."""
    return f"""
WITH tok AS (
  SELECT source, {DUCK_TOKS_SQL} AS toks FROM documents
),
sh_all AS (
  SELECT DISTINCT source, unnest({_DUCK_3GRAMS}) AS sh FROM tok
),
sh AS (
  SELECT source, sh FROM sh_all
  WHERE sh IN (SELECT sh FROM sh_all GROUP BY sh
               HAVING count(*) <= {source_df_cap})
),
pairs AS (
  SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_shared
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.source < b.source
  GROUP BY 1, 2
),
totals AS (
  SELECT source, count(*) AS n_sh FROM sh GROUP BY 1
)
SELECT p.source_a, p.source_b, p.n_shared,
       round(p.n_shared / (ta.n_sh + tb.n_sh - p.n_shared), 6) AS jaccard
FROM pairs p
JOIN totals ta ON ta.source = p.source_a
JOIN totals tb ON tb.source = p.source_b
"""


SQL_SOURCE_OVERLAP = _sql_source_overlap()


# --------------------------------------------------------------------------
# bpe_merges — three unrolled rounds of greedy BPE merge training
# --------------------------------------------------------------------------

def _bpe_top_pair(cur: DataFrame) -> DataFrame:
    """Most frequent adjacent token pair of the current corpus state:
    overlapping zip counts (standard BPE statistics), tie-break on
    (w1, w2) ascending. One pair-keyed map-side-combinable shuffle plus
    a TakeOrdered — the same shape as bpe_pair_counts, once per round."""
    pairs = cur.select(
        F.explode(
            F.arrays_zip(
                F.slice("tk", 1, F.greatest(F.size("tk") - 1, F.lit(0))),
                F.slice("tk", 2, F.greatest(F.size("tk") - 1, F.lit(0))),
            )
        ).alias("p")
    ).select(F.col("p")["0"].alias("w1"), F.col("p")["1"].alias("w2"))
    return (
        pairs.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "w1", "w2")
        .limit(1)
    )


def _bpe_apply(cur: DataFrame, top: DataFrame, carry: tuple = ()) -> DataFrame:
    """Merge every non-overlapping left-to-right occurrence of the top
    pair: tokens are re-joined with DOUBLE spaces (so adjacent pattern
    occurrences never share a delimiter character and literal replace-all
    is exactly the greedy merge), replaced, re-split. A map-side
    projection — the 1-row top pair broadcasts. ``carry`` columns
    (e.g. doc_id for the encode path) pass through untouched.

    A corpus state with no adjacent pair at all (every doc has <= 1
    token) makes ``top`` EMPTY; a plain crossJoin would then silently
    drop every row. Instead the pair attaches via a broadcast left join
    on a constant key and an absent pair coalesces to a chr(1) sentinel
    in BOTH engines (see ``_BPE_DUCK_APPLY``), so the round degrades to
    the same (no-op) merge on each side by construction."""
    s = F.concat(F.lit("  "), F.concat_ws("  ", F.col("tk")), F.lit("  "))
    w1 = F.coalesce(F.col("w1"), F.lit("\x01"))
    w2 = F.coalesce(F.col("w2"), F.lit("\x01"))
    pat = F.concat(F.lit(" "), w1, F.lit("  "), w2, F.lit(" "))
    rep = F.concat(F.lit(" "), w1, F.lit("_"), w2, F.lit(" "))
    merged = F.replace(s, pat, rep)
    return (
        cur.withColumn("_k", F.lit(1))
        .join(
            F.broadcast(top.select("w1", "w2").withColumn("_k", F.lit(1))),
            on="_k",
            how="left",
        )
        .select(*carry, F.filter(F.split(merged, " +"), lambda t: t != "").alias("tk"))
    )


def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X8b — the BPE TRAINING LOOP itself, not just one round's
    candidates: three unrolled greedy merge iterations (count adjacent
    pairs -> take the most frequent -> merge all its non-overlapping
    occurrences corpus-wide -> recount), emitting the learned merge
    table (round, pair, merged token, count at selection time).

    Iterative like pagerank_copurchase: each round is one pair-keyed
    map-side-combinable shuffle plus a global top-1 whose single row
    broadcasts into a map-side re-tokenization — no corpus self-join,
    no window over the corpus. Counting uses overlapping-zip statistics
    and merging is non-overlapping left-to-right, both mirrored exactly
    in the DuckDB oracle (the double-space join guarantees literal
    replace-all == greedy fold in BOTH engines). Each round's corpus
    state persists (pagerank's pattern) so round k's statistics read the
    materialized round k-1 instead of replaying the whole merge chain
    from parquet — the batch analogue of checkpointing tokenizer state
    between merge rounds; at 100 TB the persist becomes a stored table.
    Persist lifecycle: scoped_persist — a repeat invocation releases the
    previous call's cached rounds (see cache.py).
    """

    begin_scope("bpe_merges", spark)
    docs = load_table(spark, sf_dir, "documents")
    cur = scoped_persist(
        docs.select(tokens_expr(F.col("text")).alias("tk")), "bpe_merges"
    )
    out = None
    for r in (1, 2, 3):
        top = _bpe_top_pair(cur)
        row = top.select(
            F.lit(r).alias("merge_round"), "w1", "w2",
            F.concat(F.col("w1"), F.lit("_"), F.col("w2")).alias("merged"),
            "n",
        )
        out = row if out is None else out.unionByName(row)
        if r < 3:
            cur = scoped_persist(_bpe_apply(cur, top), "bpe_merges")
    return out


_BPE_DUCK_ROUND = """
p{r} AS (
  SELECT unnest(list_transform(range(1, greatest(len(tk), 1)),
                i -> [tk[i], tk[i + 1]])) AS pr
  FROM t{r}
),
top{r} AS (
  SELECT pr[1] AS w1, pr[2] AS w2, count(*) AS n
  FROM p{r} GROUP BY 1, 2
  ORDER BY n DESC, w1, w2 LIMIT 1
)"""

_BPE_DUCK_APPLY = """
t{nxt} AS (
  SELECT {carry}list_filter(string_split_regex(
           replace('  ' || coalesce(array_to_string(tk, '  '), '') || '  ',
                   coalesce((SELECT ' ' || w1 || '  ' || w2 || ' ' FROM top{r}),
                            ' ' || chr(1) || '  ' || chr(1) || ' '),
                   coalesce((SELECT ' ' || w1 || '_' || w2 || ' ' FROM top{r}),
                            ' ' || chr(1) || '_' || chr(1) || ' ')),
           ' +'), x -> x <> '') AS tk
  FROM t{r}
)"""

SQL_BPE_MERGES = (
    f"WITH t0 AS (SELECT {DUCK_TOKS_SQL} AS tk FROM documents),"
    + _BPE_DUCK_ROUND.format(r=0) + ","
    + _BPE_DUCK_APPLY.format(r=0, nxt=1, carry="") + ","
    + _BPE_DUCK_ROUND.format(r=1) + ","
    + _BPE_DUCK_APPLY.format(r=1, nxt=2, carry="") + ","
    + _BPE_DUCK_ROUND.format(r=2)
    + """
SELECT 1 AS merge_round, w1, w2, w1 || '_' || w2 AS merged, CAST(n AS BIGINT) AS n FROM top0
UNION ALL
SELECT 2 AS merge_round, w1, w2, w1 || '_' || w2 AS merged, CAST(n AS BIGINT) AS n FROM top1
UNION ALL
SELECT 3 AS merge_round, w1, w2, w1 || '_' || w2 AS merged, CAST(n AS BIGINT) AS n FROM top2
"""
)


# --------------------------------------------------------------------------
# bpe_encode — apply the learned merge table back to the corpus
# --------------------------------------------------------------------------

def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X8c — ENCODE with the tokenizer ``bpe_merges`` trains: re-derive
    the same three greedy merges (identical statistics, so the learned
    table is by construction the one training emits), apply all three to
    every document, and report the per-document encoding outcome:
    (doc_id, n_raw, n_bpe, n_merged, compression) — the token-budget
    accounting a pipeline runs to size a training corpus after switching
    tokenizers.

    Scale shape: identical to the training loop — each round is one
    pair-keyed map-side-combinable shuffle plus a broadcast 1-row merge
    applied as a map-side projection with doc_id carried through; the
    final stats are a per-row projection of the encoded state. The
    corpus is shuffled only on pair keys, never on content or doc id.
    Per-round persists bound recomputation exactly as in the training
    loop (see ``q_bpe_merges``); scoped_persist releases the previous
    invocation's rounds (cache.py).
    """

    begin_scope("bpe_encode", spark)
    docs = load_table(spark, sf_dir, "documents")
    cur = scoped_persist(
        docs.select(
            "doc_id",
            tokens_expr(F.col("text")).alias("tk"),
        ).withColumn("n_raw", F.size("tk").cast("long")),
        "bpe_encode",
    )
    for r in (1, 2, 3):
        top = _bpe_top_pair(cur)
        cur = scoped_persist(
            _bpe_apply(cur, top, carry=("doc_id", "n_raw")), "bpe_encode"
        )
    n_bpe = F.size("tk").cast("long")
    return cur.select(
        "doc_id",
        "n_raw",
        n_bpe.alias("n_bpe"),
        (F.col("n_raw") - n_bpe).alias("n_merged"),
        F.when(F.col("n_raw") > 0, F.round(n_bpe / F.col("n_raw"), 4))
        .otherwise(F.lit(1.0))
        .alias("compression"),
    )


SQL_BPE_ENCODE = (
    # n_raw is CARRIED through the rounds like the Spark side carries
    # ("doc_id", "n_raw"): the old final `t0 JOIN t3 USING (doc_id)`
    # silently dropped NULL-doc_id documents (joins drop NULL keys in
    # both engines) while Spark kept them — encode is per-row on text,
    # identity is just carried along
    # lateral column alias (len(tk), not len(<tokenizer>) again): the
    # tokenizer is the dominant cost of the CTE, evaluate it once
    f"WITH t0 AS (SELECT doc_id, {DUCK_TOKS_SQL} AS tk,"
    f" CAST(len(tk) AS BIGINT) AS n_raw FROM documents),"
    + _BPE_DUCK_ROUND.format(r=0) + ","
    + _BPE_DUCK_APPLY.format(r=0, nxt=1, carry="doc_id, n_raw, ") + ","
    + _BPE_DUCK_ROUND.format(r=1) + ","
    + _BPE_DUCK_APPLY.format(r=1, nxt=2, carry="doc_id, n_raw, ") + ","
    + _BPE_DUCK_ROUND.format(r=2) + ","
    + _BPE_DUCK_APPLY.format(r=2, nxt=3, carry="doc_id, n_raw, ")
    + """
SELECT doc_id,
       n_raw,
       CAST(len(tk) AS BIGINT) AS n_bpe,
       CAST(n_raw - len(tk) AS BIGINT) AS n_merged,
       CASE WHEN n_raw > 0
            THEN round(CAST(len(tk) AS DOUBLE) / n_raw, 4)
            ELSE 1.0 END AS compression
FROM t3
"""
)


# --------------------------------------------------------------------------
# training_mix — end-to-end training-set assembly decision table
# --------------------------------------------------------------------------

def q_training_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X31 — the composed pipeline a training run actually executes, as
    one decision table: Gopher-style quality gate (word-count bounds,
    mean-word-length bounds, stopword minimum — exact rules of
    ``gopher_quality_flags``) -> exact dedup among quality survivors
    (canonical = min doc_id per identical text, ``dedup_exact``
    semantics) -> domain-mixture upsample factor over the surviving
    corpus (balance-to-largest, ``mix_sampling_weights`` semantics).
    One row per document: why it was kept/dropped and, if kept, how
    often it repeats per epoch.

    Scale shape: one corpus scan computes all per-doc features; the
    dedup census is one text-keyed grouped aggregation over quality
    survivors (at 100 TB key on md5(text) — same census, 16-byte
    shuffle keys); the per-source totals and the global max ride back
    as broadcast one-row/|sources|-row frames. No windows, no pair
    joins, no Python.
    """
    docs = spread_small_scan(load_table(spark, sf_dir, "documents"), "doc_id")
    n_words, mean_wl, n_stop = gopher_feature_exprs()
    feat = docs.select(
        "doc_id", "source", "text",
        n_words.cast("long").alias("n_tokens"),
        gopher_keep_expr(n_words, mean_wl, n_stop).alias("quality_keep"),
    )
    # r13 (guide §2.2): the dedup census is ONE text-partitioned window
    # — min(doc_id) over quality rows of the same text — instead of a
    # survivors groupBy(text) plus a full-corpus text-keyed join back
    # (which shuffled the text column three times: the aggregate, and
    # both SortMergeJoin sides). min(when(quality, id)) skips non-quality
    # rows exactly like the old filtered aggregate. NULL-text docs form
    # one window partition where the join matched nothing, but their
    # quality_keep is definitively False (gopher features coalesce NULL
    # text to empty), so dedup_keep is False either way.
    canon_id = F.min(
        F.when(F.col("quality_keep"), F.col("doc_id"))
    ).over(Window.partitionBy("text"))
    # coalesce(.., False), matching the oracle's final coalesce: a
    # NULL-id duplicate compares NULL to its canon and must come out
    # False (not NULL) in both engines — an id-less row is never the
    # canonical copy (min(doc_id) skips NULLs identically in both)
    with_canon = feat.select(
        "doc_id", "source", "n_tokens", "quality_keep",
        F.coalesce(
            F.col("quality_keep") & (F.col("doc_id") == canon_id),
            F.lit(False),
        ).alias("dedup_keep"),
    )
    kept = with_canon.withColumn(
        "final_keep", F.col("quality_keep") & F.col("dedup_keep")
    )
    per_src = (
        kept.filter(F.col("final_keep"))
        .groupBy("source")
        .agg(F.sum("n_tokens").alias("src_tokens"))
    )
    mx = per_src.agg(F.max("src_tokens").alias("mx"))
    return (
        kept.join(F.broadcast(per_src), "source", "left")
        .crossJoin(F.broadcast(mx))
        .select(
            "doc_id", "source", "n_tokens", "quality_keep", "dedup_keep",
            "final_keep",
            F.when(
                F.col("final_keep"),
                F.round(F.col("mx") / F.col("src_tokens"), 6),
            ).otherwise(F.lit(0.0)).alias("upsample_factor"),
        )
    )


SQL_TRAINING_MIX = f"""
WITH feat AS (
  SELECT doc_id, source, text,
         CAST(len(tk) AS BIGINT) AS n_tokens,
         (len(tk) >= {GOPHER_WORDS_LO} AND len(tk) <= {GOPHER_WORDS_HI}
          AND round(CAST(coalesce(list_sum(list_transform(tk, w -> length(w))), 0)
                         AS DOUBLE) / greatest(len(tk), 1), 6)
              BETWEEN {GOPHER_MWL_LO} AND {GOPHER_MWL_HI}
          AND len(list_filter(tk, w -> list_contains(
                {_DUCK_STOPLIST}, w))) >= {GOPHER_STOP_MIN}) AS quality_keep
  FROM (SELECT doc_id, source, text, coalesce({DUCK_TOKS_SQL}, []) AS tk
        FROM documents)
),
canon AS (
  SELECT text, min(doc_id) AS canon_id FROM feat WHERE quality_keep GROUP BY text
),
kept AS (
  SELECT f.doc_id, f.source, f.n_tokens, f.quality_keep,
         (f.quality_keep AND f.doc_id = c.canon_id) AS dedup_keep,
         (f.quality_keep AND f.doc_id = c.canon_id) AS final_keep
  FROM feat f LEFT JOIN canon c USING (text)
),
per_src AS (
  SELECT source, sum(n_tokens) AS src_tokens FROM kept WHERE final_keep GROUP BY source
)
SELECT k.doc_id, k.source, k.n_tokens,
       k.quality_keep,
       coalesce(k.dedup_keep, FALSE) AS dedup_keep,
       coalesce(k.final_keep, FALSE) AS final_keep,
       CASE WHEN coalesce(k.final_keep, FALSE)
            THEN round((SELECT max(src_tokens) FROM per_src) / CAST(p.src_tokens AS DOUBLE), 6)
            ELSE 0.0 END AS upsample_factor
FROM kept k LEFT JOIN per_src p USING (source)
"""


# --------------------------------------------------------------------------
# split_leakage — near-dup pairs straddling the train/holdout split
# --------------------------------------------------------------------------

def q_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X34 — eval-contamination audit: which NEAR-DUPLICATE pairs straddle
    the deterministic train/holdout split? A random document-level split
    puts ~2·p·(1-p) of every near-dup cluster's pairs across the boundary
    — each one a copy of training data inside the eval set — and this is
    the check every pipeline runs before trusting a held-out metric.

    Pure composition of two oracle-checked pieces: the md5 MinHash-LSH
    pipeline (``dedup_minhash_md5``, the cross-engine candidate
    generator) supplies the pairs, and the md5 hash split
    (``hash_split``, 0.9 train) classifies each endpoint as a MAP-SIDE
    EXPRESSION over the pair table — no join, no extra shuffle; the
    audit costs exactly the dedup pass it rides on. ``leaks`` marks the
    straddling pairs.
    """
    from amazon_macie_activity_generator_spark.operators.dedup import (
        dedup_minhash_md5_pairs,
    )
    from amazon_macie_activity_generator_spark.operators.sampling import hash_split

    pairs = dedup_minhash_md5_pairs(_docs_aug(spark, sf_dir))
    # the ONE split definition (operators/sampling.py), applied per
    # endpoint — salt/threshold/labels can never drift from the
    # hash_split catalog entry this audit composes with
    tagged = hash_split(
        hash_split(pairs, "id_a", train_fraction=0.9, out_col="split_a"),
        "id_b", train_fraction=0.9, out_col="split_b",
    )
    return tagged.select(
        "id_a", "id_b", "jaccard", "split_a", "split_b",
        (F.col("split_a") != F.col("split_b")).alias("leaks"),
    )


def _sql_split_leakage() -> str:
    """Oracle: the dedup_minhash_md5 pipeline verbatim as a CTE (nested
    WITH — one definition, imported not re-derived) + the hash_split
    CASE applied to both pair endpoints."""

    thr = split_threshold_hex(0.9)
    case = (
        "CASE WHEN substr(md5('split:' || CAST({c} AS VARCHAR)), 1, 6) < '"
        + thr
        + "' THEN 'train' ELSE 'holdout' END"
    )
    sa, sb = case.format(c="id_a"), case.format(c="id_b")
    return f"""
WITH pairs AS ({SQL_DEDUP_MINHASH_MD5})
SELECT id_a, id_b, jaccard,
       {sa} AS split_a,
       {sb} AS split_b,
       ({sa}) <> ({sb}) AS leaks
FROM pairs
"""


SQL_SPLIT_LEAKAGE = _sql_split_leakage()


def q_doc_id_dedup_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time PRIMARY-KEY validation gate (round 7), the documents
    twin of ``embedding_finite_gate`` / ``events_time_gate``: a 100 TB
    crawl re-ingests pages, so duplicate ``doc_id`` rows are routine —
    identical re-crawls AND conflicting re-crawls after an edit. A
    duplicate-key probe showed 8 catalog entries silently diverging
    cross-engine on such input (pick-one windows, pair predicates, and
    per-id joins all assume key uniqueness). Quarantine first: classify
    every doc_id as ``unique`` / ``dup_identical`` (same text repeated) /
    ``dup_conflict`` (different texts share the id), and name the
    deterministic winner — the row whose content hash (md5 of text, NULL
    text ≡ '' per the NULL contract) is lexicographically smallest.
    Downstream documents operators are specified over gated (one row per
    doc_id) corpora; tests/test_degenerate_corpus.py pins that every
    documents-family entry agrees cross-engine once the gate has run.

    One hash aggregation on doc_id (map-side partial agg) — scan-bound at
    100 TB, no joins, no windows."""
    docs = load_table(spark, sf_dir, "documents")
    h = F.md5(F.coalesce(F.col("text"), F.lit("")))
    agg = docs.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct(h).alias("n_variants"),
        F.min(h).alias("kept_md5"),
    )
    status = (
        F.when(F.col("n_rows") == 1, F.lit("unique"))
        .when(F.col("n_variants") == 1, F.lit("dup_identical"))
        .otherwise(F.lit("dup_conflict"))
    )
    return agg.select("doc_id", "n_rows", "n_variants", status.alias("status"), "kept_md5")


SQL_DOC_ID_DEDUP_GATE = """
WITH agg AS (
  SELECT doc_id,
         count(*) AS n_rows,
         count(DISTINCT md5(coalesce(text, ''))) AS n_variants,
         min(md5(coalesce(text, ''))) AS kept_md5
  FROM documents GROUP BY doc_id
)
SELECT doc_id, n_rows, n_variants,
       CASE WHEN n_rows = 1 THEN 'unique'
            WHEN n_variants = 1 THEN 'dup_identical'
            ELSE 'dup_conflict' END AS status,
       kept_md5
FROM agg
"""
