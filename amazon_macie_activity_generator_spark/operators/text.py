"""X4 — text analysis for training-data pipelines: language-ID, quality
scoring, token counting, document fingerprinting.

All pure column expressions (codegen, pushdown-friendly); no models, no
Python. Heuristics are deliberately simple and deterministic so they
oracle-check cross-engine.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from amazon_macie_activity_generator_spark.operators.dedup import JAVA_WS, tokens_expr

# Tiny function-word lists per language (public-knowledge stopwords).
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "that", "it", "for"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "una", "los", "por"],
    "fr": ["le", "la", "de", "et", "un", "une", "les", "des", "que", "pour"],
    "de": ["der", "die", "das", "und", "ein", "eine", "zu", "von", "mit", "ist"],
    "zh": ["的", "是", "了", "在", "和", "有", "我", "不", "这", "人"],
}

# BPE-ish pre-tokenization: word pieces, digit runs, single punctuation —
# the GPT-2 style pretoken split expressed as one regex.
BPE_ISH_PATTERN = rf"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9{JAVA_WS}]"


def stopword_hits_tokens(toks: Column, lang: str) -> Column:
    """Count of tokens (with repeats) in `lang`'s stopword list, from an
    already-evaluated token array."""
    stop = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    return F.size(F.filter(toks, lambda t: F.array_contains(stop, t)))


def lang_id_expr(text: Column) -> Column:
    """Heuristic language-ID: argmax of stopword hit counts; ties and
    zero-evidence fall back to 'und'. Deterministic tie-break by the
    fixed language order below.

    The token array is bound once as a lambda argument — the naive form
    re-tokenizes the document once per language (see
    operators/dedup.word_shingles_expr on HOF re-evaluation)."""
    langs = sorted(STOPWORDS)  # de, en, es, fr, zh — fixed order

    def best_of(tk: Column) -> Column:
        scored = F.array(*[
            F.struct(stopword_hits_tokens(tk, lg).alias("hits"), F.lit(lg).alias("lang"))
            for lg in langs
        ])
        # array_max on struct: lexicographic (hits, lang) — ties pick the
        # lexicographically-largest lang; zero hits -> 'und'.
        best = F.array_max(scored)
        return F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und"))

    return F.element_at(F.transform(F.array(tokens_expr(text)), best_of), 1)


def token_count_ws(text: Column) -> Column:
    """Whitespace token count."""
    return F.size(tokens_expr(text))


def token_count_bpe(text: Column) -> Column:
    """BPE-ish pretoken count via regexp extraction."""
    return F.size(F.regexp_extract_all(F.lower(text), F.lit(BPE_ISH_PATTERN), 0))


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Quality-scoring features + composite score in [0, 1]:

    - n_chars, n_tokens (whitespace), n_bpe_tokens
    - mean_token_len
    - punct_ratio: punctuation chars / chars
    - stopword_ratio: english function-word tokens / tokens
    - quality_score: penalizes too-short docs, punctuation soup, and
      zero-stopword (non-prose) text — the C4/Gopher-style length &
      symbol heuristics as cheap expressions.
    """
    text = F.col(text_col)
    # one projection evaluates the token array; the feature projection
    # references it many times, which CollapseProject leaves alone for
    # non-cheap multi-use aliases — tokens compute once per row, not once
    # per feature
    with_toks = df.withColumn("__toks", tokens_expr(text))
    toks = F.col("__toks")
    n_chars = F.length(text)
    n_tokens = F.size(toks)
    punct = F.length(F.regexp_replace(text, rf"[a-zA-Z0-9{JAVA_WS}]", ""))
    mean_tok = F.when(n_tokens > 0, n_chars.cast("double") / n_tokens).otherwise(F.lit(0.0))
    stop_hits = stopword_hits_tokens(toks, "en")
    stop_ratio = F.when(n_tokens > 0, stop_hits.cast("double") / n_tokens).otherwise(F.lit(0.0))
    punct_ratio = F.when(n_chars > 0, punct.cast("double") / n_chars).otherwise(F.lit(0.0))

    length_ok = F.when((n_tokens >= 10) & (n_tokens <= 100000), F.lit(1.0)).otherwise(F.lit(0.3))
    punct_ok = F.when(punct_ratio <= 0.2, F.lit(1.0)).otherwise(F.lit(1.0) - punct_ratio)
    score = F.round(length_ok * punct_ok * (F.lit(0.5) + F.lit(0.5) * F.least(stop_ratio * 5, F.lit(1.0))), 4)

    return with_toks.withColumns({
        "n_chars_calc": n_chars.cast("long"),
        "n_tokens": n_tokens.cast("long"),
        "n_bpe_tokens": token_count_bpe(text).cast("long"),
        "mean_token_len": F.round(mean_tok, 4),
        "punct_ratio": F.round(punct_ratio, 4),
        "stopword_ratio": F.round(stop_ratio, 4),
        "quality_score": score,
    }).drop("__toks")


# PII surface: the same formats the engine's own fake providers emit
# (functions/fake.py F1-F11) — generation's defensive complement for
# training-data hygiene. Patterns restricted to syntax shared by Java
# regex (Spark) and RE2 (DuckDB) so detection oracle-checks.
# ONE pattern table for both engines — queries_text.py interpolates these
# same strings into the DuckDB oracle, so a tweak can never drift.
#
# The email quantifiers are BOUNDED (RFC 5321 caps: local part <= 64,
# domain <= 255, TLD <= 24): with the unbounded `+` the Java regex
# engine re-consumes the remaining run at every start position, which is
# O(n^2) on a long unbroken alphanumeric run — a single 200 KB
# base64-ish token (routine in a crawl) took 830 s per pass, found by
# the huge-doc sweep. Bounded, the scan is O(64 n) and the same doc
# redacts in under a second. DuckDB's RE2 is automaton-linear either
# way, and both engines accept identical strings under the caps (a
# >64-char local part matches only its 64-char suffix — in BOTH).
PII_PATTERNS = {
    "ssn": r"\d{3}-\d{2}-\d{4}",
    "email": r"[A-Za-z0-9._%+-]{1,64}@[A-Za-z0-9.-]{1,255}\.[A-Za-z]{2,24}",
    "phone": r"\(\d{3}\) \d{3}-\d{4}",
    "aws_key": r"(AKIA|ASIA)[A-Z]{16}",
    "slack_token": r"xox[apbo]-[0-9-]+",
}


def pii_counts(text: Column) -> Column:
    """struct<ssn:int, email:int, ...> — occurrences per PII class."""
    return F.struct(*[
        F.size(F.regexp_extract_all(text, F.lit(pat), 0)).alias(name)
        for name, pat in PII_PATTERNS.items()
    ])


def pii_redact(text: Column, token: str = "[REDACTED]") -> Column:
    """Mask every PII class with ``token`` (chained regexp_replace —
    one codegen'd projection, no Python)."""
    out = text
    for pat in PII_PATTERNS.values():
        out = F.regexp_replace(out, pat, token)
    return out


def fingerprint_md5(text: Column) -> Column:
    """Canonical-form document fingerprint: lowercase, strip non-alnum,
    collapse whitespace, md5. Stable across engines -> exact-dup key."""
    norm = F.regexp_replace(F.lower(text), r"[^a-z0-9]+", " ")
    norm = F.trim(norm)
    return F.md5(norm)


def fingerprint_rolling(text: Column, window: int = 8, mod: int = 1 << 31) -> Column:
    """Polynomial rolling-hash fingerprint (Rabin-Karp flavor): fold the
    token stream into a single 31-bit value. Engine-local (rows-only
    checks) — md5 variant is the cross-engine one."""
    toks = tokens_expr(text)
    return F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, t: F.pmod(acc * 131 + F.pmod(F.xxhash64(t), F.lit(mod)), F.lit(mod)),
    )


def chunk_docs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 50,
    overlap: int = 10,
) -> DataFrame:
    """Split documents into fixed-size token windows with overlap — the
    context-window preparation step of a training pipeline. Chunk i covers
    tokens [i*stride, i*stride + chunk_tokens), stride = chunk - overlap.

    One projection builds the token array, one explode fans out chunk
    starts; no shuffle at all — at 100 TB this is a map-only rewrite whose
    output feeds straight into dedup/tokenize stages. Returns
    (id, chunk_idx, n_tok, chunk_text)."""
    from amazon_macie_activity_generator_spark.operators.dedup import JAVA_WS, tokens_expr

    stride = chunk_tokens - overlap
    base = df.select(F.col(id_col).alias("id"), tokens_expr(F.col(text_col)).alias("toks"))
    starts = F.sequence(
        F.lit(0), F.greatest(F.size("toks") - 1, F.lit(0)), F.lit(stride)
    )
    exploded = base.select("id", "toks", F.explode(starts).alias("s"))
    chunk = F.slice("toks", F.col("s") + 1, chunk_tokens)
    return exploded.select(
        "id",
        (F.col("s") / stride).cast("long").alias("chunk_idx"),
        F.size(chunk).alias("n_tok"),
        F.concat_ws(" ", chunk).alias("chunk_text"),
    )
