"""amazon_macie_activity_generator_spark — a PySpark-native rebuild of the
capabilities of ``amazon-archives/amazon-macie-activity-generator``.

The reference (read-only at /root/reference/) is a serverless time-series
generator / replay / anomaly-injection platform: JSON blueprint -> synthetic
series (constant / square / sinusoidal / random / custom-formula / real
replay) -> scale -> noise -> anomalies -> align -> per-minute replay ->
side-effecting sinks (S3 / CloudWatch / Lambda).

This package re-expresses every stage Spark-first:

- a *timeseries fact table* ``(run_id, series_id, shape, t, ts, value)``
  built declaratively from ``spark.range`` + column expressions
  (whole-stage codegen; no Python in the hot path),
- scaling / noise / anomalies as DataFrame transforms with deterministic
  hash-derived randomness (partition-stable, reproducible at any scale),
- replay as Structured Streaming / batched slot dispatch,
- sinks as local writers (parquet / JSON-lines tables, one file per
  object),
- plus large-scale training-data-pipeline extensions: dedup (exact,
  MinHash-LSH, SimHash, n-gram Jaccard, embedding cosine), similarity
  search (brute-force + LSH-bucketed ANN), multimodal binary columns, and
  text analysis (lang-id, quality, tokens, fingerprints).

Nothing here copies reference code; citations like ``main.py:340-357`` in
docstrings point into ``/root/reference`` for behavior parity only.
"""

__version__ = "0.1.0"

from amazon_macie_activity_generator_spark.session import get_spark  # noqa: F401
