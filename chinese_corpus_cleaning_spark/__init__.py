"""chinese_corpus_cleaning_spark — a from-scratch PySpark-native rebuild of the
capabilities of lijiandao/Chinese-corpus-cleaning (quality filter + language ID +
PII/toxicity scrub + near-dup dedup over Common-Crawl-style web pages).

Architecture (Spark-first, NOT a port):
  functions/   pure-Python per-document decision semantics (shared by pandas UDFs
               and by tests); every function cites the reference file:line whose
               behaviour it reproduces.
  operators/   vectorized pandas/Arrow UDFs and DataFrame-level operators
               (quality eval, scrub, dedup joins, similarity search, n-gram LM).
  sources/     deterministic synthetic docs-table generator, table readers
               (Iceberg with Parquet dev fallback), word-list broadcast plumbing.
  plans/       end-to-end pipeline plans, per-partition lineage/metrics, resume.
  streaming/   Structured Streaming variant of the filter pipeline.
"""

__version__ = "0.1.0"

from .sources import shipping as _shipping

# inside a Spark Python worker, pay the per-task zip-directory re-read once
# per process instead (sources/shipping.py)
if _shipping.in_spark_worker():
    _shipping.lazy_zip_invalidation()
del _shipping
