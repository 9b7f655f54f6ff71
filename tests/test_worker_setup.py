"""Python-worker set-up is paid once per worker process, not per task or per
pass: one trie broadcast per SparkContext and word list, one trie build
per process and word list, a worker-built trie frozen out of the per-task
garbage collection, and no whole-archive zip re-read on every task."""

from __future__ import annotations

import gc
import pickle

from chinese_corpus_cleaning_spark.sources import gen, wordlists
from chinese_corpus_cleaning_spark.sources.wordlists import (
    SMALL_LEXICON,
    TrieBox,
    broadcast_trie,
)


def test_unpickled_trieboxes_share_one_built_trie():
    """A worker unpickles the broadcast again after every eviction; the
    built trie must come from the process cache, not a rebuild."""
    blob = pickle.dumps(TrieBox(SMALL_LEXICON))
    a, b = pickle.loads(blob), pickle.loads(blob)
    assert a is not b
    assert a.trie is b.trie
    other = pickle.loads(pickle.dumps(TrieBox(SMALL_LEXICON[:-1])))
    assert other.digest != a.digest
    assert other.trie is not a.trie


def test_full_list_broadcast_is_one_per_context(spark):
    bc = broadcast_trie(spark)
    assert broadcast_trie(spark) is bc
    own = broadcast_trie(spark, list(SMALL_LEXICON))
    assert own is not bc and own.value.words == SMALL_LEXICON


def test_pipeline_runs_share_the_trie_broadcast(spark, tmp_path, monkeypatch):
    from pyspark import SparkContext

    from chinese_corpus_cleaning_spark.plans.pipeline import run

    calls = []
    real = SparkContext.broadcast

    def counting(self, value):
        calls.append(type(value).__name__)
        return real(self, value)

    monkeypatch.setattr(SparkContext, "broadcast", counting)
    docs = spark.createDataFrame(gen.docs_pandas(40))
    first = run(spark, docs, str(tmp_path / "a"), partitions=2)
    second = run(spark, docs, str(tmp_path / "b"), partitions=2)
    assert first == second and first["total"] == 40
    assert len(calls) <= 1, calls


def test_catalog_lexicon_broadcast_is_one_per_context(
    spark, tmp_path, monkeypatch
):
    """Catalog queries over the fixed demo lexicon share one broadcast per
    SparkContext, however often and by however many queries they run."""
    from pyspark import SparkContext

    from chinese_corpus_cleaning_spark.plans import catalog

    sf = str(tmp_path)
    spark.createDataFrame(
        [(1, "a spark stream"), (2, "no lexicon word")],
        "doc_id long, text string",
    ).write.parquet(f"{sf}/documents.parquet")
    calls = []
    real = SparkContext.broadcast

    def counting(self, value):
        calls.append(type(value).__name__)
        return real(self, value)

    monkeypatch.setattr(SparkContext, "broadcast", counting)
    for _ in range(2):
        catalog.q_scrub_text(spark, sf)
        catalog.q_feature_eval(spark, sf)
    assert len(calls) <= 1, calls


def test_text_quality_filters_share_one_trie():
    """The single-document facade reuses the process's full-list trie
    instead of building the 43k-word trie per construction."""
    from chinese_corpus_cleaning_spark.api import TextQualityFilter

    assert TextQualityFilter()._trie is TextQualityFilter()._trie


def test_worker_trie_is_frozen_out_of_the_collector(spark):
    """A reused worker runs gc.collect() after every task; a trie a task
    touches must sit in the permanent generation, which it does not scan."""

    def probe(_):
        import gc

        from chinese_corpus_cleaning_spark.sources.wordlists import (
            SMALL_LEXICON,
            TrieBox,
        )

        assert TrieBox(SMALL_LEXICON).trie
        return gc.get_freeze_count()

    assert spark.sparkContext.parallelize([0], 1).map(probe).collect()[0] > 0


def test_driver_trie_build_freezes_nothing(monkeypatch):
    """The driver heap is never frozen: building the full-list trie
    outside a Spark task leaves the freeze count as it was."""
    monkeypatch.setattr(wordlists, "_tries", {})
    before = gc.get_freeze_count()
    assert wordlists.full_trie()
    assert gc.get_freeze_count() == before


def test_evicted_frozen_trie_is_freed(spark):
    """Freezing does not pin a trie: tries are acyclic dicts, so one
    evicted from the per-process cache is freed by refcounting and leaves
    the permanent generation."""

    def probe(_):
        import gc
        import uuid

        from chinese_corpus_cleaning_spark.sources import wordlists

        def box(n):  # words no earlier task has built
            return wordlists.TrieBox([uuid.uuid4().hex for _ in range(n)])

        assert box(2000).trie
        frozen = gc.get_freeze_count()
        for _ in range(wordlists._TRIE_CACHE_SIZE):  # evicts the big trie
            assert box(1).trie
        return frozen, gc.get_freeze_count()

    frozen, after = spark.sparkContext.parallelize([0], 1).map(probe).collect()[0]
    # 2000 random 32-char words hold ~62k GC-tracked inner dicts
    assert after < frozen - 50_000, (frozen, after)


def test_task_start_rereads_no_zip_directory(spark):
    """PySpark calls importlib.invalidate_caches() at the start of every
    task; once the package is imported in a worker, that must not re-read
    any zip archive, and a later import from pyspark.zip must still work."""

    def probe(_):
        import importlib
        import sys
        import zipimport

        import chinese_corpus_cleaning_spark  # noqa: F401

        reads = []
        real = zipimport._read_directory

        def counting(path):
            reads.append(path)
            return real(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
            on_invalidate = len(reads)
            name = next(
                n
                for n in ("pyspark.statcounter", "pyspark.install")
                if n not in sys.modules
            )
            origin = importlib.import_module(name).__spec__.origin
        finally:
            zipimport._read_directory = real
        return on_invalidate, origin

    on_invalidate, origin = (
        spark.sparkContext.parallelize([0], 1).map(probe).collect()[0]
    )
    assert ".zip" in origin, origin
    assert on_invalidate == 0


def test_zip_backport_stays_out_of_the_driver():
    """Importing the package outside a Spark task leaves zipimport as it
    is: the backport is installed only inside Python workers."""
    import os
    import subprocess
    import sys

    probe = (
        "import pyspark, zipimport, chinese_corpus_cleaning_spark; "
        "print(isinstance(zipimport.zipimporter.__dict__.get('_files'), "
        "property))"
    )
    out = subprocess.run(
        [sys.executable, "-c", probe], capture_output=True, text=True,
        timeout=120, check=True,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    ).stdout.split()
    assert out == ["False"]
