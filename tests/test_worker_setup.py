"""Python-worker set-up is paid once per worker process, not per task or per
pass: one full-list trie broadcast per SparkContext, one trie build per
process and word list, and no whole-archive zip re-read on every task."""

from __future__ import annotations

import pickle

from chinese_corpus_cleaning_spark.sources import gen
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
