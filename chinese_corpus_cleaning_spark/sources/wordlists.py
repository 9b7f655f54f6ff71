"""Word-list loading and broadcast plumbing.

The reference loads its 43,378-word merged list once at startup and builds a
DFA trie (/root/reference/text_quality_filter/main.py:44-49,
utils/feature_words.py:131-142). Here the driver ships the *word list* to
executors via ``SparkContext.broadcast`` and each executor python process
builds the trie from it (SURVEY.md §4 item 3). Two caches make that a
once-per-process cost:

* ``broadcast_trie(spark)`` returns ONE broadcast of the full list per live
  SparkContext, shared by every pipeline run, API call and query on it.
* A PySpark worker drops every broadcast that its current task does not
  reference (pyspark/worker_util.py ``setup_broadcasts``), so a worker
  that alternates extraction and quality tasks unpickles the list again on
  each quality task. The built trie survives that: :class:`TrieBox` looks
  its words' content digest up in a per-process cache
  (``_TRIE_CACHE_SIZE`` word lists) before it builds.

The full vendored lists live at data/wordlists/ (public data files from the
reference repo, vendored verbatim as the survey's build plan prescribes).
``SMALL_LEXICON`` is a tiny readable list for unit tests and demo queries.
"""

from __future__ import annotations

import hashlib
import os
import threading
import weakref
from functools import lru_cache

from ..functions.dfa import build_trie

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
WORDLIST_DIR = os.path.join(_REPO_ROOT, "data", "wordlists")
ALL_SENSITIVE_WORDS = os.path.join(WORDLIST_DIR, "all_sensitive_words.txt")
AD_WORDS = os.path.join(WORDLIST_DIR, "ad_words.txt")

# small, readable lexicon for tests/demos — mirrors the categories of the full
# list (ad words, sensitive words, contact-bait), plus the shortest-match
# boundary case "1989年" from /root/reference/filter.py:162-165
SMALL_LEXICON = (
    "赌博", "色情", "暴力", "特价", "促销", "优惠", "免费咨询",
    "加微信", "点击链接", "联系电话", "1989年", "自拍偷拍", "一夜情",
)


def load_words(path: str) -> list[str]:
    """One word per line, stripped, empties dropped
    (feature_words.py:131-142 contract)."""
    words: list[str] = []
    with open(path, encoding="utf-8") as f:
        for line in f:
            w = line.strip()
            if w:
                words.append(w)
    return words


# word lists whose built trie one python process keeps (a worker sees the
# full list plus, in tests and demo queries, a small one)
_TRIE_CACHE_SIZE = 4
_tries: dict[str, dict] = {}
_lock = threading.Lock()  # guards _tries and _full_broadcasts


def _trie_for(digest: str, words: tuple) -> dict:
    """The trie of ``words`` (content digest ``digest``), built at most once
    per process while it stays among the last ``_TRIE_CACHE_SIZE`` lists."""
    with _lock:
        trie = _tries.get(digest)
        if trie is None:
            trie = build_trie(words)
            if len(_tries) >= _TRIE_CACHE_SIZE:
                del _tries[next(iter(_tries))]  # oldest first
            _tries[digest] = trie
        return trie


class TrieBox:
    """Broadcast container that ships the *word list* and builds the trie
    lazily: once per python process and word list, however often the
    broadcast is evicted and unpickled again (an unpickle of the full list
    is ~7 ms, a build ~0.15 s).

    Why not broadcast the trie itself: the vendored list contains a 42,890-
    char line (a comma-joined mega-entry present in the reference's own data
    file, which the reference also loads as a single keyword) — pickling a
    nested-dict chain that deep exceeds the recursion limit. Shipping the
    flat word tuple pickles in O(n). The content digest is computed once,
    on the driver, and pickled with the words.
    """

    def __init__(self, words) -> None:
        self.words = tuple(words)
        self.digest = hashlib.sha256(repr(self.words).encode()).hexdigest()

    @property
    def trie(self) -> dict:
        return _trie_for(self.digest, self.words)

    def __getstate__(self):
        return self.words, self.digest

    def __setstate__(self, state):
        self.words, self.digest = state


@lru_cache(maxsize=1)
def _full_box() -> TrieBox:
    return TrieBox(load_words(ALL_SENSITIVE_WORDS))


def full_trie() -> dict:
    """Driver-side trie over the full vendored list (built once)."""
    return _full_box().trie


# SparkContext -> its broadcast of the full list; keyed on the context
# object itself (a new context is a new object; an id() can be reused)
_full_broadcasts = weakref.WeakKeyDictionary()


def broadcast_trie(spark, words: list[str] | None = None):
    """Broadcast a lazily-built TrieBox; pandas UDFs close over the Broadcast
    handle and access ``.value.trie`` per batch.

    Without ``words``: the full vendored list, broadcast once per live
    SparkContext and shared by every caller (do not destroy it). With
    ``words``: a fresh broadcast that the caller owns."""
    sc = spark.sparkContext
    if words is not None:
        return sc.broadcast(TrieBox(words))
    with _lock:
        bc = _full_broadcasts.get(sc)
        if bc is None:
            bc = _full_broadcasts[sc] = sc.broadcast(_full_box())
        return bc


def merge_wordlist_dfs(dfs: list):
    """Core of the word-list merge (A3/K7: merge_all_sensitive_words.py:33-71
    — union -> strip -> dedup -> sort) over DataFrames each carrying a
    ``value`` string column. Factored out of the file-reading wrapper so the
    driver gate can exercise the operator on table-derived lists."""
    from pyspark.sql import functions as F

    out = dfs[0]
    for d in dfs[1:]:
        out = out.union(d)
    return (
        out.select(F.trim("value").alias("word"))
        .where(F.col("word") != "")
        .distinct()
        .orderBy("word")
    )


def merge_wordlists(spark, paths: list[str]):
    """Word-list merge over files, one word per line (the reference's CLI
    build step for all_sensitive_words.txt)."""
    return merge_wordlist_dfs([spark.read.text(p) for p in paths])
