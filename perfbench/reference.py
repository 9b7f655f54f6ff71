"""Pure-Python reference labels, evaluated with the package's ``functions/``
kernels and no Spark. The benchmark's correctness checks compare what the
Spark plans committed against these.

The composite score and keep decision restate the documented contract of
``operators/quality.with_quality`` (weighted mean of the enabled component
scores over their weight mass, keep = score >= threshold, error docs get no
score and keep=false) in the same floating-point operation order, so equal
inputs give bit-equal doubles.
"""

from __future__ import annotations

from chinese_corpus_cleaning_spark.config import DEFAULT
from chinese_corpus_cleaning_spark.functions import langid
from chinese_corpus_cleaning_spark.functions.cleaning import (
    extract_html_text,
    remove_long_repeated_substrings_ex,
)
from chinese_corpus_cleaning_spark.functions.dfa import scan_positions
from chinese_corpus_cleaning_spark.functions.feature import evaluate_features
from chinese_corpus_cleaning_spark.functions.textstats import (
    check_flags,
    compute_stats,
    rule_score,
)
from chinese_corpus_cleaning_spark.sources.wordlists import full_trie


def quality_label(text: str) -> dict:
    """keep / quality_score / error of one document under the default config
    (rule + feature components enabled)."""
    cfg = DEFAULT
    trie = full_trie()
    try:
        st = compute_stats(text)
        rscore = rule_score(text, st, check_flags(st, cfg.rule), cfg.rule)
        _, positions = scan_positions(text, trie)
        fscore = evaluate_features(text, trie, cfg.feature, matches=positions).score
    except ZeroDivisionError:
        return {"keep": False, "quality_score": None, "error": "empty_text"}
    weighted = rscore * cfg.weight_rule + fscore * cfg.weight_feature
    score = weighted / (cfg.weight_rule + cfg.weight_feature)
    return {"keep": score >= cfg.quality_threshold, "quality_score": score, "error": None}


def extract(html: bytes) -> tuple[str | None, bool]:
    """(extracted text, is_zh) as the fused extraction UDF derives them."""
    text = extract_html_text(html)
    if text is not None:
        text, _ = remove_long_repeated_substrings_ex(text)
    if text is None:
        return None, False
    return text, langid.identify(text)[2]


def ingest_label(url: str, html: bytes) -> dict | None:
    """The label the ingest path must commit for one page, or None when the
    is_zh filter drops the page."""
    text, is_zh = extract(html)
    if not is_zh:
        return None
    return {"url": url, **quality_label(text)}
