"""Spam-pattern perplexity adjustments (the model-independent part of the
reference's GPT-2 perplexity contract).

Reference semantics reproduced
(/root/reference/text_quality_filter/utils/lmppl_perplexity.py):
  _has_spam_patterns  :156-178 — 12 regexes over the raw text;
  calculate_perplexity :83-85  — when spam patterns match, the perplexity is
      inflated to ``max(ppl * 1.5, threshold * 1.2)`` (always above the
      threshold, so spam never passes on a low model score);
  check_perplexity    :204-206 — belt-and-braces hard fail: even if the
      (adjusted) perplexity were within threshold, spam patterns force
      is_good = False.

The pattern list is reference configuration data (like the vendored word
lists) — kept identical for parity. Everything here is expressible as native
Spark Columns (regexp_like + arithmetic, no UDF) and as DuckDB SQL, so the
driver gate can verify the arithmetic end-to-end; the Python twins exist for
the differential test against the executed reference method.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

# lmppl_perplexity.py:160-173 — verbatim reference configuration
SPAM_PATTERNS: tuple[str, ...] = (
    r"\d+\s*区\s*\d+",
    r"在线\s*播放",
    r"视频\s*一区\s*二区",
    r"久久+久+",
    r"不卡\s*一区\s*二区",
    r"精品\s*视频\s*在线",
    r"日本\s*韩国\s*欧美",
    r"激情\s*小说",
    r"成人\s*视频",
    r"在线\s*观看",
    r"一本\s*道",
    r"中文\s*字幕",
)

_COMPILED = [re.compile(p) for p in SPAM_PATTERNS]

# Portable (Java regex + RE2) rewrites of the two shorthand classes so the
# relational path matches Python `re` semantics on CJK text:
#   Python \d == Unicode category Nd (includes full-width １２３, U+FF10-19)
#     -> \p{Nd}, which Java regex and RE2 both treat as the Unicode category;
#   Python \s (str) == the exact codepoint set below (includes U+3000
#     ideographic space, NBSP, the U+2000 block) — Java/RE2 \s is ASCII-only
#     -> explicit class in \x{...} syntax, valid in both engines.
# The set is pinned by tests/test_spam_unicode.py against an enumeration of
# `re.match(r'\s', chr(cp))` over the whole codespace.
PY_WS_CLASS = (
    r"[\x{09}-\x{0d}\x{1c}-\x{20}\x{85}\x{a0}\x{1680}"
    r"\x{2000}-\x{200a}\x{2028}\x{2029}\x{202f}\x{205f}\x{3000}]"
)

SPAM_PATTERNS_PORTABLE: tuple[str, ...] = tuple(
    p.replace(r"\d", r"\p{Nd}").replace(r"\s", PY_WS_CLASS) for p in SPAM_PATTERNS
)

# lmppl_perplexity.py:183-186 — punctuation set for the ratio check
PUNCTUATION = ".。,，!！?？:：;；"


def has_spam_patterns(text: str) -> bool:
    """Python twin of lmppl_perplexity.py:156-188: any of the 12 regexes, OR
    a vertical-bar ratio > 0.01, OR a punctuation ratio > 0.15.

    QUIRK KEPT: empty text raises ZeroDivisionError (the reference divides by
    len(text) unguarded; its calculate_perplexity catches this and returns
    max_ppl, but check_perplexity's result dict re-calls it UNCAUGHT — the
    same empty-text-raises contract as rule scoring, textstats.py)."""
    if any(p.search(text) for p in _COMPILED):
        return True
    if "|" in text and text.count("|") / len(text) > 0.01:
        return True
    punct_count = sum(text.count(c) for c in PUNCTUATION)
    if punct_count / len(text) > 0.15:
        return True
    return False


# lmppl_perplexity.py's threshold: Python and Spark twins below, DuckDB oracle
SPAM_PPL_THRESHOLD = 200.0


def adjust_perplexity(ppl: float, spam: bool) -> float:
    """lmppl_perplexity.py:83-85: inflate spam docs' perplexity."""
    return max(ppl * 1.5, SPAM_PPL_THRESHOLD * 1.2) if spam else ppl


def check_perplexity(ppl: float, spam: bool) -> bool:
    """lmppl_perplexity.py:196-206: pass iff adjusted ppl <=
    ``SPAM_PPL_THRESHOLD`` AND no spam patterns (the hard fail is redundant
    given the inflation — both arms kept faithfully)."""
    adjusted = adjust_perplexity(ppl, spam)
    is_good = adjusted <= SPAM_PPL_THRESHOLD
    if is_good and spam:
        is_good = False
    return is_good


# ----------------------------------------------------------- Spark columns


def has_spam_col(text_col: str) -> Column:
    """Native OR-chain of regexp_like calls plus the pipe/punctuation ratio
    checks — uses SPAM_PATTERNS_PORTABLE so \\d/\\s carry Python-`re` unicode
    semantics (full-width digits, U+3000 ideographic space) identically in
    Java regex AND RE2 (DuckDB); patterns are passed via lit() so SQL-literal
    backslash escaping never applies. Empty text yields NULL (the relational
    analog of the reference's ZeroDivisionError — callers decide)."""
    t = F.col(text_col)
    n = F.length(t)
    out = F.lit(False)
    for p in SPAM_PATTERNS_PORTABLE:
        out = out | F.regexp_like(t, F.lit(p))
    pipe_cnt = n - F.length(F.replace(t, F.lit("|"), F.lit("")))
    out = out | ((pipe_cnt > 0) & (pipe_cnt / n > F.lit(0.01)))
    punct_cnt = sum(
        (n - F.length(F.replace(t, F.lit(c), F.lit("")))) for c in PUNCTUATION
    )
    out = out | (punct_cnt / n > F.lit(0.15))
    return out


def adjusted_ppl_col(ppl_col: str, spam_col: str) -> Column:
    return F.when(
        F.col(spam_col),
        F.greatest(F.col(ppl_col) * F.lit(1.5), F.lit(SPAM_PPL_THRESHOLD * 1.2)),
    ).otherwise(F.col(ppl_col))


def ppl_check_col(adj_ppl_col: str, spam_col: str) -> Column:
    return (F.col(adj_ppl_col) <= F.lit(SPAM_PPL_THRESHOLD)) & ~F.col(spam_col)
