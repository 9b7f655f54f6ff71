"""Spam-pattern perplexity adjustment vs the reference
(lmppl_perplexity.py). The reference module imports torch at top level
(absent in the sandbox), so the _has_spam_patterns method is extracted from
the parsed source and EXECUTED standalone — still the reference's own code
running as the oracle, never copied into the repo."""

from __future__ import annotations

import ast
import os
import re

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from chinese_corpus_cleaning_spark.functions.spam import (
    SPAM_PATTERNS,
    adjust_perplexity,
    check_perplexity,
    has_spam_patterns,
)

REF = "/root/reference/text_quality_filter/utils/lmppl_perplexity.py"

pytestmark = pytest.mark.skipif(
    not os.path.exists(REF), reason="reference repo not available"
)


@pytest.fixture(scope="module")
def ref_has_spam():
    tree = ast.parse(open(REF, encoding="utf-8").read())
    fn = None
    for node in ast.walk(tree):
        if isinstance(node, ast.FunctionDef) and node.name == "_has_spam_patterns":
            fn = node
            break
    assert fn is not None
    ns: dict = {"re": re}
    exec(compile(ast.Module(body=[fn], type_ignores=[]), REF, "exec"), ns)
    method = ns["_has_spam_patterns"]
    return lambda text: method(None, text)


_ATOMS = st.sampled_from(
    ["在线", "播放", "视频", "一区", "二区", "久", "不卡", "精品", "日本",
     "韩国", "欧美", "激情", "小说", "成人", "观看", "一本", "道", "中文",
     "字幕", "区", "1", "23", " ", "\t", "\n", "a", "正常", "文本", "。",
     "|", "!", "！", "?", ",", "，", ":", ";", "；", "：", "？", ".",
     # unicode \d / \s atoms: full-width digits (category Nd), ideographic
     # space U+3000, NBSP, en-space — Python re matches these with \d/\s
     "１", "２３", "　", " ", " "]
)
spam_texts = st.lists(_ATOMS, min_size=0, max_size=40).map("".join)


@settings(max_examples=500, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(text=spam_texts)
def test_has_spam_patterns_matches_reference(ref_has_spam, text):
    if text == "":
        # reference quirk: unguarded division by len(text) — both raise
        with pytest.raises(ZeroDivisionError):
            ref_has_spam(text)
        with pytest.raises(ZeroDivisionError):
            has_spam_patterns(text)
        return
    assert has_spam_patterns(text) == ref_has_spam(text)


def test_pattern_list_matches_reference_source():
    """The 12 patterns are reference configuration data — assert they are
    byte-identical to the list literal in lmppl_perplexity.py:160-173."""
    tree = ast.parse(open(REF, encoding="utf-8").read())
    for node in ast.walk(tree):
        if isinstance(node, ast.Assign) and any(
            getattr(t, "id", "") == "spam_patterns" for t in node.targets
        ):
            ref_list = ast.literal_eval(node.value)
            assert tuple(ref_list) == SPAM_PATTERNS
            return
    pytest.fail("spam_patterns literal not found in reference source")


def test_adjustment_arithmetic():
    """calculate_perplexity:83-85 — ppl' = max(ppl*1.5, 1.2*thr) on spam."""
    assert adjust_perplexity(100.0, False) == 100.0
    assert adjust_perplexity(100.0, True) == 240.0  # 1.2*thr wins
    assert adjust_perplexity(300.0, True) == 450.0  # ppl*1.5 wins
    # the inflation guarantees spam never passes the threshold
    assert adjust_perplexity(1.0, True) > 200.0


def test_check_perplexity_hard_fail():
    """check_perplexity:204-206 — spam fails even when ppl is low."""
    assert check_perplexity(50.0, False) is True
    assert check_perplexity(50.0, True) is False
    assert check_perplexity(500.0, False) is False


def test_spark_columns_match_python(spark):
    from pyspark.sql import functions as F

    from chinese_corpus_cleaning_spark.functions.spam import (
        adjusted_ppl_col,
        has_spam_col,
        ppl_check_col,
    )

    rows = [
        (1, "这是正常的中文文本没有标点符号只有一个。在很长的文本里", 150.0),
        (2, "精品 视频 在线 观看", 50.0),
        (3, "99区99 久久久久久", 300.0),
        (4, "中文 字幕 abc", 190.0),
        (5, "nothing suspicious here", 400.0),
        (6, "a|b|c|d short pipes", 100.0),
        (7, "太多标点。。。！！？？，，；；：：。！", 100.0),
        # unicode \d/\s parity: full-width digits + ideographic space are
        # spam per Python re — the portable Java/RE2 patterns must agree
        (8, "１区２ 这是一些中文正文内容", 100.0),
        (9, "在线　播放 这是一些中文正文内容", 100.0),
        (10, "视频 一区 二区 这是一些中文正文内容", 100.0),
        (11, "1区a 这不是垃圾因为a不是数字字符所以不匹配规则", 100.0),
    ]
    df = (
        spark.createDataFrame(rows, ["doc_id", "text", "ppl"])
        .withColumn("spam", has_spam_col("text"))
        .withColumn("adj_ppl", adjusted_ppl_col("ppl", "spam"))
        .withColumn("ppl_pass", ppl_check_col("adj_ppl", "spam"))
    )
    for r in df.collect():
        spam = has_spam_patterns(r["text"])
        assert r["spam"] == spam
        assert r["adj_ppl"] == adjust_perplexity(r["ppl"], spam)
        assert r["ppl_pass"] == check_perplexity(r["ppl"], spam)


@pytest.fixture(scope="module")
def ref_p7():
    """Extract _preprocess_text and _extract_meaningful_segments from the
    parsed reference source (module imports torch) and execute standalone."""
    tree = ast.parse(open(REF, encoding="utf-8").read())
    ns: dict = {"re": re}
    found = 0
    for node in ast.walk(tree):
        if isinstance(node, ast.FunctionDef) and node.name in (
            "_preprocess_text",
            "_extract_meaningful_segments",
        ):
            exec(compile(ast.Module(body=[node], type_ignores=[]), REF, "exec"), ns)
            found += 1
    assert found == 2
    return (
        lambda t: ns["_preprocess_text"](None, t),
        lambda t, m=500: ns["_extract_meaningful_segments"](None, t, m),
    )


_P7_ATOMS = st.sampled_from(
    ["word", "句子", "。", ".", "!", "?", "！", "？", "  ", "\t", "\n",
     "http://ex.com/a?b=1", "www.site.org/x", "!!!", "????", "......", "...",
     "😀", "🚗", "✂", "a", " "]
)
p7_texts = st.lists(_P7_ATOMS, min_size=0, max_size=60).map("".join)


@settings(max_examples=300, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(text=p7_texts)
def test_ppl_preprocess_matches_reference(ref_p7, text):
    from chinese_corpus_cleaning_spark.functions.cleaning import preprocess_for_ppl

    assert preprocess_for_ppl(text) == ref_p7[0](text)


@settings(max_examples=300, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(text=p7_texts)
def test_segment_sampling_matches_reference(ref_p7, text):
    from chinese_corpus_cleaning_spark.functions.cleaning import (
        extract_meaningful_segments,
    )

    assert extract_meaningful_segments(text, 500) == ref_p7[1](text, 500)
    assert extract_meaningful_segments(text, 37) == ref_p7[1](text, 37)
