"""Differential tests: our fresh decision functions vs the reference
implementation executed as an oracle (skipped when /root/reference is absent).

These are the parity gate demanded by BASELINE.json (F1>=0.99 on keep/drop,
byte-identical scrubbed text) — both sides are deterministic, so we assert
exact equality everywhere.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from chinese_corpus_cleaning_spark.config import DEFAULT, FeatureConfig, RuleConfig
from chinese_corpus_cleaning_spark.functions import dfa
from chinese_corpus_cleaning_spark.functions.cleaning import (
    clean_text,
    clean_text_whitelist,
    remove_long_repeated_substrings,
)
from chinese_corpus_cleaning_spark.functions.feature import evaluate_features
from chinese_corpus_cleaning_spark.functions.textstats import (
    check_flags,
    check_reasons,
    compute_stats,
    evaluate_rules,
)

# text alphabet exercising every check: CJK, latin, digits, the SEO chars,
# URLs, emoji, whitespace/newlines, keywords used in the small lexicon below
_ATOMS = st.sampled_from(
    [
        "文", "本", "质", "量", "中", "国", "久", "区", "在线", "播放", "视频",
        "一区", "二区", "精品", "日本", "韩国", "欧美", "a", "B", "z", "0", "9",
        "|", ",", ".", "!", "?", " ", "\n", "\t", "😀", "🙂", "✂",
        "http://x.cn/a", "www.t.com", "abc.de", "1989", "1989年", "赌博", "色情",
        "特价", "促销", "优惠", "不包含", "没有", "广告", "系统", "电话",
        "加微信", "点击",
        # length-changing-under-lower() chars: 'İ'.lower() == 'i̇' (2 chars).
        # These skew any lowered-text position mapped onto the original text
        # (VERDICT r1 item 5) — the per-line fallback must engage.
        "İ", "ẞ", "İstanbul",
    ]
)
texts = st.lists(_ATOMS, min_size=0, max_size=120).map("".join)

LEXICON = [
    "赌博", "色情", "特价", "促销", "优惠", "1989年", "加微信", "点击链接",
    "系统", "电话", "a片", "自拍偷拍",
]


@pytest.fixture(scope="module")
def ref_rule(ref_modules):
    return ref_modules["RuleFilter"](ref_modules["RULE_FILTER_CONFIG"])


@pytest.fixture(scope="module")
def ref_dfa(ref_modules):
    f = ref_modules["DFAFilter"]()
    f.parse_list(LEXICON)
    return f


@pytest.fixture(scope="module")
def our_trie():
    return dfa.build_trie(LEXICON)


@settings(max_examples=300, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(text=texts)
def test_rule_filter_matches_reference(ref_rule, text):
    ref_passed, ref_details = ref_rule.filter(text)
    st_ = compute_stats(text)
    flags = check_flags(st_, RuleConfig())
    reasons = check_reasons(st_, flags, RuleConfig())
    assert all(flags.values()) == ref_passed
    for k, v in ref_details.items():
        assert flags[k] == v["pass"], (k, text)
        assert reasons[k] == v["reason"], (k, text)

    if text:  # reference raises ZeroDivisionError on empty text (:383)
        _, _, score, _ = evaluate_rules(text, RuleConfig())
        assert score == ref_rule.get_rule_score(text)
    else:
        with pytest.raises(ZeroDivisionError):
            ref_rule.get_rule_score(text)


@settings(max_examples=300, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(text=texts)
def test_dfa_scrub_and_detect_match_reference(ref_dfa, our_trie, text):
    scrubbed, matches = dfa.scan(text, our_trie)
    assert scrubbed == ref_dfa.filter(text)
    assert matches == ref_dfa.detect(text)


def test_dfa_shortest_match_boundary(our_trie):
    # /root/reference/filter.py:162-165 — "1989" must survive when the
    # keyword is "1989年"
    scrubbed, _ = dfa.scan("1989发生了什么", our_trie)
    assert scrubbed.startswith("1989")
    scrubbed2, m2 = dfa.scan("1989年发生了什么", our_trie)
    assert scrubbed2.startswith("*****")
    assert m2 == ["1989年"]


@settings(max_examples=300, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(text=texts)
def test_feature_eval_matches_reference(ref_modules, text, tmp_path_factory):
    det = _ref_detector(ref_modules)
    ours = evaluate_features(text, _ref_trie_cache(ref_modules), FeatureConfig())
    ref_passed, ref_res = det.check_feature_words(text)
    assert ours.passed == ref_passed
    assert ours.feature_count == ref_res["feature_count"]
    assert ours.feature_words == ref_res["feature_words"]
    assert ours.avg_per_line == pytest.approx(ref_res["avg_per_line"], abs=0)
    assert ours.score == det.get_feature_score(text)


_CACHE: dict = {}


def _ref_detector(ref_modules):
    if "det" not in _CACHE:
        det = ref_modules["FeatureWordsDetector"](
            {"feature_words_path": "", "use_dfa_filter": True}
        )
        det.feature_words = set(LEXICON)  # bypass file load; fixed lexicon
        det.feature_filter = ref_modules["DFAFilter"]()
        det.feature_filter.parse_list(LEXICON)
        _CACHE["det"] = det
    return _CACHE["det"]


def _ref_trie_cache(ref_modules):
    if "trie" not in _CACHE:
        _CACHE["trie"] = dfa.build_trie(LEXICON)
    return _CACHE["trie"]


@settings(max_examples=150, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(text=texts)
def test_clean_text_whitelist_matches_reference(ref_clear_redundancy, text):
    assert clean_text_whitelist(text) == ref_clear_redundancy.clean_text(text)


@settings(max_examples=100, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    text=st.lists(
        st.sampled_from(["这是一段超过二十一个字符的重复内容片段X", "abcdefghijKLMNOPQRSTuvw", "短", "x", " "]),
        min_size=0,
        max_size=12,
    ).map("".join)
)
def test_repeat_removal_matches_reference(ref_clear_redundancy, text):
    assert remove_long_repeated_substrings(text) == (
        ref_clear_redundancy.remove_long_repeated_substrings(text)
    )


def test_clean_text_basic():
    assert clean_text("  a\n\nb\t c \x01\x7f ") == "a b c"
    assert clean_text("") == ""


def test_full_quality_decision_matches_reference(ref_modules, ref_rule):
    """End-to-end keep/drop on the reference's own test fixture texts
    (test_filter.py fixtures), via the default component weights
    (rule 0.3 + feature 0.5) / 0.8 and threshold 0.8 (config.py:47-61,
    main.py:207-251)."""
    det = _ref_detector(ref_modules)
    trie = _ref_trie_cache(ref_modules)
    cases = [
        "文本质量过滤是自然语言处理中的重要任务，旨在从大量文本数据中筛选出高质量的内容。\n高质量的文本通常具有较高的中文比例、适当的符号使用、较低的内部重复率等特点。\n通过多种过滤方法的组合，可以有效提高语料库的质量，为后续的自然语言处理任务提供更好的基础。",
        "久久久久久日本一区99 | 欧美日韩a∨毛片一区 | 99国产精品视频久久久久 | 国产极品精频在线观看",
        "这是一个太短的文本",
        "This is a test text with very little Chinese content. 这只有一点点中文内容。",
    ]
    for text in cases:
        ref_rule_score = ref_rule.get_rule_score(text)
        ref_feat_score = det.get_feature_score(text)
        ref_q = (0.3 * ref_rule_score + 0.5 * ref_feat_score) / 0.8
        _, _, our_rule_score, _ = evaluate_rules(text, DEFAULT.rule)
        our_feat = evaluate_features(text, trie, DEFAULT.feature)
        our_q = (
            DEFAULT.weight_rule * our_rule_score
            + DEFAULT.weight_feature * our_feat.score
        ) / (DEFAULT.weight_rule + DEFAULT.weight_feature)
        assert our_q == ref_q
        assert (our_q >= DEFAULT.quality_threshold) == (ref_q >= 0.8)


def test_feature_eval_length_changing_case_fold(ref_modules):
    """'İ'.lower() == 'i̇' (2 chars): lowered-text match positions skew
    against original line boundaries. These exact texts mismatched the
    reference before the per-line fallback guard (VERDICT r1 item 5)."""
    det = _ref_detector(ref_modules)
    trie = _ref_trie_cache(ref_modules)
    for t in (
        "İİİİİ\nabc赌博",
        "İİİİİİİİ\nxxxxx特价",
        "İ特价\n赌博abc",
        "aaaaa\n特价İİİİ\n赌博bbbb",
        "ẞİ促销\n优惠İẞ促销",
    ):
        ref_passed, ref_res = det.check_feature_words(t)
        ours = evaluate_features(t, trie, FeatureConfig())
        assert ours.passed == ref_passed, t
        assert ours.feature_count == ref_res["feature_count"], t
        assert ours.avg_per_line == ref_res["avg_per_line"], t
        assert ours.score == det.get_feature_score(t), t


# --- native-Column twins vs their Python forms (round 3 gate additions) ---

_WL_ATOMS = [
    "中文",
    "测试内容",
    "abc",
    "XYZ",
    "012",
    "😀",
    "🌀",
    "⛄",
    "➿",
    "🚀",
    "🧀",         # 1F9C0 (in 1F900-1F9FF)
    "🜀",          # 1F700 block
    "←",
    "⇿",
    "§",
    "é",
    "①",
    "△",
    "！",
    "，。【】",
    "…—￥",
    " ",
    "  ",
    "\t",
    "\n",
    "\x07",
    "|",
    "[]\\",
    "'\"",
    "~@#$%^&*()_+<>?:{}",
    "　",          # U+3000 (NOT whitelisted -> dropped)
]


def test_whitelist_clean_col_matches_python(spark):
    """Byte parity: the portable Java-regex chain (clean_whitelist_col) vs
    the Python-re per-char filter (clean_text_whitelist), over atoms covering
    every emoji range, whitelist edge chars, and non-whitelisted unicode."""
    import itertools
    import random

    from pyspark.sql import functions as F

    from chinese_corpus_cleaning_spark.functions.cleaning import (
        clean_text_whitelist,
        clean_whitelist_col,
    )

    rng = random.Random(42)
    texts = ["".join(rng.choices(_WL_ATOMS, k=rng.randint(0, 30))) for _ in range(200)]
    texts += ["", " ", "😀😀", "a  b", "中  文", "".join(_WL_ATOMS)]
    texts += ["".join(p) for p in itertools.permutations(["😀", " ", "a", "△"], 4)]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["i", "t"]
    ).select("i", clean_whitelist_col(F.col("t")).alias("c"))
    got = {r["i"]: r["c"] for r in df.collect()}
    for i, t in enumerate(texts):
        assert got[i] == clean_text_whitelist(t), repr(t)


def test_is_zh_relational_matches_identify(spark):
    """The J1 relational twin must reproduce functions/langid.identify's
    (lang, conf, is_zh) decision exactly, including the short-doc gate, the
    zh>=best tie rule, and the 4x-stopword-confidence clamp."""
    import random

    from chinese_corpus_cleaning_spark.functions.langid import identify
    from chinese_corpus_cleaning_spark.operators.extract import is_zh_relational

    rng = random.Random(7)
    atoms = [
        "the", "and", "of", "der", "die", "la", "los", "le", "les", "words",
        "content", "中文", "内容很长的中文句子", "短", "x", " ", "  ", "\t",
        "　", "１２３", "。", "!",
    ]
    texts = [
        " ".join(rng.choices(atoms, k=rng.randint(0, 25))) for _ in range(150)
    ]
    texts += [
        "", "短", "中文内容中文内容中文内容", "the and of to is in that it a",
        "中文 the and of", None, "1234567890", "123456789",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "i long, t string"
    )
    got = {
        r["i"]: r
        for r in is_zh_relational(df, id_col="i", text_col="t").collect()
    }
    for i, t in enumerate(texts):
        lang, conf, zh = identify(t) if t is not None else ("", 0.0, False)
        r = got[i]
        assert r["lang"] == lang, (repr(t), r)
        assert r["conf"] == pytest.approx(conf, abs=0, rel=0), (repr(t), r)
        assert r["is_zh"] == zh, repr(t)


def test_ppl_score_col_matches_perplexity_score(spark):
    """The Spark banded perplexity score equals functions/ngram_lm's at
    both band edges (PPL_THRESHOLD / 2 = 250 and PPL_MAX = 10000) and on
    each side of them — the two engines share one definition of the band."""
    from chinese_corpus_cleaning_spark.functions.ngram_lm import perplexity_score
    from chinese_corpus_cleaning_spark.operators.perplexity import ppl_score_col

    ppls = [0.0, 249.99, 250.0, 250.01, 5125.0, 9999.99, 10000.0, 10000.01, 1e9]
    df = spark.createDataFrame([(p,) for p in ppls], "ppl double")
    got = [r["s"] for r in df.select(ppl_score_col("ppl").alias("s")).collect()]
    assert got == [perplexity_score(p) for p in ppls]
    assert got[:3] == [1.0, 1.0, 1.0] and got[-3:] == [0.0, 0.0, 0.0]
    assert 0.0 < got[3] < 1.0 and got[4] == 0.5
