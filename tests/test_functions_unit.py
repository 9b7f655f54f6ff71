"""Unit tests for the function modules with hand-computed expectations
(reference-independent; these always run)."""

from __future__ import annotations

import hashlib
import math

from chinese_corpus_cleaning_spark.config import RuleConfig
from chinese_corpus_cleaning_spark.functions import dfa, hashing
from chinese_corpus_cleaning_spark.functions.cleaning import (
    MIN_REPEAT_LEN,
    _repeats_automaton,
    extract_html_text,
    remove_long_repeated_substrings,
    remove_long_repeated_substrings_ex,
)
from chinese_corpus_cleaning_spark.functions.langid import identify
from chinese_corpus_cleaning_spark.functions.ngram_lm import (
    NgramModel,
    ngrams,
    perplexity_score,
    tokenize,
)
from chinese_corpus_cleaning_spark.functions.textstats import compute_stats, check_flags


def test_stats_boundaries():
    cfg = RuleConfig()
    # exactly 100 chars passes min length
    t = "中" * 100
    assert check_flags(compute_stats(t), cfg)["length_check"]
    assert not check_flags(compute_stats("中" * 99), cfg)["length_check"]
    # 13-gram: len<13 -> dup_check passes trivially
    assert check_flags(compute_stats("中" * 12), cfg)["dup_check"]
    # all-identical chars: high dup ratio fails
    st = compute_stats("中" * 100)
    assert st.dup13_ratio == 1 - 1 / 88  # 88 shingles, 1 unique
    # empty text fails ratio checks but passes length only if min<=0
    f = check_flags(compute_stats(""), cfg)
    assert not f["chinese_check"] and not f["symbol_check"] and not f["vbar_check"]
    assert f["dup_check"]


def test_dfa_overlapping_and_case():
    trie = dfa.build_trie(["AB", "bcd"])
    # keywords lowercased at build; message lowercased at scan
    scrubbed, matches = dfa.scan("xAbCdy", trie)
    assert matches == ["ab"]
    assert scrubbed == "x**cdy"
    # shortest match wins when one keyword prefixes another
    trie2 = dfa.build_trie(["ab", "abc"])
    s2, m2 = dfa.scan("abc", trie2)
    assert m2 == ["ab"] and s2 == "**c"


def test_h60_matches_hashlib():
    for s in ["", "abc", "中文", "0|shingle"]:
        assert hashing.h60(s) == int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def test_minhash_similarity_ordering():
    a = hashing.char_shingles("the quick brown fox jumps over the lazy dog", 5)
    b = hashing.char_shingles("the quick brown fox jumps over the lazy cat", 5)
    c = hashing.char_shingles("completely different content here entirely", 5)
    sa, sb, sc = (hashing.minhash_signature(x, 64) for x in (a, b, c))
    near = hashing.minhash_jaccard_estimate(sa, sb)
    far = hashing.minhash_jaccard_estimate(sa, sc)
    assert near > 0.6 > far
    true_j = hashing.jaccard(set(a), set(b))
    assert abs(near - true_j) < 0.2


def test_lsh_bands_collide_for_near_dups():
    a = hashing.minhash_signature(hashing.char_shingles("x" * 50 + "abcdef", 5), 128)
    b = hashing.minhash_signature(hashing.char_shingles("x" * 50 + "abcdeg", 5), 128)
    ka, kb = hashing.lsh_band_keys(a, 32), hashing.lsh_band_keys(b, 32)
    assert set(ka) & set(kb)


def test_simhash_close_for_similar_token_sets():
    t1 = tokenize("机器学习是人工智能的重要分支 machine learning")
    t2 = tokenize("机器学习是人工智能的重要分支 deep learning")
    t3 = tokenize("completely unrelated words banana apple orange")
    h1, h2, h3 = (hashing.simhash60(t) for t in (t1, t2, t3))
    assert hashing.hamming60(h1, h2) < hashing.hamming60(h1, h3)


def test_ngram_model_arithmetic():
    m = NgramModel(n=2, alpha=0.1).train(["a b a b", "a b"])
    # vocab {a:3, b:3}, |V|=2
    # bigram contexts: (<s>,)->a x2 ; (a,)->b x3 ; (b,)-> a,  b-></s> x2
    assert m.prob(("a",), "b") == (3 + 0.1) / (3 + 0.1 * 2)
    assert m.prob(("zzz",), "b") == 0.1 / (0.1 * 2)
    ppl = m.perplexity("a b")
    grams = ngrams(tokenize("a b"), 2)
    manual = 2 ** (
        -sum(math.log2(m.prob(c, w)) for c, w in grams) / len(grams)
    )
    assert ppl == manual
    # empty -> inf per the recovered reference spec (SURVEY.md §2.9
    # "empty → inf"); the padded ["</s>"] gram must NOT score (the old
    # finite pin here contradicted the spec — review finding)
    assert m.perplexity("") == float("inf")
    assert m.perplexity("   ") == float("inf")  # tokenless whitespace too


def test_perplexity_score_bands():
    assert perplexity_score(100.0) == 1.0
    assert perplexity_score(10000.0) == 0.0
    assert perplexity_score(99999.0) == 0.0
    mid = perplexity_score(5125.0)  # halfway between 250 and 10000
    assert 0.49 < mid < 0.51


def test_langid_deterministic():
    assert identify("the cat and the dog in the house of the king")[0] == "en"
    assert identify("这是一段足够长的中文文本内容")[:1] == ("zh",)
    assert identify("short")[2] is False
    assert identify("")[0] == ""
    lang, conf, is_zh = identify("这是一段足够长的中文文本内容")
    assert is_zh and conf >= 0.7


def test_extract_html_text_drops_boilerplate():
    html = (
        b"<html><head><script>var x=1;</script><style>.a{}</style></head>"
        b"<body><nav>menu</nav><h1>\xe6\xa0\x87\xe9\xa2\x98</h1>"
        b"<p>hello <b>world</b></p><footer>foot</footer></body></html>"
    )
    out = extract_html_text(html)
    assert "var x" not in out and "menu" not in out and "foot" not in out
    assert "标题" in out and "hello world" in out
    assert extract_html_text(None) == ""
    assert extract_html_text(b"") == ""


def test_repeat_removal_keeps_first_occurrence():
    chunk = "这是一段超过二十一个字符的重复内容片段啊"  # 20 chars? make sure >=21
    chunk = chunk + "XY"  # 22 chars
    s = chunk + "中间隔断" + chunk
    out = remove_long_repeated_substrings(s)
    assert out.count(chunk) == 1
    assert out.startswith(chunk)
    # no repeats -> unchanged
    assert remove_long_repeated_substrings("abc") == "abc"


def test_repeat_early_exit_matches_automaton():
    """The distinct-window early exit returns exactly what the suffix
    automaton alone returns, (text, fell_back) alike."""
    from chinese_corpus_cleaning_spark.sources import gen

    def distinct(n):
        return "".join(chr(0x4E00 + i) for i in range(n))

    base = distinct(30)
    cases = [extract_html_text(h) for h in gen.docs_pandas(300)["html"]]
    n_pages = len(cases)
    for n in (MIN_REPEAT_LEN, MIN_REPEAT_LEN + 1, MIN_REPEAT_LEN + 2):
        cases += [distinct(n), "a" * n, distinct(n - 1) + distinct(1)]
    cases += [
        "a" * 22,
        "abcdefghij" * 5,  # overlapping occurrences
        base + "间隔" + base[:MIN_REPEAT_LEN],  # repeat ends at the last char
        base + base[1:] + "尾",
        "ab" * 2000,  # over the work budget: falls back
    ]
    got = [remove_long_repeated_substrings_ex(s) for s in cases]
    assert got == [_repeats_automaton(s) for s in cases]
    changed = sum(out != s for (out, _), s in zip(got[:n_pages], cases))
    assert 0 < changed < n_pages  # both branches ran on the generated pages
    assert got[-1][1] and not any(fb for _, fb in got[:-1])


def test_preprocess_for_ppl():
    from chinese_corpus_cleaning_spark.functions.cleaning import preprocess_for_ppl

    assert preprocess_for_ppl("a  b\n c") == "a b c"
    # NB the reference's emoji class (\x{24C2}-\x{1F251}) covers the CJK
    # block, so _preprocess_text strips Chinese characters as "emoji" — a
    # reference quirk reproduced deliberately (lmppl_perplexity.py:106-123)
    assert preprocess_for_ppl("见 https://x.cn/页面 和 www.t.com 啊") == " [URL]  [URL] "
    assert preprocess_for_ppl("什么!!!???") == "!"
    assert preprocess_for_ppl("ok等等......") == "ok..."
    assert preprocess_for_ppl("好😀😀的ok") == "ok"


def test_extract_meaningful_segments():
    from chinese_corpus_cleaning_spark.functions.cleaning import (
        extract_meaningful_segments,
    )

    short = "一句话。两句话。"
    assert extract_meaningful_segments(short, 500) == short[:500]
    nine = "。".join(f"第{i}句内容相当长一些" for i in range(9)) + "。"
    out = extract_meaningful_segments(nine, 500)
    assert out.startswith("第0句") and "第3句" in out and "第6句" in out
    assert len(out) <= 500


def test_dedup_lines():
    from chinese_corpus_cleaning_spark.functions.cleaning import dedup_lines

    assert dedup_lines("a\nb\na\nc\nb") == "a\nb\nc"
    assert dedup_lines("") == ""
    assert dedup_lines("x") == "x"
