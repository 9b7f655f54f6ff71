"""Unit tests for the function modules with hand-computed expectations
(reference-independent; these always run)."""

from __future__ import annotations

import hashlib
import math

from chinese_corpus_cleaning_spark.config import RuleConfig
from chinese_corpus_cleaning_spark.functions import dfa, hashing
from chinese_corpus_cleaning_spark.functions.cleaning import (
    MIN_REPEAT_LEN,
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


def test_minhash_bands_kernel_matches_oracle():
    """The vectorized signature kernel equals minhash_signature over
    char_shingles plus lsh_band_keys, at the production 128/16 config and
    the catalog's 16/4 one: NULL (the all-P sentinel), empty, k-1 and k
    chars, a periodic text and astral-plane characters (code-point
    shingles, four UTF-8 bytes each)."""
    from chinese_corpus_cleaning_spark.config import DedupConfig
    from chinese_corpus_cleaning_spark.plans.catalog import _SMALL_MINHASH

    k = 5
    texts = [
        None,
        "",
        "abcd",
        "abcde",
        "ab" * 40,
        "\U0001F600\U00020000天地玄黄" * 3,
        "宇宙洪荒，日月盈昃。辰宿列张，寒来暑往。",
    ]
    for cfg in (DedupConfig(), _SMALL_MINHASH):
        nh, nb = cfg.num_hashes, cfg.num_bands
        assert cfg.shingle_size == k
        sigs, keys = hashing.minhash_bands(texts, k, nh, nb)
        for t, sig, key in zip(texts, sigs, keys):
            want = (
                [hashing.MINHASH_P] * nh
                if t is None
                else hashing.minhash_signature(hashing.char_shingles(t, k), nh)
            )
            assert sig.tolist() == want, t
            assert key.tolist() == hashing.lsh_band_keys(want, nb), t


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


def _repeats_automaton(s: str) -> str:
    """Suffix-automaton form of long-repeat removal (clear_redundancy.py:
    53-170), the oracle for the window pass: for every state with ``len >=
    MIN_REPEAT_LEN`` and >= 2 end positions, delete the 2nd+ occurrences
    of its longest string, merging intervals that touch. Positions are
    materialized per state, so it is quadratic on periodic text."""
    n = len(s)
    sa_len, sa_link, sa_next = [0], [-1], [{}]
    own_pos = [-1]  # the end position created with this state (-1 for clones)
    cnt = [0]
    last = 0
    for pos, ch in enumerate(s):
        cur = len(sa_len)
        sa_len.append(sa_len[last] + 1)
        sa_link.append(-1)
        sa_next.append({})
        own_pos.append(pos)
        cnt.append(1)
        p = last
        while p != -1 and ch not in sa_next[p]:
            sa_next[p][ch] = cur
            p = sa_link[p]
        if p == -1:
            sa_link[cur] = 0
        else:
            q = sa_next[p][ch]
            if sa_len[p] + 1 == sa_len[q]:
                sa_link[cur] = q
            else:
                clone = len(sa_len)
                sa_len.append(sa_len[p] + 1)
                sa_link.append(sa_link[q])
                sa_next.append(dict(sa_next[q]))
                own_pos.append(-1)
                cnt.append(0)
                while p != -1 and sa_next[p].get(ch) == q:
                    sa_next[p][ch] = clone
                    p = sa_link[p]
                sa_link[q] = clone
                sa_link[cur] = clone
        last = cur
    # occurrence counts (== |endpos|) via suffix-link propagation
    for st in sorted(range(len(sa_len)), key=lambda x: -sa_len[x]):
        if sa_link[st] != -1:
            cnt[sa_link[st]] += cnt[st]
    qual = {
        st for st in range(len(sa_len))
        if sa_len[st] >= MIN_REPEAT_LEN and cnt[st] >= 2
    }
    # each original state's end position belongs to every suffix-link
    # ancestor's endpos set
    positions: dict[int, list[int]] = {st: [] for st in qual}
    for st in range(1, len(sa_len)):
        node = st
        while own_pos[st] >= 0 and node > 0:
            if node in qual:
                positions[node].append(own_pos[st])
            node = sa_link[node]
    to_remove = []
    for st in qual:
        starts = sorted(end - sa_len[st] + 1 for end in positions[st])
        to_remove += [(a, a + sa_len[st] - 1) for a in starts[1:]]
    to_remove.sort()
    merged: list[list[int]] = []
    for a, b in to_remove:
        if merged and a <= merged[-1][1] + 1:
            merged[-1][1] = max(merged[-1][1], b)
        else:
            merged.append([a, b])
    pieces, idx = [], 0
    for a, b in merged:
        pieces.append(s[idx:a])
        idx = b + 1
    return "".join(pieces) + s[idx:]


def test_repeat_early_exit_matches_automaton():
    """The window pass deletes exactly what the suffix automaton deletes,
    on generated pages, edge lengths and seeded random / periodic strings,
    and never falls back."""
    import random

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
    ]
    rnd = random.Random(11)
    for _ in range(200):
        alphabet = "ab" if rnd.random() < 0.5 else "abcd"
        unit = "".join(rnd.choice(alphabet) for _ in range(rnd.randrange(1, 30)))
        noise = "".join(rnd.choice(alphabet) for _ in range(rnd.randrange(80)))
        cut = rnd.randrange(len(noise) + 1)
        cases.append(noise[:cut] + unit * rnd.randrange(1, 8) + noise[cut:])
    got = [remove_long_repeated_substrings_ex(s) for s in cases]
    assert got == [(_repeats_automaton(s), False) for s in cases]
    changed = sum(out != s for (out, _), s in zip(got[:n_pages], cases))
    assert 0 < changed < n_pages  # both branches ran on the generated pages
    # periodic text the automaton form takes quadratic time on
    assert remove_long_repeated_substrings_ex("ab" * 2000) == ("ab", False)


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
