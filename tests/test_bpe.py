"""Distributed BPE trainer (operators/tokenizer.py) — differential against
a driver-side reference implementation of Sennrich et al. 2016 with
identical rules: whitespace-token vocabulary, freq-weighted adjacent pair
counts, argmax with (cnt desc, left asc, right asc) tie-break,
left-to-right non-overlapping merge application.
"""

import re
from collections import Counter

import pytest
from pyspark.sql import functions as F

from chinese_corpus_cleaning_spark.operators.tokenizer import (
    MIN_PAIR_FREQ,
    bpe_apply_merge,
    bpe_pair_counts,
    bpe_train,
    bpe_vocab,
)


def _ref_bpe(texts, n_merges, min_pair_freq=MIN_PAIR_FREQ, pretokenize="ws"):
    from chinese_corpus_cleaning_spark.operators.tokenizer import CJK_WORD_RE

    vocab = Counter()
    for t in texts:
        toks = (
            re.findall(CJK_WORD_RE, t or "")
            if pretokenize == "cjk"
            else re.split(r"[ \t\n\r]+", t or "")
        )
        for tok in toks:
            if tok:
                vocab[tok] += 1
    symbols = {tok: list(tok) for tok in vocab}
    merges = []
    for _ in range(n_merges):
        pairs = Counter()
        for tok, freq in vocab.items():
            s = symbols[tok]
            for i in range(len(s) - 1):
                pairs[(s[i], s[i + 1])] += freq
        if not pairs:
            break
        # argmax with (cnt desc, left asc, right asc)
        (a, b), cnt = min(
            pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        if cnt < min_pair_freq:
            break
        merges.append((a, b, cnt))
        for tok, s in symbols.items():
            out, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            symbols[tok] = out
    return merges, symbols


TEXTS = [
    "low lower lowest low low newer newest new",
    "low lower wider wide new wide wide",
    "数据 数据库 数据流 数据 数据库 大数据",
    "过拟合 拟合 拟合 过拟合",
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(TEXTS)], "doc_id bigint, text string"
    )


def test_bpe_train_matches_reference(spark, docs):
    got = bpe_train(docs, n_merges=12)
    want, _ = _ref_bpe(TEXTS, 12)
    assert got == want
    # the CJK corpus contributes hanzi merges (codepoint symbols, no
    # segmenter needed)
    assert any(not (a + b).isascii() for a, b, _ in got)


def test_final_vocab_symbols_match_reference(spark, docs):
    merges = bpe_train(docs, n_merges=8)
    _, ref_symbols = _ref_bpe(TEXTS, 8)
    v = bpe_vocab(docs)
    for a, b, _ in merges:
        v = bpe_apply_merge(v, a, b)
    got = {r["token"]: list(r["symbols"]) for r in v.collect()}
    assert got == ref_symbols


def test_merge_is_left_to_right_non_overlapping(spark):
    df = spark.createDataFrame(
        [(1, "aaaa aaa aa a baab")], "doc_id bigint, text string"
    )
    v = bpe_apply_merge(bpe_vocab(df), "a", "a")
    got = {r["token"]: list(r["symbols"]) for r in v.collect()}
    assert got["aaaa"] == ["aa", "aa"]
    assert got["aaa"] == ["aa", "a"]
    assert got["aa"] == ["aa"]
    assert got["a"] == ["a"]
    assert got["baab"] == ["b", "aa", "b"]


def test_symbols_with_metacharacters_are_safe(spark):
    # the fold binds the pair as literal Columns — tokens full of regex/
    # SQL metacharacters must merge correctly
    df = spark.createDataFrame(
        [(1, ".* .* .* '); ');")], "doc_id bigint, text string"
    )
    merges = bpe_train(df, n_merges=3)
    assert (".", "*", 3) == merges[0]


def test_partitioning_invariance(spark, docs):
    a = bpe_train(docs, n_merges=6)
    b = bpe_train(docs.repartition(7), n_merges=6)
    assert a == b


def test_early_stop_on_rare_pairs(spark):
    df = spark.createDataFrame([(1, "ab cd ef")], "doc_id bigint, text string")
    assert bpe_train(df, n_merges=10) == []


def test_empty_and_null_text(spark):
    df = spark.createDataFrame(
        [(1, ""), (2, None), (3, "   ")], "doc_id bigint, text string"
    )
    assert bpe_vocab(df).count() == 0
    assert bpe_train(df, n_merges=3) == []


# ---------------------------------------------------------------- encode


def _ref_encode(word, merges):
    """Sequential application of the merge table to one word — the
    trainer's own per-step scan (bpe_apply_merge) composed in order."""
    s = list(word)
    for m in merges:
        a, b = m[0], m[1]
        out, i = [], 0
        while i < len(s):
            if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(s[i])
                i += 1
        s = out
    return s


def test_encode_matches_reference_and_trained_state(spark, docs):
    from chinese_corpus_cleaning_spark.operators.tokenizer import bpe_encode

    merges, symbols = _ref_bpe(TEXTS, 15, min_pair_freq=1)
    # unseen words exercise generalization beyond the training vocabulary
    extra = spark.createDataFrame(
        [(100, "lowestest wideness 数据库存 newlow"), (101, "low 大数据流")],
        "doc_id bigint, text string",
    )
    out = {
        r["doc_id"]: r
        for r in bpe_encode(
            docs.union(extra), merges, emit_tokens=True
        ).collect()
    }
    all_texts = dict(enumerate(TEXTS))
    all_texts[100] = "lowestest wideness 数据库存 newlow"
    all_texts[101] = "low 大数据流"
    for did, text in all_texts.items():
        expect = []
        for tok in re.split(r"[ \t\n\r]+", text):
            if tok:
                expect.extend(_ref_encode(tok, merges))
        assert out[did]["bpe_tokens"] == expect, did
        assert out[did]["n_bpe_tokens"] == len(expect)
    # training tokens round-trip to the trainer's final symbol state
    for tok, sym in symbols.items():
        assert _ref_encode(tok, merges) == sym


def test_encode_is_sequential_not_rank_greedy(spark):
    """Pins the documented semantics: merges apply in training order, so
    a later merge's product can NEVER feed an earlier merge (rank-greedy
    encoders disagree exactly here: greedy would merge 'ab' first, then
    see ('ab','c') at lower rank and emit ['abc'])."""
    from chinese_corpus_cleaning_spark.operators.tokenizer import (
        _encode_word,
    )

    merges = [("ab", "c"), ("a", "b")]
    ab_index = {"abc": (0,), "ab": (1,)}
    assert _encode_word("abc", merges, ab_index, 3) == ["ab", "c"]


def test_encode_null_empty_whitespace(spark):
    from chinese_corpus_cleaning_spark.operators.tokenizer import bpe_encode

    d = spark.createDataFrame(
        [(1, None), (2, ""), (3, " \t\n ")], "doc_id bigint, text string"
    )
    rows = {
        r["doc_id"]: r
        for r in bpe_encode(d, [("a", "b", 2)], emit_tokens=True).collect()
    }
    for i in (1, 2, 3):
        assert rows[i]["n_bpe_tokens"] == 0
        assert rows[i]["bpe_tokens"] == []


def test_encode_plan_is_shuffle_free(spark, docs):
    import io
    from contextlib import redirect_stdout

    from chinese_corpus_cleaning_spark.operators.tokenizer import bpe_encode

    out = bpe_encode(docs, [("l", "o", 5), ("lo", "w", 4)])
    buf = io.StringIO()
    with redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_encode_feeds_pack_sequences(spark, docs):
    from chinese_corpus_cleaning_spark.operators.sampling import (
        pack_sequences,
    )
    from chinese_corpus_cleaning_spark.operators.tokenizer import (
        bpe_encode,
        bpe_train,
    )

    merges = bpe_train(docs, n_merges=8)
    enc = bpe_encode(docs, merges)
    packed = pack_sequences(
        enc, budget=8, token_count_expr="n_bpe_tokens"
    ).collect()
    counts = {
        r["doc_id"]: r["n_bpe_tokens"] for r in enc.collect()
    }
    assert {r["doc_id"] for r in packed} == set(counts)
    for r in packed:
        assert r["n_tokens"] == counts[r["doc_id"]]


UNSEG_TEXTS = [
    # unsegmented Chinese: NO whitespace anywhere — the case whitespace
    # pre-tokenization degenerates on (each line one "word")
    "数据管线的质量决定模型的质量数据管线的质量决定模型的质量",
    "大规模数据去重与质量过滤是训练语料准备的核心步骤",
    "质量过滤质量过滤质量过滤",
    "模型训练需要大规模高质量语料mixed中英文no空格",
]


def test_cjk_pretokenize_bounds_vocab_and_matches_reference(spark):
    """pretokenize='cjk' (review finding): whitespace mode makes each
    unsegmented Chinese line ONE vocab token (|vocab| ~ |corpus|); cjk
    mode chunks CJK runs at CJK_CHUNK and splits at script transitions,
    and the trainer matches a driver reference using the same shared
    regex."""
    from chinese_corpus_cleaning_spark.operators.tokenizer import (
        CJK_CHUNK,
        bpe_encode,
        bpe_train,
        bpe_vocab,
    )

    rows = spark.createDataFrame(
        [(i, t) for i, t in enumerate(UNSEG_TEXTS)], "doc_id long, text string"
    )
    # ws mode: every distinct line is one token, lengths unbounded
    ws_v = bpe_vocab(rows, pretokenize="ws")
    assert ws_v.agg(F.max(F.length("token"))).collect()[0][0] > CJK_CHUNK
    # cjk mode: every token bounded, script transitions split
    cjk_v = bpe_vocab(rows, pretokenize="cjk")
    assert cjk_v.agg(F.max(F.length("token"))).collect()[0][0] <= CJK_CHUNK
    toks = {r["token"] for r in cjk_v.collect()}
    assert "mixed" in toks and "no" in toks  # transition splits
    # trainer differential with the shared regex
    want, _ = _ref_bpe(UNSEG_TEXTS, 10, pretokenize="cjk")
    got = bpe_train(rows, n_merges=10, pretokenize="cjk")
    assert got == want
    # merges are learned INSIDE CJK runs (impossible under ws mode's
    # sentence-tokens-only vocab at this min_pair_freq)
    assert any(len(a) + len(b) >= 2 and a >= "一" for a, b, _ in got)
    # encode with the same mode round-trips the trained segmentation
    out = {
        r["doc_id"]: r["n_bpe_tokens"]
        for r in bpe_encode(rows, got, pretokenize="cjk").collect()
    }
    assert out[2] < len(UNSEG_TEXTS[2])  # merges compress the repeats
    with pytest.raises(ValueError, match="pretokenize"):
        bpe_vocab(rows, pretokenize="bogus")


def test_cjk_chunking_is_engine_identical(spark):
    """A CJK run longer than CJK_CHUNK chunks greedily (16+rest) and
    Spark's Java regex agrees byte-for-byte with the Python re the
    encoder uses — the one-constant contract."""
    from chinese_corpus_cleaning_spark.operators.tokenizer import (
        CJK_WORD_RE,
    )

    long_run = "字" * 37 + " tail" + "尾" * 3
    rows = spark.createDataFrame([(1, long_run)], "doc_id long, text string")
    got = rows.select(
        F.regexp_extract_all(
            F.col("text"), F.lit(CJK_WORD_RE), F.lit(0)
        ).alias("w")
    ).collect()[0]["w"]
    assert got == re.findall(CJK_WORD_RE, long_run)
    assert [len(w) for w in got] == [16, 16, 5, 4, 3]
