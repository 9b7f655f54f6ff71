"""Distributed BPE tokenizer training (Sennrich et al. 2016, "Neural
Machine Translation of Rare Words with Subword Units").

The last stage of a corpus pipeline the reference family never had: learn
the merge table FOR this corpus, on the cluster that already holds it.
Classic BPE is inherently iterative (each merge changes the pair counts),
so the Spark shape follows the repo's iterative doctrine (kmeans_fit /
train_logreg / connected components):

1.  ``bpe_vocab`` — ONE corpus pass: pre-tokenize (portable whitespace
    class, or ``pretokenize='cjk'`` for unsegmented Chinese — see
    ``CJK_WORD_RE``: whitespace words are sentence-length there, which
    would break this step's whole premise), aggregate to the (token,
    freq) vocabulary. This is the Sennrich formulation: all further work
    runs on the vocabulary table (|vocab| << corpus — the 100 TB input
    collapses to the distinct-token table before any iteration starts),
    weighted by freq.
2.  per merge iteration:
      a. adjacent-pair counts: map-side explode of (sym[i], sym[i+1])
         guarded against the sequence() descent landmine, weighted by
         freq, partial-aggregated into one slim (left, right, cnt)
         shuffle;
      b. argmax via orderBy+limit(1) => TakeOrderedAndProject (per-
         partition top-1 + driver merge — no global sort), tie-break
         (cnt desc, left asc, right asc) so training is deterministic;
      c. the merge applies map-side as a left-to-right non-overlapping
         fold over each symbol array (F.aggregate with a struct
         accumulator and the pair bound as literal Columns — no SQL
         string splicing, so symbols containing quotes/regex
         metacharacters are safe), touching ONLY the rows whose symbols
         contain the pair (cheap native filter; untouched rows pass
         through by union);
      d. the vocabulary is localCheckpointed each iteration (loop-state
         doctrine: without it iteration k re-executes all k-1 prior merge
         lambdas over the original table).

Differential-tested against a driver-side reference BPE with identical
tie-breaks; the single-iteration pair-count kernel is the gated
SQL-expressible query (``bpe_pair_counts``) — the loop itself is not
SQL-expressible (per-iteration argmax feeds the next iteration's
expression), the documented weaker-check category.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "bpe_vocab",
    "bpe_pair_counts",
    "bpe_apply_merge",
    "bpe_train",
    "bpe_encode",
]

# explicit ASCII whitespace class: Java regex and RE2 disagree on \s's
# edges (CLAUDE.md portable-regex rule), so both engines get this literal
WS_CLASS = "[ \\t\\n\\r]+"

# CJK-aware pre-tokenization (pretokenize='cjk'): "words" are CJK runs
# chunked at CJK_CHUNK chars OR runs of non-CJK non-whitespace. Plain
# whitespace splitting makes each unsegmented Chinese SENTENCE one vocab
# token, so |vocab| approaches |corpus| and the Sennrich collapse (the
# whole point of the vocabulary table) fails for this engine's target
# corpus (review finding). The chunk boundary is an artificial word
# boundary — merges never span it — which is the same approximation
# whitespace BPE already makes at every space; both regex engines
# (Java via F.lit'd pattern, Python re in bpe_encode) resolve the
# bounded greedy quantifier identically (leftmost match, maximal munch),
# so trainer and encoder pre-tokenize byte-identically from this ONE
# constant. CJK class endpoints are literal chars (portable-regex rule).
CJK_CHUNK = 16
CJK_WORD_RE = "[一-鿿]{1," + str(CJK_CHUNK) + "}|[^一-鿿 \\t\\n\\r]+"

_PRETOKENIZE_MODES = ("ws", "cjk")


def _check_pretokenize(pretokenize: str) -> None:
    if pretokenize not in _PRETOKENIZE_MODES:
        raise ValueError(
            f"unknown pretokenize mode: {pretokenize!r} "
            f"(expected one of {_PRETOKENIZE_MODES})"
        )


def bpe_vocab(
    docs: DataFrame,
    text_col: str = "text",
    pretokenize: str = "ws",
) -> DataFrame:
    """(token, freq, symbols): the pre-token vocabulary with each token
    pre-split into single-codepoint symbols (substring transform —
    codepoint-indexed identically in Spark and DuckDB). The one
    corpus-sized pass; everything after runs on this table.

    ``pretokenize='ws'`` (default, the published Sennrich word-boundary
    form) splits on the explicit whitespace class; use ``'cjk'``
    (``CJK_WORD_RE``) for unsegmented Chinese, where whitespace mode
    degenerates to sentence-length tokens and the vocabulary table stops
    being small (see the constant's comment)."""
    _check_pretokenize(pretokenize)
    t = F.coalesce(F.col(text_col), F.lit(""))
    if pretokenize == "cjk":
        words = F.regexp_extract_all(t, F.lit(CJK_WORD_RE), F.lit(0))
    else:
        words = F.split(t, WS_CLASS)
    toks = (
        docs.select(F.explode(words).alias("token"))
        .where(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    return toks.withColumn(
        "symbols",
        F.expr(
            "transform(sequence(1, length(token)), i -> substring(token, i, 1))"
        ),
    )


def bpe_pair_counts(vocab: DataFrame) -> DataFrame:
    """(left, right, cnt): freq-weighted adjacent symbol-pair counts over
    the vocabulary — one merge iteration's statistics. The explode is
    map-side (guarded: single-symbol tokens contribute no pairs — the
    sequence(n, size) descent landmine arm); the shuffle carries only the
    partially-aggregated slim pair rows."""
    pairs = F.expr(
        "case when size(symbols) < 2 then"
        " cast(array() as array<struct<l: string, r: string>>)"
        " else transform(sequence(1, size(symbols) - 1),"
        " i -> struct(symbols[i - 1] as l, symbols[i] as r)) end"
    )
    return (
        vocab.select(F.col("freq"), F.explode(pairs).alias("p"))
        .groupBy(F.col("p.l").alias("left"), F.col("p.r").alias("right"))
        .agg(F.sum("freq").alias("cnt"))
    )


def bpe_apply_merge(vocab: DataFrame, a: str, b: str) -> DataFrame:
    """Rewrite every symbols array, merging adjacent (a, b) -> a+b
    left-to-right non-overlapping (the BPE scan rule: 'aaaa' under (a,a)
    becomes ['aa','aa'], 'aaa' becomes ['aa','a']). Pure map-side fold;
    rows whose symbols cannot contain the pair are filtered past the
    lambda untouched."""
    merged = F.lit(a + b)
    la, lb = F.lit(a), F.lit(b)

    def step(acc, s):
        return (
            F.when(
                acc["prev"].isNull(),
                F.struct(acc["out"].alias("out"), s.alias("prev")),
            )
            .when(
                (acc["prev"] == la) & (s == lb),
                F.struct(
                    F.concat(acc["out"], F.array(merged)).alias("out"),
                    F.lit(None).cast("string").alias("prev"),
                ),
            )
            .otherwise(
                F.struct(
                    F.concat(acc["out"], F.array(acc["prev"])).alias("out"),
                    s.alias("prev"),
                )
            )
        )

    fold = F.aggregate(
        F.col("symbols"),
        F.struct(
            F.array().cast("array<string>").alias("out"),
            F.lit(None).cast("string").alias("prev"),
        ),
        step,
        lambda acc: F.when(acc["prev"].isNull(), acc["out"]).otherwise(
            F.concat(acc["out"], F.array(acc["prev"]))
        ),
    )
    touchable = (F.array_position(F.col("symbols"), la) > 0) & (
        F.array_position(F.col("symbols"), lb) > 0
    )
    return vocab.withColumn(
        "symbols", F.when(touchable, fold).otherwise(F.col("symbols"))
    )


# bpe_train stops once no pair occurs this often (hapax merges memorize noise)
MIN_PAIR_FREQ = 2


def bpe_train(
    docs: DataFrame,
    n_merges: int = 50,
    text_col: str = "text",
    pretokenize: str = "ws",
) -> list[tuple[str, str, int]]:
    """Learn ``n_merges`` BPE merges from the corpus. Returns the ordered
    merge table [(left, right, count_at_merge_time), ...] — the artifact
    a tokenizer consumes. Stops early when no pair reaches
    ``MIN_PAIR_FREQ``.

    Deterministic: tie-break (cnt desc, left asc, right asc); the
    vocabulary aggregate is partition-independent; each iteration's state
    is localCheckpointed (loop doctrine).

    ``pretokenize``: see :func:`bpe_vocab` — pass ``'cjk'`` for
    unsegmented Chinese, and encode with the SAME mode."""
    vocab = bpe_vocab(docs, text_col, pretokenize).localCheckpoint(
        eager=True
    )
    merges: list[tuple[str, str, int]] = []
    for _ in range(int(n_merges)):
        top = (
            bpe_pair_counts(vocab)
            .orderBy(
                F.col("cnt").desc(), F.col("left").asc(), F.col("right").asc()
            )
            .limit(1)
            .collect()
        )
        if not top or top[0]["cnt"] < MIN_PAIR_FREQ:
            break
        a, b, cnt = top[0]["left"], top[0]["right"], int(top[0]["cnt"])
        merges.append((a, b, cnt))
        vocab = bpe_apply_merge(vocab, a, b).localCheckpoint(eager=True)
    return merges


def _encode_word(
    word: str,
    merges: list[tuple[str, str]],
    ab_index: dict[str, tuple[int, ...]],
    max_ab_len: int,
) -> list[str]:
    """Segment one whitespace token with EXACT training semantics: every
    merge, in training order, applied as the left-to-right non-overlapping
    scan (`bpe_apply_merge`'s fold). Cost is independent of the merge-table
    size: a merge (a, b) can only fire if a+b occurs as a contiguous
    substring of the original word (symbols are contiguous in-order
    substrings), so only merges indexed by one of the word's substrings of
    length 2..max_ab_len are scanned — O(len * max_ab_len) dict probes,
    then O(candidates * len) scanning.

    Deliberately NOT the rank-greedy encoder (GPT-2 style: repeatedly merge
    the lowest-rank adjacent pair): when two different merges produce the
    same string (e.g. ('a','bc') and ('ab','c') both -> 'abc'), greedy can
    apply an earlier-rank merge to a later-rank product, which sequential
    training application never does — the two disagree on exactly those
    tables. Sequential is what `bpe_train`/`bpe_apply_merge` define.
    """
    s = list(word)
    if len(s) < 2:
        return s
    n = len(word)
    cand: set[int] = set()
    for ln in range(2, min(max_ab_len, n) + 1):
        for i in range(n - ln + 1):
            hits = ab_index.get(word[i : i + ln])
            if hits:
                cand.update(hits)
    for idx in sorted(cand):
        a, b = merges[idx]
        out: list[str] = []
        i = 0
        ns = len(s)
        while i < ns:
            if i + 1 < ns and s[i] == a and s[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(s[i])
                i += 1
        s = out
        if len(s) == 1:
            break
    return s


def bpe_encode(
    docs: DataFrame,
    merges,
    text_col: str = "text",
    out_col: str = "n_bpe_tokens",
    emit_tokens: bool = False,
    tokens_col: str = "bpe_tokens",
    pretokenize: str = "ws",
) -> DataFrame:
    """Apply a trained BPE merge table: append ``out_col`` (bigint learned
    token count — THE budget unit ``pack_sequences`` wants for real token
    budgets: ``pack_sequences(bpe_encode(docs, merges), token_count_expr=
    "n_bpe_tokens")``) and, when ``emit_tokens``, ``tokens_col``
    (array<string> subword segmentation, training-token order).

    ``merges`` is ``bpe_train``'s return value ((left, right[, cnt])
    tuples, training order). ``pretokenize`` MUST match the mode the
    merges were trained with (``bpe_vocab``): ``'ws'`` = the portable
    explicit-whitespace split, ``'cjk'`` = the shared ``CJK_WORD_RE``
    (CJK runs chunked at CJK_CHUNK + non-CJK runs — the mode for
    unsegmented Chinese). NULL/empty text encodes to 0 tokens / empty
    array.

    Scale shape: the merge table is one broadcast (a 32k-merge table is
    ~MBs); encoding is ONE Arrow pass over the scan — zero shuffles, zero
    joins, nothing driver-side (plan-asserted in tests). Per-task memo on
    unique words makes repeated vocabulary nearly free (Zipf: the hot
    words dominate), and the substring-indexed candidate pruning in
    `_encode_word` keeps per-NEW-word cost independent of merge count.
    """
    import re as _re

    from pyspark.sql.functions import pandas_udf

    _check_pretokenize(pretokenize)
    pairs = [(m[0], m[1]) for m in merges]
    ab_index: dict[str, tuple[int, ...]] = {}
    for i, (a, b) in enumerate(pairs):
        ab = a + b
        ab_index[ab] = ab_index.get(ab, ()) + (i,)
    max_ab_len = max((len(a) + len(b) for a, b in pairs), default=2)
    bc = docs.sparkSession.sparkContext.broadcast(
        (pairs, ab_index, max_ab_len)
    )
    if pretokenize == "cjk":
        word_re = _re.compile(CJK_WORD_RE)

        def split_words(t):
            return word_re.findall(t or "")

    else:
        ws = _re.compile(WS_CLASS)

        def split_words(t):
            return ws.split(t or "")

    if emit_tokens:

        @pandas_udf("struct<n: bigint, toks: array<string>>")
        def _enc(texts: pd.Series) -> pd.DataFrame:
            mg, idx, mal = bc.value
            memo: dict[str, list[str]] = {}
            ns: list[int] = []
            toks_out: list[list[str]] = []
            for t in texts:
                toks: list[str] = []
                for w in split_words(t):
                    if not w:
                        continue
                    s = memo.get(w)
                    if s is None:
                        s = _encode_word(w, mg, idx, mal)
                        memo[w] = s
                    toks.extend(s)
                ns.append(len(toks))
                toks_out.append(toks)
            return pd.DataFrame({"n": ns, "toks": toks_out})

        enc = _enc(F.col(text_col))
        return (
            docs.withColumn("__enc", enc)
            .withColumn(out_col, F.col("__enc.n"))
            .withColumn(tokens_col, F.col("__enc.toks"))
            .drop("__enc")
        )

    # count-only path (the pack_sequences budget case): return ONLY the
    # bigint count — the default used to materialize every doc's full
    # subword list in Python and ship it through Arrow just to drop it
    # (review finding); per-word memo caches the COUNT, no lists built.
    @pandas_udf("bigint")
    def _cnt(texts: pd.Series) -> pd.Series:
        mg, idx, mal = bc.value
        memo: dict[str, int] = {}
        ns: list[int] = []
        for t in texts:
            n_toks = 0
            for w in split_words(t):
                if not w:
                    continue
                c = memo.get(w)
                if c is None:
                    c = len(_encode_word(w, mg, idx, mal))
                    memo[w] = c
                n_toks += c
            ns.append(n_toks)
        return pd.Series(ns)

    return docs.withColumn(out_col, _cnt(F.col(text_col)))
