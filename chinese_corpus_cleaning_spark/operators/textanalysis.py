"""Text-analysis operators for training-data pipelines: token stats,
language-ID (relational form), document fingerprinting, quality stats.

These extend the reference's capabilities with the ops a 100TB training-data
pipeline needs; all are expressed with native Spark functions (whole-stage
codegen, no Python in the hot path) and have exact DuckDB oracle equivalents.
"""

from __future__ import annotations

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import h60_sql
from ..functions.langid import STOPWORDS


def token_stats(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, n_tokens, n_distinct_tokens, avg_token_len) via native splits."""
    toks = f"split({text_col}, ' ')"
    return docs.select(
        F.col(id_col),
        F.expr(f"size({toks})").alias("n_tokens"),
        F.expr(f"size(array_distinct({toks}))").alias("n_distinct_tokens"),
        (
            F.expr(f"aggregate({toks}, 0, (acc, t) -> acc + length(t))")
            / F.expr(f"size({toks})")
        ).alias("avg_token_len"),
    )


def langid_relational(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Stopword-profile language ID as pure SQL (the relational twin of
    functions/langid.identify's stopword stage, for whitespace-tokenized
    latin text): per-language marker-hit counts -> argmax with alphabetical
    tie-break. Returns (doc_id, lang_pred, top_hits, n_tokens)."""
    toks = f"split({text_col}, ' ')"
    hit_cols = {
        lang: F.expr(
            f"size(filter({toks}, t -> lower(t) in ({', '.join(repr(w) for w in words)})))"
        ).alias(f"hits_{lang}")
        for lang, words in STOPWORDS.items()
    }
    df = docs.select(F.col(id_col), F.expr(f"size({toks})").alias("n_tokens"), *hit_cols.values())
    langs = sorted(STOPWORDS)
    # argmax with ties to alphabetically-first language; zero hits -> 'und'
    best = F.greatest(*[F.col(f"hits_{lang}") for lang in langs])
    pred = F.lit("und")
    for lang in reversed(langs):  # build reversed so earliest lang wins ties
        pred = F.when(F.col(f"hits_{lang}") == best, F.lit(lang)).otherwise(pred)
    pred = F.when(best > 0, pred).otherwise(F.lit("und"))
    return df.select(
        id_col,
        pred.alias("lang_pred"),
        best.alias("top_hits"),
        "n_tokens",
    )


# k-gram widths and the mod-p selection shared with the DuckDB oracles
WINNOW_K = 8
SPAN_K = 16
SPAN_MOD_P = 16
# doc_length_histogram's bucket width, shared with its DuckDB oracle
HIST_BUCKET_WIDTH = 50
# reducers per hot host in the two-phase (host, salt) rollups
_SALT_BUCKETS = 16


def fingerprint_winnow(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Bottom-1 winnowing fingerprint: min h60 over all char
    ``WINNOW_K``-grams — a content-defined doc signature robust to small
    edits at the ends. (doc_id, fingerprint)."""
    grams = (
        f"transform(sequence(1, greatest(length({text_col}) - {WINNOW_K} + 1, 1)),"
        f" i -> substring({text_col}, i, {WINNOW_K}))"
    )
    return docs.select(
        F.col(id_col),
        F.expr(f"array_min(transform({grams}, g -> {h60_sql('g')}))").alias(
            "fingerprint"
        ),
    )


def quality_stats_rollup(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus-level rollup by (lang, source): doc counts, char stats — the
    Spark-native form of the reference's stats.json counters
    (main.py:271-277,310-312) generalized to grouped metrics."""
    return (
        docs.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.length(text_col)).alias("total_chars"),
            F.avg(F.length(text_col)).alias("avg_chars"),
            F.min(F.length(text_col)).alias("min_chars"),
            F.max(F.length(text_col)).alias("max_chars"),
        )
    )


def _decon_gram_sql(text_col: str, n: int) -> str:
    """array<bigint> of md5-h60 hashes over the space-joined token
    ``n``-gram windows of ``text_col`` — THE decontamination gram hash,
    defined once on purpose: decontaminate_overlap (exact),
    decontaminate_bloom (superset probe), and decontaminate_remove (span
    rewrite) only compose because their gram hashes are byte-identical
    (bloom ⊇ exact, remove cuts exactly what overlap flags). The Python
    twin inside the Arrow closures is functions.hashing.h60 over the same
    joined window.

    Guard the short-doc case: sequence(n, size) DESCENDS when size < n
    (slice start would hit 0 -> INVALID_PARAMETER_VALUE.START at runtime),
    while DuckDB's generate_series(n, size) yields an empty list. A doc
    with < n tokens (e.g. unsegmented Chinese text = 1 whitespace token)
    simply has no n-grams on either engine.
    """
    toks = f"split({text_col}, ' ')"
    window = f"array_join(slice({toks}, i - {n - 1}, {n}), ' ')"
    return (
        f"case when size({toks}) >= {n} then "
        f"transform(sequence({n}, size({toks})), i -> {h60_sql(window)}) "
        f"else cast(array() as array<bigint>) end"
    )


def _bench_gram_hashes(benchmark: DataFrame, n: int, text_col: str) -> DataFrame:
    """(g): the benchmark's distinct token n-gram hashes — the small side
    every decontamination operator builds from (broadcast-joined by
    ``decontaminate_overlap``, collected through Arrow by the bloom and
    removal forms)."""
    gram = _decon_gram_sql(text_col, n)
    return benchmark.select(F.explode(F.expr(gram)).alias("g")).distinct()


def decontaminate_overlap(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing ANY token
    n-gram with a benchmark/eval set — the standard guard against test-set
    leakage into training data. Returns (doc_id, n_overlap, contaminated)
    for EVERY corpus doc.

    Scale shape: the benchmark side is small (eval sets are 10^4-10^6 docs)
    — its distinct n-gram hash set broadcasts; the corpus side is a map-side
    explode + broadcast semi-join + per-doc count. No corpus shuffle beyond
    the final per-doc aggregation on id."""
    gram = _decon_gram_sql(text_col, n)
    bench_grams = _bench_gram_hashes(benchmark, n, text_col)
    doc_grams = docs.select(
        F.col(id_col).alias("id"),
        F.explode(F.expr(f"array_distinct({gram})")).alias("g"),
    )
    hits = (
        doc_grams.join(F.broadcast(bench_grams), "g")
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    return (
        docs.select(F.col(id_col).alias("id"))
        .join(hits, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("n_overlap", F.lit(0)).alias("n_overlap"),
            (F.coalesce("n_overlap", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def _mix64(x):
    """splitmix64 finalizer over a numpy uint64 array — derives the second
    bloom hash from the md5-h60 gram hash. Both the build and the probe run
    this exact code, so the scheme only needs internal consistency."""
    import numpy as np

    x = x + np.uint64(0x9E3779B97F4A7C15)
    x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return x ^ (x >> np.uint64(31))


def _bloom_positions(g, m: int, k: int):
    """Double-hashing positions (Kirsch & Mitzenmacher 2006): idx_i =
    (h1 + i*h2) mod m with h1 = the gram hash, h2 = splitmix64(h1) | 1.
    Returns a (len(g), k) uint64 index array."""
    import numpy as np

    h1 = g.astype(np.uint64)
    h2 = _mix64(h1) | np.uint64(1)
    i = np.arange(k, dtype=np.uint64)[None, :]
    return (h1[:, None] + i * h2[:, None]) % np.uint64(m)


def decontaminate_bloom(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    fpp: float = 1e-6,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Bloom-filter benchmark decontamination — the ZERO-SHUFFLE scale path
    of decontaminate_overlap. Same contract: (doc_id, n_overlap,
    contaminated) for every corpus doc, flagging docs that share any token
    n-gram with the benchmark. One-sided error: no false negatives ever
    (every exact hit is a bloom hit — the superset property
    tests/test_decontaminate_bloom.py pins); false positives bounded by
    ``fpp`` per probed gram.

    Why this shape at 100 TB: the exact operator explodes the CORPUS side
    into (id, gram) rows, broadcast-joins, and re-aggregates per doc — the
    join is map-side but the per-doc count still shuffles slim id rows,
    and the broadcast is a JVM hashmap of every benchmark gram (~30+
    bytes/gram). Here the benchmark's distinct gram hashes (the SMALL side
    — eval sets are 10^4..10^6 docs) are folded into a bitmap of
    ~1.44·log2(1/fpp) bits per gram (≈2.9 bytes at 1e-6), broadcast once,
    and the corpus is probed in ONE Arrow pass: no explode of the huge
    side, no join, no shuffle — the plan is a bare mapInPandas
    (plan-asserted Exchange-free). The gram hash is byte-identical to the
    exact operator's (md5-h60 of the space-joined token window), so the
    two operators agree up to bloom false positives.

    Build cost: the benchmark's distinct hashes collect to the driver via
    Arrow (bounded by the benchmark size, the side that is small by
    definition) and the bitmap broadcasts. Beyond the reference; public
    basis: Bloom 1970, Kirsch & Mitzenmacher 2006 double hashing, the
    standard decontamination guard (GPT-3 appendix C, Brown et al. 2020).
    """
    import numpy as np

    if not 0 < fpp < 1:
        raise ValueError("fpp must be in (0, 1)")
    spark = docs.sparkSession

    # ---- build: distinct benchmark gram hashes -> driver (Arrow) -> bitmap
    bench_g = _bench_gram_hashes(benchmark, n, text_col).toArrow()["g"]
    n_items = len(bench_g)
    if n_items:
        m = int(np.ceil(-n_items * np.log(fpp) / (np.log(2) ** 2)))
        m = max(64, ((m + 63) // 64) * 64)  # whole uint64 words
        k = max(1, round(m / n_items * np.log(2)))
    else:
        m, k = 64, 1  # empty benchmark: all-zero bitmap, nothing flags
    bitmap = np.zeros(m // 64, dtype=np.uint64)
    if n_items:
        idx = _bloom_positions(bench_g.to_numpy(), m, k).ravel()
        np.bitwise_or.at(bitmap, idx >> np.uint64(6),
                         np.uint64(1) << (idx & np.uint64(63)))
    bc = spark.sparkContext.broadcast((bitmap.tobytes(), m, k))

    # ---- probe: one Arrow pass over (id, text); no join, no shuffle
    id_type = docs.schema[id_col].dataType.simpleString()
    out_schema = f"{id_col} {id_type}, n_overlap bigint, contaminated boolean"

    def probe(batches):
        import pandas as pd

        from ..functions.hashing import h60

        bits = np.frombuffer(bc.value[0], dtype=np.uint64)
        m_, k_ = bc.value[1], bc.value[2]
        for pdf in batches:
            counts = []
            for text in pdf[text_col]:
                toks = text.split(" ") if isinstance(text, str) else []
                grams = {
                    " ".join(toks[j : j + n])
                    for j in range(len(toks) - n + 1)
                }
                if not grams:
                    counts.append(0)
                    continue
                # h60 = the SQL gram hash (_decon_gram_sql), one definition
                g = np.array([h60(s) for s in grams], dtype=np.uint64)
                pos = _bloom_positions(g, m_, k_)
                hit = (
                    (bits[pos >> np.uint64(6)] >> (pos & np.uint64(63)))
                    & np.uint64(1)
                ).all(axis=1)
                counts.append(int(hit.sum()))
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "n_overlap": pd.Series(counts, dtype="int64"),
                    "contaminated": [c > 0 for c in counts],
                }
            )

    return docs.select(id_col, text_col).mapInPandas(probe, out_schema)


def decontaminate_remove(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    pad: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination, REMOVAL form (GPT-3 appendix C, Brown
    et al. 2020; token-space variant): instead of only flagging a
    contaminated document, cut the contaminated spans out and keep the
    rest. For every corpus doc returns (id, cleaned_text, n_matches,
    n_spans_removed, n_tokens_removed, contaminated).

    Semantics (deterministic, mirrored by the DuckDB oracle): tokens are
    the single-space split (byte-identical to the detect family's gram
    expr); a match is a token ``n``-gram whose md5-h60 hash is in the
    benchmark's distinct gram-hash set; the removal mask is the union of
    ``[i - pad, i + n + pad)`` over matched starts ``i`` (clamped);
    ``cleaned_text`` re-joins unmasked tokens with ' ';
    ``n_spans_removed`` counts maximal contiguous masked runs. A NULL
    text stays NULL with zero counts. Whether to DROP heavily-cut docs
    is the pipeline's call (GPT-3 dropped >10-span docs) — compose a
    filter on the returned counts.

    Scale shape: the benchmark side (small by definition) collapses to
    its distinct gram hashes once (Arrow to the driver, like the bloom
    build) and broadcasts as a plain hash set; the corpus is rewritten
    in ONE Arrow ``mapInPandas`` pass — no explode of the huge side, no
    join, no shuffle (plan-asserted). At 100 TB with a large benchmark,
    shortlist first: ``decontaminate_bloom`` (zero-shuffle, ~3 bytes per
    benchmark gram) -> filter ``contaminated`` -> run this on the
    (tiny) flagged remainder, so the exact set only probes docs that
    can match.

    Note the same caveat GPT-3's procedure has: re-joining the pieces
    around a hole can in principle form a NEW n-gram; the operator does
    not re-scan (single-pass, like the published procedure).
    """
    import numpy as np

    spark = docs.sparkSession
    bench_g = _bench_gram_hashes(benchmark, n, text_col).toArrow()["g"]
    bc = spark.sparkContext.broadcast(frozenset(bench_g.to_pylist()))

    id_type = docs.schema[id_col].dataType.simpleString()
    out_schema = (
        f"{id_col} {id_type}, cleaned_text string, n_matches bigint, "
        f"n_spans_removed bigint, n_tokens_removed bigint, contaminated boolean"
    )

    def rewrite(batches):
        import pandas as pd

        from ..functions.hashing import h60

        bset = bc.value
        for pdf in batches:
            cleaned, nm, nsp, ntr = [], [], [], []
            for text in pdf[text_col]:
                if not isinstance(text, str):
                    cleaned.append(None)
                    nm.append(0)
                    nsp.append(0)
                    ntr.append(0)
                    continue
                toks = text.split(" ")
                length = len(toks)
                starts = [
                    i
                    for i in range(length - n + 1)
                    if h60(" ".join(toks[i : i + n])) in bset
                ]
                if not starts:
                    cleaned.append(text)
                    nm.append(0)
                    nsp.append(0)
                    ntr.append(0)
                    continue
                mask = np.zeros(length, dtype=bool)
                for i in starts:
                    mask[max(0, i - pad) : i + n + pad] = True
                kept = [t for t, m_ in zip(toks, mask) if not m_]
                runs = int(mask[0]) + int(
                    np.count_nonzero(mask[1:] & ~mask[:-1])
                )
                cleaned.append(" ".join(kept))
                nm.append(len(starts))
                nsp.append(runs)
                ntr.append(int(mask.sum()))
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "cleaned_text": pd.Series(cleaned, dtype="object"),
                    "n_matches": pd.Series(nm, dtype="int64"),
                    "n_spans_removed": pd.Series(nsp, dtype="int64"),
                    "n_tokens_removed": pd.Series(ntr, dtype="int64"),
                    "contaminated": [m_ > 0 for m_ in nm],
                }
            )

    return docs.select(id_col, text_col).mapInPandas(rewrite, out_schema)


def vocab_topk(
    docs: DataFrame, k: int = 50, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Corpus vocabulary top-k by token frequency (tie-break: token asc) —
    the vocabulary-construction primitive of a training-data pipeline.
    explode -> hash agg (map-side partials collapse the heavy hitters) ->
    orderBy+limit (TakeOrderedAndProject). (token, cnt, rank)."""
    from pyspark.sql.window import Window

    counts = (
        docs.select(F.explode(F.split(F.col(text_col), " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    top = counts.orderBy(F.col("cnt").desc(), F.col("token").asc()).limit(k)
    w = Window.orderBy(F.col("cnt").desc(), F.col("token").asc())
    # the Window runs over k rows only (post-limit) — not a global sort
    return top.withColumn("rank", F.row_number().over(w))


def doc_length_histogram(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Char-length histogram in ``HIST_BUCKET_WIDTH``-char buckets:
    (bucket_lo, n_docs, total_chars). The corpus shape diagnostic behind
    length-based quality cuts; one hash agg."""
    w = HIST_BUCKET_WIDTH
    lo = (F.floor(F.length(text_col) / F.lit(w)) * w).cast("bigint")
    return (
        docs.groupBy(lo.alias("bucket_lo"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.length(text_col)).alias("total_chars"),
        )
    )


def feature_ac_matches(
    docs: DataFrame,
    patterns: tuple[str, ...],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """W2 Aho-Corasick all-overlapping-matches detection, distributed:
    (doc_id, n_matches, n_distinct_patterns, first_match_pos).

    The automaton (functions/aho_corasick.py — semantics of reference
    feature_words.py:12-103, differential-tested) is built ONCE on the driver
    and broadcast; matching runs inside one Arrow-batched pandas UDF per doc
    batch (flat-array automaton pickles cleanly — no TrieBox indirection
    needed). Map-side only: no shuffle, scales linearly with the corpus.
    first_match_pos is -1 when nothing matches."""
    from pyspark.sql.types import (
        IntegerType,
        StructField,
        StructType,
    )

    from ..functions.aho_corasick import build_automaton

    bc = docs.sparkSession.sparkContext.broadcast(build_automaton(patterns))
    schema = StructType(
        [
            StructField("n_matches", IntegerType()),
            StructField("n_distinct_patterns", IntegerType()),
            StructField("first_match_pos", IntegerType()),
        ]
    )

    @F.pandas_udf(schema)
    def ac_stats(texts: pd.Series) -> pd.DataFrame:
        auto = bc.value
        rows = [auto.count_matches(t or "") for t in texts]
        return pd.DataFrame(
            rows, columns=["n_matches", "n_distinct_patterns", "first_match_pos"]
        )

    return docs.select(
        F.col(id_col), ac_stats(F.col(text_col)).alias("_ac")
    ).select(
        id_col,
        F.col("_ac.n_matches").alias("n_matches"),
        F.col("_ac.n_distinct_patterns").alias("n_distinct_patterns"),
        F.col("_ac.first_match_pos").alias("first_match_pos"),
    )


def host_rollup(docs: DataFrame, url_col: str = "url") -> DataFrame:
    """Per-host corpus stats with skew-salted two-phase aggregation
    (north_rule: salted handling of skewed hosts — one hot host holding ~30%
    of a crawl must not pin a single reducer).

    host = try_parse_url(url, 'HOST') (native; a malformed URL rolls up
    under a NULL host instead of aborting the job under ANSI mode); phase 1
    aggregates on (host, salt) so the hot host spreads across
    ``_SALT_BUCKETS`` reducers; phase 2 merges partials. Returns (host,
    n_docs, total_chars, avg_chars).
    """
    hosted = docs.select(
        F.try_parse_url(F.col(url_col), F.lit("HOST")).alias("host"),
        F.length("text").alias("n_chars"),
        F.pmod(F.xxhash64(url_col), F.lit(_SALT_BUCKETS)).alias("salt"),
    )
    partial = hosted.groupBy("host", "salt").agg(
        F.count(F.lit(1)).alias("pc"), F.sum("n_chars").alias("ps")
    )
    return (
        partial.groupBy("host")
        .agg(F.sum("pc").alias("n_docs"), F.sum("ps").alias("total_chars"))
        .withColumn("avg_chars", F.col("total_chars") / F.col("n_docs"))
    )


def repetition_signals(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher-style per-document repetition quality signals (Rae et al. 2021
    §A1.1 — the repetition cuts every web-scale training-data pipeline
    applies; extends the reference's F5 13-gram signal, textstats.py, with
    the line- and n-gram-level family):

      n_lines             non-empty lines
      dup_line_frac       2nd+ occurrences of a repeated line / n_lines
      dup_line_char_frac  chars in those 2nd+ occurrences / total line chars
      top_bigram_frac     occurrences of the most frequent token 2-gram /
                          total 2-grams (0.0 when the doc has < 2 tokens)
      dup_trigram_frac    occurrences of token 3-grams seen > once / total
                          3-grams (0.0 when the doc has < 3 tokens)

    Fully relational: three explode -> (id, key) hash-agg -> per-id rollup
    chains, joined on id. Map-side partial aggregation collapses the
    repeated keys before any shuffle; every shuffle key is (id[, key]) —
    never raw text. The n-gram exprs guard the size<n case with an explicit
    empty-array arm (sequence(n, size) DESCENDS when size < n — CLAUDE.md
    landmine)."""
    lines = docs.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.expr(f"filter(split({text_col}, '\\n'), x -> length(x) > 0)")
        ).alias("line"),
    )
    line_stats = (
        lines.groupBy("id", "line")
        .agg(F.count(F.lit(1)).alias("cnt"), F.length(F.first("line")).alias("len"))
        .groupBy("id")
        .agg(
            F.sum("cnt").alias("n_lines"),
            F.sum(F.col("cnt") - 1).alias("dup_lines"),
            F.sum(F.col("cnt") * F.col("len")).alias("tot_chars"),
            F.sum((F.col("cnt") - 1) * F.col("len")).alias("dup_chars"),
        )
    )

    def grams(n: int) -> DataFrame:
        toks = F.split(
            F.regexp_replace(F.col(text_col), "\n", " "), " "
        ).alias("toks")
        d = docs.select(F.col(id_col).alias("id"), toks)
        joined = " || ' ' || ".join(f"element_at(toks, cast(i + {j} as int))" for j in range(n))
        e = (
            f"case when size(toks) < {n} then cast(array() as array<string>) "
            f"else transform(sequence(1, size(toks) - {n - 1}), i -> {joined}) end"
        )
        return d.select("id", F.explode(F.expr(e)).alias("gram"))

    bi = (
        grams(2)
        .groupBy("id", "gram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("id")
        .agg(
            F.max("cnt").alias("top_bi"),
            F.sum("cnt").alias("tot_bi"),
        )
    )
    tri = (
        grams(3)
        .groupBy("id", "gram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("id")
        .agg(
            F.sum(F.when(F.col("cnt") > 1, F.col("cnt")).otherwise(0)).alias(
                "dup_tri"
            ),
            F.sum("cnt").alias("tot_tri"),
        )
    )
    base = docs.select(F.col(id_col).alias("id"))
    out = (
        base.join(line_stats, "id", "left")
        .join(bi, "id", "left")
        .join(tri, "id", "left")
    )
    frac = lambda num, den: F.when(  # noqa: E731
        F.coalesce(F.col(den), F.lit(0)) > 0,
        F.col(num).cast("double") / F.col(den).cast("double"),
    ).otherwise(F.lit(0.0))
    return out.select(
        F.col("id").alias(id_col),
        F.coalesce("n_lines", F.lit(0)).alias("n_lines"),
        frac("dup_lines", "n_lines").alias("dup_line_frac"),
        frac("dup_chars", "tot_chars").alias("dup_line_char_frac"),
        frac("top_bi", "tot_bi").alias("top_bigram_frac"),
        frac("dup_tri", "tot_tri").alias("dup_trigram_frac"),
    )


def canonical_url_col(url_col: str = "url"):
    """Column: canonical form of a web URL — the normalization every crawl
    dedup applies before content hashing (fragment stripped, scheme+host
    lowercased, default :80/:443 port dropped, trailing PATH slashes trimmed
    — query strings are opaque values and pass through untouched).
    Pure regex/case exprs with identical semantics in Spark (Java regex) and
    DuckDB (RE2): anchors and literal classes only, no \\d/\\s (CLAUDE.md
    portability doctrine)."""
    u = F.regexp_replace(F.col(url_col), "#.*", "")  # fragment
    scheme = F.lower(F.regexp_extract(u, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    hostport = F.lower(
        F.regexp_extract(u, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?]+)", 1)
    )
    rest = F.regexp_extract(u, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?]+(.*)", 1)
    hostport = (
        F.when(scheme == "http", F.regexp_replace(hostport, ":80$", ""))
        .when(scheme == "https", F.regexp_replace(hostport, ":443$", ""))
        .otherwise(hostport)
    )
    # trailing-slash trim applies to the PATH only: '?next=/' vs '?next='
    # are distinct URLs (query values are opaque), so split path from query
    # before trimming and re-attach the query untouched
    path = F.regexp_replace(F.regexp_extract(rest, "^([^?]*)", 1), "/+$", "")
    query = F.regexp_extract(rest, "(\\?.*)$", 1)
    return F.when(scheme == "", F.lower(u)).otherwise(
        F.concat(scheme, F.lit("://"), hostport, path, query)
    )


def url_dedup(
    docs: DataFrame, id_col: str = "doc_id", url_col: str = "url"
) -> DataFrame:
    """(doc_id, canon_url, keep_id, is_duplicate_url): crawl-level URL dedup
    — first occurrence (min id) per canonical URL is the keeper. One hash
    aggregation on the canonical key + a slim join back; the URL string is
    the only payload that crosses the shuffle."""
    canon = docs.select(
        F.col(id_col).alias("id"), canonical_url_col(url_col).alias("canon_url")
    )
    keepers = canon.groupBy("canon_url").agg(F.min("id").alias("keep_id"))
    return (
        canon.join(keepers, "canon_url")
        .select(
            F.col("id").alias(id_col),
            "canon_url",
            "keep_id",
            (F.col("id") != F.col("keep_id")).alias("is_duplicate_url"),
        )
    )


# ------------------------------------------------ corpus-level boilerplate


def boilerplate_lines(
    docs: DataFrame,
    text_col: str = "text",
    min_docs: int | None = None,
    min_doc_frac: float | None = None,
) -> DataFrame:
    """(line_md5, doc_freq): md5 digests of non-empty lines that appear in
    at least ``min_docs`` DISTINCT documents (or ``min_doc_frac`` of the
    corpus — the threshold then rides the plan as a broadcast scalar, no
    driver round-trip). This is the cross-document generalization of the
    reference's per-file line dedup (clear_redundancy.py:172-190): nav/
    footer boilerplate repeats across MANY documents, not within one.
    No id column is needed: each input row IS one document, so
    ``array_distinct`` per row already gives per-document line distinctness.

    Scale shape: per-doc DISTINCT lines explode map-side and are digested
    BEFORE the shuffle — only (md5, count) partials cross the wire, never
    line text; distinct-per-doc makes a plain count() equal the distinct-doc
    frequency. Output size is bounded above by corpus_lines / min_docs."""
    if (min_docs is None) == (min_doc_frac is None):
        raise ValueError("exactly one of min_docs / min_doc_frac required")
    lines = docs.select(
        F.explode(
            F.expr(
                f"array_distinct(filter(split({text_col}, '\\n'),"
                " x -> length(x) > 0))"
            )
        ).alias("line")
    )
    freq = lines.groupBy(
        F.md5(F.encode(F.col("line"), "UTF-8")).alias("line_md5")
    ).agg(F.count(F.lit(1)).alias("doc_freq"))
    if min_docs is not None:
        return freq.where(F.col("doc_freq") >= F.lit(min_docs))
    tot = docs.agg(F.count(F.lit(1)).alias("__n_docs"))
    return (
        freq.crossJoin(F.broadcast(tot))
        .where(F.col("doc_freq") >= F.ceil(F.lit(min_doc_frac) * F.col("__n_docs")))
        .select("line_md5", "doc_freq")
    )


def remove_boilerplate(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_docs: int | None = None,
    min_doc_frac: float | None = None,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(id, clean_text, n_lines_removed): drop every line whose digest is in
    the boilerplate set, corpus-wide. Unique lines and empty lines survive
    verbatim (empty lines are excluded from frequency counting, so their
    digest can never enter the set). NULL text is treated as '' (clean_text
    '', n_lines_removed 0). ``keep_cols`` pass through (e.g. strata for a
    downstream sampler).

    Map-side — document text NEVER crosses a shuffle: the digest set
    (bounded by corpus_lines/min_docs) comes to the driver through Arrow
    and is broadcast as a Python frozenset; removal is ONE Arrow-batched
    pandas UDF with an O(1) hash probe per line. An in-plan probe (a
    broadcast digest array scanned by ``array_contains`` per line) is
    O(|set|) per line: measured 1.07x slower at |set|=16 and 92x at
    16,384 over 200k docs/5M lines (BENCH/BASELINE.md round 6)."""
    import hashlib

    digests = frozenset(
        boilerplate_lines(docs, text_col, min_docs, min_doc_frac)
        .select("line_md5")
        .toArrow()["line_md5"]
        .to_pylist()
    )
    bc = docs.sparkSession.sparkContext.broadcast(digests)

    @F.pandas_udf("struct<clean_text: string, n_lines_removed: bigint>")
    def clean(texts: pd.Series) -> pd.DataFrame:
        bl = bc.value
        outs, removed = [], []
        for t in texts:
            parts = ("" if t is None else t).split("\n")
            kept = [
                x
                for x in parts
                if hashlib.md5(x.encode("utf-8")).hexdigest() not in bl
            ]
            outs.append("\n".join(kept))
            removed.append(len(parts) - len(kept))
        return pd.DataFrame({"clean_text": outs, "n_lines_removed": removed})

    c = clean(F.col(text_col)).alias("__c")
    return docs.select(
        F.col(id_col),
        c.getField("clean_text").alias("clean_text"),
        c.getField("n_lines_removed").alias("n_lines_removed"),
        *(F.col(col) for col in keep_cols),
    )


# ------------------------------------------------- cross-doc span duplication


def cross_doc_span_dup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_docs: int = 2,
) -> DataFrame:
    """Cross-document duplicate-SPAN signal — the substring-level dedup
    modality between line-level (remove_boilerplate) and whole-doc
    (MinHash/SimHash): documents sharing long verbatim passages with OTHER
    documents score high even when no full line and no whole doc repeats
    (the phenomenon Lee et al. 2021, "Deduplicating Training Data Makes
    Language Models Better", targets with ExactSubstr).

    Returns (id, n_fingerprints, n_dup_fingerprints, dup_span_frac) for
    EVERY input doc. Fingerprints are Manber-style mod-p selections
    (Manber 1994, "Finding Similar Files"): the h60 hashes of all char
    k-grams (k = ``SPAN_K``), keeping those with h % p == 0 (p =
    ``SPAN_MOD_P``) — content-defined, so a shared substring is
    fingerprinted IDENTICALLY in every doc containing
    it regardless of its offset (a stride-aligned windowing would miss
    unaligned copies). A shared span of s chars is detected with
    probability 1 - (1 - 1/p)^(s-k+1) (~99.7% for s=100);
    expected fingerprint density is 1/p per char, so the exploded
    fingerprint table is ~len/16 slim (id, int64) rows — the only thing
    that ever shuffles. dup_span_frac is the fraction of a doc's DISTINCT
    fingerprints that appear in >= min_docs distinct documents. Docs
    shorter than k fall back to one whole-text gram (the shingle_explode
    convention), so byte-identical short docs — including empty ones, whose
    single empty-gram hash happens to pass the p=16 selection — match each
    other; NULL text yields a zero-fingerprint row.

    A suffix-array ExactSubstr (exact longest-match spans) is a different
    cost class entirely (Lee et al. run it as a dedicated single-node
    tool); this relational fingerprint form is the Spark-native screen for
    the same signal. The k-gram hash expression is byte-identical to
    fingerprint_winnow's (md5 prefix via conv) for cross-engine oracle
    parity. The doc-frequency and the per-doc rollup both derive from one
    exploded (id, fp) table; at scale, localCheckpoint that table to scan
    text once — declaratively it is recomputed per consumer."""
    fps_expr = (
        f"array_distinct(filter(transform("
        f"sequence(1, greatest(length({text_col}) - {SPAN_K} + 1, 1)),"
        f" i -> {h60_sql(f'substring({text_col}, i, {SPAN_K})')}),"
        f" h -> h % {SPAN_MOD_P} = 0))"
    )
    base = docs.select(F.col(id_col).alias("id"), F.expr(fps_expr).alias("__fps"))
    ex = base.select("id", F.explode("__fps").alias("fp"))
    # per-doc-distinct fingerprints make a plain count() the distinct-doc
    # frequency (same trick as boilerplate_lines)
    freq = ex.groupBy("fp").agg(F.count(F.lit(1)).alias("df"))
    marked = ex.join(freq, "fp").select(
        "id", (F.col("df") >= F.lit(min_docs)).cast("long").alias("dup")
    )
    per_doc = marked.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_fingerprints"),
        F.sum("dup").alias("n_dup_fingerprints"),
    )
    spine = docs.select(F.col(id_col).alias("id"))
    return (
        spine.join(per_doc, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("n_fingerprints", F.lit(0))
            .cast("bigint")
            .alias("n_fingerprints"),
            F.coalesce("n_dup_fingerprints", F.lit(0))
            .cast("bigint")
            .alias("n_dup_fingerprints"),
            F.when(
                F.coalesce("n_fingerprints", F.lit(0)) > 0,
                F.round(
                    F.col("n_dup_fingerprints") / F.col("n_fingerprints"), 9
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("dup_span_frac"),
        )
    )


# ------------------------------------------------------ Gopher quality cuts

# Published Gopher repetition thresholds (Rae et al. 2021, table A1): a doc
# fails the cut when any fraction exceeds its bound. Applied to the ROUNDED
# (9 dp) fractions so the keep decision is bit-identical cross-engine.
GOPHER_MAX_DUP_LINE_FRAC = 0.30
GOPHER_MAX_TOP_BIGRAM_FRAC = 0.18
GOPHER_MAX_DUP_TRIGRAM_FRAC = 0.30


def gopher_pass_col(
    dup_line="dup_line_frac",
    top_bigram="top_bigram_frac",
    dup_trigram="dup_trigram_frac",
):
    """Boolean column: doc passes the Gopher repetition cuts."""
    return (
        (F.round(F.col(dup_line), 9) <= F.lit(GOPHER_MAX_DUP_LINE_FRAC))
        & (F.round(F.col(top_bigram), 9) <= F.lit(GOPHER_MAX_TOP_BIGRAM_FRAC))
        & (F.round(F.col(dup_trigram), 9) <= F.lit(GOPHER_MAX_DUP_TRIGRAM_FRAC))
    )


# ----------------------------------------------------- crawl frontier dedup


def crawl_frontier_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    url_col: str = "url",
) -> DataFrame:
    """Per-host crawl-frontier rollup after canonical-URL dedup:
    (host, n_urls, n_unique, n_dup) — the one-pass shape a crawl frontier
    needs (which URLs are new, per host, with hot hosts spread).

    The rollup key is the URL AUTHORITY (hostport): ``example.com:8080``
    and ``example.com`` are distinct rows, matching politeness semantics
    (a non-default port is a different server to rate-limit) and the
    DuckDB oracle's identical extract.

    Two skew regimes: the dedup groupBy keys on ``canon_url``
    (high-cardinality — no hot key by construction); the host rollup keys
    on ``host``, where one hot host can carry ~30% of a crawl. For the
    count/sum columns here, map-side partial aggregation ALREADY bounds the
    hot-host reducer (each task ships at most one partial row per host), so
    the (host, salt) two-phase shape is not load-bearing for these
    algebraic aggregates — it is the extension-point pattern for per-host
    state partials cannot collapse (collect_list URL samples, exact
    distinct), costs only one extra exchange of ``_SALT_BUCKETS`` x n_hosts
    partial rows, and uses a content-derived salt
    (pmod(xxhash64(canon_url))) that is deterministic under retries."""
    dd = url_dedup(docs, id_col, url_col)
    hosted = dd.select(
        F.regexp_extract(
            "canon_url", "^[a-z][a-z0-9+.-]*://([^/?]+)", 1
        ).alias("host"),
        F.col("is_duplicate_url"),
        F.pmod(F.xxhash64("canon_url"), F.lit(_SALT_BUCKETS)).alias("salt"),
    )
    partial = hosted.groupBy("host", "salt").agg(
        F.count(F.lit(1)).alias("pu"),
        F.sum(F.col("is_duplicate_url").cast("long")).alias("pd"),
    )
    return (
        partial.groupBy("host")
        .agg(F.sum("pu").alias("n_urls"), F.sum("pd").alias("n_dup"))
        .withColumn("n_unique", F.col("n_urls") - F.col("n_dup"))
    )


def url_blocklist_filter(
    docs: DataFrame,
    blocklist,
    url_col: str = "url",
    id_col: str = "doc_id",
) -> DataFrame:
    """UT1-style domain blocklist filter — the first screening stage of
    RefinedWeb/FineWeb-class webtext pipelines (the UT1 "adult" category
    alone carries millions of domains). A document is blocked when its
    URL's host, or ANY parent domain of it, is in the blocklist:
    ``tracker.ads.example.com`` is blocked by a list entry
    ``ads.example.com``. Matching is on lowercased hosts with the port
    excluded (native ``parse_url(url, 'HOST')``).

    Shape (100 TB): the host's dot-suffix chain is exploded into slim
    (id, suffix) rows — bounded by the label count (~4-6 per host), never
    by text — then inner-joined against the broadcast blocklist and
    reduced to min(matched domain) per doc (deterministic when several
    levels match); the flag left-joins back on the id.

    ``blocklist``: a one-column DataFrame (``domain``) or a Python
    iterable of domain strings. Entries are normalized to match the host
    side — lowercased, whitespace-trimmed, trailing dots dropped (real
    UT1/hand-maintained lists carry mixed case and FQDN dots; an
    unnormalized entry would silently never block). The iterable path
    builds the table from an Arrow table: a LocalRelation with exact
    statistics, where a plain-tuple or pandas createDataFrame pickles rows
    while ``spark.sql.execution.arrow.pyspark.enabled`` is off (its
    default) and plans a statistics-less LogicalRDD — a serial driver-side
    cost on a multi-million-domain list.
    NULL / malformed URLs yield a NULL host (``try_parse_url`` — a real
    crawl always contains broken URLs; the strict form would fail the
    job) and are never blocked: the suffix array of a NULL host is NULL,
    so the explode drops them from the probe, not the output. The host
    side is normalized like the entries: a valid trailing-dot FQDN URL
    (``https://ads.example.com./x``) must not evade the list, so trailing
    dots are stripped from the extracted host before the suffix chain.

    Returns docs + (host, blocked_domain, is_blocked).
    """
    if not isinstance(blocklist, DataFrame):
        norm = list({d.strip().rstrip(".").lower() for d in blocklist})
        bl = docs.sparkSession.createDataFrame(
            pa.table({"domain": pa.array(norm, pa.string())}),
            schema="domain string",
        )
    else:
        bl = blocklist.select(
            F.regexp_replace(
                F.lower(F.trim(F.col("domain"))), r"\.+$", ""
            ).alias("domain")
        ).distinct()
    bl = F.broadcast(bl)
    hosted = docs.withColumn(
        "host",
        F.regexp_replace(
            F.lower(F.try_parse_url(F.col(url_col), F.lit("HOST"))),
            r"\.+$",
            "",
        ),
    )
    suffixes = (
        "transform(sequence(1, size(split(host, '[.]'))), "
        "i -> array_join(slice(split(host, '[.]'), i, "
        "size(split(host, '[.]')) - i + 1), '.'))"
    )
    hits = (
        hosted.select(id_col, F.explode(F.expr(suffixes)).alias("dom"))
        .join(bl, F.col("dom") == F.col("domain"), "inner")
        .groupBy(id_col)
        .agg(F.min("domain").alias("blocked_domain"))
    )
    return hosted.join(hits, id_col, "left").withColumn(
        "is_blocked", F.col("blocked_domain").isNotNull()
    )


# C4's terminal-punctuation set, extended with the CJK full-width marks a
# Chinese corpus needs (。！？ and closing quotes). The class spells the
# CJK marks as LITERAL UTF-8 characters — valid in Java regex and RE2
# alike, with no backslash to be eaten by a SQL string literal (\uXXXX is
# Java-only; RE2 would need \x{...}). The $ anchor is safe cross-engine
# ONLY because \r is stripped before splitting (Java $ matches before a
# trailing line terminator, RE2 $ is end-of-text — a measured split).
C4_TERMINAL_RE = '[.!?"。！？”」]$'


def c4_line_filter(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 3,
    min_lines_kept: int = 3,
    min_chars: int | None = None,
    keep_cols=(),
) -> DataFrame:
    """C4-style line-level cleanup (Raffel et al. 2020, the C4 pipeline):
    keep only lines that END in a terminal punctuation mark (extended with
    the CJK full-width set) and carry at least ``min_words`` whitespace
    words; flag pages that keep fewer than ``min_lines_kept`` lines or
    contain the C4 page-level poison markers ("lorem ipsum", a curly
    brace — code, and a "javascript" line — script rubble).

    Pure native per-document projection: split -> filter(lambda with
    regexp_like + size(split)) -> array_join, no shuffle, no UDF — the
    whole filter rides whole-stage codegen and composes map-side with the
    rest of the cleaning chain at any scale.

    C4's word rule is English-centric: unsegmented Chinese is ONE
    whitespace token per line, so ``min_words`` alone rejects every
    Chinese line. ``min_chars`` (opt-in) admits a line that carries at
    least that many characters even when it fails the word count — the
    standard CJK adaptation of the C4 length rule. Default None keeps the
    published C4 behavior (and the gate oracle's).

    Returns (id, *keep_cols, clean_text, n_lines, n_lines_kept,
    page_keep); ``keep_cols`` ride through untouched (pipeline
    composition — the curation plan threads strata and counters through).
    NULL text behaves as '' (0 lines kept, page_keep false), matching the
    repo's other line operators. CRLF input is normalized (\\r stripped
    before the split) so the $ terminal anchor sees the same line bytes on
    Spark and the RE2 oracle — see C4_TERMINAL_RE's comment.
    """
    from .sampling import _NONWS_RUN_SPARK

    t = f"replace(coalesce({text_col}, ''), chr(13), '')"
    lines = f"split({t}, '\\n')"
    # count words as runs of non-whitespace (full Python-\s class), not
    # single-space split segments: 'Hi  there.' is 2 words not 3, and
    # tab/U+3000-separated words split (CLAUDE.md word-count rule;
    # review finding). Lines are already newline-free here.
    length_rule = f"regexp_count(l, '{_NONWS_RUN_SPARK}') >= {min_words}"
    if min_chars is not None:
        length_rule = f"({length_rule} or length(trim(l)) >= {min_chars})"
    # C4 drops lines containing the WORD "javascript" (Raffel et al. 2020
    # §2.2), not the substring: "javascripts" survives, and CJK prose
    # mentioning "JavaScript教程" is dropped only because 教 is not an
    # ASCII word char. Boundary spelling is DIALECT-SPLIT per the pii.py
    # doctrine: Java's \b is Unicode-aware (教 would count as a word char
    # and SUPPRESS the match), so Spark spells explicit ASCII lookarounds;
    # the RE2 oracle uses \b, which is ASCII by construction.
    kept = (
        f"filter({lines}, l -> {length_rule} "
        f"and trim(l) rlike '{C4_TERMINAL_RE}' "
        f"and not lower(l) rlike '(?<![a-z0-9_])javascript(?![a-z0-9_])')"
    )
    return docs.select(
        F.col(id_col),
        *[F.col(c) for c in keep_cols],
        F.expr(f"array_join({kept}, '\\n')").alias("clean_text"),
        F.expr(f"size({lines})").alias("n_lines"),
        F.expr(f"size({kept})").alias("n_lines_kept"),
        F.expr(
            f"size({kept}) >= {min_lines_kept} "
            f"and not lower({t}) rlike 'lorem ipsum' "
            f"and not {t} rlike '[{{]'"
        ).alias("page_keep"),
    )


def domain_quality_filter(
    docs: DataFrame,
    bad_expr: str,
    url_col: str = "url",
    id_col: str = "doc_id",
    min_docs: int = 5,
    max_bad_pct: int = 50,
) -> DataFrame:
    """Domain-level quality filtering: drop WHOLE hosts whose documents are
    predominantly low-quality, instead of (only) judging docs one by one.

    The standard web-corpus escalation (RefinedWeb §3.1 and FineWeb both
    screen at the domain level before/alongside per-doc filters): a host
    where most pages fail quality is a content farm — its remaining pages
    are suspect even when they individually pass, and filtering the host
    outright is both stricter and cheaper than per-doc scoring on the next
    crawl. ``bad_expr`` is any boolean SQL expression over the input
    columns marking a low-quality doc (a rule flag, classifier verdict,
    ppl bucket — whatever signal the pipeline already has).

    A host is flagged when it has at least ``min_docs`` docs AND its bad
    fraction strictly exceeds ``max_bad_pct`` percent. The decision is
    PURE INTEGER arithmetic (``n_bad * 100 > n * max_bad_pct`` on bigint
    counts) — no float ratio to diverge between engines, no rounding knife
    edge (CLAUDE.md cross-engine doctrine).

    Scale shape: one slim (host, is_bad) pre-aggregated shuffle builds the
    per-host counts (map-side partials; text never moves); only the
    FLAGGED hosts — content farms, a small set by construction — join
    back, broadcast, so the document side crosses zero shuffles. Host
    normalization matches url_blocklist_filter: lowercased portless
    ``try_parse_url`` HOST (malformed URLs -> NULL host, never a job
    failure) with trailing FQDN dots stripped. NULL hosts are never
    flagged (no domain to aggregate).

    Returns the input columns plus ``host``, ``domain_n`` / ``domain_bad``
    (the flagged host's counts, NULL for unflagged hosts — the audit
    trail), and ``domain_flagged``. Beyond the reference (it has no URL
    stage at all); public basis cited above.
    """
    if min_docs < 1:
        raise ValueError("min_docs must be >= 1")
    if not 0 <= max_bad_pct <= 100:
        raise ValueError("max_bad_pct must be in [0, 100]")
    hosted = docs.withColumn(
        "host",
        F.regexp_replace(
            F.lower(F.try_parse_url(F.col(url_col), F.lit("HOST"))),
            r"\.+$",
            "",
        ),
    )
    flagged = (
        hosted.where(F.col("host").isNotNull())
        .groupBy("host")
        .agg(
            F.count(F.lit(1)).alias("domain_n"),
            F.count_if(F.expr(bad_expr)).alias("domain_bad"),
        )
        .where(
            (F.col("domain_n") >= min_docs)
            & (F.col("domain_bad") * 100 > F.col("domain_n") * max_bad_pct)
        )
        .withColumnRenamed("host", "__fhost")
    )
    return (
        hosted.join(F.broadcast(flagged), F.col("host") == F.col("__fhost"), "left")
        .drop("__fhost")
        .withColumn("domain_flagged", F.col("domain_n").isNotNull())
    )


def paragraph_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_chars: int = 1,
) -> DataFrame:
    """Corpus-wide exact paragraph deduplication: every paragraph that
    appears more than once in the corpus keeps only its FIRST occurrence
    (MassiveText, Rae et al. 2021 §A1.2; Dolma, Soldaini et al. 2024 —
    the standard companion to document-level dedup: it kills the
    boilerplate fragments document dedup can't see). The reference's own
    dedup is per-file line-level (clear_redundancy.py:172-190);
    remove_boilerplate generalizes that to frequency, this operator to
    global first-occurrence.

    "First" is deterministic, partition/retry independent: the corpus
    order is (h60(id), id, paragraph index) — the repo's proven
    pseudo-random total order (operators/sampling doctrine), NOT an
    ingestion order that would change under repartitioning. Paragraph
    equality is md5-h60 equality (collision odds 2^-60; the md5 kernel is
    the engine-wide cross-dialect primitive).

    Scale shape — document text NEVER keys a shuffle:
      * the dedup decision runs on slim (hash, ord, id, idx) rows;
      * the winner per hash is min(struct(ord, id, idx)) — a PARTIAL
        aggregate, so a paragraph duplicated 100M times arrives at the
        reduce side as <= n_map_partitions pre-combined rows (a window
        over the hash would instead sort the entire hot key in one task);
      * drops join back on hash (AQE skew-splittable), collapse to one
        (id, drop-index-list) row per affected doc, and rejoin the doc
        table on id — a plain equi-join whose strategy AQE picks from the
        drop table's real size (a broadcast when few docs carry
        corpus-duplicated paragraphs; a shuffle at 100 TB, where
        boilerplate touches most docs);
      * the rebuild is map-side: split the original text again and drop
        the flagged indices with a native filter lambda.

    Paragraphs are newline-separated; those shorter than ``min_chars``
    never enter dedup (min_chars=1 keeps blank-line structure intact).
    NULL text passes through as NULL with zero counts.

    Returns the doc frame with ``text_col`` rewritten plus ``n_paras``
    (paragraphs before dedup) and ``n_dropped``.
    """
    sep = "\n"
    arr = F.split(F.coalesce(F.col(text_col), F.lit("")), sep)
    # localCheckpoint: TWO consumers scan this table (the winners
    # aggregate and the drops join) — without it each scan re-executes
    # the posexplode + two-md5 lineage AND everything upstream (composed
    # in curation_run the boilerplate Arrow UDF would run once per scan;
    # cross_doc_span_dup's doctrine, review finding). eager=False:
    # materializes with the first action.
    slim = (
        docs.select(
            F.col(id_col).alias("__id"),
            F.expr(h60_sql(f"cast({id_col} as string)")).alias("__ord"),
            F.posexplode(
                F.split(F.coalesce(F.col(text_col), F.lit("")), sep)
            ).alias("__idx", "__p"),
        )
        .where(F.length("__p") >= int(min_chars))
        .select(
            "__id",
            "__ord",
            "__idx",
            F.expr(h60_sql("__p")).alias("__ph"),
        )
        .localCheckpoint(eager=False)
    )
    winners = slim.groupBy("__ph").agg(
        F.min(F.struct("__ord", "__id", "__idx")).alias("__w")
    )
    drops = (
        slim.join(winners, "__ph")
        .where(F.struct("__ord", "__id", "__idx") != F.col("__w"))
        .groupBy(F.col("__id").alias(id_col))
        .agg(F.sort_array(F.collect_list("__idx")).alias("__drop"))
    )
    kept = F.filter(
        arr,
        lambda p, i: F.col("__drop").isNull()
        | ~F.array_contains(F.col("__drop"), i),
    )
    passthrough = [c for c in docs.columns if c != text_col]
    return (
        docs.join(drops, id_col, "left")
        .select(
            *passthrough,
            F.when(F.col(text_col).isNull(), F.lit(None).cast("string"))
            .otherwise(F.array_join(kept, sep))
            .alias(text_col),
            F.when(F.col(text_col).isNull(), F.lit(0))
            .otherwise(F.size(arr))
            .cast("int")
            .alias("n_paras"),
            F.coalesce(F.size("__drop"), F.lit(0)).cast("int").alias("n_dropped"),
        )
    )
