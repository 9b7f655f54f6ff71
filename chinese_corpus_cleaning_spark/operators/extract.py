"""Extraction-stage operators: HTML -> text, whitespace cleaning, language ID,
long-repeat removal — the rebuild of the reference's ingest path (E3,
SURVEY.md §3: subsample_warc_warc.py + convert_warc_to_htmls.py collapsed into
column derivations over docs(html))."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    StringType,
    StructField,
    StructType,
)

from ..functions.cleaning import (
    extract_html_text,
    remove_long_repeated_substrings,
)
from ..functions import langid as _langid

# Portable regex classes shared VERBATIM with the extract_is_zh DuckDB
# oracle (plans/oracles.py imports these — the repo convention: twins are
# built from ONE constant so the engines cannot drift; review finding:
# these were hand-duplicated string literals in both files). \x{..}
# syntax is valid in Java regex AND RE2.
CTRL_CLASS_PORTABLE = "[\\x{00}-\\x{08}\\x{0b}\\x{0c}\\x{0e}-\\x{1f}\\x{7f}]"
CJK_CLASS_PORTABLE = "[\\x{4e00}-\\x{9fff}]"


def is_zh_relational(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Relational twin of functions/langid.identify — the J1 offset-membership
    boolean (subsample_warc_warc.py:46-87 collapsed to a column) as pure SQL,
    DuckDB-expressible for the driver gate. Returns
    (doc_id, lang, conf, is_zh) with EXACTLY identify()'s decision arithmetic:
    short/empty -> ('', 0.0, false); zh score = CJK-char ratio of the cleaned
    text; stopword argmax (alphabetical-first tie-break, strict >) with
    conf = min(1, 4*score); zh wins ties (>=).

    Float determinism note (plans/oracles.py doctrine): both engines compute
    the same left-assoc double divisions/multiplications, so the >= / >
    comparisons and the ZH_THRESHOLD gate agree bit-for-bit."""
    from ..functions.langid import LANGS, STOPWORDS, ZH_MIN_CHARS, ZH_THRESHOLD
    from ..functions.spam import PY_WS_CLASS

    raw = F.col(text_col)
    # clean_text (tool.py:8-14): \s+ -> ' ' (Python-re \s set), control strip
    ctrl = CTRL_CLASS_PORTABLE
    cleaned = F.trim(
        F.regexp_replace(
            F.regexp_replace(raw, F.lit(PY_WS_CLASS + "+"), F.lit(" ")),
            F.lit(ctrl),
            F.lit(""),
        )
    )
    d = docs.select(
        F.col(id_col), raw.alias("__raw__"), cleaned.alias("__cleaned__")
    )
    hit_exprs = {
        lang: F.expr(
            "size(filter(split(lower(__cleaned__), ' '), "
            f"t -> t in ({', '.join(repr(w) for w in STOPWORDS[lang])})))"
        )
        for lang in LANGS
    }
    d = d.select(
        id_col,
        "__raw__",
        "__cleaned__",
        *[hit_exprs[lang].alias(f"__hits_{lang}__") for lang in LANGS],
    )
    n = F.length(F.col("__cleaned__"))
    cjk = n - F.length(
        F.regexp_replace(
            F.col("__cleaned__"), F.lit(CJK_CLASS_PORTABLE), F.lit("")
        )
    )
    zh_score = cjk.cast("double") / n.cast("double")
    n_tok = F.size(F.split(F.lower(F.col("__cleaned__")), " "))
    scores = {
        lang: F.col(f"__hits_{lang}__").cast("double") / n_tok.cast("double")
        for lang in LANGS
    }
    best_score = F.greatest(*[scores[lang] for lang in LANGS])
    best_lang = F.lit("und")
    for lang in reversed(LANGS):  # build reversed so earliest lang wins ties
        best_lang = F.when(scores[lang] == best_score, F.lit(lang)).otherwise(
            best_lang
        )
    lang_col = (
        F.when((zh_score >= best_score) & (zh_score > 0.0), F.lit("zh"))
        .when(best_score > 0.0, best_lang)
        .otherwise(F.lit("und"))
    )
    conf_col = (
        F.when((zh_score >= best_score) & (zh_score > 0.0), zh_score)
        .when(best_score > 0.0, F.least(F.lit(1.0), best_score * F.lit(4.0)))
        .otherwise(F.lit(0.0))
    )
    gated = (
        F.col("__raw__").isNull()
        | (F.length("__raw__") < F.lit(ZH_MIN_CHARS))
        | (F.length("__cleaned__") == 0)
    )
    return d.select(
        id_col,
        F.when(gated, F.lit("")).otherwise(lang_col).alias("lang"),
        F.when(gated, F.lit(0.0)).otherwise(conf_col).alias("conf"),
        F.when(
            gated, F.lit(False)
        ).otherwise(
            (lang_col == "zh") & (conf_col >= F.lit(ZH_THRESHOLD))
        ).alias("is_zh"),
    )


EXTRACT_FULL_SCHEMA = StructType(
    [
        StructField("text", StringType()),
        StructField("lang_pred", StringType()),
        StructField("lang_conf", DoubleType()),
        StructField("is_zh", BooleanType()),
    ]
)


@F.pandas_udf(EXTRACT_FULL_SCHEMA)
def extract_full(html: pd.Series) -> pd.DataFrame:
    """Fused extraction kernel: html -> (text, lang columns) in ONE
    JVM<->Python Arrow round trip. Composes the three stage functions
    (extract_html_text -> remove_long_repeated_substrings ->
    langid.identify; NULL html -> NULL text, NULL text -> ('', 0.0, False))
    so the document crosses the Python boundary once instead of twice
    (guide §4.1: each chained pandas UDF is its own ArrowEvalPython round
    trip; the intermediate extracted_text never travels JVM->Python a
    second time)."""
    rows = []
    for h in html:
        t = extract_html_text(h)
        txt = None if t is None else remove_long_repeated_substrings(t)
        if txt is None:
            lp, lc, zh = "", 0.0, False
        else:
            lp, lc, zh = _langid.identify(txt)
        rows.append(
            {"text": txt, "lang_pred": lp, "lang_conf": lc, "is_zh": zh}
        )
    return pd.DataFrame(rows, columns=["text", "lang_pred", "lang_conf", "is_zh"])


def with_extraction(df: DataFrame, html_col: str = "html") -> DataFrame:
    """E3 rebuild: derive extracted/cleaned text + language columns from raw
    html; the WARC two-pass offset membership (subsample_warc_warc.py:46-87)
    collapses into the single boolean ``is_zh`` column (SURVEY.md J1).

    Round 8: the three per-doc Python stages run as ONE fused pandas UDF
    (``extract_full``) — one ArrowEvalPython node instead of two chained
    ones, halving the Python boundary crossings (pinned by
    tests/test_plan_quality.py).

    The struct is emitted through ``inline(array(extract_full(html)))``,
    a Generate, not as a projected struct column. A filter on its output
    (``.where("is_zh")``) cannot move below a Generate, so one evaluation
    serves the filter and the kept columns; from a projection Catalyst
    pushed it down as a second ``extract_full(html).is_zh`` node over the
    same html. Filters on pass-through columns (``url``) still reach the
    scan. The price: the UDF runs even when none of its columns is kept."""
    # select('*', ...) DUPLICATES same-named input columns (ambiguous
    # references downstream, review finding) — raise instead; the guard
    # covers EVERY emitted column (ADVICE r7).
    out_names = ("extracted_text", "lang_pred", "lang_conf", "is_zh")
    clash = set(out_names) & set(df.columns)
    if clash:
        raise ValueError(
            f"with_extraction: input columns collide with the operator's "
            f"output names {sorted(clash)} — rename or drop them first"
        )
    extracted = F.inline(F.array(extract_full(F.col(html_col))))
    return df.select("*", extracted.alias(*out_names))
