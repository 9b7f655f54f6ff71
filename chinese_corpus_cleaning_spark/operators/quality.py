"""Quality-evaluation operators: rule filter + feature words + scrub + score
as Arrow-vectorized pandas UDFs over a broadcast keyword trie.

Spark-first design (SURVEY.md §2.11, §3 E1):
  * ONE Series->Struct pandas UDF computes every per-document output in a
    single JVM<->Python Arrow round trip (the reference walks each document
    up to 6 times across rule/feature/score/scrub phases; here each text
    crosses the Arrow channel once and is scanned once per concern).
  * Only the ``text`` column is shipped to Python — Catalyst prunes
    everything else (html binary stays JVM-side).
  * keep/quality_score composition stays a native Column expression so the
    optimizer sees it (predicate pushdown on ``keep`` into downstream scans).
  * Per-document errors (e.g. the reference's ZeroDivisionError on empty
    text, rule_filter.py:383) become an ``error`` field instead of task
    failures — deterministic under task retries (SURVEY.md §4).

Reference decision path being reproduced: main.py:135-251 with the default
config (rule 0.3 + feature 0.5, threshold 0.8 — config.py:47-61).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ..config import DEFAULT, PipelineConfig
from ..functions.feature import evaluate_features
from ..functions.dfa import scan_positions as dfa_scan_positions
from ..functions.textstats import CHECK_NAMES, check_flags, compute_stats, rule_score

def _resolve(v):
    """Accept either a raw trie dict or a lazily-building TrieBox
    (sources/wordlists.py) as the broadcast payload."""
    return getattr(v, "trie", v)


_CHECK_FIELDS = [StructField(name, BooleanType()) for name in CHECK_NAMES]

QUALITY_SCHEMA = StructType(
    [
        StructField("rule_passed", BooleanType()),
        StructField("rule_checks", StructType(_CHECK_FIELDS)),
        StructField("rule_score", DoubleType()),
        StructField("feature_passed", BooleanType()),
        StructField("feature_count", IntegerType()),
        StructField("feature_words", ArrayType(StringType())),
        StructField("avg_feature_per_line", DoubleType()),
        StructField("feature_score", DoubleType()),
        StructField("scrubbed_text", StringType()),
        StructField("scrub_reasons", ArrayType(StringType())),
        StructField("error", StringType()),
    ]
)


def _err_row(msg: str) -> dict:
    """Full-width error row: every field explicitly None (a partial dict
    would leave pandas NaN in the struct column, which Arrow cannot convert
    to a null struct — found by the null-robustness tests)."""
    d = {f.name: None for f in QUALITY_SCHEMA.fields}
    d["error"] = msg
    return d


def _eval_one(text, trie, cfg: PipelineConfig) -> dict:
    if text is None:
        return _err_row("null_text")
    try:
        row = {f.name: None for f in QUALITY_SCHEMA.fields}
        if cfg.enable_rule:
            st = compute_stats(text)
            flags = check_flags(st, cfg.rule)
            rscore = rule_score(text, st, flags, cfg.rule)
            row["rule_passed"] = all(flags.values())
            row["rule_checks"] = flags
            row["rule_score"] = rscore
        # ONE DFA walk serves scrub + detect + per-line feature counts
        scrubbed, positions = dfa_scan_positions(text, trie)
        row["scrubbed_text"] = scrubbed
        row["scrub_reasons"] = sorted({w for _, w in positions})
        if cfg.enable_feature:
            feat = evaluate_features(text, trie, cfg.feature, matches=positions)
            row["feature_passed"] = feat.passed
            row["feature_count"] = feat.feature_count
            row["feature_words"] = feat.feature_words
            row["avg_feature_per_line"] = feat.avg_per_line
            row["feature_score"] = feat.score
        return row
    except ZeroDivisionError:
        # reference parity: empty text errors out of get_rule_score
        # (rule_filter.py:383) and is counted as an error doc (main.py:304-307)
        return _err_row("empty_text")
    except Exception as e:  # deterministic error isolation per doc
        return _err_row(f"{type(e).__name__}: {e}")


def make_quality_udf(trie_broadcast, cfg: PipelineConfig = DEFAULT):
    """Series->Struct pandas UDF; ``trie_broadcast`` is a SparkContext
    broadcast of the keyword trie (sources/wordlists.broadcast_trie)."""

    @F.pandas_udf(QUALITY_SCHEMA)
    def quality_eval(texts: pd.Series) -> pd.DataFrame:
        trie = _resolve(trie_broadcast.value)
        rows = [_eval_one(t, trie, cfg) for t in texts]
        out = pd.DataFrame(
            rows,
            columns=[f.name for f in QUALITY_SCHEMA.fields],
        )
        # struct sub-field for rule_checks must be a dict-like per row
        return out

    return quality_eval


def with_quality(
    df: DataFrame,
    trie_broadcast,
    cfg: PipelineConfig = DEFAULT,
    text_col: str = "text",
) -> DataFrame:
    """Append quality columns + native-expression composite score & keep.

    The composite mirrors main.py:219-251 over the ENABLED components:
    weighted mean of the present scores divided by the present weight mass
    (reference _calculate_quality_score; with both components disabled the
    reference returns 0.0, main.py:222-224); keep = score >= threshold
    (main.py:207-209). Error docs get quality_score NULL and keep=false.
    """
    reserved = (
        {"q", "quality_score", "keep"}
        | {f.name for f in QUALITY_SCHEMA.fields}
    ) & set(df.columns)
    if reserved:
        raise ValueError(
            f"with_quality: input columns collide with the operator's "
            f"output names {sorted(reserved)} — rename them first "
            f"(select('*','q.*') would emit duplicate columns and the "
            f"next F.col reference would be ambiguous; review finding)"
        )
    # Parallelism-recovery guard: without it a single-row-group scan runs
    # the whole per-doc Python evaluation on ONE worker (see
    # operators/partitioning.py for the doctrine and measurements).
    from .partitioning import ensure_min_parallelism

    df = ensure_min_parallelism(df)
    udf = make_quality_udf(trie_broadcast, cfg)
    df = df.withColumn("q", udf(F.col(text_col)))
    comps: list[tuple[Column, float]] = []
    if cfg.enable_rule:
        comps.append((F.col("q.rule_score"), cfg.weight_rule))
    if cfg.enable_feature:
        comps.append((F.col("q.feature_score"), cfg.weight_feature))
    total_w = sum(w for _, w in comps)
    if comps and total_w != 0:
        weighted = comps[0][0] * F.lit(comps[0][1])
        for c, w in comps[1:]:
            weighted = weighted + c * F.lit(w)
        score: Column = weighted / F.lit(total_w)
    else:
        # zero weight mass (components disabled, or a partial user weights
        # dict naming none of the enabled components): the reference returns
        # 0.0, not null (main.py:222-224, 244-246)
        score = F.lit(0.0)
    return (
        df.withColumn(
            "quality_score",
            F.when(F.col("q.error").isNull(), score),
        )
        .withColumn(
            "keep",
            F.coalesce(
                F.col("quality_score") >= F.lit(cfg.quality_threshold), F.lit(False)
            ),
        )
        .select("*", "q.*")
        .drop("q")
    )


def keep_drop_counters() -> list[Column]:
    """stats.json's counters (main.py:310-312) over with_quality's output,
    shared by the batch run's observe() and the stream's windowed_metrics."""
    return [
        F.count(F.lit(1)).alias("total"),
        F.sum(F.col("keep").cast("long")).alias("high_quality"),
        F.sum((~F.col("keep") & F.col("error").isNull()).cast("long")).alias(
            "low_quality"
        ),
        F.sum(F.col("error").isNotNull().cast("long")).alias("error"),
    ]


def scrub_udf(trie_broadcast):
    """Standalone scrub operator (reference DFAFilter.filter,
    sensitive_filter.py:72-104): text -> scrubbed (lowercased) text."""

    @F.pandas_udf(StringType())
    def scrub(texts: pd.Series) -> pd.Series:
        trie = _resolve(trie_broadcast.value)
        return texts.map(
            lambda t: None if t is None else dfa_scan_positions(t, trie)[0]
        )

    return scrub


def with_pii(df: DataFrame, text_col: str = "scrubbed_text") -> DataFrame:
    """Append PII-masking columns (pii_text, pii_reasons, n_phone, n_email, n_ip,
    n_id_number, n_url) computed over ``text_col`` — the north-star
    "regex-based PII scrub (phone, ID-number, URL)" the reference's fixtures
    imply (test_filter.py:104,117 plant 13917340054 / www.example.com) but
    its DFA word-list scrub never masks. Composes AFTER the DFA scrub (run
    on ``scrubbed_text``) so the byte-parity scrub output is untouched; a
    pure map-side native-Column projection (functions/pii.py), no UDF, no
    shuffle — the 100 TB cost is one extra scan of already-materialized
    strings."""
    from ..functions.pii import pii_columns

    return df.withColumns(pii_columns(text_col))


def pii_scrub(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Standalone PII scrub: (id, pii_text, pii_reasons, n_phone, n_email, n_ip,
    n_id_number, n_url). See with_pii / functions/pii.py for semantics and
    the three-engine portability contract."""
    from ..functions.pii import pii_columns

    return docs.select(
        F.col(id_col),
        *(v.alias(k) for k, v in pii_columns(text_col).items()),
    )
