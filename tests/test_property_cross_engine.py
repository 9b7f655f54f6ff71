"""Property-based cross-engine agreement for the repo's decision-path
primitives: hypothesis GENERATES adversarial unicode inputs driver-side,
then each test ships ONE batch through Spark and DuckDB and compares
against the Python twin — three engines, one job per batch (per-example
Spark jobs would be prohibitively slow; the batch shape keeps the whole
file in seconds).

These primitives already have fixed-fixture parity pins (test_pii,
test_pack_sequences, the oracle-parity replica); the property layer's
job is the tails those fixtures cannot enumerate: astral codepoints,
exotic Unicode whitespace, regex metacharacters, quote/backslash soup,
surrogate-adjacent boundaries.
"""

from __future__ import annotations

import duckdb
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from chinese_corpus_cleaning_spark.functions.hashing import (
    h60,
    lsh_band_keys,
    minhash_signature,
)
from chinese_corpus_cleaning_spark.functions.pii import mask_pii, pii_columns
from chinese_corpus_cleaning_spark.operators.sampling import token_count_sql

# text alphabet: ASCII + CJK + full-width + exotic whitespace + regex
# metacharacters + a few astral chars (Spark strings are UTF-8, DuckDB
# too; Python str is codepoints — exactly the length()-semantics split
# the portable expressions must survive)
_ALPHABET = st.sampled_from(
    list("abc XyZ.,!?'\"\\|()[]{}*+-_@#:/=%$^&~`")
    + list("中文汉字测试语料数据质量")
    + list("０１２３４５６７８９ＸｘＡ")
    + list("\t\n\r\u3000\u00a0\u2028\u2029\u205f")
    + ["😀", "𝕏", "\U0002070e"]  # astral: emoji, math bold, CJK ext-B
)
_TEXTS = st.lists(
    st.text(alphabet=_ALPHABET, min_size=0, max_size=80),
    min_size=1,
    max_size=24,
)

_SLOW = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _py_token_count(t: str) -> int:
    import re

    cjk = len(re.findall(r"[一-鿿]", t))
    resid = re.sub(r"[一-鿿]", " ", t)
    return cjk + len([w for w in re.split(r"\s+", resid) if w])


@_SLOW
@given(texts=_TEXTS)
def test_cjk_token_count_three_engines(spark, texts):
    """token_count_sql('cjk') == Python-re twin == DuckDB twin on
    arbitrary unicode (incl. astral chars and every Python-\\s
    separator)."""
    from chinese_corpus_cleaning_spark.functions.spam import PY_WS_CLASS

    rows = list(enumerate(texts))
    df = spark.createDataFrame(rows, "i long, text string")
    got = {
        r["i"]: r["n"]
        for r in df.select(
            "i", F.expr(token_count_sql("text")).cast("long").alias("n")
        ).collect()
    }
    nonws = "[^" + PY_WS_CLASS[1:] + "+"
    con = duckdb.connect()
    con.execute("create table t(i bigint, text varchar)")
    con.executemany("insert into t values (?, ?)", rows)
    duck = dict(
        con.execute(
            "select i, len(regexp_extract_all(coalesce(text,''), '[一-鿿]'))"
            " + len(regexp_extract_all(regexp_replace(coalesce(text,''),"
            f" '[一-鿿]', ' ', 'g'), '{nonws}')) from t"
        ).fetchall()
    )
    con.close()
    for i, t in rows:
        expect = _py_token_count(t)
        assert got[i] == expect, (t, got[i], expect)
        assert duck[i] == expect, (t, duck[i], expect)


@_SLOW
@given(texts=_TEXTS)
def test_pii_mask_three_engines(spark, texts):
    """pii_columns (Spark) == mask_pii (Python) byte-for-byte on
    arbitrary unicode; counts agree too. (The DuckDB twin is pinned by
    the pii_scrub oracle row; here the adversarial axis is the input.)"""
    rows = list(enumerate(texts))
    df = spark.createDataFrame(rows, "i long, text string")
    cols = pii_columns("text")
    got = {
        r["i"]: r
        for r in df.select(
            "i", *(v.alias(k) for k, v in cols.items())
        ).collect()
    }
    for i, t in rows:
        masked, reasons, counts = mask_pii(t)
        assert got[i]["pii_text"] == masked, t
        assert list(got[i]["pii_reasons"]) == reasons, t
        for reason, n in counts.items():
            assert got[i][f"n_{reason}"] == n, (t, reason)


@_SLOW
@given(texts=_TEXTS)
def test_minhash_band_keys_python_vs_spark(spark, texts):
    """with_minhash (one Arrow UDF: shingles, h60, perm-min, band keys)
    reproduces functions/hashing.minhash_signature + lsh_band_keys
    exactly on arbitrary unicode — the signature is THE dedup decision
    surface, so a single codepoint-length divergence would silently
    shift candidate pairs."""
    from chinese_corpus_cleaning_spark.config import DedupConfig
    from chinese_corpus_cleaning_spark.functions.hashing import char_shingles
    from chinese_corpus_cleaning_spark.operators.dedup import with_minhash

    cfg = DedupConfig(num_hashes=16, num_bands=4, shingle_size=5)
    rows = list(enumerate(texts))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (list(r["minhash"]), list(r["band_keys"]))
        for r in with_minhash(df, cfg).collect()
    }
    for i, t in rows:
        sig = minhash_signature(char_shingles(t, 5), cfg.num_hashes)
        keys = lsh_band_keys(sig, cfg.num_bands)
        assert got[i][0] == sig, t
        assert got[i][1] == keys, t


@pytest.mark.parametrize("bad_bands", [3, 5, 7])
def test_band_key_divisibility_guard(bad_bands):
    with pytest.raises(ValueError, match="divisible"):
        lsh_band_keys(list(range(16)), bad_bands)
