"""Cluster-score banding (J3) vs the reference's get_cluster_score
(clustering.py:187-207), executed standalone (the module imports
torch/sklearn, absent here). The reference method depends only on
duplicate_ratio, which both sides take as the input — so the banding
arithmetic is compared exactly over a dense ratio sweep + fuzz."""

from __future__ import annotations

import ast
import os

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

REF = "/root/reference/text_quality_filter/utils/clustering.py"

pytestmark = pytest.mark.skipif(
    not os.path.exists(REF), reason="reference repo not available"
)


class _FakeSelf:
    similarity_threshold = 0.85

    def __init__(self, ratio):
        self._r = ratio

    def get_duplicate_ratio(self, text):
        return self._r


@pytest.fixture(scope="module")
def ref_cluster_score():
    tree = ast.parse(open(REF, encoding="utf-8").read())
    ns: dict = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.FunctionDef) and node.name == "get_cluster_score":
            exec(compile(ast.Module(body=[node], type_ignores=[]), REF, "exec"), ns)
    return lambda ratio: ns["get_cluster_score"](_FakeSelf(ratio), "")


@pytest.fixture(scope="module")
def ours(spark):
    """Evaluate cluster_score_col through Spark for a batch of ratios."""
    from pyspark.sql import functions as F

    from chinese_corpus_cleaning_spark.operators.similarity import cluster_score_col

    def f(ratios):
        df = spark.createDataFrame([(r,) for r in ratios], "dup_ratio double")
        return [
            r["s"]
            for r in df.select(
                cluster_score_col("dup_ratio").alias("s")
            ).collect()
        ]

    return f


def test_banding_sweep(ref_cluster_score, ours):
    ratios = [i / 200.0 for i in range(201)] + [0.85, 0.8499999, 0.8500001, 1.0]
    got = ours(ratios)
    for r, g in zip(ratios, got):
        assert g == ref_cluster_score(r), r


@settings(max_examples=200, deadline=None)
@given(ratio=st.floats(min_value=0.0, max_value=1.0, allow_nan=False))
def test_banding_fuzz(ref_cluster_score, ratio):
    # pure-python twin (same Column arithmetic) for fast fuzzing
    thr = 0.85
    over = max(0.0, 0.2 * (1.0 - (ratio - thr) / (1.0 - thr)))
    under = min(1.0, 0.8 + 0.2 * (1.0 - ratio / thr))
    mine = over if ratio >= thr else under
    assert mine == ref_cluster_score(ratio)
