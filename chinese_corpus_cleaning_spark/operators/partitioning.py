"""Parallelism-recovery guard shared by the compute-heavy operators.

Guide §2.5 ("input skew: one huge unsplittable file ... repartition
immediately after the read"): an operator's map-side work inherits the
INPUT's partition count, and a small parquet file (one row-group) or a
single gzip member scans as ONE partition — the whole corpus then runs on
one core / one Python worker while the rest of the cluster idles. Measured
round 8: the sf0.1 documents and embeddings tables are each one ~600 KB
row-group, so the quality UDF, the cosine pair scans, and the n-gram
explodes were all single-task-bound regardless of core count.

The guard round-robin-repartitions to the cluster's default parallelism
ONLY when the plan under-partitions; at production scale inputs carry at
least `cores` partitions and this is a no-op, so no data movement is
introduced where it would matter. Round-robin is not a hashpartitioning on
any column — the repo's text-shuffle audits (no text-KEYED exchange) are
untouched — and Spark's sort-before-repartition keeps the row-to-partition
assignment deterministic under task retry (SPARK-23207).

The guard is for CPU-bound per-row work. A latency-bound exchange chain
over kilobytes takes the opposite rule: dedup pairs a signature table
that fits its broadcast budget on the driver, with no exchange (each one
a Spark job) at all.

The module also owns every size-adaptive decision an operator takes from
an observed count (``checkpoint_observed``): the operator materializes a
frame it reuses anyway, reads the count off that same job, and picks its
physical arm from it. No caller-set option chooses a join strategy.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F


def _shuffles(plan) -> list[tuple[str, int]]:
    """(origin, partition count) of each shuffle exchange that can shape
    ``plan``'s output partitioning; a broadcast side never does."""
    name = plan.getClass().getSimpleName()
    if name == "BroadcastExchangeExec":
        return []
    found = []
    if name == "ShuffleExchangeExec":
        n = plan.outputPartitioning().numPartitions()
        found.append((plan.shuffleOrigin().toString(), n))
    children = plan.children().iterator()
    while children.hasNext():
        found += _shuffles(children.next())
    return found


def num_partitions(df: DataFrame) -> int:
    """``df.rdd.getNumPartitions()``, read off the physical plan whenever
    the plan fixes the count, so that no Spark job runs.

    Under AQE a frame above an Exchange plans as an AdaptiveSparkPlan, and
    its ``rdd`` runs every shuffle map stage below it: asking an
    ``xxhash64(url)``-repartitioned ingest frame for its count re-ran the
    whole HTML extraction and its shuffle write as a job of its own. The
    planned count is final when every shuffle is a ``repartition(n, ...)``
    (origin REPARTITION_BY_NUM: AQE never coalesces or splits one) and the
    output count is one of theirs. Any other shuffle (a join or ``groupBy``
    exchange, ``repartition(col)``) may be coalesced at run time, so those
    plans take the ``rdd`` probe, as do plans with no shuffle (a scan's
    split count, for which nothing runs)."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.executedPlan()  # the initial plan: nothing has run yet
        n = plan.outputPartitioning().numPartitions()
        shuffles = _shuffles(plan)
        origins = {origin for origin, _ in shuffles}
        if origins == {"REPARTITION_BY_NUM"} and n in {k for _, k in shuffles}:
            return n
    return df.rdd.getNumPartitions()


def ensure_min_parallelism(df: DataFrame) -> DataFrame:
    """Repartition ``df`` to ``defaultParallelism`` iff it has fewer
    partitions (batch plans only — streaming plans pass through).

    It runs while an operator BUILDS its plan, so its probe
    (``num_partitions``, plan-only where the plan fixes the count) must
    never execute that plan: a probe that ran the shuffle stages below
    made building ``pipeline.quality_filter_plan`` a Spark job of its own,
    which the real write then repeated."""
    if df.isStreaming:
        return df
    want = df.sparkSession.sparkContext.defaultParallelism
    if num_partitions(df) < want:
        return df.repartition(want)
    return df


def checkpoint_observed(
    df: DataFrame, name: str, *metrics: Column
) -> tuple[DataFrame, dict]:
    """Eager ``localCheckpoint`` of ``df`` with ``metrics`` (default: the
    row count as ``n``) observed on that same job; returns ``(frame,
    values)``.

    This is how a size-adaptive operator learns its input size at zero
    extra Spark jobs: the checkpoint is needed anyway (the frame has
    several consumers, or an iterative loop would otherwise re-execute
    its lineage), and the aggregates ride it. localCheckpoint rather than
    cache+count: one job instead of two, lineage truncated, and blocks
    freed with the frame instead of pinned across calls. ``name`` labels
    the observation; it must be unique within the plan of ``df``."""
    obs = Observation(name)
    frame = df.observe(
        obs, *(metrics or (F.count(F.lit(1)).alias("n"),))
    ).localCheckpoint(eager=True)
    return frame, obs.get
