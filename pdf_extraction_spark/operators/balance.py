"""Under-split input guard for expensive Arrow-batched kernels.

Every codec/extraction operator in this engine is an embarrassingly
parallel per-document kernel (``mapInPandas`` with no shuffle).  That
plan is exactly right at crawl scale, where the scan itself yields
thousands of input splits — but ``mapInPandas`` can never run wider
than its input partitioning, and a small parquet file with a single
row group (or any unsplittable input: one gzip member, one tiny file)
yields ONE split, serializing the whole kernel onto one core while the
rest of the cluster idles.

``rebalance_if_undersplit`` is the standard Spark remedy ("repartition
before an expensive UDF when the scan under-splits"): when — and only
when — the input's partition count is below the cluster's default
parallelism, insert one round-robin Exchange ahead of the kernel.  The
data moved is the operator's (small) input rows, never the kernel's
output.  At 100 TB the scan provides >= cores splits and the guard is
a no-op: no Exchange appears in the plan, preserving the shuffle-free
scale shape (asserted both ways in tests/test_plan_quality.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def _explicit_shuffle_width(df: DataFrame) -> int | None:
    """Partition count of ``df`` read off its physical plan, when the
    plan's root is an explicit-count ``repartition(n, ...)`` exchange;
    None for every other plan.

    ``df.rdd.getNumPartitions()`` on such a plan is not free: under AQE
    it executes every shuffle stage below the root to learn the final
    partitioning, i.e. a full scan + shuffle job.  The pre-AQE physical
    plan already carries the answer, and it is exact: AQE never
    coalesces a REPARTITION_BY_NUM shuffle.  Range partitioning is left
    out because its sampled bounds may yield fewer partitions than asked.
    """
    plan = df._jdf.queryExecution().sparkPlan()
    if plan.getClass().getSimpleName() != "ShuffleExchangeExec":
        return None
    if plan.shuffleOrigin().toString() != "REPARTITION_BY_NUM":
        return None
    partitioning = plan.outputPartitioning()
    if partitioning.getClass().getSimpleName() == "RangePartitioning":
        return None
    return partitioning.numPartitions()


def rebalance_if_undersplit(df: DataFrame) -> DataFrame:
    """Round-robin repartition ``df`` to the cluster's default
    parallelism iff its current partitioning is narrower.  Streaming
    DataFrames and anything whose partition count cannot be probed are
    returned unchanged.

    The probe launches no Spark job over an explicit repartition (read
    off the plan) or an exchange-free scan (``df.rdd`` of a scan only
    plans its splits); an aggregate's width is still probed through
    ``df.rdd``, which runs its shuffle stages so AQE's coalescing shows.
    """
    try:
        if df.isStreaming:
            return df
        spark = df.sparkSession
        target = spark.sparkContext.defaultParallelism
        width = _explicit_shuffle_width(df)
        if width is None:
            width = df.rdd.getNumPartitions()
        if width < target:
            return df.repartition(target)
    except Exception:
        pass
    return df
