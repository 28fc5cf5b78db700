"""Fan-out of under-split scans (guide §2.1/§2.6/§6).

Every driver test table is a single-row-group parquet file, so its scan
is ONE task and all pre-exchange compute — shingling, anchor/prefix
emission, the Arrow signature kernels — runs single-threaded however
wide ``local[N]`` is. A large table's scan splits by
``maxPartitionBytes`` into more tasks than cores; ``fan_out_scan``
restores that shape at test scale.

Rule: round-robin the scan to ``defaultParallelism`` partitions iff it
has fewer partitions than that (and ``defaultParallelism > 1``). The plan
depends only on the input's split count and the session config, so the
same input yields the same plan on every run; a scan that already splits
to cluster width gets nothing inserted. ``SPARK_GRAFT_SCAN_FANOUT=0``
disables the rule.

Correctness: a repartition only moves rows, and every consumer is
insensitive to partition order — each aggregates exact integers or
computes row-local scores — so placement cannot change a result.
``spark.sql.execution.sortBeforeRepartition`` (default on) keeps the
round-robin assignment deterministic under task retries.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def scan_fanout_parallelism(spark: SparkSession) -> int:
    """Target partition count for under-split scans, or 0 to leave
    scans alone (``SPARK_GRAFT_SCAN_FANOUT=0`` or a 1-core session)."""
    if os.environ.get("SPARK_GRAFT_SCAN_FANOUT") == "0":
        return 0
    dp = spark.sparkContext.defaultParallelism
    return dp if dp > 1 else 0


def fan_out_scan(df: DataFrame) -> DataFrame:
    """Round-robin ``df`` to cluster width iff it is under-split (see
    module docstring); otherwise return ``df`` itself."""
    n = scan_fanout_parallelism(df.sparkSession)
    if not n or df.rdd.getNumPartitions() >= n:
        return df
    return df.repartition(n)
