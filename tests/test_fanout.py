"""Scan fan-out (operators/fanout.py): the plan rule, the env off switch,
the under-split gate and result identity.

The plan-shape consequences (round-robin exchange ahead of the dedup
emissions) are pinned in test_plans.py alongside the r12 signature
fan-out pin this generalizes."""

from __future__ import annotations

import re

from cdmx_airquality_etl_spark.operators import fanout as FO
from cdmx_airquality_etl_spark.sources.parquet import load_table


def _plan(df) -> str:
    # expression and exchange ids differ between loads of the same table
    plan = df._jdf.queryExecution().executedPlan().toString()
    return re.sub(r"#\d+L?|plan_id=\d+", "#", plan)


def test_env_off_is_identity(spark, sf_dir, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_SCAN_FANOUT", "0")
    docs = load_table(spark, sf_dir, "documents")
    assert FO.scan_fanout_parallelism(spark) == 0
    assert FO.fan_out_scan(docs) is docs


def test_rule_fans_under_split_scan_to_default_parallelism(
    spark, sf_dir, monkeypatch
):
    # the rule depends only on the scan's split count and the session
    # config: engaged at cluster width, and the same plan on every call
    monkeypatch.delenv("SPARK_GRAFT_SCAN_FANOUT", raising=False)
    dp = spark.sparkContext.defaultParallelism
    assert dp > 1
    assert FO.scan_fanout_parallelism(spark) == dp
    docs = load_table(spark, sf_dir, "documents")
    assert docs.rdd.getNumPartitions() < dp  # single-row-group test file
    fanned = FO.fan_out_scan(docs)
    again = FO.fan_out_scan(load_table(spark, sf_dir, "documents"))
    # compared before either runs: execution finalizes the AQE plan string
    assert "RoundRobinPartitioning" in _plan(fanned)
    assert _plan(fanned) == _plan(again)
    assert fanned.rdd.getNumPartitions() == dp


def test_already_wide_input_is_left_alone(spark, sf_dir, monkeypatch):
    # an input at/above cluster width gets nothing inserted — the
    # large-table no-op property (real scans split past defaultParallelism)
    monkeypatch.delenv("SPARK_GRAFT_SCAN_FANOUT", raising=False)
    docs = load_table(spark, sf_dir, "documents")
    wide = docs.repartition(spark.sparkContext.defaultParallelism)
    assert FO.fan_out_scan(wide) is wide


def test_results_identical_with_and_without_fanout(spark, sf_dir, monkeypatch):
    # the correctness contract: a fan-out only moves rows; every consumer
    # aggregates exact integers / row-local scores, so results match
    # bit-for-bit whichever shape runs
    from cdmx_airquality_etl_spark import QUERIES

    def rows():
        return sorted(
            map(tuple, QUERIES["q_dedup_fuzzy"](spark, sf_dir).collect())
        )

    monkeypatch.setenv("SPARK_GRAFT_SCAN_FANOUT", "0")
    off = rows()
    monkeypatch.delenv("SPARK_GRAFT_SCAN_FANOUT")
    on = rows()
    assert off == on
    assert off  # non-vacuous: sf0.001 has fuzzy pairs
