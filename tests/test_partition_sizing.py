"""The engine's one partition-sizing rule (``sources.readers.data_partitions``)
and the table-scan fan-out that uses it: one task per 128 KiB of parquet,
no round-robin exchange below one task's worth, capped at the cluster's
parallelism."""

from __future__ import annotations

import os
import re

import pytest

import __spark_entry__ as entrymod
from etl_globalretail_spark.sources.readers import (
    SPREAD_BYTES_PER_TASK,
    data_partitions,
    load_table,
)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_data_partitions_rule(spark):
    per_task = 128 << 10
    assert data_partitions(spark, 0, per_task) == 1
    assert data_partitions(spark, per_task, per_task) == 1
    assert data_partitions(spark, per_task + 1, per_task) == min(
        2, spark.sparkContext.defaultParallelism
    )
    assert data_partitions(spark, 1 << 50, per_task) == spark.sparkContext.defaultParallelism


@pytest.mark.parametrize("table", ["documents", "orders", "lineitem"])
def test_small_scan_has_no_round_robin(spark, sf_dir, table):
    """Every one of these sf0.001 files is below 128 KiB (lineitem at
    117 KB is the closest), so the scan stays one task with no exchange."""
    assert os.path.getsize(f"{sf_dir}/{table}.parquet") <= SPREAD_BYTES_PER_TASK
    assert "RoundRobinPartitioning" not in _plan(load_table(spark, table, sf_dir))


def test_sf0_01_lineitem_spreads_to_eight_capped(spark, sf_dir):
    """sf0.01 lineitem (1 042 463 B) is 8 tasks' worth of bytes."""
    sf0_01 = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    plan = _plan(load_table(spark, "lineitem", sf0_01))
    want = min(8, spark.sparkContext.defaultParallelism)
    assert re.findall(r"RoundRobinPartitioning\((\d+)\)", plan) == (
        [str(want)] if want > 1 else []
    ), plan


def test_q279_kernels_read_one_unspread_partition(spark, sf_dir):
    """q279's Arrow kernels over sf0.001 documents (65 KB) run in one task:
    no round-robin exchange under the MapInPandas, so one Python worker."""
    plan = _plan(entrymod.queries()["q279_image_decode"](spark, sf_dir))
    below = plan[plan.index("MapInPandas"):]
    assert "RoundRobinPartitioning" not in below, plan
