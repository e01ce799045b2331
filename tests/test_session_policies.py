"""The two shared physical policies in ``liken_spark.session``: the
repartition guard (``spread_to_cores``) and the broadcast byte gate
(``fits_broadcast``), plus the API's broadcast join-back that relies on
the gate."""

from __future__ import annotations

import pytest

import liken_spark as lk
from liken_spark.session import BROADCAST_BYTES, fits_broadcast, spread_to_cores


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_spread_to_cores_leaves_wide_input_alone(spark):
    cores = spark.sparkContext.defaultParallelism
    for parts in (cores, cores + 3):
        df = spark.range(0, 200, numPartitions=parts)
        out = spread_to_cores(df)
        assert out is df
        assert out.rdd.getNumPartitions() == parts
        assert "Exchange" not in _executed_plan(out)


def test_spread_to_cores_spreads_one_partition(spark):
    cores = spark.sparkContext.defaultParallelism
    assert cores > 1
    out = spread_to_cores(spark.range(0, 200, numPartitions=1))
    assert out.rdd.getNumPartitions() == cores
    assert "Exchange" in _executed_plan(out)
    assert sorted(r["id"] for r in out.collect()) == list(range(200))


def test_fits_broadcast_byte_boundary():
    assert BROADCAST_BYTES == 256 << 20
    # 2^20 rows of 28 + 228 bytes is exactly the budget
    assert fits_broadcast(1 << 20, 228)
    assert fits_broadcast(1, BROADCAST_BYTES - 28)
    # one byte above it
    assert not fits_broadcast(1, BROADCAST_BYTES - 27)


@pytest.mark.parametrize("id_col", ["i", "s"], ids=["numeric", "string"])
def test_unordered_canonicalize_broadcasts_canonical_map(spark, id_col):
    """collect_ordered=False joins a small canonical map back by broadcast,
    for a numeric (fixed-width estimate) and a string (measured-width)
    canonical column alike. The planner's own size-based broadcast is off,
    so a BroadcastHashJoin can only come from the gate's hint."""
    df = spark.createDataFrame(
        [(i, f"s{i}", ["alpha beta", "alpha betta", "gamma"][i % 3]) for i in range(30)],
        "i long, s string, t string",
    )
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        out = (
            lk.dedupe(df, collect_ordered=False)
            .apply({"t": lk.fuzzy(threshold=0.8)})
            .canonicalize(id=id_col)
            .collect()
        )
        assert "BroadcastHashJoin" in _executed_plan(out)
    finally:
        spark.conf.set(key, prev)
    assert out.count() == 30
