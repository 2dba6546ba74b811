"""spread_small: widens narrow inputs, leaves wide ones alone, and
rejects a partition floor below 1."""

from __future__ import annotations

import pytest

from solar_logger_spark.operators.spread import spread_small


def test_spread_small_min_parts(spark):
    one = spark.range(100).coalesce(1)
    assert spread_small(one, min_parts=3).rdd.getNumPartitions() == 3
    assert spread_small(one).rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    wide = spark.range(100).repartition(5)
    assert spread_small(wide, min_parts=3) is wide  # never coalesces
    for bad in (0, -2):
        with pytest.raises(ValueError, match="min_parts"):
            spread_small(one, min_parts=bad)
