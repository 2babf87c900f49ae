"""Explicit skew handling (north rule: partitioning/shuffle/skew explicit).

Web pages cluster by host; a host-ordered or host-partitioned input feeds some
tasks 30% of all bytes. AQE cannot rebalance a skewed *UDF compute* stage
(it only splits shuffle reads for joins), so we pre-shuffle on a salted hash
of the url so every partition receives a uniform url mix — the distributed
analogue of the reference's uniform thread-pool dispatch
(executable.py:536-551)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_SALT = 1469598103  # fixed: determinism across runs


def salted_repartition(df: DataFrame, num_partitions: int) -> DataFrame:
    """Hash-repartition on xxhash64(url, DEFAULT_SALT) — uniform over hosts,
    stable across runs (resume-safe: a row's partition id is a pure function
    of the url).

    NOTE: the raw 64-bit hash is passed to repartition, which applies its own
    murmur3 + mod. Pre-modding to [0, P) here would feed only P distinct
    values into that second hash, whose collisions then leave ~37% of
    partitions empty and others 2-3x overloaded (observed; caught by
    tests/test_cli_skew.py)."""
    return df.repartition(
        num_partitions, F.xxhash64(F.col("url"), F.lit(DEFAULT_SALT))
    )
