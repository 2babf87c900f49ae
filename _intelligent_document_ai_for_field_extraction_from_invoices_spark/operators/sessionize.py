"""Ordered/window operators over the events table.

Sessionization is the classic lag + boundary-flag pattern (SURVEY W1: the
reference's line-grouping `normalizer.py:485-535` — group while the gap is
small — is the same sessionization shape over y-coordinates instead of
time)."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

SESSION_GAP_MIN = 30


def _new_session_flag():
    """1 on the first event of a session, else 0 (lag over the per-user
    time order). Microsecond-exact epoch: ts is TIMESTAMP_NTZ; fractional
    seconds matter for the gap comparison, and the oracle uses epoch_us."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ep = F.unix_micros(F.col("ts").cast("timestamp_ltz"))
    gap_us = ep - F.lag(ep).over(w)
    return F.when(
        gap_us.isNull() | (gap_us > SESSION_GAP_MIN * 60 * 1_000_000), F.lit(1)
    ).otherwise(F.lit(0))


def session_counts(events: DataFrame) -> DataFrame:
    """Per-user session/event counts: a session starts when the gap from
    the user's previous event exceeds SESSION_GAP_MIN minutes, so the
    session count is the sum of the boundary flags (the first event always
    flags 1) — one lag window + a hash aggregate, no running-sum window."""
    flagged = events.withColumn("new_sess", _new_session_flag())
    return flagged.groupBy("user_id").agg(
        F.sum("new_sess").alias("n_sessions"),
        F.count("*").alias("n_events"),
    )


def best_event_per_user(events: DataFrame) -> DataFrame:
    """Deterministic per-group argmax (SURVEY A1: explicit tie-break columns,
    never bare first())."""
    w = Window.partitionBy("user_id").orderBy(
        F.desc("value"), F.asc("ts"), F.asc("event_id")
    )
    return (
        events.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "event_type", "value")
    )
