"""Streaming incremental rollup: a materialized view maintained per
micro-batch (the hypertable-continuous-aggregate pattern, Spark-first).

``q_events_hourly`` (hour x event_type aggregate) recomputed from raw
events costs O(history) every refresh; at 100 TB of events that is the
difference between a dashboard and a daily job. This module maintains
the same result INCREMENTALLY with O(batch) work per micro-batch:

- Each micro-batch is reduced to PARTIAL aggregates at
  (hour, event_type, user_id) grain -- additive counts and exact
  DECIMAL sums, plus the user grain so the non-additive
  ``countDistinct(user_id)`` stays derivable (the classic two-level
  exact-distinct design; swap the user grain for an HLL sketch column
  when approximate distinct is acceptable at extreme cardinality).
  Counts and DECIMAL sums are associative, so the partial table folds
  by sum per grain key (``rollup_state``; writing, streaming and
  compacting go through streaming/state.py).
- ``read_rollup`` folds all epochs to the final (hour, event_type)
  view: sums of partials for the additive measures, count-distinct over
  the user grain for n_users. Bit-equal to the batch query by
  construction (see tests/test_streaming_rollup.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .state import StateSpec

_DEC = "decimal(18,2)"


def _partial(batch_df: DataFrame) -> DataFrame:
    return (
        batch_df.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"),
            F.col("event_type"),
            F.col("user_id"),
        ).agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast(_DEC)).alias("sum_value"),
        )
    )


def rollup_state() -> StateSpec:
    """The (hour, event_type, user_id) partial-aggregate table."""
    return StateSpec(_partial, {"n_events": "sum", "sum_value": "sum"})


def read_rollup(spark: SparkSession, rollup_path: str) -> DataFrame:
    """The materialized view: fold partials to (hour, event_type).

    Matches the batch ``events_hourly`` aggregate exactly: counts and
    DECIMAL sums are associative, and distinct users survive the
    partial grain."""
    partials = spark.read.parquet(rollup_path)
    return (
        partials.groupBy("hour", "event_type")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("sum_value").cast("double").alias("sum_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )
