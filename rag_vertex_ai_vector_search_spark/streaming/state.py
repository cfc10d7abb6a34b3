"""Maintained state tables: the one epoch-partitioned sink behind every
key-wise fold the streaming family keeps fresh (vocab, n-gram,
line-df, DSIR, DoReMi, rollup, HLL, CMS, Bloom, histogram).

A table is a ``StateSpec``: ``partial`` turns one micro-batch into
partial rows, and ``folds`` maps each value column to ``"sum"``,
``"max"`` or ``"bit_or"``; every other stored column except ``_epoch``
is the key (operators/sketch.py::keyed_fold). Four functions run any
spec: ``apply_state_batch`` writes one batch, ``stream_state``
attaches the sinks to a stream, ``read_state`` folds the table, and
``compact_state`` folds its epochs into one base partition.

Exactly-once by layout: each micro-batch's partial lands under
``_epoch=<epoch_id>`` with writer-scoped dynamic partition overwrite
(never a session conf, so no other write is affected). Foreach-batch
delivery is at-least-once; a replayed epoch rewrites its own partition
wholesale, so the table holds each epoch exactly once whatever the
number of replays, and the read-time fold over epochs equals the fold
of the whole stream. One batch may feed several sinks; a crash between
two of them is safe for the same reason, because the checkpoint has
not committed the epoch and the replay rewrites every sink's epoch
partition, the ones already written included. Folds must be
commutative and associative over partials, which each family states
for its own table.

``compact_state`` replaces the whole table with the folded ``_epoch=-1``
base partition to bound read amplification; run it with the stream
paused. The overwrite is pinned static on the writer: under a session
``partitionOverwriteMode=dynamic`` a plain overwrite would replace only
``_epoch=-1`` and leave the old epochs beside it, double counting every
key on the next read.
"""

from __future__ import annotations

from typing import Callable, Mapping, NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.sketch import keyed_fold


class StateSpec(NamedTuple):
    """One maintained table: the batch -> partial rows function and the
    fold of each value column (``"sum"``, ``"max"`` or ``"bit_or"``)."""

    partial: Callable[[DataFrame], DataFrame]
    folds: Mapping[str, str]


def apply_state_batch(
    batch_df: DataFrame, epoch_id: int, sinks: Mapping[str, StateSpec]
) -> None:
    """foreachBatch body: write each sink's partial under ``_epoch=<id>``
    of its path. A batch feeding several sinks is persisted once."""
    shared = len(sinks) > 1
    if shared:
        batch_df.persist()
    try:
        for path, spec in sinks.items():
            (
                spec.partial(batch_df)
                .withColumn("_epoch", F.lit(int(epoch_id)))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("_epoch")
                .parquet(path)
            )
    finally:
        if shared:
            batch_df.unpersist()


def stream_state(
    stream_df: DataFrame, sinks: Mapping[str, StateSpec], *,
    checkpoint_dir: str,
):
    """Start one streaming query maintaining every ``{path: spec}``
    sink from ``stream_df``."""
    return (
        stream_df.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(lambda df, eid: apply_state_batch(df, eid, sinks))
        .start()
    )


def read_state(spark: SparkSession, path: str, spec: StateSpec) -> DataFrame:
    """Fold all epoch partials to the current table."""
    return keyed_fold(spark.read.parquet(path), spec.folds)


def compact_state(spark: SparkSession, path: str, spec: StateSpec) -> None:
    """Fold all epochs into the ``_epoch=-1`` base partition (static
    overwrite, see the module docstring); run with the stream paused."""
    folded = (
        read_state(spark, path, spec)
        .withColumn("_epoch", F.lit(-1))
        .localCheckpoint(eager=True)  # cut lineage off the replaced files
    )
    (
        folded.write.mode("overwrite")
        .option("partitionOverwriteMode", "static")
        .partitionBy("_epoch")
        .parquet(path)
    )
