"""Streaming line document-frequency maintenance: the boilerplate
detector's count table kept fresh per micro-batch, so line-level
dedup (operators/dedup.py::dedup_boilerplate_lines) can clean any
slice of the corpus against CORPUS-GLOBAL frequencies without a
rescan.

Additivity argument (why a distinct-count is streamable here): the
per-batch partial is (line, n_docs) with n_docs counted DISTINCT
WITHIN the batch, and a document arrives in exactly one micro-batch,
so summing partials over batches equals the corpus-wide
distinct-document count. A document replayed by at-least-once delivery
would break that, which the epoch layout of streaming/state.py rules
out: the replay rewrites its own epoch partition.

At 100 TB the heavy keys are exactly the boilerplate lines, which
map-side combine collapses to one row per (line, batch); the
maintained table is bounded by distinct lines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .state import StateSpec


def line_df_partial(
    batch_df: DataFrame, *, id_col: str = "doc_id",
    text_col: str = "text", sep: str = "\n",
) -> DataFrame:
    """One micro-batch -> (line, n_docs) partial document frequencies."""
    return (
        batch_df.select(
            F.col(id_col),
            F.explode(F.split(F.col(text_col), sep)).alias("line"),
        )
        .groupBy("line")
        .agg(F.countDistinct(id_col).alias("n_docs"))
    )


def line_df_state(**kw) -> StateSpec:
    """The (line, n_docs) table -- read, it is the ``line_counts=``
    input of dedup_boilerplate_lines; ``kw`` are ``line_df_partial``'s
    options."""
    return StateSpec(lambda df: line_df_partial(df, **kw), {"n_docs": "sum"})
