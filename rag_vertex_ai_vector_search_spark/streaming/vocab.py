"""Streaming vocabulary maintenance: word counts kept fresh per
micro-batch, so tokenizer corpus-prep (vocab coverage, BPE pair stats)
reads an incrementally-maintained table instead of rescanning the
corpus.

Word counts are purely additive (each document arrives in exactly one
micro-batch), so the fold is one sum per word and the folded table is
bit-equal to the batch count by construction. The partial per batch is
bounded by the batch's distinct words (map-side combine does the
reduction). Writing, streaming, reading and compacting go through
streaming/state.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import normalized_text
from .state import StateSpec


def vocab_partial(batch_df: DataFrame, *, text_col: str = "text") -> DataFrame:
    """One micro-batch -> (word, n) partial counts."""
    return (
        batch_df.select(
            F.explode(
                F.split(normalized_text(F.col(text_col)), " ")
            ).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def vocab_state(**kw) -> StateSpec:
    """The (word, n) table; ``kw`` are ``vocab_partial``'s options."""
    return StateSpec(lambda df: vocab_partial(df, **kw), {"n": "sum"})
