"""Streaming n-gram count maintenance: the LM-quality ladder's count
tables kept fresh per micro-batch, so surprisal scoring reads an
incrementally-maintained model instead of rescanning the corpus.

ONE table is the sufficient statistic for the whole interpolated
ladder: trigram POSITION counts (prev2, prev, word, n) over the
BOS-padded position stream. Every lower-order table the scorer needs
derives from it by exact integer sums -- bigram counts (sum over
prev2), context counts (sum over word), unigram counts (sum over
contexts), corpus totals -- so maintaining the highest order maintains
them all, and the derived tables are bit-equal to batch recomputation
by construction (pure bigint arithmetic, no floats anywhere).

Position counts are additive (each document arrives in exactly one
micro-batch), so the fold is one sum per trigram. The per-batch
partial is bounded by the batch's distinct trigrams. Writing,
streaming, reading and compacting go through streaming/state.py.
"""

from __future__ import annotations

from ..operators.lm_quality import trigram_position_counts
from .state import StateSpec


def ngram_state(**kw) -> StateSpec:
    """The (prev2, prev, word, n) table -- read, it is the ``counts=``
    input of trigram_surprisal; ``kw`` are the options of
    ``trigram_position_counts`` (``id_col``, ``text_col``)."""
    return StateSpec(
        lambda df: trigram_position_counts(df, **kw), {"n": "sum"}
    )
