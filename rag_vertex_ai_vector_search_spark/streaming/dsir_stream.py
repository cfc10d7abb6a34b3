"""Streaming DSIR model maintenance: hashed n-gram bucket counts kept
fresh per micro-batch, so importance scoring (operators/importance.py)
reads an incrementally-maintained raw-corpus model instead of
rescanning the corpus.

Bucket counts are purely additive (each document arrives in exactly
one batch), so the fold is one sum per bucket and the folded table is
bit-equal to the batch model by construction -- which makes
``dsir_log_importance(raw_counts=read_state(..., dsir_state()))``
score BIT-EQUAL to batch self-modeling.

The per-batch partial is AT MOST ``n_buckets`` rows (default 8192)
whatever the batch size -- the fixed hash-bucket space bounds both the
partial and the folded table, so this is the cheapest maintained table
in the streaming family. The TARGET model is typically static (a
curated corpus); maintain one of these per corpus if the target also
streams. Writing, streaming, reading and compacting go through
streaming/state.py.
"""

from __future__ import annotations

from ..operators.importance import hashed_gram_bucket_counts
from .state import StateSpec


def dsir_state(**kw) -> StateSpec:
    """The (bucket, n) model; ``kw`` are the options of
    ``hashed_gram_bucket_counts`` (``text_col``, ``n_buckets``,
    ``base_hash``)."""
    return StateSpec(
        lambda df: hashed_gram_bucket_counts(df, **kw), {"n": "sum"}
    )
