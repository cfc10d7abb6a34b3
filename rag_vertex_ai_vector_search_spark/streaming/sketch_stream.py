"""Streaming sketch maintenance: the HLL register, Count-Min counter,
Bloom word and histogram bin tables of ``operators/sketch.py`` kept
fresh per micro-batch.

Each table folds with its sketch's own merge, which is what makes the
epoch layout of streaming/state.py give the batch sketch of the whole
stream: HLL registers by MAX (commutative and idempotent), CMS
counters and histogram bins by SUM (additive, each row arriving in
exactly one batch), Bloom words by bit_or (commutative and
idempotent). So ``read_state(..., hll_state(...))`` ==
``hll_sketch(all_rows)`` and likewise for the other three
(tests/test_streaming_sketch.py proves it, plus replay idempotence).

State is bounded per epoch whatever the batch size: <= 2^p register
rows, depth x width counters, n_bits/32 words or n_bins bins PER
GROUP. Each factory's ``kw`` are its sketch function's options
(``group_cols``, ``p``, ``depth``, ``n_bits``, ``lo``/``hi`` ...).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators.sketch import (
    bloom_sketch,
    cms_sketch,
    histogram_sketch,
    hll_sketch,
)
from .state import StateSpec


def hll_state(*, col: str, **kw) -> StateSpec:
    """HLL registers ``(*group_cols, bucket, max_rho)``."""
    return StateSpec(
        lambda df: hll_sketch(df, col, **kw), {"max_rho": "max"}
    )


def cms_state(*, col: str, weight_col: str | None = None, **kw) -> StateSpec:
    """CMS counters ``(*group_cols, row, bucket, cnt)``. ``weight_col``
    names an integer column to count by (token counts etc.)."""
    return StateSpec(
        lambda df: cms_sketch(
            df, col,
            weight=None if weight_col is None else F.col(weight_col), **kw,
        ),
        {"cnt": "sum"},
    )


def bloom_state(*, col: str, **kw) -> StateSpec:
    """Bloom words ``(*group_cols, word, bits)`` -- the streaming half
    of membership tracking ("have we already ingested this URL")."""
    return StateSpec(
        lambda df: bloom_sketch(df, col, **kw), {"bits": "bit_or"}
    )


def histogram_state(*, col: str, **kw) -> StateSpec:
    """Equi-width histogram bins ``(*group_cols, bin, cnt)`` -- live
    distribution monitoring over a long-valued column."""
    return StateSpec(
        lambda df: histogram_sketch(df, col, **kw), {"cnt": "sum"}
    )
