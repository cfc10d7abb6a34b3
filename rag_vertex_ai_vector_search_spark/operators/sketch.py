"""Mergeable sketches as DataFrames: HyperLogLog register tables
(distinct counts) and Count-Min counter tables (frequencies).

At 100 TB, "how many distinct users/URLs/tokens per group" is a core
corpus statistic, but exact count(distinct) shuffles every distinct
value. An HLL register table is the mergeable alternative (Flajolet et
al. 2007; the same structure Spark's own approx_count_distinct and
BigQuery's HLL_COUNT maintain): 2^p integer registers per group --
tiny, unioned by register-wise MAX -- so sketches from shards, days,
or streaming micro-batches merge without re-reading data. This module
keeps the registers as plain (group, bucket, max_rho) rows, which is
exactly what makes them maintainable as a streaming state table (the
same ``_epoch`` fold the DSIR model tables use) and auditable by the
driver gate: with the sha60 base hash every register value -- and the
floor-quantized estimate -- is bit-reproducible in DuckDB SQL.

Hash geometry (w = 60 - p bits of suffix under sha60):

    h      = sha60(value)            (< 2^60, positive in int64)
    bucket = h >> w                  (p leading bits)
    rem    = h & (2^w - 1)
    rho    = w - bit_length(rem) + 1 (w + 1 when rem = 0)

``bit_length`` is string-free of float error on BOTH engines:
``length(bin(rem))`` in Spark == ``length(format('{:b}', rem))`` in
DuckDB. Estimation follows the standard HLL curve: alpha_m * m^2 /
sum(2^-M_j) with the small-range linear-counting correction
E <= 2.5m & V > 0 -> m * ln(m / V). The estimate involves one ``ln``
/ ``pow`` whose last-ulp behavior could differ across engines, so the
oracle-facing column is floor(E) -- integer cardinalities -- with the
register rows themselves exact by construction.

``base_hash="xxhash64"`` is the cheaper production option (same plan,
no SQL mirror).

The Count-Min half (``cms_sketch`` / ``cms_merge`` /
``cms_point_estimate``) follows the same design rules: bounded
integer state, merge = counter-wise addition (linear, so shard
sketches sum exactly to the union's sketch), and -- because counters
are SUMS, not order-sensitive rank state -- the whole structure is
order-independent and bit-reproducible in SQL.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import base_hash_fn

_SHA60_BITS = 60
_XX_BITS = 64


def _bits_for(base_hash: str) -> int:
    return _SHA60_BITS if base_hash == "sha60" else _XX_BITS


def _suffix_width(base_hash: str, p: int) -> int:
    """Bits of hash suffix below the bucket index (xxhash64 spends one
    bit on abs() to keep >> geometry uniform)."""
    bits = _bits_for(base_hash)
    return bits - p - (1 if base_hash == "xxhash64" else 0)


def _alpha(m: int) -> float:
    if m == 16:
        return 0.673
    if m == 32:
        return 0.697
    if m == 64:
        return 0.709
    return 0.7213 / (1.0 + 1.079 / m)


def hll_sketch(
    df: DataFrame,
    col: str | Column,
    *,
    group_cols: tuple[str, ...] = (),
    p: int = 12,
    base_hash: str = "sha60",
) -> DataFrame:
    """One aggregation pass -> HLL register rows
    ``(*group_cols, bucket int, max_rho int)``.

    Only OCCUPIED registers are materialized (<= min(2^p, n_distinct)
    rows per group); the estimator treats absent buckets as rho = 0.
    Map-side combine applies (max is algebraic), so the shuffle
    carries at most 2^p rows per group per input partition.
    """
    w = _suffix_width(base_hash, p)
    c = F.col(col) if isinstance(col, str) else col
    h = base_hash_fn(base_hash)(c)
    if base_hash == "xxhash64":
        # Mask the sign bit away (NOT abs: Java abs(Long.MIN_VALUE)
        # overflows back to Long.MIN_VALUE, which would yield a
        # negative bucket) so >> keeps the uniform 63-bit geometry.
        h = h.bitwiseAND(F.lit((1 << 63) - 1))
    bucket = F.shiftright(h, w)
    rem = h.bitwiseAND(F.lit((1 << w) - 1))
    rho = F.when(rem == 0, F.lit(w + 1)).otherwise(
        F.lit(w) - F.length(F.bin(rem)) + F.lit(1)
    )
    return (
        df.select(
            *group_cols,
            bucket.cast("int").alias("bucket"),
            rho.cast("int").alias("rho"),
        )
        .groupBy(*group_cols, "bucket")
        .agg(F.max("rho").alias("max_rho"))
    )


_FOLDS = {"sum": F.sum, "max": F.max, "bit_or": F.bit_or}


def keyed_fold(df: DataFrame, folds: dict[str, str]) -> DataFrame:
    """Fold rows that share a key: ``folds`` maps each value column to
    ``"sum"``, ``"max"`` or ``"bit_or"``, every other column except
    ``_epoch`` is the key, and each folded column is cast back to its
    stored type. The one merge rule of the sketch tables here and of
    the maintained state tables (streaming/state.py)."""
    types = dict(df.dtypes)
    keys = [c for c in df.columns if c not in folds and c != "_epoch"]
    return df.groupBy(*keys).agg(*[
        _FOLDS[how](c).cast(types[c]).alias(c) for c, how in folds.items()
    ])


def hll_merge(*sketches: DataFrame) -> DataFrame:
    """Union register tables from shards/days/micro-batches into one:
    register-wise MAX. The whole point of the sketch -- merging never
    re-reads the data that produced it."""
    return keyed_fold(
        reduce(DataFrame.unionByName, sketches), {"max_rho": "max"}
    )


def hll_estimate(
    registers: DataFrame,
    *,
    group_cols: tuple[str, ...] = (),
    p: int = 12,
    base_hash: str = "sha60",
) -> DataFrame:
    """Registers -> ``(*group_cols, n_registers, estimate)`` with
    ``estimate`` = floor(HLL cardinality) as a long (integer output is
    the cross-engine-stable surface; see module docstring).

    Absent (never-hit) registers contribute 2^0 = 1 each to the
    harmonic sum: m - n_occupied empties fold in as one arithmetic
    term, so the estimator works on the compact occupied-only table.

    The occupied part of the harmonic sum is computed as the INTEGER
    sum of 2^(w+1-rho) (each term <= 2^w, and m * 2^w <= 2^60 for
    sha60 / 2^62 for xxhash64, so int64 never overflows), then scaled
    by 2^-(w+1): exact and order-independent, where a float
    sum(2^-rho) would round differently under different partition
    orders and break cross-engine parity.
    """
    m = 1 << p
    w = _suffix_width(base_hash, p)
    alpha = _alpha(m)
    agg = registers.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("long").alias("n_registers"),
        F.sum(
            F.expr(f"shiftleft(1L, {w + 1} - max_rho)")
        ).alias("_occ_scaled"),
    )
    harm = (
        F.col("_occ_scaled").cast("double") / F.lit(float(1 << (w + 1)))
        + (F.lit(m) - F.col("n_registers")).cast("double")
    )
    raw = F.lit(alpha * m * m) / harm
    # linear counting below 2.5m when any register is empty (occupied
    # registers always have rho >= 1, so V is exactly the empty count)
    v = F.lit(m) - F.col("n_registers")
    corrected = F.when(
        (raw <= F.lit(2.5 * m)) & (v > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / v.cast("double")),
    ).otherwise(raw)
    return agg.select(
        *group_cols,
        "n_registers",
        F.floor(corrected).cast("long").alias("estimate"),
    )


def cms_sketch(
    df: DataFrame,
    col: str | Column,
    *,
    group_cols: tuple[str, ...] = (),
    depth: int = 4,
    width: int = 1 << 12,
    base_hash: str = "sha60",
    weight: Column | None = None,
) -> DataFrame:
    """Count-Min sketch (Cormode & Muthukrishnan 2005) as a counter
    DataFrame ``(*group_cols, row int, bucket int, cnt long)``.

    The frequency companion to the HLL table: "how often does each
    item occur" with bounded state (depth x width counters per group,
    ~128 KiB at 4 x 4096) instead of a distinct-key shuffle. Counters
    are SUMS of integers, so unlike rank-based sketches (Misra-Gries,
    reservoir) the table is exactly order-independent: shard sketches
    merge by counter-wise addition (``cms_merge``) and the whole
    structure -- rows, counters and point estimates -- reproduces
    bit-for-bit in DuckDB under the sha60 hash.

    The ``depth`` independent rows come from salting the hash input
    (``row || ':' || value``), the standard string-salt construction.
    ``weight`` (optional long Column) counts each input row with a
    weight (e.g. token counts) instead of 1. Only occupied counters
    materialize. ONE input scan: the depth probes posexplode from an
    array column (never depth scans of the corpus).
    """
    c = F.col(col) if isinstance(col, str) else col
    w = F.lit(1).cast("long") if weight is None else weight.cast("long")
    hashes = base_hash_fn(base_hash)
    probes = F.array(*[
        F.pmod(
            hashes(F.concat(F.lit(f"{d}:"), c.cast("string"))),
            F.lit(width),
        ).cast("int")
        for d in range(depth)
    ])
    rows = df.select(
        *group_cols, w.alias("_w"),
        F.posexplode(probes).alias("row", "bucket"),
    )
    return (
        rows.groupBy(*group_cols, "row", "bucket")
        .agg(F.sum("_w").alias("cnt"))
    )


def cms_merge(*sketches: DataFrame) -> DataFrame:
    """Counter-wise ADDITION of counter tables -- sketches of disjoint
    shards sum to the sketch of the union (exactly, by linearity)."""
    return keyed_fold(
        reduce(DataFrame.unionByName, sketches), {"cnt": "sum"}
    )


def cms_point_estimate(
    counters: DataFrame,
    items: DataFrame,
    item_col: str = "item",
    *,
    depth: int = 4,
    width: int = 1 << 12,
    base_hash: str = "sha60",
) -> DataFrame:
    """Estimated frequency of each item in ``items``: ``(item, est)``
    where est = MIN over the depth rows' counters (the CMS upper
    bound; exact when no collisions, never an underestimate). Expects
    the counters of ONE logical sketch (filter a grouped table to one
    group first); the (small) probe set rides a join against the
    bounded counter table."""
    c = F.col(item_col)
    hashes = base_hash_fn(base_hash)
    parr = F.array(*[
        F.pmod(
            hashes(F.concat(F.lit(f"{d}:"), c.cast("string"))),
            F.lit(width),
        ).cast("int")
        for d in range(depth)
    ])
    probes = items.select(
        c.alias("item"), F.posexplode(parr).alias("row", "bucket")
    )
    # LEFT join from the probe side: an absent counter is a ZERO count
    # (the item never hashed there), which must win the min -- an inner
    # join would silently overestimate unseen items.
    joined = probes.join(counters, ["row", "bucket"], "left")
    return (
        joined.groupBy("item")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est"))
    )


def hll_distinct(
    df: DataFrame,
    col: str | Column,
    *,
    group_cols: tuple[str, ...] = (),
    p: int = 12,
    base_hash: str = "sha60",
) -> DataFrame:
    """sketch + estimate in one call: per-group approximate distinct
    counts ``(*group_cols, n_registers, estimate)``."""
    return hll_estimate(
        hll_sketch(
            df, col, group_cols=group_cols, p=p, base_hash=base_hash
        ),
        group_cols=group_cols,
        p=p,
        base_hash=base_hash,
    )


# --------------------------------------------------------------------------
# Bloom filters: the MEMBERSHIP sketch (Bloom 1970) completing the
# family -- HLL answers "how many distinct", CMS "how often", Bloom
# "have I seen this" with zero false negatives and a tunable false-
# positive rate. The 100 TB use-case is benchmark decontamination: a
# Bloom over the eval set's n-grams is a few MB broadcast to every
# executor, where the exact gram join would shuffle the corpus.
#
# State layout follows the HLL/CMS rules: plain integer rows
# (*group_cols, word int, bits long) where word = position >> 5 packs
# 32 filter bits per row (32, not 64: bit 63 would flip the int64
# sign, and signed << overflow semantics differ across engines; with
# 32-bit words every mask is a small positive long on BOTH Spark and
# DuckDB). Merge = word-wise bit_or (commutative + associative, so
# order-independent and shard-mergeable). The k probe positions use
# the same string-salt construction as CMS rows; under sha60 the whole
# structure -- words, masks, membership verdicts, and the floor-
# quantized cardinality estimate -- reproduces bit-for-bit in SQL.
# --------------------------------------------------------------------------


def _bloom_positions(
    c: Column, *, n_bits: int, k: int, base_hash: str
) -> Column:
    """Array of the k salted probe positions of a value (< n_bits)."""
    hashes = base_hash_fn(base_hash)
    return F.array(*[
        F.pmod(
            hashes(F.concat(F.lit(f"{d}:"), c.cast("string"))),
            F.lit(n_bits),
        ).cast("long")
        for d in range(k)
    ])


def bloom_sketch(
    df: DataFrame,
    col: str | Column,
    *,
    group_cols: tuple[str, ...] = (),
    n_bits: int = 1 << 20,
    k: int = 3,
    base_hash: str = "sha60",
) -> DataFrame:
    """One aggregation pass -> Bloom word rows
    ``(*group_cols, word int, bits long)``.

    Only occupied words materialize (<= n_bits/32 rows per group
    whatever the input size); absent words are all-zero. Map-side
    combine applies (bit_or is algebraic), so the shuffle carries at
    most n_bits/32 rows per group per input partition. Size n_bits >=
    ~1.44 * k * n_expected for the standard (k n / m) load; FP rate
    ~ (1 - e^(-k n / m))^k."""
    c = F.col(col) if isinstance(col, str) else col
    pos = _bloom_positions(c, n_bits=n_bits, k=k, base_hash=base_hash)
    rows = df.select(*group_cols, F.explode(pos).alias("_pos"))
    return (
        rows.select(
            *group_cols,
            F.shiftright(F.col("_pos"), 5).cast("int").alias("word"),
            F.expr(
                "shiftleft(1L, CAST(_pos & 31 AS INT))"
            ).alias("_mask"),
        )
        .groupBy(*group_cols, "word")
        .agg(F.expr("bit_or(_mask)").cast("long").alias("bits"))
    )


def bloom_merge(*sketches: DataFrame) -> DataFrame:
    """Word-wise bit OR of word tables: sketches of shards merge to
    exactly the sketch of the union (set union of the bit sets)."""
    return keyed_fold(
        reduce(DataFrame.unionByName, sketches), {"bits": "bit_or"}
    )


def bloom_contains(
    words: DataFrame,
    items: DataFrame,
    item_col: str = "item",
    *,
    n_bits: int = 1 << 20,
    k: int = 3,
    base_hash: str = "sha60",
) -> DataFrame:
    """Membership probe: ``(item, might_contain)`` -- true iff ALL k
    probe bits are set. Never a false negative; false positives at the
    filter's load-dependent rate. Expects the words of ONE logical
    sketch (filter a grouped table first); the probe set rides a join
    against the bounded word table (broadcast-sized: <= n_bits/32
    rows), never against the data that built it."""
    if sorted(words.columns) != ["bits", "word"]:
        raise ValueError(
            "bloom_contains expects the word table of ONE logical sketch "
            f"with columns ['word', 'bits']; got {words.columns}. A "
            "grouped bloom_sketch output must be filtered to a single "
            "group first (extra group columns would fan the probe join "
            "out across groups and silently mix filters)."
        )
    c = F.col(item_col)
    pos = _bloom_positions(c, n_bits=n_bits, k=k, base_hash=base_hash)
    probes = items.select(
        c.alias("item"), F.explode(pos).alias("_pos")
    ).select(
        "item",
        F.shiftright(F.col("_pos"), 5).cast("int").alias("word"),
        F.expr("shiftleft(1L, CAST(_pos & 31 AS INT))").alias("_mask"),
    )
    # LEFT join: an absent word row is all-zero bits -> bit not set.
    joined = probes.join(words, ["word"], "left")
    return joined.groupBy("item").agg(
        F.min(
            (
                F.coalesce(F.col("bits"), F.lit(0)).bitwiseAND(F.col("_mask"))
                != 0
            ).cast("int")
        ).cast("boolean").alias("might_contain")
    )


def bloom_cardinality(
    words: DataFrame,
    *,
    group_cols: tuple[str, ...] = (),
    n_bits: int = 1 << 20,
    k: int = 3,
) -> DataFrame:
    """Per-group ``(n_set_bits, estimate)`` from the word table:
    estimate = floor(-(m/k) * ln(1 - X/m)) (Swamidass & Baldi 2007),
    X = set bits. The set-bit count is an exact integer sum of
    per-word popcounts (bit_count agrees across engines on the
    non-negative 32-bit-word longs); floor-quantization makes the one
    transcendental cross-engine-stable, same policy as hll_estimate."""
    agg = words.groupBy(*group_cols).agg(
        F.sum(F.bit_count("bits")).cast("long").alias("n_set_bits")
    )
    m = float(n_bits)
    x = F.col("n_set_bits").cast("double")
    est = F.lit(-(m / k)) * F.log(F.lit(1.0) - x / F.lit(m))
    return agg.select(
        *group_cols,
        "n_set_bits",
        F.floor(est).cast("long").alias("estimate"),
    )


# --------------------------------------------------------------------------
# Equi-width histograms: the DISTRIBUTION sketch. Exact percentiles
# need a full sort (percentile_disc shuffles every value); a histogram
# is the bounded-state, counter-sum-mergeable alternative -- the same
# trade HLL/CMS/Bloom make, here for "what does this column's
# distribution look like" (price profiling, doc-length curves, score
# calibration). All arithmetic is INTEGER on a caller-supplied long
# column (convert decimals to cents first: exact), so bins, merges,
# and the bin-edge quantile estimates reproduce bit-for-bit in SQL.
# --------------------------------------------------------------------------


def histogram_sketch(
    df: DataFrame,
    col: str | Column,
    *,
    group_cols: tuple[str, ...] = (),
    lo: int,
    hi: int,
    n_bins: int = 128,
) -> DataFrame:
    """One aggregation pass -> histogram rows
    ``(*group_cols, bin int, cnt long)`` over a LONG-valued column.

    bin = ((v - lo) * n_bins) div (hi - lo), clamped to [0, n_bins-1]
    (values outside [lo, hi) land in the edge bins, so mass is never
    dropped). Only occupied bins materialize; map-side combine applies
    (sum is algebraic), so the shuffle carries <= n_bins rows per
    group per input partition."""
    if hi <= lo:
        raise ValueError(f"need hi > lo, got [{lo}, {hi})")
    c = (F.col(col) if isinstance(col, str) else col).cast("long")
    rows = df.select(
        *group_cols,
        ((c - F.lit(lo)) * F.lit(n_bins)).alias("_num"),
    ).select(
        *group_cols,
        F.least(
            F.lit(n_bins - 1),
            F.greatest(F.lit(0), F.expr(f"_num div {hi - lo}")),
        ).cast("int").alias("bin"),
    )
    return rows.groupBy(*group_cols, "bin").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )


def histogram_merge(*sketches: DataFrame) -> DataFrame:
    """Bin-wise ADDITION: shard histograms sum exactly to the union's."""
    return keyed_fold(
        reduce(DataFrame.unionByName, sketches), {"cnt": "sum"}
    )


def histogram_quantiles(
    hist: DataFrame,
    *,
    group_cols: tuple[str, ...] = (),
    lo: int,
    hi: int,
    n_bins: int = 128,
    quantiles: tuple[tuple[int, int], ...] = ((1, 2), (9, 10), (99, 100)),
) -> DataFrame:
    """Per-group quantile estimates off the bin table: for each
    (q_num, q_den) the SMALLEST bin whose cumulative count reaches
    q_num/q_den of the total, reported as the bin's lower edge in
    input units -- ``(*group_cols, q_num, q_den, n_rows, q_bin,
    q_value)``. Error is bounded by one bin width. Rational quantiles
    and integer cumulative sums keep every output column exact: the
    crossing test is ``cum * q_den >= total * q_num``, no float ever
    enters."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy(*group_cols).orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        if group_cols
        else Window.partitionBy(F.lit(0)).orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.select(
        *group_cols, "bin", "cnt",
        F.sum("cnt").over(w).alias("_cum"),
    ).withColumn(
        "_total",
        F.sum("cnt").over(
            Window.partitionBy(*group_cols) if group_cols
            else Window.partitionBy(F.lit(0))
        ),
    )
    out = None
    for q_num, q_den in quantiles:
        hit = (
            cum.filter(
                F.col("_cum") * F.lit(q_den) >= F.col("_total") * F.lit(q_num)
            )
            .groupBy(*group_cols)
            .agg(
                F.min("bin").alias("q_bin"),
                F.max("_total").alias("n_rows"),
            )
            .select(
                *group_cols,
                F.lit(q_num).cast("int").alias("q_num"),
                F.lit(q_den).cast("int").alias("q_den"),
                F.col("n_rows").cast("long").alias("n_rows"),
                F.col("q_bin").cast("int").alias("q_bin"),
                (
                    F.lit(lo)
                    + F.expr(
                        f"(CAST(q_bin AS BIGINT) * {hi - lo}) div {n_bins}"
                    )
                ).cast("long").alias("q_value"),
            )
        )
        out = hit if out is None else out.unionByName(hit)
    return out
