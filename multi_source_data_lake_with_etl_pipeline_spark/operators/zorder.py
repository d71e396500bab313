"""Z-order (Morton) multi-dimensional clustering for lake layout.

Beyond-reference capability: the reference lake writes files in arrival
order (base_loaders.py), so a query filtering on two columns reads
every file. Z-ordering interleaves the bits of several quantized sort
keys into one clustering key; range-partitioning + sorting by it gives
every dimension locality at once, so the lake's per-file min/max stats
(lake.py `_file_stats` / `read_pruned`) prune multi-column predicates
instead of just the primary sort key — the same trick Delta/Iceberg
OPTIMIZE ZORDER applies at 100 TB.

Everything here is exact 64-bit integer arithmetic on JVM-side
expressions (shifts/masks fold into whole-stage codegen): quantize each
dimension to ``bits`` buckets between explicit bounds, spread the bits,
OR them interleaved. No UDFs, no doubles — the z-value is engine-exact
and therefore oracle-able.

Two keys live here. ``zorder_value`` / ``zorder_by`` are the generic
n-dim bit loop over min-max-scaled buckets that
``LakeTable.compact(cluster_by=[...])`` lays files out with.
``morton2`` / ``zorder_key`` are the 2-D fast path (4 magic-mask ops
per dim instead of a 16-term bit loop) with explicit bounds so no
statistics scan precedes the write, and shift-only quantization so an
external engine can replay the key. For two dimensions both produce
THE SAME integer (col 0 on even bits, col 1 on odd — equivalence
pinned in tests/test_operators.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# (shift, mask) steps spreading a 16-bit int so a second dimension can
# interleave into the odd bits: x{16} -> 0x0y0y... pattern. Classic
# Morton magic numbers, 2-D / 16-bit-per-dim variant (z fits in 32
# bits; masks kept as Python ints, emitted as long literals).
_SPREAD_2D = [(8, 0x00FF00FF), (4, 0x0F0F0F0F), (2, 0x33333333), (1, 0x55555555)]


def quantize(col: Column, lo: int, hi: int, bits: int = 16) -> Column:
    """Clamp an integer expression to [lo, hi] and map it to
    [0, 2^bits) by taking the top ``bits`` bits of the offset within
    the next power-of-two span — shift-only (no division whose
    double-rounding could diverge between engines), engine-exact."""
    span = int(hi) - int(lo)
    width = max(span.bit_length(), bits)  # pow2 span >= actual span
    shift = width - bits
    c = F.greatest(F.lit(int(lo)), F.least(F.lit(int(hi)), col.cast("long")))
    q = c - F.lit(int(lo))
    return F.shiftright(q, shift) if shift else q


def spread_bits(col: Column) -> Column:
    """Insert a zero bit above every bit of a 16-bit value (x -> bits
    at even positions of a 32-bit value)."""
    x = col
    for shift, mask in _SPREAD_2D:
        x = (x.bitwiseOR(F.shiftleft(x, shift))).bitwiseAND(F.lit(mask))
    return x


def morton2(col_a: Column, col_b: Column) -> Column:
    """Interleave two 16-bit quantized values: a in even bits, b in odd
    bits of a 32-bit z-value."""
    return spread_bits(col_a).bitwiseOR(F.shiftleft(spread_bits(col_b), 1))


def linear_bucket(col: Column, lo: float, hi: float, bits: int = 16) -> Column:
    """Map ``col`` into [0, 2^bits) by linear min-max scaling (NULL and
    out-of-range values clamp to the edges). Linear bucketing keeps the
    expression a pure per-row projection; under heavy value skew the
    resolution degrades (most rows share few buckets) — swap in
    approxQuantile boundaries + a CASE/width_bucket lookup for
    rank-based buckets, the z-interleave below is unchanged."""
    n = (1 << bits) - 1
    if hi <= lo:  # constant column — single bucket
        return F.lit(0).cast("long")
    scaled = F.floor((col.cast("double") - F.lit(float(lo))) * n / (float(hi) - float(lo)))
    return F.least(F.greatest(F.coalesce(scaled, F.lit(0)), F.lit(0)), F.lit(n)).cast(
        "long"
    )


def zorder_value(buckets: list[Column], bits: int = 16) -> Column:
    """Interleave the bits of per-column bucket values into one Morton
    (Z-order) key: sorting by it gives every participating column
    locality in the file layout, so min/max stats prune on ALL of them,
    not just the leading sort column. Pure shift/and/or expression tree
    (bits × ncols terms) — whole-stage-codegen folds it into the scan
    projection, no UDF, no shuffle beyond the final range exchange."""
    k = len(buckets)
    z = F.lit(0).cast("long")
    for b in range(bits):
        for i, bk in enumerate(buckets):
            z = z.bitwiseOR(F.shiftleft(F.shiftright(bk, b).bitwiseAND(F.lit(1)), b * k + i))
    return z


def zorder_by(df: DataFrame, cols: list[str], n_files: int, bits: int = 16) -> DataFrame:
    """Z-order ``df`` across ``cols``: one tiny min/max agg (driver-side
    scalars), a per-row Morton key, then range-repartition + sort on it.
    Output partition i owns a contiguous z-range = a compact region of
    the multi-dimensional space, so each file's footer [min,max] is
    tight on EVERY cluster column."""
    bounds = df.agg(
        *[F.min(c).cast("double").alias(f"_lo_{c}") for c in cols],
        *[F.max(c).cast("double").alias(f"_hi_{c}") for c in cols],
    ).collect()[0]
    buckets = [
        linear_bucket(F.col(c), bounds[f"_lo_{c}"], bounds[f"_hi_{c}"], bits)
        for c in cols
    ]
    return (
        df.withColumn("_z", zorder_value(buckets, bits))
        .repartitionByRange(n_files, F.col("_z"))
        .sortWithinPartitions("_z")
        .drop("_z")
    )


def zorder_key(
    df: DataFrame,
    specs: list[tuple[str, int, int]],
    bits: int = 16,
    out: str = "z",
) -> DataFrame:
    """Add a z-order clustering key over two integer columns.
    ``specs`` = [(col, lo, hi), (col, lo, hi)] — explicit bounds, so the
    key needs NO global statistics pass (at 100 TB the bounds come from
    table metadata, not a scan)."""
    if len(specs) != 2:
        raise ValueError("zorder_key interleaves exactly 2 dimensions")
    if bits > 16:
        # the magic masks in _SPREAD_2D are 16-bit-per-dim; wider inputs
        # would silently scramble high bits into colliding z-values
        raise ValueError("zorder_key supports at most 16 bits per dimension")
    qa = quantize(F.col(specs[0][0]), specs[0][1], specs[0][2], bits)
    qb = quantize(F.col(specs[1][0]), specs[1][1], specs[1][2], bits)
    return df.withColumn(out, morton2(qa, qb))


def zorder_repartition(
    df: DataFrame,
    specs: list[tuple[str, int, int]],
    num_files: int,
    bits: int = 16,
) -> DataFrame:
    """Cluster a DataFrame for writing: range-partition by the z-key
    (one exchange, AQE-balanced) and sort within partitions so parquet
    row-group stats are tight on BOTH dimensions. Drop-in layout step
    before ``LakeTable.create``/``overwrite``."""
    z = zorder_key(df, specs, bits)
    return z.repartitionByRange(num_files, "z").sortWithinPartitions("z").drop("z")


def zbucket_profile(
    df: DataFrame,
    specs: list[tuple[str, int, int]],
    bucket_bits: int = 4,
    bits: int = 16,
) -> DataFrame:
    """Locality audit: split the z-range into 2^bucket_bits fixed
    buckets (top bits of z — shuffle-free, no global sort) and profile
    each bucket's per-dimension min/max span. Tight spans on BOTH
    columns are the file-skipping guarantee z-ordering buys."""
    a, b = specs[0][0], specs[1][0]
    z = zorder_key(df, specs, bits)
    bucket = F.shiftright(F.col("z"), 2 * bits - bucket_bits)
    return (
        z.groupBy(bucket.alias("z_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min(a).cast("long").alias(f"min_{a}"),
            F.max(a).cast("long").alias(f"max_{a}"),
            F.min(b).cast("long").alias(f"min_{b}"),
            F.max(b).cast("long").alias(f"max_{b}"),
        )
        .orderBy("z_bucket")
    )
