"""Z-order (Morton) clustering keys, computed entirely JVM-side.

Delta/Iceberg expose ``OPTIMIZE ... ZORDER BY (a, b)`` to make file
statistics selective on MORE than the leading sort column: rows are
rewritten in the order of an interleaved-bit key over rank-normalized
dimensions, so every output file covers a small hyper-rectangle of the
key space instead of a thin slice of one column. File-level min/max
stats (read back through ``sources/parquet_meta.py``) then skip files
for predicates on ANY z-dimension. Reference analog: the clustering
the reference gets from its single-column write sort (storage/
parquet.py WRITE_SORT) generalized to multiple columns; the engine's
entry point is ``StatementStore.compact(zorder=...)``.

Construction (all built-in Column expressions — no UDFs, stays inside
whole-stage codegen):

* numeric / timestamp dimension → rank-normalized into ``2**bits``
  quantile buckets. Boundaries come from one driver-side
  ``approxQuantile`` (a bounded list of ≤255 doubles — NOT data-sized),
  applied per row as ``size(filter(bounds, b -> v >= b))``. Quantile
  (not min/max-uniform) bucketing makes the z-curve skew-proof: each
  bucket holds ~1/256th of the DATA, not of the value range.
* string dimension → ``pmod(xxhash64(col), 2**bits)``. Hashing keeps
  one distinct value in one bucket (equality predicates skip through
  dictionary or bloom filtering + the z-locality), at the cost of
  range predicates on that dimension — the same trade Delta makes for
  high-cardinality string z-columns.
* interleave: bit i of dimension d lands at position ``i*ndims + d``
  of the z-value — the classic Morton construction, unrolled into a
  compile-time chain of shift/and/or expressions (``bits × ndims``
  terms, codegen-friendly).

Scale: the only driver-side work is ``approxQuantile`` per numeric
dimension (single pass, mergeable sketch, 255 doubles back). The
rewrite itself is one repartition on (partition cols, z-slice) + a
within-task sort — identical shuffle shape to the normal write path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["zorder_key", "zorder_cluster"]

#: dimensions supported per key (bits_per_dim * max dims must fit a long)
_MAX_DIMS = 4


def _dim_key(df: DataFrame, col: str, bits: int) -> Column:
    """A ``[0, 2**bits)`` rank key for one dimension (see module doc)."""
    n_buckets = 1 << bits
    dtype = dict(df.dtypes).get(col)
    if dtype is None:
        raise ValueError(f"zorder column {col!r} not in DataFrame")
    if dtype in ("string", "binary"):
        return F.pmod(F.xxhash64(F.col(col)), F.lit(n_buckets)).cast("long")
    # numeric / timestamp / date → quantile-rank buckets
    as_num = F.col(col).cast("double")
    if dtype.startswith("timestamp"):
        as_num = F.unix_micros(F.col(col)).cast("double")
    elif dtype == "date":
        as_num = F.datediff(F.col(col), F.lit("1970-01-01")).cast("double")
    probe = df.select(as_num.alias("_q")).dropna()
    cuts = [i / n_buckets for i in range(1, n_buckets)]
    bounds = probe.approxQuantile("_q", cuts, 1.0 / (4 * n_buckets))
    # strictly increasing boundary list (low-cardinality columns yield
    # duplicate cut points — collapse them, then RESCALE the bucket id
    # back to the full [0, 2**bits) range so the HIGH bits of the key
    # stay populated; without the rescale a 64-value column would never
    # set bit 7 and the interleaved key would waste its top positions)
    uniq: list[float] = []
    for b in bounds:
        if not uniq or b > uniq[-1]:
            uniq.append(b)
    if not uniq:
        return F.lit(0).cast("long")
    from ftm_lakehouse_spark.functions.vectors import lit_doubles

    # up to 255 boundary literals — one F.expr round trip (lit_doubles)
    arr = lit_doubles(uniq)
    k = F.size(F.filter(arr, lambda b: as_num >= b)).cast("long")
    scaled = F.floor(k * F.lit(n_buckets) / F.lit(len(uniq) + 1)).cast("long")
    return F.coalesce(scaled, F.lit(0))


def zorder_key(
    df: DataFrame, cols: list[str] | tuple[str, ...], bits_per_dim: int = 8
) -> Column:
    """The interleaved Morton key over ``cols`` as a long Column.

    ``bits_per_dim=8`` (256 quantile buckets per dimension) resolves
    file rectangles down to ~1/256th of the data per dimension —
    granular past any realistic files-per-partition count while keeping
    the expression tree small."""
    cols = list(cols)
    if not 1 <= len(cols) <= _MAX_DIMS:
        raise ValueError(f"zorder takes 1..{_MAX_DIMS} columns, got {len(cols)}")
    ndims = len(cols)
    keys = [_dim_key(df, c, bits_per_dim) for c in cols]
    z = F.lit(0).cast("long")
    for i in range(bits_per_dim):
        for d, key in enumerate(keys):
            bit = F.shiftrightunsigned(key, i).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, i * ndims + d))
    return z


def zorder_cluster(
    df: DataFrame,
    cols: list[str] | tuple[str, ...],
    partition_cols: list[str],
    fanout: int,
    bits_per_dim: int = 8,
) -> DataFrame:
    """Distribute + order rows for a z-clustered write.

    Rows are RANGE-repartitioned on (partition columns, z-value) — a
    range partitioner (one sampling pass, exactly Spark's global
    ``orderBy`` machinery) keeps every task's slice of the z-curve
    CONTIGUOUS; a hash repartition on coarse z-slices would let one
    task own scattered slices and its output file's min/max would span
    them all, destroying the very locality being built. Tasks then sort
    by the full z-value, so each output file covers one tight z-range =
    one small hyper-rectangle of the dimension space — what makes its
    min/max file stats selective on every z-dimension at once. Cost at
    scale: one sampling pass + one shuffle + task-local sort, the same
    shape as any global sort the engine already does."""
    z = zorder_key(df, cols, bits_per_dim)
    out = df.withColumn("_zval", z)
    return (
        out.repartitionByRange(fanout, *partition_cols, "_zval")
        .sortWithinPartitions(*partition_cols, "_zval")
        .drop("_zval")
    )
