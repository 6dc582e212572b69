"""Parquet footer statistics: the metadata surface file and row-group
skipping reads (O1/O2 clustering, z-order pruning and bloom filters all
act THROUGH these stats; reference analog: the min/max file-stat
pruning DuckDB applies in logic/parquet.py).

**Log-resident per-file stats** (Delta's ``add.stats``). Every file a
commit adds carries one stats entry in its commit record, read ONCE,
driver-side, from the footer right after the write
(:func:`read_file_stats`, through the store's pyarrow read plane, so
object stores work as a few ranged GETs per file):

  * ``numRecords`` and ``size`` (bytes);
  * ``nullCount`` per data column;
  * ``minValues`` / ``maxValues`` for the string and timestamp columns
    of ``STATEMENT_SCHEMA`` (:data:`MINMAX_COLUMNS`: not the partition
    columns, which live in the path, nor the unbounded-text ``value`` /
    ``original_value``).

Values are strings whose order IS the column order: strings as stored
(UTF-8 byte order equals code-point order), timestamps as fixed-width
UTC ISO-8601 with microseconds (``2024-01-10T00:00:00.000000Z``).
Range bounds are normalized to the same encoding
(:func:`encode_bound`), so ``StatementStore.scan_range`` prunes with a
plain Python compare and no Spark job. Anything unknown — a column
without stats, a row group without min/max, a bound that cannot be
normalized, a footer that cannot be read — means "keep the file":
pruning only ever drops files the predicate could never match.

``parquet_rowgroup_stats`` is the distributed variant for ad-hoc
audits: one task per file, one row per (file, row_group, column) with
value counts, null counts and min/max as strings. Correctness is
pinned against DuckDB's ``parquet_metadata()`` over the same files in
tests/test_parquet_meta.py.
"""

from __future__ import annotations

from collections.abc import Iterator
from concurrent.futures import ThreadPoolExecutor
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ftm_lakehouse_spark.model.statement import PARTITION_COLUMNS, STATEMENT_SCHEMA

__all__ = ["encode_bound", "parquet_rowgroup_stats", "read_file_stats"]

#: statement columns stored inside the data files (partition columns
#: are recovered from the path)
DATA_COLUMNS = tuple(
    f.name for f in STATEMENT_SCHEMA.fields if f.name not in PARTITION_COLUMNS
)

TIMESTAMP_COLUMNS = frozenset(
    f.name for f in STATEMENT_SCHEMA.fields if isinstance(f.dataType, T.TimestampType)
)

#: columns whose per-file min/max the commit log records
MINMAX_COLUMNS = frozenset(
    f.name
    for f in STATEMENT_SCHEMA.fields
    if f.name in DATA_COLUMNS
    and f.name not in ("value", "original_value")
    and isinstance(f.dataType, (T.StringType, T.TimestampType))
)

#: footer reads in flight per commit (local: page-cache reads; object
#: stores: a few ranged GETs each)
STATS_THREADS = 8


def _encode(v) -> str | None:
    """Order-preserving string form of a footer min/max value: strings
    as is, timestamps as fixed-width UTC ISO-8601 with microseconds
    (naive values are UTC wall time, the parquet ``isAdjustedToUTC =
    false`` reading). None for anything else, and for sub-microsecond
    values, whose truncation could shrink a max below the true one."""
    if isinstance(v, datetime):
        if getattr(v, "nanosecond", 0):
            return None
        if v.tzinfo is not None:
            v = v.astimezone(timezone.utc).replace(tzinfo=None)
        return v.isoformat(timespec="microseconds") + "Z"
    return v if isinstance(v, str) else None


def encode_bound(column: str, v, session_tz: str) -> str | None:
    """A ``scan_range`` bound in the stats encoding of ``column``, read
    the way Spark reads ``F.lit(v)`` against that column — or None when
    that reading is not known here (the caller then prunes nothing):

    * timestamp column, tz-aware ``datetime``: its UTC instant;
    * naive ``datetime``: PySpark's literal converter takes it as the
      Python process's LOCAL time (``time.mktime``), and so does
      ``datetime.astimezone``;
    * ``str``: Spark casts it to a timestamp, an offset-less string in
      the session time zone ``session_tz``;
    * string column: a ``str`` bound as is."""
    if column not in TIMESTAMP_COLUMNS:
        return v if isinstance(v, str) else None
    if isinstance(v, str):
        try:
            v = datetime.fromisoformat(v)
            if v.tzinfo is None:
                from zoneinfo import ZoneInfo

                v = v.replace(tzinfo=ZoneInfo(session_tz))
        except (ValueError, KeyError):
            return None
    elif isinstance(v, datetime) and v.tzinfo is None:
        v = v.astimezone()
    return _encode(v) if isinstance(v, datetime) else None


def file_stats(path: str, filesystem=None) -> dict:
    """The log stats entry of one data file, from its footer alone (no
    data pages). A column is left out of ``minValues``/``maxValues``
    when any row group holding a value has no min/max for it, and out
    of ``nullCount`` when any row group lacks a null count."""
    import pyarrow.fs as pafs
    import pyarrow.parquet as pq

    if filesystem is None:
        if "://" in path:
            filesystem, path = pafs.FileSystem.from_uri(path)
        else:
            filesystem = pafs.LocalFileSystem()
    with filesystem.open_input_file(path) as f:
        size = f.size()
        md = pq.read_metadata(f)
    nulls: dict[str, int] = {}
    lo: dict[str, str] = {}
    hi: dict[str, str] = {}
    no_nulls: set[str] = set()
    no_bounds: set[str] = set()
    for g in range(md.num_row_groups):
        group = md.row_group(g)
        for ci in range(group.num_columns):
            chunk = group.column(ci)
            name = chunk.path_in_schema
            if name not in DATA_COLUMNS:
                continue
            st = chunk.statistics
            if st is None or not st.has_null_count:
                no_nulls.add(name)
            else:
                nulls[name] = nulls.get(name, 0) + st.null_count
                if st.null_count == chunk.num_values:
                    continue  # all-null group: no value to bound
            if name not in MINMAX_COLUMNS:
                continue
            a = _encode(st.min) if st is not None and st.has_min_max else None
            b = _encode(st.max) if a is not None else None
            if a is None or b is None:
                no_bounds.add(name)
            else:
                lo[name] = min(lo.get(name, a), a)
                hi[name] = max(hi.get(name, b), b)
    return {
        "numRecords": md.num_rows,
        "size": size,
        "nullCount": {k: v for k, v in nulls.items() if k not in no_nulls},
        "minValues": {k: v for k, v in lo.items() if k not in no_bounds},
        "maxValues": {k: v for k, v in hi.items() if k not in no_bounds},
    }


def read_file_stats(
    paths: dict[str, str], plane=(None, lambda p: p)
) -> dict[str, dict | None]:
    """``{key: file_stats}`` for ``{key: path}``, footers read in
    parallel through ``plane`` = (pyarrow filesystem or None, path
    normalizer) — ``StatementStore._read_plane``. A footer that
    cannot be read maps to None: the file simply has no stats and is
    always kept by pruning."""
    filesystem, norm = plane

    def one(path: str) -> dict | None:
        try:
            return file_stats(norm(path), filesystem)
        except (OSError, ValueError, NotImplementedError):
            return None

    if not paths:
        return {}
    with ThreadPoolExecutor(min(STATS_THREADS, len(paths))) as pool:
        return dict(zip(paths, pool.map(one, paths.values())))


_SCHEMA = (
    "file string, row_group int, col_name string, num_values long,"
    " null_count long, min_v string, max_v string"
)


def parquet_rowgroup_stats(
    spark: SparkSession, paths: list[str], columns: list[str] | None = None
) -> DataFrame:
    """One row per (file, row_group, column) of footer statistics.
    min/max are emitted as strings (stable across logical types);
    ``columns=None`` emits every leaf column."""
    import pandas as pd

    wanted = set(columns) if columns is not None else None

    def read_footers(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pyarrow.parquet as pq

        for pdf in batches:
            out = []
            for path in pdf["path"]:
                meta = pq.ParquetFile(path).metadata
                for rg in range(meta.num_row_groups):
                    group = meta.row_group(rg)
                    for ci in range(group.num_columns):
                        chunk = group.column(ci)
                        name = chunk.path_in_schema
                        if wanted is not None and name not in wanted:
                            continue
                        stats = chunk.statistics
                        out.append(
                            (
                                path,
                                rg,
                                name,
                                chunk.num_values,
                                stats.null_count if stats else None,
                                str(stats.min) if stats and stats.has_min_max else None,
                                str(stats.max) if stats and stats.has_min_max else None,
                            )
                        )
            yield pd.DataFrame(
                out,
                columns=[
                    "file", "row_group", "col_name", "num_values",
                    "null_count", "min_v", "max_v",
                ],
            )

    files = spark.createDataFrame([(p,) for p in paths], "path string")
    # one footer per task: tiny reads, embarrassingly parallel
    return files.repartition(max(len(paths), 1)).mapInPandas(read_footers, _SCHEMA)
