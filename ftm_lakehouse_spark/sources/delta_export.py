"""Publish a store snapshot as a standard Delta Lake table log.

The statement store's MVCC commit log (sources/commits.py) provides
Delta's *contract* without the Delta *wire format* (delta-spark jars
are not in this image). This module closes the interop side: it
renders the CURRENT snapshot's live file set as a version-0
``_delta_log`` in the PUBLIC Delta transaction-log format
(delta.io PROTOCOL.md: ``protocol`` / ``metaData`` / ``add`` actions,
one JSON object per line), written INSIDE the data directory — so any
standard Delta reader (delta-spark, delta-rs, DuckDB's delta
extension) can open the dataset's data directory as a Delta table
without this engine being installed. The reference gets the same
interop for free by storing THROUGH delta-rs (reference
storage/parquet.py:326-475); here it is an explicit, idempotent
publish step (the moral equivalent of ``CONVERT TO DELTA`` run
against a consistent snapshot).

Scale: the FIRST export writes one JSON line per live file — O(files),
no data movement, no scan. Every subsequent export is INCREMENTAL
(round-6 VERDICT item 4): it appends Delta version N+1 containing only
the ``add``/``remove`` delta since the last export — the difference
between the store's snapshot now and the live set replayed from the
exported log — so consumers polling the log see one stable table id
with a growing history, and each publish writes O(changes). Every ``checkpoint_interval`` versions the
exporter also writes a classic single-file parquet checkpoint plus the
``_last_checkpoint`` pointer, so ANY reader's log replay (including
:func:`read_delta_snapshot`, delta-spark, delta-rs) stays
O(interval + files) regardless of how many versions have been
published.

Each ``add`` carries Delta's ``stats`` JSON (``numRecords``,
``minValues``, ``maxValues``, ``nullCount``) and its ``size`` straight
from the store's log-resident per-file stats (sources/parquet_meta.py),
so foreign Delta readers skip files too and the export needs no per-file
size request. Files whose add carried no stats (adopted or pre-stats)
are exported without ``stats`` and sized with one ``fs.filesize``.
"""

from __future__ import annotations

import json
import uuid

from ftm_lakehouse_spark.model.statement import STATEMENT_SCHEMA

__all__ = ["export_delta_log", "read_delta_snapshot", "DELTA_LOG_DIR"]

DELTA_LOG_DIR = "_delta_log"

#: partition directory layout of the statement store's data dir
_PARTITION_COLUMNS = ["shard", "bucket", "origin"]


#: Spark/Hive marker directory name for a NULL partition value
_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


def _partition_values(rel_file: str) -> dict[str, str | None]:
    """Recover partition values from a Hive-style ``key=value`` path.

    Spark percent-escapes special characters (space, ``%``, ``:`` …)
    when writing partition directories (ExternalCatalogUtils
    escapePathName), so the directory segment is NOT the value — the
    Delta log's ``partitionValues`` must carry the UNESCAPED value or
    external readers surface the escaped string as the column value.
    ``__HIVE_DEFAULT_PARTITION__`` means NULL (JSON null in the log)."""
    from urllib.parse import unquote

    vals: dict[str, str | None] = {}
    for seg in rel_file.split("/")[:-1]:
        if "=" in seg:
            k, v = seg.split("=", 1)
            vals[k] = None if v == _HIVE_NULL else unquote(v)
    return vals


#: write a parquet checkpoint + ``_last_checkpoint`` whenever the
#: published Delta version is a multiple of this (Delta's own default
#: cadence) — bounds every reader's JSON replay to O(interval)
CHECKPOINT_INTERVAL = 10


def _log_state(fs, log_dir) -> tuple[int, int, set[str]] | None:
    """(head delta version, source store version at head, live paths at
    head) replayed from the exported log itself — newest checkpoint at
    or before head, then the JSON tail. Returns None when no log has
    been exported yet. O(interval + files), never O(versions)."""
    import re

    if not fs.isdir(log_dir):
        return None
    commits: dict[int, str] = {}
    checkpoints: dict[int, str] = {}
    for name in fs.listdir(log_dir):
        m = re.fullmatch(r"(\d{20})\.json", name)
        if m:
            commits[int(m.group(1))] = fs.join(log_dir, name)
        m = re.fullmatch(r"(\d{20})\.checkpoint\.parquet", name)
        if m:
            checkpoints[int(m.group(1))] = fs.join(log_dir, name)
    if not commits:
        return None
    head = max(commits)
    live: dict[str, None] = {}
    start = 0
    cp_versions = [v for v in checkpoints if v <= head]
    if cp_versions:
        import io

        import pyarrow.parquet as pq

        cp = max(cp_versions)
        tbl = pq.read_table(
            io.BytesIO(fs.read_bytes(checkpoints[cp])), columns=["add"]
        )
        for a in tbl.column("add").to_pylist():
            if a and a.get("path"):
                live[a["path"]] = None
        start = cp + 1
    for v in sorted(v for v in commits if start <= v <= head):
        for line in fs.read_text(commits[v]).splitlines():
            if not line.strip():
                continue
            action = json.loads(line)
            if "add" in action:
                live[action["add"]["path"]] = None
            elif "remove" in action:
                live.pop(action["remove"]["path"], None)
    # The sourceVersion cursor ALWAYS comes from the head commit's own
    # commitInfo — not from the replay loop. When the newest checkpoint
    # equals head (every checkpoint_interval-th export) the loop range
    # is empty and a loop-carried cursor would silently reset to 0,
    # making the next export refold the whole commit log (or write a
    # spurious empty version on an unchanged-store re-export). The head
    # JSON commit is written by every export, so it is authoritative.
    source_version = 0
    for line in fs.read_text(commits[head]).splitlines():
        if not line.strip():
            continue
        action = json.loads(line)
        if "commitInfo" in action:
            source_version = int(
                action["commitInfo"]
                .get("operationParameters", {})
                .get("sourceVersion", source_version)
            )
    return head, source_version, set(live)


def _metadata_action(store, now_ms: int) -> dict:
    # deterministic table id: stable across re-exports of one store
    table_id = str(uuid.uuid5(uuid.NAMESPACE_URL, f"ftm-lakehouse-spark:{store.path}"))
    return {
        "metaData": {
            "id": table_id,
            "format": {"provider": "parquet", "options": {}},
            "schemaString": STATEMENT_SCHEMA.json(),
            "partitionColumns": _PARTITION_COLUMNS,
            "configuration": {},
            "createdTime": now_ms,
        }
    }


def _add_action(fs, data: str, rel: str, now_ms: int, stats: dict | None) -> dict:
    """One ``add``; ``stats`` is the file's log stats entry or None."""
    add = {
        "path": rel,
        "partitionValues": _partition_values(rel),
        "size": stats["size"] if stats else fs.filesize(fs.join(data, rel)),
        "modificationTime": now_ms,
        "dataChange": True,
    }
    if stats:
        add["stats"] = json.dumps(
            {k: stats[k] for k in ("numRecords", "minValues", "maxValues", "nullCount")}
        )
    return {"add": add}


def _write_checkpoint(
    store, fs, log_dir, version: int, stats: dict[str, dict | None],
    now_ms: int, source_version: int = 0,
):
    """Classic single-file parquet checkpoint (PROTOCOL.md
    "Checkpoints"): one row per action — protocol, metaData, and one
    ``add`` per live file (``stats``: the live snapshot, ``{file: log
    stats or None}``) — plus the ``_last_checkpoint`` pointer.
    Written with pyarrow driver-side (O(files) rows of metadata, no
    Spark job); the nested columns mirror the JSON action shapes, which
    is exactly what :func:`read_delta_snapshot` (and any Delta reader)
    replays."""
    import io

    import pyarrow as pa
    import pyarrow.parquet as pq

    data = store._data_path()
    meta = _metadata_action(store, now_ms)["metaData"]
    proto_t = pa.struct(
        [("minReaderVersion", pa.int32()), ("minWriterVersion", pa.int32())]
    )
    # the metaData row must mirror the JSON metaData action EXACTLY —
    # external readers replaying from the checkpoint (after JSON log
    # cleanup) take table configuration and format options from here,
    # so omitting the (empty) maps loses them or fails schema checks
    meta_t = pa.struct(
        [
            ("id", pa.string()),
            (
                "format",
                pa.struct(
                    [
                        ("provider", pa.string()),
                        ("options", pa.map_(pa.string(), pa.string())),
                    ]
                ),
            ),
            ("schemaString", pa.string()),
            ("partitionColumns", pa.list_(pa.string())),
            ("configuration", pa.map_(pa.string(), pa.string())),
            ("createdTime", pa.int64()),
        ]
    )
    add_t = pa.struct(
        [
            ("path", pa.string()),
            ("partitionValues", pa.map_(pa.string(), pa.string())),
            ("size", pa.int64()),
            ("modificationTime", pa.int64()),
            ("dataChange", pa.bool_()),
            ("stats", pa.string()),
        ]
    )
    rows_proto = [{"minReaderVersion": 1, "minWriterVersion": 2}] + [None] * (
        1 + len(stats)
    )
    rows_meta = [None] + [
        {
            "id": meta["id"],
            "format": {"provider": "parquet", "options": []},
            "schemaString": meta["schemaString"],
            "partitionColumns": meta["partitionColumns"],
            "configuration": [],
            "createdTime": meta["createdTime"],
        }
    ] + [None] * len(stats)
    adds = [
        _add_action(fs, data, rel, now_ms, stats[rel])["add"]
        for rel in sorted(stats)
    ]
    rows_add = [None, None] + [
        a | {"partitionValues": list(a["partitionValues"].items())} for a in adds
    ]
    tbl = pa.table(
        {
            "protocol": pa.array(rows_proto, type=proto_t),
            "metaData": pa.array(rows_meta, type=meta_t),
            "add": pa.array(rows_add, type=add_t),
        }
    )
    buf = io.BytesIO()
    pq.write_table(tbl, buf)
    fs.write_bytes_atomic(
        fs.join(log_dir, f"{version:020d}.checkpoint.parquet"), buf.getvalue()
    )
    # sourceVersion rides along in _last_checkpoint (readers ignore
    # unknown keys) as a second copy of the export cursor — the primary
    # copy is the head JSON's commitInfo, read by _log_state
    fs.write_text_atomic(
        fs.join(log_dir, "_last_checkpoint"),
        json.dumps(
            {"version": version, "size": tbl.num_rows,
             "sourceVersion": source_version}
        ) + "\n",
    )


def export_delta_log(
    store,
    now_ms: int | None = None,
    checkpoint_interval: int = CHECKPOINT_INTERVAL,
) -> str:
    """Publish the store's current snapshot into the table's
    ``_delta_log``; returns the written commit file path.

    First call writes version 0 with the full live file set. Each
    later call appends version N+1 carrying only ``add``/``remove``
    actions for what changed since the previous export — the
    difference between the store's snapshot at its current version and
    the previously-published live set (restores and rewrites need no
    special case). Idempotent: exporting twice at the same store version
    returns the existing head without writing. Every
    ``checkpoint_interval`` versions a parquet checkpoint +
    ``_last_checkpoint`` is written (see :func:`_write_checkpoint`).
    """
    fs = store._fs
    data = store._data_path()
    if now_ms is None:
        import time as _time

        now_ms = int(_time.time() * 1000)

    log_dir = fs.join(data, DELTA_LOG_DIR)
    state = _log_state(fs, log_dir)
    source_now = store.commits.current_version()

    if state is not None and source_now == state[1]:
        return fs.join(log_dir, f"{state[0]:020d}.json")  # no-op re-export
    stats = store.commits.snapshot_stats(source_now)
    live = set(stats)
    if state is None:
        version = 0
        actions = [
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
            _metadata_action(store, now_ms),
        ]
        actions += [
            _add_action(fs, data, rel, now_ms, stats[rel]) for rel in sorted(live)
        ]
        operation = "CONVERT"
    else:
        version, _, prev_live = state
        version += 1
        actions = [
            _add_action(fs, data, rel, now_ms, stats[rel])
            for rel in sorted(live - prev_live)
        ]
        actions += [
            {
                "remove": {
                    "path": rel,
                    "deletionTimestamp": now_ms,
                    "dataChange": True,
                }
            }
            for rel in sorted(prev_live - live)
        ]
        operation = "WRITE"

    actions.append(
        {
            "commitInfo": {
                "timestamp": now_ms,
                "operation": operation,
                "operationParameters": {"sourceVersion": str(source_now)},
                "engineInfo": "ftm-lakehouse-spark",
            }
        }
    )
    # _delta_log/ is a PUBLIC interchange directory read by foreign
    # engines (delta-rs, delta-spark, Trino) — never drop this engine's
    # private '.init' marker object in it on object stores; the log
    # file's own PUT creates the prefix there
    if getattr(fs, "has_directories", True):
        fs.mkdirs(log_dir)
    log_path = fs.join(log_dir, f"{version:020d}.json")
    fs.write_text_atomic(log_path, "\n".join(json.dumps(a) for a in actions) + "\n")
    if version > 0 and checkpoint_interval > 0 and version % checkpoint_interval == 0:
        _write_checkpoint(
            store, fs, log_dir, version, stats, now_ms,
            source_version=source_now,
        )
    return log_path


def read_delta_snapshot(spark, table_path: str, version: int | None = None):
    """Open a Delta table written by ANY engine (delta-rs, delta-spark,
    or :func:`export_delta_log`) as a DataFrame — the adopt/read half
    of the interop story, again without Delta jars: replay the public
    transaction log (newest parquet checkpoint at-or-before the target
    version, if any, then the JSON commits after it), resolve the live
    ``add`` set, and read exactly those files. ``version=None`` reads
    the latest. Time travel works for any version whose files survive
    the writer's vacuum — identical semantics to the native log.

    Scale: log replay is O(commits since checkpoint) driver-side JSON
    parsing — the same cost every Delta reader pays; the data read is
    a plain parquet scan of the resolved file list (predicate pushdown
    and column pruning apply as normal)."""
    import os
    import re

    log_dir = os.path.join(table_path, DELTA_LOG_DIR)
    commits: dict[int, str] = {}
    checkpoints: dict[int, str] = {}
    multipart: set[int] = set()
    for name in os.listdir(log_dir):
        m = re.fullmatch(r"(\d{20})\.json", name)
        if m:
            commits[int(m.group(1))] = os.path.join(log_dir, name)
        m = re.fullmatch(r"(\d{20})\.checkpoint\.parquet", name)
        if m:
            checkpoints[int(m.group(1))] = os.path.join(log_dir, name)
        # multi-part / v2 checkpoints (NNN.checkpoint.0000000001.0000000002
        # .parquet, *.checkpoint.<uuid>.{parquet,json}) are NOT silently
        # skipped: if the JSON tail below them was cleaned, replaying
        # without them would produce a WRONG live set — refuse loudly.
        elif ".checkpoint." in name:
            m = re.match(r"(\d{20})\.checkpoint\.", name)
            if m:
                multipart.add(int(m.group(1)))
    if not commits and not checkpoints:
        raise FileNotFoundError(f"no Delta log at {log_dir}")
    head = max(list(commits) + list(checkpoints) + list(multipart))
    target = head if version is None else version
    if target not in commits and target not in checkpoints:
        raise ValueError(f"version {target} not in the Delta log (head {head})")
    needed_multipart = [v for v in multipart if v <= target]
    covered = min(commits, default=None)
    if needed_multipart and (covered is None or covered > 0):
        raise NotImplementedError(
            "multi-part/v2 Delta checkpoint at version "
            f"{max(needed_multipart)} and the JSON log does not reach back "
            "to version 0 — this reader supports single-file classic "
            "checkpoints only; install delta-spark/delta-rs for this table"
        )

    # live add set, keyed by path → the add action's recorded
    # partitionValues (the AUTHORITATIVE source for partition columns:
    # Delta does not require Hive path layout)
    live: dict[str, dict] = {}
    schema_json: str | None = None
    partition_cols: list[str] = []
    table_config: dict[str, str] = {}

    def _check_protocol(p: dict) -> None:
        # Reader v1 (plain) and v2 (column mapping — implemented below)
        # replay here; v3 only when its feature list is exactly the
        # column-mapping feature. Everything else (deletion vectors,
        # v2Checkpoint, timestampNtz, …) is refused LOUDLY: replaying
        # naively resurfaces DV-masked rows or misreads schemas —
        # silently wrong results. Same policy as the multi-part
        # checkpoint refusal above.
        mrv = int(p.get("minReaderVersion", 1))
        feats = set(p.get("readerFeatures") or [])
        if mrv > 3 or (mrv == 3 and not feats <= {"columnMapping"}) or (
            mrv < 3 and feats
        ):
            raise NotImplementedError(
                f"Delta table requires minReaderVersion={mrv} "
                f"readerFeatures={sorted(feats)} — this reader implements "
                "the version-1/2 reader protocol (+ the columnMapping "
                "feature) only, no deletion vectors; install "
                "delta-spark/delta-rs for this table"
            )

    start = 0
    cp_versions = [v for v in checkpoints if v <= target]
    if cp_versions:
        cp = max(cp_versions)
        cdf = spark.read.parquet(checkpoints[cp]).collect()
        for row in cdf:
            d = row.asDict(recursive=True)
            if d.get("protocol") and d["protocol"].get("minReaderVersion") is not None:
                _check_protocol(d["protocol"])
            if d.get("add") and d["add"].get("path"):
                live[d["add"]["path"]] = d["add"].get("partitionValues") or {}
            if d.get("metaData") and d["metaData"].get("schemaString"):
                schema_json = d["metaData"]["schemaString"]
                partition_cols = list(d["metaData"].get("partitionColumns") or [])
                table_config = dict(d["metaData"].get("configuration") or {})
        start = cp + 1
    missing = [v for v in range(start, target + 1) if v not in commits]
    if missing:
        raise ValueError(
            f"Delta log hole: commits {missing[:5]}{'...' if len(missing) > 5 else ''}"
            f" absent between checkpoint {start - 1} and target {target}"
        )
    for v in sorted(v for v in commits if start <= v <= target):
        with open(commits[v]) as fh:
            for line in fh:
                if not line.strip():
                    continue
                action = json.loads(line)
                if "protocol" in action:
                    _check_protocol(action["protocol"])
                elif "add" in action:
                    live[action["add"]["path"]] = (
                        action["add"].get("partitionValues") or {}
                    )
                elif "remove" in action:
                    live.pop(action["remove"]["path"], None)
                elif "metaData" in action:
                    schema_json = action["metaData"]["schemaString"]
                    partition_cols = list(
                        action["metaData"].get("partitionColumns") or []
                    )
                    table_config = dict(
                        action["metaData"].get("configuration") or {}
                    )

    from pyspark.sql.types import StructType

    schema = (
        StructType.fromJson(json.loads(schema_json)) if schema_json else None
    )
    mapping_mode = table_config.get("delta.columnMapping.mode", "none")
    if mapping_mode == "id":
        # id mode resolves columns by parquet FIELD ID, a different
        # matching machinery (and one a hand-rolled schema read gets
        # silently wrong when files predate a rename) — refuse loudly,
        # name mode below covers the common modern-Delta rename case
        raise NotImplementedError(
            "Delta column mapping mode 'id' (parquet field-id resolution) "
            "is not implemented — only 'name' mode; install "
            "delta-spark/delta-rs for this table"
        )
    if mapping_mode == "name":
        if schema is None:
            raise ValueError(
                "column-mapped Delta table with no metaData schema action"
            )
        return _read_column_mapped(
            spark, table_path, live, schema, partition_cols
        )
    if not live:
        if schema is None:
            raise ValueError("empty Delta snapshot with no schema action")
        return spark.createDataFrame([], schema)

    if not partition_cols:
        paths = [os.path.join(table_path, p) for p in sorted(live)]
        reader = spark.read
        if schema is not None:
            reader = reader.schema(schema)
        return reader.parquet(*paths)

    # Partitioned table: the add actions' partitionValues are the truth.
    # Fast path — when every live file sits in a Hive-style directory
    # whose (unescaped) values MATCH its recorded partitionValues, let
    # Spark's partition discovery recover the columns (vectorized, zero
    # extra plan nodes). Otherwise materialize the recorded values per
    # partition group: a non-Hive layout read via basePath would
    # silently yield NULL partition columns.
    hive_ok = all(
        {k: _partition_values(p).get(k) for k in partition_cols} == pv
        for p, pv in live.items()
    )
    if hive_ok:
        paths = [os.path.join(table_path, p) for p in sorted(live)]
        reader = spark.read
        if schema is not None:
            reader = reader.schema(schema)
        return reader.option("basePath", table_path).parquet(*paths)

    if schema is None:
        raise ValueError(
            "partitioned Delta table with non-Hive file layout and no "
            "metaData schema action — cannot type the partition columns"
        )
    from functools import reduce as _reduce

    from pyspark.sql import functions as F

    # data files of a partitioned Delta table do NOT contain the
    # partition columns — read with the data-only schema, then attach
    # the recorded values as typed literals, one read per distinct
    # partition tuple (bounded by the live partition count, the same
    # cardinality any Delta reader's file index tracks)
    data_schema = StructType([f for f in schema.fields if f.name not in partition_cols])
    groups: dict[tuple, list[str]] = {}
    for p, pv in live.items():
        key = tuple(pv.get(k) for k in partition_cols)
        groups.setdefault(key, []).append(p)
    parts = []
    for key in sorted(groups, key=lambda t: tuple("" if x is None else x for x in t)):
        df = (
            spark.read.schema(data_schema)
            .parquet(*[os.path.join(table_path, p) for p in sorted(groups[key])])
        )
        for col, val in zip(partition_cols, key):
            df = df.withColumn(col, F.lit(val).cast(schema[col].dataType))
        parts.append(df.select([f.name for f in schema.fields]))
    return _reduce(lambda a, b: a.unionByName(b), parts)


# --------------------------------------------------------------- column
# mapping (reader protocol v2 / the columnMapping reader feature):
# parquet files store columns under stable PHYSICAL names
# (``delta.columnMapping.physicalName`` in each schema field's
# metadata); logical names live only in the log's schema. Renames and
# drops are therefore metadata-only — the reader must resolve every
# level of the schema through the physical names (delta.io PROTOCOL.md
# "Column Mapping"; reference interop reads this through delta-rs).


def _physical_name(field) -> str:
    return (field.metadata or {}).get("delta.columnMapping.physicalName", field.name)


def _physical_type(dt):
    """The parquet-side type of a logical type: every struct field at
    every nesting level renamed to its physical name."""
    from pyspark.sql.types import ArrayType, MapType, StructField, StructType

    if isinstance(dt, StructType):
        return StructType(
            [
                StructField(
                    _physical_name(f), _physical_type(f.dataType), f.nullable, f.metadata
                )
                for f in dt.fields
            ]
        )
    if isinstance(dt, ArrayType):
        return ArrayType(_physical_type(dt.elementType), dt.containsNull)
    if isinstance(dt, MapType):
        return MapType(
            _physical_type(dt.keyType),
            _physical_type(dt.valueType),
            dt.valueContainsNull,
        )
    return dt


def _to_logical(col, dt):
    """Rebuild a physically-named column as its logical shape: struct
    fields re-aliased recursively, arrays/maps descended with
    ``transform``/``transform_values`` (map keys are primitive in
    parquet). A null struct stays null (the rebuilt struct literal
    would otherwise materialize as a struct of nulls)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import ArrayType, MapType, StructType

    if isinstance(dt, StructType):
        rebuilt = F.struct(
            *[
                _to_logical(col.getField(_physical_name(f)), f.dataType).alias(f.name)
                for f in dt.fields
            ]
        )
        return F.when(col.isNull(), F.lit(None)).otherwise(rebuilt)
    if isinstance(dt, ArrayType):
        return F.transform(col, lambda x: _to_logical(x, dt.elementType))
    if isinstance(dt, MapType):
        return F.transform_values(col, lambda _, v: _to_logical(v, dt.valueType))
    return col


def _read_column_mapped(spark, table_path, live, schema, partition_cols):
    """Read the live add set of a name-mode column-mapped table.

    Data files never contain partition columns, and in mapped tables
    the file layout is typically flat (no Hive directories) — the add
    actions' ``partitionValues`` are the only truth, keyed by PHYSICAL
    name. Reads group by distinct partition tuple (same cardinality any
    Delta reader's file index tracks), scan with the physical data
    schema, rebuild logical names/shapes, then attach the recorded
    partition values as typed literals."""
    import os
    from functools import reduce as _reduce

    from pyspark.sql import functions as F

    part_set = set(partition_cols)
    data_fields = [f for f in schema.fields if f.name not in part_set]
    phys_data_schema = _physical_type(
        type(schema)([f for f in data_fields])
    )
    phys_key = {f.name: _physical_name(f) for f in schema.fields}

    def _logical_select(df):
        return df.select(
            *[
                _to_logical(F.col(f"`{_physical_name(f)}`"), f.dataType).alias(f.name)
                for f in data_fields
            ]
        )

    if not live:
        return spark.createDataFrame([], schema)

    if not partition_cols:
        df = spark.read.schema(phys_data_schema).parquet(
            *[os.path.join(table_path, p) for p in sorted(live)]
        )
        return _logical_select(df)

    groups: dict[tuple, list[str]] = {}
    for p, pv in live.items():
        key = tuple(pv.get(phys_key[c]) for c in partition_cols)
        groups.setdefault(key, []).append(p)
    parts = []
    for key in sorted(groups, key=lambda t: tuple("" if x is None else x for x in t)):
        df = _logical_select(
            spark.read.schema(phys_data_schema).parquet(
                *[os.path.join(table_path, p) for p in sorted(groups[key])]
            )
        )
        for col, val in zip(partition_cols, key):
            df = df.withColumn(col, F.lit(val).cast(schema[col].dataType))
        parts.append(df.select([f.name for f in schema.fields]))
    return _reduce(lambda a, b: a.unionByName(b), parts)
