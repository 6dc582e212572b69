import json

import pyarrow.parquet as pq
from pyspark.sql import functions as F


def test_delta_log_export_is_a_readable_delta_snapshot(spark, lake_root):
    from ftm_lakehouse_spark.lakehouse import Lakehouse
    from ftm_lakehouse_spark.model.statement import STATEMENT_SCHEMA
    from ftm_lakehouse_spark.sources.delta_export import export_delta_log
    from tests.test_lakehouse import JANE, entities_df

    lake = Lakehouse(spark, lake_root)
    ds = lake.dataset("deltaexp")
    ds.write_entities(entities_df(spark, JANE), origin="bulk")
    ds.merge()
    store = ds.store

    log_path = export_delta_log(store)
    lines = [json.loads(l) for l in open(log_path) if l.strip()]

    protos = [l["protocol"] for l in lines if "protocol" in l]
    metas = [l["metaData"] for l in lines if "metaData" in l]
    adds = [l["add"] for l in lines if "add" in l]
    assert len(protos) == 1 and protos[0]["minReaderVersion"] == 1
    assert len(metas) == 1
    # schemaString round-trips to the exact statement schema
    from pyspark.sql.types import StructType
    assert StructType.fromJson(json.loads(metas[0]["schemaString"])) == STATEMENT_SCHEMA
    assert metas[0]["partitionColumns"] == ["shard", "bucket", "origin"]
    # the add set IS the MVCC snapshot, with real sizes and partition values
    assert sorted(a["path"] for a in adds) == sorted(store.commits.snapshot())
    data = store._data_path()
    for a in adds:
        assert a["size"] == store._fs.filesize(store._fs.join(data, a["path"]))
        assert set(a["partitionValues"]) == {"shard", "bucket", "origin"}
    # Delta stats come from the commit log and match the footers
    for a in adds:
        st = json.loads(a["stats"])
        md = pq.read_metadata(store._fs.join(data, a["path"]))
        assert st["numRecords"] == md.num_rows
        col = {md.schema.column(i).name: i for i in range(md.num_columns)}
        for name in ("entity_id", "first_seen"):
            chunks = [
                md.row_group(g).column(col[name]).statistics
                for g in range(md.num_row_groups)
            ]
            lo, hi = min(c.min for c in chunks), max(c.max for c in chunks)
            if name == "first_seen":
                lo, hi = (v.strftime("%Y-%m-%dT%H:%M:%S.%fZ") for v in (lo, hi))
            assert (st["minValues"][name], st["maxValues"][name]) == (lo, hi)
        assert st["nullCount"]["deleted_at"] == sum(
            md.row_group(g).column(col["deleted_at"]).statistics.null_count
            for g in range(md.num_row_groups)
        )
    # a generic Delta reader reconstructs the table from the log alone:
    # reading exactly the add paths reproduces store.raw()
    paths = [store._fs.join(data, a["path"]) for a in adds]
    df = spark.read.schema(STATEMENT_SCHEMA).parquet(*paths)
    assert df.count() == store.raw().count()
    # re-export after more writes is INCREMENTAL: version 0 is
    # immutable history; version 1 carries only the add delta (no
    # repeated protocol/metaData), and replaying 0..1 gives the
    # current snapshot
    ds.write_entities(entities_df(spark, JANE), origin="bulk2")
    p1 = export_delta_log(store)
    assert p1.endswith(f"{1:020d}.json")
    assert [json.loads(l) for l in open(log_path) if l.strip()] == lines
    lines1 = [json.loads(l) for l in open(p1) if l.strip()]
    adds1 = [l["add"]["path"] for l in lines1 if "add" in l]
    assert adds1 and not any("metaData" in l or "protocol" in l for l in lines1)
    assert sorted({a["path"] for a in adds} | set(adds1)) == sorted(
        store.commits.snapshot()
    )
    # idempotent: same store version → no new Delta version
    assert export_delta_log(store) == p1
    # and vacuum never reaps the published log (non-parquet is invisible
    # to the untracked sweep)
    store.vacuum(retention_hours=0.0)
    assert store._fs.exists(log_path)


def test_read_delta_snapshot_roundtrip_and_foreign_log(spark, lake_root, tmp_path):
    from ftm_lakehouse_spark.lakehouse import Lakehouse
    from ftm_lakehouse_spark.sources.delta_export import (
        export_delta_log,
        read_delta_snapshot,
    )
    from tests.test_lakehouse import JANE, entities_df

    lake = Lakehouse(spark, lake_root)
    ds = lake.dataset("deltaread")
    ds.write_entities(entities_df(spark, JANE), origin="bulk")
    store = ds.store
    export_delta_log(store)

    # roundtrip: a generic reader over our published log == store.raw()
    back = read_delta_snapshot(spark, store._data_path())
    assert back.count() == store.raw().count()
    assert set(back.columns) == set(store.raw().columns)

    # foreign log written by "another engine": adds then a remove in a
    # later commit — replay must honor both, and time travel sees v0
    ext = tmp_path / "ext_table"
    log = ext / "_delta_log"
    log.mkdir(parents=True)
    sdf = spark.range(4).selectExpr("id", "id * 2 AS v")
    sdf.where("id < 2").coalesce(1).write.parquet(str(ext / "p1"))
    sdf.where("id >= 2").coalesce(1).write.parquet(str(ext / "p2"))
    import glob
    import json as j

    f1 = "p1/" + glob.glob(str(ext / "p1" / "*.parquet"))[0].split("/")[-1]
    f2 = "p2/" + glob.glob(str(ext / "p2" / "*.parquet"))[0].split("/")[-1]
    schema_str = sdf.schema.json()
    meta = {"metaData": {"id": "x", "format": {"provider": "parquet", "options": {}},
                          "schemaString": schema_str, "partitionColumns": [],
                          "configuration": {}, "createdTime": 0}}
    (log / f"{0:020d}.json").write_text(
        "\n".join(j.dumps(a) for a in [
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
            meta,
            {"add": {"path": f1, "partitionValues": {}, "size": 1,
                     "modificationTime": 0, "dataChange": True}},
            {"add": {"path": f2, "partitionValues": {}, "size": 1,
                     "modificationTime": 0, "dataChange": True}},
        ]) + "\n")
    (log / f"{1:020d}.json").write_text(
        j.dumps({"remove": {"path": f2, "deletionTimestamp": 1,
                            "dataChange": True}}) + "\n")

    latest = read_delta_snapshot(spark, str(ext))
    assert sorted(r["id"] for r in latest.collect()) == [0, 1]
    v0 = read_delta_snapshot(spark, str(ext), version=0)
    assert sorted(r["id"] for r in v0.collect()) == [0, 1, 2, 3]


def test_export_and_read_empty_store(spark, lake_root):
    from ftm_lakehouse_spark.lakehouse import Lakehouse
    from ftm_lakehouse_spark.model.statement import STATEMENT_SCHEMA
    from ftm_lakehouse_spark.sources.delta_export import (
        export_delta_log,
        read_delta_snapshot,
    )

    ds = Lakehouse(spark, lake_root).dataset("deltaempty")
    store = ds.store
    log_path = export_delta_log(store)
    back = read_delta_snapshot(spark, store._data_path())
    assert back.count() == 0
    assert back.schema == STATEMENT_SCHEMA
    import json as j

    adds = [l for l in open(log_path) if "\"add\"" in l]
    assert adds == []


def test_reader_refuses_silent_wrongness(spark, tmp_path):
    import json as j

    import pytest

    from ftm_lakehouse_spark.sources.delta_export import read_delta_snapshot

    ext = tmp_path / "t"
    log = ext / "_delta_log"
    log.mkdir(parents=True)
    meta = {"metaData": {"id": "x", "format": {"provider": "parquet", "options": {}},
                          "schemaString": spark.range(1).schema.json(),
                          "partitionColumns": [], "configuration": {},
                          "createdTime": 0}}
    # multi-part checkpoint with the JSON tail cleaned below it → refuse
    (log / "00000000000000000004.checkpoint.0000000001.0000000002.parquet").write_bytes(b"")
    (log / f"{5:020d}.json").write_text(j.dumps(meta) + "\n")
    with pytest.raises(NotImplementedError, match="multi-part"):
        read_delta_snapshot(spark, str(ext))

    # hole in the JSON sequence → refuse, never replay past it
    ext2 = tmp_path / "t2"
    log2 = ext2 / "_delta_log"
    log2.mkdir(parents=True)
    (log2 / f"{0:020d}.json").write_text(j.dumps(meta) + "\n")
    (log2 / f"{2:020d}.json").write_text(j.dumps(meta) + "\n")
    with pytest.raises(ValueError, match="hole"):
        read_delta_snapshot(spark, str(ext2))

    # reader-protocol features we don't implement (column mapping,
    # deletion vectors) → refuse loudly; replaying naively would
    # resurface DV-masked rows / misread column-mapped schemas
    ext3 = tmp_path / "t3"
    log3 = ext3 / "_delta_log"
    log3.mkdir(parents=True)
    (log3 / f"{0:020d}.json").write_text(
        "\n".join(j.dumps(a) for a in [
            {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                          "readerFeatures": ["deletionVectors"],
                          "writerFeatures": ["deletionVectors"]}},
            meta,
        ]) + "\n")
    with pytest.raises(NotImplementedError, match="minReaderVersion=3"):
        read_delta_snapshot(spark, str(ext3))
    # minReaderVersion=2 (column mapping, implemented in name mode) is
    # ACCEPTED now; mode 'id' (parquet field-id resolution) still
    # refuses loudly
    ext4 = tmp_path / "t4"
    log4 = ext4 / "_delta_log"
    log4.mkdir(parents=True)
    meta_id = j.loads(j.dumps(meta))
    meta_id["metaData"]["configuration"] = {"delta.columnMapping.mode": "id"}
    (log4 / f"{0:020d}.json").write_text(
        "\n".join(j.dumps(a) for a in [
            {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
            meta_id,
        ]) + "\n")
    with pytest.raises(NotImplementedError, match="'id'"):
        read_delta_snapshot(spark, str(ext4))
    # a v2 table WITHOUT mapping config (mode none) reads normally
    ext5 = tmp_path / "t5"
    log5 = ext5 / "_delta_log"
    log5.mkdir(parents=True)
    (log5 / f"{0:020d}.json").write_text(
        "\n".join(j.dumps(a) for a in [
            {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
            meta,
        ]) + "\n")
    assert read_delta_snapshot(spark, str(ext5)).count() == 0


def test_partition_values_unescape_and_null():
    """Spark percent-escapes special characters in partition directory
    names; the Delta log's partitionValues must carry the REAL value,
    and __HIVE_DEFAULT_PARTITION__ must map to JSON null."""
    from ftm_lakehouse_spark.sources.delta_export import _partition_values

    vals = _partition_values(
        "shard=0/origin=crawl%20run%25b/bucket=__HIVE_DEFAULT_PARTITION__/f.parquet"
    )
    assert vals == {"shard": "0", "origin": "crawl run%b", "bucket": None}


def test_read_foreign_partitioned_non_hive_layout(spark, tmp_path):
    """Delta does not require Hive key=value paths: a foreign table
    whose files sit in flat directories must still read its partition
    columns from the add actions' recorded partitionValues (a basePath
    read would silently surface NULLs)."""
    import glob
    import json as j

    from ftm_lakehouse_spark.sources.delta_export import read_delta_snapshot

    ext = tmp_path / "flat"
    log = ext / "_delta_log"
    log.mkdir(parents=True)
    # data files do NOT contain the partition column (Delta invariant)
    df = spark.range(6).selectExpr("id", "id * 10 AS v")
    df.where("id < 3").coalesce(1).write.parquet(str(ext / "fileA"))
    df.where("id >= 3").coalesce(1).write.parquet(str(ext / "fileB"))
    fa = "fileA/" + glob.glob(str(ext / "fileA" / "*.parquet"))[0].split("/")[-1]
    fb = "fileB/" + glob.glob(str(ext / "fileB" / "*.parquet"))[0].split("/")[-1]
    full_schema = spark.range(1).selectExpr(
        "id", "id * 10 AS v", "CAST('x' AS STRING) AS part"
    ).schema
    actions = [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {"metaData": {"id": "x", "format": {"provider": "parquet", "options": {}},
                      "schemaString": full_schema.json(),
                      "partitionColumns": ["part"], "configuration": {},
                      "createdTime": 0}},
        {"add": {"path": fa, "partitionValues": {"part": "alpha beta"},
                 "size": 1, "modificationTime": 0, "dataChange": True}},
        {"add": {"path": fb, "partitionValues": {"part": None},
                 "size": 1, "modificationTime": 0, "dataChange": True}},
    ]
    (log / f"{0:020d}.json").write_text(
        "\n".join(j.dumps(a) for a in actions) + "\n")

    out = read_delta_snapshot(spark, str(ext))
    rows = {r["id"]: r["part"] for r in out.collect()}
    assert rows == {0: "alpha beta", 1: "alpha beta", 2: "alpha beta",
                    3: None, 4: None, 5: None}
    assert set(out.columns) == {"id", "v", "part"}


def test_read_foreign_hive_layout_with_escaped_values(spark, tmp_path):
    """A Spark-written partitioned table with special characters in the
    partition value: directory names are percent-escaped, and both the
    recorded partitionValues and the read-back column must be the REAL
    (unescaped) value."""
    import json as j
    import os

    from ftm_lakehouse_spark.sources.delta_export import read_delta_snapshot

    ext = tmp_path / "esc"
    df = spark.createDataFrame(
        [(1, "crawl run%1"), (2, "crawl run%1"), (3, "plain")],
        ["id", "src"],
    )
    df.write.partitionBy("src").parquet(str(ext))
    # Spark escaped the directory name
    dirs = [d for d in os.listdir(ext) if d.startswith("src=")]
    assert any("%" in d for d in dirs)
    adds = []
    for root, _, names in os.walk(ext):
        for n in names:
            if n.endswith(".parquet"):
                rel = os.path.relpath(os.path.join(root, n), ext)
                adds.append(rel)
    from ftm_lakehouse_spark.sources.delta_export import _partition_values

    log = ext / "_delta_log"
    log.mkdir()
    actions = [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {"metaData": {"id": "x", "format": {"provider": "parquet", "options": {}},
                      "schemaString": df.schema.json(),
                      "partitionColumns": ["src"], "configuration": {},
                      "createdTime": 0}},
    ] + [
        {"add": {"path": rel, "partitionValues": _partition_values(rel),
                 "size": 1, "modificationTime": 0, "dataChange": True}}
        for rel in sorted(adds)
    ]
    (log / f"{0:020d}.json").write_text(
        "\n".join(j.dumps(a) for a in actions) + "\n")
    out = read_delta_snapshot(spark, str(ext))
    assert {r["id"]: r["src"] for r in out.collect()} == {
        1: "crawl run%1", 2: "crawl run%1", 3: "plain"
    }


def test_read_column_mapped_name_mode_rename_and_drop(spark, tmp_path):
    """Round-4 VERDICT item 2: name-mode column mapping (reader v2) —
    the most common modern-Delta feature (any OSS Delta >= 2.x table
    after a column RENAME or DROP). Hand-built log: parquet files carry
    stable physical names (col-<uuid>); the logical schema renamed one
    column and dropped another AFTER the files were written — both are
    metadata-only, so the reader must resolve through
    delta.columnMapping.physicalName and never trust parquet names."""
    import json as j

    from pyspark.sql import Row
    from ftm_lakehouse_spark.sources.delta_export import read_delta_snapshot

    ext = tmp_path / "cm"
    log = ext / "_delta_log"
    log.mkdir(parents=True)
    # physical file: columns col-aaa (id), col-bbb (renamed later),
    # col-ccc (dropped later), written under PHYSICAL names
    pdf = spark.createDataFrame(
        [Row(**{"col-aaa": i, "col-bbb": f"v{i}", "col-ccc": i * 10}) for i in range(4)]
    )
    pdf.coalesce(1).write.mode("overwrite").parquet(str(ext / "data"))
    import os

    part_files = [
        "data/" + n for n in os.listdir(ext / "data") if n.endswith(".parquet")
    ]
    # logical schema AFTER rename (amount -> amount_renamed happened on
    # col-bbb) and AFTER dropping col-ccc: only 2 logical columns remain
    fields = [
        {"name": "id", "type": "long", "nullable": True,
         "metadata": {"delta.columnMapping.id": 1,
                      "delta.columnMapping.physicalName": "col-aaa"}},
        {"name": "label_renamed", "type": "string", "nullable": True,
         "metadata": {"delta.columnMapping.id": 2,
                      "delta.columnMapping.physicalName": "col-bbb"}},
    ]
    actions = [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        {"metaData": {"id": "cm-table", "format": {"provider": "parquet", "options": {}},
                      "schemaString": j.dumps({"type": "struct", "fields": fields}),
                      "partitionColumns": [],
                      "configuration": {"delta.columnMapping.mode": "name",
                                        "delta.columnMapping.maxColumnId": "3"},
                      "createdTime": 0}},
    ] + [
        {"add": {"path": p, "partitionValues": {}, "size": 1,
                 "modificationTime": 0, "dataChange": True}}
        for p in part_files
    ]
    (log / f"{0:020d}.json").write_text("\n".join(j.dumps(a) for a in actions) + "\n")

    df = read_delta_snapshot(spark, str(ext))
    assert df.columns == ["id", "label_renamed"]  # drop honored, rename honored
    rows = {r["id"]: r["label_renamed"] for r in df.collect()}
    assert rows == {0: "v0", 1: "v1", 2: "v2", 3: "v3"}


def test_read_column_mapped_partitioned_flat_layout(spark, tmp_path):
    """Column-mapped tables use flat file layouts — partitionValues
    (keyed by PHYSICAL name) are the only source of partition columns;
    data files do not contain them."""
    import json as j

    from pyspark.sql import Row
    from ftm_lakehouse_spark.sources.delta_export import read_delta_snapshot

    ext = tmp_path / "cmp"
    log = ext / "_delta_log"
    log.mkdir(parents=True)
    for tag, lo in (("x", 0), ("y", 10)):
        spark.createDataFrame(
            [Row(**{"col-val": lo + i}) for i in range(3)]
        ).coalesce(1).write.mode("overwrite").parquet(str(ext / f"part-{tag}"))
    import os

    def one_file(tag):
        d = ext / f"part-{tag}"
        return f"part-{tag}/" + next(
            n for n in os.listdir(d) if n.endswith(".parquet")
        )

    fields = [
        {"name": "val", "type": "long", "nullable": True,
         "metadata": {"delta.columnMapping.id": 1,
                      "delta.columnMapping.physicalName": "col-val"}},
        {"name": "cat", "type": "string", "nullable": True,
         "metadata": {"delta.columnMapping.id": 2,
                      "delta.columnMapping.physicalName": "col-cat"}},
    ]
    actions = [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        {"metaData": {"id": "cmp-table", "format": {"provider": "parquet", "options": {}},
                      "schemaString": j.dumps({"type": "struct", "fields": fields}),
                      "partitionColumns": ["cat"],
                      "configuration": {"delta.columnMapping.mode": "name"},
                      "createdTime": 0}},
        {"add": {"path": one_file("x"), "partitionValues": {"col-cat": "x"},
                 "size": 1, "modificationTime": 0, "dataChange": True}},
        {"add": {"path": one_file("y"), "partitionValues": {"col-cat": "y"},
                 "size": 1, "modificationTime": 0, "dataChange": True}},
    ]
    (log / f"{0:020d}.json").write_text("\n".join(j.dumps(a) for a in actions) + "\n")

    df = read_delta_snapshot(spark, str(ext))
    assert sorted(df.columns) == ["cat", "val"]
    got = sorted((r["cat"], r["val"]) for r in df.collect())
    assert got == [("x", 0), ("x", 1), ("x", 2), ("y", 10), ("y", 11), ("y", 12)]


def test_read_column_mapped_nested_struct_and_array(spark, tmp_path):
    """Physical names apply at EVERY nesting level in name mode: a
    struct column whose inner fields were renamed must rebuild the
    logical shape recursively (arrays descended, null structs stay
    null)."""
    import json as j

    from ftm_lakehouse_spark.sources.delta_export import read_delta_snapshot

    ext = tmp_path / "cmn"
    log = ext / "_delta_log"
    log.mkdir(parents=True)
    spark.createDataFrame(
        [(1, {"col-in": 5}, [{"col-in": 7}]), (2, None, [])],
        "`col-id` long, `col-st` struct<`col-in`: long>, "
        "`col-ar` array<struct<`col-in`: long>>",
    ).coalesce(1).write.mode("overwrite").parquet(str(ext / "data"))
    import os

    part_files = [
        "data/" + n for n in os.listdir(ext / "data") if n.endswith(".parquet")
    ]
    inner = [{"name": "inner", "type": "long", "nullable": True,
              "metadata": {"delta.columnMapping.id": 10,
                           "delta.columnMapping.physicalName": "col-in"}}]
    fields = [
        {"name": "id", "type": "long", "nullable": True,
         "metadata": {"delta.columnMapping.id": 1,
                      "delta.columnMapping.physicalName": "col-id"}},
        {"name": "st", "type": {"type": "struct", "fields": inner}, "nullable": True,
         "metadata": {"delta.columnMapping.id": 2,
                      "delta.columnMapping.physicalName": "col-st"}},
        {"name": "ar",
         "type": {"type": "array",
                  "elementType": {"type": "struct", "fields": inner},
                  "containsNull": True},
         "nullable": True,
         "metadata": {"delta.columnMapping.id": 3,
                      "delta.columnMapping.physicalName": "col-ar"}},
    ]
    actions = [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        {"metaData": {"id": "cmn-table", "format": {"provider": "parquet", "options": {}},
                      "schemaString": j.dumps({"type": "struct", "fields": fields}),
                      "partitionColumns": [],
                      "configuration": {"delta.columnMapping.mode": "name"},
                      "createdTime": 0}},
    ] + [
        {"add": {"path": p, "partitionValues": {}, "size": 1,
                 "modificationTime": 0, "dataChange": True}}
        for p in part_files
    ]
    (log / f"{0:020d}.json").write_text("\n".join(j.dumps(a) for a in actions) + "\n")

    df = read_delta_snapshot(spark, str(ext))
    assert df.columns == ["id", "st", "ar"]
    by_id = {r["id"]: r for r in df.collect()}
    assert by_id[1]["st"]["inner"] == 5
    assert by_id[1]["ar"][0]["inner"] == 7
    assert by_id[2]["st"] is None and by_id[2]["ar"] == []


def test_incremental_export_checkpoints_and_version_time_travel(
    spark, lake_root
):
    """Round-6 VERDICT item 4: successive exports publish Delta
    versions 0..K with add/remove deltas, a parquet checkpoint +
    _last_checkpoint every N versions, and a foreign reader
    (read_delta_snapshot replays only the PUBLIC log format) matches
    raw(as_of=<store version at that export>) at EVERY version — with
    the checkpoint proven load-bearing by deleting the JSON commits it
    covers."""
    import os

    from ftm_lakehouse_spark.lakehouse import Lakehouse
    from ftm_lakehouse_spark.sources.delta_export import (
        DELTA_LOG_DIR,
        export_delta_log,
        read_delta_snapshot,
    )
    from tests.test_lakehouse import JANE, entities_df

    lake = Lakehouse(spark, lake_root)
    ds = lake.dataset("deltainc")
    store = ds.store

    src_at: dict[int, int] = {}
    ds.write_entities(entities_df(spark, JANE), origin="o0")
    p = export_delta_log(store, checkpoint_interval=3)
    assert p.endswith(f"{0:020d}.json")
    src_at[0] = store.commits.current_version()
    for i in range(1, 8):
        ds.write_entities(entities_df(spark, JANE), origin=f"o{i}")
        if i == 4:
            ds.merge()  # rewrite → this export must publish removes
        p = export_delta_log(store, checkpoint_interval=3)
        assert p.endswith(f"{i:020d}.json"), p
        src_at[i] = store.commits.current_version()

    data = store._data_path()
    log_dir = os.path.join(data, DELTA_LOG_DIR)
    names = set(os.listdir(log_dir))
    assert f"{3:020d}.checkpoint.parquet" in names
    assert f"{6:020d}.checkpoint.parquet" in names
    last = json.loads(open(os.path.join(log_dir, "_last_checkpoint")).read())
    assert last["version"] == 6 and last["size"] > 2

    # the merge's export carries remove actions (and only deltas)
    v4 = [json.loads(l) for l in open(os.path.join(log_dir, f"{4:020d}.json"))]
    assert any("remove" in a for a in v4)
    assert not any("metaData" in a for a in v4)

    def fingerprint(df):
        return sorted(
            (r["entity_id"], r["prop"], r["value"], r["origin"])
            for r in df.select("entity_id", "prop", "value", "origin").collect()
        )

    # foreign-read at EVERY published version == raw at the recorded
    # store version (true version time travel through the public log)
    for v, src in src_at.items():
        got = read_delta_snapshot(spark, data, version=v)
        want = store.raw(as_of=src)
        assert fingerprint(got) == fingerprint(want), f"delta version {v}"

    # checkpoint honored: drop every JSON commit the v6 checkpoint
    # covers — replay of head (7) and of 6 must still succeed via the
    # checkpoint, and match raw exactly
    for v in range(0, 6):
        os.remove(os.path.join(log_dir, f"{v:020d}.json"))
    assert fingerprint(read_delta_snapshot(spark, data)) == fingerprint(
        store.raw(as_of=src_at[7])
    )
    assert fingerprint(read_delta_snapshot(spark, data, version=6)) == fingerprint(
        store.raw(as_of=src_at[6])
    )

    # a further export continues the version chain from the log state
    # replayed THROUGH the checkpoint (no dependence on deleted JSONs)
    ds.write_entities(entities_df(spark, JANE), origin="o8")
    p8 = export_delta_log(store, checkpoint_interval=3)
    assert p8.endswith(f"{8:020d}.json")
    assert fingerprint(read_delta_snapshot(spark, data)) == fingerprint(store.raw())


def test_cursor_survives_checkpoint_at_head(spark, lake_root):
    """ADVICE r7 (medium): when the newest checkpoint EQUALS the head
    version (every checkpoint_interval-th export), _log_state's JSON
    replay range is empty — the sourceVersion cursor must still come
    back (from the head commit's commitInfo), or a no-change re-export
    writes a spurious empty Delta version and the next real export
    refolds the whole commit log."""
    import os

    from ftm_lakehouse_spark.lakehouse import Lakehouse
    from ftm_lakehouse_spark.sources.delta_export import (
        DELTA_LOG_DIR,
        _log_state,
        export_delta_log,
        read_delta_snapshot,
    )
    from tests.test_lakehouse import JANE, entities_df

    lake = Lakehouse(spark, lake_root)
    ds = lake.dataset("deltacursor")
    store = ds.store
    for i in range(4):  # exports 0..3; checkpoint lands ON head at v3
        ds.write_entities(entities_df(spark, JANE), origin=f"o{i}")
        p = export_delta_log(store, checkpoint_interval=3)
    assert p.endswith(f"{3:020d}.json")
    data = store._data_path()
    log_dir = os.path.join(data, DELTA_LOG_DIR)
    assert f"{3:020d}.checkpoint.parquet" in set(os.listdir(log_dir))

    # the replayed state carries the true cursor even though the
    # checkpoint covers every JSON commit
    head, src, live = _log_state(store._fs, store._fs.join(data, DELTA_LOG_DIR))
    assert head == 3
    assert src == store.commits.current_version()
    # _last_checkpoint rides a second copy of the cursor
    last = json.loads(open(os.path.join(log_dir, "_last_checkpoint")).read())
    assert last["sourceVersion"] == src

    # no-change re-export returns the existing head, writes nothing new
    assert export_delta_log(store, checkpoint_interval=3).endswith(
        f"{3:020d}.json"
    )
    assert f"{4:020d}.json" not in set(os.listdir(log_dir))

    # the next REAL export is O(changes): version 4 carries only the
    # new origin's adds, no removes, no refold of history
    ds.write_entities(entities_df(spark, JANE), origin="onew")
    p4 = export_delta_log(store, checkpoint_interval=3)
    assert p4.endswith(f"{4:020d}.json")
    v4 = [json.loads(l) for l in open(p4) if l.strip()]
    adds4 = [a["add"]["path"] for a in v4 if "add" in a]
    assert adds4 and all("origin=onew" in pth for pth in adds4)
    assert not any("remove" in a for a in v4)
    assert {r["origin"] for r in read_delta_snapshot(spark, data)
            .select("origin").distinct().collect()} == {
        "o0", "o1", "o2", "o3", "onew"
    }


def test_checkpoint_metadata_mirrors_json_action(spark, lake_root):
    """ADVICE r7 (low): the checkpoint's metaData row must mirror the
    JSON metaData action exactly — configuration map and format.options
    included — so external readers replaying from the checkpoint after
    JSON cleanup keep the table configuration."""
    import io
    import os

    import pyarrow.parquet as pq

    from ftm_lakehouse_spark.lakehouse import Lakehouse
    from ftm_lakehouse_spark.sources.delta_export import (
        DELTA_LOG_DIR,
        export_delta_log,
    )
    from tests.test_lakehouse import JANE, entities_df

    ds = Lakehouse(spark, lake_root).dataset("deltacpmeta")
    store = ds.store
    for i in range(4):
        ds.write_entities(entities_df(spark, JANE), origin=f"o{i}")
        export_delta_log(store, checkpoint_interval=3)
    log_dir = os.path.join(store._data_path(), DELTA_LOG_DIR)
    tbl = pq.read_table(
        io.BytesIO(open(os.path.join(log_dir, f"{3:020d}.checkpoint.parquet"),
                        "rb").read())
    )
    meta_rows = [m for m in tbl.column("metaData").to_pylist() if m]
    assert len(meta_rows) == 1
    m = meta_rows[0]
    # maps present (empty) and format complete — same keys as the JSON
    assert m["configuration"] == []
    assert m["format"]["provider"] == "parquet"
    assert m["format"]["options"] == []
    assert m["partitionColumns"] == ["shard", "bucket", "origin"]
    # the checkpoint's add rows carry the same stats and sizes as the
    # JSON adds
    json_adds = {
        a["add"]["path"]: a["add"]
        for v in range(4)
        for a in map(json.loads, open(os.path.join(log_dir, f"{v:020d}.json")))
        if "add" in a
    }
    cp_adds = [a for a in tbl.column("add").to_pylist() if a]
    assert cp_adds and {a["path"] for a in cp_adds} == set(json_adds)
    for a in cp_adds:
        assert a["stats"] == json_adds[a["path"]]["stats"]
        assert a["size"] == json_adds[a["path"]]["size"]
