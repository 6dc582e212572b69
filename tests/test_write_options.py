"""Statement-file byte budget: the Parquet writer options
(``StatementStore._write_options``) size bloom filters to the data.

Non-column bytes — file size minus the column chunks' compressed sizes
— are the footer, page indexes and bloom filters. A fixed-NDV or
unsized filter adds about 1 MB to every file whatever its row count;
at this scale the ``entity_id`` chunks stay dictionary-encoded, so no
filter is written at all, and a chunk that leaves dictionary encoding
gets an adaptive filter sized to the ids it holds."""

import glob
import os

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from ftm_lakehouse_spark.model.dataset import DatasetConfig
from ftm_lakehouse_spark.sources.statement_store import StatementStore

from .helpers import make_df, stmt

KB = 1024


def _non_column_bytes(path: str) -> int:
    md = pq.read_metadata(path)
    column_bytes = sum(
        md.row_group(g).column(c).total_compressed_size
        for g in range(md.num_row_groups)
        for c in range(md.num_columns)
    )
    return os.path.getsize(path) - column_bytes


def _single_file(root: str) -> str:
    (path,) = glob.glob(f"{root}/*.parquet")
    return path


def test_live_files_stay_within_non_column_byte_budget(spark, tmp_path):
    store = StatementStore(
        spark, str(tmp_path / "store"), DatasetConfig(name="bytes", shards=2)
    )
    rows = [
        stmt(id=f"s{e}-{p}", entity_id=f"e{e:02d}", prop=p, value=f"{p}{e}",
             shard=str(e % 2))
        for e in range(20)
        for p in ("name", "email", "country")
    ]
    store.append(make_df(spark, rows))
    # updates of half the entities leave duplicates for the merge
    store.append(make_df(spark, [r | {"value": r["value"] + "'"} for r in rows[::2]]))
    assert store.merge()

    live = store.commits.snapshot()
    assert live
    for rel in live:
        path = store._fs.join(store._data_path(), rel)
        assert _non_column_bytes(path) < 64 * KB, rel


def test_entity_id_bloom_filter_is_sized_to_the_chunk(spark, tmp_path):
    """A chunk forced off dictionary encoding gets an ``entity_id``
    filter sized to its 600 ids (well under 1 MB), and equality
    lookups through it stay exact."""
    df = (
        spark.range(3000)
        .selectExpr(
            "format_string('ent%06d', id % 600) AS entity_id",
            "format_string('stmt%06d', id) AS id",
            "id AS n",
        )
        .coalesce(1)
        .sortWithinPartitions("entity_id")
    )
    no_dict = StatementStore._write_options() | {
        "parquet.enable.dictionary#entity_id": "false"
    }
    with_filter, without = str(tmp_path / "bloom"), str(tmp_path / "plain")
    no_bloom = {k: v for k, v in no_dict.items() if ".bloom." not in k}
    df.write.options(**no_dict).parquet(with_filter)
    df.write.options(**no_bloom).parquet(without)

    filter_bytes = _non_column_bytes(_single_file(with_filter)) - _non_column_bytes(
        _single_file(without)
    )
    assert 1 * KB < filter_bytes < 128 * KB, filter_bytes

    got = (
        spark.read.parquet(with_filter)
        .filter(F.col("entity_id") == "ent000007")
        .collect()
    )
    assert sorted(r["n"] for r in got) == [7, 607, 1207, 1807, 2407]
