"""Documents surface: folder-path resolution, the streamable document
list, documents.csv export, and index.json resource descriptors
(reference repository/documents.py, operation/export.py:100-130)."""

import json
import os

from ftm_lakehouse_spark.lakehouse import Lakehouse

from .test_lakehouse import JANE, entities_df

CS1 = "5a6acf229ba576d9a40b09292595658bbb74ef56"
CS2 = "1111111111111111111111111111111111111111"
CS3 = "2222222222222222222222222222222222222222"

F_ROOT = {
    "id": "f-root",
    "schema": "Folder",
    "properties": {"fileName": ["root"]},
}
F_SUB = {
    "id": "f-sub",
    "schema": "Folder",
    "properties": {"fileName": ["sub"], "parent": ["f-root"]},
}
DOC_TXT = {
    "id": "d-txt",
    "schema": "PlainText",
    "properties": {
        "fileName": ["a.txt"],
        "contentHash": [CS1],
        "fileSize": ["123"],
        "mimeType": ["text/plain"],
        "parent": ["f-sub"],
    },
}
DOC_PDF = {  # no mimeType prop → extension guess; no parent → null path
    "id": "d-pdf",
    "schema": "Pages",
    "properties": {"fileName": ["b.pdf"], "contentHash": [CS2]},
}
DOC_TWO_PARENTS = {  # one row per resolved parent path
    "id": "d-two",
    "schema": "Document",
    "properties": {
        "fileName": ["c.bin"],
        "contentHash": [CS3],
        "parent": ["f-root", "f-sub"],
    },
}
DOC_NO_HASH = {  # not a document without contentHash
    "id": "d-nohash",
    "schema": "PlainText",
    "properties": {"fileName": ["x.txt"]},
}


def _dataset(spark, lake_root, name, public_url_prefix=None):
    lake = Lakehouse(spark, lake_root)
    ds = lake.dataset(name, public_url_prefix=public_url_prefix)
    ds.write_entities(
        entities_df(
            spark, JANE, F_ROOT, F_SUB, DOC_TXT, DOC_PDF, DOC_TWO_PARENTS, DOC_NO_HASH
        )
    )
    return ds


def test_document_list_envelope(spark, lake_root):
    ds = _dataset(spark, lake_root, "docs1")
    rows = {(r["id"], r["path"]): r for r in ds.documents().collect()}

    assert set(rows) == {
        ("d-txt", "root/sub"),
        ("d-pdf", None),
        ("d-two", "root"),
        ("d-two", "root/sub"),
    }
    txt = rows[("d-txt", "root/sub")]
    assert txt["checksum"] == CS1
    assert txt["name"] == "a.txt"
    assert txt["mimetype"] == "text/plain"
    assert txt["size"] == 123
    assert txt["public_url"] is None
    # extension-based mime guess when the property is absent
    assert rows[("d-pdf", None)]["mimetype"] == "application/pdf"
    assert rows[("d-pdf", None)]["size"] == 0


def test_document_public_url_blob_fanout(spark, lake_root):
    ds = _dataset(spark, lake_root, "docs2")
    rows = ds.documents(public_url_prefix="https://x.example/data/").collect()
    by_id = {r["id"]: r for r in rows}
    assert (
        by_id["d-txt"]["public_url"]
        == f"https://x.example/data/archive/5a/6a/cf/{CS1}/blob"
    )


def test_make_emits_documents_csv_and_resource_index(spark, lake_root, tmp_path):
    ds = _dataset(
        spark, lake_root, "docs3", public_url_prefix="https://pub.example/{dataset}"
    )
    out = str(tmp_path / "exports")
    res = ds.make(out, force=True)
    assert not res["skipped"]
    assert sorted(os.listdir(out)) == [
        "documents.csv",
        "entities.ftm.json",
        "index.json",
        "statements.csv",
        "statistics.json",
    ]
    # csv golden envelope: header + one line per (doc, path); default
    # config compresses artifacts with real zstd
    import pyarrow as pa

    csv_dir = os.path.join(out, "documents.csv")
    parts = [f for f in sorted(os.listdir(csv_dir)) if f.startswith("part-")]
    lines = []
    for p in parts:
        fp = os.path.join(csv_dir, p)
        if p.endswith(".zst"):
            with pa.input_stream(fp, compression="zstd") as fh:
                lines.extend(fh.read().decode().splitlines())
        else:
            with open(fp) as fh:
                lines.extend(fh.read().splitlines())
    header = "id,checksum,name,mimetype,path,size,updated_at,public_url"
    assert lines.count(header) == len(parts)
    body = [ln for ln in lines if ln != header]
    assert len(body) == 4
    assert any(
        ln.startswith(f"d-txt,{CS1},a.txt,text/plain,root/sub,123") for ln in body
    )
    # public urls rendered with the {dataset} template
    assert all(f"https://pub.example/docs3/archive/" in ln for ln in body)

    index = json.load(open(os.path.join(out, "index.json")))
    names = [r["name"] for r in index["resources"]]
    assert names == [
        "statements.csv",
        "entities.ftm.json",
        "documents.csv",
        "statistics.json",
    ]
    for r in index["resources"]:
        assert r["url"].startswith("https://pub.example/docs3/")
        assert r["size"] > 0
        assert len(r["checksum"]) == 64 and r["checksum_algorithm"] == "sha256"
        assert r["mime_type"]
        assert r["timestamp"]


def test_make_skips_documents_csv_without_documents(spark, lake_root, tmp_path):
    lake = Lakehouse(spark, lake_root)
    ds = lake.dataset("nodocs")
    ds.write_entities(entities_df(spark, JANE))
    out = str(tmp_path / "exports")
    ds.make(out, force=True)
    assert "documents.csv" not in os.listdir(out)
    index = json.load(open(os.path.join(out, "index.json")))
    names = [r["name"] for r in index["resources"]]
    assert "documents.csv" not in names
    # no public prefix configured → resource urls are the storage paths
    assert all(r["url"].startswith(out) for r in index["resources"])


def test_corpus_report_card(spark):
    import duckdb
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
    from corpus_report import build_report

    sf = "/root/testdata/sf0.001"
    card = build_report(spark, sf)
    truth = duckdb.sql(
        f"""SELECT count(*) AS n_docs, sum(n_chars) AS n_chars,
                   count(DISTINCT lang) AS n_langs
            FROM read_parquet('{sf}/documents.parquet')"""
    ).fetchone()
    assert card["n_docs"] == truth[0]
    assert card["n_chars"] == truth[1]
    assert len(card["by_lang"]) == truth[2]
    assert sum(v["docs"] for v in card["by_lang"].values()) == card["n_docs"]
    assert sum(card["by_source"].values()) == card["n_docs"]
    assert sum(card["token_length_buckets"].values()) == card["n_docs"]
    dup = card["duplication"]
    assert 0 <= dup["exact_redundant_docs"] <= dup["fingerprint_redundant_docs"]
