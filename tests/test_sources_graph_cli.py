"""CSV round-trip, parent-chain resolution, CLI smoke."""

import pytest
import json
import os
import subprocess
import sys

from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_statements_csv_roundtrip(spark, lake_root, tmp_path):
    from ftm_lakehouse_spark.lakehouse import Lakehouse
    from ftm_lakehouse_spark.sources.statements_csv import read_statements_csv

    from .test_lakehouse import JANE, entities_df

    lake = Lakehouse(spark, lake_root)
    ds = lake.dataset("csv1")
    ds.write_entities(entities_df(spark, JANE), origin="bulk")

    out = str(tmp_path / "csv")
    ds.export_statements_csv(out, compression="none")

    back = read_statements_csv(spark, out, dataset="csv1", origin="bulk")
    orig = ds.statements()
    # identical ids + values after a full round trip
    a = sorted((r["id"], r["prop"], r["value"]) for r in orig.collect())
    b = sorted((r["id"], r["prop"], r["value"]) for r in back.collect())
    assert a == b
    # lang nulling: no non-linguistic prop carries lang
    assert back.filter(
        F.col("lang").isNotNull() & (F.col("prop_type") == "country")
    ).count() == 0


def test_parent_chain_resolution(spark):
    from ftm_lakehouse_spark.operators.graph import resolve_parent_chains

    nodes = spark.createDataFrame(
        [
            ("a", None, "root"),
            ("b", "a", "sub"),
            ("c", "b", "leaf"),
            ("x", "y", "cyc1"),
            ("y", "x", "cyc2"),
        ],
        ["id", "parent", "name"],
    )
    out = {r["id"]: r for r in resolve_parent_chains(nodes, max_depth=8).collect()}
    assert out["a"]["path"] == "root"
    assert out["b"]["path"] == "root/sub"
    assert out["c"]["path"] == "root/sub/leaf"
    assert out["c"]["depth"] == 2
    assert out["x"]["is_cycle"] and out["y"]["is_cycle"]


@pytest.mark.slow
def test_cli_smoke(tmp_path):
    root = str(tmp_path / "lake")
    src = tmp_path / "ents.json"
    src.write_text(
        '{"id": "jane", "schema": "Person", "properties": {"name": ["Jane Doe"]}}\n'
        '{"id": "acme", "schema": "Company", "properties": {"name": ["ACME"]}}\n'
    )

    def run(*args):
        return subprocess.run(
            [sys.executable, "-m", "ftm_lakehouse_spark", "--root", root, *args],
            capture_output=True,
            text=True,
            cwd=REPO,
            timeout=300,
        )

    r = run("import-json", "demo", str(src), "--origin", "bulk")
    assert r.returncode == 0, r.stderr[-2000:]
    r = run("list")
    assert "demo" in r.stdout
    r = run("stats", "demo")
    assert '"entity_count": 2' in r.stdout
    r = run("get", "demo", "jane")
    assert "Jane Doe" in r.stdout
    r = run("optimize", "demo", "--force")
    assert "merged" in r.stdout
    r = run("sql", "SELECT count(*) AS n FROM statements", "--dataset", "demo")
    assert '"n":' in r.stdout
    r = run("history", "demo")
    assert r.returncode == 0, r.stderr[-2000:]
    recs = [json.loads(line) for line in r.stdout.strip().splitlines()]
    assert [c["version"] for c in recs] == list(range(1, len(recs) + 1))
    assert recs[0]["kind"] == "append" and recs[-1]["kind"] == "rewrite"
    r = run("iterate", "demo", "--as-of", "1")
    assert r.returncode == 0, r.stderr[-2000:]
    assert "Jane Doe" in r.stdout  # version 1 = the original import
    r = run("restore", "demo", "1")  # roll live state back to v1
    assert r.returncode == 0, r.stderr[-2000:]
    assert json.loads(r.stdout.strip().splitlines()[-1])["restored"] is True
    r = run("get", "demo", "jane")
    assert "Jane Doe" in r.stdout
    r = run("publish-delta", "demo")
    assert r.returncode == 0, r.stderr[-2000:]
    log_path = r.stdout.strip().splitlines()[-1]
    assert log_path.endswith("_delta_log/00000000000000000000.json")
    actions = [json.loads(l) for l in open(log_path)]
    assert any("protocol" in a for a in actions)
    assert any("add" in a for a in actions)
    r = run("vacuum", "demo", "--retention-hours", "0")
    assert json.loads(r.stdout.strip().splitlines()[-1])["removed"] > 0
    # adopt on an engine-created store is a no-op (ownership signal)
    r = run("adopt", "demo")
    out = json.loads(r.stdout.strip().splitlines()[-1])
    assert out["adopted"] is False and out["version"] >= 1


@pytest.mark.slow
def test_cli_archive_and_publish_surface(tmp_path):
    """The reference CLI's archive/publish verbs: crawl → head →
    download → make → stream → unlock/configure."""
    root = str(tmp_path / "lake")
    docs = tmp_path / "docs" / "reports"
    docs.mkdir(parents=True)
    (docs / "a.txt").write_text("alpha report")
    (docs / "b.csv").write_text("x,y\n1,2\n")

    def run(*args):
        return subprocess.run(
            [sys.executable, "-m", "ftm_lakehouse_spark", "--root", root, *args],
            capture_output=True,
            text=True,
            cwd=REPO,
            timeout=300,
        )

    r = run("configure", "demo", "--shards", "2", "--title", "Demo")
    assert r.returncode == 0, r.stderr[-2000:]
    assert json.loads(r.stdout)["title"] == "Demo"

    r = run("crawl", "demo", str(tmp_path / "docs"))
    assert r.returncode == 0, r.stderr[-2000:]
    assert json.loads(r.stdout.strip().splitlines()[-1])["archived"] == 2

    import hashlib

    checksum = hashlib.sha256(b"alpha report").hexdigest()
    r = run("head", "demo", checksum)
    meta = json.loads(r.stdout.strip().splitlines()[-1])
    assert meta["name"] == "reports/a.txt" and meta["size"] == 12

    r = run("download", "demo", str(tmp_path / "out"))
    assert json.loads(r.stdout.strip().splitlines()[-1])["downloaded"] == 2
    assert (tmp_path / "out" / "reports" / "a.txt").read_text() == "alpha report"

    r = run("make", "demo")
    assert r.returncode == 0, r.stderr[-2000:]
    r = run("stream", "demo", "--what", "documents")
    assert "a.txt" in r.stdout
    r = run("stream", "demo", "--what", "entities")
    assert "a.txt" in r.stdout and '"Folder"' in r.stdout

    r = run("unlock", "demo")
    assert "no lock held" in r.stdout


def test_pagerank_fixed_point_matches_python_replica(spark):
    from ftm_lakehouse_spark.operators.graph import pagerank_fixed_point

    # symmetrized path graph a-b-c-d plus a hub edge b-d
    undirected = [("a", "b"), ("b", "c"), ("c", "d"), ("b", "d")]
    edge_rows = [(s, t) for s, t in undirected] + [(t, s) for s, t in undirected]
    edges = spark.createDataFrame(edge_rows, ["src", "dst"])

    got = {
        r["node"]: r["rank"]
        for r in pagerank_fixed_point(edges, iterations=3).collect()
    }

    # pure-Python replica of the integer fixed-point update
    scale, n = 1_000_000_000_000, 4
    out = {}
    deg = {}
    for s, t in edge_rows:
        out.setdefault(s, []).append(t)
        deg[s] = deg.get(s, 0) + 1
    rank = {v: scale // n for v in deg}
    for _ in range(3):
        sums = {v: 0 for v in deg}
        for s, targets in out.items():
            c = rank[s] // deg[s]
            for t in targets:
                sums[t] += c
        rank = {v: (15 * scale) // (100 * n) + (85 * sums[v]) // 100 for v in deg}

    assert got == rank
    # hub (b) outranks leaf (a); everything strictly positive
    assert got["b"] > got["a"] > 0
