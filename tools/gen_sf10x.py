"""Synthesize a one-decade-up table set (~sf1) by replicating sf0.1.

Round-3 VERDICT item 6: the sf0.1 parity sweep caught a real
boundary-rounding divergence (w_percent_rank), so push the whole gate
inventory one more decade. This tool writes a referentially
consistent R× replica of every sf0.1 table (default R=10 → ~6M
lineitem rows) that `tools/check_parity.py <out_dir>` can sweep
directly — both engines read the same files, so the comparison is
still exact.

Replication preserves the star schema: every BIGINT entity key is
offset per replica by its key DOMAIN's dense span (max+1), and foreign
keys use the SAME offset, so each replica is an isolated consistent
universe (joins never cross replicas; group cardinalities scale ×R;
per-key group sizes stay constant — deliberately, since a 10×
*duplication* stress is a different axis, covered by
tools/stress_corpus.py) and id-derived structures remain referentially
closed (see DOMAINS). nation and
region are fixed dimensions referenced by unchanged INTEGER keys and
are copied as-is. events.ts is read from the driver's TIMESTAMP(NANOS)
file by DuckDB (µs truncation — the same value the engine's
nanosAsLong path produces) and written back as standard µs, which
sources/tables.py handles via its type-adaptive branch.

Usage: python tools/gen_sf10x.py [R] [src_dir] [out_dir]
"""

from __future__ import annotations

import os
import sys

import duckdb

# key DOMAINS: columns sharing a domain get the SAME dense offset
# (max(domain)+1 per replica) so foreign keys stay consistent AND
# derived id structures stay closed — e.g. graph_parent_chain derives
# a binary-heap hierarchy from doc_id ((id-1)//2), which only remains
# referentially closed if replica ids are CONTIGUOUS continuations of
# the base range; a sparse 1e9 offset left every replica's chains
# dangling (caught by the first sweep: engine lineage-cuts dangling
# parents to roots, DuckDB's recursion silently drops the chains).
DOMAINS = {
    "orderkey": [("orders", "o_orderkey"), ("lineitem", "l_orderkey")],
    "custkey": [("customer", "c_custkey"), ("orders", "o_custkey")],
    "partkey": [("part", "p_partkey"), ("lineitem", "l_partkey")],
    "suppkey": [("supplier", "s_suppkey"), ("lineitem", "l_suppkey")],
    "doc": [("documents", "doc_id")],
    "vec": [("embeddings", "vec_id")],
    "event": [("events", "event_id")],
    "user": [("events", "user_id")],
}
KEYED = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
FIXED = ["region", "nation"]


def generate(R: int, src: str, out: str) -> None:
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    offsets: dict[tuple[str, str], int] = {}
    for members in DOMAINS.values():
        span = max(
            con.execute(
                f"SELECT max({col}) FROM read_parquet('{src}/{t}.parquet')"
            ).fetchone()[0]
            for t, col in members
        ) + 1
        for t, col in members:
            offsets[(t, col)] = span
    for t in FIXED:
        con.execute(
            f"COPY (SELECT * FROM read_parquet('{src}/{t}.parquet')) "
            f"TO '{out}/{t}.parquet' (FORMAT PARQUET)"
        )
    for t, keys in KEYED.items():
        cols = [
            c[0]
            for c in con.execute(
                f"DESCRIBE SELECT * FROM read_parquet('{src}/{t}.parquet')"
            ).fetchall()
        ]
        sel = ", ".join(
            f"t.{c} + r.rep * {offsets[(t, c)]} AS {c}" if c in keys else f"t.{c}"
            for c in cols
        )
        con.execute(
            f"COPY (SELECT {sel} "
            f"FROM read_parquet('{src}/{t}.parquet') t, "
            f"(SELECT unnest(range({R})) AS rep) r "
            f"ORDER BY {', '.join(keys)}) "
            f"TO '{out}/{t}.parquet' (FORMAT PARQUET)"
        )
        n = con.execute(
            f"SELECT count(*) FROM read_parquet('{out}/{t}.parquet')"
        ).fetchone()[0]
        print(f"{t}: {n} rows")


if __name__ == "__main__":
    R = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    src = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    out = sys.argv[3] if len(sys.argv) > 3 else os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".sweep", "sf1"
    )
    generate(R, src, out)
    print(f"wrote {out}; sweep with: python tools/check_parity.py {out}")
