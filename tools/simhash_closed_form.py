"""Closed-form verification of dedup_simhash aggregates at replica
scales where even the staged oracle's doc-grain expansion is
infeasible (sf100: ~430B pairs → hours of DuckDB join time).

The generator (tools/gen_sf10x.py) replicates sf0.1 R× with text
values copied verbatim, so a value with multiplicity m in sf0.1 has
multiplicity R·m at scale R — and the simhash signature is a pure
function of the text value, so the VALUE-pair set (hamming ≤ 3) is
scale-invariant. The full doc-grain aggregates therefore have exact
closed forms over sf0.1-grain statistics:

    count(R) = Σ_{(va,vb) ∈ P} R²·m_a·m_b  +  Σ_v C(R·m_v, 2)
    hsum(R)  = Σ_{(va,vb) ∈ P} h_ab·R²·m_a·m_b        (self pairs: h=0)

where P is the distinct-value pair set with 0 < hamming ≤ 3 plus
equal-signature distinct-value pairs (hamming 0, va<vb). DuckDB
computes P once at sf0.1 grain (the same construction as
tools/staged_oracles.simhash_staged); the engine then streams the
actual doc-grain pairs at the target scale and must reproduce the
predicted count and hamming sum exactly. Prediction at R=100 is
cross-checked against the sf10 aggregates the round-6 sweep verified
by full staged-oracle checksums, which pins the closed form itself.

Usage:
  python tools/simhash_closed_form.py predict [base_dir] R [R2 ...]
  python tools/simhash_closed_form.py engine <sf_dir>
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def predict(base_dir: str, rs: list[int]) -> None:
    import duckdb

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{base_dir}/documents.parquet')"
    )
    con.execute(
        """CREATE TEMP TABLE cf_vals AS
        SELECT md5(text) AS tv, min(text) AS text,
               CAST(count(*) AS BIGINT) AS m
        FROM documents GROUP BY md5(text)"""
    )
    # 48-bit signature per distinct value — identical construction to
    # staged_oracles.simhash_staged (md5 nibble votes)
    con.execute(
        """CREATE TEMP TABLE cf_sig AS
        WITH toks AS (
            SELECT tv,
                   unnest(list_distinct(list_filter(
                     string_split_regex(lower(text), '[^a-z0-9]+'),
                     t -> t <> ''))) AS tok
            FROM cf_vals
        ), bitv AS (
            SELECT tv, j,
                   CASE WHEN ((strpos('0123456789abcdef',
                                      substr(md5(tok), CAST(j // 4 AS INT) + 1, 1)) - 1)
                              >> (3 - CAST(j % 4 AS INT))) & 1 = 1
                        THEN 1 ELSE -1 END AS vote
            FROM toks, (SELECT range AS j FROM range(48)) bits
        ), votes AS (
            SELECT tv, j, sum(vote) AS v FROM bitv GROUP BY tv, j
        )
        SELECT d.tv,
               coalesce(sum(CASE WHEN v.v > 0
                                 THEN (CAST(1 AS BIGINT) << CAST(v.j AS INT))
                                 ELSE 0 END), 0) AS sh
        FROM cf_vals d LEFT JOIN votes v ON d.tv = v.tv
        GROUP BY d.tv"""
    )
    con.execute(
        """CREATE TEMP TABLE cf_vj AS
        SELECT l.tv AS va, r.tv AS vb,
               CAST(bit_count(xor(l.sh, r.sh)) AS BIGINT) AS h
        FROM cf_sig l JOIN cf_sig r ON l.tv < r.tv
        WHERE bit_count(xor(l.sh, r.sh)) <= 3"""
    )
    cross_terms, cross_h = con.execute(
        """SELECT coalesce(sum(a.m * b.m), 0),
                  coalesce(sum(j.h * a.m * b.m), 0)
        FROM cf_vj j JOIN cf_vals a ON a.tv = j.va
                     JOIN cf_vals b ON b.tv = j.vb"""
    ).fetchone()
    for r in rs:
        self_pairs = con.execute(
            f"SELECT sum(({r} * m) * ({r} * m - 1) // 2) FROM cf_vals"
        ).fetchone()[0]
        count = r * r * int(cross_terms) + int(self_pairs)
        hsum = r * r * int(cross_h)
        print(f"R={r}: predicted count={count} sum_hamming={hsum}")


def engine(sf_dir: str) -> None:
    from pyspark.sql import functions as F

    import ftm_lakehouse_spark.operators.dedupe as dedupe
    from ftm_lakehouse_spark.queries.inventory import QUERIES
    from ftm_lakehouse_spark.session import get_spark

    # this tool IS the deliberate full-pair measurement (428B pairs at
    # sf100 replication) — lift the accidental-launch guard that
    # production runs keep (VERDICT r9 item 6)
    dedupe.MAX_EXPANSION_PAIRS = 1 << 62

    spark = get_spark("simhash-closed-form")
    t0 = time.perf_counter()
    full = QUERIES["dedup_simhash"][0](spark, sf_dir)
    row = full.agg(
        F.count("*").alias("count"),
        F.sum(F.col("hamming").cast("bigint")).alias("sum_hamming"),
    ).collect()[0]
    print(
        f"{sf_dir}: engine count={row['count']} sum_hamming={row['sum_hamming']} "
        f"[{time.perf_counter() - t0:.1f}s]"
    )


if __name__ == "__main__":
    if sys.argv[1] == "predict":
        base = sys.argv[2] if len(sys.argv) > 3 else "/root/testdata/sf0.1"
        rs = [int(x) for x in (sys.argv[3:] if len(sys.argv) > 3 else sys.argv[2:])]
        predict(base, rs)
    else:
        engine(sys.argv[2])
