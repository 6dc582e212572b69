"""Row-LEVEL sampled verification for output-size-bound gates
(round-6 VERDICT item 3).

``dedup_simhash`` at sf10 emits 4.28B pairs — no engine can hand that
to pandas, so the sweeps verified it by five aggregate checksums. This
tool strengthens that: BOTH engines materialize only the deterministic
pair sample ``pair_hash(a, b) % mod == 0`` and the sample is compared
with the same normalize + exact frame compare as
tools/check_parity.py. The filter runs at the FINAL doc grain, so the
sampled rows exercise the full value-expansion join path; at mod=10000
that is 428,269 of the 4,279,070,000 sf10 pairs (ratio 1.0009e-4 —
the hash mixes well).

``pair_hash`` is integer-only — ``((a*2654435761) % p * 31 + b) % p``
with p = 999999937 (prime; coprime with the replica id span, so the
sample cuts ACROSS the generator's translation structure) — because
the repo's usual portable md5→52-bit map is string hashing, and at
4.28B pairs the per-row concat+md5+conv dominated the run (>30 min vs
14 s for the bare pair count; measured round 7). The arithmetic form
is bit-identical in any engine with exact int64 ops (Spark ``pmod``,
DuckDB ``%`` on positives) and costs ~nothing (sampled count: 2.2 s
warm at sf10). No intermediate exceeds ~3e16, far under int64.

The pattern is reusable for any future gate whose output outgrows
pandas: register a staged oracle taking ``sample_mod`` and filter the
Spark side with :func:`sample_predicate`.

Usage: python tools/sampled_rowhash.py <sf_dir> [mod]  (default 10000)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import duckdb
import pandas as pd
from pyspark.sql import functions as F

from check_parity import normalize
from ftm_lakehouse_spark.queries.inventory import QUERIES
from ftm_lakehouse_spark.session import get_spark
from ftm_lakehouse_spark.sources.tables import TESTDATA_TABLES
from staged_oracles import (
    embedding_cosine_staged,
    minhash_staged,
    ngram_jaccard_staged,
    semantic_staged,
    simhash_staged,
    winnow_staged,
)

#: every pair-output gate whose staged oracle takes ``sample_mod``
GATES = {
    "dedup_simhash": simhash_staged,
    "dedup_minhash_lsh": minhash_staged,
    "dedup_ngram_jaccard": ngram_jaccard_staged,
    "dedup_embedding_cosine": embedding_cosine_staged,
    "dedup_semantic": semantic_staged,
    "dedup_winnow_substrings": winnow_staged,
}


_P = 999999937  # prime, coprime with every replica id span


def sample_predicate(a_col, b_col, mod: int):
    """The portable deterministic pair-sample predicate (Spark side)."""
    h = F.pmod(
        F.pmod(F.col(a_col) * F.lit(2654435761), F.lit(_P)) * F.lit(31)
        + F.col(b_col),
        F.lit(_P),
    )
    return F.pmod(h, F.lit(mod)) == 0


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    mod = int(sys.argv[2]) if len(sys.argv) > 2 else 10000
    names = sys.argv[3:] or ["dedup_simhash"]
    if names == ["--all"]:
        names = list(GATES)

    spark = get_spark("sampled-rowhash")
    con = duckdb.connect()
    os.makedirs("/tmp/duckdb_spill", exist_ok=True)
    con.execute("SET temp_directory='/tmp/duckdb_spill'")
    con.execute(f"SET memory_limit='{os.environ.get('PARITY_DUCKDB_MEM', '48')}GB'")
    con.execute("SET preserve_insertion_order=false")
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    failed = []
    for name in names:
        t0 = time.perf_counter()
        full = QUERIES[name][0](spark, sf_dir)
        sdf = full.filter(sample_predicate("a", "b", mod)).toPandas()
        ts = time.perf_counter() - t0
        t0 = time.perf_counter()
        ddf = GATES[name](con, sample_mod=mod)
        td = time.perf_counter() - t0

        a, b = normalize(sdf), normalize(ddf)
        if list(a.columns) != list(b.columns) or len(a) != len(b):
            failed.append(name)
            print(
                f"FAIL {name} sample: cols {list(a.columns)} vs "
                f"{list(b.columns)}, rows {len(a)} vs {len(b)}", flush=True
            )
            continue
        try:
            pd.testing.assert_frame_equal(a, b, check_dtype=False)
        except AssertionError as e:
            failed.append(name)
            print(f"FAIL {name} sample: values differ: "
                  + " | ".join(str(e).splitlines()[:4]), flush=True)
            continue
        print(
            f"OK {name} sampled row-hash: {len(a)} sampled pairs "
            f"(mod={mod}) match exactly [spark {ts:.1f}s, duckdb {td:.1f}s] "
            f"at {sf_dir}", flush=True
        )
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
