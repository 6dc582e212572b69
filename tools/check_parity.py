"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on
DuckDB over the same parquet tables, then compares row count, column
names, and an order-insensitive value hash. Usage:

    python tools/check_parity.py [sf_dir] [query ...]

``--staged`` (or env PARITY_STAGED=1): for gates registered in
``tools/staged_oracles.py``, run the staged multi-statement DuckDB
oracle instead of the single static SQL — same computation, bounded
intermediates, for sweep scales where the unrolled CTE chain exceeds
DuckDB's temp capacity (the driver itself always runs the static SQL
at sf0.01; default local runs mirror that).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd

from ftm_lakehouse_spark.session import get_spark
from ftm_lakehouse_spark.sources.tables import TESTDATA_TABLES


def dtype_classes(df: pd.DataFrame) -> dict:
    """Coarse per-column dtype class, compared across engines BEFORE the
    value comparison.  The driver's value hash is representation-strict:
    DuckDB widening an integer ``sum()`` to HUGEINT (→ pandas float64,
    ``10.0``) while Spark returns int64 (``10``) fails the driver even
    though ``assert_frame_equal(check_dtype=False)`` coerces them equal —
    exactly how the three round-8 gates passed six local parity runs and
    died at the driver (VERDICT r8 "What's wrong").  Classifying int vs
    float vs bool vs datetime vs object per column makes that drift fail
    locally too.  Within-class width differences (int32 vs int64) are
    allowed — the driver hashes those identically."""
    out = {}
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_bool_dtype(s):
            out[c] = "bool"
        elif pd.api.types.is_integer_dtype(s):
            out[c] = "int"
        elif pd.api.types.is_float_dtype(s):
            out[c] = "float"
        elif pd.api.types.is_datetime64_any_dtype(s):
            out[c] = "datetime"
        else:
            out[c] = "object"
    return out


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            try:
                s = s.dt.tz_localize(None)
            except TypeError:
                pass
            df[c] = s.dt.strftime("%Y-%m-%d %H:%M:%S.%f")
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.round(9)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def main() -> int:
    import os

    args = [a for a in sys.argv[1:] if a != "--staged"]
    use_staged = "--staged" in sys.argv[1:] or os.environ.get("PARITY_STAGED") == "1"
    staged = {}
    if use_staged:
        sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
        from staged_oracles import STAGED as staged  # noqa: N811

    sf_dir = args[0] if args else "/root/testdata/sf0.001"
    only = set(args[1:])

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()

    spark = get_spark("parity-check")
    con = duckdb.connect()
    # An in-memory DuckDB connection does NOT spill unless a temp
    # directory is set — at sweep scales (sf1/sf10) the heavy capstone
    # oracles otherwise grow to >100 GB RSS and get OOM-killed (round
    # 4's sweep casualty). Cap the oracle's memory and let it spill;
    # insertion order is irrelevant (the comparator sorts rows).
    mem_gb = os.environ.get("PARITY_DUCKDB_MEM", "48")
    os.makedirs("/tmp/duckdb_spill", exist_ok=True)
    con.execute("SET temp_directory='/tmp/duckdb_spill'")
    con.execute(f"SET memory_limit='{mem_gb}GB'")
    con.execute("SET preserve_insertion_order=false")
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    failures = []
    import time as _time

    for name, fn in qs.items():
        if only and name not in only:
            continue
        _t0 = _time.perf_counter()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: spark error: {e}")
            continue
        _ts = _time.perf_counter() - _t0
        if name not in oracles:
            print(f"ROWS  {name}: {len(sdf)} rows (no oracle) [spark {_ts:.1f}s]")
            continue
        _t0 = _time.perf_counter()
        try:
            if name in staged:
                ddf = staged[name](con)
            else:
                ddf = con.execute(oracles[name]).fetchdf()
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: duckdb error: {e}")
            continue
        a, b = normalize(sdf), normalize(ddf)
        ca, cb = dtype_classes(a), dtype_classes(b)
        if ca != cb:
            diff = {c: (ca.get(c), cb.get(c)) for c in ca if ca.get(c) != cb.get(c)}
            failures.append(name)
            print(f"FAIL  {name}: dtype class drift (spark vs oracle): {diff}")
            continue
        if list(a.columns) != list(b.columns):
            failures.append(name)
            print(f"FAIL  {name}: columns {list(a.columns)} vs {list(b.columns)}")
            continue
        if len(a) != len(b):
            failures.append(name)
            print(f"FAIL  {name}: rows {len(a)} vs {len(b)}")
            continue
        try:
            _td = _time.perf_counter() - _t0
            pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=False, rtol=1e-9)
            print(f"OK    {name}: {len(a)} rows [spark {_ts:.1f}s, duckdb {_td:.1f}s]")
        except AssertionError as e:
            failures.append(name)
            msg = str(e).splitlines()
            print(f"FAIL  {name}: values differ: " + " | ".join(msg[:4]))
    print()
    total = len([n for n in qs if not only or n in only])
    print(f"{total - len(failures)}/{total} queries match")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
