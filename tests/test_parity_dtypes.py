"""Regression pins for the round-8 oracle dtype defect (VERDICT r8).

Three oracle SQLs (``sim_centroid_stats``, ``text_novelty_score``,
``text_length_buckets``) left a final-projection integer ``sum()``
uncast.  DuckDB widens integer ``sum`` to HUGEINT, which duckdb-python
converts to pandas float64 (``60700.0``); Spark returns int64
(``60700``).  The driver's value hash is representation-strict, so the
gates failed at the driver while ``check_parity.py``'s
``assert_frame_equal(check_dtype=False)`` passed them locally six
rounds running.  Two pins here:

1. ``dtype_classes`` (tools/check_parity.py) must classify int64 vs
   float64 as different classes — the local gate now catches what the
   driver catches.
2. Every registered oracle SQL, ``DESCRIBE``-d by DuckDB over the
   sf0.001 views, must have ZERO HUGEINT/UHUGEINT result columns.
   This is the static sweep VERDICT r8 item 1 asked for, kept live so
   a future oracle can't reintroduce the pattern.  (~2 s for all 132:
   DESCRIBE plans without executing.)
"""

from __future__ import annotations

import os
import sys

import duckdb
import pandas as pd
import pytest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

from check_parity import dtype_classes  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SMOKE_SF", "/root/testdata/sf0.001")


def test_dtype_classes_catch_int_float_drift():
    spark_side = pd.DataFrame({"k": ["a"], "total": pd.array([60700], dtype="int64")})
    duck_side = pd.DataFrame({"k": ["a"], "total": pd.array([60700.0], dtype="float64")})
    # assert_frame_equal(check_dtype=False) treats these equal — the
    # exact comparator gap that let round 8 ship a driver hash-fail.
    pd.testing.assert_frame_equal(spark_side, duck_side, check_dtype=False)
    assert dtype_classes(spark_side) != dtype_classes(duck_side)
    assert dtype_classes(spark_side)["total"] == "int"
    assert dtype_classes(duck_side)["total"] == "float"


def test_dtype_classes_allow_width_differences():
    a = pd.DataFrame({"n": pd.array([1, 2], dtype="int32")})
    b = pd.DataFrame({"n": pd.array([1, 2], dtype="int64")})
    assert dtype_classes(a) == dtype_classes(b)


def _describe_all_oracles():
    import __spark_entry__ as entrymod

    con = duckdb.connect()
    from ftm_lakehouse_spark.sources.tables import TESTDATA_TABLES

    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    out = {}
    for name, sql in entrymod.oracle_sql().items():
        out[name] = con.execute("DESCRIBE " + sql).fetchall()
    return out


def test_no_oracle_returns_hugeint():
    if not os.path.isdir(SF_DIR):
        pytest.skip(f"testdata {SF_DIR} absent")
    offenders = {}
    for name, desc in _describe_all_oracles().items():
        hug = [(col, typ) for col, typ, *_ in desc if "HUGEINT" in typ.upper()]
        if hug:
            offenders[name] = hug
    assert not offenders, (
        "oracle SQL final projections widen to HUGEINT (pandas float64; "
        "driver hash can never match Spark int64) — wrap in "
        f"CAST(... AS BIGINT): {offenders}"
    )


def test_round8_defective_pattern_would_fail():
    """The pre-fix text_length_buckets oracle (uncast sum) must trip the
    HUGEINT lint — proves the sweep detects the exact round-8 defect."""
    if not os.path.isdir(SF_DIR):
        pytest.skip(f"testdata {SF_DIR} absent")
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SF_DIR}/documents.parquet')"
    )
    desc = con.execute(
        "DESCRIBE SELECT lang, sum(n_chars) AS total_chars "
        "FROM documents GROUP BY lang"
    ).fetchall()
    assert any("HUGEINT" in typ.upper() for _, typ, *_ in desc)
