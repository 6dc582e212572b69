"""Entity-query semantics pinned against a pure-Python oracle.

``Dataset.entities(q)`` and ``Dataset.count(q)`` on a tiny two-shard
store are compared with a direct reading of the query rules over the
store's collected rows:

  * an entity matches when it has a live row matching the row
    predicate (schema, origin, meta fields) and, for EACH prop filter,
    a live row matching that filter — filters are tested row by row
    and independently, so two filters on one prop may match two
    different rows, and a NULL comparison is no match;
  * ``entities`` carries every live statement of a matching entity
    (only the queried origins when ``origin=`` is set) and drops an
    entity left with checksum rows only; ``count`` counts matching ids;
  * ``order_by(prop)[a:b]`` ranks entities by their smallest value of
    ``prop`` (nulls last, then ``entity_id``) over all their rows.
"""

from __future__ import annotations

import re
from datetime import datetime, timezone

import pytest
from pyspark.sql import functions as F

from ftm_lakehouse_spark.lakehouse import Lakehouse
from ftm_lakehouse_spark.model.statement import (
    BASE_ID_PROP,
    BASE_ID_PROP_TYPE,
    STATEMENT_SCHEMA,
    entity_shard,
)
from ftm_lakehouse_spark.operators.aggregate import CAPTION_PROPS, assemble_entities
from ftm_lakehouse_spark.plans.query import Query

from .test_lakehouse import entities_df

SHARDS = 2
NAMES = ("anna", "Anna", "ANNE", "bob", "Berta", "carl", "Dora")
SCHEMATA = ("Person", "Company", "Organization")


def _entity(i: int) -> dict:
    props = {"name": [f"{NAMES[i % 7]}-{i:02d}"]}
    if i % 5 == 0:
        props["name"].append(f"bob-{i:02d}")
    if i % 7 != 3:
        props["country"] = ["de" if i % 2 else "fr"]
    return {"id": f"e{i:02d}", "schema": SCHEMATA[i % 3], "properties": props}


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    ds = Lakehouse(spark, str(tmp_path_factory.mktemp("qsem"))).dataset(
        "qsem", shards=SHARDS
    )
    ds.write_entities(entities_df(spark, *map(_entity, range(20))), origin="a")
    # e20..e29 in origin b, and e00..e04 in both origins
    extra = [_entity(i) for i in range(20, 30)] + [
        {"id": f"e{i:02d}", "schema": SCHEMATA[i % 3],
         "properties": {"country": ["gb"]}}
        for i in range(5)
    ]
    ds.write_entities(entities_df(spark, *extra), origin="b")
    ds.delete_entity("e07")  # tombstones, merged below
    ds.merge(force=True)

    cols = STATEMENT_SCHEMA.fieldNames()
    base = ds.store.live().filter(
        (F.col("entity_id") == "e03") & (F.col("prop") == "name")
    ).select(*cols)
    ghost = base.withColumns({
        "id": F.lit("ghost-e03"),
        "value": F.lit("Ghost"),
        "deleted_at": F.lit(datetime(2024, 6, 1, tzinfo=timezone.utc)),
    })
    nulls = [
        ds.store.live().filter(
            (F.col("entity_id") == eid) & (F.col("prop") == "name")
        ).select(*cols).withColumns({
            "id": F.lit(f"note-{eid}"),
            "prop": F.lit("notes"),
            "prop_type": F.lit("text"),
            "value": F.lit(value).cast("string"),
        })
        for eid, value in (("e01", None), ("e02", "memo"), ("e05", None))
    ]
    checksum_only = ds.store.live().filter(
        (F.col("entity_id") == "e00")
        & (F.col("prop") == BASE_ID_PROP)
        & (F.col("prop_type") == BASE_ID_PROP_TYPE)
        & (F.col("origin") == "a")
    ).select(*cols).withColumns({
        "id": F.lit("cs-only"),
        "entity_id": F.lit("zz-checksum-only"),
        "shard": entity_shard(F.lit("zz-checksum-only"), SHARDS),
    })
    df = ghost
    for extra_df in (*nulls, checksum_only):
        df = df.unionByName(extra_df)
    ds.store.append(df)
    rows = [r.asDict() for r in ds.store.raw().collect()]
    assert any(r["value"] is None for r in rows)
    assert any(r["deleted_at"] is not None for r in rows)
    return ds, [r for r in rows if r["deleted_at"] is None]


# ------------------------------------------------------------ oracle
def _like(pattern: str, flags=0):
    rx = "".join(
        ".*" if ch == "%" else "." if ch == "_" else re.escape(ch) for ch in pattern
    )
    return lambda v: v is not None and re.fullmatch(rx, v, flags | re.S) is not None


def _op(op: str, want):
    if op == "eq":
        return lambda v: v is not None and v == want
    if op == "in":
        return lambda v: v is not None and v in want
    if op == "not_in":
        return lambda v: v is not None and v not in want
    if op == "null":
        return lambda v: (v is None) if want else (v is not None)
    if op == "like":
        return _like(want)
    if op == "ilike":
        return _like(want, re.I)
    raise AssertionError(op)


def _is_checksum(r) -> bool:
    return r["prop"] == BASE_ID_PROP and r["prop_type"] == BASE_ID_PROP_TYPE


def _oracle_ids(q: Query, live: list[dict]) -> list[str]:
    def row_ok(r):
        return (
            (not q.schemata or r["schema"] in q.schemata)
            and (not q.origins or r["origin"] in q.origins)
            and all(_op(op, v)(r[c]) for c, op, v in q.entity_filters)
        )

    by_id: dict[str, list[dict]] = {}
    for r in live:
        by_id.setdefault(r["entity_id"], []).append(r)
    ids = [
        eid for eid, rs in by_id.items()
        if any(row_ok(r) for r in rs)
        and all(
            any(r["prop"] == p and _op(op, v)(r["value"]) for r in rs)
            for p, op, v in q.prop_filters
        )
    ]
    if not q.sort and q.stop is None and not q.start:
        return sorted(ids)
    ((prop, asc, _numeric),) = q.sort
    assert asc

    def key(eid):
        vals = [r["value"] for r in by_id[eid] if r["prop"] == prop and r["value"] is not None]
        return (not vals, min(vals) if vals else "", eid)

    return sorted(ids, key=key)[q.start:q.stop]


def _assemble(rs: list[dict], max_values: int | None = None) -> dict:
    real = [r for r in rs if not _is_checksum(r)]
    groups: dict[str, list[dict]] = {}
    for r in real:
        groups.setdefault(r["prop"], []).append(r)
    props = {}
    for p, g in groups.items():
        vals = sorted({r["value"] for r in g if r["value"] is not None})
        props[p] = vals if max_values is None else vals[:max_values]

    def rank(p):
        return (CAPTION_PROPS.index(p) + 1 if p in CAPTION_PROPS else 99, p)

    best = min(groups, key=rank)
    checksums = [r["first_seen"] for r in rs if _is_checksum(r)]
    first_seen = min(r["first_seen"] for r in real)
    (schema,) = {r["schema"] for r in real}
    return {
        "entity_id": real[0]["entity_id"],
        "caption": props[best][0] if props[best] else None,
        "schema": schema,
        "properties": props,
        "first_seen": first_seen,
        "last_seen": max(r["last_seen"] for r in real),
        "last_change": max(checksums) if checksums else first_seen,
        "origins": sorted({r["origin"] for r in real}),
        "n_statements": len(real),
    }


def _oracle_entities(q: Query, live: list[dict], max_values=None) -> dict:
    out = {}
    for eid in _oracle_ids(q, live):
        rs = [
            r for r in live
            if r["entity_id"] == eid and (not q.origins or r["origin"] in q.origins)
        ]
        if any(not _is_checksum(r) for r in rs):
            out[eid] = _assemble(rs, max_values)
    return out


def _rows(df) -> dict:
    return {r["entity_id"]: r.asDict(recursive=True) for r in df.collect()}


QUERIES = {
    "schema": Query().where(schema="Person"),
    "prop": Query().where(country="de"),
    "schema+prop": Query().where(schema="Person", country="de"),
    "same prop twice": Query().where(name__like="bob-%").where(name__ilike="ANN%"),
    "same prop, two rows": Query().where(name="anna-00").where(name="bob-00"),
    "same prop, no entity": Query().where(name="anna-00").where(name="bob-05"),
    "origin": Query().where(origin="b", country="gb"),
    "entity_id__in": Query().where(entity_id__in=["e00", "e01", "e02", "e05"], notes__null=True),
    "not_in over nulls": Query().where(notes__not_in=["x"]),
    "null false": Query().where(notes__null=False),
    "ilike": Query().where(schema="Company", name__ilike="an%"),
    "tombstoned": Query().where(name="Ghost"),
    "checksum only": Query().where(schema="Person", origin="a"),
    "sorted slice": Query().where(schema="Person").order_by("name")[2:5],
}


@pytest.mark.parametrize("name", list(QUERIES))
def test_entities_and_count_match_the_oracle(store, name):
    ds, live = store
    q = QUERIES[name]
    want = _oracle_entities(q, live)
    assert _rows(ds.entities(q)) == want
    assert ds.count(q) == len(_oracle_ids(q, live))


def test_oracle_cases_are_not_vacuous(store):
    """Each case selects what it is there to exercise."""
    _, live = store
    ids = {k: _oracle_ids(q, live) for k, q in QUERIES.items()}
    assert ids["same prop twice"] == ["e00", "e15"]
    assert ids["same prop, two rows"] == ["e00"]  # no one row has both
    assert ids["same prop, no entity"] == []
    assert ids["entity_id__in"] == ["e01", "e05"]
    assert ids["not_in over nulls"] == ["e02"]  # NULL is no match
    assert ids["tombstoned"] == []
    assert "zz-checksum-only" in ids["checksum only"]
    assert "zz-checksum-only" not in _oracle_entities(QUERIES["checksum only"], live)
    assert len(ids["sorted slice"]) == 3
    assert all(len(v) for k, v in ids.items() if k not in (
        "same prop, no entity", "tombstoned"))


def test_assembly_exchange_and_value_cap_keep_the_output(store, monkeypatch):
    """The single ``entity_id`` exchange changes no assembled row,
    capped or not: the same input assembled without it (grouping
    straight on ``(entity_id, prop)``) gives identical rows."""
    import pyspark.sql.classic.dataframe as cdf

    ds, live = store
    for cap in (None, 1):
        with_exchange = _rows(assemble_entities(ds.store.live(), max_values_per_prop=cap))
        with monkeypatch.context() as m:
            m.setattr(cdf.DataFrame, "repartition", lambda self, *a, **k: self)
            df = assemble_entities(ds.store.live(), max_values_per_prop=cap)
        assert _rows(df) == with_exchange
        assert with_exchange == _oracle_entities(Query(), live, max_values=cap)


def test_spark_get_equals_direct_get(store):
    ds, _ = store
    for eid in ("e00", "e01", "e07", "e23", "zz-checksum-only"):
        assert ds.get(eid, engine="spark") == ds.get(eid)
