"""Literal map/array columns built as ONE SQL expression string.

The per-element ``F.create_map(*[F.lit(x) ...])`` /
``F.array(*[F.lit(x) ...])`` constructions cost one driver⇄JVM py4j
round trip per element (~0.5 ms each). The ontology-derived literal
maps (prop→type: 95 entries, schema→bucket/depth: 60, schema→ancestor
arrays: 60 keys + 177 array members, extension→mimetype: 149) are
rebuilt on EVERY query construction, so gates that compose several of
them — the e2e/canonicalize/assembly family builds prop_type,
schema_bucket, ancestors and depth per emission — paid 1–2 s of pure
driver-side chatter per run before any job started (round-13, measured
with cProfile: ``explode_entities`` alone was 1.6 s/call, ~80 % of it
literal-map construction). Rendering the values into one
``map(...)``/``array(...)`` SQL string costs a single ``F.expr`` round
trip; Catalyst parses and constant-folds it exactly like the
``create_map`` form (same ``map`` function, same key order, same
types). This is the string/int companion of
:func:`ftm_lakehouse_spark.functions.vectors.lit_doubles`.

Escaping: Spark's default SQL parser treats backslash as an escape
inside string literals (``escapedStringLiterals`` off), so both the
backslash and the quote are escaped; bit-parity with the ``F.lit``
form is pinned by tests over the real ontology dicts and adversarial
strings (quotes, backslashes, newlines, unicode).
"""

from __future__ import annotations

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F

__all__ = [
    "sql_str", "lit_str_array", "lit_str_map", "lit_str_array_map",
    "lit_str_int_map", "folded",
]


def sql_str(s: str) -> str:
    """Render a Python string as a Spark SQL single-quoted literal."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def lit_str_array(vals) -> Column:
    """``array<string>`` literal as one SQL expression."""
    vals = list(vals)
    if not vals:
        return F.array().cast("array<string>")
    return F.expr("array(" + ",".join(sql_str(v) for v in vals) + ")")


def lit_str_map(mapping) -> Column:
    """``map<string,string>`` literal as one SQL expression (insertion
    order preserved, like ``create_map``)."""
    items = list(mapping.items())
    if not items:
        return F.create_map().cast("map<string,string>")
    body = ",".join(f"{sql_str(k)},{sql_str(v)}" for k, v in items)
    return F.expr("map(" + body + ")")


def lit_str_array_map(mapping) -> Column:
    """``map<string,array<string>>`` literal as one SQL expression."""
    items = list(mapping.items())
    if not items:
        return F.create_map().cast("map<string,array<string>>")
    body = ",".join(
        f"{sql_str(k)},array({','.join(sql_str(v) for v in vs)})"
        if vs
        else f"{sql_str(k)},array()"
        for k, vs in items
    )
    return F.expr("map(" + body + ")")


def lit_str_int_map(mapping) -> Column:
    """``map<string,int>`` literal as one SQL expression (values are
    Python ints rendered as INT literals, matching ``F.lit(int)``)."""
    items = list(mapping.items())
    if not items:
        return F.create_map().cast("map<string,int>")
    body = ",".join(f"{sql_str(k)},{int(v)}" for k, v in items)
    return F.expr("map(" + body + ")")


def folded(col: Column) -> Column:
    """The constant ``col`` evaluated once, on the active session, into
    a resolved literal. An ``F.expr`` literal is parsed and analyzed
    again in every plan that uses it — for the ontology maps inside
    ``merge_schemata``'s lambdas, ~60 ms per query on a 4-CPU host —
    while a folded literal is plain data: reusing it costs nothing and
    ties it to no plan. The value is fixed at the conf in force when it
    is folded (``spark.sql.parser.escapedStringLiterals`` is pinned off
    by ``session._RUNTIME_CONF``)."""
    spark = SparkSession.active()
    plan = spark.range(1).select(col.alias("v"))._jdf.queryExecution().optimizedPlan()
    value = plan.expressions().head().child()  # the constant-folded Literal
    return Column(spark._jvm.org.apache.spark.sql.classic.ExpressionUtils.column(value))
