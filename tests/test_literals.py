"""Bit-parity of the one-expression literal builders (functions/literals)
against the per-element ``F.lit`` forms they replaced (round 13): the
SQL-string rendering must produce exactly the same map/array values for
the real ontology dicts and for adversarial strings (quotes,
backslashes, newlines, unicode)."""

from pyspark.sql import functions as F

from ftm_lakehouse_spark.functions.literals import (
    lit_str_array,
    lit_str_array_map,
    lit_str_int_map,
    lit_str_map,
)
from ftm_lakehouse_spark.model.ontology import (
    PROP_TYPES,
    SCHEMA_ANCESTORS,
    SCHEMA_BUCKETS,
    SCHEMA_SPECIFICITY,
)

ADVERSARIAL = {
    "plain": "value",
    "qu'ote": "it's",
    "back\\slash": "a\\b",
    "new\nline": "tab\there",
    "uni·code→": "ß∂ƒ©",
    "empty": "",
    "'lead": "trail'",
    "\\'both\\'": "\\n not a newline",
}


def _one(spark, col):
    return spark.range(1).select(col.alias("v")).collect()[0]["v"]


def test_str_map_matches_create_map(spark):
    for mapping in (PROP_TYPES, SCHEMA_BUCKETS, ADVERSARIAL):
        old = F.create_map(*[F.lit(x) for kv in mapping.items() for x in kv])
        assert _one(spark, lit_str_map(mapping)) == _one(spark, old)


def test_str_array_map_matches(spark):
    old = F.create_map(
        *[
            x
            for k, v in sorted(SCHEMA_ANCESTORS.items())
            for x in (F.lit(k), F.array(*[F.lit(a) for a in v]))
        ]
    )
    new = lit_str_array_map({k: v for k, v in sorted(SCHEMA_ANCESTORS.items())})
    assert _one(spark, new) == _one(spark, old)
    # empty-array value branch
    assert _one(spark, lit_str_array_map({"k": []})) == {"k": []}


def test_str_int_map_matches(spark):
    old = F.create_map(
        *[F.lit(x) for kv in sorted(SCHEMA_SPECIFICITY.items()) for x in kv]
    )
    new = lit_str_int_map({k: v for k, v in sorted(SCHEMA_SPECIFICITY.items())})
    assert _one(spark, new) == _one(spark, old)


def test_str_array_matches(spark):
    vals = list(ADVERSARIAL) + list(ADVERSARIAL.values())
    assert _one(spark, lit_str_array(vals)) == vals
    assert _one(spark, lit_str_array([])) == []


def test_empty_map_fallbacks_keep_their_types(spark):
    df = spark.range(1).select(
        lit_str_map({}).alias("s"), lit_str_array_map({}).alias("a"),
        lit_str_int_map({}).alias("i"),
    )
    assert [f.dataType.simpleString() for f in df.schema.fields] == [
        "map<string,string>", "map<string,array<string>>", "map<string,int>"
    ]


def test_tune_for_local_pins_unescaped_string_literals(spark):
    """``sql_str`` escapes for the default parser; a session we did not
    create may have ``escapedStringLiterals`` on, which keeps every
    backslash verbatim. ``tune_for_local`` turns it off again, and the
    literal builders then match their ``F.lit`` form."""
    from ftm_lakehouse_spark.session import tune_for_local

    session = spark.newSession()  # own SQL conf, shared context
    session.conf.set("spark.sql.parser.escapedStringLiterals", "true")
    old = F.create_map(*[F.lit(x) for kv in ADVERSARIAL.items() for x in kv])
    assert _one(session, lit_str_map(ADVERSARIAL)) != _one(session, old)
    tune_for_local(session)
    assert session.conf.get("spark.sql.parser.escapedStringLiterals") == "false"
    assert _one(session, lit_str_map(ADVERSARIAL)) == _one(session, old)
