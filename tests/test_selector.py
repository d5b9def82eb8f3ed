"""Selector compiler tests (SURVEY.md §5.3.1–.2): grammar table, typing /
coercion, 3VL edge cases, and a seeded differential test against DuckDB on
the events fixture — the cheap randomized analog of a logic-test corpus."""

from __future__ import annotations

import random

import pytest

from pulsar_message_filter_spark.selector import (
    EVENTS_SCHEMA,
    Selector,
    SelectorSyntaxError,
    SelectorTypeError,
)
from pulsar_message_filter_spark.selector.compiler import like_pattern_to_regex
from pulsar_message_filter_spark.selector.parser import parse
from tests.conftest import SF_SMOKE


# --- pure-Python: parsing ---------------------------------------------------


@pytest.mark.parametrize(
    "text",
    [
        "value > 50",
        "value * (1 - 0.1) >= 90",
        "-value + 3 < 0",
        "event_type = 'purchase'",
        "props.k BETWEEN 10 AND 20",
        "props.k NOT BETWEEN 10 AND 20",
        "event_type IN ('a', 'b', 'c')",
        "user_id NOT IN (1, 2, 3)",
        "event_type LIKE 'p%'",
        "event_type LIKE 'p!_x' ESCAPE '!'",
        "event_type NOT LIKE '_____'",
        "event_type REGEXP '^p.*e$'",
        "props.missing IS NULL",
        "props.k IS NOT NULL",
        "NOT (value > 5 AND value < 10) OR event_type = 'x'",
        "TRUE",
        "value % 2 = 0",
        "ts >= '2024-01-01 00:00:00'",
        "event_type = 'it''s'",
        "value > 1e2 AND value < 1.5E2",
    ],
)
def test_parse_accepts(text):
    parse(text)


@pytest.mark.parametrize(
    "text",
    [
        "",
        "value >",
        "value BETWEEN 1",
        "value IN ()",
        "value IN (1,)",
        "LIKE 'x'",
        "value LIKE 5",
        "value !! 3",
        "value > 5 AND",
        "(value > 5",
        "value NOT 5",
        "'unterminated",
    ],
)
def test_parse_rejects(text):
    with pytest.raises(SelectorSyntaxError):
        parse(text)


def test_precedence_or_and():
    # a OR b AND c == a OR (b AND c)
    sel = Selector("event_type = 'a' OR value > 1 AND value < 2")
    assert sel.duckdb_sql() == (
        "((event_type = 'a') OR ((value > 1) AND (value < 2)))"
    )


def test_arith_precedence():
    sel = Selector("value + 2 * 3 = 7")
    assert "(value + (2 * 3))" in sel.duckdb_sql()


# --- typing & coercion -------------------------------------------------------


def test_props_numeric_coercion():
    sql = Selector("props.k > 50").duckdb_sql()
    assert "TRY_CAST(json_extract_string(props, '$.k') AS DOUBLE)" in sql


def test_props_string_no_coercion():
    sql = Selector("props.k = '7'").duckdb_sql()
    assert "TRY_CAST" not in sql


def test_bare_property_resolves_via_props():
    # JMS: any non-header identifier is a message property
    sql = Selector("custom_flag = 'on'").duckdb_sql()
    assert "json_extract_string(props, '$.custom_flag')" in sql


def test_timestamp_coercion():
    sql = Selector("ts >= '2024-01-15 00:00:00'").duckdb_sql()
    assert "TRY_CAST('2024-01-15 00:00:00' AS TIMESTAMP)" in sql


def test_param_binding():
    sel = Selector("value > ${t} AND event_type = ${k}", params={"t": 5, "k": "x"})
    assert "(value > 5)" in sel.duckdb_sql()
    assert "'x'" in sel.duckdb_sql()


def test_param_unbound():
    with pytest.raises(SelectorSyntaxError):
        Selector("value > ${nope}")


def test_non_boolean_root_rejected():
    with pytest.raises(SelectorTypeError):
        Selector("value + 1")


def test_boolean_property_coercion(spark):
    # JMS boolean properties: bare identifier in boolean context reads as
    # getBooleanProperty; inconvertible → UNKNOWN → dropped
    df = spark.createDataFrame(
        [(1, '{"armed": "true"}'), (2, '{"armed": "false"}'),
         (3, '{"armed": "maybe"}'), (4, "{}")],
        "event_id long, props string",
    )
    sel = Selector("props.armed AND event_id < 10", EVENTS_SCHEMA)
    # JMS Boolean.valueOf semantics, not an engine cast (engines disagree
    # on 'yes'/'y'): rendered as lower(x) = 'true' on both backends
    assert "= 'true'" in sel.duckdb_sql()
    got = sorted(r.event_id for r in df.filter(sel.column()).collect())
    assert got == [1]
    # bare property as the entire selector
    got2 = sorted(
        r.event_id for r in df.filter(Selector("armed", EVENTS_SCHEMA).column()).collect()
    )
    assert got2 == [1]


def test_boolean_property_equals_literal(spark):
    # JMS also permits *equality comparison* of a boolean property with the
    # TRUE/FALSE literals — the dynamic side coerces via Boolean.valueOf
    # (any non-'true' string is false; a missing property stays UNKNOWN)
    df = spark.createDataFrame(
        [(1, '{"armed": "true"}'), (2, '{"armed": "false"}'),
         (3, '{"armed": "maybe"}'), (4, "{}")],
        "event_id long, props string",
    )
    eq = Selector("props.armed = TRUE", EVENTS_SCHEMA)
    assert [r.event_id for r in df.filter(eq.column()).collect()] == [1]
    ne = Selector("props.armed <> TRUE", EVENTS_SCHEMA)
    assert sorted(r.event_id for r in df.filter(ne.column()).collect()) == [2, 3]
    fa = Selector("FALSE = props.armed", EVENTS_SCHEMA)
    assert sorted(r.event_id for r in df.filter(fa.column()).collect()) == [2, 3]
    # ordering comparisons on booleans remain ill-typed
    with pytest.raises(SelectorTypeError):
        Selector("props.armed < TRUE", EVENTS_SCHEMA)


def test_string_arith_coerces():
    # dynamic property in arithmetic context → double
    sql = Selector("props.k + 1 > 2").duckdb_sql()
    assert "TRY_CAST" in sql


def test_like_on_number_rejected():
    with pytest.raises(SelectorTypeError):
        Selector("value LIKE 'x%'")


# --- LIKE→regex translation ---------------------------------------------------


@pytest.mark.parametrize(
    "pattern,escape,matches,rejects",
    [
        ("p%", None, ["p", "purchase"], ["x", "apu"]),
        ("_bc", None, ["abc", "xbc"], ["bc", "aabc"]),
        ("100!%", "!", ["100%"], ["100x", "100"]),
        ("a!_b", "!", ["a_b"], ["axb"]),
        ("50.5%", None, ["50.5x"], ["5045x"]),
    ],
)
def test_like_regex(pattern, escape, matches, rejects):
    import re

    rx = re.compile(like_pattern_to_regex(pattern, escape))
    for s in matches:
        assert rx.match(s), (pattern, s)
    for s in rejects:
        assert not rx.match(s), (pattern, s)


# --- Spark row-level semantics -------------------------------------------------


def test_3vl_drop_on_unknown(spark):
    df = spark.createDataFrame(
        [(1, '{"k": 5}'), (2, "{}"), (3, '{"k": 50}')],
        "event_id long, props string",
    )
    schema = EVENTS_SCHEMA
    # UNKNOWN (missing property) rows are dropped, JMS rule
    got = sorted(
        r.event_id
        for r in df.filter(Selector("props.k > 1", schema).column()).collect()
    )
    assert got == [1, 3]
    # NOT of UNKNOWN is still UNKNOWN → still dropped
    got = sorted(
        r.event_id
        for r in df.filter(Selector("NOT (props.k > 1)", schema).column()).collect()
    )
    assert got == []


def test_not_in_with_null_property(spark):
    df = spark.createDataFrame(
        [(1, '{"t": "a"}'), (2, "{}")], "event_id long, props string"
    )
    got = [
        r.event_id
        for r in df.filter(
            Selector("props.t NOT IN ('b', 'c')", EVENTS_SCHEMA).column()
        ).collect()
    ]
    assert got == [1]  # row 2 is UNKNOWN, not selected


def test_malformed_property_value_is_unknown(spark):
    # JMS: inconvertible property → UNKNOWN, not an error (ANSI-safe try_cast)
    df = spark.createDataFrame(
        [(1, '{"k": "oops"}'), (2, '{"k": 9}')], "event_id long, props string"
    )
    got = [
        r.event_id
        for r in df.filter(Selector("props.k > 1", EVENTS_SCHEMA).column()).collect()
    ]
    assert got == [2]


# --- differential test vs DuckDB (seeded random selectors) ---------------------

_LEAVES = [
    "value > {num}",
    "value <= {num}",
    "value BETWEEN {num} AND {num2}",
    "user_id % 2 = 0",
    "user_id IN (1, 3, 5, 7)",
    "event_type IN ('click', 'purchase')",
    "event_type LIKE '{pre}%'",
    "event_type REGEXP '^[cp]'",
    "props.k > {small}",
    "props.k <= {small}",
    "props.k IS NULL",
    "props.k IS NOT NULL",
    "props.absent IS NULL",
    "props.k BETWEEN {small} AND {small2}",
    "ts >= '2024-01-{day:02d} 00:00:00'",
    # newer grammar features: ESCAPE, dynamic arithmetic, modulo on props
    "event_type NOT LIKE '%!_%' ESCAPE '!'",
    "value + props.k > {num}",
    "props.k % 10 = {digit}",
    "props.k * 2 - 1 >= {small}",
]


def _random_selector(rng: random.Random, depth: int = 0) -> str:
    if depth >= 3 or rng.random() < 0.4:
        leaf = rng.choice(_LEAVES)
        n1, n2 = sorted((rng.uniform(0, 200), rng.uniform(0, 200)))
        s1, s2 = sorted((rng.randint(0, 99), rng.randint(0, 99)))
        return leaf.format(
            num=round(n1, 2),
            num2=round(n2, 2),
            small=s1,
            small2=s2,
            pre=rng.choice("cpsv"),
            day=rng.randint(1, 28),
            digit=rng.randint(0, 9),
        )
    op = rng.choice(["AND", "OR"])
    left = _random_selector(rng, depth + 1)
    right = _random_selector(rng, depth + 1)
    text = f"({left}) {op} ({right})"
    return f"NOT ({text})" if rng.random() < 0.25 else text


def test_differential_vs_duckdb(spark, duck):
    from pulsar_message_filter_spark.io import load

    events = load(spark, "events", SF_SMOKE).cache()
    rng = random.Random(42)
    for _ in range(40):
        text = _random_selector(rng)
        sel = Selector(text)
        spark_ids = {r.event_id for r in events.filter(sel.column()).select("event_id").collect()}
        duck_ids = {
            r[0]
            for r in duck.execute(
                f"SELECT event_id FROM events WHERE {sel.duckdb_sql()}"
            ).fetchall()
        }
        assert spark_ids == duck_ids, f"selector diverged: {text}"


# --- literal edge cases: Spark vs DuckDB on crafted rows ------------------------

_EDGE_DDL = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)
_EDGE_ROWS = [
    (1, "2024-01-01 00:00:00", 7, "it's", 0.2, '{"k": "3000000001", "s": "a\\\\b"}'),
    (2, "2024-01-05 00:00:00", 3000000000, "a\\b", 0.25, '{"k": "5", "flag": "TRUE"}'),
    (3, "2024-01-09 00:00:00", 2147483648, "x_1", -0.5, '{"k": "oops", "flag": "no"}'),
    (4, "2024-01-13 00:00:00", 9, "x%1", 1e16, '{"s": "it\'s"}'),
    (5, "2024-01-17 00:00:00", 11, "abc123", 0.1, "{}"),
]

_EDGE_SELECTORS = [
    "event_type = 'it''s'",  # quote
    "event_type = 'a\\b'",  # backslash
    "props.s = 'a\\b'",  # backslash inside a JSON property
    "props.s = 'it''s'",
    "event_type REGEXP '\\d'",  # regex escape
    "event_type NOT REGEXP '^[a-z]+\\d+$'",
    "event_type LIKE 'x!_%' ESCAPE '!'",  # LIKE ... ESCAPE
    "event_type NOT LIKE 'x!%%' ESCAPE '!'",
    "user_id = 3000000000",  # long above 2^31
    "user_id >= 2147483648",
    "props.k = 3000000001",
    "value = 0.2",  # double
    "value BETWEEN 0.1 AND 0.25",
    "value NOT BETWEEN 0.1 AND 0.25",
    "value > -0.4",
    "value >= 1e16",
    "ts >= '2024-01-08 00:00:00'",  # string → timestamp cast
    "ts BETWEEN '2024-01-02 00:00:00' AND '2024-01-10 00:00:00'",
    "props.flag",  # string → boolean (JMS Boolean.valueOf)
    "props.k IN (5, 3000000001)",
]


@pytest.fixture(scope="module")
def edge_tables(spark):
    import datetime as dt

    import duckdb

    rows = [
        (i, dt.datetime.fromisoformat(ts), u, e, v, p)
        for i, ts, u, e, v, p in _EDGE_ROWS
    ]
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE events (event_id BIGINT, ts TIMESTAMP, user_id BIGINT, "
        "event_type VARCHAR, value DOUBLE, props VARCHAR)"
    )
    con.executemany("INSERT INTO events VALUES (?, ?, ?, ?, ?, ?)", rows)
    yield spark.createDataFrame(rows, _EDGE_DDL), con
    con.close()


def _selected_ids(edge_tables, sel: Selector) -> tuple[list[int], list[int]]:
    df, con = edge_tables
    spark_ids = sorted(r.event_id for r in sel.apply(df).collect())
    duck_ids = sorted(
        r[0]
        for r in con.execute(f"SELECT event_id FROM events WHERE {sel.duckdb_sql()}").fetchall()
    )
    return spark_ids, duck_ids


@pytest.mark.parametrize("text", _EDGE_SELECTORS)
def test_literal_edge_cases_vs_duckdb(edge_tables, text):
    sel = Selector(text)
    spark_ids, duck_ids = _selected_ids(edge_tables, sel)
    assert spark_ids == duck_ids, (text, sel.spark_sql(), sel.duckdb_sql())
    assert duck_ids, f"edge selector selects nothing: {text}"


@pytest.mark.parametrize("bound", [float("inf"), float("-inf")])
def test_non_finite_param_vs_duckdb(edge_tables, bound):
    sel = Selector("value < ${b} OR value > ${b}", params={"b": bound})
    spark_ids, duck_ids = _selected_ids(edge_tables, sel)
    assert spark_ids == duck_ids == [1, 2, 3, 4, 5]


def test_spark_dialect_literals():
    sql = Selector("event_type = 'a\\b' AND value > 0.2 AND user_id BETWEEN 1 AND 2").spark_sql()
    assert "'a\\\\b'" in sql  # backslash doubled for Spark's string unescaping
    assert "0.2D" in sql  # a double, not a decimal
    assert "((`user_id` >= 1) AND (`user_id` <= 2))" in sql  # Column.between's pair
    like = Selector("event_type LIKE 'x!_%' ESCAPE '!'").spark_sql()
    assert "RLIKE" in like and "ESCAPE" not in like


def test_spark_dialect_string_cast(spark):
    from pulsar_message_filter_spark.selector.ast_nodes import Cast, Lit
    from pulsar_message_filter_spark.selector.compiler import to_column, to_sql

    node = Cast(Lit(7, "long"), "string")
    assert to_sql(node, EVENTS_SCHEMA, "spark") == "TRY_CAST(7 AS STRING)"
    assert to_sql(node, EVENTS_SCHEMA, "duckdb") == "TRY_CAST(7 AS VARCHAR)"
    assert spark.range(1).select(to_column(node, EVENTS_SCHEMA)).first()[0] == "7"
