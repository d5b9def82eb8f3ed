"""Loader golden-schema tests (SURVEY §5.3.5) + verdict routing / fan-out."""

from __future__ import annotations

from contextlib import contextmanager

import pytest

from pulsar_message_filter_spark.filtering import (
    ACCEPT,
    REJECT,
    RESCHEDULE,
    fan_out,
    route,
    subscription_views,
    with_verdict,
)
from pulsar_message_filter_spark.io import (
    _WIDEN_FLOOR,
    TABLES,
    invalidate_load_memo,
    load,
    widen,
)
from tests.conftest import SF_SMOKE

EXPECTED_DTYPES = {
    "events": [
        ("event_id", "bigint"),
        ("ts", "timestamp"),  # normalized from epoch-nanos by the loader
        ("user_id", "bigint"),
        ("event_type", "string"),
        ("value", "double"),
        ("props", "string"),
    ],
    "embeddings": [
        ("vec_id", "bigint"),
        ("embedding", "array<float>"),
        ("label", "int"),
    ],
}


def test_all_tables_load(spark):
    for t in TABLES:
        df = load(spark, t, SF_SMOKE)
        assert df.limit(1).count() == 1, t


def test_golden_dtypes(spark):
    for t, expected in EXPECTED_DTYPES.items():
        assert load(spark, t, SF_SMOKE).dtypes == expected, t


def test_orderdate_is_ntz(spark):
    dtypes = dict(load(spark, "orders", SF_SMOKE).dtypes)
    assert dtypes["o_orderdate"] == "timestamp_ntz"


def test_events_ts_range(spark):
    import pyspark.sql.functions as F

    row = load(spark, "events", SF_SMOKE).agg(
        F.min("ts").alias("lo"), F.max("ts").alias("hi")
    ).collect()[0]
    assert row.lo.year == 2024 and row.hi.year == 2024


def test_verdict_partition_is_total(spark):
    events = load(spark, "events", SF_SMOKE)
    routed = route(events, "props.k > 50", "value >= 150")
    counts = {k: df.count() for k, df in routed.items()}
    assert sum(counts.values()) == events.count()
    assert set(counts) == {ACCEPT, REJECT, RESCHEDULE}
    # precedence: ACCEPT wins over RESCHEDULE
    overlap = with_verdict(events, "props.k > 50", "props.k > 50").filter(
        "verdict = 'RESCHEDULE'"
    )
    assert overlap.count() == 0


def test_fanout_matches_individual_filters(spark):
    from pulsar_message_filter_spark.selector import Selector

    events = load(spark, "events", SF_SMOKE)
    subs = {"a": "event_type = 'click'", "b": "props.k > 90"}
    views = subscription_views(events, subs)
    for name, text in subs.items():
        expected = events.filter(Selector(text).column()).count()
        assert views[name].count() == expected, name
        assert views[name].columns == events.columns


def test_read_any_formats_roundtrip(spark, tmp_path):
    """A-surface breadth: the same documents rows survive a round-trip
    through CSV, JSON-lines, and ORC via read_any with an explicit schema."""
    from pulsar_message_filter_spark.io import read_any

    docs = load(spark, "documents", SF_SMOKE).select("doc_id", "lang", "n_chars").limit(200)
    expected = sorted((r.doc_id, r.lang, r.n_chars) for r in docs.collect())
    schema = "doc_id bigint, lang string, n_chars bigint"
    from pyspark.sql.types import _parse_datatype_string

    for fmt in ("csv", "json", "orc"):
        path = str(tmp_path / fmt)
        docs.write.format(fmt).option("header", "true").save(path)
        got = read_any(
            spark, path, fmt,
            schema=_parse_datatype_string(schema) if fmt != "orc" else None,
        )
        rows = sorted(
            (r.doc_id, r.lang, r.n_chars)
            for r in got.select("doc_id", "lang", "n_chars").collect()
        )
        assert rows == expected, fmt


def test_read_any_routes_corrupt_rows(spark, tmp_path):
    """PERMISSIVE ingestion: malformed JSON lines land in _corrupt_record
    and split_corrupt routes them DLQ-style instead of failing the job."""
    from pyspark.sql.types import _parse_datatype_string

    from pulsar_message_filter_spark.io import read_any, split_corrupt

    p = tmp_path / "in.jsonl"
    p.write_text(
        '{"doc_id": 1, "lang": "en"}\n'
        "THIS IS NOT JSON\n"
        '{"doc_id": 2, "lang": "fr"}\n'
        '{"doc_id": broken\n'
    )
    df = read_any(
        spark, str(p), "json", schema=_parse_datatype_string("doc_id bigint, lang string")
    )
    clean, corrupt = split_corrupt(df)
    assert sorted(r.doc_id for r in clean.collect()) == [1, 2]
    bad = [r._corrupt_record for r in corrupt.collect()]
    assert len(bad) == 2 and "THIS IS NOT JSON" in bad


def test_subscription_views_filter_the_source(spark):
    """Each view is a plain filter of the source: no fan-out columns in its
    plan, and its count equals a one-pass aggregate over fan_out's flags."""
    import pyspark.sql.functions as F

    events = load(spark, "events", SF_SMOKE)
    subs = {
        "click": "event_type = 'click'",
        "hot": "props.k > 90",
        "mid": "value BETWEEN 10 AND 50",
        "none": "props.absent = 'x'",
    }
    views = subscription_views(events, subs)
    for name, view in views.items():
        assert view.columns == events.columns, name
        assert "sub_" not in view._jdf.queryExecution().analyzed().toString(), name
    flags = fan_out(events, subs).groupBy().agg(
        *[F.count_if(F.col(f"sub_{name}")).alias(name) for name in subs]
    ).first()
    assert {name: view.count() for name, view in views.items()} == flags.asDict()
    assert flags["none"] == 0 and flags["click"] > 0


@contextmanager
def _widen_floor(spark, value: str):
    prev = spark.conf.get("spark.pmf.widen.floor", None)
    spark.conf.set("spark.pmf.widen.floor", value)
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset("spark.pmf.widen.floor")
        else:
            spark.conf.set("spark.pmf.widen.floor", prev)


def test_widen_floor_boundary(spark):
    """Only scans below min(defaultParallelism, floor) are widened; a scan
    with partitions in [floor, defaultParallelism) is returned as is."""
    par = spark.sparkContext.defaultParallelism
    if par < 3:
        pytest.skip("needs defaultParallelism >= 3 to leave room below it")
    floor = par - 1
    with _widen_floor(spark, str(floor)):
        at_floor = spark.range(0, 64, 1, floor)
        assert widen(at_floor) is at_floor
        below = spark.range(0, 64, 1, floor - 1)
        assert widen(below).rdd.getNumPartitions() == par


def test_widen_malformed_floor_falls_back(spark):
    par = spark.sparkContext.defaultParallelism
    with _widen_floor(spark, "sixteen"):
        wide = spark.range(0, 64, 1, min(par, _WIDEN_FLOOR))
        assert widen(wide) is wide
        if par > 1:
            assert widen(spark.range(0, 64, 1, 1)).rdd.getNumPartitions() == par


def test_invalidate_load_memo(spark, tmp_path):
    """load() pins the first read of a path; invalidate_load_memo re-reads."""
    path = str(tmp_path / "region.parquet")
    spark.range(2).write.parquet(path)
    first = load(spark, "region", str(tmp_path))
    assert load(spark, "region", str(tmp_path)) is first
    assert first.count() == 2

    spark.range(5).write.mode("overwrite").parquet(path)
    assert load(spark, "region", str(tmp_path)) is first
    invalidate_load_memo(spark)
    fresh = load(spark, "region", str(tmp_path))
    assert fresh is not first and fresh.count() == 5

    invalidate_load_memo()  # every session's memo
    assert load(spark, "region", str(tmp_path)) is not fresh
