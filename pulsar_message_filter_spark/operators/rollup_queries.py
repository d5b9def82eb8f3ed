"""Graded read-path queries for the streaming sketch-rollup stores.

``streaming.pipeline`` maintains epoch-keyed mergeable-sketch stores
(E-series × C12/C14/F14): each micro-batch appends one tiny summary
partition, and readers merge across epochs without touching raw events.
The pipelines themselves are exercised live under ``readStream`` in
``tests/test_streaming.py`` / ``tests/test_round10_ops.py``; the queries
here grade the *read path* (VERDICT r06 #6): they build a multi-epoch
store in batch emulation through the SAME per-epoch summary builders and
the SAME epoch commit the streaming ``foreachBatch`` sinks use
(``streaming.pipeline.epoch_write``), then answer through
``read_mg_rollup`` / ``read_kll_rollup`` / ``read_sketch_rollup``.

Epoch emulation is deterministic — ``event_id % 3`` splits the events
table into three "micro-batches" identically on both engines — so the
relational MG rollup is hash-exact against a DuckDB oracle that replays
the summarize→merge→recompress algebra, and the KLL rollup (iterative
compaction, not SQL-expressible) ships its exact-quantile twin and
measured rank error in-result, the ``sketch_kll_quantiles`` pattern.

Scale shape (100 TB): per-epoch state is ≤ k rows (MG) or O(keys·k·log n)
floats (KLL) regardless of batch size; merge-on-read is a grouped
aggregation over #epochs × that many rows — the store grows in EPOCHS,
not events, and raw values never shuffle twice.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pulsar_message_filter_spark.io import load
from pulsar_message_filter_spark.registry import graded
from pulsar_message_filter_spark.streaming.pipeline import (
    epoch_write,
    kll_epoch_summary,
    mg_epoch_summary,
    read_kll_rollup,
    read_mg_rollup,
    read_sketch_rollup,
)
from pulsar_message_filter_spark.tmpdirs import run_scoped_dir

_EPOCHS = 3
_MG_K = 12  # < #users (150 at sf0.01) so the threshold subtraction is live


def _store_dir(query: str, sf_dir: str) -> str:
    """Per-(query, sf) store path, deterministic WITHIN this process only:
    repeated gate/bench runs in one interpreter rewrite the same epoch
    partitions via the shared dynamic overwrite (``epoch_write``) instead of
    leaking a fresh /tmp dir per invocation (VERDICT r07 hygiene note),
    while concurrent processes get disjoint roots (ADVICE r08: a fully
    fixed path raced gate-vs-bench on the same sf)."""
    tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    return run_scoped_dir(f"pmf_{query}_{tag}_e{_EPOCHS}")


@graded(
    "stream_mg_rollup_readpath",
    oracle=f"""
        WITH counts AS (
            SELECT event_id % {_EPOCHS} AS epoch_id, user_id, count(*) AS c
            FROM events GROUP BY 1, 2
        ),
        ranked AS (
            SELECT epoch_id, user_id, c,
                   row_number() OVER (PARTITION BY epoch_id
                                      ORDER BY c DESC, user_id) AS rk
            FROM counts
        ),
        thresh AS (
            SELECT epoch_id,
                   coalesce(max(CASE WHEN rk = {_MG_K} + 1 THEN c END), 0) AS t
            FROM ranked GROUP BY 1
        ),
        partials AS (
            SELECT r.user_id, r.c - t.t AS w
            FROM ranked r JOIN thresh t USING (epoch_id)
            WHERE r.rk <= {_MG_K} AND r.c - t.t > 0
        ),
        merged AS (
            SELECT user_id, CAST(sum(w) AS BIGINT) AS w
            FROM partials GROUP BY 1
        ),
        reranked AS (
            SELECT user_id, w,
                   row_number() OVER (ORDER BY w DESC, user_id) AS rk
            FROM merged
        ),
        final_t AS (
            SELECT coalesce(max(CASE WHEN rk = {_MG_K} + 1 THEN w END), 0) AS t
            FROM reranked
        )
        SELECT user_id, CAST(w - t AS BIGINT) AS est_count
        FROM reranked, final_t
        WHERE rk <= {_MG_K} AND w - t > 0
    """,
    section="E10,C12,F14",
    description="streaming MG heavy-hitter rollup READ PATH, hash-exact: "
    "3 emulated epochs written through the pipeline's per-epoch summarize + "
    "epoch-keyed store, answered via read_mg_rollup merge-on-read; oracle "
    "replays the summarize->merge->recompress algebra in SQL",
)
def stream_mg_rollup_readpath(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drives ``mg_epoch_summary`` → epoch-keyed parquet store →
    ``read_mg_rollup`` end-to-end through the graded surface.  Plan-time
    side job (store build) — keep off bench HEADLINE per TODO watch list."""
    store = _store_dir("mg_readpath", sf_dir)
    events = load(spark, "events", sf_dir)
    for e in range(_EPOCHS):
        batch = events.filter(F.col("event_id") % _EPOCHS == e)
        epoch_write(mg_epoch_summary(batch, "user_id", k=_MG_K), e, store)
    return read_mg_rollup(spark, store, k=_MG_K)


@graded(
    "stream_kll_rollup_readpath",
    oracle=None,  # iterative ladder compaction: not SQL-expressible; the
    # exact twin ships IN the result (rank_error column) and pytest pins
    # the bound — the sketch_kll_quantiles grading pattern.
    section="E10,C14,F14",
    description="streaming KLL quantile rollup READ PATH: 3 emulated epochs "
    "of per-key sketch rows written through the pipeline's epoch-keyed "
    "store, merged on read via read_kll_rollup; result carries the measured "
    "rank error vs the raw events (rows-only)",
)
def stream_kll_rollup_readpath(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drives ``kll_epoch_summary`` → epoch-keyed parquet store →
    ``read_kll_rollup`` end-to-end, then grades itself: each merged
    estimate is joined back against the raw values to emit
    ``|rank(est)/n - p|``.  Plan-time side job — off bench HEADLINE."""
    store = _store_dir("kll_readpath", sf_dir)
    events = load(spark, "events", sf_dir).select(
        "event_id", "event_type", F.col("value").alias("v")
    )
    for e in range(_EPOCHS):
        batch = events.filter(F.col("event_id") % _EPOCHS == e)
        epoch_write(kll_epoch_summary(batch, "event_type", "v"), e, store)

    est = read_kll_rollup(spark, store, ps=(0.25, 0.5, 0.75, 0.9))
    # exact rank of each estimate: broadcast the ~20 estimate rows against
    # one scan of the raw values — no sort, no quadratic anything
    ranked = (
        events.join(F.broadcast(est), "event_type")
        .groupBy("event_type", "p", "est_value", "sketch_n")
        .agg(
            F.sum(
                F.when(F.col("v") <= F.col("est_value"), 1).otherwise(0)
            ).alias("n_le"),
            F.count("*").alias("n"),
        )
    )
    return ranked.select(
        "event_type",
        "p",
        F.round("est_value", 4).alias("est_value"),
        "sketch_n",
        F.round(
            F.abs(F.col("n_le").cast("double") / F.col("n") - F.col("p")), 4
        ).alias("rank_error"),
    ).orderBy("event_type", "p")


def _cms_readpath_oracle() -> str:
    """The CMS rollup read path is hash-exact against the DIRECT
    build+estimate oracle because merge-by-sum is exact: per-epoch cell
    counts sum to the whole-table cell counts (the cell function is a
    deterministic literal family).  Reuses the cms_user_event_counts
    oracle template."""
    from pulsar_message_filter_spark.operators.sketch import _cms_sql

    return _cms_sql("user_id", "events", "WHERE user_id < 40", 1024, 4)


@graded(
    "stream_cms_rollup_readpath",
    oracle=_cms_readpath_oracle(),
    section="E10,C12,F14",
    description="streaming CMS rollup READ PATH, hash-exact: 3 emulated "
    "epochs of counter cells written through the epoch-keyed store, merged "
    "on read (SUM over cells, the sketch's merge) and point-queried; the "
    "oracle builds the same sketch directly — sum-merge exactness makes "
    "the two answers identical",
)
def stream_cms_rollup_readpath(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drives ``cms_build``/``hll_registers`` → epoch-keyed store →
    ``read_sketch_rollup`` (merge-on-read, incl. the both-stores-committed
    consistency semi-join) → ``cms_estimate`` end-to-end.  Plan-time side
    job (store build) — off bench HEADLINE."""
    from pulsar_message_filter_spark.operators.sketch import (
        cms_build,
        cms_estimate,
        hll_registers,
    )

    store = _store_dir("cms_readpath", sf_dir)
    events = load(spark, "events", sf_dir)
    for e in range(_EPOCHS):
        batch = events.filter(F.col("event_id") % _EPOCHS == e)
        epoch_write(cms_build(batch, "user_id"), e, f"{store}/cms")
        epoch_write(hll_registers(batch, "user_id"), e, f"{store}/hll")
    merged_cms, _merged_hll = read_sketch_rollup(spark, store)
    keys = events.filter(F.col("user_id") < 40).select("user_id").distinct()
    return cms_estimate(merged_cms, keys, "user_id")


def _hll_readpath_oracle() -> str:
    """The HLL rollup read path is hash-exact against the DIRECT
    build+estimate oracle because merge-by-max is exact: per-epoch
    register maxima max-merge to the whole-table register maxima (the
    hash family is a deterministic literal).  Composes the same shared
    fragments as hll_distinct_users / hll_audience_overlap — same
    registers, same estimate formula."""
    from pulsar_message_filter_spark.operators.sketch import (
        _HLL_EST_SQL,
        _hll_regs_sql,
    )

    return f"""
        SELECT CAST(count(*) AS BIGINT) AS registers_hit,
               {_HLL_EST_SQL} AS hll_estimate,
               (SELECT count(DISTINCT user_id) FROM events) AS true_distinct
        FROM {_hll_regs_sql("")} regs
    """


@graded(
    "stream_hll_rollup_readpath",
    oracle=_hll_readpath_oracle(),
    section="E10,C12,F14",
    description="streaming HLL rollup READ PATH, hash-exact: 3 emulated "
    "epochs of register maxima written through the epoch-keyed store "
    "(both sketch halves committed, exercising the consistency "
    "semi-join), merged on read (MAX over registers, the sketch's merge) "
    "and estimated; max-merge exactness makes the answer identical to "
    "the direct whole-table build the oracle runs",
)
def stream_hll_rollup_readpath(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drives ``hll_registers`` (+ the CMS half the store format pairs
    with) → epoch-keyed store → ``read_sketch_rollup`` merge-on-read →
    the register-table estimate, end-to-end through the graded surface —
    the HLL half ``stream_cms_rollup_readpath`` writes but does not
    grade.  Plan-time side job (store build) — off bench HEADLINE."""
    from pulsar_message_filter_spark.operators.sketch import (
        _HLL_ALPHA,
        _HLL_M,
        cms_build,
        hll_registers,
    )

    store = _store_dir("hll_readpath", sf_dir)
    events = load(spark, "events", sf_dir)
    for e in range(_EPOCHS):
        batch = events.filter(F.col("event_id") % _EPOCHS == e)
        epoch_write(cms_build(batch, "user_id"), e, f"{store}/cms")
        epoch_write(hll_registers(batch, "user_id"), e, f"{store}/hll")
    _merged_cms, merged_hll = read_sketch_rollup(spark, store)
    # exact count as a 1-row aggregate subtree in the same plan — one
    # action instead of a driver count + lit (count_distinct == the
    # oracle's count(DISTINCT user_id))
    td = events.agg(
        F.count_distinct("user_id").cast("long").alias("true_distinct")
    )
    return merged_hll.agg(
        F.count("*").alias("registers_hit"),
        F.round(
            F.lit(_HLL_ALPHA * _HLL_M * _HLL_M)
            / (
                F.sum(F.pow(F.lit(2.0), -F.col("max_rho")))
                + (F.lit(_HLL_M) - F.count("*"))
            ),
            4,
        ).alias("hll_estimate"),
    ).crossJoin(td)


__all__ = [
    "stream_mg_rollup_readpath",
    "stream_kll_rollup_readpath",
    "stream_cms_rollup_readpath",
    "stream_hll_rollup_readpath",
]
