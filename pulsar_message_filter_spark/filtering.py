"""Verdict routing and per-subscription fan-out (SURVEY.md §2.B13–B15).

Upstream (PIP-105, public): an entry filter returns
``ACCEPT | REJECT | RESCHEDULE`` per (message, subscription); ACCEPTed
messages are dispatched, REJECTed go to DLQ-style handling, RESCHEDULEd are
redelivered later.  Spark mapping:

* verdicts are a computed column (one pass, no data duplication);
* ACCEPT/REJECT split into sinks via ``foreachBatch`` or two filters;
* RESCHEDULE has no per-message redelivery analog in a DataFrame — the
  engine implements the *retry-topic* pattern (public Pulsar convention):
  rescheduled rows are written with a ``not_before`` visibility timestamp
  and re-ingested by a later micro-batch (SURVEY §7.4.6).

Fan-out (B14): :func:`fan_out` evaluates N subscriptions with distinct
selectors over one source in a single scan by adding one boolean column per
subscription — the scan and JSON parse are shared; at 100 TB this is N×
cheaper than N passes.  :func:`subscription_views` instead returns one
filtered DataFrame per subscription; each view that is written or counted
is its own scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pulsar_message_filter_spark.selector import EVENTS_SCHEMA, Schema, Selector

ACCEPT = "ACCEPT"
REJECT = "REJECT"
RESCHEDULE = "RESCHEDULE"


def _selector(sel: Selector | str, schema: Schema) -> Selector:
    return sel if isinstance(sel, Selector) else Selector(sel, schema)


def with_verdict(
    df: DataFrame,
    accept: Selector | str,
    reschedule: Selector | str | None = None,
    schema: Schema = EVENTS_SCHEMA,
    verdict_col: str = "verdict",
) -> DataFrame:
    """Add the 3-way verdict column (B13).

    Precedence matches the upstream filter chain: ACCEPT if the selector
    matches; else RESCHEDULE if that predicate matches; else REJECT.
    UNKNOWN (null) predicate results do not select — JMS 3VL (B3).
    """
    verdict = F.when(_selector(accept, schema).column(), F.lit(ACCEPT))
    if reschedule is not None:
        verdict = verdict.when(_selector(reschedule, schema).column(), F.lit(RESCHEDULE))
    return df.withColumn(verdict_col, verdict.otherwise(F.lit(REJECT)))


def route(
    df: DataFrame,
    accept: Selector | str,
    reschedule: Selector | str | None = None,
    schema: Schema = EVENTS_SCHEMA,
) -> dict[str, DataFrame]:
    """Split one source into verdict streams: ``{'ACCEPT': df, 'REJECT': df,
    'RESCHEDULE': df}`` — the forward / DLQ / retry-topic triple (A5/A6)."""
    tagged = with_verdict(df, accept, reschedule, schema)
    out = {
        ACCEPT: tagged.filter(F.col("verdict") == ACCEPT).drop("verdict"),
        REJECT: tagged.filter(F.col("verdict") == REJECT).drop("verdict"),
    }
    if reschedule is not None:
        out[RESCHEDULE] = tagged.filter(F.col("verdict") == RESCHEDULE).drop("verdict")
    return out


def fan_out(
    df: DataFrame,
    subscriptions: dict[str, Selector | str],
    schema: Schema = EVENTS_SCHEMA,
    prefix: str = "sub_",
) -> DataFrame:
    """One-pass per-subscription evaluation (B14): adds a boolean column
    ``{prefix}{name}`` per subscription.  Downstream, each subscription's
    view is ``df.filter(F.col(f'{prefix}{name}'))`` — all sharing a single
    scan + JSON parse."""
    for name, sel in subscriptions.items():
        # coalesce(false): UNKNOWN → not selected, pinned at the column level
        # so the fan-out columns are concrete booleans.
        df = df.withColumn(
            f"{prefix}{name}", F.coalesce(_selector(sel, schema).column(), F.lit(False))
        )
    return df


def subscription_views(
    df: DataFrame,
    subscriptions: dict[str, Selector | str],
    schema: Schema = EVENTS_SCHEMA,
) -> dict[str, DataFrame]:
    """Each subscription's filtered view of ``df`` — ``{name: sel.apply(df)}``.

    Every view is planned and executed on its own (one scan per view acted
    on); :func:`fan_out` is the one-scan primitive for evaluating all
    subscriptions together."""
    return {
        name: _selector(sel, schema).apply(df) for name, sel in subscriptions.items()
    }
