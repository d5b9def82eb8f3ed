"""Plan-regression harness (TODO.md round-2 item): every graded query's
physical-plan fingerprint must match the recorded snapshot.

A failure here means the *shape* of a plan changed — a join strategy flip,
a new shuffle, a lost pushdown, Python eval appearing in a hot path.  If
the change is intentional, regenerate and commit the snapshot:

    python tools/plan_snapshot.py

The full sweep plans all 397 queries (~2 min) and sits in the slow tier;
the epoch-store and Misra-Gries queries are also checked in the fast tier.
"""

from __future__ import annotations

import pytest

import json
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))


#: Queries that drive the shared epoch commit, the store history read and
#: the Misra-Gries compress (``streaming.pipeline.epoch_write`` /
#: ``read_store``, ``operators.sketch.mg_compress``).  None of them calls
#: ``io.widen``, so their fingerprints do not depend on the core count.
_EPOCH_STORE_QUERIES = (
    "f18_incremental_dedup",
    "sketch_misra_gries",
    "stream_cms_rollup_readpath",
    "stream_hll_rollup_readpath",
    "stream_kll_rollup_readpath",
    "stream_mg_rollup_readpath",
)


def test_epoch_store_plans_match_recorded_snapshots(spark):
    import plan_snapshot

    from pulsar_message_filter_spark import registry
    from pulsar_message_filter_spark.plans import plan_fingerprint

    with open(plan_snapshot.SNAPSHOT_PATH) as f:
        recorded = json.load(f)
    graded = registry.all_graded()
    old = {n: recorded[n] for n in _EPOCH_STORE_QUERIES}
    new = {
        n: plan_fingerprint(graded[n].fn(spark, plan_snapshot.SF_DIR))
        for n in _EPOCH_STORE_QUERIES
    }
    msgs = plan_snapshot.diff(old, new)
    assert not msgs, "plan drift:\n" + "\n".join(msgs)


@pytest.mark.slow
def test_plans_match_recorded_snapshots(spark):
    import plan_snapshot

    assert os.path.exists(plan_snapshot.SNAPSHOT_PATH), (
        "no plan snapshot recorded — run: python tools/plan_snapshot.py"
    )
    with open(plan_snapshot.SNAPSHOT_PATH) as f:
        old = json.load(f)
    new = plan_snapshot.current_fingerprints(spark)
    msgs = plan_snapshot.diff(old, new)
    assert not msgs, "plan drift (regenerate via tools/plan_snapshot.py if intentional):\n" + "\n".join(msgs)
