"""The two closed-loop workloads.

Each workload has the same life cycle, driven by ``run.py``:

* ``generate()`` writes its seeded inputs (untimed, outside ``setup_s``);
* ``prepare(spark)`` is the workload's part of one set-up: selector
  compile, stream start and the warm-up ops;
* ``run(spark, seconds, prefix)`` is the closed loop, returning one
  :class:`Op` per completed op.  It runs first untimed, as the warm-up
  (``prefix="warm"``), then timed (``prefix="op"``);
* ``check(spark)`` verifies the outputs against an independent reference,
  outside the timed region, and returns the keys of the ops that failed;
* ``probe(spark)`` (traced run only) measures the per-layer figures the
  timed loop cannot see from outside, for the layers the workload calls.
  ``BYPASSED`` names the per-layer metrics (by prefix) of the layers it
  never calls; the runner reports those as not applicable.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from dataclasses import dataclass

import numpy as np

import gen
import spans as tr


@dataclass
class Op:
    key: str  # op id, matches the job description in the traced run
    latency_s: float
    work: int  # events (route/fanout) or queries (analytics)


@dataclass
class Ctx:
    seed: int
    scale: float
    work: str  # scratch dir inside the checkout
    tracer: tr.Tracer
    corrupt: bool = False  # perturb the reference: the check must fail

    @property
    def event_log(self) -> str:  # Spark event log of the traced half
        return os.path.join(self.work, "eventlog")


def _p50_us(fn, reps: int) -> float:
    xs = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        xs.append((time.perf_counter() - t0) * 1e6)
    return statistics.median(xs)


def _compile_us(texts) -> float:
    """Median over ``texts`` of the p50 time to compile one selector."""
    from pulsar_message_filter_spark.selector import Selector

    return statistics.median(_p50_us(lambda t=t: Selector(t), 50) for t in texts)


def _stream_figures(progress: list[dict], ckpt: str, out: str) -> dict[str, float]:
    """Streaming-layer figures of the given batches: mean of each
    ``durationMs`` phase (whole ms each, so a median would often repeat
    exactly from run to run), source files per batch (from the
    checkpoint's file-source log) and sink bytes per event."""
    fig = {
        f"streaming.pipeline.{phase}_ms": statistics.fmean(p["durationMs"].get(phase, 0) for p in progress)
        for phase in ("addBatch", "walCommit", "commitOffsets", "queryPlanning", "getBatch", "latestOffset")
    }
    files, out_bytes = [], 0
    for p in progress:
        # every 10th batch the file-source log is compacted into N.compact,
        # which lists the files of all batches so far
        log = os.path.join(ckpt, "sources", "0", str(p["batchId"]))
        with open(log if os.path.exists(log) else log + ".compact") as fh:
            entries = [json.loads(line) for line in fh if line.startswith("{")]
        files.append(sum(1 for e in entries if e["batchId"] == p["batchId"]))
        for f in glob.glob(os.path.join(out, f"epoch_id={p['batchId']}", "**", "*.parquet"), recursive=True):
            out_bytes += os.path.getsize(f)
    fig["streaming.pipeline.files_per_batch"] = tr.p50(files)
    fig["streaming.pipeline.out_bytes_per_event"] = out_bytes / max(sum(p["numInputRows"] for p in progress), 1)
    return fig


# ---------------------------------------------------------------------------
# route_stream: Structured Streaming file source -> filtered_sink_pipeline
# ---------------------------------------------------------------------------

ROUTE_ACCEPT = "props.tier IN ('gold', 'platinum') AND props.k < 84"
ROUTE_RESCHEDULE = "props.retry >= 4"


def route_verdicts(ev: gen.Events) -> np.ndarray:
    """Reference verdicts: ACCEPT before RESCHEDULE before REJECT; an absent
    ``tier`` makes the ACCEPT predicate UNKNOWN, which does not select."""
    accept = np.isin(ev.tier, [2, 3]) & (ev.k < 84)
    resched = ev.retry >= 4
    return np.where(accept, "ACCEPT", np.where(resched, "RESCHEDULE", "REJECT"))


class RouteStream:
    name = "route_stream"
    unit = "events/s"
    WARM_BATCHES = 2
    DIGEST_FILES = 6
    BYPASSED = ("io.",)

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.batch_events = max(200, int(10000 * ctx.scale))
        self.files: list[tuple[str, gen.Events]] = []  # generated, in order
        self.cursor = 0  # next file to stage
        self.rep = 0

    def _add_files(self, n: int) -> None:
        """Generate the next ``n`` pool files (none when ``n <= 0``)."""
        for i in range(len(self.files), len(self.files) + n):
            table, raw = gen.events(self.ctx.seed, 100 + i, self.batch_events, i * self.batch_events, days=1)
            path = os.path.join(self.ctx.work, "route_pool", f"part-{i:05d}.parquet")
            gen.write(table, path)
            self.files.append((path, raw))

    def generate(self, setups: int) -> dict:
        # the warm-up batches of every set-up; the files of the warm-up and
        # timed drains are generated after the set-ups, once the batch time
        # so far says how many fill each.  File i depends on (seed, i) only.
        self._add_files(max(setups * self.WARM_BATCHES, self.DIGEST_FILES))
        head = self.files[: self.DIGEST_FILES]
        sel = route_verdicts(gen.Events.concat([r for _, r in head]))
        return {
            "digest": gen.digest([p for p, _ in head]),
            "digest_of": f"first {len(head)} files",
            "events_per_op": self.batch_events,
            "verdict_share": {v: round(float(np.mean(sel == v)), 3) for v in ("ACCEPT", "RESCHEDULE", "REJECT")},
        }

    def size_run(self, seconds: float) -> None:
        """Generate enough files to fill ``seconds`` (one file per batch) at
        the median pace of the batches so far in this set-up."""
        n = max(4, min(400, -(-int(seconds * 1000) // max(int(self.pace_ms), 1))))
        self._add_files(self.cursor + n - len(self.files))
        self.run_files = n

    def _stage(self, n: int) -> None:
        self._add_files(self.cursor + n - len(self.files))
        for path, raw in self.files[self.cursor : self.cursor + n]:
            os.link(path, os.path.join(self.src, os.path.basename(path)))
            self.staged.append(raw)
        self.cursor += n

    def _start(self, spark):
        from pulsar_message_filter_spark.streaming import filtered_sink_pipeline

        stream = (
            spark.readStream.schema(self.schema).option("maxFilesPerTrigger", 1).parquet(self.src)
        )
        with self.ctx.tracer.span("streaming.pipeline"):
            writer = filtered_sink_pipeline(stream, self.accept, self.out, self.ckpt, reschedule=self.resched)
        return writer.trigger(availableNow=True).start()

    def prepare(self, spark) -> None:
        from pulsar_message_filter_spark.selector import Selector

        with self.ctx.tracer.span("selector"):
            self.accept = Selector(ROUTE_ACCEPT)
            self.resched = Selector(ROUTE_RESCHEDULE)
        # each set-up gets a fresh source, checkpoint and sink
        base = os.path.join(self.ctx.work, f"route_rep{self.rep}")
        self.rep += 1
        self.src = os.path.join(base, "sf", "events.parquet")
        self.ckpt, self.out = os.path.join(base, "ckpt"), os.path.join(base, "out")
        os.makedirs(self.src)
        self.staged: list[gen.Events] = []
        self.schema = spark.read.parquet(self.files[0][0]).schema
        self._stage(self.WARM_BATCHES)
        q = self._start(spark)
        q.awaitTermination()
        self.pace_ms = statistics.median(p.batchDuration for p in q.recentProgress)

    def run(self, spark, seconds: float, prefix: str) -> list[Op]:
        """One availableNow drain of the files ``size_run`` made, one file
        per batch; the next batch starts when the previous one commits.
        Ops are keyed by batch id, which is unique in the checkpoint, so
        ``prefix`` is not needed."""
        self._stage(self.run_files)
        q = self._start(spark)
        q.awaitTermination()
        self.run_id = str(q.runId)
        self.progress = [json.loads(p.json) for p in q.recentProgress if p.numInputRows > 0]
        self.pace_ms = statistics.median(p["batchDuration"] for p in self.progress)
        if self.ctx.tracer.enabled:
            self._progress_spans()
        return [
            Op(f"batch{p['batchId']}", p["batchDuration"] / 1000.0, p["numInputRows"])
            for p in self.progress
        ]

    def _progress_spans(self) -> None:
        """One span per timed batch, with its ``durationMs`` phases laid
        end to end as children (Spark reports their lengths, not offsets)."""
        from datetime import datetime

        tracer = self.ctx.tracer
        offset = time.perf_counter() - time.time()
        for p in self.progress:
            tracer.op = f"batch{p['batchId']}"
            start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp() + offset
            parent = tracer.add("streaming.pipeline.batch", start, start + p["batchDuration"] / 1000.0, None)
            t = start
            for phase, ms in p["durationMs"].items():
                if phase != "triggerExecution":
                    tracer.add(f"streaming.pipeline.{phase}", t, t + ms / 1000.0, parent)
                    t += ms / 1000.0
        tracer.op = None

    def events_per_op(self) -> int:
        return self.batch_events

    def check(self, spark) -> tuple[set[str], dict]:
        """Sink rows per epoch against the numpy verdicts of the one file
        that epoch read; every staged file read by exactly one committed
        epoch, rows out equal to rows in."""
        import pyarrow.dataset as ds

        table = ds.dataset(self.out, format="parquet", partitioning="hive").to_table(
            columns=["event_id", "epoch_id", "verdict"]
        )
        eid = table["event_id"].to_numpy()
        epoch = table["epoch_id"].to_numpy()
        verdict = table["verdict"].to_numpy(zero_copy_only=False).astype(str)
        committed = sorted(int(f) for f in os.listdir(os.path.join(self.ckpt, "commits")) if f.isdigit())
        by_first_id = {int(raw.event_id[0]): raw for raw in self.staged}
        failed: set[str] = set()
        seen: set[int] = set()
        for e in sorted(set(epoch.tolist()) | set(committed)):
            m = epoch == e
            ids = eid[m]
            first = int(ids.min()) if ids.size else -1
            raw = by_first_id.get(first)
            ok = e in committed and raw is not None and first not in seen
            if ok:
                seen.add(first)
                order = np.argsort(ids)
                want = route_verdicts(raw)
                if self.ctx.corrupt and e == committed[-1]:
                    want = want.copy()
                    want[0] = "RESCHEDULE" if want[0] != "RESCHEDULE" else "ACCEPT"
                ok = np.array_equal(ids[order], raw.event_id) and np.array_equal(verdict[m][order], want)
            if not ok:
                failed.add(f"batch{e}")
        detail = {
            "epochs_committed": len(committed),
            "epochs_in_sink": len(set(epoch.tolist())),
            "rows_in": int(sum(len(r) for r in self.staged)),
            "rows_out": int(len(eid)),
            "files_unread": len(by_first_id) - len(seen),
        }
        if (
            detail["files_unread"]
            or detail["rows_in"] != detail["rows_out"]
            or committed != list(range(len(committed)))
        ):
            failed.add("files")
        return failed, detail

    def probe(self, spark) -> dict:
        from pulsar_message_filter_spark.selector import Selector
        from pulsar_message_filter_spark.streaming.pipeline import route_batch

        batch = spark.read.parquet(self.files[0][0])
        acc, res = Selector(ROUTE_ACCEPT), Selector(ROUTE_RESCHEDULE)
        return {
            "selector.compile_us": _compile_us([ROUTE_ACCEPT, ROUTE_RESCHEDULE]),
            "selector.json_parses_per_row": tr.json_parses(tr.executed_plan(route_batch(batch, acc, res))),
            "filtering.plan_ms": _p50_us(lambda: route_batch(batch, acc, res), 20) / 1000.0,
            **_stream_figures(self.progress, self.ckpt, self.out),
        }

    def op_of_job(self, desc: str) -> str | None:
        """The timed op a traced job belongs to: its micro-batch."""
        return tr.stream_batch(desc, self.run_id)


# ---------------------------------------------------------------------------
# fanout_batch: N subscriptions over one table, each view to the noop sink
# ---------------------------------------------------------------------------

FANOUT_SUBS = {
    "k_low": "props.k < 10",
    "k_high": "props.k >= 10",
    "gold": "props.tier = 'gold'",
    "mid_tier_low_k": "props.tier IN ('silver', 'gold') AND props.k < 50",
    "eu_us": "props.region = 'eu' OR props.region = 'us'",
    "fresh_non_view": "props.retry < 3 AND event_type <> 'view'",
    "score_high": "props.score > 0.3",
    "score_band": "props.score BETWEEN 0.2 AND 0.5 AND props.region <> 'apac'",
}


def fanout_reference(ev: gen.Events) -> dict[str, int]:
    """Per-subscription match counts, evaluated with numpy."""
    tier, k, region, score = ev.tier, ev.k, ev.region, ev.score
    masks = {
        "k_low": k < 10,
        "k_high": k >= 10,
        "gold": tier == 2,
        "mid_tier_low_k": np.isin(tier, [1, 2]) & (k < 50),
        "eu_us": np.isin(region, [0, 1]),
        "fresh_non_view": (ev.retry < 3) & (ev.event_type != "view"),
        "score_high": score > 0.3,
        "score_band": (score >= 0.2) & (score <= 0.5) & (region != 2),
    }
    return {name: int(m.sum()) for name, m in masks.items()}


class FanoutBatch:
    name = "fanout_batch"
    unit = "events/s"
    FILES = 4
    WARM_OPS = 2
    BYPASSED = ("streaming.",)

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.file_events = max(100, int(2000 * ctx.scale))
        self.sf = os.path.join(ctx.work, "fanout_sf")

    def generate(self, setups: int) -> dict:
        paths, raws = [], []
        for i in range(self.FILES):
            table, raw = gen.events(self.ctx.seed, 200 + i, self.file_events, i * self.file_events)
            path = os.path.join(self.sf, "events.parquet", f"part-{i:05d}.parquet")
            gen.write(table, path)
            paths.append(path)
            raws.append(raw)
        self.raw = gen.Events.concat(raws)
        self.expected = fanout_reference(self.raw)
        n = len(self.raw)
        return {
            "digest": gen.digest(paths),
            "digest_of": f"all {len(paths)} files",
            "events_per_op": n,
            "files": self.FILES,
            "subscriptions": len(FANOUT_SUBS),
            "selectivity": {s: round(c / n, 3) for s, c in self.expected.items()},
        }

    def events_per_op(self) -> int:
        return len(self.raw)

    def op(self, spark):
        """Compile the N selectors, build the views, write each to noop."""
        from pulsar_message_filter_spark.filtering import subscription_views
        from pulsar_message_filter_spark.io import load
        from pulsar_message_filter_spark.selector import Selector

        tracer = self.ctx.tracer
        with tracer.span("selector"):
            subs = {name: Selector(text) for name, text in FANOUT_SUBS.items()}
        with tracer.span("io"):
            events = load(spark, "events", self.sf)
        with tracer.span("filtering"):
            views = subscription_views(events, subs)
        for view in views.values():
            with tracer.span("sink.noop"):
                view.write.format("noop").mode("overwrite").save()
        return views

    def prepare(self, spark) -> None:
        for _ in range(self.WARM_OPS):
            self.op(spark)

    def run(self, spark, seconds: float, prefix: str) -> list[Op]:
        ops = []
        sc = spark.sparkContext
        t_end = time.perf_counter() + seconds
        while time.perf_counter() < t_end:
            key = f"{prefix}{len(ops)}"
            self.ctx.tracer.op = key
            if self.ctx.tracer.enabled:
                sc.setJobDescription(key)
            t0 = time.perf_counter()
            with self.ctx.tracer.span("op"):
                self.last_views = self.op(spark)
            ops.append(Op(key, time.perf_counter() - t0, len(self.raw)))
        sc.setJobDescription(None)
        self.ctx.tracer.op = None
        return ops

    def check(self, spark) -> tuple[set[str], dict]:
        from pulsar_message_filter_spark.filtering import subscription_views
        from pulsar_message_filter_spark.io import load

        views = subscription_views(load(spark, "events", self.sf), FANOUT_SUBS)
        got = {name: v.count() for name, v in views.items()}
        want = dict(self.expected)
        if self.ctx.corrupt:
            want["gold"] += 1
        bad = sorted(n for n in want if got[n] != want[n])
        return ({"all"} if bad else set()), {"counts": got, "mismatched": bad}

    def probe(self, spark) -> dict:
        from pulsar_message_filter_spark.filtering import subscription_views
        from pulsar_message_filter_spark.io import invalidate_load_memo, load
        from pulsar_message_filter_spark.selector import Selector

        invalidate_load_memo(spark)
        t0 = time.perf_counter()
        events = load(spark, "events", self.sf)
        first_ms = (time.perf_counter() - t0) * 1000.0
        subs = {name: Selector(text) for name, text in FANOUT_SUBS.items()}
        return {
            "io.load_first_ms": first_ms,
            "io.load_memo_ms": _p50_us(lambda: load(spark, "events", self.sf), 50) / 1000.0,
            "selector.compile_us": _compile_us(FANOUT_SUBS.values()),
            # summed over the views of one op
            "selector.json_parses_per_row": sum(
                tr.json_parses(tr.executed_plan(v)) for v in self.last_views.values()
            ),
            "filtering.plan_ms": _p50_us(lambda: subscription_views(events, subs), 20) / 1000.0,
        }

    def op_of_job(self, desc: str) -> str | None:
        """The timed op a traced job belongs to (its job description)."""
        return desc if desc.startswith("op") else None


WORKLOADS = {w.name: w for w in (RouteStream, FanoutBatch)}
