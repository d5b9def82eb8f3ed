"""Benchmark of the message-filter engine: streaming routing and fan-out.

Run from the root of a checkout of the repository::

    python3 perfbench/run.py --workload route_stream --seed 1 --seconds 30 --trace 0

Workloads (see ``perfbench/README.md``): ``route_stream`` and
``fanout_batch``.  One process runs one Spark session at a time, at
``local[2]``; the loop is closed.  The inputs are generated from ``--seed`` into
``perfbench/.work/`` and removed at exit.

With ``--trace 0`` it prints the end-to-end metrics; with ``--trace 1`` an
untraced half-run and a traced half-run give the per-layer metrics and the
tracing overhead.  Either way the last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; a full record (and, when
traced, the spans) goes to ``perfbench/results/``.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import math
import os
import shutil
import statistics
import sys
import tempfile
import time

import spans as tr
import workloads as wl

HERE = os.path.dirname(os.path.abspath(__file__))
PKG = "pulsar_message_filter_spark"
CORES = 2
SHUFFLE_PARTITIONS = 4
SETUPS = 3  # set-ups per run; setup_s is their median
# untimed ops between the set-ups and the timed loop, past the steepest part
# of the fall in op latency that follows a JVM launch
WARM_S = 5.0


def tail(lat_ms: list[float]) -> tuple[float, int]:
    """The highest whole percentile with at least 10 samples above it
    (nearest rank), and that percentile.  Below 20 samples that percentile
    would sit under the median, so the maximum is given instead."""
    xs = sorted(lat_ms)
    n = len(xs)
    if n < 20:
        return xs[-1], 100
    q = (100 * (n - 10)) // n
    while q > 0 and n - math.ceil(q * n / 100) < 10:
        q -= 1
    return xs[max(math.ceil(q * n / 100) - 1, 0)], q


def start_session(work: str, event_log: str | None = None):
    from pulsar_message_filter_spark.session import get_spark

    confs = {
        "spark.local.dir": os.path.join(work, "local"),
        # C1 only: with C2 on, two processes in a row on an idle host ran
        # the same fan-out at 506 and 632 ms p50, as each settled on its own
        # compiled code; with C1 only, three runs read 795-809 ms.  A fixed
        # heap and capped GC threads keep GC off the task threads' cores.
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
        " -XX:TieredStopAtLevel=1 -Xms2g -XX:ParallelGCThreads=2 -XX:ConcGCThreads=1",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        confs.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": f"file://{event_log}",
            }
        )
    return get_spark(
        "perfbench", master=f"local[{CORES}]", shuffle_partitions=SHUFFLE_PARTITIONS, extra_confs=confs
    )


def stop_jvm(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def setup(W, tracer):
    """One set-up: a fresh import of the package, a new session through
    ``get_spark()`` and the workload's preparation (selector compile, stream
    start, warm-up ops).  Only the first set-up of a process also launches
    the JVM.  Returns (session, set-up s, import + session s)."""
    for mod in [m for m in sys.modules if m == PKG or m.startswith(PKG + ".")]:
        del sys.modules[mod]
    t0 = time.perf_counter()
    with tracer.span("setup"):
        with tracer.span("session"):
            importlib.import_module(PKG)
            spark = start_session(W.ctx.work, W.ctx.event_log if tracer.enabled else None)
        session_s = time.perf_counter() - t0
        W.prepare(spark)
    return spark, time.perf_counter() - t0, session_s


def jvm_counters(spark) -> tuple[float, float]:
    """(GC time, process CPU time) of the JVM so far, in seconds."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    gc_ms = sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())
    cpu_ns = spark._jvm.java.lang.ProcessHandle.current().info().totalCpuDuration().get().toNanos()
    return gc_ms / 1000.0, cpu_ns / 1e9


def failures(ops, failed_keys: set[str]) -> int:
    """Ops whose output failed its check.  A failing key that names no
    timed op (a warm-up epoch, the file accounting) counts as one more."""
    if "all" in failed_keys:
        return max(len(ops), 1)
    keys = {o.key for o in ops}
    return sum(1 for o in ops if o.key in failed_keys) + len(failed_keys - keys)


def phase(W, setups: int, seconds: float, traced: bool, spark) -> tuple:
    """``setups`` set-ups (each a new session), then on the session of the
    last one the untimed warm-up, the timed loop and the check.  Returns
    (session, timed ops, record)."""
    tracer = W.ctx.tracer
    setup_s, session_s = [], []
    for _ in range(setups):
        if spark is not None:
            spark.stop()
        tracer.enabled = traced
        spark, s, t = setup(W, tracer)
        setup_s.append(s)
        session_s.append(t)
    tracer.enabled = False
    if hasattr(W, "size_run"):
        W.size_run(WARM_S)
    W.run(spark, WARM_S, "warm")
    tracer.enabled = traced
    if hasattr(W, "size_run"):
        W.size_run(seconds)
    gc0, cpu0, py0 = *jvm_counters(spark), time.process_time()
    t0 = time.perf_counter()
    ops = W.run(spark, seconds, "op")
    wall = time.perf_counter() - t0
    gc1, cpu1, py1 = *jvm_counters(spark), time.process_time()
    tracer.enabled = False
    failed_keys, check = W.check(spark)
    lat = [o.latency_s * 1000.0 for o in ops]
    t, q = tail(lat)
    rec = {
        "e2e": {
            "setup_s": statistics.median(setup_s),
            "latency_p50_ms": statistics.median(lat),
            "latency_tail_ms": t,
            "throughput_per_s": sum(o.work for o in ops) / wall,
        },
        "tail_pct": q,
        "setup_each_s": setup_s,
        "session_each_s": session_s,
        "latencies_ms": lat,
        "loop_s": wall,
        # where the loop's wall time went: GC pauses and CPU per process
        "loop_jvm_gc_s": gc1 - gc0,
        "loop_jvm_cpu_s": cpu1 - cpu0,
        "loop_py_cpu_s": py1 - py0,
        "attempted": len(ops),
        "failed": failures(ops, failed_keys),
        "failed_keys": sorted(failed_keys),
        "check": check,
    }
    return spark, ops, rec


def layer_metrics(W, spark, ops, untraced: dict, traced: dict) -> tuple[dict, dict]:
    """Per-layer metrics of the traced phase, plus the per-op breakdown."""
    probe = W.probe(spark)
    spark.stop()  # flush the event log
    by_op = tr.op_stats(W.ctx.event_log, W.op_of_job)
    wall = {o.key: o.latency_s * 1000.0 for o in ops}
    rows = [dict(v, op=k, wall_ms=wall[k]) for k, v in by_op.items() if k in wall]
    per_event = W.events_per_op()

    def med(key):
        return tr.p50([r[key] for r in rows])

    m = {
        "session.start_s": untraced["session_each_s"][0],  # the cold one
        **probe,
        "filtering.jobs_per_op": med("jobs"),
        "filtering.scan_rows_per_event": tr.p50([r["scan_rows"] / per_event for r in rows]),
        "spark.stages_per_op": med("stages"),
        "spark.tasks_per_op": med("tasks"),
        # means: both come in whole ms, and their medians can repeat exactly
        "spark.op_wall_ms": statistics.fmean(r["wall_ms"] for r in rows),
        "spark.executor_run_ms": statistics.fmean(r["executor_run_ms"] for r in rows),
        "spark.shuffle_bytes": med("shuffle_bytes"),
        "spark.scan_bytes": med("scan_bytes"),
        "spark.fixed_overhead_share": tr.p50(
            [max(r["wall_ms"] - r["stage_busy_ms"], 0.0) / r["wall_ms"] for r in rows if r["wall_ms"] > 0]
        ),
        "trace.overhead_pct": 100.0 * (traced["e2e"]["latency_p50_ms"] / untraced["e2e"]["latency_p50_ms"] - 1.0),
    }
    return m, {"ops": rows, "self_time_ms": W.ctx.tracer.self_times_ms()}


def bench(args, work: str) -> dict:
    ctx = wl.Ctx(args.seed, args.scale, work, tr.Tracer(False), corrupt=args.corrupt_reference)
    W = wl.WORKLOADS[args.workload](ctx)
    t0 = time.perf_counter()
    inputs = W.generate(SETUPS + args.trace)
    gen_s = time.perf_counter() - t0
    spark = None
    layers = extra = traced = None
    try:
        # with --trace 1 the printed end-to-end figures are the untraced
        # half's; the traced half gives the layer split; both are checked
        seconds = args.seconds / 2 if args.trace else args.seconds
        spark, ops, rec = phase(W, SETUPS, seconds, False, spark)
        if args.trace:
            spark, t_ops, traced = phase(W, 1, seconds, True, spark)
            layers, extra = layer_metrics(W, spark, t_ops, rec, traced)
            spark = None
    finally:
        stop_jvm(spark)
    halves = [rec] + ([traced] if traced else [])
    return {
        "workload": W.name,
        "seed": args.seed,
        "seconds": args.seconds,
        "unit": W.unit,
        "inputs": inputs,
        "input_gen_s": gen_s,
        **rec,
        "traced_half": traced,
        "attempted": sum(h["attempted"] for h in halves),
        "failed": sum(h["failed"] for h in halves),
        "correct": all(h["failed"] == 0 and not h["failed_keys"] for h in halves),
        "layers": layers,
        "trace": extra,
        "spans": ctx.tracer.spans if args.trace else None,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(wl.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", type=float, default=1.0, help="input size factor (smoke test: small)")
    ap.add_argument(
        "--corrupt-reference",
        action="store_true",
        help="perturb the correctness reference; the run must then report failures",
    )
    args = ap.parse_args(argv)

    root = os.getcwd()
    for need in ("BENCHMARK.json", "pulsar_message_filter_spark/__init__.py", "tools/profile_query.py", "tools/check_parity.py"):
        if not os.path.isfile(os.path.join(root, need)):
            print(f"perfbench: {need} not found under {root}; run from the repository root", file=sys.stderr)
            return 2
    sys.path.insert(0, root)
    origin = importlib.util.find_spec("pulsar_message_filter_spark").origin
    if not os.path.abspath(origin).startswith(root + os.sep):
        print(f"perfbench: engine resolves to {origin}, not to {root}", file=sys.stderr)
        return 2
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    # everything the run writes stays under the work dir
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_WAREHOUSE_DIR"] = os.path.join(work, "warehouse")
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    tempfile.tempdir = None  # re-read TMPDIR
    try:
        res = bench(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    name, e = res["workload"], res["e2e"]
    inp = res["inputs"]
    n = len(res["latencies_ms"])
    print(f"{name}: seed {res['seed']}, input digest {inp['digest']} ({inp['digest_of']})")
    for k, v in inp.items():
        if k not in ("digest", "digest_of"):
            print(f"{name}: input {k} = {v}")
    print(f"{name}/setup_s = {e['setup_s']:.4f} s (median of {len(res['setup_each_s'])} set-ups, the first "
          "with the JVM launch: " + ", ".join(f"{s:.3f}" for s in res["setup_each_s"]) + ")")
    print(f"{name}/latency_p50_ms = {e['latency_p50_ms']:.3f} ms ({n} samples)")
    print(f"{name}/latency_tail_ms = {e['latency_tail_ms']:.3f} ms (p{res['tail_pct']} of {n} samples)")
    print(f"{name}/throughput_per_s = {e['throughput_per_s']:.3f} {res['unit']}")
    print(f"{name}: timed loop {res['loop_s']:.2f} s, jvm gc {res['loop_jvm_gc_s']:.3f} s, "
          f"jvm cpu {res['loop_jvm_cpu_s']:.2f} s, python cpu {res['loop_py_cpu_s']:.2f} s")
    print(f"{name}: ops attempted {res['attempted']}, failed {res['failed']}; check {json.dumps(res['check'])}")
    if res["traced_half"] is not None:
        t = res["traced_half"]
        print(f"{name}: traced half ops attempted {t['attempted']}, failed {t['failed']}; check {json.dumps(t['check'])}")

    # names and units come from the contract file; a metric the run did not
    # produce is an error unless the workload bypasses its layer
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)["per_layer" if args.trace else "end_to_end"]
    if args.trace:
        bypassed = wl.WORKLOADS[name].BYPASSED
        values = {}
        for m in spec:
            if m["name"] in res["layers"]:
                values[m["name"]] = res["layers"][m["name"]]
                print(f"{name}/{m['name']} = {values[m['name']]:.6g} {m['unit']}")
            elif m["name"].startswith(bypassed):
                values[m["name"]] = 0.0  # not applicable
                print(f"{name}/{m['name']} = n/a (the workload does not call this layer; reported as 0)")
            else:
                raise KeyError(m["name"])
        print(f"{name}: self time per span (ms) {json.dumps(res['trace']['self_time_ms'])}")
    else:
        values = e

    os.makedirs(os.path.join(HERE, "results"), exist_ok=True)
    stem = os.path.join(HERE, "results", f"{name}-seed{res['seed']}" + ("-trace" if args.trace else ""))
    with open(stem + ".json", "w") as fh:
        json.dump({k: v for k, v in res.items() if k not in ("spans", "trace")}, fh, indent=1, default=str)
    if args.trace:
        with open(stem + ".spans.json", "w") as fh:
            json.dump({"spans": res["spans"], **res["trace"], "layers": values}, fh, indent=1, default=str)

    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec}
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"], "failed": res["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
