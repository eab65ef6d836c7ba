#!/usr/bin/env python3
"""Benchmark of the spark-graft engine: one workload per process.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root.  The run generates its inputs from
``--seed`` and sets the engine up: registry import, session, store wipe
and a warm-up that makes the first call of every operation, all at
once, and checks every output.  Then it issues operations in a closed
loop with one client (each starts when the previous one returned) for
``--seconds`` seconds and at least one pass over the workload.  Two
more set-ups follow: each rebuilds the session, wipes the stores and
repeats the first call of every operation that publishes a persisted
store.  ``setup_s`` is the median of the three set-ups.  The last line of
standard output is one JSON object with the metrics: the end-to-end
metrics with ``--trace 0``, the per-layer ledger with ``--trace 1``.
Everything the run writes lands under ``.perfbench_work/``.
See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import tempfile
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
SETUPS = 3
MIN_PASSES = 1
STORE_ROOTS = {  # module constant -> directory under WORK/stores
    "HNSW_INDEX_CACHE": "hnsw",
    "PQ_INDEX_CACHE": "pq",
    "MAXSIM_INDEX_CACHE": "maxsim",
}


def _hygiene() -> None:
    """Process settings made before Spark starts: every scratch path
    inside the checkout, a fixed SPARK_LOCAL_DIRS, workers that import
    the engine from this checkout."""
    if os.path.isdir(WORK):
        shutil.rmtree(WORK)
    for d in ("tmp", "spark-local", "stores"):
        os.makedirs(os.path.join(WORK, d))
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    sys.path[:0] = [ROOT, HERE]


def _redirect_stores() -> None:
    """Point the engine's persisted index stores into the work dir."""
    for mod in list(sys.modules.values()):
        if not getattr(mod, "__name__", "").startswith("flink_pipeline_spark"):
            continue
        for const, sub in STORE_ROOTS.items():
            if isinstance(getattr(mod, const, None), str):
                setattr(mod, const, os.path.join(WORK, "stores", sub))


def _store_entries() -> set[str]:
    """The published stores, as ``<store root>/<entry>``: an entry is one
    published directory, named from its inputs, so the same call
    publishes the same entry again."""
    root = os.path.join(WORK, "stores")
    if not os.path.isdir(root):
        return set()
    return {os.path.join(sub, e) for sub in os.listdir(root)
            for e in os.listdir(os.path.join(root, sub))}


def _session(cpus: int, trace: bool):
    from flink_pipeline_spark.session import EngineConf, get_session

    tmp = os.path.join(WORK, "tmp")
    extra = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100",
    }
    if trace:
        extra |= {"spark.ui.port": "0", "spark.driver.host": "localhost",
                  "spark.driver.bindAddress": "127.0.0.1"}
    return get_session(
        EngineConf(
            app_name="perfbench",
            master=f"local[{cpus}]",
            shuffle_partitions=cpus,
            driver_memory="4g",
            ui_enabled=trace,
            extra=extra,
        )
    )


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _run_op(op, spark, ledger=None) -> tuple[float, bool]:
    """Issue one operation; (latency, output ok)."""
    t0 = time.perf_counter()
    if ledger is None:
        ok = op.act(op.build(spark))
    else:
        with ledger.span(op.name):
            with ledger.phase("build"):
                built = op.build(spark)
            with ledger.phase("action"):
                ok = op.act(built)
    return time.perf_counter() - t0, ok


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[1])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    _hygiene()
    try:
        t_imp = time.perf_counter()
        from flink_pipeline_spark.plans import registry

        registry._load_all()
        import_s = time.perf_counter() - t_imp
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; known: "
              f"{workloads.WORKLOADS}", file=sys.stderr)
        return 2
    _redirect_stores()
    trace = bool(args.trace)
    cpus = len(os.sched_getaffinity(0))

    t_gen = time.perf_counter()
    ops, inputs = workloads.make_ops(args.workload, args.seed, WORK)
    gen_s = time.perf_counter() - t_gen

    from pyspark import SparkContext

    ledger = None
    if trace:
        import ledger as ledger_mod

        ledger = ledger_mod.Ledger()
    attempted = failed = 0
    setups, session_s, setup_publish = [], [], []
    mismatched: set[str] = set()
    store_ops = []  # the operations whose first call publishes a persisted store
    latencies: dict[str, list[float]] = {op.name: [] for op in ops}
    pass_times, layer_rows, out_bytes = [], [], []
    spark = None

    def first_call(op) -> tuple[bool, float]:
        """Call ``op`` with its output check; (output ok, seconds).  Safe
        on any thread: it only reads the run's state."""
        t0 = time.perf_counter()
        try:
            ok = op.check(spark)
        except Exception as e:  # an op that raises is counted, the run goes on
            print(f"perfbench: {op.name} raised {e!r}"[:500], file=sys.stderr)
            ok = False
        return ok, time.perf_counter() - t0

    def tally(op, ok: bool) -> None:
        nonlocal attempted, failed
        attempted += 1
        if not ok:
            failed += 1
            mismatched.add(op.name)

    def check(op) -> None:
        tally(op, first_call(op)[0])

    def run_pass() -> None:
        nonlocal attempted, failed
        t_p = time.perf_counter()
        with ledger.pass_() if ledger is not None else nullcontext() as rec:
            for op in ops:
                attempted += 1
                try:
                    lat, ok = _run_op(op, spark, ledger)
                    failed += not ok
                    latencies[op.name].append(lat)
                except Exception as e:
                    print(f"perfbench: {op.name} raised {e!r}"[:500], file=sys.stderr)
                    failed += 1
        pass_times.append(time.perf_counter() - t_p)
        for op in ops:
            if hasattr(op, "output_bytes"):
                out_bytes.append(op.output_bytes())
            getattr(op, "cleanup", lambda: None)()
        if ledger is not None:
            layer_rows.append(ledger.pass_metrics(rec, *ledger.spark_status()))

    def warm_up() -> None:
        """The first call of every operation, each checking its output,
        all at once on threads of their own: they are independent, and a
        cold JVM leaves cores idle between their jobs.  Then find the
        operations whose first call publishes a store."""
        with ThreadPoolExecutor(len(ops)) as pool:
            firsts = list(pool.map(first_call, ops))
        for op, (ok, _) in zip(ops, firsts):
            tally(op, ok)
        cold_s = {op.name: secs for op, (_, secs) in zip(ops, firsts)}
        published = _store_entries()
        if not published:
            return
        # Calls that ran at once cannot say which published what: wipe
        # the stores and repeat the first calls one at a time, cheapest
        # first, until every store is back.
        shutil.rmtree(os.path.join(WORK, "stores"))
        for op in sorted(ops, key=lambda o: cold_s[o.name]):
            if published <= _store_entries():
                break
            before = _store_entries()
            check(op)
            if _store_entries() != before:
                store_ops.append(op)

    def set_up(first: bool) -> None:
        """The first set-up warms up (``warm_up``).  A later set-up
        repeats only the work found to belong to set-up: session build
        and the first call of each operation that publishes a store."""
        nonlocal spark
        t0 = time.perf_counter()
        if spark is not None:
            spark.stop()
        t_s = time.perf_counter()
        spark = _session(cpus, trace)
        session_s.append(time.perf_counter() - t_s)
        if ledger is not None:
            ledger.bind(spark)
            if first:
                ledger.instrument()
            n_pub = ledger.calls("streaming.publish_store")
        shutil.rmtree(os.path.join(WORK, "stores"), ignore_errors=True)
        if first:
            warm_up()
        else:
            for op in store_ops:
                check(op)
        setups.append(time.perf_counter() - t0 + (import_s if first else 0.0))
        if ledger is not None:
            setup_publish.append(ledger.calls("streaming.publish_store") - n_pub)

    set_up(first=True)
    t_end = time.perf_counter() + args.seconds
    while len(pass_times) < MIN_PASSES or time.perf_counter() < t_end:
        run_pass()
    for _ in range(SETUPS - 1):  # after the timed passes, which they would cool
        set_up(first=False)

    rss_kb = _vm_hwm_kb("self") + _vm_hwm_kb(SparkContext._gateway.proc.pid)
    _shutdown(spark)

    medians = {n: statistics.median(v) for n, v in latencies.items() if v}
    e2e = {
        "setup_s": (statistics.median(setups), "s"),
        "pass_s": (statistics.median(pass_times), "s"),
        "query_geomean_s": (
            math.exp(statistics.fmean(math.log(v) for v in medians.values()))
            if medians else 0.0, "s"),
    }
    jobs_attributed = None
    if ledger is not None:
        layer = {k: statistics.median(r[k] for r in layer_rows) for k in layer_rows[0]}
        layer["session.get_session_s"] = statistics.median(session_s)
        layer["streaming.publish_store_setup_calls"] = statistics.median(setup_publish)
        layer["pipeline.output_bytes"] = statistics.median(out_bytes) if out_bytes else 0
        layer["trace.pass_s"] = e2e["pass_s"][0]
        layer["mem.peak_rss_mb"] = rss_kb / 1024.0
        # every job the status store lists for a pass falls in one phase
        jobs_attributed = all(
            r["plans.build_jobs"] + r["exec.jobs"] == r["trace.pass_jobs"] for r in layer_rows)
        metrics = {k: {"value": v, "unit": workloads.layer_unit(k)}
                   for k, v in sorted(layer.items()) if k in workloads.PER_LAYER}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}

    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "inputs": inputs, "input_gen_s": gen_s, "setups_s": setups,
        "store_ops": [op.name for op in store_ops],
        "passes": len(pass_times), "pass_times_s": pass_times,
        "op_median_s": medians, "jobs_attributed": jobs_attributed,
        "mismatched": sorted(mismatched), "failed_frac": failed / max(attempted, 1),
        "peak_rss_mb": rss_kb / 1024.0,
    }))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": metrics,
    }))
    return 0


def _shutdown(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)
    to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


if __name__ == "__main__":
    sys.exit(main())
