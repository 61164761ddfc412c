"""Seeded benchmark of the PySpark MapReduce engine.

    python3 perfbench/run.py --workload taxi_csv_batch --seed 1 --seconds 12 --trace 0

Workloads (see ``workloads.py``): ``taxi_csv_batch``, ``neardup_docs``,
``taxi_serving``.  One run:

1. builds (or reuses, from ``.perfbench_cache/``) the seeded inputs and
   their expected answers in a child process (``inputs.py``);
2. sets the engine up ``SETUPS`` times: ``session.get_spark`` plus a
   fixed warm-up that starts the JVM's codegen and the Python/Arrow
   worker pool.  The first set-up boots the JVM; each later one stops
   the session and builds a new SparkContext (and worker pool) in the
   same JVM.  ``setup_s`` is the median, so it tracks the engine's own
   set-up work rather than JVM boot; the last session is kept;
3. prepares the workload, untimed: builds what its ops read and runs
   its plans once, checked, so their code is compiled before timing;
4. runs ops for ``--seconds``: one after another on the batch workloads
   (releasing cached data between ops), from one closed-loop client
   thread per core on ``taxi_serving``.  Every op's result is checked;
   an op that raises, exceeds ``OP_TIMEOUT_S`` or returns a wrong result
   counts as failed;
5. with ``--trace 1``, runs a window twice as long in which every
   other op has spans and Spark's per-job-group counters on, then the
   decomposition actions, and reports the per-layer metrics instead of
   the end-to-end ones.

Stdout ends with a detail line (inputs, sample counts, provenance) and
then the result line ``{"correct", "attempted", "failed", "metrics"}``.
The exit code is 0 only when every op was correct.  Metric names, units
and directions are those of ``BENCHMARK.json``; a metric of a layer the
workload does not touch reads 0.

The detail line also carries ``op_s_p90`` with the number of ops beyond
it (at least ten only on ``taxi_serving``), ``ops_per_s`` and, on
``taxi_serving``, the latency of the write requests (``write_s_p50``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".perfbench_cache")

#: set-ups per run; ``setup_s`` is their median
SETUPS = 3
#: an op slower than this counts as failed
OP_TIMEOUT_S = 60.0
#: after this long the run cancels all Spark jobs and stops starting ops,
#: so it ends within the 180 s a run may take
RUN_BUDGET_S = 150.0
#: the engine's driver heap: small, because the inputs are
DRIVER_MEM = "2g"
#: jobs and stages Spark's status store keeps
STATUS_RETAINED = 100_000


def _isolate_env() -> None:
    """Keep every file the run writes inside the checkout, start Python
    workers with this interpreter and the engine on their path, and run
    the engine with its defaults."""
    tmp = os.path.join(CACHE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(CACHE, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # The status store must still hold every job and stage of the traced
    # window when its counters are read after the window; its default
    # retention (1000) would evict the oldest, skipped stages first.
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {k}={v}" for k, v in (
            ("spark.ui.showConsoleProgress", "false"),
            ("spark.ui.retainedJobs", STATUS_RETAINED),
            ("spark.ui.retainedStages", STATUS_RETAINED),
        )
    ) + " pyspark-shell"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    for knob in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_SHUFFLE"):
        os.environ.pop(knob, None)


def warm_up(spark, cpus: int) -> None:
    """A shuffle aggregation (JVM codegen, scheduler) and an Arrow
    ``mapInPandas`` over one partition per core (Python worker pool)."""
    from pyspark.sql import functions as F

    def identity(batches):  # nested, so workers unpickle it by value
        yield from batches

    spark.range(0, 100_000, numPartitions=cpus).groupBy(
        (F.col("id") % 7).alias("k")
    ).agg(F.sum("id")).collect()
    spark.range(0, cpus, numPartitions=cpus).mapInPandas(identity, "id long").collect()


def shutdown(spark) -> None:
    """Stop the session and its JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def _p90(xs) -> float:
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=10, method="inclusive")[8]


def run_op(wl, spark, tr, op_id: str, client: int) -> dict:
    t0 = time.perf_counter()
    try:
        ok, records, kind = wl.op(spark, tr, op_id, client)
    except Exception:  # an op that raises is a failed op; the run goes on
        traceback.print_exc()
        ok, records, kind = False, 0, "error"
    t1 = time.perf_counter()
    if not ok:
        print(f"perfbench: op {op_id} ({kind}) failed", file=sys.stderr)
    ok = ok and t1 - t0 <= OP_TIMEOUT_S
    return {"op": op_id, "ok": ok, "latency": t1 - t0, "records": records if ok else 0,
            "kind": kind, "end": t1}


def run_window(wl, spark, tracers, seconds: float, stop: threading.Event) -> tuple[list, float]:
    """Run ops for ``seconds``, each client cycling through ``tracers``
    op by op; returns the ops and the window's wall time (start to the
    end of the last op)."""
    from sparkstats import release_cached

    results: list[dict] = []
    errors: list[BaseException] = []
    lock = threading.Lock()
    t0 = time.perf_counter()
    deadline = t0 + seconds

    def client_loop(c: int) -> None:
        i = 0
        try:
            while time.perf_counter() < deadline and not stop.is_set():
                tr = tracers[i % len(tracers)]
                r = run_op(wl, spark, tr, f"{c}-{i}", c)
                r["traced"] = tr.enabled
                with lock:
                    results.append(r)
                i += 1
                if wl.clients == 1:
                    release_cached(spark)
        except BaseException as e:  # re-raised by the main thread below
            errors.append(e)
            raise

    if wl.clients == 1:
        client_loop(0)
    else:
        threads = [threading.Thread(target=client_loop, args=(c,)) for c in range(wl.clients)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        if errors:
            raise errors[0]
    wall = max((r["end"] for r in results), default=time.perf_counter()) - t0
    return results, wall


def _provenance(spark, seed: int, cpus: int, load: float) -> dict:
    import pyspark

    try:
        sha = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10
        ).stdout.strip() or None
    except OSError:
        sha = None
    return {
        "seed": seed,
        "nproc": cpus,
        "loadavg_1m_at_start": load,
        "pyspark": pyspark.__version__,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "python": sys.version.split()[0],
        "git_sha": sha,
    }


def _metric_specs() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {
        "end_to_end": {m["name"]: m["unit"] for m in spec["end_to_end"]},
        "per_layer": {m["name"]: m["unit"] for m in spec["per_layer"]},
    }


def _layer_metrics(wl, spark, tr, ops: list, cpus: int) -> dict:
    """Per-layer metrics of the traced ops plus the workload's
    decomposition actions.  Traced and untraced ops alternate in one
    window, so their latency difference is the tracing overhead rather
    than how far the JVM had warmed up."""
    from sparkstats import COUNTER_NAMES

    traced = [r for r in ops if r["traced"]]
    p50 = _median([r["latency"] for r in traced])
    untraced_p50 = _median([r["latency"] for r in ops if not r["traced"]])
    out = {"trace.op_s_p50": p50, "trace.overhead_s": p50 - untraced_p50}
    out.update(wl.decompose(spark, tr, p50))
    tr.drain()
    per_op = [tr.op_counters(r["op"]) for r in traced]
    for name in COUNTER_NAMES:
        out[name] = _median([c[name] for c in per_op])
    out["spark.core_util"] = _median(
        [c["spark.executor_run_s"] / (r["latency"] * cpus) for c, r in zip(per_op, traced)]
    )
    out["queries.build_s_p50"] = _median(tr.durations("queries.build"))
    out["queries.exec_s_p50"] = _median(tr.durations("queries.exec"))
    out["sources.sinks.merge_s_p50"] = _median(tr.durations("sources.sinks.merge_upsert_partitioned"))
    out["operators.graph.cc_jobs"] = _median([
        c.get("jobs:operators.graph.canonicalize_clusters", 0.0) + c.get("jobs:queries.exec", 0.0)
        for c in per_op
    ]) if wl.name == "neardup_docs" else 0.0
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", type=float, default=12.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_start = time.perf_counter()

    sys.path.insert(0, ROOT)
    try:
        from durablefunctions_mapreduce_dotnet_spark.session import get_spark
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    from sparkstats import Tracer, peak_rss_mb, release_cached
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    specs = _metric_specs()
    _isolate_env()
    load = os.getloadavg()[0]
    cpus = len(os.sched_getaffinity(0))

    # Inputs are built by a child process while the first set-up boots
    # the JVM; that set-up is never the median, so the overlap does not
    # reach setup_s.
    gen = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "inputs.py"), "--workload", args.workload,
         "--seed", str(args.seed)],
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
    )
    starts, warms = [], []
    spark = None
    try:
        for k in range(SETUPS):
            t0 = time.perf_counter()
            spark = get_spark(f"perfbench-{args.workload}", cpus=cpus)
            t1 = time.perf_counter()
            warm_up(spark, cpus)
            t2 = time.perf_counter()
            starts.append(t1 - t0)
            warms.append(t2 - t1)
            spark.sparkContext.setLogLevel("ERROR")
            if k == 0:
                out, err = gen.communicate(timeout=170)
            if k < SETUPS - 1:
                spark.stop()
    except BaseException:
        gen.kill()
        gen.wait()
        if spark is not None:
            shutdown(spark)
        raise
    if gen.returncode != 0:
        print(err, file=sys.stderr)
        print("perfbench: input generation failed", file=sys.stderr)
        shutdown(spark)
        return 2
    paths = json.loads(out.strip().splitlines()[-1])
    work_dir = os.path.join(CACHE, f"run-{os.getpid()}")
    wl = WORKLOADS[args.workload](paths, args.seed, work_dir)

    from pyspark import SparkContext

    jvm_pid = SparkContext._gateway.proc.pid
    stop = threading.Event()

    def expire() -> None:
        stop.set()
        spark.sparkContext.cancelAllJobs()

    watchdog = threading.Timer(max(1.0, RUN_BUDGET_S - (time.perf_counter() - t_start)), expire)
    watchdog.daemon = True
    watchdog.start()
    try:
        off = Tracer(spark, enabled=False)
        t0 = time.perf_counter()
        try:
            ok = wl.prepare(spark, off)
        except Exception:  # a failed preparation is a failed op
            traceback.print_exc()
            ok = False
        prep = {"op": "prepare", "ok": ok, "latency": time.perf_counter() - t0, "kind": "prepare"}
        release_cached(spark)
        layers = None
        if args.trace:
            tr = Tracer(spark, enabled=True)
            timed, wall = run_window(wl, spark, [off, tr], 2 * args.seconds, stop)
            if stop.is_set():
                raise RuntimeError(f"perfbench: run exceeded {RUN_BUDGET_S} s")
            layers = _layer_metrics(wl, spark, tr, timed, cpus)
            tr.dump(os.path.join(CACHE, "traces", f"{args.workload}-s{args.seed}.json"))
        else:
            timed, wall = run_window(wl, spark, [off], args.seconds, stop)
        attempted = [prep] + timed
        release_cached(spark)
        rss = peak_rss_mb([os.getpid(), jvm_pid])
        provenance = _provenance(spark, args.seed, cpus, load)
    finally:
        watchdog.cancel()
        shutdown(spark)
        shutil.rmtree(work_dir, ignore_errors=True)

    lat = [r["latency"] for r in timed]
    problems = list(getattr(wl, "problems", []))
    failed = sum(not r["ok"] for r in attempted)
    setup = [s + w for s, w in zip(starts, warms)]
    if layers is None:
        values = {
            "setup_s": _median(setup),
            "op_s_p50": _median(lat),
            # records per second of op time at the median op, times the
            # clients running ops side by side
            "records_per_s": wl.clients * _median([r["records"] / r["latency"] for r in timed]),
        }
        wanted = specs["end_to_end"]
    else:
        values = {"session.start_s": _median(starts), "session.warmup_s": _median(warms),
                  "peak_rss_mb": rss, **layers}
        wanted = specs["per_layer"]
    p90 = _p90(lat)
    detail = {
        "workload": args.workload,
        "inputs": wl.sizes,
        "ops_timed": len(timed),
        "op_s_p90": p90,
        "ops_beyond_p90": sum(x > p90 for x in lat),
        "ops_per_s": len(timed) / wall if wall > 0 else 0.0,
        "peak_rss_mb": rss,
        "write_s_p50": _median([r["latency"] for r in timed if r["kind"] == "write"]),
        "writes_timed": sum(r["kind"] == "write" for r in timed),
        "failed_frac": failed / len(attempted),
        "setup_s_each": setup,
        "oracle_problems": problems[:20],
        "provenance": provenance,
    }
    print(json.dumps({"perfbench_detail": detail}))
    correct = failed == 0 and not problems
    print(json.dumps({
        "correct": correct,
        "attempted": len(attempted),
        "failed": failed,
        "metrics": {n: {"value": float(values.get(n, 0.0)), "unit": u} for n, u in wanted.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
