"""Benchmark entry point.

    python3 perfbench/run.py --workload pit_resume_refresh --seed 1 --seconds 10 --trace 0

Run from the root of a checkout: the program under test is the
``feagen_spark`` package next to this directory. One fresh Spark JVM at
``local[2]`` per run. Set-up (JVM start, input generation, warm state)
is timed; then warm-up ops, then ops until ``--seconds`` have passed.
Every op's output is verified outside the timed region.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` turns on the
Spark UI/REST API, runs instrumented and plain ops in ABBA order, and
prints the per-layer metrics. Op times are scaled by a canary job to a
reference host (README.md). Both write a JSON record (and,
traced, the spans) to ``.perfbench_out/``. The last stdout line is the
result JSON.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

WARMUP_OPS = 1
# at least one timed op (two when traced: one instrumented, one plain);
# more when they fit in --seconds. A run is a fresh JVM plus a warm-up
# op, so each further op would cost the run budget an op of 10-18 s
MIN_TIMED_OPS = 1
MIN_TRACED_OPS = 2
SETUP_REPS = 3
MASTER = "local[2]"
GC_LOG = "gc.log"
CANARY_ROWS = 3_000_000
CANARY_JOBS = 2
CANARY_REPS = 2  # before every timed op and after the last one
# the canary's median time on the reference host (4-core x86_64 VM, a
# quiet hour): op_p50_s reads as seconds on that host
CANARY_REF_S = 0.52

END_TO_END = {"op_p50_s": "s", "rows_per_s": "rows/s", "setup_s": "s", "heap_alloc_mb": "MB"}
PER_LAYER = {
    "core.generate_s": "s", "core.nodes_executed": "count", "core.resume_s": "s",
    "core.nodes_skipped": "count", "core.resume_hit_ratio": "ratio",
    "store.write_s": "s", "store.write_calls": "count", "store.bytes_written": "B",
    "store.files_written": "count", "store.resume_write_calls": "count",
    "store.read_s": "s", "store.read_calls": "count",
    "features.write_s": "s", "features.resume_write_s": "s", "features.exchanges": "count",
    "asof.backfill_s": "s", "asof.matched_ratio": "ratio",
    "incremental.refresh_s": "s", "incremental.affected_convs": "count",
    "incremental.rows_written": "count",
    "dedup.cc_s": "s", "dedup.cc_jobs": "count", "dedup.edge_rows": "count",
    "dedup.kept_ratio": "ratio",
    "similarity.semdedup_s": "s", "similarity.dropped": "count",
    "python.cpu_s": "s", "python.total_s": "s", "python.boot_s": "s", "python.init_s": "s",
    "python.rows": "count", "python.bytes_sent": "B", "python.bytes_received": "B",
    "python.peak_rss_mb": "MB",
    "shuffle.write_bytes": "B", "shuffle.read_bytes": "B", "shuffle.write_s": "s",
    "shuffle.fetch_wait_s": "s", "spill.bytes": "B", "scan.input_bytes": "B",
    "sink.output_bytes": "B",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count", "driver.gap_s": "s",
    "spark.task_run_s": "s", "spark.task_cpu_s": "s", "spark.gc_s": "s",
    "jvm.cpu_s": "s", "jvm.peak_rss_mb": "MB", "jvm.heap_live_peak_mb": "MB",
    "jvm.heap_committed_mb": "MB", "jvm.first_op_s": "s",
    "host.canary_s": "s", "host.steal_pct": "%",
    "trace.op_p50_s": "s", "trace.overhead_ratio": "ratio",
}


def _args():
    import workloads

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def _spark(run_dir: str, traced: bool):
    from feagen_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.local.dir": os.path.join(run_dir, "local"),
        # the heap is get_spark's default; the GC log gives the heap each
        # op allocates; C1-only JIT, see README.md
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}"
            f" -Xlog:gc:file={os.path.join(run_dir, GC_LOG)}:timemillis -XX:TieredStopAtLevel=1",
        "spark.ui.enabled": "true" if traced else "false",
    }
    if traced:
        conf.update({
            "spark.ui.port": "0",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        })
    return get_spark(app_name="perfbench", master=MASTER, extra_conf=conf)


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM the gateway launched."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def _canary(spark) -> float:
    """Fixed pure-Spark jobs that run none of the program's code: a tight
    two-task loop, then small shuffle jobs that are mostly planning and
    scheduling, as most of an op is. How fast the host is at that moment."""
    t = time.perf_counter()
    spark.range(0, CANARY_ROWS, 1, 2).selectExpr("sum(hash(id)) AS h").collect()
    for _ in range(CANARY_JOBS):
        spark.range(0, 100_000, 1, 4).selectExpr("id % 97 AS k").groupBy("k").count().collect()
    return time.perf_counter() - t


def _collect(spark) -> None:
    spark.sparkContext._jvm.java.lang.System.gc()


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def run(args, run_dir: str) -> tuple[dict, dict]:
    import tracing
    import workloads

    traced = bool(args.trace)
    spark = _spark(run_dir, traced)
    try:
        jvm_start_s = time.perf_counter() - T_START
        tracer = tracing.Tracer(spark.sparkContext, enabled=False)
        ctx = workloads.Ctx(spark, args.seed, run_dir, tracer)
        wl = workloads.WORKLOADS[args.workload]()

        # set-up, several times; the last one is kept
        prep = []
        for rep in range(SETUP_REPS):
            root = os.path.join(run_dir, "inputs", f"rep{rep}")
            t = time.perf_counter()
            wl.prepare(ctx, root)
            prep.append(time.perf_counter() - t)
            if rep:
                shutil.rmtree(os.path.join(run_dir, "inputs", f"rep{rep - 1}"))
        wl.reference(ctx)  # verification is not set-up

        sampler = tracing.ProcSampler()
        rest = tracing.Rest(spark.sparkContext) if traced else None
        try:
            return _measure(args, ctx, wl, sampler, rest, jvm_start_s, prep)
        finally:
            sampler.close()
    finally:
        _stop_spark(spark)


def _measure(args, ctx, wl, sampler, rest, jvm_start_s, prep):
    import tracing

    spark, tracer, traced = ctx.spark, ctx.tracer, rest is not None
    gc_log = os.path.join(ctx.run_dir, GC_LOG)
    attempted = failed = 0
    walls = {"warmup": [], "plain": [], "traced": []}
    procs = {"warmup": [], "plain": [], "traced": []}  # per-op CPU, RSS and heap
    canary: list[float] = []
    layers: list[dict] = []

    def one_op(k: int, instrumented: bool, kind: str) -> None:
        nonlocal attempted, failed
        attempted += 1
        wl.pre_op(ctx, k)
        if kind != "warmup":
            canary.extend(_canary(spark) for _ in range(CANARY_REPS))
        # the op runs between two collections (not timed): it starts from
        # the same heap every time, and every byte it allocates is counted
        # by some GC pause
        _collect(spark)
        res = None
        sampler.mark()
        tracer.enabled = instrumented
        w0 = time.time()
        t = time.perf_counter()
        try:
            with tracer.op_scope(f"op{k}"):
                res = wl.op(ctx, k)
            walls[kind].append(time.perf_counter() - t)
        except Exception:
            traceback.print_exc()
        finally:
            tracer.enabled = False
        w1 = time.time()
        pw = sampler.window()
        _collect(spark)
        pw.update(tracing.heap_window(gc_log, w0, time.time()))
        procs[kind].append(pw)
        try:
            ok = res is not None and wl.verify(ctx, k, res)
            if ok and instrumented:
                m = {key: v for key, v in res.items() if key in PER_LAYER}
                m.update(ctx.store_stats)
                m.update(wl.layers(ctx, k, res))
                m.update(tracing.op_rest_metrics(rest, f"op{k}", (w0, w1)))
                m.update({"python.cpu_s": pw["python_cpu_s"], "jvm.cpu_s": pw["jvm_cpu_s"],
                          "python.peak_rss_mb": pw["python_peak_rss_mb"],
                          "jvm.peak_rss_mb": pw["jvm_peak_rss_mb"],
                          "jvm.heap_live_peak_mb": pw["heap_live_peak_mb"],
                          "jvm.heap_committed_mb": pw["heap_committed_mb"]})
                layers.append(m)
        except Exception:
            traceback.print_exc()
            ok = False
        if not ok:
            failed += 1
            print(f"perfbench: op {k} of {wl.name} failed verification", file=sys.stderr)
        if res is not None:
            wl.cleanup(ctx, k, res)

    k = 0
    for _ in range(WARMUP_OPS):
        one_op(k, False, "warmup")
        k += 1
    _canary(spark)  # compiles its code
    steal0 = tracing.cpu_steal()
    deadline = time.perf_counter() + args.seconds
    n_timed = 0
    # traced: instrumented and plain ops in ABBA order, so that neither
    # side sits at the later op indices once four ops fit; with two, the
    # plain op comes second, which biases trace.overhead_ratio high
    while time.perf_counter() < deadline or n_timed < (MIN_TRACED_OPS if traced else MIN_TIMED_OPS):
        instrumented = traced and n_timed % 4 in (0, 3)
        one_op(k, instrumented, "traced" if instrumented else "plain")
        k += 1
        n_timed += 1
    canary.extend(_canary(spark) for _ in range(CANARY_REPS))
    steal1 = tracing.cpu_steal()
    steal_pct = 100.0 * (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])

    # times are scaled to a host on which the canary takes CANARY_REF_S
    host = CANARY_REF_S / _median(canary)
    op_p50 = _median(walls["plain"]) * host
    raw = {
        "op_p50_s": _median(walls["plain"]),
        "setup_s": jvm_start_s + _median(prep),
        # anonymous RSS of the JVM plus its Python workers, each op's
        # high-water; not gated, it follows G1's heap sizing (README.md)
        "peak_rss_mb": _median([p["jvm_peak_rss_mb"] + p["python_peak_rss_mb"]
                                for p in procs["plain"]]),
    }
    record = {
        "workload": wl.name, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "master": MASTER, "rows_per_op": wl.rows,
        "jvm_start_s": jvm_start_s, "prepare_s": prep,
        "op_walls_s": walls, "canary_s": canary, "host_factor": host, "raw": raw,
        "steal_pct": steal_pct,
        "ops_attempted": attempted, "ops_failed": failed, "op_procs": procs,
    }
    if not traced:
        metrics = {
            "op_p50_s": op_p50,
            "rows_per_s": wl.rows / op_p50 if op_p50 else 0.0,
            # not scaled: set-up is mostly JVM start, which the canary,
            # run half a minute later, does not track (README.md)
            "setup_s": raw["setup_s"],
            "heap_alloc_mb": _median([p["heap_alloc_mb"] for p in procs["plain"]]),
        }
        units = END_TO_END
    else:
        metrics = {name: _median([m.get(name, 0.0) for m in layers]) for name in PER_LAYER}
        metrics["jvm.first_op_s"] = walls["warmup"][0] if walls["warmup"] else 0.0
        metrics["host.canary_s"] = _median(canary)
        metrics["host.steal_pct"] = steal_pct
        metrics["trace.op_p50_s"] = _median(walls["traced"])
        metrics["trace.overhead_ratio"] = (
            metrics["trace.op_p50_s"] / raw["op_p50_s"] if raw["op_p50_s"] else 0.0)
        units = PER_LAYER
        record["per_op_layers"] = layers
        record["spans"] = tracer.spans
    record["metrics"] = metrics
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {name: {"value": float(metrics[name]), "unit": unit} for name, unit in units.items()},
    }
    return result, record


def main() -> int:
    args = _args()
    if not os.path.isfile(os.path.join(ROOT, "feagen_spark", "__init__.py")):
        print(f"perfbench: no feagen_spark package in {ROOT}; run from a checkout of the repository",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    run_dir = os.path.join(ROOT, ".perfbench_tmp", f"{args.workload}-{args.seed}-{os.getpid()}")
    for sub in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    # every file Spark, its Python workers and this process write stays
    # under run_dir; workers import the program from the checkout
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    # cap glibc malloc arenas, so the JVM's native memory depends less on
    # which of its many threads happened to allocate
    os.environ["MALLOC_ARENA_MAX"] = "2"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    try:
        result, record = run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}.json"
    with open(os.path.join(out_dir, name), "w") as f:
        json.dump(record, f, indent=1)
    w = record["op_walls_s"]
    print(
        f"perfbench {args.workload} seed={args.seed} trace={args.trace}: "
        + " ".join(f"{k}={v['value']:.6g} {v['unit']}" for k, v in result["metrics"].items()
                   if k in END_TO_END)
        + f" samples={len(w['plain'])} traced_samples={len(w['traced'])} warmup={len(w['warmup'])}"
        f" ops_attempted={result['attempted']} ops_failed={result['failed']}"
        f" raw_op_p50_s={record['raw']['op_p50_s']:.4f} raw_setup_s={record['raw']['setup_s']:.4f}"
        f" peak_rss_mb={record['raw']['peak_rss_mb']:.1f} MB"
        f" canary_s={_median(record['canary_s']):.4f} steal_pct={record['steal_pct']:.2f}"
        f" record=.perfbench_out/{name}"
    )
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
