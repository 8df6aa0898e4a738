"""Benchmark driver: runs one workload of the engine in this process and
prints one JSON result line.

    python3 perfbench/run.py --workload curation_pipeline --seed 1 \\
        --seconds 30 --trace 0

A run (1) draws the seed's sample of the committed test-data pool into a
per-run scratch directory (``sample.py``), (2) sets up: imports, JVM and
session start, and the workload's set-up, (3) runs pipeline passes until
``--seconds`` have passed and at least ``MIN_OPS`` ran, (4) checks the last
pass's outputs outside the timed region, and (5) prints
``{"correct", "attempted", "failed", "metrics"}`` as its last line.
``--trace 0`` reports the end-to-end metrics; ``--trace 1`` turns on the
Spark event log, job groups and JVM counters and reports the per-layer
metrics instead, including its own ``trace.warm_s``, whose difference to
the untraced ``warm_s`` is the tracing overhead.

End-to-end metrics:
  setup_s      process start until the first pass starts, less the time
               spent drawing the inputs
  cold_s       the first pass in the fresh process: what a nightly batch
               job pays
  warm_s       the median of the later passes, after dropping leading ones
               still more than 10% slower than the median of the passes
               after them (keeping at least two): what a long-lived
               driver pays
  peak_rss_mb  VmHWM of the driver JVM plus this Python process; the heap
               is pinned (-Xms = -Xmx = DRIVER_MEMORY), so this saturates
               near the heap size plus JVM and Python overhead
  heap_live_mb the driver JVM's heap use after the full GC that follows each
               pass, at its largest: what the driver keeps between passes

``attempted`` counts passes and checks; ``failed`` the passes that raised
and the checks that did not hold.

Each run also writes a full artifact, stamped with the host, versions,
conf, source digest and seed, to ``perfbench/out/``. Everything else the
run writes (inputs, shards, stores, event logs, Spark scratch) goes to a
directory under ``perfbench/.scratch/`` that is deleted at exit.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import platform
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

T_START = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT_DIR = os.path.join(HERE, "out")
SCRATCH_ROOT = os.path.join(HERE, ".scratch")

DEFAULT_SEED = 1
# share of the pool (itself 25% of sf0.1) a run draws: about 7,400 orders,
# 30,000 line items, 5,400 events, 250 documents and 110 embeddings
DEFAULT_FRACTION = 0.2
DRIVER_MEMORY = "2g"
# fewest passes a run makes, whatever --seconds says: a cold one and three
# warm ones
MIN_OPS = 4
# deployment settings passed to get_spark (bench.py's small-SF splits)
SMALL_SF_CONF = {
    "spark.sql.files.maxPartitionBytes": "256k",
    "spark.sql.files.openCostInBytes": "64k",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "256k",
}
WORKLOAD_NAMES = ("curation_pipeline", "query_sweep")


def _meminfo() -> dict[str, int]:
    out = {}
    with open("/proc/meminfo") as fh:
        for line in fh:
            k, v = line.split(":", 1)
            if k in ("MemTotal", "MemAvailable"):
                out[k] = int(v.split()[0]) // 1024
    return out


def _hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _source_digest() -> str:
    """sha1 over the engine and tool sources this benchmark exercises."""
    h = hashlib.sha1()
    for sub in ("end_to_end_ml_spark", "tools"):
        for dirpath, dirnames, files in os.walk(os.path.join(ROOT, sub)):
            dirnames.sort()
            for f in sorted(files):
                if f.endswith(".py"):
                    p = os.path.join(dirpath, f)
                    h.update(os.path.relpath(p, ROOT).encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()


def _git_commit() -> str | None:
    """HEAD, when the checkout is itself a git work tree."""
    try:
        r = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "--show-toplevel", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except OSError:
        return None
    out = r.stdout.split()
    if r.returncode or len(out) != 2:
        return None
    return out[1] if os.path.realpath(out[0]) == os.path.realpath(ROOT) else None


def owned_layers(workload) -> list[str]:
    """The per-layer metrics only ``workload`` measures: its spans, and the
    dedup pair yield for the workload that runs the dedup."""
    names = [f"{s}.s" for s in workload.spans]
    if hasattr(workload, "pair_yield"):
        names.append("operators.dedup.pair_yield")
    return names


def shared_layers() -> list[str]:
    """The per-layer metrics every workload measures."""
    from layers import JVM_COUNTERS, SPARK_COUNTERS

    return [*SPARK_COUNTERS, *JVM_COUNTERS, "trace.warm_s"]


def layer_names() -> list[str]:
    """Every per-layer metric, in the order BENCHMARK.json lists them."""
    import workloads as WL

    owned = [n for w in WL.WORKLOADS.values() for n in owned_layers(w)]
    return [*owned, *shared_layers()]


def unit_of(name: str) -> str:
    if name.endswith((".s", "_s")):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("pair_yield"):
        return "ratio"
    return "count"


def spark_conf(scratch: str, trace: bool) -> tuple[str, int, dict[str, str]]:
    cpus = len(os.sched_getaffinity(0))  # nproc
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        **SMALL_SF_CONF,
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(scratch, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
        "spark.hadoop.hadoop.tmp.dir": os.path.join(scratch, "hadoop"),
        # -XX:-UsePerfData: no hsperfdata file under the system temp dir
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={scratch} -XX:-UsePerfData"
        ),
    }
    if trace:
        log_dir = os.path.join(scratch, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{log_dir}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return f"local[{cpus}]", cpus, conf


def warm_ops(times: list[float], ok: list[int]) -> list[int]:
    """The passes after the first, minus leading ones still more than 10%
    slower than the median of the passes after them (still warming up),
    keeping at least two. Runs of 15-20 passes show the first pass after
    the cold one 15-20% slower than the rest, and later passes within
    about 8% of each other."""
    ops = [o for o in ok if o > 0]
    while len(ops) > 2 and times[ops[0]] > 1.1 * statistics.median(
        times[o] for o in ops[1:]
    ):
        ops = ops[1:]
    return ops


def run(args, scratch: str) -> dict:
    stamp = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "seconds": args.seconds,
        "fraction": args.fraction,
        "nproc": len(os.sched_getaffinity(0)),
        **{f"{k}_mb_at_start": v for k, v in _meminfo().items()},
        "load_at_start": os.getloadavg(),
        "python": platform.python_version(),
    }
    from sample import draw

    data_dir = os.path.join(scratch, "data")
    t = time.perf_counter()
    stamp["input_rows"] = draw(data_dir, args.seed, args.fraction)
    draw_s = time.perf_counter() - t
    # the inputs are the benchmark's, not the program's: restart the
    # peak-RSS count after drawing them
    with open("/proc/self/clear_refs", "w") as fh:
        fh.write("5")

    import workloads as WL
    from end_to_end_ml_spark.session import get_spark
    from layers import JVM_COUNTERS, SPARK_COUNTERS, Tracer, event_log_counters
    from pyspark import SparkContext

    master, cpus, conf = spark_conf(scratch, bool(args.trace))
    stamp.update({"master": master, "shuffle_partitions": cpus, "conf": conf})

    workload = WL.WORKLOADS[args.workload]()
    spark = None
    try:
        spark = get_spark("perfbench", master=master, shuffle_partitions=cpus,
                          extra_conf=conf)
        ctx = WL.Context(spark, data_dir, os.path.join(scratch, "work"))
        workload.setup(ctx)
        jvm = spark._jvm
        stamp.update({
            "spark": spark.version,
            "java": jvm.System.getProperty("java.version"),
            "driver_heap_max_mb": jvm.Runtime.getRuntime().maxMemory() / 2**20,
        })

        heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        heap_live_mb: list[float] = []
        tracer = Tracer(spark if args.trace else None)
        times: list[float] = []
        ok: list[int] = []
        errors: list[str] = []
        start = time.perf_counter()
        setup_s = start - T_START - draw_s
        while len(times) < MIN_OPS or time.perf_counter() - start < args.seconds:
            op = tracer.op = len(times)
            t = time.perf_counter()
            try:
                workload.op(ctx, tracer, op)
            except Exception:  # noqa: BLE001 — a failed pass is counted
                errors.append(traceback.format_exc())
                print(errors[-1], file=sys.stderr)
            else:
                ok.append(op)
            times.append(time.perf_counter() - t)
            # as bench.py does: frames a pass persisted must not serve the
            # next pass from cache
            spark.catalog.clearCache()
            shutil.rmtree(ctx.op_dir(op - 1), ignore_errors=True)
            # and as bench.py does after each query: a full GC, so the
            # ContextCleaner frees the pass's localCheckpoint blocks
            jvm.System.gc()
            heap_live_mb.append(heap.getHeapMemoryUsage().getUsed() / 2**20)
        measured_s = time.perf_counter() - start
        peak_rss_mb = (
            _hwm_mb(jvm.java.lang.ProcessHandle.current().pid()) + _hwm_mb("self")
        )
        warm = warm_ops(times, ok)
        warm_s = statistics.median(times[o] for o in warm) if warm else math.nan

        checks: dict[str, bool] = {}
        try:
            checks = workload.checks(ctx)
        except Exception:  # noqa: BLE001 — a crashed check is a failed check
            errors.append(traceback.format_exc())
            print(errors[-1], file=sys.stderr)
            checks["checks_completed"] = False

        layers = {}
        if args.trace and warm:
            # spans, Spark counters and GC per warm pass; the compile and
            # class-loading counters over the cold pass they explain
            n, ws = len(warm), set(warm)
            layers = {f"{k}.s": v / n for k, v in tracer.span_seconds(ws).items()}
            jvm_warm, jvm_cold = tracer.jvm_totals(ws), tracer.jvm_totals({0})
            for k in JVM_COUNTERS:
                layers[k] = jvm_warm[k] / n if k == "jvm.gc_s" else jvm_cold[k]
            if hasattr(workload, "pair_yield"):
                layers["operators.dedup.pair_yield"] = workload.pair_yield(ctx)
            layers["trace.warm_s"] = warm_s
            app_id = spark.sparkContext.applicationId
    finally:
        if spark is not None:
            spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)
    if args.trace and warm:
        counters = event_log_counters(
            conf["spark.eventLog.dir"][len("file://"):], app_id, tracer.spans, ws
        )
        layers.update({k: counters[k] / n for k in SPARK_COUNTERS})

    stamp.update({"git_commit": _git_commit(), "source_sha1": _source_digest()})
    failed = len(errors) + sum(1 for v in checks.values() if not v)
    attempted = len(times) + len(checks)
    return {
        "stamp": stamp,
        "result": {"correct": failed == 0, "attempted": attempted, "failed": failed},
        "end_to_end": {
            "setup_s": (setup_s, "s"),
            "cold_s": (times[0], "s"),
            "warm_s": (warm_s, "s"),
            "peak_rss_mb": (peak_rss_mb, "MB"),
            "heap_live_mb": (max(heap_live_mb), "MB"),
        },
        "layers": layers,
        "detail": {
            "draw_s": draw_s,
            "heap_live_mb": heap_live_mb,
            "pass_times_s": times,
            "warm_passes": warm,
            "measured_s": measured_s,
            "failed_frac": failed / attempted,
            "checks": checks,
            "errors": errors,
        },
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=30.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--fraction", type=float, default=DEFAULT_FRACTION,
                    help="share of the input pool to draw")
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "end_to_end_ml_spark")):
        print(f"engine package not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    os.makedirs(SCRATCH_ROOT, exist_ok=True)
    scratch = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=SCRATCH_ROOT)
    # PySpark, the JVM and every library place their temp files here
    os.environ["TMPDIR"] = scratch
    tempfile.tempdir = scratch
    try:
        res = run(args, scratch)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(OUT_DIR, exist_ok=True)
    stem = os.path.join(OUT_DIR, f"{args.workload}-seed{args.seed}-f{args.fraction}")
    if args.trace:
        # every traced run prints every per-layer metric; one that another
        # workload owns (a call this workload never makes) reads 0
        metrics = {
            k: {"value": res["layers"].get(k, 0.0), "unit": unit_of(k)}
            for k in layer_names()
        }
        untraced = f"{stem}-trace0.json"
        if os.path.exists(untraced) and "trace.warm_s" in res["layers"]:
            with open(untraced) as fh:
                base = json.load(fh)["end_to_end"]["warm_s"][0]
            res["trace_overhead"] = res["layers"]["trace.warm_s"] / base - 1
        for k, v in metrics.items():
            print(f"{k:48s} {v['value']:14.4f} {v['unit']}", file=sys.stderr)
        if "trace_overhead" in res:
            print(f"tracing overhead on warm_s: {res['trace_overhead']:+.1%}",
                  file=sys.stderr)
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in res["end_to_end"].items()}
    with open(f"{stem}-trace{args.trace}.json", "w") as fh:
        json.dump(res, fh, indent=1, sort_keys=True, default=str)
    print(json.dumps({**res["result"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
