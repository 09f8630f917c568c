"""Run loop shared by the workloads: session, repeated set-up, cold and
steady passes over the workload's operations, the correctness gate, the
result line and the run record."""

from __future__ import annotations

import hashlib
import json
import os
import platform
import statistics
import subprocess
import sys
import time
import traceback

import datagen
import metrics as M
import sparkstats
from tracing import Tracer, install_layers, install_py4j_counter

def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _revision(root: str) -> dict[str, str | None]:
    """Git revision when the checkout is a repository, and always a hash
    of the package sources (a plain checkout has no git metadata)."""
    rev = None
    if os.path.exists(os.path.join(root, ".git")):
        try:
            rev = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"],
                                 capture_output=True, text=True, timeout=10,
                                 check=True).stdout.strip() or None
        except (OSError, subprocess.SubprocessError):
            pass
    h = hashlib.sha256()
    pkg = os.path.join(root, "active_query_optimizer_spark")
    for dirpath, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                h.update(os.path.relpath(os.path.join(dirpath, f), pkg)
                         .encode())
                with open(os.path.join(dirpath, f), "rb") as fh:
                    h.update(fh.read())
    return {"git": rev, "source_sha256": h.hexdigest()[:16]}


class Context:
    """What a workload needs from the harness."""

    def __init__(self, spark, seed: int, root: str, work: str,
                 tracer: Tracer) -> None:
        self.spark = spark
        self.seed = seed
        self.root = root
        self.work = work
        self.tracer = tracer
        self.inputs: dict[str, object] = {}

    def data_dir(self, sf: float) -> str:
        path = datagen.ensure_data(os.path.join(self.work, "data"), sf)
        self.inputs[f"data_sf{sf}"] = {"dir": os.path.relpath(path, self.root),
                                       "sha256": datagen.content_hash(path)}
        return path


def _load(name: str):
    if name == "engine_queries":
        from engine import EngineQueries
        return EngineQueries
    from train import OptimizerTrain
    return OptimizerTrain


def _run_op(ctx: Context, op_id: int, label: str, fn) -> dict:
    """One operation; in a traced pass also its job-group counters."""
    tracer, spark = ctx.tracer, ctx.spark
    tracer.op_id = op_id
    group = f"perfbench-{op_id}"
    if tracer.enabled:
        spark.sparkContext.setJobGroup(group, label)
    sample: dict = {"op": label, "op_id": op_id}
    try:
        sample.update(fn())
    except Exception as e:  # noqa: BLE001 - a failed op is counted, not fatal
        sample["error"] = f"{type(e).__name__}: {str(e)[:300]}"
        traceback.print_exc(file=sys.stderr)
    if tracer.enabled:
        tracer.enabled = False  # keep the bookkeeping out of the counts
        try:
            sample["spark"] = sparkstats.group_counters(spark, group)
        finally:
            tracer.enabled = True
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    return sample


def _shutdown(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception:  # noqa: BLE001 - the JVM may already be gone
            pass
    if proc is not None:
        try:
            if proc.stdin is not None:
                proc.stdin.close()
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _cpu_ticks() -> tuple[int, int]:
    """Host-wide (steal, total) CPU ticks from ``/proc/stat``: on a shared
    virtual machine, steal is time the hypervisor gave to other guests."""
    with open("/proc/stat") as fh:
        ticks = [int(f) for f in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


def run(args, root: str, work: str, threads: dict[str, str]) -> int:
    import numpy
    import pyspark

    ticks0 = _cpu_ticks()
    tracer = Tracer()
    if args.trace:
        install_layers(tracer)
        install_py4j_counter(tracer)
        tracer.enabled = True
    from active_query_optimizer_spark.session import get_spark

    wl_cls = _load(args.workload)
    t0 = time.perf_counter()
    with tracer.span("session.start"):
        spark = get_spark(f"perfbench-{args.workload}")
        spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    ctx = Context(spark, args.seed, root, work, tracer)
    try:
        wl = wl_cls(ctx)
        setup_runs = []
        for _ in range(wl.SETUP_REPEATS):
            t0 = time.perf_counter()
            wl.setup()
            setup_runs.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        wl.prepare()
        prepare_s = time.perf_counter() - t0
        setup_s = session_s + _median(setup_runs) + prepare_s

        passes: list[dict] = []
        op_id = 0
        deadline = None  # the --seconds window opens after the cold pass
        # a traced run traces the cold pass and every second steady pass,
        # starting untraced, so warm-up does not bias the tracing overhead
        # read from the untraced passes around each traced one
        min_steady = wl.STEADY_PASSES + args.trace
        while (len(passes) < 1 + min_steady
               or time.perf_counter() < deadline):
            if len(passes) == 1:
                deadline = time.perf_counter() + args.seconds
            k = len(passes)
            tracer.enabled = bool(args.trace) and k % 2 == 0
            samples = []
            for label, fn in wl.ops():
                samples.append(_run_op(ctx, op_id, label, fn))
                op_id += 1
            passes.append({"traced": tracer.enabled, "ops": samples})
        tracer.enabled = False
        t0 = time.perf_counter()
        checks, failures = wl.check()
        check_s = time.perf_counter() - t0
        quality = wl.quality()
        persisted = sparkstats.persisted_rdds(spark)
        cores = spark.sparkContext.defaultParallelism
    finally:
        _shutdown(spark)

    op_errors = [f"{s['op']}: {s['error']}" for p in passes
                 for s in p["ops"] if "error" in s]
    attempted = sum(len(p["ops"]) for p in passes) + checks
    failed = len(op_errors) + len(failures)
    summary = M.summarize(wl, passes, setup_s, session_s, setup_runs,
                          prepare_s, tracer, quality, persisted,
                          cores, failed, attempted)
    metrics = summary["per_layer"] if args.trace else summary["end_to_end"]
    ticks1 = _cpu_ticks()

    record = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "revision": _revision(root),
        "host": {"nproc": os.cpu_count(),
                 "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
                 "SPARK_GRAFT_DRIVER_MEM":
                     os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
                 "threads": threads, "python": platform.python_version(),
                 "pyspark": pyspark.__version__, "numpy": numpy.__version__,
                 "machine": platform.machine(),
                 "steal_share": ((ticks1[0] - ticks0[0])
                                 / max(1, ticks1[1] - ticks0[1]))},
        "inputs": ctx.inputs,
        "setup": {"session_s": session_s, "repeats_s": setup_runs,
                  "prepare_s": prepare_s},
        "passes": passes, "check_s": check_s, "quality": quality,
        "failures": op_errors + failures,
        "summary": summary,
        "spans": tracer.totals() if args.trace else {},
    }
    rec_dir = os.path.join(work, "records", args.workload)
    os.makedirs(rec_dir, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S", time.gmtime())
    rec_path = os.path.join(
        rec_dir, f"{stamp}-seed{args.seed}-trace{args.trace}"
                 f"-cpu{os.environ.get('SPARK_GRAFT_CPUS')}-{os.getpid()}.json")
    with open(rec_path, "w") as fh:
        json.dump(record, fh, indent=1, default=float)

    for line in M.report_lines(summary, metrics, op_errors + failures):
        print(line)
    print(f"record: {os.path.relpath(rec_path, root)}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0
