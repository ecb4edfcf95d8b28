"""Storage-engine benchmark for hbase_compact_spark.

    python3 perfbench/run.py --workload cdc_mor_serve --seed 1 --seconds 10 --trace 0

Runs one workload (``compact_analytics`` or ``cdc_mor_serve``, see
BENCHMARK.json) closed-loop with one client in this process against
``local[<nproc>]``, and prints as its last stdout line one JSON object
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics (CPU seconds, see metrics.py); ``--trace 1``
wraps the program's public functions in spans and reports the
per-layer metrics: wall and CPU time per operation, Spark job and task
counts, self time per layer and the tracer's own cost. ``--scale tiny``
shrinks every input (used by selftest.py). DESIGN.md describes the
workloads, inputs and metrics.

All inputs are generated from ``--seed`` under ``.perfbench_work/`` in
the checkout; the run's TMPDIR, SPARK_LOCAL_DIRS and JVM temp dir live
there too and are wiped before and after. Everything the program prints
to stdout is redirected to stderr, so the result line is the only
stdout output.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_BASE = os.path.join(ROOT, ".perfbench_work")
OUT_DIR = os.path.join(ROOT, ".perfbench_out")
# workload -> the parts each step runs, in order (module, class)
WORKLOADS = {
    "compact_analytics": (("perfbench.compaction", "CompactionCycle"), ("perfbench.analytics", "QueryMix")),
    "cdc_mor_serve": (("perfbench.cdc", "CdcServe"),),
}


# ------------------------------------------------------------ hygiene
def _pid_alive(pid: int) -> bool:
    return os.path.exists(f"/proc/{pid}")


def _prepare_env(work: str) -> None:
    """Private temp and Spark local dirs, core count from the CPU
    affinity mask (what ``nproc`` prints), driver memory below physical
    memory, UTC, and no console progress bars."""
    os.makedirs(WORK_BASE, exist_ok=True)
    for name in os.listdir(WORK_BASE):  # leftovers of killed runs
        if name.startswith("run-") and not _pid_alive(int(name[4:])):
            shutil.rmtree(os.path.join(WORK_BASE, name), ignore_errors=True)
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    cpus = len(os.sched_getaffinity(0))
    phys_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / (1 << 30)
    mem_gb = max(1, min(4, int(phys_gb // 3)))
    os.environ.update(
        {
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": local,
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_GRAFT_DRIVER_MEM": f"{mem_gb}g",
            "TZ": "UTC",
            # every JVM of the run (spark-submit's launcher too) keeps its
            # temp files in the run's dir and writes no /tmp/hsperfdata
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            # fixed JIT compiler threads, so procs.tree_cpu_s can leave
            # their time out
            "PYSPARK_SUBMIT_ARGS": (
                '--driver-java-options "-XX:-UseDynamicNumberOfCompilerThreads" '
                "--conf spark.ui.showConsoleProgress=false pyspark-shell"
            ),
        }
    )
    time.tzset()
    import tempfile

    tempfile.tempdir = None


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM gateway, and wait until every
    process this run started has exited."""
    from pyspark import SparkContext

    from perfbench.procs import descendants

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.time() + 30
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except OSError:
            pass


# --------------------------------------------------------------- main
def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full")
    args = ap.parse_args(argv)

    # the program must be importable from the checkout before anything
    # else happens; without it the run fails and prints no result
    sys.path.insert(0, ROOT)
    try:
        import hbase_compact_spark  # noqa: F401
        import __spark_entry__  # noqa: F401
    except ImportError as exc:
        print(f"[perfbench] program not found in {ROOT}: {exc}", file=sys.stderr)
        return 2

    result_fd = os.dup(1)
    os.dup2(2, 1)  # library and JVM stdout goes to stderr
    work = os.path.join(WORK_BASE, f"run-{os.getpid()}")
    _prepare_env(work)
    try:
        result = _run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    with os.fdopen(result_fd, "w") as out:
        out.write(json.dumps(result) + "\n")
    return 0


def _setup(parts) -> None:
    """Each part's program set-up and warm-up step. Parts touch
    disjoint layers and inputs, so they warm up concurrently."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=len(parts)) as pool:
        for fut in [pool.submit(part.setup) for part in parts]:
            fut.result()


def _measure(ctx, parts) -> None:
    """Closed loop, one client: whole steps (each part's step in
    order) until ``--seconds`` have passed, at least one."""
    t0 = time.perf_counter()
    while not ctx.steps or time.perf_counter() - t0 < ctx.seconds:
        ctx.rec.step = len(ctx.steps)
        ts = time.perf_counter()
        for part in parts:
            part.step()
        ctx.steps.append(time.perf_counter() - ts)
    ctx.rec.step = None
    ctx.measured_s = time.perf_counter() - t0


def _run(args, work: str) -> dict:
    import importlib

    import numpy as np

    from perfbench import metrics
    from perfbench.context import RunContext
    from perfbench.layers import Recorder
    from perfbench.procs import RssSampler, tree_cpu_s

    rec = Recorder(trace=bool(args.trace))
    ctx = RunContext(
        spark=None, rec=rec, work=work, seed=args.seed, seconds=args.seconds, scale=args.scale,
        rng=np.random.default_rng([args.seed, 0]),
    )
    parts = [getattr(importlib.import_module(m), c)(ctx) for m, c in WORKLOADS[args.workload]]
    t0 = time.perf_counter()
    for part in parts:
        part.generate()
    gen_s = time.perf_counter() - t0

    from hbase_compact_spark import session

    cpu0, t0 = tree_cpu_s(), time.perf_counter()
    spark = rec.op("session.get_spark", "session", session.get_spark, "perfbench")
    ctx.setup_parts["session"] = time.perf_counter() - t0
    ctx.spark = spark
    try:
        if rec.trace:
            rec.attach(spark)
            rec.patch([t for part in parts for t in part.trace_targets()])
        t0 = time.perf_counter()
        _setup(parts)
        ctx.setup_parts["program_and_warmup"] = time.perf_counter() - t0
        ctx.setup_cpu_s = tree_cpu_s() - cpu0
        for part in parts:
            getattr(part, "check_setup", lambda: None)()
        rec.phase_start = time.perf_counter()
        with RssSampler() as rss:
            _measure(ctx, parts)
        ctx.peak_rss_mb = rss.peak
        rec.unpatch()
    finally:
        _stop_spark(spark)

    print(
        f"[perfbench] {args.workload} seed={args.seed}: inputs generated in {gen_s:.2f}s, "
        f"set-up {ctx.setup_parts} ({ctx.setup_cpu_s:.2f} CPU s), {len(ctx.steps)} steps in "
        f"{ctx.measured_s:.2f}s, inputs {json.dumps(ctx.inputs)}",
        file=sys.stderr,
    )
    for step, name, wall, cpu in rec.calls:
        if step is not None:
            print(f"[perfbench]   step {step} {name}: {wall:.3f}s wall, {cpu:.2f}s CPU", file=sys.stderr)
    if rec.trace:
        os.makedirs(OUT_DIR, exist_ok=True)
        rec.write_spans(os.path.join(OUT_DIR, f"spans-{args.workload}-{args.seed}.json"))
        values, units = metrics.per_layer(ctx), metrics.per_layer_units()
    else:
        values, units = metrics.end_to_end(ctx), metrics.E2E_UNITS
    ratio = ctx.failed / ctx.attempted if ctx.attempted else 1.0
    print(f"[perfbench] op_fail_ratio = {ratio:.4f} ({ctx.failed}/{ctx.attempted})", file=sys.stderr)
    return {
        "correct": ctx.failed == 0 and ctx.attempted > 0,
        "attempted": max(1, ctx.attempted),
        "failed": ctx.failed,
        "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in units.items()},
    }


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:
        traceback.print_exc()
        sys.exit(1)
