"""Repository benchmark: measures the program's GDELT pipelines end to end
from outside, through their public entry points.

    python3 perfbench/run.py --workload v2_backfill --seed 1 --seconds 1 --trace 0

Run from the root of a checkout.  Workloads and metric names are listed
in BENCHMARK.json; ``workloads.py`` says what each workload runs.  One
run:

1. writes the workload's inputs from ``--seed`` and computes the
   expected outputs in pure Python (untimed, not part of set-up);
2. starts the program's SparkSession on ``local[nproc]`` and runs the
   workload's warm-up operations: together these are the set-up;
3. runs timed operations in a closed loop (one caller, the next
   operation starts when the previous one returns) for ``--seconds``,
   and at least ``MIN_OPS`` of them;
4. checks every timed operation's output against the expected one;
   an operation that raised or wrote a wrong result counts as failed;
5. prints one JSON line: with ``--trace 0`` the end-to-end metrics,
   with ``--trace 1`` the per-layer metrics.

The end-to-end metrics are CPU seconds of the program's processes (the
driver, the JVM and its Python workers): ``op_cpu_s`` per timed
operation (median) and ``setup_s`` for the set-up.  On a shared
virtual host, wall time moves with the neighbours' load by up to 2x
from one minute to the next; CPU seconds move far less, because
stolen time is charged to no process.  Wall times are per-layer
metrics (``op.wall_p50_s``, ``setup.wall_s``).

In a traced run every second timed operation is traced: spans around
the program's public functions and, for the live workload, a streaming
progress listener.  ``trace.overhead_s`` is the median traced operation
minus the median untraced one.  Job, stage and task counts come from
the Spark status store for every timed operation of a traced run
(``op.*``, medians per operation).  A per-layer metric that a workload
does not exercise reads 0.  A run that has not ended after
``DEADLINE_S`` seconds kills its Spark processes and exits with 3.

Everything the run writes (inputs, outputs, checkpoints, Spark scratch
space, spark-warehouse) lives in ``.perfbench_work`` at the checkout
root, which is cleared at the start and the end of each run.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import sys
import time
from contextlib import nullcontext

# a run that has not finished by then is stopped and fails
DEADLINE_S = 170
# timed operations a run makes at least, however short ``--seconds``:
# a fixed count keeps the per-operation median comparable between runs
# (the first operations after warm-up still cost more than later ones)
MIN_OPS = 2

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")


def _host_env(work: str) -> None:
    """Spark settings for this host, set before the JVM starts."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_gb = int(f.readline().split()[1]) // 2**20
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # a quarter of host memory, at most 4g: the session's 16g default
    # heap does not fit a small host
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{max(1, min(4, mem_gb // 4))}g"
    # executor-side Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # no hsperfdata files from the launcher or driver JVM: they go to /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    tmp, local, warehouse = (os.path.join(work, n) for n in ("tmp", "spark-local", "warehouse"))
    for d in (tmp, local, warehouse):
        os.makedirs(d)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join([
        "--conf", f"spark.sql.warehouse.dir={warehouse}",
        "--conf", f"spark.driver.extraJavaOptions=-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "pyspark-shell",
    ])


def _stop_spark() -> None:
    """Stop the SparkContext and the JVM it runs in, and wait until the
    JVM and every Python worker it started have exited."""
    from pyspark import SparkContext

    import measure

    pids = [p for p in measure.process_tree() if p != os.getpid()]
    sc = SparkContext._active_spark_context
    if sc is not None:
        sc.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 30
    while pids and time.monotonic() < deadline:
        pids = [p for p in pids if os.path.exists(f"/proc/{p}")]
        time.sleep(0.1)
    for p in pids:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _give_up(signum, frame) -> None:
    import measure

    print(f"perfbench: run exceeded {DEADLINE_S} s", file=sys.stderr)
    for p in measure.process_tree()[1:]:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    shutil.rmtree(WORK, ignore_errors=True)
    os._exit(3)


def _bench_config() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run(workload: str, seed: int, seconds: int, traced: bool) -> dict:
    import measure
    from workloads import WORKLOADS

    from gdelt_extractor_spark.session import get_spark

    wl = WORKLOADS[workload](seed, WORK)

    t0 = time.perf_counter()
    c0 = measure.cpu_s(measure.process_tree())
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    wl.warm_up(spark)
    setup_wall_s = time.perf_counter() - t0
    setup_s = measure.cpu_delta_s(c0, measure.cpu_s(measure.process_tree()))
    print(f"setup {setup_s:.2f} cpu-s {setup_wall_s:.2f} s", file=sys.stderr)

    ledger = measure.JobLedger(spark) if traced else None
    spans = measure.Spans()
    times, traced_times, cpu_times, per_op, ok = [], [], [], [], []
    deadline = time.perf_counter() + seconds
    i = 0
    while i < MIN_OPS + traced or time.perf_counter() < deadline:
        on = traced and i % 2 == 1
        w0 = time.time()
        c0 = measure.cpu_s(measure.process_tree())
        try:
            with wl.tracing(spark, spans) if on else nullcontext():
                secs = wl.op(spark, i)
        except Exception as exc:  # a failing operation is counted, not fatal
            print(f"op {i} failed: {exc!r}", file=sys.stderr)
            secs = None
        cpu = measure.cpu_delta_s(c0, measure.cpu_s(measure.process_tree()))
        if ledger is not None:
            per_op.append(ledger.collect(w0, time.time()))
        if secs is not None:
            ok.append(i)
            (traced_times if on else times).append(secs)
            if not on:
                cpu_times.append(cpu)
        print(f"op {i} traced={on} seconds={secs} cpu-s={cpu:.2f}", file=sys.stderr)
        i += 1
    attempted = i
    if not times:
        raise RuntimeError("no untraced operation succeeded")
    op_p50_s = measure.median(times)
    rss = measure.peak_rss_mb(measure.process_tree())
    failed = attempted - len(ok) + wl.failed_ops(spark, ok)

    if not traced:
        metrics = {
            "op_cpu_s": measure.median(cpu_times),
            "setup_s": setup_s,
        }
    else:
        metrics = {f"op.{k}": measure.median(o.get(k, 0.0) for o in per_op)
                   for k in ("jobs", "stages", "tasks", "task_run_s", "task_cpu_s",
                             "gc_s", "shuffle_write_mb", "spill_mb", "input_scans",
                             "driver_s")}
        metrics["op.wall_p50_s"] = op_p50_s
        metrics["setup.wall_s"] = setup_wall_s
        metrics["process.peak_rss_mb"] = rss
        metrics["trace.op_p50_s"] = measure.median(traced_times)
        metrics["trace.overhead_s"] = (
            measure.median(traced_times) - op_p50_s if traced_times else 0.0
        )
        metrics.update(wl.layers(spark, spans, op_p50_s))
    return {"attempted": attempted, "failed": failed, "metrics": metrics}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [HERE, ROOT]
    try:  # the program and the fixture row shapes must be in the checkout
        import gdelt_extractor_spark.pipelines.batch
        import gdelt_extractor_spark.pipelines.live  # noqa: F401
        import gen

        gen.templates()
        if not gdelt_extractor_spark.__file__.startswith(ROOT + os.sep):
            raise ImportError(f"imported from {gdelt_extractor_spark.__file__}")
    except (ImportError, OSError) as exc:
        print(f"perfbench: program not found under {ROOT}: {exc}", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    conf = _bench_config()
    kind = "per_layer" if args.trace else "end_to_end"
    units = {m["name"]: m["unit"] for m in conf[kind]}

    signal.signal(signal.SIGALRM, _give_up)
    signal.alarm(DEADLINE_S)
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)
    cwd = os.getcwd()
    try:
        _host_env(WORK)
        os.chdir(WORK)  # derby.log and any relative Spark paths land here
        try:
            res = run(args.workload, args.seed, args.seconds, bool(args.trace))
        finally:
            _stop_spark()
    finally:
        os.chdir(cwd)
        shutil.rmtree(WORK, ignore_errors=True)

    got = res["metrics"]
    missing = [n for n in units if n not in got] if not args.trace else []
    if missing:
        print(f"perfbench: metrics not measured: {missing}", file=sys.stderr)
        return 1
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {n: {"value": float(got.get(n, 0.0)), "unit": u} for n, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
