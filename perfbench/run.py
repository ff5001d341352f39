#!/usr/bin/env python3
"""a5spark benchmark: seeded, closed-loop workloads (one client, iterations
back to back) on ``local[nproc]``.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --workload all --seed N   # every workload, as a table

Run it from the repository root. The inputs are generated from ``--seed``
into ``.perfbench/`` (removed again at exit) and handed to the program as
parquet files. One run:

1. sets up ``SETUPS`` times: start a SparkSession (the first start launches
   the JVM, later ones restart the context in it) and run one warm-up
   iteration, the first with the costly output checks; ``setup_s`` is the
   median;
2. runs iterations for ``--seconds`` (at least ``MIN_ITERATIONS``), each
   timed from its first public call until its output is materialized and
   checked;
3. prints an ``{"env": ...}`` line, then the result line.

With ``--trace 0`` the result holds the end-to-end metrics. With
``--trace 1`` traced and untraced iterations alternate; the result holds
the per-layer metrics (medians over the traced iterations), the kernel
layer timed without Spark, and the tracing overhead. The span tree is
written to ``.perfbench/trace-<workload>-<seed>.json``. Every result is
also appended to ``.perfbench/results.jsonl`` for ``perfbench/compare.py``.
"""

import argparse
import json
import os
import platform
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench")

SETUPS = 3
MIN_ITERATIONS = 4
DEADLINE_S = 170  # a run must end within 180 s
DRIVER_MEMORY = "2g"


def benchmark(section: str) -> list:
    """A section of BENCHMARK.json, the one list of the benchmark's
    workloads and metrics."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)[section]


def metric_units(section: str) -> dict:
    return {m["name"]: m["unit"] for m in benchmark(section)}


_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - _T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def environment() -> dict:
    """What a result depends on besides the code: compare.py refuses to
    compare results whose host or core count differ."""
    import numpy
    import pandas
    import pyarrow
    import pyspark

    cpu = ""
    with open("/proc/cpuinfo") as f:
        for line in f:
            if line.startswith("model name"):
                cpu = line.split(":", 1)[1].strip()
                break
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    return {
        "host": f"{cpu} / {mem_kb // (1024 * 1024)} GiB",
        "nproc": nproc(),
        "master": f"local[{nproc()}]",
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "numpy": numpy.__version__,
        "pyarrow": pyarrow.__version__,
        "pandas": pandas.__version__,
    }


def configure(work: str) -> None:
    """Environment for the JVM and its Python workers; must run before the
    first session starts. Keeps every file Spark writes inside `work`."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # the launcher JVM would otherwise write its perf-data file to /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    tempfile.tempdir = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(
        [
            "--conf", "spark.ui.showConsoleProgress=false",
            "--conf", f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            "--conf", f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "pyspark-shell",
        ]
    )


def start_session():
    from a5spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    # a restarted context leaves module-level UDFs bound to the first
    # context's accumulator; its per-task update error is harmless noise
    jvm = spark._jvm
    jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
        "org.apache.spark.scheduler.DAGScheduler", jvm.org.apache.logging.log4j.Level.FATAL
    )
    return spark


def stop_jvm(spark) -> None:
    """Stop the session and the JVM, and wait for the JVM and its Python
    workers to exit."""
    from pyspark import SparkContext

    from tracing import _descendants, _proc_table

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.time() + 20
    while time.time() < deadline + 5:
        left = _descendants(_proc_table(), os.getpid())[1:]
        if not left:
            return
        if time.time() > deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.1)


def iterate(wl, spark, tr, it: int, traced: bool, full: bool):
    """One iteration: (wall s, CPU s of the process tree, ok)."""
    from a5spark import cache
    from tracing import tree_cpu_s

    tr.begin_iteration(it, traced)
    c0 = tree_cpu_s()
    t0 = time.perf_counter()
    try:
        with tr.span("iteration"):
            res = wl.run(spark, tr, it, full)
            bad = wl.check(res, full)
    except Exception:
        bad = [traceback.format_exc()]
    wall = time.perf_counter() - t0
    cpu = tree_cpu_s() - c0
    tr.finish_iteration()
    cache.release_persisted()
    wl.cleanup(it)
    for b in bad:
        print(f"[{wl.name} iteration {it}] check failed: {b}", file=sys.stderr)
    return wall, cpu, not bad


def per_layer(summaries: list, rows: int, kernels: dict, traced: list, untraced: list) -> dict:
    """Per-layer metrics: medians over traced iterations of the tracer's
    per-iteration sums, renamed to the names in BENCHMARK.json."""
    keys = set().union(*summaries) if summaries else set()
    med = {k: statistics.median(s.get(k, 0.0) for s in summaries) for k in keys}
    out = {k: med.get(k, 0.0) for k in metric_units("per_layer")}
    out.update(kernels)
    out["knn.knn_jobs"] = med.get("knn.knn_join.jobs", 0)
    scalar_rows = med.get("functions.scalar_udf_rows", 0)
    out["functions.udf_rows_per_input_row"] = scalar_rows / rows
    encode = kernels.get("kernels.encode_rows_per_s", 0)
    py_s = med.get("functions.scalar_udf_python_s", 0)
    if encode and py_s:
        out["functions.overhead_frac"] = 1.0 - (scalar_rows / encode) / py_s
    out["trace.traced_wall_s"] = statistics.median(traced)
    out["trace.untraced_wall_s"] = statistics.median(untraced)
    out["trace.overhead_frac"] = out["trace.traced_wall_s"] / out["trace.untraced_wall_s"] - 1.0
    return out


def run_workload(name: str, seed: int, seconds: float, trace: bool, work: str) -> dict:
    import inputs
    import kernel_layer
    from tracing import Tracer, driver_rss_peak_mb
    from workloads import RADIUS_M, WORKLOADS

    log("generating inputs")
    inp = inputs.write_inputs(name, seed, os.path.join(work, "inputs"))
    wl = WORKLOADS[name](inp, work, seed)
    wl.prepare()
    log("inputs ready")

    attempted = failed = 0
    it = 0
    setups = []
    spark = None
    try:
        for k in range(1 if trace else SETUPS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = start_session()
            tr = Tracer(spark)
            _, _, ok = iterate(wl, spark, tr, it, False, full=k == 0)
            setups.append(time.perf_counter() - t0)
            log(f"set-up {len(setups)}: {setups[-1]:.3f} s")
            attempted, failed, it = attempted + 1, failed + (not ok), it + 1

        walls, cpus, traced, untraced, summaries = [], [], [], [], []
        min_iters = 2 * MIN_ITERATIONS if trace else MIN_ITERATIONS
        end = time.perf_counter() + seconds
        while time.perf_counter() < end or len(walls) < min_iters:
            on = trace and len(walls) % 2 == 0
            wall, cpu, ok = iterate(wl, spark, tr, it, on, full=False)
            attempted, failed = attempted + 1, failed + (not ok)
            walls.append(wall)
            cpus.append(cpu)
            (traced if on else untraced).append(wall)
            if on:
                summaries.append(tr.iteration_summary(it))
            it += 1
        rss = driver_rss_peak_mb()
        log(f"{len(walls)} iterations: " + " ".join(f"{w:.3f}" for w in walls))
    finally:
        stop_jvm(spark)
        log("JVM stopped")

    if trace:
        tr.dump(os.path.join(OUT, f"trace-{name}-{seed}.json"))
        kernels = kernel_layer.measure(name, inp, RADIUS_M)
        metrics = per_layer(summaries, wl.rows, kernels, traced, untraced)
        units = metric_units("per_layer")
    else:
        wall = statistics.median(walls)
        metrics = {
            "wall_s": wall,
            "rows_per_s": wl.rows / wall,
            "cpu_s": statistics.median(cpus),
            "setup_s": statistics.median(setups),
            "ok_ratio": 1.0 - failed / attempted,
            "driver_rss_peak_mb": rss,
        }
        units = metric_units("end_to_end")
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
        "iterations": {"setup": setups, "wall": walls},
    }


def run_all(seed: int, seconds: float) -> int:
    """Every workload in its own process; prints each end-to-end metric."""
    total = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in [w["name"] for w in benchmark("workloads")]:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
        proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"{name}: run failed with code {proc.returncode}", file=sys.stderr)
            return 1
        res = json.loads(lines[-1])
        total["correct"] &= res["correct"]
        total["attempted"] += res["attempted"]
        total["failed"] += res["failed"]
        print(f"{name}  attempted={res['attempted']} failed={res['failed']}"
              f" fail_ratio={res['failed'] / res['attempted']:.3f}")
        for metric, m in res["metrics"].items():
            print(f"  {metric:<20} {m['value']:>16.4f} {m['unit']}")
            total["metrics"][f"{name}.{metric}"] = m
    print(json.dumps(total))
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    names = [w["name"] for w in benchmark("workloads")]
    ap.add_argument("--workload", required=True, choices=names + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "a5spark", "session.py")):
        print(f"a5spark not found under {ROOT}: run from a full checkout", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    if args.workload == "all":
        return run_all(args.seed, args.seconds)

    def _timeout(signum, frame):
        raise TimeoutError(f"run exceeded {DEADLINE_S} s")

    signal.signal(signal.SIGALRM, _timeout)
    signal.alarm(DEADLINE_S)
    os.makedirs(OUT, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=OUT)
    try:
        configure(work)
        res = run_workload(args.workload, args.seed, args.seconds, bool(args.trace), work)
    finally:
        signal.alarm(0)
        shutil.rmtree(work, ignore_errors=True)
    env = environment()
    record = {"env": env, "workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace, **res}
    with open(os.path.join(OUT, "results.jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")
    print(json.dumps({"env": env}))
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
