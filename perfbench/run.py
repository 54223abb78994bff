"""Benchmark for magictables_spark: one process, one closed-loop client.

    python3 perfbench/run.py --workload {basket,enrich} \\
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout. The process starts one Spark session
through ``magictables_spark.session.get_spark()`` at
``local[<usable cores>]`` (``SPARK_GRAFT_CPUS``), generates the
workload's seeded inputs and expected outputs (untimed), runs the
workload's fixed warm-up (``warm_up()``, sized from the measured
per-cycle curve: later cycles are flat within their noise), then
repeats cycles for ``--seconds`` and at least ``min_cycles`` times,
and prints one JSON line with ``correct``, ``attempted``, ``failed`` and
``metrics`` as its last line of stdout.

With ``--trace 0`` the metrics are the ``end_to_end`` ones of
``BENCHMARK.json``, every one a median over the run's cycles:

- ``setup_s``: interpreter start until warm-up is done (Spark session
  start, any cache state the program builds, warm-up cycles), without
  the untimed input generation; one reading per run;
- ``cycle_s``: wall time of one cycle of the workload's op sequence;
- ``op_geomean_s``: geometric mean over the workload's op kinds of each
  kind's median wall time, so a short op weighs as much as a long one.

With ``--trace 1`` cycles alternate untraced and traced, and the metrics
are the ``per_layer`` ones: Spark job/stage/task counters per job group
(traced cycles only), stub-API, LLM and warehouse counters, and
``trace.overhead_s``, the traced minus the untraced median cycle time.
A layer a workload does not touch reports 0. The share of the host's
busy CPU time that the hypervisor gave to other guests while cycles ran
goes to stderr (wall times on a shared host move with it).

Every op's output is checked: ``failed`` counts ops that raised or
returned a wrong result. Scratch files live under ``perfbench/.work``;
corpora and expected hashes are cached there per seed, everything else
is removed at exit.
"""

from __future__ import annotations

import time

STARTED = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DEADLINE_S = 170  # a run that has not finished by now fails


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("basket", "enrich"))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true", help="smallest inputs (self-check)")
    p.add_argument(
        "--corrupt-expected",
        action="store_true",
        help="corrupt one expected output so the check must fail (self-check)",
    )
    return p.parse_args(argv)


def declared_metrics() -> tuple[dict, dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in spec["per_layer"]}
    return e2e, layers


def prepare_env(run_dir: str) -> None:
    """Point every scratch location of Spark, the JVM and the package at
    this run's own directory, before pyspark is imported."""
    tmp = os.path.join(run_dir, "tmp")
    for d in ("tmp", "local", "spark-warehouse", "stores"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["SPARK_GRAFT_WAREHOUSE_DIR"] = os.path.join(run_dir, "spark-warehouse")
    os.environ["MTS_WAREHOUSE_DIR"] = os.path.join(run_dir, "stores")
    os.environ["TMPDIR"] = tmp
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"{os.environ.get('JAVA_TOOL_OPTIONS', '')} {java_opts}".strip()
    )
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)
    to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def measure(workload, run, seconds: float, trace: bool) -> dict:
    """Warm up, then run cycles for ``seconds``; returns the metrics."""
    from perfbench.harness import host_cpu_ticks, median

    warm = workload.warm_up()
    setup_s = time.perf_counter() - STARTED - run.excluded_s
    run.samples.clear()
    print(
        f"perfbench: session {run.session_s:.1f} s, untimed input generation "
        f"{run.excluded_s:.1f} s, warm-up {[round(w, 2) for w in warm]} s",
        file=sys.stderr,
    )

    cycles: dict[bool, list[float]] = {False: [], True: []}
    stolen0, busy0 = host_cpu_ticks()
    start = time.perf_counter()
    n = 0
    while n < workload.min_cycles or time.perf_counter() - start < seconds:
        run.tracing = trace and n % 2 == 1
        cycles[run.tracing].append(workload.cycle())
        run.tracing = False
        n += 1
    stolen1, busy1 = host_cpu_ticks()

    print(
        f"perfbench: measured cycles {[round(c, 2) for c in cycles[False]]} s, "
        f"gc {run.gc_s:.1f} s, host steal "
        f"{(stolen1 - stolen0) / max(busy1 - busy0, 1):.3f} of busy CPU time",
        file=sys.stderr,
    )
    if not trace:
        out = {"setup_s": setup_s}
        out.update(workload.end_to_end(run.samples))
        return out
    out = {name: median(values) for name, values in run.counts.items()}
    out.update(workload.layers(run.samples, run.tsamples))
    out["session.start_s"] = run.session_s
    out["session.peak_rss_mb"] = run.peak_rss_mb()
    out["trace.overhead_s"] = median(cycles[True]) - median(cycles[False])
    out["failed_ratio"] = run.failed_ratio()
    return out


def _deadline(signum, frame):
    raise TimeoutError(f"run did not finish within {DEADLINE_S} s")


def _terminated(signum, frame):
    raise SystemExit(128 + signum)  # unwind so the session and scratch dir are cleaned up


def main(argv=None) -> int:
    args = parse_args(argv)
    for need in ("magictables_spark", os.path.join("tools", "datagen_sf.py"), "tests"):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}; run from a checkout",
                  file=sys.stderr)
            return 2
    e2e_units, layer_units = declared_metrics()

    work = os.path.join(ROOT, "perfbench", ".work")
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    prepare_env(run_dir)
    sys.path.insert(0, ROOT)
    signal.signal(signal.SIGALRM, _deadline)
    signal.signal(signal.SIGTERM, _terminated)
    signal.alarm(DEADLINE_S)

    from perfbench.basket import Basket
    from perfbench.enrich import Enrich
    from perfbench.harness import Run

    spark = None
    try:
        t0 = time.perf_counter()
        from magictables_spark.session import get_spark

        spark = get_spark("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        run = Run(spark, args.seed, run_dir, args.tiny)
        run.session_s = time.perf_counter() - t0
        workload = {"basket": Basket, "enrich": Enrich}[args.workload](
            run, ROOT, os.path.join(work, "cache"), corrupt=args.corrupt_expected
        )
        run.excluded_s = workload.prepare()
        values = measure(workload, run, args.seconds, bool(args.trace))
    finally:
        t0 = time.perf_counter()
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
        signal.alarm(0)
        print(f"perfbench: shutdown {time.perf_counter() - t0:.1f} s, "
              f"total {time.perf_counter() - STARTED:.1f} s", file=sys.stderr)

    units = layer_units if args.trace else e2e_units
    unknown = sorted(set(values) - set(units))
    if unknown:
        raise KeyError(f"metrics not declared in BENCHMARK.json: {unknown}")
    if not args.trace:
        missing = sorted(set(units) - set(values))
        if missing:
            raise KeyError(f"end-to-end metrics not measured: {missing}")
    metrics = {
        name: {"value": float(values.get(name, 0.0)), "unit": unit}
        for name, unit in units.items()
    }
    for err in run.errors:
        print(f"perfbench: {err}", file=sys.stderr)
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
