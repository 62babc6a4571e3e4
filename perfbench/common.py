"""Shared pieces of the workloads: session start, latency summaries,
persisted-cache size, the calibration probes and the environment stamp."""

from __future__ import annotations

import os
import statistics
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH_DIR)
CORPUS_DIR = os.path.join(BENCH_DIR, "data", "sf0.01")


def cores() -> int:
    return len(os.sched_getaffinity(0))


def start_session(work: str):
    """Start the engine's own session (``session.get_spark``) at
    ``local[nproc]``. Returns (spark, seconds)."""
    from codegraph_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", cpus=cores())
    spark.sparkContext.setLogLevel("ERROR")
    # streaming drains write their ephemeral checkpoints here instead of
    # /dev/shm, so a run writes only inside its checkout
    spark.conf.set("spark.codegraph.stream.drainCheckpointDir", os.path.join(work, "drain"))
    return spark, time.perf_counter() - t0


def spawn_workers(spark) -> float:
    """Start the Python worker pool once (as bench.py does), timed."""
    t0 = time.perf_counter()
    spark.range(32).mapInPandas(lambda it: it, "id long").count()
    return time.perf_counter() - t0


def run_units(tracer, seconds: float, unit) -> dict:
    """Closed loop over units of work: one cold unit, then warm units
    until *seconds* have passed (at least two). ``unit(warm)`` does one
    unit and returns its duration in seconds. Warm units alternate
    traced and untraced when the run is traced."""
    durations: list[float] = []
    traced_units: list[dict] = []
    untraced: list[float] = []
    n, t_warm = 0, 0.0
    while n < 3 or time.perf_counter() - t_warm < seconds:
        with tracer.unit(tracer.enabled and n % 2 == 1) as rec:
            durations.append(unit(n > 0))
        print(f"perfbench: unit {n}: {durations[-1]:.2f} s", file=sys.stderr)
        if rec is not None:
            traced_units.append(rec)
        elif n > 0:
            untraced.append(durations[-1])
        n += 1
        if n == 1:  # the measured window starts after the cold unit
            t_warm = time.perf_counter()
    return {"units_s": durations, "traced_units": traced_units,
            "untraced_units_s": untraced}


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, q in [0, 100]."""
    xs = sorted(values)
    if len(xs) == 1:
        return xs[0]
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail(values: list[float], want: float = 95.0, beyond: int = 10) -> tuple[float, float]:
    """The highest percentile up to *want* that has at least *beyond*
    samples above it, and its value. Falls back to the median."""
    n = len(values)
    q = min(want, 100.0 * (n - beyond) / n) if n > beyond else 50.0
    q = max(q, 50.0)
    return q, percentile(values, q)


def median(values: list[float]) -> float:
    return statistics.median(values)


def cache_mb(spark) -> float:
    """Persisted block bytes (memory + disk) of every cached RDD."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 1e6


def calibrate(spark, sf_dir: str) -> dict[str, float]:
    """bench.py's two host-speed probes, same formulas: best of five
    lineitem scan-aggregates, best of five Arrow round-trip kernels.
    They run no code under test and gate nothing."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    jvm = float("inf")
    for _ in range(5):
        t0 = time.perf_counter()
        li.agg(F.sum("l_quantity"), F.count("l_orderkey")).collect()
        jvm = min(jvm, time.perf_counter() - t0)

    def kernel(batches):
        for pdf in batches:
            a = pdf["id"].to_numpy(dtype=np.int64)
            b = (a * 2654435761) % 1000003
            m = np.cumsum(b % 251)
            yield pd.DataFrame({"v": [int(m[-1]) if len(m) else 0]})

    df = spark.range(0, 2_000_000, 1, 32).mapInPandas(kernel, "v long")
    py = float("inf")
    for _ in range(5):
        t0 = time.perf_counter()
        df.agg(F.sum("v")).collect()
        py = min(py, time.perf_counter() - t0)
    return {"env.calib_jvm_s": jvm, "env.calib_py_s": py}


def git_sha() -> str:
    """HEAD of the checkout, or "unknown" when the checkout is not the
    top of a git work tree."""
    try:
        out = subprocess.run(["git", "rev-parse", "--show-toplevel", "HEAD"], cwd=REPO,
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    lines = out.stdout.split()
    if out.returncode != 0 or len(lines) != 2 or os.path.realpath(lines[0]) != os.path.realpath(REPO):
        return "unknown"
    return lines[1]


def env_stamp(spark, seed: int, workload: str, calib: dict[str, float]) -> dict:
    return {
        "workload": workload,
        "seed": seed,
        "nproc": cores(),
        "driver_memory": spark.conf.get("spark.driver.memory", "unset"),
        "git_sha": git_sha(),
        **{k: round(v, 4) for k, v in calib.items()},
    }
