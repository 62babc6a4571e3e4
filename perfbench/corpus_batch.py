"""corpus_batch: headline query rows over the corpus tables.

The rows are a fixed subset of ``bench.HEADLINE`` (imported, not
copied), chosen so one run fits the benchmark's time budget while
covering each execution lane: JVM scan and aggregate, serving-cache
builds and reuse (Bloom decontamination), Arrow/Python kernels (dirty
HTML extraction, JPEG codec) and a streaming drain.
``bench.py`` keeps timing all 41.

Each run makes one cold pass, then warm passes, each in a row order the
seed shuffles. Each row is timed to the end of its ``collect()``; its
result is then digested and compared with the stored DuckDB-oracle
digest (``oracle.py``), outside the timed region.
"""

from __future__ import annotations

import os
import random
import shutil
import sys
import time

from perfbench import common, oracle
from perfbench.metrics import BATCH_ROWS

SETUP_REPS = 3


def rows() -> list[str]:
    from bench import HEADLINE

    missing = set(BATCH_ROWS) - set(HEADLINE)
    if missing:
        raise RuntimeError(f"rows not in bench.HEADLINE: {sorted(missing)}")
    return [r for r in HEADLINE if r in BATCH_ROWS]


def scan_tables(spark, sf_dir: str, copy_dir: str) -> float:
    """One set-up: a first-touch scan of every corpus table. The tables
    are copied to *copy_dir* first (untimed), so each set-up lists and
    reads the footers of files the session has never seen."""
    shutil.copytree(sf_dir, copy_dir)
    t0 = time.perf_counter()
    for f in sorted(os.listdir(copy_dir)):
        if f.endswith(".parquet"):
            spark.read.parquet(os.path.join(copy_dir, f)).count()
    return time.perf_counter() - t0


def run(spark, tracer, seed: int, seconds: float, work: str) -> dict:
    from codegraph_spark.queries import collect

    sf_dir = common.CORPUS_DIR
    queries, _ = collect()
    names = rows()
    expected = oracle.load()
    reps = [scan_tables(spark, sf_dir, os.path.join(work, f"tables-{i}"))
            for i in range(SETUP_REPS)]

    rng = random.Random(seed)
    out = {"attempted": 0, "failed": 0, "latencies_ms": [], "setup_reps_s": reps, "errors": []}

    def one_pass(warm: bool) -> float:
        order = list(names)
        rng.shuffle(order)
        total = 0.0
        for name in order:
            out["attempted"] += 1
            try:
                with tracer.span(f"queries.{name}"):
                    dt, cols, result = timed_row(tracer, queries[name], spark, sf_dir)
                got = oracle.digest(cols, result)
                ok = got == expected[name]
                if not ok:
                    out["errors"].append(f"{name}: digest {got} != oracle {expected[name]}")
            except Exception as e:  # a failed row is counted, not fatal
                dt, ok = 0.0, False
                out["errors"].append(f"{name}: {e!r}"[:500])
            out["failed"] += not ok
            if not warm:
                print(f"perfbench:   {name}: {dt:.2f} s", file=sys.stderr)
            else:
                out["latencies_ms"].append(dt * 1e3)
            total += dt
        return total

    out.update(common.run_units(tracer, seconds, one_pass))
    return out


def timed_row(tracer, fn, spark, sf_dir: str):
    """Run one row to the end of its ``collect()``; returns (seconds,
    columns, rows). Traced, the construction, the physical planning and
    the action are timed apart (planning forced before the action)."""
    t0 = time.perf_counter()
    with tracer.span("queries.construct"):
        df = fn(spark, sf_dir)
    if tracer.active:
        with tracer.span("queries.plan"):
            df._jdf.queryExecution().executedPlan()
    with tracer.span("queries.action"):
        result = df.collect()
    return time.perf_counter() - t0, df.columns, result
