"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload lsp_serve --seed 1 --seconds 10 --trace 0

Workloads: lsp_serve, corpus_batch (see perfbench/README.md).
The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
The line before it is the environment stamp. A traced run also writes
its spans to ``perfbench/.work/traces/``.

Run it from the root of a checkout of this repository; anywhere else it
exits with status 2 without printing a result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORKLOADS = ("lsp_serve", "corpus_batch")


def _prepare_env(work: str) -> None:
    """Environment for the session and its Python workers: workers must
    import ``codegraph_spark``, and every temporary file stays inside
    the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' pyspark-shell")
    sys.path.insert(0, REPO)


def _install_tracing(tracer) -> None:
    """Wrap the layer entry points the workloads reach only indirectly."""
    from codegraph_spark import serving
    from codegraph_spark.graph import PropertyGraph
    from codegraph_spark.operators.search import search_nodes
    from codegraph_spark.operators.traversal import bfs_reachable
    from codegraph_spark.services import MCPService
    from codegraph_spark.streaming.incremental import run_available_now

    import codegraph_spark.queries as queries

    queries.collect()  # import every query module so their bindings exist
    tracer.wrap_everywhere(bfs_reachable, "operators.bfs_reachable")
    tracer.wrap_everywhere(search_nodes, "operators.search_nodes")
    tracer.wrap_everywhere(run_available_now, "streaming.run_available_now")
    tracer.wrap_method(PropertyGraph, "in_neighbors", "graph.neighbors")
    tracer.wrap_method(PropertyGraph, "out_neighbors", "graph.neighbors")
    tracer.wrap_method(MCPService, "call", "mcp.service_call")

    def count_builds(fn):
        def shared(spark, key, build, *a, **kw):
            def counted():
                with tracer.span("serving.build"):
                    return build()
            with tracer.span("serving.shared"):
                return fn(spark, key, counted, *a, **kw)
        return shared

    for fn in (serving.shared_df, serving.shared_obj):
        tracer.replace_everywhere(fn, count_builds(fn))

    def dropped(rec, result):
        rec["dropped"] = result

    tracer.wrap_everywhere(serving.invalidate, "serving.invalidate", on_result=dropped)


def _stop(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None) if gateway is not None else None
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        proc.wait(timeout=60)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (os.path.isdir(os.path.join(REPO, "codegraph_spark"))
            and os.path.isfile(os.path.join(REPO, "bench.py"))):
        print(f"perfbench: no codegraph_spark/ and bench.py beside {HERE}; "
              "run it from a checkout of the repository", file=sys.stderr)
        return 2

    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    _prepare_env(work)

    import importlib

    from perfbench import common, metrics
    from perfbench.trace import Tracer

    workload = importlib.import_module(f"perfbench.{args.workload}")
    spark, session_s = common.start_session(work)
    try:
        tracer = Tracer(spark, enabled=bool(args.trace))
        workers_s = common.spawn_workers(spark)
        if args.trace:
            _install_tracing(tracer)
        out = workload.run(spark, tracer, args.seed, args.seconds, work)
        tracer.active = False
        cache = common.cache_mb(spark)
        # the host-speed probes cost ~15 s at 4 cores, so only the traced
        # run carries them
        calib = common.calibrate(spark, common.CORPUS_DIR) if args.trace else {}
        env = common.env_stamp(spark, args.seed, args.workload, calib)
        if args.trace:
            tracer.settle()
            values = metrics.per_layer(tracer, out, session_s, workers_s, calib)
            units = metrics.PER_LAYER
            trace_dir = os.path.join(HERE, ".work", "traces")
            os.makedirs(trace_dir, exist_ok=True)
            tracer.dump(os.path.join(trace_dir, f"{args.workload}-{args.seed}.json"),
                        {"env": env, "metrics": values})
        else:
            values = metrics.end_to_end(out, session_s, workers_s, cache)
            units = metrics.END_TO_END
    finally:
        _stop(spark)
        shutil.rmtree(work, ignore_errors=True)

    for err in out["errors"][:20]:
        print(f"perfbench: failed operation: {err}", file=sys.stderr)
    q, v = common.tail(out["latencies_ms"])
    env["latency"] = {"samples": len(out["latencies_ms"]), "tail_percentile": q, "tail_ms": v}
    print(json.dumps({"env": env}))
    print(json.dumps({
        "correct": out["failed"] == 0,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
