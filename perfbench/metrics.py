"""Metric names, units and the per-layer summary of a traced run.

Every workload prints every end-to-end metric (untraced run) and every
per-layer metric (traced run). A layer a workload does not enter reads
0 there. ``BENCHMARK.json`` lists the same names; test_contract.py keeps
the two in step.
"""

from __future__ import annotations

from perfbench import common

END_TO_END = {
    "setup_s": "s",
    "p50_ms": "ms",
    "cycle_s": "s",
    "cold_cycle_s": "s",
    "cache_mb": "MB",
}

SERVICE_OPS = ("definition", "references", "search", "completion", "impact",
               "callgraph", "deps", "get_source", "analyze_function")

#: corpus_batch rows (a fixed subset of bench.HEADLINE, see corpus_batch.py)
BATCH_ROWS = (
    "q1_pricing_summary",
    "text_contamination_bloom",
    "mm_jpeg_roundtrip",
    "text_html_extract_dirty",
    "stream_hourly_counts",
)

PER_LAYER: dict[str, str] = {
    "session.start_s": "s",
    "session.worker_spawn_s": "s",
    "sources.index_project_s": "s",
    "sources.index_exec_s": "s",
    "sources.index_scip_s": "s",
    "sources.files": "count",
    "sources.nodes": "count",
    "sources.edges": "count",
    "graph.persist_s": "s",
    "graph.write_parquet_s": "s",
    "graph.from_parquet_s": "s",
    "graph.neighbor_calls": "count",
    **{f"services.{op}_p50_ms": "ms" for op in SERVICE_OPS},
    "services.jobs_per_request": "count",
    "services.tasks_per_request": "count",
    "mcp.handle_p50_ms": "ms",
    "mcp.overhead_p50_ms": "ms",
    "operators.bfs_calls": "count",
    "operators.bfs_s": "s",
    "operators.bfs_jobs": "count",
    "operators.search_s": "s",
    "operators.py_kernel_s": "s",
    **{f"queries.{row}_s": "s" for row in BATCH_ROWS},
    "queries.construct_s": "s",
    "queries.side_jobs": "count",
    "queries.plan_s": "s",
    "queries.action_s": "s",
    "queries.jobs": "count",
    "serving.calls": "count",
    "serving.builds": "count",
    "serving.hit_ratio": "ratio",
    "serving.invalidated": "count",
    "streaming.drains": "count",
    "streaming.drain_s": "s",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.core_util": "ratio",
    "trace.overhead_share": "ratio",
    "trace.uncovered_share": "ratio",
    "env.calib_jvm_s": "s",
    "env.calib_py_s": "s",
}


def end_to_end(out: dict, session_s: float, workers_s: float, cache: float) -> dict[str, float]:
    lat = out["latencies_ms"]
    units = out["units_s"]
    return {
        "setup_s": session_s + workers_s + common.median(out["setup_reps_s"]),
        "p50_ms": common.median(lat),
        "cycle_s": common.median(units[1:]),
        "cold_cycle_s": units[0],
        "cache_mb": cache,
    }


def _median_dur(spans: list[dict], scale: float = 1.0) -> float:
    durs = [s["t1"] - s["t0"] for s in spans]
    return common.median(durs) * scale if durs else 0.0


def per_layer(tracer, out: dict, session_s: float, workers_s: float,
              calib: dict[str, float]) -> dict[str, float]:
    """Summarize the traced run. Counts and times of the serving path are
    per traced unit (a request pass, a warm corpus pass or an update
    cycle); set-up layers are medians over their spans."""
    spans = tracer.spans
    units = out["traced_units"]
    n_units = max(1, len(units))
    in_units: list[dict] = [s for u in units for s in tracer.subtree(u)]

    def named(name: str, pool=None) -> list[dict]:
        return [s for s in (pool if pool is not None else spans) if s["name"] == name]

    def per_unit(name: str, key: str | None = None) -> float:
        sel = named(name, in_units)
        if key is None:
            return len(sel) / n_units
        if key == "dur":
            return sum(s["t1"] - s["t0"] for s in sel) / n_units
        return sum(s.get(key, 0.0) for s in sel) / n_units

    m: dict[str, float] = dict.fromkeys(PER_LAYER, 0.0)
    m["session.start_s"] = session_s
    m["session.worker_spawn_s"] = workers_s
    for name in ("sources.index_project", "sources.index_exec", "sources.index_scip",
                 "graph.persist", "graph.write_parquet", "graph.from_parquet"):
        m[f"{name}_s"] = _median_dur(named(name))
    for k, v in out.get("counts", {}).items():
        m[k] = float(v)
    m["graph.neighbor_calls"] = per_unit("graph.neighbors")

    requests = [s for s in in_units if s["name"].startswith("services.")]
    for op in SERVICE_OPS:
        m[f"services.{op}_p50_ms"] = _median_dur(named(f"services.{op}", in_units), 1e3)
    if requests:
        subtrees = [tracer.subtree(r) for r in requests]
        m["services.jobs_per_request"] = sum(tracer.own(t, "jobs") for t in subtrees) / len(requests)
        m["services.tasks_per_request"] = sum(tracer.own(t, "tasks") for t in subtrees) / len(requests)
    handles = named("mcp.handle", in_units)
    if handles:
        m["mcp.handle_p50_ms"] = _median_dur(handles, 1e3)
        m["mcp.overhead_p50_ms"] = 1e3 * common.median([
            (h["t1"] - h["t0"]) - sum(c["t1"] - c["t0"] for c in tracer.subtree(h)[1:]
                                      if c["parent"] == h["id"])
            for h in handles])

    m["operators.bfs_calls"] = per_unit("operators.bfs_reachable")
    m["operators.bfs_s"] = per_unit("operators.bfs_reachable", "dur")
    m["operators.bfs_jobs"] = per_unit("operators.bfs_reachable", "jobs")
    m["operators.search_s"] = per_unit("operators.search_nodes", "dur")
    m["operators.py_kernel_s"] = sum(u.get("py_kernel_s", 0.0) for u in units) / n_units

    for row in BATCH_ROWS:
        m[f"queries.{row}_s"] = _median_dur(named(f"queries.{row}", in_units))
    m["queries.construct_s"] = per_unit("queries.construct", "dur")
    m["queries.side_jobs"] = per_unit("queries.construct", "jobs")
    m["queries.plan_s"] = per_unit("queries.plan", "dur")
    m["queries.action_s"] = per_unit("queries.action", "dur")
    m["queries.jobs"] = per_unit("queries.action", "jobs")

    m["serving.calls"] = per_unit("serving.shared")
    m["serving.builds"] = per_unit("serving.build")
    if m["serving.calls"]:
        m["serving.hit_ratio"] = 1.0 - m["serving.builds"] / m["serving.calls"]
    m["serving.invalidated"] = sum(s.get("dropped", 0) for s in named("serving.invalidate"))
    m["streaming.drains"] = per_unit("streaming.run_available_now")
    m["streaming.drain_s"] = per_unit("streaming.run_available_now", "dur")

    m["spark.stages"] = tracer.own(in_units, "stages") / n_units
    m["spark.tasks"] = tracer.own(in_units, "tasks") / n_units
    m["spark.executor_run_s"] = tracer.own(in_units, "run_s") / n_units
    m["spark.executor_cpu_s"] = tracer.own(in_units, "cpu_s") / n_units
    m["spark.shuffle_write_mb"] = tracer.own(in_units, "shuffle_write_b") / 1e6 / n_units
    m["spark.spill_mb"] = tracer.own(in_units, "spill_b") / 1e6 / n_units
    wall = sum(u["t1"] - u["t0"] for u in units)
    if wall:
        m["spark.core_util"] = tracer.own(in_units, "run_s") / (wall * common.cores())
        m["trace.uncovered_share"] = sum(tracer.uncovered(u) for u in units) / wall
    if units and out["untraced_units_s"]:
        traced = common.median([u["t1"] - u["t0"] for u in units])
        m["trace.overhead_share"] = traced / common.median(out["untraced_units_s"]) - 1.0
    m.update(calib)
    return m
