"""lsp_serve: interactive lookups against a warm, persisted code graph.

Set-up generates a seeded project, indexes it with
``sources.static_index.index_project``, ingests the generator's
``index.scip`` with ``sources.scip.index_scip`` (the only path that
emits REFERENCES), merges both, writes the graph with
``PropertyGraph.write_parquet``, reloads it with ``from_parquet`` and
persists it. One client then sends requests in a closed loop with no
think time: each pass sends each of the nine operations once, with
Zipf-skewed keys. The four MCP tools go through ``mcp.handle_request``.
Every answer is checked against the generator's truth.
"""

from __future__ import annotations

import json
import os
import random
import sys
import time

from perfbench import common
from perfbench.check import Checker
from perfbench.codegen import NOUNS, VERBS, Project, Size, Truth, zipf_sampler
from perfbench.metrics import SERVICE_OPS

#: project shape: 120 files (see README.md for the sizing)
SIZE = Size(go_pkgs=12, go_files_per_pkg=5, py_modules=60)
IMPACT_DEPTH = 3
CALLGRAPH_DEPTH = 2


def build_graph(spark, tracer, proj_dir: str, graph_dir: str, truth: Truth):
    """Index the project (static indexer + SCIP), merge, write the graph
    with ``write_parquet``, reload it with ``from_parquet`` and persist
    it: the CLI's ``index`` then ``serve --graph`` path. Returns (graph,
    files, counts)."""
    from codegraph_spark.graph import PropertyGraph
    from codegraph_spark.sources.docs_index import merge_into_graph
    from codegraph_spark.sources.scip import encode_scip, index_scip
    from codegraph_spark.sources.static_index import index_project, walk_sources

    scip_path = os.path.join(proj_dir, "index.scip")
    with open(scip_path, "wb") as fh:
        fh.write(encode_scip(truth.scip_documents()))
    with tracer.span("sources.index_project"):
        nodes, edges = index_project(spark, proj_dir)
    static = PropertyGraph(nodes, edges)
    counts = {}
    if tracer.enabled:  # two extra actions, so only the traced run counts
        with tracer.span("sources.index_exec"):
            counts = {"sources.nodes": static.nodes.count(),
                      "sources.edges": static.edges.count()}
    with tracer.span("sources.index_scip"):
        s_nodes, s_edges = index_scip(spark, scip_path)
    g = merge_into_graph(static, s_nodes, s_edges)
    nodes_dir, edges_dir = os.path.join(graph_dir, "nodes"), os.path.join(graph_dir, "edges")
    with tracer.span("graph.write_parquet"):
        g.write_parquet(nodes_dir, edges_dir)
    with tracer.span("graph.from_parquet"):
        g = PropertyGraph.from_parquet(spark, nodes_dir, edges_dir)
    with tracer.span("graph.persist"):
        g.persist()
        g.nodes.count()
        g.edges.count()
        files = walk_sources(spark, proj_dir).persist()
        counts["sources.files"] = files.count()
    return g, files, counts


class Requests:
    """Seeded request stream: a fixed operation cycle, Zipf keys."""

    def __init__(self, seed: int, truth: Truth):
        rng = random.Random(seed * 7919 + 17)
        called = sorted(n for n, c in truth.callers.items() if c)
        callables = sorted(d.name for d in truth.callables())
        defs = sorted(n for n, d in truth.defs.items() if d.label != "Variable")
        self.pick = {
            "definition": zipf_sampler(rng, defs),
            "references": zipf_sampler(rng, called),
            "search": zipf_sampler(rng, NOUNS),
            "completion": zipf_sampler(rng, VERBS),
            "impact": zipf_sampler(rng, called),
            "callgraph": zipf_sampler(rng, callables),
            "deps": zipf_sampler(rng, sorted({d.pkg for d in truth.defs.values()
                                              if d.rel.endswith(".go")})),
            "get_source": zipf_sampler(rng, callables),
            "analyze_function": zipf_sampler(rng, callables),
        }

    def key(self, op: str) -> str:
        return self.pick[op]()


def _mcp(tracer, svc, tool: str, arguments: dict) -> dict:
    """One JSON-RPC ``tools/call`` through ``mcp.handle_request``."""
    from codegraph_spark import mcp

    with tracer.span("mcp.handle"):
        resp = mcp.handle_request(svc, {"jsonrpc": "2.0", "id": 1, "method": "tools/call",
                                        "params": {"name": tool, "arguments": arguments}})
    result = resp["result"]
    if result.get("isError"):
        raise RuntimeError(result["content"][0]["text"])
    return json.loads(result["content"][0]["text"])


def issue(op: str, key: str, truth: Truth, lsp, adv, svc, tracer):
    """Send one request; returns (response, expected-answer check)."""
    if op == "definition":
        d = truth.defs[key]
        return lsp.go_to_definition(truth.symbol(d)), ("definition", key)
    if op == "references":
        sym = truth.symbol(truth.defs[key])
        return _mcp(tracer, svc, "codegraph_find_references", {"symbol": sym}), ("references", key)
    if op == "search":
        return _mcp(tracer, svc, "codegraph_search", {"query": key}), ("search", key)
    if op == "completion":
        return lsp.get_completion(key[:3]), ("completion", key[:3])
    if op == "impact":
        sym = truth.symbol(truth.defs[key])
        return adv.analyze_impact(sym, max_depth=IMPACT_DEPTH), ("impact", key, IMPACT_DEPTH)
    if op == "callgraph":
        root = truth.node_id(truth.defs[key])
        return adv.build_call_graph(root, "out", CALLGRAPH_DEPTH), ("callgraph", key, CALLGRAPH_DEPTH)
    if op == "deps":
        pkg = f"go/{key}/{key}"
        return adv.analyze_dependencies(pkg), ("deps", pkg)
    if op == "get_source":
        return _mcp(tracer, svc, "codegraph_get_source", {"function_name": key}), ("get_source", key)
    if op == "analyze_function":
        return (_mcp(tracer, svc, "codegraph_analyze_function", {"function_name": key}),
                ("analyze_function", key))
    raise ValueError(op)


def run(spark, tracer, seed: int, seconds: float, work: str) -> dict:
    """Index the project, write, reload and persist the graph, then serve.
    Set-up runs once: one costs 20-30 s at 4 cores (see README.md)."""
    from codegraph_spark.services import AdvancedService, LSPService, MCPService

    project = Project(seed, SIZE)
    proj_dir = os.path.join(work, "project-v0")
    t0 = time.perf_counter()
    project.write(proj_dir)
    truth = Truth(project, proj_dir)
    tracer.active = tracer.enabled
    graph, files, counts = build_graph(spark, tracer, proj_dir, os.path.join(work, "graph"), truth)
    tracer.active = False
    setup_s = time.perf_counter() - t0
    print(f"perfbench: set-up: {setup_s:.2f} s", file=sys.stderr)

    checker = Checker(truth)
    out = serve(tracer, seconds, checker, Requests(seed, truth), truth,
                LSPService(graph), AdvancedService(graph), MCPService(graph, files))
    out.update(setup_reps_s=[setup_s], counts=counts, errors=checker.errors)
    return out


def serve(tracer, seconds, checker, stream, truth, lsp, adv, svc) -> dict:
    """One client, no think time: each unit is one pass of the mix."""
    out = {"attempted": 0, "failed": 0, "latencies_ms": []}

    def one_pass(warm: bool) -> float:
        t_pass = time.perf_counter()
        for op in SERVICE_OPS:  # one pass: each operation once
            key = stream.key(op)
            out["attempted"] += 1
            t0 = time.perf_counter()
            try:
                with tracer.span(f"services.{op}"):
                    resp, expect = issue(op, key, truth, lsp, adv, svc, tracer)
                dt = time.perf_counter() - t0
                ok = checker.check(expect, resp)
            except Exception as e:  # a failed request is counted, not fatal
                dt = time.perf_counter() - t0
                ok = False
                checker.note(op, key, repr(e))
            out["failed"] += not ok
            if warm:
                out["latencies_ms"].append(dt * 1e3)
        return time.perf_counter() - t_pass

    out.update(common.run_units(tracer, seconds, one_pass))
    return out
