"""Tests for the seeded project generator and its truth.

Run with ``python3 -m pytest perfbench -q`` from the repository root.
They need no Spark session: the truth is checked against what was
written (Python's own ``ast``) and against the static indexer's pure
per-file kernels and the SCIP codec.
"""

from __future__ import annotations

import ast
import os
import random

import pytest

from perfbench.codegen import Project, Size, Truth, indexed_path, zipf_sampler

SMALL = Size(go_pkgs=3, go_files_per_pkg=3, py_modules=4)


def _tree(root: str) -> dict[str, bytes]:
    out = {}
    for dirpath, _, names in os.walk(root):
        for name in names:
            path = os.path.join(dirpath, name)
            with open(path, "rb") as fh:
                out[os.path.relpath(path, root)] = fh.read()
    return out


def _write(project: Project, root: str) -> Truth:
    from codegraph_spark.sources.scip import encode_scip

    project.write(root)
    truth = Truth(project, root)
    with open(os.path.join(root, "index.scip"), "wb") as fh:
        fh.write(encode_scip(truth.scip_documents()))
    return truth


def test_same_seed_gives_byte_identical_output(tmp_path):
    root = str(tmp_path / "p")
    _write(Project(7, SMALL), root)
    first = _tree(root)
    _write(Project(7, SMALL), root)
    assert _tree(root) == first
    other = str(tmp_path / "q")
    _write(Project(7, SMALL), other)
    sources = {k: v for k, v in first.items() if k != "index.scip"}
    assert {k: v for k, v in _tree(other).items() if k != "index.scip"} == sources


def test_different_seeds_differ():
    assert Project(1, SMALL).texts() != Project(2, SMALL).texts()


def test_python_truth_matches_ast(tmp_path):
    root = str(tmp_path / "p")
    truth = _write(Project(3, SMALL), root)
    for rel, text in truth.texts.items():
        if not rel.endswith(".py"):
            continue
        tree = ast.parse(text)
        spans, calls = {}, {}
        for node in ast.walk(tree):
            if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
                spans[node.name] = (node.lineno, node.end_lineno)
            if isinstance(node, ast.FunctionDef):
                calls[node.name] = [(c.func.id, c.lineno - 1, c.func.col_offset)
                                    for c in ast.walk(node)
                                    if isinstance(c, ast.Call) and isinstance(c.func, ast.Name)]
        defs = [d for d in truth.defs.values() if d.rel == rel and d.label != "Variable"]
        assert {d.name: (d.start, d.end) for d in defs} == spans
        for d in defs:
            if d.label != "Class":
                assert sorted(d.calls) == sorted(calls[d.name])


def _indexed(truth: Truth):
    """Run the static indexer's per-file kernels on the written tree and
    resolve Go call candidates the way ``split_records`` does."""
    from codegraph_spark.sources.static_index import parse_source_file

    nodes, edges, cands = {}, set(), []
    for rel, text in truth.texts.items():
        for r in parse_source_file(indexed_path(truth.root, rel), text):
            if r["rec"] == "node":
                nodes[r["id"]] = r
            elif r["rec"] == "edge" and r["label"] == "CALLS":
                edges.add((r["id"], r["dst"]))
            elif r["rec"] == "callcand":
                cands.append((r["id"], r["name"], r["fqn"]))
    go_funcs = {(n["fqn"][: -len(n["name"]) - 1], n["name"]): i for i, n in nodes.items()
                if n["label"] == "Function" and n["language"] == "Go"}
    for src, name, pkg in cands:
        dst = go_funcs.get((pkg, name))
        if dst is not None and dst != src:
            edges.add((src, dst))
    return nodes, edges


@pytest.mark.parametrize("edited", [False, True])
def test_truth_matches_the_indexer_kernels(tmp_path, edited):
    project = Project(5, SMALL)
    if edited:
        project.edit(0.5)
    truth = _write(project, str(tmp_path / "p"))
    nodes, edges = _indexed(truth)
    by_id = {truth.node_id(d): d for d in truth.defs.values()}
    labelled = {i: n for i, n in nodes.items()
                if n["label"] in ("Function", "Method", "Class", "Variable")}
    assert set(labelled) == set(by_id)
    for i, d in by_id.items():
        n = labelled[i]
        assert (n["name"], n["label"], n["path"]) == (d.name, d.label, truth.path(d))
        assert (n["start_line"], n["end_line"], n["signature"]) == (d.start, d.end, d.signature)
    symbols = {n["symbol"] for n in nodes.values() if n["label"] == "Symbol"}
    assert {truth.symbol(d) for d in truth.defs.values() if d.label != "Variable"} == symbols
    want = {(truth.node_id(truth.defs[a]), truth.node_id(truth.defs[b]))
            for a, bs in truth.callees.items() for b in bs}
    assert edges == want


def test_scip_index_records_every_resolved_call_site(tmp_path):
    from codegraph_spark.sources.scip import decode_scip

    root = str(tmp_path / "p")
    truth = _write(Project(9, SMALL), root)
    with open(os.path.join(root, "index.scip"), "rb") as fh:
        occs = decode_scip(fh.read())["occurrences"]
    got = sorted((o["symbol"], o["path"], o["start_line"]) for o in occs)
    want = sorted((truth.symbol(truth.defs[callee]), rel, line)
                  for callee, sites in truth.sites.items() for rel, line in sites)
    assert got == want
    for o in occs:  # each range covers the callee's name at the call site
        line = truth.texts[o["path"]].split("\n")[o["start_line"]]
        name = o["symbol"].rsplit(".", 2)[-2].rstrip("()")
        assert line[o["start_col"]:o["end_col"]] == name


def test_edit_changes_the_tree_and_leaves_no_dangling_call():
    project = Project(11, SMALL)
    before = Project(11, SMALL).texts()
    project.edit(0.5)
    after = Truth(project, "/p")
    assert after.texts != before
    for d in after.callables():
        assert {c for c, _, _ in d.calls} == after.callees[d.name]


def test_zipf_sampler_is_seeded_and_skewed():
    items = list(range(50))
    a = zipf_sampler(random.Random(4), items)
    b = zipf_sampler(random.Random(4), items)
    draws = [a() for _ in range(2000)]
    assert draws == [b() for _ in range(2000)]
    counts = sorted((draws.count(i) for i in items), reverse=True)
    assert counts[0] > 10 * counts[-1] + 50
