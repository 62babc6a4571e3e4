"""Seeded code-project generator with ground truth (stdlib only).

Writes a multi-package Go project (cross-file calls inside each
package, one struct type with methods per file) plus Python modules
(classes with methods, module functions, same-file calls), and an
``index.scip`` with one reference occurrence per resolved call site.

The generator keeps the project as a small model (:class:`Project`),
so it can be edited (add, remove and rename functions, retarget calls)
and re-rendered. :class:`Truth` derives the
expected answer of every lookup the benchmark issues from that model,
following the indexers' documented rules: Go bare-name calls resolve
within the package directory, Python bare-name calls within the file,
and SCIP ranges keep their 0-based lines.

Same seed, same root ⇒ byte-identical files.
"""

from __future__ import annotations

import bisect
import os
import pathlib
import random
from dataclasses import dataclass, field

VERBS = ["load", "save", "parse", "build", "fetch", "merge", "scan", "emit",
         "check", "resolve", "flush", "split", "route", "encode", "decode",
         "render"]
NOUNS = ["user", "order", "token", "graph", "record", "cache", "batch",
         "event", "query", "shard", "frame", "block", "chunk", "state",
         "queue", "plan"]
PKGS = ["alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf",
        "hotel", "india", "juliet", "kilo", "lima", "mike", "november",
        "oscar", "papa"]


@dataclass(frozen=True)
class Size:
    """Project shape. Node and edge counts scale with the product."""

    go_pkgs: int = 6
    go_files_per_pkg: int = 4
    go_funcs_per_file: int = 5
    go_methods_per_type: int = 2
    py_modules: int = 12
    py_funcs_per_module: int = 4
    py_classes_per_module: int = 2
    py_methods_per_class: int = 3
    max_calls: int = 3


@dataclass
class Fn:
    name: str
    calls: list[str] = field(default_factory=list)


@dataclass
class SourceFile:
    rel: str            # path relative to the project root
    lang: str           # "go" | "py"
    pkg: str            # Go package name / Python module name
    var: str            # one top-level variable
    types: list[tuple[str, list[Fn]]]  # Go struct / Python class -> methods
    funcs: list[Fn]


@dataclass
class Def:
    """One definition as the static indexer records it."""

    name: str
    label: str          # Function | Method | Class | Variable
    rel: str
    pkg: str
    start: int          # 1-based, inclusive
    end: int
    owner: str | None   # receiver type / class of a method
    signature: str | None
    calls: list[tuple[str, int, int]]  # (callee, 0-based line, column)


class Project:
    """The generated tree as a model; :meth:`write` renders it."""

    def __init__(self, seed: int, size: Size = Size()):
        self.rng = random.Random(seed)
        self.size = size
        self.files: list[SourceFile] = []
        self._serial = 0
        self._build()

    # -- naming --------------------------------------------------------
    def fresh_name(self, lang: str, kind: str = "fn") -> str:
        """Globally unique identifier: verb + noun + serial."""
        self._serial += 1
        v, n = self.rng.choice(VERBS), self.rng.choice(NOUNS)
        k = self._serial
        if kind == "type":
            return f"{n.capitalize()}{'Store' if lang == 'go' else 'Service'}{k}"
        if kind == "var":
            return f"Max{n.capitalize()}{k}" if lang == "go" else f"MAX_{n.upper()}_{k}"
        return f"{v.capitalize()}{n.capitalize()}{k}" if lang == "go" else f"{v}_{n}_{k}"

    def _build(self) -> None:
        s = self.size
        for p in range(s.go_pkgs):
            pkg = PKGS[p % len(PKGS)] + ("" if p < len(PKGS) else str(p))
            for f in range(s.go_files_per_pkg):
                self.files.append(SourceFile(
                    rel=f"go/{pkg}/{pkg}_{f:02d}.go", lang="go", pkg=pkg,
                    var=self.fresh_name("go", "var"),
                    types=[(self.fresh_name("go", "type"),
                            [Fn(self.fresh_name("go"))
                             for _ in range(s.go_methods_per_type)])],
                    funcs=[Fn(self.fresh_name("go"))
                           for _ in range(s.go_funcs_per_file)],
                ))
        for m in range(s.py_modules):
            word = PKGS[m % len(PKGS)]
            mod = f"mod_{word}_{m:02d}"
            self.files.append(SourceFile(
                rel=f"py/{word}/{mod}.py", lang="py", pkg=mod,
                var=self.fresh_name("py", "var"),
                types=[(self.fresh_name("py", "type"),
                        [Fn(self.fresh_name("py"))
                         for _ in range(s.py_methods_per_class)])
                       for _ in range(s.py_classes_per_module)],
                funcs=[Fn(self.fresh_name("py"))
                       for _ in range(s.py_funcs_per_module)],
            ))
        for sf in self.files:
            for fn in self.callers_in(sf):
                self.pick_calls(sf, fn)

    # -- call structure ------------------------------------------------
    def callers_in(self, sf: SourceFile) -> list[Fn]:
        return sf.funcs + [m for _, ms in sf.types for m in ms]

    def call_targets(self, sf: SourceFile) -> list[str]:
        """Functions a bare call in *sf* may name: the Go package's
        functions (any file), or the Python module's own functions."""
        if sf.lang == "go":
            return [f.name for o in self.files if o.lang == "go" and o.pkg == sf.pkg
                    for f in o.funcs]
        return [f.name for f in sf.funcs]

    def pick_calls(self, sf: SourceFile, fn: Fn) -> None:
        pool = [t for t in self.call_targets(sf) if t != fn.name]
        k = min(len(pool), self.rng.randint(0, self.size.max_calls))
        fn.calls = self.rng.sample(pool, k)

    # -- edits ---------------------------------------------------------
    def edit(self, share: float) -> None:
        """Apply one seeded edit to *share* of the files: add, remove or
        rename a function, or retarget a function's calls. Callers of a
        removed or renamed function are updated, so no call dangles."""
        rng = self.rng
        n = max(1, round(share * len(self.files)))
        for sf in rng.sample(self.files, n):
            kind = rng.choice(("add", "remove", "rename", "retarget"))
            if kind in ("remove", "rename") and len(sf.funcs) < 2:
                kind = "add"
            if kind == "add":
                fn = Fn(self.fresh_name(sf.lang))
                sf.funcs.append(fn)
                self.pick_calls(sf, fn)
                caller = rng.choice([f for f in self.callers_in(sf) if f is not fn])
                caller.calls.append(fn.name)
            elif kind == "remove":
                fn = sf.funcs.pop(rng.randrange(len(sf.funcs)))
                self._replace_calls(fn.name, rng.choice(self.call_targets(sf)))
            elif kind == "rename":
                fn = rng.choice(sf.funcs)
                old, fn.name = fn.name, self.fresh_name(sf.lang)
                self._replace_calls(old, fn.name)
            else:
                self.pick_calls(sf, rng.choice(self.callers_in(sf)))

    def _replace_calls(self, old: str, new: str) -> None:
        for sf in self.files:
            for fn in self.callers_in(sf):
                fn.calls = [new if c == old else c for c in fn.calls]
                fn.calls = [c for i, c in enumerate(fn.calls)
                            if c != fn.name and c not in fn.calls[:i]]

    # -- rendering -----------------------------------------------------
    def render(self, sf: SourceFile) -> tuple[str, list[Def]]:
        return _render_go(sf) if sf.lang == "go" else _render_py(sf)

    def write(self, root: str) -> None:
        """Write every file under *root*."""
        for rel, text in self.texts().items():
            path = os.path.join(root, rel)
            os.makedirs(os.path.dirname(path), exist_ok=True)
            with open(path, "w", encoding="utf-8") as fh:
                fh.write(text)

    def texts(self) -> dict[str, str]:
        return {sf.rel: self.render(sf)[0] for sf in self.files}


def _render_go(sf: SourceFile) -> tuple[str, list[Def]]:
    lines: list[str] = []
    defs: list[Def] = []
    lines += [f"// Package {sf.pkg} is generated benchmark input.", f"package {sf.pkg}", ""]
    lines += [f"// {sf.var} bounds a batch.", f"var {sf.var} = {len(sf.funcs) + 7}", ""]
    defs.append(Def(sf.var, "Variable", sf.rel, sf.pkg, len(lines) - 1, len(lines) - 1,
                    None, None, []))

    def body(fn: Fn, head: str, owner: str | None, label: str, sig: str) -> None:
        lines.append(f"// {fn.name} is generated.")
        start = len(lines) + 1
        lines.append(head)
        lines.append("\tx := id")
        calls = []
        for c in fn.calls:
            calls.append((c, len(lines), 6))
            lines.append(f"\tx += {c}(x, name)")
        lines.append("\treturn x")
        lines.append("}")
        defs.append(Def(fn.name, label, sf.rel, sf.pkg, start, len(lines), owner, sig, calls))
        lines.append("")

    for tname, methods in sf.types:
        lines.append(f"// {tname} holds state.")
        start = len(lines) + 1
        lines += [f"type {tname} struct {{", "\tn int", "}"]
        defs.append(Def(tname, "Class", sf.rel, sf.pkg, start, len(lines), None, None, []))
        lines.append("")
        for m in methods:
            sig = f"(s *{tname}) {m.name}(id int, name string) int"
            body(m, f"func {sig} {{", tname, "Method", sig)
    for fn in sf.funcs:
        sig = f"{fn.name}(id int, name string) int"
        body(fn, f"func {sig} {{", None, "Function", sig)
    return "\n".join(lines), defs


def _render_py(sf: SourceFile) -> tuple[str, list[Def]]:
    lines: list[str] = [f'"""Module {sf.pkg}: generated benchmark input."""', ""]
    defs: list[Def] = []
    lines.append(f"{sf.var} = {len(sf.funcs) + 7}")
    defs.append(Def(sf.var, "Variable", sf.rel, sf.pkg, len(lines), len(lines), None, None, []))

    def body(fn: Fn, indent: str, owner: str | None) -> None:
        params = "self, a, b" if owner else "a, b"
        start = len(lines) + 1
        lines.append(f"{indent}def {fn.name}({params}):")
        lines.append(f'{indent}    """{fn.name} is generated."""')
        lines.append(f"{indent}    x = a")
        calls = []
        for c in fn.calls:
            calls.append((c, len(lines), len(indent) + 9))
            lines.append(f"{indent}    x += {c}(x, b)")
        lines.append(f"{indent}    return x")
        defs.append(Def(fn.name, "Method" if owner else "Function", sf.rel, sf.pkg,
                        start, len(lines), owner, f"{fn.name}({params})", calls))

    for fn in sf.funcs:
        lines += ["", ""]
        body(fn, "", None)
    for cname, methods in sf.types:
        lines += ["", ""]
        start = len(lines) + 1
        lines.append(f"class {cname}:")
        lines.append(f'    """{cname} is generated."""')
        for m in methods:
            lines.append("")
            body(m, "    ", cname)
        defs.append(Def(cname, "Class", sf.rel, sf.pkg, start, len(lines), None, None, []))
    return "\n".join(lines) + "\n", defs


def indexed_path(root: str, rel: str) -> str:
    """A file's ``path`` as the static indexer stores it: the file URI
    Spark's text source reports, minus its ``file:`` scheme."""
    uri = pathlib.Path(os.path.abspath(os.path.join(root, rel))).as_uri()
    return uri.removeprefix("file:")


class Truth:
    """Expected answers for a project written under *root*."""

    def __init__(self, project: Project, root: str):
        self.root = root
        self.texts = project.texts()
        self.defs: dict[str, Def] = {}
        for sf in project.files:
            for d in project.render(sf)[1]:
                self.defs[d.name] = d
        self._edges()

    # -- identities ----------------------------------------------------
    def path(self, d: Def) -> str:
        return indexed_path(self.root, d.rel)

    def module(self, d: Def) -> str:
        if d.rel.endswith(".go"):
            return f"{self.path(d).rsplit('/', 1)[0].lstrip('/')}/{d.pkg}"
        return d.pkg

    def fqn(self, d: Def) -> str:
        mid = f"{d.owner}." if d.owner else ""
        return f"{self.module(d)}.{mid}{d.name}"

    def symbol(self, d: Def) -> str:
        scheme = "scip-go gomod" if d.rel.endswith(".go") else "scip-python pypi"
        suffix = {"Class": "#", "Function": "().", "Method": "#m().",
                  "Variable": "."}[d.label]
        return f"{scheme} {self.module(d)} v0 {self.fqn(d)}{suffix}"

    def node_id(self, d: Def) -> str:
        kind = {"Function": "function", "Method": "method", "Class": "class",
                "Variable": "variable"}[d.label]
        return f"{kind}:{self.path(d)}:{self.fqn(d)}"

    def callables(self) -> list[Def]:
        return [d for d in self.defs.values() if d.label in ("Function", "Method")]

    # -- resolved graph ------------------------------------------------
    def _edges(self) -> None:
        """CALLS edges by the indexers' rules, plus the call sites the
        SCIP index records as references."""
        go_pkg_funcs: dict[str, set[str]] = {}
        file_funcs: dict[str, set[str]] = {}
        for d in self.defs.values():
            if d.label == "Function":
                file_funcs.setdefault(d.rel, set()).add(d.name)
                if d.rel.endswith(".go"):
                    go_pkg_funcs.setdefault(os.path.dirname(d.rel), set()).add(d.name)
        self.callees: dict[str, set[str]] = {d.name: set() for d in self.callables()}
        self.callers: dict[str, set[str]] = {d.name: set() for d in self.callables()}
        self.sites: dict[str, list[tuple[str, int]]] = {}
        for d in self.callables():
            scope = (go_pkg_funcs.get(os.path.dirname(d.rel), set())
                     if d.rel.endswith(".go") else file_funcs.get(d.rel, set()))
            for callee, line0, _ in d.calls:
                if callee not in scope or callee == d.name:
                    continue
                self.callees[d.name].add(callee)
                self.callers[callee].add(d.name)
                self.sites.setdefault(callee, []).append((d.rel, line0))

    def scip_documents(self) -> list[dict]:
        """``encode_scip`` input: every file with its reference
        occurrences (single-line ranges, 0-based lines)."""
        docs = []
        by_rel: dict[str, list[dict]] = {}
        for d in self.callables():
            for callee, line0, col in d.calls:
                if callee in self.callers and d.name in self.callers[callee]:
                    c = self.defs[callee]
                    by_rel.setdefault(d.rel, []).append({
                        "symbol": self.symbol(c), "symbol_roles": 0,
                        "range": [line0, col, col + len(callee)],
                    })
        for rel in sorted(self.texts):
            docs.append({
                "relative_path": rel,
                "language": "go" if rel.endswith(".go") else "python",
                "text": self.texts[rel],
                "occurrences": by_rel.get(rel, []),
            })
        return docs

    # -- expected answers ----------------------------------------------
    def definition(self, name: str) -> dict | None:
        d = self.defs.get(name)
        if d is None:
            return None
        return {"name": d.name, "kind": d.label, "location": {
            "filePath": self.path(d), "startLine": d.start, "endLine": d.end}}

    def references(self, name: str) -> list[dict]:
        return [{"filePath": rel, "startLine": line0, "endLine": line0}
                for rel, line0 in sorted(self.sites.get(name, []))]

    def search(self, term: str, limit: int = 20) -> list[str]:
        t = term.lower()
        rank = {"Function": 1, "Method": 1, "Class": 2, "Variable": 3}
        hits = [d for d in self.defs.values()
                if any(t in (v or "").lower()
                       for v in (d.name, d.signature, self.path(d)))]
        hits.sort(key=lambda d: (rank[d.label], d.name))
        return [d.name for d in hits[:limit]]

    def completion(self, prefix: str, limit: int = 20) -> list[str]:
        p = prefix.lower()
        return sorted(n for n in self.defs if n.lower().startswith(p))[:limit]

    def _bfs(self, start: str, depth: int, adj: dict[str, set[str]]) -> dict[str, int]:
        hops = {start: 0}
        frontier = [start]
        for h in range(1, depth + 1):
            nxt = []
            for n in frontier:
                for m in adj.get(n, ()):
                    if m not in hops:
                        hops[m] = h
                        nxt.append(m)
            frontier = nxt
        return hops

    def impact(self, name: str, depth: int) -> dict[str, int]:
        """Reverse-CALLS closure up to *depth*, seed excluded."""
        hops = self._bfs(name, depth, self.callers)
        hops.pop(name)
        return hops

    def callgraph(self, name: str, depth: int) -> tuple[dict[str, int], set[tuple[str, str]]]:
        hops = self._bfs(name, depth, self.callees)
        edges = {(a, b) for a in hops for b in self.callees.get(a, ()) if b in hops}
        return hops, edges

    def deps(self, service_pkg: str) -> list[dict]:
        """analyze_dependencies: callers of every callee whose symbol
        does not mention *service_pkg*, grouped by the callee's module."""
        groups: dict[str, set[str]] = {}
        for caller, callees in self.callees.items():
            for callee in callees:
                sym = self.symbol(self.defs[callee])
                if service_pkg in sym:
                    continue
                groups.setdefault(sym.split(" ")[2], set()).add(caller)
        return [{"foreignServiceName": k, "callingFunctions": sorted(v),
                 "callCount": len(v)} for k, v in sorted(groups.items())]

    def source(self, name: str) -> str:
        d = self.defs[name]
        return "\n".join(self.texts[d.rel].split("\n")[d.start - 1:d.end])


def zipf_sampler(rng: random.Random, items: list, s: float = 1.1):
    """Draw from *items* with weight 1/rank**s over a seeded shuffle,
    so a few keys repeat often (the skew a result cache would see)."""
    order = list(items)
    rng.shuffle(order)
    cum, tot = [], 0.0
    for r in range(1, len(order) + 1):
        tot += 1.0 / r ** s
        cum.append(tot)
    return lambda: order[bisect.bisect_left(cum, rng.random() * tot)]
