"""Answer checker: compares service responses with the generator's truth."""

from __future__ import annotations

from perfbench.codegen import Truth

MAX_ERRORS = 20


class Checker:
    def __init__(self, truth: Truth):
        self.truth = truth
        self.errors: list[str] = []

    def note(self, op: str, key: str, detail: str) -> None:
        if len(self.errors) < MAX_ERRORS:
            self.errors.append(f"{op}({key}): {detail}")

    def check(self, expect: tuple, resp) -> bool:
        op, key = expect[0], expect[1]
        got, want = getattr(self, op)(key, resp, *expect[2:])
        if got != want:
            self.note(op, key, f"got {got!r}, want {want!r}")
            return False
        return True

    # one method per operation: (normalized response, expected answer)
    def definition(self, key, resp):
        got = None if resp is None else {k: resp[k] for k in ("name", "kind", "location")}
        return got, self.truth.definition(key)

    def references(self, key, resp):
        return [r["location"] for r in resp["references"]], self.truth.references(key)

    def search(self, key, resp):
        return [r["name"] for r in resp["results"]], self.truth.search(key)

    def completion(self, key, resp):
        return resp, self.truth.completion(key)

    def impact(self, key, resp, depth):
        got = {r["name"]: r["hops"] for r in resp["affectedFunctions"]}
        if resp["affectedAPIs"]:
            got["<apis>"] = len(resp["affectedAPIs"])
        return got, self.truth.impact(key, depth)

    def callgraph(self, key, resp, depth):
        names = {r["id"]: r["name"] for r in resp["nodes"]}
        got = ({r["name"]: r["hops"] for r in resp["nodes"]},
               {(names.get(e["src"]), names.get(e["dst"])) for e in resp["edges"]})
        return got, self.truth.callgraph(key, depth)

    def deps(self, key, resp):
        return resp["dependencies"], self.truth.deps(key)

    def get_source(self, key, resp):
        return resp.get("source"), self.truth.source(key)

    def analyze_function(self, key, resp):
        got = (resp["callers"], resp["callees"])
        return got, (sorted(self.truth.callers[key])[:10], sorted(self.truth.callees[key])[:10])
