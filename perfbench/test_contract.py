"""BENCHMARK.json names exactly what run.py prints."""

from __future__ import annotations

import json
import os

from perfbench import metrics, run

SPEC = os.path.join(run.REPO, "BENCHMARK.json")


def _spec() -> dict:
    with open(SPEC, encoding="utf-8") as fh:
        return json.load(fh)


def test_workloads_match():
    assert [w["name"] for w in _spec()["workloads"]] == list(run.WORKLOADS)


def test_metric_names_and_units_match():
    spec = _spec()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == metrics.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == metrics.PER_LAYER


def test_setup_bound_is_the_largest():
    bounds = {m["name"]: m["bound"] for m in _spec()["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values()) <= 0.25


def test_batch_rows_come_from_the_headline():
    from bench import HEADLINE

    assert set(metrics.BATCH_ROWS) <= set(HEADLINE)
