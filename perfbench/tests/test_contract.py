"""BENCHMARK.json names exactly the metrics the benchmark prints."""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402
import run  # noqa: E402
import traced  # noqa: E402
import workloads  # noqa: E402


def _bench() -> dict:
    with open(os.path.join(HERE, "..", "..", "BENCHMARK.json"), encoding="utf-8") as f:
        return json.load(f)


def test_metric_lists_match_the_code():
    bench = _bench()
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == traced.PER_LAYER_UNITS
    assert [w["name"] for w in bench["workloads"]] == sorted(gen.GENERATORS) == sorted(
        workloads.WORKLOADS
    )

