"""BENCHMARK.json names exactly the workloads and metrics run.py reports.

    python3 -m pytest perfbench/test_contract.py -q
"""

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from run import E2E_UNITS, LAYER_UNITS  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def test_workloads_and_metrics_match():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        b = json.load(f)
    assert [w["name"] for w in b["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == E2E_UNITS
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == LAYER_UNITS
