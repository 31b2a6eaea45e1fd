import json
import os

from perfbench.run import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_declared_workloads_are_the_runnable_ones():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert tuple(w["name"] for w in spec["workloads"]) == WORKLOADS
