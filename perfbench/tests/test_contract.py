"""BENCHMARK.json names exactly the workloads the runner has, within the
contract's limits."""

import run
from workloads import WORKLOADS

SPEC = run.load_spec()


def test_workloads_match():
    assert [w["name"] for w in SPEC["workloads"]] == list(WORKLOADS)


def test_bounds_are_within_limits():
    assert all(0 < m["bound"] <= 0.25 for m in SPEC["end_to_end"])
