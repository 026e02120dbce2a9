"""bench.py --scaling's level rule (no Spark): 4N is the session's core
count and N a quarter of it, never below one core."""

import importlib.util
import os

import pytest

_spec = importlib.util.spec_from_file_location(
    "bench", os.path.join(os.path.dirname(__file__), "..", "bench.py")
)
_bench = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(_bench)


@pytest.mark.parametrize(
    "hi, levels", [(4, (1, 4)), (8, (2, 8)), (32, (8, 32)), (2, (1, 2))]
)
def test_levels_are_a_quarter_of_the_cores_and_the_cores(hi, levels):
    assert _bench.scaling_levels(hi) == levels


def test_one_cpu_exits_instead_of_a_one_to_one_efficiency():
    with pytest.raises(SystemExit, match="at least 2 CPUs"):
        _bench.scaling_levels(1)
