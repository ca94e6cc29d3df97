"""The scaling gate's probe contract (tools/bench_scaling.py).

``wait_for_clean_phase`` gates every N-vs-4N pair on the ``copy_gbps``
and ``fault_gbps`` keys that tools/box_probe.py prints. A renamed key
or a crashing probe would read as a degraded box on every poll and
quietly spend the whole gate budget, so the contract is pinned here.
"""

import importlib.util
from pathlib import Path

TOOL = Path(__file__).resolve().parent.parent / "tools" / "bench_scaling.py"


def test_box_probe_feeds_scaling_gate():
    spec = importlib.util.spec_from_file_location("bench_scaling", TOOL)
    bench_scaling = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench_scaling)
    p = bench_scaling._probe()
    assert "probe_error" not in p, p
    assert isinstance(p["copy_gbps"], float)
    assert isinstance(p["fault_gbps"], float)
