"""bench.py's last stdout line must survive a 2,000-character tail
capture: a summary of at most SUMMARY_MAX_CHARS characters, with the
per-run attribution left to the full-result side file."""

import importlib.util
import json
import os

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def bench():
    spec = importlib.util.spec_from_file_location(
        "bench", os.path.join(ROOT, "bench.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_summary_is_short_and_keeps_the_headline(bench):
    # a full result saved from `python bench.py` (sf0.01, 4 CPUs)
    with open(os.path.join(ROOT, "tests", "data", "bench_full_sf0.01.json")) as f:
        full = json.load(f)
    assert len(json.dumps(full)) > bench.SUMMARY_MAX_CHARS

    line = bench.summary(full)
    assert len(line) <= bench.SUMMARY_MAX_CHARS == 1500
    got = json.loads(line)
    assert set(got) == {
        "metric", "value", "unit", "queries", "sf", "cpus", "throughput",
        "scaling_evidence",
    }
    for k in ("metric", "value", "unit", "queries", "sf", "cpus", "throughput"):
        assert got[k] == full[k], k
    ev = got["scaling_evidence"]
    assert ev["efficiency_n_to_4n"] == full["scaling_evidence"]["efficiency_n_to_4n"]
    assert ev["asymptote"]["turns_per_sec"] == (
        full["scaling_evidence"]["asymptote"]["turns_per_sec"]
    )
    assert "note" not in ev["asymptote"] and "source" not in ev

