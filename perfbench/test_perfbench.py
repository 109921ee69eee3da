"""Self-tests of the benchmark's own bookkeeping (no Spark needed).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import gen  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402
from workloads import Ledger  # noqa: E402


def _failing_check():
    raise RuntimeError("injected failure")


def test_failed_operation_counts_in_error_rate():
    ledger = Ledger()
    for _ in range(3):
        ledger.run(1, lambda: None)
    ledger.run(1, _failing_check)
    ledger.run(2, lambda: "output differs")
    assert ledger.attempted == 6
    assert ledger.failed == 3
    assert ledger.error_rate == 0.5
    assert len(ledger.errors) == 2
    assert "injected failure" in ledger.errors[0]


def test_cycle_that_raises_fails_the_rest_of_its_round(tmp_path, monkeypatch):
    sys.path.insert(0, str(HERE.parent))
    from ntd_gtfs_to_socrata_spark import __main__ as cli

    def boom(*args, **kwargs):
        raise RuntimeError("injected failure")

    wl = workloads.GtfsStopsSync(str(tmp_path))
    wl.FEEDS, wl.STOPS = 2, 20
    wl.generate(1)
    monkeypatch.setattr(cli, "run_stops_map", boom)
    ledger = Ledger()
    assert wl.job(None, ledger, None) == {}
    assert (ledger.attempted, ledger.failed) == (wl.CYCLES, wl.CYCLES)
    assert ledger.error_rate == 1.0


def test_benchmark_json_names_every_printed_metric():
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} == set(run.workloads.WORKLOADS)


def test_generators_are_seeded(tmp_path):
    a = gen.gen_gtfs(7, str(tmp_path / "a"), n_feeds=3, n_stops=40, n_cycles=2)
    b = gen.gen_gtfs(7, str(tmp_path / "b"), n_feeds=3, n_stops=40, n_cycles=2)
    c = gen.gen_gtfs(8, str(tmp_path / "c"), n_feeds=3, n_stops=40, n_cycles=2)
    key = [cy["key_hash"] for cy in a["cycles"]]
    assert key == [cy["key_hash"] for cy in b["cycles"]]
    assert key != [cy["key_hash"] for cy in c["cycles"]]
    for name in ("feed_000.zip", "broken_0.zip"):
        assert (tmp_path / "a/cycle_1" / name).read_bytes() == (
            tmp_path / "b/cycle_1" / name).read_bytes()
