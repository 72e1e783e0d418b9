"""Tiny-size self-check of the benchmark itself.

Every metric BENCHMARK.json names is printed with its unit in both modes,
the oracle gate trips on a reordered schedule, and the benchmark fails
without printing a result where the engine is missing.

    python3 -m pytest perfbench/test_selfcheck.py -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import fixtures  # noqa: E402
import workloads  # noqa: E402

TINY = workloads.Workload("tiny", n_seeds=800, n_docs=400, round_ms=3_000)


def _declared(kind: str) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


@pytest.mark.parametrize("trace,kind", [(0, "end_to_end"), (1, "per_layer")])
def test_every_metric_printed_with_unit(trace, kind):
    # a fresh process per run, as the benchmark is run, with the tiny
    # workload registered in it
    code = (
        f"import sys; sys.path[:0] = {[HERE, ROOT]!r}\n"
        "import run, workloads\n"
        f"workloads.WORKLOADS['tiny'] = workloads.{TINY!r}\n"
        f"sys.exit(run.main(['--workload', 'tiny', '--seed', '3', '--seconds', '0',"
        f" '--trace', '{trace}']))\n"
    )
    p = subprocess.run([sys.executable, "-c", code], cwd=ROOT, capture_output=True,
                       text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert (out["correct"], out["failed"]) == (True, 0) and out["attempted"] >= 1
    assert {k: v["unit"] for k, v in out["metrics"].items()} == _declared(kind)
    assert all(isinstance(v["value"], (int, float)) for v in out["metrics"].values())


def test_oracle_gate_trips_on_reordered_schedule():
    res = fixtures.oracle(TINY, fixtures.generate(TINY, 3))
    expected = fixtures.digests(res)
    tables = {
        "schedule": list(res.schedule),
        "seen": set(res.seen),
        "pending": list(res.frontier_pending),
    }
    assert workloads.oracle_mismatches(tables, expected) == []
    swapped = list(res.schedule)
    swapped[0], swapped[1] = swapped[1], swapped[0]
    assert workloads.oracle_mismatches({**tables, "schedule": swapped}, expected) == [
        "schedule"
    ]


def test_fails_without_the_engine(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "young_crawl", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=180,
    )
    assert p.returncode != 0
    assert not p.stdout.strip()
