"""Tests of the benchmark itself: its closed-form model, its job check on a
one-core session, and its refusal to run without the program.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import model  # noqa: E402
import run  # noqa: E402

TINY = {
    "broad": model.Shape(hosts=6, leaves=2, pages_per_leaf=30),
    "recrawl": model.Shape(hosts=6, leaves=2, pages_per_leaf=30, history=500),
}


def test_closed_form_counts():
    e = model.expected(run.WORKLOADS["broad"])
    assert e.pages == 64 * 4 * 250
    assert e.nodes == 64 * (1 + 2 + 4)
    # p0_* is disallowed except p0_1, p0_1x, p0_1xx: 250 - 111 per host
    assert e.pages_dropped == 64 * (250 - 111)
    # Crawl-delay 1..5 → budgets 12, 12, 10, 7, 6 over hosts 0..4
    assert [model.host_budget(h) for h in range(5)] == [12, 12, 10, 7, 6]
    assert e.plan_rows == sum(model.host_budget(h) for h in range(64))
    r = model.expected(run.WORKLOADS["recrawl"])
    assert (r.pages, r.plan_rows, r.plan_digest, r.waves) == (0, 0, 0, 1)
    assert r.seen_rows == 100_000 + 64 * 6


def test_seed_drives_only_the_seed_order():
    shape = run.WORKLOADS["broad"]
    a, b = model.seed_urls(shape, 1), model.seed_urls(shape, 2)
    assert a != b and sorted(a) == sorted(b)
    assert model.seed_urls(shape, 1) == a


@pytest.mark.parametrize("name", sorted(TINY))
def test_one_core_job_matches_closed_form(name, tmp_path):
    """The job on local[1] gives exactly the plan digest, counts and seen
    rows the model predicts — the same values every multi-core run is
    checked against."""
    bench = run.Bench(name, TINY[name], 5, False, str(tmp_path / "s"), n_cores=1)
    try:
        bench.start_session()
        bench.build_data()
        _, seen = bench.job()
    finally:
        if bench.spark is not None:
            run.stop_session(bench.spark)
    assert bench.check(seen) == []
    assert seen["plan_digest"] == model.expected(TINY[name]).plan_digest


def test_refuses_to_run_without_the_program(tmp_path):
    here = os.path.dirname(os.path.abspath(__file__))
    shutil.copytree(here, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "broad",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    for line in proc.stdout.splitlines():
        with pytest.raises(json.JSONDecodeError):
            json.loads(line)
