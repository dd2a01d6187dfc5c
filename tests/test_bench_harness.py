"""Smoke test of the N→4N bench harness's kernel table
(scripts/bench_scaling.py): each kernel builds its input and runs its timed
job once at a tiny size on the shared session. The unit counts are the
ones the per-kernel scripts the harness replaced (bench_scaling.py,
bench_depth.py, bench_outlinks.py, bench_warc.py, bench_trainset.py)
printed at the same sizes."""

import importlib.util
import os
import tempfile

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# kernel -> (n, unit counts)
EXPECTED = {
    "crawl": (2, {"hosts": 2, "urls": 2012}),
    "deep": (
        1,
        {
            "chain_depth": 10,
            "pages_per_leaf": 100,
            "hosts": 1,
            "urls": 1021,
            "waves": 12,
        },
    ),
    "outlinks": (2000, {"pages": 2000, "edges": 40000}),
    "warc": (2000, {"docs": 2000, "payload_bytes": 1313353, "records": 2000}),
    "trainset": (
        2000,
        {"docs": 2000, "payload_bytes": 1313353, "corpus_rows": 1343},
    ),
}


@pytest.fixture(scope="module")
def harness(spark):
    tempdir = tempfile.tempdir
    spec = importlib.util.spec_from_file_location(
        "bench_scaling", os.path.join(ROOT, "scripts", "bench_scaling.py")
    )
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    # importing starts and stops no session and leaves tempfile alone
    assert spark.range(3).count() == 3
    assert tempfile.tempdir == tempdir
    return module


def test_kernel_table_names_five_kernels(harness):
    assert sorted(harness.KERNELS) == sorted(EXPECTED)


@pytest.mark.parametrize("name", list(EXPECTED))
def test_kernel_build_and_job(spark, harness, tmp_path, name):
    n, expected = EXPECTED[name]
    kernel = harness.KERNELS[name]
    path, units = kernel.build(spark, str(tmp_path), n)
    assert units == expected
    assert kernel.unit in units
    out = kernel.job(spark, path, n)()
    if name == "deep":
        assert len(out["wave_timings"]) == units["waves"]
    else:
        assert out is None
