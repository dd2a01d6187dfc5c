"""Every registered query vs its DuckDB oracle at sf0.001 — a pytest
replica of the driver's correctness gate (rowcount + sorted-value equality
after column-name sort), so regressions surface before the driver runs."""

import os

import duckdb
import pandas as pd
import pytest

import __spark_entry__
from frontier.datapipe import ORACLE_TABLES, REGISTRY, _register, normalize

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
QUERIES = __spark_entry__.queries()
ORACLES = __spark_entry__.oracle_sql()

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason="driver testdata not present"
)


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in ORACLE_TABLES:
        path = f"{SF_DIR}/{t}.parquet"
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_registry_query_matches_oracle(spark, duck, name):
    got = normalize(QUERIES[name](spark, SF_DIR).toPandas())
    assert len(got) > 0, f"{name} produced no rows at {SF_DIR}"
    want = normalize(duck.execute(ORACLES[name]).fetchdf())
    assert list(got.columns) == list(want.columns)
    assert len(got) == len(want)
    pd.testing.assert_frame_equal(got, want)


def test_register_rejects_duplicate_name():
    with pytest.raises(ValueError, match="flagship_tree"):
        _register("flagship_tree", REGISTRY["frontier_crawl"])


def test_sitemap_write_roundtrip_pagination(spark):
    """Writer pagination: 25 URLs/host at 10 URLs/file -> 3 files per host
    (10+10+5), every source row survives the XML round-trip exactly once,
    and records point at the file that carried them."""
    rows = REGISTRY["sitemap_write_roundtrip"].build(
        spark, "/root/testdata/sf0.01"
    ).collect()
    assert len(rows) == 500  # one parsed record per source row
    by_file: dict[str, int] = {}
    for r in rows:
        by_file[r["sitemap_url"]] = by_file.get(r["sitemap_url"], 0) + 1
    assert len(by_file) == 60  # 20 hosts x 3 files
    sizes = sorted(by_file.values())
    assert sizes.count(5) == 20 and sizes.count(10) == 40
    # spot field fidelity on one known row (doc_id=0: priority 0.0,
    # lastmod 2025-01-01, changefreq always)
    r0 = next(r for r in rows if r["url"].endswith("/p0"))
    assert (r0["priority"], r0["last_modified"], r0["change_frequency"]) == (
        "0.0", "2025-01-01 00:00:00", "always"
    )
