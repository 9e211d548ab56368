from __future__ import annotations

import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")  # fast test startup; bench uses 32
# The package's default driver heap (48g) lets the test JVM grow past the
# RAM of a small box, where the kernel kills it mid-suite and every later
# Spark test fails; give it a quarter of physical memory, 2g to 8g.
_RAM_GB = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
os.environ.setdefault("SPARK_DRIVER_MEM", f"{max(2, min(8, round(_RAM_GB / 4)))}g")

SF_SMALL = "/root/testdata/sf0.001"
SF_ORACLE = os.environ.get("ORACLE_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    from pandas_db_sdk_spark import get_spark

    s = get_spark("tests")
    yield s


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for name in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{SF_ORACLE}/{name}.parquet')"
        )
    yield con
    con.close()
