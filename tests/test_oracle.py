"""Differential oracle tests — mirrors the driver's correctness gate.

For every corpus query with an oracle: run the Spark implementation and the
DuckDB SQL on the same parquet (default sf0.01, override ORACLE_SF_DIR),
then compare row count, column names, and an order-insensitive stringified
value frame — STRICTER than approximate compare, to match the driver's
value-hash. Rows-only queries are checked for successful execution and >0
rows.
"""

from __future__ import annotations

import inspect
import os
import re

import pandas as pd
import pytest

from pandas_db_sdk_spark.corpus import all_oracles, all_queries

SF_ORACLE = os.environ.get("ORACLE_SF_DIR", "/root/testdata/sf0.01")

QUERIES = all_queries()
ORACLES = all_oracles()

# Queries ALLOWED to return zero rows, per fixture scale. Everything else
# must produce data: a 0-row frame that hash-matches a 0-row oracle is a
# vacuous certification (the c18/c28d lesson — both rode four rounds green
# on empty results because the fixture happened to produce none). Add an
# entry ONLY with a comment proving emptiness is the correct answer at
# that scale. The certification scale (sf0.01, the driver's) allows NO
# empties; sf0.001 is the fast-iteration smoke fixture, where two highly
# selective queries legitimately bottom out:
#   c47b_except — customers-minus-recent-buyers set difference: at
#     sf0.001 every one of the ~150 customers with orders has a
#     qualifying recent order, so the difference is empty (verified
#     against the DuckDB oracle, which is also empty).
#   x19_part_promotion_suppliers — TPC-H Q20-shape (promo parts ×
#     half-year shipped-quantity threshold): the sf0.001 lineitem slice
#     has no supplier clearing the 50%-of-shipped threshold.
EMPTY_OK_BY_SCALE = {
    "sf0.001": frozenset({"c47b_except", "x19_part_promotion_suppliers"}),
}
EMPTY_OK: frozenset = EMPTY_OK_BY_SCALE.get(
    os.path.basename(SF_ORACLE.rstrip("/")), frozenset()
)


def normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    """Order-insensitive canonical form: columns sorted by name, every value
    stringified (floats via repr → exact), rows sorted."""
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    out = pd.DataFrame()
    for c in pdf.columns:
        col = pdf[c]
        if col.dtype == object:
            out[c] = col.map(lambda v: "NULL" if v is None else str(v))
        elif str(col.dtype).startswith("float"):
            out[c] = col.map(lambda v: "NULL" if pd.isna(v) else repr(float(v)))
        elif str(col.dtype).startswith(("int", "uint")):
            out[c] = col.map(lambda v: str(int(v)))
        elif str(col.dtype) == "bool":
            out[c] = col.map(lambda v: str(bool(v)))
        else:
            out[c] = col.astype(str)
    out = out.sort_values(list(out.columns), kind="mergesort").reset_index(drop=True)
    return out


# temp-view registrations in a query's source: the DataFrame methods and
# SQL CREATE ... TEMP VIEW statements
_TEMP_VIEW = re.compile(
    r"""\.create(?:OrReplace)?(?:Global)?TempView\(\s*["']([^"']+)["']"""
    r"|CREATE\s+(?:OR\s+REPLACE\s+)?(?:GLOBAL\s+)?TEMP(?:ORARY)?\s+VIEW\s+`?(\w+)",
    re.IGNORECASE,
)


def _temp_views(name: str) -> set:
    return {
        m.group(1) or m.group(2)
        for m in _TEMP_VIEW.finditer(inspect.getsource(QUERIES[name]))
    }


def _shared_temp_views(names) -> dict:
    """{view: queries} for every temp-view name more than one of ``names``
    registers. Temp views are session-global, so two such queries running
    concurrently would read each other's view."""
    owners: dict = {}
    for name in names:
        for view in _temp_views(name):
            owners.setdefault(view, set()).add(name)
    return {v: sorted(q) for v, q in owners.items() if len(q) > 1}


def test_temp_view_scan_sees_registrations():
    assert {"docs_for_udtf", "customer_gs"} <= set().union(*map(_temp_views, QUERIES))


@pytest.fixture(scope="module")
def prefetched(spark, request):
    """Every SELECTED query's Spark result, computed CONCURRENTLY up
    front (guide §2.6: actions are only sequential because the driver
    calls them sequentially — N independent read-only jobs overlap their
    scheduling latency, which dominates at sf0.01). Assertions stay
    per-test and UNCHANGED; a prefetch exception is re-computed serially
    inside the owning test, so failure attribution and strictness are
    identical to the serial sweep. Only the names pytest actually
    collected are computed, so ``-k``-subset iteration stays fast."""
    from concurrent.futures import ThreadPoolExecutor

    wanted = set()
    for item in request.session.items:
        callspec = getattr(item, "callspec", None)
        if callspec is not None and "name" in callspec.params:
            wanted.add(callspec.params["name"])
    wanted &= set(QUERIES)
    shared = _shared_temp_views(sorted(wanted))
    assert not shared, (
        f"queries prefetched concurrently register the same temp views: {shared}"
    )

    def compute(name):
        try:
            return QUERIES[name](spark, SF_ORACLE).toPandas()
        except Exception as exc:  # pragma: no cover - retried in-test
            return exc

    def compute_rows_only(name):
        try:
            df = QUERIES[name](spark, SF_ORACLE)
            return (len(df.columns), df.count())
        except Exception as exc:  # pragma: no cover - retried in-test
            return exc

    with ThreadPoolExecutor(max_workers=8) as pool:
        futs = {
            n: pool.submit(compute if n in ORACLES else compute_rows_only, n)
            for n in sorted(wanted)
        }
        return {n: f.result() for n, f in futs.items()}


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_match(name, spark, duck, prefetched):
    spark_pdf = prefetched.get(name)
    if spark_pdf is None or isinstance(spark_pdf, Exception):
        # serial in-test recompute: deterministic failure attribution
        spark_pdf = QUERIES[name](spark, SF_ORACLE).toPandas()
    oracle_pdf = duck.execute(ORACLES[name]).df()

    assert len(spark_pdf) == len(oracle_pdf), (
        f"{name}: row count {len(spark_pdf)} != oracle {len(oracle_pdf)}"
    )
    if name not in EMPTY_OK:
        assert len(spark_pdf) > 0, (
            f"{name}: empty result — a 0-row hash match certifies nothing "
            f"(add to EMPTY_OK only if emptiness is provably correct)"
        )
    assert sorted(map(str.lower, spark_pdf.columns)) == sorted(
        map(str.lower, oracle_pdf.columns)
    ), f"{name}: columns {sorted(spark_pdf.columns)} != {sorted(oracle_pdf.columns)}"

    s = normalize(spark_pdf)
    o = normalize(oracle_pdf)
    o.columns = s.columns  # align case after sort
    if not s.equals(o):
        diff_mask = (s != o).any(axis=1)
        sample = pd.concat(
            [s[diff_mask].head(5).add_suffix("_spark"), o[diff_mask].head(5).add_suffix("_oracle")],
            axis=1,
        )
        raise AssertionError(f"{name}: value mismatch on {int(diff_mask.sum())} rows\n{sample}")


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLES)))
def test_rows_only(name, spark, prefetched):
    got = prefetched.get(name)
    if got is None or isinstance(got, Exception):
        df = QUERIES[name](spark, SF_ORACLE)
        got = (len(df.columns), df.count())
    ncols, n = got
    assert ncols > 0
    if name not in EMPTY_OK:
        assert n > 0, f"{name}: rows-only query produced an empty frame"
