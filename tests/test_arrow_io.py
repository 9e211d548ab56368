"""Driver-local Arrow I/O against the Spark path it replaces.

``DataFrameEngine.save`` writes a pandas frame with pyarrow (no Spark job)
and ``DataFrameClient.get_dataframe`` reads versions back the same way.
Every case here saves one pandas frame twice — once through the Arrow path
and once as a Spark DataFrame through the Spark writer — and asserts:

* the two datasets have the same partition-dir names;
* ``load().toPandas()`` of the two has the same rows, values and dtypes;
* ``get_dataframe`` equals ``load().toPandas()`` in values and dtypes.
"""

from __future__ import annotations

import datetime
import decimal
import os

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest

from pandas_db_sdk_spark.client import DataFrameClient
from pandas_db_sdk_spark.engine import DataFrameEngine, DataQualityError


class FakeClock:
    def __init__(self, start: int = 1_700_000_000_000):
        self.t = start

    def __call__(self) -> int:
        self.t += 1000
        return self.t


@pytest.fixture()
def engine(spark, tmp_path):
    return DataFrameEngine(spark, str(tmp_path / "wh"), clock=FakeClock())


def _frame(n: int = 40) -> pd.DataFrame:
    rng = np.random.default_rng(7)
    ts = pd.Series(pd.date_range("1969-12-28 21:30", periods=n, freq="7h"))
    ts[3] = pd.NaT
    ids = pd.array(rng.integers(-4_000, 4_000, n), dtype="Int64")
    ids[5] = pd.NA
    return pd.DataFrame(
        {
            "i32": np.arange(n, dtype=np.int32),
            "i64": rng.integers(-3_500, 3_500, n),
            "f64": rng.normal(size=n),
            "flag": rng.integers(0, 2, n).astype(bool),
            "s": [None if i % 9 == 0 else f"v{i}" for i in range(n)],
            "ts_ns": ts,
            "ts_us": ts.astype("datetime64[us]"),
            "ts_tz": ts.dt.tz_localize("UTC").dt.tz_convert("America/New_York"),
            "d": [
                None if i == 4 else datetime.date(1969, 12, 20) + datetime.timedelta(days=i)
                for i in range(n)
            ],
            "dec": [decimal.Decimal(f"{100 + i}.{i:02d}") for i in range(n)],
            "n_int": ids,
            "nothing": [None] * n,
        }
    )


def _partition_dirs(engine: DataFrameEngine, name: str) -> set:
    ds = engine._dataset_entry(name)
    out = set()
    for v in ds["versions"]:
        vdir = os.path.join(ds["path"], f"__version={v}")
        for dp, _, files in os.walk(vdir):
            if any(f.endswith(".parquet") and not f.startswith(".") for f in files):
                out.add(os.path.relpath(dp, vdir))
    return out


def _writers(engine: DataFrameEngine, name: str) -> set:
    """The parquet writers behind a dataset's files ('arrow' or 'spark')."""
    ds = engine._dataset_entry(name)
    out = set()
    for dp, _, files in os.walk(ds["path"]):
        for f in files:
            if f.endswith(".parquet") and not f.startswith("."):
                created_by = pq.ParquetFile(os.path.join(dp, f)).metadata.created_by
                out.add("arrow" if "parquet-cpp-arrow" in created_by else "spark")
    return out


def _canonical(pdf: pd.DataFrame) -> pd.DataFrame:
    """Rows in a canonical order (reads promise no row order)."""
    keys = pdf.astype(str)
    order = keys.sort_values(list(keys.columns), kind="mergesort").index
    return pdf.loc[order].reset_index(drop=True)


def _assert_same(got: pd.DataFrame, want: pd.DataFrame) -> None:
    assert list(got.columns) == list(want.columns)
    assert got.dtypes.to_dict() == want.dtypes.to_dict()
    pd.testing.assert_frame_equal(_canonical(got), _canonical(want))


def _save_both(engine, spark, pdf, keys=None, **kw):
    """Save ``pdf`` through the Arrow path ('a') and the Spark path ('s')."""
    engine.save(pdf, "a", columns_keys=keys, **kw)
    engine.save(spark.createDataFrame(pdf), "s", columns_keys=keys, **kw)


def _assert_paths_agree(engine, **read) -> None:
    assert _writers(engine, "a") == {"arrow"}
    assert _partition_dirs(engine, "a") == _partition_dirs(engine, "s")
    arrow_loaded = engine.load("a", **read).toPandas()
    _assert_same(arrow_loaded, engine.load("s", **read).toPandas())
    for name in ("a", "s"):
        _assert_same(engine.read_pandas(name, **read), engine.load(name, **read).toPandas())


LAYOUTS = {
    "none": None,
    "date_ns": {"ts_ns": "Date"},
    "date_us": {"ts_us": "Date"},
    "date_tz": {"ts_tz": "Date"},
    "date_obj": {"d": "Date"},
    "id": {"i64": "ID"},
    "id_nullable": {"n_int": "ID"},
    "id_i32": {"i32": "ID"},
    "date_and_id": {"d": "Date", "i64": "ID"},
}


@pytest.mark.parametrize("layout", sorted(LAYOUTS))
def test_arrow_and_spark_paths_agree(engine, spark, layout):
    _save_both(engine, spark, _frame(), LAYOUTS[layout])
    _assert_paths_agree(engine)


def test_date_dirs_follow_session_time_zone(engine, spark):
    key = "spark.sql.session.timeZone"
    old = spark.conf.get(key)
    spark.conf.set(key, "America/Los_Angeles")
    try:
        _save_both(engine, spark, _frame(), {"ts_tz": "Date"})
        _assert_paths_agree(engine)
        # the same instants land on other days than in UTC
        assert "__p_ts_tz=1969-12-28" in _partition_dirs(engine, "a")
    finally:
        spark.conf.set(key, old)


def test_versions_adding_columns_read_as_null(engine, spark):
    pdf = _frame()
    first = pdf.drop(columns=["dec", "s"])
    _save_both(engine, spark, first, {"i64": "ID"})
    _save_both(engine, spark, pdf, {"i64": "ID"})
    _assert_paths_agree(engine)
    _assert_paths_agree(engine, use_last=True)
    older = engine.read_pandas("a", external_key=engine.list_datasets()["dataframes"]["a"]["versions"][0])
    assert older["dec"].isna().all() and older["s"].isna().all()


def test_one_dataset_mixing_spark_and_arrow_versions(engine, spark):
    pdf = _frame()
    keys = {"ts_ns": "Date"}
    engine.save(spark.createDataFrame(pdf), "mixed", columns_keys=keys)
    engine.save(pdf, "mixed", columns_keys=keys)
    assert _writers(engine, "mixed") == {"arrow", "spark"}
    _assert_same(engine.read_pandas("mixed"), engine.load("mixed").toPandas())
    assert len(engine.read_pandas("mixed")) == 2 * len(pdf)


def test_empty_and_missing_versions_match_spark(engine, spark):
    engine.save(_frame(), "a", columns_keys={"i64": "ID"})
    for read in ({"external_key": "no-such-version"}, {"use_last": True}):
        _assert_same(engine.read_pandas("a", **read), engine.load("a", **read).toPandas())


def test_files_hold_at_most_100k_rows(engine):
    pdf = pd.DataFrame({"x": np.arange(250_000, dtype=np.int64)})
    engine.save(pdf, "big")
    ds = engine._dataset_entry("big")
    rows = sorted(
        pq.ParquetFile(os.path.join(dp, f)).metadata.num_rows
        for dp, _, files in os.walk(ds["path"])
        for f in files
        if f.endswith(".parquet") and not f.startswith(".")
    )
    assert rows == [50_000, 100_000, 100_000]
    assert engine.read_pandas("big")["x"].sum() == pdf["x"].sum()


def test_arrow_save_keeps_version_semantics(engine, spark):
    """keep_last, overwrite_version's stage-and-swap, the stats sidecar
    and load_pruned over Arrow-written files."""
    pdf = _frame()
    engine.save(pdf, "v", columns_keys={"i64": "ID"}, external_key="x")
    engine.save(pdf.head(10), "v", external_key="x", overwrite_version=True)
    assert len(engine.read_pandas("v")) == 10
    engine.save(pdf, "v", keep_last=True)
    info = engine.list_datasets()["dataframes"]["v"]
    assert len(info["versions"]) == 1 and info["versions"] != ["x"]
    ds = engine._dataset_entry("v")
    assert sorted(os.listdir(ds["path"])) == [f"__version={info['versions'][0]}"]
    vdir = os.path.join(ds["path"], f"__version={info['versions'][0]}")
    assert os.path.exists(os.path.join(vdir, ".stats.json"))
    pruned = engine.load_pruned("v", "i64", -100, 100).toPandas()
    want = pdf[(pdf["i64"] >= -100) & (pdf["i64"] <= 100)]
    assert sorted(pruned["i32"]) == sorted(want["i32"])


def test_rules_gate_arrow_saves_before_any_file(engine, spark):
    pdf = _frame()
    engine.save(pdf, "g", columns_keys={"i64": "ID"})
    engine.set_constraints("g", {"i32_nonneg": "i32 >= 0"})
    bad = pdf.assign(i32=pdf["i32"] - 5)
    with pytest.raises(DataQualityError, match=r"i32_nonneg \(5 rows\)"):
        engine.save(bad, "g")
    ds = engine._dataset_entry("g")
    assert len(ds["versions"]) == 1
    assert engine.fsck("g")["g"]["orphan_versions"] == []
    engine.save(pdf, "g", expectations={"s_known": "s IS NOT NULL OR i32 % 9 = 0"})
    assert len(engine.read_pandas("g")) == 2 * len(pdf)
    assert _writers(engine, "g") == {"arrow"}


def _path_taken(engine, pdf, keys=None, name="p") -> set:
    engine.save(pdf, name, columns_keys=keys)
    return _writers(engine, name)


def test_which_path_each_save_takes(engine, spark):
    pdf = _frame()
    arrow, spark_path = {"arrow"}, {"spark"}
    assert _path_taken(engine, pdf, None, "p1") == arrow
    assert _path_taken(engine, pdf, {"ts_ns": "Date"}, "p2") == arrow
    assert _path_taken(engine, pdf, {"d": "Date"}, "p3") == arrow
    assert _path_taken(engine, pdf, {"i32": "ID"}, "p4") == arrow
    # a Date key held as text, an ID key held as floats: Spark derives
    # those directory values
    as_text = pdf.assign(d=[f"2024-01-{i % 28 + 1:02d}" for i in range(len(pdf))])
    assert _path_taken(engine, as_text, {"d": "Date"}, "p5") == spark_path
    assert _path_taken(engine, pdf.assign(f=pdf["i32"] * 1.5), {"f": "ID"}, "p6") == spark_path
    # a column type Arrow cannot hand to Spark: createDataFrame decides
    assert _path_taken(engine, pd.DataFrame({"u": np.arange(5, dtype=np.uint64)}), None, "p7") == spark_path
    # a Spark DataFrame input
    assert _path_taken(engine, spark.createDataFrame(pdf), None, "p8") == spark_path


def test_pandas_store_and_fetch_start_no_spark_job(spark, tmp_path):
    client = DataFrameClient(str(tmp_path / "wh"), spark=spark)
    pdf = _frame()
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def jobs_in(group: str, fn) -> list:
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return tracker.getJobIdsForGroup(group)

    # the tracker sees the Spark path's write job
    assert jobs_in(
        "arrow-io-control",
        lambda: client._engine.save(spark.createDataFrame(pdf), "c", columns_keys={"i64": "ID"}),
    )
    assert jobs_in(
        "arrow-io-guard",
        lambda: (
            client.load_dataframe(pdf, "t", columns_keys={"ts_ns": "Date"}),
            client.load_dataframe(pdf, "t"),
            client.get_dataframe("t"),
            client.get_dataframe("t", use_last=True),
        ),
    ) == []


def test_package_import_leaves_arrow_io_unloaded():
    """Python UDF workers import the package; loading the Arrow I/O
    module (and pyarrow.dataset/parquet with it) there slows every fresh
    worker, so importing the package must not load them."""
    import subprocess
    import sys

    code = (
        "import pandas_db_sdk_spark, sys; "
        "print(sorted(m for m in ('pandas_db_sdk_spark._arrowio', "
        "'pyarrow.dataset', 'pyarrow.parquet') if m in sys.modules))"
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True,
        text=True,
        check=True,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert out.stdout.strip() == "[]"
