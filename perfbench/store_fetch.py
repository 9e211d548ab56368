"""``store_fetch``: the storage surface under a ~30/70 write/read mix.

Each pass of eleven ops, in a fixed order, writes once to each of three
datasets — one per reference key layout: no key, a ``Date`` key and an
``ID`` key — with ``DataFrameClient.load_dataframe`` calls on pandas frames
(monthly ``orders`` batches, contiguous ``lineitem`` slices), appended as
'NOW' versions; every tenth write to a dataset passes ``keep_last=True``.
The eight reads are ``get_dataframe`` for each dataset's latest version,
for a pinned ``lineitem`` version and for all ``Date``-keyed versions,
``DataFrameEngine.load_pruned`` over an ID range of ``lineitem``, a
``DataFrameEngine.sql`` aggregate over every unkeyed ``orders`` version,
and ``list_dataframes``. A round is two passes; the seed picks the frames
written, the pinned versions and the pruned ranges.

The benchmark keeps its own model of every version it wrote; each read is
compared with it: frames by row count plus an order-insensitive value hash,
the SQL aggregate with DuckDB over the same frames.
"""

from __future__ import annotations

import os

import pandas as pd

from checks import frame_digest, oracle_mismatch
from core import Op

ORDERS_FLAT = "store/orders_flat"
ORDERS_BY_DATE = "store/orders_by_date"
LINEITEM_BY_ID = "store/lineitem_by_id"
LAYOUTS = {
    ORDERS_FLAT: None,
    ORDERS_BY_DATE: {"o_orderdate": "Date"},
    LINEITEM_BY_ID: {"l_orderkey": "ID"},
}
# One pass: a write to each dataset and eight reads. A round is two passes,
# in this fixed order; the seed picks the frames, versions and ranges.
PASS = (
    ("write", ORDERS_FLAT),
    ("get_latest", ORDERS_FLAT),
    ("write", ORDERS_BY_DATE),
    ("get_latest", ORDERS_BY_DATE),
    ("get_all_versions", ORDERS_BY_DATE),
    ("write", LINEITEM_BY_ID),
    ("get_latest", LINEITEM_BY_ID),
    ("get_pinned", LINEITEM_BY_ID),
    ("load_pruned", LINEITEM_BY_ID),
    ("sql", ORDERS_FLAT),
    ("list", None),
)
# the DataFrameEngine.sql read: an aggregate over every version of a dataset
SQL_AGG = """SELECT o_orderpriority, o_orderstatus, count(*) AS n_orders,
                    CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total,
                    max(o_totalprice) AS max_price
             FROM o GROUP BY o_orderpriority, o_orderstatus"""
KEEP_LAST_EVERY = 10  # every 10th write to a dataset prunes its older versions
PRUNE_WIDTH = 1000  # l_orderkey span of one pruned read (a slice spans 5000 at sf0.1)


def dir_bytes(path: str) -> int:
    total = 0
    for dp, _, fns in os.walk(path):
        for fn in fns:
            total += os.path.getsize(os.path.join(dp, fn))
    return total


class StoreFetch:
    name = "store_fetch"
    independent_warmup = False

    def __init__(self, ctx):
        self.ctx = ctx
        orders = ctx.tables["orders"].to_pandas()
        month = orders["o_orderdate"].dt.strftime("%Y-%m")
        self.order_batches = [g.reset_index(drop=True) for _, g in orders.groupby(month)]
        self.lineitem = ctx.tables["lineitem"].to_pandas().sort_values(
            "l_orderkey", kind="mergesort"
        )
        self.n_orders = len(orders)
        self.slice_width = max(int(50_000 * ctx.sf), 10)  # orders per lineitem slice
        self.rotation: list = []
        self.writes = {name: 0 for name in LAYOUTS}

    # ------------------------------------------------------------ setup

    def setup(self) -> None:
        """A fresh warehouse with one version of each dataset."""
        from pandas_db_sdk_spark import DataFrameClient, DataFrameEngine

        self.warehouse = os.path.join(self.ctx.work_dir, "warehouse")
        self.client = DataFrameClient(self.warehouse, spark=self.ctx.spark)
        self.engine = DataFrameEngine(self.ctx.spark, self.warehouse)
        # name -> {version: frame written}, in write order
        self.model: dict = {name: {} for name in LAYOUTS}
        self.digests: dict = {}
        self.bytes_written = 0
        for name in LAYOUTS:
            op = self._op("write", name)
            op.check(op.run())

    def warmup(self) -> list:
        return [self._op(kind, name) for kind, name in PASS]

    # -------------------------------------------------------------- ops

    @property
    def mid_round(self) -> bool:
        return bool(self.rotation)

    def next_op(self) -> Op:
        if not self.rotation:
            self.rotation = list(reversed(PASS * 2))
        return self._op(*self.rotation.pop())

    def _op(self, kind: str, name) -> Op:
        if kind != "write":
            return self._read_op(kind, name)
        self.writes[name] += 1
        return self._write_op(name, keep_last=self.writes[name] % KEEP_LAST_EVERY == 0)

    def _frame_for(self, name: str) -> pd.DataFrame:
        rng = self.ctx.rng
        if name == LINEITEM_BY_ID:
            lo = int(rng.integers(0, max(self.n_orders - self.slice_width, 1)))
            keys = self.lineitem["l_orderkey"]
            a, b = keys.searchsorted(lo), keys.searchsorted(lo + self.slice_width)
            return self.lineitem.iloc[a:b].reset_index(drop=True)
        return self.order_batches[rng.integers(0, len(self.order_batches))]

    def _write_op(self, name: str, keep_last: bool) -> Op:
        pdf = self._frame_for(name)

        def run():
            return self.client.load_dataframe(
                pdf, name, columns_keys=LAYOUTS[name], external_key="NOW", keep_last=keep_last
            )

        def check(meta):
            versions = self.model[name]
            if keep_last:
                versions.clear()
            versions[str(meta["version"])] = pdf
            self.digests[(name, str(meta["version"]))] = frame_digest(pdf)
            self.bytes_written += int(pdf.memory_usage(deep=True).sum())
            if meta["dataframe_name"] != name:
                return f"load_dataframe returned name {meta['dataframe_name']!r}"
            return None

        return Op(f"write_{name.split('/')[1]}", run, check, klass="write")

    def _read_op(self, kind: str, name) -> Op:
        rng = self.ctx.rng
        if kind == "list":
            return Op("list", lambda: self.client.list_dataframes("store/"), self._check_list)
        if kind == "load_pruned":
            # a range inside one stored version's slice, so the read finds
            # rows and the other versions' files are the ones skipped
            frames = list(self.model[name].values())
            keys = frames[rng.integers(0, len(frames))]["l_orderkey"]
            lo = int(rng.integers(keys.min(), max(keys.max() - PRUNE_WIDTH, keys.min()) + 1))
            hi = lo + PRUNE_WIDTH - 1

            def run():
                return self.engine.load_pruned(name, "l_orderkey", lo, hi).toPandas()

            def check(got):
                return _compare(got, self._expected(name, "all", (lo, hi)))

            return Op(kind, run, check)
        if kind == "sql":
            return self._sql_op(name)
        if kind == "get_latest":
            version, kwargs = "latest", {"use_last": True}
        elif kind == "get_pinned":
            versions = list(self.model[name])
            version = versions[rng.integers(0, len(versions))]
            kwargs = {"external_key": version}
        else:
            version, kwargs = "all", {}
        return Op(
            f"{kind}_{name.split('/')[1]}",
            lambda: self.client.get_dataframe(name, **kwargs),
            lambda got: _compare(got, self._expected(name, version)),
        )

    def _sql_op(self, name: str) -> Op:
        tracer = self.ctx.tracer

        def run():
            df = self.engine.sql(SQL_AGG, datasets={"o": name})
            with tracer.span("engine.sql.exec"):
                return df.toPandas()

        def check(got):
            import duckdb

            con = duckdb.connect()
            try:
                con.register("o", pd.concat(self.model[name].values(), ignore_index=True))
                return oracle_mismatch("engine.sql", got, con.execute(SQL_AGG).df())
            finally:
                con.close()

        return Op(f"sql_{name.split('/')[1]}", run, check)

    # ----------------------------------------------------------- checks

    def _expected(self, name: str, version, id_range=None):
        """The digest a read must match, computed from the frames written
        when the read is checked (reads change no state, so that is the
        state the read saw). ``version`` is a label, "latest" or "all". A
        single version's digest is kept from its write; reads spanning
        versions or an ID range rebuild it from the source frames."""
        if version == "latest":
            version = list(self.model[name])[-1]
        if version != "all":
            return self.digests[(name, version)]
        frames = list(self.model[name].values())
        if id_range is not None:
            lo, hi = id_range
            frames = [f[(f["l_orderkey"] >= lo) & (f["l_orderkey"] <= hi)] for f in frames]
        return frame_digest(pd.concat(frames, ignore_index=True))

    def _check_list(self, listing) -> str | None:
        got = {n: [str(v) for v in d["versions"]] for n, d in listing["dataframes"].items()}
        want = {n: list(v) for n, v in self.model.items()}
        if got != want or listing["count"] != len(want):
            return f"list_dataframes returned {sorted(got)} with versions differing from the writes"
        return None

    # ---------------------------------------------------------- metrics

    def final_check(self) -> dict:
        return {}

    def details(self, records) -> dict:
        stored = dir_bytes(self.warehouse)
        return {"bytes_stored_per_input_byte": stored / max(self.bytes_written, 1)}


def _compare(got: pd.DataFrame, expected) -> str | None:
    rows, digest = frame_digest(got)
    if rows != expected[0]:
        return f"{rows} rows, expected {expected[0]}"
    if digest != expected[1]:
        return "values differ from the frames written"
    return None
