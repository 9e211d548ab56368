"""``analytic``: TPC-H-shaped scans, shuffles and joins at sf0.1.

Rounds over seven oracle-checked corpus queries — entry points of
``__spark_entry__.queries()``, called as ``all_queries()[name](spark,
sf_dir)`` — each once per round in a fixed order; the seed generates the
tables they read. Parquet scans run uncached, as users pay them.

Gates: every result of a query must hash equal to the query's first
result, and once per run, after the measured ops, each query's first
result is compared with its DuckDB ``oracle_sql()`` entry under the oracle
tests' normalisation.
"""

from __future__ import annotations

import os

from checks import frame_digest, oracle_mismatch
from core import Op

QUERIES = (
    "c23_groupby_agg",
    "c22_broadcast_join",
    "c15_join_left",
    "c40_topk_per_group",
    "c25_count_distinct",
    "c21_asof_join",
    "x14_product_profit",
)


class Analytic:
    name = "analytic"
    independent_warmup = True

    def __init__(self, ctx):
        from pandas_db_sdk_spark.corpus import all_queries

        self.ctx = ctx
        self.queries = all_queries()
        self.first: dict = {}  # query -> (first result, its digest)
        self.rotation: list = []

    def setup(self) -> None:
        """Nothing to store: the queries read the generated parquet."""

    def warmup(self) -> list:
        return [self._op(q) for q in QUERIES]

    @property
    def mid_round(self) -> bool:
        return bool(self.rotation)

    def next_op(self) -> Op:
        if not self.rotation:
            self.rotation = list(reversed(QUERIES))
        return self._op(self.rotation.pop())

    def _op(self, query: str) -> Op:
        tracer, spark = self.ctx.tracer, self.ctx.spark

        def run():
            with tracer.span(f"corpus.{query}") as sp:
                pdf = self.queries[query](spark, self.ctx.data_dir).toPandas()
            if sp is not None:
                tracer.count(f"corpus.{query}.rows_out", len(pdf))
            return pdf

        return Op(query, run, lambda pdf: self._check(query, pdf))

    def _check(self, query: str, pdf) -> str | None:
        digest = frame_digest(pdf)
        if query not in self.first:
            self.first[query] = (pdf, digest)
            return None
        return None if digest == self.first[query][1] else f"{query}: result changed between runs"

    def final_check(self) -> dict:
        """Compare each query's first result with DuckDB, once per run,
        after the measured ops: {query: reason} for every disagreement."""
        import duckdb
        from pandas_db_sdk_spark.corpus import all_oracles

        oracles = all_oracles()
        con = duckdb.connect()
        try:
            for name in self.ctx.tables:
                path = os.path.join(self.ctx.data_dir, f"{name}.parquet")
                con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
            bad = {}
            for query, (pdf, _) in self.first.items():
                err = oracle_mismatch(query, pdf, con.execute(oracles[query]).df())
                if err is not None:
                    bad[query] = err
            return bad
        finally:
            con.close()

    def details(self, records) -> dict:
        return {}
