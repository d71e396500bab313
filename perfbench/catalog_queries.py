"""The catalog-query side of ``batch_mix``.

``QUERIES`` holds registry queries built on ``operators/``,
``functions/`` and ``llm_ops/`` that read catalog tables only: no lake
tables, no streams, no invariant or audit queries, and no query that
memoizes work in the session (``workloads.json`` lists every excluded
name and why). Each runs materialized with ``.count()``.

Checks: every timed row count against the DuckDB oracle's row count on
the same parquet, after the timed window; and every query's full output
against its oracle (``tests/oracle_harness.compare_query``) on the small
warm-up tables, right after its warm-up run.
"""

from __future__ import annotations

import os

import datagen
from common import Run

SF = 0.1
WARM_SF = 0.001

# query name -> the subpackage it exercises: one of each
QUERIES = {
    "time_ago_buckets": "functions",
    "validation_flags": "operators",
    "pii_scrub": "llm_ops",
}


class Catalog:
    """Generated catalog tables plus the registry's query callables."""

    def __init__(self, ctx):
        from multi_source_data_lake_with_etl_pipeline_spark import queries as q

        self.ctx = ctx
        self.fns, self.oracles = q.spark_queries(), q.oracle_queries()
        missing = sorted(set(QUERIES) - set(self.fns))
        if missing:
            raise SystemExit(f"perfbench: queries not in the registry: {missing}")
        self.sf_dir = os.path.join(ctx.work, "sf")
        self.warm_dir = os.path.join(ctx.work, "sf_warm")
        datagen.generate(self.sf_dir, SF, ctx.seed)
        datagen.generate(self.warm_dir, WARM_SF, ctx.seed)
        self.counts: list[tuple[str, int]] = []  # (query, rows) of each timed run
        self.compared: dict[str, tuple[bool, str]] = {}  # query -> full compare result

    def register(self) -> None:
        """Resolve every catalog table (schema read and cached)."""
        from multi_source_data_lake_with_etl_pipeline_spark.catalog import TPCH_TABLES, load_table

        for name in TPCH_TABLES:
            load_table(self.ctx.spark, self.sf_dir, name)

    def warm(self, name: str) -> None:
        """Run one query on the small tables (first-run code generation),
        then compare its full output there with the oracle's."""
        from tests.oracle_harness import compare_query

        with self.ctx.tracer.muted():
            self.fns[name](self.ctx.spark, self.warm_dir).count()
            self.compared[name] = compare_query(
                self.ctx.spark, self.warm_dir, self.fns[name], self.oracles[name]
            )

    def op(self, name: str):
        """(timed thunk, after(row count)) for one query; the row count
        is checked against the oracle in :meth:`check`."""
        ctx = self.ctx

        def timed():
            return ctx.tracer.call(
                f"query.{QUERIES[name]}", lambda: self.fns[name](ctx.spark, self.sf_dir).count()
            )

        def after(n: int) -> None:
            self.counts.append((name, n))

        return timed, after

    def check(self, run: Run) -> None:
        from tests.oracle_harness import duckdb_con

        con = duckdb_con(self.sf_dir)
        try:
            want = {
                name: con.execute(f"SELECT count(*) FROM ({self.oracles[name]}) AS o").fetchone()[0]
                for name in {c[0] for c in self.counts}
            }
        finally:
            con.close()
        for name, n in self.counts:
            if n != want[name]:
                run.fail(f"{name}: {n} rows, oracle {want[name]}")
        for name, (ok, msg) in self.compared.items():
            run.attempted += 1
            if not ok:
                run.fail(f"{name} at sf{WARM_SF}: {msg}")
        run.detail["oracle_full_compare"] = {
            f"{name}@sf{WARM_SF}": msg for name, (_ok, msg) in self.compared.items()
        }
