"""The lake-table side of ``batch_mix``: one versioned lake table and
the client that reads and writes it.

The table is built from the generated ``orders`` (150k rows at sf0.1)
with ``bucket_by=("k", 16), optimized_write=True``. Reads are Zipf-skewed
point reads (``read_where_eq``), range reads (``read_pruned``) and
time-travel reads through the API service (``lake_query``). Writes are
200-key merges with deletion vectors and range updates sent as SQL text
through ``lake_sql``.

The client keeps an in-memory model of the table (value and category per
key, plus a copy per version for time travel). Every op result is
checked against it outside the timed window; the final table is checked
by row count and value sum.
"""

from __future__ import annotations

import os

import numpy as np

from common import Run, dir_bytes, ratio

BUCKETS = 16
TOL = 1e-6
# op kind -> the span that times it (the outermost layer it calls)
SPAN = {
    "point": "lake.read_where_eq",
    "range": "lake.read_pruned",
    "travel": "api.lake_query",
    "merge_dv": "lake.merge",
    "sql_update": "lake_sql",
}
WRITES = {k for k in SPAN if k not in ("point", "range", "travel")}


class Model:
    """Expected table contents: value, category and liveness per key."""

    def __init__(self, keys: np.ndarray, cats: np.ndarray, vals: np.ndarray):
        cap = int(keys.max()) + 1
        self.v = np.zeros(cap)
        self.c = np.zeros(cap, dtype=np.int64)
        self.alive = np.zeros(cap, dtype=bool)
        self.v[keys], self.c[keys], self.alive[keys] = vals, cats, True
        self.versions: dict[int, tuple[np.ndarray, np.ndarray]] = {}

    def grow(self, n: int) -> None:
        if n > len(self.v):
            extra = n - len(self.v)
            self.v = np.concatenate([self.v, np.zeros(extra)])
            self.c = np.concatenate([self.c, np.zeros(extra, dtype=np.int64)])
            self.alive = np.concatenate([self.alive, np.zeros(extra, dtype=bool)])

    def upsert(self, keys, cats, vals) -> tuple[int, int]:
        keys = np.asarray(keys)
        self.grow(int(keys.max()) + 1)
        updated = int(self.alive[keys].sum())
        self.v[keys], self.c[keys], self.alive[keys] = vals, cats, True
        return len(keys) - updated, updated

    def in_range(self, lo: int, hi: int) -> np.ndarray:
        """Boolean mask over ``[lo, hi)`` of live keys."""
        mask = np.zeros(len(self.v), dtype=bool)
        mask[max(lo, 0) : max(min(hi, len(self.v)), 0)] = True
        return mask & self.alive

    def snapshot(self, version: int) -> None:
        self.versions[version] = (self.v.copy(), self.alive.copy())


def _table_frame(spark, sf_dir: str):
    from multi_source_data_lake_with_etl_pipeline_spark.catalog import load_table
    from pyspark.sql import functions as F

    return load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        (F.col("o_custkey") % 100).cast("int").alias("c"),
        F.col("o_totalprice").alias("v"),
        F.col("o_orderstatus").alias("s"),
    )


def build(ctx, sf_dir: str, path: str, rows: int | None = None):
    """Create the bucketed table (from the first ``rows`` orders, or all)."""
    from multi_source_data_lake_with_etl_pipeline_spark.lake import LakeTable

    df = _table_frame(ctx.spark, sf_dir)
    if rows is not None:
        df = df.filter(f"k < {rows}")
    return ctx.tracer.call(
        "lake.create", LakeTable.create, ctx.spark, path, df,
        bucket_by=("k", BUCKETS), optimized_write=True,
    )


def model_of(sf_dir: str, rows: int | None = None) -> Model:
    """The model of a table ``build`` made from the same orders file."""
    import pyarrow.parquet as pq

    orders = pq.read_table(
        os.path.join(sf_dir, "orders.parquet"),
        columns=["o_orderkey", "o_custkey", "o_totalprice"],
    )
    keys = orders["o_orderkey"].to_numpy()
    keep = keys < rows if rows is not None else np.ones(len(keys), dtype=bool)
    model = Model(
        keys[keep],
        orders["o_custkey"].to_numpy()[keep] % 100,
        orders["o_totalprice"].to_numpy()[keep],
    )
    model.snapshot(0)
    return model


class LakeClient:
    """Builds each op with its inputs, and checks its result."""

    def __init__(self, ctx, table, model: Model, sf_dir: str):
        from multi_source_data_lake_with_etl_pipeline_spark.api.service import DataLakeService

        self.ctx = ctx
        self.spark = ctx.spark
        self.t = table
        self.m = model
        self.rng = np.random.default_rng([ctx.seed, 5])
        self.service = DataLakeService(ctx.spark, sf_dir)
        # Zipf rank -> key through a seeded permutation of the initial keys
        self.hot = self.rng.permutation(np.flatnonzero(self.m.alive))
        self.next_key = len(self.m.v)
        self.version = 0
        self.sql_ops = 0
        self.probe_ops = 0
        self.files_touched = 0
        self.files_live = 0
        self.reads = 0

    def op(self, kind: str):
        """(timed thunk, after(result) -> error or None) for one op."""
        make = self.write if kind in WRITES else self.read
        thunk, check = make(kind)
        tracer = self.ctx.tracer

        def timed():
            return tracer.call(SPAN[kind], thunk)

        def after(res):
            with tracer.muted():
                if kind in ("point", "range"):
                    df, res = res
                    if tracer.enabled:
                        self.count_files(df)
                err = check(res)
                if kind in WRITES:
                    self.version = self.t.latest_version()
                    self.m.snapshot(self.version)
            return err

        return timed, after

    # ----------------------------------------------------------- inputs
    def zipf_key(self) -> int:
        r = int(self.rng.zipf(1.2))
        return int(self.hot[(r - 1) % len(self.hot)])

    def range_lo(self, width: int) -> int:
        return int(self.rng.integers(0, max(self.next_key - width, 1)))

    def live_keys(self, n: int) -> np.ndarray:
        live = np.flatnonzero(self.m.alive)
        return self.rng.choice(live, size=min(n, len(live)), replace=False)

    def frame(self, keys, cats, vals):
        rows = [(int(k), int(c), float(v), "O") for k, c, v in zip(keys, cats, vals)]
        return self.spark.createDataFrame(rows, "k long, c int, v double, s string")

    def money(self, n: int) -> np.ndarray:
        return np.round(self.rng.uniform(1000.0, 500_000.0, n), 2)

    # ------------------------------------------------------------ reads
    def read(self, kind: str):
        """Return (timed thunk, check(result) -> error or None)."""
        if kind == "point":
            k = self.zipf_key()

            def op():
                df = self.t.read_where_eq("k", k)
                return df, df.select("k", "c", "v").collect()

            def check(rows):
                if not self.m.alive[k]:
                    return None if not rows else f"point {k}: {len(rows)} rows, want 0"
                if len(rows) != 1:
                    return f"point {k}: {len(rows)} rows, want 1"
                r = rows[0]
                if r["c"] != self.m.c[k] or abs(r["v"] - self.m.v[k]) > TOL:
                    return f"point {k}: got ({r['c']}, {r['v']}), want ({self.m.c[k]}, {self.m.v[k]})"
                return None

            return op, check
        if kind == "range":
            lo = self.range_lo(2000)
            hi = lo + 2000

            def op():
                from pyspark.sql import functions as F

                df = self.t.read_pruned("k", lo, hi - 1)
                return df, df.agg(F.count("*").alias("n"), F.sum("v").alias("s")).collect()[0]

            def check(row):
                mask = self.m.in_range(lo, hi)
                return _agg_mismatch(f"range [{lo},{hi})", row, mask, self.m.v)

            return op, check
        # time travel to a recent earlier version, through the API service
        older = [v for v in self.m.versions if v < self.version][-8:]
        ver = int(self.rng.choice(older)) if older else self.version
        lo = self.range_lo(200)
        where = f"k >= {lo} AND k < {lo + 200}"

        def op():
            return self.service.lake_query(self.t.path, version=ver, where=where, limit=1000)

        def check(res):
            v, alive = self.m.versions[ver]
            mask = np.zeros(len(alive), dtype=bool)
            mask[lo : lo + 200] = True
            mask &= alive
            got_n = res["count"]
            got_s = sum(r["v"] for r in res["data"])
            want_s = float(v[mask].sum())
            if got_n != int(mask.sum()) or abs(got_s - want_s) > TOL * max(1.0, abs(want_s)):
                return f"travel v{ver} {where}: ({got_n}, {got_s}) want ({int(mask.sum())}, {want_s})"
            return None

        return op, check

    def count_files(self, df) -> None:
        """Files a read touches against the live file count (traced
        runs only: ``inputFiles`` is itself driver work)."""
        self.files_touched += len(df.inputFiles())
        self.files_live += self.t.details()["num_files"]
        self.reads += 1

    # ----------------------------------------------------------- writes
    def write(self, kind: str):
        from multi_source_data_lake_with_etl_pipeline_spark.lake_sql import lake_sql

        m = self.m
        if kind == "merge_dv":
            old = self.live_keys(150)
            new = np.arange(self.next_key, self.next_key + 50)
            self.next_key += 50
            keys = np.concatenate([old, new])
            cats, vals = self.rng.integers(0, 100, len(keys)), self.money(len(keys))
            src = self.frame(keys, cats, vals)

            def op():
                return self.t.merge(src, "k", dv=True)

            def apply(res):
                ins, upd = m.upsert(keys, cats, vals)
                if (res["inserted"], res["updated"]) != (ins, upd):
                    return f"{kind}: {res['inserted']}/{res['updated']} want {ins}/{upd}"
                return None

            return op, apply
        if kind != "sql_update":
            raise ValueError(kind)
        # An update whose predicate names a data column of this
        # partitioned table makes the engine first try the predicate over
        # partition values alone, and Spark logs one ERROR line for the
        # failed analysis. It is recorded, not counted as a failure.
        self.probe_ops += 1
        self.sql_ops += 1
        lo = self.range_lo(300)
        hi = lo + 300

        def op():
            return lake_sql(
                self.spark,
                "UPDATE t SET v = v + 1.5 WHERE k >= :lo AND k < :hi",
                {"t": self.t},
                {"lo": lo, "hi": hi},
            )

        def apply(res):
            mask = m.in_range(lo, hi)
            m.v[mask] += 1.5
            want = int(mask.sum())
            return None if res["updated"] == want else f"{kind}: {res['updated']} want {want}"

        return op, apply


def _agg_mismatch(what: str, row, mask: np.ndarray, v: np.ndarray) -> str | None:
    want_n, want_s = int(mask.sum()), float(v[mask].sum())
    got_n, got_s = int(row["n"]), float(row["s"] or 0.0)
    if got_n != want_n or abs(got_s - want_s) > TOL * max(1.0, abs(want_s)):
        return f"{what}: ({got_n}, {got_s}) want ({want_n}, {want_s})"
    return None


def final_check(client: LakeClient, run: Run) -> None:
    from pyspark.sql import functions as F

    with client.ctx.tracer.muted():
        row = client.t.read().agg(F.count("*").alias("n"), F.sum("v").alias("s")).collect()[0]
    run.attempted += 1
    err = _agg_mismatch("final table", row, client.m.alive, client.m.v)
    if err:
        run.fail(err)


def report(client: LakeClient, run: Run) -> None:
    """Table shape, space amplification and read pruning, into the
    run's detail and per-layer records."""
    with client.ctx.tracer.muted():
        details = client.t.details()
    total_bytes = dir_bytes(client.t.path)
    run.name("space_amp", total_bytes / details["total_bytes"], "ratio",
             num=total_bytes, den=details["total_bytes"])
    run.detail.update(
        lake_prune_ratio=ratio(client.files_touched, client.files_live),
        lake_table={
            "rows_initial": int(client.m.versions[0][1].sum()),
            "rows_final": details["live_rows"],
            "files": details["num_files"],
            "dv_files": details["dv_files"],
            "versions": details["version"] + 1,
            "bytes": total_bytes,
            "fits_in_memory": True,
        },
        lake_sql_ops=client.sql_ops,
        expected_partition_probe_error_logs=client.probe_ops,
    )
    run.layer.update(
        {
            "lake.log_versions": details["version"] + 1,
            "lake.live_files": details["num_files"],
            "lake.dv_files": details["dv_files"],
            "lake.space_amp": total_bytes / details["total_bytes"],
            "lake.bytes_total": total_bytes,
            "lake.bytes_live": details["total_bytes"],
            "lake.files_per_read": client.files_touched / client.reads if client.reads else 0.0,
            "lake.prune_ratio": (
                client.files_touched / client.files_live if client.files_live else 0.0
            ),
            "lake.read_files_touched": client.files_touched,
            "lake.read_files_live": client.files_live,
        }
    )
