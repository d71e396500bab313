"""Lake change-data-feed as a Structured Streaming SOURCE — the
Delta-parity ``readStream.format("delta").option("readChangeFeed",
"true")`` slot, built on Spark 4's Python Data Source API so
lake → stream → lake pipelines close end-to-end (reference analog:
the incremental extraction the DAG's high-watermark pattern implies,
``airflow/dags/multi_source_ingestion_dag.py``; batch counterpart:
``LakeTable.changes()`` + ``sources/incremental.py``).

Design (scale-first):

- The OFFSET is the lake commit version: ``{"v": N}`` — monotone,
  replayable, and owned by the streaming CHECKPOINT, so exactly-once
  across restarts is Structured Streaming's usual contract (offset
  log + idempotent sink; ``lake.append_stream_batch`` downstream
  makes the whole loop exactly-once). The commit log is immutable, so
  ``partitions(start, end)`` is deterministic for any replayed range
  — the readBetweenOffsets guarantee, for free.
- Which files carry each commit's rows, and how their era columns map
  onto the current ones, is ``LakeTable._change_plan`` — the one plan
  batch ``changes()`` reads too. Each plan source becomes one
  ``InputPartition`` per CHANGE-CARRYING FILE (add file, removed file,
  or CDF change file), so a micro-batch over a burst of commits scans
  in parallel across executors — the driver only walks the plan; all
  parquet bytes are read executor-side via pyarrow.
- Schema = the table's CURRENT logical columns + ``_change_type`` +
  ``_commit_version`` (same contract as ``changes()``). Each partition
  ships its source's {output column → era physical column} map from
  the plan; a column with no surviving lineage reads NULL, never
  another column's bytes. Partitioned tables ship the file's hive
  partition values and fill them as constants.

Generated columns: the executor reader has no SQL evaluator, so files
that PREDATE a generated column's birth yield NULL from the raw
source — ``lake_cdf_stream`` closes the gap on the wrapper DataFrame
(where Spark SQL CAN evaluate) with ``lake._fill_generated``, the
helper every batch read uses.

Limitations (documented, loud):

- Vacuuming past a version that a checkpoint has not yet consumed
  breaks the stream (same as Delta CDF + VACUUM) — retention must
  outlive consumer lag. ``vacuum(protect_checkpoints=[...])`` turns
  this caveat into an enforced invariant.
- ``Trigger.AvailableNow`` is not supported by Spark's Python data
  source engine (it logs a warning and falls back to SINGLE-BATCH
  execution). Without ``max_versions_per_batch`` that fallback still
  drains everything available (one big batch). WITH the cap, one
  availableNow invocation advances at most ``max_versions_per_batch``
  commits and then terminates — bounded PROGRESS per run, never loss
  or duplication (the checkpoint carries the position; rerun to catch
  up). For a bounded full drain, run a processingTime trigger and stop
  when caught up, or loop availableNow runs until no batch fires —
  pinned by test_rate_limited_availablenow_bounded_progress.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import StructType

from ..lake import LakeTable, _LOG, _fill_generated, _part_converter, _phys
from ..lake_log import TableLog


class _CdfPartition(InputPartition):
    def __init__(self, spec: dict):
        self.spec = spec


class LakeCdfStreamReader(DataSourceStreamReader):
    def __init__(
        self,
        path: str,
        from_version: int,
        out_schema: StructType,
        max_versions_per_batch: int | None = None,
        mode: str = "cdf",
        ignore_deletes: bool = False,
        skip_change_commits: bool = False,
    ):
        self.path = path
        self.from_version = from_version
        self.out_schema = out_schema
        self.max_versions = max_versions_per_batch
        # mode="appends" (Delta non-CDF streaming-source parity):
        # stream only INSERT rows; a change commit in the offset range
        # RAISES by default (silently dropping it would desync
        # downstream state — Delta throws the same way), unless
        # ignore_deletes (delete-only commits skipped: partition
        # retention) or skip_change_commits (all change commits
        # skipped: Delta skipChangeCommits) is set.
        self.mode = mode
        self.ignore_deletes = ignore_deletes
        self.skip_change_commits = skip_change_commits
        # position tracking for rate limiting: None = fresh (base is
        # from_version). The cursor is MONOTONE and seeded by every
        # entry point that learns a position: initialOffset (fresh),
        # partitions() — which the engine calls with the RESTORED
        # checkpoint offsets before the first post-restart
        # latestOffset, for BOTH committed (`partitions(end, end)`
        # recovery call, observed on Spark 4.1) and uncommitted
        # (last-batch re-plan) restarts — and commit(). latestOffset
        # never returns below the cursor, so a capped offset can never
        # regress behind the checkpoint's high-water mark (a regressed
        # offset would poison the offset log: the engine adopts it as
        # the next batch start and re-delivers consumed versions).
        # Offsets stay exact either way — the cap only moves batch
        # BOUNDARIES. test_rate_limited_clean_committed_restart pins
        # the engine's seed-before-poll call order.
        self._cursor: int | None = None

    def _advance(self, v: int) -> None:
        if self._cursor is None or v > self._cursor:
            self._cursor = v

    # ------------------------------------------------------- offsets
    def initialOffset(self) -> dict:
        self._advance(int(self.from_version))
        return {"v": int(self.from_version)}

    def latestOffset(self) -> dict:
        latest = TableLog.at(os.path.join(self.path, _LOG)).latest_version()
        if self.max_versions is not None:
            # maxFilesPerTrigger-style admission control at COMMIT
            # granularity: a backfilled table drains as a sequence of
            # bounded micro-batches instead of one giant first batch.
            # Base = the reader's position: on a FRESH checkpoint the
            # engine asks for latestOffset BEFORE initialOffset
            # (observed call order), so an unset cursor means
            # from_version; on a RESTART the engine seeds the cursor
            # through partitions() with the checkpointed offsets
            # before this is ever consulted (see _cursor above).
            base = self._cursor if self._cursor is not None else int(self.from_version)
            latest = min(latest, base + int(self.max_versions))
            # monotone floor: never regress below a position we know
            # about (e.g. a restored cursor ahead of a truncated cap)
            latest = max(latest, base)
        return {"v": latest}

    # ---------------------------------------------------- partitions
    def partitions(self, start: dict, end: dict) -> list[InputPartition]:
        # LakeTable's log/metadata machinery is pure driver file I/O —
        # no SparkSession needed (micro-batch planning threads may not
        # carry an active session)
        t = LakeTable(None, self.path)
        lo, hi = int(start["v"]), int(end["v"])
        # rate-limit base for the next batch — monotone: a re-planned
        # OLD range (engine replaying the last checkpointed batch on
        # restart) must never drag the cursor backwards
        self._advance(max(lo, hi))
        snap = t._readable_snapshot(hi)
        out_fields = self.out_schema.fields[:-2]  # minus meta
        parts: list[InputPartition] = []
        plan = t._change_plan(lo, hi, snap.schema, snap.overwrites)
        for v, op, sources, changed in plan:
            if self.mode == "appends" and op not in ("create", "append"):
                # data-only stream: change commits are not representable.
                # compact and METADATA-ONLY commits (setprops,
                # constraints, column defaults, cluster-by,
                # generated/rename/drop column, …) carry no change rows
                # — Delta's non-CDF source does not fail on them either;
                # only genuine data-changing ops (overwrite/merge/
                # delete/update, even one whose change files are gone)
                # desync downstream
                if not changed or self.skip_change_commits:
                    continue
                if self.ignore_deletes and op == "delete":
                    continue
                raise ValueError(
                    f"appends-mode lake stream hit a {op!r} commit at "
                    f"version {v} — downstream state would desync; pass "
                    "skip_change_commits=True (or ignore_deletes=True "
                    "for delete-only retention) to skip, or stream the "
                    "CDF mode instead"
                )
            for src in sources:
                cols = [src.cols.get(f.name) for f in out_fields]
                if src.cdf_dir is not None:
                    parts += [
                        _CdfPartition(
                            {
                                "kind": "cdf",
                                "path": os.path.join(src.cdf_dir, fname),
                                "cols": cols,
                                "part_values": {},
                                "version": v,
                            }
                        )
                        for fname in sorted(os.listdir(src.cdf_dir))
                        if fname.endswith(".parquet")
                    ]
                    continue
                # hive partition values ship as TYPED constants (dates/
                # timestamps parse on the driver once per file, not per
                # row), keyed by era physical name
                conv = {_phys(f): _part_converter(f.dataType) for f in src.era.fields}
                for a in src.entries:
                    dv = a.get("dv")
                    parts.append(
                        _CdfPartition(
                            {
                                "kind": "file",
                                "path": t._abs(a["path"]),
                                "cols": cols,
                                "part_values": {
                                    k: (None if x is None else conv.get(k, str)(x))
                                    for k, x in (a.get("partition") or {}).items()
                                },
                                "change": src.change,
                                "version": v,
                                "dv_path": t._abs(dv["path"]) if dv else None,
                                "dv_base": os.path.basename(a["path"]) if dv else None,
                            }
                        )
                    )
        return parts

    # ----------------------------------------------------- executor
    def read(self, partition: _CdfPartition):
        """Executor-side: pyarrow scan of ONE parquet file, era→current
        projection, DV anti-filter for overwrite-removed files, hive
        partition constants.

        Arrow batches across the Python boundary, never per-row tuples
        (guide §4): the whole projection is column-level pyarrow work —
        reuse the file's buffers, fill constants, cast to the output
        schema's exact Arrow types — and ONE RecordBatch crosses to the
        JVM. A file the cast refuses raises; it is never skipped."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from pyspark.sql.pandas.types import to_arrow_type

        spec = partition.spec
        pf = pq.ParquetFile(spec["path"])
        names = set(pf.schema_arrow.names)
        n = pf.metadata.num_rows
        want = [c for c in spec["cols"] if c is not None and c in names]
        if spec["kind"] == "cdf":
            want = want + ["_change_type"]
        table = (
            pq.read_table(spec["path"], columns=sorted(set(want)))
            if want
            else None
        )
        arrays, fields = [], []
        for f, c in zip(self.out_schema.fields[:-2], spec["cols"]):
            t = to_arrow_type(f.dataType)
            if c is not None and c in names:
                arr = table.column(c).combine_chunks()
                if arr.type != t:
                    # a naive (tz-less) parquet timestamp cast to the
                    # output TimestampType (tz=UTC) is read as UTC wall
                    # time, not in the session time zone
                    arr = arr.cast(t)
            else:
                # column born after this era / hive partition constant
                v = spec["part_values"].get(c) if c is not None else None
                arr = pa.nulls(n, t) if v is None else pa.array([v] * n, type=t)
            arrays.append(arr)
            fields.append(pa.field(f.name, t))
        if spec["kind"] == "cdf":
            change = table.column("_change_type").combine_chunks().cast(pa.string())
        else:
            change = pa.array([spec["change"]] * n, type=pa.string())
        arrays.append(change)
        fields.append(pa.field("_change_type", pa.string()))
        arrays.append(pa.array([spec["version"]] * n, type=pa.int64()))
        fields.append(pa.field("_commit_version", pa.int64()))
        out = pa.table(arrays, schema=pa.schema(fields))
        if spec.get("dv_path"):
            dv = pq.read_table(spec["dv_path"], columns=["_dv_base", "_dv_pos"])
            dead = {
                int(p)
                for b, p in zip(
                    dv.column("_dv_base").to_pylist(),
                    dv.column("_dv_pos").to_pylist(),
                )
                if b == spec["dv_base"]
            }
            out = out.take([i for i in range(n) if i not in dead])
        yield from out.to_batches()

    def commit(self, end: dict) -> None:
        # the checkpoint owns the durable cursor (the log is
        # immutable); track it here only as the rate-limit base
        self._advance(int(end["v"]))


class LakeCdfDataSource(DataSource):
    """``spark.readStream.format("lakecdf")`` — options: ``path`` (the
    lake table), ``from_version`` (exclusive lower bound; default -1 =
    stream from the create commit), ``max_versions_per_batch``
    (optional maxFilesPerTrigger-parity admission control: each
    micro-batch covers at most that many commit versions; offsets stay
    exact, and the cursor is monotone across restarts — see
    LakeCdfStreamReader; availableNow caveat in the module docstring)."""

    @classmethod
    def name(cls) -> str:
        return "lakecdf"

    def _table_schema(self) -> StructType:
        path = self.options.get("path")
        if not path:
            raise ValueError("lakecdf requires a 'path' option")
        _, _, schema = LakeTable(None, path)._snapshot()
        return schema

    def schema(self) -> str:
        schema = self._table_schema()
        cols = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields
        )
        return f"{cols}, `_change_type` string, `_commit_version` long"

    def streamReader(self, schema: StructType) -> LakeCdfStreamReader:
        mv = self.options.get("max_versions_per_batch")
        return LakeCdfStreamReader(
            self.options["path"],
            int(self.options.get("from_version", -1)),
            schema,
            max_versions_per_batch=int(mv) if mv is not None else None,
            mode=self.options.get("mode", "cdf"),
            ignore_deletes=self.options.get("ignore_deletes", "false")
            == "true",
            skip_change_commits=self.options.get(
                "skip_change_commits", "false"
            )
            == "true",
        )


def register_lakecdf_datasource(spark: SparkSession) -> None:
    """Idempotent registration of the ``lakecdf`` streaming format."""
    spark.dataSource.register(LakeCdfDataSource)


def lake_cdf_stream(
    spark: SparkSession,
    path: str,
    from_version: int = -1,
    max_versions_per_batch: int | None = None,
) -> DataFrame:
    """The lake table's change feed as an unbounded streaming
    DataFrame: every commit past ``from_version`` (exclusive) arrives
    as rows tagged ``_change_type`` / ``_commit_version``; the
    checkpoint owns the version cursor, so ``availableNow`` drains +
    restarts consume each commit exactly once.

    Generated columns stream with their VALUES in every era (batch
    ``changes()`` parity): pre-birth files read NULL from the raw
    source, and ``lake._fill_generated`` recomputes them on the
    wrapper DataFrame — a narrow per-row map, so the executor reader
    stays SQL-free."""
    return _lake_stream(spark, path, from_version, max_versions_per_batch)


def lake_append_stream(
    spark: SparkSession,
    path: str,
    from_version: int = -1,
    ignore_deletes: bool = False,
    skip_change_commits: bool = False,
    max_versions_per_batch: int | None = None,
) -> DataFrame:
    """The lake table as a DATA stream (Delta non-CDF streaming-source
    parity): each commit's INSERTED rows arrive as a micro-batch (the
    table's columns; ``_change_type``/``_commit_version`` dropped). A
    merge/update/delete commit in range RAISES — Delta's contract: a
    data stream silently skipping changes desyncs downstream state —
    unless ``ignore_deletes`` (delete-only commits tolerated:
    partition/GDPR retention) or ``skip_change_commits`` (every change
    commit skipped) opts in. Generated columns recompute like
    :func:`lake_cdf_stream`."""
    return _lake_stream(
        spark, path, from_version, max_versions_per_batch,
        mode="appends",
        ignore_deletes="true" if ignore_deletes else "false",
        skip_change_commits="true" if skip_change_commits else "false",
    ).drop("_change_type", "_commit_version")


def _lake_stream(
    spark: SparkSession,
    path: str,
    from_version: int,
    max_versions_per_batch: int | None,
    **options: str,
) -> DataFrame:
    """The ``lakecdf`` source over ``path`` with reader ``options``,
    generated columns recomputed where the raw source reads NULL."""
    register_lakecdf_datasource(spark)
    reader = (
        spark.readStream.format("lakecdf")
        .option("path", path)
        .option("from_version", str(from_version))
        .options(**options)
    )
    if max_versions_per_batch is not None:
        reader = reader.option(
            "max_versions_per_batch", str(int(max_versions_per_batch))
        )
    _, _, schema = LakeTable(None, path)._snapshot()
    return _fill_generated(reader.load(), schema)
