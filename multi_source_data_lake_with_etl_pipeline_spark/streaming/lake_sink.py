"""Lake table as a native Structured Streaming SINK — the Delta-parity
``df.writeStream.format("delta")`` slot, built on Spark 4's Python Data
Source WRITER API (reference analog: the continuous point-write path,
``src/loaders/timeseries_loaders.py``; the foreachBatch +
``append_stream_batch`` route stays available and is required for
tables with engine-side write features, see below).

Exactly-once: executors write each task's rows to a STAGING parquet
file (pyarrow, Arrow-typed to the sink schema) and return its path as
the commit message; the driver's ``commit(messages, batchId)`` moves
the staged files into ``data/`` and lands ONE lake commit carrying the
``(app_id, batchId)`` txn marker — the same idempotence contract as
``append_stream_batch``, so replayed micro-batches (Structured
Streaming is at-least-once across restarts) dedupe on the marker and
become no-ops. ``abort`` deletes the staged files; a crash between
write and commit leaves only ``_tmp_sink_*`` debris that ``vacuum``
sweeps.

Feature gate (loud, at stream start): tables with generated columns,
identity columns, or column mapping need engine-side write logic that
an executor-side parquet writer cannot run — the sink refuses them and
points at foreachBatch + ``append_stream_batch`` (which supports all
of them). PLAIN partition columns (string/int/date/boolean, present in
the stream) ARE supported (round 10): each executor task groups its
rows by partition tuple and stages one file per partition; the driver
lands them under hive directories with exact partition stats — the
same add-entry shape every other writer produces, so pruning,
replace_where, CDF, and vacuum see sink-written partitions
identically. Timestamp-typed partition columns stay gated (dirname
string form is format-ambiguous). CHECK constraints ARE enforced: the
driver validates the staged batch (partition columns rebuilt as typed
literals) before committing and aborts the batch whole on a violation.
"""

from __future__ import annotations

import os
import uuid
from dataclasses import dataclass, field
from datetime import timezone as _dt_timezone

_UTC = _dt_timezone.utc

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamWriter,
    WriterCommitMessage,
)
from pyspark.sql.types import (
    BooleanType,
    ByteType,
    DateType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    ShortType,
    StringType,
    StructType,
    TimestampNTZType,
    TimestampType,
)

from ..lake import (
    LakeTable,
    _HIVE_NULL,
    _bindings,
    _constraints,
    _gen_expr,
    _identity_spec,
    _is_mapped,
    _json_safe,
    _part_converter,
)
from ..lake_log import Txn


def _arrow_type(dt):
    import pyarrow as pa

    m = {
        LongType(): pa.int64(),
        IntegerType(): pa.int32(),
        ShortType(): pa.int16(),
        ByteType(): pa.int8(),
        DoubleType(): pa.float64(),
        FloatType(): pa.float32(),
        StringType(): pa.string(),
        BooleanType(): pa.bool_(),
        DateType(): pa.date32(),
        # instant semantics: isAdjustedToUTC=true so Spark reads back
        # TIMESTAMP (not NTZ). Executor rows carry NAIVE datetimes
        # rendered in the python worker's SYSTEM timezone (pickled-row
        # deserialization, probe-verified) — write() normalizes them
        # to UTC before building the arrays, so the written instant is
        # host-timezone independent.
        TimestampType(): pa.timestamp("us", tz="UTC"),
        TimestampNTZType(): pa.timestamp("us"),
    }
    got = m.get(dt)
    if got is None:
        raise ValueError(
            f"lakesink: unsupported column type {dt.simpleString()} — "
            "use foreachBatch + append_stream_batch"
        )
    return got


@dataclass
class _StagedFiles(WriterCommitMessage):
    # [(staged_path, partition_value_strings | None)] — partition
    # values cross the executor→driver boundary as hive-style strings
    # (None = NULL); the driver re-types them with _part_converter,
    # the same conversion every other producer uses.
    paths: list = field(default_factory=list)


def _part_str(v) -> str | None:
    """Partition value → its hive dirname string form (executor-side;
    must invert through ``_part_converter`` driver-side)."""
    import datetime as _dt

    if v is None:
        return None
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, _dt.date):
        return v.isoformat()
    return str(v)


class LakeSinkStreamWriter(DataSourceStreamWriter):
    def __init__(self, path: str, app_id: str, schema: StructType):
        self.path = path
        self.app_id = app_id
        self.sink_schema = schema
        # validation runs ONCE on the driver at stream start: feature
        # gate + append_stream_batch's schema-subset rule
        t = LakeTable(None, path)
        _, _, table_schema = t._snapshot()
        blockers = []
        if any(_gen_expr(f) for f in table_schema.fields):
            blockers.append("generated columns")
        if any(_identity_spec(f) for f in table_schema.fields):
            blockers.append("identity columns")
        if _is_mapped(table_schema):
            blockers.append("column mapping")
        # PLAIN partition columns ARE supported (round 10): executors
        # group rows by partition tuple and stage one file per
        # partition; the driver lands them under hive dirs with exact
        # partition stats — the same entry shape as _write_files.
        # Timestamp-typed partition columns stay gated (their dirname
        # string form is format-ambiguous, matching _write_files'
        # stats exclusion rationale, but here the VALUE itself rides
        # the dirname so ambiguity is a correctness risk).
        self.partition_cols: list[tuple[str, object]] = []
        pp = t._partition_phys()
        if pp:
            by_name = {f.name: f for f in table_schema.fields}
            missing = [p for p in pp if p not in {f.name for f in schema.fields}]
            if missing:
                blockers.append(
                    f"partition column(s) {missing} absent from the stream"
                )
            for p in pp:
                f = by_name.get(p)
                if f is not None and f.dataType.simpleString().startswith(
                    "timestamp"
                ):
                    blockers.append(
                        f"timestamp-typed partition column {p!r}"
                    )
            self.partition_cols = [
                (p, by_name[p].dataType) for p in pp if p in by_name
            ]
        if blockers:
            raise ValueError(
                f"lakesink: table at {path} uses {', '.join(blockers)} — "
                "these need engine-side write logic; use foreachBatch + "
                "append_stream_batch instead"
            )
        by_name = {f.name: f for f in table_schema.fields}
        for f in schema.fields:
            have = by_name.get(f.name)
            if have is None:
                raise ValueError(
                    f"lakesink: stream adds unknown column {f.name!r}; "
                    "evolve the table with append(merge_schema=True) first"
                )
            if have.dataType != f.dataType:
                raise ValueError(
                    f"lakesink: schema mismatch on '{f.name}': table has "
                    f"{have.dataType.simpleString()}, stream has "
                    f"{f.dataType.simpleString()}"
                )

    # ------------------------------------------------------ executors
    def write(self, iterator) -> _StagedFiles:
        import pyarrow as pa
        import pyarrow.parquet as pq

        rows = list(iterator)
        if not rows:
            return _StagedFiles([])
        part_names = [n for n, _ in self.partition_cols]
        fields = [
            (i, f)
            for i, f in enumerate(self.sink_schema.fields)
            if f.name not in part_names
        ]
        part_idx = [
            i
            for i, f in enumerate(self.sink_schema.fields)
            if f.name in part_names
        ]

        def _vals(col, f):
            # TIMESTAMP (instant) columns arrive as naive datetimes in
            # the worker's SYSTEM timezone; astimezone(utc) interprets
            # a naive value as local time and converts — written
            # instants stay correct on any host, not just UTC ones.
            # (DST-repeated local hours resolve via the value's fold
            # attribute, the same rule datetime itself uses.) NTZ stays
            # naive by definition; aware values convert exactly.
            if isinstance(f.dataType, TimestampType):
                return [
                    None if v is None else v.astimezone(_UTC) for v in col
                ]
            return list(col)

        def _write_group(group_rows) -> str:
            cols = list(zip(*group_rows))
            table = pa.Table.from_arrays(
                [
                    pa.array(
                        _vals(cols[i], f), type=_arrow_type(f.dataType)
                    )
                    for i, f in fields
                ],
                names=[f.name for _, f in fields],
            )
            staging = os.path.join(self.path, f"_tmp_sink_{uuid.uuid4().hex}")
            os.makedirs(staging, exist_ok=True)
            out = os.path.join(staging, f"{uuid.uuid4().hex}.parquet")
            pq.write_table(table, out)
            return out

        if not part_idx:
            return _StagedFiles([(_write_group(rows), None)])
        # partitioned: one staged file per partition tuple in this task
        groups: dict[tuple, list] = {}
        for r in rows:
            key = tuple(_part_str(r[i]) for i in part_idx)
            if "" in key:
                raise ValueError(
                    "empty-string value in partition column(s) "
                    f"{part_names}: hive layout can't represent '' "
                    "distinctly from NULL — write NULL or a sentinel"
                )
            groups.setdefault(key, []).append(r)
        staged = []
        for key, group_rows in sorted(groups.items(), key=lambda kv: str(kv[0])):
            part = {
                self.sink_schema.fields[i].name: v
                for i, v in zip(part_idx, key)
            }
            staged.append((_write_group(group_rows), part))
        return _StagedFiles(staged)

    # --------------------------------------------------------- driver
    def _cleanup(self, messages) -> None:
        import shutil

        for m in messages or []:
            for entry in (m.paths if m else []):
                p = entry[0] if isinstance(entry, tuple) else entry
                shutil.rmtree(os.path.dirname(p), ignore_errors=True)

    def commit(self, messages, batchId: int) -> None:
        from urllib.parse import quote

        from pyspark.sql import functions as F

        spark = SparkSession.getActiveSession()
        t = LakeTable.load(spark, self.path)
        snap = t._readable_snapshot()
        if snap.txns.get(self.app_id, -1) >= batchId:
            self._cleanup(messages)  # replay: the marker already landed
            return
        staged = [e for m in messages if m for e in m.paths]
        schema = snap.schema
        types = {f.name: f.dataType for f in schema.fields}

        def frame(files) -> DataFrame:
            # Partitioned: the files LACK the partition columns (they
            # ride the dirname); rebuild them as typed literals per file
            # so partition-referencing constraints still validate.
            out = None
            for p, part in files:
                d = spark.read.parquet(p)
                for name, vstr in (part or {}).items():
                    conv = _part_converter(types[name])
                    d = d.withColumn(
                        name,
                        F.lit(None if vstr is None else conv(vstr)).cast(
                            types[name]
                        ),
                    )
                out = d if out is None else out.unionByName(d)
            return spark.createDataFrame([], self.sink_schema) if out is None else out

        # CHECK constraints validate the WHOLE batch before any file
        # moves — a violation aborts the micro-batch, table untouched
        cons = _constraints(snap.props)
        if cons and staged:
            t._check_constraints(frame(staged), cons)
        adds, moved = [], []
        for p, part in staged:
            segs, typed = [], None
            if part:
                typed = {}
                for name, vstr in part.items():
                    if vstr is None:
                        segs.append(f"{name}={_HIVE_NULL}")
                        typed[name] = None
                    else:
                        segs.append(f"{name}={quote(vstr, safe='')}")
                        typed[name] = _json_safe(
                            _part_converter(types[name])(vstr)
                        )
            entry = t._land(p, segs, typed, types)
            if entry is not None:
                adds.append(entry)
                moved.append((t._abs(entry["path"]), part))
        self._cleanup(messages)  # empty staging dirs
        # the same lost-race re-check as append_stream_batch: a racing
        # ADD CONSTRAINT re-validates the moved files, a remapped batch
        # column conflicts
        recheck = t._append_recheck(
            _bindings(schema, self.sink_schema.fieldNames()), cons,
            lambda _: frame(moved),
        )
        t._commit_txn(
            Txn(
                snap, t._log, blind=True,
                marker=(self.app_id, int(batchId)), recheck=recheck,
            ),
            "append", adds, [], schema,
            metrics={"rows_appended": sum(a["rows"] for a in adds)},
        )

    def abort(self, messages, batchId: int) -> None:
        self._cleanup(messages)


class LakeSinkDataSource(DataSource):
    """``df.writeStream.format("lakesink")`` — options: ``path`` (the
    lake table), ``app_id`` (txn marker namespace; defaults to the
    checkpoint-scoped query — pass one explicitly for cross-checkpoint
    idempotence)."""

    @classmethod
    def name(cls) -> str:
        return "lakesink"

    def streamWriter(self, schema: StructType, overwrite: bool) -> LakeSinkStreamWriter:
        if overwrite:
            raise ValueError("lakesink supports append output mode only")
        path = self.options.get("path")
        if not path:
            raise ValueError("lakesink requires a 'path' option")
        return LakeSinkStreamWriter(
            path, self.options.get("app_id", "lakesink"), schema
        )


def register_lakesink_datasource(spark: SparkSession) -> None:
    """Idempotent registration of the ``lakesink`` streaming format."""
    spark.dataSource.register(LakeSinkDataSource)
