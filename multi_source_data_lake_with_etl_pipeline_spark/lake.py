"""Versioned lake table: an ACID-ish table format over parquet with a
transaction log — the from-scratch equivalent of the Delta/Iceberg
layer the reference's stated architecture assumes (BASELINE.json
"DataFrame transformations over Delta/Iceberg tables"; reference
upsert/delete semantics per ``base_loaders.py:149-181``,
``mongo_connector.py:152-161``). No Delta/Iceberg package exists in
this environment, so the table format itself is implemented here from
the public protocol ideas (Delta transaction log / Iceberg snapshots):

Layout::

    <path>/data/<uuid>.parquet          immutable data files
    <path>/_log/<020d-version>.json     one commit per version
    <path>/_log/_checkpoint.<version>.json  full state every N commits

(the log's files are read and written only by ``lake_log.TableLog``)

Each commit records ``add`` entries (relative path, row count, bytes,
per-column min/max footer stats) and ``remove``d paths, plus the table
schema. The active snapshot at version V = replay of commits ≤ V from
the nearest checkpoint. This gives, at 100 TB scale:

- **O(changed-files) writes**: MERGE/DELETE locate touched files with
  an ``input_file_name()`` scan (predicate-pushed, row-group pruned)
  and rewrite ONLY those files; a 50-row upsert into a 100 TB table
  rewrites one file, and every other file is byte-identical (asserted
  in tests). No whole-table or even whole-partition copy-on-write.
- **Snapshot isolation**: a reader resolves its file list once; later
  commits add/remove *other* files, never mutate existing ones, so an
  in-flight query is unaffected. Time travel = read at an older version
  or timestamp.
- **File-level data skipping**: commit-time footer min/max stats prune
  files before Spark ever lists them (the driver-side analogue of
  row-group pruning, one level up).
- **Optimistic concurrency**: commits are O_EXCL-created version
  files; data writers commit through one ``lake_log.Txn`` (appends
  commute, other ops rebase past disjoint commits), metadata ops
  surface a lost race as ``CommitConflict``.

The log is JSON on the driver — fine up to ~1e6 files per table; past
that, checkpoints keep replay O(files), matching Delta's design.
"""

from __future__ import annotations

import datetime
import json
import os
import re
import shutil
import time
import uuid
from collections.abc import Mapping
from typing import NamedTuple
from urllib.parse import quote, unquote

from pyspark.errors import (
    AnalysisException,
    ArithmeticException,
    DateTimeException,
    NumberFormatException,
    PySparkTypeError,
    PySparkValueError,
)
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from .lake_log import CommitConflict, Snapshot, TableLog, Txn

_LOG = "_log"
_DATA = "data"
_CDF = "_cdf"
_DV = "dv"  # deletion-vector sidecars: (base, pos) parquet per delete
# Internal column names the DV read path injects at scan time. A user
# column with either name would become ambiguous inside delete/merge
# and corrupt vector application, so they are rejected at every schema
# entry point (create/append/overwrite) — the same reservation Delta
# makes for _change_type.
_RESERVED_COLS = ("_dv_base", "_dv_pos")


def _check_reserved(schema: StructType) -> None:
    bad = [f.name for f in schema.fields if f.name in _RESERVED_COLS]
    if bad:
        raise ValueError(
            f"column name(s) {bad} are reserved for the lake's deletion-"
            "vector metadata — rename them before writing"
        )


# Footer stats only for types whose min/max compare unambiguously
# across engines. Strings are handled separately with SAFE prefix
# bounds (see _str_upper_bound): parquet may truncate binary stats,
# so the stored max is treated as a possibly-truncated PREFIX of the
# true max and widened to an upper bound no real value can exceed.
_STAT_TYPES = ("int", "bigint", "smallint", "tinyint", "float", "double", "date")
_STR_STAT_PREFIX = 64  # chars kept of string min/max prefixes


def _str_upper_bound(prefix: str) -> str | None:
    """Smallest-effort string STRICTLY GREATER than every string that
    starts with ``prefix`` (Delta's truncated-stats widening): bump the
    last incrementable character and drop the tail. None when no safe
    bound exists (empty prefix, or all chars at the codepoint max) —
    the caller then records no upper bound and the file is always
    kept. Lower bounds need no widening: a truncated min prefix sorts
    <= the true min already."""
    for i in range(len(prefix) - 1, -1, -1):
        c = ord(prefix[i])
        # skip the surrogate gap: chr() of D800-DFFF is unorderable
        # garbage in parquet/UTF-8 terms
        nxt = c + 1
        if nxt == 0xD800:
            nxt = 0xE000
        if nxt <= 0x10FFFF:
            return prefix[:i] + chr(nxt)
    return None


# Table protocol (Delta reader-features parity): every commit stamps
# the features a reader MUST understand to read the table correctly
# from that commit on ("reader_features" in the record, cumulative
# union carried by checkpoints). A reader accumulates the stamps over
# its replay and REFUSES unknown names loudly — the alternative is an
# old reader silently misreading, e.g. resolving column-mapped
# physical names as missing columns (all-NULL data) or resurrecting
# DV-deleted rows. Logs written before stamping existed carry no
# stamps and read fine (backward compatible).
_READER_FEATURES = frozenset(
    {
        "column-mapping",
        "deletion-vectors",
        "generated-columns",
        "partition-columns",
    }
)

# Writer features (Delta minWriterVersion parity): everything a WRITER
# must understand to mutate the table without corrupting invariants
# newer readers rely on — a protocol-ignorant writer could e.g. append
# files without partition values on a partitioned table, write logical
# instead of physical names on a mapped table, skip generated-column
# materialization, or append rows that violate CHECK constraints
# (which readers never re-verify). Every mutating op replays the
# table's cumulative writer-feature stamps FIRST and refuses unknown
# names loudly; reads stay available as long as the READER features
# are known. Cumulative like reader stamps (a dropped constraint does
# not retract the stamp — Delta parity).
_WRITER_FEATURES = frozenset(
    {
        "column-mapping",
        "deletion-vectors",
        "generated-columns",
        "partition-columns",
        "check-constraints",
        "identity-columns",
    }
)


class UnsupportedTableFeature(RuntimeError):
    """The table requires reader or writer features this build doesn't
    know (readers refuse on unknown reader features; writers refuse on
    unknown writer features while reads keep working)."""


class ConstraintViolation(ValueError):
    """A batch (or the existing table, for ADD CONSTRAINT) violates a
    CHECK constraint — the commit is rejected whole, the table state is
    untouched."""


def _file_stats(abs_path: str) -> tuple[int, dict[str, list], dict[str, int]]:
    """Row count, per-column [min, max], and per-column NULL counts
    from parquet footers (no data scan — pyarrow reads only metadata).
    Null counts cover every flat column with footer null stats —
    including string/binary/decimal columns whose min/max we skip — so
    IS NULL / IS NOT NULL predicates can prune files the range stats
    can't."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(abs_path).metadata
    mins: dict[str, object] = {}
    maxs: dict[str, object] = {}
    nulls: dict[str, int] = {}
    null_unknown: set[str] = set()
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            st = col.statistics
            name = col.path_in_schema
            if "." in name:  # nested — skip
                continue
            if st is not None and st.has_null_count:
                nulls[name] = nulls.get(name, 0) + int(st.null_count)
            else:  # one stats-less row group poisons the file's count
                null_unknown.add(name)
            if st is None or not st.has_min_max:
                continue
            try:
                mn, mx = st.min, st.max
            except NotImplementedError:
                # pyarrow can't decode stats for every logical type —
                # skip the column; skipping is only an optimization.
                continue
            if isinstance(mn, bytes):
                # string/binary stats may be TRUNCATED by the writer:
                # treat both as prefixes and widen safely — the min
                # prefix already sorts <= the true min; the max prefix
                # is bumped past every string it could prefix. Decode
                # errors="ignore" drops a torn trailing codepoint,
                # which only SHORTENS the prefix (still safe both
                # ways). Non-UTF8 binary columns skip (bound games on
                # raw bytes aren't worth it).
                if not isinstance(mx, bytes):
                    continue
                try:
                    mn_s = mn.decode("utf-8", errors="ignore")[:_STR_STAT_PREFIX]
                    mx_p = mx.decode("utf-8", errors="ignore")[:_STR_STAT_PREFIX]
                except Exception:
                    continue
                mx_s = _str_upper_bound(mx_p)
                if mx_s is None:
                    continue
                if name not in mins or mn_s < mins[name]:
                    mins[name] = mn_s
                if name not in maxs or mx_s > maxs[name]:
                    maxs[name] = mx_s
                continue
            if type(mn).__name__ == "Decimal":
                # decimal stats: not JSON-round-trippable without
                # precision games — conservatively keep (no skipping).
                continue
            if name not in mins or mn < mins[name]:
                mins[name] = mn
            if name not in maxs or mx > maxs[name]:
                maxs[name] = mx
    stats = {c: [_json_safe(mins[c]), _json_safe(maxs[c])] for c in mins if c in maxs}
    for c in null_unknown:
        nulls.pop(c, None)
    return md.num_rows, stats, nulls


def _json_safe(v):
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


# --------------------------------------------------------------- column
# mapping (Delta column-mapping "name mode" parity): every field MAY
# carry StructField metadata {"lake.physical": <parquet column name>}.
# The physical name is assigned when the column is born and NEVER
# changes; RENAME swaps only the logical name (metadata-only commit)
# and DROP removes the field while tombstoning its physical name in
# table props ("colmap.dropped") so a later re-add of the same logical
# name gets a FRESH physical name instead of resurrecting dropped bytes
# from old files. A field without the metadata key has physical ==
# logical (tables never renamed pay zero overhead and stay readable).
_PHYS_KEY = "lake.physical"
_DROPPED_PROP = "colmap.dropped"
# Generated columns (Delta GENERATED ALWAYS AS parity): the generation
# expression rides in StructField metadata, so it is versioned with the
# schema (time travel sees the rules of its era) and travels with
# clone. Values are MATERIALIZED at write (so filters and footer stats
# work) and computed on read for files predating the column's birth
# (coalesce is identity for materialized rows — a deterministic expr
# recomputes the same value).
_GEN_KEY = "lake.generated"
# Identity columns (Delta GENERATED ALWAYS AS IDENTITY parity): the
# {start, step} spec rides in StructField metadata (versioned with the
# schema, travels with clone); the HIGH-WATER MARK (last assigned
# value) lives in table props ("identity.<name>") and advances with
# every assigning commit. ALWAYS semantics: user batches must NOT
# supply the column — the engine assigns values that are UNIQUE and
# MONOTONE in step direction but NOT consecutive (same contract as
# Delta: ranges are reserved per write task, so gaps are normal).
# Values are materialized at write; reads need nothing special — a
# WRITER-only protocol feature ("identity-columns" stamp).
_IDENTITY_KEY = "lake.identity"
# Column DEFAULT values (Delta DEFAULT parity): a CONSTANT expression
# in StructField metadata; when a WRITE BATCH omits the column, the
# default materializes at write time (footer stats work) — an explicit
# NULL in a supplied column stays NULL, and files written BEFORE the
# default existed keep reading NULL (no backfill), both exactly
# Delta's contract. Defaults must be constant-foldable (no column
# references) — validated at registration over a zero-column frame.
_DEFAULT_KEY = "lake.default"


def _gen_expr(f) -> str | None:
    md = f.metadata or {}
    return md.get(_GEN_KEY)


def _fill_generated(df: DataFrame, schema: StructType) -> DataFrame:
    """``df`` with each generated column of ``schema`` computed from its
    stored expression where it reads NULL — rows of files that predate
    the column's birth (identity for materialized rows: the same
    deterministic expression recomputes the same value)."""
    for f in schema.fields:
        e = _gen_expr(f)
        if e:
            df = df.withColumn(
                f.name, F.coalesce(F.col(f.name), F.expr(e).cast(f.dataType))
            )
    return df


def _identity_spec(f) -> dict | None:
    md = f.metadata or {}
    raw = md.get(_IDENTITY_KEY)
    if raw is None:
        return None
    return json.loads(raw) if isinstance(raw, str) else dict(raw)


def _default_expr(f) -> str | None:
    md = f.metadata or {}
    return md.get(_DEFAULT_KEY)


def _phys(f) -> str:
    """Physical (parquet) column name of a schema field."""
    md = f.metadata or {}
    return md.get(_PHYS_KEY, f.name)


def _is_mapped(schema: StructType) -> bool:
    return any(_phys(f) != f.name for f in schema.fields)


def _bindings(schema: StructType, names) -> dict[str, tuple]:
    """{column: (physical name, generation expression)} for the columns
    of ``schema`` in ``names`` — what a batch's files are written
    under."""
    return {
        f.name: (_phys(f), _gen_expr(f)) for f in schema.fields if f.name in names
    }


def _new_columns(
    schema: StructType, props: Mapping, fields, who: str, assigned: dict | None = None
) -> list[StructField]:
    """Schema widening (Delta ``mergeSchema``), the one rule of append
    and MERGE WITH SCHEMA EVOLUTION: the ``fields`` the table ``schema``
    lacks, as nullable columns to add after it (earlier files read them
    as NULL). A type change never evolves: it raises. A new column
    whose name is a physical name in use, or tombstoned by a past DROP,
    gets a uniquified physical name, so old files' bytes under the
    recycled name can never resurrect. ``assigned`` keeps those names
    stable across commit retries (the files are written once); a retry
    finding one claimed by a racing writer conflicts."""
    assigned = {} if assigned is None else assigned
    have = {f.name: f for f in schema.fields}
    used = {_phys(f) for f in schema.fields} | set(
        json.loads(props.get(_DROPPED_PROP, "[]"))
    )
    out = []
    for f in fields:
        if f.name in have:
            if have[f.name].dataType != f.dataType:
                raise ValueError(
                    f"{who} schema mismatch on '{f.name}': table has "
                    f"{have[f.name].dataType.simpleString()}, batch has "
                    f"{f.dataType.simpleString()} — type changes never evolve"
                )
            continue
        p = assigned.get(f.name)
        if p is None:
            p = f.name if f.name not in used else f"{f.name}__p{uuid.uuid4().hex[:8]}"
            assigned[f.name] = p
        elif p in used:
            raise CommitConflict(
                f"concurrent schema change claimed physical column {p!r} "
                "— re-run against the new head"
            )
        out.append(
            StructField(f.name, f.dataType, True, {_PHYS_KEY: p} if p != f.name else {})
        )
    _check_reserved(StructType(out))
    return out


def _constraints(props: Mapping) -> dict[str, str]:
    """{name: CHECK predicate} recorded in table props."""
    pfx = "constraint."
    return {k[len(pfx):]: p for k, p in props.items() if k.startswith(pfx)}


def _cluster_layout(df: DataFrame, cols: list[str], n: int) -> DataFrame:
    """Lay ``df`` out as ``n`` files: Z-order over several columns, a
    range partition sorted within files over one, a plain coalesce over
    none — per-file footer ranges then stay tight on every listed
    column."""
    if len(cols) > 1:
        from .operators.zorder import zorder_by

        return zorder_by(df, cols, n)
    if cols:
        return df.repartitionByRange(n, F.col(cols[0])).sortWithinPartitions(
            cols[0]
        )
    return df.coalesce(n)


def _physical_schema(schema: StructType) -> StructType:
    return StructType(
        [StructField(_phys(f), f.dataType, f.nullable) for f in schema.fields]
    )


def _to_physical(df: DataFrame, schema: StructType | None) -> DataFrame:
    """Rewrite a frame's LOGICAL column names to their stable PHYSICAL
    names per ``schema``'s column mapping — the single projection every
    data/CDF file write goes through, so any future mapping rule lands
    on all writers by construction."""
    if schema is None or not _is_mapped(schema):
        return df
    by_logical = {f.name: _phys(f) for f in schema.fields}
    return df.select(
        *[F.col(c).alias(by_logical.get(c, c)) for c in df.columns]
    )


# Target parquet file size for lake data writes (guide §6: aim for
# files in the 128 MB-1 GB range). Used to derive a scale-adaptive
# writer partition count from the optimizer's size estimate instead of
# inheriting the source's task count: a KB-sized commit lands as one
# file, a 100 TB batch keeps every writer task. Env-overridable so a
# cluster deployment can push toward 1 GB objects without a code edit.
_TARGET_FILE_BYTES = int(
    os.environ.get("MDL_TARGET_FILE_BYTES", str(128 << 20))
)


def _explicit_layout(df: DataFrame) -> bool:
    """True when the batch's plan TOP is a caller-specified
    repartition/coalesce (optionally under partition-local sorts or
    projections): the caller chose the file layout — compact's
    range-repartition into target_files, a pruning audit's scrambled
    repartition(n) — and size-based coalescing must not override it.
    This mirrors AQE's own rule of never coalescing a user-specified
    repartition. Only the top of the plan is inspected: a repartition
    buried under joins/filters is an execution detail, not a layout
    request for THIS write."""
    try:
        node = df._jdf.queryExecution().logical()
        for _ in range(8):
            name = node.getClass().getSimpleName()
            if name.startswith("Repartition"):  # Repartition / ...ByExpression
                return True
            if name in ("Sort", "Project", "CollectMetrics"):
                # CollectMetrics: fused-validation observations ride the
                # write batch (see _write_files observe=) — they carry
                # no layout intent, look through them like projections
                node = node.children().head()
                continue
            return False
    except Exception:
        return False
    return False


def _size_coalesce(df: DataFrame) -> DataFrame:
    """Coalesce a write batch to ceil(estimated bytes / target file
    size) partitions. The estimate is the optimizer's ``sizeInBytes``
    (free — no extra Spark job); without CBO it over-estimates after
    selective filters, which only errs toward MORE files, never toward
    collapsing a big batch into one. coalesce() is narrow: no shuffle,
    and a no-op when the target exceeds the current partition count.
    Batches whose plan top is an explicit repartition keep their
    caller-chosen layout (:func:`_explicit_layout`)."""
    if _explicit_layout(df):
        return df
    try:
        est = int(
            str(
                df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
            )
        )
    except Exception:
        return df  # unestimable plan — keep the source layout
    n = max(1, -(-est // _TARGET_FILE_BYTES))
    # Unestimable plans (streaming micro-batches, some Python sources)
    # report defaultSizeInBytes ~= Long.MaxValue; a target that large is
    # (a) beyond coalesce's int argument and (b) a guaranteed no-op —
    # keep the source layout instead of pretending to know better.
    if n > 1_000_000:
        return df
    return df.coalesce(n)


# --------------------------------------------------------------- hive
# partition columns (Delta partitionColumns parity): fixed at CREATE,
# stored in table props as the columns' stable PHYSICAL names (so
# RENAME of a partition column stays metadata-only — directories are
# keyed by physical name and never move). Data files live under
# hive-style directories data/<phys>=<value>/..., partition values are
# recorded per add entry AND injected into the entry's footer stats as
# exact [v, v] ranges + null counts, so every existing skipping path
# (files_overlapping / read_pruned* / read_where_null) prunes whole
# partitions from METADATA before any file is listed or scanned —
# static partition pruning at the same level Delta does it.
_PART_PROP = "partition.columns"
_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"
# exact, string-round-trippable types only: approximate floats would
# make dirname→value→dirname lossy, and nested types aren't orderable
_PARTITIONABLE = (
    "string", "int", "bigint", "smallint", "tinyint", "boolean", "date",
    "timestamp", "timestamp_ntz",
)


def _part_converter(dt) -> "callable":
    """Dirname string → typed value for a partition column — the SAME
    conversion builds entry stats at write time and predicate frames at
    prune time, so comparisons are always like-typed."""
    s = dt.simpleString()
    if s in ("tinyint", "smallint", "int", "bigint"):
        return int
    if s == "boolean":
        return lambda v: v if isinstance(v, bool) else v == "true"
    import datetime as _dt

    if s == "date":
        return lambda v: v if not isinstance(v, str) else _dt.date.fromisoformat(v)
    if s.startswith("timestamp"):
        return lambda v: (
            v if not isinstance(v, str) else _dt.datetime.fromisoformat(v)
        )
    return str


def _hive_values(segs, types: Mapping) -> dict | None:
    """{column: typed value} of the hive directory segments ``segs``
    (``name=value``, URL-quoted; the null marker reads None), or None
    when a segment is not ``name=value`` over a column in ``types``."""
    part: dict[str, object] = {}
    for s in segs:
        name, eq, raw = s.partition("=")
        if not eq or name not in types:
            return None
        part[name] = (
            None
            if raw == _HIVE_NULL
            else _json_safe(_part_converter(types[name])(unquote(raw)))
        )
    return part


def _file_entry(
    abs_path: str, rel: str, part: dict | None, types: Mapping
) -> dict | None:
    """The add entry, stored as ``rel``, of the parquet file at
    ``abs_path`` with its footer stats, or None for an empty file.
    ``part``: {physical column: typed value} of a hive-partitioned
    file, ``types`` their data types. The values are recorded on the
    entry and injected into its stats: min == max == the value, and
    NULL partitions carry nulls == rows so IS NULL skipping prunes them
    too. Timestamps are excluded (their string form is format-ambiguous
    — a mixed-format compare could FALSE-skip); booleans aren't
    rangeable."""
    rows, stats, nulls = _file_stats(abs_path)
    if rows == 0:
        return None
    for p, v in (part or {}).items():
        nulls[p] = rows if v is None else 0
        if v is not None and not isinstance(v, bool) and not types[
            p
        ].simpleString().startswith("timestamp"):
            stats[p] = [v, v]
    entry = {
        "path": rel,
        "rows": rows,
        "bytes": os.path.getsize(abs_path),
        "stats": stats,
        "nulls": nulls,
    }
    if part is not None:
        entry["partition"] = dict(part)
    return entry


def _ts_epoch(ts) -> float:
    """Normalize a user-facing timestamp — epoch seconds (int/float),
    ``datetime.datetime``/``date``, or an ISO-8601 string — to epoch
    seconds. Naive datetimes and tz-less strings are taken as UTC (the
    commit log records ``time.time()``, which is UTC by definition);
    aware values convert exactly."""
    if isinstance(ts, bool):
        raise TypeError("timestamp must be epoch seconds, datetime, or str")
    if isinstance(ts, (int, float)):
        return float(ts)
    if isinstance(ts, str):
        try:
            ts = datetime.datetime.fromisoformat(ts)
        except ValueError:
            raise ValueError(
                f"unparseable timestamp string {ts!r} (ISO-8601 expected, "
                "e.g. '2024-06-01 09:00:00' or '2024-06-01T09:00:00+02:00')"
            ) from None
    if isinstance(ts, datetime.datetime):
        if ts.tzinfo is None:
            ts = ts.replace(tzinfo=datetime.timezone.utc)
        return ts.timestamp()
    if isinstance(ts, datetime.date):
        return datetime.datetime(
            ts.year, ts.month, ts.day, tzinfo=datetime.timezone.utc
        ).timestamp()
    raise TypeError(
        f"timestamp must be epoch seconds, datetime, or str — got "
        f"{type(ts).__name__}"
    )


def _ident_refs(predicate: str, name: str) -> bool:
    """Conservative: does the SQL text reference ``name`` as a word?"""
    # backticks are NOT part of the boundary classes: a quoted
    # identifier (`col`) must still count as a reference to col
    return re.search(rf"(?i)(?<![A-Za-z0-9_]){re.escape(name)}(?![A-Za-z0-9_])", predicate) is not None


# What makes driver-side literal evaluation (:func:`_literal_rows`)
# give up: a value that doesn't fit its column's type, an expression
# Spark can't parse or analyze over the given columns, or a
# value-dependent evaluation error (ANSI cast/arithmetic/datetime).
# Anything else is a real failure and propagates.
_NOT_EVALUABLE = (
    AnalysisException,  # ParseException included
    ArithmeticException,
    DateTimeException,
    NumberFormatException,
    PySparkTypeError,
    PySparkValueError,
)


def _literal_rows(
    spark: SparkSession, fields: list[StructField], rows: list[tuple]
) -> DataFrame:
    """A few typed literal rows as a LocalRelation: a projection or
    filter over it is folded by the optimizer on the driver, so
    collecting it launches NO Spark job (~0.03 s). ``createDataFrame``
    over a list of tuples parallelizes an RDD instead, and one
    ``first()`` over it costs two jobs (~0.3 s).

    The rows travel as a pyarrow Table built with each field's Arrow
    type, so a NULL keeps its column's type. Values are checked and
    converted by Spark's own rules (the ones ``createDataFrame`` and
    ``F.lit`` apply: a naive datetime is local time), so a value that
    doesn't fit its field raises ``PySparkTypeError`` /
    ``PySparkValueError`` exactly as the tuple path did."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type
    from pyspark.sql.types import _make_type_verifier

    schema = StructType(fields)
    verify = _make_type_verifier(schema)
    for r in rows:
        verify(r)
    arrays = []
    for i, f in enumerate(fields):
        dt = f.dataType
        vals = [r[i] for r in rows]
        if dt.needConversion():
            vals = [None if x is None else dt.toInternal(x) for x in vals]
        arrays.append(pa.array(vals, type=to_arrow_type(dt)))
    table = pa.Table.from_arrays(arrays, names=[f.name for f in fields])
    return spark.createDataFrame(table, schema)


def _prune_range(entries, schema: StructType, col: str, lo, hi) -> list:
    """The entries whose footer [min, max] for logical ``col`` may
    intersect [lo, hi]; entries without stats for it are kept, and so
    is every entry when the probe's type doesn't compare with them."""
    col = next((_phys(f) for f in schema.fields if f.name == col), col)
    out = []
    for a in entries:
        st = a.get("stats", {}).get(col)
        try:
            skip = st is not None and (st[1] < lo or st[0] > hi)
        except TypeError:
            skip = False  # mixed-type compare: conservative keep
        if not skip:
            out.append(a)
    return out


def _prune_nulls(entries, schema: StructType, col: str, want_null: bool) -> list:
    """The entries that may hold a row where logical ``col`` IS NULL
    (``want_null``) / IS NOT NULL; an unknown null count keeps it."""
    col = next((_phys(f) for f in schema.fields if f.name == col), col)
    out = []
    for a in entries:
        n = a.get("nulls", {}).get(col)
        if (
            n is None
            or (want_null and n > 0)
            or (not want_null and n < int(a.get("rows", 0)))
        ):
            out.append(a)
    return out


class _ChangeSource(NamedTuple):
    """One input of a commit's change rows in :meth:`LakeTable._change_plan`:
    add ``entries`` whose rows are all ``change`` ("insert" or
    "delete"), or a ``cdf_dir`` of change files whose rows carry their
    own ``_change_type``. ``era``: the schema the files were written
    under. ``cols``: {current column: era physical column} for every
    current column with lineage into the era; the rest read NULL."""

    change: str | None
    entries: tuple | None
    cdf_dir: str | None
    era: StructType
    cols: dict[str, str]


class LakeTable:
    """Handle to a versioned lake table at ``path``."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        self._log_dir = os.path.join(path, _LOG)
        self._log = TableLog.at(self._log_dir)
        self._data_dir = os.path.join(path, _DATA)
        self._dv_dir = os.path.join(path, _DV)

    # ---------------------------------------------------------- creation
    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        df: DataFrame,
        partition_by: list[str] | None = None,
        generated_columns: dict[str, str] | None = None,
        optimized_write: bool = False,
        optimized_write_salt: int = 1,
        identity_columns: dict[str, tuple[int, int]] | None = None,
        column_defaults: dict[str, str] | None = None,
        bucket_by: tuple[str, int] | None = None,
        cluster_by: list[str] | None = None,
    ) -> "LakeTable":
        """Create the table. ``partition_by``: hive-style partition
        columns (raise at drop, survive rename metadata-only, recorded
        as ``partitionColumns`` in details()); evolvable later via
        :meth:`set_partitioning` (Iceberg-style partition evolution —
        Delta fixes the layout at create, this engine does not). ``generated_columns``:
        {name: sql_expr} GENERATED ALWAYS AS columns born WITH the
        table, so a generated column can itself be a partition column
        — the canonical Delta pattern ``partition_by=["event_date"]``
        with ``event_date GENERATED ALWAYS AS (CAST(ts AS DATE))``:
        writers supply only ``ts`` and land in the right partition.

        ``optimized_write=True`` (Delta autoOptimize.optimizeWrite
        parity, stored as the ``optimizedWrite`` table property so
        EVERY later writer honors it): partitioned writes repartition
        by the partition columns first — ~1 file per partition per
        write instead of tasks × partitions shards.
        ``optimized_write_salt`` > 1 splits each partition across that
        many hash keys (skew guard for a hot partition).

        ``identity_columns``: {name: (start, step)} GENERATED ALWAYS AS
        IDENTITY columns (Delta parity) — BIGINT surrogate keys the
        ENGINE assigns on every write (user batches must omit them):
        unique, monotone in step direction, NOT consecutive (per-task
        ranges leave gaps, as Delta documents). The high-water mark
        lives in table props and advances with each assigning commit;
        concurrent writers that would reuse a range conflict loudly.
        Stamped as the writer-protocol feature "identity-columns".

        ``column_defaults``: {name: constant_sql_expr} DEFAULT values
        (Delta parity) for columns PRESENT in ``df`` — later batches
        that omit the column materialize the default at write time;
        see :meth:`set_column_default`.

        ``bucket_by=(col, n)``: Iceberg bucket-transform hidden
        partitioning — sugar for a GENERATED partition column
        ``pmod(xxhash64(col), n)``. Point lookups on the bucketed
        column (``read_where_eq``) hash the probe value once on the
        driver and prune to ONE bucket's files via the general
        equality-derivation rule — high-cardinality id retrieval at
        1/n scan cost with no index to maintain. Composes with
        ``partition_by`` (the bucket column is appended).

        ``cluster_by``: LIQUID CLUSTERING (Delta CLUSTER BY parity) —
        clustering COLUMNS stored as the ``clusterBy`` table property;
        unlike partitioning they are a maintenance HINT, not a layout
        contract: writes land unclustered at full speed, and
        ``compact()`` / ``optimize_if_needed()`` pick the columns up
        automatically (single column → range-cluster, several →
        z-order), re-tightening footer stats on the OPTIMIZE cadence.
        Re-clusterable any time with :meth:`set_cluster_by` (the Delta
        advantage over fixed partitioning). Mutually exclusive with
        ``partition_by``/``bucket_by`` (Delta's rule)."""
        _check_reserved(df.schema)
        if bucket_by is not None:
            bcol, nb = bucket_by
            if bcol not in df.columns:
                raise ValueError(f"bucket_by column {bcol!r} not in the frame")
            if int(nb) < 2:
                raise ValueError("bucket_by needs at least 2 buckets")
            bname = f"{bcol}_bucket"
            generated_columns = {
                **(generated_columns or {}),
                bname: f"pmod(xxhash64({bcol}), {int(nb)})",
            }
            partition_by = list(partition_by or []) + [bname]
        fields = list(df.schema.fields)
        for name, dexpr in (column_defaults or {}).items():
            idx = next(
                (i for i, f in enumerate(fields) if f.name == name), None
            )
            if idx is None:
                raise ValueError(
                    f"column_defaults: {name!r} not in the create batch — "
                    "add the column first, or set_column_default later"
                )
            f = fields[idx]
            # constant-foldability check (zero-column frame) — .schema
            # FORCES analysis (matching set_column_default): under
            # lazy-analysis clients a column-referencing default would
            # otherwise slip through registration and fail on the
            # first write instead of here
            got = (
                df.sparkSession.range(1)
                .select()
                .select(F.expr(dexpr).cast(f.dataType).alias(name))
                .schema[0]
                .dataType
            )
            if got != f.dataType:
                raise ValueError(
                    f"column_defaults: {name!r} default {dexpr!r} does "
                    f"not cast to {f.dataType.simpleString()}"
                )
            fields[idx] = StructField(
                f.name, f.dataType, f.nullable,
                {**(f.metadata or {}), _DEFAULT_KEY: dexpr},
            )
        for name, expr in (generated_columns or {}).items():
            if name in {f.name for f in fields}:
                raise ValueError(f"generated column {name!r} already in the frame")
            if name in _RESERVED_COLS or not cls._COL_RE.match(name):
                raise ValueError(f"invalid column name: {name!r}")
            for other in generated_columns:
                if other != name and _ident_refs(expr, other):
                    raise ValueError(
                        "generation expression may not reference another "
                        f"generated column ({other!r})"
                    )
            dt = df.select(F.expr(expr).alias(name)).schema[0].dataType
            df = df.withColumn(name, F.expr(expr).cast(dt))
            fields.append(StructField(name, dt, True, {_GEN_KEY: expr}))
        for name, spec in (identity_columns or {}).items():
            if isinstance(spec, dict):
                start, step = spec.get("start", 1), spec.get("step", 1)
                always = bool(spec.get("always", True))
            else:
                start, step = spec
                always = True
            if int(step) == 0:
                raise ValueError(f"identity column {name!r}: step must be nonzero")
            meta = {
                _IDENTITY_KEY: json.dumps(
                    {"start": int(start), "step": int(step), "always": always}
                )
            }
            present = next(
                (i for i, f in enumerate(fields) if f.name == name), None
            )
            if present is not None:
                # GENERATED BY DEFAULT ({"always": False}) accepts a
                # user-supplied column: non-null values are kept (and
                # the watermark advances past them), nulls are
                # engine-assigned. ALWAYS keeps rejecting.
                if always:
                    raise ValueError(
                        f"identity column {name!r} already in the frame — "
                        "GENERATED ALWAYS AS IDENTITY values are "
                        "engine-assigned (use {'always': False} for "
                        "GENERATED BY DEFAULT)"
                    )
                f = fields[present]
                if not isinstance(f.dataType, LongType):
                    raise ValueError(
                        f"identity column {name!r} must be BIGINT, the "
                        f"frame has {f.dataType.simpleString()}"
                    )
                fields[present] = StructField(
                    f.name, f.dataType, True, {**(f.metadata or {}), **meta}
                )
                continue
            if name in _RESERVED_COLS or not cls._COL_RE.match(name):
                raise ValueError(f"invalid column name: {name!r}")
            fields.append(StructField(name, LongType(), True, meta))
        schema = StructType(fields)
        props: dict = {}
        pp: list[str] = []
        if partition_by:
            by_name = {f.name: f for f in schema.fields}
            if len(set(partition_by)) != len(partition_by):
                raise ValueError("duplicate partition columns")
            if len(partition_by) >= len(schema.fields):
                raise ValueError(
                    "at least one non-partition data column is required"
                )
            for c in partition_by:
                f = by_name.get(c)
                if f is None:
                    raise ValueError(f"partition column {c!r} not in schema")
                s = f.dataType.simpleString()
                if s not in _PARTITIONABLE:
                    raise ValueError(
                        f"partition column {c!r}: type {s} is not "
                        "partitionable (exact string-round-trippable "
                        "scalars only)"
                    )
            pp = [_phys(by_name[c]) for c in partition_by]
            props[_PART_PROP] = json.dumps(pp)
        if cluster_by:
            if partition_by or bucket_by:
                raise ValueError(
                    "cluster_by is mutually exclusive with partition_by/"
                    "bucket_by (Delta CLUSTER BY rule)"
                )
            missing_cc = [c for c in cluster_by if c not in {f.name for f in fields}]
            if missing_cc:
                raise ValueError(f"cluster_by column(s) {missing_cc} not in schema")
            props["clusterBy"] = json.dumps(list(cluster_by))
        if optimized_write:
            props["optimizedWrite"] = "true"
            if optimized_write_salt > 1:
                props["optimizedWrite.salt"] = str(int(optimized_write_salt))
        t = cls(spark, path)
        os.makedirs(t._log_dir, exist_ok=False)
        os.makedirs(t._data_dir, exist_ok=True)
        fin_id = None
        if identity_columns:
            df, fin_id = t._assign_identity(df, schema, props)
        adds, _ = t._write_files(df, schema, pp, props)
        if fin_id is not None:
            props = fin_id(props)
        t._commit(0, "create", adds, [], schema, props=props)
        return t

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "LakeTable":
        t = cls(spark, path)
        if not os.path.isdir(t._log_dir):
            raise FileNotFoundError(f"not a lake table: {path}")
        return t

    @classmethod
    def convert_from_parquet(
        cls,
        spark: SparkSession,
        parquet_dir: str,
        path: str,
        partition_schema: str | None = None,
    ) -> "LakeTable":
        """``CONVERT TO DELTA`` parity: turn an existing parquet
        directory into a lake table IN PLACE — no bytes rewritten. Each
        source file is HARDLINKED into the table's data/ dir under a
        fresh UUID basename (same inode, zero data copied; falls back
        to a copy only across filesystems): the rename matters because
        Spark's partitionBy writes the SAME part-file basename into
        every partition directory, and deletion-vector sidecars key by
        basename — reusing source names would let one partition's DV
        silently kill same-positioned rows in every sibling partition.
        Footer stats come from parquet metadata (O(files) driver
        reads). Hive-partitioned sources pass ``partition_schema``
        (e.g. ``"dt date, region string"`` — CONVERT's partition
        clause): directory values are parsed as typed partition
        values, injected into entry stats, and the table is
        partitioned by those columns from birth. The source directory
        is independent after conversion (hardlinks survive its
        deletion)."""
        part_fields = (
            list(StructType.fromDDL(partition_schema).fields)
            if partition_schema
            else []
        )
        pnames = [f.name for f in part_fields]
        ptypes = {f.name: f.dataType for f in part_fields}
        adds = []
        data_schema: StructType | None = None
        for dirpath, _dirs, files in sorted(os.walk(parquet_dir)):
            rel = os.path.relpath(dirpath, parquet_dir)
            segs = [s for s in rel.split(os.sep) if s not in (".", "")]
            pq_files = [f for f in sorted(files) if f.endswith(".parquet")]
            if not pq_files:
                continue
            part = _hive_values(segs, ptypes)
            if pnames and (part is None or len(part) != len(pnames)):
                raise ValueError(
                    f"convert_from_parquet: {dirpath!r} does not match the "
                    f"declared partition layout {pnames} — every data file "
                    "must sit under one dir per partition column"
                )
            for fname in pq_files:
                ap = os.path.join(dirpath, fname)
                # the path is relinked below once the table exists
                entry = _file_entry(ap, ap, part if pnames else None, ptypes)
                if entry is None:
                    continue
                adds.append(entry)
                if data_schema is None:
                    data_schema = spark.read.parquet(ap).schema
        if not adds or data_schema is None:
            raise ValueError(f"no parquet files under {parquet_dir!r}")
        fields = [
            f for f in data_schema.fields if f.name not in set(pnames)
        ] + part_fields
        schema = StructType(fields)
        _check_reserved(schema)
        props: dict = {}
        if pnames:
            props[_PART_PROP] = json.dumps(pnames)
        t = cls(spark, path)
        os.makedirs(t._log_dir, exist_ok=False)
        os.makedirs(t._data_dir, exist_ok=True)
        for a in adds:
            src_abs = a["path"]
            if pnames:
                rel_dir = "/".join(
                    f"{p}={_HIVE_NULL}"
                    if a["partition"][p] is None
                    else f"{p}={quote(str(a['partition'][p]), safe='')}"
                    for p in pnames
                )
                os.makedirs(
                    os.path.join(t._data_dir, rel_dir), exist_ok=True
                )
                rel = f"{_DATA}/{rel_dir}/{uuid.uuid4().hex}.parquet"
            else:
                rel = f"{_DATA}/{uuid.uuid4().hex}.parquet"
            dst = t._abs(rel)
            try:
                os.link(src_abs, dst)  # same inode — zero bytes copied
            except OSError:
                shutil.copy2(src_abs, dst)  # cross-device fallback
            a["path"] = rel
        t._commit(0, "create", adds, [], schema, props=props)
        return t

    def clone_to(
        self, target_path: str, version: int | None = None, timestamp=None
    ) -> "LakeTable":
        """Zero-copy SHALLOW CLONE (Delta ``CLONE`` parity): the clone's
        create commit references this table's active data files by
        ABSOLUTE path — no bytes are copied, and cloning a 100 TB table
        is a metadata-only operation. The clone then diverges freely:
        appends land in its own data/ dir; MERGE/DELETE copy-on-write
        rewrites pull the affected rows out of shared source files into
        clone-local files (the source table never changes); vacuum on
        either side only deletes that side's own data/ files, so a
        vacuumed source can still break an old clone snapshot exactly
        as Delta documents — clone then vacuum source = re-clone.

        ``timestamp``: ``CLONE ... TIMESTAMP AS OF`` — the source
        snapshot resolves by wall-clock time (:meth:`version_at`)."""
        v, active, schema = self._snapshot(
            self._resolve_version(version, timestamp)
        )
        t = LakeTable(self.spark, target_path)
        os.makedirs(t._log_dir, exist_ok=False)
        os.makedirs(t._data_dir, exist_ok=True)
        adds = [
            {
                **a,
                "path": self._abs(a["path"]),
                **(
                    {"dv": {**a["dv"], "path": self._abs(a["dv"]["path"])}}
                    if a.get("dv")
                    else {}
                ),
            }
            for a in active
        ]
        # constraints (and any other table properties) travel with the
        # clone — a GDPR/quality invariant must hold on both sides
        t._commit(0, "create", adds, [], schema, props=self.props(version))
        return t

    # ---------------------------------------------------------- log I/O
    def latest_version(self) -> int:
        return self._log.latest_version()

    def history(self) -> list[dict]:
        """Commit metadata, newest first (op, version, ts, file deltas)."""
        out = []
        for v in reversed(self._log.versions()):
            c = self._log.read_commit(v)
            out.append(
                {
                    "version": v,
                    "op": c["op"],
                    "ts": c["ts"],
                    "added_files": len(c["add"]),
                    "removed_files": len(c["remove"]),
                    # DESCRIBE HISTORY operationMetrics parity: row/file
                    # counts the operation recorded at commit time
                    "metrics": dict(c.get("metrics", {})),
                }
            )
        return out

    def files_df(self, version: int | None = None) -> DataFrame:
        """Snapshot file inventory as a QUERYABLE DataFrame (Iceberg
        ``table.files`` metadata-table parity): one row per active add
        entry — path, rows, bytes, live rows (DV-adjusted), partition
        values (JSON), DV sidecar pointer. Pure metadata: built from
        the commit log on the driver, zero data scanned; the SQL
        surface a maintenance job uses to find skew, small files, or
        DV-heavy files (``ORDER BY bytes``, ``GROUP BY partition``)."""
        v, active, _ = self._snapshot(version)
        rows = [
            (
                a["path"],
                int(a.get("rows", 0)),
                int(a.get("bytes", 0)),
                int(a.get("rows", 0)) - int(a.get("dv", {}).get("ndel", 0)),
                json.dumps(a.get("partition"), sort_keys=True, default=dict)
                if a.get("partition") is not None
                else None,
                a["dv"]["path"] if a.get("dv") else None,
                int(a.get("dv", {}).get("ndel", 0)),
            )
            for a in active
        ]
        return self.spark.createDataFrame(
            rows,
            "path string, rows long, bytes long, live_rows long, "
            "partition string, dv_path string, dv_deleted long",
        )

    def generate_symlink_manifest(self, version: int | None = None) -> str:
        """``GENERATE symlink_format_manifest`` (Delta parity): write
        ``_symlink_format_manifest/[partition dirs/]manifest`` text
        files listing the snapshot's active data-file paths, so
        external engines that understand SymlinkTextInputFormat
        (Presto/Trino/Athena/Hive) can query the CURRENT snapshot
        without reading the commit log. Partitioned tables get one
        manifest per partition directory (engines prune on the dir
        layout). Regenerate after commits; refuses DV tables loudly —
        a symlink reader would resurrect deleted rows."""
        v, active, _ = self._snapshot(version)
        if any(a.get("dv") for a in active):
            raise ValueError(
                "symlink manifest cannot represent deletion vectors — "
                "compact first (vectors fold into the rewrite)"
            )
        root = os.path.join(self.path, "_symlink_format_manifest")
        shutil.rmtree(root, ignore_errors=True)
        by_dir: dict[str, list[str]] = {}
        for a in active:
            rel = a["path"]
            part_dir = os.path.dirname(rel)
            sub = os.path.relpath(part_dir, _DATA) if part_dir != _DATA else "."
            by_dir.setdefault(sub, []).append(
                "file:" + os.path.abspath(self._abs(rel))
            )
        for sub, paths in by_dir.items():
            d = root if sub == "." else os.path.join(root, sub)
            os.makedirs(d, exist_ok=True)
            with open(os.path.join(d, "manifest"), "w") as f:
                f.write("\n".join(sorted(paths)) + "\n")
        return root

    def details(self, version: int | None = None) -> dict:
        """DESCRIBE DETAIL parity: one metadata-only dict summarizing a
        snapshot — version, file/byte/row counts, deletion-vector
        footprint (vectored files, deleted rows, live rows), tag names,
        and column names. O(files) driver work, zero data scanned —
        the operational health check a maintenance loop reads before
        deciding whether to OPTIMIZE or VACUUM."""
        snap = self._readable_snapshot(version)
        v, active, schema = snap.version, snap.entries, snap.schema
        ndel = sum(int(a.get("dv", {}).get("ndel", 0)) for a in active)
        return {
            "version": v,
            "num_files": len(active),
            "total_bytes": sum(int(a.get("bytes", 0)) for a in active),
            "total_rows": sum(int(a.get("rows", 0)) for a in active),
            "live_rows": self.rows(v),
            "dv_files": sum(1 for a in active if a.get("dv")),
            "dv_deleted_rows": ndel,
            "tags": sorted(self.tags()),
            "columns": [f.name for f in schema.fields],
            "constraints": sorted(self.constraints(v)),
            "column_mapped": _is_mapped(schema),
            "generated_columns": sorted(
                f.name for f in schema.fields if _gen_expr(f)
            ),
            "identity_columns": sorted(
                f.name for f in schema.fields if _identity_spec(f)
            ),
            "column_defaults": {
                f.name: _default_expr(f)
                for f in schema.fields
                if _default_expr(f)
            },
            "partition_columns": self.partition_columns(v),
            "clustering_columns": self.clustering_columns(v),
            "reader_features": sorted(snap.reader_features),
            "writer_features": sorted(snap.writer_features),
            "bloom_indexes": sorted(
                k[len("bloom."):]
                for k in self.props(v)
                if k.startswith("bloom.")
            ),
            "num_partitions": len(
                {
                    json.dumps(a.get("partition"), sort_keys=True, default=dict)
                    for a in active
                    if a.get("partition") is not None
                }
            ),
        }

    # ---------------------------------------------------------- properties
    def props(self, version: int | None = None) -> dict:
        """Table properties at ``version`` (default latest) — the
        metadata dict CHECK constraints live in (Delta's
        ``delta.constraints.*`` configuration parity). Carried by the
        commit log: the newest commit at-or-before ``version`` with a
        ``props`` key holds the complete current dict; commits that
        don't change properties don't repeat them, and checkpoints
        record the dict current at their version. Versioned like the
        schema — time travel to before ADD CONSTRAINT sees no
        constraint. Returns a fresh dict the caller may change."""
        return dict(self._log.snapshot(version).props)

    # engine-owned property namespaces: they carry invariants their
    # dedicated APIs maintain (constraint predicates are validated,
    # identity watermarks only move forward, bloom dirs reference real
    # indexes, partition/cluster layout gates writer behavior) — a raw
    # SET TBLPROPERTIES through them would corrupt those invariants
    _ENGINE_PROP_PREFIXES = ("constraint.", "identity.", "bloom.", "colmap.")
    _ENGINE_PROP_KEYS = frozenset({_PART_PROP, "clusterBy"})

    def set_properties(self, updates: dict[str, str]) -> int:
        """ALTER TABLE ... SET TBLPROPERTIES (Delta parity): merge
        user properties into the table's dict as one metadata-only
        commit. Engine-owned namespaces (constraints, identity
        watermarks, bloom indexes, partition/cluster layout) are
        REFUSED — they have dedicated APIs whose invariants a raw
        write would corrupt. ``optimizedWrite`` / ``optimizedWrite.salt``
        ARE settable (they're writer-behavior toggles) with value
        validation."""
        if not updates:
            raise ValueError("set_properties: empty update dict")
        for k, val in updates.items():
            if not isinstance(k, str) or not k:
                raise ValueError(f"bad property key {k!r}")
            if not isinstance(val, str):
                raise ValueError(
                    f"property {k!r}: value must be a string, got "
                    f"{type(val).__name__} (properties are a string map, "
                    "Delta parity)"
                )
            if k.startswith(self._ENGINE_PROP_PREFIXES) or k in self._ENGINE_PROP_KEYS:
                raise ValueError(
                    f"property {k!r} is engine-owned — use the dedicated "
                    "API (add_constraint/set_cluster_by/…)"
                )
            if k == "optimizedWrite" and val not in ("true", "false"):
                raise ValueError("optimizedWrite must be 'true' or 'false'")
            if k == "optimizedWrite.salt" and (
                not val.isdigit() or int(val) < 1
            ):
                raise ValueError("optimizedWrite.salt must be a positive int")
        v = self.latest_version()
        props = self.props(v)
        props.update(updates)
        _, _, schema = self._snapshot(v)
        return self._commit(
            v + 1, "setprops", [], [], schema, props=props,
            metrics={"set_keys": sorted(updates)},
        )

    def unset_properties(self, keys: list[str]) -> int:
        """ALTER TABLE ... UNSET TBLPROPERTIES: drop user properties
        (missing keys raise — matching Delta without IF EXISTS).
        Engine-owned namespaces refuse, as in :meth:`set_properties`."""
        if not keys:
            raise ValueError("unset_properties: empty key list")
        v = self.latest_version()
        props = self.props(v)
        for k in keys:
            if k.startswith(self._ENGINE_PROP_PREFIXES) or k in self._ENGINE_PROP_KEYS:
                raise ValueError(
                    f"property {k!r} is engine-owned — use the dedicated API"
                )
            if k not in props:
                raise ValueError(f"no such property: {k!r}")
            del props[k]
        _, _, schema = self._snapshot(v)
        return self._commit(
            v + 1, "setprops", [], [], schema, props=props,
            metrics={"unset_keys": sorted(keys)},
        )

    def constraints(self, version: int | None = None) -> dict[str, str]:
        """Named CHECK constraints at ``version``: {name: sql_pred}."""
        return _constraints(self.props(version))

    def add_constraint(self, name: str, predicate: str) -> int:
        """ALTER TABLE ADD CONSTRAINT name CHECK (predicate) — Delta
        protocol parity. The EXISTING table must already satisfy the
        predicate (scanned now; violators reject the constraint, with a
        sample), then every later append/merge/CDC batch is validated
        at commit time: a violating batch rejects the WHOLE commit —
        table state bit-identical afterward — never silently drops
        rows. SQL CHECK semantics: only rows where the predicate is
        explicitly FALSE violate (NULL passes — use an explicit
        ``x IS NOT NULL`` constraint for NOT NULL enforcement, see
        ``add_not_null``). Metadata-only commit; survives schema
        evolution and clone; concurrency-safe via the rebase path (a
        concurrent append of violating rows conflicts instead of
        slipping under the new constraint)."""
        if not re.fullmatch(r"[A-Za-z0-9_][A-Za-z0-9_.-]{0,63}", name):
            raise ValueError(f"invalid constraint name: {name!r}")
        if name in self.constraints():
            raise ValueError(f"constraint {name!r} already exists")
        v, active, schema = self._snapshot()
        violated = F.expr(f"coalesce(not ({predicate}), false)")
        sample = (
            self._read_entries(active, schema).filter(violated).limit(3).collect()
        )
        if sample:
            raise ConstraintViolation(
                f"cannot add CHECK constraint {name!r} ({predicate}): "
                f"existing rows violate it, e.g. {[r.asDict() for r in sample]}"
            )
        props = self.props(v)
        props[f"constraint.{name}"] = predicate
        # rebase guard: a concurrent append that lands between our scan
        # and our commit must not contain violating rows
        probe = (
            lambda ents: self._read_entries(ents, schema)
            .filter(violated)
            .limit(1)
            .count()
            > 0
        )
        txn = Txn(self._log.snapshot(v), self._log, probe=probe)
        return self._commit_txn(txn, "setprops", [], [], schema, props=props)

    def add_not_null(self, col: str) -> int:
        """NOT NULL enforcement as a named CHECK constraint (the
        predicate `col IS NOT NULL` is FALSE for NULLs, so NULL rows
        reject the commit — SQL CHECK's null-passes rule doesn't
        exempt them)."""
        return self.add_constraint(f"{col}_not_null", f"{col} IS NOT NULL")

    def drop_constraint(self, name: str) -> int:
        if name not in self.constraints():
            raise ValueError(f"no such constraint: {name!r}")
        v = self.latest_version()
        props = self.props(v)
        del props[f"constraint.{name}"]
        _, _, schema = self._snapshot(v)
        return self._commit(v + 1, "setprops", [], [], schema, props=props)

    # ------------------------------------------------- schema evolution
    _COL_RE = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")

    def _reject_constrained(self, col: str, op: str) -> None:
        for cname, pred in self.constraints().items():
            if _ident_refs(pred, col):
                raise ValueError(
                    f"cannot {op} column {col!r}: CHECK constraint "
                    f"{cname!r} ({pred}) references it — drop the "
                    "constraint first (Delta parity)"
                )
        _, _, schema = self._snapshot()
        for f in schema.fields:
            e = _gen_expr(f)
            if e and f.name != col and _ident_refs(e, col):
                raise ValueError(
                    f"cannot {op} column {col!r}: generated column "
                    f"{f.name!r} (GENERATED ALWAYS AS {e}) references it "
                    "— drop the generated column first"
                )

    def add_generated_column(self, name: str, expr: str) -> int:
        """ALTER TABLE ADD COLUMN ... GENERATED ALWAYS AS (expr) —
        Delta generated-column parity, metadata-only. The expression
        (over existing non-generated columns) rides in the new field's
        StructField metadata, so it is versioned with the schema and
        survives clone. Every later write MATERIALIZES the column
        (computed when the batch omits it, VALIDATED row-for-row when
        the batch supplies it — a mismatch rejects the whole commit),
        so filters and footer-stat skipping work on it like any stored
        column; rows in files that PREDATE the column compute it on
        read (and a compaction rewrite materializes them physically).
        The column's type is inferred from the expression at analysis
        time — no data is scanned."""
        v, _, schema = self._snapshot()
        names = [f.name for f in schema.fields]
        if name in names:
            raise ValueError(f"column {name!r} already exists")
        if name in _RESERVED_COLS or not self._COL_RE.match(name):
            raise ValueError(f"invalid column name: {name!r}")
        for f in schema.fields:
            if _gen_expr(f) and _ident_refs(expr, f.name):
                raise ValueError(
                    f"generation expression may not reference another "
                    f"generated column ({f.name!r})"
                )
        # analysis-time type inference + expression validation (lazy —
        # an empty frame, nothing scanned); unknown columns, bad syntax
        # surface here instead of on the first write
        dt = (
            self.spark.createDataFrame([], schema)
            .select(F.expr(expr).alias(name))
            .schema[0]
            .dataType
        )
        used = {_phys(f) for f in schema.fields} | set(
            json.loads(self.props(v).get(_DROPPED_PROP, "[]"))
        )
        md = {_GEN_KEY: expr}
        if name in used:
            md[_PHYS_KEY] = f"{name}__p{uuid.uuid4().hex[:8]}"
        fields = list(schema.fields) + [StructField(name, dt, True, md)]
        return self._commit(
            v + 1, "add_generated_column", [], [], StructType(fields),
            metrics={"column": name},
        )

    def add_column(
        self, name: str, dtype: str, default: str | None = None
    ) -> int:
        """ALTER TABLE ADD COLUMN (plain data column) — metadata-only:
        the logical schema widens by one NULLABLE field; existing files
        simply lack its physical column and read NULL (parquet
        missing-column semantics — zero bytes rewritten at any size,
        Delta parity). ``default``: an optional constant DEFAULT for
        the new column (validated like :meth:`set_column_default`) —
        it applies to LATER batches that omit the column, never as a
        backfill (existing rows stay NULL, exactly Delta's rule). A
        logical name colliding with a used-or-tombstoned physical name
        gets a fresh physical name (column-mapping rule — re-adding a
        dropped name must not resurrect the dropped bytes)."""
        from pyspark.sql.types import _parse_datatype_string

        v, _, schema = self._snapshot()
        if name in [f.name for f in schema.fields]:
            raise ValueError(f"column {name!r} already exists")
        if name in _RESERVED_COLS or not self._COL_RE.match(name):
            raise ValueError(f"invalid column name: {name!r}")
        dt = _parse_datatype_string(dtype)
        md: dict = {}
        used = {_phys(f) for f in schema.fields} | set(
            json.loads(self.props(v).get(_DROPPED_PROP, "[]"))
        )
        if name in used:
            md[_PHYS_KEY] = f"{name}__p{uuid.uuid4().hex[:8]}"
        if default is not None:
            got = (
                self.spark.range(1)
                .select()
                .select(F.expr(default).cast(dt).alias(name))
                .schema[0]
                .dataType
            )
            if got != dt:
                raise ValueError(
                    f"DEFAULT {default!r} does not cast to {dtype}"
                )
            md[_DEFAULT_KEY] = default
        fields = list(schema.fields) + [StructField(name, dt, True, md)]
        return self._commit(
            v + 1, "add_column", [], [], StructType(fields),
            metrics={"column": name, "type": dt.simpleString()},
        )

    def set_column_default(self, name: str, expr: str) -> int:
        """ALTER TABLE ... ALTER COLUMN name SET DEFAULT (expr) — Delta
        parity, metadata-only. The default is a CONSTANT expression
        (no column references — validated over a zero-column frame at
        registration): later write batches that OMIT the column
        materialize it; supplying the column (even as NULL) keeps the
        supplied value; rows written before the default keep NULL (no
        backfill). Generated/identity columns can't take defaults."""
        v, _, schema = self._snapshot()
        f = next((f for f in schema.fields if f.name == name), None)
        if f is None:
            raise ValueError(f"no such column: {name!r}")
        if _gen_expr(f) or _identity_spec(f):
            raise ValueError(
                f"column {name!r} is GENERATED — it cannot take a DEFAULT"
            )
        # constant-foldability: analysis over a ZERO-COLUMN frame makes
        # any column reference fail loudly here, not on the first write
        got = (
            self.spark.range(1)
            .select()
            .select(F.expr(expr).cast(f.dataType).alias(name))
            .schema[0]
            .dataType
        )
        if got != f.dataType:  # explicit (survives python -O)
            raise ValueError(
                f"DEFAULT {expr!r} does not cast to "
                f"{f.dataType.simpleString()} for column {name!r}"
            )
        fields = [
            StructField(
                x.name,
                x.dataType,
                x.nullable,
                {**(x.metadata or {}), _DEFAULT_KEY: expr},
            )
            if x.name == name
            else x
            for x in schema.fields
        ]
        return self._commit(
            v + 1, "set_column_default", [], [], StructType(fields),
            metrics={"column": name, "default": expr},
        )

    def drop_column_default(self, name: str) -> int:
        """ALTER COLUMN name DROP DEFAULT — metadata-only; later
        batches that omit the column go back to reading NULL."""
        v, _, schema = self._snapshot()
        f = next((f for f in schema.fields if f.name == name), None)
        if f is None:
            raise ValueError(f"no such column: {name!r}")
        if not _default_expr(f):
            raise ValueError(f"column {name!r} has no DEFAULT")
        fields = [
            StructField(
                x.name,
                x.dataType,
                x.nullable,
                {k: v2 for k, v2 in (x.metadata or {}).items() if k != _DEFAULT_KEY},
            )
            if x.name == name
            else x
            for x in schema.fields
        ]
        return self._commit(
            v + 1, "drop_column_default", [], [], StructType(fields),
            metrics={"column": name},
        )

    def _apply_defaults(self, df: DataFrame, schema: StructType) -> DataFrame:
        """Materialize DEFAULT values for columns the batch OMITS —
        constant expressions, a narrow map. Supplied columns are left
        alone (explicit NULL stays NULL, Delta parity)."""
        for f in schema.fields:
            e = _default_expr(f)
            if e and f.name not in df.columns:
                df = df.withColumn(f.name, F.expr(e).cast(f.dataType))
        return df

    def _apply_generated(self, df: DataFrame, schema: StructType) -> DataFrame:
        """Materialize the schema's generated columns into a write
        batch: compute the ones the batch omits; VALIDATE the ones it
        supplies (null-safe equality against the expression, one
        aggregate pass for all of them) — a divergent value rejects the
        whole commit, Delta's GENERATED ALWAYS AS contract."""
        gens = [
            (f.name, _gen_expr(f), f.dataType)
            for f in schema.fields
            if _gen_expr(f)
        ]
        if not gens:
            return df
        checks = []
        for name, expr, dt in gens:
            if name in df.columns:
                checks.append((name, expr, dt))
            else:
                df = df.withColumn(name, F.expr(expr).cast(dt))
        if checks:
            viol = {
                n: ~F.col(n).eqNullSafe(F.expr(e).cast(dt))
                for n, e, dt in checks
            }
            counts = df.agg(
                *[F.sum(v.cast("bigint")).alias(n) for n, v in viol.items()]
            ).collect()[0]
            bad = {n for n, _, _ in checks if counts[n]}
            if bad:
                first = next(iter(sorted(bad)))
                sample = df.filter(viol[first]).limit(3).collect()
                exprs = {n: e for n, e, _ in checks}
                raise ConstraintViolation(
                    "generated column(s) supplied with divergent values, "
                    "commit rejected: "
                    + ", ".join(
                        f"{n} (GENERATED ALWAYS AS {exprs[n]})" for n in sorted(bad)
                    )
                    + f"; sample: {[r.asDict() for r in sample]}"
                )
        return df

    def _assign_identity(
        self,
        df: DataFrame,
        schema: StructType,
        props: dict,
        fill_only: bool = False,
    ):
        """Assign GENERATED ALWAYS AS IDENTITY values to a write batch.

        Returns ``(df, finalize)`` where ``finalize(props_dict)``
        records the new high-water marks AFTER the write job ran —
        the max/min assigned value is captured by an Observation
        riding the write itself (zero extra scan). Values are
        ``watermark + step * (monotonically_increasing_id() + 1)``:
        unique and monotone in step direction within and across
        writes, with gaps (per-task id ranges are sparse) — exactly
        Delta's documented identity contract; the watermark advances
        past the extreme assigned value so the next write can never
        collide. ``fill_only=True`` keeps NON-NULL values already in
        the batch (the merge path: matched rows inherit the target's
        id) and assigns only the nulls.

        ALWAYS semantics: a user batch carrying the column raises
        (``fill_only=False``). GENERATED BY DEFAULT columns
        (``{"always": False}`` in the spec) take the fill-only path on
        every write: supplied non-null values are kept VERBATIM and the
        watermark advances past them (the Observation max/min runs over
        the final column, supplied values included), omitted values and
        nulls are engine-assigned — so engine-assigned ids can never
        collide with user-supplied ones in an earlier batch."""
        ids = [
            (f.name, _identity_spec(f), f.dataType)
            for f in schema.fields
            if _identity_spec(f)
        ]
        if not ids:
            return df, None
        from pyspark.sql import Observation

        supplied = [
            n
            for n, spec, _ in ids
            if n in df.columns and spec.get("always", True)
        ]
        if supplied and not fill_only:
            raise ValueError(
                f"column(s) {supplied} are GENERATED ALWAYS AS IDENTITY — "
                "the engine assigns values; remove them from the batch"
            )
        obs = Observation()
        aggs = []
        for n, spec, dt in ids:
            start, step = int(spec["start"]), int(spec["step"])
            wm = int(props.get(f"identity.{n}", start - step))
            fresh = (
                F.lit(wm)
                + F.lit(step) * (F.monotonically_increasing_id() + F.lit(1))
            ).cast(dt)
            col = (
                F.coalesce(F.col(n).cast(dt), fresh)
                if n in df.columns
                else fresh
            )
            df = df.withColumn(n, col)
            aggs.append((F.max(n) if step > 0 else F.min(n)).alias(n))
        df = df.observe(obs, *aggs)
        steps = {n: int(spec["step"]) for n, spec, _ in ids}

        def finalize(p: dict) -> dict:
            got = obs.get
            for n, spec, _ in ids:
                v = got[n]
                if v is None:
                    continue  # empty batch: watermark unchanged
                prev = p.get(f"identity.{n}")
                v = int(v)
                # never regress (fill_only max may be an inherited id)
                if prev is None or (
                    v > int(prev) if steps[n] > 0 else v < int(prev)
                ):
                    p[f"identity.{n}"] = str(v)
            return p

        return df, finalize

    def rename_column(self, old: str, new: str) -> int:
        """ALTER TABLE RENAME COLUMN (Delta column-mapping parity): a
        METADATA-ONLY commit over immutable parquet — no data file is
        touched at any size. The field keeps its stable physical name
        (its name at birth) in StructField metadata; reads alias
        physical→logical at scan time, so files written before AND
        after the rename resolve identically, deletion vectors stay
        positional (untouched), footer-stat skipping keys by physical
        name, and TIME TRAVEL to a pre-rename version reads under the
        old name because each commit's schema carries its own mapping.
        Renaming a column referenced by a CHECK constraint is rejected
        (the predicate text would silently dangle). A concurrent commit
        raises CommitConflict — re-run against the new head."""
        v, _, schema = self._snapshot()
        names = [f.name for f in schema.fields]
        if old not in names:
            raise ValueError(f"no such column: {old!r}")
        if new in names:
            raise ValueError(f"column {new!r} already exists")
        if new in _RESERVED_COLS or not self._COL_RE.match(new):
            raise ValueError(f"invalid column name: {new!r}")
        self._reject_constrained(old, "rename")
        fields = []
        for f in schema.fields:
            if f.name == old:
                md = dict(f.metadata or {})
                md[_PHYS_KEY] = _phys(f)
                fields.append(StructField(new, f.dataType, f.nullable, md))
            else:
                fields.append(f)
        return self._commit(v + 1, "rename_column", [], [], StructType(fields))

    def drop_column(self, name: str) -> int:
        """ALTER TABLE DROP COLUMN: metadata-only — the field leaves
        the logical schema; its bytes stay in the immutable files
        (readable via time travel) but its PHYSICAL name is tombstoned
        in table props, so a later add of the same logical name gets a
        fresh physical name instead of resurrecting the dropped data.
        Rejected while a CHECK constraint references the column."""
        v, active, schema = self._snapshot()
        field = next((f for f in schema.fields if f.name == name), None)
        if field is None:
            raise ValueError(f"no such column: {name!r}")
        if len(schema.fields) == 1:
            raise ValueError("cannot drop the table's only column")
        if _phys(field) in self._partition_phys(v):
            raise ValueError(
                f"cannot drop partition column {name!r} — change the "
                "layout first (set_partitioning) or keep the column "
                "(Delta: partitioning is fixed at create)"
            )
        # partition evolution: files from an earlier layout key their
        # hive DIRECTORIES by this column — dropping it would orphan
        # those files' partition values at read time
        for a in active:
            if _phys(field) in (a.get("partition") or {}):
                raise ValueError(
                    f"cannot drop column {name!r}: active files from an "
                    "earlier partition layout still key their hive "
                    "directories by it — compact() them into the "
                    "current layout first"
                )
        self._reject_constrained(name, "drop")
        props = self.props(v)
        dropped = set(json.loads(props.get(_DROPPED_PROP, "[]")))
        dropped.add(_phys(field))
        props[_DROPPED_PROP] = json.dumps(sorted(dropped))
        rest = StructType([f for f in schema.fields if f.name != name])
        return self._commit(v + 1, "drop_column", [], [], rest, props=props)

    def _check_constraints(
        self, df: DataFrame, cons: dict[str, str] | None = None
    ) -> None:
        """Validate a write batch against the table's CHECK constraints
        BEFORE any file or commit is written — one aggregate pass over
        the batch for all constraints (violation counts), plus one
        sample scan only on the failure path."""
        cons = self.constraints() if cons is None else cons
        if not cons:
            return
        viol = {
            n: F.expr(f"coalesce(not ({p}), false)") for n, p in cons.items()
        }
        counts = df.agg(
            *[F.sum(v.cast("bigint")).alias(n) for n, v in viol.items()]
        ).collect()[0]
        bad = {n: int(counts[n] or 0) for n in cons if counts[n]}
        if not bad:
            return
        first = next(iter(bad))
        sample = df.filter(viol[first]).limit(3).collect()
        raise ConstraintViolation(
            f"CHECK constraint(s) violated, commit rejected: "
            + ", ".join(
                f"{n} ({cons[n]}): {c} row(s)" for n, c in bad.items()
            )
            + f"; sample for {first!r}: {[r.asDict() for r in sample]}"
        )

    def _fused_constraints(
        self, frame_for_msg: DataFrame, cons: dict[str, str] | None = None
    ) -> tuple[dict, "callable | None"]:
        """CHECK-constraint enforcement fused into a write job: returns
        ``(observe_metrics, validate)`` for :meth:`_write_files` —
        violation counts ride the write's own pass (guide §1.2: one
        fewer full scan per mutating commit) and ``validate`` aborts
        BEFORE any file is renamed into data/, so a rejected batch
        still lands nothing. Only safe for frames containing EXACTLY
        the rows to validate (a rewrite frame that copies old rows
        through must not use this: restore is documented to re-admit
        rows violating a later constraint, and re-checking them here
        would reject an unrelated update). The exact per-constraint
        counts and row samples for the error message come from one
        re-scan of ``frame_for_msg`` — failure path only, same cost
        the eager check paid there."""
        cons = self.constraints() if cons is None else cons
        if not cons:
            return {}, None
        viol = {
            n: F.expr(f"coalesce(not ({p}), false)") for n, p in cons.items()
        }
        metrics = {
            f"_viol_{n}": F.sum(v.cast("bigint")) for n, v in viol.items()
        }
        def validate(observed: dict) -> None:
            if any(int(observed[f"_viol_{n}"] or 0) for n in cons):
                # raises with exact counts + samples (deterministic
                # batch: the re-scan sees the same violations)
                self._check_constraints(frame_for_msg, cons)
                raise ConstraintViolation(
                    "CHECK constraint(s) violated during the write, "
                    "commit rejected (re-scan found no violating rows — "
                    "non-deterministic batch?)"
                )
        return metrics, validate

    def _readable_snapshot(self, version: int | None = None) -> Snapshot:
        """The log's snapshot at ``version`` (default latest), replayed
        from the nearest checkpoint — O(files), not O(history). Refuses
        unknown reader-feature stamps loudly: an old reader must never
        silently misread a table written with a protocol it doesn't
        know."""
        snap = self._log.snapshot(version)
        unknown = snap.reader_features - _READER_FEATURES
        if unknown:
            raise UnsupportedTableFeature(
                f"table at {self.path} requires reader feature(s) "
                f"{sorted(unknown)}; this build supports "
                f"{sorted(_READER_FEATURES)} — upgrade the reader"
            )
        return snap

    def _snapshot(
        self, version: int | None = None
    ) -> tuple[int, tuple, StructType]:
        """(version, read-only active add entries, schema) of
        :meth:`_readable_snapshot`."""
        snap = self._readable_snapshot(version)
        return snap.version, snap.entries, snap.schema

    def _check_writer_features(self, version: int) -> None:
        """Refuse to WRITE through a protocol this build doesn't know
        (Delta minWriterVersion parity): raise on unknown cumulative
        ``writer_features`` stamps. Reads are untouched — a table is
        still readable when only its writer features are ahead of this
        build. Served from the cached snapshot the mutating op just
        read, so the gate adds no metadata I/O."""
        unknown = self._log.snapshot(version).writer_features - _WRITER_FEATURES
        if unknown:
            raise UnsupportedTableFeature(
                f"table at {self.path} requires writer feature(s) "
                f"{sorted(unknown)}; this build supports "
                f"{sorted(_WRITER_FEATURES)} — upgrade the writer "
                "(reads keep working while reader features are known)"
            )

    def _commit(
        self,
        version: int,
        op: str,
        adds: list[dict],
        removes: list[str],
        schema: StructType,
        txn: dict | None = None,
        props: dict | None = None,
        metrics: dict | None = None,
    ) -> int:
        rec = {
            "version": version,
            "op": op,
            "ts": time.time(),
            "add": adds,
            "remove": removes,
            "schema": json.dumps(schema.jsonValue()),
        }
        if txn is not None:
            rec["txn"] = txn
        if props is not None:
            rec["props"] = props
        if metrics is not None:
            rec["metrics"] = metrics
        # writer-protocol gate FIRST: a build that doesn't understand
        # the table's cumulative writer features must not write through
        # them (version 0 is table creation — nothing to replay)
        if version > 0:
            self._check_writer_features(version - 1)
        # protocol stamp: features a reader of THIS commit's content
        # must understand (readers union stamps over their replay)
        feats = set()
        if _is_mapped(schema):
            feats.add("column-mapping")
        if any(_gen_expr(f) for f in schema.fields):
            feats.add("generated-columns")
        if any(a.get("dv") for a in adds):
            feats.add("deletion-vectors")
        if any(a.get("partition") is not None for a in adds) or (
            props or {}
        ).get(_PART_PROP):
            feats.add("partition-columns")
        if feats:
            rec["reader_features"] = sorted(feats)
        # writer stamp: everything a reader must know is also a writer
        # obligation, plus writer-only invariants (CHECK constraints
        # are enforced at write time; readers never re-verify)
        wfeats = set(feats)
        if any(k.startswith("constraint.") for k in (props or {})):
            wfeats.add("check-constraints")
        if any(_identity_spec(f) for f in schema.fields):
            wfeats.add("identity-columns")
        if wfeats:
            rec["writer_features"] = sorted(wfeats)
        self._log.write_commit(version, rec)
        return version

    def _commit_txn(
        self,
        txn: Txn,
        op: str,
        adds: list[dict],
        removes: list[str],
        schema: StructType,
        props: dict | None = None,
        metrics: dict | None = None,
    ) -> int | None:
        """:meth:`_commit` through ``txn``'s retry loop. The txn marker
        rides the commit record itself, so a crash can never separate
        "data visible" from "batch recorded". A race the txn refuses
        (it raises, or returns None: the batch is already committed)
        removes what ``adds`` landed here that the pinned snapshot does
        not reference — new data files and vector sidecars; a DV re-add
        of a pinned file and a WAP or clone add of another table's file
        stay. ``txn.commit`` raises these only before a publish (it
        retries the lost race ``write`` raises), so a won commit is
        never undone."""
        mark = txn.marker and {"app": txn.marker[0], "batch": txn.marker[1]}
        try:
            v = txn.commit(
                lambda v, s: self._commit(
                    v, op, adds, removes, s, txn=mark, props=props, metrics=metrics
                ),
                schema,
            )
        except (CommitConflict, ConstraintViolation):
            self._unland(txn.snap, adds)
            raise
        if v is None:
            self._unland(txn.snap, adds)
        return v

    def _unland(self, snap: Snapshot, adds: list[dict]) -> None:
        """Remove the files ``adds`` landed in this table that ``snap``
        does not reference."""

        def files(es) -> set[str]:
            return {p for a in es for p in (a["path"], a.get("dv", {}).get("path")) if p}

        for p in files(adds) - files(snap.entries):
            if not os.path.isabs(p) and os.path.exists(self._abs(p)):
                os.remove(self._abs(p))

    def _append_recheck(
        self, wrote: dict, cons: dict, rows, schema_at, props_base=None
    ):
        """The lost-race re-check of every append-shaped writer, as a
        :class:`Txn` ``recheck``. At the new head: the identity
        watermark must not have moved (``props_base``: the props the
        batch's ids were reserved against; any prop moving refuses, as
        the ids or the committed props would be stale); each batch
        column must keep the physical name and generation expression
        its files were written under (``wrote``: a drop + re-add that
        recycles the name, or a column turned GENERATED, conflicts);
        CHECK constraints that moved are re-validated over
        ``rows(schema)``, so a racing ADD CONSTRAINT can't let a
        validated violating batch slip under it. ``schema_at(head)`` is
        the schema to commit and raises when the batch no longer fits
        it."""

        def recheck(head: Snapshot) -> StructType:
            nonlocal cons
            if props_base is not None and head.props != props_base:
                raise CommitConflict(
                    "identity watermark or table properties moved "
                    "concurrently — re-run against the new head"
                )
            schema = schema_at(head)
            if _bindings(schema, wrote) != wrote:
                raise CommitConflict(
                    "column mapping or generated columns changed "
                    "concurrently — re-run against the new head"
                )
            now = _constraints(head.props)
            if now != cons:
                self._check_constraints(rows(schema), now)
                cons = now
            return schema

        return recheck

    # ---------------------------------------------------------- data I/O
    def _partition_phys(self, version: int | None = None) -> list[str]:
        """The table's partition columns (stable PHYSICAL names), or []
        for an unpartitioned table, from the version's props."""
        try:
            return list(json.loads(self.props(version).get(_PART_PROP, "[]")))
        except FileNotFoundError:
            return []

    def partition_columns(self, version: int | None = None) -> list[str]:
        """LOGICAL names of the partition columns at ``version`` —
        the user-facing ``partitionColumns`` (DESCRIBE DETAIL)."""
        pp = self._partition_phys(version)
        if not pp:
            return []
        _, _, schema = self._snapshot(version)
        by_phys = {_phys(f): f.name for f in schema.fields}
        return [by_phys.get(p, p) for p in pp]

    def _write_files(
        self,
        df: DataFrame,
        schema: StructType | None = None,
        partition_phys: list[str] | None = None,
        props: Mapping | None = None,
        observe: dict | None = None,
        validate=None,
        copied: DataFrame | None = None,
    ) -> tuple[list[dict], dict]:
        """Materialize ``df`` as immutable data files; returns their add
        entries (with footer stats) and the ``observe`` metrics ({} when
        none). Files land under data/ with UUID names so concurrent
        writers can never collide.

        ``schema``: the commit's table schema. When it carries column
        mapping, ``df``'s LOGICAL column names are rewritten to their
        stable PHYSICAL names before the parquet write — footer stats
        are therefore keyed by physical name, matching every file in
        the table regardless of renames before or after.

        ``partition_phys``: hive partition columns (physical names);
        ``None`` resolves from table props so EVERY writer — append,
        stream batch, merge, update, delete-rewrite, compaction —
        lands partitioned by construction. The partition columns are
        dropped from the files (they live in the directory, Spark
        partition-discovers them back at read), their values recorded
        on the add entry and injected into its stats as exact [v, v]
        ranges + null counts — so partition pruning IS the existing
        metadata file-skipping, evaluated before any listing.

        ``props``: the table props the write honors (default: the
        committed ones; create passes the props of its own commit).

        ``observe``: {name: aggregate Column} metrics that ride the
        write job itself via an Observation over the batch's LOGICAL
        columns (guide §1.2: validations and counts that used to be
        their own Spark actions fuse into the write's single pass). The
        metrics may read helper columns outside ``schema`` (merge's
        updated/inserted marker): those columns end at the observation
        and never reach the files.
        ``validate``: callable invoked with the observed metrics AFTER
        the staging write but BEFORE any file is renamed into data/ —
        raising aborts the write with nothing landed, preserving the
        validate-before-any-file-lands contract at zero extra actions.
        ``copied``: rows written in the same job but outside
        ``observe`` — a copy-on-write rewrite's kept rows, which must
        not be re-validated (restore may legally have re-admitted rows
        violating a later constraint)."""
        obs_user = None
        if observe:
            from pyspark.sql import Observation

            obs_user = Observation()
            df = df.observe(
                obs_user, *[c.alias(n) for n, c in observe.items()]
            )
            if schema is not None:
                names = {f.name for f in schema.fields}
                df = df.select(*[c for c in df.columns if c in names])
        if copied is not None:
            df = df.unionByName(copied)
        df = _to_physical(df, schema)
        if partition_phys is None:
            partition_phys = self._partition_phys()
        missing = [c for c in partition_phys if c not in df.columns]
        if missing:
            raise ValueError(
                f"write batch is missing partition column(s) {missing}"
            )
        if partition_phys and props is None:
            props = self.props()
        if partition_phys and props.get("optimizedWrite") == "true":
            # Optimized writes (Delta autoOptimize.optimizeWrite parity):
            # repartition the batch BY the partition columns before the
            # write, so each partition receives ~1 file per write instead
            # of (tasks × partitions) shards — the classic 32-task ×
            # 200-dir = 6,400-file explosion (SCALE.md probe). Skew
            # guard: `optimizedWrite.salt` > 1 hash-splits each
            # partition's rows across that many shuffle keys (a giant
            # hot date writes salt files in parallel, not one
            # single-task file). Resolved from table props so EVERY
            # writer honors it.
            salt = int(props.get("optimizedWrite.salt", "1"))
            keys = [F.col(c) for c in partition_phys]
            if salt > 1:
                keys.append(
                    F.pmod(
                        F.xxhash64(*[F.col(c) for c in df.columns]),
                        F.lit(salt),
                    )
                )
            df = df.repartition(*keys)
        else:
            # Right-size output files from the optimizer's size estimate
            # (aim for ~128 MB files; small files tax every later read
            # twice — listing/planning AND per-file open). coalesce() is
            # narrow (no shuffle) and a no-op when the target >= the
            # current partition count, so a 100 TB batch keeps its
            # parallelism while a KB-sized commit lands as ONE file
            # instead of (task count) KB shards — and a hive write
            # shards into (size-derived tasks x partition values)
            # files, one file per value for small batches.
            df = _size_coalesce(df)
        types = {f.name: f.dataType for f in df.schema.fields}
        # '' in a string partition column is unrepresentable: Spark
        # writes it as __HIVE_DEFAULT_PARTITION__ — the same dirname as
        # NULL — so it would silently round-trip as NULL. Fail loudly
        # instead. The probe is an Observation riding the write job
        # itself (zero extra scan of the batch).
        obs = None
        str_parts = [
            c
            for c in partition_phys
            if c in types and types[c].typeName() == "string"
        ]
        if str_parts:
            from pyspark.sql import Observation

            obs = Observation()
            df = df.observe(
                obs,
                *[
                    F.sum(F.when(F.col(c) == "", 1).otherwise(0)).alias(c)
                    for c in str_parts
                ],
            )
        tmp = os.path.join(self.path, f"_tmp_{uuid.uuid4().hex}")
        writer = df.write.partitionBy(*partition_phys) if partition_phys else df.write
        writer.mode("overwrite").parquet(tmp)
        observed = {} if obs_user is None else obs_user.get
        if obs_user is not None and validate is not None:
            try:
                validate(observed)
            except BaseException:
                shutil.rmtree(tmp, ignore_errors=True)
                raise
        if obs is not None:
            bad = [c for c, n in obs.get.items() if n]
            if bad:
                shutil.rmtree(tmp)
                raise ValueError(
                    f"empty-string value in partition column(s) {bad}: "
                    "hive layout stores '' as __HIVE_DEFAULT_PARTITION__ "
                    "(indistinguishable from NULL on read); write NULL or "
                    "a non-empty sentinel instead"
                )
        adds = []
        for dirpath, _dirs, files in sorted(os.walk(tmp)):
            segs = [
                s
                for s in os.path.relpath(dirpath, tmp).split(os.sep)
                if s not in (".", "")
            ]
            if len(segs) != len(partition_phys):
                continue  # tmp root / intermediate dirs hold no data
            part = _hive_values(segs, types) if partition_phys else None
            for fname in sorted(files):
                if fname.endswith(".parquet"):
                    a = self._land(os.path.join(dirpath, fname), segs, part, types)
                    if a is not None:
                        adds.append(a)
        shutil.rmtree(tmp)
        return adds, observed

    def _land(
        self, src: str, segs: list, part: dict | None, types: Mapping
    ) -> dict | None:
        """Move the written parquet file ``src`` into data/ (under the
        hive dirs ``segs``) with a fresh uuid name and return its add
        entry (:func:`_file_entry`), or None for an empty file (removed
        — the schema lives in the log)."""
        rel = "/".join([_DATA, *segs, f"{uuid.uuid4().hex}.parquet"])
        abs_new = self._abs(rel)
        os.makedirs(os.path.dirname(abs_new), exist_ok=True)
        os.rename(src, abs_new)
        entry = _file_entry(abs_new, rel, part, types)
        if entry is None:
            os.remove(abs_new)
        return entry

    def _abs(self, rel: str) -> str:
        return os.path.join(self.path, rel)

    # ---------------------------------------------------------- reads
    def read(self, version: int | None = None, timestamp=None) -> DataFrame:
        """Snapshot read. The file list is resolved NOW — later commits
        never affect this DataFrame (snapshot isolation).

        Schema = the snapshot version's committed schema (additive
        evolution: appending a wider frame advances it; time travel to
        an older version reads with that version's narrower schema).

        ``timestamp`` (Delta ``TIMESTAMP AS OF`` parity): wall-clock
        time travel — epoch seconds, datetime, or ISO-8601 string
        (naive = UTC) resolved to the latest commit at or before it
        (:meth:`version_at`; loud before the first commit). Mutually
        exclusive with ``version``. Vacuum drops old files exactly as
        for numeric time travel — ``retain_hours`` is the matching
        wall-clock retention knob."""
        _, active, schema = self._snapshot(
            self._resolve_version(version, timestamp)
        )
        return self._read_entries(active, schema)

    def _read_entries(
        self, entries: list[dict], schema: StructType, keep_meta: bool = False
    ) -> DataFrame:
        """Read the given add entries WITH their deletion vectors
        applied — the single physical read path every reader (full,
        pruned, null-skipping, rewrite-affected) funnels through, so a
        DV'd row can never resurrect via a side door.

        DV application is positional (Delta parity): each sidecar holds
        (base, pos) pairs — the data file's basename (uuid, globally
        unique) and the 0-based row position from the parquet reader's
        ``_metadata.row_index``. Applying is one anti-join whose build
        side is deleted-rows-sized (broadcast: ndel is known from the
        entries, so the hint is driven by metadata, not a guess); a
        snapshot with NO DVs takes the plain scan with zero overhead.
        ``keep_meta=True`` keeps ``_dv_base``/``_dv_pos`` columns —
        file identity + row position captured AT SCAN TIME, which
        survives joins (``input_file_name()`` does not)."""
        paths = [self._abs(a["path"]) for a in entries]
        if not paths:
            df = self.spark.createDataFrame([], schema)
            if keep_meta:  # empty table still honors the meta contract
                df = df.select(
                    "*",
                    F.lit(None).cast("string").alias("_dv_base"),
                    F.lit(None).cast("long").alias("_dv_pos"),
                )
            return df
        # Column mapping: files store PHYSICAL names (stable across
        # renames); scan with the physical schema and alias each column
        # back to its snapshot-version logical name. Files written
        # before a column was born lack its physical column and fill
        # NULL (parquet missing-column semantics) — same as additive
        # schema evolution.
        #
        # Partitioned tables: partition column values live in the
        # hive directory names, not the files — ONE scan per data root
        # with basePath set lets Spark's own partition discovery fill
        # them (cast to the provided schema's types), so the read stays
        # a single native file scan, never a per-partition union. A
        # shallow clone mixes roots (clone-local + source-absolute
        # files); each root scans once and the handful union.
        mapped = _is_mapped(schema)
        partitioned = any(a.get("partition") is not None for a in entries)
        dv_rels = sorted({a["dv"]["path"] for a in entries if a.get("dv")})
        need_meta = keep_meta or bool(dv_rels)
        read_schema = _physical_schema(schema) if mapped else schema
        sel = [F.col(_phys(f)).alias(f.name) for f in schema.fields]
        meta_cols = (
            [
                F.element_at(
                    F.split(F.col("_metadata.file_path"), "/"), -1
                ).alias("_dv_base"),
                F.col("_metadata.row_index").alias("_dv_pos"),
            ]
            if need_meta
            else []
        )

        def _scan(ps: list[str], base: str | None) -> DataFrame:
            r = self.spark.read.schema(read_schema)
            if base is not None:
                r = r.option("basePath", base)
            d = r.parquet(*ps)
            if mapped or partitioned or need_meta:
                # meta columns are captured BEFORE any union — hidden
                # _metadata doesn't survive set operations
                return d.select(*sel, *meta_cols)
            return d

        if partitioned:
            marker = f"{os.sep}{_DATA}{os.sep}"
            # group by (data root, ERA LAYOUT): partition EVOLUTION
            # (set_partitioning) leaves files from different eras with
            # different hive key sets under one data root, and Spark's
            # partition discovery demands a CONSISTENT partition schema
            # per scan relation — one scan per layout, then union.
            # Files from an unpartitioned era (no hive dirs — their
            # one-time partition columns live in the file BYTES) scan
            # plain. No-evolution tables collapse to the single-scan
            # fast path exactly as before.
            groups: dict[tuple, list[str]] = {}
            for a, p in zip(entries, paths):
                part = a.get("partition")
                layout = tuple(sorted(part)) if part else ()
                if layout:
                    # rindex: partition VALUES can't contain '/'
                    # (escaped %2F in dirnames), so the LAST /data/ is
                    # the data root even when the table path itself
                    # contains one (every producer — including
                    # convert_from_parquet's hardlink relocation —
                    # lands partitioned files under a data/)
                    root = p[: p.rindex(marker) + len(marker) - 1]
                else:
                    root = ""
                groups.setdefault((root, layout), []).append(p)
            scans = [
                _scan(ps, root or None)
                for (root, _layout), ps in sorted(groups.items())
            ]
            df = scans[0]
            for d in scans[1:]:
                df = df.unionByName(d)
        else:
            df = _scan(paths, None)

        df = _fill_generated(df, schema)
        if not need_meta:
            return df
        data_cols = [f.name for f in schema.fields]
        if dv_rels:
            dv = self.spark.read.schema("_dv_base string, _dv_pos long").parquet(
                *[self._abs(p) for p in dv_rels]
            )
            # A shared sidecar physically holds positions for every file
            # the same historical delete/merge touched; a pruned read of
            # one entry must not load (or broadcast) the rest. Filtering
            # to the read set's basenames also makes the metadata ndel
            # estimate match the actual build side.
            bases = [
                os.path.basename(a["path"]) for a in entries if a.get("dv")
            ]
            dv = dv.filter(F.col("_dv_base").isin(bases))
            ndel = sum(int(a["dv"].get("ndel", 0)) for a in entries if a.get("dv"))
            if ndel <= 2_000_000:  # metadata-known build size → broadcast
                dv = F.broadcast(dv)
            df = df.join(dv, ["_dv_base", "_dv_pos"], "left_anti")
        if not keep_meta:
            df = df.select(*data_cols)
        return df

    def _active_dv_positions(self, entries: list[dict]) -> DataFrame | None:
        """(base, pos) of the entries' current deletion vectors, or None
        when the entries carry none. Each entry's positions come from
        its OWN sidecar only: an older shared sidecar still holds a
        stale subset for a file whose vector has since moved on."""
        dv_rels = sorted({a["dv"]["path"] for a in entries if a.get("dv")})
        if not dv_rels:
            return None
        own = sorted(
            f"{os.path.basename(a['dv']['path'])}/{os.path.basename(a['path'])}"
            for a in entries
            if a.get("dv")
        )
        return (
            self.spark.read.schema("_dv_base string, _dv_pos long")
            .parquet(*[self._abs(p) for p in dv_rels])
            .filter(
                F.concat_ws("/", F.col("_metadata.file_name"), F.col("_dv_base"))
                .isin(own)
            )
            .select("_dv_base", "_dv_pos")
        )

    def _effective_commit_times(self) -> list[tuple[int, float]]:
        """(version, effective commit time) — raw wall-clock stamps
        MONOTONIZED along version order (Delta's timestamp-adjustment
        rule): ``eff(v) = max(raw(v), eff(prev))``, so a clock-skewed
        commit whose stamp runs backwards can never make timestamp
        resolution non-causal (resolve to a LATER version than one the
        target time precedes)."""
        out: list[tuple[int, float]] = []
        eff: float | None = None
        for v in self._log.versions():
            raw = float(self._log.read_commit(v).get("ts", 0))
            eff = raw if eff is None else max(eff, raw)
            out.append((v, eff))
        return out

    def version_at(self, ts) -> int:
        """TIMESTAMP AS OF resolution: the largest version whose
        EFFECTIVE commit time is at or before ``ts`` (epoch seconds,
        datetime, or ISO-8601 string — naive means UTC). Ties — several
        versions sharing one effective time — resolve to the HIGHEST
        version (Delta's rule: the table state at that instant is the
        last of them). Loud ``ValueError`` when ``ts`` precedes the
        first commit (Delta parity: AS OF before table creation is an
        error, not an empty table)."""
        target = _ts_epoch(ts)
        best = None
        for v, eff in self._effective_commit_times():
            if eff <= target:
                best = v
        if best is None:
            raise ValueError(
                f"no commit at or before {ts!r} — the table's first "
                "commit is later (AS OF before creation)"
            )
        return best

    def _resolve_version(self, version: int | None, timestamp) -> int | None:
        """One rule for every AS OF surface: ``timestamp`` resolves via
        :meth:`version_at`; passing both is ambiguous and rejected."""
        if timestamp is None:
            return version
        if version is not None:
            raise ValueError("pass version OR timestamp, not both")
        return self.version_at(timestamp)

    # ---------------------------------------------------------- tags
    _TAG_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9._-]{0,63}$")

    def tag(
        self,
        name: str,
        version: int | None = None,
        replace: bool = False,
        timestamp=None,
    ) -> int:
        """Name a version (Iceberg tag parity): a durable ref like
        ``training-run-2024-01`` that pins the EXACT snapshot a
        consumer read, independent of later commits — the
        reproducibility contract for dataset releases. Metadata-only
        (one tiny JSON under the log); reading a tag is ordinary time
        travel, and vacuuming past a tagged version breaks it exactly
        as it breaks numeric time travel. Tags are immutable unless
        ``replace=True`` (accidental re-pointing silently changes what
        a published dataset name means).

        ``timestamp``: pin the snapshot by wall-clock time instead of
        a version number (:meth:`version_at` rules)."""
        if not self._TAG_RE.match(name):
            raise ValueError(f"invalid tag name {name!r}")
        version = self._resolve_version(version, timestamp)
        v = self.latest_version() if version is None else version
        if v not in self._log.versions():
            raise ValueError(f"tag {name!r}: version {v} does not exist")
        path = os.path.join(self._log_dir, f"_tag.{name}.json")
        rec = {"name": name, "version": v, "ts": time.time()}
        if replace:
            tmp = path + f".tmp.{uuid.uuid4().hex}"
            with open(tmp, "w") as f:
                json.dump(rec, f)
            os.replace(tmp, path)
        else:
            # Exclusive-create, not exists()-then-write: two concurrent
            # tag(name) calls must not both succeed with the second
            # silently re-pointing the "immutable" tag. link(2) is the
            # atomic claim (fails with EEXIST if the tag already
            # exists) AND keeps the publish atomic — readers only ever
            # see the fully-written file, never a torn one.
            tmp = path + f".tmp.{uuid.uuid4().hex}"
            with open(tmp, "w") as f:
                json.dump(rec, f)
            try:
                os.link(tmp, path)
            except FileExistsError:
                raise ValueError(
                    f"tag {name!r} already exists (pass replace=True)"
                ) from None
            finally:
                os.unlink(tmp)
        return v

    def tags(self) -> dict[str, int]:
        """All tags as {name: version}."""
        out: dict[str, int] = {}
        for f in os.listdir(self._log_dir):
            if f.startswith("_tag.") and f.endswith(".json"):
                with open(os.path.join(self._log_dir, f)) as fh:
                    rec = json.load(fh)
                out[rec["name"]] = rec["version"]
        return out

    def tag_version(self, name: str) -> int:
        try:
            with open(os.path.join(self._log_dir, f"_tag.{name}.json")) as f:
                return json.load(f)["version"]
        except FileNotFoundError:
            raise ValueError(f"unknown tag {name!r}") from None

    def read_tag(self, name: str) -> DataFrame:
        """Snapshot read at a named tag (time travel by name)."""
        return self.read(self.tag_version(name))

    def delete_tag(self, name: str) -> None:
        try:
            os.remove(os.path.join(self._log_dir, f"_tag.{name}.json"))
        except FileNotFoundError:
            raise ValueError(f"unknown tag {name!r}") from None

    def files_overlapping(self, col: str, lo, hi) -> list[str]:
        """File-level data skipping: relative paths of active files
        whose footer [min,max] for ``col`` intersects [lo, hi]. Files
        without stats for the column are conservatively kept. ``col``
        is the LOGICAL name; stats are keyed by the stable physical
        name, so skipping keeps working across renames. STRING columns
        skip too (round 8): their stored bounds are safe prefix
        widenings of possibly-truncated parquet stats, so equality and
        range probes on e.g. an id or status column prune files like
        numerics do. A type-mismatched probe (int range against a
        string column) keeps everything rather than raising."""
        _, active, schema = self._snapshot()
        return [a["path"] for a in _prune_range(active, schema, col, lo, hi)]

    def read_pruned(self, col: str, lo, hi) -> DataFrame:
        """Range read using file skipping + the residual filter. Same
        result as ``read().filter(between)`` but lists only overlapping
        files — at 100 TB on a clustered column this is the difference
        between touching 3 files and 30 000."""
        return self.read_pruned_multi([(col, lo, hi)])

    _GEN_DATE_RE = re.compile(
        r"(?i)^\s*CAST\s*\(\s*([A-Za-z_][A-Za-z0-9_]*)\s+AS\s+DATE\s*\)\s*$"
    )

    def _derived_partition_conds(
        self, conds: list[tuple[str, object, object]], schema: StructType
    ) -> list[tuple[str, object, object]]:
        """Delta generated-partition-filter parity: a range condition
        on a column X implies a range on a PARTITION column generated
        as ``CAST(X AS DATE)`` (monotone in X), so a timestamp-range
        query on a date-partitioned table prunes partitions without
        the caller naming the partition column. Derived bounds are
        the ISO date prefixes of the endpoints — exactly the string
        form the injected partition stats store. Conservative: only
        the cast-to-date pattern derives, and only when the SOURCE
        column is itself a timestamp/date type — for those,
        ``str(v)[:10]`` is guaranteed the ISO date prefix and the
        cast is monotone in the column's native order. A STRING
        source (raw-ingest pattern) derives nothing: string order is
        not monotone under CAST to DATE ('2024-1-15' sorts after
        '2024-01-15' but casts earlier), so a derived bound could
        wrongly exclude a partition. Anything outside the safe set
        adds no condition (never a wrong skip)."""
        by_field = {f.name: f for f in schema.fields}
        have = {c[0] for c in conds}
        safe_src = ("timestamp", "timestamp_ntz", "date")
        out = []
        for f in schema.fields:
            e = _gen_expr(f)
            if not e or f.name in have:
                continue
            m = self._GEN_DATE_RE.match(e)
            if m and m.group(1) in by_field and by_field[
                m.group(1)
            ].dataType.typeName() in safe_src:
                for col, lo, hi in conds:
                    if col != m.group(1) or lo is None or hi is None:
                        continue
                    lo_d, hi_d = str(lo)[:10], str(hi)[:10]
                    if len(lo_d) == 10 and len(hi_d) == 10:
                        out.append((f.name, lo_d, hi_d))
                continue
            # EQUALITY derivation through ANY single-source generated
            # expression (Iceberg hidden-partitioning parity — the
            # bucket-transform case ``pmod(xxhash64(k), N)`` included):
            # no monotonicity needed, because X = v implies g = f(v)
            # for a deterministic f. The value is computed by one
            # job-free driver-side evaluation of the expression over
            # the literal (:func:`_literal_rows`); a literal or
            # expression that can't be evaluated (``_NOT_EVALUABLE``)
            # conservatively derives nothing.
            srcs = [
                g.name
                for g in schema.fields
                if g.name != f.name and _ident_refs(e, g.name)
            ]
            if len(srcs) != 1 or self.spark is None:
                continue
            for col, lo, hi in conds:
                if col != srcs[0] or lo is None or lo != hi:
                    continue
                try:
                    (row,) = (
                        _literal_rows(self.spark, [by_field[col]], [(lo,)])
                        .select(F.expr(e).cast(f.dataType).alias("_v"))
                        .collect()
                    )
                except _NOT_EVALUABLE:
                    continue
                if row["_v"] is not None:
                    v = _json_safe(row["_v"])
                    out.append((f.name, v, v))
        return out

    def read_pruned_multi(self, conds: list[tuple[str, object, object]]) -> DataFrame:
        """Conjunctive multi-column range read: a file is scanned only
        if its footer [min,max] overlaps EVERY ``(col, lo, hi)``
        condition — the read path that makes a z-ordered layout pay on
        both dimensions at once (each condition independently knocks
        out most files; the survivors are the small z-box
        neighborhood). Residual filters reapply all conditions; an
        empty condition list is just an unpruned full read. Ranges on
        a column that a GENERATED partition column derives from
        (``CAST(x AS DATE)``) additionally prune the partitions —
        the derived bounds skip, the residual stays the caller's."""
        if not conds:
            return self.read()
        _, entries, schema = self._snapshot()
        for c in conds + self._derived_partition_conds(conds, schema):
            entries = _prune_range(entries, schema, *c)
        out = self._read_entries(entries, schema)
        for col, lo, hi in conds:
            out = out.filter(F.col(col).between(lo, hi))
        return out

    def files_null_candidates(self, col: str, want_null: bool) -> list[str]:
        """Null-aware data skipping: active files that MIGHT contain a
        row where ``col`` IS NULL (``want_null=True``: null count > 0
        or unknown) / IS NOT NULL (``want_null=False``: null count <
        rows or unknown). Files without a footer null count — old log
        entries predating null stats, or stats-less row groups — are
        conservatively kept. The IS NULL side is the one range stats
        can never serve; at 100 TB a sparse column's null probe drops
        from a table scan to the handful of files that carry nulls."""
        _, active, schema = self._snapshot()
        return [a["path"] for a in _prune_nulls(active, schema, col, want_null)]

    def read_where_null(self, col: str, want_null: bool = True) -> DataFrame:
        """IS NULL / IS NOT NULL read through null-count file skipping
        + the residual filter (same contract as ``read_pruned``)."""
        _, active, schema = self._snapshot()
        out = self._read_entries(
            _prune_nulls(active, schema, col, want_null), schema
        )
        cond = F.col(col).isNull() if want_null else F.col(col).isNotNull()
        return out.filter(cond)

    # ------------------------------------------------- bloom value index
    _BLOOM_K = 7  # fixed hash count; with m = 10n bits → fpp ≈ 0.8%

    def build_value_index(self, col: str, bits_per_row: int = 10) -> int:
        """Build (or refresh) a BLOOM point-lookup index for ``col``
        (Delta/Iceberg bloom-filter parity, maintained ASYNC like
        Iceberg metadata: a maintenance op, not a write-path tax).
        One bloom per ACTIVE data file — built distributed (values are
        hashed JVM-side with xxhash64 double-hashing; an
        applyInPandas stage ORs the bit array per file), stored as a
        parquet index (base, m, k, words array<long>) under bloom/,
        and registered in table props (versioned, travels with clone
        and time travel). Re-running CARRIES FORWARD blooms of
        still-active files and computes only the missing ones —
        O(new files' bytes) per maintenance cycle.

        Strings get exact membership where min/max prefixes can't
        discriminate (uuid-ish ids whose range spans every file);
        ``read_where_eq`` consults the index with a pure-SQL bit
        probe, so only matching file NAMES ever reach the driver."""
        import pandas as pd

        v, active, schema = self._snapshot()
        phys = next((_phys(f) for f in schema.fields if f.name == col), None)
        if phys is None:
            raise ValueError(f"no such column: {col!r}")
        props = self.props(v)
        prev_rel = props.get(f"bloom.{phys}")
        have: dict[str, object] = {}
        if prev_rel and os.path.isdir(self._abs(prev_rel)):
            prev = self.spark.read.parquet(self._abs(prev_rel))
            bases = {os.path.basename(a["path"]) for a in active}
            prev = prev.filter(F.col("base").isin(sorted(bases)))
            have = {r["base"]: True for r in prev.select("base").collect()}
        todo = [
            a
            for a in active
            if os.path.basename(a["path"]) not in have
        ]
        k = self._BLOOM_K

        def _build(pdf: "pd.DataFrame") -> "pd.DataFrame":
            import numpy as np

            n = max(len(pdf), 1)
            m = ((n * bits_per_row + 63) // 64) * 64
            words = np.zeros(m // 64, dtype=np.uint64)
            for i in range(k):
                # int64 % positive follows the divisor's sign in both
                # numpy and SQL pmod — build and probe agree exactly
                pos = pdf[f"h{i}"].to_numpy(np.int64) % np.int64(m)
                np.bitwise_or.at(
                    words, pos >> 6,
                    np.uint64(1) << (pos.astype(np.uint64) & np.uint64(63)),
                )
            return pd.DataFrame(
                {
                    "base": [pdf["base"].iloc[0]],
                    "m": [int(m)],
                    "k": [int(k)],
                    "words": [words.astype(np.int64).tolist()],
                }
            )

        parts = []
        if todo:
            cur = self._read_entries(todo, schema, keep_meta=True)
            # k INDEPENDENT seeded hashes (xxhash64 chains the literal
            # into the seed) — no double-hash arithmetic, so there is
            # no overflow/wrap semantics to keep in sync across the
            # JVM, numpy, and ANSI SQL
            hf = cur.filter(F.col(col).isNotNull()).select(
                F.col("_dv_base").alias("base"),
                *[
                    F.xxhash64(F.col(col), F.lit(i)).alias(f"h{i}")
                    for i in range(k)
                ],
            )
            parts.append(
                hf.groupBy("base").applyInPandas(
                    _build, "base string, m long, k long, words array<long>"
                )
            )
        if have:
            parts.append(prev)
        rel = f"bloom/{uuid.uuid4().hex}"
        out_dir = self._abs(rel)
        if parts:
            idx = parts[0]
            for p_ in parts[1:]:
                idx = idx.unionByName(p_)
            _size_coalesce(idx).write.mode("overwrite").parquet(out_dir)
        else:  # empty table: empty index frame
            self.spark.createDataFrame(
                [], "base string, m long, k long, words array<long>"
            ).write.mode("overwrite").parquet(out_dir)
        props[f"bloom.{phys}"] = rel
        return self._commit(
            v + 1, "setprops", [], [], schema, props=props,
            metrics={"bloom_column": col, "files_indexed": len(todo),
                     "files_carried": len(have)},
        )

    def read_where_eq(self, col: str, value) -> DataFrame:
        """Point lookup ``col = value`` through every skipping layer:
        range/partition stats first, then the bloom index when one
        exists — the probe is pure SQL over the index parquet (k bit
        tests on the words array), so the driver only ever receives
        the MATCHING file basenames. Residual filter keeps results
        exact; files without a bloom row (added since the last
        maintenance build) are conservatively kept."""
        v, entries, schema = self._snapshot()
        field = next((f for f in schema.fields if f.name == col), None)
        phys = _phys(field) if field is not None else col
        # the probe literal hashes as the COLUMN's type — a python int
        # probing a long column must hash identically to stored values
        lit = (
            F.lit(value).cast(field.dataType) if field is not None else F.lit(value)
        )
        # layer 1: range/partition/null stats, plus partition bounds
        # DERIVED from generated columns (a ts point-lookup on a
        # date-partitioned table prunes to one date directory)
        conds = [(col, value, value)]
        for c in conds + self._derived_partition_conds(conds, schema):
            entries = _prune_range(entries, schema, *c)
        rel = self.props(v).get(f"bloom.{phys}")
        if rel and os.path.isdir(self._abs(rel)) and entries:
            h = (
                self.spark.range(1)
                .select(
                    *[
                        F.xxhash64(lit, F.lit(i)).alias(f"h{i}")
                        for i in range(self._BLOOM_K)
                    ]
                )
                .first()
            )
            idx = self.spark.read.parquet(self._abs(rel))
            cond = F.lit(True)
            for i in range(self._BLOOM_K):
                pos = f"pmod({int(h[f'h{i}'])}L, m)"
                cond = cond & (
                    F.expr(
                        f"(shiftrightunsigned(element_at(words, "
                        f"CAST({pos} DIV 64 AS INT) + 1), "
                        f"CAST({pos} % 64 AS INT)) & 1) = 1"
                    )
                )
            hit_bases = {
                r["base"]
                for r in idx.filter(
                    (F.col("k") == self._BLOOM_K) & cond
                ).select("base").collect()
            }
            # a row built with a DIFFERENT k (constant changed across
            # builds) can never satisfy the k-gated hit filter above —
            # counting it as "indexed" would silently skip its file
            # even when it contains the value; treat it as unindexed
            indexed = {
                r["base"]
                for r in idx.filter(F.col("k") == self._BLOOM_K)
                .select("base")
                .collect()
            }
            entries = [
                a
                for a in entries
                if os.path.basename(a["path"]) not in indexed
                or os.path.basename(a["path"]) in hit_bases
            ]
        out = self._read_entries(entries, schema)
        return out.filter(F.col(col) == lit)

    def rows(self, version: int | None = None) -> int:
        """Metadata-only COUNT(*): the sum of per-file row counts in
        the snapshot's add entries — O(files) driver work, no scan (the
        Delta/Iceberg manifest-count fast path). Equality with a real
        scan count is pinned in tests."""
        _, active, _ = self._snapshot(version)
        return sum(
            int(a.get("rows", 0)) - int(a.get("dv", {}).get("ndel", 0))
            for a in active
        )

    def optimize_if_needed(
        self,
        small_file_bytes: int = 32 * 1024 * 1024,
        min_small_files: int = 8,
        max_dv_fraction: float = 0.3,
    ) -> dict:
        """Compaction policy: rewrite when the snapshot holds at least
        ``min_small_files`` files under ``small_file_bytes`` (the
        small-file problem) OR any file whose deletion-vector covers ≥
        ``max_dv_fraction`` of its rows (the tombstone-ratio problem:
        a mostly-dead file pays full scan cost for a sliver of live
        rows, and its anti-join build side keeps growing) — the
        maintenance loop's guards so OPTIMIZE runs are need-driven,
        not scheduled blind rewrites of 100 TB. When it fires, it
        rewrites ONLY the qualifying files (reads just their add
        entries — vectors fold into the rewrite — bins them into
        ~threshold-sized files, commits adds + removes limited to
        those paths); every other file is untouched, so the rewrite
        cost is O(qualifying bytes), not O(table). Returns what
        happened."""
        snap = self._readable_snapshot()
        active, schema = snap.entries, snap.schema
        small = [a for a in active if int(a.get("bytes", 0)) < small_file_bytes]
        # The tombstone-ratio test applies to EVERY vectored file, small
        # or large: a small file with a ~100% vector would otherwise
        # never qualify while the small-file count stays below
        # min_small_files, and its sidecar + anti-join tax would persist
        # indefinitely (only the small-file clause is count-gated).
        dv_heavy = [
            a
            for a in active
            if a.get("dv")
            and int(a["dv"].get("ndel", 0))
            >= max_dv_fraction * max(int(a.get("rows", 0)), 1)
        ]
        if len(small) < min_small_files and not dv_heavy:
            return {
                "compacted": False,
                "small_files": len(small),
                "dv_heavy_files": 0,
            }
        take_small = small if len(small) >= min_small_files else []
        small_paths = {a["path"] for a in take_small}
        targets = take_small + [
            a for a in dv_heavy if a["path"] not in small_paths
        ]
        target_paths = [a["path"] for a in targets]
        live_bytes = sum(
            int(a.get("bytes", 0))
            * (1 - int(a.get("dv", {}).get("ndel", 0)) / max(int(a.get("rows", 0)), 1))
            for a in targets
        )
        nfiles = max(1, int(live_bytes) // max(small_file_bytes, 1))
        # DV-aware read: compacting a vectored file folds its deletions
        # into the rewrite (the new files carry no dv entry); liquid
        # clustering columns apply to the rewrite when set
        df = _cluster_layout(
            self._read_entries(targets, schema),
            self.clustering_columns(snap.version),
            int(nfiles),
        )
        adds, _ = self._write_files(df, schema)
        v = self._commit_txn(
            Txn(snap, self._log, touched=targets),
            "compact", adds, target_paths, schema,
        )
        return {
            "compacted": True,
            "small_files": len(small),
            "dv_heavy_files": len(dv_heavy),
            "version": v,
        }

    # ---------------------------------------------------------- writes
    def append(self, df: DataFrame, merge_schema: bool = False) -> int:
        """Blind append (commutes with concurrent appends → auto-retry
        on version conflict).

        Schema contract (Delta ``mergeSchema`` semantics): by default
        the batch must carry exactly the table's columns with matching
        types (missing columns are allowed and read back as NULL —
        parquet's missing-column fill). With ``merge_schema=True`` new
        columns WIDEN the table schema: the commit records the union
        (table columns first, new ones appended), and earlier files'
        rows read back with NULLs in the new columns. Type changes are
        always rejected — silent narrowing/coercion is how lakes rot.

        The schema union is recomputed against the LATEST snapshot on
        every conflict retry — a fixed pre-commit schema would let this
        append's retry silently revert a column a concurrent
        merge_schema append just added (the snapshot schema is always
        the last commit's)."""
        return self._append(df, merge_schema)

    def last_committed_batch(self, app_id: str) -> int | None:
        """Highest streaming batch id committed by ``app_id`` — the txn
        mark the latest snapshot carries (checkpoints record it)."""
        return self._log.snapshot().txns.get(app_id)

    def append_stream_batch(self, df: DataFrame, app_id: str, batch_id: int) -> int | None:
        """Idempotent streaming append (the Delta ``txnAppId`` pattern):
        each commit records (app_id, batch_id); a replayed foreachBatch
        micro-batch — Structured Streaming is at-least-once after
        restarts — sees its batch id already in the log and becomes a
        no-op, upgrading the sink to exactly-once. Returns the commit
        version, or None if the batch was already applied. The batch
        may carry a column subset (missing columns read back NULL);
        the commit records the TABLE's schema, never a narrower one."""
        return self._append(df, False, (app_id, int(batch_id)))

    def _prepare_batch(self, df: DataFrame, snap: Snapshot) -> tuple:
        """The front of a batch write against the pinned ``snap``:
        reserved names refused; generated and DEFAULT columns
        materialized (or validated) BEFORE constraint validation, which
        may reference them; identity ids assigned from the watermark in
        props (the new mark is observed on the write job and committed
        with it); CHECK validation fused into the write job (one pass,
        guide §1.2; a violation aborts before any file lands in data/).
        Returns ``(df, props_base, fin_id, observe, validate)``;
        ``props_base`` is None without identity columns."""
        _check_reserved(df.schema)
        df = self._apply_generated(df, snap.schema)
        df = self._apply_defaults(df, snap.schema)
        props_base, fin_id = None, None
        if any(_identity_spec(f) for f in snap.schema.fields):
            props_base = dict(snap.props)
            df, fin_id = self._assign_identity(df, snap.schema, props_base)
        obs_c, val_c = self._fused_constraints(df, _constraints(snap.props))
        return df, props_base, fin_id, obs_c, val_c

    def _append(
        self,
        df: DataFrame,
        merge_schema: bool,
        marker: tuple[str, int] | None = None,
    ) -> int | None:
        """The body of :meth:`append`; with ``marker`` ``(app_id,
        batch)``, of :meth:`append_stream_batch`."""
        # pinned BEFORE validation: a commit interleaving after this
        # point makes the Txn re-check the batch at the new head
        snap = self._readable_snapshot()
        if marker is not None and snap.txns.get(marker[0], -1) >= marker[1]:
            # a replayed batch: no write and no validation scan — it was
            # validated when it first committed
            return None
        who = "append" if marker is None else "stream batch"
        # a replayed stream batch deduped above, so it never re-assigns
        # identity ids
        df, props_base, fin_id, obs_c, val_c = self._prepare_batch(df, snap)

        assigned: dict[str, str] = {}  # new columns' physical names

        def union(s: Snapshot) -> StructType:
            new = _new_columns(s.schema, s.props, df.schema.fields, who, assigned)
            if new and not merge_schema:
                raise ValueError(
                    f"{who} adds unknown column(s) "
                    f"{[f.name for f in new]}; evolve the table "
                    "schema with append(merge_schema=True) first"
                )
            return StructType([*s.schema.fields, *new]) if new else s.schema

        schema = union(snap)
        # physical names the files are written with — pinned; a retry
        # whose recomputed schema maps any batch column elsewhere must
        # conflict, not silently commit files the mapping can't see
        wrote = _bindings(schema, df.columns)
        adds, _ = self._write_files(df, schema, observe=obs_c, validate=val_c)
        recheck = self._append_recheck(
            wrote, _constraints(snap.props), lambda _: df, union, props_base
        )
        return self._commit_txn(
            Txn(snap, self._log, blind=True, marker=marker, recheck=recheck),
            "append", adds, [], schema,
            props=fin_id(dict(props_base)) if fin_id is not None else None,
            metrics={"rows_appended": sum(int(a.get("rows", 0)) for a in adds)},
        )

    def overwrite(self, df: DataFrame) -> int:
        """Full replace. Table METADATA survives the replace (Delta
        INSERT OVERWRITE parity): CHECK constraints keep enforcing (via
        props) and GENERATED ALWAYS AS rules re-attach to the new
        schema — the batch's generated columns are computed when
        omitted and validated when supplied, exactly like append; a
        generation expression whose referenced column vanished from
        the batch fails analysis loudly. Identity columns keep their
        spec and watermark (ids never recycle across an overwrite) and
        DEFAULT columns their default. Column mapping resets
        (physical == logical for the all-new files) and drop
        tombstones are released: no active file predates this commit,
        so recycled names can't collide — old snapshots keep their own
        schemas for time travel. PARTITIONING survives the replace
        (Delta: partition columns are fixed at create): the new files
        land under the partition columns' CURRENT logical names —
        which become their post-reset physical names — and the
        partition prop follows. A commit racing this one (an append, a
        rewrite, a schema or props change) makes it raise
        :class:`CommitConflict`."""
        snap = self._readable_snapshot()
        part_logical = self.partition_columns(snap.version)
        # generated columns materialize BEFORE the partition-presence
        # check: a table partitioned by a generated column (event_date
        # GENERATED AS CAST(ts AS DATE)) accepts a batch supplying only
        # ts, exactly like create/append/replace_where
        df, _, fin_id, obs_c, val_c = self._prepare_batch(df, snap)
        missing_part = [c for c in part_logical if c not in df.columns]
        if missing_part:
            raise ValueError(
                f"overwrite batch is missing partition column(s) "
                f"{missing_part} — partitioning is fixed at create"
            )
        rules = {
            f.name: {
                k: f.metadata[k]
                for k in (_GEN_KEY, _IDENTITY_KEY, _DEFAULT_KEY)
                if k in (f.metadata or {})
            }
            for f in snap.schema.fields
        }
        schema = StructType(
            [
                StructField(f.name, f.dataType, f.nullable, rules[f.name])
                if rules.get(f.name)
                else f
                for f in df.schema.fields
            ]
        )
        props = dict(snap.props)
        changed = props.pop(_DROPPED_PROP, None) is not None
        if part_logical:
            new_prop = json.dumps(part_logical)  # post-reset physical
            changed = changed or props.get(_PART_PROP) != new_prop
            props[_PART_PROP] = new_prop
        return self._replace(
            snap, df, fin_id, obs_c, val_c, "overwrite",
            schema=schema, props=props if changed else None,
            partition_phys=part_logical,
        )

    def _replace(
        self,
        snap: Snapshot,
        df: DataFrame,
        fin_id,
        observe: dict,
        validate,
        who: str,
        region=None,
        schema: StructType | None = None,
        props: dict | None = None,
        partition_phys: list[str] | None = None,
        metrics: dict | None = None,
    ) -> int:
        """The replace core of :meth:`overwrite`, :meth:`replace_where`
        and :meth:`overwrite_partitions`: write the batch prepared
        against ``snap`` (:meth:`_prepare_batch`) once, pick the
        entries it replaces and commit an ``overwrite`` through
        :class:`Txn`. ``region(adds)`` returns ``(match, cond)``:
        ``match(entries)`` the current-layout entries in the replaced
        partitions (metadata only; also the probe for interleaved
        appends) and ``cond()`` those partitions as a row condition, or
        None when nothing can lie in them. A file written under an
        earlier partition layout can be neither kept nor dropped whole
        when it holds rows in the region, so one bounded scan of those
        files proves none does or refuses with the remedy. Without
        ``region`` every active entry is replaced and any interleaved
        add conflicts. A refusal after the write removes the batch's
        files. ``schema`` (default the snapshot's), ``props`` (None:
        unchanged) and ``partition_phys`` are the commit's and the
        write's."""
        schema = snap.schema if schema is None else schema
        adds, _ = self._write_files(
            df, schema, partition_phys, observe=observe, validate=validate
        )
        targets, probe = list(snap.entries), lambda ents: True
        try:
            if region is not None:
                match, cond = region(adds)
                prunable, legacy = self._split_by_layout(snap.entries)
                targets, probe = match(prunable), lambda ents: bool(match(ents))
                in_region = cond() if legacy else None
                if (
                    in_region is not None
                    and self._read_entries(legacy, snap.schema)
                    .filter(in_region)
                    .limit(1)
                    .count()
                ):
                    raise ValueError(
                        f"{who}: {len(legacy)} file(s) written under an "
                        "earlier partition layout contain rows in a "
                        "replaced partition — run compact() to rewrite "
                        "them into the current layout first"
                    )
        except BaseException:
            self._unland(snap, adds)
            raise
        if fin_id is not None:
            props = fin_id(dict(snap.props if props is None else props))
        m = {"rows_written": sum(int(a.get("rows", 0)) for a in adds)}
        if region is not None:
            m["partitions_replaced"] = len(
                {
                    json.dumps(a.get("partition"), sort_keys=True, default=dict)
                    for a in [*targets, *adds]
                }
            )
        return self._commit_txn(
            Txn(snap, self._log, touched=targets, probe=probe),
            "overwrite", adds, [a["path"] for a in targets], schema,
            props=props, metrics={**m, **(metrics or {})},
        )

    def partitions(self, version: int | None = None) -> list[dict]:
        """SHOW PARTITIONS parity: the distinct partition value tuples
        of the snapshot's active files, as {logical name: value} dicts
        — pure metadata, O(files) driver work, zero scan. Files from an
        earlier partition layout (partition evolution) are skipped:
        their current-layout values aren't in metadata — compact() to
        migrate them if a complete listing matters."""
        v, active, schema = self._snapshot(version)
        pp = self._partition_phys(version)
        if not pp:
            return []
        by_phys = {_phys(f): f.name for f in schema.fields}
        seen: dict[tuple, dict] = {}
        for a in active:
            part = a.get("partition")
            if part is None or not all(p in part for p in pp):
                continue
            key = tuple(part.get(p) for p in pp)
            if key not in seen:
                seen[key] = {by_phys.get(p, p): part.get(p) for p in pp}
        return [seen[k] for k in sorted(seen, key=lambda t: tuple(map(str, t)))]

    def _split_by_layout(self, entries: list[dict]) -> tuple[list, list]:
        """(prunable, legacy): entries whose partition values carry
        EVERY current partition key vs. files written under an earlier
        layout (partition evolution) — a legacy entry's location can't
        be decided from metadata, so pruning must treat it
        conservatively and whole-file ops must prove non-overlap."""
        pp = self._partition_phys()
        prunable, legacy = [], []
        for a in entries:
            part = a.get("partition")
            if part is not None and all(p in part for p in pp):
                prunable.append(a)
            else:
                legacy.append(a)
        return prunable, legacy

    def _matching_entries(
        self, entries: list[dict], predicate: str, schema: StructType
    ) -> list[dict]:
        """Entries whose PARTITION VALUES satisfy ``predicate`` — the
        static-pruning evaluator for replace_where. The predicate is
        analyzed over a tiny frame of the DISTINCT partition tuples
        (typed, logical names), so it may reference only partition
        columns (anything else fails analysis loudly) and the cost is
        O(distinct partitions), never O(files) Spark work. Entries from
        an earlier partition layout are NEVER returned (their values
        aren't in metadata) — callers that must account for them use
        ``_split_by_layout`` and decide per their semantics
        (conservative include for row-level ops, overlap proof for
        whole-file ops)."""
        pp = self._partition_phys()
        by_phys = {_phys(f): f for f in schema.fields}
        part_fields = [
            StructField(by_phys[p].name, by_phys[p].dataType, True)
            for p in pp
        ]
        convs = [_part_converter(by_phys[p].dataType) for p in pp]
        prunable, _legacy = self._split_by_layout(entries)

        def key_of(a: dict) -> tuple:
            part = a.get("partition", {})
            return tuple(
                None if part.get(p) is None else convs[i](part.get(p))
                for i, p in enumerate(pp)
            )

        uniq = list({key_of(a) for a in prunable})
        if not uniq:
            return []
        # matches come back by row number, never by re-comparing the
        # collected values with the keys
        idx = StructField("_mdl_row", LongType(), False)
        hits = {
            uniq[r[idx.name]]
            for r in _literal_rows(
                self.spark, part_fields + [idx], [(*t, i) for i, t in enumerate(uniq)]
            )
            .filter(F.expr(predicate))
            .select(idx.name)
            .collect()
        }
        return [a for a in prunable if key_of(a) in hits]

    def _partition_candidates(
        self, active: list[dict], predicate: str, schema: StructType
    ) -> list[dict]:
        """Candidate entries for a predicate-scoped operation: when
        ``predicate`` ANALYZES over the partition columns alone, the
        exact matching partitions (metadata-only — a partition-scoped
        DELETE/UPDATE on a 100 TB table then never lists, scans, or
        rewrites any other partition's files); otherwise every active
        entry (conservative — the predicate references data columns,
        so file location can't be decided from partition values).
        A predicate naming a non-partition column returns every entry
        without attempting the analysis that would fail on it.
        Files from an EARLIER partition layout (partition evolution)
        are always candidates — their values aren't in metadata, and
        excluding them would let matching rows silently survive a
        row-level DELETE/UPDATE."""
        pp = set(self._partition_phys())
        if not pp or any(
            _phys(f) not in pp and _ident_refs(predicate, f.name)
            for f in schema.fields
        ):
            return active
        try:
            matched = self._matching_entries(active, predicate, schema)
        except _NOT_EVALUABLE:
            return active
        _, legacy = self._split_by_layout(active)
        return matched + legacy

    def replace_where(self, df: DataFrame, predicate: str) -> int:
        """INSERT OVERWRITE ... replaceWhere (Delta parity): atomically
        replace exactly the PARTITIONS matching ``predicate`` (over
        partition columns only) with ``df``. Every incoming row must
        satisfy the predicate — a row outside the target region rejects
        the whole commit (Delta's replaceWhere contract), so the
        operation can never silently leak rows into partitions it
        didn't claim. File selection is pure metadata (partition values
        in the add entries — no scan of a 100 TB table); the commit is
        an ``overwrite`` op restricted to the matched files, so time
        travel and the change feed (delete+insert derivation) work
        unchanged. Concurrent appends INTO a matched partition
        conflict (metadata read-probe); appends elsewhere commute."""
        snap = self._readable_snapshot()
        if not self._partition_phys(snap.version):
            raise ValueError("replace_where requires a partitioned table")
        df, _, fin_id, obs_c, val_c = self._prepare_batch(df, snap)
        # the stray-row check rides the write job with the constraints
        # (one pass over the batch); a violation aborts before any file
        # lands. NULL predicate rows are OUTSIDE the region (SQL boolean)
        stray_pred = F.expr(f"coalesce(not ({predicate}), true)")
        obs_c["_stray"] = F.sum(stray_pred.cast("bigint"))

        def _validate(observed: dict) -> None:
            if val_c is not None:
                val_c(observed)
            if int(observed["_stray"] or 0):
                sample = [
                    r.asDict()
                    for r in df.filter(stray_pred).limit(3).collect()
                ]
                raise ValueError(
                    f"replace_where: batch rows fall outside the predicate "
                    f"region ({predicate}), e.g. {sample}"
                )

        def region(_adds):
            return (
                lambda ents: self._matching_entries(ents, predicate, snap.schema),
                lambda: F.expr(f"coalesce(({predicate}), false)"),
            )

        return self._replace(
            snap, df, fin_id, obs_c, _validate, "replace_where", region,
            metrics={"predicate": predicate},
        )

    def overwrite_partitions(self, df: DataFrame) -> int:
        """Dynamic partition overwrite (Spark
        ``partitionOverwriteMode=dynamic`` / Delta parity): replace
        exactly the partitions PRESENT IN ``df``, leave every other
        partition untouched — the idempotent daily-reprocess write (re-
        running a day's job replaces that day, never truncates the
        table). One atomic commit; file selection is metadata-only
        (partition values recorded on add entries); concurrent appends
        into an overwritten partition conflict, elsewhere commute."""
        snap = self._readable_snapshot()
        pp = self._partition_phys(snap.version)
        if not pp:
            raise ValueError(
                "overwrite_partitions requires a partitioned table"
            )
        df, _, fin_id, obs_c, val_c = self._prepare_batch(df, snap)
        key_of = lambda a: tuple(  # noqa: E731
            (a.get("partition") or {}).get(p) for p in pp
        )
        by_phys = {_phys(f): f for f in snap.schema.fields}
        convs = {p: _part_converter(by_phys[p].dataType) for p in pp}

        def region(adds):
            keys = {key_of(a) for a in adds}

            def cond():
                # the written partitions as a row condition: a typed
                # comparison against the hive-encoded keys
                out = None
                for key in keys:
                    c = None
                    for p, pv in zip(pp, key):
                        col = F.col(by_phys[p].name)
                        leg = col.isNull() if pv is None else col == F.lit(convs[p](pv))
                        c = leg if c is None else (c & leg)
                    out = c if out is None else (out | c)
                return out

            return (lambda ents: [e for e in ents if key_of(e) in keys]), cond

        return self._replace(
            snap, df, fin_id, obs_c, val_c, "overwrite_partitions", region
        )

    def apply_cdc(
        self,
        batch: DataFrame,
        key: str,
        op_col: str = "op",
        order_col: str | None = None,
        dv: bool = False,
        atomic: bool = False,
    ) -> dict:
        """Apply a Debezium-style CDC batch: rows tagged I/U/D in
        ``op_col`` (insert/update collapse to upsert — the lake is
        state, not history), optionally ordered by ``order_col`` so
        only each key's LATEST change applies (at-least-once feeds
        replay safely). Deletes tombstone by key. Two file-granular
        commits at most (merge + delete), both O(changed files);
        ``dv=True`` routes both through deletion vectors — a trickle
        of small CDC batches against large files then costs
        O(changed rows) per batch instead of O(touched bytes), with
        compaction folding the vectors on the maintenance cadence.

        ``atomic=True`` applies the WHOLE batch as ONE ``merge_into``
        commit (matched-delete on the flag, matched-update, insert) —
        a reader can never observe the upserts without the deletes
        (the default two-commit path has a visible intermediate
        version between them; Delta MERGE-based CDC is single-commit,
        and so is this mode). Same result, one version."""
        from pyspark.sql import Window as W

        b = batch
        if order_col is not None:
            w = W.partitionBy(key).orderBy(F.col(order_col).desc())
            b = (
                b.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .drop("_rn")
            )
        # a DEFAULTed column the feed omits materializes in the feed
        # itself (BEFORE the persist, so unpersist hits this frame), so
        # the atomic merge_into and two-commit merge() paths apply the
        # identical row image
        b = self._apply_defaults(b, self._snapshot()[2])
        b = b.persist()
        # VALIDATE before any commit, so a malformed batch leaves the
        # table untouched. Without order_col a key appearing twice is
        # ambiguous (which change wins?) — merge() would emit one output
        # row per source duplicate and silently duplicate the key in the
        # table, so refuse instead of guessing.
        if order_col is None:
            dup = (
                b.groupBy(key).count().filter(F.col("count") > 1).limit(1).count()
            )
            if dup:
                b.unpersist()
                raise ValueError(
                    "apply_cdc: duplicate keys in batch with no order_col — "
                    "pass order_col so only each key's latest change applies"
                )
        # upserts must carry exactly the table's columns — op/order
        # metadata stays in the feed, not the table
        _, _, schema = self._snapshot()
        # generated columns may be absent from the feed — merge() will
        # materialize them; every other table column must be present
        cols = [
            f.name
            for f in schema.fields
            if not (
                (_gen_expr(f) or _identity_spec(f)) and f.name not in b.columns
            )
        ]
        ups = b.filter(F.upper(F.col(op_col)).isin("I", "U")).select(*cols)
        dels = b.filter(F.upper(F.col(op_col)) == "D").select(key)
        if dels.filter(F.col(key).isNull()).limit(1).count():
            b.unpersist()
            raise ValueError("apply_cdc: delete row with NULL key")
        if atomic:
            # Generated columns never appear in the merge clauses —
            # merge_into rejects them in SET (they recompute via
            # _apply_generated on both the update and insert legs).
            # A batch that SUPPLIES one is validated against the
            # expression first, exactly like the non-atomic merge()
            # path: same contract, one version.
            gen_supplied = [
                f for f in schema.fields if _gen_expr(f) and f.name in b.columns
            ]
            if gen_supplied:
                try:
                    self._apply_generated(ups, StructType(gen_supplied))
                except Exception:
                    b.unpersist()
                    raise
            gen_names = {
                f.name
                for f in schema.fields
                if _gen_expr(f) or _identity_spec(f)
            }
            mcols = [c for c in cols if c not in gen_names]
            src = b.select(
                *cols, F.upper(F.col(op_col)).alias("_cdc_op")
            )
            r = self.merge_into(src, [key], clauses=[
                {"when": "matched", "action": "delete",
                 "condition": "src._cdc_op = 'D'"},
                {"when": "matched", "action": "update",
                 "set": {c: f"src.{c}" for c in mcols if c != key},
                 "condition": "src._cdc_op <> 'D'"},
                {"when": "not_matched", "action": "insert",
                 "values": {c: f"src.{c}" for c in mcols},
                 "condition": "src._cdc_op <> 'D'"},
            ], dv=dv)
            b.unpersist()
            return {
                "upserted": r["updated"] + r["inserted"],
                "deleted": r["deleted"],
                "version": r["version"],
            }
        out: dict = {"upserted": 0, "deleted": 0}
        if ups.limit(1).count():
            m = self.merge(ups, key, dv=dv)
            out["upserted"] = m["inserted"] + m["updated"]
        # Tombstones apply via an anti-join on the keys frame (never SQL
        # string splicing — a key containing quotes/backslashes must not
        # be able to reshape the predicate), file-granular like delete().
        if dels.limit(1).count():
            d = self.delete_keys(dels, key, dv=dv)
            out["deleted"] = d["deleted"]
        b.unpersist()
        out["version"] = self.latest_version()
        return out

    def delete_keys(self, keys: DataFrame, key: str, dv: bool = False) -> dict:
        """DELETE rows whose ``key`` appears in ``keys`` — the injection
        -proof alternative to ``delete(f"k IN (...)")``: membership is a
        distributed semi/anti join on a keys DataFrame, so key VALUES
        are data, never SQL text, and the keys side scales past any IN
        -list (a 10M-key GDPR purge is one broadcast/shuffle join, not a
        10M-literal predicate). File-granular like delete(): only files
        containing a matched key are rewritten. NULL keys never match
        (SQL IN semantics).

        ``dv=True``: deletion-vector mode (Delta parity) — instead of
        rewriting every touched file, write a (base, pos) sidecar and
        re-commit the touched entries pointing at it. A small delete on
        large files costs O(deleted rows), not O(touched bytes); reads
        apply the vector as an anti-join; compaction folds it in.
        Results are bit-identical to rewrite mode (oracled by
        ``dv_delete_parity_audit``)."""
        snap = self._snapshot()
        ks = keys.select(key).distinct().persist()
        return self._delete(
            snap,
            snap[1],
            lambda d: d.join(ks, key, "left_semi"),
            lambda d: d.join(ks, key, "left_anti"),
            dv,
            ks,
        )

    def restore(self, version: int | None = None, timestamp=None) -> int:
        """RESTORE to an earlier version (Delta parity): metadata-only
        rollback — one new commit whose active set is exactly the
        target version's. No data is rewritten, the mistaken commits
        stay readable via time travel, and the change feed records the
        rollback as delete-current + insert-restored (so incremental
        consumers roll back too instead of silently diverging).

        Restoring past the vacuum horizon is refused up front (Delta
        RESTORE's missing-file check): every target add entry must still
        exist on disk, else the new head would read broken.

        CHECK constraints added AFTER the target version are NOT
        re-validated against the restored rows (Delta RESTORE parity:
        restore is metadata-only by design) — drop or re-add the
        constraint if the rollback may predate it.

        ``timestamp`` (``RESTORE TO TIMESTAMP AS OF`` parity): resolve
        the target as the latest commit at or before the wall-clock
        time — :meth:`version_at` rules (naive = UTC, ties to the
        higher version, loud before the first commit)."""
        version = self._resolve_version(version, timestamp)
        if version is None:
            raise ValueError("restore needs a version or a timestamp")
        cur_v, cur_active, _ = self._snapshot()
        _, active, schema = self._snapshot(version)
        missing = [
            p
            for a in active
            for p in [a["path"]] + ([a["dv"]["path"]] if a.get("dv") else [])
            if not os.path.exists(self._abs(p))
        ]
        if missing:
            raise ValueError(
                f"restore to version {version}: {len(missing)} data file(s) "
                f"no longer exist (vacuumed past the horizon?): "
                f"{missing[:3]}{'...' if len(missing) > 3 else ''}"
            )
        return self._commit(
            cur_v + 1, "overwrite", active, [a["path"] for a in cur_active], schema,
            metrics={"restored_to_version": version},
        )

    def merge(self, source: DataFrame, key: str, dv: bool = False) -> dict:
        """MERGE (upsert) by ``key``: rewrite ONLY files containing a
        matched key; unmatched source rows become inserts in new files.
        Returns {inserted, updated, rewritten_files}. Reference
        semantics: base_loaders.py:149-181. The source wins: every
        target row whose key appears in the source is replaced by the
        source rows for that key, so duplicate target keys collapse to
        the source's rows. NULL-key source rows are inserts (they
        cannot equality-match).

        ``dv=True``: deletion-vector merge (Delta low-shuffle-merge
        parity) — the matched OLD rows are vectored out of their files
        and ALL source rows land in fresh files, one atomic commit. A
        1-row update to a 1 GB file then writes 1 row + a ~KB sidecar
        instead of rewriting the gigabyte; the unmatched rows of
        touched files are never read or rewritten."""
        v, active, schema = self._snapshot()
        source = self._apply_generated(source, schema)
        source = self._apply_defaults(source, schema)
        cur = self._read_entries(active, schema, keep_meta=True)
        # identity columns: the source must omit them (ALWAYS
        # semantics); matched rows INHERIT the target's value by key
        # (min over duplicate-key targets — upsert collapses them to
        # one row anyway) and unmatched rows get fresh engine-assigned
        # values above the watermark
        id_fields = [f for f in schema.fields if _identity_spec(f)]
        id_props = None
        if id_fields:
            names = [f.name for f in id_fields]
            bad = [n for n in names if n in source.columns]
            if bad:
                raise ValueError(
                    f"column(s) {bad} are GENERATED ALWAYS AS IDENTITY — "
                    "the engine assigns values; remove them from the source"
                )
            tgt_ids = cur.groupBy(key).agg(
                *[F.min(n).alias(n) for n in names]
            )
            source = source.join(tgt_ids, key, "left")
            id_props_base = self.props(v)
            source, fin_id = self._assign_identity(
                source, schema, id_props_base, fill_only=True
            )
            # the watermark rides the merge commit (read after the
            # writes, which have materialized src)
            id_props = lambda: fin_id(dict(id_props_base))  # noqa: E731
        src = source.persist()
        # semi joins ignore duplicate keys: no distinct (and no shuffle
        # stage) needed on the source side
        src_keys = src.select(key)
        matched_old = cur.join(src_keys, key, "left_semi").persist()
        data_cols = [f.name for f in schema.fields]
        # every source row marked updated (_mk = 1) or inserted (NULL) by
        # one left join against the distinct matched keys (NULL keys
        # never match — they stay inserts); the counts, the CHECK
        # validation and the change feed all read it
        mk = matched_old.select(key).distinct().withColumn("_mk", F.lit(1))
        marked = src.join(mk, key, "left").select(*data_cols, "_mk")
        # merge output rows are exactly the source rows (source wins on
        # match) plus untouched old rows — validating the source batch
        # covers every row the commit can introduce
        obs_c, val_c = self._fused_constraints(
            src.select(*data_cols), self.constraints(v)
        )
        obs_c.update(_n=F.count(F.lit(1)), _u=F.count("_mk"))
        # CDF: preimage (the OLD row values) — Delta-CDF parity, and what
        # lets downstream incremental aggregates SUBTRACT the replaced
        # contribution (operators/materialized)
        feed = marked.select(
            *data_cols,
            F.when(F.col("_mk").isNotNull(), F.lit("update_postimage"))
            .otherwise(F.lit("insert"))
            .alias("_change_type"),
        ).unionByName(
            matched_old.select(
                *data_cols, F.lit("update_preimage").alias("_change_type")
            )
        )
        # the rebase probe matches ALL source keys, not just matched
        # ones: an interleaved append of any of them makes this merge's
        # matched/unmatched split stale
        m = self._rewrite(
            "merge", (v, active, schema), dv, matched_old,
            match=lambda d: d.join(src_keys, key, "left_semi"),
            keep=lambda d: d.join(src_keys, key, "left_anti"),
            feed=feed,
            metrics=lambda c: {
                "rows_inserted": c["_n"] - c["_u"], "rows_updated": c["_u"]
            },
            rows=marked,
            checks=(obs_c, val_c),
            props=id_props,
            persisted=(src, matched_old),
        )
        return {
            "inserted": m["rows_inserted"],
            "updated": m["rows_updated"],
            "rewritten_files": m["files_rewritten"],
            "version": m["version"],
        }

    def merge_into(
        self,
        source: DataFrame,
        on: str | list[str],
        clauses: list[dict],
        dv: bool = False,
        evolve_schema: bool = False,
    ) -> dict:
        """General MERGE (Delta ``MERGE INTO`` clause parity — the
        superset of :meth:`merge`'s upsert-all):

        ``on``: a list of equality key columns, or an arbitrary SQL
        condition string over the ``src`` / ``tgt`` aliases
        (``"src.id = tgt.id AND src.region = tgt.region"``). NULL keys
        never equality-match (SQL semantics).

        ``clauses``: ordered list (FIRST applicable clause wins per
        row — Delta semantics), each a dict:

        - ``{"when": "matched", "action": "update", "set": {col:
          expr} | "all", "condition": sql | None}`` — exprs/conditions
          see both ``src.*`` and ``tgt.*``; ``"all"`` takes every
          table column from ``src`` by name.
        - ``{"when": "matched", "action": "delete", "condition": ...}``
        - ``{"when": "not_matched", "action": "insert", "values":
          {col: expr} | "all", "condition": ...}`` — exprs see
          ``src.*``; ``"all"`` inserts the table columns by name;
          unlisted columns land NULL (generated columns recompute).
        - ``{"when": "not_matched_by_source", "action": "delete" |
          "update", "set": ..., "condition": ...}`` — conditions/
          exprs see ``tgt.*`` only.

        Scale shape: matched/not-matched resolution is ONE join on the
        ON condition; only files containing an ACTED target row are
        rewritten (``dv=True``: vectored out, O(acted rows)); inserts
        land in fresh files. A ``not_matched_by_source`` clause widens
        the target read to the full table by nature (every row must
        prove it has a source match) — same as Delta. Multiple source
        rows acting on one target row raise (Delta's
        multiple-source-rows-matched error) instead of committing a
        non-deterministic result. CDC feeds with delete flags in the
        payload (reference ``base_loaders.py:149-181`` upserts +
        tombstones) map to matched-delete/matched-update/not-matched-
        insert with conditions on the flag column.

        ``evolve_schema=True`` (Delta ``MERGE … WITH SCHEMA
        EVOLUTION``): new SOURCE columns widen the target in the same
        commit — additive only, reusing append(merge_schema=True)'s
        rules, composed with column mapping (fresh physical names) and
        CDF images (preimages read NULL for columns newer than their
        files)."""
        for c in clauses:
            when = c.get("when")
            act = c.get("action")
            if when not in ("matched", "not_matched", "not_matched_by_source"):
                raise ValueError(f"bad clause 'when': {when!r}")
            if (
                (when == "matched" and act not in ("update", "delete"))
                or (when == "not_matched" and act != "insert")
                or (
                    when == "not_matched_by_source"
                    and act not in ("update", "delete")
                )
            ):
                raise ValueError(f"bad action {act!r} for when={when!r}")
            if (
                when == "not_matched_by_source"
                and act == "update"
                and not isinstance(c.get("set"), dict)
            ):
                # Delta parity: whenNotMatchedBySourceUpdate has no
                # "update all" form — there IS no source row; the
                # implicit src.* reads would silently write NULLs
                raise ValueError(
                    "not_matched_by_source update requires an explicit "
                    "'set' dict (no source row exists for 'all')"
                )
        if not clauses:
            raise ValueError("merge_into requires at least one clause")

        v, active, schema = self._snapshot()
        if evolve_schema:
            # MERGE ... WITH SCHEMA EVOLUTION (Delta parity): new SOURCE
            # columns widen the target schema in the SAME commit, by
            # append(merge_schema=True)'s rule. Target files predating
            # the commit read the new columns as NULL; CDF preimages
            # carry NULL there too — exactly the widened-read semantics.
            schema = StructType(
                [
                    *schema.fields,
                    *_new_columns(
                        schema, self.props(v), source.schema.fields, "merge_into"
                    ),
                ]
            )
        data_cols = [f.name for f in schema.fields]
        by_name = {f.name: f for f in schema.fields}
        gen_cols = {f.name for f in schema.fields if _gen_expr(f)}
        # identity columns: never assignable by UPDATE (both kinds —
        # an existing row's id never changes); INSERT values are
        # rejected for ALWAYS but accepted for GENERATED BY DEFAULT
        # (the fill-only assignment keeps them and advances the
        # watermark past them)
        ident_cols = {f.name for f in schema.fields if _identity_spec(f)}
        ident_always = {
            f.name
            for f in schema.fields
            if (_identity_spec(f) or {}).get("always", True)
            and _identity_spec(f)
        }
        for c in clauses:
            for col in (c.get("set") or {}) if isinstance(c.get("set"), dict) else {}:
                if col not in by_name:
                    raise ValueError(
                        f"UPDATE SET: no such column {col!r}"
                        + (
                            " (pass evolve_schema=True to widen the "
                            "target with new source columns)"
                            if col in source.columns
                            else ""
                        )
                    )
                if col in gen_cols:
                    raise ValueError(
                        f"column {col!r} is GENERATED ALWAYS AS — it "
                        "recomputes automatically"
                    )
                if col in ident_cols:
                    raise ValueError(
                        f"column {col!r} is GENERATED ALWAYS AS IDENTITY "
                        "— the engine assigns values"
                    )
            vals = c.get("values")
            if isinstance(vals, dict):
                bad_id = sorted(set(vals) & ident_always)
                if bad_id:
                    raise ValueError(
                        f"INSERT values: column(s) {bad_id} are GENERATED "
                        "ALWAYS AS IDENTITY — the engine assigns values"
                    )

        if isinstance(on, (list, tuple)):
            cond = None
            for k in on:
                c_ = F.col(f"tgt.{k}") == F.col(f"src.{k}")
                cond = c_ if cond is None else cond & c_
            if cond is None:
                raise ValueError("empty ON key list")
        else:
            cond = F.expr(on)

        nbs_clauses = [c for c in clauses if c["when"] == "not_matched_by_source"]
        m_clauses = [c for c in clauses if c["when"] == "matched"]
        i_clauses = [c for c in clauses if c["when"] == "not_matched"]

        src = source.persist()
        # Partition-pruned merge (the Delta optimization that makes a
        # per-partition CDC feed O(source partitions), not O(table)):
        # when the ON keys cover every partition column and no
        # not-matched-by-source clause widens the read to the full
        # table, only files whose partition tuple appears in the
        # SOURCE can contain a matched row — everything else is
        # untouched metadata. Semantically safe: partition-column
        # equality in ON means a target row outside the source's
        # partitions can never match.
        read_set = active
        pruned_files = 0
        pp = self._partition_phys(v)
        if (
            pp
            and not nbs_clauses
            and isinstance(on, (list, tuple))
            and set(self.partition_columns(v)) <= set(on)
        ):
            by_phys = {_phys(f): f for f in schema.fields}
            plog = [by_phys[p].name for p in pp]
            convs = [_part_converter(by_phys[p].dataType) for p in pp]
            src_parts = {
                tuple(r) for r in src.select(*plog).distinct().collect()
            }

            def _key(a: dict) -> tuple:
                part = a.get("partition", {})
                return tuple(
                    None if part.get(p) is None else convs[i](part.get(p))
                    for i, p in enumerate(pp)
                )

            read_set = [a for a in active if _key(a) in src_parts]
            pruned_files = len(active) - len(read_set)
        tgt = self._read_entries(read_set, schema, keep_meta=True)
        joined = (
            tgt.alias("tgt")
            .join(src.withColumn("_src_flag", F.lit(True)).alias("src"), cond, "full_outer")
            .persist()
        )
        is_matched = F.col("tgt._dv_base").isNotNull() & F.col("src._src_flag").isNotNull()
        is_src_only = F.col("tgt._dv_base").isNull()
        is_tgt_only = F.col("src._src_flag").isNull()

        def first_action(cl_list: list[dict], base: int) -> F.Column:
            """Per-row first-applicable clause index (base+i), else -1."""
            out = F.lit(-1)
            for i in reversed(range(len(cl_list))):
                c_ = cl_list[i].get("condition")
                hit = F.expr(c_) if c_ else F.lit(True)
                out = F.when(hit, F.lit(base + i)).otherwise(out)
            return out

        act_col = (
            F.when(is_matched, first_action(m_clauses, 0))
            .when(is_tgt_only, first_action(nbs_clauses, 100))
            .when(is_src_only, first_action(i_clauses, 200))
            .otherwise(F.lit(-1))
        )
        j = joined.withColumn("_act", act_col)

        # ---- target-side acted rows (matched + not-matched-by-source)
        tgt_acting = j.filter(
            (is_matched | is_tgt_only) & (F.col("_act") >= 0)
        ).persist()
        # Delta parity: >1 source rows acting on one target row is
        # non-deterministic — refuse (a pure double-delete included;
        # Delta raises there too).
        dup = (
            tgt_acting.groupBy("tgt._dv_base", "tgt._dv_pos")
            .count()
            .filter(F.col("count") > 1)
            .limit(1)
            .count()
        )
        if dup:
            for f_ in (src, joined, tgt_acting):
                f_.unpersist()
            raise ValueError(
                "merge_into: multiple source rows match (and act on) the "
                "same target row — the result would be non-deterministic "
                "(Delta MULTIPLE_SOURCE_ROW_MATCHING_TARGET_ROW parity)"
            )

        all_clauses = {**{i: c for i, c in enumerate(m_clauses)},
                       **{100 + i: c for i, c in enumerate(nbs_clauses)},
                       **{200 + i: c for i, c in enumerate(i_clauses)}}
        upd_codes = [
            k for k, c in all_clauses.items() if c["action"] == "update"
        ]
        del_codes = [
            k for k, c in all_clauses.items() if c["action"] == "delete"
        ]

        def _updated_rows() -> DataFrame | None:
            """New values for update-action rows: per clause, the SET
            exprs (simultaneous, pre-update bindings); generated
            columns recompute after."""
            if not upd_codes:
                return None
            outcols = []
            for col in data_cols:
                e = F.col(f"tgt.{col}")
                if col in ident_cols:
                    outcols.append(e.alias(col))
                    continue  # update always keeps the target's id
                for k in upd_codes:
                    c_ = all_clauses[k]
                    st = c_.get("set") or "all"
                    if st == "all":
                        if col in gen_cols:
                            continue  # recomputed below, as on insert
                        expr = F.col(f"src.{col}")
                    elif col in st:
                        expr = F.expr(st[col])
                    else:
                        continue  # this clause keeps col
                    e = F.when(F.col("_act") == k, expr.cast(by_name[col].dataType)).otherwise(e)
                outcols.append(e.alias(col))
            out = tgt_acting.filter(F.col("_act").isin(upd_codes)).select(*outcols)
            for f in schema.fields:
                ge = _gen_expr(f)
                if ge:
                    out = out.withColumn(f.name, F.expr(ge).cast(f.dataType))
            return out

        def _insert_rows() -> DataFrame | None:
            if not i_clauses:
                return None
            ins = j.filter(is_src_only & (F.col("_act") >= 200))
            outcols = []
            for col in data_cols:
                if col in gen_cols or col in ident_always:
                    # recomputed / engine-assigned below; BY DEFAULT
                    # identity columns stay in the projection (a clause
                    # may supply explicit values; nulls get assigned)
                    continue
                # unlisted columns land the DEFAULT when one is
                # declared, else NULL (Delta INSERT parity)
                de = _default_expr(by_name[col])
                fill = F.expr(de) if de else F.lit(None)
                e = fill.cast(by_name[col].dataType)
                for k in sorted(
                    k for k in all_clauses if k >= 200
                ):
                    c_ = all_clauses[k]
                    vals = c_.get("values") or "all"
                    if vals == "all":
                        expr = F.col(f"src.{col}") if col in source.columns else fill
                    elif col in vals:
                        expr = F.expr(vals[col])
                    else:
                        expr = fill
                    e = F.when(F.col("_act") == k, expr.cast(by_name[col].dataType)).otherwise(e)
                outcols.append(e.alias(col))
            out = ins.select(*outcols)
            return self._apply_generated(out, schema)

        upd_df = _updated_rows()
        ins_df = _insert_rows()
        id_props = None
        if ins_df is not None and ident_cols:
            id_props_base = self.props(v)
            ins_df, fin_id = self._assign_identity(ins_df, schema, id_props_base)
            # watermark observed during the write of the inserts
            id_props = lambda: fin_id(dict(id_props_base))  # noqa: E731

        # the updated and inserted rows are written by ONE job: CHECK
        # constraints and both counts ride it, and a violation aborts it
        # before any file lands in data/
        rows = None
        for is_ins, leg in ((False, upd_df), (True, ins_df)):
            if leg is not None:
                leg = leg.withColumn("_ins", F.lit(is_ins))
                rows = leg if rows is None else rows.unionByName(leg)
        checks = ({}, None)
        if rows is not None:
            obs_c, val_c = self._fused_constraints(
                rows.select(*data_cols), self.constraints(v)
            )
            obs_c.update(
                _u=F.count(F.when(~F.col("_ins"), 1)),
                _i=F.count(F.when(F.col("_ins"), 1)),
            )
            checks = (obs_c, val_c)

        # CDF: pre/post images for updates, delete + insert rows
        cdf_parts = []
        if upd_codes:
            pre = tgt_acting.filter(F.col("_act").isin(upd_codes)).select(
                *[F.col(f"tgt.{c}").alias(c) for c in data_cols]
            ).withColumn("_change_type", F.lit("update_preimage"))
            post = upd_df.withColumn("_change_type", F.lit("update_postimage"))
            cdf_parts += [pre, post]
        if del_codes:
            cdf_parts.append(
                tgt_acting.filter(F.col("_act").isin(del_codes)).select(
                    *[F.col(f"tgt.{c}").alias(c) for c in data_cols]
                ).withColumn("_change_type", F.lit("delete"))
            )
        if ins_df is not None:
            cdf_parts.append(
                ins_df.withColumn("_change_type", F.lit("insert"))
            )
        feed = None
        for p_ in cdf_parts:
            feed = p_ if feed is None else feed.unionByName(p_)

        acted = tgt_acting.select(
            F.col("tgt._dv_base").alias("_dv_base"),
            F.col("tgt._dv_pos").alias("_dv_pos"),
        )
        # Rebase probe: a concurrent append row is in this merge's read
        # set if it can match the ON condition against our source — or
        # unconditionally when a not-matched-by-source clause exists
        # (every target row's fate depends on the full source).
        if nbs_clauses:
            match = lambda d: d  # noqa: E731
        else:
            match = lambda d: d.alias("tgt").join(  # noqa: E731
                src.alias("src"), cond, "left_semi"
            )
        m = self._rewrite(
            "merge", (v, active, schema), dv, acted, match,
            keep=lambda d: d.join(acted, ["_dv_base", "_dv_pos"], "left_anti"),
            feed=feed,
            metrics=lambda c: {
                "rows_inserted": c.get("_i", 0),
                "rows_updated": c.get("_u", 0),
                "rows_deleted": c["acted"] - c.get("_u", 0),
                "files_partition_pruned": pruned_files,
            },
            rows=rows,
            checks=checks,
            props=id_props,
            persisted=(src, joined, tgt_acting),
        )
        return {
            "inserted": m["rows_inserted"],
            "updated": m["rows_updated"],
            "deleted": m["rows_deleted"],
            "rewritten_files": m["files_rewritten"],
            "version": m["version"],
        }

    def update(
        self, predicate: str, assignments: dict[str, str], dv: bool = False
    ) -> dict:
        """UPDATE ... SET col = expr WHERE predicate (Delta UPDATE
        parity): rewrite ONLY files containing a pred=TRUE row (their
        other rows are copied through byte-equal; untouched files are
        never read). NULL-predicate rows are NOT updated (SQL
        semantics). Assignment expressions see the PRE-update row (all
        assignments evaluate simultaneously, standard SQL UPDATE).
        Generated columns cannot be assigned directly and are
        RECOMPUTED after assignments (their references may have
        changed); CHECK constraints validate the post-update rows —
        a violating update rejects whole. ``dv=True``: matched old
        rows are vectored out and the updated rows land in fresh files
        in one atomic commit — O(updated rows), not O(touched bytes).
        CDF records update_preimage/update_postimage pairs."""
        v, active, schema = self._snapshot()
        by_name = {f.name: f for f in schema.fields}
        for c in assignments:
            f = by_name.get(c)
            if f is None:
                raise ValueError(f"UPDATE: no such column {c!r}")
            if _gen_expr(f):
                raise ValueError(
                    f"UPDATE: column {c!r} is GENERATED ALWAYS AS "
                    f"({_gen_expr(f)}) — it recomputes automatically"
                )
            if _identity_spec(f):
                raise ValueError(
                    f"UPDATE: column {c!r} is GENERATED ALWAYS AS IDENTITY "
                    "— the engine assigns values"
                )
        cond = F.expr(f"coalesce(({predicate}), false)")
        # partition-only predicates locate their files from METADATA —
        # a partition-scoped UPDATE never scans the other partitions
        cand = self._partition_candidates(active, predicate, schema)
        cur = self._read_entries(cand, schema, keep_meta=True)
        matched = cur.filter(cond).persist()
        data_cols = [f.name for f in schema.fields]
        # simultaneous assignment: all exprs bind to the pre-update row
        # because they evaluate in ONE select over it
        post = matched.select(
            *[
                F.expr(assignments[c]).cast(by_name[c].dataType).alias(c)
                if c in assignments
                else F.col(c)
                for c in data_cols
            ]
        )
        # recompute generated columns against the new values
        for f in schema.fields:
            e = _gen_expr(f)
            if e:
                post = post.withColumn(f.name, F.expr(e).cast(f.dataType))
        # the CHECK validation rides the write of the updated rows and
        # sees only them — never copied-through rows, which restore may
        # legally have re-admitted in violation of a later constraint
        m = self._rewrite(
            "update", (v, active, schema), dv, matched,
            match=lambda d: d.filter(cond),
            keep=lambda d: d.filter(~cond),
            feed=matched.select(*data_cols)
            .withColumn("_change_type", F.lit("update_preimage"))
            .unionByName(
                post.withColumn("_change_type", F.lit("update_postimage"))
            ),
            metrics=lambda c: {"rows_updated": c["acted"]},
            rows=post,
            checks=self._fused_constraints(post, self.constraints(v)),
            persisted=(matched,),
        )
        return {
            "updated": m["rows_updated"],
            "rewritten_files": m["files_rewritten"],
            "version": m["version"],
        }

    def delete(self, predicate: str, dv: bool = False) -> dict:
        """DELETE WHERE predicate: rewrite only files containing a
        pred=TRUE row. NULL-predicate rows are KEPT (SQL semantics).
        ``dv=True``: deletion-vector mode — see ``delete_keys``."""
        snap = self._snapshot()
        _, active, schema = snap
        cond = F.expr(f"coalesce(({predicate}), false)")
        # partition-only predicates prune the read set from metadata
        return self._delete(
            snap,
            self._partition_candidates(active, predicate, schema),
            lambda d: d.filter(cond),
            lambda d: d.filter(~cond),
            dv,
        )

    def _delete(self, snap, cand, match, keep, dv: bool, *persisted) -> dict:
        """DELETE the rows of the candidate entries ``cand`` that
        ``match`` selects (``keep`` selects the rest)."""
        schema = snap[2]
        matched = match(self._read_entries(cand, schema, keep_meta=True)).persist()
        m = self._rewrite(
            "delete", snap, dv, matched, match, keep,
            feed=matched.select(*schema.fieldNames()).withColumn(
                "_change_type", F.lit("delete")
            ),
            metrics=lambda c: {"rows_deleted": c["acted"]},
            persisted=(matched, *persisted),
        )
        return {
            "deleted": m["rows_deleted"],
            "rewritten_files": m["files_rewritten"],
            "version": m["version"],
        }

    def _rewrite(
        self,
        op: str,
        snap: tuple,
        dv: bool,
        acted: DataFrame,
        match,
        keep,
        feed: DataFrame | None,
        metrics,
        rows: DataFrame | None = None,
        checks: tuple = ({}, None),
        props=None,
        persisted: tuple = (),
    ) -> dict:
        """The one commit tail of row-level DML. As in Delta, DELETE,
        UPDATE and MERGE are one mechanism: find the files holding the
        acted rows, write the replacements, swap them in with one
        commit. Each op builds its own front half and ends here.

        ``acted``: the target rows the op takes out of their files,
        read through ``_read_entries(keep_meta=True)`` of the snapshot
        ``snap`` (vectors already applied). One grouped aggregate over
        it finds the touched files and each one's acted-row count.
        ``match``: the op's own match function (the filter or join that
        found ``acted``). Re-applied to the files a concurrent commit
        added, it is the rebase probe: a rebase past an append of
        matching rows would leave them undeleted, unupdated or
        duplicated, so it raises CommitConflict instead.
        ``rows``: the replacement rows (updated and inserted) both modes
        write; ``checks`` = ``(observe, validate)`` rides that write
        (:meth:`_fused_constraints`) and sees only these rows.
        ``dv=True`` vectors the acted rows out (:meth:`_dv_entries`).
        Copy-on-write writes the touched files' kept rows — ``keep``
        over a ``keep_meta`` read of them: the negated filter or the
        anti-join on the same keys or positions — next to ``rows``.
        ``metrics(counts)`` and ``props()`` run just before the commit,
        once the writes have filled their observations; ``counts``
        holds ``acted`` and the observed ``checks`` values.
        ``feed``: the change-feed rows, written once the commit has won
        its version. A delete or update that acted on no row commits
        nothing; a merge still commits its inserts. ``persisted``
        frames are unpersisted on every exit.

        Returns the committed metrics plus ``version``."""
        v, active, schema = snap
        try:
            per_file = self._touched_counts(acted, active)
            counts = {"acted": sum(per_file.values())}
            if not per_file and op != "merge":
                return {**metrics(counts), "files_rewritten": 0, "version": v}
            by_path = {a["path"]: a for a in active}
            t_entries = [by_path[p] for p in sorted(per_file)]
            kept = None
            if t_entries and not dv:
                kept = keep(
                    self._read_entries(t_entries, schema, keep_meta=True)
                ).select(*schema.fieldNames())
            if rows is None:  # a delete writes only the kept rows
                rows, kept = kept, None
            adds = []
            if rows is not None:
                obs, val = checks
                adds, got = self._write_files(
                    rows, schema, observe=obs, validate=val, copied=kept
                )
                counts.update({n: int(x or 0) for n, x in got.items()})
            m = {
                **metrics(counts),
                "files_rewritten": 0 if dv else len(t_entries),
            }
            p = props() if props is not None else None
            probe = (
                lambda ents: match(self._read_entries(ents, schema))
                .limit(1)
                .count()
                > 0
            )
            if dv and t_entries:
                adds = self._dv_entries(t_entries, per_file, acted) + adds
            txn = Txn(self._log.snapshot(v), self._log, touched=t_entries, probe=probe)
            new_v = self._commit_txn(
                txn, op, adds, sorted(per_file), schema, metrics=m, props=p
            )
            if feed is not None:
                self._write_cdf(new_v, feed, schema)
            return {**m, "version": new_v}
        finally:
            for f in persisted:
                f.unpersist()

    def _touched_counts(
        self, acted: DataFrame, active: tuple
    ) -> dict[str, int]:
        """{STORED path: acted-row count} for the active files holding
        ≥1 ``acted`` row — ONE per-file grouped aggregate.

        ``acted`` carries the ``_dv_base`` column of a read through
        ``_read_entries(keep_meta=True)``: file identity captured at
        scan time, which survives joins (``input_file_name()`` is
        thread-local to the scan and evaluates to '' after any
        exchange, so it cannot be added after a join/shuffle).

        ``active``: the CALLER'S snapshot entries. Resolving against
        the caller's snapshot (not the latest) matters for the rebase
        path: if a concurrent commit rewrites a touched file between
        our snapshot and here, latest-resolution would silently DROP
        that file from the read set and the Txn's read-set check
        would pass — a lost delete/update. Against our own snapshot
        the file stays in the read set and the validation raises
        CommitConflict, as it must.

        Identity goes through the file's basename (uuid4 — globally
        unique) mapped back to the snapshot's stored path, NOT by
        substring-parsing the URI: a shallow clone's snapshot stores
        some files as ABSOLUTE paths into the source table, and those
        must resolve to their stored absolute string so commit remove
        lists match the active set."""
        by_base = {os.path.basename(a["path"]): a["path"] for a in active}
        rows = acted.groupBy("_dv_base").agg(F.count(F.lit(1)).alias("_n"))
        return {
            by_base[base]: int(r["_n"])
            for r in rows.collect()
            if (base := os.path.basename(r["_dv_base"])) in by_base
        }

    def _dv_entries(
        self,
        t_entries: list[dict],
        per_file: dict[str, int],
        acted: DataFrame,
    ) -> list[dict]:
        """Deletion vectors for a commit: ONE new sidecar holds the
        touched entries' existing vectors plus the newly acted (base,
        pos) rows, and each touched entry is re-added pointing at it
        (remove + add of the same path — the data file itself never
        moves), so a chain of small deletes never accumulates a
        per-file sidecar list. ``acted`` was read with the existing
        vectors applied, so its positions never repeat one of them:
        each entry's ``ndel`` is its prior ``ndel`` plus its
        ``per_file`` count. Returns the re-added entries; the caller
        commits them with its fresh data files (update and merge
        output), so readers never observe vectored-out rows without
        their replacements."""
        new_pos = acted.select("_dv_base", "_dv_pos")
        prior = self._active_dv_positions(t_entries)
        if prior is not None:
            new_pos = new_pos.unionByName(prior)
        os.makedirs(self._dv_dir, exist_ok=True)
        dv_name = f"{uuid.uuid4().hex}.parquet"
        tmp = os.path.join(self.path, f"_tmp_{uuid.uuid4().hex}")
        new_pos.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = [f for f in os.listdir(tmp) if f.endswith(".parquet")]
        os.rename(
            os.path.join(tmp, part[0]), os.path.join(self._dv_dir, dv_name)
        )
        shutil.rmtree(tmp)
        adds = []
        for a in t_entries:
            ndel = int(a.get("dv", {}).get("ndel", 0)) + per_file[a["path"]]
            # a file whose every row is now vectored carries no readable
            # data — drop the entry outright instead of re-adding a
            # 100%-dead file (Delta does the same)
            if ndel < int(a.get("rows", 0)):
                adds.append({**a, "dv": {"path": f"{_DV}/{dv_name}", "ndel": ndel}})
        return adds

    # ---------------------------------------------------------- CDF
    def _cdf_lineage(
        self,
        era: StructType,
        v: int,
        current: StructType,
        overwrites: tuple[int, ...],
    ) -> dict[str, str]:
        """{current logical name: era PHYSICAL column} for every
        current column whose LINEAGE reaches back to the era at
        version ``v``. Within one overwrite epoch, lineage is the
        stable physical name (renames never change it); each OVERWRITE
        commit between ``v`` and now is bridged by the logical name
        the column held immediately before the boundary (the
        overwrite's frame binds columns by name). A column with no
        surviving lineage simply doesn't appear — its feed values
        render NULL, never someone else's bytes. ``overwrites``: the
        overwrite versions up to ``current``'s version
        (``Snapshot.overwrites``)."""
        # {physical name in the era being walked: current logical name},
        # walked back from now over each overwrite boundary past v
        to_cur = {_phys(f): f.name for f in current.fields}
        for ov in reversed([w for w in overwrites if w > v]):
            post = {f.name: _phys(f) for f in self._log.snapshot(ov).schema.fields}
            to_cur = {
                _phys(f): to_cur[post[f.name]]
                for f in self._log.snapshot(ov - 1).schema.fields
                if post.get(f.name) in to_cur
            }
        return {to_cur[_phys(f)]: _phys(f) for f in era.fields if _phys(f) in to_cur}

    def _change_plan(
        self,
        lo: int,
        hi: int,
        current: StructType,
        overwrites: tuple[int, ...],
    ) -> list[tuple[int, str, list[_ChangeSource], bool]]:
        """The change feed's one walk from commits to change rows:
        ``(version, op, sources, changed)`` for every version in ``(lo, hi]``,
        oldest first, read by both :meth:`changes` and the ``lakecdf``
        stream source. A missing commit raises.

        create/append commits derive inserts from their immutable add
        files (zero write-time overhead). An overwrite derives deletes
        from the entries it removed, resolved against snapshot v-1 with
        that snapshot's deletion vectors (a vectored row is not
        resurrected as a phantom delete) and schema, plus inserts from
        its adds. merge/delete/update read the change files captured at
        write time under ``_cdf/<v>`` (O(changed rows), like Delta CDF);
        they store the PHYSICAL names of that commit's schema. compact
        and metadata-only commits change no row: no sources.

        ``changed``: the commit changed rows. It is read from the
        commit's add/remove lists, not from its sources, so a merge,
        delete or update whose change files are gone (vacuumed, or not
        yet written) still counts as a data change.

        Each source's ``cols`` map the ``current`` columns onto its era
        by lineage (:meth:`_cdf_lineage`): a file stores its era's
        physical names, so reading it with the current mapping would
        NULL a renamed column across an overwrite boundary.
        ``overwrites``: the overwrite versions up to ``current``'s."""
        def source(change, entries, cdf_dir, era, era_v) -> _ChangeSource:
            lineage = self._cdf_lineage(era, era_v, current, overwrites)
            return _ChangeSource(change, entries, cdf_dir, era, lineage)

        plan = []
        for v in range(lo + 1, hi + 1):
            c = self._log.read_commit(v)
            op = c["op"]
            era = StructType.fromJson(json.loads(c["schema"]))
            sources = []
            if op in ("create", "append"):
                sources = [source("insert", c["add"], None, era, v)]
            elif op == "overwrite":
                prev = self._readable_snapshot(v - 1)
                by_path = {a["path"]: a for a in prev.entries}
                removed = tuple(by_path.get(p, {"path": p}) for p in c["remove"])
                sources = [
                    source("delete", removed, None, prev.schema, v - 1),
                    source("insert", c["add"], None, era, v),
                ]
            elif op in ("merge", "delete", "update"):
                cdf_dir = os.path.join(self.path, _CDF, f"{v:020d}")
                if os.path.isdir(cdf_dir):
                    sources = [source(None, None, cdf_dir, era, v)]
            sources = [s for s in sources if s.entries or s.cdf_dir]
            changed = op != "compact" and bool(sources or c["add"] or c["remove"])
            plan.append((v, op, sources, changed))
        return plan

    def _write_cdf(
        self, version: int, df: DataFrame, schema: StructType | None = None
    ) -> None:
        """Change files are stored under PHYSICAL column names (plus
        ``_change_type``), so a later rename doesn't strand historical
        change rows under a stale logical name — ``changes()`` aliases
        them back through the current mapping exactly like data files."""
        df = _to_physical(df, schema)
        # same file-sizing rule as data writes: a small change set lands
        # as one file, not (task count) KB shards every changes() reader
        # then re-pays in listing and per-file opens
        _size_coalesce(df).write.mode("overwrite").parquet(
            os.path.join(self.path, _CDF, f"{version:020d}")
        )

    def changes(
        self,
        from_version: int | None = None,
        to_version: int | None = None,
        from_timestamp=None,
        to_timestamp=None,
    ) -> DataFrame:
        """Change data feed: row-level changes committed in
        ``(from_version, to_version]`` with ``_change_type``
        (insert / update_preimage / update_postimage / delete) and
        ``_commit_version`` columns — the incremental-ETL contract
        (downstream consumers re-derive their state from changes
        instead of re-scanning the table; pairs with
        sources/incremental high-watermark extraction). Updates carry
        BOTH images (Delta CDF shape), so additive consumers can
        subtract the old contribution and add the new one
        (operators/materialized incremental aggregates).

        Which files carry each commit's rows, and how their era columns
        map onto the current ones, is :meth:`_change_plan` — the same
        plan the ``lakecdf`` stream source reads. Vacuuming past a
        version drops its derivable changes — read the feed first.

        Wall-clock bounds (Delta CDF ``startingTimestamp`` /
        ``endingTimestamp`` parity, against MONOTONIZED commit times):
        ``from_timestamp`` includes every commit at or after it — it
        resolves to the EARLIEST such version (loud error when it lies
        beyond the last commit, Delta's rule: nothing to stream yet is
        a user mistake, not an empty feed); ``to_timestamp`` is the
        inclusive upper bound, the LATEST commit at or before it."""
        if from_timestamp is not None:
            if from_version is not None:
                raise ValueError("pass from_version OR from_timestamp")
            target = _ts_epoch(from_timestamp)
            first = next(
                (
                    v
                    for v, eff in self._effective_commit_times()
                    if eff >= target
                ),
                None,
            )
            if first is None:
                raise ValueError(
                    f"from_timestamp {from_timestamp!r} is after the last "
                    "commit — no changes at or after it"
                )
            from_version = first - 1  # exclusive lower bound includes it
        if from_version is None:
            raise ValueError("changes needs from_version or from_timestamp")
        if to_timestamp is not None:
            if to_version is not None:
                raise ValueError("pass to_version OR to_timestamp")
            to_version = self.version_at(to_timestamp)
        snap = self._readable_snapshot()
        schema = snap.schema
        hi = snap.version if to_version is None else to_version
        unmoved = {f.name: _phys(f) for f in schema.fields}
        parts: list[DataFrame] = []
        for v, _op, sources, _changed in self._change_plan(
            from_version, hi, schema, snap.overwrites
        ):
            for src in sources:
                if src.cdf_dir is None:
                    df = self._read_entries(src.entries, src.era)
                    # _read_entries names the era's columns logically
                    era_name = {_phys(f): f.name for f in src.era.fields}
                    change = F.lit(src.change)
                else:  # change files keep their era's physical names
                    df = self.spark.read.schema(
                        StructType(
                            [
                                *_physical_schema(src.era).fields,
                                StructField("_change_type", StringType()),
                            ]
                        )
                    ).parquet(src.cdf_dir)
                    era_name = {}
                    change = F.col("_change_type")
                if src.cdf_dir is None and src.era == schema and src.cols == unmoved:
                    # _read_entries already returned the current columns;
                    # a projection would only add py4j round trips
                    df = df.withColumn("_change_type", change)
                else:
                    cols = [
                        (F.col(era_name.get(p, p)) if p else F.lit(None))
                        .cast(f.dataType)
                        .alias(f.name)
                        for f in schema.fields
                        for p in [src.cols.get(f.name)]
                    ]
                    df = _fill_generated(
                        df.select(*cols, change.alias("_change_type")), schema
                    )
                parts.append(
                    df.withColumn("_commit_version", F.lit(v).cast("long"))
                )
        if not parts:
            empty = self.spark.createDataFrame([], schema)
            return empty.withColumn("_change_type", F.lit("")).withColumn(
                "_commit_version", F.lit(0).cast("long")
            ).limit(0)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    # ---------------------------------------------------------- upkeep
    def set_cluster_by(self, cluster_by: list[str] | None) -> int:
        """ALTER TABLE ... CLUSTER BY (cols) / CLUSTER BY NONE (Delta
        liquid-clustering parity) — metadata-only: updates the
        ``clusterBy`` property; existing files are untouched until the
        next OPTIMIZE re-clusters them (incremental, on the
        maintenance cadence — the liquid advantage over repartitioning
        a table)."""
        v, _, schema = self._snapshot()
        props = self.props(v)
        if cluster_by:
            names = {f.name for f in schema.fields}
            missing = [c for c in cluster_by if c not in names]
            if missing:
                raise ValueError(f"cluster_by column(s) {missing} not in schema")
            if self._partition_phys(v):
                raise ValueError(
                    "cluster_by is mutually exclusive with partitioning"
                )
            props["clusterBy"] = json.dumps(list(cluster_by))
        else:
            props.pop("clusterBy", None)
        return self._commit(
            v + 1, "set_cluster_by", [], [], schema, props=props,
            metrics={"cluster_by": list(cluster_by or [])},
        )

    def set_partitioning(self, partition_by: list[str] | None) -> int:
        """PARTITION EVOLUTION (Iceberg parity — Delta cannot do this):
        change the table's partition layout as a METADATA-ONLY commit
        affecting FUTURE writes. Existing files keep their era's
        layout untouched (no 100 TB rewrite); reads union the eras
        (one native scan per layout under the hood); metadata pruning
        applies per-era — current-layout files prune exactly as
        before, earlier-layout files are conservatively scanned by
        row-level ops (DELETE/UPDATE stay correct, just less pruned)
        until OPTIMIZE/compact rewrites them into the current layout.
        Whole-file partition ops (replace_where /
        overwrite_partitions) PROVE legacy files don't overlap the
        claimed region, and refuse with a compact() remedy otherwise —
        partition evolution may relax pruning, never correctness.

        ``partition_by=None`` / ``[]`` drops partitioning for future
        writes. Validation matches create(): partitionable scalar
        types, no duplicates, at least one non-partition data column.
        Mutually exclusive with liquid clustering (clear it first)."""
        v, _, schema = self._snapshot()
        props = self.props(v)
        pp: list[str] = []
        if partition_by:
            if self.clustering_columns(v):
                raise ValueError(
                    "partitioning is mutually exclusive with liquid "
                    "clustering — set_cluster_by(None) first"
                )
            by_name = {f.name: f for f in schema.fields}
            if len(set(partition_by)) != len(partition_by):
                raise ValueError("duplicate partition columns")
            if len(partition_by) >= len(schema.fields):
                raise ValueError(
                    "at least one non-partition data column is required"
                )
            for c in partition_by:
                f = by_name.get(c)
                if f is None:
                    raise ValueError(f"partition column {c!r} not in schema")
                s = f.dataType.simpleString()
                if s not in _PARTITIONABLE:
                    raise ValueError(
                        f"partition column {c!r}: type {s} is not "
                        "partitionable (exact string-round-trippable "
                        "scalars only)"
                    )
            pp = [_phys(by_name[c]) for c in partition_by]
        if pp == self._partition_phys(v):
            raise ValueError("set_partitioning: layout unchanged")
        if pp:
            props[_PART_PROP] = json.dumps(pp)
        else:
            props.pop(_PART_PROP, None)
        return self._commit(
            v + 1, "set_partitioning", [], [], schema, props=props,
            metrics={"partition_by": list(partition_by or [])},
        )

    def clustering_columns(self, version: int | None = None) -> list[str]:
        """The table's liquid-clustering columns ([] when unset)."""
        raw = self.props(version).get("clusterBy")
        return json.loads(raw) if raw else []

    def compact(
        self,
        target_files: int = 1,
        cluster_by: str | list[str] | None = None,
        where: str | None = None,
    ) -> int:
        """OPTIMIZE: rewrite the active file set into ``target_files``
        files (small-file compaction; old files stay for time travel
        until vacuumed). With a single ``cluster_by`` column,
        range-repartition + sort so per-file footer [min,max] ranges are
        DISJOINT — ``read_pruned``/``files_overlapping`` then skip all
        but the hit files. With a LIST of columns, Z-ORDER: interleave
        them into a Morton key (operators/zorder.zorder_value) so file
        stats stay tight on every listed column and multi-dimension
        range predicates prune on each.

        ``where``: OPTIMIZE ... WHERE parity — a predicate over the
        PARTITION COLUMNS restricts the rewrite to matching partitions
        (selection is pure metadata, ``_matching_entries``); a daily
        maintenance job compacts yesterday's partition, never the
        100 TB table. Commits through the conflict-checked path so a
        concurrent rewrite of a target file conflicts instead of
        resurrecting it.

        With ``cluster_by=None`` the table's LIQUID clustering columns
        (``clusterBy`` property) apply automatically — OPTIMIZE on a
        clustered table is re-clustering by default."""
        snap = self._readable_snapshot()
        v, targets, schema = snap.version, snap.entries, snap.schema
        if cluster_by is None:
            cols = self.clustering_columns(v)
        elif isinstance(cluster_by, str):
            cols = [cluster_by]
        else:
            cols = list(cluster_by)
        metrics = None
        if where is not None:
            if not self._partition_phys(v):
                raise ValueError(
                    "compact(where=...) requires a partitioned table"
                )
            targets = self._matching_entries(targets, where, schema)
            if not targets:
                return v
            metrics = {"files_compacted": len(targets), "predicate": where}
        df = _cluster_layout(
            self._read_entries(targets, schema), cols, target_files
        )
        adds, _ = self._write_files(df, schema)
        # the targets are the read set: a concurrent append rebases
        # cleanly, a concurrent rewrite of a target conflicts
        return self._commit_txn(
            Txn(snap, self._log, touched=targets),
            "compact", adds, [a["path"] for a in targets], schema,
            metrics=metrics,
        )

    def _verify_files_spark(
        self, active: list[dict]
    ) -> tuple[list[str], list[str], list[str]]:
        """Distributed leg of verify_integrity: footer row counts + DV
        sidecar consistency checked in a mapInPandas job over the file
        SPECS (path, expected rows, dv pointer) — Arrow-batched worker
        processes parse footers in parallel; only (kind, msg) verdicts
        reach the driver. Sidecars read with a pushed-down _dv_base
        filter, so a file's task touches only its own positions."""
        import pandas as pd

        specs = [
            (
                a["path"],
                self._abs(a["path"]),
                int(a.get("rows", 0)),
                self._abs(a["dv"]["path"]) if a.get("dv") else None,
                a["dv"]["path"] if a.get("dv") else None,
                os.path.basename(a["path"]) if a.get("dv") else None,
                int(a["dv"].get("ndel", 0)) if a.get("dv") else -1,
            )
            for a in active
        ]
        if not specs:
            return [], [], []
        sdf = self.spark.createDataFrame(
            specs,
            "path string, abs string, rows long, dv_abs string, "
            "dv_rel string, dv_base string, ndel long",
        ).repartition(
            max(1, min(len(specs), self.spark.sparkContext.defaultParallelism))
        )

        def _check(batches):
            import os as _os

            import pyarrow.parquet as _pq

            for pdf in batches:
                kinds, msgs = [], []
                for r in pdf.itertuples(index=False):
                    if not _os.path.exists(r.abs):
                        kinds.append("missing")
                        msgs.append(r.path)
                        continue
                    footer_rows = _pq.ParquetFile(r.abs).metadata.num_rows
                    if footer_rows != r.rows:
                        kinds.append("rowcount")
                        msgs.append(
                            f"{r.path}: entry says {r.rows}, footer {footer_rows}"
                        )
                    if r.dv_abs is None:
                        continue
                    if not _os.path.exists(r.dv_abs):
                        kinds.append("missing")
                        msgs.append(r.dv_rel)
                        continue
                    t = _pq.read_table(
                        r.dv_abs,
                        columns=["_dv_pos"],
                        filters=[("_dv_base", "==", r.dv_base)],
                    )
                    poss = t.column("_dv_pos").to_pylist()
                    if len(poss) != r.ndel:
                        kinds.append("dv")
                        msgs.append(
                            f"{r.path}: ndel {r.ndel} but sidecar holds "
                            f"{len(poss)} positions"
                        )
                    elif poss and (min(poss) < 0 or max(poss) >= footer_rows):
                        kinds.append("dv")
                        msgs.append(
                            f"{r.path}: DV position out of range "
                            f"[{min(poss)}, {max(poss)}] for {footer_rows} rows"
                        )
                yield pd.DataFrame({"kind": kinds, "msg": msgs})

        verdicts = sdf.mapInPandas(_check, "kind string, msg string").collect()
        missing = sorted(r["msg"] for r in verdicts if r["kind"] == "missing")
        rowcount_bad = sorted(
            r["msg"] for r in verdicts if r["kind"] == "rowcount"
        )
        dv_bad = sorted(r["msg"] for r in verdicts if r["kind"] == "dv")
        return missing, rowcount_bad, dv_bad

    def verify_integrity(
        self,
        version: int | None = None,
        io_threads: int = 0,
        distributed: bool = False,
    ) -> dict:
        """FSCK for a snapshot: metadata-vs-disk consistency, all from
        parquet FOOTERS and sidecar reads — no data scan, O(files)
        driver work. Checks: every active data file and DV sidecar
        exists; each file's footer row count matches its add entry;
        each entry's recorded ``ndel`` matches the sidecar's actual
        position count for that file and every position is in-range;
        and counts ORPHANS — files on disk no protected snapshot or tag
        references (vacuumable debris, not corruption). The health
        check an operator runs before trusting a restore/clone or after
        an interrupted writer.

        ``io_threads``: footer fetch parallelism. Default 0 = serial —
        MEASURED faster on local/page-cached storage, where the
        per-file cost is a ~180 µs GIL-bound Thrift parse and a thread
        pool is pure dispatch overhead (alternating A/B at 5k files:
        serial 0.8-1.0 s vs 32-thread pool 2.3-2.7 s — SCALE.md r8).
        On OBJECT STORAGE, where each footer fetch is a multi-ms GET
        the GIL releases for, pass e.g. ``io_threads=32`` to overlap
        the latency. The orphan scan accumulates the ever-referenced
        path set with ONE forward replay of the commit log instead of
        a per-version snapshot (O(versions × files) on long
        histories).

        ``distributed=True`` (round 9): lift the per-file footer + DV
        checks into a Spark job over the file list — mapInPandas
        workers parse footers in PARALLEL PROCESSES (no driver GIL)
        and, on a cluster, across executors; only per-file VERDICTS
        return to the driver. The log replay (orphans, bloom
        registration) stays driver metadata work. Same results as the
        serial path (pinned in tests) — the knob for 10⁵-file tables
        where a serial driver loop is minutes."""
        import pyarrow.parquet as pq

        v, active, schema = self._snapshot(version)
        missing: list[str] = []
        rowcount_bad: list[str] = []
        dv_bad: list[str] = []
        if distributed:
            missing, rowcount_bad, dv_bad = self._verify_files_spark(active)

        def _footer_rows(a: dict) -> tuple[dict, int | None]:
            ap = self._abs(a["path"])
            if not os.path.exists(ap):
                return a, None
            return a, pq.ParquetFile(ap).metadata.num_rows

        def _load_dv(rel: str) -> tuple[str, dict[str, list[int]] | None]:
            dp = self._abs(rel)
            if not os.path.exists(dp):
                return rel, None
            t = pq.read_table(dp)
            by_base: dict[str, list[int]] = {}
            for base, pos in zip(
                t.column("_dv_base").to_pylist(),
                t.column("_dv_pos").to_pylist(),
            ):
                by_base.setdefault(base, []).append(pos)
            return rel, by_base

        dv_rels = sorted({a["dv"]["path"] for a in active if a.get("dv")})
        if distributed:
            pass  # per-file checks already ran in the Spark job above
        elif io_threads > 0:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=io_threads) as ex:
                footer_by_path = {
                    a["path"]: rows for a, rows in ex.map(_footer_rows, active)
                }
                dv_cache = dict(ex.map(_load_dv, dv_rels))
        else:
            footer_by_path = {
                a["path"]: rows for a, rows in map(_footer_rows, active)
            }
            dv_cache = dict(map(_load_dv, dv_rels))
        for a in active if not distributed else []:
            footer_rows = footer_by_path[a["path"]]
            if footer_rows is None:
                missing.append(a["path"])
                continue
            if footer_rows != int(a.get("rows", 0)):
                rowcount_bad.append(
                    f"{a['path']}: entry says {a.get('rows')}, footer {footer_rows}"
                )
            dv = a.get("dv")
            if not dv:
                continue
            sidecar = dv_cache.get(dv["path"])
            if sidecar is None:
                missing.append(dv["path"])
                continue
            base = os.path.basename(a["path"])
            poss = sidecar.get(base, [])
            if len(poss) != int(dv.get("ndel", 0)):
                dv_bad.append(
                    f"{a['path']}: ndel {dv.get('ndel')} but sidecar holds "
                    f"{len(poss)} positions"
                )
            elif poss and (min(poss) < 0 or max(poss) >= footer_rows):
                dv_bad.append(
                    f"{a['path']}: DV position out of range "
                    f"[{min(poss)}, {max(poss)}] for {footer_rows} rows"
                )
        # orphans: anything never referenced by any commit or checkpoint
        # is deletable debris. One forward replay of the log — every
        # file enters the table via exactly one add entry, so the union
        # of add paths over all commits (plus checkpoint actives, which
        # stand in for any log prefix they superseded) IS the union of
        # all versions' active sets, without O(versions) snapshots.
        keep: set[str] = set()
        keep_dv: set[str] = set()

        def _collect(adds: list[dict]) -> None:
            for a in adds:
                keep.add(a["path"])
                if a.get("dv"):
                    keep_dv.add(a["dv"]["path"])

        for cv in self._log.versions():
            _collect(self._log.read_commit(cv)["add"])
        for ck in self._log.checkpoints():
            _collect(ck["active"])
        # registered bloom indexes must exist on disk (a missing index
        # silently degrades every point lookup to a stats-only prune)
        for pk, pval in self.props(v).items():
            if pk.startswith("bloom.") and not os.path.isdir(self._abs(pval)):
                missing.append(pval)
        orphans = sum(
            1
            for dirpath, _dirs, files in os.walk(self._data_dir)
            for f in files
            if os.path.relpath(os.path.join(dirpath, f), self.path) not in keep
        )
        if os.path.isdir(self._dv_dir):
            orphans += sum(
                1
                for f in os.listdir(self._dv_dir)
                if f"{_DV}/{f}" not in keep_dv
            )
        return {
            "version": v,
            "ok": not (missing or rowcount_bad or dv_bad),
            "missing_files": missing,
            "rowcount_mismatches": rowcount_bad,
            "dv_issues": dv_bad,
            "orphan_files": orphans,
        }

    @staticmethod
    def _checkpoint_consumed_version(ck_dir: str) -> int | None:
        """Latest lake version a Structured Streaming CHECKPOINT has
        durably consumed: the ``{"v": N}`` offset of the newest batch
        present in ``commits/`` (a batch in ``offsets/`` alone is
        planned, not consumed). ``None`` when no batch has committed.
        Multi-source streams carry one offset line per source; every
        line shaped ``{"v": int}`` is considered and the MINIMUM wins
        (conservative: protect the laggiest lake source)."""
        commits_dir = os.path.join(ck_dir, "commits")
        offsets_dir = os.path.join(ck_dir, "offsets")
        try:
            done = [int(f) for f in os.listdir(commits_dir) if f.isdigit()]
        except FileNotFoundError:
            return None
        if not done:
            return None
        last = max(done)
        vs: list[int] = []
        try:
            with open(os.path.join(offsets_dir, str(last))) as f:
                lines = f.read().splitlines()
        except FileNotFoundError:
            return None
        for line in lines[2:]:  # line 0 = "v1", line 1 = batch metadata
            try:
                obj = json.loads(line)
            except (ValueError, TypeError):
                continue
            if isinstance(obj, dict) and set(obj) == {"v"} and isinstance(
                obj["v"], int
            ):
                vs.append(obj["v"])
        return min(vs) if vs else None

    def vacuum(
        self,
        keep_versions: int = 0,
        dry_run: bool = False,
        retain_hours: float | None = None,
        protect_checkpoints: list[str] | None = None,
    ) -> int:
        """Drop data files unreferenced by the snapshots of the last
        ``keep_versions`` + current versions, or by any TAGGED version
        (Iceberg parity: a named ref pins its snapshot's files — a
        published dataset release must not be silently hollowed out by
        retention; delete the tag first to release them). Time travel
        older than the horizon stops working (as with Delta VACUUM).
        ``dry_run=True`` (Delta ``VACUUM ... DRY RUN`` parity) reports
        the would-be deletion count without touching a byte — the
        pre-flight an operator runs before an irreversible retention
        pass. Returns count of (would-be) deleted files.

        ``retain_hours`` (Delta ``VACUUM ... RETAIN N HOURS`` parity):
        every version whose commit timestamp falls within the last N
        hours survives REGARDLESS of ``keep_versions`` — wall-clock
        retention is what operators actually configure, and it makes
        the CDF-stream caveat ("retention must outlive consumer lag")
        enforceable: set retain_hours above the slowest consumer's lag
        and a checkpointed stream can never lose underived changes.
        Composable: the effective horizon is the OLDEST version either
        rule protects.

        CHANGE-FEED RETENTION rides the same horizon: _cdf change
        directories for versions OLDER than the horizon are dropped
        (their row-level changes are no longer derivable anyway once
        their era's files can go) — without this, a long-lived CDC
        table accumulates one change dir per merge/delete/update
        forever. ``changes()`` over a dropped version simply skips it,
        exactly as documented: read the feed before vacuuming past
        it.

        ``protect_checkpoints`` (consumer-floor guard): paths of
        Structured Streaming CHECKPOINTS whose streams read this table
        (lakecdf source / lake_append_stream). Vacuum REFUSES — loudly,
        naming the stranded version and checkpoint — when the retention
        horizon would drop a version some checkpoint has not yet
        consumed, converting the documented CDF+VACUUM caveat into an
        enforced invariant. A checkpoint with no committed batch yet
        protects everything (its start position is unknowable here).
        The refusal fires on ``dry_run`` too (preflight parity: an
        operator must see the refusal before the irreversible run)."""
        latest = self.latest_version()
        horizon = max(0, latest - keep_versions)
        if retain_hours is not None:
            cutoff = time.time() - retain_hours * 3600
            in_window = [
                v
                for v in self._log.versions()
                if self._log.read_commit(v).get("ts", 0) >= cutoff
            ]
            if in_window:
                horizon = min(horizon, min(in_window))
        for ck in protect_checkpoints or []:
            consumed = self._checkpoint_consumed_version(ck)
            # the stream's next batch starts AFTER `consumed`: versions
            # consumed+1..latest must survive, i.e. horizon <= consumed+1
            floor = 0 if consumed is None else consumed + 1
            if horizon > floor:
                raise ValueError(
                    f"vacuum would strand streaming checkpoint {ck!r}: "
                    f"version {floor} is not yet consumed (checkpoint "
                    f"committed through "
                    f"{'nothing' if consumed is None else consumed}) but "
                    f"the retention horizon is {horizon} — advance the "
                    "stream or raise keep_versions/retain_hours"
                )
        keep: set[str] = set()
        keep_dv: set[str] = set()
        protected = set(range(horizon, latest + 1)) | set(self.tags().values())
        for v in protected:
            _, active, _ = self._snapshot(v)
            keep.update(a["path"] for a in active)
            keep_dv.update(a["dv"]["path"] for a in active if a.get("dv"))
        removed = 0
        # recursive: partitioned tables nest data files under hive dirs
        for dirpath, _dirs, files in os.walk(self._data_dir):
            for fname in files:
                ap = os.path.join(dirpath, fname)
                rel = os.path.relpath(ap, self.path)
                if rel not in keep:
                    if not dry_run:
                        os.remove(ap)
                    removed += 1
        if not dry_run:
            # drop now-empty partition directories (bottom-up)
            for dirpath, _dirs, files in os.walk(self._data_dir, topdown=False):
                if dirpath != self._data_dir and not os.listdir(dirpath):
                    os.rmdir(dirpath)
        # deletion-vector sidecars follow the same retention: a DV
        # referenced by any protected snapshot (or tag) must survive —
        # dropping it would resurrect deleted rows, worse than a
        # missing-file read error
        if os.path.isdir(self._dv_dir):
            for fname in os.listdir(self._dv_dir):
                rel = f"{_DV}/{fname}"
                if rel not in keep_dv:
                    if not dry_run:
                        os.remove(os.path.join(self._dv_dir, fname))
                    removed += 1
        # change-feed retention: drop _cdf dirs older than the horizon
        cdf_root = os.path.join(self.path, _CDF)
        if os.path.isdir(cdf_root):
            for d in os.listdir(cdf_root):
                try:
                    cv = int(d)
                except ValueError:
                    continue
                if cv < horizon:
                    if not dry_run:
                        shutil.rmtree(os.path.join(cdf_root, d))
                    removed += 1
        # bloom index retention: each rebuild writes a fresh index dir
        # and re-points the prop — drop dirs no protected version's
        # props reference
        bloom_root = os.path.join(self.path, "bloom")
        if os.path.isdir(bloom_root):
            keep_bloom: set[str] = set()
            for pv in protected:
                for pk, pval in self.props(pv).items():
                    if pk.startswith("bloom."):
                        keep_bloom.add(pval)
            for d in os.listdir(bloom_root):
                if f"bloom/{d}" not in keep_bloom:
                    if not dry_run:
                        shutil.rmtree(os.path.join(bloom_root, d))
                    removed += 1
        if dry_run:
            return removed
        # crash debris: a writer that died mid-_write_files leaves a
        # _tmp_* staging dir; nothing references it, safe to drop here
        for d in os.listdir(self.path):
            if d.startswith("_tmp_"):
                shutil.rmtree(os.path.join(self.path, d))
        self._log.sweep_debris()
        return removed
