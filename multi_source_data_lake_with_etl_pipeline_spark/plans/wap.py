"""Write-Audit-Publish (WAP) for lake tables.

Governance pattern the reference's ETL DAG approximates with its
validate-then-load task ordering (multi_source_ingestion_dag.py:
extract → transform → validate → load): here the audit gates the
COMMIT itself. The incoming batch is staged as its own lake table,
the expectation suite (operators/validation.py) runs against the
staged files, and only a fully-passing audit appends into the
production table — a failed audit leaves production bit-identical
(readers never see quarantined data, no cleanup delete needed).

At 100 TB the staging write is the same distributed write the publish
would do; the audit is one scan-speed aggregation over the staged
batch (not the table), and publish re-registers the staged files'
rows via a normal append.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..lake import (
    LakeTable,
    _bindings,
    _constraints,
    _default_expr,
    _gen_expr,
    _identity_spec,
)
from ..lake_log import Snapshot, Txn
from ..operators.validation import Expectation, expectation_suite


@dataclass
class WapResult:
    published: bool
    staged_rows: int
    failed_expectations: list[str]
    prod_version: int


def write_audit_publish(
    spark: SparkSession,
    prod: LakeTable,
    batch: DataFrame,
    expectations: Sequence[Expectation],
    staging_path: str,
) -> WapResult:
    """Stage ``batch``, audit it, publish to ``prod`` only on a clean
    audit. Returns what happened; ``prod`` is untouched on failure.
    The staged columns must exist in production with the same types;
    production may have more, as long as they are plain columns (they
    read NULL for the published rows). A staged row violating a
    production CHECK constraint raises ``ConstraintViolation``."""
    staged = LakeTable.create(spark, staging_path, batch)
    staged_df = staged.read()
    audit = expectation_suite(staged_df, expectations).collect()
    failed = [r["expectation"] for r in audit if not r["passed"]]
    n = int(audit[0]["n_rows"]) if audit else 0
    if failed:
        return WapResult(False, n, failed, prod.latest_version())
    # Publish is METADATA-ONLY: the staged table's files are re-listed
    # in a prod append commit by absolute path (the clone_to mechanism)
    # — the batch's bytes are written exactly once, at staging time.
    # A re-write through prod.append(staged_df) would double the write
    # I/O of every publish, which is the whole cost at 100 TB.
    # Lifecycle: prod now references the staging directory; deleting it
    # breaks those rows (same contract as a shallow clone's source).
    # prod.compact() localizes every foreign-path file when staging
    # needs to be reclaimed (pinned in tests/test_lake.py).
    _, active, staged_schema = staged._snapshot()
    adds = [{**a, "path": staged._abs(a["path"])} for a in active]
    staged_names = {f.name for f in staged_schema.fields}

    def fits(snap: Snapshot) -> StructType:
        # the staged files are published as written, so nothing computes
        # a column they lack: only plain columns may be omitted
        prod_types = {f.name: f.dataType for f in snap.schema.fields}
        omitted = [f for f in snap.schema.fields if f.name not in staged_names]
        if any(
            prod_types.get(f.name) != f.dataType for f in staged_schema.fields
        ) or any(_gen_expr(f) or _identity_spec(f) or _default_expr(f) for f in omitted):
            raise ValueError(
                "WAP publish: staged columns must exist in production with "
                "the same types, and may omit only columns no write "
                "computes (generated, identity, default): "
                f"{staged_schema.simpleString()} vs {snap.schema.simpleString()}"
            )
        return snap.schema

    def rows(schema: StructType) -> DataFrame:
        # the rows as production will read them: omitted columns NULL
        return staged_df.select(
            "*",
            *[
                F.lit(None).cast(f.dataType).alias(f.name)
                for f in schema.fields
                if f.name not in staged_names
            ],
        )

    # Like append: pin the head, check the batch against the schema and
    # CHECK constraints AT that version; a lost race re-checks against
    # the new head (a racing merge_schema append must not be reverted,
    # nor a racing ADD CONSTRAINT slipped under).
    snap = prod._readable_snapshot()
    schema = fits(snap)
    cons = _constraints(snap.props)
    prod._check_constraints(rows(schema), cons)
    recheck = prod._append_recheck(
        _bindings(schema, staged_names), cons, rows, schema_at=fits
    )
    v = prod._commit_txn(
        Txn(snap, prod._log, blind=True, recheck=recheck),
        "append", adds, [], schema,
    )
    return WapResult(True, n, [], v)
