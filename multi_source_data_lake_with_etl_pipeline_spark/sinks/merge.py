"""The MERGE upsert as a pure DataFrame plan (reference L4).

Reference upsert is per-record find-then-update-or-insert
(``base_loaders.py:149-181``); here it is one full outer join with
``whenMatchedUpdateAll`` / ``whenNotMatchedInsertAll`` semantics. It
writes nothing: upserts and deletes on stored tables go through
``lake.LakeTable.merge`` / ``delete``, whose commit log makes them
atomic.

NULL semantics (SQL MERGE parity): a source row with a NULL merge key
never equality-matches any target row, so it is an INSERT; presence
is tracked with a literal flag column, not key-null-ness, so NULL keys
on either side cannot be mistaken for "row absent".
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_SRC_FLAG = "_mdl_src_present"


def merge_upsert_df(target: DataFrame, source: DataFrame, key: str) -> DataFrame:
    """The MERGE plan: whenMatchedUpdateAll / whenNotMatchedInsertAll.

    Returns the merged DataFrame (lazy). Column set = target's; source
    must carry the same columns. Source rows with a NULL key are
    inserts (they cannot equality-match), and presence is a literal
    flag so NULL keys never corrupt the matched/unmatched decision."""
    cols = target.columns
    t = target.alias("t")
    s = source.withColumn(_SRC_FLAG, F.lit(True)).alias("s")
    joined = t.join(s, F.col(f"t.{key}") == F.col(f"s.{key}"), "full_outer")
    # Source row present ⇒ take source values wholesale (including its
    # nulls — coalesce per column would wrongly keep stale target values
    # when an update nulls a field).
    src_present = F.col(f"s.{_SRC_FLAG}").isNotNull()
    picked = [
        F.when(src_present, F.col(f"s.{c}")).otherwise(F.col(f"t.{c}")).alias(c)
        for c in cols
    ]
    return joined.select(*picked)
