"""Round 10: TIMESTAMP AS OF time travel, SQL-text DML/DDL front end,
GENERATED BY DEFAULT identity, vacuum consumer-floor guard, plus the
ADVICE r9 regression pins (CDF rate-limit restart monotonicity,
appends-mode metadata-only commits, eager default validation)."""

from __future__ import annotations

import datetime
import json
import os

import pytest

from multi_source_data_lake_with_etl_pipeline_spark.lake import LakeTable, _ts_epoch


def _set_commit_ts(t: LakeTable, version: int, ts: float) -> None:
    """Doctor a commit's recorded wall-clock (clock-skew simulation)."""
    p = os.path.join(t._log_dir, f"{version:020d}.json")
    with open(p) as f:
        rec = json.load(f)
    rec["ts"] = ts
    with open(p, "w") as f:
        json.dump(rec, f)


# ===================================================================
# TIMESTAMP AS OF
class TestTimestampAsOf:
    def _three_versions(self, spark, tmp_path):
        t = LakeTable.create(
            spark, str(tmp_path / "t"),
            spark.createDataFrame([(1, 10)], "k long, v long"),
        )
        t.append(spark.createDataFrame([(2, 20)], "k long, v long"))
        t.append(spark.createDataFrame([(3, 30)], "k long, v long"))
        # pin commit times far apart so midpoints are unambiguous
        _set_commit_ts(t, 0, 1000.0)
        _set_commit_ts(t, 1, 2000.0)
        _set_commit_ts(t, 2, 3000.0)
        return t

    def test_read_by_timestamp_matches_version(self, spark, tmp_path):
        t = self._three_versions(spark, tmp_path)
        # between commits -> earlier version; at a commit -> that version
        assert t.version_at(1500.0) == 0
        assert t.version_at(2000.0) == 1
        assert t.version_at(2999.9) == 1
        assert t.version_at(99999.0) == 2
        for ts, want_v in [(1500.0, 0), (2500.0, 1), (3000.0, 2)]:
            by_ts = sorted(r["k"] for r in t.read(timestamp=ts).collect())
            by_v = sorted(r["k"] for r in t.read(want_v).collect())
            assert by_ts == by_v, (ts, want_v)

    def test_timestamp_accepts_datetime_and_iso_string(self, spark, tmp_path):
        t = self._three_versions(spark, tmp_path)
        dt = datetime.datetime.fromtimestamp(2500.0, tz=datetime.timezone.utc)
        assert t.version_at(dt) == 1
        assert t.version_at(dt.isoformat()) == 1
        # naive datetime / tz-less string mean UTC
        naive = dt.replace(tzinfo=None)
        assert t.version_at(naive) == 1
        assert _ts_epoch(naive.isoformat()) == 2500.0

    def test_before_first_commit_raises_loud(self, spark, tmp_path):
        t = self._three_versions(spark, tmp_path)
        with pytest.raises(ValueError, match="first\\s+commit is later"):
            t.version_at(999.0)
        with pytest.raises(ValueError, match="AS OF before creation"):
            t.read(timestamp=1.0).collect()

    def test_version_and_timestamp_together_rejected(self, spark, tmp_path):
        t = self._three_versions(spark, tmp_path)
        with pytest.raises(ValueError, match="not both"):
            t.read(version=1, timestamp=2500.0)

    def test_equal_timestamps_higher_version_wins(self, spark, tmp_path):
        t = self._three_versions(spark, tmp_path)
        _set_commit_ts(t, 1, 2000.0)
        _set_commit_ts(t, 2, 2000.0)  # tie
        assert t.version_at(2000.0) == 2  # Delta tie rule
        assert t.version_at(1999.9) == 0

    def test_clock_skew_monotonized(self, spark, tmp_path):
        # a LATER version stamped EARLIER inherits the previous commit's
        # effective time — resolution can never be non-causal
        t = self._three_versions(spark, tmp_path)
        _set_commit_ts(t, 1, 900.0)  # skewed behind the create (1000.0)
        assert t.version_at(1000.0) == 1  # eff(v1) = max(900, 1000) = 1000
        with pytest.raises(ValueError):
            t.version_at(950.0)  # eff floor is 1000 — before creation
        assert t.version_at(3000.0) == 2

    def test_restore_and_clone_and_tag_by_timestamp(self, spark, tmp_path):
        t = self._three_versions(spark, tmp_path)
        c = t.clone_to(str(tmp_path / "clone"), timestamp=2500.0)
        assert sorted(r["k"] for r in c.read().collect()) == [1, 2]
        assert t.tag("mid", timestamp=2500.0) == 1
        assert t.tag_version("mid") == 1
        t.restore(timestamp=1500.0)  # back to version 0
        assert sorted(r["k"] for r in t.read().collect()) == [1]
        with pytest.raises(ValueError, match="version or a timestamp"):
            t.restore()

    def test_changes_by_timestamp_bounds(self, spark, tmp_path):
        t = self._three_versions(spark, tmp_path)
        # from_timestamp includes commits AT or AFTER it
        got = sorted(
            r["k"]
            for r in t.changes(from_timestamp=2000.0).collect()
        )
        assert got == [2, 3]
        got = sorted(
            r["k"]
            for r in t.changes(from_timestamp=1500.0, to_timestamp=2500.0).collect()
        )
        assert got == [2]
        with pytest.raises(ValueError, match="after the last commit"):
            t.changes(from_timestamp=99999.0)
        with pytest.raises(ValueError, match="from_version OR from_timestamp"):
            t.changes(from_version=0, from_timestamp=1.0)

    def test_retain_hours_protects_timestamp_reads(self, spark, tmp_path):
        t = self._three_versions(spark, tmp_path)
        # recent-window retention: commit times are ancient (doctored),
        # so retain_hours floors nothing — but keep_versions=2 keeps
        # every version, and wall-clock reads stay whole
        t.vacuum(keep_versions=2)
        assert sorted(r["k"] for r in t.read(timestamp=1500.0).collect()) == [1]
        # aggressive retention drops version-0 files; the timestamp
        # still RESOLVES (the log survives) but the read breaks exactly
        # like numeric time travel past the horizon
        t2 = LakeTable.create(
            spark, str(tmp_path / "t2"),
            spark.createDataFrame([(1, 1)], "k long, v long"),
        )
        t2.overwrite(spark.createDataFrame([(2, 2)], "k long, v long"))
        _set_commit_ts(t2, 0, 1000.0)
        _set_commit_ts(t2, 1, 2000.0)
        t2.vacuum(keep_versions=0)
        assert t2.version_at(1500.0) == 0
        with pytest.raises(Exception):
            t2.read(timestamp=1500.0).collect()


# ===================================================================
# GENERATED BY DEFAULT AS IDENTITY
class TestIdentityByDefault:
    def test_create_batch_supplies_values_nulls_filled(self, spark, tmp_path):
        df = spark.createDataFrame(
            [(100, "a"), (None, "b"), (7, "c"), (None, "d")],
            "id long, name string",
        )
        t = LakeTable.create(
            spark, str(tmp_path / "t"), df,
            identity_columns={"id": {"start": 1, "step": 1, "always": False}},
        )
        rows = {r["name"]: r["id"] for r in t.read().collect()}
        assert rows["a"] == 100 and rows["c"] == 7  # supplied kept verbatim
        assert rows["b"] is not None and rows["d"] is not None
        assert len(set(rows.values())) == 4  # all unique
        # watermark advanced PAST the supplied max: later engine-assigned
        # ids never collide
        t.append(spark.createDataFrame([("e",), ("f",)], "name string"))
        rows2 = {r["name"]: r["id"] for r in t.read().collect()}
        assert len(set(rows2.values())) == 6
        assert min(rows2["e"], rows2["f"]) > 100

    def test_append_mixed_batch_and_watermark_monotone(self, spark, tmp_path):
        t = LakeTable.create(
            spark, str(tmp_path / "t"),
            spark.createDataFrame([("a",)], "name string"),
            identity_columns={"id": {"start": 1, "step": 1, "always": False}},
        )
        t.append(
            spark.createDataFrame(
                [(500, "big"), (None, "auto")], "id long, name string"
            )
        )
        rows = {r["name"]: r["id"] for r in t.read().collect()}
        assert rows["big"] == 500
        wm = int(t.props()["identity.id"])
        assert wm >= 500  # never regresses below a supplied value
        t.append(spark.createDataFrame([("g",)], "name string"))
        rows2 = {r["name"]: r["id"] for r in t.read().collect()}
        assert rows2["g"] > 500
        assert len(set(rows2.values())) == 4

    def test_always_still_rejects_supplied(self, spark, tmp_path):
        t = LakeTable.create(
            spark, str(tmp_path / "t"),
            spark.createDataFrame([("a",)], "name string"),
            identity_columns={"id": (1, 1)},
        )
        with pytest.raises(ValueError, match="GENERATED ALWAYS AS IDENTITY"):
            t.append(
                spark.createDataFrame([(9, "x")], "id long, name string")
            )
        # and create() with the column present + always spec rejects
        with pytest.raises(ValueError, match="already in the frame"):
            LakeTable.create(
                spark, str(tmp_path / "t2"),
                spark.createDataFrame([(1, "a")], "id long, name string"),
                identity_columns={"id": {"start": 1, "step": 1}},
            )

    def test_merge_insert_values_accepted_for_by_default(self, spark, tmp_path):
        t = LakeTable.create(
            spark, str(tmp_path / "t"),
            spark.createDataFrame([("k1", 1)], "key string, v long"),
            identity_columns={"id": {"start": 1, "step": 1, "always": False}},
        )
        src = spark.createDataFrame(
            [("k1", 10, None), ("k2", 20, 777)], "key string, v long, id long"
        )
        t.merge_into(
            src.select("key", "v", "id"),
            "tgt.key = src.key",
            [
                {"when": "matched", "action": "update", "set": {"v": "src.v"}},
                {
                    "when": "not_matched",
                    "action": "insert",
                    "values": {"key": "src.key", "v": "src.v", "id": "src.id"},
                },
            ],
        )
        rows = {r["key"]: (r["v"], r["id"]) for r in t.read().collect()}
        assert rows["k1"][0] == 10
        assert rows["k2"] == (20, 777)  # explicit id accepted
        assert int(t.props()["identity.id"]) >= 777
        # UPDATE SET of an identity column still rejects (both kinds)
        with pytest.raises(ValueError, match="IDENTITY"):
            t.merge_into(
                src, "tgt.key = src.key",
                [{"when": "matched", "action": "update", "set": {"id": "1"}}],
            )

    def test_wrong_dtype_rejected(self, spark, tmp_path):
        with pytest.raises(ValueError, match="BIGINT"):
            LakeTable.create(
                spark, str(tmp_path / "t"),
                spark.createDataFrame([("x", "a")], "id string, name string"),
                identity_columns={"id": {"always": False}},
            )


# ===================================================================
# set/unset TBLPROPERTIES (API level)
class TestTableProperties:
    def test_set_unset_roundtrip_and_engine_guard(self, spark, tmp_path):
        t = LakeTable.create(
            spark, str(tmp_path / "t"),
            spark.createDataFrame([(1,)], "k long"),
        )
        t.set_properties({"owner": "pipeline-team", "tier": "gold"})
        assert t.props()["owner"] == "pipeline-team"
        t.unset_properties(["tier"])
        assert "tier" not in t.props()
        with pytest.raises(ValueError, match="engine-owned"):
            t.set_properties({"constraint.sneaky": "1=1"})
        with pytest.raises(ValueError, match="engine-owned"):
            t.set_properties({"identity.id": "999"})
        with pytest.raises(ValueError, match="no such property"):
            t.unset_properties(["never_set"])
        with pytest.raises(ValueError, match="'true' or 'false'"):
            t.set_properties({"optimizedWrite": "yes"})
        # history records the metadata-only commits
        assert [h["op"] for h in t.history()][:2] == ["setprops", "setprops"]


# ===================================================================
# Vacuum consumer-floor guard
class TestVacuumConsumerGuard:
    def test_lagging_checkpoint_refuses_until_drained(self, spark, tmp_path):
        from multi_source_data_lake_with_etl_pipeline_spark.streaming.cdf_source import (
            lake_cdf_stream,
        )

        t = LakeTable.create(
            spark, str(tmp_path / "t"),
            spark.createDataFrame([(0, 0)], "k long, v long"),
        )
        for i in range(1, 4):
            t.append(spark.createDataFrame([(i, i)], "k long, v long"))
        ck = str(tmp_path / "ck")
        out = str(tmp_path / "out")

        def drain():
            q = (
                lake_cdf_stream(spark, t.path)
                .writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ck)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)

        drain()  # checkpoint consumed through version 3
        assert LakeTable._checkpoint_consumed_version(ck) == 3
        for i in range(4, 7):
            t.append(spark.createDataFrame([(i, i)], "k long, v long"))
        # horizon latest(6) - 0 = 6 > consumed(3)+1 -> refuse, naming v4
        with pytest.raises(ValueError, match="version 4 is not yet consumed"):
            t.vacuum(keep_versions=0, protect_checkpoints=[ck])
        # dry-run parity: the preflight refuses identically
        with pytest.raises(ValueError, match="not yet consumed"):
            t.vacuum(keep_versions=0, dry_run=True, protect_checkpoints=[ck])
        # a horizon the consumer has reached is fine
        assert (
            t.vacuum(keep_versions=2, dry_run=True, protect_checkpoints=[ck])
            >= 0
        )
        drain()  # advance the stream -> unblocked
        assert LakeTable._checkpoint_consumed_version(ck) == 6
        t.vacuum(keep_versions=0, protect_checkpoints=[ck])

    def test_fresh_checkpoint_protects_everything(self, spark, tmp_path):
        t = LakeTable.create(
            spark, str(tmp_path / "t"),
            spark.createDataFrame([(0,)], "k long"),
        )
        t.append(spark.createDataFrame([(1,)], "k long"))
        ck = str(tmp_path / "never_ran_ck")
        os.makedirs(os.path.join(ck, "commits"))
        with pytest.raises(ValueError, match="committed through nothing"):
            t.vacuum(keep_versions=0, protect_checkpoints=[ck])
        # keep everything -> allowed even with a fresh checkpoint
        t.vacuum(keep_versions=10, protect_checkpoints=[ck])


# ===================================================================
# ADVICE r9 regressions (non-streaming ones; streaming pins live in
# test_streaming.py)
class TestAdviceRegressions:
    def test_create_column_default_column_ref_rejected_eagerly(
        self, spark, tmp_path
    ):
        df = spark.createDataFrame([(1, 2)], "a long, b long")
        with pytest.raises(Exception):  # analysis forced at create()
            LakeTable.create(
                spark, str(tmp_path / "t"), df, column_defaults={"b": "a + 1"}
            )
        # constant defaults still register and materialize
        t = LakeTable.create(
            spark, str(tmp_path / "t2"), df, column_defaults={"b": "42"}
        )
        t.append(spark.createDataFrame([(9,)], "a long"))
        assert {r["a"]: r["b"] for r in t.read().collect()} == {1: 2, 9: 42}

    def test_set_column_default_type_pin_is_explicit(self, spark, tmp_path):
        t = LakeTable.create(
            spark, str(tmp_path / "t"),
            spark.createDataFrame([(1, "x")], "k long, s string"),
        )
        with pytest.raises(Exception):
            t.set_column_default("s", "nonexistent_col")


class TestSizeCoalescedWrites:
    """Round-10 optimization: lake writes derive their file count from
    the optimizer's size estimate (~128 MB target) instead of
    inheriting the source's task count — EXCEPT when the batch's plan
    top is a caller-specified repartition/coalesce (compact's
    range-split, a pruning fixture's scrambled layout), which must be
    honored verbatim."""

    def test_small_batch_lands_as_one_file(self, spark, tmp_path):
        from pyspark.sql import functions as F

        df = (
            spark.range(0, 1000, 1, 16)
            .withColumn("k", F.col("id"))
            .drop("id")
        )
        t = LakeTable.create(spark, str(tmp_path / "t"), df)
        assert len(t._snapshot()[1]) == 1  # KB batch != 16 shards
        t.append(spark.range(0, 100, 1, 8).withColumnRenamed("id", "k"))
        _, active, _ = t._snapshot()
        assert len(active) == 2  # one more file, not 8
        assert t.read().count() == 1100

    def test_explicit_repartition_layout_honored(self, spark, tmp_path):
        from pyspark.sql import functions as F

        df = (
            spark.range(0, 1000, 1, 4)
            .withColumn("k", F.col("id"))
            .drop("id")
            .repartition(5)
        )
        t = LakeTable.create(spark, str(tmp_path / "t"), df)
        assert len(t._snapshot()[1]) == 5  # caller's layout kept
        # compact's explicit range split also survives the sizing rule
        t.compact(target_files=3, cluster_by="k")
        _, active, _ = t._snapshot()
        assert len(active) == 3
        assert t.read().count() == 1000


class TestFusedWriteValidation:
    """Round-10 optimization: CHECK-constraint validation (and
    replace_where's stray probe, merge_into's insert count) ride the
    write job via an Observation checked BETWEEN the staging write and
    the rename into data/ — one fewer Spark action per mutating commit
    with the identical validate-before-any-file-lands contract."""

    def test_rejected_append_lands_no_bytes(self, spark, tmp_path):
        t = LakeTable.create(
            spark, str(tmp_path / "t"),
            spark.createDataFrame([(1, 5)], "k long, v long"),
        )
        t.add_constraint("v_pos", "v > 0")
        data_before = sorted(os.listdir(t._data_dir))
        with pytest.raises(Exception, match="v_pos"):
            t.append(spark.createDataFrame([(2, -1)], "k long, v long"))
        # NOTHING landed: no data file, no leaked staging dir
        assert sorted(os.listdir(t._data_dir)) == data_before
        assert not [d for d in os.listdir(t.path) if d.startswith("_tmp_")]
        assert t.read().count() == 1

    def test_replace_where_stray_fused_lands_no_bytes(self, spark, tmp_path):
        t = LakeTable.create(
            spark, str(tmp_path / "t"),
            spark.createDataFrame(
                [(1, "a"), (2, "b")], "k long, p string"
            ),
            partition_by=["p"],
        )
        files_before = {
            os.path.join(dp, f)
            for dp, _, fs in os.walk(t._data_dir)
            for f in fs
        }
        bad = spark.createDataFrame([(9, "a"), (10, "c")], "k long, p string")
        with pytest.raises(ValueError, match="outside the predicate"):
            t.replace_where(bad, "p = 'a'")
        files_after = {
            os.path.join(dp, f)
            for dp, _, fs in os.walk(t._data_dir)
            for f in fs
        }
        assert files_after == files_before
        assert not [d for d in os.listdir(t.path) if d.startswith("_tmp_")]

    def test_merge_into_observed_insert_count(self, spark, tmp_path):
        t = LakeTable.create(
            spark, str(tmp_path / "t"),
            spark.createDataFrame([(1, 10), (2, 20)], "k long, v long"),
        )
        src = spark.createDataFrame([(2, 99), (3, 30)], "k long, v long")
        r = t.merge_into(
            src, "tgt.k = src.k",
            [
                {"when": "matched", "action": "update", "set": {"v": "src.v"}},
                {"when": "not_matched", "action": "insert"},
            ],
        )
        assert r["inserted"] == 1 and r["updated"] == 1
        rows = {x["k"]: x["v"] for x in t.read().collect()}
        assert rows == {1: 10, 2: 99, 3: 30}

    def test_merge_into_empty_insert_fast_path(self, spark, tmp_path):
        t = LakeTable.create(
            spark, str(tmp_path / "t"),
            spark.createDataFrame([(1, 10), (2, 20)], "k long, v long"),
        )
        src = spark.createDataFrame([(1, 11), (2, 22)], "k long, v long")
        v0 = t.latest_version()
        r = t.merge_into(
            src, "tgt.k = src.k",
            [
                {"when": "matched", "action": "update", "set": {"v": "src.v"}},
                {"when": "not_matched", "action": "insert"},
            ],
        )
        assert r["inserted"] == 0 and r["updated"] == 2
        # the change feed carries NO insert rows for the empty leg
        ins = (
            t.changes(v0)
            .filter("_change_type = 'insert'")
            .count()
        )
        assert ins == 0
        assert {x["v"] for x in t.read().collect()} == {11, 22}

    def test_dv_sidecar_counts_observed(self, spark, tmp_path):
        from pyspark.sql import functions as F

        df = (
            spark.range(0, 100)
            .withColumn("k", F.col("id"))
            .withColumn("v", F.col("id") % 10)
            .drop("id")
            .repartition(4)
        )
        t = LakeTable.create(spark, str(tmp_path / "t"), df)
        assert len(t._snapshot()[1]) == 4
        r = t.delete("v = 3", dv=True)  # ~10 rows spread over 4 files
        assert r["deleted"] == 10
        _, active, _ = t._snapshot()
        assert sum(a.get("dv", {}).get("ndel", 0) for a in active) == 10
        assert t.read().filter("v = 3").count() == 0
        # chained DV op unions the prior sidecar (distinct branch)
        r2 = t.delete("v = 4", dv=True)
        assert r2["deleted"] == 10
        _, active, _ = t._snapshot()
        assert sum(a.get("dv", {}).get("ndel", 0) for a in active) == 20
        assert t.read().count() == 80
