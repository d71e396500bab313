"""Round-9 lake hardening (ADVICE r8): string-source generated-
partition derivation is disabled (non-monotone cast), atomic CDC
accepts generated columns, overwrite materializes generated partition
columns before the presence check, empty-string partition values fail
loudly, and k-mismatched bloom index rows are conservatively kept."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from multi_source_data_lake_with_etl_pipeline_spark.lake import (
    ConstraintViolation,
    LakeTable,
)


class TestStringSourceDerivationDisabled:
    def test_string_cast_date_partition_never_derives(self, spark, tmp_path):
        """A STRING source column under CAST(x AS DATE) must derive NO
        partition bound: string order is not monotone under the cast
        ('2024-1-15' sorts INSIDE ['2024-09-01','2024-10-01'] as a
        string but casts to January), so a derived date bound would
        wrongly skip its partition. The row must come back."""
        df = spark.createDataFrame(
            [(1, "2024-09-05"), (2, "2024-1-15"), (3, "2023-12-31")],
            "k long, s string",
        )
        t = LakeTable.create(
            spark, str(tmp_path / "t"), df,
            partition_by=["d"],
            generated_columns={"d": "CAST(s AS DATE)"},
        )
        # string range that CONTAINS the non-ISO row but whose ISO date
        # prefix range excludes its January partition
        got = sorted(
            r["k"]
            for r in t.read_pruned("s", "2024-09-01", "2024-10-01").collect()
        )
        assert got == [1, 2]
        # point lookup path shares the derivation — same guarantee
        got_eq = [r["k"] for r in t.read_where_eq("s", "2024-1-15").collect()]
        assert got_eq == [2]

    def test_timestamp_source_still_derives(self, spark, tmp_path):
        """The safe path is untouched: a timestamp source still prunes
        the date partitions (only matching dirs listed)."""
        rows = [(i, f"2024-01-{1 + i % 4:02d} 12:00:00") for i in range(40)]
        df = spark.createDataFrame(rows, "k long, s string").select(
            "k", F.col("s").cast("timestamp").alias("ts")
        )
        t = LakeTable.create(
            spark, str(tmp_path / "t"), df,
            partition_by=["event_date"],
            generated_columns={"event_date": "CAST(ts AS DATE)"},
        )
        pr = t.read_pruned("ts", "2024-01-02 00:00:00", "2024-01-02 23:59:59")
        assert sorted(r["k"] for r in pr.collect()) == sorted(
            i for i in range(40) if 1 + i % 4 == 2
        )
        assert pr.inputFiles() and all(
            "event_date=2024-01-02" in f for f in pr.inputFiles()
        )


class TestAtomicCdcGeneratedColumns:
    def _mk(self, spark, path):
        df = spark.createDataFrame([(1, 10), (2, 20)], "k long, v long")
        return LakeTable.create(
            spark, str(path), df, generated_columns={"v2": "v * 2"}
        )

    def test_atomic_accepts_generated_column_in_batch(self, spark, tmp_path):
        """A CDC batch carrying the generated column (correct values)
        applies identically in atomic and non-atomic mode — the 'same
        result, one version' contract."""
        ta = self._mk(spark, tmp_path / "a")
        tb = self._mk(spark, tmp_path / "b")
        batch = spark.createDataFrame(
            [(1, 100, 200, "U"), (3, 30, 60, "I"), (2, None, None, "D")],
            "k long, v long, v2 long, op string",
        )
        ra = ta.apply_cdc(batch, key="k", atomic=True)
        rb = tb.apply_cdc(batch, key="k", atomic=False)
        assert ra["upserted"] == rb["upserted"] == 2
        assert ra["deleted"] == rb["deleted"] == 1
        rows_a = sorted(map(tuple, ta.read().collect()))
        rows_b = sorted(map(tuple, tb.read().collect()))
        assert rows_a == rows_b == [(1, 100, 200), (3, 30, 60)]
        # atomic really was ONE commit (create is version 0)
        assert ra["version"] == 1

    def test_atomic_omitted_generated_column_recomputes(self, spark, tmp_path):
        t = self._mk(spark, tmp_path / "t")
        batch = spark.createDataFrame(
            [(1, 100, "U"), (3, 30, "I")], "k long, v long, op string"
        )
        t.apply_cdc(batch, key="k", atomic=True)
        got = {r["k"]: r["v2"] for r in t.read().collect()}
        assert got == {1: 200, 2: 40, 3: 60}

    def test_atomic_divergent_generated_value_rejected(self, spark, tmp_path):
        """A supplied generated value that disagrees with the expression
        rejects the whole batch BEFORE any commit (non-atomic parity)."""
        t = self._mk(spark, tmp_path / "t")
        v0 = t.latest_version()
        batch = spark.createDataFrame(
            [(1, 100, 999, "U")], "k long, v long, v2 long, op string"
        )
        with pytest.raises(ConstraintViolation, match="GENERATED ALWAYS AS"):
            t.apply_cdc(batch, key="k", atomic=True)
        assert t.latest_version() == v0


class TestOverwriteGeneratedPartition:
    def test_overwrite_supplying_only_source_column(self, spark, tmp_path):
        """overwrite() on a table partitioned by a GENERATED column
        accepts a batch that supplies only the source column — the
        column materializes before the partition-presence check,
        exactly like create/append/replace_where."""
        df = spark.createDataFrame(
            [(1, "2024-01-01 00:00:00")], "k long, s string"
        ).select("k", F.col("s").cast("timestamp").alias("ts"))
        t = LakeTable.create(
            spark, str(tmp_path / "t"), df,
            partition_by=["event_date"],
            generated_columns={"event_date": "CAST(ts AS DATE)"},
        )
        new = spark.createDataFrame(
            [(7, "2024-02-02 08:00:00"), (8, "2024-02-03 09:00:00")],
            "k long, s string",
        ).select("k", F.col("s").cast("timestamp").alias("ts"))
        t.overwrite(new)
        got = {(r["k"], str(r["event_date"])) for r in t.read().collect()}
        assert got == {(7, "2024-02-02"), (8, "2024-02-03")}
        assert t.partition_columns() == ["event_date"]
        # and a genuinely-absent NON-generated partition column still raises
        t2 = LakeTable.create(
            spark, str(tmp_path / "t2"),
            spark.createDataFrame([(1, 2)], "k long, p long"),
            partition_by=["p"],
        )
        with pytest.raises(ValueError, match="missing partition column"):
            t2.overwrite(spark.createDataFrame([(9,)], "k long"))


class TestEmptyStringPartitionValue:
    def test_empty_string_partition_raises(self, spark, tmp_path):
        """'' in a string partition column is indistinguishable from
        NULL in the hive dirname — the write must fail loudly instead
        of silently reading back as NULL."""
        df = spark.createDataFrame([(1, "a"), (2, "")], "k long, p string")
        with pytest.raises(ValueError, match="empty-string"):
            LakeTable.create(spark, str(tmp_path / "t"), df, partition_by=["p"])
        t = LakeTable.create(
            spark, str(tmp_path / "t2"),
            spark.createDataFrame([(1, "a")], "k long, p string"),
            partition_by=["p"],
        )
        v0 = t.latest_version()
        with pytest.raises(ValueError, match="empty-string"):
            t.append(spark.createDataFrame([(3, "")], "k long, p string"))
        assert t.latest_version() == v0

    def test_null_partition_value_still_roundtrips(self, spark, tmp_path):
        t = LakeTable.create(
            spark, str(tmp_path / "t"),
            spark.createDataFrame([(1, "a"), (2, None)], "k long, p string"),
            partition_by=["p"],
        )
        got = {(r["k"], r["p"]) for r in t.read().collect()}
        assert got == {(1, "a"), (2, None)}


class TestBloomKMismatch:
    def test_k_mismatched_index_rows_are_conservative_keep(
        self, spark, tmp_path
    ):
        """An index row recorded with a different k (constant changed
        across builds) can never satisfy the k-gated hit filter — it
        must count as UNINDEXED (file kept), never as 'indexed, no
        hit' (file skipped): results stay exact."""
        df = spark.createDataFrame(
            [(i, f"u{i:04d}") for i in range(100)], "k long, u string"
        )
        t = LakeTable.create(spark, str(tmp_path / "t"), df.repartition(4))
        t.build_value_index("u")
        rel = t.props().get("bloom.u")
        idx_dir = os.path.join(str(tmp_path / "t"), rel)
        idx = spark.read.parquet(idx_dir)
        # simulate an old-build index: bump k on every row
        stale = idx.withColumn("k", F.col("k") + F.lit(1)).collect()
        spark.createDataFrame(
            stale, idx.schema
        ).write.mode("overwrite").parquet(idx_dir + "_stale")
        import shutil

        shutil.rmtree(idx_dir)
        shutil.move(idx_dir + "_stale", idx_dir)
        got = [r["k"] for r in t.read_where_eq("u", "u0042").collect()]
        assert got == [42]


# ===================================================================
# Writer-feature protocol (round 9): commits stamp the writer features
# their table state requires; every mutating op replays the cumulative
# stamps first and refuses unknown names — Delta minWriterVersion
# parity — while reads keep working when reader features are known.
class TestWriterFeatures:
    def _mk(self, spark, path):
        return LakeTable.create(
            spark, str(path),
            spark.createDataFrame([(1, 10), (2, 20)], "k long, v long"),
        )

    def test_stamps_accumulate_and_surface(self, spark, tmp_path):
        t = self._mk(spark, tmp_path / "t")
        assert t.details()["writer_features"] == []  # plain table
        t.add_constraint("k_pos", "k > 0")
        t.rename_column("v", "val")
        d = t.details()["writer_features"]
        assert "check-constraints" in d and "column-mapping" in d
        stamped = set()
        for v in t._log.versions():
            stamped.update(t._log.read_commit(v).get("writer_features", []))
        assert {"check-constraints", "column-mapping"} <= stamped

    def test_unknown_writer_feature_blocks_writes_not_reads(
        self, spark, tmp_path
    ):
        """Forward-compat: a commit stamped by a FUTURE build with a
        writer feature this build doesn't know must refuse every
        mutation loudly — while read()/changes() keep working because
        the reader features are all known."""
        import json as _json

        from multi_source_data_lake_with_etl_pipeline_spark.lake import (
            UnsupportedTableFeature,
        )

        t = self._mk(spark, tmp_path / "t")
        c = {**t._log.read_commit(t.latest_version()), "writer_features": ["vector-clustered-write"]}
        vpath = os.path.join(t._log_dir, f"{t.latest_version():020d}.json")
        with open(vpath, "w") as f:
            _json.dump(c, f, default=dict)
        t2 = LakeTable.load(spark, t.path)  # fresh instance, no caches
        assert sorted(r["k"] for r in t2.read().collect()) == [1, 2]
        assert t2.changes(-1).count() == 2
        batch = spark.createDataFrame([(3, 30)], "k long, v long")
        with pytest.raises(UnsupportedTableFeature, match="vector-clustered-write"):
            t2.append(batch)
        with pytest.raises(UnsupportedTableFeature, match="writer feature"):
            t2.merge(batch, "k")
        with pytest.raises(UnsupportedTableFeature):
            t2.delete("k = 1")
        with pytest.raises(UnsupportedTableFeature):
            t2.delete("k = 1", dv=True)
        # nothing committed, table state untouched
        assert t2.latest_version() == t.latest_version()
        assert sorted(r["k"] for r in t2.read().collect()) == [1, 2]

    def test_writer_features_survive_checkpoint(self, spark, tmp_path):
        t = self._mk(spark, tmp_path / "t")
        t.add_constraint("v_pos", "v > 0")
        for i in range(12):  # cross a checkpoint boundary
            t.append(spark.createDataFrame([(100 + i, 1)], "k long, v long"))
        ck = t._log.checkpoint_at_or_before(t.latest_version())
        assert ck is not None and "check-constraints" in ck["writer_features"]
        assert "check-constraints" in t.details()["writer_features"]


# ===================================================================
# MERGE ... WITH SCHEMA EVOLUTION (round 9): new source columns widen
# the target in the SAME commit, additive-only, composed with column
# mapping and CDF images.
class TestMergeSchemaEvolution:
    def _mk(self, spark, path):
        return LakeTable.create(
            spark, str(path),
            spark.createDataFrame([(1, 10), (2, 20)], "k long, v long"),
        )

    def test_new_source_column_widens_in_same_commit(self, spark, tmp_path):
        t = self._mk(spark, tmp_path / "t")
        v0 = t.latest_version()
        src = spark.createDataFrame(
            [(2, 99, "eu"), (3, 30, "us")], "k long, v long, region string"
        )
        r = t.merge_into(
            src, ["k"],
            clauses=[
                {"when": "matched", "action": "update", "set": "all"},
                {"when": "not_matched", "action": "insert", "values": "all"},
            ],
            evolve_schema=True,
        )
        assert t.latest_version() == v0 + 1  # ONE commit
        got = sorted(
            (row["k"], row["v"], row["region"]) for row in t.read().collect()
        )
        # pre-existing row 1 reads NULL in the new column
        assert got == [(1, 10, None), (2, 99, "eu"), (3, 30, "us")]
        assert [f.name for f in t.read().schema.fields] == ["k", "v", "region"]
        assert r["updated"] == 1 and r["inserted"] == 1
        # CDF: preimage of row 2 carries NULL region; postimage 'eu'
        ch = {
            (row["_change_type"], row["k"]): row["region"]
            for row in t.changes(v0).collect()
        }
        assert ch[("update_preimage", 2)] is None
        assert ch[("update_postimage", 2)] == "eu"
        assert ch[("insert", 3)] == "us"

    def test_without_flag_new_set_column_raises(self, spark, tmp_path):
        t = self._mk(spark, tmp_path / "t")
        src = spark.createDataFrame([(2, 99, "eu")], "k long, v long, region string")
        with pytest.raises(ValueError, match="evolve_schema"):
            t.merge_into(
                src, ["k"],
                clauses=[{"when": "matched", "action": "update",
                          "set": {"region": "src.region"}}],
            )

    def test_type_change_never_evolves(self, spark, tmp_path):
        t = self._mk(spark, tmp_path / "t")
        src = spark.createDataFrame([(2, "x")], "k long, v string")
        with pytest.raises(ValueError, match="type changes never evolve"):
            t.merge_into(
                src, ["k"],
                clauses=[{"when": "matched", "action": "update", "set": "all"}],
                evolve_schema=True,
            )

    def test_evolution_respects_drop_tombstones(self, spark, tmp_path):
        """A re-added logical name that matches a DROPPED physical name
        gets a FRESH physical name — dropped bytes never resurrect."""
        t = LakeTable.create(
            spark, str(tmp_path / "t"),
            spark.createDataFrame([(1, 10, 7)], "k long, v long, old long"),
        )
        t.drop_column("old")
        src = spark.createDataFrame([(1, 11, 42)], "k long, v long, old long")
        t.merge_into(
            src, ["k"],
            clauses=[{"when": "matched", "action": "update", "set": "all"}],
            evolve_schema=True,
        )
        got = t.read().collect()
        assert [(r["k"], r["v"], r["old"]) for r in got] == [(1, 11, 42)]
        f = next(f for f in t._snapshot()[2].fields if f.name == "old")
        from multi_source_data_lake_with_etl_pipeline_spark.lake import _phys
        assert _phys(f) != "old"  # fresh physical name

    def test_evolved_merge_with_dv_mode(self, spark, tmp_path):
        t = self._mk(spark, tmp_path / "t")
        src = spark.createDataFrame([(1, 100, 5.5)], "k long, v long, w double")
        t.merge_into(
            src, ["k"],
            clauses=[{"when": "matched", "action": "update", "set": "all"}],
            evolve_schema=True, dv=True,
        )
        got = sorted((r["k"], r["v"], r["w"]) for r in t.read().collect())
        assert got == [(1, 100, 5.5), (2, 20, None)]


# ===================================================================
# Time-based vacuum retention (round 9): VACUUM ... RETAIN N HOURS —
# versions inside the wall-clock window survive regardless of
# keep_versions; dry_run parity holds.
class TestVacuumRetainHours:
    def _mk_versions(self, spark, path, n=4):
        t = LakeTable.create(
            spark, str(path),
            spark.createDataFrame([(0, 0)], "k long, v long"),
        )
        for i in range(1, n):
            t.overwrite(spark.createDataFrame([(i, i)], "k long, v long"))
        return t

    def test_recent_versions_survive_regardless_of_count(self, spark, tmp_path):
        """All commits landed seconds ago: retain_hours=1 protects every
        version even with keep_versions=0 — nothing is deleted and all
        time travel still works."""
        t = self._mk_versions(spark, tmp_path / "t")
        would = t.vacuum(keep_versions=0, retain_hours=1.0, dry_run=True)
        assert would == 0
        removed = t.vacuum(keep_versions=0, retain_hours=1.0)
        assert removed == 0
        for v in range(4):
            assert [r["k"] for r in t.read(v).collect()] == [v]

    def test_expired_window_falls_back_to_keep_versions(self, spark, tmp_path):
        """Backdate every commit past the window: retain_hours protects
        nothing extra, so keep_versions=0 drops history exactly like a
        plain vacuum — and dry_run predicted the same count."""
        import json as _json

        t = self._mk_versions(spark, tmp_path / "t")
        for v in t._log.versions():  # age all commits by 10 hours
            p = os.path.join(t._log_dir, f"{v:020d}.json")
            c = _json.load(open(p))
            c["ts"] = c["ts"] - 36000
            _json.dump(c, open(p, "w"))
        would = t.vacuum(keep_versions=0, retain_hours=1.0, dry_run=True)
        assert would > 0
        removed = t.vacuum(keep_versions=0, retain_hours=1.0)
        assert removed == would
        # current snapshot still reads; old time travel is gone
        assert [r["k"] for r in t.read().collect()] == [3]
        with pytest.raises(Exception):
            t.read(0).collect()

    def test_partial_window_protects_newer_versions_only(self, spark, tmp_path):
        """Backdate only the OLDEST two commits: the horizon lands at
        the first in-window version, protecting everything newer."""
        import json as _json

        t = self._mk_versions(spark, tmp_path / "t")
        for v in (0, 1):
            p = os.path.join(t._log_dir, f"{v:020d}.json")
            c = _json.load(open(p))
            c["ts"] = c["ts"] - 36000
            _json.dump(c, open(p, "w"))
        t.vacuum(keep_versions=0, retain_hours=1.0)
        # versions 2 and 3 (in-window) still time travel
        assert [r["k"] for r in t.read(2).collect()] == [2]
        assert [r["k"] for r in t.read(3).collect()] == [3]
        with pytest.raises(Exception):
            t.read(0).collect()


# ===================================================================
# Optimized writes (round 9 — Delta autoOptimize.optimizeWrite
# parity): partitioned writes repartition by the partition columns
# first, so each write lands ~1 file per partition instead of
# tasks x partitions shards; a salt splits hot partitions.
class TestOptimizedWrite:
    def test_one_file_per_partition_per_write(self, spark, tmp_path):
        df = spark.range(0, 400, 1, 8).select(
            F.col("id").alias("k"),
            (F.col("id") % 5).cast("long").alias("p"),
            (F.col("id") * 2).alias("v"),
        )
        t = LakeTable.create(
            spark, str(tmp_path / "t"), df,
            partition_by=["p"], optimized_write=True,
        )
        assert t.details()["num_files"] == 5  # one per partition
        # later writers honor the table property automatically
        t.append(
            spark.range(400, 600, 1, 8).select(
                F.col("id").alias("k"),
                (F.col("id") % 5).cast("long").alias("p"),
                (F.col("id") * 2).alias("v"),
            )
        )
        assert t.details()["num_files"] == 10
        assert t.read().count() == 600
        # content identical to an unoptimized twin
        u = LakeTable.create(
            spark, str(tmp_path / "u"), df, partition_by=["p"],
        )
        assert sorted(map(tuple, t.read(0).collect())) == sorted(
            map(tuple, u.read().collect())
        )

    def test_salt_splits_hot_partition(self, spark, tmp_path):
        """At test scale AQE's size-based coalescing would re-merge the
        tiny salted splits (the right call for real file sizing) — turn
        it off to observe the salt keys themselves."""
        df = spark.range(0, 300, 1, 8).select(
            F.col("id").alias("k"),
            F.lit(0).cast("long").alias("p"),  # ONE hot partition
            (F.col("id") * 2).alias("v"),
        )
        key = "spark.sql.adaptive.coalescePartitions.enabled"
        prev = spark.conf.get(key)
        spark.conf.set(key, "false")
        try:
            t = LakeTable.create(
                spark, str(tmp_path / "t"), df,
                partition_by=["p"], optimized_write=True,
                optimized_write_salt=4,
            )
        finally:
            spark.conf.set(key, prev)
        nf = t.details()["num_files"]
        assert 2 <= nf <= 4  # split across salt keys, not 8 task shards
        assert t.read().count() == 300


# ===================================================================
# Distributed FSCK (round 9): per-file footer + DV checks as a Spark
# mapInPandas job — identical verdicts to the serial driver loop, on
# healthy AND damaged tables.
class TestDistributedFsck:
    def test_matches_serial_on_healthy_and_damaged(self, spark, tmp_path):
        import json as _json

        df = spark.range(0, 60, 1, 2).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        )
        t = LakeTable.create(spark, str(tmp_path / "t"), df)
        t.delete_keys(
            spark.createDataFrame([(1,), (2,)], "k long"), "k", dv=True
        )
        t.update("k = 5", {"v": "-1"}, dv=True)

        def both():
            s = t.verify_integrity()
            d = t.verify_integrity(distributed=True)
            for key in ("ok", "orphan_files"):
                assert s[key] == d[key], key
            for key in ("missing_files", "rowcount_mismatches", "dv_issues"):
                assert sorted(s[key]) == sorted(d[key]), key
            return d

        r = both()
        assert r["ok"] and not r["dv_issues"]
        # tamper ndel in the latest commit — both paths must flag it
        vpath = os.path.join(t._log_dir, f"{t.latest_version():020d}.json")
        c = _json.load(open(vpath))
        for a in c["add"]:
            if a.get("dv"):
                a["dv"]["ndel"] += 1
        _json.dump(c, open(vpath, "w"))
        r = both()
        assert not r["ok"] and r["dv_issues"]
        # delete an active data file — both paths must report it missing
        victim = t._snapshot()[1][0]["path"]
        os.remove(t._abs(victim))
        r = both()
        assert not r["ok"] and victim in r["missing_files"]


# ===================================================================
# Identity columns (round 9 — Delta GENERATED ALWAYS AS IDENTITY
# parity): engine-assigned BIGINT surrogate keys — unique, monotone in
# step direction, gaps allowed; high-water mark in props; ALWAYS
# semantics (user-supplied values rejected); updates preserve ids,
# merge inserts get fresh ones; "identity-columns" writer stamp.
class TestIdentityColumns:
    def _mk(self, spark, path, **kw):
        return LakeTable.create(
            spark, str(path),
            spark.createDataFrame([("a",), ("b",), ("c",)], "name string"),
            identity_columns={"id": (1, 1)}, **kw,
        )

    def test_assign_unique_monotone_across_writes(self, spark, tmp_path):
        t = self._mk(spark, tmp_path / "t")
        r1 = t.read().collect()
        ids1 = sorted(r["id"] for r in r1)
        assert len(set(ids1)) == 3 and min(ids1) >= 1
        t.append(spark.createDataFrame([("d",), ("e",)], "name string"))
        rows = t.read().collect()
        ids = [r["id"] for r in rows]
        assert len(set(ids)) == 5  # unique across writes
        by_name = {r["name"]: r["id"] for r in rows}
        assert min(by_name["d"], by_name["e"]) > max(ids1)  # monotone
        assert "identity-columns" in t.details()["writer_features"]
        assert t.details()["identity_columns"] == ["id"]

    def test_always_semantics_reject_supplied_values(self, spark, tmp_path):
        t = self._mk(spark, tmp_path / "t")
        batch = spark.createDataFrame([("x", 999)], "name string, id long")
        with pytest.raises(ValueError, match="IDENTITY"):
            t.append(batch)
        with pytest.raises(ValueError, match="IDENTITY"):
            t.update("name = 'a'", {"id": "123"})
        with pytest.raises(ValueError, match="IDENTITY"):
            t.merge(batch, "name")

    def test_merge_updates_preserve_inserts_assign(self, spark, tmp_path):
        t = self._mk(spark, tmp_path / "t")
        before = {r["name"]: r["id"] for r in t.read().collect()}
        t.merge(
            spark.createDataFrame([("a",), ("z",)], "name string"), "name"
        )
        after = {r["name"]: r["id"] for r in t.read().collect()}
        assert after["a"] == before["a"]  # matched keeps its id
        assert after["z"] > max(before.values())  # fresh id above mark
        assert len(set(after.values())) == 4

    def test_merge_into_insert_assigns_update_preserves(self, spark, tmp_path):
        t = self._mk(spark, tmp_path / "t")
        before = {r["name"]: r["id"] for r in t.read().collect()}
        src = spark.createDataFrame([("a", 1), ("q", 2)], "name string, flag long")
        with pytest.raises(ValueError, match="IDENTITY"):
            t.merge_into(src.select("name"), ["name"], clauses=[
                {"when": "matched", "action": "update", "set": {"id": "src.name"}},
            ])
        r = t.merge_into(
            src.select("name"), ["name"],
            clauses=[
                {"when": "matched", "action": "update", "set": "all"},
                {"when": "not_matched", "action": "insert", "values": "all"},
            ],
        )
        assert r["updated"] == 1 and r["inserted"] == 1
        after = {r2["name"]: r2["id"] for r2 in t.read().collect()}
        assert after["a"] == before["a"]
        assert after["q"] > max(before.values())
        assert len(set(after.values())) == 4

    def test_overwrite_never_recycles_ids(self, spark, tmp_path):
        t = self._mk(spark, tmp_path / "t")
        old_max = max(r["id"] for r in t.read().collect())
        t.overwrite(spark.createDataFrame([("p",), ("q",)], "name string"))
        ids = [r["id"] for r in t.read().collect()]
        assert min(ids) > old_max  # watermark survives the replace
        assert t.details()["identity_columns"] == ["id"]

    def test_descending_step(self, spark, tmp_path):
        t = LakeTable.create(
            spark, str(tmp_path / "t"),
            spark.createDataFrame([("a",), ("b",)], "name string"),
            identity_columns={"id": (-1, -2)},
        )
        first = sorted(r["id"] for r in t.read().collect())
        assert max(first) <= -1
        t.append(spark.createDataFrame([("c",)], "name string"))
        ids = {r["name"]: r["id"] for r in t.read().collect()}
        assert ids["c"] < min(first)  # monotone downward
        assert len(set(ids.values())) == 3

    def test_stream_batches_idempotent_ids(self, spark, tmp_path):
        """append_stream_batch on an identity table: the replayed batch
        is a no-op (no re-assignment), distinct ids across batches."""
        t = self._mk(spark, tmp_path / "t")
        b = spark.createDataFrame([("s1",), ("s2",)], "name string")
        v1 = t.append_stream_batch(b, "app", 0)
        assert v1 is not None
        assert t.append_stream_batch(b, "app", 0) is None  # replay no-op
        t.append_stream_batch(
            spark.createDataFrame([("s3",)], "name string"), "app", 1
        )
        ids = [r["id"] for r in t.read().collect()]
        assert len(ids) == 6 and len(set(ids)) == 6

    def test_apply_cdc_on_identity_table(self, spark, tmp_path):
        t = self._mk(spark, tmp_path / "t")
        before = {r["name"]: r["id"] for r in t.read().collect()}
        batch = spark.createDataFrame(
            [("a", "U"), ("n", "I"), ("b", "D")], "name string, op string"
        )
        res = t.apply_cdc(batch, key="name", atomic=True)
        assert res["upserted"] == 2 and res["deleted"] == 1
        after = {r["name"]: r["id"] for r in t.read().collect()}
        assert set(after) == {"a", "c", "n"}
        assert after["a"] == before["a"] and after["c"] == before["c"]
        assert after["n"] > max(before.values())

    def test_clone_carries_spec_and_watermark(self, spark, tmp_path):
        t = self._mk(spark, tmp_path / "t")
        c = t.clone_to(str(tmp_path / "c"))
        old_max = max(r["id"] for r in c.read().collect())
        c.append(spark.createDataFrame([("zz",)], "name string"))
        ids = [r["id"] for r in c.read().collect()]
        assert len(set(ids)) == 4 and max(ids) > old_max


# ===================================================================
# Column DEFAULT values (round 9 — Delta DEFAULT parity): constant
# expressions that materialize when a write batch OMITS the column;
# supplied values (including explicit NULL) win; pre-default files
# keep NULL (no backfill); metadata-only ALTERs.
class TestColumnDefaults:
    def test_append_omitting_column_gets_default(self, spark, tmp_path):
        t = LakeTable.create(
            spark, str(tmp_path / "t"),
            spark.createDataFrame([(1, "raw")], "k long, src string"),
            column_defaults={"src": "'unknown'"},
        )
        t.append(spark.createDataFrame([(2,)], "k long"))           # omitted
        t.append(spark.createDataFrame([(3, None)], "k long, src string"))
        got = {r["k"]: r["src"] for r in t.read().collect()}
        assert got == {1: "raw", 2: "unknown", 3: None}  # NULL stays NULL
        assert t.details()["column_defaults"] == {"src": "'unknown'"}

    def test_no_backfill_and_alter_lifecycle(self, spark, tmp_path):
        t = LakeTable.create(
            spark, str(tmp_path / "t"),
            spark.createDataFrame([(1,)], "k long"),
        )
        t.append(spark.createDataFrame([(2, 5)], "k long, v long"), merge_schema=True)
        t.set_column_default("v", "99")
        t.append(spark.createDataFrame([(3,)], "k long"))
        got = {r["k"]: r["v"] for r in t.read().collect()}
        # rows 1-2 predate the default (1 predates the column): no backfill
        assert got == {1: None, 2: 5, 3: 99}
        t.drop_column_default("v")
        t.append(spark.createDataFrame([(4,)], "k long"))
        got = {r["k"]: r["v"] for r in t.read().collect()}
        assert got[4] is None
        with pytest.raises(ValueError, match="no DEFAULT"):
            t.drop_column_default("v")

    def test_default_must_be_constant(self, spark, tmp_path):
        t = LakeTable.create(
            spark, str(tmp_path / "t"),
            spark.createDataFrame([(1, 2)], "k long, v long"),
        )
        with pytest.raises(Exception):  # column reference rejected
            t.set_column_default("v", "k + 1")
        t2 = LakeTable.create(
            spark, str(tmp_path / "t2"),
            spark.createDataFrame([(1, 2)], "k long, v long"),
            generated_columns={"g": "v * 2"},
        )
        with pytest.raises(ValueError, match="GENERATED"):
            t2.set_column_default("g", "1")

    def test_merge_into_insert_uses_default(self, spark, tmp_path):
        t = LakeTable.create(
            spark, str(tmp_path / "t"),
            spark.createDataFrame([(1, 10, "a")], "k long, v long, tag string"),
            column_defaults={"tag": "'dflt'"},
        )
        src = spark.createDataFrame([(1, 11), (2, 20)], "k long, v long")
        t.merge_into(src, ["k"], clauses=[
            {"when": "matched", "action": "update", "set": {"v": "src.v"}},
            {"when": "not_matched", "action": "insert",
             "values": {"k": "src.k", "v": "src.v"}},  # tag unlisted
        ])
        got = {r["k"]: (r["v"], r["tag"]) for r in t.read().collect()}
        assert got == {1: (11, "a"), 2: (20, "dflt")}

    def test_apply_cdc_atomic_matches_two_commit_with_default(
        self, spark, tmp_path
    ):
        def mk(p):
            return LakeTable.create(
                spark, str(p),
                spark.createDataFrame(
                    [(1, 10, "x"), (2, 20, "y")], "k long, v long, tag string"
                ),
                column_defaults={"tag": "'cdc'"},
            )

        ta, tb = mk(tmp_path / "a"), mk(tmp_path / "b")
        batch = spark.createDataFrame(
            [(1, 100, "U"), (3, 30, "I")], "k long, v long, op string"
        )
        ta.apply_cdc(batch, key="k", atomic=True)
        tb.apply_cdc(batch, key="k", atomic=False)
        rows_a = sorted(map(tuple, ta.read().collect()))
        rows_b = sorted(map(tuple, tb.read().collect()))
        assert rows_a == rows_b == [
            (1, 100, "cdc"), (2, 20, "y"), (3, 30, "cdc")
        ]

    def test_overwrite_keeps_default_column_and_metadata(self, spark, tmp_path):
        t = LakeTable.create(
            spark, str(tmp_path / "t"),
            spark.createDataFrame([(1, "a")], "k long, tag string"),
            column_defaults={"tag": "'d'"},
        )
        t.overwrite(spark.createDataFrame([(9,)], "k long"))  # tag omitted
        got = [(r["k"], r["tag"]) for r in t.read().collect()]
        assert got == [(9, "d")]
        assert t.details()["column_defaults"] == {"tag": "'d'"}
        t.append(spark.createDataFrame([(10,)], "k long"))
        got = {r["k"]: r["tag"] for r in t.read().collect()}
        assert got == {9: "d", 10: "d"}


# ===================================================================
# Metadata surfaces (round 9): files_df (Iceberg table.files parity)
# and GENERATE symlink_format_manifest (Delta parity).
class TestMetadataSurfaces:
    def test_files_df_matches_snapshot(self, spark, tmp_path):
        df = spark.range(0, 40, 1, 2).select(
            F.col("id").alias("k"),
            (F.col("id") % 2).cast("long").alias("p"),
            (F.col("id") * 2).alias("v"),
        )
        t = LakeTable.create(spark, str(tmp_path / "t"), df, partition_by=["p"])
        t.delete_keys(spark.createDataFrame([(1,)], "k long"), "k", dv=True)
        fdf = t.files_df()
        d = t.details()
        agg = fdf.agg(
            F.count(F.lit(1)).alias("nf"),
            F.sum("rows").alias("rows"),
            F.sum("live_rows").alias("live"),
            F.sum("dv_deleted").alias("ndel"),
        ).collect()[0]
        assert agg["nf"] == d["num_files"]
        assert agg["rows"] == d["total_rows"]
        assert agg["live"] == d["live_rows"]
        assert agg["ndel"] == d["dv_deleted_rows"]
        # partition values queryable
        parts = {r["partition"] for r in fdf.collect()}
        assert parts == {'{"p": 0}', '{"p": 1}'}

    def test_symlink_manifest_lists_exact_snapshot(self, spark, tmp_path):
        df = spark.range(0, 40, 1, 2).select(
            F.col("id").alias("k"),
            (F.col("id") % 2).cast("long").alias("p"),
            (F.col("id") * 2).alias("v"),
        )
        t = LakeTable.create(spark, str(tmp_path / "t"), df, partition_by=["p"])
        root = t.generate_symlink_manifest()
        listed = []
        for dirpath, _dirs, files in os.walk(root):
            for fn in files:
                assert fn == "manifest"
                listed += [
                    ln.removeprefix("file:")
                    for ln in open(os.path.join(dirpath, fn)).read().splitlines()
                ]
        active = {os.path.abspath(t._abs(a["path"])) for a in t._snapshot()[1]}
        assert set(listed) == active
        # a symlink reader over the manifest sees the exact table
        got = spark.read.parquet(*listed).count()
        assert got == 40
        # DV tables refuse loudly (a symlink reader would resurrect rows)
        t.delete_keys(spark.createDataFrame([(1,)], "k long"), "k", dv=True)
        with pytest.raises(ValueError, match="deletion vectors"):
            t.generate_symlink_manifest()


# ===================================================================
# CONVERT TO LAKE (round 9 — Delta CONVERT TO DELTA parity): an
# existing parquet directory becomes a lake table IN PLACE — no bytes
# rewritten; footer stats from metadata; hive-partitioned sources via
# a declared partition schema; the full op surface works afterwards.
class TestConvertFromParquet:
    def test_flat_directory_converts_in_place(self, spark, tmp_path):
        src = str(tmp_path / "src")
        spark.range(0, 100, 1, 4).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        ).write.parquet(src)
        t = LakeTable.convert_from_parquet(spark, src, str(tmp_path / "t"))
        assert t.read().count() == 100
        assert t.rows() == 100  # metadata-only count works
        # no bytes copied: data files are HARDLINKS of the source
        # (same inode), under fresh uuid basenames
        import glob

        src_inodes = {
            os.stat(p).st_ino for p in glob.glob(src + "/*.parquet")
        }
        for a in t._snapshot()[1]:
            st = os.stat(t._abs(a["path"]))
            assert st.st_ino in src_inodes and st.st_nlink >= 2
        # stats landed -> pruning works on the converted files
        assert len(t.files_overlapping("k", 0, 0)) < t.details()["num_files"]
        # ops work: append lands in the table's own data dir, delete DV
        t.append(spark.createDataFrame([(1000, 1)], "k long, v long"))
        t.delete("k = 5", dv=True)
        assert t.read().count() == 100
        got = t.read_pruned("k", 3, 4).collect()
        assert sorted(r["k"] for r in got) == [3, 4]

    def test_partitioned_source_with_declared_schema(self, spark, tmp_path):
        src = str(tmp_path / "src")
        spark.range(0, 60, 1, 4).select(
            F.col("id").alias("k"),
            (F.col("id") % 3).cast("long").alias("p"),
            (F.col("id") * 2).alias("v"),
        ).write.partitionBy("p").parquet(src)
        t = LakeTable.convert_from_parquet(
            spark, src, str(tmp_path / "t"), partition_schema="p long"
        )
        assert t.partition_columns() == ["p"]
        assert t.read().count() == 60
        # partition values read back typed, and pruning is metadata
        got = t.read_pruned("p", 1, 1)
        assert got.count() == 20
        assert {r["p"] for r in got.collect()} == {1}
        assert len(t.files_overlapping("p", 1, 1)) < t.details()["num_files"]
        # partition-scoped ops work on the converted layout
        t.replace_where(
            spark.createDataFrame([(999, 2, 0)], "k long, p long, v long"),
            "p = 2",
        )
        assert t.read().count() == 41
        assert t.read_pruned("p", 2, 2).count() == 1

    def test_malformed_partition_layout_raises(self, spark, tmp_path):
        src = str(tmp_path / "src")
        spark.range(0, 10).select(F.col("id").alias("k")).write.parquet(src)
        with pytest.raises(ValueError, match="partition layout"):
            LakeTable.convert_from_parquet(
                spark, src, str(tmp_path / "t"), partition_schema="p long"
            )


# ===================================================================
# Bucket-transform hidden partitioning (round 9 — Iceberg parity):
# create(bucket_by=(col, n)) = generated pmod(xxhash64(col), n)
# partition column; point lookups prune to ONE bucket through the
# general equality-derivation rule (X = v implies g = f(v)).
class TestBucketBy:
    def test_point_lookup_prunes_to_one_bucket(self, spark, tmp_path):
        df = spark.range(0, 400, 1, 8).select(
            F.col("id").alias("k"), (F.col("id") * 3).alias("v")
        )
        t = LakeTable.create(
            spark, str(tmp_path / "t"), df, bucket_by=("k", 8),
            optimized_write=True,
        )
        total = t.details()["num_files"]
        assert total == 8  # optimized write: one file per bucket
        for probe in (0, 17, 399):
            got = t.read_where_eq("k", probe)
            rows = got.collect()
            assert [r["v"] for r in rows] == [probe * 3]
            assert len(got.inputFiles()) == 1  # ONE bucket's file
        # range probes never use the hash (non-monotone): still exact
        assert t.read_pruned("k", 10, 12).count() == 3

    def test_buckets_compose_with_partitions(self, spark, tmp_path):
        df = spark.range(0, 200, 1, 4).select(
            F.col("id").alias("k"),
            (F.col("id") % 2).cast("long").alias("region"),
            (F.col("id") * 3).alias("v"),
        )
        t = LakeTable.create(
            spark, str(tmp_path / "t"), df,
            partition_by=["region"], bucket_by=("k", 4),
            optimized_write=True,
        )
        assert t.partition_columns() == ["region", "k_bucket"]
        got = t.read_where_eq("k", 33)
        assert [r["v"] for r in got.collect()] == [99]
        # bucket pruning keeps at most one file PER REGION (k's range
        # stats can't separate interleaved regions; the bucket can)
        assert len(got.inputFiles()) <= 2
        assert all("k_bucket=" in f for f in got.inputFiles())
        # appends land bucketed by construction
        t.append(
            spark.createDataFrame([(1000, 0)], "k long, region long").select(
                "k", "region", F.lit(3000).cast("long").alias("v")
            )
        )
        got = t.read_where_eq("k", 1000)
        assert [r["v"] for r in got.collect()] == [3000]
        assert len(got.inputFiles()) == 1  # k=1000 outside old ranges


def _bucketed(spark, path, rows=400, buckets=8):
    df = spark.range(0, rows, 1, 8).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("v")
    )
    return LakeTable.create(
        spark, str(path), df, bucket_by=("k", buckets), optimized_write=True,
    )


# Spark jobs per lake op: what the commit log already holds (the file
# list, a generated partition column's value for a literal) costs no
# job, and a DV merge stays within its job budget.
#
# The DV merge budget: one grouped job finds the touched files, the
# data and sidecar writes carry every count, and the change feed is one
# more write (AQE splits each into its stage jobs). It launched 18
# before the counts moved onto the writes.
DV_MERGE_JOBS = 12

# Jobs for the SECOND call of each row-level DML op, per mode (in DV
# mode the first call has already left a vector). Every op ends in one
# grouped aggregate that finds the touched files, one write of its new
# rows (copy-on-write: plus the kept rows, in the same job), the DV
# sidecar write and the change feed. Before the ops shared that tail
# they launched, copy-on-write / DV: merge 15 / 14-15, update 6 / 9,
# delete 6 / 7, delete_keys 11 / 11, merge_into 18 / 18. A DV merge
# measures 13 or 14 from run to run (AQE stage jobs).
REPEAT_DML_JOBS = {
    ("merge", False): 12, ("merge", True): 14,
    ("update", False): 6, ("update", True): 8,
    ("delete", False): 6, ("delete", True): 6,
    ("delete_keys", False): 11, ("delete_keys", True): 10,
    ("merge_into", False): 14, ("merge_into", True): 15,
}


def _dml(spark, t, op: str, i: int, dv: bool) -> None:
    """Call ``i`` of ``op``: acts on the keys k < 40 with k % 4 == i."""
    hit = f"k < 40 AND k % 4 = {i}"
    src = spark.createDataFrame(
        [(k, -1 - i) for k in range(i, 40, 4)]
        + [(1000 + 10 * i + j, -9) for j in range(10)],
        "k long, v long",
    )
    if op == "merge":
        t.merge(src, "k", dv=dv)
    elif op == "update":
        t.update(hit, {"v": "-v"}, dv=dv)
    elif op == "delete":
        t.delete(hit, dv=dv)
    elif op == "delete_keys":
        t.delete_keys(src.select("k"), "k", dv=dv)
    else:
        t.merge_into(src, ["k"], [
            {"when": "matched", "action": "update", "set": {"v": "src.v"}},
            {"when": "not_matched", "action": "insert", "values": "all"},
        ], dv=dv)


class TestJobCounts:
    def test_read_of_many_files_launches_no_job(self, spark, tmp_path, spark_jobs):
        df = spark.range(0, 400).select(F.col("id").alias("k"))
        t = LakeTable.create(spark, str(tmp_path / "t"), df.repartition(40))
        assert t.details()["num_files"] >= 40
        with spark_jobs() as jobs:
            got = t.read()
        assert jobs == []  # no listing job over the log's file list
        assert got.count() == 400

    def test_tune_session_pins_local_listing(self, spark):
        from multi_source_data_lake_with_etl_pipeline_spark.session import (
            LOCAL_LISTING_THRESHOLD,
            tune_session,
        )

        key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
        spark.conf.set(key, "32")  # Spark's default, as a foreign session has it
        try:
            tune_session(spark)
            assert spark.conf.get(key) == str(LOCAL_LISTING_THRESHOLD)
        finally:
            spark.conf.set(key, str(LOCAL_LISTING_THRESHOLD))

    def test_bucket_point_lookup_launches_no_job(self, spark, tmp_path, spark_jobs):
        t = _bucketed(spark, tmp_path / "t")
        with spark_jobs() as jobs:
            got = t.read_where_eq("k", 17)
        assert jobs == []  # bucket value evaluated on the driver
        assert [r["v"] for r in got.collect()] == [51]
        assert len(got.inputFiles()) == 1

    def test_dv_merge_job_budget(self, spark, tmp_path, spark_jobs):
        t = _bucketed(spark, tmp_path / "t")
        src = spark.createDataFrame(
            [(k, -1) for k in range(0, 40, 4)] + [(k, -2) for k in range(1000, 1010)],
            "k long, v long",
        )
        with spark_jobs() as jobs:
            out = t.merge(src, "k", dv=True)
        assert (out["updated"], out["inserted"]) == (10, 10)
        assert len(jobs) <= DV_MERGE_JOBS, jobs
        assert t.read().filter("v < 0").count() == 20
        assert t.read().count() == 410

    @pytest.mark.parametrize("dv", [False, True], ids=["cow", "dv"])
    @pytest.mark.parametrize(
        "op", ["merge", "update", "delete", "delete_keys", "merge_into"]
    )
    def test_repeat_dml_job_budget(self, spark, tmp_path, spark_jobs, op, dv):
        t = _bucketed(spark, tmp_path / "t")
        _dml(spark, t, op, 0, dv)
        assert any(a.get("dv") for a in t._snapshot()[1]) == dv
        with spark_jobs() as jobs:
            _dml(spark, t, op, 1, dv)
        assert len(jobs) <= REPEAT_DML_JOBS[op, dv], jobs

    @pytest.mark.parametrize(
        "op", ["merge", "update", "delete", "delete_keys", "merge_into"]
    )
    def test_repeat_dv_ops_match_copy_on_write(self, spark, tmp_path, op):
        """Four repeat DV calls stack vectors on the same files: the
        log's ndel counts stay exact and the rows match copy-on-write."""
        tables = {dv: _bucketed(spark, tmp_path / str(dv)) for dv in (False, True)}
        for dv, t in tables.items():
            for i in range(4):
                _dml(spark, t, op, i, dv)
            assert t.verify_integrity()["ok"]
        cow, dv = (sorted(map(tuple, t.read().collect())) for t in tables.values())
        assert cow == dv
        assert tables[True].rows() == len(dv)


class TestNarrowedFallbacks:
    """Driver-side partition evaluation gives up only on what it exists
    to absorb (analysis/parse errors, a literal outside its type); any
    other error propagates instead of silently disabling pruning."""

    @staticmethod
    def _raising(exc):
        def f(*_a, **_k):
            raise exc

        return f

    def test_derived_partition_value(self, spark, tmp_path, monkeypatch):
        from pyspark.errors import AnalysisException

        from multi_source_data_lake_with_etl_pipeline_spark import lake

        t = _bucketed(spark, tmp_path / "t")
        monkeypatch.setattr(
            lake, "_literal_rows", self._raising(AnalysisException("no"))
        )
        got = t.read_where_eq("k", 17)  # no derived bucket: reads all 8
        assert [r["v"] for r in got.collect()] == [51]
        assert len(got.inputFiles()) == 8
        monkeypatch.setattr(lake, "_literal_rows", self._raising(RuntimeError("boom")))
        with pytest.raises(RuntimeError, match="boom"):
            t.read_where_eq("k", 17)

    def test_partition_candidates(self, spark, tmp_path, monkeypatch):
        from pyspark.errors import AnalysisException

        t = _bucketed(spark, tmp_path / "t")
        bucket = t.read_where_eq("k", 17).first()["k_bucket"]
        n = t.read().filter(f"k_bucket = {bucket}").count()
        monkeypatch.setattr(
            LakeTable, "_matching_entries", self._raising(AnalysisException("no"))
        )
        assert t.delete(f"k_bucket = {bucket}")["deleted"] == n
        assert t.read().count() == 400 - n
        monkeypatch.setattr(
            LakeTable, "_matching_entries", self._raising(RuntimeError("boom"))
        )
        with pytest.raises(RuntimeError, match="boom"):
            t.delete(f"k_bucket = {(bucket + 1) % 8}")

    def test_data_column_predicate_skips_partition_analysis(
        self, spark, tmp_path, monkeypatch
    ):
        t = _bucketed(spark, tmp_path / "t")
        calls = []
        orig = LakeTable._matching_entries

        def spy(self, *a, **k):
            calls.append(a[1])
            return orig(self, *a, **k)

        monkeypatch.setattr(LakeTable, "_matching_entries", spy)
        assert t.update("k >= 10 AND k < 20", {"v": "v + 1"})["updated"] == 10
        want = t.read().filter("v > 1000").count()
        assert t.delete("v > 1000")["deleted"] == want > 0
        assert calls == []  # analysis over partition values never tried
        assert t.delete("k_bucket = 0")["deleted"] > 0
        assert calls == ["k_bucket = 0"]


# ===================================================================
# Liquid clustering (round 9 — Delta CLUSTER BY parity): clustering
# columns as a table property; writes land unclustered; OPTIMIZE picks
# the columns up automatically and re-tightens footer ranges.
class TestLiquidClustering:
    def test_optimize_reclusters_automatically(self, spark, tmp_path):
        df = spark.range(0, 4000, 1, 8).select(
            (F.col("id") * 2654435761 % 4096).alias("k"),
            F.col("id").alias("v"),
        )
        t = LakeTable.create(
            spark, str(tmp_path / "t"), df, cluster_by=["k"],
        )
        assert t.details()["clustering_columns"] == ["k"]
        # scrambled k: every file overlaps a narrow probe pre-OPTIMIZE
        before = len(t.files_overlapping("k", 100, 120))
        t.compact(target_files=8)  # cluster_by=None -> prop applies
        after = len(t.files_overlapping("k", 100, 120))
        assert after < before or before == 1
        assert after <= 2  # range-clustered: probe hits ~one file
        assert t.read().count() == 4000
        # ALTER CLUSTER BY swaps the columns; NONE clears
        t.set_cluster_by(["v"])
        assert t.clustering_columns() == ["v"]
        t.compact(target_files=8)
        assert len(t.files_overlapping("v", 0, 30)) <= 2
        t.set_cluster_by(None)
        assert t.clustering_columns() == []

    def test_optimize_if_needed_uses_clustering(self, spark, tmp_path):
        t = LakeTable.create(
            spark, str(tmp_path / "t"),
            spark.range(0, 2000, 1, 1).select(
                (F.col("id") * 2654435761 % 2048).alias("k"),
                F.col("id").alias("v"),
            ),
            cluster_by=["k"],
        )
        for i in range(8):  # shower of small appends
            t.append(
                spark.createDataFrame(
                    [(int(i * 37 % 2048), 100000 + i)], "k long, v long"
                )
            )
        r = t.optimize_if_needed(min_small_files=4)
        assert r["compacted"]
        # the rewrite came out clustered: narrow probe prunes
        assert len(t.files_overlapping("k", 5, 10)) <= 2
        assert t.read().count() == 2008

    def test_exclusive_with_partitioning(self, spark, tmp_path):
        df = spark.createDataFrame([(1, 2, 3)], "k long, p long, v long")
        with pytest.raises(ValueError, match="mutually exclusive"):
            LakeTable.create(
                spark, str(tmp_path / "t"), df,
                partition_by=["p"], cluster_by=["k"],
            )
        t = LakeTable.create(
            spark, str(tmp_path / "t2"), df, partition_by=["p"]
        )
        with pytest.raises(ValueError, match="mutually exclusive"):
            t.set_cluster_by(["k"])


# ===================================================================
# Round-9 feature COMPOSITIONS: the interactions are where lakes rot —
# identity x partitions x CDF, defaults x rename, bucket x DV,
# convert x clone x vacuum, liquid x DV, evolution x defaults.
class TestRound9Compositions:
    def test_identity_on_partitioned_table_with_cdf(self, spark, tmp_path):
        t = LakeTable.create(
            spark, str(tmp_path / "t"),
            spark.createDataFrame(
                [(0, "a"), (1, "b"), (0, "c")], "p long, name string"
            ),
            partition_by=["p"], identity_columns={"id": (1, 1)},
        )
        t.append(spark.createDataFrame([(1, "d")], "p long, name string"))
        rows = t.read().collect()
        assert len({r["id"] for r in rows}) == 4  # unique across partitions
        # partition pruning still metadata-only with the identity col
        pr = t.read_pruned("p", 0, 0)
        assert {r["name"] for r in pr.collect()} == {"a", "c"}
        assert all("p=0" in f for f in pr.inputFiles())
        # CDF carries assigned ids
        ch = t.changes(-1)
        assert ch.filter("id IS NULL").count() == 0
        assert ch.count() == 4

    def test_default_survives_rename_of_other_columns(self, spark, tmp_path):
        t = LakeTable.create(
            spark, str(tmp_path / "t"),
            spark.createDataFrame([(1, "x")], "k long, tag string"),
            column_defaults={"tag": "'d'"},
        )
        t.rename_column("k", "key")
        t.append(spark.createDataFrame([(2,)], "key long"))
        got = {r["key"]: r["tag"] for r in t.read().collect()}
        assert got == {1: "x", 2: "d"}
        # renaming the DEFAULTED column keeps the default attached
        t.rename_column("tag", "source_tag")
        t.append(spark.createDataFrame([(3,)], "key long"))
        got = {r["key"]: r["source_tag"] for r in t.read().collect()}
        assert got == {1: "x", 2: "d", 3: "d"}
        assert t.details()["column_defaults"] == {"source_tag": "'d'"}

    def test_bucket_table_dv_delete_then_lookup(self, spark, tmp_path):
        t = LakeTable.create(
            spark, str(tmp_path / "t"),
            spark.range(0, 300, 1, 4).select(
                F.col("id").alias("k"), (F.col("id") * 2).alias("v")
            ),
            bucket_by=("k", 8), optimized_write=True,
        )
        t.delete_keys(
            spark.createDataFrame([(42,), (43,)], "k long"), "k", dv=True
        )
        assert t.read_where_eq("k", 42).count() == 0  # DV'd row stays dead
        assert [r["v"] for r in t.read_where_eq("k", 44).collect()] == [88]
        # compaction folds DVs and preserves bucket dirs
        t.compact(target_files=8)
        assert t.read().count() == 298
        got = t.read_where_eq("k", 44)
        assert [r["v"] for r in got.collect()] == [88]

    def test_convert_then_clone_then_vacuum_source_safety(self, spark, tmp_path):
        src = str(tmp_path / "src")
        spark.range(0, 50, 1, 2).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        ).write.parquet(src)
        t = LakeTable.convert_from_parquet(spark, src, str(tmp_path / "t"))
        c = t.clone_to(str(tmp_path / "c"))
        # hardlinked files survive deleting the ORIGINAL parquet dir
        import shutil as _sh

        _sh.rmtree(src)
        assert t.read().count() == 50
        assert c.read().count() == 50
        # vacuum on the clone only touches clone-local files: the
        # converted table keeps reading
        c.overwrite(spark.createDataFrame([(1, 2)], "k long, v long"))
        c.vacuum(keep_versions=0)
        assert t.read().count() == 50

    def test_liquid_clustering_with_dv_and_defaults(self, spark, tmp_path):
        t = LakeTable.create(
            spark, str(tmp_path / "t"),
            spark.range(0, 1000, 1, 4).select(
                (F.col("id") * 2654435761 % 1024).alias("k"),
                F.col("id").alias("v"),
            ),
            cluster_by=["k"],
        )
        t.set_column_default("v", "0")
        t.delete("k < 10", dv=True)
        t.compact(target_files=4)  # folds DVs AND re-clusters
        assert t.read().filter("k < 10").count() == 0
        assert len(t.files_overlapping("k", 500, 520)) <= 2
        t.append(spark.createDataFrame([(2000,)], "k long"))  # default fills v
        assert t.read().filter("k = 2000").collect()[0]["v"] == 0

    def test_merge_evolution_into_identity_table(self, spark, tmp_path):
        t = LakeTable.create(
            spark, str(tmp_path / "t"),
            spark.createDataFrame([("a", 1), ("b", 2)], "name string, v long"),
            identity_columns={"id": (1, 1)},
        )
        before = {r["name"]: r["id"] for r in t.read().collect()}
        src = spark.createDataFrame(
            [("a", 10, "eu"), ("z", 30, "us")], "name string, v long, region string"
        )
        t.merge_into(
            src, ["name"],
            clauses=[
                {"when": "matched", "action": "update", "set": "all"},
                {"when": "not_matched", "action": "insert", "values": "all"},
            ],
            evolve_schema=True,
        )
        rows = {r["name"]: (r["v"], r["region"], r["id"]) for r in t.read().collect()}
        assert rows["a"] == (10, "eu", before["a"])   # id preserved
        assert rows["b"] == (2, None, before["b"])    # untouched, region NULL
        assert rows["z"][0:2] == (30, "us")
        assert rows["z"][2] > max(before.values())    # fresh id
