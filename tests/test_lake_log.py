"""The commit log (``lake_log.TableLog``): snapshot cache invalidation,
read-only cached records, props, writer features, stream txn marks and
overwrite versions riding the replay, the ``Txn`` commit policy, and
reads that prune the snapshot they pinned.

The cache memoizes parsed immutable log state per (table, version),
validated by the version file's stat signature (inode, size,
mtime_ns): a recreated table at the same path, a commit from another
handle and a props-changing commit must all be visible at once.

``TestTableLog`` and ``TestTxn`` build logs by hand from ``StructType``
JSON, so they start no JVM.
"""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql.types import LongType, StructField, StructType

from multi_source_data_lake_with_etl_pipeline_spark.lake import (
    LakeTable,
    UnsupportedTableFeature,
)
from multi_source_data_lake_with_etl_pipeline_spark import lake_log
from multi_source_data_lake_with_etl_pipeline_spark.lake_log import (
    CHECKPOINT_EVERY,
    COMMIT_ATTEMPTS,
    CommitConflict,
    TableLog,
    Txn,
)

_SCHEMA = json.dumps(StructType([StructField("k", LongType())]).jsonValue())


def _rec(v: int, adds=(), removes=(), **extra) -> dict:
    return {
        "version": v, "op": "append", "ts": float(v),
        "add": [{"path": p, "rows": 1} for p in adds],
        "remove": list(removes), "schema": _SCHEMA, **extra,
    }


def _log(tmp_path, name="t") -> TableLog:
    d = tmp_path / name / "_log"
    d.mkdir(parents=True)
    return TableLog(str(d))


def _empty_caches(monkeypatch, cap: int = 2048) -> None:
    """Give the process-wide commit and snapshot caches a clean slate."""
    monkeypatch.setattr(lake_log, "_COMMITS", lake_log._SigCache(cap))
    monkeypatch.setattr(lake_log, "_SNAPSHOTS", lake_log._SigCache(cap))


class TestTableLog:
    def test_props_ride_the_replay_across_checkpoints(self, tmp_path, monkeypatch):
        log = _log(tmp_path)
        for v in range(23):
            extra = {}
            if v == 0:
                extra["props"] = {"a": "1"}
            elif v == 5:
                extra["props"] = {"a": "2"}
            elif v == 15:
                extra["props"] = {"a": "3"}
            log.write_commit(v, _rec(v, adds=[f"f{v}"], **extra))
        ck20 = os.path.join(log.dir, "_checkpoint.20.json")
        assert os.path.exists(ck20)
        # a checkpoint from before props were recorded: it can't seed
        # props, so a replay skips it for the one at 10
        with open(ck20) as f:
            legacy = json.load(f)
        del legacy["props"]
        with open(ck20, "w") as f:
            json.dump(legacy, f)
        _empty_caches(monkeypatch)
        fresh = TableLog(log.dir)
        assert fresh.checkpoint_at_or_before(22)["version"] == CHECKPOINT_EVERY
        s = fresh.snapshot(22)
        assert dict(s.props) == {"a": "3"}
        assert sorted(a["path"] for a in s.entries) == sorted(f"f{v}" for v in range(23))
        _empty_caches(monkeypatch)
        assert dict(TableLog(log.dir).snapshot(12).props) == {"a": "2"}
        _empty_caches(monkeypatch)
        assert dict(TableLog(log.dir).snapshot(4).props) == {"a": "1"}
        # from the checkpoint at 10, which records the props of v5
        _empty_caches(monkeypatch)
        assert dict(TableLog(log.dir).snapshot(10).props) == {"a": "2"}

    def test_tables_replayed_alternately_keep_their_own_base(self, tmp_path):
        a, b = _log(tmp_path, "a"), _log(tmp_path, "b")
        for v in range(CHECKPOINT_EVERY + 3):
            a.write_commit(v, _rec(v, adds=[f"a{v}"]))
            assert a.snapshot(v).version == v
            b.write_commit(v, _rec(v, adds=[f"b{v}"], removes=[f"b{v - 1}"]))
            assert b.snapshot(v).version == v
        for v in range(CHECKPOINT_EVERY + 3):
            assert [e["path"] for e in b.snapshot(v).entries] == [f"b{v}"]
            assert sorted(e["path"] for e in a.snapshot(v).entries) == sorted(
                f"a{i}" for i in range(v + 1)
            )

    def test_caches_are_bounded_for_the_whole_process(self, tmp_path, monkeypatch):
        _empty_caches(monkeypatch, cap=4)
        a, b = _log(tmp_path, "a"), _log(tmp_path, "b")
        for v in range(5):
            a.write_commit(v, _rec(v, adds=[f"a{v}"]))
            b.write_commit(v, _rec(v, adds=[f"b{v}"]))
            a.snapshot(v)
            b.snapshot(v)
        assert len(lake_log._SNAPSHOTS._d) == 4
        assert len(lake_log._COMMITS._d) == 4
        # the four newest survive, two per table; each table's base
        # search lists only its own versions
        assert lake_log._SNAPSHOTS.below(a.dir, 9) == [4, 3]
        assert lake_log._SNAPSHOTS.below(b.dir, 9) == [4, 3]
        assert [e["path"] for e in a.snapshot(1).entries] == ["a0", "a1"]

    def test_writer_feature_gate_served_from_snapshot(self, tmp_path, monkeypatch):
        log = _log(tmp_path)
        log.write_commit(0, _rec(0, adds=["f0"], props={}))
        log.write_commit(
            1, _rec(1, adds=["f1"], writer_features=["vector-clustered-write"])
        )
        t = LakeTable(None, str(tmp_path / "t"))
        assert t._log.dir == log.dir
        t._log.snapshot(0)
        t._log.snapshot(1)

        def no_reads(v):
            raise AssertionError(f"commit {v} re-read")

        monkeypatch.setattr(t._log, "read_commit", no_reads)
        with pytest.raises(UnsupportedTableFeature, match="vector-clustered-write"):
            t._check_writer_features(1)
        t._check_writer_features(0)


    @pytest.mark.parametrize("legacy", [False, True])
    def test_txn_marks_and_overwrites_survive_checkpoints(
        self, tmp_path, monkeypatch, legacy
    ):
        log = _log(tmp_path)
        for v in range(23):
            extra = {"props": {}} if v == 0 else {}
            if v % 2:
                extra["txn"] = {"app": "s", "batch": v // 2}
            if v in (3, 12, 21):
                extra["op"] = "overwrite"
            log.write_commit(v, _rec(v, adds=[f"f{v}"], **extra))
        ck = max(lake_log.TableLog(log.dir)._checkpoint_versions())
        assert ck == 2 * CHECKPOINT_EVERY
        if legacy:
            # checkpoints written before they recorded the two fields
            for cv in (CHECKPOINT_EVERY, ck):
                path = os.path.join(log.dir, f"_checkpoint.{cv}.json")
                with open(path) as f:
                    rec = json.load(f)
                del rec["txns"], rec["overwrites"]
                with open(path, "w") as f:
                    json.dump(rec, f)
        else:
            real = TableLog.read_commit

            def past_checkpoint_only(self, v):
                assert v > ck, f"commit {v} read under the checkpoint"
                return real(self, v)

            monkeypatch.setattr(TableLog, "read_commit", past_checkpoint_only)
        _empty_caches(monkeypatch)
        t = LakeTable(None, str(tmp_path / "t"))
        assert t.last_committed_batch("s") == 10
        assert t.last_committed_batch("other") is None
        assert t._log.snapshot().overwrites == (3, 12, 21)

    def test_head_found_without_listing_the_log(self, tmp_path, monkeypatch):
        """``snapshot()`` finds the head by stat-ing forward from the
        ``_last_checkpoint`` pointer: at 100+ versions it lists nothing,
        and commits past a lagging (or missing) pointer still count.
        Only a log whose start commit is gone lists the directory."""
        log = _log(tmp_path)
        for v in range(105):
            log.write_commit(v, _rec(v, adds=[f"f{v}"]))
        _empty_caches(monkeypatch)
        listed = []
        real = os.listdir
        monkeypatch.setattr(os, "listdir", lambda d: listed.append(d) or real(d))
        snap = log.snapshot()
        assert (snap.version, len(snap.entries)) == (104, 105)
        pointer = os.path.join(log.dir, "_last_checkpoint")
        with open(pointer, "w") as f:
            json.dump({"version": 50}, f)
        assert log.latest_version() == 104
        os.remove(pointer)
        assert log.latest_version() == 104
        assert listed == []
        os.remove(log._path(0))  # a trimmed log: no pointer, no commit 0
        assert log.latest_version() == 104
        assert listed == [log.dir]

    def test_cdf_source_polls_the_head_without_listing(self, tmp_path, monkeypatch):
        """The change-feed source's ``latestOffset``, polled on every
        trigger, is the head ``latest_version`` finds: at 100+ versions
        a poll lists nothing, capped or not."""
        from multi_source_data_lake_with_etl_pipeline_spark.streaming.cdf_source import (
            LakeCdfStreamReader,
        )

        log = _log(tmp_path)
        for v in range(105):
            log.write_commit(v, _rec(v, adds=[f"f{v}"]))
        listed = []
        real = os.listdir
        monkeypatch.setattr(os, "listdir", lambda d: listed.append(d) or real(d))
        path, schema = str(tmp_path / "t"), StructType([])
        assert LakeCdfStreamReader(path, -1, schema).latestOffset() == {"v": 104}
        capped = LakeCdfStreamReader(path, 100, schema, max_versions_per_batch=2)
        assert capped.latestOffset() == {"v": 102}
        assert listed == []


def _write(log: TableLog, path: str, **extra):
    """A ``Txn`` write callable that commits one add of ``path``."""

    def write(v, schema):
        log.write_commit(v, _rec(v, adds=[path], **extra))
        return v

    return write


class TestTxn:
    def test_blind_writer_rebases_over_interleaved_commit(self, tmp_path):
        log = _log(tmp_path)
        log.write_commit(0, _rec(0, adds=["f0"], props={}))
        heads = []

        def recheck(head):
            heads.append(head.version)
            return head.schema

        txn = Txn(log.snapshot(0), log, blind=True, recheck=recheck)
        log.write_commit(1, _rec(1, adds=["racer"]))
        assert txn.commit(_write(log, "mine"), log.snapshot(0).schema) == 2
        assert heads == [1]
        assert {a["path"] for a in log.snapshot(2).entries} == {"f0", "racer", "mine"}

    def test_marker_already_at_head_returns_none(self, tmp_path):
        log = _log(tmp_path)
        log.write_commit(0, _rec(0, props={}))
        txn = Txn(log.snapshot(0), log, blind=True, marker=("s", 3))
        # a zombie driver commits the same batch first
        log.write_commit(1, _rec(1, adds=["zombie"], txn={"app": "s", "batch": 3}))
        mine = _write(log, "mine", txn={"app": "s", "batch": 3})
        assert txn.commit(mine, log.snapshot(0).schema) is None
        assert log.latest_version() == 1

    def test_changed_touched_entry_conflicts(self, tmp_path):
        log = _log(tmp_path)
        log.write_commit(0, _rec(0, adds=["f0", "f1"], props={}))
        snap = log.snapshot(0)
        f0 = next(a for a in snap.entries if a["path"] == "f0")
        txn = Txn(snap, log, touched=(f0,))
        # a racer vectors rows out of f0: same path, new entry
        racer = _rec(1)
        racer["add"] = [{"path": "f0", "rows": 1, "dv": {"path": "dv/x", "ndel": 1}}]
        racer["remove"] = ["f0"]
        log.write_commit(1, racer)
        with pytest.raises(CommitConflict, match="modified"):
            txn.commit(_write(log, "mine"), snap.schema)
        assert log.latest_version() == 1

    def test_gives_up_after_commit_attempts(self, tmp_path):
        log = _log(tmp_path)
        log.write_commit(0, _rec(0, props={}))
        heads = []

        def recheck(head):
            heads.append(head.version)
            return head.schema

        def always_beaten(v, schema):
            log.write_commit(v, _rec(v, adds=[f"racer{v}"]))
            log.write_commit(v, _rec(v, adds=["mine"]))  # taken: conflict
            return v

        txn = Txn(log.snapshot(0), log, blind=True, recheck=recheck)
        with pytest.raises(CommitConflict, match="lost"):
            txn.commit(always_beaten, log.snapshot(0).schema)
        assert heads == list(range(1, COMMIT_ATTEMPTS + 1))
        assert "mine" not in {
            a["path"] for a in log.snapshot().entries
        }

    @pytest.mark.parametrize("published", [False, True])
    def test_only_a_refused_commit_removes_its_files(
        self, tmp_path, monkeypatch, published
    ):
        """``LakeTable._commit_txn`` removes the data file of a commit
        its txn refuses (here: the stream batch is already committed);
        an error raised after the publish (a failing checkpoint write)
        leaves the commit and its file."""
        log = _log(tmp_path)
        for v in range(CHECKPOINT_EVERY):
            log.write_commit(v, _rec(v, adds=[f"data/f{v}"], props={}))
        mine = tmp_path / "t" / "data" / "mine.parquet"
        mine.parent.mkdir()
        mine.write_bytes(b"")
        snap = log.snapshot()
        txn = Txn(snap, log, blind=True, marker=("s", 1))

        def commit():
            return LakeTable(None, str(tmp_path / "t"))._commit_txn(
                txn, "append", [{"path": "data/mine.parquet", "rows": 1}], [], snap.schema
            )

        if published:

            def failing(self, v):
                raise OSError("checkpoint write failed")

            monkeypatch.setattr(TableLog, "_write_checkpoint", failing)
            with pytest.raises(OSError):
                commit()
            assert log.latest_version() == CHECKPOINT_EVERY
            assert mine.exists()
        else:
            log.write_commit(
                CHECKPOINT_EVERY, _rec(CHECKPOINT_EVERY, txn={"app": "s", "batch": 1})
            )
            assert commit() is None
            assert not mine.exists()


class TestLogCaches:
    def test_snapshot_sees_other_handles_commit(self, spark, tmp_path):
        path = str(tmp_path / "t")
        t1 = LakeTable.create(
            spark, path, spark.createDataFrame([(1, 10)], "k long, v long")
        )
        assert t1.read().count() == 1  # snapshot cached at v0
        t2 = LakeTable(spark, path)  # independent handle, same log
        t2.append(spark.createDataFrame([(2, 20)], "k long, v long"))
        # t1 must see v1 (latest discovery is an uncached listdir; the
        # cached v0 state may only serve as the extension base)
        assert t1.read().count() == 2
        assert sorted(r["k"] for r in t1.read().collect()) == [1, 2]

    def test_recreated_table_never_serves_stale_snapshot(self, spark, tmp_path):
        path = str(tmp_path / "t")
        t = LakeTable.create(
            spark, path, spark.createDataFrame([(1, 10)], "k long, v long")
        )
        t.append(spark.createDataFrame([(2, 20)], "k long, v long"))
        assert t.read().count() == 2  # populate the cache at v0+v1
        shutil.rmtree(path)
        t2 = LakeTable.create(
            spark, path, spark.createDataFrame([(9, 90)], "k long, v long")
        )
        got = t2.read().collect()
        assert [(r["k"], r["v"]) for r in got] == [(9, 90)]
        # time travel on the recreated table reads the NEW v0
        got0 = t2.read(0).collect()
        assert [(r["k"], r["v"]) for r in got0] == [(9, 90)]

    def test_props_cache_invalidates_on_new_commit(self, spark, tmp_path):
        path = str(tmp_path / "t")
        t = LakeTable.create(
            spark, path, spark.createDataFrame([(1, 10)], "k long, v long")
        )
        assert "team" not in t.props()  # cached at v0
        t.set_properties({"team": "etl"})
        assert t.props()["team"] == "etl"  # new version, new key
        # versioned props still serve the old dict at the old version
        assert "team" not in t.props(0)
        # a SECOND handle sees the same (one cache for every handle)
        assert LakeTable(spark, path).props()["team"] == "etl"

    def test_time_travel_after_many_commits(self, spark, tmp_path):
        path = str(tmp_path / "t")
        t = LakeTable.create(
            spark, path, spark.createDataFrame([(0, 0)], "k long, v long")
        )
        for i in range(1, 13):  # crosses the checkpoint cadence (10)
            t.append(spark.createDataFrame([(i, i * 10)], "k long, v long"))
        # interleave cached reads at several versions, then verify all
        assert t.read(3).count() == 4
        assert t.read(11).count() == 12
        assert t.read(3).count() == 4  # exact cache hit, same answer
        for v in (0, 5, 10, 12):
            assert t.read(v).count() == v + 1

    def test_cached_records_are_read_only(self, spark, tmp_path, monkeypatch):
        path = str(tmp_path / "t")
        t = LakeTable.create(
            spark, path, spark.createDataFrame([(1, 10)], "k long, v long")
        )
        _, entries, _ = t._snapshot()
        with pytest.raises(TypeError):
            entries[0]["rows"] = 99
        with pytest.raises(TypeError):
            t._log.read_commit(0)["add"][0]["rows"] = 99
        with pytest.raises(TypeError):
            t._log.read_commit(0)["op"] = "overwrite"
        # arrays inside records are tuples
        with pytest.raises(TypeError):
            t._log.read_commit(0)["add"][0] = {}
        with pytest.raises(TypeError):
            entries[0]["stats"]["v"][0] = -1
        with pytest.raises(AttributeError):
            t._log.read_commit(0)["remove"].append("x")
        # a fresh handle over empty caches reads the original values
        _empty_caches(monkeypatch)
        fresh = TableLog(t._log_dir)
        assert fresh.snapshot(0).entries[0]["rows"] == 1
        assert fresh.read_commit(0)["op"] == "create"
        assert t.rows() == 1


def _compact_after_first_snapshot(spark, t: LakeTable) -> None:
    """Commit a compaction from another handle right after ``t``'s
    next snapshot resolves — a writer racing the read."""
    real = t._snapshot
    fired = []

    def racing(version=None):
        out = real(version)
        if not fired:
            fired.append(True)
            LakeTable(spark, t.path).compact(target_files=1)
        return out

    t._snapshot = racing


class TestReadsPruneTheirPinnedSnapshot:
    def _mk(self, spark, tmp_path) -> LakeTable:
        df = spark.range(130).selectExpr("id AS k", "id * 10 AS v")
        t = LakeTable.create(
            spark, str(tmp_path / "t"), df.repartitionByRange(7, "k")
        )
        assert len(t._snapshot()[1]) == 7
        return t

    def test_pruned_read_races_compaction(self, spark, tmp_path):
        t = self._mk(spark, tmp_path)
        v0 = t.latest_version()
        _compact_after_first_snapshot(spark, t)
        assert t.read_pruned("k", 0, 200).count() == 130
        assert t.latest_version() == v0 + 1  # the compaction did land

    def test_point_read_races_compaction(self, spark, tmp_path):
        t = self._mk(spark, tmp_path)
        _compact_after_first_snapshot(spark, t)
        assert [r["v"] for r in t.read_where_eq("k", 5).collect()] == [50]
