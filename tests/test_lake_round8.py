"""Round-8 lake scale features: partition-pruned MERGE, partition-
scoped OPTIMIZE (compact where=), and change-feed retention in
vacuum."""

from __future__ import annotations

import hashlib
import os

import pytest
from pyspark.sql import functions as F

from multi_source_data_lake_with_etl_pipeline_spark.lake import LakeTable


def _mk_part(spark, path, rows=40, buckets=4):
    df = spark.range(0, rows).select(
        F.col("id").alias("k"),
        (F.col("id") % buckets).cast("long").alias("p"),
        (F.col("id") * 10).alias("v"),
    )
    return LakeTable.create(
        spark, str(path), df.repartition(2), partition_by=["p"]
    )


class TestPartitionPrunedMerge:
    def test_merge_into_prunes_target_read_to_source_partitions(
        self, spark, tmp_path
    ):
        """ON covering the partition column + no not-matched-by-source
        clause → only files in the SOURCE's partitions are read or
        touched; the rest of the table is untouched metadata (the
        files_partition_pruned metric records it)."""
        t = _mk_part(spark, tmp_path / "t")
        before = {
            a["path"]
            for a in t._snapshot()[1]
            if a["partition"]["p"] != 1
        }
        src = spark.createDataFrame(
            [(5, 1, -5), (900, 1, -9)], "k long, p long, v long"
        )
        r = t.merge_into(src, ["k", "p"], clauses=[
            {"when": "matched", "action": "update", "set": "all"},
            {"when": "not_matched", "action": "insert", "values": "all"},
        ])
        assert r["updated"] == 1 and r["inserted"] == 1
        # other partitions' files byte-identical (same entries active)
        after = {
            a["path"]
            for a in t._snapshot()[1]
            if a["partition"]["p"] != 1
        }
        assert after == before
        m = t.history()[0]["metrics"]
        assert m["files_partition_pruned"] > 0
        got = {row["k"]: row["v"] for row in t.read().collect()}
        assert got[5] == -5 and got[900] == -9 and got[6] == 60

    def test_no_pruning_with_nbs_or_condition_on(self, spark, tmp_path):
        """A not-matched-by-source clause (full-table semantics) or a
        string ON condition must NOT prune — correctness first."""
        t = _mk_part(spark, tmp_path / "t", rows=12)
        src = spark.createDataFrame([(0, 0, 0)], "k long, p long, v long")
        r = t.merge_into(src, ["k", "p"], clauses=[
            {"when": "matched", "action": "update", "set": "all"},
            {"when": "not_matched_by_source", "action": "delete",
             "condition": "tgt.k >= 10"},
        ])
        assert r["deleted"] == 2  # k=10, 11 — in OTHER partitions
        assert t.history()[0]["metrics"]["files_partition_pruned"] == 0
        r2 = t.merge_into(src, "src.k = tgt.k AND src.p = tgt.p", clauses=[
            {"when": "matched", "action": "update", "set": "all"},
        ])
        assert t.history()[0]["metrics"]["files_partition_pruned"] == 0

    def test_pruned_merge_matches_unpruned_result(self, spark, tmp_path):
        """Parity: the same merge on two identical tables — one keyed
        to engage pruning (ON includes p), one not (ON = k only) —
        converges to the same table when the source is consistent."""
        ta = _mk_part(spark, tmp_path / "a")
        tb = _mk_part(spark, tmp_path / "b")
        src = spark.createDataFrame(
            [(7, 3, -7), (901, 2, -1)], "k long, p long, v long"
        )
        clauses = [
            {"when": "matched", "action": "update", "set": "all"},
            {"when": "not_matched", "action": "insert", "values": "all"},
        ]
        ra = ta.merge_into(src, ["k", "p"], clauses)   # pruned
        rb = tb.merge_into(src, ["k"], clauses)        # unpruned
        assert ra["updated"] == rb["updated"] == 1
        assert sorted(map(tuple, ta.read().collect())) == sorted(
            map(tuple, tb.read().collect())
        )
        assert ta.history()[0]["metrics"]["files_partition_pruned"] > 0
        assert tb.history()[0]["metrics"]["files_partition_pruned"] == 0


class TestCompactWhere:
    def test_partition_scoped_compaction(self, spark, tmp_path):
        t = _mk_part(spark, tmp_path / "t")
        for i in range(4):  # fragment partition p=1
            t.append(
                spark.createDataFrame(
                    [(100 + i, 1, 1)], "k long, p long, v long"
                )
            )
        other_before = {
            a["path"] for a in t._snapshot()[1] if a["partition"]["p"] != 1
        }
        n1_before = sum(
            1 for a in t._snapshot()[1] if a["partition"]["p"] == 1
        )
        t.compact(target_files=1, where="p = 1")
        active = t._snapshot()[1]
        n1_after = sum(1 for a in active if a["partition"]["p"] == 1)
        assert n1_after < n1_before
        # other partitions untouched
        assert {
            a["path"] for a in active if a["partition"]["p"] != 1
        } == other_before
        assert t.read().count() == 44
        m = t.history()[0]["metrics"]
        assert m["files_compacted"] == n1_before and m["predicate"] == "p = 1"
        # unpartitioned tables reject where=
        u = LakeTable.create(
            spark, str(tmp_path / "u"),
            spark.createDataFrame([(1, 2)], "k long, v long"),
        )
        with pytest.raises(ValueError, match="partitioned"):
            u.compact(where="k = 1")
        # no matching partitions: no-op at the current version
        v0 = t.latest_version()
        assert t.compact(where="p = 99") == v0


class TestCdfRetention:
    def test_vacuum_drops_change_dirs_past_horizon(self, spark, tmp_path):
        t = LakeTable.create(
            spark, str(tmp_path / "t"),
            spark.createDataFrame([(1, 10), (2, 20)], "k long, v long"),
        )
        t.merge(spark.createDataFrame([(1, 11)], "k long, v long"), "k")  # v1
        t.merge(spark.createDataFrame([(2, 22)], "k long, v long"), "k")  # v2
        t.delete("k = 1")                                                  # v3
        cdf_root = os.path.join(t.path, "_cdf")
        assert len(os.listdir(cdf_root)) == 3
        # dry run counts them, touches nothing
        would = t.vacuum(keep_versions=1, dry_run=True)
        assert len(os.listdir(cdf_root)) == 3
        removed = t.vacuum(keep_versions=1)  # horizon = v2
        assert removed == would and removed > 0
        kept = sorted(int(d) for d in os.listdir(cdf_root))
        assert kept == [2, 3]  # v1's change dir dropped
        # feed over the retained range still renders; dropped version
        # contributes nothing (documented contract)
        ch = t.changes(1)
        assert ch.filter("_commit_version = 2").count() == 2
        assert t.changes(0).filter("_commit_version = 1").count() == 0


def test_nbs_update_all_rejected(spark, tmp_path):
    """whenNotMatchedBySourceUpdate has no 'all' form (no source row
    exists) — an implicit src.* read would write NULLs; refuse."""
    t = LakeTable.create(
        spark, str(tmp_path / "t"),
        spark.createDataFrame([(1, 10)], "k long, v long"),
    )
    with pytest.raises(ValueError, match="explicit 'set'"):
        t.merge_into(
            spark.createDataFrame([(2,)], "k long"), ["k"],
            clauses=[{"when": "not_matched_by_source", "action": "update"}],
        )


class TestAtomicCdc:
    def test_atomic_matches_two_commit_path_in_one_version(self, spark, tmp_path):
        """apply_cdc(atomic=True) = ONE merge_into commit for the
        whole batch — bit-identical table vs the two-commit path, but
        no intermediate version where upserts are visible without the
        tombstones."""
        base = spark.createDataFrame(
            [(1, 10), (2, 20), (3, 30), (4, 40)], "k long, v long"
        )
        ta = LakeTable.create(spark, str(tmp_path / "a"), base)
        tb = LakeTable.create(spark, str(tmp_path / "b"), base)
        batch = spark.createDataFrame(
            [(2, 22, "U"), (3, 0, "D"), (9, 90, "I"), (99, 0, "D")],
            "k long, v long, op string",
        )
        va = ta.latest_version()
        ra = ta.apply_cdc(batch, "k", atomic=True, dv=True)
        rb = tb.apply_cdc(batch, "k", dv=True)
        assert ra["version"] == va + 1           # single commit
        assert tb.latest_version() == 2          # merge + delete
        assert ra["upserted"] == rb["upserted"] == 2
        assert ra["deleted"] == rb["deleted"] == 1  # k=99 absent: no-op
        assert sorted(map(tuple, ta.read().collect())) == sorted(
            map(tuple, tb.read().collect())
        ) == [(1, 10), (2, 22), (4, 40), (9, 90)]
        # replay safety with order_col: the latest change per key wins
        seq = spark.createDataFrame(
            [(2, 1, "D", 1), (2, 222, "U", 2)], "k long, v long, op string, seq long"
        )
        ta.apply_cdc(seq, "k", order_col="seq", atomic=True)
        assert {r["k"]: r["v"] for r in ta.read().collect()}[2] == 222


class TestStringFooterStats:
    def test_string_range_and_equality_skipping(self, spark, tmp_path):
        """String columns get SAFE prefix-widened footer bounds: a
        status/range probe lists only files whose [min, widened max]
        overlap; results stay exact through the residual filter."""
        df = spark.createDataFrame(
            [(i, chr(ord("a") + (i // 10)) * 3 + str(i)) for i in range(40)],
            "k long, tag string",
        )
        t = LakeTable.create(
            spark, str(tmp_path / "t"), df.repartitionByRange(4, "tag")
        )
        active = t._snapshot()[1]
        # every file carries string stats with min <= widened max
        assert all("tag" in a["stats"] for a in active)
        files = t.files_overlapping("tag", "ccc20", "ccc29")
        assert 0 < len(files) < len(active)
        pr = t.read_pruned("tag", "ccc20", "ccc29")
        assert sorted(r["k"] for r in pr.collect()) == list(range(20, 30))
        assert len(pr.inputFiles()) == len(files)
        # equality probe
        assert t.read_pruned("tag", "aaa5", "aaa5").count() == 1
        # type-mismatched probe: conservative keep, never a raise
        assert len(t.files_overlapping("tag", 0, 9)) == len(active)

    def test_str_upper_bound_properties(self):
        from multi_source_data_lake_with_etl_pipeline_spark.lake import (
            _str_upper_bound,
        )

        # the bound exceeds ANY string starting with the prefix
        for p, tail in [("abc", "zzzzz"), ("z", "a"), ("ab￿", "x")]:
            ub = _str_upper_bound(p)
            assert ub is not None and ub > p + tail
        # surrogate gap is stepped over, not entered
        ub = _str_upper_bound("x" + chr(0xD7FF))
        assert ub == "x" + chr(0xE000)
        # no safe bound for empty / all-max prefixes
        assert _str_upper_bound("") is None
        assert _str_upper_bound(chr(0x10FFFF) * 3) is None
        # a truncated max still bounds the full value
        full = "prefix-and-a-long-tail"
        for cut in range(1, len(full)):
            ub = _str_upper_bound(full[:cut])
            assert ub is not None and ub > full


class TestBloomValueIndex:
    def test_point_lookup_prunes_to_hit_files(self, spark, tmp_path):
        """uuid-shaped ids span every file's [min,max] — range stats
        can't prune; the bloom index reduces a point lookup to the hit
        file(s), and an absent value to (usually) zero files. The
        probe is pure SQL over the index; only base names reach the
        driver."""
        df = spark.range(0, 4000).select(
            F.col("id").alias("k"),
            F.md5(F.col("id").cast("string")).alias("uid"),
        )
        t = LakeTable.create(spark, str(tmp_path / "t"), df.repartition(8))
        t.build_value_index("uid")
        probe = spark.sql("select md5('1234') v").first()["v"]
        r = t.read_where_eq("uid", probe)
        assert [x["k"] for x in r.collect()] == [1234]
        assert len(r.inputFiles()) < 8  # pruned (fpp makes == 1 flaky-ish)
        # absent value
        r2 = t.read_where_eq("uid", "nope")
        assert r2.count() == 0 and len(r2.inputFiles()) <= 1
        # long-column probe with a python int literal
        t.build_value_index("k")
        r3 = t.read_where_eq("k", 77)
        assert [x["k"] for x in r3.collect()] == [77]

    def test_unindexed_files_conservatively_kept_and_refresh(
        self, spark, tmp_path
    ):
        df = spark.range(0, 1000).select(
            F.col("id").alias("k"),
            F.md5(F.col("id").cast("string")).alias("uid"),
        )
        t = LakeTable.create(spark, str(tmp_path / "t"), df.repartition(4))
        t.build_value_index("uid")
        t.append(spark.createDataFrame([(9999, "zz")], "k long, uid string"))
        # new file lacks a bloom row: kept, lookup still exact
        assert [x["k"] for x in t.read_where_eq("uid", "zz").collect()] == [9999]
        t.build_value_index("uid")
        m = t.history()[0]["metrics"]
        assert m["files_indexed"] == 1 and m["files_carried"] == 4
        r = t.read_where_eq("uid", "zz")
        assert len(r.inputFiles()) == 1
        # a delete rewrites every indexed file (round-robin layout): the
        # deleted key is gone and a kept key is still found
        gone, kept = (hashlib.md5(str(k).encode()).hexdigest() for k in (10, 900))
        t.delete("k < 50")
        assert t.read_where_eq("uid", gone).count() == 0
        assert t.read_where_eq("uid", kept).count() == 1

    def test_bloom_survives_rename_and_exactness_vs_full_scan(
        self, spark, tmp_path
    ):
        """The index is keyed by the PHYSICAL column name: a rename is
        metadata-only and the index keeps serving; every probed value
        returns exactly the full-scan answer (no false negatives by
        construction — property-checked over 60 present + 20 absent
        probes)."""
        df = spark.range(0, 600).select(
            F.col("id").alias("k"),
            F.sha1(F.col("id").cast("string")).alias("uid"),
        )
        t = LakeTable.create(spark, str(tmp_path / "t"), df.repartition(5))
        t.build_value_index("uid")
        t.rename_column("uid", "doc_uid")
        full = {r["doc_uid"]: r["k"] for r in t.read().collect()}
        probes = [
            spark.sql(f"select sha1('{i}') v").first()["v"] for i in range(60)
        ] + [f"absent{i}" for i in range(20)]
        for p in probes:
            got = [r["k"] for r in t.read_where_eq("doc_uid", p).collect()]
            want = [full[p]] if p in full else []
            assert got == want, p


def test_bloom_retention_and_fsck(spark, tmp_path):
    """Rebuilt bloom indexes re-point the prop; vacuum drops index
    dirs no protected version references; FSCK flags a registered
    index missing from disk."""
    import shutil as _sh

    df = spark.range(0, 200).select(
        F.col("id").alias("k"), F.md5(F.col("id").cast("string")).alias("uid")
    )
    t = LakeTable.create(spark, str(tmp_path / "t"), df.repartition(2))
    t.build_value_index("uid")
    t.append(spark.createDataFrame([(999, "zz")], "k long, uid string"))
    t.build_value_index("uid")   # second index dir
    bloom_root = os.path.join(t.path, "bloom")
    assert len(os.listdir(bloom_root)) == 2
    assert t.details()["bloom_indexes"] == ["uid"]  # DESCRIBE DETAIL
    assert t.verify_integrity()["ok"]
    t.vacuum(keep_versions=0)    # only the latest props protected
    assert len(os.listdir(bloom_root)) == 1
    assert t.verify_integrity()["ok"]
    assert [r["k"] for r in t.read_where_eq("uid", "zz").collect()] == [999]
    # registered index deleted out-of-band: FSCK flags it
    _sh.rmtree(os.path.join(bloom_root, os.listdir(bloom_root)[0]))
    r = t.verify_integrity()
    assert not r["ok"] and any("bloom/" in m for m in r["missing_files"])
    # the read degrades to stats-only pruning, stays exact
    assert [x["k"] for x in t.read_where_eq("uid", "zz").collect()] == [999]


def test_partition_scoped_update_delete_prune_read_set(spark, tmp_path):
    """A partition-only predicate locates its files from metadata:
    DELETE/UPDATE of one partition leaves every other partition's
    files untouched AND never reads them (the read set is the
    candidate list); data-column predicates conservatively fall back
    to the full set and stay exact."""
    t = _mk_part(spark, tmp_path / "t")
    other_before = {
        a["path"] for a in t._snapshot()[1] if a["partition"]["p"] != 2
    }
    r = t.update("p = 2", {"v": "v + 1000"})
    assert r["updated"] == 10
    active = t._snapshot()[1]
    assert {a["path"] for a in active if a["partition"]["p"] != 2} == other_before
    got = {row["k"]: row["v"] for row in t.read().collect()}
    assert got[2] == 1020 and got[1] == 10
    r2 = t.delete("p = 1")
    assert r2["deleted"] == 10  # 40 rows, k%4==1 count
    assert sorted({row["p"] for row in t.read().collect()}) == [0, 2, 3]
    # data-column predicate after a partition rename: exact fallback
    t.rename_column("p", "bucket")
    r3 = t.delete("v >= 1300")  # p=2 rows updated to >= 1000+300
    assert r3["deleted"] == len([k for k in range(30, 40) if k % 4 == 2])


def test_compact_where_with_zorder_clustering(spark, tmp_path):
    """OPTIMIZE ... WHERE composes with clustering: a Z-ORDER rewrite
    of ONE partition leaves other partitions untouched and the
    rewritten partition's files carry tight per-column footer ranges
    (multi-column pruning works inside the partition)."""
    df = spark.range(0, 4000).select(
        F.col("id").alias("k"),
        (F.col("id") % 2).cast("long").alias("p"),
        (F.col("id") % 64).alias("x"),
        ((F.col("id") * 7) % 64).alias("y"),
    )
    t = LakeTable.create(
        spark, str(tmp_path / "t"), df.repartition(6), partition_by=["p"]
    )
    others = {a["path"] for a in t._snapshot()[1] if a["partition"]["p"] != 1}
    t.compact(target_files=4, cluster_by=["x", "y"], where="p = 1")
    active = t._snapshot()[1]
    assert {a["path"] for a in active if a["partition"]["p"] != 1} == others
    # the z-ordered partition prunes on BOTH clustered dimensions
    pr = t.read_pruned_multi([("p", 1, 1), ("x", 0, 7), ("y", 0, 7)])
    got = sorted(r["k"] for r in pr.collect())
    want = sorted(
        k for k in range(4000)
        if k % 2 == 1 and k % 64 <= 7 and (k * 7) % 64 <= 7
    )
    assert got == want
    p1_files = [a for a in active if a["partition"]["p"] == 1]
    assert len(pr.inputFiles()) < len(p1_files) + len(others)
    assert t.read().count() == 4000


def test_generated_partition_filter_derivation(spark, tmp_path):
    """Delta parity: a TIMESTAMP-range read on a table partitioned by
    event_date GENERATED ALWAYS AS CAST(ts AS DATE) prunes the date
    partitions WITHOUT the caller naming the partition column — the
    derivation is monotone, results exact, and files of other dates
    are never listed."""
    rows = [
        (i, f"2024-01-{1 + i % 5:02d} {i % 24:02d}:00:00") for i in range(200)
    ]
    df = spark.createDataFrame(rows, "k long, s string").select(
        "k", F.col("s").cast("timestamp").alias("ts")
    )
    t = LakeTable.create(
        spark, str(tmp_path / "t"), df,
        partition_by=["event_date"],
        generated_columns={"event_date": "CAST(ts AS DATE)"},
    )
    pr = t.read_pruned("ts", "2024-01-02 00:00:00", "2024-01-03 23:59:59")
    got = sorted(r["k"] for r in pr.collect())
    want = sorted(i for i in range(200) if 1 + i % 5 in (2, 3))
    assert got == want
    files = pr.inputFiles()
    assert files and all(
        "event_date=2024-01-02" in f or "event_date=2024-01-03" in f
        for f in files
    )
    # naming the partition column explicitly still works identically
    pr2 = t.read_pruned("event_date", "2024-01-02", "2024-01-03")
    assert sorted(r["k"] for r in pr2.collect()) == want
    # a NON-derivable generated expr never adds a wrong skip
    t2 = LakeTable.create(
        spark, str(tmp_path / "t2"),
        spark.createDataFrame([(1, 5), (2, 50)], "k long, v long"),
        partition_by=["bucket"],
        generated_columns={"bucket": "CAST(v % 7 AS BIGINT)"},
    )
    assert sorted(
        r["k"] for r in t2.read_pruned("v", 0, 100).collect()
    ) == [1, 2]
