"""Lake transaction-log DEPTH probe (VERDICT r4 item 7): metadata-op
latency at 100-1,000 versions, measuring snapshot reconstruction
against the checkpoint cadence (lake_log.CHECKPOINT_EVERY).

Commits are synthetic add/remove entries written through the real
``_commit`` path (so checkpoint writes, conflict detection, and log
layout are all exercised); data files are not materialized because the
probe measures LOG machinery, not parquet I/O. Workload: appends of 2
files each, each carrying a stream txn marker, and a 10-file merge
(remove+add) every 25 commits — active-set growth ~linear in depth, like
a streaming ingest table between compactions.

Each row also times the two per-batch lookups of a streaming writer and
a change-feed reader: the stream's last committed batch and the table's
overwrite versions, with the commit files each call reads (cache hits
included); and the head lookup every snapshot starts with
(``latest_ms``), with the directory entries one latest snapshot lists
(``dir_entries_listed``).

Usage: python scripts/scale_probe_lake_log.py [max_versions]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession

from multi_source_data_lake_with_etl_pipeline_spark.lake import LakeTable
from multi_source_data_lake_with_etl_pipeline_spark.lake_log import TableLog


def _time(fn, reps=5):
    t0 = time.perf_counter()
    for _ in range(reps):
        fn()
    return (time.perf_counter() - t0) / reps


def _reads(fn) -> int:
    """Commit files one call of ``fn`` reads."""
    real = TableLog.read_commit
    n = [0]

    def counted(self, v):
        n[0] += 1
        return real(self, v)

    TableLog.read_commit = counted
    try:
        fn()
    finally:
        TableLog.read_commit = real
    return n[0]


def _listed(fn) -> int:
    """Directory entries one call of ``fn`` lists."""
    real = os.listdir
    n = [0]

    def counted(d):
        out = real(d)
        n[0] += len(out)
        return out

    os.listdir = counted
    try:
        fn()
    finally:
        os.listdir = real
    return n[0]


def main() -> int:
    max_v = int(sys.argv[1]) if len(sys.argv) > 1 else 1000
    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .appName("lake-log-probe")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    path = "/tmp/mdl_log_probe"
    shutil.rmtree(path, ignore_errors=True)
    df = spark.createDataFrame([(1, 1)], "k long, v long")
    t = LakeTable.create(spark, path, df)
    _, _, schema = t._snapshot()

    fid = [0]

    def fake_adds(n):
        out = []
        for _ in range(n):
            fid[0] += 1
            out.append(
                {
                    "path": f"data/probe_{fid[0]:08d}.parquet",
                    "rows": 1000,
                    "bytes": 64 << 20,
                    "stats": {"k": [fid[0] * 1000, fid[0] * 1000 + 999]},
                }
            )
        return out

    checkpoints = [100, 250, 500, 750, 1000]
    checkpoints = [c for c in checkpoints if c <= max_v]
    results = []
    commit_cost_window = []
    v = t.latest_version()
    while v < max_v:
        t0 = time.perf_counter()
        if (v + 1) % 25 == 0:
            # merge-shaped: remove 10 oldest active, add 2
            _, active, _ = t._snapshot()
            rm = [a["path"] for a in active[:10]]
            v = t._commit(v + 1, "merge", fake_adds(2), rm, schema)
        else:
            v = t._commit(
                v + 1, "append", fake_adds(2), [], schema,
                txn={"app": "probe", "batch": v + 1},
            )
        commit_cost_window.append(time.perf_counter() - t0)
        if v in checkpoints:
            _, active, _ = t._snapshot()

            def last_batch():
                return t.last_committed_batch("probe")

            def overwrites():
                return t._readable_snapshot().overwrites

            row = {
                "versions": v,
                "active_files": len(active),
                "snapshot_latest_ms": round(_time(lambda: t._snapshot()) * 1e3, 2),
                "latest_ms": round(_time(t.latest_version) * 1e3, 3),
                "dir_entries_listed": _listed(lambda: t._snapshot()),
                "snapshot_v10_ms": round(_time(lambda: t._snapshot(10)) * 1e3, 2),
                "snapshot_mid_ms": round(
                    _time(lambda: t._snapshot(v // 2)) * 1e3, 2
                ),
                "rows_ms": round(_time(lambda: t.rows()) * 1e3, 2),
                "history_ms": round(_time(lambda: t.history(), reps=2) * 1e3, 2),
                "last_batch_ms": round(_time(last_batch) * 1e3, 2),
                "last_batch_reads": _reads(last_batch),
                "overwrites_ms": round(_time(overwrites) * 1e3, 2),
                "overwrites_reads": _reads(overwrites),
                "avg_commit_ms_last_window": round(
                    sum(commit_cost_window) / len(commit_cost_window) * 1e3, 2
                ),
                "max_commit_ms_last_window": round(
                    max(commit_cost_window) * 1e3, 2
                ),
            }
            commit_cost_window = []
            results.append(row)
            print(json.dumps(row), flush=True)
    log_dir = t._log.dir
    ck = [f for f in os.listdir(log_dir) if f.startswith("_checkpoint.")]
    biggest = max(
        (os.path.getsize(os.path.join(log_dir, f)) for f in ck), default=0
    )
    print(
        json.dumps(
            {
                "n_checkpoints": len(ck),
                "largest_checkpoint_bytes": biggest,
                "log_files": len(os.listdir(log_dir)),
            }
        )
    )
    shutil.rmtree(path, ignore_errors=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
