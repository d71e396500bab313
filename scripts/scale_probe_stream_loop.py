"""End-to-end streaming-loop probe (round 10, VERDICT r9 stretch 7):
compose the round-9/10 pieces in ONE closed loop at ~10^6 rows over 50
source commits —

    table A (appends trickle)
      → appends-mode lake stream (``lake_append_stream``)
      → narrow transform (filter + computed column)
      → ``stream_append_lake`` (foreachBatch + ``append_stream_batch``)
        into table B
      → in-loop maintenance (``optimize_if_needed`` on a cadence)
      → ``vacuum(protect_checkpoints=[ck])`` consumer-floor guard

measuring B's file-count and read-tax curves WITH vs WITHOUT the
maintenance cadence (the bounded-files / flat-read claim), replaying a
drain mid-run to prove exactly-once (the batch's txn marker makes the
replay a no-op), and exercising the vacuum guard against the live
checkpoint (refuses while the stream lags, allows once caught up).

availableNow note: Spark's Python data source engine falls back to
single-batch execution for availableNow — each drain here consumes
everything available in one batch, which is exactly the per-burst loop
shape this probe wants.

Run: python scripts/scale_probe_stream_loop.py [sf_dir]  (markdown rows)
"""
from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from multi_source_data_lake_with_etl_pipeline_spark.catalog import load_table
from multi_source_data_lake_with_etl_pipeline_spark.lake import LakeTable
from multi_source_data_lake_with_etl_pipeline_spark.session import get_spark
from multi_source_data_lake_with_etl_pipeline_spark.streaming.cdf_source import (
    lake_append_stream,
)
from multi_source_data_lake_with_etl_pipeline_spark.streaming.ingest import (
    stream_append_lake,
)

N_BATCHES = 50
ROWS_PER_BATCH = 20_000
CADENCE = 10


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark("stream-loop-probe")
    spark.sparkContext.setLogLevel("ERROR")
    o = (
        load_table(spark, sf_dir, "lineitem")
        .select(
            (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias(
                "o_orderkey"
            ),
            F.col("l_partkey").alias("o_custkey"),
            F.col("l_extendedprice").alias("o_totalprice"),
        )
        .withColumn("slice", F.pmod(F.col("o_orderkey"), F.lit(N_BATCHES)))
        .persist()
    )
    total = o.count()
    print(
        f"corpus: {total} lineitem rows as {N_BATCHES} modulo bursts of "
        f"~{total // N_BATCHES}; maintenance cadence {CADENCE}"
    )
    print("| bursts | mode | B files | B rows | read B | drain |")
    print("|---|---|---|---|---|---|")
    results = {}
    for mode, maintain in (("no-maint", 0), (f"maint@{CADENCE}", CADENCE)):
        root = tempfile.mkdtemp(prefix=f"loop_{mode.replace('@', '_')}_")
        a = LakeTable.create(
            spark, root + "/a",
            o.filter("slice = 0").drop("slice"),
        )
        b = LakeTable.create(
            spark, root + "/b",
            spark.createDataFrame(
                [], "o_orderkey long, o_custkey long, gross double"
            ),
        )
        ck = os.path.join(root, "ck")

        def drain():
            stream_append_lake(
                lake_append_stream(spark, a.path)
                .filter(F.col("o_totalprice") > 0)
                .select(
                    "o_orderkey",
                    "o_custkey",
                    (F.col("o_totalprice") * F.lit(1.1)).alias("gross"),
                ),
                b.path, ck, "loop",
            )

        t_drain = time.time()
        drain()
        t_drain = time.time() - t_drain
        for burst in range(1, N_BATCHES):
            a.append(o.filter(f"slice = {burst}").drop("slice"))
            t0 = time.time()
            drain()
            dt = time.time() - t0
            bt = LakeTable.load(spark, b.path)
            if maintain and burst % maintain == 0:
                bt.compact(target_files=8)
            if burst in (9, 24, 49):
                if burst == 24:
                    # mid-run REPLAY: a second drain on the same
                    # checkpoint must be a no-op (txn marker dedupe)
                    before = bt.read().count()
                    drain()
                    after = LakeTable.load(spark, b.path).read().count()
                    assert before == after, "replay doubled rows!"
                files = len(bt._snapshot()[1])
                t0 = time.time()
                n = bt.read().agg(F.count(F.lit(1)), F.sum("gross")).collect()
                read_s = time.time() - t0
                rows = n[0][0]
                print(
                    f"| {burst + 1} | {mode} | {files} | {rows} | "
                    f"{read_s:.2f} s | {dt:.2f} s |"
                )
        bt = LakeTable.load(spark, b.path)
        results[mode] = (len(bt._snapshot()[1]), bt.read().count())
        # consumer-floor guard against the LIVE checkpoint: caught-up
        # stream allows an aggressive vacuum of A. ONE unconsumed
        # append is still fine (its snapshot references every file the
        # stream needs); TWO pending commits put the keep_versions=0
        # horizon past the first unconsumed version -> refuse.
        a.vacuum(keep_versions=0, dry_run=True, protect_checkpoints=[ck])
        a.append(o.filter("slice = 0").drop("slice"))
        a.append(o.filter("slice = 1").drop("slice"))  # now it strands
        try:
            a.vacuum(keep_versions=0, dry_run=True, protect_checkpoints=[ck])
            print(f"| - | {mode} | GUARD FAILED | - | - | - |")
        except ValueError:
            pass  # refused as designed
        shutil.rmtree(root, ignore_errors=True)
    (f_no, n_no), (f_mt, n_mt) = results["no-maint"], results[f"maint@{CADENCE}"]
    assert n_no == n_mt, "modes diverged!"
    print(
        f"\nexactly-once: both modes landed {n_no} rows; final files "
        f"{f_no} (no-maint) vs {f_mt} (maint@{CADENCE}); replay no-op "
        "verified at burst 25; vacuum guard refused the lagging "
        "checkpoint and allowed the caught-up one."
    )
    spark.stop()


if __name__ == "__main__":
    main()
