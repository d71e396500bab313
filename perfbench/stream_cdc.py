"""``stream_cdc``: open loop over a streaming CDC pipeline.

A generator thread lands seeded event files in a landing directory. The
driver loop merges them into a lake table with ``stream_merge_lake``
(availableNow, deletion vectors, maintenance every ``MAINTAIN_EVERY``
micro-batches) and drains the table's change feed with
``lake_cdf_stream`` into a parquet sink. Both queries keep persistent
checkpoints.

Set-up warms the code paths with one merge round and one change-feed
round over throwaway tables, side by side, then creates the target table
and lands the backlog (``SETUP_REPEATS`` times; the median counts).

Phase 1 merges the pre-landed backlog in one micro-batch: backlog rows
÷ merge time is the ingest rate. Phase 2 lands one file every
``INTERVAL_S`` seconds for ``PHASE2_SHARE`` of the measured window,
faster than one merge round, so files queue while a round runs. A merge round starts as soon as a landed
file waits and takes every waiting file, so the queue never holds more
than one round's worth. The change feed is drained once, after the last
round. Each file's freshness runs from when it was due to land to the
commit time of the table version that includes it: the rest of the
round in progress plus the round that commits it.

Files are ``events`` rows (sf0.1 value ranges) plus a landing sequence
number ``seq`` that orders re-sent ``event_id``s: a share of each file
re-sends earlier ids with new values, and a share of rows carry
out-of-order timestamps. After the run the table must equal
last-write-wins per ``event_id`` over every landed row, and the change
feed's insert and update row totals must match what each merge
committed.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import datagen
from common import Run, dir_bytes, latency_summary

ROWS_PER_FILE = 250
BACKLOG_FILES = 48
RESEND_SHARE = 0.2
LATE_TS_SHARE = 0.05
INTERVAL_S = 0.25  # much shorter than one merge round: many files per round
PHASE2_SHARE = 0.5  # of --seconds; phase 1 runs until the backlog is committed
POLL_S = 0.02
WARM_FILES = 2
MAINTAIN_EVERY = 3
# compact once two small files have piled up (the default waits for eight)
MAINTENANCE = {"min_small_files": 2}
SETUP_REPEATS = 3
TAIL_Q = 75.0

TABLE_DDL = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"


def _source_schema():
    from pyspark.sql import types as T

    from multi_source_data_lake_with_etl_pipeline_spark.streaming.ingest import EVENTS_SCHEMA

    return T.StructType(list(EVENTS_SCHEMA.fields) + [T.StructField("seq", T.LongType())])


class Generator:
    """Seeded event files: fresh ids, re-sent ids, late timestamps."""

    def __init__(self, seed: int, landing: str):
        self.rng = np.random.default_rng([seed, 77])
        self.landing = landing
        self.next_id = 0
        self.next_seq = 0
        self.files = 0
        self.tables: dict[str, pa.Table] = {}

    def land(self) -> str:
        n = ROWS_PER_FILE
        n_resend = int(n * RESEND_SHARE) if self.next_id >= n else 0
        fresh = np.arange(self.next_id, self.next_id + n - n_resend)
        self.next_id += len(fresh)
        pool = np.arange(self.next_id - len(fresh))
        resent = self.rng.choice(pool, n_resend, replace=False) if n_resend else pool[:0]
        ids = np.concatenate([fresh, resent])
        ts = datagen.event_times(self.rng, n)
        late = self.rng.random(n) < LATE_TS_SHARE
        ts[late] -= np.timedelta64(6, "h")
        t = datagen.events_table(self.rng, ids, ts)
        t = t.set_column(1, "ts", pc.cast(t["ts"], pa.timestamp("us", tz="UTC")))
        t = t.append_column("seq", pa.array(np.arange(self.next_seq, self.next_seq + n), pa.int64()))
        self.next_seq += n
        name = f"part-{self.files:05d}.parquet"
        self.files += 1
        tmp = os.path.join(self.landing, f".{name}.tmp")
        pq.write_table(t, tmp)
        path = os.path.join(self.landing, name)
        os.rename(tmp, path)
        self.tables[name] = t
        return name


class Pipeline:
    """A landing directory, its target table, and the two streaming
    queries over them (merge into the table, drain its change feed),
    each with a persistent checkpoint."""

    def __init__(self, ctx, root: str, files: int, rows: int = 0):
        from multi_source_data_lake_with_etl_pipeline_spark.lake import LakeTable

        self.ctx = ctx
        self.landing = os.path.join(root, "landing")
        os.makedirs(self.landing)
        self.gen = Generator(ctx.seed, self.landing)
        self.path = os.path.join(root, "table")
        self.ckpt_merge = os.path.join(root, "ckpt_merge")
        self.ckpt_cdf = os.path.join(root, "ckpt_cdf")
        self.sink = os.path.join(root, "cdf_sink")
        first = ctx.spark.createDataFrame(
            [(i, None, 0, "view", 0.0, "{}") for i in range(-rows, 0)], TABLE_DDL
        )
        self.table = ctx.tracer.call("lake.create", LakeTable.create, ctx.spark, self.path, first)
        for _ in range(files):
            self.gen.land()
        self.commit_ts: dict[int, float] = {}  # micro-batch id -> merge commit epoch seconds
        self.rounds = 0
        self.wall_s = 0.0
        self.cdf_s = 0.0

    def merge_round(self) -> float:
        """Merge every landed file into the table; return the wall time."""
        from multi_source_data_lake_with_etl_pipeline_spark.streaming import ingest

        tracer = self.ctx.tracer
        with tracer.muted():
            before = self.table.latest_version()
        started = time.time()
        t0 = time.perf_counter()
        tracer.call(
            "stream.merge_round",
            ingest.stream_merge_lake,
            ingest.read_events_stream(self.ctx.spark, self.landing, schema=_source_schema()),
            self.path,
            key="event_id",
            checkpoint=self.ckpt_merge,
            order_col="seq",
            dv=True,
            maintain_every=MAINTAIN_EVERY,
            maintenance=MAINTENANCE,
        )
        dt = time.perf_counter() - t0
        with tracer.muted():
            merges = sorted(
                (h for h in self.table.history() if h["version"] > before and h["op"] == "merge"),
                key=lambda h: h["version"],
            )
        batches = sorted(set(_file_batches(self.ckpt_merge).values()) - set(self.commit_ts))
        # the round's own merge commits, in batch order
        merges = [h for h in merges if started <= h["ts"] <= time.time()]
        if len(merges) != len(batches):
            raise RuntimeError(f"round ran batches {batches} but committed {len(merges)} merges")
        for b, h in zip(batches, merges):
            self.commit_ts[b] = h["ts"]
        self.rounds += 1
        self.wall_s += dt
        return dt

    def cdf_round(self) -> float:
        """Drain the table's change feed into the parquet sink."""
        from multi_source_data_lake_with_etl_pipeline_spark.streaming import cdf_source

        def drain():
            q = (
                cdf_source.lake_cdf_stream(self.ctx.spark, self.path)
                .writeStream.format("parquet")
                .option("checkpointLocation", self.ckpt_cdf)
                .trigger(availableNow=True)
                .start(self.sink)
            )
            q.awaitTermination()

        t0 = time.perf_counter()
        self.ctx.tracer.call("cdf", drain)
        dt = time.perf_counter() - t0
        self.cdf_s += dt
        self.wall_s += dt
        return dt


def _warm(ctx) -> None:
    """One merge round and one change-feed round on throwaway tables,
    run side by side, so the measured rounds find the streaming, merge
    and change-feed code paths compiled."""
    from concurrent.futures import ThreadPoolExecutor

    def merge():
        with ctx.tracer.muted():
            Pipeline(ctx, os.path.join(ctx.work, "warm_merge"), WARM_FILES).merge_round()

    def cdf():
        with ctx.tracer.muted():
            Pipeline(ctx, os.path.join(ctx.work, "warm_cdf"), 0, rows=WARM_FILES).cdf_round()

    with ThreadPoolExecutor(2) as pool:
        for f in [pool.submit(merge), pool.submit(cdf)]:
            f.result()


def setup(ctx) -> dict:
    import shutil

    t0 = time.perf_counter()
    _warm(ctx)
    parts = {"warm_s": time.perf_counter() - t0}
    for d in ("warm_merge", "warm_cdf"):
        shutil.rmtree(os.path.join(ctx.work, d))
    times = []
    for i in range(SETUP_REPEATS):
        root = os.path.join(ctx.work, f"stream_{i}")
        t0 = time.perf_counter()
        pipe = Pipeline(ctx, root, BACKLOG_FILES)
        times.append(time.perf_counter() - t0)
        if i < SETUP_REPEATS - 1:
            shutil.rmtree(root)
    return {"pipe": pipe, "repeat_s": times, "parts": parts}


def _file_batches(ckpt: str) -> dict[str, int]:
    """Landed file name -> micro-batch id, from the file source's log."""
    out: dict[str, int] = {}
    for f in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        with open(f) as fh:
            for line in fh:
                line = line.strip()
                if line.startswith("{"):
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = int(e["batchId"])
    return out


def measure(ctx, state, clock, run: Run) -> None:
    pipe: Pipeline = state["pipe"]
    gen = pipe.gen

    # ---- phase 1: the pre-landed backlog
    backlog_rows = BACKLOG_FILES * ROWS_PER_FILE
    ingest_s = pipe.merge_round()
    run.attempted += BACKLOG_FILES

    # ---- phase 2: open-loop landing at a fixed rate; a round starts as
    # soon as a landed file is waiting and takes every waiting file
    due: list[tuple[str, float]] = []  # (file, due time), appended by the generator
    late: list[float] = []
    stop = threading.Event()
    t_start = time.time()
    n_files = max(int(clock.seconds * PHASE2_SHARE / INTERVAL_S), 1)

    def generator() -> None:
        for i in range(n_files):
            when = t_start + i * INTERVAL_S
            if stop.wait(max(0.0, when - time.time())):
                return
            name = gen.land()
            late.append(time.time() - when)
            due.append((name, when))

    worker = threading.Thread(target=generator, name="perfbench-landing")
    worker.start()
    try:
        merged: set[str] = set(_file_batches(pipe.ckpt_merge))
        while worker.is_alive() or {n for n, _ in due} - merged:
            if not {n for n, _ in due} - merged:
                time.sleep(POLL_S)
                continue
            pipe.merge_round()
            merged = set(_file_batches(pipe.ckpt_merge))
    finally:
        stop.set()
        worker.join()
    pipe.cdf_round()
    clock.stop()
    run.attempted += len(due)

    # ---- outputs (untimed)
    batches = _file_batches(pipe.ckpt_merge)
    fresh = []
    for name, when in due:
        b = batches.get(name)
        if b is None or b not in pipe.commit_ts:
            run.fail(f"file {name} never committed")
            continue
        fresh.append(pipe.commit_ts[b] - when)
    _check_outputs(ctx, pipe, batches, run)

    with ctx.tracer.muted():
        details = pipe.table.details()
    total_bytes = dir_bytes(pipe.path)
    f = latency_summary(fresh, TAIL_Q)
    trig = ctx.tracer.counters.get("stream.trigger_s", 0.0)
    run.e2e.update(
        p50_s=f["p50_s"],
        tail_s=f["tail_s"],
        throughput=backlog_rows / ingest_s,
        cpu_s_per_op=clock.cpu / (BACKLOG_FILES + len(due)),
    )
    run.name("cpu_s_per_op", run.e2e["cpu_s_per_op"], "s", num=clock.cpu, den=BACKLOG_FILES + len(due))
    run.name("freshness_p50_s", f["p50_s"], "s", n=f["n"])
    run.name("freshness_tail_s", f["tail_s"], "s", q=f["tail_q"], n=f["n"], beyond=f["beyond_tail"])
    run.name("ingest_rows_per_s", backlog_rows / ingest_s, "rows/s", num=backlog_rows, den=ingest_s)
    run.name("space_amp", total_bytes / details["total_bytes"], "ratio",
             num=total_bytes, den=details["total_bytes"])
    run.detail.update(
        generator_late_s={"max": max(late, default=0.0), "sum": sum(late)},
        rounds=pipe.rounds,
        loop={"type": "open", "interval_s": INTERVAL_S, "rows_per_file": ROWS_PER_FILE},
        table={
            "backlog_files": BACKLOG_FILES,
            "phase2_files": len(due),
            "rows_landed": gen.next_seq,
            "live_rows": details["live_rows"],
            "files": details["num_files"],
            "dv_files": details["dv_files"],
            "versions": details["version"] + 1,
            "bytes": total_bytes,
            "fits_in_memory": True,
        },
    )
    run.layer.update(
        {
            "stream.rounds": pipe.rounds,
            "stream.start_stop_s": max(pipe.wall_s - trig, 0.0),
            "stream.backlog_files": BACKLOG_FILES,
            "stream.generator_late_s": sum(late),
            "cdf.s": pipe.cdf_s,
            "lake.log_versions": details["version"] + 1,
            "lake.live_files": details["num_files"],
            "lake.dv_files": details["dv_files"],
            "lake.space_amp": total_bytes / details["total_bytes"],
            "lake.bytes_total": total_bytes,
            "lake.bytes_live": details["total_bytes"],
        }
    )


def _check_outputs(ctx, pipe: Pipeline, batches: dict[str, int], run: Run) -> None:
    """Final table = last write wins per event_id; change-feed insert
    and update totals = what each batch's merge should have done."""
    landed = pa.concat_tables(
        t.append_column("batch", pa.array(np.full(t.num_rows, batches.get(n, -1)), pa.int64()))
        for n, t in pipe.gen.tables.items()
    ).sort_by("seq")
    ids = landed["event_id"].to_numpy()
    batch_of = landed["batch"].to_numpy()
    last = dict(zip(ids.tolist(), landed["value"].to_numpy().tolist()))
    with ctx.tracer.muted():
        rows = pipe.table.read().select("event_id", "value").collect()
    run.attempted += 1
    got = {r["event_id"]: r["value"] for r in rows}
    if len(rows) != len(got) or got != last:
        missing = len(set(last) - set(got))
        wrong = sum(1 for k, v in got.items() if last.get(k) != v)
        run.fail(f"final table: {len(rows)} rows, {missing} missing, {wrong} wrong vs {len(last)}")

    seen: set[int] = set()
    want_ins = want_upd = 0
    for b in sorted(set(batch_of.tolist())):
        keys = set(ids[batch_of == b].tolist())
        upd = len(keys & seen)
        want_upd += upd
        want_ins += len(keys) - upd
        seen |= keys
    counts: dict[str, int] = {}
    for f in glob.glob(os.path.join(pipe.sink, "*.parquet")):
        t = pq.read_table(f, columns=["_change_type"])
        for k, n in zip(*np.unique(t["_change_type"].to_numpy(zero_copy_only=False), return_counts=True)):
            counts[str(k)] = counts.get(str(k), 0) + int(n)
    run.attempted += 1
    run.detail["cdf_rows"] = counts
    run.layer["cdf.rows"] = sum(counts.values())
    got_ins, got_upd = counts.get("insert", 0), counts.get("update_postimage", 0)
    if (got_ins, got_upd) != (want_ins, want_upd) or counts.get("update_preimage", 0) != want_upd:
        run.fail(f"change feed {counts}: want insert={want_ins} update={want_upd}")
