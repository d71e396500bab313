"""``batch_mix``: closed loop, one client: catalog analytics queries
interleaved with reads and writes of one versioned lake table.

Set-up generates the sf0.1 catalog tables, warms every op kind once
(the queries on sf0.001 tables, where their full output is checked
against the oracle, and the lake ops on 2k-row copies of the lake
table) several at a time, resolves the catalog ``SETUP_REPEATS``
times (the median counts in ``setup_s``) and builds the 150k-row lake
table.

A cycle runs every query in ``catalog_queries.QUERIES``, ``READS`` and
the cycle's writes, interleaved in a fixed order; the seed picks the
inputs (generated tables, Zipf-skewed keys, ranges, versions, merge key
sets). The first cycle always runs, and each further one only while it
is expected to end inside the measured window, so every run times whole
cycles of the same sequence of op kinds. Writes are a 200-key merge with
deletion vectors and a range update sent as SQL text through
``lake_sql``.
"""

from __future__ import annotations

import os
import time
from concurrent.futures import ThreadPoolExecutor

import lake_client
from catalog_queries import QUERIES, SF, Catalog
from common import Run, latency_summary

SETUP_REPEATS = 3
WARM_THREADS = 4
WARM_LAKE_ROWS = 2000
TAIL_Q = 75.0
READS = ("point", "range", "travel")
WRITES = ("merge_dv", "sql_update")
# lake op kinds warmed in order, one chain per small table, chains side by side
WARM_LAKE_CHAINS = (
    ("merge_dv",),
    ("point", "travel"),
    ("range", "sql_update"),
)


def setup(ctx) -> dict:
    parts = {}
    t0 = time.perf_counter()
    cat = Catalog(ctx)
    parts["datagen_s"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    _warm(ctx, cat)
    parts["warm_s"] = time.perf_counter() - t0
    times = []
    for _ in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        cat.register()
        times.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    table = lake_client.build(ctx, cat.sf_dir, os.path.join(ctx.work, "lake"))
    client = lake_client.LakeClient(ctx, table, lake_client.model_of(cat.sf_dir), cat.sf_dir)
    parts["lake_build_s"] = time.perf_counter() - t0
    return {"catalog": cat, "lake": client, "repeat_s": times, "parts": parts}


def _warm(ctx, cat: Catalog) -> None:
    """Every op kind once, several at a time, so timed ops find their
    code compiled. Lake ops run in order on a small table of their own."""

    def lake(i: int, chain: tuple[str, ...]) -> None:
        with ctx.tracer.muted():
            path = os.path.join(ctx.work, f"warm_lake_{i}")
            table = lake_client.build(ctx, cat.sf_dir, path, rows=WARM_LAKE_ROWS)
            client = lake_client.LakeClient(
                ctx, table, lake_client.model_of(cat.sf_dir, WARM_LAKE_ROWS), cat.sf_dir
            )
            for kind in chain:
                timed, after = client.op(kind)
                err = after(timed())
                if err:
                    raise RuntimeError(f"warm-up {kind}: {err}")

    with ThreadPoolExecutor(WARM_THREADS) as pool:
        futures = [pool.submit(lake, i, c) for i, c in enumerate(WARM_LAKE_CHAINS)]
        futures += [pool.submit(cat.warm, name) for name in QUERIES]
        for f in futures:
            f.result()


def _interleave(*streams: list) -> list:
    """Merge the streams so each is spread evenly over the cycle; the
    order is fixed, so runs differ only in op inputs, not in which op
    follows which."""
    keyed = [((i + 0.5) / len(s), n, op) for n, s in enumerate(streams) for i, op in enumerate(s)]
    return [op for _, _, op in sorted(keyed)]


def measure(ctx, state, clock, run: Run) -> None:
    cat: Catalog = state["catalog"]
    lake: lake_client.LakeClient = state["lake"]
    lat: dict[str, list[float]] = {"query": [], "read": [], "write": []}
    per_op: dict[str, list[float]] = {}
    cycles = 0
    # whole cycles: the first always, then each one expected to end in the window
    while cycles == 0 or clock.elapsed() * (cycles + 1) / cycles <= clock.seconds:
        for side, kind in _interleave(
            [("query", q) for q in QUERIES],
            [("read", r) for r in READS],
            [("write", w) for w in WRITES],
        ):
            if side == "query":
                timed, after = cat.op(kind)
            else:
                timed, after = lake.op(kind)
            run.attempted += 1
            t0 = time.perf_counter()
            try:
                res = timed()
            except Exception as e:  # noqa: BLE001 — a failed op is counted, not fatal
                run.fail(f"{kind}: {e!r}")
                continue
            dt = time.perf_counter() - t0
            lat[side].append(dt)
            per_op.setdefault(kind, []).append(round(dt, 4))
            err = after(res)
            if err:
                run.fail(err)
        cycles += 1
    clock.stop()
    cat.check(run)
    lake_client.final_check(lake, run)
    lake_client.report(lake, run)
    every = lat["query"] + lat["read"] + lat["write"]
    summary = latency_summary(every, TAIL_Q)
    run.e2e.update(
        p50_s=summary["p50_s"],
        tail_s=summary["tail_s"],
        throughput=len(every) / clock.wall,
        cpu_s_per_op=clock.cpu / len(every),
    )
    run.name("ops_per_s", len(every) / clock.wall, "1/s", num=len(every), den=clock.wall)
    run.name("cpu_s_per_op", clock.cpu / len(every), "s", num=clock.cpu, den=len(every))
    for side, xs in lat.items():
        s = latency_summary(xs, TAIL_Q)
        run.name(f"{side}_p50_s", s["p50_s"], "s", n=s["n"])
        run.name(f"{side}_tail_s", s["tail_s"], "s", q=s["tail_q"], n=s["n"], beyond=s["beyond_tail"])
    run.detail.update(
        ops=summary,
        cycles=cycles,
        loop={"type": "closed", "clients": 1},
        sf=SF,
        per_op_s=per_op,
    )
