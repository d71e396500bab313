"""Benchmark entry point.

    python3 perfbench/run.py --workload {batch_mix,stream_cdc,all} \
        --seed N --seconds S --trace {0,1}

Run from the repository root. Each invocation is one fresh process with
one local Spark session on every core it may use. Inputs are generated
from ``--seed`` under a scratch directory inside the checkout
(``.perfbench_work/``), which is deleted when the run ends.

Standard output ends with one JSON line: ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
``end_to_end`` metrics of ``BENCHMARK.json``; with ``--trace 1`` every
layer's public functions are wrapped and timed from outside, and the
metrics are the ``per_layer`` ones. The line before it is a JSON detail
record: environment, set-up parts, the workload's own metrics by name
(``metrics``: each with its unit, percentiles with their sample counts,
ratios with their numerator and denominator) and the failures seen.
``--workload all`` runs every workload in turn, each in its own process.

Every process a run starts (the JVM and its Python workers) has ended
before the run exits, on every path out of it.
"""

from __future__ import annotations

import time

PROCESS_T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from dataclasses import dataclass  # noqa: E402

import common  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "multi_source_data_lake_with_etl_pipeline_spark"
WORKLOADS = ("batch_mix", "stream_cdc")
# Driver heap per workload: batch_mix's parallel warm-up needs room, and
# a heap the workload fills keeps peak RSS from depending on when the
# collector chose to grow it.
DRIVER_MEM = {"batch_mix": "2g", "stream_cdc": "1g"}


@dataclass
class Ctx:
    spark: object
    tracer: object
    work: str
    seed: int


def _prepare_env(work: str, driver_mem: str) -> None:
    """Point every scratch path of the engine, Spark and the JVM into
    ``work``; put the repository root on ``PYTHONPATH`` so Spark's
    Python workers can import the engine's data sources."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env = os.environ
    env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)
    env["TMPDIR"] = tmp
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    env["SPARK_GRAFT_SILVER_DIR"] = os.path.join(work, "silver")
    env.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    env.setdefault("SPARK_GRAFT_DRIVER_MEM", driver_mem)
    # C1 only: in a run this short C2 never reaches steady state, and its
    # compile threads would compete with the measured ops for the cores
    env["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:TieredStopAtLevel=1"
    for p in (ROOT, HERE):
        if p not in sys.path:
            sys.path.insert(0, p)


def _wrap_layers(tracer) -> None:
    from multi_source_data_lake_with_etl_pipeline_spark import catalog, lake_sql
    from multi_source_data_lake_with_etl_pipeline_spark.api.service import DataLakeService
    from multi_source_data_lake_with_etl_pipeline_spark.lake import LakeTable

    tracer.wrap(catalog, "silver_path", "catalog.silver_path")
    tracer.wrap(catalog, "load_table", "catalog.load_table")
    for op in (
        "read_where_eq", "read_pruned", "append", "merge", "delete_keys",
        "update", "delete", "optimize_if_needed", "latest_version",
    ):
        tracer.wrap(LakeTable, op, f"lake.{op}")
    tracer.wrap(lake_sql, "lake_sql", "lake_sql")
    tracer.wrap(DataLakeService, "lake_query", "api.lake_query")


def _per_layer(names: list[str], tracer, run, session_s: float) -> dict[str, float]:
    got = tracer.layers()
    got["session.start_s"] = session_s
    for key in ("jobs", "tasks", "job_s", "gap_s"):
        got[f"query.{key}"] = sum(
            v for k, v in got.items() if k.startswith("query.") and k.endswith(f".{key}")
            and k.count(".") == 2
        )
    got.update(run.layer)
    for k, v in run.e2e.items():
        got[f"trace.{k}"] = v
    return {n: float(got.get(n, 0.0)) for n in names}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops Spark, waits for every process it
    # started and removes its scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    common.adopt_orphans()

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: engine package {PACKAGE!r} not found under {ROOT}", file=sys.stderr)
        return 2
    if args.workload == "all":
        return _run_all(args)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    try:
        _prepare_env(work, DRIVER_MEM[args.workload])
        return _run(args, spec, work)
    finally:
        common.stop_children()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass


def _run_all(args) -> int:
    """Every workload, one fresh process each, one after the other."""
    rc = 0
    for w in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", w,
               "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace)]
        rc = rc or subprocess.run(cmd, cwd=ROOT, check=False).returncode
    return rc


def _stop_spark(spark) -> None:
    """Stop the session, then end its JVM: the gateway JVM exits when
    its standard input closes, which otherwise happens only when this
    process exits, after the run has returned."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    try:
        spark.stop()
    finally:
        if proc is not None and proc.stdin is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=common.STOP_GRACE_S)
            except subprocess.TimeoutExpired:
                pass  # stop_children signals it


def _run(args, spec: dict, work: str) -> int:
    import importlib

    from spans import Tracer, stream_listener

    from multi_source_data_lake_with_etl_pipeline_spark.session import get_spark

    workload = importlib.import_module(args.workload)
    t0 = time.perf_counter()
    spark = get_spark(
        "perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    run = common.Run()
    try:
        tracer = Tracer(spark, enabled=bool(args.trace))
        if tracer.enabled:
            _wrap_layers(tracer)
        ctx = Ctx(spark, tracer, work, args.seed)
        t_setup = time.perf_counter()
        state = workload.setup(ctx)
        if tracer.enabled:
            spark.streams.addListener(stream_listener(tracer))
        once_s = time.perf_counter() - t_setup - sum(state["repeat_s"])
        # set-up = start-up to the session, plus the one-off set-up work,
        # plus the median of the repeated fixture builds
        setup_s = (t0 - PROCESS_T0) + session_s + once_s + statistics.median(state["repeat_s"])
        clock = common.Clock(args.seconds)
        workload.measure(ctx, state, clock, run)
        run.detail["measure_s"] = clock.elapsed()
        run.detail["window"] = {"wall_s": clock.wall, "cpu_s": clock.cpu}
        run.e2e["setup_s"] = setup_s
        run.e2e["peak_rss_mb"] = common.peak_rss_mb(spark)
        run.detail["setup"] = {
            "session_s": session_s,
            "once_s": once_s,
            "repeat_s": state["repeat_s"],
            **state.get("parts", {}),
        }
        run.detail["env"] = common.environment(spark, getattr(workload, "SF", None), args.seed)
        if tracer.enabled:
            time.sleep(0.5)  # let the listener bus deliver the last progress events
            names = [m["name"] for m in spec["per_layer"]]
            metrics = _per_layer(names, tracer, run, session_s)
            units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        else:
            names = [m["name"] for m in spec["end_to_end"]]
            metrics = {n: float(run.e2e[n]) for n in names}
            units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    finally:
        t_stop = time.perf_counter()
        _stop_spark(spark)
        run.detail["stop_s"] = time.perf_counter() - t_stop
    run.name("setup_s", run.e2e["setup_s"], "s")
    run.name("peak_rss_mb", run.e2e["peak_rss_mb"], "MB")
    run.name("error_rate", run.failed / max(run.attempted, 1), "ratio",
             num=run.failed, den=run.attempted)
    run.detail.update(
        workload=args.workload,
        trace=args.trace,
        metrics=run.named,
        failures=run.failures,
    )
    print(common.dumps({"detail": run.detail}))
    print(
        json.dumps(
            {
                "correct": run.failed == 0,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": {n: {"value": metrics[n], "unit": units[n]} for n in names},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
