"""SparkSession factory.

Replaces the reference's hand-tuned concurrency knobs
(``config/settings.py:134-137`` — batch_size/parallel_workers/retries)
with Spark-native equivalents: AQE for runtime re-planning, partition
coalescing, skew-join handling, and task retries.

Scale notes (100 TB target):
- AQE is ON so shuffle partition counts and join strategies adapt to
  real data sizes at runtime; the static ``spark.sql.shuffle.partitions``
  below is only the local-mode default (32 = local core count).
- Broadcast threshold left at default 10 MB; dimension tables
  (region/nation/supplier at any SF) broadcast automatically and the
  operator layer adds explicit ``F.broadcast`` hints where the dim side
  is known-small by construction.
- ``maxPartitionBytes`` kept at default 128 MB so a 100 TB scan splits
  into ~800k input tasks — right-sized for 1000 executors.
- File listing stays on the driver for local sessions. A lake read
  hands Spark the exact file list from the commit log, and past
  ``parallelPartitionDiscovery.threshold`` paths (default 32) Spark
  re-lists them with a one-task-per-path job. Under a ``local[...]``
  master that job runs the same ``stat`` calls on the same machine plus
  job overhead (``read()`` of a 200-file table, 4 cores: 0.70 s and
  2.3 CPU-s with the job, 0.06 s and 0.15 CPU-s on the driver), so local
  sessions pin the threshold to ``LOCAL_LISTING_THRESHOLD``. Cluster sessions keep Spark's default:
  there the job spreads object-store round trips over executors.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
# paths a local session lists on the driver before Spark would start a
# listing job (see the scale notes above)
LOCAL_LISTING_THRESHOLD = 1 << 20
_LISTING_KEY = "spark.sql.sources.parallelPartitionDiscovery.threshold"


def get_spark(
    app_name: str = "mdl-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a local SparkSession with engine defaults."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE post-shuffle coalescing mode. Default = Spark's own
        # default (parallelismFirst=true: keep ~core-count partitions
        # for parallelism). The size-based alternative (false) was
        # A/B'd in round 10 and LOST locally: at bench SFs the working
        # sets are KB-MB, so size-based coalescing collapses reduce
        # stages to 1-2 tasks and serializes compute that 32 tiny
        # tasks finish faster (part_coorder_triangles 4.1->7.6 s).
        # On a real cluster Spark's config reference recommends false
        # (size-based targets the 100 MB-1 GB reduce-partition band),
        # so the knob is exposed via MDL_AQE_PARALLELISM_FIRST for
        # deployments while the local default stays measured-best.
        .config(
            "spark.sql.adaptive.coalescePartitions.parallelismFirst",
            os.environ.get("MDL_AQE_PARALLELISM_FIRST", "true"),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "32g"))
        # Spark emits one generated class per codegen stage; a long
        # session (100+ distinct queries) fills the JVM's default
        # 240 MB code cache, after which HotSpot silently stops JIT
        # compilation and expression-heavy operators run interpreted
        # (measured 10-40x slowdowns late in a benchmark session).
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing",
        )
        .config("spark.ui.enabled", "false")
        .config(_LISTING_KEY, str(LOCAL_LISTING_THRESHOLD))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine defaults to an externally-created
    session (e.g. the verify driver's). Only touches conf keys that are
    mutable after JVM start."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    master = spark.sparkContext.master
    if master == "local" or master.startswith("local["):
        spark.conf.set(_LISTING_KEY, str(LOCAL_LISTING_THRESHOLD))
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    except Exception:
        pass
    return spark
