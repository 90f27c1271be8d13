"""SparkSession factory with scale-oriented defaults.

Single place where engine-wide performance knobs live so that tests,
bench.py and the driver entrypoint all run the same configuration.
Defaults are chosen for the 100 TB design point (AQE on, skew-join
handling on, Arrow on for the few Pandas-UDF paths) while remaining
correct on local[N]. ``overlap`` is the one way to run Spark jobs
from several driver threads on that session.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from typing import Any

from pyspark.sql import SparkSession

#: most driver threads one overlap() call runs at once
_OVERLAP_WIDTH = 4


def get_spark(
    app_name: str = "chiv_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Honors ``SPARK_GRAFT_CPUS`` for local parallelism. On a real
    cluster, ``master`` is left to spark-submit; here we default to
    ``local[N]``.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 4
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime coalescing of shuffle partitions, skew-join
        # splitting, and dynamic join-strategy switching. This is the
        # main 100-TB safety net: static partition counts never fit
        # every stage of a big plan.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # coalesce post-shuffle partitions by SIZE, not cluster
        # parallelism: small intermediate results collapse to few tasks
        # instead of spraying `shuffle.partitions` empty tasks per stage
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow for the Pandas-UDF paths (multimodal, custom formats).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Broadcast threshold: dims like region/nation/supplier must
        # broadcast, never shuffle. 64 MiB is safe for typical dims.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Timestamps in parquet test data are TIMESTAMP_MICROS.
        .config("spark.sql.session.timeZone", "UTC")
        # Read tz-less parquet timestamps as TIMESTAMP (session-tz),
        # not TIMESTAMP_NTZ: unix_micros()/withWatermark() reject NTZ,
        # and under the UTC session tz the two are value-identical.
        # The catalog's normalize_event_ts still defends per-column for
        # sessions built outside this factory.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # Local mode runs everything in the driver JVM; Spark's 1g
        # default is far below this box and makes every broadcast build
        # an OOM hazard. Applies only when this builder launches the
        # JVM (on a cluster, spark-submit owns it).
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    if shuffle_partitions is None:
        # Local default: ~2x cores. On a cluster this is overridden by
        # spark-submit; AQE coalesces down when partitions are small.
        shuffle_partitions = int(cpus) * 2
    builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def overlap(spark: SparkSession, *thunks: Callable[[], Any]) -> list:
    """Run independent Spark actions from up to four driver threads so
    one job's tail back-fills the next job's tasks. Returns the thunks'
    results in thunk order; a thunk's exception re-raises here.

    Each thunk is wrapped in ``inheritable_thread_target(spark)`` at
    call time, one wrapper per thunk: pyspark copies the caller's local
    properties (job group, description) and tags when the wrapper is
    built, not when the thread starts, so the jobs stay in the caller's
    job group and ``cancelJobGroup`` reaches them. A thunk must not
    mutate session conf: conf is session-wide, so a change made in one
    thread leaks into every other thunk and into the caller."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    with ThreadPoolExecutor(max_workers=min(_OVERLAP_WIDTH, len(thunks))) as pool:
        futures = [pool.submit(inheritable_thread_target(spark)(t)) for t in thunks]
        return [f.result() for f in futures]
