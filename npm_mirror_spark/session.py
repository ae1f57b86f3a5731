"""SparkSession factory.

Defaults are chosen for the driver's local[32] single-JVM harness but the
same knobs are what you'd set on a 1000-executor cluster:

- AQE on (runtime coalesce of shuffle partitions, skew-join splitting) —
  at 100 TB, static shuffle-partition counts are always wrong somewhere.
- Arrow on — every pandas UDF / mapInPandas crosses the JVM<->Python
  boundary in columnar batches instead of pickled rows.
- Broadcast threshold left at default (10 MB) but operators that join a
  known-small dimension pass an explicit ``broadcast()`` hint, which works
  regardless of stats availability.
- ``spark.sql.shuffle.partitions`` sized from SPARK_GRAFT_CPUS; AQE
  coalesces down when partitions are small and splits skewed ones.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# cores assumed when SPARK_GRAFT_CPUS is unset (one local[32] JVM)
DEFAULT_CPUS = "32"


def get_spark(
    app_name: str = "npm-mirror-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", DEFAULT_CPUS))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # deliberate join strategy (guide §3.1/§9): let the planner pick
        # shuffled-hash over sort-merge when the build side fits its
        # size conditions, and let AQE rewrite SMJ->SHJ at runtime when
        # every post-shuffle partition is under the advisory size — the
        # key-collapsed frames these operators join never justify a
        # per-partition sort.  Measured r14 (ABAB same-session, sf0.1):
        # q_jaccard_exact 4.25->3.13 s, q_triangle_est 8.24->5.97 s,
        # q_capture_recapture 5.04->4.01 s, replicated both phases.
        # (The companion coalescePartitions.parallelismFirst=false +
        # advisory-size experiment REGRESSED iterative faces 1.7-10x and
        # was rejected — see OPTIMIZATION_r14.md.)
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m"
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # long-lived sessions (the 200-face bench, multi-hour streaming)
        # accumulate RDD/shuffle/broadcast state that ContextCleaner only
        # reclaims after a JVM GC notices the weak refs; the default
        # periodic-GC interval (30 min) never fires inside a typical
        # bench run, so localCheckpoint blocks from iterative operators
        # pile up.  5 min is a no-op for short jobs and bounds the pile
        # for long ones (same setting a cluster deployment would want).
        .config("spark.cleaner.periodicGC.interval", "5min")
        # local-mode niceties; harmless on a cluster
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
