"""SparkSession factory with scale-oriented defaults.

Single place to set the knobs that matter at 100 TB: AQE (runtime
re-planning, skew-join splitting, partition coalescing), Arrow batch
size for the parse UDFs, and shuffle-partition sizing. Tests and bench
both go through here so local runs exercise the same configuration the
cluster would.

Two settings are for short-lived sessions, where the JVM spends more
CPU compiling its own code than crawling:

- The driver JVM gets C2 (tier-4) thresholds ten times the JDK 17
  defaults (`DRIVER_JIT_OPTIONS`). In one cold two-board crawl at
  local[2] on a 4-CPU VM (38.5 s of CPU), per-thread CPU read from
  /proc was: C2 compiler threads 16.4 s, C1 3.2 s, executor task
  threads 4.6 s, py4j driver threads 4.1 s, GC 1.1 s, all Python
  processes 3.9 s. Planner, Janino and serialization code that runs
  only some thousands of times in a seconds-long job now stays at C1:
  C2 then took 4.4 s of the same crawl's 24.9 s. Hot per-row loops
  (generated code, Arrow batches) still reach C2, a round or two later
  than before: by the fifth warm near-dup round executor CPU is the
  same as with the JVM defaults. The options go through
  `spark.driver.defaultJavaOptions`, which Spark puts ahead of a
  caller's `spark.driver.extraJavaOptions`; a caller that sets
  `spark.driver.defaultJavaOptions` itself replaces them. Cluster
  executors keep the JVM defaults (in local mode the executor runs in
  the driver JVM). The options only take effect when this factory
  launches the JVM: under spark-submit the driver is already running,
  so pass them on the command line (see submit_crawl.py).
- Spark's cache of compiled generated classes holds
  `CODEGEN_CACHE_ENTRIES` classes, not Spark's default 100. One board
  crawl compiles ~270 generated classes; with 100 entries a second
  crawl in the same session compiled nearly all of them again, with
  1000 none.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32
# Arrow batch for the HTML-parse UDFs: pages rows are large (html binary),
# keep batches modest so executor memory stays bounded.
ARROW_MAX_RECORDS = 2000
#: tier-4 (C2) compile thresholds, ten times the JDK 17 defaults
#: (5000, 600, 15000, 40000). In trials on the same 4-CPU VM, thirty
#: times saved no more on the crawl and slowed the cold near-dup round,
#: and C1 only (TieredStopAtLevel=1) raised warm near-dup executor CPU
#: from 0.86 s to 1.3-1.6 s.
DRIVER_JIT_OPTIONS = (
    "-XX:Tier4InvocationThreshold=50000 -XX:Tier4MinInvocationThreshold=6000 "
    "-XX:Tier4CompileThreshold=150000 -XX:Tier4BackEdgeThreshold=400000"
)
#: compiled generated classes kept per JVM (static SQL conf)
CODEGEN_CACHE_ENTRIES = 1000


def get_spark(
    app_name: str = "ptt-spider-go-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER", "local[*]")
    shuffle = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
    )
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_MAX_RECORDS)
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.driver.defaultJavaOptions", DRIVER_JIT_OPTIONS)
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.files.maxPartitionBytes", "128m")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
