"""SparkSession factory with scale-oriented defaults.

Single place to set the knobs that matter at 100 TB: AQE (runtime
re-planning, skew-join splitting, partition coalescing), Arrow batch
size for the parse UDFs, and shuffle-partition sizing. Tests and bench
both go through here so local runs exercise the same configuration the
cluster would.

Two settings are for short-lived sessions, where the JVM spends more
CPU compiling its own code than crawling:

- The driver JVM compiles with C1 only (`DRIVER_JIT_OPTIONS`,
  `-XX:TieredStopAtLevel=1`): no tier-3 profiling code and no C2. A
  crawl session runs some hundred short jobs, and in local mode the
  planner, Janino, the generated code and the Arrow exchange all run
  in this JVM. Per-thread CPU of one cold `board_crawl` round at
  local[2] on a 4-CPU VM (`tools/thread_cpu.py`, seeds 1-3 on a busy
  host): with C2 at ten times its default thresholds (the previous
  setting), C2 compiler threads took 11.3-12.1 s of 52-55 s, C1
  5.4-5.7 s, py4j driver threads 9.8 s and executor task threads
  7.5-7.9 s; C1 only gave C2 0 s, C1 4.1-5.4 s, py4j 7.5-9.9 s and
  executor 6.7-8.4 s of 33-43 s. C1 code is slower in hot per-row
  loops: warm near-dup executor CPU was 0.86 s with C2 and 1.3-1.6 s
  without, the reason the raised thresholds were chosen first. That
  loss is smaller than the compile and profiling work C1 only saves,
  and a near-dup run also spends less CPU in all, so it no longer
  decides. The option goes through `spark.driver.defaultJavaOptions`,
  which Spark puts ahead of a caller's `spark.driver.extraJavaOptions`;
  a caller that sets `spark.driver.defaultJavaOptions` itself replaces
  it. Cluster executors keep the JVM defaults (in local mode the
  executor runs in the driver JVM), since a long-lived executor earns
  back C2's compiles. The option only takes effect when this factory
  launches the JVM: under spark-submit the driver is already running,
  so pass it on the command line (see submit_crawl.py).
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
#: C1 only: no tier-3 profiling and no C2 in the driver JVM. It
#: replaces four tier-4 thresholds at ten times the JDK 17 defaults,
#: which left hot methods in profiled tier-3 code longer and still
#: compiled them with C2 later. Per-thread CPU of a cold board crawl:
#: see the module docstring.
DRIVER_JIT_OPTIONS = "-XX:TieredStopAtLevel=1"
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
