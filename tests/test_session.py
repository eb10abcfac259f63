"""The session factory's engine settings for short-lived sessions: the
driver JVM's tier-4 (C2) thresholds and a codegen cache that holds a
whole crawl."""

import glob
import os
import re
import subprocess

from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import DataFrame, SparkSession

from ptt_spider_go_spark.config import CrawlConfig
from ptt_spider_go_spark.datagen import fetch_events_pandas, pages_pandas
from ptt_spider_go_spark.plans.crawl import run_crawl
from ptt_spider_go_spark.session import get_spark

#: the driver's C2 thresholds, ten times the JDK 17 defaults
TIER4_FLAGS = [
    "-XX:Tier4InvocationThreshold=50000",
    "-XX:Tier4MinInvocationThreshold=6000",
    "-XX:Tier4CompileThreshold=150000",
    "-XX:Tier4BackEdgeThreshold=400000",
]


def test_driver_jvm_runs_with_tier4_thresholds(spark):
    args = list(
        spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
        .getInputArguments()
    )
    for flag in TIER4_FLAGS:
        assert flag in args, args


def test_codegen_cache_holds_a_crawl(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1000"


def _launch_command(conf: dict) -> list[str]:
    """The driver JVM command spark-submit would run for `conf`, from
    Spark's own launcher; no JVM beyond the launcher starts."""
    home = _find_spark_home()
    [jar] = glob.glob(os.path.join(home, "jars", "spark-launcher_*.jar"))
    scala = re.search(r"spark-launcher_([0-9.]+)-", jar).group(1)
    args = ["java", "-cp", jar, "org.apache.spark.launcher.Main",
            "org.apache.spark.deploy.SparkSubmit"]
    for k, v in conf.items():
        args += ["--conf", f"{k}={v}"]
    env = dict(os.environ, SPARK_HOME=home, SPARK_SCALA_VERSION=scala)
    out = subprocess.run(args + ["pyspark-shell"], env=env, check=True,
                         capture_output=True, timeout=60).stdout
    return out.decode().split("\0")


def test_caller_java_options_reach_the_jvm_next_to_the_jit_options(
        monkeypatch):
    """A caller's spark.driver.extraJavaOptions (the benchmark harness
    sets one) does not displace the thresholds: Spark's launcher puts
    both on the driver command line, the defaults first."""
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate",
                        lambda self: dict(self._options))
    conf = get_spark(extra_conf={
        "spark.driver.extraJavaOptions": "-Dcaller.option=1"})
    cmd = _launch_command(conf)
    jvm_args = cmd[:cmd.index("org.apache.spark.deploy.SparkSubmit")]
    at = [jvm_args.index(f) for f in TIER4_FLAGS]
    assert max(at) < jvm_args.index("-Dcaller.option=1"), jvm_args


def test_caller_default_java_options_replace_the_jit_options(monkeypatch):
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate",
                        lambda self: dict(self._options))
    conf = get_spark(extra_conf={
        "spark.driver.defaultJavaOptions": "-Dcaller.option=1"})
    assert conf["spark.driver.defaultJavaOptions"] == "-Dcaller.option=1"


def _codegen_compilations(spark) -> int:
    return (spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
            .METRIC_COMPILATION_TIME().getCount())


def test_second_crawl_compiles_no_generated_class(spark):
    """Back-to-back crawls generate the same classes; with the cache
    holding a whole crawl, the second one compiles (almost) none. With
    Spark's default of 100 entries it compiled ~230 of the ~240 again."""
    pdf = pages_pandas(boards=("Beauty",), pages_per_board=3,
                       slots_per_page=6)
    pages = spark.createDataFrame(pdf)
    events = spark.createDataFrame(fetch_events_pandas(pdf))
    cfg = CrawlConfig(board="Beauty", pages=3, push_rate=0, host_salt=4,
                      workers=1, superstep_ms=10_000, max_supersteps=10)

    def crawl() -> int:
        before = _codegen_compilations(spark)
        res = run_crawl(spark, pages, cfg, fetch_events=events,
                        verify_text=False)
        for df in vars(res).values():
            if isinstance(df, DataFrame):
                df.write.format("noop").mode("overwrite").save()
        return _codegen_compilations(spark) - before

    # the first crawl may find classes earlier tests compiled
    first = crawl()
    second = crawl()
    assert second <= 5, (first, second)
