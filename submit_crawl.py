"""spark-submit entry point for the frontier crawl [north_rule].

Run on a cluster (the master comes from spark-submit, so the same
command works on YARN/k8s/standalone and local[N]):

    python tools/make_pyfiles_zip.py
    spark-submit --py-files dist/ptt_spider_go_spark.zip \
        submit_crawl.py \
        --pages <parquet dir/table of (url, warc_ts, html, text, lang)> \
        --board beauty --pages-n 3 --push 10 \
        --checkpoint <durable dir for the per-superstep commits> \
        --out <output dir> [--resume]

Under spark-submit the driver JVM is already running when this script
builds its session, so the short-lived-session engine settings of
`ptt_spider_go_spark.session` (its docstring says why) go on the
command line. The driver's JIT option (C1 only,
`-XX:TieredStopAtLevel=1`) is the string `session.DRIVER_JIT_OPTIONS`,
the codegen cache size `session.CODEGEN_CACHE_ENTRIES`. They suit a
driver that lives for one crawl; executors keep the JVM defaults:

    spark-submit \
        --conf "spark.driver.defaultJavaOptions=$(python -c \
            'from ptt_spider_go_spark.session import DRIVER_JIT_OPTIONS as o; print(o)')" \
        --conf spark.sql.codegen.cache.maxEntries=1000 \
        --py-files dist/ptt_spider_go_spark.zip submit_crawl.py ...

Outputs (parquet under --out): articles/, markdown_docs/, metrics/,
quarantine/, fetch_log/. Checkpointing + --resume give exact
kill-and-resume (plans/checkpoint.py); politeness, robots and the
seen set are configured via the CrawlConfig flags below.
"""

from __future__ import annotations

import argparse
import os


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", required=True,
                    help="parquet path of the pages table")
    ap.add_argument("--board", default="beauty")
    ap.add_argument("--boards", default=None,
                    help="comma-separated board list (default: --board)")
    ap.add_argument("--pages-n", type=int, default=3)
    ap.add_argument("--push", type=int, default=10)
    ap.add_argument("--checkpoint", default=None)
    ap.add_argument("--out", required=True)
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--file-urls", default=None,
                    help="file-mode seed list (S3 semantics)")
    ap.add_argument("--host-salt", type=int, default=None,
                    help="politeness lanes per host (default: cores)")
    ap.add_argument("--max-supersteps", type=int, default=8)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    # No .master(...): spark-submit decides (cluster or local[N]).
    spark = SparkSession.builder.appName("ptt-spider-crawl").getOrCreate()
    cores = spark.sparkContext.defaultParallelism

    from ptt_spider_go_spark.config import CrawlConfig
    from ptt_spider_go_spark.plans.crawl import run_crawl

    cfg = CrawlConfig(
        board=args.board,
        pages=args.pages_n,
        push_rate=args.push,
        host_salt=args.host_salt or cores,
        max_supersteps=args.max_supersteps,
    )
    pages = spark.read.parquet(args.pages)
    res = run_crawl(
        spark, pages, cfg,
        boards=args.boards.split(",") if args.boards else None,
        file_urls_path=args.file_urls,
        checkpoint_dir=args.checkpoint,
        resume=args.resume,
    )
    outputs = {
        "articles": res.articles,
        "markdown_docs": res.markdown_docs,
        "metrics": res.metrics,
        "quarantine": res.quarantine,
        "fetch_log": res.fetch_log,
    }
    for name, df in outputs.items():
        df.write.mode("overwrite").parquet(os.path.join(args.out, name))
    print(
        f"crawl done: supersteps={res.supersteps} "
        f"articles={res.articles.count()} "
        f"fetched={res.fetch_log.count()}"
    )
    spark.stop()


if __name__ == "__main__":
    main()
