"""X106: per-host politeness compliance receipts.

budget_gate enforces budgets going in (T1); politeness_receipts is the
audit coming out — the receipts-not-assurances posture takedown_audit
(X87) set, applied to the politeness contract. The reference's
politeness is a per-worker sleep over one host (crawler/crawler.go:
59-65) whose "receipt" is implicit in wall time; a 10^10-URL crawl
needs an explicit per-host evidence row. DuckDB oracle in contract.py
(`politeness_receipts`); exactness and composition pins here.
"""

from __future__ import annotations

from ptt_spider_go_spark.config import CrawlConfig
from ptt_spider_go_spark.datagen import pages_pandas
from ptt_spider_go_spark.operators.politeness import politeness_receipts
from ptt_spider_go_spark.plans.crawl import run_crawl

LOG_SCHEMA = "superstep int, url string, status int"


def _log(spark, rows):
    return spark.createDataFrame(rows, LOG_SCHEMA)


def _by_host(df):
    return {r["host"]: r for r in df.collect()}


def test_receipt_columns_exact(spark):
    # host a: budget 2; step 0 has 3 attempts (violation), step 1 has
    # 2 (at-boundary: NOT a violation — strictly greater only).
    # host b: no declared budget -> default; one throttled attempt and
    # one 404, both counting as attempts but only the 429 as throttled.
    log = _log(spark, [
        (0, "https://a/x1", 200), (0, "https://a/x2", 200),
        (0, "https://a/x3", 429),
        (1, "https://a/y1", 200), (1, "https://a/y2", 200),
        (0, "https://b/z1", 429), (1, "https://b/z2", 404),
    ])
    budgets = spark.createDataFrame([("a", 2)], "host string, budget long")
    out = _by_host(politeness_receipts(log, budgets, default_budget=5))

    a = out["a"]
    assert (a["budget"], a["n_supersteps"], a["n_attempts"]) == (2, 2, 5)
    assert (a["n_ok"], a["n_throttled"]) == (4, 1)
    assert a["max_step_attempts"] == 3
    assert (a["n_violations"], a["compliant"]) == (1, False)

    b = out["b"]
    assert b["budget"] == 5  # default applied, not NULL
    assert (b["n_attempts"], b["n_ok"], b["n_throttled"]) == (2, 0, 1)
    assert (b["n_violations"], b["compliant"]) == (0, True)


def test_no_budget_table_uses_default_everywhere(spark):
    log = _log(spark, [(0, "https://a/1", 200), (0, "https://a/2", 200)])
    out = _by_host(politeness_receipts(log, None, default_budget=1))
    assert out["a"]["budget"] == 1
    assert (out["a"]["n_violations"], out["a"]["compliant"]) == (1, False)


def test_crawl_log_compliant_by_construction(spark):
    """run_crawl's own fetch log must earn a clean receipt: budget_gate
    admits at most `budget` URLs per host per superstep and a 429
    retry re-enqueues into the NEXT superstep, so no (host, superstep)
    cell can exceed the enforced budget."""
    board = "Beauty"
    pages = spark.createDataFrame(
        pages_pandas(boards=(board,), pages_per_board=3, slots_per_page=6))
    cfg = CrawlConfig(board=board, pages=3, push_rate=0, host_salt=4,
                      max_supersteps=6)
    res = run_crawl(spark, pages, cfg)
    out = politeness_receipts(
        res.fetch_log, None,
        default_budget=cfg.host_budget_per_superstep).collect()
    assert out, "crawl produced an empty fetch log"
    assert all(r["compliant"] for r in out)
    assert all(r["max_step_attempts"] <= cfg.host_budget_per_superstep
               for r in out)


def test_sitemap_coverage_receipts(spark):
    """X109: declared∩fetched arithmetic, the undeclared-only host's
    NULL coverage claim (not zero), exact ppm, and the full-coverage
    flag."""
    from ptt_spider_go_spark.operators.recrawl import sitemap_coverage

    entries = spark.createDataFrame(
        [("http://a/1",), ("http://a/2",), ("http://a/3",),
         ("http://b/1",), ("http://b/1",)],  # duplicate declaration
        "url string")
    fetched = spark.createDataFrame(
        [("http://a/1",), ("http://a/9",),   # 1 of 3 declared + 1 extra
         ("http://b/1",),                    # b fully covered
         ("http://c/1",)],                   # c never declared anything
        "url string")
    out = {r["host"]: r for r in
           sitemap_coverage(entries, fetched).collect()}
    a = out["a"]
    assert (a["n_declared"], a["n_fetched_declared"],
            a["n_undeclared_fetched"]) == (3, 1, 1)
    assert a["coverage_ppm"] == 333333 and not a["fully_covered"]
    b = out["b"]
    assert (b["n_declared"], b["coverage_ppm"], b["fully_covered"]) == \
        (1, 1000000, True)
    c = out["c"]
    assert c["n_declared"] == 0 and c["coverage_ppm"] is None
    assert not c["fully_covered"] and c["n_undeclared_fetched"] == 1
