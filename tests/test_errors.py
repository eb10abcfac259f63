"""Structured error taxonomy (errors/errors.go) + quarantine surface."""

import pytest
from pyspark.sql import functions as F

from ptt_spider_go_spark import errors as E
from ptt_spider_go_spark.config import CrawlConfig


# --- CrawlerError semantics (errors/errors_test.go analogues) -------------

def test_error_string_with_and_without_cause():
    e = E.new_network_error("下載失敗", cause=OSError("timeout"))
    assert str(e) == "[NetworkError] 下載失敗: timeout"
    e2 = E.CrawlerError(E.PARSE_ERROR, "解析失敗")
    assert str(e2) == "[ParseError] 解析失敗"


def test_is_type_matches_on_type_only():
    e = E.new_parse_error("x")
    assert e.is_type(E.PARSE_ERROR)
    assert not e.is_type(E.NETWORK_ERROR)


def test_with_context_returns_copy():
    e = E.new_network_error("x")
    e2 = e.with_context("url", "https://a")
    assert e.get_context("url") == (None, False)   # original untouched
    assert e2.get_context("url") == ("https://a", True)


def test_unknown_type_normalized():
    assert E.CrawlerError("Bogus", "m").error_type == "UnknownError"


def test_crawler_error_is_value_error():
    with pytest.raises(ValueError):
        raise E.new_validation_error("bad")


def test_config_board_guard_raises_validation_error():
    with pytest.raises(E.CrawlerError) as ei:
        CrawlConfig(board="../etc")
    assert ei.value.is_type(E.VALIDATION_ERROR)


# --- quarantine rows ------------------------------------------------------

def test_quarantine_types_fetch_failures(spark):
    log = spark.createDataFrame(
        [
            (0, "https://x/ok", "article", "fetched", 1, 0),
            (0, "https://x/gone", "article", "missing_404", 1, 0),
            (1, "https://x/always429", "article", "failed", 3, 3000),
        ],
        "superstep int, url string, kind string, outcome string, "
        "attempt int, backoff_ms long",
    )
    rows = {r["url"]: r for r in E.quarantine_from_fetch_log(log).collect()}
    assert set(rows) == {"https://x/gone", "https://x/always429"}
    gone = rows["https://x/gone"]
    assert gone["error_type"] == E.NETWORK_ERROR
    assert gone["cause"] == "HTTP 404"
    exhausted = rows["https://x/always429"]
    assert exhausted["cause"] == "HTTP 429"
    assert exhausted["context"]["attempt"] == "3"
    assert exhausted["context"]["backoff_ms"] == "3000"


def test_quarantine_cause_from_final_status(spark):
    """ADVICE r2: a non-429 failure (e.g. 500) must be labeled with its
    real status, not as exhausted-429 retries; 429-exhausted keeps the
    重試耗盡 message."""
    log = spark.createDataFrame(
        [
            (0, "https://x/boom500", "article", "failed", 1, 0, 500),
            (0, "https://x/always429", "article", "failed", 3, 3000, 429),
            (0, "https://x/gone", "article", "missing_404", 1, 0, 404),
        ],
        "superstep int, url string, kind string, outcome string, "
        "attempt int, backoff_ms long, status int",
    )
    rows = {r["url"]: r for r in E.quarantine_from_fetch_log(log).collect()}
    assert rows["https://x/boom500"]["cause"] == "HTTP 500"
    assert rows["https://x/boom500"]["message"] == "下載失敗"
    assert rows["https://x/always429"]["cause"] == "HTTP 429"
    assert rows["https://x/always429"]["message"] == "重試耗盡"
    assert rows["https://x/gone"]["cause"] == "HTTP 404"


def test_crawl_result_carries_quarantine(spark):
    from ptt_spider_go_spark.datagen import pages_df
    from ptt_spider_go_spark.plans.crawl import run_crawl

    pages = pages_df(spark, boards=("Beauty",), pages_per_board=3)
    cfg = CrawlConfig(board="Beauty", pages=2, push_rate=10, host_salt=2,
                      max_supersteps=4)
    res = run_crawl(spark, pages, cfg)
    q = res.quarantine.collect()
    # the synthetic board references some articles missing from pages
    assert len(q) > 0
    assert all(r["error_type"] == E.NETWORK_ERROR for r in q)
    # every quarantined URL is accounted for in the fetch log and absent
    # from the parsed contents
    content_urls = {r["url"] for r in res.contents.select("url").collect()}
    assert all(r["url"] not in content_urls for r in q)
