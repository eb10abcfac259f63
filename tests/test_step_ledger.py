"""The superstep step ledger: one tagging projection over one budget
rank and one fetch-status join, with outputs independent of the
shuffle partition count."""

import re

import pytest
from pyspark.sql import DataFrame

from ptt_spider_go_spark.config import CrawlConfig
from ptt_spider_go_spark.datagen import fetch_events_pandas, pages_pandas
from ptt_spider_go_spark.plans.crawl import run_crawl

BOARD = "Beauty"
TRAP_PATH = "/cal/2024" * 4


def _with_trap_and_offhost_links(pdf):
    """Rewrite the newest index page's first two article links: one into
    a calendar loop (a trap), one onto another host (blocklisted)."""
    idx = pdf[pdf["url"].str.contains(r"/index[0-9]+\.html$")]
    top = idx["url"].str.extract(r"index([0-9]+)")[0].astype(int).idxmax()
    html = pdf.at[top, "html"].decode()
    link = f'href="/bbs/{BOARD}/M.'
    html = html.replace(link, f'href="/bbs/{BOARD}{TRAP_PATH}/M.', 1)
    html = html.replace(link, f'href=".ads.example/bbs/{BOARD}/M.', 1)
    pdf.at[top, "html"] = html.encode()
    return pdf


@pytest.fixture(scope="module")
def gated_crawl(spark):
    """run(**kw): the 3-page fixture under robots rules, the generator's
    429 schedule, the trap gate and a blocklist, budgeted to 8 fetches
    per superstep."""
    pdf = pages_pandas(boards=(BOARD,), pages_per_board=3, slots_per_page=6)
    events = spark.createDataFrame(fetch_events_pandas(pdf)).cache()
    pages = spark.createDataFrame(_with_trap_and_offhost_links(pdf)).cache()
    article = sorted(u for u in pdf["url"] if "/M." in u)[4]
    robots = spark.createDataFrame(
        [("www.ptt.cc", article[len("https://www.ptt.cc"):], False)],
        "host string, path_prefix string, allowed boolean",
    )
    blocklist = spark.createDataFrame([("ads.example",)], "pattern string")

    def run(**kw):
        cfg = CrawlConfig(board=BOARD, pages=3, push_rate=0, host_salt=4,
                          workers=1, superstep_ms=10_000,
                          max_supersteps=kw.pop("max_supersteps", 10))
        return run_crawl(spark, pages, cfg, fetch_events=events,
                         robots=robots, trap_filter=True,
                         blocklist=blocklist, verify_text=False, **kw)

    return run


def test_step0_ledger_is_one_pass(spark, gated_crawl, monkeypatch):
    """The executed step-0 ledger plan holds one budget Window
    (partitioned by _host, _lane), one join against fetch_events, and
    no Union of per-outcome branches."""
    plans = []
    cls = type(spark.range(1))
    real = cls.localCheckpoint

    def spy(self, *a, **kw):
        out = real(self, *a, **kw)
        if "outcome" in self.columns and not plans:
            plans.append(self._jdf.queryExecution().executedPlan().toString())
        return out

    monkeypatch.setattr(cls, "localCheckpoint", spy)
    gated_crawl(max_supersteps=1)
    plan = plans[0].split("== Initial Plan ==")[0]
    assert "isFinalPlan=true" in plan
    budget_windows = re.findall(
        r"Window \[.*\], \[_host#\d+, _lane#\d+L?\], \[", plan)
    events_joins = re.findall(r"Join \[url#\d+, .*\], \[_url#\d+, _att#", plan)
    assert len(budget_windows) == 1, plan
    assert len(events_joins) == 1, plan
    assert "Union" not in plan, plan


def _tables(res):
    return {
        name: sorted(map(repr, df.collect()))
        for name, df in vars(res).items() if isinstance(df, DataFrame)
    }


def test_outputs_independent_of_shuffle_partitions(spark, gated_crawl):
    """Every CrawlResult table, trapped and blocked included, is
    identical at 1 and 7 shuffle partitions."""
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    got = {}
    try:
        for n in (1, 7):
            spark.conf.set(key, str(n))
            got[n] = _tables(gated_crawl())
    finally:
        spark.conf.set(key, prev)
    assert got[1]["trapped"] and got[1]["blocked"]
    assert any("retry_429" in r for r in got[1]["fetch_log"])
    assert got[1] == got[7]
