"""The superstep step ledger: one tagging projection over one per-host
policy join, one budget rank and one fetch-status join, with outputs
independent of the shuffle partition count."""

import re

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ptt_spider_go_spark.config import CrawlConfig
from ptt_spider_go_spark.datagen import fetch_events_pandas, pages_pandas
from ptt_spider_go_spark.operators.politeness import politeness_receipts
from ptt_spider_go_spark.plans.crawl import run_crawl
from ptt_spider_go_spark.sources.robots import (
    RULES_SCHEMA,
    robots_pattern_regex,
)

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
    """run(**kw): the 3-page fixture under robots rules (`robots=`
    replaces them), the generator's 429 schedule, the trap gate and a
    blocklist, budgeted to 8 fetches per superstep."""
    pdf = pages_pandas(boards=(BOARD,), pages_per_board=3, slots_per_page=6)
    events = spark.createDataFrame(fetch_events_pandas(pdf)).cache()
    pages = spark.createDataFrame(_with_trap_and_offhost_links(pdf)).cache()
    article = sorted(u for u in pdf["url"] if "/M." in u)[4]
    robots = spark.createDataFrame(
        [("www.ptt.cc", article[len("https://www.ptt.cc"):], False)],
        "host string, path_prefix string, allowed boolean",
    )
    blocklist = spark.createDataFrame([("ads.example",)], "pattern string")

    def run(robots=robots, **kw):
        cfg = CrawlConfig(board=BOARD, pages=3, push_rate=0, host_salt=4,
                          workers=1, superstep_ms=10_000,
                          max_supersteps=kw.pop("max_supersteps", 10))
        return run_crawl(spark, pages, cfg, fetch_events=events,
                         robots=robots, trap_filter=True,
                         blocklist=blocklist, **kw)

    return run


def _host_budgets(spark):
    """A per-host budget override below the fixture's budget of 8."""
    return spark.createDataFrame([("www.ptt.cc", 5)],
                                 "host string, budget long")


def test_step0_ledger_is_one_pass(spark, gated_crawl, monkeypatch):
    """The executed step-0 ledger plan, with robots rules, a blocklist
    and host budgets, holds one Window, the budget's (partitioned by
    _host, _lane), one join against fetch_events and no Union of
    per-outcome branches. Per-host policy reaches the rows in one
    broadcast join, so the only hash exchanges are the budget's and the
    one over distinct host names: no sort-merge join, and no shuffle of
    the frontier by url or by a blocklist host key. The trap gate splits
    each URL's path and extracts its query once, and the robots verdict
    parses its query once."""
    plans = []
    cls = type(spark.range(1))
    real = cls.localCheckpoint

    def spy(self, *a, **kw):
        out = real(self, *a, **kw)
        if "outcome" in self.columns and not plans:
            plans.append(self._jdf.queryExecution().executedPlan().toString())
        return out

    monkeypatch.setattr(cls, "localCheckpoint", spy)
    gated_crawl(max_supersteps=1, host_budgets=_host_budgets(spark))
    plan = plans[0].split("== Initial Plan ==")[0]
    assert "isFinalPlan=true" in plan
    budget_windows = re.findall(
        r"Window \[.*\], \[_host#\d+, _lane#\d+L?\], \[", plan)
    events_joins = re.findall(r"Join \[url#\d+, .*\], \[_url#\d+, _att#", plan)
    assert len(budget_windows) == 1, plan
    assert len(re.findall(r"\bWindow \[", plan)) == 1, plan
    assert not re.search(r"Exchange hashpartitioning\((url|_bhost)#", plan)
    exchanges = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    keys = sorted(re.sub(r"#\d+L?", "", e).rsplit(", ", 1)[0]
                  for e in exchanges)
    assert keys == ["_host", "_host, _lane"], plan
    assert "SortMergeJoin" not in plan, plan
    assert len(events_joins) == 1, plan
    assert "Union" not in plan, plan
    assert len(re.findall(r"split\(regexp_extract\(url#\d+, ", plan)) == 1, plan
    assert len(re.findall(r"regexp_extract\(url#\d+, \\\?", plan)) == 1, plan
    assert len(re.findall(r"evaluate\(url#\d+, QUERY\)", plan)) == 1, plan


def _tables(res):
    return {
        name: sorted(map(repr, df.collect()))
        for name, df in vars(res).items() if isinstance(df, DataFrame)
    }


@pytest.mark.parametrize("budgets", [None, _host_budgets],
                         ids=["config_budget", "host_budgets"])
def test_outputs_independent_of_shuffle_partitions(spark, gated_crawl,
                                                   budgets):
    """Every CrawlResult table, trapped and blocked included, is
    identical at 1 and 7 shuffle partitions, under the configured
    budget and under a per-host budget table."""
    host_budgets = budgets(spark) if budgets else None
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    got = {}
    try:
        for n in (1, 7):
            spark.conf.set(key, str(n))
            got[n] = _tables(gated_crawl(host_budgets=host_budgets))
    finally:
        spark.conf.set(key, prev)
    assert got[1]["trapped"] and got[1]["blocked"]
    assert any("retry_429" in r for r in got[1]["fetch_log"])
    assert got[1] == got[7]


def test_composed_production_profile(spark, gated_crawl, tmp_path):
    """Every opt-in at once (trap gate, blocklist, AIMD budgets, WARC
    archive, sketch telemetry) under a robots table with a `$` rule and
    a `*` rule: no disallowed URL is fetched, trapped / blocked / fetched
    URLs are disjoint, the CDX index is exactly the fetched 200s, and
    every host complies with its budget."""
    pdf = pages_pandas(boards=(BOARD,), pages_per_board=3, slots_per_page=6)
    site = "https://www.ptt.cc"
    index = sorted(u for u in pdf["url"] if re.search(r"/index\d+\.html$", u))
    article = sorted(u for u in pdf["url"] if "/M." in u)[-1]
    patterns = [
        index[0][len(site):] + "$",
        f"/bbs/{BOARD}/*" + article[article.index(".A."):],
    ]
    robots = spark.createDataFrame(
        [("www.ptt.cc", p, False) for p in patterns], RULES_SCHEMA)
    disallowed = {
        u for u in pdf["url"]
        if any(re.match(robots_pattern_regex(p), u[len(site):])
               for p in patterns)
    }
    assert {index[0], article} <= disallowed

    res = gated_crawl(robots=robots, aimd=True,
                      archive_dir=str(tmp_path / "archive"),
                      sketch_telemetry=True)

    def urls(df, col="url"):
        return {r[0] for r in df.select(col).collect()}

    fetched = urls(res.fetch_log)
    assert fetched and not fetched & disallowed
    assert not urls(res.contents) & disallowed
    assert not urls(res.articles, "src_url") & disallowed
    # the `*` rule bites on an article an allowed index page lists
    assert article in urls(res.articles)

    trapped, blocked = urls(res.trapped), urls(res.blocked)
    assert trapped and blocked
    assert not trapped & blocked
    assert not (trapped | blocked) & fetched

    assert urls(res.archive_cdx) == urls(
        res.fetch_log.filter(F.col("status") == 200))
    assert res.url_telemetry.count() > 0

    budget = 8
    budgets = res.host_budget_log.groupBy("host").agg(
        F.greatest(F.max("budget"), F.lit(budget)).alias("budget"))
    receipts = politeness_receipts(res.fetch_log, budgets,
                                   default_budget=budget).collect()
    assert receipts and all(r["compliant"] for r in receipts), receipts
