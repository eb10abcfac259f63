"""Seen-set filter state across a crawl resume.

Filter state has no table of its own: the persisted source of truth is
the checkpoint's seed frontier plus each committed step's `fresh`
delta. A resumed crawl must restore its Bloom filter from exactly those
URLs in one pass, then add only each resumed superstep's fresh URLs.
"""

import os

import pyarrow.parquet as pq

from ptt_spider_go_spark.operators.dedup import BloomShardSet


def test_crawl_resume_restores_filter_state_from_table(spark, tmp_path,
                                                       monkeypatch):
    """Resume after two committed supersteps restores the Bloom filter
    with one add_df over the seed plus both steps' fresh URLs, then one
    per resumed superstep, and no filter state is written beside the
    checkpoint."""
    from ptt_spider_go_spark.config import CrawlConfig
    from ptt_spider_go_spark.datagen import pages_pandas
    from ptt_spider_go_spark.plans import crawl as cmod

    pages = spark.createDataFrame(
        pages_pandas(boards=("Beauty",), pages_per_board=3, slots_per_page=6)
    )
    # a budget of 8 fetches per superstep spreads the crawl over more
    # than the two committed supersteps
    cfg = dict(board="Beauty", pages=3, push_rate=0, host_salt=4,
               workers=1, superstep_ms=10_000)
    d = str(tmp_path / "ck")
    cmod.run_crawl(spark, pages, CrawlConfig(max_supersteps=2, **cfg),
                   checkpoint_dir=d)
    assert not os.path.exists(os.path.join(d, "filters"))

    def urls(step, table):
        path = os.path.join(d, f"step={step}", table)
        return pq.read_table(path, columns=["url"])["url"].to_pylist()

    fresh = urls(0, "fresh") + urls(1, "fresh")
    assert fresh  # step 0 found articles, so the check covers fresh deltas
    committed_seen = sorted(urls(0, "seed") + fresh)

    calls = []
    real = BloomShardSet.add_df

    def spy(self, df, url_col="url"):
        calls.append(sorted(r[url_col] for r in df.select(url_col).collect()))
        return real(self, df, url_col)

    monkeypatch.setattr(BloomShardSet, "add_df", spy)
    res = cmod.run_crawl(spark, pages, CrawlConfig(max_supersteps=6, **cfg),
                         checkpoint_dir=d, resume=True)
    assert res.supersteps >= 1
    # restore: exactly the seed plus the committed fresh URLs, once...
    assert calls[0] == committed_seen
    # ...then only fresh candidates, once per resumed superstep
    assert len(calls) == 1 + res.supersteps
    assert not os.path.exists(os.path.join(d, "filters"))
    assert res.articles.count() > 0
