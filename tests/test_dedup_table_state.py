"""Seen-set filter state across a crawl resume.

Filter state has no table of its own: the only persisted source of
truth is the checkpointed `seen` table. A resumed crawl must restore
its Bloom filter from that committed snapshot in one pass, then add
only each resumed superstep's fresh URLs.
"""

import os

from ptt_spider_go_spark.operators.dedup import BloomShardSet


def test_crawl_resume_restores_filter_state_from_table(spark, tmp_path,
                                                       monkeypatch):
    """Resume restores the Bloom filter from the committed seen table:
    one add_df over exactly that snapshot, then one per resumed
    superstep, and no filter state is written beside the checkpoint."""
    from ptt_spider_go_spark.config import CrawlConfig
    from ptt_spider_go_spark.datagen import pages_pandas
    from ptt_spider_go_spark.plans import crawl as cmod
    from ptt_spider_go_spark.plans.checkpoint import CheckpointManager

    pages = spark.createDataFrame(
        pages_pandas(boards=("Beauty",), pages_per_board=3, slots_per_page=6)
    )
    cfg = dict(board="Beauty", pages=3, push_rate=0, host_salt=4)
    d = str(tmp_path / "ck")
    cmod.run_crawl(spark, pages, CrawlConfig(max_supersteps=1, **cfg),
                   checkpoint_dir=d, verify_text=False)
    assert not os.path.exists(os.path.join(d, "filters"))
    committed_seen = sorted(
        r["url"] for r in CheckpointManager(d, spark).read_latest("seen")
        .collect()
    )
    assert committed_seen

    calls = []
    real = BloomShardSet.add_df

    def spy(self, df, url_col="url"):
        calls.append(sorted(r[url_col] for r in df.select(url_col).collect()))
        return real(self, df, url_col)

    monkeypatch.setattr(BloomShardSet, "add_df", spy)
    res = cmod.run_crawl(spark, pages, CrawlConfig(max_supersteps=6, **cfg),
                         checkpoint_dir=d, resume=True, verify_text=False)
    assert res.supersteps >= 1
    # restore: the whole committed seen snapshot, once...
    assert calls[0] == committed_seen
    # ...then only fresh candidates, once per resumed superstep
    assert len(calls) == 1 + res.supersteps
    assert not os.path.exists(os.path.join(d, "filters"))
    assert res.articles.count() > 0
