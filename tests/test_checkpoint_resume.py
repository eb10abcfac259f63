"""T5: snapshot checkpointing + exact kill-and-resume.

The invariant (BASELINE.json:14): resuming from the last committed
superstep snapshot produces byte-identical final tables to an
uninterrupted run.
"""

import os

import pytest
from pyspark.sql import functions as F

from ptt_spider_go_spark.config import CrawlConfig
from ptt_spider_go_spark.datagen import pages_pandas
from ptt_spider_go_spark.operators.dedup import BloomShardSet, CuckooShardSet
from ptt_spider_go_spark.plans.checkpoint import CheckpointManager
from ptt_spider_go_spark.plans.crawl import run_crawl

BOARD = "Beauty"


@pytest.fixture(scope="module")
def pages(spark):
    return spark.createDataFrame(
        pages_pandas(boards=(BOARD,), pages_per_board=3, slots_per_page=6)
    ).cache()


def _cfg(**kw):
    base = dict(board=BOARD, pages=3, push_rate=0, host_salt=4,
                max_supersteps=6)
    base.update(kw)
    return CrawlConfig(**base)


def _rows(df):
    # repr key: rows may hold NULLs, which tuples cannot order directly
    return sorted(map(tuple, df.collect()), key=repr)


def _snapshot(res):
    return {
        "articles": sorted(map(tuple, res.articles.collect())),
        "tasks": sorted(map(tuple, res.download_tasks.collect())),
        "markdown": sorted(
            (r["article_url"], r["content"]) for r in res.markdown_docs.collect()
        ),
        "seen": sorted(r["url"] for r in res.seen.collect()),
        "fetch_log": _rows(res.fetch_log),
        "metrics": _rows(res.metrics),
        "progress_events": _rows(res.progress_events),
        "quarantine": _rows(res.quarantine),
    }


def _committed_seen(spark, ckpt_dir):
    return sorted(
        r["url"] for r in
        CheckpointManager(ckpt_dir, spark).read_latest("seen").collect()
    )


def _record_adds(monkeypatch, cls):
    """Spy on `cls.add_df`: the returned list gets each call's sorted
    URLs."""
    added = []
    real_add = cls.add_df

    def spy(self, df, url_col="url"):
        added.append(sorted(r[url_col] for r in df.select(url_col).collect()))
        return real_add(self, df, url_col)

    monkeypatch.setattr(cls, "add_df", spy)
    return added


def test_kill_and_resume_identical(spark, pages, tmp_path, monkeypatch):
    """Resume rebuilds the Bloom filter from the committed seen snapshot
    (filter state is never persisted: no `filters/` directory), then
    adds each resumed superstep's fresh URLs, and every compared table
    equals the uninterrupted run's."""
    full_dir = tmp_path / "full"
    part_dir = tmp_path / "part"

    # Uninterrupted run with checkpointing.
    full = run_crawl(spark, pages, _cfg(), checkpoint_dir=str(full_dir),
                     verify_text=False)
    assert full.supersteps >= 2

    # "Killed" run: stop after the first superstep commits...
    run_crawl(spark, pages, _cfg(max_supersteps=1),
              checkpoint_dir=str(part_dir), verify_text=False)
    committed_seen = _committed_seen(spark, str(part_dir))
    added = _record_adds(monkeypatch, BloomShardSet)
    # ...then resume from the snapshot.
    resumed = run_crawl(spark, pages, _cfg(), checkpoint_dir=str(part_dir),
                        resume=True, verify_text=False)

    assert resumed.supersteps >= 1
    assert added[0] == committed_seen
    assert len(added) == 1 + resumed.supersteps
    for d in (full_dir, part_dir):
        assert not os.path.exists(d / "filters")
    assert _snapshot(full) == _snapshot(resumed)


def test_kill_and_resume_identical_with_cuckoo_engaged(spark, pages, tmp_path,
                                                      monkeypatch):
    """With the cuckoo layer on from the start (cuckoo_min_seen=0), a
    resumed run bulk-builds it from the committed seen snapshot before
    its first probe, and every compared table equals the uninterrupted
    run's."""
    cfg = dict(cuckoo_min_seen=0)
    full = run_crawl(spark, pages, _cfg(**cfg),
                     checkpoint_dir=str(tmp_path / "full"), verify_text=False)
    part_dir = str(tmp_path / "part")
    run_crawl(spark, pages, _cfg(max_supersteps=1, **cfg),
              checkpoint_dir=part_dir, verify_text=False)
    committed_seen = _committed_seen(spark, part_dir)
    added = _record_adds(monkeypatch, CuckooShardSet)
    resumed = run_crawl(spark, pages, _cfg(**cfg), checkpoint_dir=part_dir,
                        resume=True, verify_text=False)

    assert resumed.supersteps >= 1
    assert added[0] == committed_seen
    assert _snapshot(full) == _snapshot(resumed)


def test_resume_noop_when_finished(spark, pages, tmp_path):
    d = tmp_path / "done"
    first = run_crawl(spark, pages, _cfg(), checkpoint_dir=str(d),
                      verify_text=False)
    again = run_crawl(spark, pages, _cfg(), checkpoint_dir=str(d),
                      resume=True, verify_text=False)
    assert again.supersteps <= 1  # only the empty-frontier probe
    assert _snapshot(first) == _snapshot(again)


def test_manifest_counts_present(spark, pages, tmp_path):
    d = tmp_path / "m"
    run_crawl(spark, pages, _cfg(), checkpoint_dir=str(d), verify_text=False)
    ck = CheckpointManager(str(d), spark)
    m = ck.load_manifest()
    assert m is not None
    assert set(m["tables"]) == {
        "frontier", "seen", "articles_delta", "contents_delta", "fetch_log_delta"
    }
    assert m["tables"]["seen"] > 0


def test_expire_snapshots_keeps_history_drops_stale_state(spark, pages,
                                                          tmp_path):
    """Iceberg expire_snapshots analogue: after a multi-step crawl,
    only the latest step still holds frontier/seen, every step keeps
    its *_delta history, and resume from the expired store is exact."""
    d = tmp_path / "exp"
    full = run_crawl(spark, pages, _cfg(), checkpoint_dir=str(d),
                     verify_text=False)
    assert full.supersteps >= 2
    ck = CheckpointManager(str(d), spark)
    last = ck.last_committed_step()
    for step in range(last + 1):
        state_present = os.path.exists(ck.table_path(step, "seen"))
        assert state_present == (step == last), step
        assert os.path.exists(ck.table_path(step, "articles_delta")), step

    # resume over the expired store is still a no-op with equal tables
    again = run_crawl(spark, pages, _cfg(), checkpoint_dir=str(d),
                      resume=True, verify_text=False)
    assert _snapshot(full) == _snapshot(again)
