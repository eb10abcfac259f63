"""T5: append-only superstep commits + exact kill-and-resume.

The invariant (BASELINE.json:14): resuming from the last committed
superstep produces byte-identical final tables to an uninterrupted run,
wherever inside a superstep the crash happened.
"""

import contextlib
import json
import os
import re
import shutil

import pyarrow.parquet as pq
import pytest
from pyspark.sql.readwriter import DataFrameWriter

from ptt_spider_go_spark.config import CrawlConfig
from ptt_spider_go_spark.datagen import fetch_events_pandas, pages_pandas
from ptt_spider_go_spark.operators.dedup import BloomShardSet, CuckooShardSet
from ptt_spider_go_spark.plans import checkpoint as ckmod
from ptt_spider_go_spark.plans.checkpoint import CheckpointManager
from ptt_spider_go_spark.plans.crawl import run_crawl

BOARD = "Beauty"
STEP_TABLES = ("ledger", "parsed", "fresh")


def _cfg(**kw):
    # a budget of 8 fetches per superstep and the generator's 429
    # schedule spread the crawl over several supersteps, so deferred
    # and retried rows cross every commit
    base = dict(board=BOARD, pages=3, push_rate=0, host_salt=4,
                workers=1, superstep_ms=10_000, max_supersteps=10)
    base.update(kw)
    return CrawlConfig(**base)


@pytest.fixture(scope="module")
def crawl(spark):
    """run(checkpoint_dir, resume=False, **cfg) over the 3-page fixture."""
    pdf = pages_pandas(boards=(BOARD,), pages_per_board=3, slots_per_page=6)
    pages = spark.createDataFrame(pdf).cache()
    events = spark.createDataFrame(fetch_events_pandas(pdf)).cache()

    def run(ckpt_dir, resume=False, archive_dir=None, **cfg):
        return run_crawl(spark, pages, _cfg(**cfg), fetch_events=events,
                         checkpoint_dir=ckpt_dir, resume=resume,
                         archive_dir=archive_dir)

    return run


def _rows(df):
    # repr key: rows may hold NULLs, which tuples cannot order directly
    return sorted(map(tuple, df.collect()), key=repr)


def _snapshot(res):
    return {
        "articles": sorted(map(tuple, res.articles.collect())),
        "contents": _rows(res.contents),
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


def _last_step(ckpt_dir):
    with open(os.path.join(ckpt_dir, "_manifest.json")) as f:
        return json.load(f)["step"]


def _committed_seen(ckpt_dir):
    """The seed URLs plus every committed step's fresh URLs, read
    straight from the parquet files."""
    paths = [os.path.join(ckpt_dir, "step=0", "seed")] + [
        os.path.join(ckpt_dir, f"step={s}", "fresh")
        for s in range(_last_step(ckpt_dir) + 1)
    ]
    return sorted(u for p in paths
                  for u in pq.read_table(p, columns=["url"])["url"].to_pylist())


def _step_files(ckpt_dir, steps):
    """(size, mtime, inode) of every file under the given step dirs."""
    out = {}
    for s in steps:
        root = os.path.join(ckpt_dir, f"step={s}")
        for dirpath, _, names in os.walk(root):
            for n in names:
                st = os.stat(os.path.join(dirpath, n))
                out[os.path.relpath(os.path.join(dirpath, n), ckpt_dir)] = (
                    st.st_size, st.st_mtime_ns, st.st_ino)
    return out


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


@pytest.fixture(scope="module")
def full(crawl, tmp_path_factory):
    """One uninterrupted checkpointed crawl: (snapshot, checkpoint dir)."""
    d = str(tmp_path_factory.mktemp("full") / "ck")
    res = crawl(d)
    assert res.supersteps >= 4
    outcomes = {r["outcome"] for r in res.fetch_log.collect()}
    assert {"fetched", "retry_429", "failed"} <= outcomes
    return _snapshot(res), d


@pytest.fixture(scope="module")
def step0(crawl, tmp_path_factory):
    """A crawl "killed" right after superstep 0 committed."""
    d = str(tmp_path_factory.mktemp("step0") / "ck")
    crawl(d, max_supersteps=1)
    assert _last_step(d) == 0
    return d


def _copy(src, tmp_path):
    dst = str(tmp_path / "ck")
    shutil.copytree(src, dst, copy_function=shutil.copy2)
    return dst


def test_kill_and_resume_identical(crawl, full, step0, tmp_path,
                                   monkeypatch):
    """Resume rebuilds the Bloom filter from the seed and committed
    fresh URLs (filter state is never persisted: no `filters/`
    directory), then adds each resumed superstep's fresh URLs; every
    compared table equals the uninterrupted run's, and nothing under the
    committed step is rewritten."""
    d = _copy(step0, tmp_path)
    before = _step_files(d, [0])
    added = _record_adds(monkeypatch, BloomShardSet)
    resumed = crawl(d, resume=True)

    assert resumed.supersteps >= 1
    assert added[0] == _committed_seen(step0)
    assert len(added) == 1 + resumed.supersteps
    assert not os.path.exists(os.path.join(d, "filters"))
    assert _step_files(d, [0]) == before
    assert _snapshot(resumed) == full[0]


def test_kill_and_resume_identical_with_cuckoo_engaged(crawl, full,
                                                      step0, tmp_path,
                                                      monkeypatch):
    """With the cuckoo layer on from the start (cuckoo_min_seen=0), a
    resumed run bulk-builds it from the committed seen URLs before its
    first probe, and every compared table equals the uninterrupted
    run's. The checkpoint holds no filter state, so the superstep-0
    commit is the same whichever filters the killed run used."""
    d = _copy(step0, tmp_path)
    added = _record_adds(monkeypatch, CuckooShardSet)
    resumed = crawl(d, resume=True, cuckoo_min_seen=0)

    assert resumed.supersteps >= 1
    assert added[0] == _committed_seen(step0)
    assert _snapshot(resumed) == full[0]


def test_archive_cdx_identical_after_kill_and_resume(crawl, step0,
                                                     tmp_path):
    """WARC shards are named by partition alone, so an uninterrupted
    crawl and a kill-and-resume publish the same CDX index (each shard
    name carried the write job's random uuid)."""
    full = crawl(str(tmp_path / "full"), archive_dir=str(tmp_path / "a1"))
    resumed = crawl(_copy(step0, tmp_path), resume=True,
                    archive_dir=str(tmp_path / "a2"))
    rows = _rows(full.archive_cdx)
    assert rows and rows == _rows(resumed.archive_cdx)
    assert all(re.fullmatch(r"part-\d{5}-c\d{3}\.txt", r["filename"])
               for r in full.archive_cdx.select("filename").collect())


def test_resume_noop_when_finished(crawl, full, tmp_path):
    d = _copy(full[1], tmp_path)
    steps = range(_last_step(d) + 1)
    before = _step_files(d, steps)
    again = crawl(d, resume=True)
    assert again.supersteps == 0  # only the empty-frontier probe
    assert _snapshot(again) == full[0]
    assert _step_files(d, steps) == before


def test_manifest_counts_present(spark, full):
    m = CheckpointManager(full[1], spark).load_manifest()
    assert m is not None
    assert set(m["tables"]) == set(STEP_TABLES)
    assert m["tables"]["ledger"] > 0


def test_committed_steps_keep_their_tables(full):
    """Every committed step keeps its own append-only tables (step 0
    also the seed frontier), and the manifest's counts are the last
    step's row counts."""
    d = full[1]
    last = _last_step(d)
    for s in range(last + 1):
        names = STEP_TABLES + (("seed",) if s == 0 else ())
        assert sorted(os.listdir(os.path.join(d, f"step={s}"))) == \
            sorted(names), s
        # a step commits only while its frontier is non-empty
        assert pq.read_table(os.path.join(d, f"step={s}", "ledger")) \
            .num_rows > 0, s
    with open(os.path.join(d, "_manifest.json")) as f:
        counts = json.load(f)["tables"]
    for name in STEP_TABLES:
        assert counts[name] == pq.read_table(
            os.path.join(d, f"step={last}", name)).num_rows


@pytest.mark.parametrize("step, table", [(0, "seed"), (1, "ledger"),
                                         (1, "parsed"), (1, "fresh")])
def test_resume_raises_on_missing_committed_table(crawl, full,
                                                 tmp_path, step, table):
    """A committed table that is gone is an error, never fewer rows."""
    d = _copy(full[1], tmp_path)
    shutil.rmtree(os.path.join(d, f"step={step}", table))
    with pytest.raises(FileNotFoundError, match=f"step={step}/{table}"):
        crawl(d, resume=True)


def test_resume_raises_on_old_layout(crawl, tmp_path):
    """A checkpoint of the frontier/seen snapshot layout cannot be
    resumed: the resume raises instead of returning empty tables."""
    d = tmp_path / "old"
    for name in ("frontier", "seen", "articles_delta", "contents_delta",
                 "fetch_log_delta"):
        os.makedirs(d / "step=0" / name)
    (d / "_manifest.json").write_text(json.dumps(
        {"step": 0, "tables": {"frontier": 1, "seen": 1}, "extra": {}}))
    with pytest.raises(FileNotFoundError, match="another layout"):
        crawl(str(d), resume=True)


class _Crash(Exception):
    pass


CRASH_POINTS = [(when, t) for t in (*STEP_TABLES, "_manifest.json")
                for when in ("before", "after")]


@contextlib.contextmanager
def _crash_at(d, step, when, target):
    """Raise _Crash before or after `step`'s write of table `target`
    under checkpoint dir `d`, or its `_manifest.json` rename. A crash
    before a table write leaves a stray file in that table's
    directory."""
    real_parquet = DataFrameWriter.parquet
    real_replace = os.replace

    def parquet(self, path, *a, **kw):
        hit = path == os.path.join(d, f"step={step}", target)
        if hit and when == "before":
            os.makedirs(path, exist_ok=True)
            with open(os.path.join(path, "part-00000-stray.parquet"), "wb") as f:
                f.write(b"partial")
            raise _Crash(path)
        out = real_parquet(self, path, *a, **kw)
        if hit:
            raise _Crash(path)
        return out

    def replace(src, dst):
        hit = os.path.basename(dst) == target
        if hit:
            with open(src) as f:
                hit = json.load(f)["step"] == step
        if hit and when == "before":
            raise _Crash(dst)
        real_replace(src, dst)
        if hit:
            raise _Crash(dst)

    with pytest.MonkeyPatch.context() as m:
        m.setattr(DataFrameWriter, "parquet", parquet)
        m.setattr(ckmod.os, "replace", replace)
        with pytest.raises(_Crash):
            yield


@pytest.mark.parametrize("when, target", CRASH_POINTS)
def test_crash_inside_superstep_commit_resumes_identical(
        crawl, full, step0, tmp_path, when, target):
    """A crash before or after any table write of superstep 1, or
    before or after its manifest rename, resumes to the uninterrupted
    run's tables. A crash before a write leaves a stray file in that
    table's directory; the re-run step overwrites it."""
    d = _copy(step0, tmp_path)
    committed = _step_files(d, [0])
    with _crash_at(d, 1, when, target):
        crawl(d, resume=True)
    assert _last_step(d) == (1 if (target, when) == ("_manifest.json",
                                                     "after") else 0)

    resumed = crawl(d, resume=True)
    assert _snapshot(resumed) == full[0]
    assert _step_files(d, [0]) == committed


def test_fresh_crawl_into_used_dir_crash_before_step0_commit(
        crawl, full, tmp_path):
    """A fresh crawl into a directory that holds another committed
    crawl, crashed before its step-0 manifest rename, resumes to the
    uninterrupted run's tables: the old manifest is gone before the new
    step 0 writes anything, so the resume starts over instead of
    reading the new step 0 under the old crawl's later steps."""
    d = str(tmp_path / "ck")
    crawl(d, workers=3)  # another crawl: 24 fetches per superstep
    assert _last_step(d) > 0
    with _crash_at(d, 0, "before", "_manifest.json"):
        crawl(d)
    assert not os.path.exists(os.path.join(d, "_manifest.json"))

    resumed = crawl(d, resume=True)
    assert _snapshot(resumed) == full[0]
