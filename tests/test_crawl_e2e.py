"""End-to-end board-mode crawl vs the sequential golden model."""

import re

import pandas as pd
import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ptt_spider_go_spark.config import CrawlConfig
from ptt_spider_go_spark.datagen import pages_pandas
from ptt_spider_go_spark.plans.crawl import run_crawl

from .golden_model import golden_crawl

BOARD = "Beauty"
PAGES = 3
PUSH = 10


@pytest.fixture(scope="module")
def dataset():
    return pages_pandas(
        boards=(BOARD, "Gossiping"), pages_per_board=4, slots_per_page=8
    )


@pytest.fixture(scope="module")
def golden(dataset):
    return golden_crawl(dataset, BOARD, PAGES, PUSH)


@pytest.fixture(scope="module")
def result(spark, dataset):
    pages = spark.createDataFrame(dataset)
    cfg = CrawlConfig(board=BOARD, pages=PAGES, push_rate=PUSH,
                      host_salt=4, max_supersteps=6)
    return run_crawl(spark, pages, cfg)


def test_articles_match_golden_in_order(result, golden):
    # The engine returns articles unsorted (a global sort at scale is a
    # pointless full shuffle); O1 ordering semantics are checked by
    # applying the canonical order explicitly.
    got = [
        (r["board"], r["page_no"], r["pos"], r["title"], r["url"],
         r["author"], r["push_rate"])
        for r in result.articles.orderBy(
            F.col("board"), F.col("page_no").desc(), F.col("pos")).collect()
    ]
    want = [
        (a["board"], a["page_no"], a["pos"], a["title"], a["url"],
         a["author"], a["push_rate"])
        for a in golden["articles"]
    ]
    assert got == want
    assert len(got) > 0


def test_seen_membership_matches(result, golden):
    got = {r["url"] for r in result.seen.collect()}
    assert got == golden["seen"]


def test_download_tasks_match(result, golden):
    got = {
        (r["article_url"], r["img_url"], r["save_dir"], r["file_name"], r["seq"])
        for r in result.download_tasks.collect()
    }
    want = {
        (t["article_url"], t["img_url"], t["save_dir"], t["file_name"], t["seq"])
        for t in golden["tasks"]
    }
    assert got == want
    assert len(got) > 0


def test_markdown_bytes_match(result, golden):
    got = {r["article_url"]: r["content"] for r in result.markdown_docs.collect()}
    want = {m["article_url"]: m["content"] for m in golden["markdowns"]}
    assert got == want


def test_save_dirs_match_collision_suffixes(result, golden):
    got = {r["url"]: r["save_dir"] for r in result.contents.collect()}
    want = {c["url"]: c["save_dir"] for c in golden["contents"]}
    assert got == want
    # the dataset is built to contain at least one dir collision
    assert any(d.rsplit("_", 1)[-1] == "2" for d in want.values())


def test_text_extraction_byte_identical(result):
    rows = result.contents.select("text_match").collect()
    assert len(rows) > 0
    assert all(r["text_match"] for r in rows)


def test_progress_taxonomy_matches_golden(result, golden):
    """T7/D5 (types/progress.go:8-15, crawler.go:464-469,733-737): the
    progress-event taxonomy carries the reference's exact counting
    semantics — per-article image counts and task-level done/failed —
    with every expected value derived from the sequential golden model
    (not just rows > 0)."""
    import hashlib

    ev = result.progress_events.collect()
    by_type: dict[str, list] = {}
    for r in ev:
        by_type.setdefault(r["event_type"], []).append(r)

    # page_parsed: one per fetched index page, ordinals 1..PAGES
    assert len(by_type["page_parsed"]) == PAGES
    assert sorted(r["current_page"] for r in by_type["page_parsed"]) == list(
        range(1, PAGES + 1))
    assert all(r["total_pages"] == PAGES for r in by_type["page_parsed"])

    # article_parsed: one per content row, image_count = post-dedup
    # unique images (crawler.go:459-469)
    # (titles are not unique across articles -> compare as multisets)
    want_imgs = sorted(
        (c["final_title"], len(c["img_urls"])) for c in golden["contents"])
    got_imgs = sorted(
        (r["article_title"], r["image_count"])
        for r in by_type["article_parsed"])
    assert got_imgs == want_imgs

    # download_*: one start per golden task; done/fail decided by the
    # simulated md5 size vs the 50 MB cap
    def n_bytes(u: str) -> int:
        return int(hashlib.md5(u.encode()).hexdigest()[:7], 16) % (64 << 20)

    cap = 50 * 1024 * 1024
    want_done = sum(1 for t in golden["tasks"] if n_bytes(t["img_url"]) <= cap)
    want_fail = len(golden["tasks"]) - want_done
    assert len(by_type["download_start"]) == len(golden["tasks"])
    assert len(by_type.get("download_done", [])) == want_done
    assert len(by_type.get("download_fail", [])) == want_fail
    assert want_fail > 0  # the fail path is actually exercised

    assert len(by_type["crawler_done"]) == 1

    # and the metrics table aggregates the same numbers (D5)
    m = {(r["outcome"]): r["n"] for r in result.metrics
         .filter(F.col("kind") == "event")
         .groupBy("outcome").agg(F.sum("n").alias("n")).collect()}
    assert m["article_parsed"] == len(golden["contents"])
    assert m["download_start"] == len(golden["tasks"])
    assert m["download_done"] == want_done
    assert m["download_fail"] == want_fail
    assert m["page_parsed"] == PAGES


def test_file_mode(spark, dataset, tmp_path):
    golden_all = golden_crawl(dataset, BOARD, PAGES, 0)
    urls = [c["url"] for c in golden_all["contents"]][:5]
    noise = [
        "   " + urls[0],                                 # kept after trim (dup of urls[0])
        "see https://www.ptt.cc/bbs/X/M.1.A.html mid",   # dropped: prefix only
        "https://evil.test/https://www.ptt.cc/bbs/",     # dropped
        "",                                              # dropped
    ]
    f = tmp_path / "urls.txt"
    f.write_text("\n".join(urls + noise))

    golden_fm = golden_crawl(dataset, BOARD, 0, 0, file_urls=urls + [noise[0]])
    cfg = CrawlConfig(board=BOARD, pages=1, push_rate=0, max_supersteps=4)
    res = run_crawl(spark, spark.createDataFrame(dataset), cfg,
                    file_urls_path=str(f))
    got = {r["url"]: r["final_title"] for r in res.contents.collect()}
    # file mode: the duplicate seeded URL must appear once (D4 seen-set)
    want = {}
    for c in golden_fm["contents"]:
        want.setdefault(c["url"], c["final_title"])
    assert got == want
    # parsed title wins in file mode (C10)
    assert all(t != "" for t in got.values())


def test_crawl_identical_with_cuckoo_engaged(spark, dataset, result):
    """Forcing the cuckoo verification layer on from the first superstep
    (cuckoo_min_seen=0) must not change a single output row — the
    exactness invariant holds through both probabilistic layers."""
    pages = spark.createDataFrame(dataset)
    cfg = CrawlConfig(board=BOARD, pages=PAGES, push_rate=PUSH,
                      host_salt=4, max_supersteps=6, cuckoo_min_seen=0)
    res2 = run_crawl(spark, pages, cfg)
    key = lambda df: sorted(
        (r["url"], r["push_rate"]) for r in df.select("url", "push_rate").collect()
    )
    assert key(res2.articles) == key(result.articles)
    assert sorted(r["url"] for r in res2.seen.collect()) == \
        sorted(r["url"] for r in result.seen.collect())


def test_assembly_plans_the_dir_collision_window_once(spark, dataset,
                                                      monkeypatch):
    """Assembly materializes the dir-suffixed contents and the progress
    events once; download_tasks, markdown_docs, progress_events and
    metrics read those frames, so across every frame the crawl
    checkpoints and every result table's plan, the D3 dir-collision
    Window appears once (it appeared 5 times when each table re-derived
    contents)."""
    plans = []
    cls = type(spark.range(1))
    real = cls.localCheckpoint

    def spy(self, *a, **kw):
        out = real(self, *a, **kw)
        plans.append(self._jdf.queryExecution().executedPlan().toString())
        return out

    monkeypatch.setattr(cls, "localCheckpoint", spy)
    pages = spark.createDataFrame(dataset)
    cfg = CrawlConfig(board=BOARD, pages=PAGES, push_rate=PUSH,
                      host_salt=4, max_supersteps=6)
    res = run_crawl(spark, pages, cfg)
    plans += [df._jdf.queryExecution().executedPlan().toString()
              for df in vars(res).values() if isinstance(df, DataFrame)]
    dir_windows = [
        w for p in plans
        for w in re.findall(r"Window \[.*\], \[board#\d+, dir_key0#\d+\], \[",
                            p.split("== Initial Plan ==")[0])
    ]
    assert len(dir_windows) == 1, dir_windows


def test_aimd_budget_halves_on_429_host(spark, dataset):
    """Opt-in AIMD loop (VERDICT r04 #4a): with every article fetch
    returning 429, the single host's budget halves superstep over
    superstep (multiplicative decrease), after one additive increase
    from the clean index-page superstep; default-off leaves
    host_budget_log as None (pinned outputs untouched)."""
    art_urls = sorted(u for u in dataset["url"] if "/M." in u)
    ev = spark.createDataFrame(
        [(u, a, 429) for u in art_urls for a in (1, 2, 3)],
        "url string, attempt int, status int",
    )
    cfg = CrawlConfig(board=BOARD, pages=2, push_rate=0,
                      host_salt=4, max_supersteps=6)
    res = run_crawl(spark, spark.createDataFrame(dataset), cfg,
                    fetch_events=ev, aimd=True)
    log = {
        (r["superstep"], r["host"]): r["budget"]
        for r in res.host_budget_log.collect()
    }
    d = cfg.host_budget_per_superstep
    # s0: index pages fetch clean -> additive increase from the default;
    # s1..: every article attempt 429s -> halve, halve, halve.
    assert log[(0, "www.ptt.cc")] == d + 1
    assert log[(1, "www.ptt.cc")] == (d + 1) // 2
    assert log[(2, "www.ptt.cc")] == (d + 1) // 4
    assert log[(3, "www.ptt.cc")] == (d + 1) // 8
    # 429-heavy host's articles never produce content
    assert res.contents.filter(F.col("url").isin(art_urls)).count() == 0

    res_off = run_crawl(spark, spark.createDataFrame(dataset), cfg,
                        fetch_events=ev)
    assert res_off.host_budget_log is None


def _discovery_sidecar_rows():
    """robots.txt + nested sitemap pages for the discovery-chain test."""
    base = "https://www.ptt.cc"
    return [
        (f"{base}/robots.txt",
         f"User-agent: *\nSitemap: {base}/sm_index.xml\n"),
        (f"{base}/sm_index.xml",
         "<sitemapindex><sitemap>"
         f"<loc>{base}/sm_pages.xml</loc>"
         "</sitemap></sitemapindex>"),
    ]


def test_sitemap_seeding_reaches_unlinked_pages(spark, dataset):
    """Opt-in discovery chain (VERDICT r04 #4b): robots.txt ->
    `Sitemap:` directive -> sitemapindex -> urlset -> frontier. The
    sitemap lists an article that NO crawled board index links (it
    hangs off an index page below the cfg.pages window); with
    seed_from_sitemaps=True the crawl reaches it, default-off it
    cannot."""
    import pandas as pd

    deep = golden_crawl(dataset, BOARD, 4, 0)
    shallow = golden_crawl(dataset, BOARD, 2, 0)
    hidden = sorted(
        {c["url"] for c in deep["contents"]}
        - {c["url"] for c in shallow["contents"]}
    )[0]

    urlset = f"<urlset><url><loc>{hidden}</loc></url></urlset>"
    side = _discovery_sidecar_rows() + [
        ("https://www.ptt.cc/sm_pages.xml", urlset)
    ]
    extra = pd.DataFrame(
        {
            "url": [u for u, _ in side],
            "warc_ts": [pd.Timestamp("2024-01-01")] * len(side),
            "html": [b""] * len(side),
            "text": [t for _, t in side],
            "lang": ["en"] * len(side),
        }
    )
    pages = spark.createDataFrame(pd.concat([dataset, extra],
                                            ignore_index=True))
    cfg = CrawlConfig(board=BOARD, pages=2, push_rate=0,
                      host_salt=4, max_supersteps=6)

    res = run_crawl(spark, pages, cfg, seed_from_sitemaps=True)
    got = {r["url"] for r in res.contents.collect()}
    assert hidden in got
    # the sitemap/robots URLs themselves never enter the frontier
    fetched = {r["url"] for r in res.fetch_log.collect()}
    assert not any(u.endswith(".xml") or u.endswith("robots.txt")
                   for u in fetched)

    res_off = run_crawl(spark, pages, cfg)
    assert hidden not in {r["url"] for r in res_off.contents.collect()}


def test_trap_filter_diverts_without_dropping_silently(spark, dataset, tmp_path):
    """Opt-in crawler-trap gate: a calendar-loop URL in the seed file is
    diverted to the `trapped` table with its rule, never fetched; the
    clean URLs crawl exactly as without the gate; default-off leaves
    `trapped` as None (pinned outputs untouched)."""
    golden_all = golden_crawl(dataset, BOARD, PAGES, 0)
    urls = [c["url"] for c in golden_all["contents"]][:4]
    trap = "https://www.ptt.cc/bbs" + "/cal/2024" * 4 + "/M.1.A.html"
    f = tmp_path / "urls.txt"
    f.write_text("\n".join(urls + [trap]))

    cfg = CrawlConfig(board=BOARD, pages=1, push_rate=0, max_supersteps=4)
    res = run_crawl(spark, spark.createDataFrame(dataset), cfg,
                    file_urls_path=str(f), trap_filter=True)
    trapped = {(r["url"], r["reason"]) for r in res.trapped.collect()}
    assert trapped == {(trap, "repeated_segments")}
    fetched = {r["url"] for r in res.fetch_log.collect()}
    assert trap not in fetched
    assert set(urls) <= fetched

    res_off = run_crawl(spark, spark.createDataFrame(dataset), cfg,
                        file_urls_path=str(f))
    assert res_off.trapped is None
    # without the gate the trap URL IS attempted (missing page -> 404)
    assert trap in {r["url"] for r in res_off.fetch_log.collect()}


def test_trapped_and_blocked_survive_kill_and_resume(spark, dataset,
                                                     tmp_path):
    """With the trap gate and a blocklist on, a checkpointed crawl
    killed after superstep 0 and resumed returns the same `trapped` and
    `blocked` rows as an uninterrupted (in-memory) run: both tables are
    derived from the committed step ledgers, not from run-local lists.
    File mode seeds only www.ptt.cc URLs, so the blocklist names that
    host; the trap gate runs first and keeps the calendar loop."""
    golden_all = golden_crawl(dataset, BOARD, PAGES, 0)
    url = golden_all["contents"][0]["url"]
    trap = "https://www.ptt.cc/bbs" + "/cal/2024" * 4 + "/M.1.A.html"
    f = tmp_path / "urls.txt"
    f.write_text("\n".join([url, trap]))
    bl = spark.createDataFrame([("www.ptt.cc",)], "pattern string")
    pages = spark.createDataFrame(dataset)

    def run(max_supersteps=4, **kw):
        cfg = CrawlConfig(board=BOARD, pages=1, push_rate=0,
                          max_supersteps=max_supersteps)
        return run_crawl(spark, pages, cfg, file_urls_path=str(f),
                         trap_filter=True, blocklist=bl, **kw)

    def rows(df):
        return sorted(map(tuple, df.collect()))

    full = run()
    assert rows(full.trapped) == [(trap, "repeated_segments", 0)]
    assert rows(full.blocked) == [(url, "www.ptt.cc", 0)]

    d = str(tmp_path / "ck")
    run(checkpoint_dir=d, max_supersteps=1)
    resumed = run(checkpoint_dir=d, resume=True)
    assert rows(resumed.trapped) == rows(full.trapped)
    assert rows(resumed.blocked) == rows(full.blocked)


def test_blocklist_gate_inert_list_is_output_parity(spark, dataset):
    """Opt-in domain-blocklist gate with patterns matching no crawled
    host: the `blocked` table exists and is empty, and articles equal
    the gate-off run exactly (the gate annotates, never perturbs);
    default-off leaves `blocked` None. A bare-TLD 'cc' pattern must
    NOT block www.ptt.cc (registrable-domain semantics)."""
    bl = spark.createDataFrame([("ads.example",), ("cc",)],
                               "pattern string")
    cfg = CrawlConfig(board=BOARD, pages=PAGES, push_rate=PUSH,
                      host_salt=4, max_supersteps=6)
    res = run_crawl(spark, spark.createDataFrame(dataset), cfg,
                    blocklist=bl)
    assert res.blocked.count() == 0
    res_off = run_crawl(spark, spark.createDataFrame(dataset), cfg)
    assert res_off.blocked is None
    def key(r):
        return (r["board"], r["page_no"], r["pos"])

    assert [tuple(r) for r in sorted(res.articles.collect(), key=key)] == \
        [tuple(r) for r in sorted(res_off.articles.collect(), key=key)]


def test_blocklist_gate_blocking_crawl_host_empties_crawl(spark, dataset):
    """Blocking ptt.cc itself starves the whole board crawl: nothing
    fetched, every frontier row accounted for in `blocked`."""
    bl = spark.createDataFrame([("ptt.cc",)], "pattern string")
    cfg = CrawlConfig(board=BOARD, pages=PAGES, push_rate=PUSH,
                      max_supersteps=4)
    res = run_crawl(spark, spark.createDataFrame(dataset), cfg,
                    blocklist=bl)
    assert res.fetch_log.count() == 0
    assert res.articles.count() == 0
    rows = res.blocked.collect()
    assert len(rows) > 0
    assert {r["pattern"] for r in rows} == {"ptt.cc"}
