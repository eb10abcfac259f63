"""Workload ``board_crawl``: the reference's board-mode BFS over a
generated pages table, checkpointed every superstep.

Two boards of PAGES_PER_BOARD index pages with SLOTS_PER_PAGE article
slots each. The default politeness budget (480 fetches per host per
superstep) is smaller than the articles the index pages yield, so
article fetches spread over several supersteps; the generator's 429
schedule adds backoff retries and exhausted-retry failures.

The workload seed picks the generator seed (``generator_seed``) so that
every input crawls in the same number of supersteps: otherwise about
half the seeds need a fifth superstep, and that step (~10 s of fixed
engine cost) would split run_s into two clusters by seed.

The checks derive every expected URL set from the generator's
specification (``datagen``: which pages exist, each slot's push marker,
the 404 set and the 429 schedule) without calling a crawl operator.
"""

from __future__ import annotations

import os
import time
from collections import Counter, defaultdict
from urllib.parse import urlsplit

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from ptt_spider_go_spark import datagen
from ptt_spider_go_spark.config import CrawlConfig
from ptt_spider_go_spark.plans.crawl import run_crawl

from harness import tree_bytes_files, write_split

BOARDS = ("Beauty", "Gossiping")
PAGES_PER_BOARD = 45
SLOTS_PER_PAGE = 20
PUSH_RATE = 10
#: distinct titles per board (the generator's default), which makes
#: (title, push) pairs repeat and exercises the dir-collision suffixes
TITLE_POOL = 6

#: CrawlResult tables the crawl writes, in write order.
TABLES = ("articles", "contents", "download_tasks", "markdown_docs", "seen",
          "fetch_log", "metrics", "progress_events", "quarantine")


def config() -> CrawlConfig:
    return CrawlConfig(board=BOARDS[0], pages=PAGES_PER_BOARD,
                       push_rate=PUSH_RATE)


# --------------------------------------------------------------------------
# inputs
# --------------------------------------------------------------------------

def generator_seed(seed: int) -> int:
    """The first generator seed from `seed`'s own range whose inputs
    crawl in exactly five supersteps (0-4).

    An index page that answers 429 once is fetched in superstep 1, so
    its articles are first tried in superstep 2; when one of them
    answers 429 on every attempt, its third attempt falls in superstep
    4. No URL can be first tried later than superstep 2: the politeness
    budget defers at most the tail of superstep 1's articles, and
    superstep 2 stays far below the budget. So an input has five
    supersteps exactly when superstep 2 first tries an always-429
    article, and this seed guarantees one."""
    h = datagen._h
    first = datagen.MAX_PAGE - PAGES_PER_BOARD + 1
    for g in range(seed * 1000, seed * 1000 + 1000):
        for b in BOARDS:
            for p in range(first, datagen.MAX_PAGE + 1):
                hi = h(datagen.index_url(b, p), "status", seed=g)
                if hi % 41 == 0 or hi % 17 != 0:
                    continue  # not a once-429 index page
                for s in range(SLOTS_PER_PAGE):
                    m = datagen._article_meta(b, p, s, g, TITLE_POOL)
                    if (m["kind"] == "normal" and not m["missing"]
                            and push_value(m["marker"]) >= PUSH_RATE
                            and h(m["url"], "status", seed=g) % 41 == 0):
                        return g
    raise ValueError(f"no five-superstep generator seed for seed {seed}")


def make_inputs(seed: int, dest: str) -> None:
    """Pages table and 429 schedule for `seed`, as parquet under `dest`."""
    seed = generator_seed(seed)
    pages = datagen.pages_pandas(boards=BOARDS, pages_per_board=PAGES_PER_BOARD,
                                 slots_per_page=SLOTS_PER_PAGE, seed=seed,
                                 title_pool=TITLE_POOL)
    events = datagen.fetch_events_pandas(pages, seed=seed)
    write_split(pa.Table.from_pandas(pages, preserve_index=False),
                os.path.join(dest, "pages"))
    write_split(pa.table({
        "url": pa.array(events["url"].tolist(), pa.string()),
        "attempt": pa.array(events["attempt"].tolist(), pa.int32()),
        "status": pa.array(events["status"].tolist(), pa.int32()),
        "retry_after": pa.array(
            [None if pd.isna(v) else str(v) for v in events["retry_after"]],
            pa.string()),
        "retry_after_s": pa.array(
            [None if pd.isna(v) else int(v) for v in events["retry_after_s"]],
            pa.int64()),
    }), os.path.join(dest, "fetch_events"))


# --------------------------------------------------------------------------
# one round: the timed crawl, then its outputs read back untimed
# --------------------------------------------------------------------------

def run_round(spark, inputs: str, work: str, set_group) -> dict:
    """One timed crawl with every CrawlResult table written; returns the
    outputs, read back untimed, for `check`."""
    cfg = config()
    pages = spark.read.parquet(os.path.join(inputs, "pages"))
    events = spark.read.parquet(os.path.join(inputs, "fetch_events"))
    robots = spark.createDataFrame(datagen.robots_rules_pandas())
    ckpt_dir = os.path.join(work, "checkpoint")
    out_dir = os.path.join(work, "out")
    layer: dict[str, float] = {}

    t0 = time.perf_counter()
    set_group("loop")
    res = run_crawl(spark, pages, cfg, boards=list(BOARDS),
                    fetch_events=events, robots=robots,
                    checkpoint_dir=ckpt_dir)
    t_loop = time.perf_counter()
    set_group("assembly")
    for name in TABLES:
        t = time.perf_counter()
        getattr(res, name).write.parquet(os.path.join(out_dir, name))
        layer[f"assembly.{name}_s"] = time.perf_counter() - t
    run_s = time.perf_counter() - t0

    tm = res.timings
    loop_s = t_loop - t0
    init_s = sum(v for k, v in tm.items() if k.startswith("init."))
    layer.update({
        "crawl.loop_s": loop_s,
        "crawl.supersteps": res.supersteps,
        "crawl.superstep_s": (loop_s - init_s) / max(res.supersteps, 1),
        "crawl.frontier_ckpt_s": tm.get("phase.frontier_ckpt", 0.0),
        "crawl.is_empty_s": tm.get("phase.is_empty", 0.0),
        "seeds.probe_s": tm.get("init.probe_max_pages", 0.0),
        "parse.fetch_parse_s": tm.get("phase.fetch_parse", 0.0),
        "dedup.seed_s": tm.get("init.bloom_seed", 0.0),
        "dedup.fresh_s": tm.get("phase.dedup_fresh", 0.0),
        "dedup.add_s": tm.get("phase.bloom_add", 0.0),
    })
    # filter state lives under the checkpoint root; count it as dedup state
    f_b, f_f = tree_bytes_files(os.path.join(ckpt_dir, "filters"))
    all_b, all_f = tree_bytes_files(ckpt_dir)
    layer["dedup.state_bytes"] = f_b
    layer["checkpoint.bytes"] = all_b - f_b
    layer["checkpoint.files"] = all_f - f_f

    outputs = {name: pq.read_table(os.path.join(out_dir, name)).to_pylist()
               for name in TABLES}
    for name in TABLES:
        layer[f"assembly.{name}_rows"] = len(outputs[name])
    fetched = sum(1 for r in outputs["fetch_log"] if r["outcome"] == "fetched")
    layer["parse.pages"] = fetched
    return {"run_s": run_s, "pages": fetched, "layer": layer,
            "outputs": outputs}


# --------------------------------------------------------------------------
# expected sets from the generator's specification
# --------------------------------------------------------------------------

_IMG_SUFFIXES = (".jpg", ".jpeg", ".png", ".gif")


def push_value(marker: str) -> int:
    """The reference's push rule: 爆 -> 100, X<k> -> -k, digits -> int,
    anything else -> 0."""
    s = marker.strip()
    if s == "爆":
        return 100
    if s.startswith("X"):
        return -int(s[1:]) if _is_int(s[1:]) else 0
    return int(s) if _is_int(s) else 0


def _is_int(s: str) -> bool:
    body = s[1:] if s[:1] in ("+", "-") else s
    return body.isascii() and body.isdigit()


def _image_urls(links: list[str]) -> list[str]:
    """Image links an article's download tasks cover, in page order,
    first occurrence kept."""
    out: list[str] = []
    for href in links:
        if href.endswith(_IMG_SUFFIXES):
            if href.startswith("//"):
                href = "https:" + href
            elif href.startswith("http://"):
                href = "https://" + href[7:]
        elif "imgur.com/" in href and "imgur.com/a/" not in href:
            href = href + ".jpg"
        else:
            continue
        if href not in out:
            out.append(href)
    return out


def expected(seed: int) -> dict:
    seed = generator_seed(seed)
    h = datagen._h
    first = datagen.MAX_PAGE - PAGES_PER_BOARD + 1

    def always_429(url: str) -> bool:
        return h(url, "status", seed=seed) % 41 == 0

    index_urls = {datagen.index_url(b, p) for b in BOARDS
                  for p in range(first, datagen.MAX_PAGE + 1)}
    articles: set[tuple] = set()
    missing: set[str] = set()
    images: dict[str, list[str]] = {}
    for b in BOARDS:
        for p in range(first, datagen.MAX_PAGE + 1):
            if always_429(datagen.index_url(b, p)):
                continue  # the index page is never fetched
            for s in range(SLOTS_PER_PAGE):
                m = datagen._article_meta(b, p, s, seed, TITLE_POOL)
                if m["kind"] != "normal":
                    continue  # deleted rows have no link; 公告 rows are skipped
                push = push_value(m["marker"])
                if push < PUSH_RATE:
                    continue
                articles.add((b, p, m["url"], push))
                if m["missing"]:
                    missing.add(m["url"])
                else:
                    images[m["url"]] = _image_urls(
                        datagen._article_links(b, p, s, seed))
    article_urls = {a[2] for a in articles}
    seen = index_urls | article_urls
    exhausted = {u for u in seen - missing if always_429(u)}
    fetched = seen - missing - exhausted
    return {
        "seen": seen,
        "articles": articles,
        "fetched": fetched,
        "contents": fetched & article_urls,
        "quarantine": missing | exhausted,
        "images": {u: v for u, v in images.items() if u in fetched},
        "budget": config().host_budget_per_superstep,
    }


# --------------------------------------------------------------------------
# checks
# --------------------------------------------------------------------------

def check(out: dict, exp: dict) -> list[tuple[str, list[str]]]:
    """(operation, problems) for the crawl; no problems when it is right."""
    return [("crawl", _problems(out, exp))]


def _problems(out: dict, exp: dict) -> list[str]:
    bad: list[str] = []
    log = out["fetch_log"]
    fetched = Counter(r["url"] for r in log if r["outcome"] == "fetched")
    if any(n > 1 for n in fetched.values()):
        bad.append("a URL was fetched twice")
    if set(fetched) != exp["fetched"]:
        bad.append("fetched set differs from the specification")
    seen = Counter(r["url"] for r in out["seen"])
    if set(seen) != exp["seen"] or any(n > 1 for n in seen.values()):
        bad.append("seen set differs from the enqueued URLs")
    if {r["url"] for r in log} != set(seen):
        bad.append("fetch log and seen set name different URLs")
    per_step = Counter((r["superstep"], urlsplit(r["url"]).hostname)
                       for r in log)
    if max(per_step.values(), default=0) > exp["budget"]:
        bad.append("a superstep exceeded the host budget")
    arts = [(r["board"], r["page_no"], r["url"], r["push_rate"])
            for r in out["articles"]]
    if Counter(arts) != Counter(exp["articles"]):
        bad.append("articles differ from the specification")
    if any(r["push_rate"] < PUSH_RATE for r in out["articles"]):
        bad.append("an article is below the push threshold")
    content_urls = Counter(r["url"] for r in out["contents"])
    if Counter(exp["contents"]) != content_urls:
        bad.append("content rows differ from the fetched articles")
    if not all(r["text_match"] for r in out["contents"]):
        bad.append("a content row failed text_match")
    tasks = defaultdict(list)
    for r in out["download_tasks"]:
        tasks[r["article_url"]].append((r["seq"], r["img_url"]))
    got = {u: [img for _, img in sorted(v)] for u, v in tasks.items()}
    want = {u: v for u, v in exp["images"].items() if v}
    if got != want:
        bad.append("download tasks differ from the article images")
    names = Counter((r["save_dir"], r["file_name"]) for r in out["download_tasks"])
    if any(n > 1 for n in names.values()):
        bad.append("(save_dir, file_name) is not unique")
    if Counter(r["article_url"] for r in out["markdown_docs"]) != content_urls:
        bad.append("markdown docs are not one per content row")
    q = Counter(r["url"] for r in out["quarantine"])
    if set(q) != exp["quarantine"] or any(n > 1 for n in q.values()):
        bad.append("quarantine differs from the 404 and exhausted-429 sets")
    return bad


def _corruptions(out: dict):
    """(name, corrupted copy) pairs, each of which the checks must reject."""
    def with_table(name, rows):
        c = dict(out)
        c[name] = rows
        return c

    def edit(row, key, fn):
        r = dict(row)
        r[key] = fn(r[key])
        return r

    flip = lambda s: s[:-1] + chr(ord(s[-1]) ^ 1)  # noqa: E731
    fetched_row = next(r for r in out["fetch_log"] if r["outcome"] == "fetched")
    yield "drop a content row", with_table("contents", out["contents"][1:])
    yield "change a byte of a seen URL", with_table(
        "seen", [edit(out["seen"][0], "url", flip)] + out["seen"][1:])
    yield "fetch a URL twice", with_table(
        "fetch_log", out["fetch_log"] + [dict(fetched_row, superstep=99)])
    yield "drop a download task", with_table(
        "download_tasks", out["download_tasks"][1:])
    yield "clear a text_match", with_table(
        "contents", [edit(out["contents"][0], "text_match", lambda _: False)]
        + out["contents"][1:])
    yield "drop a markdown doc", with_table(
        "markdown_docs", out["markdown_docs"][1:])
    yield "drop a quarantine row", with_table(
        "quarantine", out["quarantine"][1:])
    yield "lower an article's push", with_table(
        "articles", [edit(out["articles"][0], "push_rate", lambda _: 0)]
        + out["articles"][1:])


def selftest(out: dict, exp: dict) -> list[str]:
    """Corruptions the checks failed to reject; empty when all were."""
    return [name for name, bad in _corruptions(out)
            if not _problems(bad, exp)]
