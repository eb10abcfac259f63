"""Deterministic synthetic pages-table generator (FIXTURES.md §1).

Produces a Common-Crawl-style table
``pages(url, warc_ts, html, text, lang)`` of PTT-shaped board-index and
article pages, plus sidecar tables ``fetch_events`` (simulated 429s for
the retry ledger) and ``robots_rules``.

Every byte is a pure function of (board, page_no, slot, seed) via
blake2b — no wall clock, no shared RNG — so generation is identical
whether it runs driver-side (pandas, tests) or distributed
(spark.range + mapInPandas, bench/scale). The ``text`` column is
produced by ``extract_text``, the text the engine reads off the DOM of
each article page it parses, which is what makes the byte-identical
invariant checkable.

Covered cases (each pinned by a reference behavior, FIXTURES.md §1):
push markers 爆/numeric/X<k>/X/empty, deleted articles, 公告 rows,
missing article pages (404 path), duplicate image URLs, cross-host
basename collisions, pre-taken ``_2`` names, imgur no-ext/album links,
http/protocol-relative schemes, duplicate (title, push) pairs for dir
collisions.
"""

from __future__ import annotations

from collections.abc import Iterator
from datetime import datetime, timezone
from hashlib import blake2b

import pandas as pd

from ptt_spider_go_spark.htmlparse.ptt import PTT_BASE_URL, extract_text

DEFAULT_BOARDS = ("Beauty", "Gossiping")
MAX_PAGE = 2346  # newest index number, matches the fixture arithmetic

_PUSH_MARKERS = ("爆", "99", "X5", "X", "", "12", "0", "66", "X13", "5")
_EPOCH = datetime(2026, 1, 1, tzinfo=timezone.utc)


def _h(*parts, seed: int = 42) -> int:
    key = ("|".join(str(p) for p in parts) + f"|{seed}").encode()
    return int.from_bytes(blake2b(key, digest_size=8).digest(), "big")


def index_url(board: str, page_no: int) -> str:
    return f"{PTT_BASE_URL}/bbs/{board}/index{page_no}.html"


def landing_url(board: str) -> str:
    return f"{PTT_BASE_URL}/bbs/{board}/index.html"


def article_url(board: str, page_no: int, slot: int) -> str:
    ts = 1700000000 + (page_no * 100) + slot
    suf = format(_h(board, page_no, slot) % (36**3), "03X")[-3:]
    return f"{PTT_BASE_URL}/bbs/{board}/M.{ts}.A.{suf}.html"


def _article_meta(board: str, page_no: int, slot: int, seed: int,
                  title_pool: int) -> dict:
    """Deterministic article descriptor for one index-page slot."""
    h = _h(board, page_no, slot, "meta", seed=seed)
    kind = h % 10
    marker = _PUSH_MARKERS[_h(board, page_no, slot, "push", seed=seed) % len(_PUSH_MARKERS)]
    # Small title pool -> repeated (title, push) pairs -> dir collisions (D3).
    t_idx = _h(board, page_no, slot, "title", seed=seed) % title_pool
    title = f"[心得] {board}主題{t_idx}"
    if kind == 1:
        title = f"[公告] 板規{t_idx}"
    return {
        "kind": "deleted" if kind == 0 else ("announce" if kind == 1 else "normal"),
        "marker": marker,
        "title": title,
        "author": f"user{h % 97:02d}",
        "url": article_url(board, page_no, slot),
        # ~1 in 7 article pages missing from the pages table -> 404 path.
        "missing": _h(board, page_no, slot, "404", seed=seed) % 7 == 0,
    }


def render_index_page(board: str, page_no: int, slots: int, seed: int,
                      title_pool: int) -> str:
    rows = []
    for s in range(slots):
        m = _article_meta(board, page_no, s, seed, title_pool)
        date = f"{1 + _h(board, page_no, s, 'd', seed=seed) % 12}/{1 + _h(board, page_no, s, 'dd', seed=seed) % 28:02d}"
        if m["kind"] == "deleted":
            rows.append(
                f'  <div class="r-ent">\n    <div class="nrec"><span class="hl f2">{m["marker"]}</span></div>\n'
                f'    <div class="title">\n      (本文已被刪除) [{m["author"]}]\n    </div>\n'
                f'    <div class="meta"><div class="author">-</div><div class="date">{date}</div></div>\n  </div>'
            )
            continue
        href = m["url"][len(PTT_BASE_URL):]
        nrec = f'<span class="hl f2">{m["marker"]}</span>' if m["marker"] else ""
        rows.append(
            f'  <div class="r-ent">\n    <div class="nrec">{nrec}</div>\n'
            f'    <div class="title">\n      <a href="{href}">{m["title"]}</a>\n    </div>\n'
            f'    <div class="meta"><div class="author">{m["author"]}</div><div class="date">{date}</div></div>\n  </div>'
        )
    body = "\n".join(rows)
    paging = (
        f'  <div class="btn-group btn-group-paging">\n'
        f'    <a class="btn wide" href="/bbs/{board}/index{page_no - 1}.html">‹ 上頁</a>\n'
        f'    <a class="btn wide" href="/bbs/{board}/index{page_no + 1}.html">下頁 ›</a>\n  </div>'
    )
    return (
        f"<!DOCTYPE html>\n<html>\n<head><title>看板 {board} 文章列表</title></head>\n<body>\n"
        f"{body}\n{paging}\n</body>\n</html>\n"
    )


_IMG_HOSTS = ("i.imgur.com", "pic.example.net", "cdn.example.org")


def _article_links(board: str, page_no: int, slot: int, seed: int) -> list[str]:
    """Deterministic link list exercising every F4/C3/C4/D1/D2 case."""
    h = _h(board, page_no, slot, "links", seed=seed)
    n_imgs = 1 + h % 4
    links = []
    for i in range(n_imgs):
        hh = _h(board, page_no, slot, "img", i, seed=seed)
        host = _IMG_HOSTS[hh % len(_IMG_HOSTS)]
        # Small basename pool -> cross-host collisions (a.jpg vs a.jpg).
        base = f"img{hh % 5}"
        ext = (".jpg", ".png", ".gif")[hh % 3]
        scheme = ("https://", "http://", "//")[hh % 3]
        links.append(f"{scheme}{host}/{base}{ext}")
    if h % 3 == 0:
        links.append(links[0])  # duplicate -> D1 dedup
    if h % 4 == 0:
        links.append(f"https://imgur.com/NoExt{h % 7}")  # imgur no-ext -> .jpg
    if h % 5 == 0:
        links.append("https://imgur.com/a/Album9")  # excluded
    if h % 6 == 0:
        links.append("https://files.example.com/paper.pdf")  # excluded
    if h % 7 == 1:
        # Pre-taken _2 name forces the jump-over-taken case (D2).
        links.append("https://pic.example.net/img1_2.jpg")
        links.append("https://cdn.example.org/img1.jpg")
        links.append("https://i.imgur.com/img1.jpg")
    return links


def render_article_page(board: str, page_no: int, slot: int, seed: int,
                        title_pool: int) -> str:
    m = _article_meta(board, page_no, slot, seed, title_pool)
    anchors = "\n".join(
        f'    <a href="{u}" rel="nofollow">{u}</a>' for u in _article_links(board, page_no, slot, seed)
    )
    body_h = _h(board, page_no, slot, "body", seed=seed)
    return (
        f"<!DOCTYPE html>\n<html>\n<head><title>{m['title']}</title></head>\n<body>\n"
        f'  <div id="main-content">\n'
        f'    <div class="article-metaline"><span class="article-meta-tag">作者</span>'
        f'<span class="article-meta-value">{m["author"]} (測試)</span></div>\n'
        f'    <div class="article-metaline"><span class="article-meta-tag">標題</span>'
        f'<span class="article-meta-value">{m["title"]}</span></div>\n'
        f'    <div class="article-metaline"><span class="article-meta-tag">時間</span>'
        f'<span class="article-meta-value">Thu Jan  1 {body_h % 24:02d}:00:00 2026</span></div>\n'
        f"    內文段落 {body_h % 1000}，測試用文字。\n"
        f"{anchors}\n"
        f'    <span class="f2">推 reader{body_h % 50}: 內容不錯</span>\n'
        f"  </div>\n</body>\n</html>\n"
    )


def _warc_ts(url: str, seed: int) -> datetime:
    off = _h(url, "ts", seed=seed) % (86400 * 30)
    return datetime.fromtimestamp(_EPOCH.timestamp() + off, tz=timezone.utc)


def _lang(url: str, seed: int) -> str:
    return "en" if _h(url, "lang", seed=seed) % 19 == 0 else "zh-tw"


# --------------------------------------------------------------------------
# Page-spec enumeration: one spec per page, generation is spec -> row.
# --------------------------------------------------------------------------

def page_specs(boards=DEFAULT_BOARDS, pages_per_board: int = 5,
               slots_per_page: int = 8, max_page: int = MAX_PAGE) -> list[tuple]:
    """(kind, board, page_no, slot) for every page in the dataset.
    Index pages cover [max_page - pages_per_board + 1, max_page]."""
    specs: list[tuple] = []
    for b in boards:
        specs.append(("landing", b, max_page, -1))
        for p in range(max_page - pages_per_board + 1, max_page + 1):
            specs.append(("index", b, p, -1))
            for s in range(slots_per_page):
                specs.append(("article", b, p, s))
    return specs


def _spec_to_row(kind: str, board: str, page_no: int, slot: int, seed: int,
                 title_pool: int, slots_per_page: int,
                 with_text: bool = True) -> dict | None:
    if kind == "landing":
        url = landing_url(board)
        # Landing page: the ‹ 上頁 button points at index<max_page - 1>
        # so ParseMaxPage returns max_page (C8: parsed + 1).
        html = (
            f"<!DOCTYPE html>\n<html>\n<head><title>看板 {board}</title></head>\n<body>\n"
            f'  <div class="btn-group btn-group-paging">\n'
            f'    <a class="btn wide" href="/bbs/{board}/index{page_no - 1}.html">‹ 上頁</a>\n'
            f"  </div>\n</body>\n</html>\n"
        )
    elif kind == "index":
        url = index_url(board, page_no)
        html = render_index_page(board, page_no, slots_per_page, seed, title_pool)
    else:
        m = _article_meta(board, page_no, slot, seed, title_pool)
        if m["kind"] != "normal" or m["missing"]:
            return None  # deleted/公告 have no article page; missing = 404
        url = m["url"]
        html = render_article_page(board, page_no, slot, seed, title_pool)
    return {
        "url": url,
        "warc_ts": _warc_ts(url, seed),
        "html": html.encode("utf-8"),
        # The text golden doubles generation cost; benches that don't
        # check the byte-identical invariant skip it, and a NULL text
        # leaves the crawl's text_match NULL.
        "text": extract_text(html) if with_text else None,
        "lang": _lang(url, seed),
    }


def pages_pandas(boards=DEFAULT_BOARDS, pages_per_board: int = 5,
                 slots_per_page: int = 8, seed: int = 42,
                 title_pool: int = 6, max_page: int = MAX_PAGE) -> pd.DataFrame:
    """Driver-side generation (tests, small scale)."""
    rows = []
    for kind, b, p, s in page_specs(boards, pages_per_board, slots_per_page, max_page):
        r = _spec_to_row(kind, b, p, s, seed, title_pool, slots_per_page)
        if r is not None:
            rows.append(r)
    return pd.DataFrame(rows)


PAGES_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"


def pages_df(spark, boards=DEFAULT_BOARDS, pages_per_board: int = 5,
             slots_per_page: int = 8, seed: int = 42, title_pool: int = 6,
             max_page: int = MAX_PAGE, parallelism: int | None = None,
             with_text: bool = True):
    """Distributed generation: enumerate specs as a DataFrame, render HTML
    in mapInPandas. This is the shape that scales to 10^10 URLs — the
    driver only ships (board, page_no, slot) tuples, never page bytes."""
    specs = page_specs(boards, pages_per_board, slots_per_page, max_page)
    spec_df = spark.createDataFrame(
        specs, "kind string, board string, page_no int, slot int"
    )
    if parallelism:
        spec_df = spec_df.repartition(parallelism)

    def render(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for kind, b, p, s in zip(pdf["kind"], pdf["board"], pdf["page_no"], pdf["slot"]):
                r = _spec_to_row(kind, b, int(p), int(s), seed, title_pool,
                                 slots_per_page, with_text=with_text)
                if r is not None:
                    rows.append(r)
            yield pd.DataFrame(
                rows, columns=["url", "warc_ts", "html", "text", "lang"]
            )

    return spec_df.mapInPandas(render, PAGES_SCHEMA)


# --------------------------------------------------------------------------
# Sidecars
# --------------------------------------------------------------------------

def fetch_events_pandas(pages: pd.DataFrame, seed: int = 42) -> pd.DataFrame:
    """Simulated per-attempt HTTP statuses for the retry ledger (T2).

    Default status 200. ~1/17 of URLs return 429 once then 200 (retry
    succeeds); ~1/41 return 429 on every attempt (retry exhausted after
    3 attempts, constants.go:32). 429s carry a raw Retry-After header
    (`retry_after`, string) exercising every reference branch
    (crawler/retry.go:57-93): integer seconds, RFC1123 HTTP-dates both
    future and expired relative to the deterministic sim clock
    (operators.retrysim.RETRY_SIM_NOW), junk, and absent. The legacy
    pre-parsed `retry_after_s` column is kept alongside.
    """
    import datetime as _dt

    now = _dt.datetime(2026, 1, 1, 0, 0, 0)  # == retrysim.RETRY_SIM_NOW

    def _header(h: int) -> str | None:
        m = h % 6
        if m == 0:
            return str(h % 45)  # integer seconds (0 falls through to expo)
        if m == 1:  # future HTTP-date, possibly past the 30 s cap
            t = now + _dt.timedelta(seconds=5 + h % 60)
            return t.strftime("%a, %d %b %Y %H:%M:%S GMT")
        if m == 2:  # expired HTTP-date -> initial-delay floor
            t = now - _dt.timedelta(seconds=1 + h % 300)
            return t.strftime("%a, %d %b %Y %H:%M:%S GMT")
        if m == 3:
            return "soon"  # junk -> exponential
        return None  # absent -> exponential

    rows = []
    for url in pages["url"]:
        h = _h(url, "status", seed=seed)
        if h % 41 == 0:
            statuses = [429, 429, 429]
        elif h % 17 == 0:
            statuses = [429, 200]
        else:
            statuses = [200]
        for attempt, st in enumerate(statuses, start=1):
            rows.append(
                {
                    "url": url,
                    "attempt": attempt,
                    "status": st,
                    "retry_after": _header(h) if st == 429 else None,
                    "retry_after_s": (h % 45) if (st == 429 and h % 3 == 0) else None,
                }
            )
    return pd.DataFrame(rows)


def robots_rules_pandas() -> pd.DataFrame:
    """Host politeness rules [north_rule]; the reference has no robots
    parsing — delay-only politeness — so rules here are engine inputs."""
    return pd.DataFrame(
        [
            {"host": "www.ptt.cc", "path_prefix": "/bbs/Secret", "allowed": False},
            {"host": "www.ptt.cc", "path_prefix": "/", "allowed": True},
        ]
    )


# ---------------------------------------------------------------------------
# Zipfian web-text shaping (r2 VERDICT next-round #3)
# ---------------------------------------------------------------------------

#: head/tail widths appended by zipfify_documents. The tail width is
#: chosen so a doc's Jaccard-0.4 prefix (|prefix| = sz - ceil(0.4*sz)
#: + 1 <= 0.6*sz + 1) fits entirely inside the rare tail: base corpus
#: distinct tokens <= 31 (vocab is 31), head <= 16, so
#: 0.6*(31 + 16 + 80) + 1 = 77.2 <= 80. That is the regime of real web
#: text, where prefixes are names/ids/typos, never stop words.
ZIPF_HEAD_TOKENS = 16
ZIPF_TAIL_TOKENS = 80


def zipfify_documents(docs, n_head: int = ZIPF_HEAD_TOKENS,
                      n_tail: int = ZIPF_TAIL_TOKENS):
    """Deterministically reshape a documents table into the Zipfian
    token-frequency regime of real web text, which the synthetic
    testdata lacks on BOTH ends (its ~31-token vocabulary makes every
    token a uniformly-heavy stop word — measured df skew 1.03):

    - head: token `zh<j>` (j = 0..n_head-1) appended to every document
      whose doc_id % (j+1) == 0, so df(zh_j) = n/(j+1) — an exact
      1/rank (Zipf exponent 1) stop-word head;
    - tail: n_tail tokens `zr<md5(text)[:2]>_<j>` — the long rare tail
      (names, ids, typos) that dominates a real web vocabulary. The
      tail is CONTENT-derived, not doc_id-derived, so exact duplicates
      share their tail and keep Jaccard 1.0 (a doc_id-keyed tail would
      push every true duplicate pair below threshold — real rare
      tokens travel with the text they belong to). The 2-hex-char key
      groups docs into 256 boilerplate clusters (shared site
      templates), giving the corpus genuine near-dup structure: same-
      cluster pairs land at J ~ 0.65-0.7, cross-cluster at ~0.1.

    This is the regime the adaptive Jaccard selector's threshold note
    (pipeline/dedup_text.py) argues from: the head carries the
    quadratic candidate mass that prefix filtering prunes and the
    naive token join cannot, while the tail gives prefixes their
    pruning power.

    Pure column arithmetic — no randomness, no UDF — so a DuckDB
    oracle reproduces the corpus exactly (contract._zipf_text_sql).
    """
    from pyspark.sql import functions as F

    head = [
        F.when(F.col("doc_id") % (j + 1) == 0, F.lit(f"zh{j}"))
        for j in range(n_head)
    ]
    sig = F.substring(F.md5(F.col("text")), 1, 2)
    tail = [
        F.concat(F.lit("zr"), sig, F.lit(f"_{j}")) for j in range(n_tail)
    ]
    # concat_ws skips NULLs in both Spark and DuckDB
    return docs.withColumn(
        "text", F.concat_ws(" ", F.col("text"), *head, *tail)
    )
