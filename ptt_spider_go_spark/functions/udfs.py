"""Arrow-vectorized parse stages (SURVEY §2.4 — the only Python compute).

Two shapes:

- ``make_parse_page_kernel``: one ``mapInArrow`` pass over fetched
  pages of both kinds — P1 article rows, P2 article content and the P4
  byte-identical text check together. Each page is parsed once: an
  article page's one DOM yields its title, images and page text. Only
  ``url``, ``kind``, ``html`` and ``text`` become Python values; every
  other output column is an Arrow ``take`` of its input column.
- a scalar ``pandas_udf`` for P3 (max page).

All per-document work happens batch-at-a-time over Arrow; there is no
row-at-a-time Python UDF anywhere in the engine (BASELINE.json
input_hint: "no per-row Python").
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType

from ptt_spider_go_spark.htmlparse.files import image_file_names, unique_in_order
from ptt_spider_go_spark.htmlparse.ptt import (
    parse_article_page,
    parse_articles,
    parse_max_page,
)

# Unified one-pass parse output: the superstep loop scans the fetched
# pages exactly once and derives every downstream table (article rows,
# article contents, fetch log) from this single materialized result.
# row_kind: 'art' = article row parsed from an index page (P1),
# 'content' = parsed article content (P2+D1+D2), 'fetch' = one row per
# fetched page for the log (T7).
PARSED_ALL_SCHEMA = (
    "row_kind string, url string, kind string, board string, page_no int, "
    "pos int, title string, author string, push_rate int, attempt int, "
    "backoff_ms long, src_url string, warc_ts timestamp, "
    "parsed_title string, img_urls array<string>, file_names array<string>, "
    "text_match boolean"
)

#: the kernel's input columns: a fetched frontier row with its page
KERNEL_INPUT_COLS = (
    "url", "kind", "board", "page_no", "pos", "title", "author", "push_rate",
    "attempt", "backoff_ms", "warc_ts", "html", "text",
)

_PARSED_COLS = [f.strip().split(" ")[0] for f in PARSED_ALL_SCHEMA.split(",")]
_STR = pa.string()
_STRS = pa.list_(pa.string())


def make_parse_page_kernel(push_threshold: int | None = None):
    """mapInArrow kernel over fetched pages (KERNEL_INPUT_COLS) of BOTH
    kinds (index + article). One Arrow pass emits P1 article rows, P2
    content rows and per-page fetch-log rows together, so the (huge)
    pages join is scanned and parsed exactly once per superstep.

    A content row's `text_match` is "page text == `text`" when the
    row's `text` is not NULL, and NULL otherwise.

    `push_threshold`: apply the F1 producer filter (crawler.go:413-422)
    in-kernel — the reference's producer also drops below-threshold
    articles before they ever reach a channel, and dropping them here
    avoids shipping the (majority) rejected rows back through Arrow.
    """

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            yield _parse_batch(b, push_threshold)

    return kernel


def _parse_batch(b: pa.RecordBatch, push_threshold: int | None) -> pa.RecordBatch:
    # one tuple per output row: (source row, row_kind, url, kind, then the
    # parsed pos, title, author, push_rate, parsed_title, img_urls,
    # file_names, text_match)
    rows: list[tuple] = []
    for i, (url, kind, html, text) in enumerate(zip(
            *(b.column(c).to_pylist() for c in ("url", "kind", "html", "text")))):
        rows.append((i, "fetch", url, kind) + (None,) * 8)
        if html is None:
            continue
        if kind == "index":
            for a in parse_articles(html):
                if push_threshold is not None and a["push_rate"] < push_threshold:
                    continue  # F1, crawler.go:414
                rows.append((i, "art", a["url"], "article", a["pos"],
                             a["title"], a["author"], a["push_rate"],
                             None, None, None, None))
        else:
            ptitle, imgs, page_text = parse_article_page(html)
            imgs = unique_in_order(imgs)
            rows.append((i, "content", url, "article", None, None, None, None,
                         ptitle, imgs, image_file_names(imgs),
                         None if text is None else page_text == text))
    (src, rk, urls, kinds, pos, title, author, push, ptitle, imgs, fnames,
     tmatch) = zip(*rows) if rows else [()] * 12

    def rows_of(only: str | None = None) -> pa.Array:
        """Each output row's source row; NULL on every row whose
        row_kind is not `only`, when given."""
        return pa.array(src if only is None else [
            s if k == only else None for s, k in zip(src, rk)], pa.int64())

    every, fetch, art, content = (
        rows_of(), rows_of("fetch"), rows_of("art"), rows_of("content"))
    col = b.column

    def frontier_or_parsed(name: str, parsed: tuple) -> pa.Array:
        """A content row keeps its frontier value, an art row its parsed
        one; fetch rows are NULL."""
        got = col(name).take(content)
        return pc.coalesce(got, pa.array(parsed, got.type))

    return pa.RecordBatch.from_arrays(
        [
            pa.array(rk, _STR), pa.array(urls, _STR), pa.array(kinds, _STR),
            col("board").take(every), col("page_no").take(every),
            frontier_or_parsed("pos", pos),
            frontier_or_parsed("title", title),
            frontier_or_parsed("author", author),
            frontier_or_parsed("push_rate", push),
            col("attempt").take(fetch), col("backoff_ms").take(fetch),
            col("url").take(art), col("warc_ts").take(art),
            pa.array(ptitle, _STR), pa.array(imgs, _STRS),
            pa.array(fnames, _STRS), pa.array(tmatch, pa.bool_()),
        ],
        names=_PARSED_COLS,
    )


@F.pandas_udf(IntegerType())
def parse_max_page_udf(html: pd.Series) -> pd.Series:
    """P3: board landing page -> newest index number + 1; NULL on failure
    (quarantine path)."""
    return pd.Series(
        [None if doc is None else parse_max_page(doc) for doc in html],
        dtype="Int32",
    )
