"""Arrow-vectorized parse stages (SURVEY §2.4 — the only Python compute).

Two shapes:

- ``parse_articles_map``: a ``mapInPandas`` stage (1 board-index page ->
  N article rows, the UDTF shape of P1) — avoids an array<struct> +
  posexplode round-trip and keeps the emitted ``pos`` column exact.
- ``make_parse_page_kernel``: one ``mapInPandas`` pass over fetched
  pages of both kinds — P1 article rows, P2 article content and the P4
  byte-identical text check together.
- a scalar ``pandas_udf`` for P3 (max page).

All per-document work happens batch-at-a-time over Arrow; there is no
row-at-a-time Python UDF anywhere in the engine (BASELINE.json
input_hint: "no per-row Python").
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ptt_spider_go_spark.htmlparse.files import image_file_names, unique_in_order
from ptt_spider_go_spark.htmlparse.ptt import (
    extract_text,
    parse_article_content,
    parse_articles,
    parse_max_page,
)

# Output schema of the P1 mapInPandas stage. Input must carry at least
# (url, html); extra grouping columns (board, page_no, warc_ts) pass through.
ARTICLES_SCHEMA = StructType(
    [
        StructField("board", StringType()),
        StructField("page_no", IntegerType()),
        StructField("src_url", StringType()),
        StructField("pos", IntegerType()),
        StructField("title", StringType()),
        StructField("url", StringType()),
        StructField("author", StringType()),
        StructField("push_rate", IntegerType()),
    ]
)


def parse_articles_map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: board-index pages -> article rows (P1).

    Expects columns (board, page_no, url, html); emits ARTICLES_SCHEMA
    rows with `pos` = document order among emitted rows (SURVEY O2).
    """
    for pdf in batches:
        out = {k: [] for k in
               ("board", "page_no", "src_url", "pos", "title", "url", "author", "push_rate")}
        for board, page_no, src_url, html in zip(
            pdf["board"], pdf["page_no"], pdf["url"], pdf["html"]
        ):
            if html is None:
                continue  # F6: missing page = non-200, dropped
            for row in parse_articles(html):
                out["board"].append(board)
                out["page_no"].append(page_no)
                out["src_url"].append(src_url)
                out["pos"].append(row["pos"])
                out["title"].append(row["title"])
                out["url"].append(row["url"])
                out["author"].append(row["author"])
                out["push_rate"].append(row["push_rate"])
        yield pd.DataFrame(out)


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

_PARSED_COLS = [f.strip().split(" ")[0] for f in PARSED_ALL_SCHEMA.split(",")]


def make_parse_page_kernel(verify_text: bool, push_threshold: int | None = None):
    """mapInPandas kernel over fetched pages of BOTH kinds (index +
    article). One Arrow pass emits P1 article rows, P2 content rows, and
    per-page fetch-log rows together, so the (huge) pages join is
    scanned and parsed exactly once per superstep.

    `push_threshold`: apply the F1 producer filter (crawler.go:413-422)
    in-kernel — the reference's producer also drops below-threshold
    articles before they ever reach a channel, and dropping them here
    avoids shipping the (majority) rejected rows back through Arrow.
    """

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # Hot path: direct per-column appends (a kwargs-dict emit
            # costs ~17 dict lookups per row across millions of rows).
            out: dict[str, list] = {c: [] for c in _PARSED_COLS}
            (o_rk, o_url, o_kind, o_board, o_page, o_pos, o_title, o_author,
             o_push, o_att, o_back, o_src, o_ts, o_pt, o_imgs, o_fn, o_tm) = (
                out[c] for c in _PARSED_COLS)

            def emit_row(rk, url, kind, board, page_no, pos, title, author,
                         push_rate, attempt, backoff_ms, src_url, warc_ts,
                         parsed_title, img_urls, file_names, text_match):
                o_rk.append(rk); o_url.append(url); o_kind.append(kind)
                o_board.append(board); o_page.append(page_no); o_pos.append(pos)
                o_title.append(title); o_author.append(author)
                o_push.append(push_rate); o_att.append(attempt)
                o_back.append(backoff_ms); o_src.append(src_url)
                o_ts.append(warc_ts); o_pt.append(parsed_title)
                o_imgs.append(img_urls); o_fn.append(file_names)
                o_tm.append(text_match)

            has_text = "text" in pdf.columns
            texts = pdf["text"].tolist() if has_text else [None] * len(pdf)
            rows = zip(
                pdf["url"].tolist(), pdf["kind"].tolist(), pdf["board"].tolist(),
                pdf["page_no"].tolist(), pdf["pos"].tolist(),
                pdf["title"].tolist(), pdf["author"].tolist(),
                pdf["push_rate"].tolist(), pdf["attempt"].tolist(),
                pdf["backoff_ms"].tolist(), pdf["warc_ts"].tolist(),
                pdf["html"].tolist(), texts,
            )
            for (url, kind, board, page_no, pos, title, author, push_rate,
                 attempt, backoff_ms, warc_ts, html, text) in rows:
                emit_row("fetch", url, kind, board, page_no, None, None, None,
                         None, attempt, backoff_ms, None, None, None, None,
                         None, None)
                if html is None:
                    continue
                if kind == "index":
                    for a in parse_articles(html):
                        if push_threshold is not None and a["push_rate"] < push_threshold:
                            continue  # F1, crawler.go:414
                        emit_row("art", a["url"], "article", board, page_no,
                                 a["pos"], a["title"], a["author"],
                                 a["push_rate"], None, None, url, warc_ts,
                                 None, None, None, None)
                else:
                    ptitle, imgs = parse_article_content(html)
                    imgs = unique_in_order(imgs)
                    tm = None
                    if verify_text and has_text:
                        tm = extract_text(html) == text
                    emit_row("content", url, "article", board, page_no, pos,
                             title, author, push_rate, None, None, None, None,
                             ptitle, imgs, image_file_names(imgs), tm)
            opdf = pd.DataFrame(out)
            # arrow needs concrete dtypes even for all-None columns
            opdf["page_no"] = opdf["page_no"].astype("Int32")
            opdf["pos"] = opdf["pos"].astype("Int32")
            opdf["push_rate"] = opdf["push_rate"].astype("Int32")
            opdf["attempt"] = opdf["attempt"].astype("Int32")
            opdf["backoff_ms"] = opdf["backoff_ms"].astype("Int64")
            opdf["text_match"] = opdf["text_match"].astype("boolean")
            yield opdf

    return kernel


@F.pandas_udf(IntegerType())
def parse_max_page_udf(html: pd.Series) -> pd.Series:
    """P3: board landing page -> newest index number + 1; NULL on failure
    (quarantine path)."""
    return pd.Series(
        [None if doc is None else parse_max_page(doc) for doc in html],
        dtype="Int32",
    )
