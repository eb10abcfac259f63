"""The crawl's parse kernel, driven with Arrow batches outside Spark:
the byte-identical text check, one parse per page, and output columns
that keep PARSED_ALL_SCHEMA's types on every batch shape."""

from datetime import datetime, timezone
from pathlib import Path

import pyarrow as pa
import pytest
from pyspark.sql.pandas.types import to_arrow_schema

from ptt_spider_go_spark.datagen import pages_df, pages_pandas
from ptt_spider_go_spark.functions.udfs import (
    PARSED_ALL_SCHEMA,
    make_parse_page_kernel,
)
from ptt_spider_go_spark.htmlparse import ptt
from ptt_spider_go_spark.htmlparse.ptt import (
    extract_text,
    parse_article_content,
    parse_article_page,
)

FIXTURES = Path(__file__).parent / "fixtures"
ARTICLE = (FIXTURES / "article_page.html").read_bytes()
INDEX = (FIXTURES / "board_index.html").read_bytes()
TS = datetime(2026, 1, 1, tzinfo=timezone.utc)

#: the kernel's input as the crawl's frontier ⋈ pages join types it
INPUT = pa.schema([
    ("url", pa.string()), ("kind", pa.string()), ("board", pa.string()),
    ("page_no", pa.int32()), ("pos", pa.int32()), ("title", pa.string()),
    ("author", pa.string()), ("push_rate", pa.int32()),
    ("attempt", pa.int32()), ("backoff_ms", pa.int64()),
    ("warc_ts", pa.timestamp("us", tz="UTC")), ("html", pa.binary()),
    ("text", pa.string()),
])


def _page(url, kind, html, text=None, pos=None):
    return {"url": url, "kind": kind, "board": "Gossiping", "page_no": 7,
            "pos": pos, "title": None if kind == "index" else "t",
            "author": None if kind == "index" else "a",
            "push_rate": None if kind == "index" else 20, "attempt": 2,
            "backoff_ms": 500, "warc_ts": TS, "html": html, "text": text}


def _run(pages, push_threshold=None):
    batch = pa.RecordBatch.from_pylist(pages, schema=INPUT)
    out = list(make_parse_page_kernel(push_threshold)(iter([batch])))
    assert len(out) == 1
    return out[0]


@pytest.fixture(scope="module")
def parsed_schema(spark):
    return to_arrow_schema(
        spark.createDataFrame([], PARSED_ALL_SCHEMA).schema)


def test_text_match_true_false_null():
    """A content row's text_match compares the page text byte for byte
    with the row's `text`, and is NULL when `text` is NULL."""
    pages = [
        _page(f"https://www.ptt.cc/bbs/G/M.{i}.html", "article", ARTICLE,
              text=t, pos=i)
        for i, t in enumerate([extract_text(ARTICLE),
                               extract_text(ARTICLE) + " ", None])
    ]
    rows = _run(pages).to_pylist()
    content = [r for r in rows if r["row_kind"] == "content"]
    assert [r["text_match"] for r in content] == [True, False, None]
    assert [r["pos"] for r in content] == [0, 1, 2]
    assert all(r["parsed_title"] == "[問卦] 第一篇熱門文" for r in content)


@pytest.mark.parametrize("case", ["empty", "null_html", "below_threshold"])
def test_output_keeps_schema_types(parsed_schema, case):
    """An empty batch, a page with NULL html (a fetch row only) and an
    index page with no article at or above the push threshold all keep
    the Spark schema's Arrow types, all-NULL columns included."""
    pages = {
        "empty": [],
        "null_html": [_page("https://www.ptt.cc/bbs/G/M.1.html", "article",
                            None, text="x", pos=0)],
        "below_threshold": [_page("https://www.ptt.cc/bbs/G/index7.html",
                                  "index", INDEX)],
    }[case]
    out = _run(pages, push_threshold=1000)
    assert out.schema.names == parsed_schema.names
    assert out.schema.types == parsed_schema.types
    assert out.schema.field("page_no").type == pa.int32()
    assert out.schema.field("backoff_ms").type == pa.int64()
    assert [r["row_kind"] for r in out.to_pylist()] == ["fetch"] * len(pages)


def test_rows_of_each_kind():
    """Fetch rows carry the frontier's attempt and backoff; article rows
    their parsed fields, the index page as src_url and its warc_ts;
    content rows the frontier's metadata and the parsed content."""
    index_url = "https://www.ptt.cc/bbs/G/index7.html"
    art_url = "https://www.ptt.cc/bbs/G/M.1.html"
    rows = _run([_page(index_url, "index", INDEX),
                 _page(art_url, "article", ARTICLE, pos=3)],
                push_threshold=0).to_pylist()
    kinds = [r["row_kind"] for r in rows]
    # per page: its fetch row, then the rows its parse emits
    assert kinds == ["fetch"] + ["art"] * 4 + ["fetch", "content"]
    fetch = rows[0]
    assert (fetch["url"], fetch["kind"], fetch["attempt"],
            fetch["backoff_ms"], fetch["pos"], fetch["warc_ts"]) == (
        index_url, "index", 2, 500, None, None)
    art = rows[1]
    assert (art["kind"], art["title"], art["push_rate"], art["pos"],
            art["src_url"], art["warc_ts"], art["attempt"]) == (
        "article", "[問卦] 第一篇熱門文", 100, 0, index_url, TS, None)
    assert [r["push_rate"] for r in rows[1:5]] == [100, 99, 0, 0]
    content = rows[6]
    assert (content["url"], content["pos"], content["title"],
            content["author"], content["push_rate"], content["src_url"],
            content["attempt"]) == (art_url, 3, "t", "a", 20, None, None)
    assert content["img_urls"] == [
        "https://i.imgur.com/pic1.jpg",
        "https://cdn.example.net/photo2.png",
        "https://legacy.example.org/anim3.gif",
        "https://imgur.com/AbCd123.jpg",
    ]
    assert len(content["file_names"]) == 4
    assert all(r["board"] == "Gossiping" and r["page_no"] == 7 for r in rows)


def test_one_parse_per_page(monkeypatch):
    """Each page is parsed once, article pages included: the text
    check reads the content parse's DOM."""
    pdf = pages_pandas(boards=("Beauty",), pages_per_board=2,
                       slots_per_page=4)
    pages = [_page(u, "index" if "/index" in u else "article", h, text=t)
             for u, h, t in zip(pdf["url"], pdf["html"], pdf["text"])]
    calls = []
    real = ptt.parse_html

    def counting(html):
        calls.append(1)
        return real(html)

    monkeypatch.setattr(ptt, "parse_html", counting)
    rows = _run(pages, push_threshold=0).to_pylist()
    assert len(calls) == len(pages)
    content = [r for r in rows if r["row_kind"] == "content"]
    assert content and all(r["text_match"] for r in content)


def test_article_page_is_content_parse_plus_text():
    """parse_article_page is parse_article_content and extract_text of
    one document, on the golden fixture and on generated pages."""
    pdf = pages_pandas(boards=("Beauty",), pages_per_board=2,
                       slots_per_page=8)
    docs = [ARTICLE, ARTICLE.decode()] + [
        h for u, h in zip(pdf["url"], pdf["html"]) if "/M." in u]
    for html in docs:
        assert parse_article_page(html) == (
            *parse_article_content(html), extract_text(html))


def test_pages_without_text_golden_have_null_text(spark):
    """A pages table generated without the text golden carries NULL
    text, which turns the crawl's text check off instead of failing it."""
    rows = pages_df(spark, boards=("Beauty",), pages_per_board=1,
                    slots_per_page=4, with_text=False).collect()
    assert rows and all(r["html"] and r["text"] is None for r in rows)
