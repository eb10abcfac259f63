"""PTT page parsers — pure-Python, semantics pinned to the reference.

Each function replicates one goquery parser from the reference, byte-for-byte
on extracted strings (validated by golden tests ported from the reference's
fixture expectations):

- ``parse_articles``        <- /root/reference/ptt/parser_impl.go:24-71
- ``parse_article_content`` <- /root/reference/ptt/parser_impl.go:74-113
- ``parse_article_page``    <- the same, plus ``doc.Text()`` of the same DOM
- ``parse_max_page``        <- /root/reference/ptt/parser_impl.go:116-139
- ``decode_push_rate``      <- /root/reference/ptt/parser_impl.go:46-60
- ``extract_text``          <- goquery ``doc.Text()`` (net/html text nodes)

These are plain functions over one HTML document; the Spark layer calls them
from Arrow-batched passes (ptt_spider_go_spark.functions.udfs), so there is no
per-row Python at the Spark API level.
"""

from __future__ import annotations

from .dom import Node, parse_html

PTT_BASE_URL = "https://www.ptt.cc"  # constants/constants.go:7

_IMG_SUFFIXES = (".jpg", ".jpeg", ".png", ".gif")

#: Go unicode.IsSpace set (what strings.TrimSpace trims): Latin-1
#: whitespace plus the Unicode White_Space property — notably U+3000
#: (ideographic space, ubiquitous padding in Chinese text) and U+00A0.
#: Python's bare str.strip() additionally strips U+001C-001F, which Go
#: does NOT, so every TrimSpace twin strips exactly this set (ADVICE
#: r2: the Catalyst ws_trim and this kernel must agree with Go on
#: non-ASCII whitespace).
GO_WHITESPACE = (
    "\t\n\x0b\x0c\r \x85\xa0\u1680"
    + "".join(chr(c) for c in range(0x2000, 0x200B))
    + "\u2028\u2029\u202f\u205f\u3000"
)


def trim_space(s: str) -> str:
    """strings.TrimSpace twin (exact Go whitespace set)."""
    return s.strip(GO_WHITESPACE)


def decode_push_rate(s: str) -> int:
    """Push-marker decode (parser_impl.go:46-60).

    trimmed text: "爆" -> 100; "X<k>" -> -k if k parses as int else 0;
    otherwise Atoi(s) with failure -> 0 (empty string -> 0).
    Go's Atoi accepts an optional sign and digits only — no whitespace,
    no floats — so the Python equivalent is an explicit digit check.
    """
    s = trim_space(s)
    if s == "爆":
        return 100
    if s.startswith("X"):
        rest = s[1:]
        return -int(rest) if _go_atoi_ok(rest) else 0
    return int(s) if _go_atoi_ok(s) else 0


def _go_atoi_ok(s: str) -> bool:
    if not s:
        return False
    body = s[1:] if s[0] in "+-" else s
    return body.isascii() and body.isdigit() and bool(body)


def parse_articles(html: str | bytes) -> list[dict]:
    """Board index page -> article rows, document order.

    For each ``.r-ent``: skip if no ``.title a`` (deleted article,
    parser_impl.go:33-35); skip if title contains 公告 (:41-43); emit
    (title, url=BASE+href, author, push_rate) exactly as :62-67.
    Adds ``pos`` (0-based document order among *emitted* rows) so the
    distributed plan can reproduce channel ordering (SURVEY O2).
    """
    doc = parse_html(html)
    rows: list[dict] = []
    for rent in doc.find(".r-ent"):
        title_nodes, author_nodes, push_nodes = _rent_fields(rent)
        if not title_nodes:
            continue
        href = title_nodes[0].attrs.get("href", "")
        title = trim_space("".join(n.text() for n in title_nodes))
        if "公告" in title:
            continue
        author = trim_space("".join(n.text() for n in author_nodes))
        push_str = trim_space("".join(n.text() for n in push_nodes))
        rows.append(
            {
                "title": title,
                "url": PTT_BASE_URL + href,
                "author": author,
                "push_rate": decode_push_rate(push_str),
                "pos": len(rows),
            }
        )
    return rows


def _rent_fields(rent: Node):
    """One-walk twin of the three per-row selector calls
    (rent.find('.title a') / ('.meta .author') / ('.nrec span')):
    a single DFS over the .r-ent subtree carrying ancestor-context
    flags — identical match sets and document order (descendant
    semantics via the parent's context; nested scopes resolve to plain
    document order exactly as Node.find's scope-then-dedup does), at a
    third of the walks. This is the crawl kernel's per-row hot loop
    (60 rows per index page at the bench shape)."""
    title_as: list[Node] = []
    authors: list[Node] = []
    pushes: list[Node] = []
    stack = [(c, 0) for c in reversed(rent.children) if c.__class__ is Node]
    while stack:
        el, ctx = stack.pop()
        cl = el.classes
        if ctx:
            if ctx & 1 and el.tag == "a":
                title_as.append(el)
            if ctx & 2 and "author" in cl:
                authors.append(el)
            if ctx & 4 and el.tag == "span":
                pushes.append(el)
        nctx = ctx
        if cl:
            if "title" in cl:
                nctx |= 1
            if "meta" in cl:
                nctx |= 2
            if "nrec" in cl:
                nctx |= 4
        stack.extend([(c, nctx) for c in reversed(el.children)
                      if c.__class__ is Node])
    return title_as, authors, pushes


def normalize_img_href(href: str) -> str | None:
    """Image-link filter + normalization (parser_impl.go:98-109).

    Returns the normalized image URL, or None if the href is not an image
    link. Note the exact reference ordering: scheme normalization applies
    only in the suffix branch; the imgur branch takes the href verbatim
    and appends ``.jpg``.
    """
    if href.endswith(_IMG_SUFFIXES):
        if href.startswith("//"):
            return "https:" + href
        if href.startswith("http://"):
            return "https://" + href[7:]
        return href
    if "imgur.com/" in href and "imgur.com/a/" not in href:
        return href + ".jpg"
    return None


def parse_article_content(html: str | bytes) -> tuple[str, list[str]]:
    """Article page -> (title, image URLs in document order).

    Title: trimmed text of the element after the first ``.article-meta-tag``
    whose trimmed text == 標題 (EachWithBreak, parser_impl.go:82-88).
    Images: every ``a[href]`` anywhere, filtered/normalized per
    ``normalize_img_href`` (:92-110). Duplicates are NOT removed here —
    the crawler dedups later (crawler.go:460).
    """
    return _article_content(parse_html(html))


def parse_article_page(html: str | bytes) -> tuple[str, list[str], str]:
    """Article page -> (title, image URLs, page text) from ONE parse: the
    ``parse_article_content`` pair plus ``extract_text``'s text, read off
    the same DOM (the crawl kernel's one parse per article page)."""
    doc = parse_html(html)
    return (*_article_content(doc), doc.text())


def _article_content(doc: Node) -> tuple[str, list[str]]:
    title = ""
    for tag_el in doc.find(".article-meta-tag"):
        if trim_space(tag_el.text()) == "標題":
            nxt = tag_el.next_element()
            title = trim_space(nxt.text()) if nxt is not None else ""
            break
    imgs: list[str] = []
    for a in doc.find("a"):
        if "href" not in a.attrs:
            continue
        norm = normalize_img_href(a.attrs["href"])
        if norm is not None:
            imgs.append(norm)
    return title, imgs


def parse_max_page(html: str | bytes) -> int | None:
    """Board landing page -> newest index number (parser_impl.go:116-139).

    Finds the ``.btn-group-paging a`` whose text contains ``‹ 上頁``,
    strips ``.html``, splits on ``index``, Atoi, **+1**. None on any
    failure (button missing / number malformed) — callers quarantine.
    """
    doc = parse_html(html)
    href = None
    for a in doc.find(".btn-group-paging a"):
        if "‹ 上頁" in a.text():
            href = a.attrs.get("href")
            break
    if href is None:
        return None
    body = href[:-5] if href.endswith(".html") else href
    parts = body.split("index")
    if len(parts) < 2:
        return None
    if not _go_atoi_ok(parts[1]):
        return None
    return int(parts[1]) + 1


def extract_text(html: str | bytes) -> str:
    """goquery ``doc.Text()``: concatenation of every text node, document
    order, entities decoded. The datagen writes the ``pages.text``
    column with this function; the crawl kernel reads the same text off
    the DOM its content parse built (``parse_article_page``) and compares
    bytes — the byte-identical invariant (BASELINE.json input_hint).
    """
    return parse_html(html).text()
