"""X90: RFC 9309 full wildcard robots matching.

The reference crawler has no robots handling at all (its politeness is
delay-only, crawler/crawler.go:59-65); robots support is engine-native
per the north rule. One matcher applies the full §2.2.3 semantics to
every rule: `*` spans any octets, a TRAILING `$` anchors the end,
longest-pattern-octets precedence, Allow wins ties. A rule without
`*` or `$` is a plain prefix.
"""

from __future__ import annotations

import re

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from ptt_spider_go_spark.operators.politeness import (
    apply_robots,
    robots_allowed,
    robots_host_rules,
    robots_pattern_rx,
)
from ptt_spider_go_spark.sources.robots import (
    RULES_SCHEMA,
    robots_pattern_regex,
    robots_rules_from_pages,
)


def ref_match(pattern: str, path: str) -> bool:
    """Independent reference matcher: recursive descent over the raw
    pattern, no regex machinery — the spec's semantics stated directly.
    """
    anchored = pattern.endswith("$")
    core = pattern[:-1] if anchored else pattern

    def walk(pi: int, si: int) -> bool:
        if pi == len(core):
            return si == len(path) if anchored else True
        if core[pi] == "*":
            return any(walk(pi + 1, k) for k in range(si, len(path) + 1))
        return (
            si < len(path)
            and path[si] == core[pi]
            and walk(pi + 1, si + 1)
        )

    return walk(0, 0)


PATTERNS = [
    "/",
    "/a",
    "/a$",
    "/a*b",
    "/*.php$",
    "/private/*",
    "/private/*.html$",
    "/q(1)/",
    "/t$mid/",
    "/x**y$",
    "/dots...$",
    "/[brackets]{x}|pipe\\back",
    "$",
    "/*?sessionid=",
]

PATHS = [
    "/",
    "/a",
    "/ab",
    "/axb",
    "/aXXXb",
    "/file.php",
    "/file.php.bak",
    "/private/doc.html",
    "/private/doc.txt",
    "/q(1)/x",
    "/t$mid/x",
    "/xy",
    "/xZZy",
    "/dots...",
    "/[brackets]{x}|pipe\\back",
    "/p?sessionid=3",
]


def test_python_regex_translation_matches_reference_matcher():
    for pat in PATTERNS:
        rx = re.compile(robots_pattern_regex(pat))
        for path in PATHS:
            assert bool(rx.match(path)) == ref_match(pat, path), (pat, path)


@settings(max_examples=200, deadline=None)
@given(
    st.text(alphabet="ab*$/.()", min_size=0, max_size=8),
    st.text(alphabet="ab$/.()", min_size=0, max_size=10),
)
def test_translation_fuzz_vs_reference(pat, path):
    rx = re.compile(robots_pattern_regex(pat))
    assert bool(rx.match(path)) == ref_match(pat, path)


def test_jvm_translation_parity(spark):
    """The operator's JVM regexp_replace chain must emit byte-identical
    regexes to the pure-Python twin for every pattern."""
    df = spark.createDataFrame([(p,) for p in PATTERNS], "pattern string")
    got = {
        r["pattern"]: r["rx"]
        for r in df.select(
            "pattern", robots_pattern_rx(F.col("pattern")).alias("rx")
        ).collect()
    }
    for p in PATTERNS:
        assert got[p] == robots_pattern_regex(p), p


@pytest.fixture(scope="module")
def rules(spark):
    return spark.createDataFrame(
        [
            ("h.test", "/private/*", False),
            ("h.test", "/private/*.html$", True),
            ("h.test", "/files/*.php$", False),
            ("h.test", "/a$", False),
            ("h.test", "/t/x*", True),
            ("h.test", "/t/x*", False),
            ("h.test", "/q(1)/", False),
            ("h.test", "/*?sessionid=", False),
            ("h.test", "/n", None),
        ],
        RULES_SCHEMA,
    )


def _verdicts(spark, rules, paths):
    f = spark.createDataFrame(
        [("http://h.test" + p,) for p in paths], "url string"
    )
    rows = robots_allowed(f, robots_host_rules(rules)).collect()
    return {r["url"].removeprefix("http://h.test"): (r["allowed"], r["rule"])
            for r in rows}


def test_verdict_matrix(spark, rules):
    v = _verdicts(
        spark,
        rules,
        [
            "/private/p.html",  # longer Allow rescues
            "/private/p.txt",  # wildcard block
            "/files/p.php",  # $-anchored block
            "/files/p.php.bak",  # anchor does NOT match longer path
            "/a",  # exact-path $ block
            "/ab",  # one char longer -> no rule
            "/t/x9",  # equal-length Allow/Disallow tie -> Allow
            "/q(1)/p",  # literal metachars in pattern
            "/p?sessionid=3",  # match runs over path + query
            "/a?",  # an empty query keeps its '?', so '/a$' misses
            "/p",  # no rule matches
            "/n1",  # the matching rule has a NULL verdict
        ],
    )
    assert v["/private/p.html"] == (True, "/private/*.html$")
    assert v["/private/p.txt"] == (False, "/private/*")
    assert v["/files/p.php"] == (False, "/files/*.php$")
    assert v["/files/p.php.bak"] == (True, None)
    assert v["/a"] == (False, "/a$")
    assert v["/ab"] == (True, None)
    assert v["/t/x9"] == (True, "/t/x*")
    assert v["/q(1)/p"] == (False, "/q(1)/")
    assert v["/p?sessionid=3"] == (False, "/*?sessionid=")
    assert v["/a?"] == (True, None)
    assert v["/p"] == (True, None)
    assert v["/n1"] == (None, "/n")


def test_unknown_host_allowed(spark, rules):
    f = spark.createDataFrame(
        [("http://other.test/private/p.txt",)], "url string"
    )
    out = apply_robots(f, rules).collect()
    assert [r["url"] for r in out] == ["http://other.test/private/p.txt"]


def test_precedence_counts_octets_not_characters(spark):
    """RFC 9309 §2.2.2 ranks matching rules by OCTETS of the pattern,
    not characters: Disallow '/café' is 6 UTF-8 octets and must beat
    Allow '/caf*' (5 octets) even though both are 5 CHARACTERS — a
    character-length comparison would call it a tie and let Allow win.
    (The prefix matcher cannot diverge this way: startswith-matching
    prefixes of one path are nested, so octet order == char order —
    only wildcard patterns need the distinction.)"""
    r = spark.createDataFrame(
        [("h.test", "/caf*", True), ("h.test", "/café", False)],
        RULES_SCHEMA,
    )
    v = _verdicts(spark, r, ["/café-menu"])
    assert v["/café-menu"] == (False, "/café")


def test_none_rules_passthrough(spark):
    f = spark.createDataFrame([("http://h.test/a",)], "url string")
    assert apply_robots(f, None) is f


def test_filter_drops_extra_columns_only(spark, rules):
    f = spark.createDataFrame(
        [("http://h.test/private/p.txt", 7), ("http://h.test/ok", 8)],
        "url string, k int",
    )
    f = f.union(spark.createDataFrame([("http://h.test/n1", 9)], f.schema))
    out = apply_robots(f, rules)
    assert out.columns == ["url", "k"]
    assert [(r["url"], r["k"]) for r in out.collect()] == [
        ("http://h.test/ok", 8)
    ]


def test_rules_parse_through_arrow_kernel(spark):
    body = "User-agent: *\nDisallow: /w/*\nAllow: /w/*.ok$\n"
    pages = spark.createDataFrame(
        [("http://k.test/robots.txt", body), ("http://k.test/page", "x")],
        "url string, text string",
    )
    got = {
        (r["host"], r["path_prefix"], r["allowed"])
        for r in robots_rules_from_pages(pages).collect()
    }
    assert got == {
        ("k.test", "/w/*", False),
        ("k.test", "/w/*.ok$", True),
    }


def test_prefix_rules_longest_match_verdicts(spark):
    """On rules without `*` or `$` the matcher is longest-prefix
    matching: the matching prefix with the most octets decides, Allow
    wins ties, no matching prefix means allowed, and a query string
    never changes a prefix rule's verdict."""
    prefix_rules = spark.createDataFrame(
        [
            ("p.test", "/bbs/", True),
            ("p.test", "/bbs/private", False),
            ("p.test", "/adm", False),
            ("p.test", "/adm/pub", True),
        ],
        RULES_SCHEMA,
    )
    expected = {
        "/bbs/ok.html": (True, "/bbs/"),
        "/bbs/private/x": (False, "/bbs/private"),
        "/bbs/privateX": (False, "/bbs/private"),
        "/adm/secret": (False, "/adm"),
        "/adm/pub/open": (True, "/adm/pub"),
        "/adm/pub?next=/adm": (True, "/adm/pub"),
        "/other": (True, None),
        "/": (True, None),
    }
    f = spark.createDataFrame(
        [("http://p.test" + p,) for p in expected], "url string"
    )
    got = {
        r["url"].removeprefix("http://p.test"): (r["allowed"], r["rule"])
        for r in robots_allowed(f, robots_host_rules(prefix_rules)).collect()
    }
    assert got == expected


def test_run_crawl_applies_wildcard_rules(spark):
    """A default run_crawl reads `path_prefix` as an RFC 9309 pattern: a
    `$`-anchored rule and a `*` rule each keep their article out of the
    crawl, while a prefix-only rule table still yields articles."""
    from ptt_spider_go_spark.config import CrawlConfig
    from ptt_spider_go_spark.datagen import pages_pandas
    from ptt_spider_go_spark.plans.crawl import run_crawl

    dataset = pages_pandas(boards=("Beauty",), pages_per_board=2,
                           slots_per_page=4)
    pages = spark.createDataFrame(dataset)
    cfg = CrawlConfig(board="Beauty", pages=2, push_rate=0,
                      host_salt=2, max_supersteps=4)
    prefix_rules = spark.createDataFrame(
        [("www.ptt.cc", "/bbs/Beauty/M.", True),
         ("www.ptt.cc", "/bbs/X", False)],
        RULES_SCHEMA,
    )
    base = {r["url"] for r in
            run_crawl(spark, pages, cfg, robots=prefix_rules)
            .articles.collect()}
    assert len(base) > 2
    anchored, starred = sorted(base)[:2]
    host = "https://www.ptt.cc"
    # '$' anchors the first article's exact path; '*' spans the middle
    # of the second's file name
    stem, ext = starred[len(host):].rsplit(".", 1)
    rules = spark.createDataFrame(
        [("www.ptt.cc", anchored[len(host):] + "$", False),
         ("www.ptt.cc", stem[:12] + "*" + stem[-3:] + "." + ext, False)],
        RULES_SCHEMA,
    )
    res = run_crawl(spark, pages, cfg, robots=rules)
    fetched = {r["url"] for r in res.fetch_log.collect()}
    assert anchored not in fetched and starred not in fetched
    assert {r["url"] for r in res.articles.collect()} == base


def test_robots_failure_policy_rfc9309(spark):
    """X110: every §2.3.1 rung — 2xx parse, 3xx follow, 4xx allow-all,
    5xx disallow-all with the ≤30-day cached-copy escape, and a
    NULL-status network error failing closed."""
    from ptt_spider_go_spark.sources.robots import robots_failure_policy

    rows = [("a", 200, None), ("b", 302, None), ("c", 404, None),
            ("d", 500, None), ("e", 503, 10), ("f", 503, 45),
            ("g", None, 10)]
    df = spark.createDataFrame(
        rows, "host string, status int, cache_age_days long")
    got = {r["host"]: r["policy"] for r in
           robots_failure_policy(df, cache_age_col="cache_age_days")
           .collect()}
    assert got == {"a": "parse", "b": "follow_redirect",
                   "c": "allow_all", "d": "disallow_all",
                   "e": "use_cache", "f": "disallow_all",
                   "g": "disallow_all"}
    # without a cache column the 5xx escape never fires
    plain = {r["host"]: r["policy"] for r in
             robots_failure_policy(df.drop("cache_age_days")).collect()}
    assert plain["e"] == "disallow_all"
