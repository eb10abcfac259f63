"""Operator-level tests: politeness budget, robots, retry ledger, Bloom
seen-set, dir-collision window."""

import math

import pytest
from pyspark.sql import functions as F

from ptt_spider_go_spark.operators.collision import with_unique_dir
from ptt_spider_go_spark.operators.dedup import (
    BloomShardSet,
    CuckooShardSet,
    dedup_against_seen,
)
from ptt_spider_go_spark.operators.politeness import apply_robots, budget_gate
from ptt_spider_go_spark.operators.retrysim import apply_fetch_status

FRONTIER_SCHEMA = (
    "url string, kind string, kind_rank int, board string, page_no int, "
    "pos int, depth int, warc_ts timestamp, title string, author string, "
    "push_rate int, attempt int, backoff_ms long"
)


def _frontier(spark, urls, kind="article", page_no=1):
    rows = [
        (u, kind, 0 if kind == "index" else 1, "B", page_no, i, 2, None,
         "t", "a", 0, 1, 0)
        for i, u in enumerate(urls)
    ]
    return spark.createDataFrame(rows, FRONTIER_SCHEMA)


# --- T1/T6 budget gate -------------------------------------------------------

def test_budget_gate_exact_host_total(spark):
    urls = [f"https://www.ptt.cc/bbs/B/M.{i}.A.html" for i in range(100)]
    f = _frontier(spark, urls)
    admitted, deferred = budget_gate(f, host_budget=37, salt=8)
    na, nd = admitted.count(), deferred.count()
    assert na <= 37          # lane split never exceeds the host budget
    assert na + nd == 100
    # with 8 lanes over 100 urls every lane has >= floor(37/8) rows ->
    # admission is budget-exact
    assert na == 37


def test_budget_gate_multiple_hosts_independent(spark):
    urls = [f"https://h{i % 3}.test/p{i}" for i in range(60)]
    f = _frontier(spark, urls)
    admitted, _ = budget_gate(f, host_budget=5, salt=2)
    per_host = {
        r["h"]: r["n"]
        for r in admitted.groupBy(
            F.parse_url(F.col("url"), F.lit("HOST")).alias("h")
        ).agg(F.count("*").alias("n")).collect()
    }
    assert all(n == 5 for n in per_host.values())


def test_budget_gate_per_host_overrides(spark):
    """Per-host budget overrides (robots Crawl-delay hook): overridden
    hosts admit exactly their budget across salted lanes; others use
    the global budget."""
    # 100 urls/host so every salted lane holds >= its cap (lane splits
    # admit exactly the budget only when lanes aren't starved — same
    # precondition test_budget_gate_exact_host_total documents)
    urls = [f"https://h{i % 3}.test/p{i:03d}" for i in range(300)]
    f = _frontier(spark, urls)
    overrides = spark.createDataFrame(
        [("h0.test", 4), ("h1.test", 25)], "host string, budget long"
    )
    admitted, deferred = budget_gate(f, host_budget=10, salt=4,
                                     host_budgets=overrides)
    per_host = {
        r["h"]: r["n"]
        for r in admitted.groupBy(
            F.parse_url(F.col("url"), F.lit("HOST")).alias("h")
        ).agg(F.count("*").alias("n")).collect()
    }
    assert per_host == {"h0.test": 4, "h1.test": 25, "h2.test": 10}
    assert admitted.count() + deferred.count() == 300


def test_budgets_from_crawl_delays(spark):
    from ptt_spider_go_spark.operators.politeness import (
        budgets_from_crawl_delays,
    )

    delays = spark.createDataFrame(
        [("a.test", 2.0), ("b.test", 0.5), ("c.test", 1e9)],
        "host string, crawl_delay_s double",
    )
    got = {r["host"]: r["budget"]
           for r in budgets_from_crawl_delays(
               delays, workers=10, superstep_ms=60_000).collect()}
    # budget = workers * superstep_ms / (delay_s * 1000), floor 1
    assert got == {"a.test": 300, "b.test": 1200, "c.test": 1}


def test_crawl_delay_parsed_from_robots(spark):
    from ptt_spider_go_spark.sources.robots import (
        crawl_delays_from_pages,
        parse_crawl_delay,
    )

    body = "User-agent: gb\nCrawl-delay: 9\n\nUser-agent: *\nCrawl-delay: 2.5\n"
    assert parse_crawl_delay(body, "*") == 2.5
    assert parse_crawl_delay(body, "gb") == 9.0
    assert parse_crawl_delay("User-agent: *\nDisallow: /x\n", "*") is None

    pages = spark.createDataFrame(
        [("https://a.test/robots.txt", body),
         ("https://b.test/robots.txt", "User-agent: *\nDisallow: /\n")],
        "url string, text string",
    )
    got = {r["host"]: r["crawl_delay_s"]
           for r in crawl_delays_from_pages(pages).collect()}
    assert got == {"a.test": 2.5}


def test_budget_gate_priority_respected_within_lane(spark):
    # index pages (kind_rank 0) admitted before articles within a lane
    idx = _frontier(spark, [f"https://www.ptt.cc/bbs/B/index{i}.html" for i in range(10)], "index")
    art = _frontier(spark, [f"https://www.ptt.cc/bbs/B/M.{i}.A.html" for i in range(10)])
    f = idx.unionByName(art)
    admitted, _ = budget_gate(f, host_budget=10, salt=1)
    kinds = {r["kind"] for r in admitted.collect()}
    assert kinds == {"index"}


# --- robots -------------------------------------------------------------------

def test_apply_robots_prefix_block(spark):
    f = _frontier(
        spark,
        ["https://www.ptt.cc/bbs/Secret/M.1.A.html",
         "https://www.ptt.cc/bbs/Open/M.1.A.html"],
    )
    robots = spark.createDataFrame(
        [("www.ptt.cc", "/bbs/Secret", False), ("www.ptt.cc", "/", True)],
        "host string, path_prefix string, allowed boolean",
    )
    out = [r["url"] for r in apply_robots(f, robots).collect()]
    assert out == ["https://www.ptt.cc/bbs/Open/M.1.A.html"]


ROBOTS_BODY = """\
# comment line
User-agent: googlebot
Disallow: /gb-only/

User-agent: *
User-agent: legacybot
Disallow: /private/   # trailing comment
Allow: /private/ok/
Crawl-delay: 5
Sitemap: https://x.test/sitemap.xml

User-agent: *
Disallow: /tmp/
Disallow:
"""


def test_parse_robots_txt_star_groups_merge():
    """RFC 9309 §2.2.1: multiple groups for the same agent merge; empty
    Disallow contributes no rule; comments/unknown directives ignored."""
    from ptt_spider_go_spark.sources.robots import parse_robots_txt

    rules = parse_robots_txt(ROBOTS_BODY, agent="*")
    assert rules == [("/private/", False), ("/private/ok/", True),
                     ("/tmp/", False)]


def test_parse_robots_txt_exact_agent_wins_over_star():
    from ptt_spider_go_spark.sources.robots import parse_robots_txt

    assert parse_robots_txt(ROBOTS_BODY, agent="googlebot") == [
        ("/gb-only/", False)
    ]
    # agent listed alongside * in a shared agent run gets those rules
    assert parse_robots_txt(ROBOTS_BODY, agent="LegacyBot") == [
        ("/private/", False), ("/private/ok/", True)
    ]


def test_parse_robots_txt_no_groups():
    from ptt_spider_go_spark.sources.robots import parse_robots_txt

    assert parse_robots_txt("", agent="*") == []
    assert parse_robots_txt("Disallow: /orphan/\n", agent="*") == []


def test_robots_rules_from_pages_feed_apply_robots(spark):
    """robots.txt pages -> parsed rule table -> apply_robots end-to-end:
    the blocked prefix is filtered, the Allow carve-out survives."""
    from ptt_spider_go_spark.sources.robots import robots_rules_from_pages

    pages = spark.createDataFrame(
        [
            ("https://a.test/robots.txt",
             "User-agent: *\nDisallow: /private/\nAllow: /private/ok/\n"),
            ("https://a.test/private/x", ""),  # non-robots page ignored
        ],
        "url string, text string",
    )
    rules = robots_rules_from_pages(pages)
    f = _frontier(spark, [
        "https://a.test/private/x",
        "https://a.test/private/ok/y",
        "https://a.test/public/z",
        "https://b.test/anything",       # no rules -> allowed
    ])
    got = {r["url"] for r in apply_robots(f, rules).collect()}
    assert got == {
        "https://a.test/private/ok/y",
        "https://a.test/public/z",
        "https://b.test/anything",
    }


def test_apply_robots_unknown_host_allowed(spark):
    f = _frontier(spark, ["https://other.test/x"])
    robots = spark.createDataFrame(
        [("www.ptt.cc", "/", True)], "host string, path_prefix string, allowed boolean"
    )
    assert apply_robots(f, robots).count() == 1


# --- T2 retry ledger ----------------------------------------------------------

def test_retry_ledger_flow(spark):
    f = _frontier(spark, ["https://x/ok", "https://x/once", "https://x/always", "https://x/gone"])
    events = spark.createDataFrame(
        [
            ("https://x/once", 1, 429, None),
            ("https://x/once", 2, 200, None),
            ("https://x/always", 1, 429, None),
            ("https://x/always", 2, 429, None),
            ("https://x/always", 3, 429, None),
            ("https://x/gone", 1, 404, None),
        ],
        "url string, attempt int, status int, retry_after_s int",
    )
    ok, retry, failed = apply_fetch_status(f, events)
    assert {r["url"] for r in ok.collect()} == {"https://x/ok"}
    r = retry.collect()
    assert {x["url"] for x in r} == {"https://x/once", "https://x/always"}
    assert all(x["attempt"] == 2 for x in r)
    assert all(x["backoff_ms"] == 1000 for x in r)  # 1000 * 2^0
    assert {x["url"] for x in failed.collect()} == {"https://x/gone"}

    # second round: re-enqueue the retry rows
    ok2, retry2, failed2 = apply_fetch_status(retry, events)
    assert {r["url"] for r in ok2.collect()} == {"https://x/once"}
    r2 = retry2.collect()
    assert {x["url"] for x in r2} == {"https://x/always"}
    assert all(x["backoff_ms"] == 1000 + 2000 for x in r2)

    # third round: attempts exhausted (RetryMaxAttempts = 3)
    ok3, retry3, failed3 = apply_fetch_status(retry2, events)
    assert ok3.count() == 0 and retry3.count() == 0
    assert {x["url"] for x in failed3.collect()} == {"https://x/always"}


def test_retry_after_header_honored(spark):
    f = _frontier(spark, ["https://x/ra"])
    events = spark.createDataFrame(
        [("https://x/ra", 1, 429, 7)],
        "url string, attempt int, status int, retry_after_s int",
    )
    _, retry, _ = apply_fetch_status(f, events)
    assert retry.first()["backoff_ms"] == 7000


def test_retry_after_raw_header_branches(spark):
    """Full Retry-After decode in the ledger (crawler/retry.go:57-93,
    retry_test.go:58-329): seconds / capped seconds / future HTTP-date /
    capped HTTP-date / expired HTTP-date floor / junk -> exponential.
    The sim clock is retrysim.RETRY_SIM_NOW = 2026-01-01 00:00:00."""
    cases = {
        "https://x/sec": ("7", 7000),
        "https://x/sec-cap": ("90", 30000),
        "https://x/sec-zero": ("0", 1000),          # expo 1000*2^0
        "https://x/date": ("Thu, 01 Jan 2026 00:00:10 GMT", 10000),
        "https://x/date-cap": ("Thu, 01 Jan 2026 00:02:00 GMT", 30000),
        "https://x/date-expired": ("Wed, 31 Dec 2025 23:59:00 GMT", 1000),
        "https://x/junk": ("soon", 1000),           # expo 1000*2^0
        "https://x/absent": (None, 1000),           # expo 1000*2^0
    }
    f = _frontier(spark, list(cases))
    events = spark.createDataFrame(
        [(u, 1, 429, ra) for u, (ra, _) in cases.items()],
        "url string, attempt int, status int, retry_after string",
    )
    _, retry, _ = apply_fetch_status(f, events)
    got = {r["url"]: r["backoff_ms"] for r in retry.collect()}
    assert got == {u: ms for u, (_, ms) in cases.items()}


# --- D4 bloom seen-set --------------------------------------------------------

def test_bloom_dedup_exactness(spark):
    seen_urls = [f"https://s.test/{i}" for i in range(500)]
    cand_urls = [f"https://s.test/{i}" for i in range(400, 900)]
    seen = spark.createDataFrame([(u,) for u in seen_urls], "url string")
    cand = spark.createDataFrame([(u,) for u in cand_urls], "url string")
    blooms = BloomShardSet(n_shards=4, expected_per_shard=256)
    blooms.add_df(seen)
    out = {r["url"] for r in dedup_against_seen(cand, seen, blooms).collect()}
    # exactness invariant: exactly the 500..899 range survives — bloom
    # false positives must have been rescued by the verify join
    assert out == {f"https://s.test/{i}" for i in range(500, 900)}


def test_bloom_probe_no_false_negatives(spark):
    urls = [f"https://n.test/{i}" for i in range(2000)]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    blooms = BloomShardSet(n_shards=4, expected_per_shard=1024)
    blooms.add_df(df)
    probed = blooms.with_maybe_seen(df)
    # a Bloom filter never has false negatives
    assert probed.filter(~F.col("maybe_seen")).count() == 0


# --- D3 dir collision window --------------------------------------------------

def test_dir_collision_window(spark):
    rows = [
        # (url, board, page_no, pos, final_title, push_rate)
        ("u1", "B", 9, 0, "同標題", 5),
        ("u2", "B", 9, 1, "同標題", 5),   # same key, later pos -> _2
        ("u3", "B", 8, 0, "同標題", 5),   # older page -> _3
        ("u4", "B", 9, 0, "同標題", 7),   # different push -> no suffix
    ]
    df = spark.createDataFrame(
        rows, "url string, board string, page_no int, pos int, "
              "final_title string, push_rate int"
    )
    got = {r["url"]: r["dir_name"] for r in with_unique_dir(df).collect()}
    assert got == {
        "u1": "同標題_5",
        "u2": "同標題_5_2",
        "u3": "同標題_5_3",
        "u4": "同標題_7",
    }


# --- D4 cuckoo verification pass ---------------------------------------------

def test_cuckoo_no_false_negatives(spark):
    urls = [f"https://c.test/{i}" for i in range(3000)]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    ck = CuckooShardSet(n_shards=4, buckets_per_shard=1 << 11)
    ck.add_df(df)
    probed = ck.with_maybe_seen(df)
    assert probed.filter(~F.col("maybe_seen")).count() == 0
    assert not ck.overflowed.any()


def test_cuckoo_sharper_than_bloom(spark):
    """The verification pass earns its keep: on disjoint probes the
    cuckoo layer passes through far fewer false positives than the
    Bloom layer sized for the same population."""
    seen_urls = [f"https://s.test/{i}" for i in range(5000)]
    new_urls = [f"https://n.test/{i}" for i in range(5000)]
    seen = spark.createDataFrame([(u,) for u in seen_urls], "url string")
    new = spark.createDataFrame([(u,) for u in new_urls], "url string")
    bl = BloomShardSet(n_shards=4, expected_per_shard=2048, fpp=0.02)
    ck = CuckooShardSet(n_shards=4, buckets_per_shard=1 << 11)
    bl.add_df(seen)
    ck.add_df(seen)
    bloom_fp = bl.with_maybe_seen(new).filter(F.col("maybe_seen")).count()
    cuckoo_fp = ck.with_maybe_seen(new).filter(F.col("maybe_seen")).count()
    assert cuckoo_fp * 5 < max(bloom_fp, 1) or cuckoo_fp == 0
    # 16-bit fingerprints, 4 slots -> fpp ~0.012%; 5000 probes ~ 0-3 FPs
    assert cuckoo_fp <= 10


def test_cuckoo_overflow_degrades_not_corrupts(spark):
    """An overfilled shard flags overflow and probes True (degrades to
    the exact join) instead of dropping fingerprints (false negative)."""
    urls = [f"https://o.test/{i}" for i in range(4000)]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    ck = CuckooShardSet(n_shards=1, buckets_per_shard=1 << 8, slots=4)
    ck.add_df(df)  # 4000 fps into 1024 slots -> must overflow
    assert ck.overflowed.any()
    probed = ck.with_maybe_seen(df)
    assert probed.filter(~F.col("maybe_seen")).count() == 0


def test_cuckoo_build_is_executor_side(spark, monkeypatch):
    """The displacement inserts run inside the per-shard applyInPandas
    groups, never on the driver (r2 VERDICT #1). Proof: wrap the build
    kernel with a guard that raises in the driver *process* — cloudpickle
    ships the wrapped global to the Python workers, where os.getpid()
    differs, so only a driver-side insert would trip it."""
    import os

    from ptt_spider_go_spark.operators import dedup as dmod

    real_build = dmod._cuckoo_build_shard
    driver_pid = os.getpid()

    def guarded(*a, **k):
        if os.getpid() == driver_pid:
            raise AssertionError("cuckoo insert ran on the driver")
        return real_build(*a, **k)

    monkeypatch.setattr(dmod, "_cuckoo_build_shard", guarded)
    urls = [f"https://exec.test/{i}" for i in range(2000)]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    ck = CuckooShardSet(n_shards=4, buckets_per_shard=1 << 10)
    ck.add_df(df)  # would raise if any insert executed driver-side
    assert ck.tables.any()
    probed = ck.with_maybe_seen(df)
    assert probed.filter(~F.col("maybe_seen")).count() == 0


def test_cuckoo_build_deterministic_vs_input_order(spark):
    """Same URL *set*, different arrival order/partitioning -> identical
    table bytes (the build lexsorts its triples; eviction RNG is seeded
    by (shard, epoch), not by row order)."""
    urls = [f"https://det.test/{i}" for i in range(3000)]
    a = spark.createDataFrame([(u,) for u in urls], "url string").repartition(8)
    b = spark.createDataFrame([(u,) for u in reversed(urls)],
                              "url string").repartition(3)
    ck1 = CuckooShardSet(n_shards=4, buckets_per_shard=1 << 11)
    ck2 = CuckooShardSet(n_shards=4, buckets_per_shard=1 << 11)
    ck1.add_df(a)
    ck2.add_df(b)
    assert ck1.tables.tobytes() == ck2.tables.tobytes()
    assert (ck1.overflowed == ck2.overflowed).all()


def test_cuckoo_for_capacity_sizing():
    """Capacity derivation (ADVICE r2): the filter engaging at
    cuckoo_min_seen must actually hold that many fingerprints."""
    ck = CuckooShardSet.for_capacity(8, 5_000_000)
    assert ck.capacity * 0.95 >= 5_000_000
    assert ck.n_buckets & (ck.n_buckets - 1) == 0
    # and it does not balloon: at most ~2x the target after pow2 rounding
    assert ck.capacity <= 2 * math.ceil(5_000_000 / 0.95)
    small = CuckooShardSet.for_capacity(8, 1)
    assert small.n_buckets == 1 << 8


def test_cuckoo_overflow_is_logged(spark, caplog):
    """Degradation must be visible (ADVICE r2): first overflow of a
    shard emits a warning naming the shard."""
    urls = [f"https://log.test/{i}" for i in range(4000)]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    ck = CuckooShardSet(n_shards=1, buckets_per_shard=1 << 8, slots=4)
    with caplog.at_level("WARNING",
                         logger="ptt_spider_go_spark.operators.dedup"):
        ck.add_df(df)
    assert any("overflowed" in r.message for r in caplog.records)


def test_cuckoo_bulk_place_empty_kernel():
    """Pure-kernel check of the vectorized empty-slot placement: fills
    per-bucket in row order, reports exactly the overflowing rows."""
    import numpy as np

    table = np.zeros((4, 2), dtype=np.uint16)
    table[1, 0] = 7  # bucket 1 has one slot taken
    fps = np.array([10, 11, 12, 13, 14], dtype=np.uint16)
    buckets = np.array([1, 1, 3, 1, 3], dtype=np.int64)
    from ptt_spider_go_spark.operators.dedup import _cuckoo_place_empty

    unplaced = _cuckoo_place_empty(table, fps, buckets)
    # bucket 1: one free slot -> fp 10 lands, 11 and 13 spill
    # bucket 3: two free slots -> 12 and 14 land
    assert list(unplaced) == [False, True, False, True, False]
    assert table[1, 1] == 10
    assert set(table[3]) == {12, 14}


def test_shard_blob_size_guard():
    """Refuse configs whose single-shard bytes approach Spark's 2 GB
    per-binary-value hard limit, naming the fix."""
    from ptt_spider_go_spark.operators.dedup import (
        MAX_SHARD_BLOB_BYTES,
        _check_shard_bytes,
    )

    with pytest.raises(ValueError, match="n_shards"):
        BloomShardSet(n_shards=1, expected_per_shard=2_000_000_000)
    with pytest.raises(ValueError, match="n_shards"):
        CuckooShardSet(n_shards=1, buckets_per_shard=1 << 29)
    # the cap is on ONE shard's bytes, whatever the shard count: a
    # 2048-shard set at the cap passes without allocating anything
    _check_shard_bytes(MAX_SHARD_BLOB_BYTES, 2048, "BloomShardSet")
    with pytest.raises(ValueError, match="2048"):
        _check_shard_bytes(MAX_SHARD_BLOB_BYTES + 1, 2048, "BloomShardSet")
    BloomShardSet(n_shards=4, expected_per_shard=2_000_000)  # ~2.4 MB/shard


def test_dedup_exactness_with_cuckoo_layer(spark):
    """Bloom -> cuckoo -> exact anti-join keeps the exactness invariant
    bit-for-bit (same contract as the bloom-only path)."""
    seen_urls = [f"https://s.test/{i}" for i in range(500)]
    cand_urls = [f"https://s.test/{i}" for i in range(400, 900)]
    seen = spark.createDataFrame([(u,) for u in seen_urls], "url string")
    cand = spark.createDataFrame([(u,) for u in cand_urls], "url string")
    blooms = BloomShardSet(n_shards=4, expected_per_shard=256)
    cuckoos = CuckooShardSet(n_shards=4, buckets_per_shard=1 << 9)
    blooms.add_df(seen)
    cuckoos.add_df(seen)
    out = {r["url"]
           for r in dedup_against_seen(cand, seen, blooms, cuckoos).collect()}
    assert out == {f"https://s.test/{i}" for i in range(500, 900)}


def test_dedup_counters_measure_join_input(spark):
    """The '~99% join-input cut' claim as a number: counters record the
    anti-join input after each probabilistic layer."""
    seen_urls = [f"https://n.test/{i}" for i in range(3000)]
    cand_urls = [f"https://n.test/{i}" for i in range(6000)]  # 3000 repeats
    seen = spark.createDataFrame([(u,) for u in seen_urls], "url string") \
        .repartition(5)
    cand = spark.createDataFrame([(u,) for u in cand_urls], "url string") \
        .repartition(5)
    bl = BloomShardSet(n_shards=4, expected_per_shard=2048)
    ck = CuckooShardSet(n_shards=4, buckets_per_shard=1 << 11)
    bl.add_df(seen)
    ck.add_df(seen)
    counters = {}
    out = dedup_against_seen(cand, seen, bl, ck, counters=counters)
    assert {r["url"] for r in out.collect()} == set(cand_urls) - set(seen_urls)
    # every true repeat must reach the join (no false negatives)...
    assert counters["anti_join_input_after_bloom"] >= 3000
    assert counters["anti_join_input_after_cuckoo"] >= 3000
    # ...and the cuckoo layer can only shrink the input
    assert (counters["anti_join_input_after_cuckoo"]
            <= counters["anti_join_input_after_bloom"])


# --- domain blocklist filter (r5) -------------------------------------------


def test_blocklist_suffix_semantics(spark):
    """Registrable-domain suffix match: exact host, subdomain, and
    deep-subdomain hits; sibling domains and bare-TLD patterns never
    match; longest pattern wins attribution."""
    from ptt_spider_go_spark.operators import blocklist

    rows = spark.createDataFrame(
        [
            ("u1", "ads.example"),          # exact pattern hit
            ("u2", "x.ads.example"),        # subdomain hit
            ("u3", "a.b.ads.example"),      # deep subdomain hit
            ("u4", "example"),              # single-label host: exact match
            ("u5", "clean.test"),           # no match
            ("u6", "badsads.example"),      # label boundary: 'badsads' != 'ads'
            ("u7", "h7.ads.example"),       # both patterns match: longest wins
            ("u8", "plain.example"),        # bare-TLD pattern inert on
                                            # multi-label hosts
        ],
        "url string, host string",
    )
    bl = spark.createDataFrame(
        [("ads.example",), ("example",), ("h7.ads.example",)],
        "pattern string",
    )
    got = {
        r["url"]: (r["blocked"], r["matched_pattern"])
        for r in blocklist.blocklist_filter(rows, bl).collect()
    }
    assert got == {
        "u1": (True, "ads.example"),
        "u2": (True, "ads.example"),
        "u3": (True, "ads.example"),
        "u4": (True, "example"),
        "u5": (False, None),
        "u6": (False, None),
        "u7": (True, "h7.ads.example"),
        "u8": (False, None),
    }


def test_blocklist_preserves_row_multiplicity(spark):
    """Many URLs on one host all get the host's verdict — the
    per-distinct-host match must not dedup or drop frontier rows."""
    from ptt_spider_go_spark.operators import blocklist

    rows = spark.createDataFrame(
        [(f"u{i}", "ads.example") for i in range(5)]
        + [(f"v{i}", "ok.example") for i in range(5)],
        "url string, host string",
    )
    bl = spark.createDataFrame([("ads.example",)], "pattern string")
    out = blocklist.blocklist_filter(rows, bl)
    assert out.count() == 10
    assert out.filter("blocked").count() == 5
