"""Integer PageRank host ranking (operators/linkrank.py): pure-Python
mirror of the BIGINT recurrence on hand graphs, plus edge-derivation
invariants. (Spark-vs-DuckDB parity is additionally enforced on
`link_rank` by the driver contract / tools/check_contract.py.)
"""

from collections import defaultdict

from ptt_spider_go_spark.operators import linkrank


def _mirror(edges, iters):
    """The exact integer recurrence, driver-side."""
    nodes = {h for e in edges for h in e}
    outdeg = defaultdict(int)
    for s, _ in edges:
        outdeg[s] += 1
    r = {h: linkrank.R0_MICRO for h in nodes}
    for _ in range(iters):
        inflow = defaultdict(int)
        for s, d in edges:
            inflow[d] += r[s] // outdeg[s]
        r = {
            h: linkrank.TELEPORT_MICRO
            + linkrank.DAMP_NUM * inflow[h] // linkrank.DAMP_DEN
            for h in nodes
        }
    return r


def _rank(spark, edges, iters):
    df = spark.createDataFrame(edges, "src string, dst string")
    return {
        r["host"]: r["rank_micro"]
        for r in linkrank.host_rank(df, iters=iters).collect()
    }


def test_star_graph_matches_mirror(spark):
    """Hub z absorbs three spokes' rank and feeds one back to a."""
    edges = [("a", "z"), ("b", "z"), ("c", "z"), ("z", "a")]
    for iters in (1, 2, 3):
        assert _rank(spark, edges, iters) == _mirror(edges, iters)


def test_duplicate_edges_weigh_more(spark):
    """A host linked from many pages of the same src gets a larger
    share of that src's rank (duplicate edges are kept by design)."""
    edges = [("s", "heavy"), ("s", "heavy"), ("s", "heavy"), ("s", "light")]
    got = _rank(spark, edges, 1)
    assert got == _mirror(edges, 1)
    assert got["heavy"] > got["light"]


def test_dangling_and_no_inlink_nodes(spark):
    """Dangling dst-only nodes keep teleport-only rank; the recurrence
    never divides by a missing outdegree."""
    edges = [("a", "b"), ("b", "c")]  # c dangles
    got = _rank(spark, edges, 2)
    assert got == _mirror(edges, 2)
    # a has no inlinks after iteration 1: teleport only
    assert got["a"] == linkrank.TELEPORT_MICRO


def test_document_edges_deterministic_no_self_loops(spark):
    docs = spark.createDataFrame(
        [(i, "t", "en") for i in range(200)],
        "doc_id long, text string, lang string",
    )
    e1 = sorted(map(tuple, linkrank.host_edges_from_documents(docs).collect()))
    e2 = sorted(map(tuple, linkrank.host_edges_from_documents(docs).collect()))
    assert e1 == e2
    assert all(s != d for s, d in e1)
    # 3 outlinks per doc minus the md5-collision self-loops
    assert len(e1) <= 600 and len(e1) > 550


def test_authority_budgets_hand_case_and_exact_sum(spark):
    """ranks {a:3, b:1}, total 10: base a=7 b=2, one leftover unit,
    remainders tie (2 vs 2) -> host asc gives it to a."""
    ranks = spark.createDataFrame(
        [("a", 3), ("b", 1)], "host string, rank_micro long"
    )
    got = {r["host"]: r["budget"]
           for r in linkrank.authority_budgets(ranks, 10).collect()}
    assert got == {"a": 8, "b": 2}

    ranks2 = spark.createDataFrame(
        [(f"h{i}", 150000 + 37 * i * i) for i in range(23)],
        "host string, rank_micro long",
    )
    budgets = {r["host"]: r["budget"]
               for r in linkrank.authority_budgets(ranks2, 1000).collect()}
    assert sum(budgets.values()) == 1000
    # monotone in rank (largest-remainder never inverts order by > 1)
    assert budgets["h22"] > budgets["h0"]


def test_authority_budgets_compose_with_budget_gate(spark):
    """The allocator output is a per-host budget table budget_gate
    admits under: per-host admissions never exceed the allocated budget
    and deferred rows complement exactly."""
    from pyspark.sql import functions as F

    from ptt_spider_go_spark.operators.politeness import (
        budget_gate,
        with_host_policy,
    )

    urls = [
        (f"https://{h}/p{i}", 1, i, 1700000000 + i)
        for h in ("big.example", "small.example")
        for i in range(50)
    ]
    frontier = spark.createDataFrame(
        urls, "url string, kind_rank int, page_no int, ts long"
    ).withColumn("warc_ts", F.timestamp_seconds(F.col("ts"))).drop("ts")
    ranks = spark.createDataFrame(
        [("big.example", 3_000_000), ("small.example", 1_000_000)],
        "host string, rank_micro long",
    )
    budgets = linkrank.authority_budgets(ranks, 40)
    bmap = {r["host"]: r["budget"] for r in budgets.collect()}
    assert bmap == {"big.example": 30, "small.example": 10}
    g = budget_gate(with_host_policy(frontier, host_budgets=budgets),
                    F.coalesce(F.col("host_budget"), F.lit(0)), salt=4)
    admitted, deferred = g.filter("admitted"), g.filter("NOT admitted")
    adm = {
        r["h"]: r["n"]
        for r in admitted.groupBy(
            F.expr("parse_url(url, 'HOST')").alias("h")
        ).agg(F.count("*").alias("n")).collect()
    }
    assert adm["big.example"] <= 30 and adm["small.example"] <= 10
    assert admitted.count() + deferred.count() == 100


def test_aimd_budgets_four_rungs(spark):
    """Every AIMD rung: halve-on-429 (floored), +incr-on-clean
    (capped), hold-on-idle, default-on-unknown-host."""
    from pyspark.sql import functions as F

    from ptt_spider_go_spark.operators.politeness import aimd_budgets

    prev = spark.createDataFrame(
        [("a.example", 10), ("b.example", 10), ("idle.example", 7),
         ("floor.example", 1), ("cap.example", 100)],
        "host string, budget long",
    )
    log = spark.createDataFrame(
        [
            ("https://a.example/1", 200),
            ("https://a.example/2", 429),   # one 429 is enough: halve
            ("https://b.example/1", 200),   # clean: +1
            ("https://floor.example/1", 429),  # 1 // 2 = 0 -> floor 1
            ("https://cap.example/1", 200),    # 100 + 1 -> cap 100
            ("https://new.example/1", 200),    # unknown: 64 + 1
        ],
        "url string, status int",
    )
    got = {r["host"]: r["budget"]
           for r in aimd_budgets(prev, log, max_budget=100).collect()}
    assert got == {
        "a.example": 5, "b.example": 11, "idle.example": 7,
        "floor.example": 1, "cap.example": 100, "new.example": 65,
    }


def test_aimd_budgets_feed_budget_gate(spark):
    """The AIMD output is the per-host budget table budget_gate admits
    under — the control loop closes: congested hosts admit half as much
    next superstep."""
    from pyspark.sql import functions as F

    from ptt_spider_go_spark.operators.politeness import (
        aimd_budgets,
        budget_gate,
        with_host_policy,
    )

    prev = spark.createDataFrame(
        [("hot.example", 8), ("cool.example", 8)], "host string, budget long"
    )
    log = spark.createDataFrame(
        [("https://hot.example/x", 429), ("https://cool.example/x", 200)],
        "url string, status int",
    )
    budgets = aimd_budgets(prev, log)
    frontier = spark.createDataFrame(
        [(f"https://{h}/p{i}", 1, i, 1700000000 + i)
         for h in ("hot.example", "cool.example") for i in range(20)],
        "url string, kind_rank int, page_no int, ts long",
    ).withColumn("warc_ts", F.timestamp_seconds(F.col("ts"))).drop("ts")
    admitted = budget_gate(
        with_host_policy(frontier, host_budgets=budgets),
        F.coalesce(F.col("host_budget"), F.lit(0)), salt=2,
    ).filter("admitted")
    adm = {r["h"]: r["n"] for r in admitted.groupBy(
        F.expr("parse_url(url, 'HOST')").alias("h")
    ).agg(F.count("*").alias("n")).collect()}
    assert adm == {"hot.example": 4, "cool.example": 9}


# --- HITS hubs-and-authorities (r5) ----------------------------------------


def _hits_mirror(edges, iters):
    """The exact integer HITS recurrence, driver-side: weighted edges,
    auth from hubs then hubs from the new auth, L1-renormalize to
    HITS_SCALE after each half-step (zero-mass passthrough)."""
    w = defaultdict(int)
    for e in edges:
        w[e] += 1
    nodes = {h for e in edges for h in e}

    def norm(v):
        t = sum(v.values())
        if t == 0:
            return v
        return {h: s * linkrank.HITS_SCALE // t for h, s in v.items()}

    hub = {h: linkrank.HITS_SCALE for h in nodes}
    auth = dict(hub)
    for _ in range(iters):
        auth = norm({
            h: sum(ww * hub[s] for (s, d), ww in w.items() if d == h)
            for h in nodes
        })
        hub = norm({
            h: sum(ww * auth[d] for (s, d), ww in w.items() if s == h)
            for h in nodes
        })
    return {h: (hub[h], auth[h]) for h in nodes}


def _hits(spark, edges, iters):
    df = spark.createDataFrame(edges, "src string, dst string")
    return {
        r["host"]: (r["hub_micro"], r["auth_micro"])
        for r in linkrank.hits_scores(df, iters=iters).collect()
    }


def test_hits_matches_mirror_bipartite(spark):
    """Directory pages d1/d2 point at content pages; content never
    links back — hubs and authorities must separate cleanly."""
    edges = [("d1", "c1"), ("d1", "c2"), ("d2", "c2"), ("d2", "c3")]
    for iters in (1, 2):
        got = _hits(spark, edges, iters)
        assert got == _hits_mirror(edges, iters)
    hub, auth = got["d1"]
    assert hub > 0 and auth == 0          # pure hub
    hub, auth = got["c2"]
    assert hub == 0 and auth > 0          # pure authority
    # c2 has two inlinks, c1/c3 one each: strictly more authoritative
    assert got["c2"][1] > got["c1"][1] == got["c3"][1]


def test_hits_duplicate_edges_weigh(spark):
    """Edge multiplicity raises the target's authority share."""
    edges = [("s", "heavy"), ("s", "heavy"), ("s", "light")]
    got = _hits(spark, edges, 2)
    assert got == _hits_mirror(edges, 2)
    assert got["heavy"][1] > got["light"][1]


def test_hits_cycle_and_isolated_direction(spark):
    """A 2-cycle plus a one-way appendix: every node is both hub and
    authority on the cycle; the mirror pins the exact integers."""
    edges = [("a", "b"), ("b", "a"), ("b", "z")]
    for iters in (1, 2, 3):
        assert _hits(spark, edges, iters) == _hits_mirror(edges, iters)


def test_graph_stats_panel(spark):
    """Hand graph: a->b twice, b->a, a->c, c dangles, a is a pure
    source; every metric appears (zeros included), reciprocity counts
    distinct edges with a reverse."""
    from ptt_spider_go_spark.operators.linkrank import graph_stats

    edges = spark.createDataFrame(
        [("a", "b"), ("a", "b"), ("b", "a"), ("a", "c")],
        "src string, dst string",
    )
    got = {r["metric"]: r["value"] for r in graph_stats(edges).collect()}
    assert got == {
        "n_hosts": 3,
        "n_edges": 4,            # multiplicity kept
        "n_edges_distinct": 3,
        "n_dangling": 1,         # c: inlink only
        "n_sources": 0,          # a has an inlink (b->a)
        "n_recip": 2,            # a<->b both directions
    }


def test_graph_stats_empty_metrics_report_zero(spark):
    """A pure chain has no reciprocity; the metric still reports 0."""
    from ptt_spider_go_spark.operators.linkrank import graph_stats

    edges = spark.createDataFrame([("a", "b"), ("b", "c")],
                                  "src string, dst string")
    got = {r["metric"]: r["value"] for r in graph_stats(edges).collect()}
    assert got["n_recip"] == 0 and got["n_sources"] == 1 \
        and got["n_dangling"] == 1 and got["n_hosts"] == 3


# --- X94: BFS crawl depth ---------------------------------------------------

def test_frontier_depths_min_depth_with_cycle_and_shortcut(spark):
    from ptt_spider_go_spark.operators.linkrank import frontier_depths

    edges = spark.createDataFrame(
        [
            ("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"),
            ("a", "d"),            # shortcut: d at depth 1, not 3
            ("e", "b"),            # cycle back: must not loop/relabel
            ("x", "y"),            # disconnected from seeds
        ],
        "src string, dst string",
    )
    seeds = spark.createDataFrame([("a",)], "url string")
    got = {r["url"]: r["depth"]
           for r in frontier_depths(edges, seeds, max_depth=10).collect()}
    assert got == {"a": 0, "b": 1, "c": 2, "d": 1, "e": 2}
    # 'x'/'y' unreachable -> absent, cycle terminated (call returned)


def test_frontier_depths_cap_and_multi_seed(spark):
    from ptt_spider_go_spark.operators.linkrank import frontier_depths

    chain = spark.createDataFrame(
        [(f"n{i}", f"n{i+1}") for i in range(10)], "src string, dst string"
    )
    seeds = spark.createDataFrame([("n0",), ("n7",)], "url string")
    got = {r["url"]: r["depth"]
           for r in frontier_depths(chain, seeds, max_depth=2).collect()}
    # two BFS fronts; n8/n9 labeled from the CLOSER seed n7
    assert got == {"n0": 0, "n7": 0, "n1": 1, "n8": 1, "n2": 2, "n9": 2}
    assert "n3" not in got  # beyond the cap


def test_depth_gate_admits_only_reached_within_cap(spark):
    from ptt_spider_go_spark.operators.linkrank import (
        depth_gate, frontier_depths)

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c")], "src string, dst string"
    )
    seeds = spark.createDataFrame([("a",)], "url string")
    depths = frontier_depths(edges, seeds, max_depth=5)
    frontier = spark.createDataFrame(
        [("a", 1), ("c", 2), ("zz", 3)], "url string, k int"
    )
    out = depth_gate(frontier, depths, max_depth=1)
    assert sorted((r["url"], r["k"]) for r in out.collect()) == [("a", 1)]
    out2 = depth_gate(frontier, depths, max_depth=2)
    assert sorted(r["url"] for r in out2.collect()) == ["a", "c"]
    # 'zz' never admitted: no depth row means unreached, not depth-0
