"""Host-authority ranking over the crawl link graph (integer PageRank).

A frontier scheduler at 10^10-URL scale wants more than per-host
politeness and page-number priority (sources/seeds.py, the reference's
newest-first ordering, spider.go:129): crawl authority-ranked hosts
first. This module ranks hosts by inlink authority with a
fixed-iteration PageRank over a (src_host, dst_host) edge relation.

Determinism strategy (same family as pipeline/lm.py micro-nats): the
classic float PageRank is shuffle-order-dependent (float partial sums)
and not oracle-exact. Ranks here are integers in micro-units:

    r0      = 1_000_000                      (uniform; PageRank is
                                              scale-free, so any
                                              uniform start works)
    contrib = r DIV out_degree               (exact integer division)
    r'      = 150_000 + (85 * sum(contrib)) DIV 100

Every operation is exact BIGINT arithmetic — aggregation order cannot
change the result, and the DuckDB oracle reproduces it bit-for-bit.
The DIV truncation loses < 1 micro-unit per edge per iteration —
irrelevant to ordering at the 10^6 scale of the units (standard
practice in integer-PageRank implementations).

Scale shape: each iteration is one equi-join of the rank relation
(|hosts| rows — small) onto the edge relation partitioned by src, plus
one groupBy(dst) with map-side partial aggregation. The rank relation
is broadcast when it fits (AQE); the edge relation never moves if it
is pre-partitioned by src. Iterations are a fixed small count (the
published converged-enough choice for crawl scheduling), not a
converge-loop — no driver-side convergence probes over 100 TB.
Dangling hosts (no outlinks) leak rank, as in the simplified PageRank
most crawlers use.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ptt_spider_go_spark.pipeline.common import md5_long

#: rank micro-units: r0 and the (1-d) teleport term
R0_MICRO = 1_000_000
TELEPORT_MICRO = 150_000
DAMP_NUM, DAMP_DEN = 85, 100


def host_edges_from_documents(docs: DataFrame, n_hosts: int = 97,
                              outlinks: int = 3) -> DataFrame:
    """Deterministic md5-derived host link graph over the documents
    table — the synthetic-but-reproducible edge list the contract
    query (and its DuckDB oracle) rank. Each doc lives on host
    'h{doc_id % n_hosts}' and links to `outlinks` md5-chosen hosts;
    self-loops are dropped. Duplicate edges are kept (a host linking
    another from many pages SHOULD weigh more)."""
    outs = [
        F.concat(
            F.lit("h"),
            F.pmod(
                md5_long(
                    F.concat_ws(
                        ":", F.col("doc_id").cast("string"), F.lit(str(j))
                    ),
                ),
                F.lit(n_hosts),
            ).cast("string"),
        ).alias(f"dst{j}")
        for j in range(outlinks)
    ]
    src = F.concat(
        F.lit("h"), F.pmod(F.col("doc_id"), F.lit(n_hosts)).cast("string")
    ).alias("src")
    edges = docs.select(
        src, F.explode(F.array(*outs)).alias("dst")
    )
    return edges.filter(F.col("src") != F.col("dst"))


def host_rank(edges: DataFrame, iters: int = 3) -> DataFrame:
    """(host, rank_micro) after `iters` integer-PageRank rounds over
    (src, dst) edges. Exact BIGINT arithmetic throughout — see module
    docstring."""
    nodes = (
        edges.select(F.col("src").alias("host"))
        .union(edges.select(F.col("dst").alias("host")))
        .distinct()
    )
    outdeg = edges.groupBy("src").agg(F.count("*").alias("outdeg"))
    ranks = nodes.select(
        "host", F.lit(R0_MICRO).cast("long").alias("rank_micro")
    )
    for _ in range(iters):
        contribs = (
            edges.join(outdeg, "src")
            .join(
                ranks.select(
                    F.col("host").alias("src"),
                    F.col("rank_micro").alias("src_rank"),
                ),
                "src",
            )
            .select(
                "dst",
                F.expr("src_rank DIV outdeg").alias("contrib"),
            )
            .groupBy("dst")
            .agg(F.sum("contrib").alias("inflow"))
        )
        ranks = (
            nodes.join(
                contribs.select(F.col("dst").alias("host"), "inflow"),
                "host",
                "left",
            )
            .select(
                "host",
                (
                    F.lit(TELEPORT_MICRO)
                    + F.expr(
                        f"{DAMP_NUM} * coalesce(inflow, 0L) DIV {DAMP_DEN}"
                    )
                ).cast("long").alias("rank_micro"),
            )
        )
    return ranks

def authority_budgets(ranks: DataFrame, total_budget: int) -> DataFrame:
    """(host, rank_micro) -> (host, budget): split a global per-superstep
    fetch budget across hosts PROPORTIONALLY to link authority — the
    composition point between host_rank and the politeness gate
    (a per-host budget table for politeness.with_host_policy, the same
    hook the robots Crawl-delay table uses). High-authority hosts get crawled
    deeper each superstep; every host keeps >= its teleport-rank floor,
    so no host starves.

    Allocation is the largest-remainder (Hamilton) method in exact
    BIGINT arithmetic: base = total * r DIV R, and the leftover
    L = total - sum(base)  (0 <= L < n_hosts) goes to the L hosts with
    the largest remainder (total * r) % R, ties broken by host asc —
    deterministic, budgets sum EXACTLY to total_budget, oracle-exact.

    Scale shape: `ranks` is a host-level dimension (tiny by
    construction); the two scalar reductions are driver probes and the
    top-L selection is an orderBy+limit (TakeOrdered) — no
    partition-less window, nothing big ever sorts globally. `ranks` is
    localCheckpoint-ed up front: it usually arrives as the 3-iteration
    host_rank join chain, and without materialization each of the two
    scalar probes plus the final plan would re-run that whole chain
    (ADVICE r04)."""
    ranks = ranks.localCheckpoint(eager=True)
    r_total = ranks.agg(F.sum("rank_micro")).collect()[0][0]
    if not r_total:
        return ranks.select("host", F.lit(0).cast("long").alias("budget"))
    alloc = ranks.select(
        "host",
        F.expr(f"{total_budget} * rank_micro DIV {r_total}").alias("base"),
        F.expr(f"{total_budget} * rank_micro % {r_total}").alias("rem"),
    )
    leftover = total_budget - alloc.agg(F.sum("base")).collect()[0][0]
    top_l = (
        alloc.orderBy(F.col("rem").desc(), F.col("host").asc())
        .limit(int(leftover))
        .select("host", F.lit(1).cast("long").alias("bonus"))
    )
    return (
        alloc.join(F.broadcast(top_l), "host", "left")
        .select(
            "host",
            (F.col("base") + F.coalesce(F.col("bonus"), F.lit(0)))
            .cast("long").alias("budget"),
        )
    )


#: HITS score scale: each vector is renormalized to ~this L1 mass per
#: step, so two-iteration raw sums stay far under BIGINT even on
#: dense graphs (raw <= total_edge_weight * HITS_SCALE; the integer
#: cross-multiply needs raw * HITS_SCALE < 2^63, i.e. edge weight
#: < ~9.2e6 at this scale — a 100 TB host graph pre-aggregates to
#: host-level weights first, exactly as hits_scores' groupBy does).
HITS_SCALE = 1_000_000


def hits_scores(edges: DataFrame, iters: int = 2) -> DataFrame:
    """(host, hub_micro, auth_micro) after `iters` HITS rounds
    (Kleinberg hubs-and-authorities) over (src, dst) edges — the
    complement of host_rank for frontier scheduling: PageRank finds
    globally endorsed hosts, HITS separates DIRECTORY hosts (hubs:
    link out to good content — crawl their index pages deep) from
    CONTENT hosts (authorities: linked to by good directories —
    crawl their article pages deep). The reference's board-vs-article
    page split (spider.go board index pages feed article fetches) is
    exactly a two-level hub→authority graph; this generalizes it to
    an arbitrary host graph.

    Determinism: the same integer strategy as host_rank. Duplicate
    edges first collapse to host-level weights (one groupBy), then

        auth' = sum_in(w * hub);   hub' = sum_out(w * auth')

    with each vector L1-renormalized to HITS_SCALE via the exact
    integer cross-multiply (score * HITS_SCALE) DIV total — all
    BIGINT, so aggregation order cannot change a bit and the DuckDB
    oracle reproduces it exactly. (Classic HITS normalizes by the L2
    norm; any per-step positive rescaling preserves the ranking and
    the fixpoint direction, and L1 keeps the arithmetic exact.)

    Scale shape: the weighted edge relation is built once (one
    groupBy with map-side combine) and localCheckpoint-ed; each
    half-step is one broadcast join of the tiny host-level score
    vector onto it plus one groupBy. The per-step total is a scalar
    driver probe on a host-level relation (the authority_budgets
    idiom), never a 1-row crossJoin into the big plan.
    """
    e = (
        edges.groupBy("src", "dst")
        .agg(F.count("*").cast("long").alias("w"))
        .localCheckpoint(eager=True)
    )
    nodes = (
        e.select(F.col("src").alias("host"))
        .union(e.select(F.col("dst").alias("host")))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def norm(raw: DataFrame) -> DataFrame:
        """L1-renormalize a total (host, score) vector to HITS_SCALE
        mass; exact integer cross-multiply, zero-mass passthrough."""
        raw = raw.localCheckpoint(eager=True)
        total = raw.agg(F.sum("score")).collect()[0][0] or 0
        if total == 0:
            return raw
        return raw.select(
            "host",
            F.expr(f"score * {HITS_SCALE} DIV {total}")
            .cast("long").alias("score"),
        )

    def totalize(half: DataFrame, key: str) -> DataFrame:
        """Re-key a half-step aggregate to (host, score) over ALL
        nodes (hosts with no in/out edges score 0, not missing)."""
        return nodes.join(
            half.select(F.col(key).alias("host"), "score"), "host", "left"
        ).select("host", F.coalesce("score", F.lit(0)).cast("long")
                 .alias("score"))

    hubs = nodes.select(
        "host", F.lit(HITS_SCALE).cast("long").alias("score")
    )
    auth = hubs
    for _ in range(iters):
        auth = norm(totalize(
            e.join(
                F.broadcast(hubs.select(F.col("host").alias("src"),
                                        F.col("score").alias("hub"))),
                "src",
            )
            .select("dst", (F.col("w") * F.col("hub")).alias("c"))
            .groupBy("dst").agg(F.sum("c").alias("score")),
            "dst",
        ))
        hubs = norm(totalize(
            e.join(
                F.broadcast(auth.select(F.col("host").alias("dst"),
                                        F.col("score").alias("a"))),
                "dst",
            )
            .select("src", (F.col("w") * F.col("a")).alias("c"))
            .groupBy("src").agg(F.sum("c").alias("score")),
            "src",
        ))
    return (
        nodes
        .join(hubs.select("host", F.col("score").alias("hub_micro")),
              "host")
        .join(auth.select("host", F.col("score").alias("auth_micro")),
              "host")
    )


def graph_stats(edges: DataFrame) -> DataFrame:
    """Link-graph health panel — the numbers a crawl operator reads
    before trusting rank-based scheduling (a graph that is mostly
    dangling or mostly reciprocal spam rings makes PageRank/HITS
    numbers mean something else). Returns (metric, value) rows:

      n_hosts, n_edges (with multiplicity), n_edges_distinct,
      n_dangling (hosts with inlinks but no outlinks — rank leaks
      there), n_sources (outlinks but no inlinks — unreachable by
      backlink discovery), n_recip (distinct edges whose reverse edge
      also exists; n_recip / n_edges_distinct is the reciprocity
      ratio — link-exchange rings score high).

    Scale shape: one groupBy(src,dst) collapses multiplicity; degree
    and reciprocity relations are host-level (broadcast joins); all
    six metrics union into ONE tagged relation aggregated by metric
    key — map-side partial sums, a keyed exchange, never a
    single-partition global funnel or a 1-row cross join. Exact
    BIGINT counts, oracle-exact."""
    e = edges.groupBy("src", "dst").agg(
        F.count("*").cast("long").alias("w")
    ).localCheckpoint(eager=True)
    srcs = e.select(F.col("src").alias("host")).distinct()
    dsts = e.select(F.col("dst").alias("host")).distinct()
    one = F.lit(1).cast("long")

    def tag(df, metric, v=None):
        return df.select(F.lit(metric).alias("metric"),
                         (one if v is None else v).alias("value"))

    vals = (
        tag(e, "n_edges", F.col("w"))
        .unionByName(tag(e, "n_edges_distinct"))
        .unionByName(tag(srcs.union(dsts).distinct(), "n_hosts"))
        .unionByName(tag(dsts.join(srcs, "host", "left_anti"),
                         "n_dangling"))
        .unionByName(tag(srcs.join(dsts, "host", "left_anti"),
                         "n_sources"))
        .unionByName(tag(
            e.alias("a").join(
                e.select(F.col("dst").alias("src"),
                         F.col("src").alias("dst")).alias("b"),
                ["src", "dst"], "left_semi",
            ),
            "n_recip",
        ))
        # zero seeds: an empty metric (no dangling hosts, say) must
        # report 0, not vanish from the panel.
        .unionByName(edges.sparkSession.createDataFrame(
            [(m, 0) for m in ("n_hosts", "n_edges", "n_edges_distinct",
                              "n_dangling", "n_sources", "n_recip")],
            "metric string, value long",
        ))
    )
    return vals.groupBy("metric").agg(
        F.sum("value").cast("long").alias("value")
    )


def frontier_depths(edges: DataFrame, seeds: DataFrame,
                    max_depth: int) -> DataFrame:
    """BFS crawl depth from the seed set over the link graph (X94):
    (url, depth) for every URL reachable within `max_depth` hops,
    depth = MINIMUM hop count — the generic form of the reference's
    fixed two-level board->article depth (spider.go walks index pages
    then stops at articles; an open-web crawler caps depth explicitly,
    the classic anti-trap budget the trap detector (X58) heuristically
    approximates).

    Level-synchronous BFS: round r discovers exactly the depth-r
    nodes (candidates = last level x edges, minus everything already
    labeled), so first-reach IS min-depth — no min() re-aggregation
    across rounds needed, only a distinct inside the round. max_depth
    joins total, each new level localCheckpoint'd (the
    connected_components idiom) so lineage stays flat; early exit on
    an empty level via a one-row count probe (the approved scalar
    collect). Cycles terminate by construction: a cycle node is
    labeled at its first reach and anti-joined away after.

    At 10^10 URLs each round is one equi-join on src + one anti-join
    on url — shuffle-partitioned by the same key, no global
    structure; depth caps in practice are single digits.
    """
    e = edges.select(
        F.col("src").cast("string").alias("src"),
        F.col("dst").cast("string").alias("dst"),
    )
    level = seeds.select(
        F.col("url").cast("string").alias("url")
    ).distinct().localCheckpoint(eager=True)
    done = level.withColumn("depth", F.lit(0).cast("long"))
    for r in range(1, max_depth + 1):
        nxt = (
            level.join(e, level["url"] == e["src"])
            .select(F.col("dst").alias("url"))
            .distinct()
            .join(done.select("url"), "url", "left_anti")
            .localCheckpoint(eager=True)
        )
        if nxt.limit(1).count() == 0:
            break
        done = done.unionByName(
            nxt.withColumn("depth", F.lit(r).cast("long"))
        ).localCheckpoint(eager=True)
        level = nxt
    return done


def depth_gate(frontier: DataFrame, depths: DataFrame,
               max_depth: int) -> DataFrame:
    """Keep frontier rows whose BFS depth from the seeds is known and
    <= max_depth — unreached URLs (no depth row) are NOT admitted:
    a URL the seed graph cannot reach within the cap is exactly what
    a depth budget exists to exclude."""
    ok = depths.filter(F.col("depth") <= max_depth).select("url")
    return frontier.join(ok, "url", "left_semi")


#: TrustRank seed-mass scale: the total teleport/initial mass split
#: across the seed set each round. Chosen so the spam-mass
#: cross-multiply trust_micro * pr_total stays far under 2^63 at test
#: scale (trust <= ~1e9, pr_total ~ 1.5e8 at 97 hosts -> ~1.5e17).
#: A 40M-host production graph multiplies pr_total by ~4e5; there the
#: cross-multiply escalates to decimal(38,0) in BOTH engines (same
#: semantics, documented envelope) — the BIGINT fast path is correct
#: whenever trust_micro * pr_total < 2^63.
TRUST_SCALE = 1_000_000_000
#: teleport fraction: same 15/100 damping split as host_rank.
TRUST_TELEPORT_TOTAL = 15 * TRUST_SCALE // 100


def seed_hosts(edges: DataFrame, modulus: int = 13) -> DataFrame:
    """Deterministic trusted-seed selection over the graph's node set
    for the contract query and its oracle: hosts 'h<k>' where
    k % modulus == 0. A real deployment feeds a curated allowlist
    (Wikipedia, .gov, the Gyongyi et al. VLDB'04 inverse-PageRank
    oracle-review pick); the selection mechanism is orthogonal to the
    propagation this module implements."""
    nodes = (
        edges.select(F.col("src").alias("host"))
        .union(edges.select(F.col("dst").alias("host")))
        .distinct()
    )
    return nodes.filter(
        F.pmod(F.substring(F.col("host"), 2, 18).cast("long"),
               F.lit(modulus)) == 0
    )


def trust_rank(edges: DataFrame, seeds: DataFrame,
               iters: int = 3) -> DataFrame:
    """(host, trust_micro): seed-biased integer PageRank — TrustRank
    (Gyongyi, Garcia-Molina, Pedersen, "Combating Web Spam with
    TrustRank", VLDB 2004). Trust mass starts on a small trusted seed
    set and flows ONLY along links; the teleport term returns mass to
    the seeds (never uniformly), so hosts reachable only through spam
    neighborhoods accumulate ~none. The complement of host_rank for
    frontier scheduling: PageRank says "endorsed by the web", TrustRank
    says "endorsed by hosts we vetted" — the gap between them is the
    spam signal (spam_mass below).

    Integer determinism (the host_rank scheme, seed-restricted):

        per-seed start    t0 = TRUST_SCALE DIV n_seeds   (seeds; else 0)
        contribution      c  = t DIV outdeg              (exact DIV)
        per-seed teleport g  = TRUST_TELEPORT_TOTAL DIV n_seeds
        update            t' = (is_seed ? g : 0) + 85 * inflow DIV 100

    All BIGINT — aggregation order cannot change a bit; the DuckDB
    oracle unrolls the same rounds. Seeds outside the graph's node set
    are ignored (trust cannot start on a host with no edges to carry
    it). n_seeds is one scalar probe on the tiny seed relation (the
    authority_budgets idiom).

    Scale shape: identical to host_rank — per round one equi-join of
    the host-level trust vector onto the edge relation partitioned by
    src plus one groupBy(dst) with map-side combine; the trust vector
    broadcasts (AQE). Fixed small iteration count, no convergence
    probe over the 10^10-row side.
    """
    nodes = (
        edges.select(F.col("src").alias("host"))
        .union(edges.select(F.col("dst").alias("host")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    seed_flag = (
        nodes.join(seeds.select("host").distinct(), "host", "left_semi")
        .select("host", F.lit(True).alias("is_seed"))
        .localCheckpoint(eager=True)
    )
    n_seeds = seed_flag.count()
    if n_seeds == 0:
        return nodes.select(
            "host", F.lit(0).cast("long").alias("trust_micro")
        )
    t0 = TRUST_SCALE // n_seeds
    tele = TRUST_TELEPORT_TOTAL // n_seeds
    outdeg = edges.groupBy("src").agg(F.count("*").alias("outdeg"))
    base = nodes.join(seed_flag, "host", "left")
    trust = base.select(
        "host",
        F.when(F.col("is_seed"), F.lit(t0)).otherwise(F.lit(0))
        .cast("long").alias("trust_micro"),
    )
    for _ in range(iters):
        inflow = (
            edges.join(outdeg, "src")
            .join(
                trust.select(F.col("host").alias("src"),
                             F.col("trust_micro").alias("src_t")),
                "src",
            )
            .select("dst", F.expr("src_t DIV outdeg").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("inflow"))
        )
        trust = (
            base.join(
                inflow.select(F.col("dst").alias("host"), "inflow"),
                "host", "left",
            )
            .select(
                "host",
                (
                    F.when(F.col("is_seed"), F.lit(tele))
                    .otherwise(F.lit(0))
                    + F.expr(
                        f"{DAMP_NUM} * coalesce(inflow, 0L) DIV {DAMP_DEN}"
                    )
                ).cast("long").alias("trust_micro"),
            )
        )
    return trust


def spam_mass(ranks: DataFrame, trusts: DataFrame,
              threshold_ppm: int = 900_000,
              min_rank_micro: int = R0_MICRO) -> DataFrame:
    """(host, rank_micro, trust_scaled, spam_mass_ppm,
    is_spam_candidate): relative spam mass — the fraction of a host's
    PageRank NOT explained by its trust flow (Gyongyi, Berkhin,
    Garcia-Molina, Pedersen, "Link Spam Detection Based on Mass
    Estimation", VLDB 2006). A host whose rank comes overwhelmingly
    from outside the trusted neighborhood bought its rank from a link
    farm; a frontier scheduler demotes (or a corpus gate drops) hosts
    flagged here BEFORE authority_budgets converts rank into fetch
    budget.

    Exact integer arithmetic: the trust vector is rescaled onto the
    rank vector's L1 mass by cross-multiplication

        trust_scaled  = trust_micro * pr_total DIV tr_total
        spam_mass_ppm = greatest(0, rank - trust_scaled) * 1e6
                        DIV rank                      (rank > 0)

    and a host is a candidate iff spam_mass_ppm >= threshold_ppm AND
    rank_micro >= min_rank_micro — low-rank hosts are never flagged
    (their mass estimate is noise, per the paper; and demoting a host
    nobody links to is pointless). Both inputs are host-level tiny
    relations: localCheckpoint'd, two scalar total probes (the
    authority_budgets idiom), one equi-join; nothing frontier-sized
    moves. BIGINT envelope: trust_micro * pr_total < 2^63 (see
    TRUST_SCALE note)."""
    ranks = ranks.localCheckpoint(eager=True)
    trusts = trusts.localCheckpoint(eager=True)
    pr_total = ranks.agg(F.sum("rank_micro")).collect()[0][0] or 0
    tr_total = trusts.agg(F.sum("trust_micro")).collect()[0][0] or 0
    joined = ranks.join(trusts, "host", "left").select(
        "host", "rank_micro",
        F.coalesce("trust_micro", F.lit(0)).cast("long")
        .alias("trust_micro"),
    )
    scaled = (
        F.expr(f"trust_micro * {pr_total} DIV {tr_total}")
        if tr_total else F.lit(0)
    )
    out = joined.select(
        "host", "rank_micro",
        scaled.cast("long").alias("trust_scaled"),
    ).select(
        "host", "rank_micro", "trust_scaled",
        F.when(
            F.col("rank_micro") > 0,
            F.expr("greatest(0L, rank_micro - trust_scaled) * 1000000 "
                   "DIV rank_micro"),
        ).otherwise(F.lit(0)).cast("long").alias("spam_mass_ppm"),
    )
    return out.select(
        "*",
        (
            (F.col("spam_mass_ppm") >= F.lit(threshold_ppm))
            & (F.col("rank_micro") >= F.lit(min_rank_micro))
        ).alias("is_spam_candidate"),
    )


#: OPIC cash scale: total cash in the system (constant across rounds
#: up to DIV truncation dust). History sums <= iters * CASH_SCALE —
#: far under BIGINT at any iteration count this module would run.
OPIC_SCALE = 1_000_000_000


def opic_importance(edges: DataFrame, iters: int = 4) -> DataFrame:
    """(host, history_micro, cash_micro): On-line Page Importance
    Computation (Abiteboul, Preda, Cobena, WWW 2003 — the crawl-order
    policy Nutch shipped) after `iters` synchronous rounds. Each host
    starts with an equal share of OPIC_SCALE cash; each round banks
    its current cash into its history and distributes it equally
    across its outlinks; DANGLING hosts' cash goes to the virtual
    root and is redistributed uniformly to every host next round
    (the paper's virtual page, which also guarantees ergodicity).
    Accumulated history after k rounds is the importance estimate —
    unlike PageRank it is meaningful after ANY number of rounds,
    which is the point: a crawler reprioritizes its frontier from
    partial history without waiting for convergence.

    Integer determinism: cash0 = OPIC_SCALE DIV n_hosts; per round
    inflow = sum(cash DIV outdeg) over in-edges, dangling total and
    its uniform share dang DIV n_hosts are exact BIGINT; history
    adds pre-distribution cash. DIV truncation leaks < 1 unit per
    edge per round — ordering-irrelevant at 1e9 scale and bit-exactly
    reproduced by the unrolled DuckDB oracle.

    Scale shape: per round one equi-join of the host-level cash
    vector (broadcast) onto src-partitioned edges + one groupBy(dst)
    with map-side combine; the dangling total is a scalar probe on
    the host-level relation (authority_budgets idiom); cash
    localCheckpoints each round so lineage stays flat (the
    connected_components idiom)."""
    nodes = (
        edges.select(F.col("src").alias("host"))
        .union(edges.select(F.col("dst").alias("host")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_hosts = nodes.count()
    if n_hosts == 0:
        return nodes.select(
            "host",
            F.lit(0).cast("long").alias("history_micro"),
            F.lit(0).cast("long").alias("cash_micro"),
        )
    outdeg = edges.groupBy("src").agg(F.count("*").alias("outdeg"))
    state = nodes.select(
        "host",
        F.lit(0).cast("long").alias("history_micro"),
        F.lit(OPIC_SCALE // n_hosts).cast("long").alias("cash_micro"),
    ).localCheckpoint(eager=True)
    for _ in range(iters):
        dang = (
            state.join(outdeg.select(F.col("src").alias("host"),
                                     "outdeg"), "host", "left")
            .filter(F.col("outdeg").isNull())
            .agg(F.sum("cash_micro"))
            .collect()[0][0]
        ) or 0
        share = dang // n_hosts
        inflow = (
            edges.join(outdeg, "src")
            .join(
                state.select(F.col("host").alias("src"),
                             F.col("cash_micro").alias("src_cash")),
                "src",
            )
            .select("dst", F.expr("src_cash DIV outdeg").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("inflow"))
        )
        state = (
            state.join(
                inflow.select(F.col("dst").alias("host"), "inflow"),
                "host", "left",
            )
            .select(
                "host",
                (F.col("history_micro") + F.col("cash_micro"))
                .cast("long").alias("history_micro"),
                (F.coalesce("inflow", F.lit(0)) + F.lit(share))
                .cast("long").alias("cash_micro"),
            )
            .localCheckpoint(eager=True)
        )
    return state


def demoted_budgets(ranks: DataFrame, spam: DataFrame,
                    total_budget: int) -> DataFrame:
    """(host, budget, demoted): authority_budgets with spam demotion —
    the composition point where the X103 signal changes what the
    crawler DOES. Hosts flagged is_spam_candidate are removed from the
    apportionment (their share redistributes to clean hosts by the
    same exact largest-remainder arithmetic) and re-emitted with
    budget 0 and demoted=TRUE: an explicit zero-budget row is
    auditable and composes with the per-host budget override
    (budget 0 = "fetch nothing this superstep"), where silently
    dropping the host would mean "no override" and let the default
    budget through — the exact failure a demotion list exists to
    prevent. Budgets over the clean set still sum EXACTLY to
    total_budget. Both inputs are host-level dims; one anti-join +
    one semi-derived union, nothing frontier-sized moves."""
    cand = spam.filter(F.col("is_spam_candidate")).select("host")
    clean = ranks.join(cand, "host", "left_anti")
    kept = authority_budgets(clean, total_budget).select(
        "host", "budget", F.lit(False).alias("demoted")
    )
    zeroed = cand.select(
        "host",
        F.lit(0).cast("long").alias("budget"),
        F.lit(True).alias("demoted"),
    )
    return kept.unionByName(zeroed)
