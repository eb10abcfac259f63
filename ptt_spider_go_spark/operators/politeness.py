"""Per-host politeness budgets + robots rules + salted skew shuffle.

Reference semantics (T1): every request sleeps U[minMs, maxMs) per
worker (crawler/crawler.go:59-65,485-498), i.e. each of W workers
sustains ~1/avg_delay req/s — a *rate* limit. At superstep granularity
that is a per-host row budget: budget = W * superstep_ms / avg_delay_ms
(config.py). Rows over budget are deferred to the next superstep, which
reproduces "the crawl takes longer", never "URLs are dropped".

Skew (T6 [north_rule]): a PTT crawl is single-host, so a naive
groupBy(host) serializes everything into one task. The budget is split
across `salt` lanes — budget_lane = budget/salt (+1 for the first
`budget % salt` lanes, so the host total is exact) — and each lane
takes its share in priority order. This mirrors the reference exactly:
its W workers also each apply politeness independently with no global
priority coordination (SURVEY §4 "single-host serialization").

Robots [north_rule]: the reference does not parse robots.txt; rules
arrive as a (host, path_prefix, allowed) table whose `path_prefix` is an
RFC 9309 path pattern (`*` and a trailing `$`), matched against the
URL's path + `?query`. One matcher, robots_verdict, decides every
verdict from a per-host rule array (robots_host_rules).

Per-host policy meets the rows in one place, with_host_policy: one
frame per distinct host holds the host's robots rule array, blocklist
verdict and budget, and ONE broadcast join on host carries it to every
row. The robots verdict, the blocked flag and the lane budget are then
projections, and only the budget's salted lanes shuffle the frontier.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ptt_spider_go_spark.functions.columns import _let, url_host
from ptt_spider_go_spark.operators.blocklist import blocklist_verdicts


def apply_robots(frontier: DataFrame, robots: DataFrame | None) -> DataFrame:
    """Drop frontier rows the (host, path_prefix, allowed) robots rules
    disallow."""
    if robots is None:
        return frontier
    return (robots_allowed(frontier, robots_host_rules(robots))
            .filter("allowed").drop("allowed", "rule"))


def robots_host_rules(robots: DataFrame) -> DataFrame:
    """(host, path_prefix, allowed) rules -> (_host, _rules): one row per
    host holding its rules as an array of (len, allowed, pattern, rx)
    structs, where len is the pattern's octet length and rx its
    robots_pattern_rx regex. Build it once per rule table; it is the
    broadcast side of robots_allowed."""
    p = F.col("path_prefix")
    rule = F.struct(
        F.octet_length(p).alias("len"), "allowed", p.alias("pattern"),
        robots_pattern_rx(p).alias("rx"),
    )
    return robots.groupBy(F.col("host").alias("_host")).agg(
        F.collect_list(rule).alias("_rules"))


def with_host_policy(rows: DataFrame, host_rules: DataFrame | None = None,
                     blocklist: DataFrame | None = None,
                     host_budgets: DataFrame | None = None) -> DataFrame:
    """`rows` + `_host` (the url's host) + the per-host policy columns
    of the tables given:

    - `_rules`: the host's robots rule array (robots_host_rules), which
      robots_verdict reads;
    - `blocked`, `matched_pattern`: its blocklist verdict
      (operators/blocklist.py);
    - `host_budget`: its (host, budget) row's budget, NULL without one.

    This is the one place the crawl's per-host policy meets a frontier
    row. The policy frame is host-level (tiny), so it meets `rows` in
    ONE broadcast join on `_host`, and the rows never shuffle. With a
    blocklist, or with both rule arrays and budgets, the frame starts
    from the distinct hosts of `rows` (with their blocklist verdicts)
    and left-joins the rule and budget tables by broadcast. A lone rule
    or budget table is the frame as it stands, which saves the census
    of hosts its shuffle. A NULL host (unparseable url) matches no policy row: no
    rules, a NULL (not true) `blocked`, no budget."""
    tagged = rows.withColumn("_host", url_host(F.col("url")))
    tables = [] if host_rules is None else [host_rules]
    if host_budgets is not None:
        tables.append(host_budgets.select(
            F.col("host").alias("_host"), F.col("budget").alias("host_budget")))
    policy = None
    if blocklist is not None or len(tables) > 1:
        policy = tagged.select("_host").distinct()
    if blocklist is not None:
        policy = blocklist_verdicts(policy, blocklist, "_host")
    for t in tables:
        policy = (t if policy is None
                  else policy.join(F.broadcast(t), "_host", "left"))
    if policy is None:
        return tagged
    return tagged.join(F.broadcast(policy), "_host", "left")


def robots_verdict(rows: DataFrame) -> DataFrame:
    """`rows` (a `url` and its host's `_rules` array, as
    with_host_policy joins it) + (allowed boolean, rule string).

    Each `path_prefix` is an RFC 9309 §2.2.3 path pattern (`*` spans
    any octets, a trailing `$` anchors the end; a pattern with neither
    is a plain prefix), matched against the URL's path plus `?query`
    when a query is present, so `Disallow: /*?sessionid=` style rules
    work. §2.2.2 precedence: among matching rules the one with the most
    pattern OCTETS decides ('/café' is 6 octets and outranks the
    5-octet '/caf*'); at equal length Allow beats Disallow. A URL no
    rule matches, including every URL of a host without rules, is
    allowed with a NULL `rule`; a matching rule whose `allowed` is NULL
    yields NULL, never allowed.

    One projection: `array_max` over the matching rule structs orders
    by (len, allowed, ...), and a struct's NULL field sorts first. The
    path and the best rule are let-bound, so a filter on `allowed` that
    Catalyst pushes into the join's projection still matches each row's
    path against its rules once."""
    # concat_ws skips a NULL query and keeps an empty one ('/a?')
    path = F.concat_ws(
        "?",
        F.coalesce(F.try_parse_url(F.col("url"), F.lit("PATH")), F.lit("/")),
        F.try_parse_url(F.col("url"), F.lit("QUERY")),
    )
    verdict = _let(path, lambda p: _let(
        F.array_max(F.filter("_rules", lambda r: F.regexp_like(p, r["rx"]))),
        lambda best: F.struct(
            F.when(best.isNull(), F.lit(True)).otherwise(best["allowed"])
            .alias("allowed"),
            best["pattern"].alias("rule"),
        ),
    ))
    return (
        rows.withColumn("_verdict", verdict)
        .withColumns({"allowed": F.col("_verdict.allowed"),
                      "rule": F.col("_verdict.rule")})
        .drop("_verdict")
    )


def robots_allowed(frontier: DataFrame, host_rules: DataFrame) -> DataFrame:
    """`frontier` + (allowed boolean, rule string) under the per-host
    rule arrays of robots_host_rules (robots_verdict)."""
    return robots_verdict(with_host_policy(frontier, host_rules)).select(
        *frontier.columns, "allowed", "rule")


def budgets_from_crawl_delays(delays: DataFrame, workers: int,
                              superstep_ms: int) -> DataFrame:
    """(host, crawl_delay_s) -> (host, budget): the same arithmetic the
    global budget uses (config.host_budget_per_superstep) with the
    host's declared delay as the envelope: budget = workers *
    superstep_ms / (delay_s * 1000), floored at 1."""
    b = F.greatest(
        F.lit(1).cast("long"),
        F.floor(
            F.lit(workers) * F.lit(superstep_ms)
            / (F.col("crawl_delay_s") * 1000.0)
        ).cast("long"),
    )
    return delays.select("host", b.alias("budget"))


def budget_gate(frontier: DataFrame, host_budget: int | Column, salt: int,
                order_cols: list | None = None,
                eligible: Column | None = None) -> DataFrame:
    """The frontier with an `admitted` flag under per-host budgets;
    rows not admitted are deferred to the next superstep.

    Admission is priority order within each of `salt` lanes per host;
    lane budgets sum exactly to the host's budget. `host_budget` is
    one budget for every host, or a Column giving each row its host's
    budget: with_host_policy's `host_budget` over a (host, budget)
    table (the robots Crawl-delay hook), coalesced to a default. Only
    rows where `eligible` holds (default: every row) compete for the
    budget: the rest rank after them in their lane and are never
    admitted. The hosts come from the frontier's `_host` column when
    it has one (with_host_policy adds it).
    """
    order_cols = order_cols or [
        F.col("kind_rank").asc(),
        F.col("page_no").desc(),
        F.col("warc_ts").asc(),
        F.col("url").asc(),
    ]
    if eligible is not None:
        order_cols = [eligible.desc(), *order_cols]
    lane = F.pmod(F.xxhash64(F.col("url")), F.lit(salt))
    w = Window.partitionBy("_host", "_lane").orderBy(*order_cols)
    tagged = (frontier if "_host" in frontier.columns
              else frontier.withColumn("_host", url_host(F.col("url"))))
    budget = F.lit(host_budget).cast("long")
    # exact per-host lane split: the first budget % salt lanes take one more
    lane_budget = (F.floor(budget / salt)
                   + (F.col("_lane") < budget % salt).cast("long"))
    admitted = F.row_number().over(w) <= lane_budget
    if eligible is not None:
        admitted = eligible & admitted
    return (
        tagged.withColumn("_lane", lane)
        .withColumn("admitted", admitted)
        .drop("_host", "_lane")
    )


def aimd_budgets(prev_budgets: DataFrame, fetch_log: DataFrame,
                 incr: int = 1, min_budget: int = 1,
                 max_budget: int | None = None,
                 default_budget: int = 64) -> DataFrame:
    """(host, budget) for the NEXT superstep: the AIMD control loop
    (TCP congestion avoidance; the adaptive-politeness rule production
    crawlers like Heritrix apply) over this superstep's fetch statuses.

    - multiplicative decrease: a host that returned ANY 429 this
      superstep halves its budget (shiftright — exact integer, floored
      at min_budget);
    - additive increase: a host fetched cleanly gains +incr (capped at
      max_budget when given);
    - hold: a host with budget but no fetches this superstep carries
      its budget unchanged (no congestion evidence either way);
    - a host seen in the log but absent from prev_budgets starts from
      default_budget before the rule applies.

    Composes downstream exactly like authority_budgets / Crawl-delay:
    the output is a (host, budget) table for with_host_policy, whose
    `host_budget` column budget_gate reads. All arithmetic
    is integer-exact (oracle-reproducible); the congestion signal is
    one groupBy(host) max over a narrow (url, status) projection.
    """
    sig = (
        fetch_log.withColumn("_h", url_host(F.col("url")))
        .groupBy("_h")
        .agg(F.max((F.col("status") == 429).cast("int")).alias("congested"))
        .select(F.col("_h").alias("host"), "congested")
    )
    merged = prev_budgets.select("host", "budget").join(sig, "host", "outer")
    b = F.coalesce(F.col("budget"), F.lit(default_budget).cast("long"))
    nxt = (
        F.when(
            F.col("congested") == 1,
            F.greatest(F.lit(min_budget).cast("long"), F.shiftright(b, 1)),
        )
        .when(F.col("congested") == 0, b + incr)
        .otherwise(b)
    )
    if max_budget is not None:
        nxt = F.least(nxt, F.lit(max_budget).cast("long"))
    return merged.select("host", nxt.cast("long").alias("budget"))


#: crawler-trap thresholds (Heritrix-style defaults, scaled to web
#: practice): calendars/faceted search/session loops show up as deep
#: paths, repeated path segments, parameter explosions, or absurd URL
#: lengths long before robots.txt catches them.
TRAP_MAX_DEPTH = 12
TRAP_DUP_SEGMENTS = 3
TRAP_MAX_PARAMS = 8
TRAP_MAX_URL_LEN = 512


def with_trap_flags(df: DataFrame,
                    max_depth: int = TRAP_MAX_DEPTH,
                    dup_segments: int = TRAP_DUP_SEGMENTS,
                    max_params: int = TRAP_MAX_PARAMS,
                    max_url_len: int = TRAP_MAX_URL_LEN) -> DataFrame:
    """Append (path_depth, dup_segs, n_params, url_len, is_trap,
    trap_reason) to any url-bearing frame — the column-only form the
    crawl loop composes with (no join, no shuffle; the flags are a
    stateless projection over the frontier it already holds). The path
    segments and the query are let-bound, so each is extracted once per
    row."""
    path = F.regexp_extract(F.col("url"), "^[a-z]+://[^/?#]+([^?#]*)", 1)
    query = F.regexp_extract(F.col("url"), "\\?([^#]*)", 1)
    flags = _let(F.filter(F.split(path, "/"), lambda x: x != ""), lambda segs:
                 _let(query, lambda q: F.struct(
                     F.size(segs).alias("path_depth"),
                     (F.size(segs) - F.size(F.array_distinct(segs)))
                     .alias("dup_segs"),
                     F.when(q == "", F.lit(0))
                     .otherwise(F.size(F.split(q, "&"))).alias("n_params"),
                 )))
    x = df.withColumn("_trap", flags).withColumns({
        "path_depth": F.col("_trap.path_depth"),
        "dup_segs": F.col("_trap.dup_segs"),
        "n_params": F.col("_trap.n_params"),
        "url_len": F.length(F.col("url")),
    }).drop("_trap")
    reason = (
        F.when(F.col("path_depth") > max_depth, "path_depth")
        .when(F.col("dup_segs") >= dup_segments, "repeated_segments")
        .when(F.col("n_params") > max_params, "param_explosion")
        .when(F.col("url_len") > max_url_len, "url_length")
    )
    return x.withColumns({
        "is_trap": reason.isNotNull(),
        "trap_reason": reason,
    })


def trap_suspects(frontier: DataFrame,
                  max_depth: int = TRAP_MAX_DEPTH,
                  dup_segments: int = TRAP_DUP_SEGMENTS,
                  max_params: int = TRAP_MAX_PARAMS,
                  max_url_len: int = TRAP_MAX_URL_LEN) -> DataFrame:
    """(url, path_depth, dup_segs, n_params, url_len, is_trap, reason):
    crawler-trap heuristics over frontier URLs — the hygiene gate that
    keeps a 10^10-URL frontier from sinking into calendar loops,
    faceted-search cross products, and session-id echo chambers
    (Heritrix's TooManyHopsDecideRule / PathologicalPathDecideRule
    family). A URL is flagged, never silently dropped: run_crawl's
    trap_filter mode routes is_trap rows to the `trapped` result table
    (quarantine-style accounting).

    All four rules are pure column expressions over regex-extracted
    path/query parts (the SAME regexes the DuckDB oracle runs, so the
    split is engine-agnostic): path depth, repeated path segments
    (size - size(array_distinct) — the /a/b/a/b calendar shape),
    query-parameter count, and total URL length. `reason` is the
    FIRST matching rule in that fixed order (deterministic). Zero
    shuffles — a stateless projection, same class as recrawl_due."""
    return with_trap_flags(
        frontier.select("url"), max_depth, dup_segments, max_params,
        max_url_len,
    ).withColumnRenamed("trap_reason", "reason")


# --- X90: RFC 9309 wildcard matching ----------------------------------------

def robots_pattern_rx(pattern):
    """Column chain translating a robots path pattern to an anchored
    regex (RFC 9309 §2.2.3): trailing `$` anchors, `*` -> `.*`, every
    other metachar escaped. JVM-side twin of
    sources.robots.robots_pattern_regex (parity-pinned); output is
    valid in BOTH Java regex and RE2 so the DuckDB oracle can run the
    identical translated pattern."""
    anchored = pattern.endswith("$")
    core = F.when(
        anchored, pattern.substr(F.lit(1), F.length(pattern) - 1)
    ).otherwise(pattern)
    esc = F.regexp_replace(core, r"([.^$+?()\[\]{}|\\])", r"\\$1")
    star = F.regexp_replace(esc, r"\*", ".*")
    return F.concat(
        F.lit("^"), star, F.when(anchored, F.lit("$")).otherwise(F.lit(""))
    )


# --- X97: robots-fetch-first scheduling --------------------------------------

def robots_fetch_plan(frontier: DataFrame,
                      robots_hosts: DataFrame) -> DataFrame:
    """(url, host, action, priority): split a frontier into what may be
    fetched NOW vs what must wait for robots.txt — RFC 9309 requires a
    crawler to consult a host's robots file before fetching any of its
    URLs, so a host whose robots is not yet cached contributes one
    `robots_fetch` task (scheme://host/robots.txt, carrying the host's
    BEST frontier priority so the permission check never queues behind
    the pages it gates) and all of its page rows as `defer`; hosts in
    `robots_hosts` (one `host` column — the already-fetched cache) pass
    through as `fetch`.

    The reference never fetches robots.txt (SURVEY §2 R1 is an
    extension); this is the scheduling half that makes the R1 rule
    table OBTAINABLE in a real crawl loop. Scale shape: `robots_hosts`
    is host-level tiny -> broadcast left join (no frontier shuffle for
    the known/unknown split); the synthetic robots rows are one
    groupBy(host) over only the unknown-host slice. Deferred rows are
    kept, never dropped — the same defer-not-drop contract as
    budget_gate."""
    known = F.broadcast(
        robots_hosts.select(F.col("host").alias("_kh")).distinct())
    x = frontier.withColumn("host", url_host(F.col("url")))
    flagged = x.join(known, x["host"] == known["_kh"], "left")
    pages = flagged.select(
        "url", "host",
        F.when(F.col("_kh").isNotNull(), F.lit("fetch"))
        .otherwise(F.lit("defer")).alias("action"),
        F.col("priority"),
    )
    unknown = flagged.where(F.col("_kh").isNull())
    robots_rows = (
        unknown.groupBy("host")
        .agg(
            F.min("priority").alias("priority"),
            F.min(F.regexp_extract(F.col("url"), "^([a-z]+)://", 1))
            .alias("_scheme"),
        )
        .select(
            F.concat(F.col("_scheme"), F.lit("://"), F.col("host"),
                     F.lit("/robots.txt")).alias("url"),
            "host",
            F.lit("robots_fetch").alias("action"),
            "priority",
        )
    )
    return pages.unionByName(robots_rows)


# --- X98: per-host path-subtree rollup ---------------------------------------

def path_subtrees(frontier: DataFrame,
                  max_depth: int = 3,
                  min_urls: int = 100,
                  min_share: float = 0.5) -> DataFrame:
    """(host, prefix, depth, n_urls, host_urls, share, is_heavy):
    heavy-hitter rollup over URL path PREFIXES — every frontier URL
    contributes its /s1, /s1/s2, ... prefixes up to `max_depth`, and a
    (host, prefix) subtree holding >= `min_urls` URLs AND >=
    `min_share` of its host's frontier is flagged heavy. This is the
    subtree-level complement of trap_suspects' per-URL rules: a
    calendar loop or faceted-search cross product concentrates a
    host's frontier under one shallow prefix long before any single
    URL trips a per-URL rule (Heritrix's PathologicalPath works per
    URL; frontier-share analysis is how large crawls spot the subtree
    itself).

    Scale shape: one bounded explode (<= max_depth rows per URL), one
    groupBy(host, prefix) with map-side combine, host totals from a
    separate tiny groupBy(host) broadcast back — no window over the
    exploded relation, no per-URL state. Root-path URLs ('/') have no
    prefix rows but still count toward host_urls."""
    path = F.regexp_extract(F.col("url"), "^[a-z]+://[^/?#]+([^?#]*)", 1)
    segs = F.filter(F.split(path, "/"), lambda x: x != "")
    depths = F.when(
        F.size(segs) > 0,
        F.sequence(F.lit(1), F.least(F.size(segs), F.lit(max_depth))),
    ).otherwise(F.expr("CAST(array() AS ARRAY<INT>)"))
    prefixes = F.transform(
        depths,
        lambda i: F.struct(
            i.alias("depth"),
            F.concat(F.lit("/"), F.array_join(F.slice(segs, F.lit(1), i),
                                              "/")).alias("prefix"),
        ),
    )
    x = frontier.select(url_host(F.col("url")).alias("host"),
                        prefixes.alias("_pfx"))
    totals = x.groupBy("host").agg(F.count("*").alias("host_urls"))
    rolled = (
        x.select("host", F.explode("_pfx").alias("p"))
        .groupBy("host", F.col("p.prefix").alias("prefix"),
                 F.col("p.depth").alias("depth"))
        .agg(F.count("*").alias("n_urls"))
    )
    return (
        rolled.join(F.broadcast(totals), "host")
        .withColumn(
            "share", F.round(F.col("n_urls") / F.col("host_urls"), 4))
        .withColumn(
            "is_heavy",
            (F.col("n_urls") >= F.lit(min_urls))
            & (F.col("share") >= F.lit(min_share)),
        )
        .select("host", "prefix", "depth", "n_urls", "host_urls",
                "share", "is_heavy")
    )


# --- X99: per-IP politeness groups -------------------------------------------

def ip_group_budgets(host_budgets: DataFrame, dns: DataFrame) -> DataFrame:
    """(host, ip, ip_budget, budget): regroup per-host politeness
    budgets by resolved IP — Heritrix's queue-by-IP: virtual hosts
    sharing one server must share one politeness envelope, or a
    crawler that is polite per hostname hammers the box 50 hostnames
    at a time. The group's envelope is the MIN member budget (the
    most restrictive member's pace — a shared server is only as
    tolerant as its strictest tenant), re-split across the group's
    hosts proportionally to their original budgets by the exact
    largest-remainder method (authority_budgets' arithmetic:
    base = B*w DIV W, leftover to the largest B*w % W remainders,
    ties by host asc — BIGINT end to end, per-group sums EXACT).
    Hosts absent from `dns` form singleton groups (key
    'unresolved:<host>') and keep their budget unchanged.

    Scale shape: `dns` and `host_budgets` are host-level dimensions
    (tiny) — broadcast join, two tiny groupBys, one window
    PARTITIONED by ip over the host-level relation. Nothing
    frontier-sized is touched."""
    x = (
        host_budgets.join(F.broadcast(dns), "host", "left")
        .withColumn(
            "ip",
            F.coalesce(F.col("ip"),
                       F.concat(F.lit("unresolved:"), F.col("host"))),
        )
    )
    grp = x.groupBy("ip").agg(
        F.min("budget").alias("ip_budget"),
        F.sum("budget").alias("w_total"),
    )
    alloc = (
        x.join(F.broadcast(grp), "ip")
        .withColumn(
            "base",
            F.when(F.col("w_total") > 0,
                   F.expr("ip_budget * budget DIV w_total"))
            .otherwise(F.lit(0)).cast("long"),
        )
        .withColumn(
            "rem",
            F.when(F.col("w_total") > 0,
                   F.expr("ip_budget * budget % w_total"))
            .otherwise(F.lit(0)).cast("long"),
        )
    )
    leftovers = alloc.groupBy("ip").agg(
        (F.first("ip_budget") - F.sum("base")).alias("leftover"))
    w = Window.partitionBy("ip").orderBy(F.col("rem").desc(),
                                         F.col("host").asc())
    return (
        alloc.join(F.broadcast(leftovers), "ip")
        .withColumn("_rk", F.row_number().over(w))
        .select(
            "host", "ip", "ip_budget",
            (F.col("base")
             + F.when(F.col("_rk") <= F.col("leftover"), F.lit(1))
             .otherwise(F.lit(0))).cast("long").alias("budget"),
        )
    )


# --- X100: robots cache expiry -> refresh plan --------------------------------

def robots_refresh_plan(frontier: DataFrame, cache: DataFrame,
                        now_epoch_s: int,
                        ttl_s: int = 86_400) -> DataFrame:
    """robots_fetch_plan with cache EXPIRY (RFC 9309 §2.4: cached
    robots files must be refreshed; 24 h is the conventional
    lifetime): `cache` carries (host, fetched_at timestamp), and a
    host whose copy is older than `ttl_s` counts as UNKNOWN — its
    pages defer and one prioritized robots_fetch task is emitted,
    exactly the cache-miss path. Integer-second comparison
    (unix_timestamp > now - ttl), so the boundary is exact and
    oracle-reproducible. The cache is host-level tiny; the filter
    runs before the broadcast, the frontier never shuffles."""
    valid = cache.where(
        F.unix_timestamp(F.col("fetched_at"))
        > F.lit(int(now_epoch_s) - int(ttl_s))
    ).select("host")
    return robots_fetch_plan(frontier, valid)


# --- X101: frontier drain planner ---------------------------------------------

def drain_plan(frontier: DataFrame, host_budgets: DataFrame) -> DataFrame:
    """(host, n_urls, budget, supersteps, is_starved, is_critical):
    how many politeness-bounded supersteps each host needs to drain
    its frontier slice — supersteps = ceil(n_urls / budget) in exact
    integer arithmetic ((n + b - 1) DIV b), NULL plus is_starved for
    hosts with no (or zero) budget, is_critical on the host(s) whose
    drain time IS the cycle's critical path (max supersteps). The
    crawl-cycle capacity report a scheduler reads before deciding
    budgets were fair: the reference's fixed worker pool has a single
    implicit drain time, a 10^10-URL frontier has one per host.

    Scale shape: one groupBy(host) with map-side combine over the
    frontier (its only shuffle), broadcast budget join; the relation is
    host-level (tiny) after that, so it is localCheckpoint-ed and the
    cycle max is a scalar driver probe (the authority_budgets idiom) —
    no global window, no cross join, no driver loop over data rows."""
    counts = (
        frontier.select(url_host(F.col("url")).alias("host"))
        .groupBy("host").agg(F.count("*").alias("n_urls"))
    )
    j = (
        counts.join(F.broadcast(host_budgets), "host", "left")
        .withColumn(
            "supersteps",
            F.when(
                F.col("budget") > 0,
                F.expr("(n_urls + budget - 1) DIV budget"),
            ).cast("long"),
        )
        .withColumn("is_starved", F.col("supersteps").isNull())
    ).localCheckpoint(eager=True)
    max_ss = j.agg(F.max("supersteps")).collect()[0][0]
    return j.select(
        "host", "n_urls", "budget", "supersteps", "is_starved",
        (F.col("supersteps").isNotNull()
         & (F.col("supersteps") == F.lit(max_ss)))
        .alias("is_critical"),
    )


def politeness_receipts(fetch_log: DataFrame,
                        host_budgets: DataFrame | None = None,
                        default_budget: int = 64) -> DataFrame:
    """Per-host politeness COMPLIANCE RECEIPT over a crawl's fetch log:
    (host, budget, n_supersteps, n_attempts, n_ok, n_throttled,
    max_step_attempts, n_violations, compliant).

    budget_gate enforces per-host budgets going IN; this is the audit
    coming OUT — the evidence table an operator shows when asked
    whether the crawl honored its declared limits (the same
    receipts-not-assurances posture as takedown_audit's per-rule
    n_matched rows). The reference's politeness is its fixed worker
    pool + per-request sleep (crawler/crawler.go worker dispatch) —
    one implicit global receipt; a 10^10-URL crawl needs one per host:

      - n_attempts / n_ok / n_throttled: requests issued, 200s, 429s;
      - max_step_attempts: the busiest superstep's request count —
        the number to compare against the declared budget;
      - n_violations: supersteps whose attempts EXCEEDED the host's
        declared budget (override from `host_budgets` when present,
        else `default_budget`);
      - compliant: n_violations == 0. Over run_crawl's own log this
        is true for every host BY CONSTRUCTION (budget_gate admits at
        most `budget` URLs per host per superstep) — pinned by test;
        over a foreign log it is the compliance check.

    Scale shape: one narrow (host, superstep, status) projection, a
    groupBy(host, superstep) with map-side combine, a broadcast join
    against the tiny budget relation, and a groupBy(host) rollup —
    no window, no driver loop, nothing wide ever sorts."""
    per_step = (
        fetch_log.withColumn("_h", url_host(F.col("url")))
        .groupBy("_h", "superstep")
        .agg(
            F.count("*").alias("_n"),
            F.sum((F.col("status") == 200).cast("long")).alias("_ok"),
            F.sum((F.col("status") == 429).cast("long")).alias("_thr"),
        )
    )
    if host_budgets is not None:
        ov = host_budgets.select(
            F.col("host").alias("_h"), F.col("budget").alias("_b"))
        per_step = per_step.join(F.broadcast(ov), "_h", "left")
    else:
        per_step = per_step.withColumn("_b", F.lit(None).cast("long"))
    per_step = per_step.withColumn(
        "_eff", F.coalesce(F.col("_b"), F.lit(default_budget).cast("long")))
    return (
        per_step.groupBy("_h")
        .agg(
            F.max("_eff").alias("budget"),
            F.count("*").alias("n_supersteps"),
            F.sum("_n").alias("n_attempts"),
            F.sum("_ok").alias("n_ok"),
            F.sum("_thr").alias("n_throttled"),
            F.max("_n").alias("max_step_attempts"),
            F.sum((F.col("_n") > F.col("_eff")).cast("long"))
            .alias("n_violations"),
        )
        .select(
            F.col("_h").alias("host"), "budget", "n_supersteps",
            "n_attempts", "n_ok", "n_throttled", "max_step_attempts",
            "n_violations",
            (F.col("n_violations") == 0).alias("compliant"),
        )
    )
