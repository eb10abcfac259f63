"""The iterative frontier crawl plan (SURVEY §3.1 Spark lifecycle).

A bounded BFS expressed as a batch superstep loop — not Structured
Streaming — because the crawl is an iterative fixpoint over a priority
frontier (BASELINE.json north_star). Each superstep:

  0. opt-in trap and blocklist flags (flag-and-divert)
  1. robots verdicts                                 [north_rule]
  2. per-host politeness budget flag, salted lanes   (T1/T6)
     — the blocklist verdict, robots rules and host budget of steps
     0-2 reach each row through ONE broadcast join of the frontier to
     a host-level frame (politeness.with_host_policy); the
     blocked flag, the robots verdict and the lane budget are
     projections over it, so the budget's salted lanes are the only
     frontier shuffle
  3. retry-ledger resolution of simulated statuses   (T2)
     — steps 0-3 are column producers, and the step ledger is ONE
     projection over their flags: one host-policy join, one budget
     rank and one fetch-status join per superstep
  4. "fetch" = equi-join frontier ⋈ pages on url     (J1; broadcast
     hint on the frontier side — the budget bounds its size)
  5. Arrow-vectorized parse in one mapInArrow pass, one parse per
     page: index pages -> article rows (P1, UDTF shape), article pages
     -> content (P2 + D1 + D2) and the byte-identical text check (P4)
  6. push-rate filter on candidates (F1), global URL-seen dedup of
     new candidates (D4: Bloom shards + exact anti-join verify)
  7. next frontier = fresh candidates ∪ deferred ∪ retries
  8. append-only commit of frames the step already materialized: the
     step ledger (steps 0-3: every frontier row with its gate or fetch
     outcome), the parsed rows and the seen delta (fresh)

After the loop, one deterministic assembly pass derives every output
table from the per-step (ledger, parsed) parts — the same code whether
the parts were committed or only held in memory — applies the global
dir-collision window (D3) and renders download_tasks / markdown_docs.
Assembly is scheduling-independent: its window order is
(page_no desc, pos, url), so deferred/retried articles land in the
same directories regardless of which superstep fetched them — this is
what makes kill-and-resume byte-identical.
"""

from __future__ import annotations

import functools
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from ptt_spider_go_spark.config import CrawlConfig
from ptt_spider_go_spark.errors import quarantine_from_fetch_log
from ptt_spider_go_spark.functions.columns import final_title
from ptt_spider_go_spark.functions.udfs import (
    KERNEL_INPUT_COLS,
    PARSED_ALL_SCHEMA,
    make_parse_page_kernel,
)
from ptt_spider_go_spark.operators.collision import with_unique_dir
from ptt_spider_go_spark.operators.dedup import (
    BloomShardSet,
    CuckooShardSet,
    dedup_against_seen,
)
from ptt_spider_go_spark.operators.politeness import (
    aimd_budgets,
    budget_gate,
    robots_host_rules,
    robots_verdict,
    with_host_policy,
    with_trap_flags,
)
from ptt_spider_go_spark.operators.progress import (
    progress_events,
    progress_metrics,
)
from ptt_spider_go_spark.operators.retrysim import apply_fetch_status
from ptt_spider_go_spark.plans.checkpoint import CheckpointManager
from ptt_spider_go_spark.sinks.markdown import markdown_docs
from ptt_spider_go_spark.sources.seeds import (
    FRONTIER_COLS,
    board_frontier,
    file_frontier,
    probe_max_pages,
    probe_max_pages_from_urls,
    sitemap_frontier,
)

@dataclass
class CrawlResult:
    articles: DataFrame
    contents: DataFrame
    download_tasks: DataFrame
    markdown_docs: DataFrame
    seen: DataFrame
    fetch_log: DataFrame
    metrics: DataFrame
    progress_events: DataFrame | None = None
    quarantine: DataFrame | None = None
    trapped: DataFrame | None = None
    blocked: DataFrame | None = None
    host_budget_log: DataFrame | None = None
    archive_cdx: DataFrame | None = None
    url_telemetry: DataFrame | None = None
    timings: dict = field(default_factory=dict)
    supersteps: int = 0
    wall_secs: float = 0.0


def _empty(spark: SparkSession, schema: str) -> DataFrame:
    return spark.createDataFrame([], schema)


def _checkpoint_counted(df: DataFrame) -> tuple[DataFrame, int]:
    """`df` localCheckpointed, and its row count, observed on the
    checkpoint job itself rather than counted by a job of its own. An
    Observation serves one action, so each call makes its own."""
    obs = Observation()
    out = df.observe(obs, F.count(F.lit(1)).alias("n")).localCheckpoint(
        eager=True)
    return out, obs.get["n"]


@contextmanager
def _timed(label: str, timings: dict | None = None):
    """Wall-clock a materialization block into `timings` (two keys: the
    step-qualified label, and a cross-step 'phase.<name>' accumulator
    the scaling bench reads). The time.time() pair is nanoseconds of
    overhead against multi-second Spark jobs."""
    t = time.time()
    yield
    dt = time.time() - t
    if timings is not None:
        timings[label] = round(timings.get(label, 0.0) + dt, 4)
        phase = label.split(".", 1)[-1]
        key = f"phase.{phase}"
        timings[key] = round(timings.get(key, 0.0) + dt, 4)


_FRONTIER_SCHEMA = (
    "url string, kind string, kind_rank int, board string, page_no int, "
    "pos int, depth int, warc_ts timestamp, title string, author string, "
    "push_rate int, attempt int, backoff_ms long"
)
#: a step ledger row: the frontier row (attempt/backoff advanced on a
#: 429 retry) with its outcome — trapped, blocked, deferred, ok,
#: retry_429 or failed — final HTTP status and trap rule or blocklist
#: pattern
_LEDGER_SCHEMA = (
    _FRONTIER_SCHEMA
    + ", outcome string, status int, reason string, superstep int"
)
_PARSED_SCHEMA = PARSED_ALL_SCHEMA + ", superstep int"


def run_crawl(
    spark: SparkSession,
    pages: DataFrame,
    cfg: CrawlConfig,
    boards: list[str] | None = None,
    file_urls_path: str | None = None,
    fetch_events: DataFrame | None = None,
    robots: DataFrame | None = None,
    host_budgets: DataFrame | None = None,
    checkpoint_dir: str | None = None,
    resume: bool = False,
    broadcast_frontier: bool | str = "auto",
    broadcast_max_rows: int = 200_000,
    probe_strategy: str = "html",
    trap_filter: bool = False,
    blocklist: DataFrame | None = None,
    seed_from_sitemaps: bool = False,
    aimd: bool = False,
    archive_dir: str | None = None,
    sketch_telemetry: bool = False,
) -> CrawlResult:
    """Run the crawl to fixpoint (or cfg.max_supersteps) and assemble
    outputs. `checkpoint_dir` enables per-step commits + resume; with
    `resume=True` the loop continues from the last committed superstep.

    `robots` is a (host, path_prefix, allowed) rule table. Each
    `path_prefix` is an RFC 9309 path pattern (`*` spans any octets, a
    trailing `$` anchors the end) matched against the URL's path +
    `?query`; the longest matching pattern decides and Allow wins ties
    (operators.politeness.robots_allowed). A disallowed row leaves the
    crawl; a URL no rule matches is allowed.

    Every fetched article page's text is checked against its `text`
    column: `contents.text_match` is True when the page text parsed in
    the crawl equals it byte for byte, False when it differs and NULL
    when `text` is NULL.

    Two opt-in loop stages (default off, so the pinned reference-parity
    outputs are untouched — the trap_filter pattern; VERDICT r04
    next-round #4):

    - `blocklist`: a (pattern) DataFrame of registrable-domain
      blocklist entries (operators/blocklist.py) gates the frontier
      each superstep; blocked rows divert to CrawlResult.blocked with
      their winning pattern (flag-and-divert, like the trap gate).
    - `seed_from_sitemaps`: union the initial frontier with the
      robots->`Sitemap:`->sitemap-entries discovery chain
      (sources.seeds.sitemap_frontier) — board-mode only; reaches pages
      no crawled board index links.
    - `aimd`: recompute the per-host budget table each superstep from
      the PREVIOUS superstep's fetch log via operators.politeness.
      aimd_budgets (multiplicative decrease on any 429, additive
      increase on clean fetches, hold with no evidence). The caller's
      `host_budgets` seeds superstep 0; hosts without a row start at
      cfg.host_budget_per_superstep. The per-superstep budget tables
      are returned as CrawlResult.host_budget_log (superstep = the
      step whose LOG produced them, i.e. they gate step+1). AIMD state
      is in-memory only: a resumed run re-seeds budgets from
      `host_budgets`/the default and re-adapts within one superstep
      (scheduling-only state — assembly is scheduling-independent, so
      outputs are unaffected).
    - `sketch_telemetry`: emit CrawlResult.url_telemetry — per-superstep
      and cumulative distinct-URL estimates from mergeable HLL sketches
      (operators/sketches.py, X111); pure side output, default off.
    """
    t0 = time.time()
    timings: dict = {}
    file_mode = file_urls_path is not None
    ckpt = CheckpointManager(checkpoint_dir, spark) if checkpoint_dir else None

    # Filter state is driver-resident and never persisted: on resume
    # the Bloom filter is rebuilt from the committed seed and fresh
    # deltas, so the checkpoint manifest stays the crawl's only commit
    # protocol.
    blooms = BloomShardSet(cfg.bloom_shards, fpp=cfg.bloom_fpp)
    # north_star: cuckoo-filter verification pass on Bloom probable hits
    # (~99% of Bloom FPs never reach the exact anti-join). Engages
    # adaptively: below cfg.cuckoo_min_seen rows the exact join is
    # already cheap and the extra probe pass is pure overhead; at the
    # crossing, the filter is bulk-built from the full seen set in one
    # distributed pass (it must contain ALL seen URLs to stay
    # false-negative-free), then maintained incrementally. Capacity is
    # derived from the activation threshold (it engages holding
    # ~cuckoo_min_seen fingerprints, so a fixed size would overflow at
    # the crossing); the 2^16 floor keeps forced-on test configs
    # (cuckoo_min_seen=0) from starting life overflowed.
    cuckoos = CuckooShardSet.for_capacity(
        cfg.bloom_shards, max(cfg.cuckoo_min_seen, 1 << 16)
    )
    cuckoo_active = False
    n_seen_est = 0

    def _cuckoo_for_step(seen_df):
        nonlocal cuckoo_active
        if n_seen_est < cfg.cuckoo_min_seen:
            return None
        if not cuckoo_active:
            cuckoos.add_df(seen_df)  # one-time bulk build at crossing
            cuckoo_active = True
        return cuckoos

    # Per-step (ledger, parsed) parts — assembly's only input, in both
    # modes. A resumed run reads the committed steps' parts back once;
    # every step run here appends its in-memory (checkpointed) frames.
    ledgers: list[DataFrame] = []
    parsed_parts: list[DataFrame] = []
    start_step = 0
    last = ckpt.last_committed_step() if resume and ckpt else None
    if last is not None:
        start_step = last + 1
        done = list(range(start_step))
        ledgers.append(ckpt.read_steps(done, "ledger"))
        parsed_parts.append(ckpt.read_steps(done, "parsed"))
        seed = None  # committed with step 0
        seen = ckpt.read_steps([0], "seed").select("url").unionByName(
            ckpt.read_steps(done, "fresh").select("url")
        )
        frontier = _next_frontier(
            ckpt.read_steps([last], "ledger"), ckpt.read_steps([last], "fresh")
        )
        # cuckoo_active stays False: _cuckoo_for_step bulk-builds the
        # cuckoo filter from seen once n_seen_est crosses its threshold
        n_seen_est = blooms.add_df(seen)
    else:
        if file_mode:
            frontier = file_frontier(spark, file_urls_path)
        else:
            boards = boards or [cfg.board]
            with _timed("init.probe_max_pages", timings):
                # S2: landing-page parse (reference parity) or the
                # url-only aggregate (column-pruned; never reads html).
                if probe_strategy == "urls":
                    max_pages = probe_max_pages_from_urls(pages, boards)
                else:
                    max_pages = probe_max_pages(pages, boards)
            frontier = board_frontier(spark, max_pages, cfg.pages)
            if seed_from_sitemaps:
                # robots -> Sitemap: -> entries; the seed dedup window
                # below collapses any URL the board frontier already
                # holds (kind_rank/page_no priority picks one row).
                with _timed("init.sitemap_frontier", timings):
                    frontier = frontier.unionByName(sitemap_frontier(pages))
        # Seen-set semantics: a URL is "seen" the moment it is ENQUEUED
        # (reference parity: each URL is produced once per run,
        # crawler.go:350-424). Enqueue-time membership also guarantees
        # the frontier never holds duplicates across supersteps —
        # a deferred URL rediscovered later would otherwise double up.
        seed_w = Window.partitionBy("url").orderBy(
            F.col("kind_rank").asc(), F.col("page_no").desc(), F.col("pos").asc()
        )
        with _timed("init.seed_frontier", timings):
            seed, n_seen_est = _checkpoint_counted(
                frontier.withColumn("_r", F.row_number().over(seed_w))
                .filter(F.col("_r") == 1)
                .select(FRONTIER_COLS)
            )
        frontier = seed
        seen = frontier.select("url")
        with _timed("init.bloom_seed", timings):
            blooms.add_df(seen)  # bloom must stay a superset of seen

    pages_fetch = pages.select("url", "warc_ts", "html", "text")
    # the robots rules grouped once into per-host arrays: every
    # superstep broadcasts this frame instead of re-grouping the table
    host_rules = (
        robots_host_rules(robots).localCheckpoint(eager=True)
        if robots is not None else None
    )

    budget_log_parts: list[DataFrame] = []
    cur_budgets = host_budgets
    step = start_step
    while step < cfg.max_supersteps:
        # Lineage truncation: an iterative loop's logical plan otherwise
        # grows superlinearly; every frame the loop carries (frontier,
        # ledger, parsed rows, fresh) is localCheckpointed once.
        with _timed(f"step{step}.frontier_ckpt", timings):
            frontier, n_frontier = _checkpoint_counted(
                frontier.select(FRONTIER_COLS))
        if n_frontier == 0:
            break

        # 0-3. the step ledger: ONE projection tags each frontier row
        # with the gate or fetch outcome that decides it this superstep
        # (trapped, else blocked, else deferred or the fetch outcome),
        # over one budget rank and one fetch-status join. It is
        # materialized once; the fetch probe, next frontier, fetch log
        # and trapped / blocked tables are all filters over it.
        gated, diverted, reason = frontier, F.lit(None), F.lit(None)

        # 0. crawler-trap gate (opt-in, default off so the pinned
        # reference-parity outputs are untouched): flag-and-divert,
        # never silently drop — trapped rows land in the `trapped`
        # result table with their rule, mirroring the quarantine
        # pattern. Stateless projection, zero extra shuffles.
        if trap_filter:
            gated = with_trap_flags(gated)
            diverted = F.when(F.col("is_trap"), F.lit("trapped"))
            reason = F.when(F.col("is_trap"), F.col("trap_reason"))

        # The per-host policy frame: each frontier host's blocklist
        # verdict, robots rule array (built before the loop) and budget
        # (override or AIMD), broadcast-joined to the frontier once.
        # Steps 0b-2 are projections over its columns.
        gated = with_host_policy(gated, host_rules, blocklist, cur_budgets)

        # 0b. domain-blocklist gate (opt-in, same flag-and-divert
        # contract as the trap gate): registrable-domain suffix match
        # per DISTINCT host against the broadcast pattern list
        # (operators/blocklist.py); blocked rows land in the `blocked`
        # result table with their winning pattern, never silently drop.
        if blocklist is not None:
            diverted = F.coalesce(
                diverted, F.when(F.col("blocked"), F.lit("blocked")))
            reason = F.coalesce(
                reason, F.when(F.col("blocked"), F.col("matched_pattern")))
        passing = diverted.isNull()

        # 1. robots + 2. politeness budget, over the rows no gate above
        # diverted; a robots-disallowed row leaves the ledger. Hosts
        # without a budget row take the configured budget.
        if host_rules is not None:
            gated = robots_verdict(gated).filter(~passing | F.col("allowed"))
        budget = F.lit(cfg.host_budget_per_superstep)
        if cur_budgets is not None:
            budget = F.coalesce(F.col("host_budget"), budget)
        gated = budget_gate(gated, budget, cfg.host_salt, eligible=passing)

        # 3. retry ledger over simulated statuses, for admitted rows
        # only: deferred rows keep their attempt and backoff
        gated = apply_fetch_status(gated, fetch_events,
                                   fetched=F.col("admitted"))
        with _timed(f"step{step}.ledger", timings):
            ledger = gated.select(
                *FRONTIER_COLS,
                # diverted and deferred rows are never fetched, so
                # their fetch outcome is NULL
                F.coalesce(diverted, "outcome", F.lit("deferred"))
                .alias("outcome"),
                F.col("status").cast("int"),
                reason.cast("string").alias("reason"),
                F.lit(step).alias("superstep"),
            ).localCheckpoint(eager=True)

        # 4+5. fetch ⋈ parse in ONE pass over the pages table: the join
        # streams the (huge) pages scan against the frontier, and a
        # single mapInArrow kernel parses BOTH page kinds, also
        # emitting the per-page fetch-log rows. The result is
        # materialized exactly once (localCheckpoint); every downstream
        # table (articles, contents, log, next frontier) derives from
        # it without re-scanning pages or re-running the parse — at
        # 100 TB this is the difference between 1 and 4 full scans per
        # superstep.
        #
        # Join strategy is adaptive (the AQE rule, made explicit so the
        # choice is visible/testable): broadcast the frontier only while
        # it is bounded-small — the build + driver collect of a large
        # broadcast is SERIAL work that caps scaling (measured: a 734k-
        # row broadcast costs ~6 s at any core count, turning a 0.84-
        # efficient parse stage into 0.70). A big frontier takes the
        # shuffle join, which scales with cores. The decision reuses the
        # frontier row count observed on its checkpoint job.
        probe = ledger.filter(F.col("outcome") == "ok").select(
            [c for c in FRONTIER_COLS if c != "warc_ts"]
        )
        if broadcast_frontier == "auto":
            do_broadcast = n_frontier <= broadcast_max_rows
        else:
            do_broadcast = bool(broadcast_frontier)
        build = F.broadcast(probe) if do_broadcast else probe
        found = pages_fetch.join(build, on="url", how="inner")

        with _timed(f"step{step}.fetch_parse", timings):
            parsed_all = (
                found.select(*KERNEL_INPUT_COLS).mapInArrow(
                    make_parse_page_kernel(cfg.push_rate), PARSED_ALL_SCHEMA)
                .withColumn("superstep", F.lit(step))
                .localCheckpoint(eager=True)
            )

        # 5a. candidate articles from index pages (P1) + F1 push
        # threshold (board-mode producer filter, crawler.go:414)
        candidates = _article_rows(parsed_all, cfg.push_rate).select(
            "url",
            F.lit("article").alias("kind"),
            F.lit(1).alias("kind_rank"),
            "board",
            "page_no",
            "pos",
            F.lit(2).alias("depth"),
            "warc_ts",
            "title",
            "author",
            "push_rate",
            F.lit(1).alias("attempt"),
            F.lit(0).cast("long").alias("backoff_ms"),
        )

        # 6. dedup new candidates: within-batch first (deterministic
        # winner by priority) then against the global seen set. fresh is
        # used four times below (next frontier, seen union, bloom add,
        # commit) -> materialize it once, observing its row count.
        w = Window.partitionBy("url").orderBy(
            F.col("page_no").desc(), F.col("pos").asc()
        )
        candidates = (
            candidates.withColumn("_r", F.row_number().over(w))
            .filter(F.col("_r") == 1)
            .drop("_r")
        )
        with _timed(f"step{step}.dedup_fresh", timings):
            fresh, n_fresh = _checkpoint_counted(
                dedup_against_seen(candidates, seen, blooms,
                                   _cuckoo_for_step(seen))
                .select(FRONTIER_COLS)
            )

        # AIMD control loop (opt-in): the budgets gating superstep k+1
        # are a pure function of this superstep's fetch statuses — one
        # tiny groupBy(host) over the log, localCheckpointed (the
        # budget table is a host-level dimension; materializing it
        # keeps the loop from compounding plan lineage into the
        # broadcast side of every later host-policy frame).
        if aimd:
            prev_b = (
                cur_budgets if cur_budgets is not None
                else _empty(spark, "host string, budget long")
            )
            with _timed(f"step{step}.aimd_budgets", timings):
                cur_budgets = aimd_budgets(
                    prev_b, _fetch_log(ledger, parsed_all),
                    default_budget=cfg.host_budget_per_superstep,
                ).localCheckpoint(eager=True)
            budget_log_parts.append(
                cur_budgets.select(
                    F.lit(step).alias("superstep"), "host", "budget"
                )
            )

        # 7. next frontier = fresh ∪ deferred ∪ retries
        frontier = _next_frontier(ledger, fresh)

        # Enqueue-time seen update: only the freshly admitted
        # candidates are new — deferred/retry URLs are already members.
        # fresh was anti-joined against the current seen set, so the
        # pieces are DISJOINT: a plain union is already duplicate-free
        # (no distinct shuffle), and every piece is checkpointed (or
        # committed), so the union needs no materialization of its own.
        new_seen = fresh.select("url")
        seen = seen.unionByName(new_seen)
        with _timed(f"step{step}.bloom_add", timings):
            blooms.add_df(new_seen)
            if cuckoo_active:
                cuckoos.add_df(new_seen)  # incremental once engaged
        n_seen_est += n_fresh

        # 8. append-only commit (like Iceberg appends) of the frames
        # this step already materialized: each write is one job over a
        # checkpointed frame, and nothing committed is rewritten.
        ledgers.append(ledger)
        parsed_parts.append(parsed_all)
        if ckpt:
            tables = {"seed": seed} if step == 0 else {}
            tables.update(ledger=ledger, parsed=parsed_all, fresh=fresh)
            ckpt.write_step(step, tables,
                            extra={"board": cfg.board, "file_mode": file_mode})

        step += 1

    # ---- final assembly (deterministic, scheduling-independent) ----------
    # Every frame more than one output table reads is materialized once
    # (localCheckpoint, filled on first use): the ledger union, the
    # fetch log, the dir-suffixed contents and the progress events.
    # Otherwise each table re-derives them in jobs of its own (the
    # events union alone reads contents twice and the fetch log once).
    # Left a union, the ledger would also let Catalyst split the
    # missing_404 anti-join into one shuffle join per superstep.
    ledger = _union(spark, ledgers, _LEDGER_SCHEMA).localCheckpoint(eager=False)
    parsed = _union(spark, parsed_parts, _PARSED_SCHEMA)
    articles = _article_rows(parsed, cfg.push_rate).select(
        "board", "page_no", "src_url", "pos", "title", "url", "author",
        "push_rate",
    )
    # article contents (P2 + D1 + D2 already applied in-kernel);
    # superstep rides along for the progress-event taxonomy (T7).
    contents = parsed.filter(F.col("row_kind") == "content").select(
        "superstep", "url", "board", "page_no", "pos", "title", "author",
        "push_rate", "parsed_title",
        final_title(
            F.coalesce(F.col("title"), F.lit("")),
            F.col("parsed_title"),
            file_mode,
        ).alias("final_title"),
        "img_urls", "file_names", "text_match",
    )
    fetch_log = _fetch_log(ledger, parsed).localCheckpoint(eager=False)

    # D3: global dir-collision suffixing in canonical priority order.
    contents = with_unique_dir(contents).localCheckpoint(eager=False)

    # download_tasks: explode the per-article aligned (img, file) arrays.
    tasks = (
        contents.select(
            "superstep",
            F.col("url").alias("article_url"),
            "save_dir",
            F.posexplode(F.arrays_zip("img_urls", "file_names")).alias("seq", "z"),
        )
        .select(
            "superstep",
            "article_url",
            F.col("z.img_urls").alias("img_url"),
            "save_dir",
            F.col("z.file_names").alias("file_name"),
            "seq",
        )
    )

    docs = markdown_docs(contents)

    # T7/D5: six-type progress-event taxonomy + counting aggregates
    # (types/progress.go:8-15) derived from the assembled outputs.
    events = progress_events(
        contents, tasks, fetch_log, articles,
        total_pages=cfg.pages, workers=cfg.workers,
    ).localCheckpoint(eager=False)
    metrics = (
        fetch_log.groupBy("superstep", "kind", "outcome")
        .agg(F.count("*").alias("n"), F.sum("backoff_ms").alias("backoff_ms_total"))
        .unionByName(progress_metrics(events))
        .orderBy("superstep", "kind", "outcome")
    )

    # Opt-in archive stage (X95, default off): write the successfully
    # fetched pages as WARC shards + their CDX index under archive_dir
    # — the publish shape of a production crawl cycle. Pure side
    # output: nothing downstream reads it, so pinned results are
    # untouched (the trap_filter pattern).
    archive_cdx = None
    if archive_dir is not None:
        from ptt_spider_go_spark.sinks.cdx import archive_captures

        fetched = fetch_log.filter(F.col("status") == 200) \
            .select("url").distinct()
        caps = pages.join(fetched, "url", "left_semi").select(
            "url", "warc_ts",
            F.lit(200).alias("status"),
            F.col("html").cast("string").alias("payload"),
        )
        archive_cdx = archive_captures(caps, archive_dir)

    # Opt-in sketch telemetry (X111, default off): per-superstep HLL
    # distinct-URL sketches + cumulative estimates from the sketch
    # relation alone — the metrics artifact a 10^10-URL crawl keeps
    # instead of exact cumulative distincts. Pure side output (the
    # trap_filter pattern): nothing downstream reads it.
    url_telemetry = None
    if sketch_telemetry:
        from ptt_spider_go_spark.operators.sketches import (
            cumulative_sketches,
            superstep_sketches,
        )

        url_telemetry = cumulative_sketches(
            superstep_sketches(fetch_log.select("superstep", "url"))
        )

    # No global orderBy on the result tables: a total sort of the
    # articles table is a full range-partition shuffle that buys nothing
    # at scale (consumers sort-or-window what they need; the contract
    # pins an order-insensitive hash; tests order explicitly).
    return CrawlResult(
        articles=articles,
        contents=contents,
        download_tasks=tasks,
        markdown_docs=docs,
        seen=seen,
        fetch_log=fetch_log,
        metrics=metrics,
        progress_events=events,
        quarantine=quarantine_from_fetch_log(fetch_log),
        trapped=(
            ledger.filter(F.col("outcome") == "trapped")
            .select("url", "reason", "superstep")
            if trap_filter else None
        ),
        blocked=(
            ledger.filter(F.col("outcome") == "blocked")
            .select("url", F.col("reason").alias("pattern"), "superstep")
            if blocklist is not None else None
        ),
        host_budget_log=(
            _union(spark, budget_log_parts,
                   "superstep int, host string, budget long")
            if aimd else None
        ),
        archive_cdx=archive_cdx,
        url_telemetry=url_telemetry,
        supersteps=step - start_step,
        wall_secs=time.time() - t0,
        timings=timings,
    )


def _next_frontier(ledger: DataFrame, fresh: DataFrame) -> DataFrame:
    """The frontier after a step: its fresh candidates plus the rows it
    deferred or re-enqueued for a 429 retry. The loop and resume both
    build it here."""
    return fresh.select(FRONTIER_COLS).unionByName(
        ledger.filter(F.col("outcome").isin("deferred", "retry_429"))
        .select(FRONTIER_COLS)
    )


def _article_rows(parsed: DataFrame, push_rate: int) -> DataFrame:
    """Parsed index-page article rows at or above the push threshold."""
    return parsed.filter(F.col("row_kind") == "art").filter(
        F.col("push_rate") >= F.lit(push_rate)
    )


def _fetch_log(ledger: DataFrame, parsed: DataFrame) -> DataFrame:
    """Fetch-log rows of (ledger, parsed) parts: `fetched` for each page
    the parse kernel received (it emits one `fetch` row per joined
    page), `missing_404` for an `ok` row without one, and the ledger's
    `retry_429` / `failed` rows. The final HTTP status rides along so
    the quarantine can name the true cause (a 500 is not an exhausted
    429 retry)."""
    fetched = parsed.filter(F.col("row_kind") == "fetch").select(
        "superstep", "url", "kind", F.lit("fetched").alias("outcome"),
        "attempt", "backoff_ms", F.lit(200).alias("status"),
    )
    missing = (
        ledger.filter(F.col("outcome") == "ok")
        .join(fetched.select("superstep", "url"), ["superstep", "url"],
              "left_anti")
        .select("superstep", "url", "kind",
                F.lit("missing_404").alias("outcome"), "attempt",
                "backoff_ms", F.lit(404).alias("status"))
    )
    dropped = ledger.filter(
        F.col("outcome").isin("retry_429", "failed")
    ).select("superstep", "url", "kind", "outcome", "attempt", "backoff_ms",
             "status")
    return fetched.unionByName(missing).unionByName(dropped)


def _union(spark: SparkSession, dfs: list[DataFrame], schema: str) -> DataFrame:
    if not dfs:
        return _empty(spark, schema)
    return functools.reduce(DataFrame.unionByName, dfs)
