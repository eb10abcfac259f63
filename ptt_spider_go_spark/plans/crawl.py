"""The iterative frontier crawl plan (SURVEY §3.1 Spark lifecycle).

A bounded BFS expressed as a batch superstep loop — not Structured
Streaming — because the crawl is an iterative fixpoint over a priority
frontier (BASELINE.json north_star). Each superstep:

  1. robots filter (broadcast anti-filter)           [north_rule]
  2. per-host politeness budget gate, salted lanes   (T1/T6)
  3. retry-ledger resolution of simulated statuses   (T2)
  4. "fetch" = equi-join frontier ⋈ pages on url     (J1; broadcast
     hint on the frontier side — the budget bounds its size)
  5. Arrow-vectorized parse: index pages -> article rows (P1, UDTF
     shape via mapInPandas), article pages -> content (P2 + D1 + D2)
  6. push-rate filter on candidates (F1), global URL-seen dedup of
     new candidates (D4: Bloom shards + exact anti-join verify)
  7. next frontier = fresh candidates ∪ deferred ∪ retries
  8. snapshot commit (frontier/seen/output deltas + metrics)

After the loop, one deterministic assembly pass applies the global
dir-collision window (D3) and renders download_tasks / markdown_docs.
Assembly is scheduling-independent: its window order is
(page_no desc, pos, url), so deferred/retried articles land in the
same directories regardless of which superstep fetched them — this is
what makes kill-and-resume byte-identical.
"""

from __future__ import annotations

import functools
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ptt_spider_go_spark.config import CrawlConfig
from ptt_spider_go_spark.errors import quarantine_from_fetch_log
from ptt_spider_go_spark.functions.columns import final_title, url_host
from ptt_spider_go_spark.functions.udfs import (
    PARSED_ALL_SCHEMA,
    make_parse_page_kernel,
)
from ptt_spider_go_spark.operators.blocklist import blocklist_filter
from ptt_spider_go_spark.operators.collision import with_unique_dir
from ptt_spider_go_spark.operators.dedup import (
    BloomShardSet,
    CuckooShardSet,
    dedup_against_seen,
)
from ptt_spider_go_spark.operators.politeness import (
    aimd_budgets,
    apply_robots,
    apply_robots_wildcard,
    budget_gate,
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
    counters: dict = field(default_factory=dict)


def _empty(spark: SparkSession, schema: str) -> DataFrame:
    return spark.createDataFrame([], schema)


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
_SEEN_SCHEMA = "url string"
_ARTICLE_SCHEMA = (
    "board string, page_no int, src_url string, pos int, title string, "
    "url string, author string, push_rate int"
)
_LOG_SCHEMA = (
    "superstep int, url string, kind string, outcome string, attempt int, "
    "backoff_ms long, status int"
)


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
    verify_text: bool = True,
    broadcast_frontier: bool | str = "auto",
    broadcast_max_rows: int = 200_000,
    probe_strategy: str = "html",
    trap_filter: bool = False,
    blocklist: DataFrame | None = None,
    seed_from_sitemaps: bool = False,
    aimd: bool = False,
    robots_wildcards: bool = False,
    archive_dir: str | None = None,
    sketch_telemetry: bool = False,
) -> CrawlResult:
    """Run the crawl to fixpoint (or cfg.max_supersteps) and assemble
    outputs. `checkpoint_dir` enables snapshot/resume; with
    `resume=True` the loop continues from the last committed superstep.

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
    # the Bloom filter is rebuilt from the committed seen snapshot, so
    # the checkpoint manifest stays the crawl's only commit protocol.
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
    cuckoos = (
        CuckooShardSet.for_capacity(
            cfg.bloom_shards, max(cfg.cuckoo_min_seen, 1 << 16)
        )
        if cfg.cuckoo_verify else None
    )
    cuckoo_active = False
    n_seen_est = 0

    def _cuckoo_for_step(seen_df):
        nonlocal cuckoo_active
        if cuckoos is None or n_seen_est < cfg.cuckoo_min_seen:
            return None
        if not cuckoo_active:
            cuckoos.add_df(seen_df)  # one-time bulk build at crossing
            cuckoo_active = True
        return cuckoos

    start_step = 0

    if resume and ckpt and ckpt.last_committed_step() is not None:
        start_step = ckpt.last_committed_step() + 1
        frontier = ckpt.read_latest("frontier")
        seen = ckpt.read_latest("seen")
        if seen is not None:
            # cuckoo_active stays False: _cuckoo_for_step bulk-builds the
            # cuckoo filter from seen once n_seen_est crosses its threshold
            blooms.add_df(seen)
            n_seen_est = seen.count()
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
        frontier = (
            frontier.withColumn("_r", F.row_number().over(seed_w))
            .filter(F.col("_r") == 1)
            .drop("_r")
        )
        seen = frontier.select("url")
        with _timed("init.bloom_seed", timings):
            blooms.add_df(seen)  # bloom must stay a superset of seen
        n_seen_est = frontier.count()  # seed frontier is small by construction

    pages_fetch = pages.select("url", "warc_ts", "html", "text")

    mem_steps: list[dict] = []
    trapped_parts: list[DataFrame] = []
    blocked_parts: list[DataFrame] = []
    budget_log_parts: list[DataFrame] = []
    cur_budgets = host_budgets
    step = start_step
    while step < cfg.max_supersteps:
        # Lineage truncation: an iterative loop's logical plan otherwise
        # grows superlinearly. Checkpointed runs cut lineage via the
        # snapshot re-read below; both modes cut the frontier here.
        with _timed(f"step{step}.frontier_ckpt", timings):
            frontier = frontier.select(FRONTIER_COLS).localCheckpoint(eager=True)

        with _timed(f"step{step}.is_empty", timings):
            if frontier.isEmpty():
                break

        # 0. crawler-trap gate (opt-in, default off so the pinned
        # reference-parity outputs are untouched): flag-and-divert,
        # never silently drop — trapped rows land in the `trapped`
        # result table with their rule, mirroring the quarantine
        # pattern. Stateless projection, zero extra shuffles.
        if trap_filter:
            fl = with_trap_flags(frontier)
            trapped_parts.append(
                fl.filter(F.col("is_trap")).select(
                    "url", F.col("trap_reason").alias("reason"),
                    F.lit(step).alias("superstep"),
                )
            )
            frontier = fl.filter(~F.col("is_trap")).select(FRONTIER_COLS)

        # 0b. domain-blocklist gate (opt-in, same flag-and-divert
        # contract as the trap gate): registrable-domain suffix match
        # per DISTINCT host against the broadcast pattern list
        # (operators/blocklist.py); blocked rows land in the `blocked`
        # result table with their winning pattern, never silently drop.
        if blocklist is not None:
            bl = blocklist_filter(
                frontier.withColumn("_bhost", url_host(F.col("url"))),
                blocklist, host_col="_bhost",
            )
            blocked_parts.append(
                bl.filter(F.col("blocked")).select(
                    "url", F.col("matched_pattern").alias("pattern"),
                    F.lit(step).alias("superstep"),
                )
            )
            frontier = bl.filter(~F.col("blocked")).select(FRONTIER_COLS)

        # 1. robots + 2. politeness budget. `robots_wildcards` (opt-in,
        # default off — the trap_filter pattern) reads the rule table's
        # path column as RFC 9309 full wildcard patterns (X90) instead
        # of plain prefixes; on metachar-free rules the two matchers
        # are provably identical (parity-pinned), so flipping the flag
        # never changes a prefix-rule crawl.
        if robots_wildcards and robots is not None:
            r = (
                robots
                if "pattern" in robots.columns
                else robots.withColumnRenamed("path_prefix", "pattern")
            )
            allowed = apply_robots_wildcard(frontier, r)
        else:
            allowed = apply_robots(frontier, robots)
        admitted, deferred = budget_gate(
            allowed, cfg.host_budget_per_superstep, cfg.host_salt,
            host_budgets=cur_budgets,
        )

        # 3. retry ledger over simulated statuses
        ok, retry, failed = apply_fetch_status(admitted, fetch_events)
        ok = ok.drop("status")

        # 4+5. fetch ⋈ parse in ONE pass over the pages table: the join
        # streams the (huge) pages scan against the frontier, and a
        # single mapInPandas kernel parses BOTH page kinds, also
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
        # shuffle join, which scales with cores. The frontier is
        # localCheckpointed, so the row-count probe is a cheap cached
        # count, the same class as the is_empty probe above.
        probe = ok.drop("warc_ts")
        if broadcast_frontier == "auto":
            do_broadcast = frontier.count() <= broadcast_max_rows
        else:
            do_broadcast = bool(broadcast_frontier)
        build = F.broadcast(probe) if do_broadcast else probe
        found = pages_fetch.join(build, on="url", how="inner")
        missing = probe.join(pages_fetch.select("url"), on="url", how="left_anti")

        kernel_in = found.select(
            "url", "kind", "board", "page_no", "pos", "title", "author",
            "push_rate", "attempt", "backoff_ms", "warc_ts", "html",
            *(["text"] if verify_text else []),
        )
        with _timed(f"step{step}.fetch_parse", timings):
            parsed_all = kernel_in.mapInPandas(
                make_parse_page_kernel(verify_text, cfg.push_rate),
                PARSED_ALL_SCHEMA,
            ).localCheckpoint(eager=True)

        # 5a. article rows from index pages (P1) + F1 push threshold
        # (board-mode producer filter, crawler.go:414)
        admitted_articles = (
            parsed_all.filter(F.col("row_kind") == "art")
            .filter(F.col("push_rate") >= F.lit(cfg.push_rate))
            .select("board", "page_no", "src_url", "pos", "title", "url",
                    "author", "push_rate")
        )

        candidates = (
            parsed_all.filter(F.col("row_kind") == "art")
            .filter(F.col("push_rate") >= F.lit(cfg.push_rate))
            .select(
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
        )

        # 5b. article contents (P2 + D1 + D2 already applied in-kernel);
        # superstep rides along for the progress-event taxonomy (T7).
        content = parsed_all.filter(F.col("row_kind") == "content").select(
            F.lit(step).alias("superstep"),
            "url", "board", "page_no", "pos", "title", "author", "push_rate",
            "parsed_title",
            final_title(
                F.coalesce(F.col("title"), F.lit("")),
                F.col("parsed_title"),
                file_mode,
            ).alias("final_title"),
            "img_urls", "file_names", "text_match",
        )

        # 6. dedup new candidates: within-batch first (deterministic
        # winner by priority) then against the global seen set. fresh is
        # used three times below (next frontier, seen union, bloom add)
        # -> materialize it once.
        w = Window.partitionBy("url").orderBy(
            F.col("page_no").desc(), F.col("pos").asc()
        )
        candidates = (
            candidates.withColumn("_r", F.row_number().over(w))
            .filter(F.col("_r") == 1)
            .drop("_r")
        )
        with _timed(f"step{step}.dedup_fresh", timings):
            fresh = (
                dedup_against_seen(candidates, seen, blooms,
                                   _cuckoo_for_step(seen))
                .select(FRONTIER_COLS)
                .localCheckpoint(eager=True)
            )

        # 7. bookkeeping tables for this superstep. The 'fetched' rows
        # come from the already-materialized parse result — no extra
        # pages scan; 'missing' is a column-pruned url-only anti-join.
        # The final HTTP status rides along so the quarantine can name
        # the true cause (a 500 is not an exhausted 429 retry).
        lit_step = F.lit(step)
        log_rows = (
            parsed_all.filter(F.col("row_kind") == "fetch").select(
                lit_step.alias("superstep"), "url", "kind",
                F.lit("fetched").alias("outcome"), "attempt", "backoff_ms",
                F.lit(200).alias("status"),
            )
            .unionByName(missing.select(
                lit_step.alias("superstep"), "url", "kind",
                F.lit("missing_404").alias("outcome"), "attempt", "backoff_ms",
                F.lit(404).alias("status"),
            ))
        )
        if retry is not None:
            log_rows = log_rows.unionByName(retry.select(
                lit_step.alias("superstep"), "url", "kind",
                F.lit("retry_429").alias("outcome"), "attempt", "backoff_ms",
                F.lit(429).alias("status"),
            ))
        if failed is not None:
            log_rows = log_rows.unionByName(failed.select(
                lit_step.alias("superstep"), "url", "kind",
                F.lit("failed").alias("outcome"), "attempt", "backoff_ms",
                "status",
            ))

        # AIMD control loop (opt-in): the budgets gating superstep k+1
        # are a pure function of this superstep's fetch statuses — one
        # tiny groupBy(host) over the log, localCheckpointed (the
        # budget table is a host-level dimension; materializing it
        # keeps the loop from compounding plan lineage into the
        # broadcast side of every later budget_gate).
        if aimd:
            prev_b = (
                cur_budgets if cur_budgets is not None
                else _empty(spark, "host string, budget long")
            )
            with _timed(f"step{step}.aimd_budgets", timings):
                cur_budgets = aimd_budgets(
                    prev_b, log_rows,
                    default_budget=cfg.host_budget_per_superstep,
                ).localCheckpoint(eager=True)
            budget_log_parts.append(
                cur_budgets.select(
                    F.lit(step).alias("superstep"), "host", "budget"
                )
            )

        next_frontier = fresh.unionByName(deferred.select(FRONTIER_COLS))
        if retry is not None:
            next_frontier = next_frontier.unionByName(retry.select(FRONTIER_COLS))

        # Enqueue-time seen update: only the freshly admitted candidates
        # are new — deferred/retry URLs are already members. fresh was
        # anti-joined against the current seen set, so the pieces are
        # DISJOINT: a plain union is already duplicate-free (no distinct
        # shuffle), and both inputs are checkpointed, so the union needs
        # no re-materialization of its own.
        new_seen = fresh.select("url")
        seen = seen.unionByName(new_seen)
        with _timed(f"step{step}.bloom_add", timings):
            blooms.add_df(new_seen)
            if cuckoo_active:
                cuckoos.add_df(new_seen)  # incremental once engaged
            n_seen_est += fresh.count()  # checkpointed -> cheap count

        # 8. snapshot commit. Output tables are written as per-step
        # deltas (append-only, like Iceberg appends); frontier/seen are
        # the loop-carried state and re-read from the committed snapshot,
        # which both truncates lineage and makes resume exact.
        if ckpt:
            ckpt.write_step(
                step,
                {
                    "frontier": next_frontier,
                    "seen": seen,
                    "articles_delta": admitted_articles,
                    "contents_delta": content,
                    "fetch_log_delta": log_rows,
                },
                extra={"board": cfg.board, "file_mode": file_mode},
            )
            next_frontier = ckpt.read(step, "frontier")
            seen = ckpt.read(step, "seen")
            # Iceberg expire_snapshots analogue: older frontier/seen
            # copies are dead the moment this commit lands (resume reads
            # only the latest step); without expiry the store grows
            # O(steps x |seen|). Delta tables are history — kept.
            ckpt.expire_snapshots()
        else:
            # Nothing to materialize here: seen is a union of
            # checkpointed disjoint pieces, and next_frontier is a union
            # of checkpointed fresh plus cheap windows over the already-
            # checkpointed frontier — the top-of-loop checkpoint
            # materializes it on the next iteration.
            #
            # articles/contents/log are cheap filters over the already-
            # materialized parsed_all — keep them lazy; the references
            # hold the checkpointed RDD alive until final assembly.
            mem_steps.append(
                {
                    "articles": admitted_articles,
                    "contents": content,
                    "log": log_rows,
                }
            )

        frontier = next_frontier
        step += 1

    # ---- final assembly (deterministic, scheduling-independent) ----------
    if ckpt:
        steps = list(range(0, (ckpt.last_committed_step() or 0) + 1))
        articles = _union_steps(spark, ckpt, steps, "articles_delta", _ARTICLE_SCHEMA)
        contents = _union_steps(spark, ckpt, steps, "contents_delta", None)
        fetch_log = _union_steps(spark, ckpt, steps, "fetch_log_delta", _LOG_SCHEMA)
    else:
        articles = _union_mem(spark, [m["articles"] for m in mem_steps], _ARTICLE_SCHEMA)
        contents = _union_mem(spark, [m["contents"] for m in mem_steps], None)
        fetch_log = _union_mem(spark, [m["log"] for m in mem_steps], _LOG_SCHEMA)

    if contents is None:
        contents = _empty(
            spark,
            "superstep int, url string, board string, page_no int, pos int, "
            "title string, author string, push_rate int, parsed_title string, "
            "final_title string, img_urls array<string>, "
            "file_names array<string>, text_match boolean",
        )

    # D3: global dir-collision suffixing in canonical priority order.
    contents = with_unique_dir(contents)

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
    )
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
            functools.reduce(DataFrame.unionByName, trapped_parts)
            if trapped_parts
            else _empty(spark, "url string, reason string, superstep int")
        )
        if trap_filter
        else None,
        blocked=(
            functools.reduce(DataFrame.unionByName, blocked_parts)
            if blocked_parts
            else _empty(spark, "url string, pattern string, superstep int")
        )
        if blocklist is not None
        else None,
        host_budget_log=(
            functools.reduce(DataFrame.unionByName, budget_log_parts)
            if budget_log_parts
            else _empty(spark, "superstep int, host string, budget long")
        )
        if aimd
        else None,
        archive_cdx=archive_cdx,
        url_telemetry=url_telemetry,
        supersteps=step - start_step,
        wall_secs=time.time() - t0,
        timings=timings,
    )


def _union_steps(spark, ckpt, steps, name, schema):
    dfs = []
    for s in steps:
        p = ckpt.table_path(s, name)
        if os.path.exists(p):
            dfs.append(spark.read.parquet(p))
    return _union_mem(spark, dfs, schema)


def _union_mem(spark, dfs, schema):
    dfs = [d for d in dfs if d is not None]
    if not dfs:
        return _empty(spark, schema) if schema else None
    out = dfs[0]
    for d in dfs[1:]:
        # allowMissingColumns: checkpoint deltas written before a schema
        # gained a column (e.g. fetch_log's status, ADVICE r3) union
        # against new deltas with NULLs in the missing column; the
        # quarantine builder's status fallback then covers those rows.
        out = out.unionByName(d, allowMissingColumns=True)
    return out
