"""Benchmark harness: headline queries + the crawl pipeline.

Prints ONE JSON line:
  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": <float>,
   "crawl_urls_per_sec": ..., "crawl_pages": ..., "cpus": ...}

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS   (default 32).

Each query is forced with a noop-format write (full materialization,
no driver collect). The crawl runs over a distributed-generated
synthetic pages table sized by sf; its throughput metric is
URLs fetched+parsed per second (BASELINE.json:2).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from ptt_spider_go_spark.config import CrawlConfig
from ptt_spider_go_spark.datagen import pages_df
from ptt_spider_go_spark.plans.crawl import run_crawl
from ptt_spider_go_spark.session import get_spark

HEADLINE = [
    "push_rate_decode",
    "first_occurrence_dedup",
    "priority_topk",
    "budget_gate_window",
    "markdown_render",
    "retry_after_decode",
    "dedup_exact",
    "minhash_signatures",
    "minhash_lsh_pairs",
    "simhash",
    "ngram_jaccard_pairs",
    "ngram_jaccard_prefix",
    "ngram_jaccard_bitset",
    "ngram_jaccard_zipf",
    "ann_cosine_topk",
    "ann_ivf_topk",
    "ann_lsh_topk",
    "quality_scores",
    "token_counts",
    "lang_id",
    "fingerprints",
    "repetition_ratio",
    "segment_dedup",
    "decontaminate",
    "novel_documents",
    "stratified_sample",
    "redact_pii",
    "pack_documents",
    "embedding_near_dup",
    "media_decode",
    "sessionize",
    "stream_windowed_counts",
    # r4 curation additions
    "quality_sample",
    "semantic_dedup",
    "corpus_funnel",
    "repetition_battery",
    "stream_near_dup",
    "chunk_documents",
    "wet_roundtrip",
    "mixture_sample",
    "classifier_scores",
    "excise_substrings",
    "shard_manifest",
    "gopher_rules",
    "c4_rules",
    "lang_rebalance",
    "strip_boilerplate",
    "domain_stats",
    "rarity_bins",
    "stream_dedup",
    "lm_perplexity",
    "link_rank",
    "tfidf_topk",
    "dsir_select",
    "authority_budgets",
    "aimd_budgets",
    "bpe_phrases",
    "classifier_calibration",
    "jsonl_roundtrip",
    "recrawl_due",
    "ngram_counts",
    "trap_suspects",
    "sitemap_entries",
    "robots_sitemaps",
    "normalize_text",
    # r5 link-graph/ingest quartet
    "warc_roundtrip",
    "hits_scores",
    "anchor_texts",
    "blocklist_filter",
    "extract_outlinks",
    "discover_frontier",
    "snapshot_diff",
    "host_change_ttls",
    "common_lines",
    "graph_stats",
    "quality_keepers",
    "sitemap_recrawl",
    "merge_snapshots",
    "resolve_redirects",
    "soft404",
    "justext_lines",
    "sniff_charset",
    "revalidation_plan",
    "dust_params",
    "rel_canonical",
    "canonical_groups",
    "script_mix",
    "host_panel",
    "mirror_hosts",
    "meta_robots",
    "hreflang_edges",
    "hreflang_clusters",
    "mime_sniff",
    "takedown_verdicts",
    "pagination_series",
    "crawl_gate_funnel",
    # r5 final-session archive/index/policy additions
    "robots_wildcards",
    "surt_keys",
    "cdx_index",
    "cdx_revisits",
    "cache_freshness",
    "frontier_depths",
    # r5c RFC 3986 / scheduling additions
    "url_rfc3986_normalize",
    "robots_fetch_plan",
    "path_subtrees",
    "ip_budgets",
    "robots_refresh_plan",
    "drain_plan",
    # r5d spam-demotion / crawl-order additions
    "trust_rank",
    "spam_mass",
    "opic_importance",
    "demoted_budgets",
    # r5e compliance / decontamination / funnel additions
    "politeness_receipts",
    "semantic_decontaminate",
    "discover_funnel",
    "sitemap_coverage",
    "robots_failure_policy",
    # r5f sketch telemetry
    "hll_telemetry",
    "quantile_telemetry",
    "cms_telemetry",
    "kmv_overlap_telemetry",
    "priority_sample_mass",
    "dataset_card",
    "corpus_digest",
    "ams_join_size",
    "rendezvous_rebalance",
    # r5g retrieval / layout / tokenizer closers
    "bm25_topk",
    "kmeans_clusters",
    "zorder_prune_summary",
    "bpe_encode",
    "dsir_weights",
    "nbayes_scores",
    "collocations",
    "eval_contamination",
    "containment_pairs",
    "dedup_attrition",
    "bpe_fertility",
    "pq_codes",
    "pq_adc_topk",
    "ivf_pq_topk",
    # r5j trained lang-id + winnowing
    "langid_scores",
    "langid_confusion",
    "winnow_fingerprints",
    "winnow_pairs",
    "host_communities",
    "host_triangles",
    "source_templates",
    "leakage_safe_splits",
    "split_manifest",
    "cdc_chunks",
    "cdc_dedup_stats",
    "mojibake_repair",
    "char_entropy",
    "stream_late_data",
    "kn_perplexity",
    "bm25_eval",
    "pii_luhn",
    "stream_interval_join",
    "pair_panel",
]


def _force(df) -> int:
    df.write.format("noop").mode("overwrite").save()
    return 0


def _calibrate(spark, cpus: int) -> float:
    """Same probe as bench_scaling._calibrate: embarrassingly-parallel
    pure-Python CPU burn, cpus*6 tasks, zero shuffle — measures the
    MACHINE for this window (co-tenant load on the shared host swings
    wall times up to 3x between 10-minute windows; see BASELINE.md
    variance log). Returns tasks/sec; compare across BENCH files to
    tell a slow engine from a slow window."""
    sc = spark.sparkContext
    n_tasks = cpus * 6

    def burn(i):
        x = 0
        for k in range(2_000_000):
            x = (x * 1664525 + 1013904223 + k) & 0xFFFFFFFF
        return x

    t0 = time.time()
    sc.parallelize(range(n_tasks), n_tasks).map(burn).count()
    return round(n_tasks / (time.time() - t0), 2)


def _warmup(spark, sf_dir, qs) -> float:
    """Warm the JVM (codegen, parquet footer caches) and the Arrow
    Python workers before timing — r01's first query carried ~4.5 s of
    session warmup that belongs to neither the query nor the engine."""
    t0 = time.time()
    _force(qs["fingerprints"](spark, sf_dir))  # JVM + parquet scan path
    spark.range(64).repartition(4).mapInPandas(  # Python worker pool
        lambda it: (pdf for pdf in it), "id long"
    ).write.format("noop").mode("overwrite").save()
    return round(time.time() - t0, 3)


def _synth_urls(spark, lo: int, hi: int, parallelism: int):
    """Deterministic ptt-shaped URL column over id in [lo, hi)."""
    from pyspark.sql import functions as F

    return (
        spark.range(lo, hi, 1, parallelism)
        .select(
            F.concat(
                F.lit("https://www.ptt.cc/bbs/Beauty/M."),
                (F.lit(1500000000) + F.col("id")).cast("string"),
                F.lit(".A.html"),
            ).alias("url")
        )
    )


def _cuckoo_ab(spark, cpus: int) -> dict:
    """Measured form of the cuckoo-verification claim: same candidates,
    same (overloaded) Bloom, anti-join input rows + wall with the cuckoo
    pass off vs on, plus the exact-join-only wall for context."""
    from ptt_spider_go_spark.operators.dedup import (
        BloomShardSet,
        CuckooShardSet,
        dedup_against_seen,
    )

    n_seen, n_cand, n_repeat = 2_000_000, 400_000, 20_000
    seen = _synth_urls(spark, 0, n_seen, cpus).persist()
    n_seen_rows = seen.count()
    # candidates: n_repeat revisits (ids at the seen tail) + the rest new
    cand = (
        _synth_urls(spark, n_seen - n_repeat, n_seen - n_repeat + n_cand, cpus)
        .persist()
    )
    cand.count()

    # Bloom sized for half the seen set (the budgeted-bits/URL web-scale
    # regime: defaults give 8 shards x 2^17 expected = 1M at 1% fpp, so
    # at 2M inserted the realized fpp climbs to ~13%); cuckoo sized at
    # capacity like run_crawl's crossing build.
    blooms = BloomShardSet()
    blooms.add_df(seen)
    cuckoos = CuckooShardSet.for_capacity(blooms.n_shards, n_seen)
    cuckoos.add_df(seen)

    out = {
        "n_seen": n_seen_rows,
        "n_candidates": n_cand,
        "n_true_repeats": n_repeat,
        "bloom_sized_for": "1.05M urls @ fpp 0.01 (deliberately 2x-loaded)",
        "cuckoo_capacity": cuckoos.capacity,
    }
    for mode, ck in (("bloom_only", None), ("bloom_plus_cuckoo", cuckoos)):
        counters: dict = {}
        t0 = time.time()
        _force(dedup_against_seen(cand, seen, blooms, ck, counters=counters))
        out[mode] = {
            "wall_sec": round(time.time() - t0, 3),
            "anti_join_input_rows": counters.get(
                "anti_join_input_after_cuckoo",
                counters["anti_join_input_after_bloom"],
            ),
            **counters,
        }
    t0 = time.time()
    _force(dedup_against_seen(cand, seen, None))
    out["exact_join_only_wall_sec"] = round(time.time() - t0, 3)
    after_b = out["bloom_only"]["anti_join_input_rows"]
    after_c = out["bloom_plus_cuckoo"]["anti_join_input_rows"]
    out["bloom_fp_rows"] = after_b - n_repeat
    out["cuckoo_fp_rows"] = after_c - n_repeat
    out["cuckoo_fp_cut_pct"] = round(
        100.0 * (1 - (after_c - n_repeat) / max(1, after_b - n_repeat)), 2
    )
    out["join_input_cut_pct"] = round(100.0 * (1 - after_c / after_b), 2)
    seen.unpersist()
    cand.unpersist()
    return out


def _salt_ab(spark, cpus: int) -> dict:
    """Budget-gate lane split under total single-host skew: identical
    2M-row one-host frontier, salt=1 (one window task) vs salt=cpus.
    Admitted sets are identical by construction (lane budgets sum
    exactly to the host budget; only the priority tie-break WITHIN the
    admitted/deferred boundary can differ, and row counts pin both)."""
    from pyspark.sql import functions as F

    from ptt_spider_go_spark.operators.politeness import budget_gate

    n_rows, host_budget = 2_000_000, 100_000
    frontier = (
        _synth_urls(spark, 0, n_rows, cpus)
        .withColumn("kind_rank", F.lit(1))
        .withColumn("page_no", F.pmod(F.xxhash64("url"), F.lit(4000)))
        .withColumn("warc_ts", F.timestamp_seconds(F.lit(1700000000)))
        .persist()
    )
    frontier.count()
    out: dict = {"n_rows": n_rows, "host_budget": host_budget, "hosts": 1}
    counts = {}
    for salt in (1, cpus):
        best = None
        for _ in range(2):  # best-of-2, same window-noise rationale
            t0 = time.time()
            gated = budget_gate(frontier, host_budget, salt)
            n_adm = gated.filter("admitted").count()
            _force(gated.filter("NOT admitted"))
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        counts[salt] = n_adm
        out[f"salt{salt}_sec"] = round(best, 3)
    out["admitted_rows_equal"] = len(set(counts.values())) == 1
    out["admitted_rows"] = counts[cpus]
    out["speedup"] = round(out["salt1_sec"] / out[f"salt{cpus}_sec"], 2)
    frontier.unpersist()
    return out


def crawl_scale(sf: float) -> dict:
    return {
        "boards": ("Beauty", "Gossiping"),
        "pages_per_board": max(2, int(4000 * sf)),
        "slots_per_page": 20,
    }


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = float(sf_dir.rstrip("/").split("sf")[-1])

    spark = get_spark(
        app_name="ptt-spider-bench",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as E

    qs = E.queries()
    times: dict[str, float] = {}
    total = 0.0

    warmup_sec = _warmup(spark, sf_dir, qs)
    calib_before = _calibrate(spark, cpus)

    # Best-of-2 for queries under the cap: single-pass times on this
    # shared host swing up to 3x between co-tenant windows (measured —
    # BASELINE.md "Measurement variance"); the min of two passes is a
    # far better estimator of engine cost. Queries whose first pass
    # exceeds the cap run once (their relative noise is small and a
    # repeat is expensive).
    RETIME_CAP_SEC = 15.0
    for name in HEADLINE:
        t0 = time.time()
        _force(qs[name](spark, sf_dir))
        dt = time.time() - t0
        if dt < RETIME_CAP_SEC:
            t0 = time.time()
            _force(qs[name](spark, sf_dir))
            dt = min(dt, time.time() - t0)
        times[name] = round(dt, 3)
        total += dt

    # crawl pipeline throughput
    scale = crawl_scale(sf)
    pages = pages_df(spark, parallelism=cpus * 2, **scale)
    pages_path = f"/tmp/ptt_bench_pages_sf{sf}"
    if not os.path.exists(pages_path):
        pages.write.mode("overwrite").parquet(pages_path)
    # Split the (small) local pages scan to ~2 tasks/core; the parse
    # stage inherits scan partitioning (see bench_scaling.py).
    pages_bytes = sum(
        os.path.getsize(os.path.join(pages_path, f))
        for f in os.listdir(pages_path) if f.endswith(".parquet")
    )
    spark.conf.set(
        "spark.sql.files.maxPartitionBytes",
        str(max(1024 * 1024, pages_bytes // (cpus * 2))),
    )
    spark.conf.set("spark.sql.files.openCostInBytes", str(256 * 1024))
    pages = spark.read.parquet(pages_path)
    n_pages = pages.count()

    cfg = CrawlConfig(
        board="Beauty", pages=scale["pages_per_board"], push_rate=10,
        host_salt=cpus, max_supersteps=8, superstep_ms=600_000,
    )
    crawl_dt = None
    crawl_phases: dict = {}
    for _ in range(2):  # best-of-2 (same window-noise rationale)
        t0 = time.time()
        res = run_crawl(spark, pages, cfg, boards=list(scale["boards"]))
        _force(res.articles)
        _force(res.markdown_docs)
        fetched = res.fetch_log.count()
        dt = time.time() - t0
        if crawl_dt is None or dt < crawl_dt:
            crawl_dt = dt
            crawl_phases = {
                k.split(".", 1)[1]: round(v, 2)
                for k, v in res.timings.items() if k.startswith("phase.")
            }
    times["crawl_pipeline"] = round(crawl_dt, 3)
    total += crawl_dt

    # --- checkpoint/filter-state A/B (VERDICT r04 what's-wrong #3 /
    # next-round #5): the SAME crawl back-to-back with checkpoint_dir
    # on (one append-only commit per superstep: step ledger, parsed
    # rows, seen delta) vs the in-memory path timed above, with
    # per-phase walls from both, to locate whether the r4 crawl-wall
    # regression was the externalization (expected: no — the bench
    # path bypasses the tables entirely) or window noise.
    import shutil
    import tempfile

    ck_root = tempfile.mkdtemp(prefix="ptt_bench_ckpt_")
    ck_dt = None
    ck_phases: dict = {}
    for _ in range(2):
        ck_dir = os.path.join(ck_root, "run")
        shutil.rmtree(ck_dir, ignore_errors=True)
        t0 = time.time()
        res_ck = run_crawl(spark, pages, cfg, boards=list(scale["boards"]),
                           checkpoint_dir=ck_dir)
        _force(res_ck.articles)
        _force(res_ck.markdown_docs)
        fetched_ck = res_ck.fetch_log.count()
        dt = time.time() - t0
        if ck_dt is None or dt < ck_dt:
            ck_dt = dt
            ck_phases = {
                k.split(".", 1)[1]: round(v, 2)
                for k, v in res_ck.timings.items() if k.startswith("phase.")
            }
    shutil.rmtree(ck_root, ignore_errors=True)
    ckpt_ab = {
        "in_memory_sec": round(crawl_dt, 3),
        "checkpointed_sec": round(ck_dt, 3),
        "overhead_pct": round((ck_dt / crawl_dt - 1) * 100, 1),
        "same_fetch_set": fetched_ck == fetched,
        "in_memory_phases_sec": crawl_phases,
        "checkpointed_phases_sec": ck_phases,
    }

    # --- config A/B exhibit (twin of the reference's only published
    # benchmark, benchmark.sh:24-63: same workload, default vs optimized
    # connection-pool config, 45 s -> 28 s). The engine's concurrency
    # knob is the politeness worker-pool size (workers -> per-host
    # fetch budget per superstep): workers=3 starves the budget and
    # forces extra supersteps over the SAME workload, workers=10 is the
    # tuned default used above. Fetch sets must be identical (the
    # budget defers URLs, never drops them).
    cfg_small = CrawlConfig(
        board="Beauty", pages=scale["pages_per_board"], push_rate=10,
        host_salt=cpus, max_supersteps=24, superstep_ms=600_000, workers=3,
    )
    ab_small_dt = None
    for _ in range(2):  # best-of-2, same as the workers=10 side
        t0 = time.time()
        res_small = run_crawl(spark, pages, cfg_small,
                              boards=list(scale["boards"]))
        _force(res_small.articles)
        _force(res_small.markdown_docs)
        fetched_small = res_small.fetch_log.count()
        dt = time.time() - t0
        ab_small_dt = dt if ab_small_dt is None else min(ab_small_dt, dt)
    config_ab = {
        "knob": "politeness worker-pool size (CrawlConfig.workers)",
        "workers3_sec": round(ab_small_dt, 3),
        "workers10_sec": round(crawl_dt, 3),
        "workers3_supersteps": res_small.supersteps,
        "workers10_supersteps": res.supersteps,
        "same_fetch_set": fetched_small == fetched,
        "reference_twin": "benchmark.sh default-vs-optimized pool (45s -> 28s)",
    }

    # --- adaptive-Jaccard A/B on web-shaped (Zipfian) text: the
    # headline ngram_jaccard_zipf above IS the adaptive/prefix side
    # (probe + prefix join); time the naive join on the same corpus to
    # show the selector picks the winner on EVERY corpus shape (it
    # picks the bitset kernel on the flat dense synthetic corpus — see
    # note; the naive join is timed on both corpora for the exhibit).
    from ptt_spider_go_spark import datagen as DG
    from ptt_spider_go_spark.pipeline import dedup_text as DT

    zdocs = DG.zipfify_documents(
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    )
    t0 = time.time()
    _force(DT.ngram_jaccard_pairs(zdocs))
    zipf_naive_dt = time.time() - t0
    jaccard_zipf_ab = {
        "adaptive_prefix_sec": times["ngram_jaccard_zipf"],
        "naive_sec": round(zipf_naive_dt, 3),
        "flat_corpus_adaptive_sec": times["ngram_jaccard_pairs"],
        "flat_corpus_bitset_sec": times["ngram_jaccard_bitset"],
        "flat_corpus_prefix_sec": times["ngram_jaccard_prefix"],
        "flat_corpus_naive_sec": None,  # filled below
    }
    t0 = time.time()
    _force(DT.ngram_jaccard_pairs(
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    ))
    jaccard_zipf_ab["flat_corpus_naive_sec"] = round(time.time() - t0, 3)

    # --- cuckoo-layer A/B (VERDICT r03 #5): the '~99% join-input cut'
    # claim (operators/dedup.py CuckooShardSet docstring), measured.
    # Shape mirrors the 10^10 design point scaled down: the Bloom layer
    # holds 2x its sized capacity (at web scale bits/URL are budgeted,
    # so the filter runs past its design load and its fpp climbs to
    # ~10%+), the cuckoo layer is capacity-sized at engagement
    # (CuckooShardSet.for_capacity, exactly what run_crawl does at the
    # cuckoo_min_seen crossing). Candidates are a frontier-expansion
    # batch: mostly new URLs + a 5% revisit tail. Counters report the
    # rows actually entering the exact |probable| anti-join after each
    # probabilistic layer; exactness is identical in all modes (both
    # layers are false-negative-free).
    cuckoo_ab = _cuckoo_ab(spark, cpus)

    # --- salted-lane skew A/B (VERDICT r03 #7): the budget gate's lane
    # split (operators/politeness.py budget_gate) under a 100%-single-
    # host frontier — the actual PTT shape, where groupBy(host) alone
    # serializes the whole admission sort into ONE task. salt=1 is that
    # degenerate plan; salt=cpus splits the per-host priority window
    # into `cpus` lanes whose budgets sum exactly to the host budget.
    salt_ab = _salt_ab(spark, cpus)

    # --- round-over-round comparability: one number over the queries
    # shared with the previous round's BENCH file (suite totals are
    # query-set-dependent and not comparable across rounds).
    shared_with_prev = None
    repo_dir = os.path.dirname(os.path.abspath(__file__))
    prev_files = sorted(
        f for f in os.listdir(repo_dir)
        if f.startswith("BENCH_r") and f.endswith(".json")
    )
    if prev_files:
        try:
            with open(os.path.join(repo_dir, prev_files[-1])) as fh:
                prev = json.load(fh)
            # driver BENCH files wrap the bench JSON under "parsed";
            # when the stdout line outgrew the driver's 2000-char tail
            # cap (r03) "parsed" is null and the tail string holds only
            # the line's end — recover per-query times from it by regex
            # (keys are unambiguous: "name": 1.234 with a known name).
            prev_q = prev.get("queries") or (prev.get("parsed") or {}).get(
                "queries", {}
            )
            if not prev_q and isinstance(prev.get("tail"), str):
                import re

                known = set(times)
                prev_q = {
                    k: float(v)
                    for k, v in re.findall(
                        r'"([a-z0-9_]+)": ([0-9]+\.[0-9]+)', prev["tail"]
                    )
                    if k in known
                }
            shared = sorted(set(prev_q) & set(times))
            shared_with_prev = {
                "prev_file": prev_files[-1],
                "prev_sf": prev.get("sf")
                or (prev.get("parsed") or {}).get("sf"),
                "n_queries": len(shared),
                "now_sec": round(sum(times[q] for q in shared), 3),
                "prev_sec": round(sum(prev_q[q] for q in shared), 3),
            }
        except (OSError, ValueError):
            pass

    # Full record (exhibits with all counters + the methodology prose)
    # goes to BENCH_FULL.json in the repo; stdout gets a COMPACT line.
    # The driver that records BENCH_r{N}.json keeps only the LAST 2000
    # characters of bench stdout and json-parses that — round 3's line
    # grew past the cap and landed as parsed:null (BENCH_r03.json).
    # The stdout line is therefore kept under 2000 chars, hard-checked.
    full = {
        "metric": "headline suite wall time (crawl pipeline + SURVEY §2 operator queries)",
        "value": round(total, 3),
        "unit": "sec",
        "queries": times,
        "sf": sf,
        "crawl_urls_per_sec": round(fetched / crawl_dt, 1),
        "crawl_urls_fetched": fetched,
        "crawl_pages_available": n_pages,
        "crawl_supersteps": res.supersteps,
        "warmup_sec_excluded": warmup_sec,
        "calibration_tasks_per_sec": {
            "before": calib_before,
            "after": _calibrate(spark, cpus),
        },
        "timing": (
            "best-of-2 per query below 15s first-pass (and for the "
            "crawl); single-pass times on this shared host swing up "
            "to 3x between co-tenant windows (BASELINE.md variance "
            "log) — min-of-2 estimates engine cost, not the window"
        ),
        "config_ab": config_ab,
        "ckpt_ab": ckpt_ab,
        "crawl_phase_walls_sec": crawl_phases,
        "jaccard_zipf_ab": jaccard_zipf_ab,
        "cuckoo_ab": cuckoo_ab,
        "salt_ab": salt_ab,
        "shared_with_prev": shared_with_prev,
        "note": (
            "ngram_jaccard_prefix pins the PPJoin-style scale path "
            "on its WORST-case input (the synthetic corpus is "
            "uniform-df, vocab 31, density 0.75 — prefixes prune "
            "nothing because every pair collides); the adaptive "
            "default ngram_jaccard_pairs probes (skew, vocab, "
            "density) and picks the bitmask popcount kernel there "
            "(r4: ~8x over the naive join it used through r3). "
            "ngram_jaccard_zipf + jaccard_zipf_ab demonstrate the "
            "flip side: on web-shaped Zipfian text "
            "(datagen.zipfify_documents) the selector picks prefix "
            "and it wins — the selector chooses the fastest exact "
            "algorithm on ALL THREE corpus shapes"
        ),
        "cpus": cpus,
    }
    with open(os.path.join(repo_dir, "BENCH_FULL.json"), "w") as fh:
        json.dump(full, fh, indent=1)

    compact = {
        "metric": "headline suite wall (crawl + SURVEY §2 queries)",
        "value": full["value"],
        "unit": "sec",
        # 2dp in the compact line only (full precision in
        # BENCH_FULL.json) — 40+ headline queries at 3dp pushed the
        # line past the driver's 2000-char tail cap
        "queries": {k: round(v, 2) for k, v in times.items()},
        "sf": sf,
        "crawl_urls_per_sec": full["crawl_urls_per_sec"],
        "crawl_urls_fetched": fetched,
        "crawl_supersteps": res.supersteps,
        "calib_tasks_per_sec": full["calibration_tasks_per_sec"],
        "config_ab_sec": {"workers3": config_ab["workers3_sec"],
                          "workers10": config_ab["workers10_sec"],
                          "same_fetch_set": config_ab["same_fetch_set"]},
        "ckpt_ab_sec": {"mem": ckpt_ab["in_memory_sec"],
                        "ckpt": ckpt_ab["checkpointed_sec"],
                        "overhead_pct": ckpt_ab["overhead_pct"]},
        "zipf_ab_sec": {"prefix": jaccard_zipf_ab["adaptive_prefix_sec"],
                        "naive": jaccard_zipf_ab["naive_sec"]},
        "cuckoo_ab": {"bloom_fp_rows": cuckoo_ab["bloom_fp_rows"],
                      "cuckoo_fp_rows": cuckoo_ab["cuckoo_fp_rows"],
                      "join_input_cut_pct": cuckoo_ab["join_input_cut_pct"]},
        "salt_ab_sec": {"salt1": salt_ab["salt1_sec"],
                        "saltN": salt_ab[f"salt{cpus}_sec"],
                        "speedup": salt_ab["speedup"]},
        "shared_with_prev": shared_with_prev,
        "detail": "BENCH_FULL.json",
        "cpus": cpus,
    }
    line = json.dumps(compact)
    if len(line) > 1990:  # driver tail cap; shed in fixed order, never crash
        # the A/B exhibits go first (they live in BENCH_FULL.json too);
        # the cross-round comparison and per-query map go last
        for k in ("ckpt_ab_sec", "salt_ab_sec", "zipf_ab_sec",
                  "config_ab_sec", "cuckoo_ab", "calib_tasks_per_sec",
                  "shared_with_prev", "queries"):
            compact.pop(k, None)
            line = json.dumps(compact)
            if len(line) <= 1990:
                break
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
