"""Winnowing document fingerprints + local-copy pairs (X134).

X10's `fingerprints` is a whole-document rolling hash; X36 excises
EXACT duplicate substrings; X128 detects set-level containment. The
classic middle ground — "these two pages share local runs of text,
show me the evidence positions" — is winnowing (Schleimer, Wilkerson
& Aiken, SIGMOD 2003; the MOSS algorithm): hash every char k-gram,
slide a window of w consecutive hashes, select the minimum hash per
window (rightmost on ties — robust winnowing), dedupe. The selected
~2/(w+1) density sketch carries the guarantee that ANY shared
substring of length >= w + k - 1 chars yields at least one shared
fingerprint in both documents: identical hash windows select the
same hash value, wherever they sit. Pairs sharing fingerprints are
the local-copy candidates plagiarism/attribution/quote-mining
pipelines triage.

Parameters (the paper's noise/guarantee knobs): k = 8 (noise
threshold — no match shorter than k chars counts), w = 4 (guarantee
threshold t = w + k - 1 = 11 chars). Documents with fewer than k+w-1
chars get ONE truncated window over their < w hashes, so every doc
with at least one k-gram owns >= 1 fingerprint (whole-short-doc
copies stay detectable).

Distributed shape (the 100 TB contract): fingerprint selection is
ONE map-only projection — gram hashes, window minima, and the
distinct-(hash, pos) set all ride in-row on array expressions (the
X37/X123 plan class; O(n·w) expression work per doc, no explode
until the final fingerprint rows). The pair stage is the MinHash-
band shape: distinct (doc, fp) -> df-cap the hot fingerprints
(boilerplate runs — the same stop-token lever as X4/X128; a capped
fp yields <= CAP·(CAP-1)/2 pairs, so no key can quadratic-blow the
join) -> one equi-join on fp -> one pair groupBy. Text bytes never
shuffle; only 60-bit hashes and positions do.

Exactness: hashes are the repo-wide md5 60-bit construction
(common.md5_long), bit-identical in DuckDB; minima, tie-breaks, and
similarity ppm (BIGINT cross-multiplied floor division) are integer
comparisons end to end — no float anywhere. The DuckDB oracle
replays gram hashing, robust-winnowing selection (rightmost min via
a frame min + an in-window max(pos) join), the df cap, and every
pair count bit-exactly.

Reference tie-in: the Go crawler dedups whole URLs/images only
(crawler.go seen-map; SURVEY §2 D1/D4); sub-document copy evidence
is pipeline-extension territory (SURVEY §2 X-table).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ptt_spider_go_spark.functions.columns import _let
from ptt_spider_go_spark.pipeline.common import gram_hashes

#: char k-gram size (noise threshold).
K = 8
#: winnow window in hashes (guarantee t = W + K - 1 chars).
W = 4
#: drop fingerprints shared by more than this many docs (boilerplate
#: guard; bounds every join key's pair fan-out at CAP·(CAP-1)/2).
DF_CAP = 64
#: minimum shared fingerprints for a reported pair.
MIN_SHARED = 2
#: minimum overlap coefficient (ppm) for a reported pair — web text
#: shares enough stock 8-grams that unthresholded pairs approach
#: all-pairs (measured sf0.001: 92,445 pairs at MIN_SHARED=2 vs 1,433
#: at 20%; true duplicates sit at 1,000,000 and injected partial
#: copies at ~300,000).
SIM_PPM_MIN = 200_000


def _selections(hs: Column) -> Column:
    """Robust-winnowing selection over a BOUND hash-array reference:
    window starts 0 .. max(m-W, 0), each window spans
    [s, min(s+W-1, m-1)] — the last (or only) window truncates so
    short docs still fingerprint. Rightmost min: fold ascending,
    replace on <= (ties move right). `hs` MUST be a `_let`-bound
    lambda variable — the fold references it 2·W times per window and
    a raw Column reference would splice (and re-evaluate) the full
    md5 transform per reference (the columns.py _let lesson: measured
    minutes-per-500-docs before, sub-second after)."""
    m = F.size(hs)
    sels = F.transform(
        F.sequence(F.lit(0), F.greatest(m - W, F.lit(0))),
        lambda s: F.aggregate(
            F.sequence(s, F.least(s + W - 1, m - 1)),
            F.struct(
                F.lit(None).cast("long").alias("fp"),
                F.lit(-1).cast("long").alias("pos"),
            ),
            lambda acc, j: F.when(
                acc["fp"].isNull()
                | (F.try_element_at(hs, (j + 1).cast("int"))
                   <= acc["fp"]),
                F.struct(
                    F.try_element_at(hs, (j + 1).cast("int")).alias("fp"),
                    j.cast("long").alias("pos"),
                ),
            ).otherwise(acc),
        ),
    )
    return F.when(
        m == 0,
        F.array().cast("array<struct<fp:bigint,pos:bigint>>"),
    ).otherwise(F.array_distinct(sels))


def winnow_fingerprints(docs: DataFrame) -> DataFrame:
    """(doc_id, pos, fp): the robust-winnowing fingerprint set —
    0-based gram position and 60-bit gram hash, one row per SELECTED
    (hash, pos), distinct per doc. Map-only until the final distinct;
    unordered (consumers sort if they need to)."""
    sel = docs.select(
        "doc_id", _let(gram_hashes(F.col("text"), K), _selections).alias("sels")
    )
    return (
        sel.select("doc_id", F.explode("sels").alias("s"))
        .select(
            "doc_id",
            F.col("s.pos").alias("pos"),
            F.col("s.fp").alias("fp"),
        )
        .distinct()
    )


def winnow_pairs(docs: DataFrame) -> DataFrame:
    """(doc_a, doc_b, n_shared, n_a, n_b, sim_ppm): local-copy
    candidate pairs — docs sharing >= MIN_SHARED surviving
    fingerprint VALUES after the DF_CAP boilerplate cut, with overlap
    coefficient >= SIM_PPM_MIN. n_a/n_b are the docs' surviving
    distinct-fp counts; sim_ppm = n_shared · 10^6 DIV min(n_a, n_b)
    (exact integer overlap coefficient). Ordered (doc_a, doc_b)."""
    # localCheckpoint: the fingerprint relation feeds the df counts,
    # the cap join, the sizes, AND both join sides — materialize the
    # map-only selection once (the ADVICE-r04 authority_budgets
    # idiom) instead of re-running it per consumer.
    fps = (
        winnow_fingerprints(docs)
        .select("doc_id", "fp")
        .distinct()
        .localCheckpoint()
    )
    df_counts = fps.groupBy("fp").agg(F.count("*").alias("df"))
    keep = (
        fps.join(df_counts.filter(F.col("df") <= DF_CAP), "fp")
        .select("doc_id", "fp")
    )
    sizes = keep.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n")
    )
    a = keep.select(
        F.col("doc_id").alias("doc_a"), "fp"
    )
    b = keep.select(
        F.col("doc_id").alias("doc_b"), "fp"
    )
    pairs = (
        a.join(b, "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= MIN_SHARED)
    )
    return (
        pairs
        .join(sizes.withColumnsRenamed({"doc_id": "doc_a", "n": "n_a"}),
              "doc_a")
        .join(sizes.withColumnsRenamed({"doc_id": "doc_b", "n": "n_b"}),
              "doc_b")
        .select(
            "doc_a", "doc_b", "n_shared", "n_a", "n_b",
            F.expr("n_shared * 1000000 DIV least(n_a, n_b)")
            .alias("sim_ppm"),
        )
        .filter(F.col("sim_ppm") >= SIM_PPM_MIN)
        .orderBy("doc_a", "doc_b")
    )


#: a fingerprint is a source TEMPLATE when it appears in at least
#: this share (ppm) of the source's fingerprinted docs...
TEMPLATE_SHARE_PPM = 500_000
#: ...among sources with at least this many fingerprinted docs.
TEMPLATE_MIN_DOCS = 5


def source_templates(docs: DataFrame) -> DataFrame:
    """(doc_id, source, n_fps, n_template, template_ppm): per-doc
    boilerplate evidence from winnowing — a fingerprint is a TEMPLATE
    of a source when >= 50% of the source's fingerprinted docs carry
    it (site chrome: headers, footers, nav runs — the per-SITE
    counterpart of X32's per-doc segment heuristic and X112's
    corpus-wide common-line removal, localized to 11-char-and-up
    runs with positions); template_ppm = the share of the doc's own
    fingerprints that are source templates (BIGINT cross-multiplied,
    exact) — the direct 'how much of this page is site chrome'
    score a cleaning gate thresholds on.

    Scale shape: the X134 map-only selection (localCheckpointed
    once), ONE doc->source equi-join (broadcast-eligible dimension),
    ONE (source, fp) groupBy, ONE source groupBy, then one semi-
    annotating LEFT join back and ONE doc groupBy — all keyed
    shuffles on hashes, text never moves. Docs with zero
    fingerprints report zeros. Ordered by doc_id."""
    fps = (
        winnow_fingerprints(docs)
        .select("doc_id", "fp")
        .distinct()
        .localCheckpoint()
    )
    j = fps.join(docs.select("doc_id", "source"), "doc_id")
    src_docs = j.groupBy("source").agg(
        F.countDistinct("doc_id").alias("nd")
    )
    fp_df = j.groupBy("source", "fp").agg(F.count("*").alias("df"))
    tmpl = (
        fp_df.join(src_docs, "source")
        .filter(
            (F.col("nd") >= TEMPLATE_MIN_DOCS)
            & (F.expr("df * 1000000 DIV nd")
               >= TEMPLATE_SHARE_PPM)
        )
        .select("source", "fp", F.lit(1).alias("is_t"))
    )
    marked = j.join(tmpl, ["source", "fp"], "left")
    per_doc = marked.groupBy("doc_id", "source").agg(
        F.count("*").cast("long").alias("n_fps"),
        F.sum(F.coalesce("is_t", F.lit(0))).cast("long")
        .alias("n_template"),
    )
    return (
        docs.select("doc_id", "source")
        .join(per_doc, ["doc_id", "source"], "left")
        .select(
            "doc_id", "source",
            F.coalesce("n_fps", F.lit(0)).cast("long").alias("n_fps"),
            F.coalesce("n_template", F.lit(0)).cast("long")
            .alias("n_template"),
            F.when(
                F.coalesce("n_fps", F.lit(0)) > 0,
                F.expr("n_template * 1000000 DIV n_fps"),
            ).otherwise(F.lit(0)).cast("long").alias("template_ppm"),
        )
        .orderBy("doc_id")
    )
