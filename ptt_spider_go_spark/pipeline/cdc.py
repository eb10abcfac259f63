"""Content-defined chunking + chunk-level dedup receipts (X139).

Fixed-size chunking (X39 `chunk_documents` — the MODEL-side context
chunker) breaks at byte one: insert a character and every downstream
chunk boundary shifts, so nothing dedups. STORAGE-side dedup
(the LBFS/Venti/restic/casync family; how WARC archives and
content-addressable corpus stores dedup revisions) therefore derives
boundaries from the CONTENT: a boundary falls wherever a rolling
window hash satisfies h % D == 0, so an edit perturbs only the
chunks it touches and every chunk to the right re-aligns and dedups
again — the shift-resistance property (pinned in tests: prepend a
char, tail chunk hashes unchanged).

Semantics (deterministic, oracle-exact): the window hash is the
repo-wide 60-bit md5 over the 8-char window ENDING at position i
(the X134 gram construction, window-end aligned); a chunk boundary
falls AFTER position i when h_i % 64 == 0 (expected chunk ~64
chars). Chunks are the substrings between consecutive boundaries;
docs shorter than the window are one whole-doc chunk. This is the
textbook basic CDC: no min/max chunk clamps — those are an
engineering refinement that makes selection sequentially stateful
(each boundary's eligibility depends on the previous accept), which
buys bounded metadata at the cost of slightly worse dedup; the
documented trade-off here is the pure content-defined rule, whose
degenerate case (adversarial content with no or all boundary hits)
is bounded by document length.

Distributed shape (the 100 TB contract): chunking is ONE map-only
Arrow pass (common.map_texts, shared with X134): each batch of
(doc_id, text) crosses into Python once, hashlib hashes every window
and every chunk in one C call, and only (doc_id, chunk_idx, start,
length, chunk_hash) rows come back. The dedup receipt is ONE groupBy
on the 60-bit chunk hash (map-side combine) + ONE 1-row aggregate —
chunk text never shuffles (only hashes and lengths do).

Reference tie-in: the Go crawler stores every image byte-for-byte
with per-article dedup only (SURVEY §2 D1); storage-level chunk
dedup is pipeline-extension territory, composing with the X64
WARC / X85 CDX archive arc (revisit records point at deduped
content).
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, functions as F

from ptt_spider_go_spark.pipeline.common import map_texts, md5_60, md5_60_grams

#: rolling window width (chars), shared construction with X134.
CDC_W = 8
#: boundary divisor: boundary after position i when h_i % D == 0.
CDC_D = 64


def _chunks(text: str | None) -> Iterator[tuple[int, int, int, int]]:
    """(chunk_idx, start, length, chunk_hash) of one document: a chunk
    ends at every 1-based window-end position i whose window hash is
    0 mod CDC_D, and the last chunk ends at the document's end. Docs
    shorter than CDC_W chars are one whole-doc chunk; NULL and empty
    docs have none."""
    if not text:
        return
    n = len(text)
    ends = [j + CDC_W for j, h in enumerate(md5_60_grams(text, CDC_W))
            if h % CDC_D == 0]
    if not ends or ends[-1] != n:
        ends.append(n)
    start = 1
    for idx, end in enumerate(ends):
        yield idx, start, end - start + 1, md5_60(text[start - 1:end])
        start = end + 1


def cdc_chunks(docs: DataFrame) -> DataFrame:
    """(doc_id, chunk_idx, start, length, chunk_hash): content-
    defined chunks per document — 0-based chunk_idx, 1-based char
    start, and the 60-bit md5 of the chunk text. One map-only Arrow
    pass. Unordered."""
    return map_texts(docs, _chunks,
                     ("chunk_idx", "start", "length", "chunk_hash"))


def cdc_dedup_stats(docs: DataFrame) -> DataFrame:
    """One-row storage receipt: (n_chunks, n_distinct_chunks,
    total_chars, unique_chars, savings_ppm) — how many chunk chars a
    content-addressed store would NOT store again because an
    identical-hash chunk already exists. savings_ppm =
    (total − unique) · 10^6 DIV total (exact BIGINT; 0 for an empty
    corpus). unique_chars counts each distinct chunk hash's length
    once (chunk length is a function of the chunk text, hence of its
    hash)."""
    ch = cdc_chunks(docs)
    per_hash = ch.groupBy("chunk_hash").agg(
        F.count("*").alias("cnt"),
        F.min("length").alias("length"),
    )
    return per_hash.agg(
        F.sum("cnt").cast("long").alias("n_chunks"),
        F.count("*").cast("long").alias("n_distinct_chunks"),
        F.sum(F.col("cnt") * F.col("length")).cast("long")
        .alias("total_chars"),
        F.sum("length").cast("long").alias("unique_chars"),
    ).select(
        "n_chunks", "n_distinct_chunks", "total_chars", "unique_chars",
        F.when(
            F.col("total_chars") > 0,
            F.expr(
                "(total_chars - unique_chars) * 1000000 DIV total_chars"
            ),
        ).otherwise(F.lit(0)).cast("long").alias("savings_ppm"),
    )
