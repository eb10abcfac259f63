"""Workload ``near_dup``: winnowing fingerprints and local-copy pairs,
then content-defined chunks and their dedup receipt, over a generated
documents table.

The documents follow the make-up of the repository's synthetic
``documents`` table: a 30-word vocabulary, 10 to 100 tokens per
document, and about one document in twenty a copy of an earlier one
with `` dup`` appended. Everything derives from the workload seed.

The checks recompute every output in plain Python from the documents
alone: 60-bit md5 char grams, robust winnowing (rightmost minimum per
window), the df cap and pair thresholds, and window-end CDC boundaries.
"""

from __future__ import annotations

import hashlib
import os
import random
import time
from collections import Counter, defaultdict
from itertools import combinations

import pyarrow as pa
import pyarrow.parquet as pq

from ptt_spider_go_spark.pipeline import cdc, winnow

from harness import write_split

N_DOCS = 1000
VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
DUP_SHARE = 0.05

#: (name, entry function, job group) in the order each round runs them.
OPS = (
    ("fingerprints", winnow.winnow_fingerprints, "winnow"),
    ("pairs", winnow.winnow_pairs, "winnow"),
    ("chunks", cdc.cdc_chunks, "cdc"),
    ("stats", cdc.cdc_dedup_stats, "cdc"),
)


def make_docs(seed: int) -> list[tuple[int, str]]:
    rng = random.Random(seed)
    docs: list[tuple[int, str]] = []
    for i in range(N_DOCS):
        if i >= 20 and rng.random() < DUP_SHARE:
            docs.append((i, docs[rng.randrange(i)][1] + " dup"))
        else:
            n = rng.randint(10, 100)
            docs.append((i, " ".join(rng.choice(VOCAB) for _ in range(n))))
    return docs


def make_inputs(seed: int, dest: str) -> None:
    docs = make_docs(seed)
    table = pa.table({"doc_id": pa.array([d for d, _ in docs], pa.int64()),
                      "text": pa.array([t for _, t in docs], pa.string())})
    write_split(table, os.path.join(dest, "documents"))


def expected(seed: int) -> dict:
    return reference(make_docs(seed))


def run_round(spark, inputs: str, work: str, set_group) -> dict:
    """The four operations, timed, each output written; returns the
    outputs, read back untimed, for `check`."""
    docs = spark.read.parquet(os.path.join(inputs, "documents"))
    layer: dict[str, float] = {}
    t0 = time.perf_counter()
    for name, fn, group in OPS:
        set_group(group)
        t = time.perf_counter()
        fn(docs).write.parquet(os.path.join(work, name))
        layer[f"{group}.{name}_s"] = time.perf_counter() - t
    run_s = time.perf_counter() - t0

    out = {name: pq.read_table(os.path.join(work, name)).to_pylist()
           for name, _, _ in OPS}
    layer["winnow.fingerprints"] = len(out["fingerprints"])
    layer["winnow.pairs"] = len(out["pairs"])
    layer["cdc.chunks"] = len(out["chunks"])
    return {"run_s": run_s, "pages": N_DOCS, "layer": layer, "outputs": out}


# --------------------------------------------------------------------------
# plain-Python reference
# --------------------------------------------------------------------------

# The specification the outputs are checked against, stated here rather
# than read from the program, so that a changed parameter shows as a
# failed check. The winnow grams and the CDC windows are the same
# 8-char hashes.
K = CDC_W = 8
W = 4
DF_CAP = 64
MIN_SHARED = 2
SIM_PPM_MIN = 200_000
CDC_D = 64

def md5_60(s: str) -> int:
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


def _winnow(hs: list[int]) -> set[tuple[int, int]]:
    """(pos, fp) selected by robust winnowing over the K-gram hashes
    `hs`: the rightmost minimum of every window of W consecutive hashes;
    fewer than W hashes make one truncated window."""
    m, w = len(hs), W
    sel = set()
    for s in range(max(m - w, 0) + 1 if m else 0):
        best = s
        for j in range(s + 1, min(s + w, m)):
            if hs[j] <= hs[best]:
                best = j
        sel.add((best, hs[best]))
    return sel


def _pairs(fps: dict[int, set[int]]) -> list[tuple]:
    df = Counter(fp for s in fps.values() for fp in s)
    keep = {d: {fp for fp in s if df[fp] <= DF_CAP}
            for d, s in fps.items()}
    by_fp = defaultdict(list)
    for d in sorted(keep):
        for fp in keep[d]:
            by_fp[fp].append(d)
    shared = Counter()
    for docs in by_fp.values():
        shared.update(combinations(docs, 2))
    out = []
    for (a, b), n in shared.items():
        if n < MIN_SHARED:
            continue
        na, nb = len(keep[a]), len(keep[b])
        ppm = n * 1_000_000 // min(na, nb)
        if ppm >= SIM_PPM_MIN:
            out.append((a, b, n, na, nb, ppm))
    return sorted(out)


def _chunks(text: str, hs: list[int]) -> list[tuple[int, int]]:
    """(start, length), 1-based start: a boundary falls after position
    i when the hash of the CDC_W chars ending at i is 0 mod CDC_D, where
    hs[j] hashes the chars starting at j; a document shorter than the
    window is one chunk."""
    n, w = len(text), CDC_W
    if n == 0:
        return []
    bounds = [i for i in range(w, n + 1) if hs[i - w] % CDC_D == 0]
    starts = [1] + [b + 1 for b in bounds]
    ends = bounds + [n]
    return [(s, e - s + 1) for s, e in zip(starts, ends) if s <= e]


def reference(docs: list[tuple[int, str]]) -> dict:
    fingerprints = Counter()
    fps: dict[int, set[int]] = {}
    chunks = Counter()
    per_hash: dict[int, int] = {}
    n_chunks = total = 0
    for d, text in docs:
        hs = [md5_60(text[i:i + K]) for i in range(len(text) - K + 1)]
        sel = _winnow(hs)
        fingerprints.update((d, pos, fp) for pos, fp in sel)
        fps[d] = {fp for _, fp in sel}
        for idx, (s, ln) in enumerate(_chunks(text, hs)):
            h = md5_60(text[s - 1:s - 1 + ln])
            chunks[(d, idx, s, ln, h)] += 1
            per_hash[h] = min(ln, per_hash.get(h, ln))
            n_chunks += 1
            total += ln
    unique = sum(per_hash.values())
    return {
        "fingerprints": fingerprints,
        "pairs": _pairs(fps),
        "chunks": chunks,
        "stats": (n_chunks, len(per_hash), total, unique,
                  (total - unique) * 1_000_000 // total if total else 0),
        "total_chars": sum(len(t) for _, t in docs),
    }


# --------------------------------------------------------------------------
# checks
# --------------------------------------------------------------------------

def check(out: dict, ref: dict) -> list[tuple[str, list[str]]]:
    """(operation, problems) per operation; no problems when it is right."""
    return [(name, check_op(name, out[name], ref)) for name, _, _ in OPS]


def check_op(name: str, rows: list[dict], ref: dict) -> list[str]:
    """Problems in one operation's output; empty when it is right."""
    if name == "fingerprints":
        got = Counter((r["doc_id"], r["pos"], r["fp"]) for r in rows)
        return [] if got == ref["fingerprints"] else [
            "fingerprints differ from the reference"]
    if name == "pairs":
        got = [(r["doc_a"], r["doc_b"], r["n_shared"], r["n_a"], r["n_b"],
                r["sim_ppm"]) for r in rows]
        return [] if sorted(got) == ref["pairs"] else ["pairs differ from the reference"]
    if name == "chunks":
        got = Counter((r["doc_id"], r["chunk_idx"], r["start"], r["length"],
                       r["chunk_hash"]) for r in rows)
        return [] if got == ref["chunks"] else ["chunks differ from the reference"]
    bad = []
    got = [(r["n_chunks"], r["n_distinct_chunks"], r["total_chars"],
            r["unique_chars"], r["savings_ppm"]) for r in rows]
    if got != [ref["stats"]]:
        bad.append("dedup stats differ from the reference")
    if [r["total_chars"] for r in rows] != [ref["total_chars"]]:
        bad.append("total_chars is not the sum of char_length(text)")
    return bad


def _corruptions(out: dict):
    def edit(name, key, fn):
        rows = [dict(r) for r in out[name]]
        rows[0][key] = fn(rows[0][key])
        return name, rows

    yield "drop a fingerprint", ("fingerprints", out["fingerprints"][1:])
    yield "change a fingerprint", edit("fingerprints", "fp", lambda v: v ^ 1)
    yield "drop a pair", ("pairs", out["pairs"][1:])
    yield "change a pair's sim_ppm", edit("pairs", "sim_ppm", lambda v: v + 1)
    yield "drop a chunk", ("chunks", out["chunks"][1:])
    yield "shift a chunk start", edit("chunks", "start", lambda v: v + 1)
    yield "change total_chars", edit("stats", "total_chars", lambda v: v + 1)


def selftest(out: dict, ref: dict) -> list[str]:
    """Corruptions the checks failed to reject; empty when all were."""
    return [name for name, (op, rows) in _corruptions(out)
            if not check_op(op, rows, ref)]
