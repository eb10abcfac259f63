"""X139: content-defined chunking (pipeline/cdc.py).

Pins: a pure-Python mirror (window-end md5 boundaries, span
assembly, chunk hashing) matches Spark bit-for-bit; chunks tile each
document exactly; SHIFT RESISTANCE — prepending a char changes only
the leading chunk(s) while every chunk after the first re-aligned
boundary keeps its hash (the property fixed-size chunking lacks,
pinned against X39-style fixed spans); identical docs dedup to the
same chunk hashes and the savings receipt is exact; short/empty
docs behave (whole-doc chunk / no rows, NULL text too); chunk
positions count code points, pinned on CJK text with a
supplementary-plane character; partitioning-invariant.
"""

from __future__ import annotations

import hashlib

from ptt_spider_go_spark.pipeline.cdc import (
    CDC_D,
    CDC_W,
    cdc_chunks,
    cdc_dedup_stats,
)

SCHEMA = "doc_id long, text string"


def _docs(spark, rows, parts=4):
    return spark.createDataFrame(rows, schema=SCHEMA).repartition(parts)


def _h(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _mirror(text: str | None):
    if not text:
        return []
    n = len(text)
    bounds = [
        i + CDC_W                       # 1-based window-end position
        for i in range(n - CDC_W + 1)
        if _h(text[i:i + CDC_W]) % CDC_D == 0
    ]
    starts = [1] + [p + 1 for p in bounds]
    ends = bounds + [n]
    out = []
    for s, e in zip(starts, ends):
        if s <= e:
            out.append((s, e - s + 1, _h(text[s - 1:e])))
    return [(i, s, l, h) for i, (s, l, h) in enumerate(out)]


def _text(seed: str, n_words: int) -> str:
    return " ".join(
        f"w{_h(seed + str(i)) % 1000:03d}" for i in range(n_words)
    )


def test_matches_pure_python_mirror(spark):
    rows = [
        (1, _text("a", 120)), (2, _text("b", 80)), (3, "tiny"),
        (4, ""), (5, "exactly8"), (6, _text("a", 120)), (7, None),
    ]
    got = {}
    for r in cdc_chunks(_docs(spark, rows)).collect():
        got.setdefault(r["doc_id"], []).append(
            (r["chunk_idx"], r["start"], r["length"], r["chunk_hash"])
        )
    for d, t in rows:
        assert sorted(got.get(d, [])) == _mirror(t), f"doc {d}"


def test_cjk_chunk_spans_count_code_points(spark):
    # 11 code points, one outside the BMP: no boundary, one whole-doc
    # chunk with the hash Spark's substring/md5 construction gave.
    text = "寫了一篇文章😀好嗎測試"
    got = [(r["chunk_idx"], r["start"], r["length"], r["chunk_hash"])
           for r in cdc_chunks(_docs(spark, [(1, text)])).collect()]
    assert got == [(0, 1, 11, 309978202463101380)]
    assert got == _mirror(text)


def test_chunks_tile_the_document(spark):
    rows = [(1, _text("tile", 200)), (2, "short")]
    got = {}
    for r in cdc_chunks(_docs(spark, rows)).collect():
        got.setdefault(r["doc_id"], []).append(
            (r["chunk_idx"], r["start"], r["length"])
        )
    for d, t in rows:
        ch = sorted(got[d])
        assert ch[0][1] == 1
        pos = 1
        for i, (idx, s, ln) in enumerate(ch):
            assert idx == i and s == pos
            pos += ln
        assert pos == len(t) + 1


def test_shift_resistance(spark):
    base = _text("shift", 150)
    rows = [(1, base), (2, "Z" + base)]
    got = {}
    for r in cdc_chunks(_docs(spark, rows)).collect():
        got.setdefault(r["doc_id"], set()).add(r["chunk_hash"])
    shared = got[1] & got[2]
    # every chunk of doc 1 except (at most) the leading one re-aligns
    assert len(shared) >= len(got[1]) - 1 and len(got[1]) > 2
    # fixed-size chunking would share nothing: pin the contrast
    k = 64
    fixed1 = {_h(base[i:i + k]) for i in range(0, len(base), k)}
    fixed2 = {_h(("Z" + base)[i:i + k])
              for i in range(0, len(base) + 1, k)}
    assert not (fixed1 & fixed2)


def test_dedup_stats_exact(spark):
    rows = [(1, _text("dup", 100)), (2, _text("dup", 100)),
            (3, _text("other", 50))]
    st = cdc_dedup_stats(_docs(spark, rows)).collect()[0]
    m1, m3 = _mirror(_text("dup", 100)), _mirror(_text("other", 50))
    n1, n3 = len(m1), len(m3)
    assert st["n_chunks"] == 2 * n1 + n3
    distinct = {h for _i, _s, _l, h in m1} | {h for _i, _s, _l, h in m3}
    assert st["n_distinct_chunks"] == len(distinct)
    total = 2 * sum(l for _i, _s, l, _h in m1) + sum(
        l for _i, _s, l, _h in m3)
    uniq = st["unique_chars"]
    assert st["total_chars"] == total
    assert st["savings_ppm"] == (total - uniq) * 1_000_000 // total


def test_partitioning_invariance(spark):
    rows = [(i, _text(f"p{i}", 60 + i)) for i in range(12)]
    a = sorted(tuple(r) for r in cdc_chunks(_docs(spark, rows, 2)).collect())
    b = sorted(tuple(r) for r in cdc_chunks(_docs(spark, rows, 7)).collect())
    assert a == b
