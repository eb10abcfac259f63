"""X134: winnowing fingerprints + local-copy pairs (pipeline/winnow.py).

Pins: a pure-Python mirror of robust winnowing (md5 60-bit gram
hashes, window minima, rightmost tie-break, truncated last window,
distinct selection) matches Spark bit-for-bit; the paper's guarantee
holds — any shared substring of length >= W + K - 1 chars yields a
shared fingerprint and a reported pair; docs shorter than K have no
fingerprints while docs with one gram have exactly one, and NULL
text has none; grams are code-point slices, pinned on CJK text with a
supplementary-plane character; the df cap
silences a fingerprint shared by too many docs; sim_ppm is the exact
integer overlap coefficient; and both queries are
partitioning-invariant.
"""

from __future__ import annotations

import hashlib

from ptt_spider_go_spark.pipeline.winnow import (
    DF_CAP,
    K,
    MIN_SHARED,
    SIM_PPM_MIN,
    W,
    winnow_fingerprints,
    winnow_pairs,
)

SCHEMA = "doc_id long, text string"


def _docs(spark, rows, parts=4):
    return spark.createDataFrame(rows, schema=SCHEMA).repartition(parts)


def _h(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _mirror_fps(text: str) -> set[tuple[int, int]]:
    hs = [_h(text[i:i + K]) for i in range(len(text) - K + 1)]
    m = len(hs)
    if m == 0:
        return set()
    sels = set()
    for s in range(0, max(m - W, 0) + 1):
        best, pos = None, -1
        for j in range(s, min(s + W - 1, m - 1) + 1):
            if best is None or hs[j] <= best:
                best, pos = hs[j], j
        sels.add((pos, best))
    return sels


def _mirror_pairs(rows):
    fps = {d: {fp for _p, fp in _mirror_fps(t)} for d, t in rows}
    df: dict[int, int] = {}
    for s in fps.values():
        for fp in s:
            df[fp] = df.get(fp, 0) + 1
    keep = {
        d: {fp for fp in s if df[fp] <= DF_CAP} for d, s in fps.items()
    }
    out = []
    ids = sorted(keep)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            shared = len(keep[a] & keep[b])
            if shared < MIN_SHARED:
                continue
            na, nb = len(keep[a]), len(keep[b])
            ppm = shared * 1_000_000 // min(na, nb)
            if ppm >= SIM_PPM_MIN:
                out.append((a, b, shared, na, nb, ppm))
    return sorted(out)


FIXTURE = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "a completely different sentence about ships at sea"),
    (3, "the quick brown fox leaps over the lazy dog"),   # near-copy of 1
    (4, "short"),                                          # < K chars
    (5, "exactly8"),                                       # exactly one gram
    (6, ""),                                               # empty
    (7, "a completely different sentence about ships at sea"),  # dup of 2
]


def test_fingerprints_match_pure_python_mirror(spark):
    got = {}
    for r in winnow_fingerprints(_docs(spark, FIXTURE)).collect():
        got.setdefault(r["doc_id"], set()).add((r["pos"], r["fp"]))
    want = {d: _mirror_fps(t) for d, t in FIXTURE if _mirror_fps(t)}
    assert got == want


def test_short_doc_boundaries(spark):
    rows = [(4, "short"), (5, "exactly8"), (6, ""), (8, None)]
    got = winnow_fingerprints(_docs(spark, rows)).collect()
    by_doc = {}
    for r in got:
        by_doc.setdefault(r["doc_id"], []).append((r["pos"], r["fp"]))
    assert 4 not in by_doc and 6 not in by_doc and 8 not in by_doc
    assert by_doc[5] == [(0, _h("exactly8"))]


def test_cjk_grams_are_code_point_slices(spark):
    # 11 code points, one outside the BMP (4 UTF-8 bytes): 4 grams, one
    # window. The fingerprint is the one Spark's substring/md5
    # construction selected.
    text = "寫了一篇文章😀好嗎測試"
    assert len(text) == 11
    got = [(r["pos"], r["fp"])
           for r in winnow_fingerprints(_docs(spark, [(1, text)])).collect()]
    assert got == [(1, 703441963328075100)]
    assert got == sorted(_mirror_fps(text))


def test_guarantee_shared_substring_yields_pair(spark):
    # shared run of exactly W + K - 1 = 11 chars at different offsets.
    run = "GUARANTEED!"
    assert len(run) == W + K - 1
    rows = [
        (1, "xxxx " + run + " yyyy"),
        (2, "zz" + run + "qqqqqqqq"),
    ]
    fps = {}
    for r in winnow_fingerprints(_docs(spark, rows)).collect():
        fps.setdefault(r["doc_id"], set()).add(r["fp"])
    assert fps[1] & fps[2], "winnowing guarantee violated"


def test_pairs_match_mirror_and_exact_ppm(spark):
    got = [
        (r["doc_a"], r["doc_b"], r["n_shared"], r["n_a"], r["n_b"],
         r["sim_ppm"])
        for r in winnow_pairs(_docs(spark, FIXTURE)).collect()
    ]
    want = _mirror_pairs(FIXTURE)
    assert sorted(got) == want
    exact = [w for w in want if w[0] == 2 and w[1] == 7]
    assert exact and exact[0][5] == 1_000_000  # identical docs
    assert any(w[0] == 1 and w[1] == 3 for w in want)  # near-copy found


def test_df_cap_silences_boilerplate(spark):
    # one 11-char run shared by DF_CAP + 2 docs -> its fingerprints
    # exceed the cap and produce no pairs; a run shared by 2 docs
    # still reports.
    boiler = "BOILERPLAT"  # 10 chars -> pad to guarantee length
    rows = [
        (100 + i, f"doc{i:04d} " + boiler + "E common footer here")
        for i in range(DF_CAP + 2)
    ]
    rows += [(1, "unique pair text aaaa bbbb cccc"),
             (2, "unique pair text aaaa bbbb dddd")]
    pairs = [
        (r["doc_a"], r["doc_b"])
        for r in winnow_pairs(_docs(spark, rows)).collect()
    ]
    assert (1, 2) in pairs
    mirror = _mirror_pairs(rows)
    assert sorted(pairs) == [(a, b) for a, b, *_ in mirror]


def test_partitioning_invariance(spark):
    a = sorted(tuple(r) for r in
               winnow_fingerprints(_docs(spark, FIXTURE, parts=2)).collect())
    b = sorted(tuple(r) for r in
               winnow_fingerprints(_docs(spark, FIXTURE, parts=7)).collect())
    assert a == b
    pa = [tuple(r) for r in
          winnow_pairs(_docs(spark, FIXTURE, parts=2)).collect()]
    pb = [tuple(r) for r in
          winnow_pairs(_docs(spark, FIXTURE, parts=7)).collect()]
    assert pa == pb
