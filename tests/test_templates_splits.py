"""X137 source templates + X138 leakage-safe splits.

Pins: a pure-Python mirror (on the test_winnow fingerprint mirror)
matches source_templates exactly, including the >=50%-of-source
boundary and the MIN_DOCS gate; fingerprint-less docs (NULL text
included) report zeros;
leakage_safe_splits puts every member of a near-dup cluster in the
same split (the whole point), matches a pure-Python md5-bucket
mirror on singleton clusters, and split_manifest accounts for every
doc and token; both are partitioning-invariant.
"""

from __future__ import annotations

import hashlib

from ptt_spider_go_spark.pipeline.clusters import (
    SPLIT_SEED,
    SPLIT_TRAIN_PCT,
    SPLIT_VAL_PCT,
    leakage_safe_splits,
    split_manifest,
)
from ptt_spider_go_spark.pipeline.winnow import (
    TEMPLATE_MIN_DOCS,
    TEMPLATE_SHARE_PPM,
    source_templates,
)
from tests.test_winnow import _mirror_fps

DOC_SCHEMA = "doc_id long, text string, source string"
PAIR_SCHEMA = "doc_a long, doc_b long"


def _docs(spark, rows, parts=4):
    return spark.createDataFrame(rows, schema=DOC_SCHEMA).repartition(parts)


def _pairs(spark, pairs, parts=2):
    return spark.createDataFrame(pairs, schema=PAIR_SCHEMA).repartition(parts)


def _mirror_templates(rows):
    fps = {d: {fp for _p, fp in _mirror_fps(t or "")} for d, t, _s in rows}
    src_of = {d: s for d, t, s in rows}
    by_src: dict[str, set[int]] = {}
    for d, s in src_of.items():
        if fps[d]:
            by_src.setdefault(s, set()).add(d)
    tmpl: dict[str, set[int]] = {}
    for s, ds in by_src.items():
        nd = len(ds)
        if nd < TEMPLATE_MIN_DOCS:
            continue
        df: dict[int, int] = {}
        for d in ds:
            for fp in fps[d]:
                df[fp] = df.get(fp, 0) + 1
        tmpl[s] = {
            fp for fp, c in df.items()
            if c * 1_000_000 // nd >= TEMPLATE_SHARE_PPM
        }
    out = []
    for d, _t, s in rows:
        n = len(fps[d])
        nt = len(fps[d] & tmpl.get(s, set()))
        out.append((d, s, n, nt, nt * 1_000_000 // n if n else 0))
    return sorted(out)


FOOTER = " | copyright example footer navigation bar 2026"


def _template_fixture():
    rows = []
    for i in range(6):  # source A: unique bodies + shared footer
        rows.append((i, f"unique body number {i} with words {i}" + FOOTER,
                     "A"))
    for i in range(3):  # source B: below the MIN_DOCS gate
        rows.append((100 + i, "identical tiny page" + FOOTER, "B"))
    rows.append((200, "nofp", "A"))  # < K chars -> zero fingerprints
    rows.append((201, None, "A"))    # NULL text -> zero fingerprints
    return rows


def test_templates_match_mirror(spark):
    rows = _template_fixture()
    got = sorted(
        tuple(r) for r in source_templates(_docs(spark, rows)).collect()
    )
    assert got == _mirror_templates(rows)


def test_templates_semantics(spark):
    rows = _template_fixture()
    got = {r["doc_id"]: r for r in
           source_templates(_docs(spark, rows)).collect()}
    # source-A docs carry footer templates
    assert all(got[i]["n_template"] > 0 for i in range(6))
    assert all(0 < got[i]["template_ppm"] < 1_000_000 for i in range(6))
    # source B is below the MIN_DOCS gate: no templates despite
    # identical texts
    assert all(got[100 + i]["n_template"] == 0 for i in range(3))
    # fingerprint-less docs report zeros
    assert (got[200]["n_fps"], got[200]["template_ppm"]) == (0, 0)
    assert (got[201]["n_fps"], got[201]["n_template"],
            got[201]["template_ppm"]) == (0, 0, 0)


def test_template_boundary_exactly_half(spark):
    # 6 docs; a run shared by exactly 3 -> df*1e6 DIV nd == 500000,
    # the >= boundary admits it.
    shared = "EXACTLYHALFRUN padded words here"
    rows = [(i, (shared if i < 3 else f"other text body {i} abcdefgh")
             + f" tail{i} unique words {i}", "S") for i in range(6)]
    got = {r["doc_id"]: r for r in
           source_templates(_docs(spark, rows)).collect()}
    assert all(got[i]["n_template"] > 0 for i in range(3))
    assert sorted(
        tuple(r) for r in source_templates(_docs(spark, rows)).collect()
    ) == _mirror_templates(rows)


def _bucket(cluster_id: int) -> int:
    h = hashlib.md5(f"{SPLIT_SEED}:{cluster_id}".encode()).hexdigest()
    return int(h[:15], 16) % 100


def _split_of(b: int) -> str:
    if b < SPLIT_TRAIN_PCT:
        return "train"
    if b < SPLIT_TRAIN_PCT + SPLIT_VAL_PCT:
        return "val"
    return "test"


def test_singleton_splits_match_md5_mirror(spark):
    rows = [(i, f"doc {i} totally unique text {i}", "A")
            for i in range(300)]
    got = {r["doc_id"]: (r["cluster_id"], r["split"]) for r in
           leakage_safe_splits(
               _docs(spark, rows), _pairs(spark, [], parts=1)
           ).collect()}
    assert got == {i: (i, _split_of(_bucket(i))) for i in range(300)}
    # the 90/5/5 draw actually produces all three splits on 300 ids
    assert {s for _c, s in got.values()} == {"train", "val", "test"}


def test_clusters_never_straddle_splits(spark):
    rows = [(i, f"text {i}", "A") for i in range(40)]
    # chain 0-1-2-3 into one cluster, pair up (10,11), (20,21)
    pairs = [(0, 1), (1, 2), (2, 3), (10, 11), (20, 21)]
    got = {r["doc_id"]: (r["cluster_id"], r["split"]) for r in
           leakage_safe_splits(
               _docs(spark, rows), _pairs(spark, pairs)
           ).collect()}
    for members in ([0, 1, 2, 3], [10, 11], [20, 21]):
        assert len({got[m] for m in members}) == 1
        assert got[members[0]][0] == members[0]  # min-id cluster label
    # the draw is by CLUSTER id: chained docs take cluster 0's draw
    assert got[3][1] == _split_of(_bucket(0))


def test_split_manifest_accounts_for_everything(spark):
    rows = [(i, f"word{i} " * (i % 5 + 1), "A") for i in range(60)]
    pairs = [(0, 1), (2, 3)]
    man = {r["split"]: r for r in
           split_manifest(_docs(spark, rows), _pairs(spark, pairs))
           .collect()}
    assert sum(r["n_docs"] for r in man.values()) == 60
    assert sum(r["n_clusters"] for r in man.values()) == 58
    assert (sum(r["n_tokens"] for r in man.values())
            == sum(i % 5 + 1 for i in range(60)))


def test_partitioning_invariance(spark):
    rows = _template_fixture()
    a = sorted(tuple(r) for r in
               source_templates(_docs(spark, rows, 2)).collect())
    b = sorted(tuple(r) for r in
               source_templates(_docs(spark, rows, 7)).collect())
    assert a == b
    srows = [(i, f"doc {i} text", "A") for i in range(50)]
    pairs = [(0, 1), (5, 6)]
    sa = sorted(tuple(r) for r in leakage_safe_splits(
        _docs(spark, srows, 2), _pairs(spark, pairs, 1)).collect())
    sb = sorted(tuple(r) for r in leakage_safe_splits(
        _docs(spark, srows, 7), _pairs(spark, pairs, 3)).collect())
    assert sa == sb
