"""Distributed URL-seen set: partitioned Bloom shards + exact verify (D4).

[north_rule] BASELINE.json:14 mandates a "distributed URL-seen set built
from partitioned Bloom filters with a ... verification pass on probable
hits". The exactness invariant (SURVEY §7 risk 5): a Bloom hit may be a
false positive, so "probably seen" candidates are verified with an exact
left-anti join against the seen table before exclusion — the Bloom layer
only removes the (vast majority of) definitely-new URLs from the join,
turning a full |candidates| ⋈ |seen| shuffle into a small one.

Scale shape: shard bit-arrays are built distributedly (per-partition
bitmaps, or a per-shard applyInPandas for the cuckoo layer, over only
the *newly added* URLs each superstep — O(new), not O(seen)) and probed
Arrow-vectorized against one broadcast copy (mapInPandas, SipHash via
pandas.util.hash_array).

Filter state lives on the driver as (n_shards, bytes) arrays. A Bloom
add_df collects from each non-empty partition the nonzero bytes of its
bitmap as (index, value) arrays, 9 bytes per touched byte, or the dense
bitmap when that is smaller, and ORs them in; a cuckoo add_df installs
the executor-built shard tables. A crawl's defaults build a 1.26 MB
Bloom set (8 × 157 KB) and a 16.8 MB cuckoo set, so one broadcast per
probe is the whole transfer, while an add of a superstep's few hundred
URLs returns some tens of KB. The state is not persisted: a resumed
crawl rebuilds the Bloom filter from the committed seed frontier and
per-step `fresh` deltas (the add's row count is the seen-set size), and
the cuckoo filter is bulk-built from seen when the seen set crosses its
activation threshold, so the checkpoint manifest is the crawl's only
commit protocol.
"""

from __future__ import annotations

import logging
import math
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

logger = logging.getLogger(__name__)

#: two distinct 16-byte SipHash keys, so h1 and h2 are independent
#: hashes: the Bloom stride (h2) and the cuckoo fingerprint (h2's top
#: bits) must not derive from the shard and bucket hash (h1)
_HASH_KEY_1 = "ptt-spider-blm-1"
_HASH_KEY_2 = "ptt-spider-blm-2"


def _hash2(urls: pd.Series) -> tuple[np.ndarray, np.ndarray]:
    arr = np.asarray(urls.astype(object))
    h1 = pd.util.hash_array(arr, hash_key=_HASH_KEY_1)
    h2 = pd.util.hash_array(arr, hash_key=_HASH_KEY_2)
    # Kirsch-Mitzenmacher double hashing; force h2 odd so strides cover bits.
    return h1, (h2 | np.uint64(1))


def _bit_indices(h1, h2, k: int, n_shards: int, m_bits: int):
    """The k bit positions of each URL in the flat (n_shards * m_bits)
    bit array: bit shard * m_bits + (h1 + i * h2) mod m_bits of shard
    h1 mod n_shards. m_bits % 8 == 0, so a shard's bits are exactly
    its own m_bits / 8 bytes of the flat array."""
    base = (h1 % np.uint64(n_shards)) * np.uint64(m_bits)
    for i in range(k):
        yield base + (h1 + np.uint64(i) * h2) % np.uint64(m_bits)


def _set_bits(bits: np.ndarray, h1, h2, k: int, n_shards: int,
              m_bits: int) -> None:
    for idx in _bit_indices(h1, h2, k, n_shards, m_bits):
        np.bitwise_or.at(bits, (idx >> np.uint64(3)).astype(np.int64),
                         np.left_shift(np.uint8(1), (idx & np.uint64(7)).astype(np.uint8)))


def _test_bits(bits: np.ndarray, h1, h2, k: int, n_shards: int,
               m_bits: int) -> np.ndarray:
    hit = np.ones(len(h1), dtype=bool)
    for idx in _bit_indices(h1, h2, k, n_shards, m_bits):
        byte = bits[(idx >> np.uint64(3)).astype(np.int64)]
        mask = np.left_shift(np.uint8(1), (idx & np.uint64(7)).astype(np.uint8))
        hit &= (byte & mask) != 0
    return hit


#: A single shard's bytes travel as ONE binary value (an Arrow cell /
#: relation row); Spark hard-fails near 2 GB per value, so refuse
#: configurations that could produce a blob past ~1.5 GB (ADVICE r3).
MAX_SHARD_BLOB_BYTES = 1536 * 1024 * 1024


def _check_shard_bytes(shard_bytes: int, n_shards: int, what: str) -> None:
    if shard_bytes > MAX_SHARD_BLOB_BYTES:
        raise ValueError(
            f"{what}: one shard's state would be {shard_bytes} bytes, past "
            f"the ~1.5 GB single-binary-value safety cap (Spark's hard limit "
            f"is 2 GB per value); raise n_shards (currently {n_shards}) so "
            f"each shard's bytes shrink"
        )


class BloomShardSet:
    """n_shards Bloom filters keyed by shard = h1(url) % n_shards; the
    (n_shards, bytes) bit-arrays live on the driver, and executors
    set and test them as one flat bit array."""

    def __init__(self, n_shards: int = 8, expected_per_shard: int = 1 << 17,
                 fpp: float = 0.01):
        self.n_shards = n_shards
        m = int(-expected_per_shard * math.log(fpp) / (math.log(2) ** 2))
        self.m_bits = max(1024, (m + 7) // 8 * 8)
        self.k = max(1, round(self.m_bits / expected_per_shard * math.log(2)))
        _check_shard_bytes(self.m_bits // 8, n_shards, "BloomShardSet")
        self.shards = np.zeros((n_shards, self.m_bits // 8), dtype=np.uint8)

    # -- build / merge ------------------------------------------------------

    def add_df(self, df: DataFrame, url_col: str = "url") -> int:
        """OR the URLs of `df` into the shard bit-arrays and return the
        number of rows added. Distributed: each non-empty partition
        reduces its rows to one flat bitmap of the whole shard set and
        returns its nonzero bytes as (index, value) arrays, or the
        whole bitmap when that is smaller (`idx` NULL). The driver ORs
        each value in at its index."""
        n_shards, m_bits, k = self.n_shards, self.m_bits, self.k

        def to_bitmaps(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            acc, n = None, 0
            for pdf in batches:
                if not len(pdf):
                    continue
                if acc is None:
                    acc = np.zeros(n_shards * m_bits // 8, dtype=np.uint8)
                _set_bits(acc, *_hash2(pdf[url_col]), k, n_shards, m_bits)
                n += len(pdf)
            if acc is None:
                return
            idx = np.flatnonzero(acc)
            # an int64 index plus its byte against one byte per position
            if idx.size * 9 < acc.size:
                yield pd.DataFrame({"n": [n], "idx": [idx.tobytes()],
                                    "val": [acc[idx].tobytes()]})
            else:
                yield pd.DataFrame({"n": [n], "idx": [None],
                                    "val": [acc.tobytes()]})

        parts = df.select(url_col).mapInPandas(
            to_bitmaps, "n long, idx binary, val binary")
        flat = self.shards.reshape(-1)
        added = 0
        for row in parts.collect():
            val = np.frombuffer(row["val"], dtype=np.uint8)
            if row["idx"] is None:
                flat |= val
            else:
                flat[np.frombuffer(row["idx"], dtype=np.int64)] |= val
            added += row["n"]
        return added

    # -- probe ---------------------------------------------------------------

    def with_maybe_seen(self, df: DataFrame, url_col: str = "url",
                        out_col: str = "maybe_seen") -> DataFrame:
        """Append a boolean column: True if the URL *might* be in the set
        (needs exact verification), False if definitely new. The whole
        shard set is broadcast to every executor."""
        n_shards, m_bits, k = self.n_shards, self.m_bits, self.k
        bc = df.sparkSession.sparkContext.broadcast(self.shards.tobytes())

        def probe(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            flat = np.frombuffer(bc.value, dtype=np.uint8)
            for pdf in batches:
                if not len(pdf):
                    pdf[out_col] = pd.Series([], dtype=bool)
                    yield pdf
                    continue
                hit = _test_bits(flat, *_hash2(pdf[url_col]), k, n_shards,
                                 m_bits)
                pdf = pdf.copy()
                pdf[out_col] = hit
                yield pdf

        from pyspark.sql.types import BooleanType, StructField, StructType

        out_schema = StructType(
            list(df.schema.fields) + [StructField(out_col, BooleanType())]
        )
        return df.mapInPandas(probe, out_schema)


def _cuckoo_decompose(urls: pd.Series, n_shards: int, n_buckets: int):
    """url -> (shard, 16-bit fingerprint (never 0), primary bucket)."""
    h1, h2 = _hash2(urls)
    shard = (h1 % np.uint64(n_shards)).astype(np.int64)
    fp = ((h2 >> np.uint64(48)) & np.uint64(0xFFFF)).astype(np.uint16)
    fp = np.where(fp == 0, np.uint16(1), fp)
    i1 = ((h1 // np.uint64(n_shards)) % np.uint64(n_buckets)).astype(np.int64)
    return shard, fp, i1


def _cuckoo_alt(fp: np.ndarray, i: np.ndarray, n_buckets: int) -> np.ndarray:
    """Partial-key alternate bucket: i ^ mix(fp). n_buckets is a power
    of two, so xor stays in range and alt(alt(i)) == i (involution)."""
    mix = (fp.astype(np.uint64) * np.uint64(0x5BD1E995)) % np.uint64(n_buckets)
    return (i.astype(np.uint64) ^ mix).astype(np.int64)


def _cuckoo_place_empty(table: np.ndarray, fps: np.ndarray,
                        buckets: np.ndarray) -> np.ndarray:
    """Vectorized bulk placement: drop each fingerprint into the first
    free slot of its bucket (row order within a bucket), mutating
    `table` (one shard: (n_buckets, slots) uint16). Returns a boolean
    mask of rows that did NOT fit (bucket already full)."""
    if not len(fps):
        return np.zeros(0, dtype=bool)
    order = np.argsort(buckets, kind="stable")
    fb, bb = fps[order], buckets[order]
    uniq, inv, counts = np.unique(bb, return_inverse=True, return_counts=True)
    starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
    rank = np.arange(len(bb)) - starts[inv]       # 0,1,2,... within bucket
    empty_mask = table[uniq] == 0                 # (U, slots)
    n_empty = empty_mask.sum(axis=1)
    can = rank < n_empty[inv]                     # the rank-th empty exists
    # per-bucket permutation listing empty slots first, in slot order
    slot_order = np.argsort(~empty_mask, axis=1, kind="stable")
    slot_idx = slot_order[inv[can], rank[can]]
    table[bb[can], slot_idx] = fb[can]
    unplaced = np.ones(len(fps), dtype=bool)
    unplaced[order[can]] = False
    return unplaced


def _cuckoo_insert_chain(table: np.ndarray, fp: int, i1: int, n_buckets: int,
                         slots: int, rng: np.random.Generator) -> bool:
    """Sequential displacement insert into one shard table (the rare
    fallback after bulk placement). Returns False on a failed chain
    (caller flags the shard overflowed)."""
    i2 = int(_cuckoo_alt(np.array([fp], dtype=np.uint16),
                         np.array([i1]), n_buckets)[0])
    for i in (i1, i2):
        if fp in table[i]:
            return True
        empty = np.nonzero(table[i] == 0)[0]
        if len(empty):
            table[i][empty[0]] = fp
            return True
    i, cur = i1, fp
    for _ in range(CuckooShardSet.MAX_KICKS):
        slot = int(rng.integers(slots))
        cur, table[i][slot] = int(table[i][slot]), cur
        i = int(_cuckoo_alt(np.array([cur], dtype=np.uint16),
                            np.array([i]), n_buckets)[0])
        empty = np.nonzero(table[i] == 0)[0]
        if len(empty):
            table[i][empty[0]] = cur
            return True
    return False


def _cuckoo_build_shard(table: np.ndarray, fps: np.ndarray, i1s: np.ndarray,
                        n_buckets: int, slots: int,
                        rng: np.random.Generator) -> bool:
    """Bulk-insert a batch of (fp, bucket) pairs into one shard table,
    in place. Vectorized passes first (presence check, empty-slot fill
    at i1 then i2); only the residue that hits two full buckets walks
    the sequential displacement chain. Deterministic for a given
    triple *set*: rows are lexsorted before insertion, so shuffle
    arrival order cannot change the table. Returns True if any
    displacement chain failed (shard overflow -> degrade)."""
    if not len(fps):
        return False
    order = np.lexsort((i1s, fps))
    fps, i1s = fps[order], i1s[order]
    i2s = _cuckoo_alt(fps, i1s, n_buckets)
    present = (table[i1s] == fps[:, None]).any(axis=1) | \
              (table[i2s] == fps[:, None]).any(axis=1)
    fps, i1s, i2s = fps[~present], i1s[~present], i2s[~present]
    rem = _cuckoo_place_empty(table, fps, i1s)
    rem2 = _cuckoo_place_empty(table, fps[rem], i2s[rem])
    overflowed = False
    for fp, i1 in zip(fps[rem][rem2], i1s[rem][rem2]):
        if not _cuckoo_insert_chain(table, int(fp), int(i1), n_buckets,
                                    slots, rng):
            overflowed = True
    return overflowed


class CuckooShardSet:
    """Partitioned cuckoo filters — the verification pass between the
    Bloom prefilter and the exact anti-join (north_star: "partitioned
    Bloom filters with a cuckoo-filter verification pass on probable
    hits").

    Why a second probabilistic layer: the Bloom shards run at ~1% fpp,
    so at a 10^10-URL seen set ~1% of genuinely-new URLs still enter
    the |probable| ⋈ |seen| anti-join every superstep. A 16-bit
    fingerprint cuckoo filter has fpp ≈ 2·slots/2^16 ≈ 0.012%, cutting
    the join input by ~99% again for one more broadcast probe. Like the
    Bloom layer it has NO false negatives (a failed displacement chain
    flags the shard as overflowed, degrading that shard to
    probe-always-true — exactness never depends on it).

    Construction is executor-side and O(new) per superstep: executors
    reduce new URLs to unique (shard, fingerprint, bucket) triples,
    then a per-shard cogroup-applyInPandas runs the (vectorized-bulk +
    displacement-fallback) inserts against ONLY that shard's current
    bytes (one-row-per-shard state DF) and returns the updated table
    bytes plus an overflow flag, which the driver installs into its
    (n_shards, buckets, slots) arrays. Probing broadcasts the tables.
    """

    MAX_KICKS = 500

    def __init__(self, n_shards: int = 8, buckets_per_shard: int = 1 << 15,
                 slots: int = 4):
        # power of two: i2 = i1 xor mix(fp) must be an involution (the
        # displacement chain and the lookup both rely on alt(alt(i))==i)
        assert buckets_per_shard & (buckets_per_shard - 1) == 0
        self.n_shards = n_shards
        self.n_buckets = buckets_per_shard
        self.slots = slots
        _check_shard_bytes(buckets_per_shard * slots * 2, n_shards,
                           "CuckooShardSet")
        # fingerprint 1..65535 (0 = empty slot sentinel)
        self.tables = np.zeros((n_shards, buckets_per_shard, slots),
                               dtype=np.uint16)
        self.overflowed = np.zeros(n_shards, dtype=bool)
        self._epoch = 0  # add_df call counter -> deterministic eviction seeds

    @classmethod
    def for_capacity(cls, n_shards: int, capacity: int, slots: int = 4,
                     target_load: float = 0.95) -> "CuckooShardSet":
        """Size the filter for `capacity` fingerprints: buckets_per_shard
        = next power of two >= capacity / (n_shards * slots * target_load)
        (cuckoo tables stay displacement-stable to ~95% load). Sizing from
        the activation threshold — rather than a fixed 2^15 — is what
        keeps the filter useful at the moment it engages; the power-of-two
        round-up typically adds further headroom for post-crossing growth,
        and overflow past that is logged and degrades (never corrupts)."""
        need = max(1, math.ceil(capacity / (n_shards * slots * target_load)))
        buckets = 1 << max(8, (need - 1).bit_length())
        return cls(n_shards, buckets, slots)

    @property
    def capacity(self) -> int:
        return self.n_shards * self.n_buckets * self.slots

    def add_df(self, df: DataFrame, url_col: str = "url") -> None:
        """Insert the URLs of `df`. Fully distributed: the shards are
        independent, so each shard's displacement inserts run inside a
        per-shard applyInPandas group (the driver never touches a row).
        Deterministic: triples are lexsorted inside the build and the
        eviction RNG is seeded by (shard, epoch), so the resulting table
        bytes do not depend on shuffle arrival order."""

        n_shards, n_buckets, slots = self.n_shards, self.n_buckets, self.slots
        spark = df.sparkSession
        epoch = self._epoch

        def to_triples(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            parts = [np.stack(_cuckoo_decompose(pdf[url_col], n_shards,
                                                n_buckets))
                     for pdf in batches if len(pdf)]
            if parts:
                shard, fp, i1 = np.unique(np.concatenate(parts, axis=1),
                                          axis=1)
                yield pd.DataFrame({"shard": shard, "fp": fp.astype(np.int32),
                                    "i1": i1})

        # one-row-per-shard current state, cogrouped with the triples —
        # a build task receives ONLY its shard's bytes. Untouched shards
        # are dropped from the output (the driver keeps its copy).
        def build_shard(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
            if not len(left):
                return pd.DataFrame(
                    {"shard": [], "bits": [], "overflowed": []}
                ).astype({"shard": "int64", "overflowed": "bool"})
            s = int(right["shard"].iloc[0])
            table = np.frombuffer(bytes(right["bits"].iloc[0]),
                                  dtype=np.uint16).reshape(
                n_buckets, slots
            ).copy()
            ov = bool(right["overflowed"].iloc[0])
            rng = np.random.default_rng([42, epoch, s])
            ov |= _cuckoo_build_shard(
                table, left["fp"].to_numpy(dtype=np.uint16),
                left["i1"].to_numpy(dtype=np.int64), n_buckets, slots, rng
            )
            return pd.DataFrame({"shard": [s], "bits": [table.tobytes()],
                                 "overflowed": [ov]})

        triples = df.select(url_col).mapInPandas(
            to_triples, "shard long, fp int, i1 long"
        ).distinct()

        tables_df = spark.createDataFrame(
            [
                (s, bytearray(self.tables[s].tobytes()),
                 bool(self.overflowed[s]))
                for s in range(n_shards)
            ],
            "shard long, bits binary, overflowed boolean",
        )
        parts = (
            triples.groupBy("shard")
            .cogroup(tables_df.groupBy("shard"))
            .applyInPandas(build_shard,
                           "shard long, bits binary, overflowed boolean")
        )
        for row in parts.collect():
            s = row["shard"]
            self.tables[s] = np.frombuffer(row["bits"], dtype=np.uint16) \
                .reshape(n_buckets, slots)
            if row["overflowed"] and not self.overflowed[s]:
                logger.warning(
                    "cuckoo shard %d overflowed (capacity %d/shard); shard "
                    "degrades to probe-always-true — exactness preserved, "
                    "verification benefit lost for this shard", s,
                    n_buckets * slots,
                )
            self.overflowed[s] |= bool(row["overflowed"])
        self._epoch += 1

    def with_maybe_seen(self, df: DataFrame, url_col: str = "url",
                        out_col: str = "maybe_seen") -> DataFrame:
        """Vectorized probe against one broadcast copy of the tables; no
        false negatives (an overflowed shard answers True for every
        URL, and the exact join verifies)."""
        n_shards, n_buckets, slots = self.n_shards, self.n_buckets, self.slots
        bc = df.sparkSession.sparkContext.broadcast(
            (self.tables.tobytes(), self.overflowed.tobytes())
        )

        def probe(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            tbl_b, ov_b = bc.value
            tables = np.frombuffer(tbl_b, dtype=np.uint16).reshape(
                n_shards, n_buckets, slots
            )
            overflowed = np.frombuffer(ov_b, dtype=bool)
            for pdf in batches:
                if not len(pdf):
                    pdf[out_col] = pd.Series([], dtype=bool)
                    yield pdf
                    continue
                shard, fp, i1 = _cuckoo_decompose(pdf[url_col], n_shards,
                                                  n_buckets)
                i2 = _cuckoo_alt(fp, i1, n_buckets)
                b1 = tables[shard, i1]          # (n, slots)
                b2 = tables[shard, i2]
                hit = (b1 == fp[:, None]).any(axis=1) | \
                      (b2 == fp[:, None]).any(axis=1) | overflowed[shard]
                pdf = pdf.copy()
                pdf[out_col] = hit
                yield pdf

        from pyspark.sql.types import BooleanType, StructField, StructType

        out_schema = StructType(
            list(df.schema.fields) + [StructField(out_col, BooleanType())]
        )
        return df.mapInPandas(probe, out_schema)


def dedup_against_seen(candidates: DataFrame, seen: DataFrame | None,
                       blooms: BloomShardSet | None,
                       cuckoos: CuckooShardSet | None = None,
                       url_col: str = "url",
                       counters: dict | None = None) -> DataFrame:
    """Exact not-seen filter (J2): Bloom prefilter, optional cuckoo
    verification pass on the probable hits, then left-anti verify.

    definitely-new rows (bloom miss, or cuckoo miss among bloom hits)
    bypass the join entirely; the remaining probable hits — double FPs
    plus true repeats — are verified exactly. Returns rows of
    `candidates` whose URL is not in `seen`; exactness never depends on
    either probabilistic layer (both are false-negative-free).

    `counters` (bench instrumentation only — it materializes the
    intermediate probable sets, adding actions a production run skips):
    filled with `anti_join_input_after_bloom` / `..._after_cuckoo`, the
    row counts actually entering the exact anti-join at each layer —
    the measured form of the "~99% join-input cut" claim.
    """
    if seen is None:
        return candidates
    if blooms is None:
        return candidates.join(seen.select(url_col), on=url_col, how="left_anti")
    # both branches read the probe: one job runs it once per candidate
    probed = blooms.with_maybe_seen(candidates, url_col).localCheckpoint(
        eager=True)
    fresh = probed.filter(~F.col("maybe_seen")).drop("maybe_seen")
    probable = probed.filter(F.col("maybe_seen")).drop("maybe_seen")
    if counters is not None:
        probable = probable.localCheckpoint(eager=True)
        counters["anti_join_input_after_bloom"] = probable.count()
    if cuckoos is not None:
        # the same for the cuckoo probe of the probable hits
        p2 = cuckoos.with_maybe_seen(probable, url_col).localCheckpoint(
            eager=True)
        fresh = fresh.unionByName(
            p2.filter(~F.col("maybe_seen")).drop("maybe_seen")
        )
        probable = p2.filter(F.col("maybe_seen")).drop("maybe_seen")
        if counters is not None:
            probable = probable.localCheckpoint(eager=True)
            counters["anti_join_input_after_cuckoo"] = probable.count()
    verified = probable.join(seen.select(url_col), on=url_col, how="left_anti")
    return fresh.unionByName(verified)
