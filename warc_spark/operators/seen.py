"""URL-seen set (SURVEY.md §2.B E4/E5): the frontier's membership state.

The state is one ``(bucket, blob, n_items)`` row per url bucket (host-hash
by default), built with ``applyInPandas`` so it is distributed and
incrementally updatable. Spark's own ``DataFrame.stat.bloomFilter`` builds
one driver-resident filter (rejected: 10^10 urls @ 1% fpp ≈ 12 GB on the
driver); per-bucket blobs scale horizontally with the bucket count.

Two filters share that layout:

1. **Partitioned Bloom blobs** (E4, append-only). No false negatives, so
   ``definitely_new`` is safe to fetch directly; the ``maybe_seen``
   remainder (~fpp of candidates plus true dupes) goes through an exact
   rescue against the seen log — the expensive join shrinks by ~100x.
2. **Partitioned cuckoo filter** (E5): bucketed uint16 fingerprints that
   also support deletion, for recrawl semantics where urls age out.

Every operation on a state *table* — probe, insert (the bloom OR-update /
cuckoo insert) and cuckoo delete — is one plan:
``urls.groupBy(bucket).cogroup(state.groupBy(bucket)).applyInPandas``.
Both sides are hash-partitioned on bucket, so the state never collects to
one node, and each blob crosses to Python once per bucket rather than once
per candidate row (a partitioned set-containment semi-join, after LCJoin).
While the whole bloom state is broadcast-sized the frontier instead probes
a driver-held blob map broadcast to every task (``probe_with_map``).

All hashing is seed-pinned (pandas siphash with fixed keys) so blobs built
on any executor are identical.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

STATE_SCHEMA = StructType(
    [
        StructField("bucket", IntegerType(), False),
        StructField("blob", BinaryType(), False),
        StructField("n_items", LongType(), False),
    ]
)

_HASH_KEY_1 = "warcsparkbloomh1"
_HASH_KEY_2 = "warcsparkbloomh2"


def _hash2(urls: pd.Series) -> tuple[np.ndarray, np.ndarray]:
    arr = urls.astype(object).to_numpy()
    h1 = pd.util.hash_array(arr, hash_key=_HASH_KEY_1)
    h2 = pd.util.hash_array(arr, hash_key=_HASH_KEY_2)
    return h1, h2


def bucket_of(url_col, n_buckets: int, key: str = "host"):
    """Deterministic bucket for membership state (JVM-side, xxhash64).

    ``key="host"`` (default) co-locates a host's urls with its blob —
    natural for politeness-adjacent locality, but an adversarially hot
    host (30% of the frontier on one host) lands 30% of the state and
    build work in ONE bucket by design. ``key="url"`` hashes the full
    url: buckets stay balanced under ANY host distribution (membership
    correctness only needs url -> deterministic bucket; nothing about
    the host is required). The key is part of the state geometry — blobs
    built under one key cannot be probed under the other (validated at
    frontier resume alongside n_buckets/m_bits)."""
    if key == "url":
        return F.pmod(F.xxhash64(url_col), F.lit(n_buckets)).cast("int")
    host = F.lower(F.regexp_extract(url_col, r"//([^/:?#]+)", 1))
    return F.pmod(F.xxhash64(host), F.lit(n_buckets)).cast("int")


def _bit_positions(h1: np.ndarray, h2: np.ndarray, k: int, m_bits: int) -> np.ndarray:
    """(n, k) bit positions via double hashing h1 + i*h2 mod m."""
    i = np.arange(k, dtype=np.uint64)
    with np.errstate(over="ignore"):
        return ((h1[:, None] + i[None, :] * h2[:, None]) % np.uint64(m_bits)).astype(
            np.int64
        )


def _state_row(bucket, arr: np.ndarray, n_items) -> pd.DataFrame:
    return pd.DataFrame(
        {"bucket": [int(bucket)], "blob": [arr.tobytes()], "n_items": [int(n_items)]}
    )


class _PartitionedSet:
    """The distributed plans shared by both filters. A subclass supplies
    the per-bucket numpy kernels: ``_empty()`` (a fresh bucket),
    ``_decode(blob)`` (a writable array), ``_add(arr, urls)`` (insert in
    place, returns the count) and ``_test(arr, urls)`` (membership bits).

    Parallelism note (VERDICT r3): the ``groupBy(bucket)`` caps table-side
    tasks at ``n_buckets`` — at the documented 10^10-URL geometry (65k
    buckets) that exceeds any cluster's core count, but do NOT ship the
    sandbox default (64) at scale: size n_buckets >= a few x total
    executor cores."""

    def __init__(self, n_buckets: int, bucket_key: str):
        assert bucket_key in ("host", "url")
        self.n_buckets = n_buckets
        self.bucket_key = bucket_key

    def __getstate__(self) -> dict:
        # the kernels ship to executors by value and need only the
        # geometry; a function a caller attached to the instance (such as
        # a timing wrapper holding the SparkContext) stays on the driver
        return {k: v for k, v in vars(self).items() if not callable(v)}

    def _keyed(self, df: DataFrame, url_col: str) -> DataFrame:
        return df.withColumn(
            "_bucket", bucket_of(F.col(url_col), self.n_buckets, self.bucket_key)
        )

    @staticmethod
    def _cogroup(keyed: DataFrame, state: DataFrame, fn, schema) -> DataFrame:
        """The one table-side plan: ``fn(rows, state_rows)`` per bucket."""
        return (
            keyed.groupBy("_bucket")
            .cogroup(state.groupBy("bucket"))
            .applyInPandas(fn, schema)
        )

    def build_blobs(self, urls: DataFrame, url_col: str = "url") -> DataFrame:
        """urls -> one (bucket, blob, n_items) row per bucket. One shuffle
        on bucket; the kernel is vectorized numpy inside applyInPandas."""

        def build(pdf: pd.DataFrame) -> pd.DataFrame:
            arr = self._empty()
            return _state_row(pdf["_bucket"].iloc[0], arr, self._add(arr, pdf[url_col]))

        return (
            self._keyed(urls.select(url_col), url_col)
            .groupBy("_bucket")
            .applyInPandas(build, STATE_SCHEMA)
        )

    def insert(self, state: DataFrame, urls: DataFrame, url_col: str = "url") -> DataFrame:
        """Incremental state update: add urls to the existing per-bucket
        state (bloom: bitwise OR; cuckoo: fingerprint insert). Buckets
        absent from ``state`` start empty; buckets with no new urls pass
        through unchanged."""

        def insert(new: pd.DataFrame, old: pd.DataFrame) -> pd.DataFrame:
            if new.empty:
                return old
            if old.empty:
                arr, n = self._empty(), 0
            else:
                arr, n = self._decode(old["blob"].iloc[0]), old["n_items"].iloc[0]
            n += self._add(arr, new[url_col])
            return _state_row(new["_bucket"].iloc[0], arr, n)

        keyed = self._keyed(urls.select(url_col), url_col)
        return self._cogroup(keyed, state, insert, STATE_SCHEMA)

    def probe(self, candidates: DataFrame, state: DataFrame, url_col: str = "url") -> DataFrame:
        """Adds ``maybe_seen: boolean`` to every candidate row."""

        def test(cands: pd.DataFrame, st: pd.DataFrame) -> pd.DataFrame:
            out = cands.drop(columns="_bucket")
            hit = np.zeros(len(out), dtype=bool)
            if len(out) and len(st):
                hit = self._test(self._decode(st["blob"].iloc[0]), out[url_col])
            out["maybe_seen"] = hit
            return out

        schema = StructType(
            list(candidates.schema.fields) + [StructField("maybe_seen", BooleanType())]
        )
        return self._cogroup(self._keyed(candidates, url_col), state, test, schema)


class BloomSeenSet(_PartitionedSet):
    """Partitioned-Bloom membership state.

    Parameters are explicit: ``m_bits`` per bucket and ``k`` hashes; at
    10^10 urls over 65k buckets that is ~150k urls/bucket → m_bits=2**21
    (256 KiB/blob, 16 GB total across the cluster) for ~1% fpp with k=7.
    Sandbox defaults are smaller but the layout is identical.
    """

    def __init__(
        self,
        n_buckets: int = 64,
        m_bits: int = 1 << 17,
        k: int = 7,
        bucket_key: str = "host",
    ):
        assert m_bits % 8 == 0
        super().__init__(n_buckets, bucket_key)
        self.m_bits = m_bits
        self.k = k

    def _empty(self) -> np.ndarray:
        return np.zeros(self.m_bits // 8, dtype=np.uint8)

    def _decode(self, blob) -> np.ndarray:
        return np.frombuffer(bytes(blob), dtype=np.uint8).copy()

    def _positions(self, urls: pd.Series) -> np.ndarray:
        h1, h2 = _hash2(urls)
        return _bit_positions(h1, h2, self.k, self.m_bits)

    def _add(self, arr: np.ndarray, urls: pd.Series) -> int:
        pos = self._positions(urls).ravel()
        np.bitwise_or.at(arr, pos >> 3, (1 << (pos & 7)).astype(np.uint8))
        return len(urls)

    def _test(self, arr: np.ndarray, urls: pd.Series) -> np.ndarray:
        pos = self._positions(urls)
        return ((arr[pos >> 3] & (1 << (pos & 7)).astype(np.uint8)) != 0).all(axis=1)

    # -- broadcast-map probe (the small-state fast path) -----------------
    @staticmethod
    def merge_blob_map(
        blob_map: dict[int, bytes], new_blobs_rows: list
    ) -> dict[int, bytes]:
        """Driver-side incremental OR of freshly-built blobs into the map
        (the written state stays distributed)."""
        out = dict(blob_map)
        for r in new_blobs_rows:
            b = int(r["bucket"])
            blob = bytes(r["blob"])
            if b in out:
                a = np.frombuffer(out[b], dtype=np.uint8) | np.frombuffer(
                    blob, dtype=np.uint8
                )
                out[b] = a.tobytes()
            else:
                out[b] = blob
        return out

    def probe_with_map(
        self, candidates: DataFrame, blob_map_bc, url_col: str = "url"
    ) -> DataFrame:
        """Adds ``maybe_seen`` via a *broadcast* of the blob map — zero
        shuffle of the candidate side (vs ``probe``'s cogroup).
        ``blob_map_bc`` is a ``sc.broadcast({bucket: blob_bytes})``."""

        def test(url: pd.Series, bucket: pd.Series) -> pd.Series:
            mp = blob_map_bc.value
            out = pd.Series(False, index=url.index)
            if mp and len(url):
                for b, grp in url.groupby(bucket.to_numpy()):
                    blob = mp.get(int(b))
                    if blob is not None:
                        arr = np.frombuffer(blob, dtype=np.uint8)
                        out.loc[grp.index] = self._test(arr, grp)
            return out

        udf = F.pandas_udf(test, BooleanType())
        return candidates.withColumn(
            "maybe_seen",
            udf(F.col(url_col), bucket_of(F.col(url_col), self.n_buckets, self.bucket_key)),
        )


# ---------------------------------------------------------------------------
# Cuckoo filter (deletion-capable fallback, E5)
# ---------------------------------------------------------------------------


class CuckooSeenSet(_PartitionedSet):
    """Partitioned cuckoo filter: per url bucket, a table of
    ``table_buckets x 4`` uint16 fingerprints. Supports delete (recrawl).
    Kernel is numpy; the insert loop relocates at most ``max_kicks`` times
    per item (batch-level Python, not per-row Spark)."""

    # bucket-derivation versioning (ADVICE r4): checkpointed cuckoo_state
    # blobs are only probe-compatible with the scheme that wrote them.
    # Bump whenever _hash_fp_idx changes how fp/idx derive from the url;
    # the frontier stamps this into every batch manifest and rebuilds the
    # blobs from the seen log on mismatch (or absence = pre-stamp legacy).
    # "keyhigh-v2": fp = low 16 bits, idx = high bits, of ONE KEY_1 hash
    # (r4 single-pass derivation; v1 used an independent KEY_2 hash for idx).
    HASH_SCHEME = "keyhigh-v2"

    def __init__(
        self,
        n_buckets: int = 64,
        table_buckets: int = 1 << 12,
        max_kicks: int = 200,
        bucket_key: str = "host",
    ):
        # the xor alt-index is only an involution for power-of-two tables
        assert table_buckets & (table_buckets - 1) == 0
        super().__init__(n_buckets, bucket_key)
        self.table_buckets = table_buckets
        self.max_kicks = max_kicks

    def _hash_fp_idx(self, urls: pd.Series) -> tuple[np.ndarray, np.ndarray]:
        """ONE siphash pass per batch (r4: was two): fingerprint from the
        low 16 bits, primary bucket from the remaining bits — disjoint bit
        ranges of the same 64-bit hash, the standard cuckoo-filter
        derivation. Probe/insert/delete all flow through here, so the
        filter stays self-consistent."""
        h = pd.util.hash_array(urls.astype(object).to_numpy(), hash_key=_HASH_KEY_1)
        fp = (h & np.uint64(0xFFFF)).astype(np.uint16)
        fp = np.where(fp == 0, np.uint16(1), fp)  # 0 = empty slot
        idx = ((h >> np.uint64(16)) % np.uint64(self.table_buckets)).astype(np.int64)
        return fp, idx

    def _fp_lut(self) -> np.ndarray:
        """hash(fingerprint) for every possible uint16 fingerprint — 512 KiB
        computed once per instance. Turns the alt-index derivation (and
        each cuckoo kick) into a table lookup instead of a siphash call."""
        lut = getattr(self, "_fp_lut_cache", None)
        if lut is None:
            lut = pd.util.hash_array(
                np.arange(1 << 16, dtype=np.uint64), hash_key=_HASH_KEY_2
            )
            self._fp_lut_cache = lut
        return lut

    def _alt_index(self, idx: np.ndarray, fp: np.ndarray) -> np.ndarray:
        # (idx ^ hash(fp)) % tb is an involution for power-of-two tb, which
        # the kick loop relies on (evictee must land back in its other bucket)
        fp_hash = self._fp_lut()[fp.astype(np.int64)]
        return ((idx.astype(np.uint64) ^ fp_hash) % np.uint64(self.table_buckets)).astype(
            np.int64
        )

    def _empty(self) -> np.ndarray:
        return np.zeros((self.table_buckets, 4), dtype=np.uint16)

    def _decode(self, blob) -> np.ndarray:
        return (
            np.frombuffer(bytes(blob), dtype=np.uint16)
            .reshape(self.table_buckets, 4)
            .copy()
        )

    def _kick_insert(self, table: np.ndarray, fp: int, start: int, rng, lut) -> None:
        """Classic cuckoo relocation for one item whose both buckets are
        full: evict a random resident, move it to its alternate bucket,
        repeat up to ``max_kicks``. Pure-scalar via the fp-hash LUT."""
        tb = self.table_buckets
        i = int(start)
        cur = int(fp)
        for _ in range(self.max_kicks):
            slot = rng.randrange(4)
            cur, table[i, slot] = int(table[i, slot]), cur
            i = (i ^ int(lut[cur])) % tb
            empty = np.flatnonzero(table[i] == 0)
            if empty.size:
                table[i, empty[0]] = cur
                return
        raise RuntimeError("cuckoo filter over capacity; grow table_buckets")

    def _place_all(self, table: np.ndarray, fps: np.ndarray, idxs: np.ndarray) -> int:
        """Vectorized insert kernel (VERDICT r3 #4): one array placement
        pass per candidate bucket (primary, then alternate for what didn't
        fit); the per-item kick loop runs only for the residual items whose
        both buckets filled — a handful at sane load factors.

        Slot choice: rows are first compacted (descending in-row sort —
        probe/delete semantics are slot-position-independent) so empty
        slots are contiguous at the tail, and a per-bucket occupancy array
        turns placement into ``slot = occ[bucket] + rank-within-batch``;
        items sharing a bucket get distinct ranks via a stable argsort, so
        no two writes ever collide. Membership semantics identical to
        sequential insertion."""
        import random

        alts = self._alt_index(idxs, fps)
        table[:] = np.sort(table, axis=1)[:, ::-1]  # compact: fps first
        occ = (table != 0).sum(axis=1).astype(np.int64)
        n = len(fps)
        pending = np.arange(n)
        for tgt_all in (idxs, alts):
            if not pending.size:
                break
            t = tgt_all[pending]
            order = np.argsort(t, kind="stable")
            st = t[order]
            pos = np.arange(len(st))
            starts = np.ones(len(st), dtype=bool)
            starts[1:] = st[1:] != st[:-1]
            rank = pos - np.maximum.accumulate(np.where(starts, pos, 0))
            slot = occ[st] + rank
            fits = slot < table.shape[1]
            hit = order[fits]
            table[st[fits], slot[fits]] = fps[pending][hit]
            occ += np.bincount(st[fits], minlength=self.table_buckets)
            pending = pending[order[~fits]]
        if pending.size:
            rng = random.Random(42)
            lut = self._fp_lut()
            for j in pending:
                self._kick_insert(table, int(fps[j]), int(idxs[j]), rng, lut)
        return n

    def _add(self, table: np.ndarray, urls: pd.Series) -> int:
        fps, idxs = self._hash_fp_idx(urls)
        return self._place_all(table, fps, idxs)

    def _test(self, table: np.ndarray, urls: pd.Series) -> np.ndarray:
        fps, idxs = self._hash_fp_idx(urls)
        alts = self._alt_index(idxs, fps)
        return (table[idxs] == fps[:, None]).any(axis=1) | (
            (table[alts] == fps[:, None]).any(axis=1)
        )

    def _remove(self, table: np.ndarray, urls: pd.Series) -> int:
        fps, idxs = self._hash_fp_idx(urls)
        alts = self._alt_index(idxs, fps)
        removed = 0
        for fp, i1, i2 in zip(fps, idxs, alts):
            for i in (i1, i2):
                hit = np.flatnonzero(table[i] == fp)
                if hit.size:
                    table[i, hit[0]] = 0
                    removed += 1
                    break
        return removed

    def delete(self, state: DataFrame, urls: DataFrame, url_col: str = "url") -> DataFrame:
        """Remove urls from the filter (the operation Bloom cannot do)."""

        def delete(gone: pd.DataFrame, old: pd.DataFrame) -> pd.DataFrame:
            if gone.empty or old.empty:
                return old
            table = self._decode(old["blob"].iloc[0])
            removed = self._remove(table, gone[url_col])
            return _state_row(old["bucket"].iloc[0], table, old["n_items"].iloc[0] - removed)

        keyed = self._keyed(urls.select(url_col), url_col)
        return self._cogroup(keyed, state, delete, STATE_SCHEMA)
