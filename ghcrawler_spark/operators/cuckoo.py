"""Sharded cuckoo-filter URL-seen set — the deletable alternative to Bloom.

Same role as ``operators/seen.py`` (replaces ghcrawler's Redis request
tracker, providers/queuing/redisRequestTracker.js:17-53, whose tags are
DELETED on requeue/abandon — `untag` at :47-53): an approximate-membership
structure sharded by ``pmod(url_hash, num_shards)``, built executor-side,
probed shard-locally via cogroup. Where a Bloom filter only ever adds bits,
the cuckoo filter stores displaceable 16-bit fingerprints in 4-slot buckets
(partial-key cuckoo hashing, Fan et al., CoNEXT'14 — public algorithm), so
it ALSO supports:

- ``deleted(keys_df)`` — remove keys (the reference untags a URL when its
  request is abandoned/requeued so it can be tried again; Bloom cannot
  express that without a rebuild);
- ~9.6→16 bits/key at 1% FPR but with O(1) per-key inserts that never
  degrade the whole filter (Bloom's FPR decays silently past capacity; a
  cuckoo filter fails LOUDLY on insert when full → callers resize).

Shapes mirror seen.py exactly so ``filter_unseen`` takes either kind:

- ``CuckooShardTable`` — executor-resident shard rows (CUCKOO_SCHEMA
  DataFrame), probe/merge/delete are cogroups keyed on the shard id; the
  fingerprint tables never pass through the driver. The 10^10-key shape:
  at 16 bits/key a 10^10-key set is ~20 GB of tables — sharded so one
  cogroup task holds one shard's bytes (shard count scales with volume,
  same rule as the Bloom resize path).

Determinism: fingerprints and bucket choices derive from splitmix64 of the
key (same mixer as the Bloom positions); eviction order is a fixed
round-robin seeded per shard, so rebuilding the same key set yields the
same table — snapshot replay stays exact.

Filter math: fp = 16-bit nonzero fingerprint; b1 = h mod nb;
b2 = b1 XOR (splitmix64(fp) mod nb) — the XOR trick makes the alternate
bucket derivable from (bucket, fp) alone, which is what lets merge re-home
entries without the original keys.
"""

from __future__ import annotations

import math
from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from ghcrawler_spark.operators.seen import _splitmix64

SLOTS = 4  # slots per bucket (standard (2,4)-cuckoo: ~95% max load)
MAX_KICKS = 500  # eviction chain bound before declaring the shard full
DESIGN_LOAD = 0.5  # sizing target; the resize fires at HEADROOM 1.6x = 0.8 load

CUCKOO_SCHEMA = StructType(
    [
        StructField("shard_id", IntegerType(), False),
        StructField("table_bytes", BinaryType(), False),
        StructField("n_keys", LongType(), False),
        StructField("n_buckets", LongType(), False),
        StructField("slots", IntegerType(), False),
    ]
)


def _fp_and_buckets(keys: np.ndarray, nb: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(fingerprint, bucket1, bucket2) per key, vectorized. nb is a power
    of two so the alternate-bucket XOR stays in range."""
    u = keys.astype(np.int64).view(np.uint64)
    h = _splitmix64(u)
    fp = ((h >> np.uint64(48)).astype(np.uint16) | np.uint16(1)).astype(np.uint16)
    b1 = (h & np.uint64(nb - 1)).astype(np.int64)
    b2 = _alt_bucket(b1, fp, nb)
    return fp, b1, b2


def _alt_bucket(b: np.ndarray, fp: np.ndarray, nb: int) -> np.ndarray:
    """b XOR hash(fp), mod nb — derivable from the stored entry alone."""
    fh = _splitmix64(fp.astype(np.uint64))
    return (b.astype(np.uint64) ^ (fh & np.uint64(nb - 1))).astype(np.int64) & (nb - 1)


def cuckoo_buckets(expected_keys: int) -> int:
    """Power-of-two bucket count sized so ``expected_keys`` sits at
    DESIGN_LOAD of capacity (insert failure starts near ~0.95 load)."""
    need = max(64, int(expected_keys / (SLOTS * DESIGN_LOAD)))
    nb = 1
    while nb < need:
        nb <<= 1
    return nb


class CuckooShardOverflow(ValueError):
    """A shard's fingerprint table could not place every key (load ≈ 1.0).
    ``CuckooShardTable.live_total`` catches it so the engine falls through
    to the amortized full rebuild instead of aborting the round — a skewed
    shard may saturate before the GLOBAL total-keys trigger fires."""


def _insert_batch(table: np.ndarray, keys: np.ndarray, nb: int) -> tuple[int, int]:
    """Insert keys into a (nb*SLOTS,) uint16 slot array in place. Returns
    ``(failed, placed)``: how many keys could NOT be placed (0 unless load
    is extreme — callers treat >0 as overflow and resize) and how many NEW
    fingerprints were actually written. Idempotent for re-inserted keys (a
    fingerprint already visible in either home bucket is skipped — set
    semantics), so ``placed`` is the exact live-count delta: recrawl-heavy
    batches (freshness 'always') don't inflate n_keys and trigger premature
    rebuilds.

    The hot path is VECTORIZED (the 10^10-key design claim would die in a
    per-key Python loop: a 64 MB shard rebuild is tens of millions of
    keys in one task): slot-phased placement — for each slot index, the
    first remaining key per bucket takes it — absorbs the no-eviction
    majority (>99% below 0.8 load) in ≤8 numpy passes; only keys whose
    home-bucket PAIR is already full walk the scalar eviction chain.
    Deterministic: a pure function of the input key order (callers sort),
    no RNG — replay-exact rebuilds."""
    if len(keys) == 0:
        return 0, 0
    fps, b1s, b2s = _fp_and_buckets(keys, nb)
    view = table.reshape(nb, SLOTS)

    # intra-batch set semantics: one copy per (bucket-pair, fingerprint)
    lo = np.minimum(b1s, b2s)
    hi = np.maximum(b1s, b2s)
    _, first = np.unique(
        np.stack([lo, hi, fps.astype(np.int64)]), axis=1, return_index=True
    )
    keep = np.sort(first)
    fps, b1s, b2s = fps[keep], b1s[keep], b2s[keep]

    placed_n = 0
    remaining = np.arange(len(fps))
    for bucket_arr in (b1s, b2s):
        for s in range(SLOTS):
            if len(remaining) == 0:
                break
            # set semantics vs the CURRENT table, re-checked per pass so a
            # same-fingerprint key placed by an earlier pass is skipped —
            # the phased mirror of the sequential loop's per-key check
            present = (
                view[b1s[remaining]] == fps[remaining, None]
            ).any(axis=1) | (
                view[b2s[remaining]] == fps[remaining, None]
            ).any(axis=1)
            remaining = remaining[~present]
            if len(remaining) == 0:
                break
            bs = bucket_arr[remaining]
            cand = remaining[view[bs, s] == 0]
            if len(cand) == 0:
                continue
            # one placement per bucket per pass (no write conflicts):
            # the first candidate in key order wins the slot
            cb = bucket_arr[cand]
            order = np.argsort(cb, kind="stable")
            cb_sorted = cb[order]
            first_of_bucket = np.ones(len(cb_sorted), dtype=bool)
            first_of_bucket[1:] = cb_sorted[1:] != cb_sorted[:-1]
            chosen = cand[order[first_of_bucket]]
            # intra-pass duplicate guard (ADVICE r5): if two DISTINCT keys
            # shared a fingerprint with overlapping-but-unequal bucket
            # pairs, the pass-start presence test would let both land in
            # one pass — two stored copies where the sequential loop stores
            # one, and placed_n counting twice (n_keys drift → early
            # resizes). Under the CURRENT derivation this is unreachable:
            # b2 = b1 XOR h(fp) is an involution, so same-fp pairs are
            # either identical (collapsed by the (lo, hi, fp) dedup above)
            # or fully disjoint. The guard stays as defense-in-depth for
            # any future bucket-derivation change: replay the pass's
            # winners in key order and defer any whose fingerprint an
            # earlier winner just placed into one of THEIR home buckets —
            # the next pass's presence re-check then drops them, exactly
            # like the sequential per-key walk.
            cf = fps[chosen]
            fp_u, fp_n = np.unique(cf, return_counts=True)
            if (fp_n > 1).any():
                dup_set = set(fp_u[fp_n > 1].tolist())
                keep_mask = np.ones(len(chosen), dtype=bool)
                placed_at: dict[int, set] = {}
                for pos in np.argsort(chosen):
                    k = int(chosen[pos])
                    f = int(fps[k])
                    if f not in dup_set:
                        continue
                    prev = placed_at.get(f)
                    if prev is not None and (
                        int(b1s[k]) in prev or int(b2s[k]) in prev
                    ):
                        keep_mask[pos] = False
                        continue
                    placed_at.setdefault(f, set()).add(int(bucket_arr[k]))
                chosen = chosen[keep_mask]
            view[bucket_arr[chosen], s] = fps[chosen]
            placed_n += len(chosen)
            remaining = remaining[
                ~np.isin(remaining, chosen, assume_unique=True)
            ]

    # leftovers: both home buckets full — scalar eviction chains (rare
    # below ~0.8 load; occupancy is monotonic, so no slot frees up later)
    failed = 0
    cursor = 0  # deterministic eviction cursor (no RNG)
    for i in remaining.tolist():
        fp, b1 = int(fps[i]), int(b1s[i])
        r1, r2 = view[b1], view[int(b2s[i])]
        if (r1 == fp).any() or (r2 == fp).any():
            continue  # an eviction re-homed this fingerprint here
        placed = False
        b, cur = b1, fp
        for _ in range(MAX_KICKS):
            slot = cursor % SLOTS
            cursor += 1
            row = view[b]
            cur, row[slot] = int(row[slot]), cur
            b = int(
                _alt_bucket(
                    np.asarray([b], dtype=np.int64),
                    np.asarray([cur], dtype=np.uint16),
                    nb,
                )[0]
            )
            row = view[b]
            empty = np.flatnonzero(row == 0)
            if len(empty):
                row[empty[0]] = cur
                placed = True
                break
        if placed:
            placed_n += 1
        else:
            # putting the orphan back where the chain started is impossible
            # (slots all full) — count the failure; caller resizes
            failed += 1
    return failed, placed_n


def _probe_batch(table: np.ndarray, keys: np.ndarray, nb: int) -> np.ndarray:
    """Vectorized membership test against a (nb*SLOTS,) uint16 array."""
    if len(keys) == 0:
        return np.zeros(0, dtype=bool)
    fps, b1s, b2s = _fp_and_buckets(keys, nb)
    view = table.reshape(nb, SLOTS)
    hit1 = (view[b1s] == fps[:, None]).any(axis=1)
    hit2 = (view[b2s] == fps[:, None]).any(axis=1)
    return hit1 | hit2


def _delete_batch(table: np.ndarray, keys: np.ndarray, nb: int) -> int:
    """Remove each key's fingerprint from whichever home bucket holds it
    (one slot per key). Returns how many were actually removed."""
    if len(keys) == 0:
        return 0
    fps, b1s, b2s = _fp_and_buckets(keys, nb)
    view = table.reshape(nb, SLOTS)
    removed = 0
    for fp, b1, b2 in zip(fps.tolist(), b1s.tolist(), b2s.tolist()):
        for b in (b1, b2):
            row = view[b]
            idx = np.flatnonzero(row == fp)
            if len(idx):
                row[idx[0]] = 0
                removed += 1
                break
    return removed


def _empty_table(nb: int) -> np.ndarray:
    return np.zeros(nb * SLOTS, dtype=np.uint16)


def _table_from_blob(blob: bytes) -> np.ndarray:
    return np.frombuffer(blob, dtype=np.uint16).copy()


def build_cuckoo_shard_table(
    keys_df: DataFrame, key_col: str, num_shards: int, n_buckets: int
) -> DataFrame:
    """CUCKOO_SCHEMA DataFrame of per-shard fingerprint tables, built
    executor-side (applyInPandas over the shard group — the mirror of
    seen.build_shard_table; keys never reach the driver)."""

    def build_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        # sorted: placement depends on insertion order and Spark's group
        # order is not stable — sorting keeps rebuilt tables byte-identical
        keys = np.sort(pdf["_key"].to_numpy(dtype=np.int64))
        table = _empty_table(n_buckets)
        failed, placed = _insert_batch(table, keys, n_buckets)
        if failed:
            raise CuckooShardOverflow(
                f"cuckoo shard over capacity: {failed} of {len(keys)} keys "
                f"unplaceable at {n_buckets} buckets — resize before building"
            )
        return pd.DataFrame(
            {
                "shard_id": [int(pdf["_shard"].iloc[0])],
                "table_bytes": [table.tobytes()],
                # placed, not len(keys): duplicate hashes in the build batch
                # are skipped (set semantics) — n_keys is the LIVE count
                "n_keys": [placed],
                "n_buckets": [n_buckets],
                "slots": [SLOTS],
            }
        )

    return (
        keys_df.select(
            F.col(key_col).cast("long").alias("_key"),
            F.pmod(F.col(key_col).cast("long"), F.lit(num_shards)).alias("_shard"),
        )
        .groupBy("_shard")
        .applyInPandas(build_shard, CUCKOO_SCHEMA)
    )


class CuckooShardTable:
    """Executor-resident sharded cuckoo filter — deletable URL-seen set.

    API-compatible with BloomShardTable (build/empty/merged/probe/
    manifest/live_total/HEADROOM/rerooted/known_empty/as_rows_df/
    from_rows_df/destroy) so ``filter_unseen`` and the engine's seen path
    take either; adds ``deleted`` (the operation Bloom cannot express).
    All state lives in a CUCKOO_SCHEMA DataFrame; probe/merge/delete are
    cogroups on the shard id — no driver collect, no all-shards broadcast,
    one shard's bytes per task (the same 10^10-key discipline as the Bloom
    table).
    """

    KIND = "cuckoo"
    # resize at 0.8 slot load (DESIGN_LOAD 0.5 x 1.6): inserts start failing
    # near ~0.95 load, so unlike Bloom's graceful FPR decay the resize must
    # land before the table saturates
    HEADROOM = 1.6

    def __init__(
        self,
        shards_df: DataFrame,
        num_shards: int,
        n_buckets: int,
        capacity_per_shard: int,
        known_empty: bool = False,
    ):
        self.shards_df = shards_df
        self.num_shards = num_shards
        self.n_buckets = n_buckets
        self.capacity_per_shard = capacity_per_shard
        # set by empty(): filter_unseen skips the cogroup probe entirely
        self.known_empty = known_empty

    # -- construction -------------------------------------------------
    @staticmethod
    def build(
        keys_df: DataFrame,
        key_col: str = "url_hash",
        num_shards: int = 16,
        expected_per_shard: int | None = None,
    ) -> "CuckooShardTable":
        if expected_per_shard is None:
            total = keys_df.count()
            expected_per_shard = max(64, total // max(num_shards, 1) + 1)
        nb = cuckoo_buckets(expected_per_shard)
        df = build_cuckoo_shard_table(keys_df, key_col, num_shards, nb).persist()
        return CuckooShardTable(df, num_shards, nb, expected_per_shard)

    @staticmethod
    def empty(
        spark: SparkSession,
        num_shards: int = 16,
        expected_per_shard: int = 4096,
    ) -> "CuckooShardTable":
        nb = cuckoo_buckets(expected_per_shard)
        return CuckooShardTable(
            spark.createDataFrame([], CUCKOO_SCHEMA), num_shards, nb,
            expected_per_shard, known_empty=True,
        )

    @staticmethod
    def from_rows_df(
        rows_df: DataFrame,
        num_shards: int,
        n_buckets: int,
        capacity_per_shard: int,
    ) -> "CuckooShardTable":
        return CuckooShardTable(rows_df, num_shards, n_buckets, capacity_per_shard)

    def as_rows_df(self, spark: SparkSession) -> DataFrame:
        return self.shards_df

    def manifest(self, total_keys: int = 0) -> dict:
        return {
            "kind": self.KIND,
            "n_buckets": self.n_buckets,
            "capacity_per_shard": self.capacity_per_shard,
            "num_shards": self.num_shards,
            "total_keys": total_keys,
        }

    def rerooted(self, read_rows: Callable[[], DataFrame]) -> "CuckooShardTable":
        """Lineage truncation, as ``BloomShardTable.rerooted``."""
        fresh = CuckooShardTable.from_rows_df(
            read_rows(), self.num_shards, self.n_buckets,
            self.capacity_per_shard,
        )
        self.destroy()
        return fresh

    # -- updates ------------------------------------------------------
    def _apply_keys(self, keys_df: DataFrame, key_col: str, op: str) -> DataFrame:
        """Cogroup the key batch (grouped by shard) with the shard rows and
        run ``op`` ('insert'|'delete') against a copy of each table. Absent
        shards materialize as fresh empty tables on insert."""
        nb = self.n_buckets

        def apply_shard(keys_pdf: pd.DataFrame, shard: pd.DataFrame) -> pd.DataFrame:
            if len(keys_pdf) == 0:
                return shard
            keys = np.sort(keys_pdf["_key"].to_numpy(dtype=np.int64))
            sid = int(keys_pdf["_shard"].iloc[0])
            if len(shard):
                table = _table_from_blob(bytes(shard["table_bytes"].iloc[0]))
                n_old = int(shard["n_keys"].iloc[0])
            else:
                if op == "delete":
                    return shard  # nothing to delete from
                table = _empty_table(nb)
                n_old = 0
            if op == "insert":
                failed, placed = _insert_batch(table, keys, nb)
                if failed:
                    raise CuckooShardOverflow(
                        f"cuckoo shard {sid} over capacity: {failed} keys "
                        "unplaceable — caller must rebuild at a larger size"
                    )
                # exact live count: _insert_batch skips already-present
                # fingerprints, so recrawled keys never inflate n_keys
                n_new = n_old + placed
            else:
                removed = _delete_batch(table, keys, nb)
                n_new = max(0, n_old - removed)
            return pd.DataFrame(
                {
                    "shard_id": [sid],
                    "table_bytes": [table.tobytes()],
                    "n_keys": [n_new],
                    "n_buckets": [nb],
                    "slots": [SLOTS],
                }
            )

        keyed = keys_df.select(
            F.col(key_col).cast("long").alias("_key"),
            F.pmod(F.col(key_col).cast("long"), F.lit(self.num_shards))
            .cast("int")
            .alias("_shard"),
        )
        return (
            keyed.groupBy("_shard")
            .cogroup(self.shards_df.groupBy("shard_id"))
            .applyInPandas(apply_shard, CUCKOO_SCHEMA)
            .persist()
        )

    def merged(self, keys_df: DataFrame, key_col: str = "url_hash") -> "CuckooShardTable":
        """self ∪ keys: O(batch) executor-side inserts into copied shard
        tables (the cuckoo analog of the Bloom delta-OR — entries are
        re-homeable from (bucket, fp) alone, so no historical keys are
        re-read)."""
        return CuckooShardTable(
            self._apply_keys(keys_df, key_col, "insert"),
            self.num_shards,
            self.n_buckets,
            self.capacity_per_shard,
        )

    def deleted(self, keys_df: DataFrame, key_col: str = "url_hash") -> "CuckooShardTable":
        """self ∖ keys — the reference's `untag` (redisRequestTracker.js:47-53):
        an abandoned/requeued URL leaves the seen set so a later push may
        crawl it again. One fingerprint slot is cleared per present key."""
        return CuckooShardTable(
            self._apply_keys(keys_df, key_col, "delete"),
            self.num_shards,
            self.n_buckets,
            self.capacity_per_shard,
        )

    # -- inspection ---------------------------------------------------
    def overflowed(self, headroom: float = HEADROOM) -> bool:
        """True when any shard's live keys exceed ``headroom``× the design
        capacity (default HEADROOM, the engine's own resize trigger)."""
        if self.capacity_per_shard <= 0:
            return False
        row = self.shards_df.agg(F.max("n_keys").alias("mx")).first()
        mx = row["mx"] if row and row["mx"] is not None else 0
        return mx > headroom * self.capacity_per_shard

    def total_keys(self) -> int:
        row = self.shards_df.agg(F.sum("n_keys").alias("s")).first()
        return int(row["s"]) if row and row["s"] is not None else 0

    def live_total(self, prev_total: int, n_new: int) -> float:
        """EXACT live count (args unused): one job that also fills the
        merged shard cache; set-semantics inserts keep recrawls from
        inflating it. A skewed shard that saturates first raises
        CuckooShardOverflow (wrapped by Spark): ``math.inf`` then trips the
        amortized rebuild instead of aborting the round."""
        try:
            return self.total_keys()
        except Exception as e:  # PythonException wraps the raise
            if "over capacity" not in str(e):
                raise
            return math.inf

    def destroy(self) -> None:
        try:
            self.shards_df.unpersist()
        except Exception:
            pass

    # -- probe --------------------------------------------------------
    def probe(
        self, df: DataFrame, key_col: str = "url_hash", out_col: str = "maybe_seen"
    ) -> DataFrame:
        """Shard-local membership probe (see seen.probe_sharded — one plan
        shared with BloomShardTable). False ⇒ definitely unseen for a
        delete-free filter. CAVEAT (inherent to deletable cuckoo filters
        under set-semantics inserts): two distinct keys colliding on
        (bucket pair, fingerprint) — ~n/2^16 pairs per shard — share ONE
        stored copy, so deleting one clears the other's membership too: a
        rare false negative whose only effect in filter_unseen is one
        re-crawl of that URL (the engine's crawl loop never calls
        ``deleted``; the API exists for the reference untag surface,
        redisRequestTracker.js:47-53, pinned in test_cuckoo)."""

        def shard_prober(shard: pd.DataFrame):
            table = np.frombuffer(
                bytes(shard["table_bytes"].iloc[0]), dtype=np.uint16
            )
            nb = int(shard["n_buckets"].iloc[0])
            return lambda keys: _probe_batch(table, keys, nb)

        from ghcrawler_spark.operators.seen import probe_sharded

        return probe_sharded(
            df, self.shards_df, self.num_shards, key_col, out_col,
            shard_prober,
        )
