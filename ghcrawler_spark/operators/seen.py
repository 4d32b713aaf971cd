"""Sharded Bloom-filter URL-seen set, and the seen-set decision.

Replaces ghcrawler's two dedup structures — the Redis request tracker
(providers/queuing/redisRequestTracker.js:17-53, TTL-tagged "is it already
queued?") and the storage etag probe (providers/fetcher/githubFetcher.js:28,
176-191, "have we stored this URL?") — with the classic Bloom-pushdown shape:

  1. keys are sharded by ``pmod(url_hash, num_shards)``;
  2. each shard's filter is built executor-side (``applyInPandas`` over the
     shard group — one numpy pass, no driver collect of keys);
  3. candidate URLs probe the filter bytes in a vectorized Arrow UDF; only
     probe-positives proceed to the exact anti-join confirm.

Properties (tests/test_seen.py): NO false negatives (a seen URL always probes
positive → never re-crawled twice after confirm), bounded false positives
(~fpr → tiny extra anti-join input).

Two probe shapes, same math (pinned equal by tests/test_seen.py):

- ``BloomShardSet`` — driver-held blobs, ONE broadcast of the whole shard
  dict, probe in a scalar Arrow UDF. Chosen while the whole filter fits
  under ``BROADCAST_MAX_BYTES`` (64 MiB, ~56M keys of capacity at 1% FPR),
  so it is the shape every benchmark crawl runs. At the full 10^10-URL
  scale (~12 GB of filter) the all-shards broadcast is a hard stop.
- ``BloomShardTable`` — the 10^10 shape, chosen above that size: blobs live
  in a DataFrame (SHARD_SCHEMA), never on the driver and never broadcast as
  a whole. Probing is SHARD-LOCAL: candidates are grouped by
  ``pmod(url_hash, num_shards)`` and COGROUPED with the one matching shard
  row, so each task holds exactly one shard's bytes. Incremental merge
  (bitwise OR of same-sized delta filters) is likewise a cogroup — Bloom
  state never passes through the driver at all.

:func:`empty`, :func:`load` and :func:`build` pick the kind (these two, or
the deletable ``cuckoo.CuckooShardTable``), the shape and the shard count;
the three classes share one surface, so the engine never asks which it has.

The filter math is the standard double-hashing Bloom construction
(pos_i = h1 + i*h2 mod m) over splitmix64-mixed key halves.
"""

from __future__ import annotations

import math
from dataclasses import dataclass
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

SHARD_SCHEMA = StructType(
    [
        StructField("shard_id", IntegerType(), False),
        StructField("filter_bytes", BinaryType(), False),
        StructField("n_keys", LongType(), False),
        StructField("m_bits", LongType(), False),
        StructField("k_funcs", IntegerType(), False),
    ]
)

# Seen-set sizing (tests monkeypatch these to force a shape or a resize).
# A Bloom filter bigger than this in total (num_shards x m_bits/8) is probed
# shard-local instead of broadcast; it reads manifest sizing only, so replay
# makes the same choice.
BROADCAST_MAX_BYTES = 64 << 20
# A full build grows the SHARD COUNT so one shard's blob stays under this
# (10^10 keys at 1% FPR ≈ 12 GB → ~188 shards of ≤64 MB, not 16 of 750 MB).
SHARD_MAX_BYTES = 64 << 20
SEED_EXPECTED_FLOOR = 4096  # per-shard capacity floor of a new crawl
# A key batch (a round's child candidates, the suspects of a seen-set probe,
# an admin requeue) up to this many rows confirms membership by broadcast
# joins; above it, by a shuffle anti-join.
CONFIRM_BROADCAST_MAX = 4_000_000

_GOLDEN = np.uint64(0x9E3779B97F4A7C15)


def _splitmix64(x: np.ndarray) -> np.ndarray:
    z = (x + _GOLDEN).astype(np.uint64)
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


def _positions(keys: np.ndarray, m: int, k: int) -> np.ndarray:
    """(len(keys), k) bit positions via double hashing."""
    u = keys.astype(np.int64).view(np.uint64)
    h1 = _splitmix64(u)
    h2 = _splitmix64(u ^ _GOLDEN) | np.uint64(1)
    i = np.arange(k, dtype=np.uint64)[None, :]
    return ((h1[:, None] + i * h2[:, None]) % np.uint64(m)).astype(np.int64)


def _build_filter(keys: np.ndarray, m: int, k: int) -> bytes:
    bits = np.zeros((m + 7) // 8, dtype=np.uint8)
    pos = _positions(keys, m, k)
    np.bitwise_or.at(bits, pos >> 3, np.uint8(1) << (pos & 7).astype(np.uint8))
    return bits.tobytes()


def _probe_filter(keys: np.ndarray, blob: bytes, m: int, k: int) -> np.ndarray:
    if len(keys) == 0:
        return np.zeros(0, dtype=bool)
    bits = np.frombuffer(blob, dtype=np.uint8)
    pos = _positions(keys, m, k)
    hit = bits[pos >> 3] & (np.uint8(1) << (pos & 7).astype(np.uint8))
    return (hit != 0).all(axis=1)


def optimal_params(n_keys: int, fpr: float) -> tuple[int, int]:
    """(m_bits, k_funcs) for n keys at target FPR."""
    n = max(n_keys, 1)
    m = max(64, int(math.ceil(-n * math.log(fpr) / (math.log(2) ** 2))))
    k = max(1, int(round(m / n * math.log(2))))
    return m, min(k, 16)


def build_shard_table(
    keys_df: DataFrame, key_col: str, num_shards: int, m: int, k: int
) -> DataFrame:
    """SHARD_SCHEMA DataFrame of per-shard filters, built executor-side (one
    numpy pass per shard group). The blobs stay on the executors — this is
    the scan side of the shard-local design."""

    def build_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        keys = pdf["_key"].to_numpy(dtype=np.int64)
        return pd.DataFrame(
            {
                "shard_id": [int(pdf["_shard"].iloc[0])],
                "filter_bytes": [_build_filter(keys, m, k)],
                "n_keys": [len(keys)],
                "m_bits": [m],
                "k_funcs": [k],
            }
        )

    return (
        keys_df.select(
            F.col(key_col).cast("long").alias("_key"),
            F.pmod(F.col(key_col).cast("long"), F.lit(num_shards)).alias("_shard"),
        )
        .groupBy("_shard")
        .applyInPandas(build_shard, SHARD_SCHEMA)
    )


def _build_shard_blobs(
    keys_df: DataFrame, key_col: str, num_shards: int, m: int, k: int
) -> dict[int, tuple[bytes, int]]:
    """shard_id → (filter_bytes, n_keys) collected to the driver (broadcast
    variant only; the table variant never collects blobs)."""
    return {
        row["shard_id"]: (bytes(row["filter_bytes"]), row["n_keys"])
        for row in build_shard_table(keys_df, key_col, num_shards, m, k).collect()
    }


class _BloomCommon:
    """Manifest block and live-count rule shared by both Bloom shapes."""

    KIND = "bloom"
    # resize once inserts pass 2x design capacity: Bloom degrades gracefully
    # (FPR decay), so a late rebuild costs probe selectivity, never output
    HEADROOM = 2.0

    def manifest(self, total_keys: int = 0) -> dict:
        return {
            "m_bits": self.m_bits,
            "k_funcs": self.k_funcs,
            "capacity_per_shard": self.capacity_per_shard,
            "num_shards": self.num_shards,
            # running insert count (upper bound: re-inserts counted) — the
            # overflow check is manifest arithmetic, never a per-round agg job
            "total_keys": total_keys,
        }

    def live_total(self, prev_total: int, n_new: int) -> int:
        """Manifest arithmetic, no Spark job (md5-hashed keys shard
        uniformly; re-inserts over-count, which only rebuilds early)."""
        return prev_total + n_new


@dataclass
class BloomShardSet(_BloomCommon):
    """Broadcastable handle: shard_id → (filter_bytes, m, k).

    One Spark broadcast is created lazily on first probe and REUSED for every
    subsequent probe of this instance; call :meth:`destroy` when the set is
    superseded (e.g. at the end of a crawl round) — otherwise a long run
    accumulates one executor-resident broadcast per round.

    All shards share one (m_bits, k_funcs) sizing, which makes the set
    INCREMENTAL: Bloom union is bitwise OR, so :meth:`merged` folds a batch
    of new keys in by building same-sized delta filters and OR-ing blobs —
    O(batch) instead of the O(total-seen) full rebuild per round. ``n_keys``
    tracks inserts per shard so callers can detect capacity overflow
    (FPR decay) and trigger an amortized full rebuild at a larger size.
    """

    num_shards: int
    shards: dict[int, tuple[bytes, int, int]]
    m_bits: int = 0
    k_funcs: int = 0
    capacity_per_shard: int = 0
    n_keys: dict[int, int] | None = None
    _bc: object | None = None

    @staticmethod
    def build(
        keys_df: DataFrame,
        key_col: str = "url_hash",
        num_shards: int = 16,
        fpr: float = 0.01,
        expected_per_shard: int | None = None,
    ) -> "BloomShardSet":
        """Build shard filters executor-side; only the filter BYTES come back
        to the driver (num_shards small blobs), never the keys."""
        if expected_per_shard is None:
            total = keys_df.count()
            expected_per_shard = max(64, total // max(num_shards, 1) + 1)
        m, k = optimal_params(expected_per_shard, fpr)
        blobs = _build_shard_blobs(keys_df, key_col, num_shards, m, k)
        return BloomShardSet(
            num_shards=num_shards,
            shards={sid: (blob, m, k) for sid, (blob, n) in blobs.items()},
            m_bits=m,
            k_funcs=k,
            capacity_per_shard=expected_per_shard,
            n_keys={sid: n for sid, (blob, n) in blobs.items()},
        )

    @staticmethod
    def empty(
        num_shards: int = 16, expected_per_shard: int = 4096, fpr: float = 0.01
    ) -> "BloomShardSet":
        m, k = optimal_params(expected_per_shard, fpr)
        return BloomShardSet(
            num_shards=num_shards,
            shards={},
            m_bits=m,
            k_funcs=k,
            capacity_per_shard=expected_per_shard,
            n_keys={},
        )

    def merged(self, keys_df: DataFrame, key_col: str = "url_hash") -> "BloomShardSet":
        """New set = self OR the given keys (same sizing). Cost is one pass
        over the BATCH, never the historical key set. The old instance keeps
        its broadcast — destroy() it when no in-flight plan references it."""
        blobs = _build_shard_blobs(keys_df, key_col, self.num_shards, self.m_bits, self.k_funcs)
        shards = dict(self.shards)
        counts = dict(self.n_keys or {})
        for sid, (blob, n) in blobs.items():
            if sid in shards:
                old = np.frombuffer(shards[sid][0], dtype=np.uint8)
                new = np.frombuffer(blob, dtype=np.uint8)
                shards[sid] = ((old | new).tobytes(), self.m_bits, self.k_funcs)
            else:
                shards[sid] = (blob, self.m_bits, self.k_funcs)
            counts[sid] = counts.get(sid, 0) + n
        return BloomShardSet(
            num_shards=self.num_shards,
            shards=shards,
            m_bits=self.m_bits,
            k_funcs=self.k_funcs,
            capacity_per_shard=self.capacity_per_shard,
            n_keys=counts,
        )

    def total_keys(self) -> int:
        return sum((self.n_keys or {}).values())

    @property
    def known_empty(self) -> bool:
        return not self.shards

    def rerooted(self, read_rows: Callable[[], DataFrame]) -> "BloomShardSet":
        """Driver-held blobs have no lineage to truncate; ``read_rows`` is
        not called (a parquet read costs a schema-inference job)."""
        return self

    def to_rows(self) -> list[tuple]:
        """Rows in SHARD_SCHEMA order for persistence in a snapshot store."""
        return [
            (sid, blob, (self.n_keys or {}).get(sid, 0), m, k)
            for sid, (blob, m, k) in sorted(self.shards.items())
        ]

    def as_rows_df(self, spark: SparkSession) -> DataFrame:
        return spark.createDataFrame(self.to_rows(), SHARD_SCHEMA)

    @staticmethod
    def from_rows(
        rows, num_shards: int, m_bits: int, k_funcs: int, capacity_per_shard: int
    ) -> "BloomShardSet":
        shards = {}
        counts = {}
        for r in rows:
            shards[r["shard_id"]] = (bytes(r["filter_bytes"]), r["m_bits"], r["k_funcs"])
            counts[r["shard_id"]] = r["n_keys"]
        return BloomShardSet(
            num_shards=num_shards,
            shards=shards,
            m_bits=m_bits,
            k_funcs=k_funcs,
            capacity_per_shard=capacity_per_shard,
            n_keys=counts,
        )

    def destroy(self) -> None:
        """Release the executor-side broadcast blocks (idempotent)."""
        if self._bc is not None:
            try:
                self._bc.destroy()
            except Exception:
                pass
            self._bc = None

    def probe(
        self, df: DataFrame, key_col: str = "url_hash", out_col: str = "maybe_seen"
    ) -> DataFrame:
        """Vectorized membership probe; out_col=False ⇒ definitely unseen."""
        if self._bc is None:
            spark = SparkSession.getActiveSession()
            self._bc = spark.sparkContext.broadcast(self.shards)
        bc = self._bc
        num_shards = self.num_shards

        @F.pandas_udf(BooleanType())
        def probe_udf(keys: pd.Series) -> pd.Series:
            kv = keys.to_numpy(dtype=np.int64)
            shard_ids = np.mod(kv, num_shards)
            out = np.zeros(len(kv), dtype=bool)
            table = bc.value
            for sid in np.unique(shard_ids):
                entry = table.get(int(sid))
                if entry is None:
                    continue
                blob, m, k = entry
                mask = shard_ids == sid
                out[mask] = _probe_filter(kv[mask], blob, m, k)
            return pd.Series(out)

        return df.withColumn(out_col, probe_udf(F.col(key_col).cast("long")))


PROBE_SHARD_COL = "__seen_probe_shard"


def probe_sharded(
    df: DataFrame,
    shards_df: DataFrame,
    num_shards: int,
    key_col: str,
    out_col: str,
    shard_prober,
) -> DataFrame:
    """Shared shard-local probe plan (Bloom AND cuckoo shard tables — one
    implementation so a fix applies to both): one hash exchange of the
    candidates on ``pmod(key, num_shards)``, cogrouped with THAT shard's
    row only — zero driver/broadcast copies of filter bytes. A shard with
    no filter row probes False (definitely unseen). ``shard_prober`` maps
    one shard's pandas row-frame to a ``keys -> bool-array`` callable."""
    if PROBE_SHARD_COL in df.columns:
        raise ValueError(
            f"candidate frame already carries {PROBE_SHARD_COL!r}"
        )
    out_schema = StructType(
        df.schema.fields + [StructField(out_col, BooleanType(), False)]
    )

    def probe_group(cands: pd.DataFrame, shard: pd.DataFrame) -> pd.DataFrame:
        out = cands.drop(columns=[PROBE_SHARD_COL])
        if len(shard) == 0 or len(out) == 0:
            out[out_col] = np.zeros(len(out), dtype=bool)
            return out
        probe = shard_prober(shard)
        out[out_col] = probe(out[key_col].to_numpy(dtype=np.int64))
        return out

    with_shard = df.withColumn(
        PROBE_SHARD_COL,
        F.pmod(F.col(key_col).cast("long"), F.lit(num_shards)).cast("int"),
    )
    return (
        with_shard.groupBy(PROBE_SHARD_COL)
        .cogroup(shards_df.groupBy("shard_id"))
        .applyInPandas(probe_group, out_schema)
    )


class BloomShardTable(_BloomCommon):
    """Executor-resident sharded Bloom set — the 10^10-key shape.

    The shard blobs live in a SHARD_SCHEMA DataFrame; no driver collect, no
    all-shards broadcast. Probe = cogroup candidates (grouped by
    ``pmod(key, num_shards)``) with the shard table (grouped by shard_id):
    each task receives one shard's candidates plus THAT shard's bytes only.
    Merge = same-sized delta filters OR'd blob-by-blob in a cogroup.
    Mirrors the BloomShardSet API so the engine/filter_unseen can take
    either; tests pin the two probes (and the exact anti-join) equal.
    """

    def __init__(
        self,
        shards_df: DataFrame,
        num_shards: int,
        m_bits: int,
        k_funcs: int,
        capacity_per_shard: int,
        known_empty: bool = False,
    ):
        self.shards_df = shards_df
        self.num_shards = num_shards
        self.m_bits = m_bits
        self.k_funcs = k_funcs
        self.capacity_per_shard = capacity_per_shard
        # set by empty(): lets filter_unseen skip the whole cogroup probe
        # (all-False by construction) without a row-count job
        self.known_empty = known_empty

    @staticmethod
    def build(
        keys_df: DataFrame,
        key_col: str = "url_hash",
        num_shards: int = 16,
        fpr: float = 0.01,
        expected_per_shard: int | None = None,
    ) -> "BloomShardTable":
        if expected_per_shard is None:
            total = keys_df.count()
            expected_per_shard = max(64, total // max(num_shards, 1) + 1)
        m, k = optimal_params(expected_per_shard, fpr)
        df = build_shard_table(keys_df, key_col, num_shards, m, k).persist()
        return BloomShardTable(df, num_shards, m, k, expected_per_shard)

    @staticmethod
    def empty(
        spark: SparkSession,
        num_shards: int = 16,
        expected_per_shard: int = 4096,
        fpr: float = 0.01,
    ) -> "BloomShardTable":
        m, k = optimal_params(expected_per_shard, fpr)
        return BloomShardTable(
            spark.createDataFrame([], SHARD_SCHEMA), num_shards, m, k,
            expected_per_shard, known_empty=True,
        )

    @staticmethod
    def from_rows_df(
        rows_df: DataFrame,
        num_shards: int,
        m_bits: int,
        k_funcs: int,
        capacity_per_shard: int,
    ) -> "BloomShardTable":
        return BloomShardTable(rows_df, num_shards, m_bits, k_funcs, capacity_per_shard)

    def as_rows_df(self, spark: SparkSession) -> DataFrame:
        return self.shards_df

    def merged(self, keys_df: DataFrame, key_col: str = "url_hash") -> "BloomShardTable":
        """self OR keys, entirely executor-side: build same-sized delta
        filters from the batch, cogroup with the current shard table, OR the
        byte arrays. O(batch) work + one tiny (num_shards-row) cogroup; the
        merged table is persisted because the caller both probes it and
        persists it to the snapshot store."""
        delta = build_shard_table(keys_df, key_col, self.num_shards, self.m_bits, self.k_funcs)

        def or_blobs(old: pd.DataFrame, new: pd.DataFrame) -> pd.DataFrame:
            if len(old) == 0:
                return new
            if len(new) == 0:
                return old
            a = np.frombuffer(bytes(old["filter_bytes"].iloc[0]), dtype=np.uint8)
            b = np.frombuffer(bytes(new["filter_bytes"].iloc[0]), dtype=np.uint8)
            return pd.DataFrame(
                {
                    "shard_id": [int(old["shard_id"].iloc[0])],
                    "filter_bytes": [(a | b).tobytes()],
                    "n_keys": [int(old["n_keys"].iloc[0]) + int(new["n_keys"].iloc[0])],
                    "m_bits": [int(old["m_bits"].iloc[0])],
                    "k_funcs": [int(old["k_funcs"].iloc[0])],
                }
            )

        merged_df = (
            self.shards_df.groupBy("shard_id")
            .cogroup(delta.groupBy("shard_id"))
            .applyInPandas(or_blobs, SHARD_SCHEMA)
            .persist()
        )
        return BloomShardTable(
            merged_df, self.num_shards, self.m_bits, self.k_funcs,
            self.capacity_per_shard,
        )

    def rerooted(self, read_rows: Callable[[], DataFrame]) -> "BloomShardTable":
        """This set on its just-persisted rows, its own cache released:
        without it each round's merged plan nests the previous round's
        cogroup (+ candidate pipeline) and analysis cost grows unbounded."""
        fresh = BloomShardTable.from_rows_df(
            read_rows(), self.num_shards, self.m_bits, self.k_funcs,
            self.capacity_per_shard,
        )
        self.destroy()
        return fresh

    def total_keys(self) -> int:
        row = self.shards_df.agg(F.sum("n_keys").alias("s")).first()
        return int(row["s"]) if row and row["s"] is not None else 0

    def destroy(self) -> None:
        try:
            self.shards_df.unpersist()
        except Exception:
            pass

    def probe(
        self, df: DataFrame, key_col: str = "url_hash", out_col: str = "maybe_seen"
    ) -> DataFrame:
        """Shard-local membership probe — see :func:`probe_sharded`."""

        def shard_prober(shard: pd.DataFrame):
            blob = bytes(shard["filter_bytes"].iloc[0])
            m = int(shard["m_bits"].iloc[0])
            k = int(shard["k_funcs"].iloc[0])
            return lambda keys: _probe_filter(keys, blob, m, k)

        return probe_sharded(
            df, self.shards_df, self.num_shards, key_col, out_col,
            shard_prober,
        )


def filter_unseen(
    candidates: DataFrame,
    seen_keys: DataFrame,
    bloom: "BloomShardSet | BloomShardTable | CuckooShardTable | None",
    key_col: str = "url_hash",
    persisted: list | None = None,
    confirm_broadcast: bool | None = None,
) -> DataFrame:
    """Bloom-pushdown unseen filter: definite-unseen rows pass for free; only
    probe-positives (true dups + ~fpr false positives) hit the exact
    confirm. With bloom=None degrades to the plain anti-join. Takes any of
    the three seen-set classes.

    The exact confirm never exchanges the seen side: the suspect key set is
    bounded by the candidate batch (round_capacity x fan-out) while the seen
    set is unbounded (O(total crawled) — 10^10 keys at the target scale), so
    shuffling seen for an anti-join would make every round O(history). When
    the suspect batch is broadcast-safe the confirm is two broadcast joins —
    seen ⋈semi broadcast(suspect keys) map-side, then suspects ⋉anti
    broadcast(the tiny truly-seen subset). ``confirm_broadcast``: True/False
    forces the mode (callers that already know the batch size, e.g. the
    engine, skip the sizing count); None counts the cached suspects first.
    """
    # an empty set's probe would compute all-False — skip straight to the
    # plain anti-join
    if bloom is None or bloom.known_empty:
        if confirm_broadcast:  # None = no sizing info here → shuffle path
            hits = (
                seen_keys.select(key_col)
                .join(F.broadcast(candidates.select(key_col).distinct()),
                      on=key_col, how="left_semi")
                .distinct()
            )
            return candidates.join(F.broadcast(hits), on=key_col, how="left_anti")
        # anti-join semantics ignore right-side duplicates — no distinct
        # (which would add a full aggregation exchange over the seen set)
        return candidates.join(
            seen_keys.select(key_col), on=key_col, how="left_anti"
        )
    # both union branches below scan the probe output — without caching the
    # candidate pipeline (and the Arrow probe) would execute twice. Callers
    # that pass ``persisted`` own the unpersist; one-shot callers get an
    # eager localCheckpoint instead (its blocks are reclaimed with the
    # frame, unlike a persist() nobody ever unpersists — leak-free by
    # construction).
    probed = bloom.probe(candidates, key_col=key_col)
    if persisted is not None:
        probed = probed.persist()
        persisted.append(probed)
    else:
        probed = probed.localCheckpoint(eager=True)
    definitely_new = probed.filter(~F.col("maybe_seen")).drop("maybe_seen")
    suspects = probed.filter(F.col("maybe_seen")).drop("maybe_seen")
    if confirm_broadcast is None:
        # one count over the (persisted) probe output; its job doubles as the
        # cache fill, so downstream branches read blocks, not the pipeline
        confirm_broadcast = (
            probed.filter(F.col("maybe_seen")).count() <= CONFIRM_BROADCAST_MAX
        )
    if confirm_broadcast:
        hits = (
            seen_keys.select(key_col)
            .join(F.broadcast(suspects.select(key_col).distinct()),
                  on=key_col, how="left_semi")
            .distinct()
        )
        confirmed_new = suspects.join(
            F.broadcast(hits), on=key_col, how="left_anti"
        )
    else:
        confirmed_new = suspects.join(
            seen_keys.select(key_col), on=key_col, how="left_anti"
        )
    return definitely_new.unionByName(confirmed_new)


# -- the seen-set decision: kind, shape and shard count ----------------------


def _bloom_class(m_bits: int, num_shards: int):
    """Broadcast up to BROADCAST_MAX_BYTES, shard-local beyond."""
    if num_shards * (m_bits // 8) > BROADCAST_MAX_BYTES:
        return BloomShardTable
    return BloomShardSet


def empty(
    spark: SparkSession, kind: str, n_seeded: int, num_shards: int, fpr: float
):
    """A new crawl's seen set of ``kind`` 'bloom' or 'cuckoo', sized for
    max(SEED_EXPECTED_FLOOR, 2 x the seeds per shard)."""
    expected = max(SEED_EXPECTED_FLOOR, 2 * n_seeded // max(num_shards, 1))
    if kind == "cuckoo":
        from ghcrawler_spark.operators.cuckoo import CuckooShardTable

        return CuckooShardTable.empty(
            spark, num_shards=num_shards, expected_per_shard=expected
        )
    m, _ = optimal_params(expected, fpr)
    if _bloom_class(m, num_shards) is BloomShardTable:
        return BloomShardTable.empty(spark, num_shards, expected, fpr)
    return BloomShardSet.empty(num_shards, expected, fpr)


def load(info: dict, rows_df: DataFrame):
    """The set a manifest ``"bloom"`` block and its persisted shard rows
    describe; a block without ``"kind"`` is Bloom."""
    if info.get("kind") == "cuckoo":
        from ghcrawler_spark.operators.cuckoo import CuckooShardTable

        return CuckooShardTable.from_rows_df(
            rows_df,
            num_shards=info["num_shards"],
            n_buckets=info["n_buckets"],
            capacity_per_shard=info["capacity_per_shard"],
        )
    params = (
        info["num_shards"], info["m_bits"], info["k_funcs"],
        info["capacity_per_shard"],
    )
    if _bloom_class(info["m_bits"], info["num_shards"]) is BloomShardTable:
        return BloomShardTable.from_rows_df(rows_df, *params)
    return BloomShardSet.from_rows(rows_df.collect(), *params)


def _shards_for(kind: str, total_keys: int, min_shards: int, fpr: float) -> int:
    """Shards (at least ``min_shards``) keeping one shard's filter or
    fingerprint table for ``total_keys`` keys ≤ SHARD_MAX_BYTES."""
    if kind == "cuckoo":
        from ghcrawler_spark.operators.cuckoo import SLOTS, cuckoo_buckets

        total_bytes = cuckoo_buckets(max(64, total_keys)) * SLOTS * 2
    else:
        total_bytes = optimal_params(max(64, total_keys), fpr)[0] // 8
    return max(min_shards, -(-total_bytes // max(1, SHARD_MAX_BYTES)))


def build(
    kind: str, keys_df: DataFrame, total_keys: int, min_shards: int, fpr: float
):
    """A ``kind`` seen set of ``keys_df`` sized for ``total_keys`` keys —
    the legacy-store rebuild and the overflow resize. Shard count and
    Bloom shape follow the new size."""
    num_shards = _shards_for(kind, total_keys, min_shards, fpr)
    # optimal_params floors m_bits itself, so the per-shard key budget may
    # legitimately drop below 64 when the byte cap forces many small shards
    per_shard = max(1, total_keys // num_shards)
    if kind == "cuckoo":
        from ghcrawler_spark.operators.cuckoo import CuckooShardTable

        return CuckooShardTable.build(
            keys_df, num_shards=num_shards, expected_per_shard=per_shard
        )
    m, _ = optimal_params(per_shard, fpr)
    return _bloom_class(m, num_shards).build(
        keys_df, num_shards=num_shards, fpr=fpr, expected_per_shard=per_shard
    )
