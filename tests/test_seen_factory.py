"""The seen-set decision in operators/seen.py, driven directly (no crawl):
the kind and shape picked at a given size, shard-count growth under the
per-shard byte cap, each class's resize headroom and live count, and the
manifest round-trip through ``load``."""

import math

import pytest
from pyspark.sql import functions as F

from ghcrawler_spark.operators import seen as S
from ghcrawler_spark.operators.cuckoo import SLOTS, CuckooShardTable, cuckoo_buckets

FPR = 0.01


def test_shape_by_size_and_kind(spark, monkeypatch):
    # the default 64 MiB cap broadcasts a 200k-seed crawl
    assert type(S.empty(spark, "bloom", 200_000, 16, FPR)) is S.BloomShardSet
    m, _ = S.optimal_params(S.SEED_EXPECTED_FLOOR, FPR)
    monkeypatch.setattr(S, "BROADCAST_MAX_BYTES", 16 * (m // 8))  # at the cap
    assert type(S.empty(spark, "bloom", 0, 16, FPR)) is S.BloomShardSet
    monkeypatch.setattr(S, "BROADCAST_MAX_BYTES", 16 * (m // 8) - 1)
    assert type(S.empty(spark, "bloom", 0, 16, FPR)) is S.BloomShardTable
    monkeypatch.setattr(S, "BROADCAST_MAX_BYTES", 1 << 60)
    ck = S.empty(spark, "cuckoo", 0, 16, FPR)  # executor-resident at any size
    assert type(ck) is CuckooShardTable and ck.known_empty


def test_shard_count_grows_under_byte_cap(spark, monkeypatch):
    total = 1_000_000
    assert S._shards_for("bloom", total, 16, FPR) == 16  # 64 MiB default
    assert S._shards_for("cuckoo", total, 16, FPR) == 16
    monkeypatch.setattr(S, "SHARD_MAX_BYTES", 4096)
    n_bloom = S._shards_for("bloom", total, 16, FPR)
    assert n_bloom == math.ceil(S.optimal_params(total, FPR)[0] // 8 / 4096)
    assert S._shards_for("cuckoo", total, 16, FPR) == math.ceil(
        cuckoo_buckets(total) * SLOTS * 2 / 4096
    )
    assert S._shards_for("bloom", 4 * total, 16, FPR) > n_bloom > 16
    assert S._shards_for("bloom", 10, 16, FPR) == 16  # the floor holds
    keys = spark.createDataFrame([], "url_hash long")
    monkeypatch.setattr(S, "BROADCAST_MAX_BYTES", 0)  # no driver collect
    bloom = S.build("bloom", keys, total, 2, FPR)
    assert type(bloom) is S.BloomShardTable and bloom.num_shards == n_bloom
    assert bloom.m_bits // 8 <= 4096
    ck = S.build("cuckoo", keys, total, 2, FPR)
    assert type(ck) is CuckooShardTable and ck.num_shards > 16


def test_headroom_and_live_total(spark, monkeypatch):
    assert S.BloomShardSet.HEADROOM == S.BloomShardTable.HEADROOM == 2.0
    assert CuckooShardTable.HEADROOM == 1.6
    assert S.empty(spark, "bloom", 0, 4, FPR).live_total(100, 7) == 107
    ck = S.empty(spark, "cuckoo", 0, 4, FPR)
    assert ck.live_total(100, 7) == 0  # the exact count, not arithmetic

    def total_keys(self, msg):
        raise ValueError(msg)

    monkeypatch.setattr(
        CuckooShardTable, "total_keys",
        lambda self: total_keys(self, "cuckoo shard 1 over capacity: 2 keys"),
    )
    assert ck.live_total(0, 0) == math.inf  # trips any resize trigger
    monkeypatch.setattr(
        CuckooShardTable, "total_keys", lambda self: total_keys(self, "other")
    )
    with pytest.raises(ValueError, match="other"):
        ck.live_total(0, 0)


@pytest.mark.parametrize(
    "kind,broadcast_max",
    [("bloom", S.BROADCAST_MAX_BYTES), ("bloom", 0), ("cuckoo", 0)],
)
def test_manifest_round_trips(spark, monkeypatch, kind, broadcast_max):
    monkeypatch.setattr(S, "BROADCAST_MAX_BYTES", broadcast_max)
    keys = spark.range(0, 500).select(F.xxhash64("id").alias("url_hash"))
    made = S.empty(spark, kind, 0, 4, FPR).merged(keys)
    block = made.manifest(500)
    # Bloom blocks keep the layout without a "kind" key
    assert block.get("kind", "bloom") == kind
    loaded = S.load(block, made.as_rows_df(spark))
    assert type(loaded) is type(made) and loaded.manifest(500) == block
    assert loaded.probe(keys).filter(~F.col("maybe_seen")).count() == 0
    made.destroy()
    loaded.destroy()


def test_rerooted(spark):
    def no_read():
        raise AssertionError("the broadcast set must not read its rows")

    bloom = S.BloomShardSet.empty(num_shards=4)
    assert bloom.rerooted(no_read) is bloom
    table = S.BloomShardTable.empty(spark, num_shards=4)
    rows = table.as_rows_df(spark)
    fresh = table.rerooted(lambda: rows)
    assert fresh.shards_df is rows and fresh.manifest(3) == table.manifest(3)
