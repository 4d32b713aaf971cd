"""The snapshot store's one merge-on-read reader, ``SnapshotStore.read_merged``,
on tiny tables written straight to a store (no engine)."""

import pytest

from ghcrawler_spark.sources.snapshot import SnapshotStore

SCHEMA = "k long, v string"


def _df(spark, rows, schema=SCHEMA):
    return spark.createDataFrame(rows, schema)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture
def store(tmp_path):
    return SnapshotStore(str(tmp_path / "store"))


def test_base_only_skips_deltas_folded_into_it(spark, store):
    store.write_append(0, "t_adds", _df(spark, [(9, "folded")]))
    store.write_tables(1, {"t": _df(spark, [(1, "a"), (2, "b")])})
    store.commit(1)
    out = store.read_merged(spark, "t", 1, 1)
    assert _rows(out) == [(1, "a"), (2, "b")]


def test_base_plus_adds_fills_missing_columns(spark, store):
    store.write_tables(0, {"t": _df(spark, [(1, "a")])})
    store.write_append(1, "t_adds", _df(spark, [(2, "b")]))
    store.write_append(
        2, "t_adds", _df(spark, [(3, "c", 7)], "k long, v string, extra int")
    )
    store.commit(2)
    out = store.read_merged(spark, "t", 2, 0, merge_schema=True)
    assert _rows(out.select("k", "v", "extra")) == [
        (1, "a", None), (2, "b", None), (3, "c", 7)
    ]


def test_adds_minus_keyed_removes(spark, store):
    store.write_tables(0, {"t": _df(spark, [(1, "a"), (2, "b")])})
    store.write_append(1, "t_adds", _df(spark, [(3, "c"), (4, "d")]))
    store.write_append(1, "t_removes", _df(spark, [(1,), (3,)], "k long"))
    store.commit(1)
    out = store.read_merged(spark, "t", 1, 0, key_col="k")
    assert _rows(out) == [(2, "b"), (4, "d")]


def test_none_base_reads_named_deltas_only(spark, store):
    store.write_append(0, "log", _df(spark, [(1, "a")]))
    store.write_append(1, "log", _df(spark, [(2, "b")]))
    store.commit(1)
    out = store.read_merged(spark, "t", 1, None, deltas="log")
    assert _rows(out) == [(1, "a"), (2, "b")]


def test_orphan_delta_past_version_is_ignored(spark, store):
    store.write_tables(0, {"t": _df(spark, [(1, "a")])})
    store.write_append(1, "t_adds", _df(spark, [(2, "b")]))
    store.write_append(1, "t_removes", _df(spark, [(1,)], "k long"))
    store.commit(0)  # round 1 crashed before its commit: its deltas are orphans
    out = store.read_merged(spark, "t", 0, 0, key_col="k")
    assert _rows(out) == [(1, "a")]


def test_table_with_no_deltas(spark, store):
    store.write_tables(0, {"t": _df(spark, [(1, "a")])})
    store.commit(0)
    assert _rows(store.read_merged(spark, "t", 0, 0, key_col="k")) == [(1, "a")]
    with pytest.raises(FileNotFoundError):
        store.read_merged(spark, "t", 0, None)
