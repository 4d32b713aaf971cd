"""Crash points of the round's concurrent write schedule. A state write that
fails while other writes (or the children pipeline) still run must leave the
manifest uncommitted, with no write of the round still running once
run_round raises; a fresh engine then resumes to the simulator's order log
and seen set. A crashed attempt's version directory is cleared once, before
the replay's concurrent base writes start."""

import os
import shutil
import threading
import time

import pytest

from ghcrawler_spark import fixtures
from ghcrawler_spark.plans.round_engine import CrawlConfig, CrawlEngine
from ghcrawler_spark.simulator import ReferenceSimulator, SimConfig
from ghcrawler_spark.sources import snapshot
from ghcrawler_spark.sources.snapshot import SnapshotStore

ROBOTS = {"h0001.test": ["/p3"], "h0002.test": ["/img/"]}
N_ROUNDS = 3  # with compact_every=2, round 2 rewrites the bases


@pytest.fixture(scope="module")
def fx():
    return fixtures.generate(seed=42, n_hosts=4, n_seeds=2)


@pytest.fixture(scope="module")
def sim(fx):
    corpus = dict(zip(fx.corpus["url"], fx.corpus["image_id"]))
    links = {}
    for row in fx.links.itertuples(index=False):
        links.setdefault(row.src_url, []).append((row.edge, row.dst_url, row.dst_type))
    for v in links.values():
        v.sort()
    s = ReferenceSimulator(corpus, links, SimConfig(robots_deny=ROBOTS))
    s.seed(fx.seeds.to_dict("records"))
    for _ in range(N_ROUNDS):
        s.run_round()
    return s


def _engine(spark, fx, root):
    corpus, links, seeds = fixtures.to_spark(spark, fx)
    store = SnapshotStore(root)
    cfg = CrawlConfig(robots_deny=ROBOTS, compact_every=2)
    return CrawlEngine(spark, store, corpus, links, cfg), store, seeds


def _resume_matches_sim(spark, fx, root, sim):
    eng, store, _ = _engine(spark, fx, root)
    while store.read_manifest()["round"] < N_ROUNDS:
        assert eng.run_round()
    log = [
        r.asDict()
        for r in store.read_appends(spark, "order_log")
        .orderBy("seq")
        .select("seq", "round", "pop_seq", "url", "type", "tier", "host", "outcome")
        .collect()
    ]
    assert log == sim.order_log
    assert {r.url for r in store.read_appends(spark, "seen").collect()} == sim.seen


class Injected(RuntimeError):
    pass


class WriteRecorder:
    """Wraps one store's writes: records their start order and how many are
    running, makes the write labelled ``fail`` raise at once and every
    other write sleep ``delay`` seconds first, so they are still running
    when it fails. Base-table writes are labelled ``base:<table>``."""

    def __init__(self, store, fail=None, delay=0.0, events=None):
        self.lock = threading.Lock()
        self.running = 0
        self.events = [] if events is None else events
        self.started_before_failure = None
        append, tables = store.write_append, store.write_tables
        store.write_append = lambda v, name, df: self._run(
            name, lambda: append(v, name, df), fail, delay
        )
        store.write_tables = lambda v, t: self._run(
            ",".join(f"base:{n}" for n in t), lambda: tables(v, t), fail, delay
        )

    def started(self):
        return [e[1] for e in self.events if e[0] == "write"]

    def _run(self, label, write, fail, delay):
        with self.lock:
            self.running += 1
            self.events.append(("write", label))
        try:
            if label == fail:
                with self.lock:
                    self.started_before_failure = self.started()
                raise Injected(label)
            time.sleep(delay)
            write()
        finally:
            with self.lock:
                self.running -= 1


def test_failed_base_write_joins_and_replays(spark, fx, sim, tmp_path):
    """One compaction-table write fails while the other writes still run."""
    root = str(tmp_path / "s")
    eng, store, seeds = _engine(spark, fx, root)
    eng.seed(seeds)
    eng.run_round()
    before = store.read_manifest()
    rec = WriteRecorder(store, fail="base:seen", delay=1.0)
    with pytest.raises(Injected):
        eng.run_round()
    assert rec.running == 0, "a write outlived the round that raised"
    assert "base:frontier" in rec.started()  # it was the compaction round
    assert store.read_manifest() == before
    _resume_matches_sim(spark, fx, root, sim)


def test_failed_early_write_joins_and_replays(spark, fx, sim, tmp_path):
    """The order-log delta fails while the children pipeline still runs:
    none of the enqueue-dependent writes has started when it fails."""
    root = str(tmp_path / "s")
    eng, store, seeds = _engine(spark, fx, root)
    eng.seed(seeds)
    before = store.read_manifest()
    rec = WriteRecorder(store, fail="order_log", delay=0.5)
    with pytest.raises(Injected):
        eng.run_round()
    assert rec.running == 0, "a write outlived the round that raised"
    assert "frontier_adds" in rec.started()  # the pipeline ran to its end
    assert not {"frontier_adds", "metrics", "bloom"} & set(rec.started_before_failure)
    assert store.read_manifest() == before
    _resume_matches_sim(spark, fx, root, sim)


def test_stale_version_dir_cleared_once_before_base_writes(
    spark, fx, sim, tmp_path, monkeypatch
):
    """Table dirs a crashed attempt left under v{round} are removed by one
    clear before the replay's base writes, none of which clears it again."""
    root = str(tmp_path / "s")
    eng, store, seeds = _engine(spark, fx, root)
    eng.seed(seeds)
    eng.run_round()
    vdir = os.path.join(root, "v000002")
    for table in ("frontier", "tombstones"):  # tombstones: not written now
        os.makedirs(os.path.join(vdir, table))
        with open(os.path.join(vdir, table, "part-stale.parquet"), "wb") as f:
            f.write(b"stale")
    events: list = []
    real_rmtree = shutil.rmtree

    def rmtree(path, *a, **k):
        events.append(("rmtree", os.path.normpath(path)))
        return real_rmtree(path, *a, **k)

    monkeypatch.setattr(snapshot.shutil, "rmtree", rmtree)
    rec = WriteRecorder(store, events=events)
    assert eng.run_round()
    clears = [i for i, e in enumerate(events) if e == ("rmtree", vdir)]
    bases = [i for i, e in enumerate(events) if e[0] == "write" and "base:" in e[1]]
    assert len(clears) == 1 and bases and clears[0] < min(bases)
    assert rec.running == 0
    assert sorted(os.listdir(vdir)) == ["frontier", "host_state", "seen", "stored"]
    assert "part-stale.parquet" not in os.listdir(os.path.join(vdir, "frontier"))
    _resume_matches_sim(spark, fx, root, sim)
