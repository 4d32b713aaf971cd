"""Drive the crawl engine end-to-end on the synthetic fixture and compare
its committed order log + seen set against the pure-Python reference
simulator (the oracle). Exit 1 on any divergence.

Usage: python tools/run_crawl_demo.py [--validate] [--seed N]
"""

from __future__ import annotations

import os
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from ghcrawler_spark import fixtures
from ghcrawler_spark.plans.round_engine import CrawlConfig, CrawlEngine
from ghcrawler_spark.session import build_session
from ghcrawler_spark.simulator import ReferenceSimulator, SimConfig
from ghcrawler_spark.sources.snapshot import SnapshotStore


def build_sim_inputs(fx):
    corpus = dict(zip(fx.corpus["url"], fx.corpus["image_id"]))
    links: dict[str, list] = {}
    for row in fx.links.itertuples(index=False):
        links.setdefault(row.src_url, []).append((row.edge, row.dst_url, row.dst_type))
    for v in links.values():
        v.sort()
    return corpus, links


def main() -> int:
    validate = "--validate" in sys.argv
    seed = 42
    if "--seed" in sys.argv:
        seed = int(sys.argv[sys.argv.index("--seed") + 1])

    robots_deny = {"h0001.test": ["/p3"], "h0002.test": ["/img/"]}

    fx = fixtures.generate(seed=seed, n_hosts=6, n_seeds=3)
    print(f"fixture: {len(fx.corpus)} images, {len(fx.links)} links, "
          f"{len(fx.seeds)} seeds")

    # --- oracle ---
    sim_corpus, sim_links = build_sim_inputs(fx)
    sim = ReferenceSimulator(
        sim_corpus, sim_links, SimConfig(robots_deny=robots_deny)
    )
    sim.seed(fx.seeds.to_dict("records"))
    sim.run()
    print(f"simulator: {sim.round} rounds, {len(sim.order_log)} pops, "
          f"{len(sim.seen)} seen, {len(sim.docs)} docs, "
          f"{len(sim.deadletter)} dead, "
          f"{len({e['url'] for e in sim.excluded})} distinct excluded")

    # --- engine ---
    spark = build_session("crawl-demo", master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    corpus_df, links_df, seeds_df = fixtures.to_spark(spark, fx)

    with tempfile.TemporaryDirectory() as root:
        store = SnapshotStore(root)
        eng = CrawlEngine(
            spark, store, corpus_df, links_df,
            CrawlConfig(robots_deny=robots_deny, validate_images=validate),
        )
        eng.seed(seeds_df)
        rounds = eng.run()

        log = (
            store.read_appends(spark, "order_log")
            .orderBy("seq")
            .select("seq", "round", "pop_seq", "url", "type", "tier", "host", "outcome")
            .collect()
        )
        eng_log = [r.asDict() for r in log]
        eng_seen = {r.url for r in store.read_appends(spark, "seen").collect()}
        eng_docs = store.read_appends(spark, "docs").collect()
        eng_dead = {r.url for r in eng.current_deadletter().collect()}
        eng_excl = {r.url for r in store.read_appends(spark, "excluded").collect()}

    print(f"engine: {rounds} rounds, {len(eng_log)} pops, {len(eng_seen)} seen, "
          f"{len(eng_docs)} docs, {len(eng_dead)} dead, {len(eng_excl)} distinct excluded")

    ok = True
    if rounds != sim.round:
        print(f"MISMATCH rounds: engine={rounds} sim={sim.round}")
        ok = False
    if len(eng_log) != len(sim.order_log):
        print(f"MISMATCH pop count: engine={len(eng_log)} sim={len(sim.order_log)}")
        ok = False
    for i, (e, s) in enumerate(zip(eng_log, sim.order_log)):
        if e != s:
            print(f"MISMATCH order_log[{i}]:\n  engine: {e}\n  sim   : {s}")
            ok = False
            if i > 5:
                break
    if eng_seen != sim.seen:
        print(f"MISMATCH seen: only-engine={sorted(eng_seen - sim.seen)[:5]} "
              f"only-sim={sorted(sim.seen - eng_seen)[:5]}")
        ok = False
    if eng_dead != {d['url'] for d in sim.deadletter}:
        print("MISMATCH deadletter")
        ok = False
    if eng_excl != {d['url'] for d in sim.excluded}:
        print(f"MISMATCH excluded: engine={sorted(eng_excl)[:5]} "
              f"sim={sorted({d['url'] for d in sim.excluded})[:5]}")
        ok = False
    if validate:
        bad = [r for r in eng_docs if not r.valid]
        print(f"validation: {len(eng_docs)} docs, invalid={len(bad)}")
        if bad:
            ok = False

    print("ORDER LOG + SEEN SET MATCH" if ok else "DIVERGENCE DETECTED")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
