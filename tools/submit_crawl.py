"""spark-submit entrypoint for the crawl engine.

North-rule deployment shape: ``spark-submit --py-files ghcrawler_spark.zip
tools/submit_crawl.py --seeds ... --links ... --corpus ... --store ...``.
On a cluster, pass ``--master`` through spark-submit as usual; the engine
itself is master-agnostic. Resuming is implicit: if the store already has a
committed manifest, seeding is skipped and rounds continue from the last
snapshot.

Build the zip from the checkout root:  zip -qr ghcrawler_spark.zip ghcrawler_spark

Local smoke:
  python tools/submit_crawl.py --demo --store /tmp/crawlrun --rounds 5
"""

from __future__ import annotations

import argparse
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", help="parquet dir: url,type,tier,... (FIXTURES §3)")
    ap.add_argument("--links", help="parquet dir: src_url,edge,dst_url,dst_type")
    ap.add_argument("--corpus", help="parquet dir: image corpus (input_hint shape)")
    ap.add_argument("--store", required=True, help="snapshot store directory")
    ap.add_argument("--rounds", type=int, default=0, help="0 = run to exhaustion")
    ap.add_argument("--round-capacity", type=int, default=100_000)
    ap.add_argument("--bucket-capacity", type=int, default=64)
    ap.add_argument("--bucket-fill", type=int, default=32)
    ap.add_argument("--validate-images", action="store_true")
    ap.add_argument("--demo", action="store_true",
                    help="use the built-in deterministic fixture instead of "
                         "--seeds/--links/--corpus")
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession

    from ghcrawler_spark.plans.round_engine import CrawlConfig, CrawlEngine
    from ghcrawler_spark.sources.snapshot import SnapshotStore

    # under spark-submit the session already exists; standalone we build one
    spark = SparkSession.getActiveSession()
    if spark is None:
        from ghcrawler_spark.session import build_session

        spark = build_session("ghcrawler-crawl")
    spark.sparkContext.setLogLevel("WARN")

    if args.demo:
        from ghcrawler_spark import fixtures

        fx = fixtures.generate(seed=42, n_hosts=6, n_seeds=3)
        corpus, links, seeds = fixtures.to_spark(spark, fx)
    else:
        if not (args.seeds and args.links and args.corpus):
            ap.error("--seeds/--links/--corpus required without --demo")
        seeds = spark.read.parquet(args.seeds)
        links = spark.read.parquet(args.links)
        corpus = spark.read.parquet(args.corpus)

    store = SnapshotStore(args.store)
    cfg = CrawlConfig(
        round_capacity=args.round_capacity,
        bucket_capacity=args.bucket_capacity,
        bucket_fill=args.bucket_fill,
        validate_images=args.validate_images,
        max_rounds=args.rounds or 10_000,
    )
    eng = CrawlEngine(spark, store, corpus, links, cfg)

    if store.current_version() is None:
        eng.seed(seeds)
        print(json.dumps({"event": "seeded", **store.read_manifest()}))
    else:
        print(json.dumps({"event": "resuming", **store.read_manifest()}))

    ran = 0
    while (args.rounds == 0 or ran < args.rounds) and eng.run_round():
        ran += 1
        m = store.read_manifest()
        print(json.dumps({"event": "round", **m}))
    final = store.read_manifest()
    print(json.dumps({"event": "done", "rounds_ran": ran, **final}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
