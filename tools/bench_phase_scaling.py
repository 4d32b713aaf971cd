"""Per-PHASE N-vs-4N scaling attribution for the crawl-round selection.

tools/bench_scaling.py reports the full pipeline and the shuffle-free
compute path; this probe breaks the gap between them into the pipeline's
stages so BENCH.md's "the sub-linearity lives in the single-box shuffle /
memory-bandwidth section" claim is MEASURED, not asserted. Same frozen
input, same session config as the main sweep's worker; each level runs in a
fresh JVM subprocess; 3 in-session repeats, best-of per phase.

Cuts (each materialized with .count(), best-of-3):
  map      canonicalize+md5-hash over ALL rows (no shuffle) — the compute
           path, reported STANDALONE: in the real pipeline Catalyst prunes
           the md5 out of the politeness window and computes it only for
           post-top-k survivors, so this cut is not a prefix of the chain
  topk     scan + per-host politeness top-64 (the host_hash exchange)
  rotate   + closed-form weighted rotation (persist + counts + rank-bucket)
  full     + md5 on survivors + Bloom merge+probe + exact confirm anti-join

Chain per-phase wall = cut[i] - cut[i-1] over topk -> rotate -> full;
per-phase efficiency = (delta_N / delta_4N) / (4N/N).

Usage:
  python tools/bench_phase_scaling.py            # orchestrate both levels
  python tools/bench_phase_scaling.py --worker 8 DIR
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

LEVELS = (2, 8)
REPEATS = 3


def run_worker(cores: int, data_dir: str) -> None:
    from pyspark.sql import functions as F

    from ghcrawler_spark.functions.urls import canonicalize_url, extract_host
    from ghcrawler_spark.hashing import stable_long_hash
    from ghcrawler_spark.operators.frontier_ops import (
        host_topk,
        weighted_rotation_order_scalable,
    )
    from ghcrawler_spark.operators.seen import BloomShardSet, filter_unseen
    from ghcrawler_spark.session import build_session
    from tools.bench_scaling import HOST_BUDGET, N_FRONTIER, N_SEEN

    spark = build_session(
        f"phase-scaling-{cores}",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.driver.memory": f"{max(8, cores * 2)}g",
            "spark.driver.extraJavaOptions": "-XX:+UseParallelGC",
            "spark.sql.autoBroadcastJoinThreshold": str(4 * 1024 * 1024),
            "spark.local.dir": "/dev/shm/spark_local",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    frontier = spark.read.parquet(os.path.join(data_dir, "frontier"))
    seen = spark.read.parquet(os.path.join(data_dir, "seen"))
    frontier.count(), seen.count()
    from pyspark.sql.types import LongType

    _noop = F.pandas_udf(lambda x: x, LongType())
    spark.range(0, cores * 64, 1, cores).select(_noop("id")).count()

    base_bloom = BloomShardSet.build(
        seen, num_shards=64, fpr=0.01, expected_per_shard=N_SEEN // 64 + 1
    )
    round_delta = spark.range(N_SEEN, N_SEEN + 200_000).select(
        F.xxhash64("id").alias("url_hash")
    )

    def canon_df():
        return frontier.select(
            stable_long_hash(canonicalize_url("url")).alias("url_hash"),
            F.xxhash64(extract_host("url")).alias("host_hash"),
            "tier",
            "enqueue_seq",
        )

    def cut_map() -> None:
        canon_df().filter(F.pmod("url_hash", 7) == 0).count()

    def cut_topk() -> None:
        host_topk(canon_df(), "host_hash", ["enqueue_seq"], k=HOST_BUDGET).count()

    def cut_rotate() -> None:
        polite = host_topk(canon_df(), "host_hash", ["enqueue_seq"], k=HOST_BUDGET)
        weighted_rotation_order_scalable(
            polite,
            "tier",
            "enqueue_seq",
            {"soon": 2, "normal": 3, "later": 2},
            bounds=(0, N_FRONTIER - 1),
        ).count()

    def cut_full() -> None:
        polite = host_topk(canon_df(), "host_hash", ["enqueue_seq"], k=HOST_BUDGET)
        ordered = weighted_rotation_order_scalable(
            polite,
            "tier",
            "enqueue_seq",
            {"soon": 2, "normal": 3, "later": 2},
            bounds=(0, N_FRONTIER - 1),
        )
        bloom = base_bloom.merged(round_delta)
        filter_unseen(
            ordered, seen, bloom, key_col="url_hash", confirm_broadcast=False
        ).count()
        bloom.destroy()

    cuts = {"map": cut_map, "topk": cut_topk, "rotate": cut_rotate, "full": cut_full}
    best: dict[str, float] = {}
    for _ in range(REPEATS):
        for name, fn in cuts.items():
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            fn()
            dt = time.perf_counter() - t0
            best[name] = min(best.get(name, float("inf")), dt)
    print(json.dumps({"cores": cores, "cuts": {k: round(v, 3) for k, v in best.items()}}))


def main() -> int:
    if "--worker" in sys.argv:
        i = sys.argv.index("--worker")
        run_worker(int(sys.argv[i + 1]), sys.argv[i + 2])
        return 0
    data_dir = os.path.join(ROOT, ".bench_tmp", "scaling_input")
    if not os.path.isdir(data_dir):
        print("run tools/bench_scaling.py first (writes the frozen input)", file=sys.stderr)
        return 1
    results = {}
    for cores in LEVELS:
        out = subprocess.run(
            [sys.executable, __file__, "--worker", str(cores), data_dir],
            capture_output=True,
            text=True,
            check=True,
        )
        line = [ln for ln in out.stdout.splitlines() if ln.startswith("{")][-1]
        results[cores] = json.loads(line)["cuts"]
        print(f"level {cores}: {json.dumps(results[cores])}")
    n, n4 = LEVELS
    ratio = n4 / n
    report = {}
    # 'map' is NOT a prefix of the pipeline chain: the real plan computes the
    # md5 url_hash only for post-top-k survivors (Catalyst prunes it out of
    # the politeness window), so the cut that forces md5 over ALL rows is the
    # standalone compute-path probe, reported separately. The cumulative
    # chain of the actual pipeline is topk -> rotate -> full.
    report["map (standalone compute probe)"] = {
        "delta_wall_N": round(results[n]["map"], 3),
        "delta_wall_4N": round(results[n4]["map"], 3),
        "phase_efficiency": round(
            (results[n]["map"] / max(results[n4]["map"], 1e-9)) / ratio, 3
        ),
    }
    prev_n = prev_4n = 0.0
    for name in ["topk", "rotate", "full"]:
        d_n = results[n][name] - prev_n
        d_4n = results[n4][name] - prev_4n
        prev_n, prev_4n = results[n][name], results[n4][name]
        eff = round((d_n / max(d_4n, 1e-9)) / ratio, 3)
        report[name] = {
            "delta_wall_N": round(d_n, 3),
            "delta_wall_4N": round(d_4n, 3),
            "phase_efficiency": eff,
        }
    print(json.dumps({"metric": "phase_scaling_Nx4N", "levels": LEVELS, "phases": report}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
