"""Per-query isolation bench (guide §1.4): times individual declared queries
through the noop sink and optionally dumps .explain("formatted") plans.

This is a SIDE harness — bench.py is the frozen measurement contract and is
untouched. Usage:

    python bench_extra.py [--sf DIR] [--plans OUTDIR] [--passes N] [query ...]

Prints one JSON line {"sf_dir", "queries": {name: best_sec}}.

Kernel layer, no Spark session:

    python bench_extra.py --kernel jpeg [--passes N]

decodes the JPEGs of the seed-7 fixture corpus (the image benchmark's) on
one core and prints one JSON line {"kernel", "images", "ms_per_pass" (best
of N passes, default 10), "bit_exact"}: whether the decoded pixels match the
digest pinned in tests/test_images.py.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def kernel_jpeg(passes: int) -> dict:
    from ghcrawler_spark.functions.jpeg import jpeg_decode
    from tests.test_images import FIXTURE_JPEG_SHA256, decode_digest, fixture_jpegs

    blobs = fixture_jpegs()
    bit_exact = decode_digest(blobs) == FIXTURE_JPEG_SHA256  # also warms tables
    best = float("inf")
    for _ in range(passes):
        t0 = time.perf_counter()
        for b in blobs:
            jpeg_decode(b)
        best = min(best, time.perf_counter() - t0)
    return {"kernel": "jpeg", "images": len(blobs),
            "ms_per_pass": round(best * 1e3, 2), "bit_exact": bit_exact}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--plans", default=None, help="dir to write <query>.txt explain dumps")
    ap.add_argument("--passes", type=int, default=None, help="default 2, or 10 with --kernel")
    ap.add_argument("--kernel", choices=["jpeg"], default=None,
                    help="time one kernel on a single core, without Spark")
    ap.add_argument("--suffix", default="", help="suffix for plan filenames, e.g. _before")
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()
    if args.kernel:
        print(json.dumps(kernel_jpeg(args.passes or 10)))
        return

    from ghcrawler_spark.plans import analytics
    from ghcrawler_spark.session import build_session

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = build_session(
        "ghcrawler-bench-extra", master=f"local[{cpus}]", shuffle_partitions=int(cpus)
    )
    spark.sparkContext.setLogLevel("ERROR")

    qs = analytics.queries()
    names = args.queries or list(qs)
    warm_dir = "/root/testdata/sf0.001"

    per_query: dict[str, float] = {}
    for name in names:
        fn = qs[name]
        if args.plans:
            os.makedirs(args.plans, exist_ok=True)
            df = fn(spark, args.sf)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            with open(os.path.join(args.plans, f"{name}{args.suffix}.txt"), "w") as fh:
                fh.write(plan)
        # warm pass on the tiny sf (JIT/classload outside the timed region)
        if os.path.isdir(warm_dir) and warm_dir != args.sf:
            try:
                fn(spark, warm_dir).write.format("noop").mode("overwrite").save()
            except Exception:
                pass
        best = float("inf")
        for _ in range(args.passes or 2):
            spark.sparkContext.setJobDescription(f"bench_extra:{name}")
            t0 = time.perf_counter()
            fn(spark, args.sf).write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        spark.sparkContext.setJobDescription(None)
        per_query[name] = round(best, 3)
        print(f"# {name}: {per_query[name]}s", file=sys.stderr, flush=True)

    print(json.dumps({"sf_dir": args.sf, "queries": per_query}))


if __name__ == "__main__":
    main()
