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

Round layer, one Spark session with an event log:

    python bench_extra.py --round-timeline [--seed N]

runs the benchmark's ``crawl_small_rounds`` crawl (``crawlbench/run.py``
builds it the same way, with the same 12 s run length) and prints, for each timed round, its SQL executions
in start order — start offset from the round start, wall, job count and call
site — and the idle gaps of 50 ms or more in which no Spark job ran. The
last line is one JSON object {"seed", "rounds": [{"round", "wall_s",
"busy_s", "idle_s", "executions", "jobs"}]}.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
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


GAP_S = 0.05  # idle gaps shorter than this are not listed
RUN_SECONDS = 12  # the benchmark's run length (BENCHMARK.json "run_seconds")


def _event_log(log_dir: str) -> tuple[dict, list]:
    """SQL executions {id: {start, end, site, jobs}} and jobs [(start, end,
    execution id or None)] of a stopped session's event log, in ms."""
    execs: dict = {}
    jobs: dict = {}
    for d, _, files in os.walk(log_dir):
        for name in files:
            if name.startswith("."):  # checksum files
                continue
            with open(os.path.join(d, name)) as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev.get("Event", "").rsplit(".", 1)[-1]
                    if kind == "SparkListenerSQLExecutionStart":
                        execs[ev["executionId"]] = {
                            "start": ev["time"], "end": ev["time"],
                            "site": ev.get("description", ""), "jobs": 0,
                        }
                    elif kind == "SparkListenerSQLExecutionEnd":
                        if ev["executionId"] in execs:
                            execs[ev["executionId"]]["end"] = ev["time"]
                    elif kind == "SparkListenerJobStart":
                        eid = (ev.get("Properties") or {}).get("spark.sql.execution.id")
                        jobs[ev["Job ID"]] = [ev["Submission Time"], None,
                                              None if eid is None else int(eid)]
                    elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]][1] = ev["Completion Time"]
    for _, _, eid in jobs.values():
        if eid in execs:
            execs[eid]["jobs"] += 1
    return execs, [tuple(j) for j in jobs.values() if j[1] is not None]


def _site(text: str) -> str:
    """'collect at /a/b/round_engine.py:1468' -> 'collect at round_engine.py:1468'."""
    head, sep, path = text.partition(" at ")
    return f"{head}{sep}{os.path.basename(path)}" if sep else text[:80]


def round_timeline(seed: int) -> dict:
    from crawlbench import run as bench_run
    from crawlbench import workloads
    from crawlbench.trace import traced_conf
    from ghcrawler_spark.plans.round_engine import CrawlEngine

    work = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".bench_out",
                        f"timeline-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    bench_run._prepare_env(work)
    from ghcrawler_spark.session import build_session

    log_dir = os.path.join(work, "eventlog")
    cpus = bench_run._cpus()
    windows = []  # (start ms, end ms) of each run_round call
    real_run_round = CrawlEngine.run_round

    def timed_run_round(self):
        t0 = time.time() * 1e3
        try:
            return real_run_round(self)
        finally:
            windows.append((t0, time.time() * 1e3))

    spark = build_session("round-timeline", master=f"local[{cpus}]",
                          shuffle_partitions=cpus, extra_conf=traced_conf(log_dir))
    try:
        spark.sparkContext.setLogLevel("ERROR")
        CrawlEngine.run_round = timed_run_round
        try:
            res = workloads.run_crawl(spark, "crawl_small_rounds", seed, RUN_SECONDS, work)
        finally:
            CrawlEngine.run_round = real_run_round
        bench_run.stop_spark(spark)
        spark = None
        execs, jobs = _event_log(log_dir)
    finally:
        if spark is not None:
            bench_run.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    summary = []
    for rnd, (lo, hi) in enumerate(windows, 1):
        print(f"# round {rnd}: {(hi - lo) / 1e3:.2f} s")
        mine = sorted((e for e in execs.values() if lo <= e["start"] <= hi),
                      key=lambda e: e["start"])
        for e in mine:
            print(f"  +{(e['start'] - lo) / 1e3:6.2f}s {(e['end'] - e['start']) / 1e3:6.2f}s"
                  f" {e['jobs']:3d} jobs  {_site(e['site'])}")
        spans = sorted((s, e) for s, e, _ in jobs if lo <= s <= hi)
        busy, idle, cursor = 0.0, 0.0, lo
        for s, e in spans + [(hi, hi)]:
            if s - cursor >= GAP_S * 1e3:
                print(f"  idle +{(cursor - lo) / 1e3:6.2f}s {(s - cursor) / 1e3:6.2f}s")
            if s > cursor:
                idle += s - cursor
            busy += max(0.0, min(e, hi) - max(s, cursor))
            cursor = max(cursor, e)
        summary.append({
            "round": rnd, "wall_s": round((hi - lo) / 1e3, 3),
            "busy_s": round(busy / 1e3, 3), "idle_s": round(idle / 1e3, 3),
            "executions": len(mine), "jobs": len(spans),
        })
        print(f"  busy {busy / 1e3:.2f} s, idle {idle / 1e3:.2f} s,"
              f" {len(mine)} executions, {len(spans)} jobs")
    if not res.correct:
        print(f"# output check failed: {res.errors}", file=sys.stderr)
    return {"seed": seed, "correct": res.correct, "rounds": summary}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--plans", default=None, help="dir to write <query>.txt explain dumps")
    ap.add_argument("--passes", type=int, default=None, help="default 2, or 10 with --kernel")
    ap.add_argument("--kernel", choices=["jpeg"], default=None,
                    help="time one kernel on a single core, without Spark")
    ap.add_argument("--round-timeline", action="store_true",
                    help="per-round SQL executions and idle gaps of a small-round crawl")
    ap.add_argument("--seed", type=int, default=3, help="crawl seed (--round-timeline)")
    ap.add_argument("--suffix", default="", help="suffix for plan filenames, e.g. _before")
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()
    if args.kernel:
        print(json.dumps(kernel_jpeg(args.passes or 10)))
        return
    if args.round_timeline:
        print(json.dumps(round_timeline(args.seed)))
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
