"""Benchmark entry point.

    python3 crawlbench/run.py --workload crawl_small_rounds --seed 1 \
        --seconds 12 --trace 0

Run from the root of a checkout. It starts one local Spark session with
``local[<cpus>]``, runs the workload, checks its outputs, and prints as its
last stdout line one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer metrics
of the traced run with ``--trace 1``). The line before it holds the run's
context: host load, the fixed job-latency probe, sizes, and for a traced run
the tracing overhead against the last untraced run of the same workload and
seed. Exit code 0 when every output check passed, 1 when one failed, 2 when
the program under test is missing.

Everything the run writes goes under ``.bench_out/`` in the checkout; the
per-run work directory is removed at the end. A traced run also leaves its
spans in ``.bench_out/spans-<workload>-<seed>.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_out")


def _cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def _prepare_env(work: str) -> None:
    """Keep Spark's and Python's scratch files inside the checkout, and let
    the Python workers import the program from it."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "1g")
    os.environ.pop("SPARK_GRAFT_TRACE", None)


def _descendants(pid: int) -> list[int]:
    kids: dict = {}
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(p))
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def peak_rss_mb() -> float:
    """Peak resident set of this driver process plus its JVM child."""
    jvms = [p for p in _descendants(os.getpid()) if _comm(p) == "java"]
    return _hwm_mb(os.getpid()) + sum(_hwm_mb(p) for p in jvms)


def host_context(spark) -> dict:
    """Host-era evidence: load average and a fixed job-latency probe (best of
    5 groupBy-collects over 100k rows, after one warm-up)."""
    from pyspark.sql import functions as F

    try:
        with open("/proc/loadavg") as f:
            load = [float(x) for x in f.read().split()[:3]]
    except OSError:
        load = []
    df = spark.range(100_000).select((F.col("id") % 1000).alias("k"))
    df.groupBy("k").count().collect()
    probes = []
    for _ in range(5):
        t = time.perf_counter()
        df.groupBy("k").count().collect()
        probes.append(time.perf_counter() - t)
    return {"host_loadavg": load, "job_latency_probe_s": min(probes), "cpus": _cpus()}


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers) to end."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 — the JVM may already be gone
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def run(workload: str, seed: int, seconds: float, trace: bool,
        small: bool = False):
    """Run one workload in a fresh session; returns (Result, context)."""
    from crawlbench import workloads
    from crawlbench.trace import Tracer, core_s_by_job, traced_conf

    work = os.path.join(OUT, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _prepare_env(work)
    from ghcrawler_spark.session import build_session

    cpus = _cpus()
    log_dir = os.path.join(work, "eventlog")
    conf = {"spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp"}
    if trace:
        conf.update(traced_conf(log_dir))
    spark = None
    try:
        t0 = time.perf_counter()
        spark = build_session(
            "crawlbench", master=f"local[{cpus}]", shuffle_partitions=cpus,
            extra_conf=conf,
        )
        spark.sparkContext.setLogLevel("ERROR")
        spark.range(1).count()
        session_s = time.perf_counter() - t0
        tracer = Tracer(spark).install() if trace else None
        try:
            res = workloads.WORKLOADS[workload](
                spark, workload, seed, seconds, work, tracer=tracer, small=small
            )
        finally:
            if tracer is not None:
                tracer.uninstall()
        res.e2e["setup_s"] += session_s
        res.e2e["peak_rss_mb"] = peak_rss_mb()
        context = dict(res.context, workload=workload, seed=seed,
                       session_start_s=session_s, **host_context(spark))
        if res.errors:
            context["errors"] = res.errors[:20]
        stop_spark(spark)
        spark = None
        if trace:
            core = core_s_by_job(log_dir)
            round_core = [sum(core.get(j, 0.0) for j in jobs) for jobs in res.round_jobs]
            if round_core:
                res.layer["round_engine.core_s_per_round"] = statistics.mean(round_core)
            tracer.dump(os.path.join(OUT, f"spans-{workload}-{seed}.jsonl"), core)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    return res, context


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import pyspark  # noqa: F401

        import ghcrawler_spark  # noqa: F401
        from crawlbench import workloads
    except ImportError as e:
        print(f"crawlbench: cannot import the program under test: {e}", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"crawlbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    os.makedirs(OUT, exist_ok=True)
    res, context = run(args.workload, args.seed, args.seconds, bool(args.trace))
    last = os.path.join(OUT, f"last-{args.workload}-{args.seed}.json")
    if args.trace:
        units = workloads.layer_units()
        values = res.layer
        if os.path.exists(last):
            with open(last) as f:
                untraced = json.load(f)
            context["trace_overhead"] = {
                k: res.e2e[k] - untraced[k] for k in untraced if k in res.e2e
            }
        else:
            context["trace_overhead"] = "no untraced run of this workload and seed yet"
    else:
        units, values = workloads.E2E_UNITS, res.e2e
        with open(last, "w") as f:
            json.dump(res.e2e, f)
    print(json.dumps({"context": context}, default=str))
    print(json.dumps({
        "correct": res.correct,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {k: {"value": values.get(k, 0), "unit": u} for k, u in units.items()},
    }))
    return 0 if res.correct else 1


if __name__ == "__main__":
    sys.exit(main())
