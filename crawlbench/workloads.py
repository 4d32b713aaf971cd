"""The benchmark's workloads and their output checks.

Each workload drives the engine only through its public API, times the
operations a user would wait on, then checks the outputs untimed:

- crawl workloads: the committed order log, seen set, deadletter set and
  excluded set must equal ``ReferenceSimulator`` fed the same generated rows,
  with the same event batches injected before the same rounds;
- ``registry_scan``: every registered query must equal its DuckDB oracle
  (``v1_image_validation``, which has none, by row count), and every bulk
  image batch must validate every image it was given.

A workload returns a ``Result`` holding the end-to-end metrics, the
per-layer metrics (filled only when a ``Tracer`` is passed) and context.
"""

from __future__ import annotations

import contextlib
import math
import os
import statistics
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field, replace

from crawlbench import inputs
from crawlbench.inputs import CrawlShape

SETUP_REPS = 2  # registry set-ups per run, reported as their median


@dataclass
class Result:
    correct: bool = True
    attempted: int = 0
    failed: int = 0
    e2e: dict = field(default_factory=dict)  # name -> value, units in E2E_UNITS
    layer: dict = field(default_factory=dict)  # name -> value, units in layer_units()
    context: dict = field(default_factory=dict)
    errors: list = field(default_factory=list)
    round_jobs: list = field(default_factory=list)  # traced: job ids per round

    def fail_check(self, msg: str) -> None:
        """A failed output check counts every operation as failed."""
        self.correct = False
        self.failed = self.attempted
        self.errors.append(msg)


@dataclass
class CrawlSpec:
    shape: CrawlShape
    cfg: dict
    min_rounds: int
    max_rounds: int
    resume_before: int | None = None  # fresh CrawlEngine before this round


def _every_other(n: int) -> tuple:
    return tuple(range(2, n + 1, 2))


CRAWL = {
    # per-job latency floor; the write and recovery side of the store. Round 2
    # absorbs an event batch, compacts, and runs on a resumed engine.
    "crawl_small_rounds": CrawlSpec(
        shape=CrawlShape(
            n_urls=16_000, n_hosts=400, zipf_s=0.0, seed_frac=0.10,
            n_malformed_seeds=3, robots_hosts=3,
            event_rounds=_every_other(12), events_per_batch=40,
        ),
        cfg=dict(
            round_capacity=1_000, bucket_capacity=4, bucket_fill=2,
            max_attempts=1, inject_failures=True, compact_every=2,
        ),
        min_rounds=2, max_rounds=12, resume_before=2,
    ),
    # per-round data volume over skewed hosts (salted politeness pre-cut)
    "crawl_large_rounds": CrawlSpec(
        shape=CrawlShape(n_urls=200_000, n_hosts=2_000, zipf_s=1.1, seed_frac=0.25),
        cfg=dict(
            round_capacity=40_000, bucket_capacity=128, bucket_fill=64,
            inject_failures=False, politeness_hot_threshold=2_000,
        ),
        min_rounds=2, max_rounds=6,
    ),
}


def toy(spec: CrawlSpec) -> CrawlSpec:
    """The same workload at a size a smoke test can afford."""
    s = spec.shape
    shape = replace(
        s, n_urls=max(400, s.n_urls // 40), n_hosts=max(20, s.n_hosts // 20),
        events_per_batch=min(s.events_per_batch, 8),
    )
    cfg = dict(spec.cfg, round_capacity=max(40, spec.cfg["round_capacity"] // 40))
    if "politeness_hot_threshold" in cfg:
        cfg["politeness_hot_threshold"] = 20
    return replace(spec, shape=shape, cfg=cfg)


def _now() -> float:
    return time.perf_counter()


def _span(tracer, name):
    return contextlib.nullcontext() if tracer is None else tracer.span(name)


def _dir_usage(root: str) -> tuple[int, int]:
    n_bytes = n_files = 0
    for d, _, files in os.walk(root):
        for f in files:
            n_files += 1
            n_bytes += os.path.getsize(os.path.join(d, f))
    return n_bytes, n_files


# -- crawl ----------------------------------------------------------------------


def run_crawl(spark, name: str, seed: int, seconds: float, work: str,
              tracer=None, small: bool = False) -> Result:
    from ghcrawler_spark.plans.round_engine import CrawlConfig, CrawlEngine
    from ghcrawler_spark.sources.snapshot import SnapshotStore
    from ghcrawler_spark.streaming import event_source

    spec = toy(CRAWL[name]) if small else CRAWL[name]
    res = Result()
    corpus = spark.createDataFrame([], "image_id string, url string")

    # set-up: generate the inputs, load them, seed a fresh store. It runs once:
    # a second set-up would cost as much as a round and, unlike the first,
    # skip the JIT warm-up every real engine process pays.
    t0 = _now()
    inp = inputs.crawl_inputs(seed, spec.shape)
    links_df = spark.createDataFrame(inp.links)
    seeds_df = spark.createDataFrame(inp.seeds)
    root = os.path.join(work, "store")
    ingest = os.path.join(work, "ingest")
    os.makedirs(ingest)
    cfg = CrawlConfig(
        robots_deny=inp.robots_deny, ingest_dir=ingest, **spec.cfg
    )
    store = SnapshotStore(root)
    eng = CrawlEngine(spark, store, corpus, links_df, cfg)
    res.attempted += 1
    t1 = _now()
    eng.seed(seeds_df)
    seed_wall = _now() - t1
    setup_wall = _now() - t0

    # timed rounds
    rounds = []
    usage_prev = _dir_usage(root)
    popped_prev = 0
    staged = {}
    stage_walls = []
    t_loop = _now()
    for rnd in range(1, spec.max_rounds + 1):
        if rnd in inp.events:
            res.attempted += 1
            t = _now()
            with _span(tracer, "streaming.stage"):
                raw = spark.createDataFrame(inp.events[rnd])
                event_source.events_to_staged_rows(raw).coalesce(1).write.mode(
                    "append"
                ).parquet(ingest)
            stage_walls.append(_now() - t)
            staged[rnd] = inp.events[rnd]
        resumed = rnd == spec.resume_before
        if resumed:  # a fresh engine over the same store replays the manifest
            store = SnapshotStore(root)
            eng = CrawlEngine(spark, store, corpus, links_df, cfg)
        res.attempted += 1
        with _span(tracer, "round") as sp:
            t = _now()
            more = eng.run_round()
            wall = _now() - t
        res.attempted += 1
        with _span(tracer, "status") as st_sp:
            status = eng.status()
        manifest = store.read_manifest()
        usage = _dir_usage(root)
        rounds.append({
            "round": rnd, "wall": wall, "resumed": resumed,
            "compaction": manifest.get("bases", {}).get("frontier") == rnd,
            "popped": status["total_popped"] - popped_prev,
            "bytes": usage[0] - usage_prev[0], "files": usage[1] - usage_prev[1],
            "span": sp, "status_span": st_sp,
        })
        popped_prev, usage_prev = status["total_popped"], usage
        if not more:
            raise RuntimeError(f"frontier drained at round {rnd}; size the workload up")
        if rnd >= spec.min_rounds and _now() - t_loop >= seconds:
            break

    walls = [r["wall"] for r in rounds]
    popped = sum(r["popped"] for r in rounds)
    res.e2e = {
        "setup_s": setup_wall,
        "pass_s": sum(walls[: spec.min_rounds]),
        "items_per_s": popped / sum(walls),
    }
    res.context.update(
        rounds=len(rounds), urls_popped=popped,
        round_walls_s=[round(w, 4) for w in walls],
        crawl_urls_per_s=popped / sum(walls), round_s_p50=statistics.median(walls),
        universe=spec.shape.n_urls,
        round_capacity=spec.cfg["round_capacity"],
    )

    # output check against the simulator (untimed)
    _check_crawl(spark, res, spec, inp, store, eng, staged, len(rounds))
    if tracer is not None:
        res.layer, res.round_jobs = _crawl_layers(
            spark, tracer, store, rounds, seed_wall, stage_walls)
    return res


def collect_engine_state(spark, store, eng) -> dict:
    log = [
        r.asDict()
        for r in store.read_appends(spark, "order_log")
        .orderBy("seq")
        .select("seq", "round", "pop_seq", "url", "type", "tier", "host", "outcome")
        .collect()
    ]
    seen = {r.url for r in store.read_appends(spark, "seen").select("url").collect()}
    dead = {
        (r.url, r.reason)
        for r in eng.current_deadletter().select("url", "reason").collect()
    }
    excluded = {
        (r.url, r["round"])
        for r in store.read_appends(spark, "excluded").select("url", "round").collect()
    }
    return {"order_log": log, "seen": seen, "deadletter": dead, "excluded": excluded}


def simulate(spec: CrawlSpec, inp, staged: dict, n_rounds: int) -> dict:
    from ghcrawler_spark.simulator import ReferenceSimulator, SimConfig

    keys = ("round_capacity", "bucket_capacity", "bucket_fill", "max_attempts",
            "inject_failures")
    cfg = SimConfig(robots_deny=inp.robots_deny, **{k: spec.cfg[k] for k in keys
                                                    if k in spec.cfg})
    sim = ReferenceSimulator({}, inputs.sim_links(inp.links), cfg)
    sim.seed(inp.seeds.to_dict("records"))
    for rnd in range(1, n_rounds + 1):
        if rnd in staged:
            sim.inject_events(inputs.sim_events(staged[rnd]))
        sim.run_round()
    return {
        "order_log": sim.order_log,
        "seen": set(sim.seen),
        "deadletter": {(d["url"], d["reason"]) for d in sim.deadletter},
        "excluded": {(e["url"], e["round"]) for e in sim.excluded},
    }


def compare_states(engine: dict, sim: dict) -> list:
    """Names of the state parts where engine and simulator differ."""
    return [k for k in ("order_log", "seen", "deadletter", "excluded")
            if engine[k] != sim[k]]


def _check_crawl(spark, res, spec, inp, store, eng, staged, n_rounds) -> None:
    t_check = _now()
    engine = collect_engine_state(spark, store, eng)
    sim = simulate(spec, inp, staged, n_rounds)
    res.context["check_s"] = _now() - t_check
    bad = compare_states(engine, sim)
    res.context.update(
        order_log_rows=len(engine["order_log"]), seen_urls=len(engine["seen"]),
        deadletters=len(engine["deadletter"]), excluded=len(engine["excluded"]),
    )
    if bad:
        res.fail_check(f"engine != simulator on {', '.join(bad)}")
    elif not (engine["order_log"] and engine["deadletter"] and engine["excluded"]) and (
        spec.cfg.get("inject_failures")
    ):
        res.fail_check("workload did not exercise deadletters and exclusions")


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _crawl_layers(spark, tracer, store, rounds, seed_wall, stage_walls):
    out = {}
    per_round = []
    for r in rounds:
        sub = tracer.subtree(r["span"])
        jobs = sorted({j for s in sub for j in s.jobs})
        writes = [s for s in sub if s.name in ("snapshot.write_tables",
                                                "snapshot.write_append")]
        per_round.append({
            "jobs": jobs, "stages": sum(s.stages for s in sub),
            "tasks": sum(s.tasks for s in sub),
            "write_s": sum(s.wall for s in writes),
            "write_jobs": len({j for s in writes for j in s.jobs}),
            "merge_s": sum(s.wall for s in sub if s.name == "seen.merged"),
            "commit_s": sum(s.wall for s in sub if s.name == "snapshot.commit"),
        })
    out["round_engine.jobs_per_round"] = _mean(len(p["jobs"]) for p in per_round)
    out["round_engine.stages_per_round"] = _mean(p["stages"] for p in per_round)
    out["round_engine.tasks_per_round"] = _mean(p["tasks"] for p in per_round)
    out["round_engine.seed_s"] = seed_wall
    out["round_engine.compaction_round_s"] = _mean(
        r["wall"] for r in rounds if r["compaction"])
    out["round_engine.resume_round_s"] = _mean(r["wall"] for r in rounds if r["resumed"])
    out["round_engine.status_jobs"] = sum(
        len(s.jobs) for r in rounds for s in tracer.subtree(r["status_span"]))
    m = store.read_appends(spark, "metrics").filter("round > 0").collect()
    for col in ("selected", "children", "bounced", "deferred"):
        out[f"round_engine.{col}_per_round"] = _mean(row[col] for row in m)
    out["snapshot.write_s_per_round"] = _mean(p["write_s"] for p in per_round)
    out["snapshot.write_jobs_per_round"] = _mean(p["write_jobs"] for p in per_round)
    out["snapshot.commit_s"] = _mean(p["commit_s"] for p in per_round)
    out["snapshot.bytes_per_round"] = _mean(r["bytes"] for r in rounds)
    out["snapshot.files_per_round"] = _mean(r["files"] for r in rounds)
    out["seen.merge_s_per_round"] = _mean(p["merge_s"] for p in per_round)
    bloom = store.read_manifest().get("bloom", {})
    keys = bloom.get("total_keys", 0)
    shards = bloom.get("num_shards", 1)
    m_bits, k = bloom.get("m_bits", 0), bloom.get("k_funcs", 0)
    out["seen.keys"] = keys
    out["seen.filter_bytes"] = m_bits * shards // 8
    out["seen.est_fpr"] = (
        (1 - math.exp(-k * (keys / shards) / m_bits)) ** k if m_bits and k else 0.0)
    out["streaming.stage_s"] = sum(stage_walls)
    out["streaming.events_absorbed"] = sum(row["ingested"] for row in m)
    return out, [p["jobs"] for p in per_round]


# -- registry -------------------------------------------------------------------

REGISTRY_SF = 0.001
REGISTRY_THREADS = 16
# Started first so that no long query begins at the tail of the pass, where
# its wall alone would set the pass wall (longest-first scheduling; these
# were the slowest queries of a one-at-a-time pass on 4 cores).
SLOW_FIRST = (
    "g1_host_rank", "j9_cuckoo_unseen", "d7_dedup_keeplist", "w1_weighted_rotation",
    "d6_dedup_clusters", "d11_semdedup", "d10_incremental_dedup",
    "d5_embedding_neardup", "n5_knn_join", "d3_minhash_lsh", "n4_ann_ivf",
)
IMAGE_BATCHES = 3  # timed image batches at least, whatever ``seconds``
IMAGE_REPLICAS = 24  # ~1.2k images, a batch of about 2 s on 4 cores
IMAGE_TASKS_PER_CORE = 3


def _normalize(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif str(df[c].dtype).startswith("float"):
            df[c] = df[c].round(9)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def oracle_mismatch(spark_df, oracle_df) -> str | None:
    """The registry's parity rule: same row count and columns, equal values
    after sorting rows and rounding doubles to 9 places."""
    if len(spark_df) != len(oracle_df):
        return f"rows {len(spark_df)} != {len(oracle_df)}"
    if sorted(spark_df.columns) != sorted(oracle_df.columns):
        return f"columns {sorted(spark_df.columns)} != {sorted(oracle_df.columns)}"
    a, b = _normalize(spark_df), _normalize(oracle_df)
    if not a.equals(b):
        return f"{int((~(a == b).all(axis=1)).sum())} differing rows"
    return None


def run_registry(spark, name: str, seed: int, seconds: float, work: str,
                 tracer=None, small: bool = False) -> Result:
    """``small`` changes nothing here: at sf0.001 the registry pass is
    already as small as a smoke test can make it."""
    import duckdb
    from pyspark.sql import functions as F

    from ghcrawler_spark import fixtures
    from ghcrawler_spark.functions.images import validate_against_reference
    from ghcrawler_spark.plans import analytics

    res = Result()
    sf = REGISTRY_SF
    data = os.path.join(work, "tables")
    setup_walls = []
    for _ in range(SETUP_REPS):
        t0 = _now()
        rows = inputs.write_registry_tables(seed, sf, data)
        for t in inputs.REGISTRY_TABLES:
            spark.read.parquet(os.path.join(data, f"{t}.parquet")).schema  # noqa: B018
        setup_walls.append(_now() - t0)

    # bulk image validation over the replicated fixture corpus, before the
    # pass so that it starts from the same session state in every run: one
    # untimed warm-up batch, then batches for ``seconds`` (at least
    # IMAGE_BATCHES), reported as the median batch. On a shared 4-core host
    # one batch's wall swings by a third from second to second, so the median
    # of a window of batches is what steadies the figure; a longer batch, or
    # fewer tasks than cores, spreads as much or more.
    fx = fixtures.generate(seed=7, n_hosts=3)
    corpus, _, _ = fixtures.to_spark(spark, fx)
    n_fixture = len(fx.corpus)
    # three tasks a core: a core the host slows for a moment takes fewer of
    # them instead of holding up the batch's last task
    parts = IMAGE_TASKS_PER_CORE * spark.sparkContext.defaultParallelism
    big = spark.range(IMAGE_REPLICAS, numPartitions=parts).select(
        F.col("id").alias("_rep")
    ).crossJoin(F.broadcast(corpus)).select(
        F.concat("image_id", F.lit("#"), F.col("_rep").cast("string")).alias("image_id"),
        "bytes", "fmt", "caption", "ref_bytes",
    )
    fetched = big.select("image_id", "bytes", "fmt", "caption")
    ref = big.select("image_id", F.col("ref_bytes").alias("bytes"),
                     F.lit("png").alias("fmt"), "caption")

    def image_batch():
        res.attempted += 1
        row = validate_against_reference(fetched, ref).agg(
            F.count("*").alias("n"), F.sum(F.col("valid").cast("int")).alias("ok")
        ).collect()[0]
        image_counts.append((row["n"], row["ok"]))

    image_walls, image_counts = [], []
    image_batch()  # warm-up
    t_images = _now()
    while len(image_walls) < IMAGE_BATCHES or _now() - t_images < seconds:
        with _span(tracer, "images.validate"):
            t = _now()
            image_batch()
            image_walls.append(_now() - t)

    # one pass over the registry, REGISTRY_THREADS queries at a time: a lone
    # query's wall is mostly driver-side planning, code generation and job
    # scheduling, which leaves the cores idle; one at a time, the pass takes
    # about twice as long. Each result is kept for the check.
    queries = analytics.queries()
    walls, results, spans = {}, {}, {}

    def one(qname):
        with _span(tracer, f"analytics.{qname}") as sp:
            t = _now()
            try:
                results[qname] = queries[qname](spark, data).toPandas()
            except Exception as e:  # noqa: BLE001 — counted, reported, checked
                res.errors.append(f"{qname}: {type(e).__name__}: {str(e)[:200]}")
            walls[qname] = _now() - t
        spans[qname] = sp

    order = [q for q in SLOW_FIRST if q in queries]
    order += [q for q in queries if q not in order]
    t_pass = _now()
    with ThreadPoolExecutor(max_workers=REGISTRY_THREADS) as pool:
        list(pool.map(one, order))
    pass_wall = _now() - t_pass
    res.attempted += len(queries)
    res.failed += len(queries) - len(results)

    qwalls = list(walls.values())
    res.e2e = {
        "setup_s": statistics.median(setup_walls),
        "pass_s": pass_wall,
        "items_per_s": n_fixture * IMAGE_REPLICAS / statistics.median(image_walls),
    }
    res.context.update(
        sf=sf, table_rows=rows, queries=len(queries), registry_s=sum(qwalls),
        query_s_p50=statistics.median(qwalls),
        threads=REGISTRY_THREADS,
        images_per_s=res.e2e["items_per_s"], image_batch_walls_s=image_walls,
        setup_walls_s=setup_walls,
        slowest_queries={k: round(v, 3) for k, v in
                         sorted(walls.items(), key=lambda x: -x[1])[:5]},
    )

    # output checks (untimed)
    t_check = _now()
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    for t in inputs.REGISTRY_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    oracles = analytics.oracle_sql()
    bad = []
    for qname in queries:
        if qname not in results:
            bad.append(qname)
            continue
        if qname == "v1_image_validation":
            ok = len(results[qname]) == n_fixture
            why = None if ok else f"rows {len(results[qname])} != {n_fixture}"
        else:
            why = oracle_mismatch(results[qname], con.execute(oracles[qname]).df())
        if why:
            bad.append(qname)
            res.errors.append(f"{qname}: {why}")
    if "v1_image_validation" in results:
        valid_per_copy = int(results["v1_image_validation"]["valid"].sum())
        for n, ok in image_counts:
            if n != n_fixture * IMAGE_REPLICAS or ok != valid_per_copy * IMAGE_REPLICAS:
                bad.append("images.validate")
                res.errors.append(f"image batch: {n} rows, {ok} valid")
    con.close()
    res.context["check_s"] = _now() - t_check
    if bad:
        res.fail_check(f"registry mismatches: {', '.join(sorted(set(bad)))}")

    if tracer is not None:
        traced = [s for sp in spans.values() for s in tracer.subtree(sp)]
        jobs = {j for s in traced for j in s.jobs}
        stages = sum(s.stages for s in traced)
        for qname in queries:
            res.layer[f"analytics.{qname}_s"] = walls[qname]
        res.layer["analytics.jobs_total"] = len(jobs)
        res.layer["analytics.stages_total"] = stages
        res.layer["images.validate_s"] = statistics.median(image_walls)
    return res


E2E_UNITS = {"setup_s": "s", "pass_s": "s", "items_per_s": "1/s", "peak_rss_mb": "MB"}

CRAWL_LAYERS = {
    "round_engine.jobs_per_round": "count",
    "round_engine.stages_per_round": "count",
    "round_engine.tasks_per_round": "count",
    "round_engine.core_s_per_round": "s",
    "round_engine.seed_s": "s",
    "round_engine.compaction_round_s": "s",
    "round_engine.resume_round_s": "s",
    "round_engine.status_jobs": "count",
    "round_engine.selected_per_round": "count",
    "round_engine.children_per_round": "count",
    "round_engine.bounced_per_round": "count",
    "round_engine.deferred_per_round": "count",
    "snapshot.write_s_per_round": "s",
    "snapshot.write_jobs_per_round": "count",
    "snapshot.commit_s": "s",
    "snapshot.bytes_per_round": "bytes",
    "snapshot.files_per_round": "count",
    "seen.merge_s_per_round": "s",
    "seen.keys": "count",
    "seen.filter_bytes": "bytes",
    "seen.est_fpr": "ratio",
    "streaming.stage_s": "s",
    "streaming.events_absorbed": "count",
}


def layer_units() -> dict:
    """Every per-layer metric of the traced run, in a fixed order. A layer a
    workload does not exercise reports 0."""
    from ghcrawler_spark.plans import analytics

    out = dict(CRAWL_LAYERS)
    out.update({f"analytics.{q}_s": "s" for q in analytics.queries()})
    out["analytics.jobs_total"] = "count"
    out["analytics.stages_total"] = "count"
    out["images.validate_s"] = "s"
    return out


WORKLOADS = {
    "crawl_small_rounds": run_crawl,
    "crawl_large_rounds": run_crawl,
    "registry_scan": run_registry,
}
