"""ROUND SPEC v2 scenario tests — policy-driven fetch (F6), per-traversal
history (U2), compute-cost budgets (A2), token trait caps + throttle benching
(J6), events-tier ingest with payload-carried requests (§2.9), and malformed
routing to the deadletter (F3). Every scenario pins engine == simulator on
the order log and seen set, mirroring the reference suites
(githubFetcherTests.js:56-89,158-179; processingTests.js)."""

from pyspark.sql import functions as F

from ghcrawler_spark.plans.round_engine import CrawlConfig, CrawlEngine
from ghcrawler_spark.simulator import ReferenceSimulator, SimConfig
from ghcrawler_spark.sources.snapshot import SnapshotStore

CORPUS_SCHEMA = "image_id string, url string"
LINKS_SCHEMA = "src_url string, edge string, dst_url string, dst_type string"
SEEDS_SCHEMA = (
    "url string, type string, tier string, policy_fetch string, "
    "policy_freshness string, map_path string, policy string"
)


def _build(spark, tmp_path, corpus, links, seeds, cfg_kw):
    """corpus: {url: image_id}; links: {src: [(edge, dst, dtype)]};
    seeds: list of dicts. Returns (engine, store, simulator)."""
    corpus_df = spark.createDataFrame(
        [(iid, url) for url, iid in sorted(corpus.items())] or [("_x_", "http://_none_/")],
        CORPUS_SCHEMA,
    )
    link_rows = [
        (src, e, d, t) for src, lst in sorted(links.items()) for e, d, t in lst
    ]
    links_df = spark.createDataFrame(
        link_rows or [("http://_none_/", "pages", "http://_none_/x", "page")],
        LINKS_SCHEMA,
    )
    seeds_df = spark.createDataFrame(
        [
            (
                s.get("url"),
                s.get("type"),
                s.get("tier", "normal"),
                s.get("policy_fetch"),
                s.get("policy_freshness"),
                s.get("map_path"),
                s.get("policy"),
            )
            for s in seeds
        ],
        SEEDS_SCHEMA,
    )
    store = SnapshotStore(str(tmp_path / "store"))
    eng = CrawlEngine(spark, store, corpus_df, links_df, CrawlConfig(**cfg_kw))
    sim_links = {k: sorted(v) for k, v in links.items()}
    sim = ReferenceSimulator(dict(corpus), sim_links, SimConfig(**{
        k: v for k, v in cfg_kw.items()
        if k not in ("bloom_shards", "bloom_fpr", "compact_every",
                     "validate_images", "ingest_dir",
                     "politeness_hot_threshold")
    }))
    return eng, store, sim, seeds_df


def _run_both(eng, sim, seeds_df, seeds, n_rounds=20):
    eng.seed(seeds_df)
    sim.seed(seeds)
    for _ in range(n_rounds):
        if not eng.run_round():
            break
    for _ in range(n_rounds):
        if not sim.run_round():
            break


def _logs(spark, store, sim):
    eng_log = [
        r.asDict()
        for r in store.read_appends(spark, "order_log")
        .orderBy("seq")
        .select("seq", "round", "pop_seq", "url", "type", "tier", "host", "outcome")
        .collect()
    ]
    # seen is merge-on-read once compaction crosses it: base ∪ deltas past
    # the base (pre-base deltas may be gone after expire_snapshots)
    base_v = (store.read_manifest().get("bases") or {}).get("seen")
    if base_v is None:
        seen_df = store.read_appends(spark, "seen")
    else:
        seen_df = store.read(spark, "seen", base_v)
        try:
            seen_df = seen_df.unionByName(
                store.read_appends(spark, "seen", from_version=base_v + 1)
            )
        except FileNotFoundError:
            pass
    eng_seen = {r.url for r in seen_df.collect()}
    return eng_log, sim.order_log, eng_seen, sim.seen


H = "http://h1.test"


def test_revisit_always_vs_match(spark, tmp_path):
    """freshness 'always': a seen image rediscovered by a later traversal is
    re-processed exactly once more (history bounds it); under 'match' it is
    never revisited. Cycle edges (b → a) are blocked by history (U2)."""
    X = f"{H}/img/x"
    links = {
        f"{H}/a": [("images", X, "image"), ("pages", f"{H}/b", "page")],
        f"{H}/b": [("pages", f"{H}/c", "page"), ("pages", f"{H}/a", "page")],
        f"{H}/c": [("images", X, "image")],
    }
    corpus = {X: "imgX"}
    for fresh, expected_x_pops in (("always", 2), ("match", 1)):
        seeds = [{"url": f"{H}/a", "type": "page", "policy_freshness": fresh}]
        eng, store, sim, seeds_df = _build(
            spark, tmp_path / fresh, corpus, links, seeds,
            {"round_capacity": 2, "inject_failures": False},
        )
        _run_both(eng, sim, seeds_df, seeds)
        eng_log, sim_log, eng_seen, sim_seen = _logs(spark, store, sim)
        assert eng_log == sim_log
        assert eng_seen == sim_seen
        x_pops = [r for r in eng_log if r["url"] == X]
        assert len(x_pops) == expected_x_pops, (fresh, eng_log)
        assert all(r["outcome"] == "Processed" for r in x_pops)
        # the cycle edge never re-fetches 'a' (history hasSeen)
        assert len([r for r in eng_log if r["url"] == f"{H}/a"]) == 1


def test_storage_only_policy_skips(spark, tmp_path):
    """storageOnly + empty store → fetch_source 'skip' → outcome Skipped,
    no docs, no traversal (F6 wired into the engine)."""
    links = {f"{H}/a": [("images", f"{H}/img/x", "image")]}
    corpus = {f"{H}/img/x": "imgX"}
    seeds = [
        {"url": f"{H}/a", "type": "page", "policy_fetch": "storageOnly"},
        {"url": f"{H}/img/x", "type": "image", "policy_fetch": "storageOnly"},
    ]
    eng, store, sim, seeds_df = _build(
        spark, tmp_path, corpus, links, seeds,
        {"round_capacity": 4, "inject_failures": False},
    )
    _run_both(eng, sim, seeds_df, seeds)
    eng_log, sim_log, eng_seen, sim_seen = _logs(spark, store, sim)
    assert eng_log == sim_log
    assert eng_seen == sim_seen
    assert {r["outcome"] for r in eng_log} == {"Skipped"}
    assert store.read_appends(spark, "docs").count() == 0


def test_compute_cost_budgets(spark, tmp_path):
    """A2: politeness consumes compute cost (image=3, page=1) against the
    bucket level; per-host per-round spend never exceeds the capacity."""
    links = {
        f"{H}/p{i}": [("images", f"{H}/img/{i}", "image"),
                      ("pages", f"{H}/p{i+1}", "page")]
        for i in range(6)
    }
    corpus = {f"{H}/img/{i}": f"img{i}" for i in range(6)}
    seeds = [{"url": f"{H}/p0", "type": "page"}]
    costs = {"image": 3, "page": 1}
    eng, store, sim, seeds_df = _build(
        spark, tmp_path, corpus, links, seeds,
        # hot threshold 1 forces EVERY host through the adaptive salted
        # pre-cut — pins the two-phase top-k exactly equal to the oracle
        {"round_capacity": 8, "bucket_capacity": 4, "bucket_fill": 2,
         "compute_costs": costs, "inject_failures": False,
         "politeness_hot_threshold": 1},
    )
    _run_both(eng, sim, seeds_df, seeds)
    eng_log, sim_log, eng_seen, sim_seen = _logs(spark, store, sim)
    assert eng_log == sim_log
    assert eng_seen == sim_seen
    spend = {}
    for r in eng_log:
        k = (r["round"], r["host"])
        spend[k] = spend.get(k, 0) + costs.get(r["type"], 1)
    assert spend and all(v <= 4 for v in spend.values()), spend


def test_measured_compute_costs(spark, tmp_path):
    """A2 measured mode (computeLimiter.js:44-77): politeness preallocates
    the static cost, the bucket spend charges observed elapsed minus the
    running-min baseline, and the baseline (a manifest scalar) refreshes
    per round from the round's observations. Engine == simulator on the
    order log AND on the learned baseline."""
    links = {
        f"{H}/p{i}": [("images", f"{H}/img/{i}", "image"),
                      ("pages", f"{H}/p{i+1}", "page")]
        for i in range(5)
    }
    corpus = {f"{H}/img/{i}": f"img{i}" for i in range(5)}
    seeds = [{"url": f"{H}/p0", "type": "page"}]
    eng, store, sim, seeds_df = _build(
        spark, tmp_path, corpus, links, seeds,
        {"round_capacity": 6, "bucket_capacity": 8, "bucket_fill": 4,
         "compute_costs": {"image": 2, "page": 1}, "measured_costs": True,
         "inject_failures": False},
    )
    _run_both(eng, sim, seeds_df, seeds)
    eng_log, sim_log, eng_seen, sim_seen = _logs(spark, store, sim)
    assert eng_log == sim_log
    assert eng_seen == sim_seen
    m = store.read_manifest()
    assert sim.cost_baseline is not None
    assert m["cost_baseline"] == sim.cost_baseline


def test_trait_budgets_cap_pops(spark, tmp_path):
    """J6: token trait caps — at most 1 'image' pop per round regardless of
    the host bucket."""
    links = {f"{H}/a": [("images", f"{H}/img/{i}", "image") for i in range(5)]}
    corpus = {f"{H}/img/{i}": f"img{i}" for i in range(5)}
    seeds = [{"url": f"{H}/a", "type": "page"}]
    eng, store, sim, seeds_df = _build(
        spark, tmp_path, corpus, links, seeds,
        {"round_capacity": 8, "bucket_capacity": 8, "bucket_fill": 8,
         "trait_budgets": {"image": 1}, "inject_failures": False},
    )
    _run_both(eng, sim, seeds_df, seeds)
    eng_log, sim_log, eng_seen, sim_seen = _logs(spark, store, sim)
    assert eng_log == sim_log
    assert eng_seen == sim_seen
    per_round = {}
    for r in eng_log:
        if r["type"] == "image":
            per_round[r["round"]] = per_round.get(r["round"], 0) + 1
    assert per_round and all(v == 1 for v in per_round.values()), per_round


def _find_transient_url(host, n=200):
    from ghcrawler_spark.simulator import is_permanent_fail, is_transient_fail

    for i in range(n):
        u = f"http://{host}/img/t{i}"
        if is_transient_fail(u, 0) and not is_permanent_fail(u):
            return u
    raise AssertionError("no transient url found")


def test_bench_on_throttle(spark, tmp_path):
    """J6 benching: a transient (throttle-class) failure benches the host for
    bench_rounds — no pops from it while benched; engine == simulator."""
    bad = _find_transient_url("h1.test")
    links = {
        f"{H}/a": [("images", bad, "image")]
        + [("images", f"{H}/img/{i}", "image") for i in range(3)],
        "http://h2.test/b": [("images", f"http://h2.test/img/{i}", "image") for i in range(3)],
    }
    corpus = {bad: "imgBad", **{f"{H}/img/{i}": f"img{i}" for i in range(3)},
              **{f"http://h2.test/img/{i}": f"h2img{i}" for i in range(3)}}
    seeds = [{"url": f"{H}/a", "type": "page"},
             {"url": "http://h2.test/b", "type": "page"}]
    eng, store, sim, seeds_df = _build(
        spark, tmp_path, corpus, links, seeds,
        {"round_capacity": 6, "bucket_capacity": 6, "bucket_fill": 3,
         "bench_on_throttle": True, "bench_rounds": 2},
    )
    _run_both(eng, sim, seeds_df, seeds)
    eng_log, sim_log, eng_seen, sim_seen = _logs(spark, store, sim)
    assert eng_log == sim_log
    assert eng_seen == sim_seen
    # find the throttle round(s); the host must be silent for the bench window
    throttle_rounds = [
        r["round"] for r in eng_log
        if r["url"] == bad and r["outcome"] == "Throttled"
    ]
    assert throttle_rounds, "fixture must hit the transient failure"
    for tr in throttle_rounds:
        silent = {r["round"] for r in eng_log
                  if r["host"] == "h1.test" and tr < r["round"] <= tr + 2}
        assert not silent, (tr, silent)


def test_events_ingest_payload_and_priority(spark, tmp_path):
    """§2.9 event ingestion: staged events enter the 'events' tier (weight
    10 → pop before everything), payload-carried rows process without a
    fetch, malformed events deadletter, and freshness 'always' lets an event
    revisit a seen url; engine == simulator throughout."""
    import os

    links = {f"{H}/a": [("pages", f"{H}/p{i}", "page") for i in range(4)]}
    corpus = {f"{H}/img/x": "imgX"}
    seeds = [{"url": f"{H}/a", "type": "page"}]
    ingest = str(tmp_path / "staging")
    os.makedirs(ingest)
    eng, store, sim, seeds_df = _build(
        spark, tmp_path, corpus, links, seeds,
        {"round_capacity": 2, "bucket_capacity": 8, "bucket_fill": 8,
         "inject_failures": False, "ingest_dir": ingest},
    )
    eng.seed(seeds_df)
    sim.seed(seeds)
    for _ in range(2):
        eng.run_round()
        sim.run_round()

    events = [
        # revisit of the already-crawled seed page (freshness always)
        {"url": f"{H}/a", "type": "page", "event_ms": 1, "payload_id": None},
        # payload-carried image: processed without a corpus fetch
        {"url": f"{H}/img/pay", "type": "image", "event_ms": 2,
         "payload_id": "evt-img-1"},
        # malformed → deadletter
        {"url": "not-a-url", "type": "image", "event_ms": 3, "payload_id": None},
    ]
    spark.createDataFrame(
        [(e["url"], e["type"], e["event_ms"], e["payload_id"]) for e in events],
        "url string, type string, event_ms long, payload_id string",
    ).coalesce(1).write.mode("append").parquet(ingest)
    sim.inject_events(events)

    for _ in range(20):
        if not eng.run_round():
            break
    for _ in range(20):
        if not sim.run_round():
            break
    eng_log, sim_log, eng_seen, sim_seen = _logs(spark, store, sim)
    assert eng_log == sim_log
    assert eng_seen == sim_seen
    # payload row processed without being in the corpus
    pay = [r for r in eng_log if r["url"] == f"{H}/img/pay"]
    assert [r["outcome"] for r in pay] == ["Processed"]
    docs = {r["image_id"] for r in store.read_appends(spark, "docs").collect()}
    assert "evt-img-1" in docs
    # events tier outranks queued normal work in its first round
    ev_round = pay[0]["round"]
    in_round = [r for r in eng_log if r["round"] == ev_round]
    assert in_round[0]["tier"] == "events"
    # the revisit happened: seed page popped twice total
    assert len([r for r in eng_log if r["url"] == f"{H}/a"]) == 2
    # malformed event deadlettered
    dls = {(r["url"], r["reason"]) for r in eng.current_deadletter().collect()}
    assert ("not-a-url", "malformed") in dls
    assert {(d["url"], d["reason"]) for d in sim.deadletter} == dls


def test_ingest_gc_bounds_manifest_and_staging(spark, tmp_path):
    """Absorbed staging files older than the frontier base pointer are
    deleted and their manifest bookkeeping pruned (bounded-metadata hygiene,
    tracker-TTL analog): across 3 compaction cycles the 'ingested' map stays
    within the compaction window and the staging dir holds only un-GC'd
    files; the events scenario remains engine == simulator."""
    import os

    links = {}
    corpus = {f"{H}/img/{i}": f"img{i}" for i in range(8)}
    seeds = []
    ingest = str(tmp_path / "staging")
    os.makedirs(ingest)
    eng, store, sim, seeds_df = _build(
        spark, tmp_path, corpus, links, seeds,
        {"round_capacity": 4, "inject_failures": False, "compact_every": 2,
         "ingest_dir": ingest},
    )
    eng.seed(spark.createDataFrame([], "url string, type string, tier string"))
    sim.seed([])
    for i in range(6):
        ev = [{"url": f"{H}/img/{i}", "type": "image", "event_ms": i,
               "payload_id": None}]
        spark.createDataFrame(
            [(e["url"], e["type"], e["event_ms"], e["payload_id"]) for e in ev],
            "url string, type string, event_ms long, payload_id string",
        ).coalesce(1).write.mode("append").parquet(ingest)
        sim.inject_events(ev)
        assert eng.run_round()
        assert sim.run_round()

    eng_log, sim_log, eng_seen, sim_seen = _logs(spark, store, sim)
    assert eng_log == sim_log
    assert eng_seen == sim_seen
    m = store.read_manifest()
    ing = m["ingested"]
    base = m["bases"]["frontier"]
    # only files absorbed after the base pointer (or this round) survive
    assert ing and all(r > base or r == m["round"] for r in ing.values()), (ing, base)
    assert len(ing) <= 2 + 1  # compaction window, not crawl length
    on_disk = {
        f for f in os.listdir(ingest)
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    }
    assert on_disk == set(ing), "GC'd files must leave the staging dir"


def test_malformed_seeds_deadletter(spark, tmp_path):
    """F3: malformed seeds route to the deadletter with reason 'malformed'
    instead of being silently dropped (lib/crawler.js:563-576)."""
    links = {}
    corpus = {f"{H}/img/x": "imgX"}
    seeds = [
        {"url": f"{H}/img/x", "type": "image"},
        {"url": "ftp://bad.test/x", "type": "image"},
        {"url": None, "type": "image"},
        {"url": f"{H}/img/y", "type": None},
    ]
    eng, store, sim, seeds_df = _build(
        spark, tmp_path, corpus, links, seeds,
        {"round_capacity": 4, "inject_failures": False},
    )
    _run_both(eng, sim, seeds_df, seeds)
    eng_log, sim_log, eng_seen, sim_seen = _logs(spark, store, sim)
    assert eng_log == sim_log
    assert eng_seen == sim_seen
    eng_dl = {(r["url"], r["reason"]) for r in eng.current_deadletter().collect()}
    sim_dl = {(d["url"], d["reason"]) for d in sim.deadletter}
    assert eng_dl == sim_dl
    assert eng_dl == {("ftp://bad.test/x", "malformed"), ("", "malformed"),
                      (f"{H}/img/y", "malformed")}


def test_outcome_taxonomy_and_metrics_pins(spark, tmp_path):
    """Round-4 taxonomy (crawler.js:509-519): transient failures log
    'Throttled' (permanent retries stay 'Requeued'), benched-host withholds
    are counted as 'deferred', and J4 attenuation drops land in metrics —
    engine metrics rows == simulator metrics rows, column for column."""
    bad = _find_transient_url("h1.test")
    # two parents link the SAME dst → one attenuation drop per round it's
    # discovered; the transient url exercises Throttled + benching/deferred
    dup = f"{H}/img/shared"
    # p0/p1 are verified non-failing (traverse round 1); the transient url
    # rides as a child so its Throttled pop benches the host mid-crawl
    links = {
        f"{H}/p0": [("images", bad, "image"), ("images", dup, "image")],
        f"{H}/p1": [("images", dup, "image")],
    }
    corpus = {bad: "imgBad", dup: "imgShared"}
    # both seeds traverse in the SAME round, so `dup` is discovered twice in
    # one batch → exactly one attenuation drop
    seeds = [{"url": f"{H}/p0", "type": "page"},
             {"url": f"{H}/p1", "type": "page"}]
    eng, store, sim, seeds_df = _build(
        spark, tmp_path, corpus, links, seeds,
        {"round_capacity": 8, "bucket_capacity": 8, "bucket_fill": 4,
         "bench_on_throttle": True, "bench_rounds": 2},
    )
    _run_both(eng, sim, seeds_df, seeds)
    eng_log, sim_log, eng_seen, sim_seen = _logs(spark, store, sim)
    assert eng_log == sim_log
    assert eng_seen == sim_seen
    assert any(r["outcome"] == "Throttled" for r in eng_log), eng_log
    eng_metrics = {
        r["round"]: r.asDict()
        for r in store.read_appends(spark, "metrics").collect()
        if r["round"] > 0
    }
    sim_metrics = {m["round"]: m for m in sim.metrics}
    assert set(eng_metrics) == set(sim_metrics)
    for rnd, sm in sim_metrics.items():
        em = eng_metrics[rnd]
        for k in ("selected", "children", "requeued", "deadlettered",
                  "frontier_after", "ingested", "attenuated", "deferred",
                  "bounced"):
            assert em[k] == sm[k], (rnd, k, em, sm)
    # the fixture actually exercised both new counters somewhere
    assert any(m["attenuated"] > 0 for m in sim.metrics), sim.metrics
    assert any(m["deferred"] > 0 for m in sim.metrics), sim.metrics
    # lineage deferred counts reconcile with the metrics column per round
    lin = (
        store.read_appends(spark, "lineage")
        .groupBy("round").agg(F.sum("n_deferred").alias("d")).collect()
    )
    lin_d = {r["round"]: r["d"] for r in lin}
    for rnd, sm in sim_metrics.items():
        assert lin_d.get(rnd, 0) == sm["deferred"], (rnd, lin_d, sm)


def test_policy_spec_scenario_maps(spark, tmp_path):
    """Round-4 spec v4: policy SPEC strings ("name:scenario/map@path",
    traversalPolicy.js:97-106) resolve end-to-end, and NAMED scenario maps
    (visitorMap.js:366-390) cut the traversal per row — a relationOnly-style
    crawl follows ONLY its declared relation edges while a default crawl of
    the same graph follows the default cut. Engine == simulator exactly."""
    img = f"{H}/img/x"
    rel = f"{H}/teams"
    links = {
        f"{H}/p0": [("images", img, "image"), ("collaborators", rel, "page")],
        rel: [("images", f"{H}/img/t", "image")],
    }
    corpus = {img: "imgX", f"{H}/img/t": "imgT"}
    scenario_maps = {
        "default": {"page": {"pages": "page", "images": "image"}, "image": {}},
        # the relationOnly cut (visitorMap.js relationOnlyMap): only the
        # relation edge exists
        "relationOnly": {"page": {"collaborators": ("page", "relation")}},
    }
    for policy, expect_urls, absent_urls in (
        # default cut: images traversed, the relation edge is NOT declared
        (None, {img}, {rel}),
        # reload policy + relationOnly cut: ONLY the relation edge traverses
        ("reload:relationOnly/crawl@/", {rel}, {img}),
    ):
        seeds = [{"url": f"{H}/p0", "type": "page"}]
        if policy:
            seeds[0]["policy"] = policy
        eng, store, sim, seeds_df = _build(
            spark, tmp_path / (policy or "none").replace("/", "_").replace(":", "_"),
            corpus, links, seeds,
            {"round_capacity": 8, "inject_failures": False,
             "scenario_maps": scenario_maps},
        )
        _run_both(eng, sim, seeds_df, seeds)
        eng_log, sim_log, eng_seen, sim_seen = _logs(spark, store, sim)
        assert eng_log == sim_log, policy
        assert eng_seen == sim_seen
        popped = {r["url"] for r in eng_log}
        assert expect_urls <= popped, (policy, popped)
        assert not (absent_urls & popped), (policy, popped)


def test_typed_links_on_stored_docs(spark, tmp_path):
    """Round-4 spec v4: every stored doc carries the typed `_metadata.links`
    envelope (lib/request.js:119-140) — self (resource), siblings
    (collection), plus the map cut's declared edges; relation links carry
    the deterministic page-set guid (githubProcessor.js:1005-1020).
    Engine docs == simulator docs including the links column."""
    img = f"{H}/img/x"
    links = {f"{H}/p0": [("images", img, "image")]}
    corpus = {img: "imgX"}
    scenario_maps = {
        "default": {
            "page": {"pages": "page", "images": "image"},
            # contrived: images declare a relation + a collection edge so
            # the typed-link machinery is exercised on stored docs
            "image": {"annotations": ("page", "relation"),
                      "variants": ("image", "collection")},
        }
    }
    seeds = [{"url": f"{H}/p0", "type": "page"}]
    eng, store, sim, seeds_df = _build(
        spark, tmp_path, corpus, links, seeds,
        {"round_capacity": 4, "inject_failures": False,
         "scenario_maps": scenario_maps},
    )
    _run_both(eng, sim, seeds_df, seeds)
    eng_log, sim_log, eng_seen, sim_seen = _logs(spark, store, sim)
    assert eng_log == sim_log
    eng_docs = sorted(
        (
            {
                k: v
                for k, v in r.asDict(recursive=True).items()
                if k not in ("psnr_db", "valid")  # J8 audit cols, not in sim
            }
            for r in store.read_appends(spark, "docs").collect()
        ),
        key=lambda d: (d["round"], d["url"]),
    )
    sim_docs = sorted(sim.docs, key=lambda d: (d["round"], d["url"]))
    assert eng_docs == sim_docs
    # the relation link is present, typed, and guid-branded
    doc = next(d for d in eng_docs if d["url"] == img)
    by_name = {ln["name"]: ln for ln in doc["links"]}
    assert by_name["self"]["type"] == "resource"
    assert by_name["siblings"]["type"] == "collection"
    assert by_name["annotations"]["type"] == "relation"
    assert ":pages:" in by_name["annotations"]["href"]
    assert by_name["variants"]["type"] == "collection"


def test_pagination_fanout_in_engine(spark, tmp_path):
    """Round-4 spec v4 (githubProcessor.js:58-79): a collection type's pages
    2..last enqueue to 'soon' alongside its element edges, with the SAME
    context (qualifier + map path — a page is an implementation detail).
    Engine == simulator on the order log; page rows pop early ('soon')."""
    from ghcrawler_spark.simulator import page_url, synthetic_last_page

    # find a collection url with last_page >= 3 and no injected failure
    from ghcrawler_spark.simulator import is_permanent_fail, is_transient_fail

    coll = next(
        u for u in (f"{H}/list{i}" for i in range(50))
        if synthetic_last_page(u) >= 3
        and not is_permanent_fail(u) and not is_transient_fail(u, 0)
    )
    img = f"{H}/img/x"
    links = {coll: [("images", img, "image")]}
    corpus = {img: "imgX"}
    seeds = [{"url": coll, "type": "collection"}]
    eng, store, sim, seeds_df = _build(
        spark, tmp_path, corpus, links, seeds,
        {"round_capacity": 8, "inject_failures": False,
         "paginate_types": ("collection",)},
    )
    _run_both(eng, sim, seeds_df, seeds)
    eng_log, sim_log, eng_seen, sim_seen = _logs(spark, store, sim)
    assert eng_log == sim_log
    assert eng_seen == sim_seen
    # pages 2..last were popped on the 'soon' tier with reference url form
    expected_pages = {
        page_url(coll, i) for i in range(2, synthetic_last_page(coll) + 1)
    }
    popped_pages = {r["url"] for r in eng_log if "page=" in r["url"]}
    assert popped_pages == expected_pages
    for r in eng_log:
        if r["url"] in expected_pages:
            assert r["tier"] == "soon"


def test_event_visibility_predicate(spark, tmp_path):
    """Round-4 F7 (githubProcessor.js:460-478): timeline-invisible events
    ((type, action) not in the visibility table) are dropped BEFORE
    enqueue; visible ones crawl. Engine == simulator."""
    import os as _os

    ingest = str(tmp_path / "ingest")
    _os.makedirs(ingest, exist_ok=True)
    vis = {"issue": ["opened", "closed"], "status": []}
    events = [
        {"url": f"{H}/e1", "type": "issue", "action": "opened", "event_ms": 1},
        {"url": f"{H}/e2", "type": "issue", "action": "deleted", "event_ms": 2},
        {"url": f"{H}/e3", "type": "status", "action": "created", "event_ms": 3},
        {"url": f"{H}/e4", "type": "push", "action": None, "event_ms": 4},
    ]
    eng, store, sim, seeds_df = _build(
        spark, tmp_path, {}, {}, [{"url": f"{H}/seed", "type": "page"}],
        {"round_capacity": 8, "inject_failures": False,
         "event_visibility": vis, "ingest_dir": ingest},
    )
    spark.createDataFrame(
        [(e["url"], e["type"], e["action"], e["event_ms"]) for e in events],
        "url string, type string, action string, event_ms long",
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "batch"))
    import glob as _glob
    import shutil as _shutil

    part = _glob.glob(str(tmp_path / "batch" / "part-*.parquet"))[0]
    _shutil.copy(part, _os.path.join(ingest, "batch1.parquet"))
    sim.inject_events(events)
    _run_both(eng, sim, seeds_df, [{"url": f"{H}/seed", "type": "page"}])
    eng_log, sim_log, eng_seen, sim_seen = _logs(spark, store, sim)
    assert eng_log == sim_log
    assert eng_seen == sim_seen
    popped = {r["url"] for r in eng_log}
    assert f"{H}/e1" in popped          # visible action
    assert f"{H}/e4" in popped          # type absent from table → visible
    assert f"{H}/e2" not in popped      # action not listed
    assert f"{H}/e3" not in popped      # blanket-invisible type
