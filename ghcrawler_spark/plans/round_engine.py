"""The crawl round engine — ghcrawler's processOne pipeline re-expressed as
one batch DataFrame job per round (SURVEY.md §3.4 lifecycle mapping).

Implements ROUND SPEC v3 (ghcrawler_spark/simulator.py module doc) — the
simulator is the oracle; tests pin engine order_log == simulator order_log
EXACTLY, at any parallelism (the spec has no order-dependence on partition
count: every window orders by a unique key).

Stage map (reference → here):
  queues.pop weighted rotation (queueSet.js:46-65)   → weighted_rotation_order
  token bench / rate limit (tokenFactory, limiters)  → bucket join + cumulative-cost window + trait caps + bench_until
  tracker/etag dedup (redisRequestTracker, etag)     → Bloom probe + anti-join (filter_unseen)
  _fetch (githubFetcher.js:18-24)                    → corpus equi-join (+ decode/PSNR pandas UDF)
  _processDocument fan-out (githubProcessor:102-121) → links join + explode-equivalent + attenuate
  _completeRequest requeue/deadletter (crawler.js)   → attempt bump, tail re-enqueue, deadletter table
  ack-last durability (crawler.js:213-302)           → SnapshotStore atomic round commit

Scale design: frontier/seen/corpus/links never pass through the driver —
only per-round scalar counters (next_seq, row counts) and the Bloom shard
BLOBS are collected. All joins are equi-joins on url/host; politeness +
rotation windows partition by host/tier; the seen anti-join is pre-filtered
by the sharded Bloom set so the exact join sees only probe-positives.

State I/O is MERGE-ON-READ (the Iceberg MOR model the north_rule's snapshot
store maps to): a round writes only the rows it touched — frontier adds,
frontier equality-deletes (popped/dead enqueue_seqs), deadletter adds, seen
delta, docs upserts, CHANGED host-state rows, Bloom blobs — never a
full-table rewrite. The Bloom set is folded forward per round (union =
bitwise OR over same-sized shard filters), so per-round cost is O(rows
touched), not O(crawl history). Reads are equally bounded: the doc-store
lookup and the host-state table merge a compacted BASE with only the deltas
since it — no table is ever replayed from v0. Compaction every
cfg.compact_every rounds rewrites the frontier/seen/stored/host_state
bases, bounding every reader's delta fan-in to the compaction window. On a
real cluster the per-version parquet dirs become Iceberg append/delete
files and the base swap becomes overwritePartitions.

CONCURRENCY INVARIANT: the snapshot store has exactly ONE writer (the
engine); the manifest swap is the commit point. External producers (the
streaming event source) never write engine tables — they stage rows into an
ingest directory the engine absorbs at round start (see attach_event_stream),
which is the snapshot-model replacement for per-message broker leases
(amqp10Queue.js:163-189): the engine needs no lease reclaim because nothing
else can hold its rows in flight.
"""

from __future__ import annotations

import os
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import asdict, dataclass, field, replace

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ghcrawler_spark.functions.images import psnr_vs_reference_udf
from ghcrawler_spark.functions.urls import extract_host
from ghcrawler_spark.functions.urns import child_urn, root_urn
from ghcrawler_spark.hashing import stable_long_hash
from ghcrawler_spark.operators.frontier_ops import (
    WEIGHT_SCALE,
    scalable_rank_by_key,
    trait_cap,
    weighted_rotation_order_scalable,
)
from ghcrawler_spark.operators import seen as seen_set
from ghcrawler_spark.operators.seen import filter_unseen
from ghcrawler_spark.plans.policy import (
    FETCH_POLICIES,
    FRESHNESS_POLICIES,
    doc_links_col,
    event_visible_col,
    fetch_source,
    next_map_path,
    resolve_policy_cols,
    scenario_maps_df,
    should_process,
)
from ghcrawler_spark.simulator import EVENT_POLICY
from ghcrawler_spark.sources.snapshot import SnapshotStore

FRONTIER_SCHEMA = (
    "url string, type string, tier string, host string, enqueue_seq long, "
    "attempt int, policy_fetch string, policy_freshness string, "
    "map_path string, history array<string>, payload_id string, "
    "qualifier string, map_name string"
)
SEEN_SCHEMA = "url string, url_hash long"
ORDER_LOG_SCHEMA = (
    "seq long, round int, pop_seq long, url string, type string, tier string, "
    "host string, outcome string"
)
HOST_STATE_SCHEMA = "host string, level long, bench_until long"
# host_state MOR deltas carry the writing round so the merged read can take
# the latest row per host (last-writer-wins by round)
HOST_STATE_DELTA_SCHEMA = "host string, level long, bench_until long, round int"
DOCS_SCHEMA = (
    "image_id string, url string, round int, version int, psnr_db double, "
    "valid boolean, urn string, parent_urn string, "
    "links array<struct<name:string,href:string,type:string>>"
)
# compacted doc-store point-lookup base (url -> latest stored round/version);
# the docs table itself stays an append-only change log (audit surface)
STORED_SCHEMA = "url string, round int, version int"
DEADLETTER_SCHEMA = (
    "url string, type string, tier string, round int, attempt int, reason string"
)
EXCLUDED_SCHEMA = "url string, round int"
METRICS_SCHEMA = (
    "round int, selected long, children long, requeued long, deadlettered long, "
    "frontier_after long, ingested long, attenuated long, deferred long, "
    "bounced long"
)
TOMBSTONE_SCHEMA = "url string, round int"
LINEAGE_SCHEMA = (
    "round int, tier string, host_bucket int, n_popped long, n_processed long, "
    "n_traversed long, n_requeued long, n_missing long, n_deferred long"
)
LINEAGE_BUCKETS = 32


@dataclass
class CrawlConfig:
    tier_weights: dict = field(
        default_factory=lambda: {
            "events": 10, "immediate": 3, "soon": 2, "normal": 3, "later": 2
        }
    )
    bucket_capacity: int = 4
    bucket_fill: int = 2
    round_capacity: int = 16
    max_attempts: int = 5
    max_rounds: int = 200
    robots_deny: dict = field(default_factory=dict)  # host -> [path prefixes]
    # visitor map (lib/visitorMap.js analog): {parent_type: {edge: child_type
    # | (child_type, link_type)}}; None = traverse every edge in the link table
    visitor_map: dict | None = None
    # collection types whose traversal ALSO fans out pages 2..last to the
    # 'soon' tier (githubProcessor.js:58-79 collection(): pages are loaded
    # before they change much; None = pagination off)
    paginate_types: tuple | None = None
    # F7 event timeline visibility (githubProcessor.js:460-478): event type
    # -> visible actions ([] = never visible; absent = always visible)
    event_visibility: dict | None = None
    # NAMED scenario maps (visitorMap.js:366-390 mapList — `initialize` /
    # `default` / `relationOnly` cut the graph differently): {scenario:
    # visitor_map}. A frontier row's `map_name` (resolved from its policy
    # spec, traversalPolicy.js:97-106) selects which cut governs its
    # traversal; unknown scenarios traverse nothing. Takes precedence over
    # the flat visitor_map (which becomes scenario 'default').
    scenario_maps: dict | None = None
    inject_failures: bool = True
    validate_images: bool = False  # decode+PSNR audit columns on docs
    # seen set: seed-time shard count (rebuilds grow it) and Bloom FPR
    bloom_shards: int = 16
    bloom_fpr: float = 0.01
    # seen-set structure: 'bloom' (default — OR-mergeable bit filters,
    # broadcast or shard-local by size, operators/seen.py) or 'cuckoo'
    # (displaceable 16-bit fingerprint tables, operators/cuckoo.py —
    # supports DELETE, the reference tracker's untag,
    # redisRequestTracker.js:47-53; always shard-local). Fixed for the life
    # of a store: the persisted shard schema differs, so a resumed run
    # keeps the manifest's kind.
    seen_filter: str = "bloom"
    # merge-on-read state: rewrite the frontier/seen bases every K rounds;
    # between compactions a round writes only its own adds/removes deltas
    compact_every: int = 8
    # ROUND SPEC v2 policy/limiter semantics (simulator.py module doc):
    processor_version: int = 1
    compute_costs: dict | None = None  # type -> integer cost (None = all 1)
    trait_budgets: dict | None = None  # token trait -> per-round cap
    type_traits: dict | None = None  # type -> trait (default: the type)
    bench_on_throttle: bool = False  # 403-style bench (tokenFactory.js:41-93)
    bench_rounds: int = 2
    # measured compute-cost mode (computeLimiter.js:44-77): politeness keeps
    # PREALLOCATING the static per-type cost, but the bucket spend charges
    # observed elapsed minus the running-min baseline (a manifest scalar,
    # refreshed per round) — the reference's reconciliation semantics
    measured_costs: bool = False
    ingest_dir: str | None = None  # staged event batches absorbed per round
    # hot-host skew: hosts with more than politeness_hot_threshold frontier
    # rows (default bucket_capacity x 64) get a SALTED top-capacity pre-cut
    # per (host, salt) before the exact per-host cumulative window, so the
    # window never sorts a whole hot host in one task (north_star: salted
    # repartitioning by host-hash). Cold hosts skip the extra pass entirely.
    # politeness_salt=0 disables.
    politeness_salt: int = 16
    politeness_hot_threshold: int | None = None
    # child-dedup broadcast gate: a round's attenuated candidate batch below
    # this row count confirms seen-set membership AND in-flight membership
    # via broadcast semi/anti joins (the seen set and the frontier are
    # unbounded — O(total crawled) — and are only ever scanned map-side, never
    # exchanged). Above it, fall back to exact shuffle anti-joins.
    dedup_broadcast_max: int = 4_000_000
    # round-scoped spark.sql.shuffle.partitions override (None = leave the
    # session value). A round's working set is bounded by round_capacity,
    # so its shuffles want partitions sized to THAT volume, not the
    # session-wide default tuned for the big analytics tables: at toy scale
    # 32 partitions of <10k rows just multiplies task-launch latency
    # (~40% of round wall on this host), while at 100 TB AQE's partition
    # coalescing makes the same downsizing call automatically. Saved and
    # restored around each round, so a mixed workload session is unaffected.
    # NOTE (single-writer invariant, module doc): the override is session-
    # global while a round runs — the engine assumes no concurrent queries
    # race on the same SparkSession mid-round.
    shuffle_partitions: int | None = None
    # ROUND SPEC v5 (simulator.py module doc):
    # excludeNotFound (lib/crawler.js:528-533): Missing rows bypass the
    # attempt loop entirely. Fidelity note: the reference's policy SKIPS
    # STORING the 404 deadletter doc (storeDeadletter returns early); the
    # graft records the row with reason 'excludeNotFound' instead — a
    # strict superset for auditability (filter reason != 'excludeNotFound'
    # to reproduce the reference's store contents exactly)
    exclude_not_found: bool = False
    # one elevated retry for permanent-class failures, then deadletter
    # 'Bailed' (githubFetcher.js:67-72)
    bailed_retry: bool = False
    # deletion-event tombstone flow (lib/crawler.js:375,433-434;
    # githubProcessor.js:599-724 incl. cacheKey-addressed deletes)
    tombstones: bool = False
    # v5: graph-derived crawl priority — the dynamic (OPIC/PageRank) form of
    # the static tier weights (queueSet.js:46-65). Integer fixed-point
    # PageRank (operators/graph.py; bit-exact vs the simulator twin) over
    # the link table feeds a `_prio` column consumed by the politeness
    # top-k: each host's budget prefix is ordered (rank DESC, enqueue_seq)
    # instead of pure FIFO. The input graph is static, so the rank table is
    # computed once per engine (no collects — the result stays executor-
    # resident, pre-partitioned on url for the per-round equi-join); a live
    # crawl with growing link discovery would recompute every k rounds over
    # the accumulated links table.
    rank_priority: bool = False
    rank_iters: int = 3


# Options patchable on a RUNNING engine (routes/config.js:12-18 PATCH /config
# → crawlerService.options[...]._config.apply — the reference patches crawler
# and limiter options between loop iterations without a restart). Only pure
# per-round parameters qualify: options that shape persisted state or
# init-time structures (seen_filter, bloom geometry, robots deny table, the
# rank-priority table, visitor/scenario maps) are fixed at engine
# construction, exactly as the reference reconfigures providers only by
# rebuilding the service. Every value here is JSON-scalar/dict, so the
# manifest journal round-trips it losslessly.
_RECONFIGURABLE = frozenset({
    "tier_weights", "bucket_capacity", "bucket_fill", "round_capacity",
    "max_attempts", "max_rounds", "compute_costs", "trait_budgets",
    "type_traits", "bench_on_throttle", "bench_rounds", "measured_costs",
    "exclude_not_found", "bailed_retry", "inject_failures",
    "politeness_salt", "politeness_hot_threshold", "dedup_broadcast_max",
    "shuffle_partitions", "compact_every",
})


def inflight_bounce(batch: DataFrame, inflight_urls: DataFrame) -> DataFrame:
    """Anti-join a SMALL admin batch against the unbounded frontier WITHOUT
    exchanging the frontier (it is O(live crawl); an admin push is a
    handful of rows): broadcast the batch into the frontier scan for a
    map-side semi join, then broadcast the ≤batch-size hit set back for
    the final anti-join — the same never-shuffle-the-big-side shape as the
    seen-set exact confirm (operators/seen.py). Plan shape is pinned by
    tools/audit_plans.py."""
    hits = inflight_urls.join(
        F.broadcast(batch.select("url")), "url", "left_semi"
    )
    return batch.join(F.broadcast(hits), "url", "left_anti")


def _dedupe_batch_urls(rows: DataFrame) -> DataFrame:
    """Intra-batch url dedup, first-wins by the resolved attribute tuple.

    The reference's tracked push tags a url on its FIRST push, so a second
    copy of the same url in the SAME batch bounces off the tag
    (redisRequestTracker.js:21-27 track-then-push) — without this, a batch
    repeating a url would break the frontier's url-uniqueness invariant
    AND make enqueue_seq nondeterministic (the rank-by-url has ties). The
    window partitions per url (group size = that url's duplicate count), so
    the exchange is an equi-hash of the BATCH by url — no global sort, and
    the frontier is never touched. ``ReferenceSimulator._request_sort_key``
    is the twin tie-break: both engines keep the same winner."""
    w = Window.partitionBy("url").orderBy(
        "type", "tier", "policy_fetch", "policy_freshness",
        "map_path", "map_name",
    )
    return (
        rows.withColumn("_dup_rn", F.row_number().over(w))
        .filter(F.col("_dup_rn") == 1)
        .drop("_dup_rn")
    )


def _path_col(url):
    p = F.regexp_extract(url, "://[^/]*(/.*)$", 1)
    return F.when(p == "", "/").otherwise(p)


def _malformed_cond():
    """F3 pre-filter (mirror of simulator.is_malformed)."""
    return (
        F.col("url").isNull()
        | (F.col("url") == "")
        | F.col("type").isNull()
        | (F.col("type") == "")
        | ~F.col("url").rlike("^https?://")
    )


_TRACE = os.environ.get("SPARK_GRAFT_TRACE", "") == "1"


class _Tracer:
    """Phase stopwatch + Spark-job counter, printed when SPARK_GRAFT_TRACE=1
    (perf forensics: on this host each job costs ~0.3-0.5s of fixed
    scheduling latency, so phase job counts ARE the toy-scale cost model)."""

    def __init__(self, label: str, spark: SparkSession | None = None):
        self.label = label
        self.t = time.perf_counter()
        self._st = (
            spark.sparkContext.statusTracker() if _TRACE and spark is not None
            else None
        )
        self._j = self._jobs()

    def _jobs(self) -> int:
        if self._st is None:
            return 0
        return max(self._st.getJobIdsForGroup() or [0])

    def mark(self, phase: str) -> None:
        if _TRACE:
            now = time.perf_counter()
            j = self._jobs()
            print(
                f"[trace {self.label}] {phase}: {now - self.t:.2f}s"
                f" ({j - self._j} jobs)",
                flush=True,
            )
            self.t = now
            self._j = j


# shared best-effort block-release helper (operators/dedup.py owns the one
# implementation; localCheckpoint blocks are not cache-managed, so a bare
# unpersist() would be a no-op for them)
from ghcrawler_spark.operators.dedup import _free_frame as _free_checkpoint  # noqa: E402


def _run_writes(writes: list) -> None:
    """Run independent write jobs concurrently (wall = slowest, not sum)."""
    with ThreadPoolExecutor(max_workers=min(8, max(1, len(writes)))) as pool:
        list(pool.map(lambda w: w(), writes))


class CrawlEngine:
    def __init__(
        self,
        spark: SparkSession,
        store: SnapshotStore,
        corpus: DataFrame,
        links: DataFrame,
        cfg: CrawlConfig | None = None,
    ):
        self.spark = spark
        self.store = store
        self.cfg = cfg or CrawlConfig()
        # replay journaled live-config patches (update_config): a resumed
        # engine constructed with the ORIGINAL config must see the options
        # an operator patched mid-run, or resume would silently undo them
        if store.current_version() is not None:
            for p in store.read_manifest().get("config_patches", []):
                self.cfg = replace(self.cfg, **p)
        # patches applied before seed() have no manifest to journal into
        # yet; they ride along in the seed commit instead
        self._preseed_cfg_patches: list[dict] = []
        self.corpus = corpus
        # The link graph is static input joined on src_url EVERY round:
        # cache it pre-hashed on the join key so the planner reuses the
        # cached partitioning instead of re-scanning + re-shuffling the
        # whole graph per round. (Cluster equivalent: a table bucketed by
        # src_url; at sizes past executor storage the persist spills/
        # degrades to the plain scan, never breaks.)
        n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
        self.links = links.repartition(n_part, "src_url").persist()
        # v5 rank_priority: one integer fixed-point PageRank over the static
        # link graph (materialized via localCheckpoint — no driver collect),
        # kept executor-resident and hashed on url so the per-round
        # priority join reuses the partitioning
        self._url_rank = None
        if self.cfg.rank_priority:
            from ghcrawler_spark.operators.graph import pagerank_fixed_point

            ranks = pagerank_fixed_point(
                links.select(
                    F.col("src_url").alias("src"), F.col("dst_url").alias("dst")
                ).distinct(),
                n_iter=self.cfg.rank_iters,
            )
            self._url_rank = (
                ranks.select(
                    F.col("node").alias("url"),
                    F.col("rank_micro").alias("_prio"),
                )
                .repartition(n_part, "url")
                .persist()
            )
        # Bloom shard blobs are cached on the engine (keyed by the committed
        # version they reflect) and persisted to the store every round, so a
        # resumed run reloads them instead of rescanning the whole seen set
        self._bloom = None
        self._bloom_version: int | None = None
        deny_rows = [
            (h, p) for h, prefixes in self.cfg.robots_deny.items() for p in prefixes
        ]
        self.deny_df = spark.createDataFrame(
            deny_rows or [("_none_", "_never_")], "host string, prefix string"
        )

    # -- state helpers --------------------------------------------------------

    def _empty(self, schema: str) -> DataFrame:
        return self.spark.createDataFrame([], schema)

    def _bases(self, manifest: dict) -> dict:
        version = manifest["current"]
        return manifest.get(
            "bases", {"frontier": version, "seen": None, "deadletter": version}
        )

    def _read_frontier(self, version: int, bases: dict) -> DataFrame:
        """Merge-on-read frontier: base ∪ per-round adds, minus the equality
        deletes (keyed on enqueue_seq — unique per row INCARNATION, so a url
        popped in round r and re-enqueued later is never shadowed by the
        old remove). Columns added by engine upgrades (qualifier, v3) are
        defaulted when a pre-upgrade base/delta lacks them, so resuming an
        old store works — the row behaves like a fresh root (its URN chain
        re-anchors at the host, lib/request.js:106-117)."""
        df = self.store.read_merged(
            self.spark, "frontier", version, bases["frontier"], key_col="enqueue_seq"
        )
        for c in ("qualifier", "map_name"):
            if c not in df.columns:
                df = df.withColumn(c, F.lit(None).cast("string"))
        return df.withColumn(
            "qualifier",
            F.coalesce(
                F.col("qualifier"), root_urn(F.lit("host"), F.col("host"))
            ),
        ).withColumn("map_name", F.coalesce(F.col("map_name"), F.lit("default")))

    def _read_seen(self, version: int, bases: dict) -> DataFrame:
        base_v = bases.get("seen")
        if base_v is None:
            return self.store.read_appends(self.spark, "seen", version)
        out = self.store.read(self.spark, "seen", base_v)
        try:
            deltas = self.store.read_appends(
                self.spark, "seen", version, from_version=base_v + 1
            )
            out = out.unionByName(deltas)
        except FileNotFoundError:
            pass
        return out

    def _read_stored(self, version: int, bases: dict) -> DataFrame:
        """Doc-store POINT-LOOKUP view (url → latest stored round/version) —
        the reference's store.get/etag index (storageDocStore.js:61-93 keys
        docs for lookup; it never replays its change log). Merge-on-read:
        the compacted `stored` base ∪ docs deltas SINCE the base, so a round
        unions ≤ compact_every+1 dirs instead of every docs delta since v0."""
        base_v = bases.get("stored")
        if base_v is None:  # legacy layout: no compacted lookup yet
            rows = self.store.read_appends(self.spark, "docs", version).select(
                "url", "round", "version"
            )
        else:
            rows = self.store.read(self.spark, "stored", base_v)
            try:
                deltas = self.store.read_appends(
                    self.spark, "docs", version, from_version=base_v + 1,
                    merge_schema=True,
                )
                rows = rows.unionByName(deltas.select("url", "round", "version"))
            except FileNotFoundError:
                pass
        return rows.groupBy("url").agg(
            F.max("round").alias("round"), F.max("version").alias("version")
        )

    def _read_host_state(self, version: int, bases: dict) -> DataFrame:
        """Token-bucket table, merge-on-read: base ∪ per-round deltas of
        CHANGED hosts only, latest row per host wins. Keeps the per-round
        write O(active hosts) instead of O(all known hosts)."""
        base_v = bases.get("host_state")
        if base_v is None:  # legacy layout: full table per version
            return self.store.read(self.spark, "host_state", version)
        base = self.store.read(self.spark, "host_state", base_v).withColumn(
            "_hs_r", F.lit(base_v)
        )
        try:
            deltas = self.store.read_appends(
                self.spark, "host_state_adds", version, from_version=base_v + 1
            ).withColumnRenamed("round", "_hs_r")
            base = base.unionByName(deltas)
        except FileNotFoundError:
            pass
        return base.groupBy("host").agg(
            F.max_by(F.struct("level", "bench_until"), "_hs_r").alias("_s")
        ).select(
            "host",
            F.col("_s.level").alias("level"),
            F.col("_s.bench_until").alias("bench_until"),
        )

    def _read_deadletter(self, version: int, bases: dict) -> DataFrame:
        out = self.store.read(self.spark, "deadletter", bases["deadletter"])
        try:
            adds = self.store.read_appends(
                self.spark,
                "deadletter_adds",
                version,
                from_version=bases["deadletter"] + 1,
            )
            out = out.unionByName(adds)
        except FileNotFoundError:
            pass
        return out

    # -- event ingest (ROUND SPEC v2 step 0) ----------------------------------

    def _pending_event_files(self, manifest: dict) -> list[str]:
        """Staged parquet part-files not yet absorbed (manifest['ingested']
        records absorbed file names, so crash-replay re-absorbs the same
        batch deterministically and an external writer never mutates engine
        tables — the single-writer invariant from the module doc)."""
        d = self.cfg.ingest_dir
        if not d or not os.path.isdir(d):
            return []
        done = set(manifest.get("ingested", []))
        return sorted(
            f
            for f in os.listdir(d)
            if f.endswith(".parquet") and not f.startswith((".", "_")) and f not in done
        )

    def _absorb_events(
        self,
        rnd: int,
        next_seq: int,
        files: list[str],
        frontier: DataFrame,
        persisted: list,
        version: int = 0,
    ):
        """Absorb staged webhook events into the 'events' tier (weight 10,
        crawlerFactory.js:86,680-685): malformed → deadletter (F3), robots →
        excluded, first occurrence per url wins, in-flight urls dropped
        (freshness 'always' means the seen set does NOT block), payload rows
        keep their inline document (lib/crawler.js:348-358).

        With cfg.tombstones, events carrying action 'deleted' are DELETION
        DIRECTIVES (ROUND SPEC v5; githubProcessor.js:599-724): they never
        enqueue — they produce (url, round) tombstone rows, resolving
        cacheKey-addressed deletes (no url, payload_id names the doc id)
        against the docs log; unresolvable directives are dropped, url-less
        key-less ones deadletter as 'malformed'.

        Returns (ingested_df|None, n_ingested, deadletter_rows|None,
        excluded_rows|None, tomb_rows|None, n_tomb)."""
        if not files:
            return None, 0, None, None, None, 0
        # mergeSchema: a staging dir can mix pre-upgrade batches (no
        # `verified` column) with new ones — a single-footer read would
        # either drop the column or read legacy rows as null; null-verified
        # rows would then fail BOTH the ~verified and verified filters and
        # silently vanish. Merged read + coalesce treats legacy rows as
        # verified (they predate the signature gate).
        ev = self.spark.read.option("mergeSchema", "true").parquet(
            *[os.path.join(self.cfg.ingest_dir, f) for f in files]
        )
        have = set(ev.columns)
        ev = ev.select(
            "url",
            "type",
            (F.col("action") if "action" in have else F.lit(None))
            .cast("string")
            .alias("action"),
            F.coalesce(
                (F.col("event_ms") if "event_ms" in have else F.lit(0)).cast(
                    "long"
                ),
                F.lit(0),
            ).alias("event_ms"),
            (F.col("payload_id") if "payload_id" in have else F.lit(None))
            .cast("string")
            .alias("payload_id"),
            F.coalesce(
                (F.col("verified") if "verified" in have else F.lit(True)).cast(
                    "boolean"
                ),
                F.lit(True),
            ).alias("verified"),
            # v5 streaming front-end unification: the event-source limiter
            # (attach_event_stream rate_per_sec) stages over-rate rows with
            # throttled=true; they enter the LOW-priority 'later' tier
            # instead of 'events' (lib/crawler.js:441-459 requeue shape)
            F.coalesce(
                (
                    F.col("throttled") if "throttled" in have else F.lit(False)
                ).cast("boolean"),
                F.lit(False),
            ).alias("throttled"),
        )

        def _dead_rows(df: DataFrame, reason: str) -> DataFrame:
            return df.select(
                F.coalesce(F.col("url"), F.lit("")).alias("url"),
                F.coalesce(F.col("type"), F.lit("")).alias("type"),
                F.lit("events").alias("tier"),
                F.lit(rnd).alias("round"),
                F.lit(0).cast("int").alias("attempt"),
                F.lit(reason).alias("reason"),
            )

        # signature gate FIRST (routes/webhook.js:15-24 rejects before
        # parsing): staged rows the producer could not verify → deadletter
        ev_dead = _dead_rows(ev.filter(~F.col("verified")), "unverified")
        ev = ev.filter(F.col("verified")).drop("verified")
        tomb_rows, n_tomb = None, 0
        if self.cfg.tombstones:
            is_del = F.coalesce(F.col("action") == "deleted", F.lit(False))
            dels = ev.filter(is_del)
            ev = ev.filter(~is_del)
            url_empty = F.col("url").isNull() | (F.col("url") == "")
            url_ok = ~url_empty & F.col("url").rlike("^https?://")
            # cacheKey addressing applies ONLY when the url is ABSENT
            # (githubProcessor.js:668,724 deletes by cacheKey when no repo
            # url exists): a directive carrying a non-empty INVALID url is
            # malformed even if a payload_id rides along — the simulator
            # skips resolution for any truthy url, so resolving here would
            # tombstone a doc the twin deadletters.
            keyed = url_empty & F.col("payload_id").isNotNull()
            # cacheKey-addressed deletes resolve via the docs log: the doc
            # with that image_id at the max (round, url) — the engine twin of
            # the simulator's latest-doc scan. The docs read is gated on the
            # deletion batch actually containing keyed rows (one count over
            # the tiny staged frame), so url-addressed deletions never scan
            # the docs history.
            by_url = dels.filter(url_ok).select("url")
            dels_k = dels.filter(keyed).select(
                F.col("payload_id").alias("image_id")
            )
            resolved = None
            if dels_k.limit(1).count() > 0:
                try:
                    docs_log = self.store.read_appends(
                        self.spark, "docs", version, merge_schema=True
                    )
                    latest = docs_log.groupBy("image_id").agg(
                        F.max(F.struct("round", "url")).alias("_m")
                    )
                    resolved = dels_k.join(latest, "image_id").select(
                        F.col("_m.url").alias("url")
                    )
                except FileNotFoundError:
                    resolved = None
            tombs = by_url if resolved is None else by_url.unionByName(resolved)
            tomb_rows = (
                tombs.distinct()
                .select("url", F.lit(rnd).cast("int").alias("round"))
                .persist()
            )
            persisted.append(tomb_rows)
            n_tomb = tomb_rows.count()
            if n_tomb == 0:
                tomb_rows = None
            ev_dead = ev_dead.unionByName(
                _dead_rows(dels.filter(~url_ok & ~keyed), "malformed")
            )
        bad = ev.filter(_malformed_cond())
        ev_dead = ev_dead.unionByName(_dead_rows(bad, "malformed"))
        ok = ev.filter(~_malformed_cond())
        if self.cfg.event_visibility is not None:
            # F7 (githubProcessor.js:460-478): timeline-invisible events are
            # simply not queued — dropped BEFORE the first-wins dedup so an
            # invisible event can never mask a visible one for the same url
            ok = ok.filter(
                event_visible_col(
                    F.col("type"), F.col("action"), self.cfg.event_visibility
                )
            )
        ok = ok.drop("action")
        w = Window.partitionBy("url").orderBy("event_ms", "type")
        first = (
            ok.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn", "event_ms")
            .withColumn("host", extract_host(F.col("url")))
        )
        allowed, denied = self._robots_allowed(first)
        ev_excl = denied.select("url", F.lit(rnd).alias("round"))
        fresh = allowed.join(frontier.select("url"), "url", "left_anti")
        pf, fresh_policy, mp = EVENT_POLICY
        ingested = (
            scalable_rank_by_key(fresh, ["url"], "_rank", persisted=persisted)
            .select(
                "url",
                "type",
                F.when(F.col("throttled"), "later")
                .otherwise("events")
                .alias("tier"),
                "host",
                (F.lit(next_seq) + F.col("_rank")).cast("long").alias("enqueue_seq"),
                F.lit(0).cast("int").alias("attempt"),
                F.lit(pf).alias("policy_fetch"),
                F.lit(fresh_policy).alias("policy_freshness"),
                F.lit(mp).alias("map_path"),
                F.array().cast("array<string>").alias("history"),
                "payload_id",
                root_urn(F.lit("host"), F.col("host")).alias("qualifier"),
                F.lit("default").alias("map_name"),
            )
            .persist()
        )
        persisted.append(ingested)
        return ingested, ingested.count(), ev_dead, ev_excl, tomb_rows, n_tomb

    def current_frontier(self) -> DataFrame:
        """The live frontier view at the committed manifest version."""
        manifest = self.store.read_manifest()
        return self._read_frontier(manifest["current"], self._bases(manifest))

    def frontier_at(self, version: int) -> DataFrame:
        """TIME TRAVEL: the exact frontier view as of any committed round —
        the per-version manifest (snapshot metadata) pins that round's base
        pointers, so the merge-on-read assembly reproduces historical state
        byte-for-byte (Iceberg snapshot-read analog; the audit surface for
        the per-partition lineage table)."""
        manifest = self.store.read_manifest(version)
        return self._read_frontier(version, self._bases(manifest))

    def current_deadletter(self) -> DataFrame:
        """The live deadletter view at the committed manifest version
        (crawlerService list/count analog, lib/crawlerService.js:91-130)."""
        manifest = self.store.read_manifest()
        return self._read_deadletter(manifest["current"], self._bases(manifest))

    def deadletter_count(self) -> int:
        return self.current_deadletter().count()

    def list_deadletters(self, limit: int = 10_000) -> list:
        """First ``limit`` deadletters (storageDocStore.js:96-189 caps its
        list API at 10000 the same way)."""
        return self.current_deadletter().limit(limit).collect()

    def _write_bloom(self, version: int, bloom) -> None:
        """Persist shard blobs (num_shards rows) so a resumed run reloads
        them instead of rebuilding from the full seen set. For a shard-local
        set the rows never pass through the driver — the executor-side
        table is written directly."""
        self.store.write_append(version, "bloom", bloom.as_rows_df(self.spark))

    def _load_bloom(self, version: int, manifest: dict, seen: DataFrame):
        """Cached set when this engine committed ``version``; else the
        persisted blobs; else (pre-incremental store) a full rebuild."""
        if self._bloom is not None and self._bloom_version == version:
            return self._bloom
        info = manifest.get("bloom")
        if info is not None:
            try:
                return seen_set.load(
                    info,
                    self.store.read_appends(
                        self.spark, "bloom", version, from_version=version
                    ),
                )
            except FileNotFoundError:
                pass
        # legacy (pre-incremental) store: full rebuild from the seen set.
        # Size from the ACTUAL seen count — a fixed small estimate here would
        # resolve a multi-GB filter to the broadcast shape and pull every
        # blob through the driver, the exact failure shard-local mode exists
        # to avoid. The count is one job on a rare (resume-of-old-store) path.
        return seen_set.build(
            self.cfg.seen_filter, seen.select("url_hash"), seen.count(),
            self.cfg.bloom_shards, self.cfg.bloom_fpr,
        )

    def _robots_allowed(self, df: DataFrame) -> tuple[DataFrame, DataFrame]:
        """Split rows into (allowed, denied) via broadcast semi/anti joins
        against the robots table — no shuffle of the candidate rows at all
        (the deny table is broadcast; per-host robots rules are small)."""
        with_path = df.withColumn("_path", _path_col(F.col("url")))
        deny = self.deny_df.select(
            F.col("host").alias("_d_host"), F.col("prefix").alias("_d_prefix")
        )
        cond = (F.col("host") == F.col("_d_host")) & F.col("_path").startswith(
            F.col("_d_prefix")
        )
        allowed = with_path.join(F.broadcast(deny), cond, "left_anti").drop("_path")
        denied = with_path.join(F.broadcast(deny), cond, "left_semi").drop("_path")
        return allowed, denied

    # -- bootstrap ------------------------------------------------------------

    def _resolve_request_rows(
        self, seeds: DataFrame, tier_default: str | None = None
    ) -> DataFrame:
        """Shared request-intake funnel head (seed + admin queue_requests):
        optional policy SPEC strings (traversalPolicy.js:97-106) — a
        `policy` column like "reprocess:relationOnly/crawl@/teams" resolves
        ROW-LEVEL (request lists are data — codegen'd string split, never a
        driver loop) to (fetch, freshness, scenario, path). Precedence:
        explicit column > spec-resolved > graft default
        (originStorage:match@/). ``tier_default`` fills rows with no tier
        column/value (routes/requests.js:23 defaults the path param to
        'normal')."""
        have = set(seeds.columns)
        spec = resolve_policy_cols("policy") if "policy" in have else None
        defaults = {
            "policy_fetch": ("fetch", F.lit("originStorage")),
            "policy_freshness": ("freshness", F.lit("match")),
            "map_path": ("path", F.lit("/")),
            "map_name": ("scenario", F.lit("default")),
        }

        # js-falsy precedence + DOMAIN validation: the reference treats ''
        # like absent (a falsy attribute falls through to the spec/default)
        # and unknown policy NAMES resolve to the default policy
        # (traversalPolicy.getPolicy semantics) — so an explicit value that
        # is empty OR outside the known domain falls through the coalesce.
        # Without the domain check an unknown policy_fetch would reach
        # fetch_source's otherwise-arm (≠ the simulator twin's branch), an
        # unknown tier would get a NULL rotation weight, and a non-numeric
        # freshness would null out should_process — three divergent
        # garbage-in behaviors; the simulator's `or`-chained twin
        # (_resolved_request) applies the same checks.
        def _nz(c: Column) -> Column:
            return F.nullif(c, F.lit(""))

        validators = {
            "policy_fetch": lambda c: c.isin(*FETCH_POLICIES),
            "policy_freshness": lambda c: c.isin(*FRESHNESS_POLICIES)
            | c.try_cast("int").isNotNull(),
        }
        policy_cols = []
        for c, (field_, d) in defaults.items():
            parts = []
            if c in have:
                col = _nz(F.col(c))
                v = validators.get(c)
                if v is not None:
                    col = F.when(v(col), col)
                parts.append(col)
            if spec is not None:
                parts.append(spec[field_])
            parts.append(d)
            policy_cols.append(F.coalesce(*parts).alias(c))
        tiers = tuple(self.cfg.tier_weights)
        tier_parts = (
            [F.when(_nz(F.col("tier")).isin(*tiers), F.col("tier"))]
            if "tier" in have
            else []
        ) + ([F.lit(tier_default)] if tier_default is not None else [])
        tier_parts = tier_parts or [F.lit(None).cast("string")]
        # the RAW tier survives alongside the validated one: malformed rows
        # deadletter with the value the caller sent — the simulator twin
        # records `s.get('tier') or ''` (seed) / `s.get('tier') or tier`
        # (queue_requests), i.e. js-falsy fallback to the batch default but
        # NO domain validation — while the enqueue branch uses the
        # validated/defaulted tier. Domain validation must not rewrite
        # forensics (ADVICE r5: validating before the malformed split made
        # the deadletter row disagree with the simulator).
        raw_fallback = F.lit(tier_default if tier_default is not None else "")
        raw_tier = (
            F.coalesce(_nz(F.col("tier")), raw_fallback)
            if "tier" in have
            else raw_fallback
        )
        return seeds.select(
            "url",
            "type",
            F.coalesce(*tier_parts).alias("tier"),
            raw_tier.alias("_tier_raw"),
            *policy_cols,
        )

    def seed(self, seeds: DataFrame) -> None:
        """Round 0: malformed-check (F3 → deadletter, lib/crawler.js:563-576),
        robots-check, assign enqueue_seq, commit. Missing policy columns get
        the reference's default policy (originStorage:match@/)."""
        rows = self._resolve_request_rows(seeds)
        malformed = rows.filter(_malformed_cond())
        # falsy seed tier defaults to 'normal' HERE, not in the resolve —
        # malformed deadletter rows keep the raw value (the twin records
        # s.get('tier') or '' there), while a None-tier seed row must never
        # enqueue with a NULL tier no rotation weight would ever select
        base = rows.filter(~_malformed_cond()).select(
            "url",
            "type",
            F.coalesce(F.col("tier"), F.lit("normal")).alias("tier"),
            extract_host("url").alias("host"),
            F.lit(0).alias("attempt"),
            "policy_fetch",
            "policy_freshness",
            "map_path",
            "map_name",
        )
        allowed, denied = self._robots_allowed(base)
        # a seed list repeating a url keeps ONE row (tracked-push tag
        # semantics; also what makes the rank-by-url below deterministic)
        allowed = _dedupe_batch_urls(allowed)
        # enqueue_seq = rank by url — via the range-partitioned distributed
        # rank, NOT a global Window.orderBy (a 10^10-URL seed list would sort
        # in one task)
        persisted: list = []
        frontier = scalable_rank_by_key(
            allowed, ["url"], "enqueue_seq", persisted=persisted
        ).select(
            "url",
            "type",
            "tier",
            "host",
            "enqueue_seq",
            F.col("attempt").cast("int"),
            "policy_fetch",
            "policy_freshness",
            "map_path",
            F.array().cast("array<string>").alias("history"),
            F.lit(None).cast("string").alias("payload_id"),
            # root rows anchor the URN chain at the host entity
            # (lib/request.js:106-117)
            root_urn(F.lit("host"), F.col("host")).alias("qualifier"),
            "map_name",
        )
        n_seeded = frontier.count()
        # v0 holds the BASE tables of the merge-on-read model; rounds write
        # only adds/removes deltas until a compaction moves the base pointer
        self.store.write_tables(
            0,
            {
                "frontier": frontier,
                "host_state": self._empty(HOST_STATE_SCHEMA),
                "stored": self._empty(STORED_SCHEMA),
                "deadletter": malformed.select(
                    F.coalesce(F.col("url"), F.lit("")).alias("url"),
                    F.coalesce(F.col("type"), F.lit("")).alias("type"),
                    F.col("_tier_raw").alias("tier"),
                    F.lit(0).alias("round"),
                    F.lit(0).cast("int").alias("attempt"),
                    F.lit("malformed").alias("reason"),
                ),
            },
        )
        # history tables: append-only deltas (Iceberg append-snapshot model)
        _run_writes(
            [
                lambda: self.store.write_append(0, "seen", self._empty(SEEN_SCHEMA)),
                lambda: self.store.write_append(
                    0, "order_log", self._empty(ORDER_LOG_SCHEMA)
                ),
                lambda: self.store.write_append(0, "docs", self._empty(DOCS_SCHEMA)),
                lambda: self.store.write_append(
                    0, "lineage", self._empty(LINEAGE_SCHEMA)
                ),
                lambda: self.store.write_append(
                    0, "excluded", denied.select("url", F.lit(0).alias("round"))
                ),
                lambda: self.store.write_append(
                    0, "metrics", self._empty(METRICS_SCHEMA)
                ),
            ]
        )
        bloom = seen_set.empty(
            self.spark, self.cfg.seen_filter, n_seeded,
            self.cfg.bloom_shards, self.cfg.bloom_fpr,
        )
        self._write_bloom(0, bloom)
        seed_extras = {
            "next_seq": n_seeded,
            "total_popped": 0,
            "round": 0,
            "frontier_size": n_seeded,
            "bases": {
                "frontier": 0, "seen": None, "deadletter": 0,
                "stored": 0, "host_state": 0,
            },
            "bloom": bloom.manifest(0),
            "ingested": {},
            "docs_total": 0,
        }
        if self._preseed_cfg_patches:
            seed_extras["config_patches"] = list(self._preseed_cfg_patches)
        self.store.commit(0, seed_extras)
        self._bloom, self._bloom_version = bloom, 0
        for f in persisted:
            f.unpersist()

    # -- one round -------------------------------------------------------------

    def run_round(self) -> bool:
        if self.cfg.shuffle_partitions is None:
            return self._run_round_inner()
        prev_sp = self.spark.conf.get("spark.sql.shuffle.partitions")
        self.spark.conf.set(
            "spark.sql.shuffle.partitions", str(self.cfg.shuffle_partitions)
        )
        try:
            return self._run_round_inner()
        finally:
            self.spark.conf.set("spark.sql.shuffle.partitions", prev_sp)

    def _run_round_inner(self) -> bool:
        cfg = self.cfg
        manifest = self.store.read_manifest()
        version = manifest["current"]
        rnd = manifest["round"] + 1
        next_seq = manifest["next_seq"]
        total_popped = manifest["total_popped"]

        # frontier emptiness is a manifest scalar — no probe job; a pending
        # event batch still wakes an empty frontier (webhook → events tier)
        pending_files = self._pending_event_files(manifest)
        if manifest.get("frontier_size", 1) == 0 and not pending_files:
            return False
        persisted: list = []  # frames to unpersist once the round commits
        tr = _Tracer(f"round {rnd}", self.spark)
        bases = self._bases(manifest)
        frontier0 = self._read_frontier(version, bases)
        # 0. event ingest: absorb staged webhook batches into the events tier
        # (weight 10) before selection — ROUND SPEC v2 step 0 (v5: deletion
        # directives split out as tombstone rows)
        ingested, n_ingested, ev_dead, ev_excl, tomb_new, n_tomb = (
            self._absorb_events(
                rnd, next_seq, pending_files, frontier0, persisted, version
            )
        )
        if ingested is not None:
            frontier0 = frontier0.unionByName(ingested)
            next_seq += n_ingested
        # persist the merged frontier view: half a dozen downstream frames
        # (hosts, dead, eligible, remaining, ...) scan it, and the merge-on-
        # read union+anti-join is no longer a free parquet re-read
        frontier = frontier0.persist()
        persisted.append(frontier)
        seen = self._read_seen(version, bases)
        # persist: read twice (refill join + changed-host delta detection)
        host_state = self._read_host_state(version, bases).persist()
        persisted.append(host_state)

        # politeness cost column (computeLimiter.js:27-77; unit costs
        # degenerate to rank<=level) — defined early so the step-1
        # aggregation can also total it per host
        if cfg.compute_costs:
            pairs = [x for t, c in cfg.compute_costs.items() for x in (F.lit(t), F.lit(int(c)))]
            cost_col = F.coalesce(
                F.element_at(F.create_map(*pairs), F.col("type")), F.lit(1)
            )
        else:
            cost_col = F.lit(1)

        # 1. refill token buckets for all known + current hosts
        #    (first-seen hosts start at capacity). ONE full-frontier
        #    aggregation serves the distinct-host list here, the hot-host
        #    detection AND the politeness short-circuit in step 3 —
        #    host_counts is tiny (one row per host) and cached.
        host_counts = (
            frontier.groupBy("host")
            .agg(
                F.count(F.lit(1)).alias("count"),
                F.sum(cost_col.cast("long")).alias("_tot_cost"),
                F.sum(
                    (F.col("attempt") > cfg.max_attempts).cast("long")
                ).alias("_n_dead"),
            )
            .persist()
        )
        persisted.append(host_counts)
        hosts = host_counts.select("host")
        levels = hosts.join(host_state, "host", "full_outer").select(
            "host",
            F.least(
                F.lit(cfg.bucket_capacity),
                F.coalesce(
                    F.col("level"), F.lit(cfg.bucket_capacity - cfg.bucket_fill)
                )
                + cfg.bucket_fill,
            ).alias("level"),
            # benched hosts keep refilling; they just can't spend (J6)
            F.coalesce(F.col("bench_until"), F.lit(0)).alias("bench_until"),
        )

        # 2. deadletter split
        dead = frontier.filter(F.col("attempt") > cfg.max_attempts)
        eligible = frontier.filter(F.col("attempt") <= cfg.max_attempts)

        # 3. politeness: benched hosts withheld (tokenFactory.js:41-93);
        # per-host budget = bucket level consumed by COMPUTE COST.
        # SHORT-CIRCUIT (aggregate pushdown): a host whose TOTAL frontier
        # cost fits its refilled level takes its whole prefix anyway — those
        # rows bypass the cumulative window entirely (exact: the window
        # would keep every row). Only over-budget hosts' rows are ranked,
        # so at steady state the full-frontier shuffle+window degenerates
        # to a join against a tiny per-host flag. Totals come from the
        # step-1 aggregation and OVERCOUNT (dead rows included) — an
        # over-estimate can only route a host onto the exact window path,
        # never skip a cut.
        # SLIM SELECTION (r2 audit soft spot): politeness / trait caps /
        # rotation only need fixed-width keys — carrying the WIDE frontier
        # rows (history arrays, policy strings, qualifier) through their
        # exchanges shuffles the whole payload for nothing. Select over the
        # 5 columns the stages read; the winners re-join their full rows
        # AFTER selection via a broadcast of the (enqueue_seq, pop_seq)
        # keys (bounded by round_capacity), so no wide row ever exchanges.
        sel_input = eligible.select("enqueue_seq", "url", "type", "tier", "host")
        if self._url_rank is not None:
            # v5 rank_priority: per-host politeness order becomes
            # (rank DESC, enqueue_seq) — graph-important urls win the budget
            sel_input = sel_input.join(self._url_rank, "url", "left").withColumn(
                "_prio", F.coalesce(F.col("_prio"), F.lit(0))
            )
            polite_order = [F.col("_prio").desc(), F.col("enqueue_seq")]
        else:
            polite_order = [F.col("enqueue_seq")]
        budgeted = (
            sel_input.join(levels, "host")
            .filter(F.col("bench_until") < rnd)
            .withColumn("_cost", cost_col.cast("long"))
        )
        # ONE fused stats job over the tiny per-host frame yields the
        # politeness short-circuit (n_over), the deadletter count (n_dead,
        # previously its own agg) and the Deferred count (eligible rows of
        # benched hosts, crawler.js:512-515) — three scalars, one collect.
        host_stats = levels.join(
            host_counts.select("host", "count", "_tot_cost", "_n_dead"),
            "host",
            "left",
        ).persist()
        persisted.append(host_stats)
        srow = host_stats.agg(
            F.sum(
                (
                    F.coalesce(F.col("_tot_cost"), F.lit(0)) > F.col("level")
                ).cast("long")
            ).alias("n_over"),
            F.sum("_n_dead").alias("n_dead"),
            F.sum(
                F.when(
                    F.col("bench_until") >= rnd,
                    F.coalesce(F.col("count"), F.lit(0))
                    - F.coalesce(F.col("_n_dead"), F.lit(0)),
                ).otherwise(F.lit(0))
            ).alias("n_deferred"),
        ).first()
        n_over = int(srow["n_over"] or 0)
        n_dead = int(srow["n_dead"] or 0)
        n_deferred = int(srow["n_deferred"] or 0)
        over_hosts = host_stats.filter(
            F.coalesce(F.col("_tot_cost"), F.lit(0)) > F.col("level")
        ).select("host")
        tr.mark("politeness (fused host stats)")
        if n_over == 0:
            under_rows = budgeted.drop("level", "bench_until")
            budgeted = budgeted.limit(0)
        else:
            under_rows = budgeted.join(over_hosts, "host", "left_anti").drop(
                "level", "bench_until"
            )
            budgeted = budgeted.join(over_hosts, "host", "left_semi")
        if cfg.politeness_salt:
            # ADAPTIVE SALTED two-phase top-k (kills hot-host window skew):
            # detect hosts past the hot threshold with one partial-agg count,
            # then pre-cut ONLY their rows per (host, salt) to the top
            # bucket_capacity by enqueue_seq. Exact: the true budget prefix
            # (<= bucket_capacity rows, costs >= 1) is among the host's
            # capacity smallest enqueue_seqs, hence inside every salt
            # bucket's top-capacity. The cumulative window below then sorts
            # <= capacity x politeness_salt rows for hot hosts and cold
            # hosts pay nothing beyond the count.
            hot_threshold = (
                cfg.politeness_hot_threshold
                if cfg.politeness_hot_threshold is not None
                else cfg.bucket_capacity * 64
            )
            # reuse the step-1 per-host counts (one cached scan) — counting
            # `budgeted` would re-run the whole merge-on-read + bucket-join
            # pipeline a second time
            hot = host_counts.filter(F.col("count") > hot_threshold).select(
                F.col("host").alias("_hot_host")
            )
            marked = budgeted.join(
                F.broadcast(hot), budgeted.host == F.col("_hot_host"), "left"
            )
            cold = marked.filter(F.col("_hot_host").isNull()).drop("_hot_host")
            w_pre = Window.partitionBy("host", "_salt").orderBy(*polite_order)
            pruned_hot = (
                marked.filter(F.col("_hot_host").isNotNull())
                .drop("_hot_host")
                .withColumn(
                    "_salt",
                    F.pmod(
                        F.xxhash64(F.col("host"), F.col("url")),
                        F.lit(cfg.politeness_salt),
                    ),
                )
                .withColumn("_pre", F.row_number().over(w_pre))
                .filter(F.col("_pre") <= cfg.bucket_capacity)
                .drop("_salt", "_pre")
            )
            budgeted = cold.unionByName(pruned_hot)
        w_cum = (
            Window.partitionBy("host")
            .orderBy(*polite_order)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        polite = (
            budgeted.withColumn("_cum", F.sum("_cost").over(w_cum))
            .filter(F.col("_cum") <= F.col("level"))
            .drop("_cum", "level", "bench_until")
            .unionByName(under_rows)
        )
        if self._url_rank is not None:
            polite = polite.drop("_prio")  # priority only shapes the cut
        # 3b. token trait caps (tokenFactory.js:41-74) — frontier_ops.trait_cap:
        # unbudgeted traits skip the window entirely; budgeted traits get the
        # salted two-phase top-k (no one-task sort of the full polite set)
        if cfg.trait_budgets:
            polite = trait_cap(
                polite,
                cfg.trait_budgets,
                cfg.type_traits,
                salt=cfg.politeness_salt,
            )

        # 4. weighted rotation + round capacity (closed-form interleave —
        # no global window; see frontier_ops.weighted_rotation_order_scalable)
        # bounds come from the manifest (enqueue_seq ∈ [1, next_seq]) — saves
        # the rank's min/max pass over the politeness output
        ordered = weighted_rotation_order_scalable(
            polite,
            "tier",
            "enqueue_seq",
            cfg.tier_weights,
            bounds=(1, max(1, next_seq)),
            persisted=persisted,
        )
        selected_keys = ordered.filter(
            F.col("pop_seq") <= cfg.round_capacity
        ).select("enqueue_seq", "pop_seq")
        # winners → full rows: broadcast the key set while it fits (it is
        # ≤ round_capacity fixed-width pairs), else a plain equi-join — the
        # same size-adaptive call Catalyst makes
        if cfg.round_capacity <= 2_000_000:
            selected_keys = F.broadcast(selected_keys)
        # _cost re-derived on the full rows (same pure type→cost expression
        # the politeness budget used; the slim path dropped its copy)
        selected = frontier.join(selected_keys, "enqueue_seq").withColumn(
            "_cost", cost_col.cast("long")
        )
        tr.mark("rotation (bucket counts)")

        # 5. fetch: corpus + doc-store joins, then the ROUND SPEC v2
        # decision table (fetch_source → failure injection on origin contact
        # only → should_process; traversalPolicy.js:170-223)
        corpus_keys = self.corpus.select(
            F.col("url").alias("c_url"), F.col("image_id")
        )
        fetched = selected.join(
            corpus_keys, selected.url == corpus_keys.c_url, "left"
        ).drop("c_url")
        # the doc-store lookup only matters once something IS stored — the
        # manifest's docs_total counter lets an all-new crawl skip the
        # per-round docs scan + join entirely. The lookup is the compacted
        # MOR view (_read_stored): base ∪ deltas-past-base, never a replay
        # of the whole docs history.
        docs_total = manifest.get("docs_total", 1)
        stored_lookup = None
        if docs_total > 0:
            stored_lookup = self._read_stored(version, bases)
            fetched = fetched.join(
                stored_lookup.select(
                    F.col("url").alias("s_url"),
                    F.col("round").alias("stored_round"),
                    F.col("version").alias("stored_version"),
                ),
                F.col("url") == F.col("s_url"),
                "left",
            ).drop("s_url")
        else:
            fetched = fetched.withColumn(
                "stored_round", F.lit(None).cast("int")
            ).withColumn("stored_version", F.lit(None).cast("int"))
        # v5 tombstone lookup (lib/crawler.js:375): latest deletion round per
        # url — gated on the manifest counter so a crawl that never saw a
        # deletion pays nothing; the table is deletion-rate-sized (rare), so
        # the per-round read is trivially bounded
        tomb_total_prev = manifest.get("tombstones_total", 0)
        tomb_lookup = None
        if cfg.tombstones and (tomb_total_prev > 0 or tomb_new is not None):
            # merge-on-read like every other state table: compacted base
            # (bases['tombstones'], written on compaction rounds below) ∪
            # deltas past it — the per-round fan-in is bounded by the
            # compaction horizon, not crawl length
            tomb_base = bases.get("tombstones")
            if tomb_base is None:
                try:
                    prev_t = self.store.read_appends(
                        self.spark, "tombstones", version
                    )
                except FileNotFoundError:
                    prev_t = self._empty(TOMBSTONE_SCHEMA)
            else:
                prev_t = self.store.read(self.spark, "tombstones", tomb_base)
                try:
                    prev_t = prev_t.unionByName(
                        self.store.read_appends(
                            self.spark, "tombstones", version,
                            from_version=tomb_base + 1,
                        )
                    )
                except FileNotFoundError:
                    pass
            all_t = (
                prev_t if tomb_new is None else prev_t.unionByName(tomb_new)
            )
            tomb_lookup = all_t.groupBy("url").agg(
                F.max("round").alias("tomb_round")
            )
            fetched = fetched.join(
                tomb_lookup.select(
                    F.col("url").alias("t_url"), "tomb_round"
                ),
                F.col("url") == F.col("t_url"),
                "left",
            ).drop("t_url")
        else:
            fetched = fetched.withColumn(
                "tomb_round", F.lit(None).cast("int")
            )
        url_h = stable_long_hash(F.col("url"))
        stored = F.col("stored_round").isNotNull()
        fsrc = fetch_source(F.col("policy_fetch"), F.col("type"), stored)
        throttle = (
            F.lit(cfg.inject_failures)
            & (url_h % 11 == 3)
            & (F.col("attempt") < 2)
        )
        perm = F.lit(cfg.inject_failures) & (url_h % 23 == 5)
        fails = (
            (throttle | perm)
            & fsrc.isin("origin", "etag")
            & F.col("payload_id").isNull()
        )
        process = F.when(~stored, F.lit(True)).otherwise(
            should_process(
                F.col("policy_freshness"),
                fsrc == "origin",
                F.col("stored_version"),
                cfg.processor_version,
                F.lit(rnd) - F.col("stored_round"),
            )
        )
        # outcome taxonomy (crawler.js:509-519): transient throttle-class
        # failures log 'Throttled' (markRequeue('Throttled'),
        # githubFetcher.js:176-192), permanent-fail retries 'Requeued' —
        # both re-enqueue identically (the requeue-class set below).
        # v5: a DELETED url (tombstone at least as new as the stored doc)
        # short-circuits — non-origin sources to 'Deleted' (crawler.js:375),
        # origin contacts to 'Missing' (gone at origin); both complete with
        # no doc and no traversal (crawler.js:433-434; only a later payload
        # event resurrects the url); under bailed_retry a
        # permanent failure past its single elevated retry logs 'Bailed'
        # (githubFetcher.js:67-72 markDead) and deadletters below.
        deleted_now = F.col("tomb_round").isNotNull() & (
            F.col("stored_round").isNull()
            | (F.col("stored_round") <= F.col("tomb_round"))
        )
        bailed = F.lit(cfg.bailed_retry) & (F.col("attempt") >= 1)
        fetched = fetched.withColumn(
            "outcome",
            F.when(F.col("payload_id").isNotNull(), "Processed")
            .when(deleted_now & (fsrc != "origin"), "Deleted")
            .when(deleted_now, "Missing")  # gone at origin; no traversal
            .when(fails & throttle, "Throttled")
            .when(fails & bailed, "Bailed")
            .when(fails, "Requeued")
            .when(fsrc == "skip", "Skipped")
            .when(F.col("type") != "image", "Traversed")
            .when((fsrc == "origin") & F.col("image_id").isNull(), "Missing")
            .when(process, "Processed")
            .otherwise("Unchanged"),
        )
        REQUEUE_CLASS = ("Requeued", "Throttled")
        baseline_prev = manifest.get("cost_baseline")
        if cfg.measured_costs:
            # deterministic observed elapsed (simulator.synthetic_elapsed
            # twin): fixed overhead + static-cost-proportional work + jitter
            fetched = fetched.withColumn(
                "_elapsed",
                (
                    F.lit(20)
                    + F.col("_cost") * 10
                    + F.pmod(stable_long_hash(F.col("url")), F.lit(7))
                ).cast("long"),
            )
        # LOCAL CHECKPOINT, not persist: a dozen downstream frames (log,
        # seen, children, requeues, spend, lineage, writes) each embed this
        # frame's plan; with plain persist the LOGICAL tree (frontier MOR
        # union + politeness + rotation + stored lookup) is re-embedded in
        # every one of them and the per-round plan grows multiplicatively —
        # measured to OOM the driver building plan strings. The checkpoint
        # truncates lineage to a leaf; blocks are freed after commit.
        # (eager=False is not lazy under AQE: building the checkpoint's RDD
        # runs every upstream shuffle and broadcast stage right here, as its
        # own SQL execution — 4 jobs in round 1 of the small-round crawl
        # benchmark. Only the last stage, which fills the checkpoint blocks,
        # waits for the histogram job right below.)
        fetched = fetched.localCheckpoint(eager=False)
        # ONE job yields the whole outcome histogram (selected/requeued/
        # processed/...) — and, in measured mode, the round's min elapsed
        # for the baseline refresh rides the same aggregation
        round_min = None
        if cfg.measured_costs:
            rows = (
                fetched.groupBy("outcome")
                .agg(F.count(F.lit(1)).alias("count"), F.min("_elapsed").alias("mn"))
                .collect()
            )
            hist = {r["outcome"]: r["count"] for r in rows}
            mins = [r["mn"] for r in rows if r["mn"] is not None]
            round_min = min(mins) if mins else None
        else:
            hist = {
                r["outcome"]: r["count"]
                for r in fetched.groupBy("outcome").count().collect()
            }
        tr.mark("select+fetch (hist)")
        n_selected = sum(hist.values())
        n_requeued = hist.get("Requeued", 0) + hist.get("Throttled", 0)

        # order log (seq = global running pop counter)
        log_rows = fetched.select(
            (F.lit(total_popped) + F.col("pop_seq")).alias("seq"),
            F.lit(rnd).alias("round"),
            F.col("pop_seq"),
            "url",
            "type",
            "tier",
            "host",
            "outcome",
        )

        # 6. seen += non-requeued pops
        newly_seen = fetched.filter(~F.col("outcome").isin(*REQUEUE_CLASS)).select(
            "url", stable_long_hash(F.col("url")).alias("url_hash")
        )
        seen_next = seen.unionByName(newly_seen)

        # docs (+ optional decode/PSNR validation — the J8 audit). The doc
        # id comes from the corpus, a carried payload, or the prior store
        doc_id = F.coalesce(
            F.col("payload_id"),
            F.col("image_id"),
            F.concat(F.lit("stored:"), F.col("url")),
        )
        # typed `_metadata.links` envelope on every stored doc
        # (lib/request.js:119-140): self/siblings plus the row's map-cut
        # edges with resource/collection/relation types; relation hrefs
        # carry the deterministic page-set guid (githubProcessor.js:1005-1020)
        doc_urn = child_urn(
            F.col("qualifier"), F.col("type"), stable_long_hash(F.col("url"))
        )
        links_col = doc_links_col(
            doc_urn,
            F.col("qualifier"),
            F.col("type"),
            F.col("map_name"),
            cfg.scenario_maps
            or ({"default": cfg.visitor_map} if cfg.visitor_map else None),
        )
        processed = fetched.filter(F.col("outcome") == "Processed")
        if cfg.validate_images:
            cval = self.corpus.select(
                F.col("url").alias("c_url"),
                "bytes",
                "fmt",
                "ref_bytes",
                "caption",
            )
            docs_new = (
                processed.join(cval, processed.url == cval.c_url, "left")
                .withColumn(
                    "psnr_db",
                    F.when(
                        F.col("bytes").isNotNull(),
                        psnr_vs_reference_udf(
                            F.col("bytes"), F.col("fmt"), F.col("ref_bytes"), F.lit("png")
                        ),
                    ),
                )
                .withColumn("valid", F.col("psnr_db") >= 40.0)
                .select(
                    doc_id.alias("image_id"),
                    "url",
                    F.lit(rnd).alias("round"),
                    F.lit(cfg.processor_version).alias("version"),
                    "psnr_db",
                    "valid",
                    doc_urn.alias("urn"),
                    F.col("qualifier").alias("parent_urn"),
                    links_col.alias("links"),
                )
            )
        else:
            docs_new = processed.select(
                doc_id.alias("image_id"),
                "url",
                F.lit(rnd).alias("round"),
                F.lit(cfg.processor_version).alias("version"),
                F.lit(None).cast("double").alias("psnr_db"),
                F.lit(None).cast("boolean").alias("valid"),
                doc_urn.alias("urn"),
                F.col("qualifier").alias("parent_urn"),
                links_col.alias("links"),
            )

        # 7. children of Traversed pages (all selected-derived frames read
        # the persisted `fetched` — `selected` itself is never re-executed)
        remaining = eligible.join(fetched.select("url"), "url", "left_anti")
        parents = fetched.filter(F.col("outcome") == "Traversed").select(
            F.col("url").alias("src_url"),
            F.col("pop_seq").alias("parent_pop"),
            F.col("type").alias("parent_type"),
            F.col("policy_fetch").alias("p_fetch"),
            F.col("policy_freshness").alias("p_fresh"),
            F.col("map_path").alias("p_map"),
            # the child's history-to-be: ancestors + this parent's key
            F.concat(
                F.col("history"),
                F.array(F.concat(F.col("type"), F.lit("@"), F.col("url"))),
            ).alias("p_history"),
            # the child's qualifier-to-be: this parent's own URN
            # (createQualifiedUrn, lib/request.js:113-117; id = stable url
            # hash, the graft's colon-free entity id)
            child_urn(
                F.col("qualifier"), F.col("type"), stable_long_hash(F.col("url"))
            ).alias("p_urn"),
            F.col("map_name").alias("p_map_name"),
            # pages inherit the parent's OWN context qualifier (a page is an
            # implementation detail, not a traversal step)
            F.col("qualifier").alias("p_qualifier"),
        )
        raw_children = parents.join(self.links, "src_url").select(
            "parent_pop",
            "parent_type",
            F.col("edge"),
            F.col("dst_url").alias("url"),
            F.col("dst_type").alias("type"),
            "p_fetch",
            "p_fresh",
            "p_map",
            "p_history",
            "p_urn",
            "p_map_name",
            "p_qualifier",
            F.lit(False).alias("_is_page"),
        )
        # per-traversal hasSeen (U2, lib/request.js:66-74,146-150): an edge
        # whose target key already appears on this path is INVISIBLE — this,
        # not the global seen set, is what bounds cyclic revisit policies
        raw_children = raw_children.filter(
            ~F.expr("array_contains(p_history, concat(type, '@', url))")
        )
        if cfg.scenario_maps is not None or cfg.visitor_map is not None:
            # only traverse edges the row's NAMED map cut declares for the
            # parent type (visitorMap.js:140-390; named scenario cuts
            # :366-390 — unlisted edges are not queued, unknown scenarios
            # traverse nothing)
            maps = cfg.scenario_maps or {"default": cfg.visitor_map}
            vm = scenario_maps_df(self.spark, maps).select(
                F.col("map_name").alias("p_map_name"), "parent_type", "edge"
            )
            raw_children = raw_children.join(
                F.broadcast(vm),
                ["p_map_name", "parent_type", "edge"],
                "left_semi",
            )
        if cfg.paginate_types:
            # pagination fan-out (githubProcessor.js:58-79): a collection
            # type's pages 2..last join the SAME child funnel (attenuation,
            # in-flight/seen dedup, robots, enqueue ordering) as edge
            # children, as pseudo-edge '_pages' on the 'soon' tier. The
            # last-page count is the deterministic link-header twin
            # (simulator.synthetic_last_page); posexplode-of-sequence is the
            # scale shape — one output row per page, no driver loop.
            last_col = (
                F.lit(1)
                + F.pmod(
                    stable_long_hash(
                        F.concat(F.lit("pages:"), F.col("src_url"))
                    ),
                    F.lit(4),
                )
            ).cast("int")
            page_rows = (
                parents.filter(
                    F.col("parent_type").isin(list(cfg.paginate_types))
                    # a page never re-paginates — it IS one of the fan-out
                    # targets (the reference's page() handler, not
                    # collection(); url carries the page marker)
                    & ~F.col("src_url").contains("per_page=")
                )
                .withColumn("_last", last_col)
                .filter(F.col("_last") >= 2)
                .select(
                    "parent_pop",
                    "parent_type",
                    F.lit("_pages").alias("edge"),
                    F.explode(
                        F.sequence(F.lit(2), F.col("_last"))
                    ).alias("_page"),
                    F.col("src_url"),
                    "p_fetch",
                    "p_fresh",
                    "p_map",
                    "p_history",
                    "p_urn",
                    "p_map_name",
                    "p_qualifier",
                )
                .select(
                    "parent_pop",
                    "parent_type",
                    "edge",
                    F.concat(
                        F.col("src_url"),
                        F.when(F.col("src_url").contains("?"), "&").otherwise("?"),
                        F.lit("page="),
                        F.col("_page").cast("string"),
                        F.lit("&per_page=100"),
                    ).alias("url"),
                    F.col("parent_type").alias("type"),
                    "p_fetch",
                    "p_fresh",
                    "p_map",
                    "p_history",
                    "p_urn",
                    "p_map_name",
                    "p_qualifier",
                    F.lit(True).alias("_is_page"),
                )
                # same per-traversal hasSeen guard as edge children (U2)
                .filter(
                    ~F.expr("array_contains(p_history, concat(type, '@', url))")
                )
            )
            raw_children = raw_children.unionByName(page_rows)
        raw_children = raw_children.drop("parent_type")
        # attenuate: first discovery wins per dst (J4). The keeper row also
        # carries how many visible candidate edges it collapsed (_ndup —
        # same window partitioning, no extra exchange): metrics report the
        # attenuation drops per round (attenuatedQueue.js:24-52 telemetry)
        w_att = Window.partitionBy("url").orderBy("parent_pop", "edge", "url")
        w_url = Window.partitionBy("url")
        uniq = (
            raw_children.withColumn("_rn", F.row_number().over(w_att))
            .withColumn("_ndup", F.count(F.lit(1)).over(w_url))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        # dedup vs seen (Bloom + exact confirm) and vs in-flight frontier.
        # persist + count the attenuated candidate batch ONCE: the count job
        # fills the cache (links join + attenuation window run exactly once)
        # and its scalar gates BOTH broadcast-confirm paths below — the
        # candidate batch is bounded per round, the seen set and the frontier
        # are NOT (O(total crawled) / O(10^10) at target scale), so neither
        # may ever be shuffled for these dedups.
        uniq = uniq.withColumn(
            "url_hash", stable_long_hash(F.col("url"))
        ).persist()
        persisted.append(uniq)
        n_cand = uniq.count()
        cand_broadcastable = n_cand <= cfg.dedup_broadcast_max
        # INCREMENTAL: Bloom union is bitwise OR — fold only this round's
        # newly-seen keys into last round's persisted shard blobs instead
        # of rescanning the whole seen set (O(batch), not O(total)).
        # Filter contents only affect probe selectivity, never output
        # (exact anti-join confirms), so a replay that merges onto a
        # slightly different filter still commits identical state.
        bloom_prev = self._load_bloom(version, manifest, seen)
        bloom = bloom_prev.merged(newly_seen.select("url_hash"))
        tr.mark("bloom merge")
        # newly-seen rows this round = selected − requeued, already counted
        # by the outcome histogram
        bloom_total = bloom.live_total(
            (manifest.get("bloom") or {}).get("total_keys", 0),
            max(0, n_selected - n_requeued),
        )
        if bloom_total > bloom.HEADROOM * bloom.capacity_per_shard * max(
            1, bloom.num_shards
        ):
            # amortized resize: full rebuild at 4x TOTAL capacity (happens
            # O(log n) times over a crawl, never per round). seen_set.build
            # grows the shard count so one shard's blob stays ≤
            # SHARD_MAX_BYTES and re-resolves the probe shape for the NEW
            # sizing (a growing crawl flips broadcast → shard-local here).
            # The new shard count lands in the manifest below, so
            # resume/replay re-derives pmod(key, num_shards)
            # deterministically. DISTINCT keys: the seen log re-appends
            # always-recrawled urls; deduping trims the build and makes the
            # total_keys reset below exact.
            total_expected = max(
                64, 4 * bloom.capacity_per_shard * max(1, bloom.num_shards)
            )
            min_shards = max(cfg.bloom_shards, bloom.num_shards)
            bloom.destroy()
            bloom = seen_set.build(
                bloom.KIND, seen_next.select("url_hash").distinct(),
                total_expected, min_shards, cfg.bloom_fpr,
            )
            # reset the running insert counter from the rebuilt filters
            # (== distinct seen keys): the pre-reset sum counts re-crawls,
            # so carrying it forward would re-trigger full rebuilds every
            # few rounds on recrawl-heavy (freshness 'always') crawls
            bloom_total = bloom.total_keys()
            tr.mark("seen-set resize rebuild")
        # revisit rule (ROUND SPEC v2 step 7): freshness 'always' children
        # bypass the seen-set dedup (the page may have changed; history above
        # already bounds cycles) — everything else defers to the dedup cache
        always_kids = uniq.filter(F.col("p_fresh") == "always").drop("url_hash")
        match_kids = uniq.filter(F.col("p_fresh") != "always")
        unseen_children = filter_unseen(
            match_kids, seen_next.select("url_hash"), bloom, key_col="url_hash",
            persisted=persisted, confirm_broadcast=cand_broadcastable,
        ).drop("url_hash").unionByName(always_kids)
        # in-flight dedup (J5): a child already sitting in the frontier (or
        # re-enqueued this round) must not enqueue twice. The frontier is
        # unbounded, so the exact url check must never exchange it:
        # prefilter the in-flight urls MAP-SIDE against the broadcast
        # candidate hash set (a collision only inflates the hit set), then
        # LEFT-join the candidates against the tiny broadcast hit set by
        # exact url equality — hits are MARKED (_bounced), not dropped, so
        # the per-round `bounced` metric (redisRequestTracker.js:27 tracker-
        # bounce telemetry) rides the same enqueue counts job as everything
        # else (zero extra actions). Fallback for an over-sized candidate
        # batch is the plain shuffle left join.
        inflight_urls = remaining.select("url").unionByName(
            fetched.filter(F.col("outcome").isin(*REQUEUE_CLASS)).select("url")
        )
        if cand_broadcastable:
            inflight_hits = (
                inflight_urls.join(
                    F.broadcast(uniq.select("url_hash")),
                    stable_long_hash(F.col("url")) == F.col("url_hash"),
                    "left_semi",
                )
                .distinct()
                .withColumn("_bounced", F.lit(True))
            )
            marked = unseen_children.join(
                F.broadcast(inflight_hits), "url", "left"
            )
        else:
            marked = unseen_children.join(
                inflight_urls.distinct().withColumn("_bounced", F.lit(True)),
                "url",
                "left",
            )
        # localCheckpoint: both the allowed (frontier) and denied (excluded)
        # branches read this frame, and its plan (links join + Bloom probe +
        # anti-joins) would otherwise be re-embedded in the enqueue/write
        # trees — truncate it like `fetched` above
        # (as there, the call itself runs the upstream shuffle and broadcast
        # stages — 17 jobs in round 1 of the small-round crawl benchmark.
        # The last stage is not run serially either: the enqueue counts
        # collect below reads `fresh` from several concurrent AQE jobs, 6
        # in that round, and whichever reaches a partition first fills it.)
        fresh = (
            marked.withColumn(
                "_bounced", F.coalesce(F.col("_bounced"), F.lit(False))
            )
            .withColumn("host", extract_host(F.col("url")))
            .localCheckpoint(eager=False)
        )
        fresh_allowed, fresh_denied = self._robots_allowed(
            fresh.filter(~F.col("_bounced"))
        )
        bounce_src = fresh.filter(F.col("_bounced"))

        # 7b+8. one window assigns enqueue_seq to children AND tail requeues:
        # children first (_grp=0, by parent pop then url), then requeues
        # (_grp=1, by pop order). The per-round enqueue batch is bounded by
        # round_capacity × fan-out, so the single-partition sort is safe.
        # Bounced candidates ride the same union as _grp=2 PURELY so their
        # count lands in the one enqueue-totals collect — they are filtered
        # out before any state write and never consume enqueue_seq numbers
        # (per-group offsets are independent; next_seq advances by groups
        # 0+1 only).
        def _candidate_rows(src: DataFrame, grp: int) -> DataFrame:
            return src.select(
                "url",
                "type",
                F.when(
                    F.col("_is_page") | (F.col("edge") == "images"), "soon"
                ).otherwise("normal").alias("tier"),
                "host",
                F.lit(0).cast("int").alias("attempt"),
                F.lit(grp).alias("_grp"),
                F.col("parent_pop").cast("long").alias("_ord"),
                # children inherit the winning parent's policy; the map path
                # descends one step (traversalPolicy.js:154-160) — EXCEPT
                # page rows, which keep the parent's own path + qualifier
                # (the page is the same logical resource)
                F.col("p_fetch").alias("policy_fetch"),
                F.col("p_fresh").alias("policy_freshness"),
                F.when(F.col("_is_page"), F.col("p_map"))
                .otherwise(next_map_path(F.col("p_map"), F.col("edge")))
                .alias("map_path"),
                F.col("p_history").alias("history"),
                F.lit(None).cast("string").alias("payload_id"),
                F.when(F.col("_is_page"), F.col("p_qualifier"))
                .otherwise(F.col("p_urn"))
                .alias("qualifier"),
                F.col("p_map_name").alias("map_name"),
                F.col("_ndup").cast("long").alias("_ndup"),
            )

        child_rows = _candidate_rows(fresh_allowed, 0)
        bounce_rows = _candidate_rows(bounce_src, 2)
        rq_rows = fetched.filter(F.col("outcome").isin(*REQUEUE_CLASS)).select(
            "url",
            "type",
            "tier",
            "host",
            (F.col("attempt") + 1).cast("int").alias("attempt"),
            F.lit(1).alias("_grp"),
            F.col("pop_seq").cast("long").alias("_ord"),
            "policy_fetch",
            "policy_freshness",
            "map_path",
            "history",
            "payload_id",
            "qualifier",
            "map_name",
            F.lit(1).cast("long").alias("_ndup"),
        )
        # enqueue assignment: distributed rank over (_grp, _ord, url) —
        # children before requeues, both FIFO — with NO global Window.orderBy
        # over the rows (which would sort the whole enqueue batch in ONE
        # task) and no driver collect of row-level data. _ord is a parent
        # pop_seq (≤ round_capacity distinct values): prefix offsets are a
        # running sum over the tiny (_grp, _ord) COUNTS table, the requeue
        # group's base offset (= children total) rides a broadcast 1-row
        # aggregate instead of a driver collect, and the final rank is a
        # window per (_grp, _ord) whose sort is bounded by a single parent's
        # fan-out. The only collect here is the 2-row per-group totals that
        # ALSO fills new_rows' cache blocks (one job, two purposes).
        union_rows = (
            child_rows.unionByName(rq_rows).unionByName(bounce_rows).persist()
        )
        persisted.append(union_rows)
        counts = union_rows.groupBy("_grp", "_ord").agg(
            F.count(F.lit(1)).alias("_cnt")
        )
        w_off = (
            Window.partitionBy("_grp")
            .orderBy("_ord")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        g0_total = counts.agg(
            F.coalesce(
                F.sum(F.when(F.col("_grp") == 0, F.col("_cnt"))), F.lit(0)
            ).alias("_g0")
        )
        offs = (
            counts.withColumn(
                "_poff", F.coalesce(F.sum("_cnt").over(w_off), F.lit(0))
            )
            .crossJoin(F.broadcast(g0_total))
            .withColumn(
                "_off",
                F.col("_poff")
                + F.when(F.col("_grp") == 1, F.col("_g0")).otherwise(F.lit(0)),
            )
        )
        w_enq = Window.partitionBy("_grp", "_ord").orderBy("url")
        new_rows = (
            union_rows.join(offs.select("_grp", "_ord", "_off"), ["_grp", "_ord"])
            .withColumn(
                "enqueue_seq",
                (F.lit(next_seq) + F.col("_off") + F.row_number().over(w_enq))
                .cast("long"),
            )
            .drop("_off")
            .persist()
        )
        # MATERIALIZE before the concurrent write jobs: several of them scan
        # new_rows, and a first-touch race on an unfilled cached frame from
        # parallel jobs starves the few local executor slots (tasks block on
        # the cache-fill lock while holding slots). One aggregation over the
        # already-cached inputs fills the blocks once, serially — and its
        # 2-row result IS the per-group totals (children count + J4
        # attenuation drops: visible candidate edges collapsed into kept
        # children, occurrences - 1 per enqueued dst), so the former
        # separate totals collect is gone.
        grp_rows = (
            new_rows.groupBy("_grp")
            .agg(
                F.count(F.lit(1)).alias("t"),
                F.sum(F.col("_ndup") - 1).alias("att"),
            )
            .collect()
        )
        grp_totals = {r["_grp"]: r["t"] for r in grp_rows}
        n_children = int(grp_totals.get(0, 0))
        n_bounced = int(grp_totals.get(2, 0))
        n_attenuated = int(
            next((r["att"] for r in grp_rows if r["_grp"] == 0), 0) or 0
        )
        tr.mark("children+enqueue (count)")
        new_rows_clean = new_rows.filter(F.col("_grp") != 2).select(
            "url",
            "type",
            "tier",
            "host",
            # explicit: lit(int)+row_number is IntegerType, but the delta
            # files must match the base table's long schema exactly
            F.col("enqueue_seq").cast("long").alias("enqueue_seq"),
            "attempt",
            "policy_fetch",
            "policy_freshness",
            "map_path",
            "history",
            "payload_id",
            "qualifier",
            "map_name",
        )

        # 9. bucket spend (compute cost per popped row) + throttle benching.
        # Measured mode: charge = max(1, elapsed - baseline) once a baseline
        # exists; the preallocated static cost until then (computeLimiter's
        # consume(elapsed - baseline - preallocated) reconciliation)
        if cfg.measured_costs and baseline_prev is not None:
            charge_col = F.greatest(
                F.lit(1).cast("long"),
                F.col("_elapsed") - F.lit(int(baseline_prev)),
            )
        else:
            charge_col = F.col("_cost")
        spend = fetched.groupBy("host").agg(F.sum(charge_col).alias("_n"))
        levels_next = levels.join(spend, "host", "left").select(
            "host",
            (F.col("level") - F.coalesce(F.col("_n"), F.lit(0))).alias("level"),
            "bench_until",
        )
        if cfg.bench_on_throttle:
            # hosts that took a transient (throttle-class) failure this round
            # are benched until rnd + bench_rounds (githubFetcher.js:176-192)
            thr = (
                fetched.filter(F.col("outcome") == "Throttled")
                .select("host")
                .distinct()
                .withColumn("_bench", F.lit(rnd + cfg.bench_rounds).cast("long"))
            )
            levels_next = levels_next.join(thr, "host", "left").select(
                "host",
                "level",
                F.greatest(
                    F.col("bench_until"), F.coalesce(F.col("_bench"), F.lit(0))
                ).alias("bench_until"),
            )

        # size arithmetic — no count jobs (invariant-checked by tests)
        n_frontier_after = (
            manifest["frontier_size"] + n_ingested
            - n_dead - n_selected + n_children + n_requeued
        )

        # v5 deadletter lanes beyond max_attempts: excludeNotFound routes
        # Missing rows immediately (crawler.js:528-533); Bailed is the
        # post-elevated-retry permanent failure (githubFetcher.js:67-72)
        extra_dl: list[DataFrame] = []
        n_dl_extra = 0
        if cfg.exclude_not_found and hist.get("Missing", 0) > 0:
            extra_dl.append(
                fetched.filter(F.col("outcome") == "Missing").select(
                    "url", "type", "tier", F.lit(rnd).alias("round"),
                    "attempt", F.lit("excludeNotFound").alias("reason"),
                )
            )
            n_dl_extra += hist["Missing"]
        if cfg.bailed_retry and hist.get("Bailed", 0) > 0:
            extra_dl.append(
                fetched.filter(F.col("outcome") == "Bailed").select(
                    "url", "type", "tier", F.lit(rnd).alias("round"),
                    "attempt", F.lit("Bailed").alias("reason"),
                )
            )
            n_dl_extra += hist["Bailed"]

        metrics_new = self.spark.createDataFrame(
            [(rnd, n_selected, n_children, n_requeued, n_dead + n_dl_extra,
              n_frontier_after, n_ingested, n_attenuated, n_deferred,
              n_bounced)],
            METRICS_SCHEMA,
        )

        # ---- state writes: merge-on-read. A round writes ONLY the rows it
        # touched — frontier adds (children+requeues), frontier removes
        # (popped+dead enqueue_seqs, i.e. Iceberg-style equality deletes),
        # deadletter adds, docs upserts, and the CHANGED host-state rows.
        # Every cfg.compact_every rounds the current frontier/seen/stored/
        # host_state views are rewritten as new BASES, which bounds both the
        # delta-dir fan-in and the delete-key anti-join a read performs.
        hs_old = host_state.select(
            "host",
            F.col("level").alias("_ol"),
            F.col("bench_until").alias("_ob"),
        )
        hs_delta = (
            levels_next.join(hs_old, "host", "left")
            .filter(
                F.col("_ol").isNull()
                | (F.col("_ol") != F.col("level"))
                | (F.col("_ob") != F.col("bench_until"))
            )
            .select(
                "host",
                # delta parquet must match the base table's long schema
                F.col("level").cast("long").alias("level"),
                F.col("bench_until").cast("long").alias("bench_until"),
                F.lit(rnd).cast("int").alias("round"),
            )
        )
        full_tables = {}
        new_bases = dict(bases)
        if cfg.compact_every and rnd - bases["frontier"] >= cfg.compact_every:
            full_tables["frontier"] = remaining.unionByName(new_rows_clean)
            new_bases["frontier"] = rnd
            full_tables["seen"] = seen_next
            new_bases["seen"] = rnd
            full_tables["host_state"] = levels_next
            new_bases["host_state"] = rnd
            # doc-store lookup base: prior view ∪ this round's upserts
            prior = (
                stored_lookup
                if stored_lookup is not None
                else self._empty(STORED_SCHEMA)
            )
            full_tables["stored"] = (
                prior.unionByName(docs_new.select("url", "round", "version"))
                .groupBy("url")
                .agg(F.max("round").alias("round"), F.max("version").alias("version"))
            )
            new_bases["stored"] = rnd
            if tomb_lookup is not None:
                # tombstones compact with everything else: the base is the
                # deduped (url, latest round) view, so readers union ≤
                # compact_every delta dirs on top of it
                full_tables["tombstones"] = tomb_lookup.select(
                    "url", F.col("tomb_round").cast("int").alias("round")
                )
                new_bases["tombstones"] = rnd
        frontier_adds = new_rows_clean
        if ingested is not None:
            frontier_adds = ingested.unionByName(frontier_adds)
        writes: list = [
            lambda: self.store.write_append(rnd, "host_state_adds", hs_delta),
            lambda: self.store.write_append(rnd, "frontier_adds", frontier_adds),
            lambda: self.store.write_append(
                rnd,
                "frontier_removes",
                fetched.select("enqueue_seq").unionByName(dead.select("enqueue_seq")),
            ),
            lambda: self.store.write_append(rnd, "seen", newly_seen),
            lambda: self.store.write_append(rnd, "order_log", log_rows),
        ]
        if full_tables:  # compaction round: rewrite the MOR bases
            writes.append(lambda: self.store.write_tables(rnd, full_tables))
        if n_dead > 0 or ev_dead is not None or extra_dl:
            dl = dead.select(
                "url",
                "type",
                "tier",
                F.lit(rnd).alias("round"),
                "attempt",
                F.lit("max_attempts").alias("reason"),
            )
            if ev_dead is not None:
                dl = dl.unionByName(ev_dead)
            for x in extra_dl:
                dl = dl.unionByName(x)
            writes.append(
                lambda: self.store.write_append(rnd, "deadletter_adds", dl)
            )
        if tomb_new is not None:
            writes.append(
                lambda: self.store.write_append(rnd, "tombstones", tomb_new)
            )
        # per-partition lineage (north_rule): which (tier, host-bucket)
        # partition produced what this round — the audit trail that lets a
        # resumed run prove each partition was applied exactly once
        lineage = (
            fetched.groupBy(
                "tier",
                F.pmod(F.xxhash64("host"), F.lit(LINEAGE_BUCKETS))
                .cast("int")
                .alias("host_bucket"),
            )
            .agg(
                F.count(F.lit(1)).alias("n_popped"),
                F.sum((F.col("outcome") == "Processed").cast("long")).alias("n_processed"),
                F.sum((F.col("outcome") == "Traversed").cast("long")).alias("n_traversed"),
                F.sum(F.col("outcome").isin(*REQUEUE_CLASS).cast("long")).alias("n_requeued"),
                F.sum((F.col("outcome") == "Missing").cast("long")).alias("n_missing"),
            )
            .select(
                F.lit(rnd).alias("round"),
                "tier",
                "host_bucket",
                "n_popped",
                "n_processed",
                "n_traversed",
                "n_requeued",
                "n_missing",
                F.lit(0).cast("long").alias("n_deferred"),
            )
        )
        if n_deferred > 0:
            # Deferred rows (benched-host withhold) never reach `fetched`;
            # they land in lineage as their own per-partition counts so the
            # audit trail shows WHICH (tier, host-bucket) sat out the round
            # (crawler.js:512-515 deferred visibility). Rides the lineage
            # write job — no extra action.
            benched = host_stats.filter(F.col("bench_until") >= rnd).select(
                "host"
            )
            deferred_rows = (
                eligible.join(F.broadcast(benched), "host", "left_semi")
                .groupBy(
                    "tier",
                    F.pmod(F.xxhash64("host"), F.lit(LINEAGE_BUCKETS))
                    .cast("int")
                    .alias("host_bucket"),
                )
                .agg(F.count(F.lit(1)).alias("n_deferred"))
                .select(
                    F.lit(rnd).alias("round"),
                    "tier",
                    "host_bucket",
                    F.lit(0).cast("long").alias("n_popped"),
                    F.lit(0).cast("long").alias("n_processed"),
                    F.lit(0).cast("long").alias("n_traversed"),
                    F.lit(0).cast("long").alias("n_requeued"),
                    F.lit(0).cast("long").alias("n_missing"),
                    F.col("n_deferred").cast("long").alias("n_deferred"),
                )
            )
            lineage = lineage.unionByName(deferred_rows)
        writes.append(lambda: self.store.write_append(rnd, "lineage", lineage))
        if hist.get("Processed", 0) > 0:
            writes.append(lambda: self.store.write_append(rnd, "docs", docs_new))
        if self.cfg.robots_deny:
            excl = fresh_denied.select("url", F.lit(rnd).alias("round"))
            if ev_excl is not None:
                excl = ev_excl.unionByName(excl)
            writes.append(lambda: self.store.write_append(rnd, "excluded", excl))
        writes.append(lambda: self.store.write_append(rnd, "metrics", metrics_new))
        writes.append(lambda: self._write_bloom(rnd, bloom))
        # the round's dozen-odd state writes are independent parquet jobs over
        # small frames — submit them concurrently so the wall cost is the
        # slowest write, not the sum of per-job scheduling latencies. (The
        # durability point is still the single manifest swap in commit().)
        _run_writes(writes)
        tr.mark("state writes")
        # ingest bookkeeping: {staged filename → absorb round}. Files whose
        # absorb round is at or before the (new) frontier base pointer are
        # durable history — delete them from the staging dir and prune their
        # manifest entries, so neither grows with crawl length (bounded-
        # metadata hygiene; reference analog: tracker tag TTL,
        # redisRequestTracker.js:106-111). Deleting before the commit is
        # safe: a crash replays only THIS round, and these files were
        # absorbed by earlier, committed rounds.
        prev_ing = manifest.get("ingested", {})
        if isinstance(prev_ing, list):  # legacy manifests: names only
            prev_ing = dict.fromkeys(prev_ing, manifest["round"])
        ingested_map = dict(prev_ing)
        for name in pending_files:
            ingested_map[name] = rnd
        if self.cfg.ingest_dir:
            gc_cutoff = min(new_bases["frontier"], rnd - 1)
            for name, r_abs in list(ingested_map.items()):
                if r_abs <= gc_cutoff:
                    try:
                        os.remove(os.path.join(self.cfg.ingest_dir, name))
                    except FileNotFoundError:
                        pass
                    del ingested_map[name]
        extras = {
            "next_seq": next_seq + n_children + n_requeued,
            "total_popped": total_popped + n_selected,
            "round": rnd,
            "frontier_size": n_frontier_after,
            "bases": new_bases,
            "ingested": ingested_map,
            "docs_total": manifest.get("docs_total", 0) + hist.get("Processed", 0),
            "tombstones_total": tomb_total_prev + n_tomb,
        }
        if manifest.get("config_patches"):
            extras["config_patches"] = manifest["config_patches"]
        if cfg.measured_costs:
            if round_min is not None:
                extras["cost_baseline"] = (
                    round_min
                    if baseline_prev is None
                    else min(int(baseline_prev), round_min)
                )
            elif baseline_prev is not None:
                extras["cost_baseline"] = baseline_prev
        extras["bloom"] = bloom.manifest(bloom_total)
        self.store.commit(rnd, extras)
        _free_checkpoint(fetched)
        new_rows.unpersist()
        _free_checkpoint(fresh)
        for f in persisted:
            f.unpersist()
        # cache the new set for next round, re-rooted on the rows just
        # persisted (lineage truncation); free superseded sets
        old = self._bloom
        bloom = bloom.rerooted(
            lambda: self.store.read_appends(
                self.spark, "bloom", rnd, from_version=rnd
            )
        )
        self._bloom, self._bloom_version = bloom, rnd
        # old and bloom_prev are normally the same object; dedup by id
        for stale in {id(s): s for s in (old, bloom_prev)}.values():
            if stale is not None and stale is not bloom:
                stale.destroy()
        return True

    def _carry_extras(self, manifest: dict, **overrides) -> dict:
        """Manifest extras for an ADMIN commit (flush/peek-remove/requeue):
        everything carries forward except what the caller overrides."""
        extras = {
            "next_seq": manifest["next_seq"],
            "total_popped": manifest["total_popped"],
            "round": manifest["round"] + 1,
            "frontier_size": manifest["frontier_size"],
            "bases": self._bases(manifest),
            "ingested": manifest.get("ingested", {}),
            "docs_total": manifest.get("docs_total", 0),
            "tombstones_total": manifest.get("tombstones_total", 0),
        }
        if "cost_baseline" in manifest:
            extras["cost_baseline"] = manifest["cost_baseline"]
        if manifest.get("config_patches"):
            extras["config_patches"] = manifest["config_patches"]
        extras.update(overrides)
        return extras

    def _commit_admin(self, manifest: dict, rnd: int, extras: dict) -> None:
        """Commit an ADMIN round. Blobs are per-version: the previous
        version's filter is re-pointed at the new version (the seen set is
        untouched), and the cached set follows it."""
        version = manifest["current"]
        if "bloom" in manifest:
            self._write_bloom(
                rnd,
                self._load_bloom(
                    version, manifest,
                    self._read_seen(version, self._bases(manifest)),
                ),
            )
            extras["bloom"] = manifest["bloom"]
        self.store.commit(rnd, extras)
        if self._bloom_version == version:
            self._bloom_version = rnd

    def flush_tier(self, tier: str) -> int:
        """Admin queue surface (lib/crawlerService.js:75-88 flushQueue):
        drop EVERY frontier row of ``tier`` — committed as its own snapshot
        round via equality-deletes on the rows' enqueue_seqs (merge-on-read:
        no table rewrite; bases carry forward). Returns rows flushed."""
        manifest = self.store.read_manifest()
        version = manifest["current"]
        rnd = manifest["round"] + 1
        frontier = self._read_frontier(version, self._bases(manifest))
        victims = frontier.filter(F.col("tier") == tier).select("enqueue_seq")
        n = victims.count()
        if n == 0:
            return 0
        self.store.write_append(rnd, "frontier_removes", victims)
        extras = self._carry_extras(
            manifest, frontier_size=manifest["frontier_size"] - n
        )
        self._commit_admin(manifest, rnd, extras)
        return n

    def peek_requests(
        self, tier: str | None = None, count: int = 10, remove: bool = False
    ) -> list:
        """Admin queue surface (lib/crawlerService.js:91-105 getRequests):
        the first ``count`` frontier rows (optionally of one tier) in
        enqueue order. ``remove=True`` also deletes them (its own snapshot
        round) — peek+remove == pop WITHOUT processing, the reference's
        destructive getRequests(count, remove). The driver copy is bounded
        by ``count`` (the orderBy is a top-k under a limit, not a full
        sort)."""
        manifest = self.store.read_manifest()
        version = manifest["current"]
        rnd = manifest["round"] + 1
        frontier = self._read_frontier(version, self._bases(manifest))
        if tier is not None:
            frontier = frontier.filter(F.col("tier") == tier)
        rows = frontier.orderBy("enqueue_seq").limit(count).collect()
        if remove and rows:
            removes = self.spark.createDataFrame(
                [(r["enqueue_seq"],) for r in rows], "enqueue_seq long"
            )
            self.store.write_append(rnd, "frontier_removes", removes)
            extras = self._carry_extras(
                manifest, frontier_size=manifest["frontier_size"] - len(rows)
            )
            self._commit_admin(manifest, rnd, extras)
        return rows

    def describe_config(self) -> dict:
        """GET /config analog (routes/config.js:20-28): the engine's LIVE
        options — construction-time config plus every applied patch — as a
        plain JSON-able dict (the route strips `_config`/`logger` internals;
        the dataclass has none)."""
        return asdict(self.cfg)

    def update_config(self, **patch) -> dict:
        """Live reconfiguration between rounds (routes/config.js:12-18
        PATCH /config → crawlerService.options[key]._config.apply — the
        reference patches crawler/limiter options on a RUNNING service).

        Only ``_RECONFIGURABLE`` per-round parameters are patchable;
        anything that shapes persisted state or init-time structures raises
        ValueError (the reference, likewise, swaps providers only by
        rebuilding the service). The patch takes effect from the NEXT round
        and is JOURNALED in the manifest as its own admin commit, so a
        killed run resumed with the ORIGINAL config replays the patched
        values — the orphan-round replay then re-derives the identical
        schedule. Returns the updated live config."""
        bad = set(patch) - _RECONFIGURABLE
        if bad:
            raise ValueError(
                f"not reconfigurable at runtime: {sorted(bad)}; "
                "rebuild the engine to change structural options"
            )
        self.cfg = replace(self.cfg, **patch)
        if self.store.current_version() is None:
            self._preseed_cfg_patches.append(dict(patch))
        else:
            manifest = self.store.read_manifest()
            rnd = manifest["round"] + 1
            extras = self._carry_extras(manifest)
            extras["config_patches"] = list(
                manifest.get("config_patches", [])
            ) + [dict(patch)]
            self._commit_admin(manifest, rnd, extras)
        return self.describe_config()

    def queue_requests(self, requests: DataFrame, tier: str = "normal") -> dict:
        """Admin enqueue (routes/requests.js:23-28 POST /requests/:queue →
        crawlerService.queue): push NEW requests into a NAMED tier on a
        RUNNING crawl. Same intake funnel as seed() — policy-spec
        resolution, malformed → deadletter (F3), robots → excluded — plus
        the tracker's in-flight dedup (a url already in the frontier
        bounces, preserving the frontier's url-uniqueness invariant the
        tracked queue enforces on push, redisRequestTracker.js:27).
        Committed as its own snapshot round. Input columns: url, type
        [, tier, policy, policy_fetch, policy_freshness, map_path,
        map_name]; the ``tier`` argument fills rows with no tier value.
        Returns {'queued', 'malformed', 'denied', 'bounced'} counts."""
        manifest = self.store.read_manifest()
        version = manifest["current"]
        rnd = manifest["round"] + 1
        next_seq = manifest["next_seq"]

        rows = self._resolve_request_rows(requests, tier_default=tier)
        malformed = rows.filter(_malformed_cond())
        base = rows.filter(~_malformed_cond()).select(
            "url",
            "type",
            "tier",
            extract_host("url").alias("host"),
            F.lit(0).cast("int").alias("attempt"),
            "policy_fetch",
            "policy_freshness",
            "map_path",
            "map_name",
        )
        allowed, denied = self._robots_allowed(base)
        inflight = self._read_frontier(version, self._bases(manifest)).select(
            "url"
        )
        persisted: list = []
        allowed = allowed.persist()
        persisted.append(allowed)
        fresh = inflight_bounce(allowed, inflight)
        # intra-batch duplicate urls: first push wins, later copies bounce
        # (counted below — n_allowed-n_new absorbs them into 'bounced')
        fresh = _dedupe_batch_urls(fresh)
        adds = scalable_rank_by_key(
            fresh, ["url"], "_rank", persisted=persisted
        ).select(
            "url",
            "type",
            "tier",
            "host",
            (F.lit(next_seq) + F.col("_rank")).cast("long").alias("enqueue_seq"),
            F.col("attempt").cast("int"),
            "policy_fetch",
            "policy_freshness",
            "map_path",
            F.array().cast("array<string>").alias("history"),
            F.lit(None).cast("string").alias("payload_id"),
            root_urn(F.lit("host"), F.col("host")).alias("qualifier"),
            "map_name",
        )
        n_new = adds.count()
        n_allowed = allowed.count()
        n_malformed = malformed.count()
        n_denied = denied.count()
        if n_new:
            self.store.write_append(rnd, "frontier_adds", adds)
        if n_malformed:
            self.store.write_append(
                rnd,
                "deadletter_adds",
                malformed.select(
                    F.coalesce(F.col("url"), F.lit("")).alias("url"),
                    F.coalesce(F.col("type"), F.lit("")).alias("type"),
                    F.col("_tier_raw").alias("tier"),
                    F.lit(rnd).alias("round"),
                    F.lit(0).cast("int").alias("attempt"),
                    F.lit("malformed").alias("reason"),
                ),
            )
        if n_denied:
            self.store.write_append(
                rnd, "excluded", denied.select("url", F.lit(rnd).alias("round"))
            )
        extras = self._carry_extras(
            manifest,
            next_seq=next_seq + n_new,
            frontier_size=manifest["frontier_size"] + n_new,
        )
        self._commit_admin(manifest, rnd, extras)
        for f in persisted:
            f.unpersist()
        return {
            "queued": n_new,
            "malformed": n_malformed,
            "denied": n_denied,
            "bounced": n_allowed - n_new,
        }

    def status(self) -> dict:
        """GET /status analog (routes/status.js:10-20: the live,
        non-configurable values): committed crawl state straight off the
        manifest — no Spark jobs."""
        manifest = self.store.read_manifest()
        return {
            "round": manifest["round"],
            "version": manifest["current"],
            "frontier_size": manifest["frontier_size"],
            "total_popped": manifest["total_popped"],
            "next_seq": manifest["next_seq"],
            "docs_total": manifest.get("docs_total", 0),
            "tombstones_total": manifest.get("tombstones_total", 0),
        }

    def queue_info(self, tier: str) -> dict:
        """GET /queues/:name/info analog (routes/queues.js:19-29 →
        crawlerService.getQueueInfo → the queue's getInfo()): one tier's
        live depth + its rotation weight (queueSet.js metadata)."""
        if tier not in self.cfg.tier_weights:
            raise KeyError(f"unknown tier: {tier}")
        count = (
            self.current_frontier().filter(F.col("tier") == tier).count()
        )
        return {
            "name": tier,
            "count": count,
            "weight": self.cfg.tier_weights[tier],
        }

    def delete_deadletters(self, url_filter: str | None = None) -> int:
        """DELETE /deadletters/:urn without ?requeue
        (routes/deadletters.js:30-37 → crawlerService.deleteDeadletter):
        permanently drop deadletters (optionally only urls rlike
        ``url_filter``) — the discard half of the requeue API. Compacts the
        deadletter table in place as its own snapshot round; frontier and
        every other table carry forward untouched."""
        manifest = self.store.read_manifest()
        version = manifest["current"]
        rnd = manifest["round"] + 1
        bases = self._bases(manifest)
        dead = self._read_deadletter(version, bases)
        if url_filter is not None:
            keep = dead.filter(~F.col("url").rlike(url_filter))
        else:
            keep = dead.limit(0)
        n_before = dead.count()
        n_keep = keep.count()
        if n_keep == n_before:
            return 0
        self.store.write_tables(rnd, {"deadletter": keep})
        new_bases = dict(bases)
        new_bases["deadletter"] = rnd
        extras = self._carry_extras(manifest, bases=new_bases)
        self._commit_admin(manifest, rnd, extras)
        return n_before - n_keep

    def requeue_deadletters(self, url_filter: str | None = None) -> int:
        """Deadletter requeue API (lib/crawlerService.js:119-130 analog):
        move deadletters (optionally only urls rlike ``url_filter``) back
        into the frontier with attempt=0 at the tail, and clear them from
        the deadletter table. Committed as its own snapshot round."""
        manifest = self.store.read_manifest()
        version = manifest["current"]
        rnd = manifest["round"] + 1
        next_seq = manifest["next_seq"]
        bases = self._bases(manifest)

        dead = self._read_deadletter(version, bases)
        if url_filter is not None:
            to_requeue = dead.filter(F.col("url").rlike(url_filter))
            keep = dead.filter(~F.col("url").rlike(url_filter))
        else:
            to_requeue, keep = dead, dead.limit(0)

        # requeue is a tracked push like any other: (a) the deadletter table
        # can hold the same url from different rounds (deadletter -> requeue
        # -> deadletter again) — only ONE copy revives (first-wins by
        # (type, tier), the columns a deadletter row carries); (b) a url
        # already live in the frontier bounces instead of reviving a
        # duplicate. ALL matching deadletter rows are still cleared. The
        # bounce broadcasts the requeue batch when it is small (the common
        # admin case) and falls back to a shuffle anti-join above the gate —
        # the frontier itself never exchanges in the broadcast regime.
        cand = to_requeue.select("url", "type", "tier")
        w_dup = Window.partitionBy("url").orderBy("type", "tier")
        cand = (
            cand.withColumn("_dup_rn", F.row_number().over(w_dup))
            .filter(F.col("_dup_rn") == 1)
            .drop("_dup_rn")
            .persist()  # read 3x: the count gate, the bounce, the rank
        )
        inflight = self._read_frontier(version, bases).select("url")
        n_cand = cand.count()
        if n_cand == 0:
            cand.unpersist()
            return 0
        persisted: list = [cand]
        if n_cand <= self.cfg.dedup_broadcast_max:
            cand = inflight_bounce(cand, inflight)
        else:
            cand = cand.join(inflight, "url", "left_anti")
        revived = (
            scalable_rank_by_key(
                cand,
                ["url"],
                "_rank",
                persisted=persisted,
            )
            .withColumn("host", extract_host(F.col("url")))
            .withColumn(
                "enqueue_seq", (F.lit(next_seq) + F.col("_rank")).cast("long")
            )
            .withColumn("attempt", F.lit(0).cast("int"))
            .select(
                "url",
                "type",
                "tier",
                "host",
                "enqueue_seq",
                "attempt",
                F.lit("originStorage").alias("policy_fetch"),
                F.lit("match").alias("policy_freshness"),
                F.lit("/").alias("map_path"),
                F.array().cast("array<string>").alias("history"),
                F.lit(None).cast("string").alias("payload_id"),
                root_urn(F.lit("host"), F.col("host")).alias("qualifier"),
                F.lit("default").alias("map_name"),
            )
        )
        n_revived = revived.count()

        # revived rows are frontier ADDS; the deadletter table is compacted
        # in place (its base pointer moves to this round) — requeue is the
        # one op that removes deadletter rows, and it is rare by nature.
        # Matching rows clear EVEN when every candidate bounced (n_revived
        # 0): the reference deletes the deadletter doc before pushing, so a
        # bounced requeue still consumes it (crawlerService.js:119-130).
        # host_state is untouched: its base pointer + deltas carry forward.
        self.store.write_tables(rnd, {"deadletter": keep})
        self.store.write_append(rnd, "frontier_adds", revived)
        new_bases = dict(bases)
        new_bases["deadletter"] = rnd
        extras = self._carry_extras(
            manifest,
            next_seq=next_seq + n_revived,
            frontier_size=manifest["frontier_size"] + n_revived,
            bases=new_bases,
        )
        self._commit_admin(manifest, rnd, extras)
        for f in persisted:
            f.unpersist()
        return n_revived

    def run(self) -> int:
        """Run rounds until the frontier drains; returns rounds executed."""
        rounds = 0
        while rounds < self.cfg.max_rounds and self.run_round():
            rounds += 1
        return rounds
