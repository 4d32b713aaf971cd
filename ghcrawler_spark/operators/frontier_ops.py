"""Frontier selection operators — the DataFrame replacements for ghcrawler's
queue mechanics (SURVEY.md §2.1/§2.5).

The reference pops one request at a time from a weighted-random rotation over
FIFO queues (providers/queuing/queueSet.js:46-65) and benches hosts/tokens via
limiter state (providers/fetcher/tokenFactory.js:41-93). Here a crawl round
selects a whole batch declaratively:

- ``weighted_rotation_order``: deterministic replacement for the
  Math.random-started rotation — fair weighted interleaving by integer
  virtual time (rank_in_tier * (SCALE / weight)). Reproducible, so the
  simulator oracle and the N-vs-4N scaling runs commit identical orders.
- ``tier_quota_select``: per-round quota per tier ∝ weight (queueSet weights
  {soon:2, normal:3, later:2}, lib/crawlerFactory.js:86).
- ``host_topk``: per-host politeness cap — the canonical top-k-per-group
  window (reference analog: per-token benching + rate limiting).
- ``backoff_gate``: retry/defer visibility (requeueDelay × attempt,
  lib/crawler.js:150-154; defer wake-time, amqp10Queue.js:238-251).

All windows partition by a key that the frontier table is already hashed on,
so at scale the sort is partition-local after one shuffle; AQE splits any
hot-host partition the salt missed.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Integer virtual-time scale. 2520 = lcm(1..10): every reference weight
# (events:10 immediate:3 soon:2 normal:3 later:2) divides it exactly, so the
# schedule stays in integer arithmetic (bit-exact in any engine).
WEIGHT_SCALE = 2520

DEFAULT_WEIGHTS = {"immediate": 3, "soon": 2, "normal": 3, "later": 2}


def _rank_in_tier(tier_col: str, order_cols: list[str]) -> Column:
    w = Window.partitionBy(tier_col).orderBy(*[F.col(c) for c in order_cols])
    return F.row_number().over(w)


def weighted_rotation_order(
    df: DataFrame,
    tier_col: str,
    order_cols: list[str],
    weights: dict[str, int],
) -> DataFrame:
    """Assign each row a global deterministic pop position.

    vt = rank_in_tier * (WEIGHT_SCALE / weight[tier]); ties broken by tier
    name then FIFO order. A tier with weight w gets w slots per WEIGHT_SCALE
    of virtual time — the deterministic equivalent of queueSet.js's
    weight-expanded random rotation.
    """
    stride = F.create_map(
        *[x for t, w in weights.items() for x in (F.lit(t), F.lit(WEIGHT_SCALE // w))]
    )
    ranked = df.withColumn("rank_in_tier", _rank_in_tier(tier_col, order_cols))
    vt = F.col("rank_in_tier") * F.element_at(stride, F.col(tier_col))
    out = ranked.withColumn("virtual_time", vt.cast("long"))
    pop_w = Window.orderBy("virtual_time", tier_col, "rank_in_tier")
    return out.withColumn("pop_seq", F.row_number().over(pop_w))


def scalable_rank_by_key(
    df: DataFrame,
    order_cols: list[str],
    out_col: str = "rank",
    buckets: int = 64,
    persisted: list | None = None,
) -> DataFrame:
    """Distributed global 1..n rank over an arbitrary (orderable, unique) key
    — the scale-safe replacement for ``row_number().over(Window.orderBy(k))``
    which sorts the ENTIRE frame in one task.

    Range-repartition by the key (order-preserving ACROSS partitions: every
    row of partition i sorts before every row of partition i+1), count rows
    per partition (a tiny collect), then rank = prefix offset + partition-
    local row_number. The range boundaries come from Spark's sampler — they
    are fixed on the driver before tasks run, so retries see the same
    assignment, and the final rank is independent of where the boundaries
    fall.

    The input is persisted (three passes: repartition, counts, ranked
    output); pass ``persisted`` to collect the handle for caller-side
    unpersist after the output is materialized.
    """
    return scalable_rank_by_key_with_total(
        df, order_cols, out_col, buckets, persisted
    )[0]


def scalable_rank_by_key_with_total(
    df: DataFrame,
    order_cols: list[str],
    out_col: str = "rank",
    buckets: int = 64,
    persisted: list | None = None,
) -> tuple[DataFrame, int]:
    """``scalable_rank_by_key`` plus the row count, which its per-partition
    counts collect already yields — no separate count job."""
    part = df.repartitionByRange(buckets, *[F.col(c) for c in order_cols]).withColumn(
        "_pid", F.spark_partition_id()
    )
    part = part.persist()
    if persisted is not None:
        persisted.append(part)
    counts = {
        r["_pid"]: r["n"]
        for r in part.groupBy("_pid").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    offsets, running = [], 0
    for pid in sorted(counts):
        offsets.append((pid, running))
        running += counts[pid]
    off_df = df.sparkSession.createDataFrame(
        offsets or [(0, 0)], "_pid int, _off long"
    )
    w = Window.partitionBy("_pid").orderBy(*[F.col(c) for c in order_cols])
    ranked = (
        part.join(F.broadcast(off_df), "_pid")
        .withColumn(out_col, (F.col("_off") + F.row_number().over(w)).cast("long"))
        .drop("_pid", "_off")
    )
    return ranked, running


def scalable_rank(
    df: DataFrame,
    group_col: str,
    order_col: str,
    out_col: str = "rank_in_group",
    buckets: int = 64,
    bounds: tuple[int, int] | None = None,
    persisted: list | None = None,
) -> DataFrame:
    """Distributed 1..n ranking within each group by a numeric order column —
    the scale-safe replacement for ``row_number().over(partitionBy(group))``
    when groups are huge (e.g. 3 tiers × 10^10 rows: a per-tier window puts an
    entire tier in ONE task; this runs in buckets × groups parallel tasks).

    Two passes: (1) uniform-range bucket by order_col (min/max job), count
    rows per (bucket, group) — a tiny matrix collected to the driver; (2)
    rank = prefix-offset(bucket, group) + row_number within (bucket, group).
    Deterministic for unique order_col values.
    """
    out, _ = scalable_rank_with_totals(
        df, group_col, order_col, out_col, buckets, bounds, persisted
    )
    return out


def scalable_rank_with_totals(
    df: DataFrame,
    group_col: str,
    order_col: str,
    out_col: str = "rank_in_group",
    buckets: int = 64,
    bounds: tuple[int, int] | None = None,
    persisted: list | None = None,
) -> tuple[DataFrame, dict]:
    """scalable_rank + the per-group row totals it already counted — callers
    that need group sizes (the closed-form rotation) get them for free
    instead of launching another aggregation job.

    CONTRACT: ``group_col`` and ``order_col`` must be NON-NULL. A null
    order key poisons the driver-side bucket sort (None in the count-map
    keys → TypeError) and a null group key never matches the offsets
    equi-join (the row would silently vanish). Every engine call site
    ranks by url/enqueue_seq after the malformed filter, where both are
    non-null by construction; validate upstream before introducing a new
    call site."""
    # persist: this operator drives up to three actions over its input
    # (min/max unless bounds given, bucket counts, the ranked output) —
    # without caching, an expensive upstream (politeness window over the
    # whole frontier) would run that many times. Callers pass ``persisted``
    # to unpersist after materializing the output (long engine runs would
    # otherwise accumulate one cached frame per round).
    df = df.persist()
    if persisted is not None:
        persisted.append(df)
    if bounds is not None:
        mn, mx = bounds  # caller knows the order-key range → one less pass
    else:
        mn, mx = df.agg(F.min(order_col), F.max(order_col)).first()
    if mn is None:
        return df.withColumn(out_col, F.lit(None).cast("long")), {}
    width = max(1, (int(mx) - int(mn) + buckets) // buckets)
    bucket = F.floor((F.col(order_col) - F.lit(int(mn))) / F.lit(width))
    with_b = df.withColumn("_bkt", bucket.cast("long"))
    counts = (
        with_b.groupBy("_bkt", group_col).count().collect()
    )
    by_group: dict[str, dict[int, int]] = {}
    for row in counts:
        by_group.setdefault(row[group_col], {})[row["_bkt"]] = row["count"]
    offsets = []  # (bucket, group, offset)
    for g, bkt_counts in by_group.items():
        running = 0
        for b in sorted(bkt_counts):
            offsets.append((int(b), g, running))
            running += bkt_counts[b]
    spark = df.sparkSession
    off_df = spark.createDataFrame(
        offsets, f"_bkt long, {group_col} string, _off long"
    )
    w = Window.partitionBy("_bkt", group_col).orderBy(order_col)
    ranked = (
        with_b.join(F.broadcast(off_df), ["_bkt", group_col])
        .withColumn(out_col, (F.col("_off") + F.row_number().over(w)).cast("long"))
        .drop("_bkt", "_off")
    )
    totals = {g: sum(b.values()) for g, b in by_group.items()}
    return ranked, totals


def weighted_rotation_order_scalable(
    df: DataFrame,
    tier_col: str,
    order_col: str,
    weights: dict[str, int],
    buckets: int = 64,
    bounds: tuple[int, int] | None = None,
    persisted: list | None = None,
) -> DataFrame:
    """Same result as ``weighted_rotation_order`` (pinned by tests) with NO
    global or per-tier single-partition window.

    rank_in_tier comes from ``scalable_rank``; the global pop position is
    CLOSED-FORM: a row in tier t with rank r (virtual time vt = r·s_t) is
    preceded by (r-1) rows of its own tier plus, for every other tier t',
    min(floor((vt-1)/s_t'), n_t') rows — plus one tie row when s_t' divides
    vt exactly and t' sorts before t. No shuffle beyond the rank's
    (bucket × tier) exchange; the interleave itself is arithmetic.
    """
    # per-tier totals come from the rank's own bucket counts — no extra job
    ranked, tier_counts = scalable_rank_with_totals(
        df, tier_col, order_col, "rank_in_tier", buckets, bounds, persisted
    )
    strides = {t: WEIGHT_SCALE // w for t, w in weights.items()}
    vt = F.lit(None).cast("long")
    for t, s in strides.items():
        vt = F.when(F.col(tier_col) == t, (F.col("rank_in_tier") * s).cast("long")).otherwise(vt)
    out = ranked.withColumn("virtual_time", vt)

    pop = F.col("rank_in_tier").cast("long")  # own tier: (r-1) before + self
    for t_other in weights:
        n_other = int(tier_counts.get(t_other, 0))
        if n_other == 0:
            continue
        s_o = strides[t_other]
        before = F.least(
            F.floor((F.col("virtual_time") - 1) / s_o).cast("long"), F.lit(n_other)
        )
        tie = (
            (F.col("virtual_time") % s_o == 0)
            & (F.lit(t_other) < F.col(tier_col))
            & ((F.col("virtual_time") / s_o) <= n_other)
        )
        contrib = F.when(
            F.col(tier_col) == t_other, F.lit(0).cast("long")
        ).otherwise(before + F.when(tie, 1).otherwise(0).cast("long"))
        pop = pop + contrib
    return out.withColumn("pop_seq", pop.cast("long"))


def tier_quota_select(
    df: DataFrame,
    tier_col: str,
    order_cols: list[str],
    quotas: dict[str, int],
) -> DataFrame:
    """Keep the first ``quotas[tier]`` rows per tier in FIFO order."""
    quota_map = F.create_map(
        *[x for t, q in quotas.items() for x in (F.lit(t), F.lit(q))]
    )
    ranked = df.withColumn("rank_in_tier", _rank_in_tier(tier_col, order_cols))
    return ranked.filter(
        F.col("rank_in_tier") <= F.element_at(quota_map, F.col(tier_col))
    )


def host_topk(
    df: DataFrame,
    host_col: str,
    order_cols: list[str],
    k: int | None = None,
    budget_col: str | None = None,
    rank_name: str = "host_rank",
) -> DataFrame:
    """Per-host politeness cap: at most k (or per-row budget) rows per host.

    At scale this is the shuffle that matters: one hash exchange on the host
    key, then a partition-local window sort. Hot hosts are bounded by k, so
    the window never materializes more than it keeps per group beyond the
    sort buffer; AQE skew-split covers pathological hosts.
    """
    w = Window.partitionBy(host_col).orderBy(*[F.col(c) for c in order_cols])
    ranked = df.withColumn(rank_name, F.row_number().over(w))
    if budget_col is not None:
        return ranked.filter(F.col(rank_name) <= F.col(budget_col))
    if k is None:
        raise ValueError("need k or budget_col")
    return ranked.filter(F.col(rank_name) <= F.lit(k))


def salted_repartition(
    df: DataFrame,
    host_col: str,
    num_partitions: int,
    hot_threshold: int = 100_000,
    salt_factor: int = 16,
    salt_col: str = "url",
) -> DataFrame:
    """Kill hot-host skew before a host-keyed stage (north_star: "salted
    repartitioning by host-hash"): hosts whose row count exceeds
    ``hot_threshold`` get a rotating salt over ``salt_factor`` subpartitions;
    everyone else keeps salt 0, so only genuinely hot keys pay the spread.
    Downstream per-host aggregates must re-aggregate across salts (two-phase
    agg); per-host WINDOWS that need global host order should instead rely
    on AQE skew handling or bounded budgets (host_topk caps hot hosts by
    construction, so its window state stays small).

    One counting pass finds the hot keys (broadcast — there are few by
    definition), then a single repartition on (host, salt).

    The salt is a DETERMINISTIC function of (host, salt_col): a
    nondeterministic salt (e.g. over monotonically_increasing_id) would
    re-salt differently when a task retry or AQE re-plan recomputes the
    partitioning, duplicating/dropping rows downstream.
    """
    hot = (
        df.groupBy(host_col)
        .count()
        .filter(F.col("count") > hot_threshold)
        .select(F.col(host_col).alias("_hot_host"))
    )
    salted = df.join(
        F.broadcast(hot), df[host_col] == F.col("_hot_host"), "left"
    ).withColumn(
        "_salt",
        F.when(
            F.col("_hot_host").isNotNull(),
            F.pmod(F.xxhash64(F.col(host_col), F.col(salt_col)), F.lit(salt_factor)),
        ).otherwise(F.lit(0)).cast("int"),
    ).drop("_hot_host")
    return salted.repartition(num_partitions, F.col(host_col), F.col("_salt"))


def trait_cap(
    df: DataFrame,
    budgets: dict[str, int],
    type_traits: dict[str, str] | None = None,
    type_col: str = "type",
    order_col: str = "enqueue_seq",
    url_col: str = "url",
    salt: int = 16,
) -> DataFrame:
    """Token trait caps (tokenFactory.js:41-74): at most budgets[trait] rows
    per trait per round, FIFO by ``order_col``; a row's trait is
    type_traits[type] (default: the type itself).

    Scale shape: only traits WITH a configured budget are ranked at all —
    unbudgeted traits pass untouched, so the default trait (= type, e.g.
    every 'page' row) never funnels through a one-task window. Budgeted
    traits get a salted two-phase top-k: top-budget per (trait, salt)
    first, THEN the exact FIFO rank over ≤ budget × salt rows per trait —
    exact because the true top-budget prefix by order_col is inside every
    salt bucket's own top-budget. salt=0 disables the pre-cut.
    """
    if not budgets:
        return df
    tmap = type_traits or {}
    tpairs = [x for t, tr_ in tmap.items() for x in (F.lit(t), F.lit(tr_))]
    trait_col = (
        F.coalesce(F.element_at(F.create_map(*tpairs), F.col(type_col)), F.col(type_col))
        if tpairs
        else F.col(type_col)
    )
    bpairs = [x for t, b in budgets.items() for x in (F.lit(t), F.lit(int(b)))]
    budget_col = F.element_at(F.create_map(*bpairs), F.col("_trait"))
    out = df.withColumn("_trait", trait_col)
    # null-safe split: a NULL trait (null type with no mapping) must pass
    # UNTOUCHED like any other unbudgeted trait — three-valued isin would
    # otherwise drop the row from BOTH branches (null ∉ capped, ~null ∉
    # uncapped), silently losing it
    is_budgeted = F.coalesce(F.col("_trait").isin(*budgets), F.lit(False))
    capped = out.filter(is_budgeted)
    uncapped = out.filter(~is_budgeted)
    if salt:
        w_pre = Window.partitionBy("_trait", "_tsalt").orderBy(order_col)
        capped = (
            capped.withColumn(
                "_tsalt", F.pmod(F.xxhash64(F.col(url_col)), F.lit(salt))
            )
            .withColumn("_tpre", F.row_number().over(w_pre))
            .filter(F.col("_tpre") <= budget_col)
            .drop("_tsalt", "_tpre")
        )
    w_tr = Window.partitionBy("_trait").orderBy(order_col)
    capped = (
        capped.withColumn("_tr_rank", F.row_number().over(w_tr))
        .filter(F.col("_tr_rank") <= budget_col)
        .drop("_tr_rank")
    )
    return capped.unionByName(uncapped).drop("_trait")


def backoff_gate(
    df: DataFrame,
    now: Column,
    attempt_col: str = "attempt",
    not_before_col: str = "not_before",
    max_attempts: int = 5,
) -> DataFrame:
    """Visibility + retry gating (lib/crawler.js:150-154,308-311).

    Rows past max_attempts are tagged ``deadletter``; rows whose
    ``not_before`` wake time hasn't elapsed are hidden. A NULL
    ``not_before`` means NO wake gate — visible immediately (AMQP
    visibility semantics: a message without a scheduled delay is live).
    The old fallback (now + attempt·requeue_delay) compared against the
    SAME ``now`` and therefore reduced to ``attempt > 0`` — a retry row
    with a null wake time was deferred FOREVER, no matter how much time
    passed; the requeue path stamps ``not_before`` explicitly, which is
    the only place the delay can be anchored.
    """
    return df.withColumn(
        "gate_status",
        F.when(F.col(attempt_col) > max_attempts, F.lit("deadletter"))
        .when(F.col(not_before_col) > now, F.lit("deferred"))
        .otherwise(F.lit("eligible")),
    )


def attenuate(df: DataFrame, key_cols: list[str], order_cols: list[str]) -> DataFrame:
    """Intra-batch duplicate-push collapse (AttenuatedQueue analog,
    providers/queuing/attenuatedQueue.js:24-52): keep the FIRST row per key
    in deterministic order. Strictly more deterministic than the reference's
    TTL window — the window IS the batch.
    """
    w = Window.partitionBy(*key_cols).orderBy(*[F.col(c) for c in order_cols])
    return (
        df.withColumn("_atten_rn", F.row_number().over(w))
        .filter(F.col("_atten_rn") == 1)
        .drop("_atten_rn")
    )
