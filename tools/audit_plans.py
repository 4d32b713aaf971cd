"""Physical-plan audit: assert the plans actually have the properties the
scale design claims (SURVEY.md §4), and write the interesting plans to
PLANS.md for review.

Checks:
  1. predicate pushdown reaches the parquet scan (PushedFilters non-empty
     for an equality filter)
  2. column pruning: a 2-column projection reads a 2-column ReadSchema
  3. small-dim joins broadcast (BroadcastHashJoin), big anti-joins don't
     become CartesianProducts
  4. map-only operators have NO shuffle (no Exchange in the plan)
  5. whole-stage codegen covers the hot expressions
  6. the flagship round plan contains the expected window partition keys
     and no cartesian product

Usage: python tools/audit_plans.py  (exit 1 on any failed check)
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SF = "/root/testdata/sf0.01"


def explain_str(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> int:
    from pyspark.sql import functions as F

    from ghcrawler_spark.plans import analytics
    from ghcrawler_spark.session import build_session

    spark = build_session("plan-audit", master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    qs = analytics.queries()

    checks: list[tuple[str, bool, str]] = []
    plans: dict[str, str] = {}

    # 1+3. j2: pushdown of the status filter + broadcast of the customer dim
    p = explain_str(qs["j2_rehydrate_join"](spark, SF))
    plans["j2_rehydrate_join"] = p
    checks.append(("j2 pushes o_orderstatus='F' into the scan",
                   "PushedFilters" in p and "o_orderstatus" in p.split("PushedFilters", 1)[1][:200],
                   "scan must show PushedFilters with the status predicate"))
    checks.append(("j2 broadcasts the customer dim",
                   "BroadcastHashJoin" in p, "expect BroadcastHashJoin"))
    checks.append(("j2 has no cartesian product",
                   "CartesianProduct" not in p, ""))

    # 2. column pruning: 2-col projection over lineitem (16 cols)
    li = spark.read.parquet(f"{SF}/lineitem.parquet").select("l_orderkey", "l_quantity")
    p = explain_str(li)
    plans["column_pruning_lineitem"] = p
    import re

    m = re.search(r"ReadSchema: struct<([^>]*)>", p)
    pruned = m and len(m.group(1).split(",")) == 2
    checks.append(("2-column projection prunes the lineitem scan to 2 columns",
                   bool(pruned), f"ReadSchema: {m.group(1) if m else 'missing'}"))

    # Round 6: fixture scans are single-row-group files, so analytics._t
    # floors scan parallelism with ONE hash repartition keyed on
    # xxhash64(<first column>) when — and only when — the scan has fewer
    # partitions than the session parallelism (at real scale the branch
    # never fires). "map-only"/"shuffle-free" asserts therefore mean: every
    # Exchange in the plan IS that scan normalizer, and there is at most
    # one of them.
    import re as _re0

    def _exchange_blocks(plan: str) -> list[str]:
        out = []
        for m in _re0.finditer(r"\n\(\d+\) Exchange\n", plan):
            nxt = plan.find("\n(", m.end())
            out.append(plan[m.start(): nxt if nxt != -1 else len(plan)])
        return out

    def _is_normalizer(block: str) -> bool:
        return "hashpartitioning(xxhash64(" in block

    def only_scan_normalizer(plan: str) -> bool:
        ex = _exchange_blocks(plan)
        return len(ex) <= 1 and all(_is_normalizer(b) for b in ex)

    # 4+5. map-only: canonicalize+hash must have no shuffle beyond the scan
    # normalizer and be codegen'd (explain with AQE off for the codegen
    # labels — AdaptiveSparkPlan's pre-execution formatted output omits
    # codegen ids; audit-only toggle, restored immediately)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        p = explain_str(qs["f8_url_canonicalize"](spark, SF))
        plans["f8_url_canonicalize"] = p
        checks.append(("f8 canonicalize+hash is shuffle-free beyond the scan normalizer",
                       only_scan_normalizer(p), ""))
        checks.append(("f8 runs inside whole-stage codegen",
                       "codegen id" in p, "formatted explain labels stages with [codegen id : N]"))
        p = explain_str(qs["t2_fingerprint"](spark, SF))
        plans["t2_fingerprint"] = p
        checks.append(("t2 fingerprint is shuffle-free beyond the scan normalizer",
                       only_scan_normalizer(p), ""))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")

    # 3b. j1 anti-join shape
    p = explain_str(qs["j1_seen_antijoin"](spark, SF))
    plans["j1_seen_antijoin"] = p
    checks.append(("j1 is a LeftAnti join, no cartesian product",
                   "LeftAnti" in p and "CartesianProduct" not in p, ""))

    # 3c. d3: the round-4 shape — signatures are a MAP-ONLY projection
    # (array higher-order functions, no explode/groupBy), so the only hash
    # exchanges in the whole plan are the LSH bucket groupBy + candidate
    # distinct; the verify joins are broadcasts. The query wrapper eagerly
    # checkpoints, so audit the LAZY plan via the persisted-caller API.
    from ghcrawler_spark.operators import dedup as D

    _docs = spark.read.parquet(f"{SF}/documents.parquet")
    _pl: list = []
    p = explain_str(D.minhash_lsh_pairs(_docs, "doc_id", "text", persisted=_pl))
    for _f in _pl:
        _f.unpersist()
    plans["d3_minhash_lsh"] = p
    solo_shingle = re.search(r"keys \[1\]: \[shingle#\d+", p)
    checks.append(("d3 has no full pairs-table join (no single-key shingle self-join)",
                   solo_shingle is None,
                   "found a join keyed on shingle alone — that's the all-pairs blow-up"))
    n_hash_ex = len(re.findall(r"Exchange hashpartitioning", p))
    checks.append(("d3 signatures are map-only: <=5 hash exchanges (bucket "
                   "groupBy, candidate distincts, verify equi-join)",
                   n_hash_ex <= 5,
                   f"found {n_hash_ex} hash exchanges — signature build must not shuffle"))
    checks.append(("d3 verify joins broadcast the candidate side",
                   "BroadcastHashJoin" in p, "expect BroadcastHashJoin"))

    # round-5 (ADVICE r4 medium): the verify broadcasts must carry BARE id
    # pairs only — a broadcast whose rows embed the per-doc shingle arrays
    # is O(candidates × shingles) through the driver, unbounded by any gate
    def _bcast_carries(plan: str, col_re: str) -> bool:
        for m in re.finditer(r"\(\d+\) BroadcastExchange", plan):
            end = plan.find("\n(", m.start() + 2)
            if end == -1:  # last node: block runs to end of the plan text
                end = len(plan)
            if re.search(col_re, plan[m.start():end]):
                return True
        return False

    checks.append(("d3 broadcasts carry bare id pairs only (no shingle "
                   "arrays through the driver)",
                   not _bcast_carries(p, r"\bhs(_[ab])?#"),
                   "a BroadcastExchange input contains a shingle-hash array"))

    # 3d. n3 multiprobe: probe fan-out must stay an equi-join on the bucket
    # (no cartesian), with the small query side broadcast
    p = explain_str(qs["n3_ann_multiprobe"](spark, SF))
    plans["n3_ann_multiprobe"] = p
    checks.append(("n3 multiprobe is a broadcast equi-join on the bucket",
                   "BroadcastHashJoin" in p and "CartesianProduct" not in p, ""))

    # 4b. a2 compute budget: one hash exchange on host, then a running-sum
    # window — no global (empty-partition-key) window
    p = explain_str(qs["a2_compute_budget"](spark, SF))
    plans["a2_compute_budget"] = p
    checks.append(("a2 cumulative window partitions by host (no global sort)",
                   "CartesianProduct" not in p and "host" in p, ""))

    # 4c. s7 tombstone visibility (ROUND SPEC v5): the MOR last-writer-wins
    # window must hash-partition on the doc key — a global (SinglePartition)
    # window would serialize the whole store through one task at 10^10 docs
    p = explain_str(qs["s7_tombstone_visibility"](spark, SF))
    plans["s7_tombstone_visibility"] = p
    checks.append(("s7 tombstone window partitions by key (no single-partition sort)",
                   "hashpartitioning(user_id" in p
                   and "Exchange SinglePartition" not in p, ""))

    # 6. flagship: windows partitioned on host / tier, no cartesian product
    p = explain_str(qs["flagship_crawl_round"](spark, SF))
    plans["flagship_crawl_round"] = p
    checks.append(("flagship windows partition by host (politeness)",
                   "partitionBy" not in p and "host" in p, "host key present in plan"))
    checks.append(("flagship has no cartesian product",
                   "CartesianProduct" not in p, ""))
    checks.append(("flagship anti-join present (seen-set)",
                   "LeftAnti" in p, ""))

    # 6b. w6 pagination fan-out: pages 2..last materialize as a GENERATE
    # (explode of sequence) — one output row per page, no join, no driver
    # loop; the same expression shape the round engine's paginate_types
    # stage unions into the child funnel (pinned engine==sim by
    # tests/test_spec_v2.py::test_pagination_fanout_in_engine)
    p = explain_str(qs["w6_pagination_fanout"](spark, SF))
    plans["w6_pagination_fanout"] = p
    checks.append(("w6 pagination is explode(sequence(...)) — a Generate, not a join",
                   "Generate" in p and "explode(sequence(" in p,
                   "expect a Generate over explode(sequence(...))"))

    # 7. shard-local Bloom probe (the 10^10-key path): candidates COGROUP
    # with exactly their own shard row — no broadcast/driver copy of the
    # whole shard table anywhere in the plan
    from ghcrawler_spark.operators.seen import BloomShardTable

    seen_keys = spark.range(0, 50_000).select(F.col("id").alias("url_hash"))
    tbl = BloomShardTable.build(seen_keys, num_shards=8, fpr=0.01)
    cand = spark.range(25_000, 75_000).select(F.col("id").alias("url_hash"))
    p = explain_str(tbl.probe(cand))
    plans["bloom_shard_local_probe"] = p
    checks.append(("bloom shard-local probe is a cogroup with no all-shards broadcast",
                   "FlatMapCoGroupsInPandas" in p and "BroadcastExchange" not in p,
                   "expect FlatMapCoGroupsInPandas and no BroadcastExchange"))
    tbl.destroy()

    # 7b. cuckoo probe and merge keep the same discipline: cogroup on the
    # shard id, no broadcast/driver copy of the fingerprint tables
    from ghcrawler_spark.operators.cuckoo import CuckooShardTable

    ck = CuckooShardTable.build(seen_keys, num_shards=8)
    p = explain_str(ck.probe(cand))
    plans["cuckoo_shard_local_probe"] = p
    checks.append(("cuckoo probe is a cogroup with no all-shards broadcast",
                   "FlatMapCoGroupsInPandas" in p and "BroadcastExchange" not in p,
                   "expect FlatMapCoGroupsInPandas and no BroadcastExchange"))
    ck_m = ck.merged(cand)
    p = explain_str(ck_m.shards_df)
    plans["cuckoo_merge"] = p
    checks.append(("cuckoo incremental merge is a cogroup (O(batch), no rescan)",
                   "FlatMapCoGroupsInPandas" in p and "BroadcastExchange" not in p,
                   "expect FlatMapCoGroupsInPandas and no BroadcastExchange"))
    ck_m.destroy()
    ck.destroy()

    # 7c. exact-confirm discipline: the broadcast confirm path never
    # EXCHANGES the seen side (the seen set is O(total crawled); every
    # shuffle of it would make a round O(history)). The suspect keys go out
    # as broadcasts; the only joins on the confirm path are BroadcastHashJoin
    # LeftSemi (seen scanned map-side) + LeftAnti — no SortMergeJoin and no
    # hash-exchange of the seen scan anywhere in the plan.
    from ghcrawler_spark.operators.seen import filter_unseen

    tbl2 = BloomShardTable.build(seen_keys, num_shards=8, fpr=0.01)
    p = explain_str(
        filter_unseen(cand, seen_keys, tbl2, confirm_broadcast=True)
    )
    plans["seen_confirm_broadcast"] = p
    checks.append(("seen exact-confirm broadcasts suspects; seen side never exchanges",
                   "SortMergeJoin" not in p
                   and p.count("BroadcastHashJoin") >= 2
                   and "LeftSemi" in p and "LeftAnti" in p,
                   "expect 2+ BroadcastHashJoins (LeftSemi+LeftAnti), no SortMergeJoin"))
    tbl2.destroy()

    # 7d. admin enqueue (queue_requests): the in-flight bounce must follow
    # the same never-shuffle-the-big-side shape — the batch broadcasts into
    # the frontier scan (LeftSemi) and the ≤batch hit set broadcasts back
    # (LeftAnti); the frontier never exchanges
    from ghcrawler_spark.plans.round_engine import inflight_bounce

    batch = spark.range(0, 200).select(
        F.concat(F.lit("http://q.test/u"), F.col("id").cast("string")
                 ).alias("url"),
        F.lit("image").alias("type"),
    )
    big_frontier = spark.range(0, 500_000).select(
        F.concat(F.lit("http://q.test/u"), (F.col("id") * 3).cast("string")
                 ).alias("url")
    )
    p = explain_str(inflight_bounce(batch, big_frontier))
    plans["queue_requests_inflight_bounce"] = p
    checks.append(("admin enqueue bounce broadcasts the batch; frontier never exchanges",
                   "SortMergeJoin" not in p
                   and p.count("BroadcastHashJoin") >= 2
                   and "LeftSemi" in p and "LeftAnti" in p,
                   "expect 2+ BroadcastHashJoins (LeftSemi+LeftAnti), no SortMergeJoin"))

    # 8. trait caps: budgeted traits go through the salted two-phase top-k
    # (pre-cut per (trait, salt) BEFORE the exact single-key trait window),
    # so no one-task window ever sorts the full polite set
    from ghcrawler_spark.operators.frontier_ops import trait_cap

    tdf = spark.range(0, 10_000).select(
        F.concat(F.lit("http://t"), (F.col("id") % 7).cast("string"),
                 F.lit(".test/u"), F.col("id").cast("string")).alias("url"),
        F.when(F.col("id") % 3 == 0, "image").otherwise("page").alias("type"),
        (F.col("id") + 1).alias("enqueue_seq"),
    )
    p = explain_str(trait_cap(tdf, {"image": 5}, None, salt=8))
    plans["trait_cap"] = p
    pre_pos = p.find("_tsalt")
    exact_pos = p.find("_tr_rank")
    checks.append(("trait cap: salted pre-cut window feeds the exact trait rank",
                   pre_pos != -1 and exact_pos != -1 and pre_pos < exact_pos,
                   "formatted plan lists operators leaf-first: the (trait,salt) "
                   "pre-cut must appear before the single-key exact rank"))

    # 10. multimodal lanes: payload binaries must never cross an Exchange —
    # decode/feature projections run map-side over the scan; the only
    # shuffles in m1/m2 are the final fixed-width-row sorts. Checked from
    # the formatted plan's detail blocks: no Exchange operator may list a
    # `bytes` column among its inputs.
    import re as _re

    def exchange_carries(plan: str, col: str) -> bool:
        # the single scan-normalization exchange (hashpartitioning on
        # xxhash64 of the key column, round 6) is exempt: it repartitions
        # the raw scan rows once; the asserts below pin that no LATER
        # exchange carries the heavy column
        for m in _re.finditer(r"\(\d+\) (?:Exchange|BroadcastExchange)", plan):
            block = plan[m.start() : plan.find("\n(", m.start() + 2)]
            if "hashpartitioning(xxhash64(" in block:
                continue
            if col in block:
                return True
        return False

    for mq, node in (
        ("m1_audio_features", "ArrowEvalPython"),
        ("m2_video_frame_sample", "MapInPandas"),
    ):
        p = explain_str(qs[mq](spark, SF))
        plans[mq] = p
        checks.append((f"{mq}: payload bytes never cross an Exchange",
                       node in p and not exchange_carries(p, "bytes"),
                       f"expect {node} and no Exchange input containing `bytes`"))

    # corpus-curation lane (round 4): t4/t5/t6 are map-only; d9's benchmark
    # shingle set must broadcast (the corpus side never builds a hash table
    # of itself); d8's only shuffled payload is fixed-width (doc_id, hash) —
    # the text column must not cross an Exchange.
    # v3 joins the lane in round 5: the LAION-style metadata gate must stay
    # map-only — at 100 TB it runs before any pixel decode, so an Exchange
    # here would shuffle the whole corpus to answer a per-row predicate.
    for cq in ("t4_pii_scrub", "t5_gopher_repetition", "t6_domain_mix",
               "v3_image_quality_gate"):
        p = explain_str(qs[cq](spark, SF))
        plans[cq] = p
        checks.append((f"{cq} is map-only beyond the scan normalizer",
                       only_scan_normalizer(p), ""))
    p = explain_str(qs["d9_decontaminate"](spark, SF))
    plans["d9_decontaminate"] = p
    checks.append(("d9 broadcasts the benchmark shingle set",
                   "BroadcastHashJoin" in p or "BroadcastExchange" in p,
                   "benchmark side must broadcast"))
    p = explain_str(qs["d8_chunk_dedup"](spark, SF))
    plans["d8_chunk_dedup"] = p
    checks.append(("d8 chunk dedup never shuffles document text",
                   not exchange_carries(p, "text") and "CartesianProduct" not in p,
                   "only (doc_id, ch_hash) rows may cross an Exchange"))
    # d10's query function eagerly checkpoints (cache discipline), which
    # would leave only a checkpoint-scan plan — audit the lazy operator.
    from ghcrawler_spark.operators import dedup as D

    _docs = spark.read.parquet(f"{SF}/documents.parquet")
    _d10_caches: list = []
    _lazy = D.minhash_lsh_incremental(
        _docs.filter("doc_id % 10 != 9"), _docs.filter("doc_id % 10 = 9"),
        "doc_id", "text", k=3, threshold=0.5, materialize=False,
        persisted=_d10_caches)
    p = explain_str(_lazy)
    for _f in _d10_caches:
        _f.unpersist()
    plans["d10_incremental_dedup"] = p
    checks.append(("d10 incremental dedup: delta/candidates broadcast, corpus text never exchanges",
                   "BroadcastHashJoin" in p and not exchange_carries(p, "text")
                   and "CartesianProduct" not in p,
                   "base corpus side must never build a shuffle of its text"))
    p = explain_str(qs["n5_knn_join"](spark, SF))
    plans["n5_knn_join"] = p
    checks.append(("n5 knn join: per-(bucket, pair-cell) grouped kernel, no cartesian",
                   "CartesianProduct" not in p
                   and "FlatMapGroupsInPandas" in p
                   and "bucket" in p,
                   "expect a bucket/pair-cell grouped pandas kernel "
                   "(round-6 shape); all-pairs join is the failure"))

    # d11 semdedup: the epsilon-ball prune must stay bounded PER CLUSTER
    # (SemDeDup's whole point — the clustering bounds the quadratic term); a
    # CartesianProduct here would mean the all-pairs cosine the operator
    # exists to avoid. Round-6 shape: the prune is a grouped pandas kernel
    # keyed on (cid, pair-cell) — the exchange is a hash partitioning on
    # cid, never an unkeyed cross join — and the kept-flag attach stays an
    # equi-join on vec_id.
    p = explain_str(qs["d11_semdedup"](spark, SF))
    plans["d11_semdedup"] = p
    checks.append(("d11 semdedup prune is per-cluster (grouped kernel on cid, no cartesian)",
                   "CartesianProduct" not in p
                   and "cid" in p
                   and "FlatMapGroupsInPandas" in p
                   and any(j in p for j in
                           ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin")),
                   "expect a cid-keyed grouped kernel + vec_id equi-join; "
                   "all-pairs cosine is the failure"))

    # g1: fixed-point pagerank — every iteration must be an equi-join +
    # aggregate; the only nested-loop joins allowed are the 1-row
    # consts/dangling broadcasts (a CartesianProduct would mean the node
    # count or dangling mass is being recomputed per-row the wrong way)
    from ghcrawler_spark.operators import graph as G

    _pers: list = []
    _ev = spark.read.parquet(f"{SF}/events.parquet")
    _edges = (
        _ev.select(
            (F.col("user_id") % 40).cast("string").alias("src"),
            (F.col("event_id") % 37).cast("string").alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    p = explain_str(G.pagerank_fixed_point(_edges, persisted=_pers))
    plans["g1_host_rank"] = p
    checks.append(("g1 pagerank: equi-join iterations, 1-row broadcasts only (no cartesian)",
                   "CartesianProduct" not in p
                   and "BroadcastNestedLoopJoin" in p
                   and any(j in p for j in
                           ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin")),
                   "cross joins must be 1-row broadcast nested loops; "
                   "rank⋈edges must be an equi-join"))
    for _df in _pers:
        _df.unpersist()

    # report
    failed = 0
    lines = ["# PLANS — physical-plan audit (tools/audit_plans.py)", ""]
    for name, ok, detail in checks:
        status = "PASS" if ok else "FAIL"
        if not ok:
            failed += 1
        print(f"{status} {name}" + (f" ({detail})" if detail and not ok else ""))
        lines.append(f"- **{status}** {name}")
    lines.append("")
    for qname in ("j2_rehydrate_join", "f8_url_canonicalize", "flagship_crawl_round"):
        lines.append(f"## {qname}\n\n```\n{plans[qname].strip()}\n```\n")
    with open(os.path.join(ROOT, "PLANS.md"), "w") as f:
        f.write("\n".join(lines))
    print(f"\n{failed} failed checks; plans written to PLANS.md")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
