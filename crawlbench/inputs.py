"""Seeded input generator for the benchmark.

Everything here is plain Python/numpy: the same rows feed the Spark engine
(as DataFrames) and the pure-Python ``ReferenceSimulator``, so the output
check compares two consumers of one input.

- ``crawl_inputs`` builds a URL universe over uniform or Zipf-skewed hosts,
  a link table, a seed list and staged webhook event batches.
- ``write_registry_tables`` writes the ten TPC-H-style fixture tables the
  query registry reads (``region`` ... ``embeddings``) as parquet, with the
  schemas and value domains of the fixture data the registry was built on.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq


@dataclass
class CrawlShape:
    n_urls: int
    n_hosts: int
    zipf_s: float  # 0 = uniform hosts
    seed_frac: float
    degree: int = 4
    known_frac: float = 0.5  # share of out-links that point at known URLs
    n_malformed_seeds: int = 0
    robots_hosts: int = 0  # hosts whose /p1* paths robots.txt denies
    event_rounds: tuple = ()  # rounds whose start absorbs a staged batch
    events_per_batch: int = 0


@dataclass
class CrawlInputs:
    links: pd.DataFrame  # src_url, edge, dst_url, dst_type
    seeds: pd.DataFrame  # url, type, tier
    robots_deny: dict
    events: dict  # round -> DataFrame(url, type, ts)


def _url(host: int, page: int) -> str:
    return f"http://h{host:05d}.test/p{page}"


def _hosts(rng: np.random.Generator, n: int, n_hosts: int, zipf_s: float) -> np.ndarray:
    if zipf_s <= 0:
        return rng.integers(0, n_hosts, n)
    w = 1.0 / np.arange(1, n_hosts + 1) ** zipf_s
    return rng.choice(n_hosts, n, p=w / w.sum())


def crawl_inputs(seed: int, shape: CrawlShape) -> CrawlInputs:
    """URL i lives on host[i]. URLs [0, n_seed) are seeded. Each source links
    to ``degree`` targets: ``known_frac`` of them uniform over the URLs
    discovered so far (dedup work) and the rest to the next undiscovered
    URLs (enqueue work), so the frontier keeps growing."""
    rng = np.random.default_rng(seed)
    n = shape.n_urls
    host = _hosts(rng, n, shape.n_hosts, shape.zipf_s)
    urls = [_url(int(h), i) for i, h in enumerate(host)]
    n_seed = max(1, int(n * shape.seed_frac))
    n_fresh = shape.degree - int(round(shape.degree * shape.known_frac))

    src, dst = [], []
    for i in range(n):
        discovered = min(n, n_seed + n_fresh * i)
        targets = set(rng.integers(0, discovered, shape.degree - n_fresh).tolist())
        for k in range(n_fresh):
            j = n_seed + n_fresh * i + k
            targets.add(j if j < n else int(rng.integers(0, n)))
        targets.discard(i)
        for j in sorted(targets):
            src.append(urls[i])
            dst.append(urls[j])
    links = pd.DataFrame(
        {"src_url": src, "edge": "pages", "dst_url": dst, "dst_type": "page"}
    )

    seed_urls = urls[:n_seed] + [f"bad-seed-{k}" for k in range(shape.n_malformed_seeds)]
    seeds = pd.DataFrame({"url": seed_urls, "type": "page", "tier": "normal"})

    denied_hosts = sorted({int(h) for h in host[:n_seed]})[: shape.robots_hosts]
    robots_deny = {f"h{h:05d}.test": ["/p1"] for h in denied_hosts}

    events = {}
    t0 = dt.datetime(2024, 1, 1)
    for b, rnd in enumerate(shape.event_rounds):
        known = rng.integers(0, n, shape.events_per_batch // 2).tolist()
        ev_urls = [urls[j] for j in known] + [
            _url(int(host[k % n]), n + b * shape.events_per_batch + k)
            for k in range(shape.events_per_batch - len(known))
        ]
        ts = [t0 + dt.timedelta(seconds=rnd * 10_000 + k) for k in range(len(ev_urls))]
        events[rnd] = pd.DataFrame({"url": ev_urls, "type": "page", "ts": ts})
    return CrawlInputs(links, seeds, robots_deny, events)


def sim_links(links: pd.DataFrame) -> dict:
    """The simulator's link map: {src: sorted [(edge, dst, dst_type)]}."""
    out: dict = {}
    for s, e, d, t in links.itertuples(index=False):
        out.setdefault(s, []).append((e, d, t))
    for v in out.values():
        v.sort()
    return out


def sim_events(events: pd.DataFrame) -> list:
    """Staged-row twin of ``events_to_staged_rows`` for canonical URLs:
    event_ms is the UTC epoch millisecond of ts."""
    epoch = dt.datetime(1970, 1, 1)
    return [
        {"url": u, "type": t, "event_ms": (ts - epoch) // dt.timedelta(milliseconds=1)}
        for u, t, ts in events[["url", "type", "ts"]].itertuples(index=False)
    ]


# -- registry fixture tables ---------------------------------------------------

REGISTRY_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
_WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
_ADJ = ["blue", "hot", "small", "old", "red", "new", "cold", "large"]
_NOUN = ["bolt", "gear", "anvil", "ring", "rod", "plate", "widget", "gizmo"]


def _days(rng, n, start, end):
    span = (end - start).days
    return np.datetime64(start) + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def registry_tables(seed: int, sf: float) -> dict:
    rng = np.random.default_rng(seed)
    n_cust, n_supp = max(10, int(150_000 * sf)), max(5, int(10_000 * sf))
    n_part, n_ord = max(20, int(200_000 * sf)), max(100, int(1_500_000 * sf))
    n_line, n_ev = max(400, int(6_000_000 * sf)), max(100, int(1_000_000 * sf))
    i32 = lambda a: np.asarray(a, dtype=np.int32)  # noqa: E731

    t = {}
    t["region"] = pd.DataFrame({
        "r_regionkey": i32(range(5)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pd.DataFrame({
        "n_nationkey": i32(range(25)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": i32([i % 5 for i in range(25)]),
    })
    t["customer"] = pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": i32(rng.integers(0, 25, n_cust)),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
        ),
    })
    t["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": i32(rng.integers(0, 25, n_supp)),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    t["part"] = pd.DataFrame({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{rng.choice(_ADJ)} {rng.choice(_NOUN)}" for _ in range(n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(
            ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"], n_part
        ),
        "p_size": i32(rng.integers(1, 51, n_part)),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
    })
    t["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": _days(rng, n_ord, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
        ),
    })
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    t["lineitem"] = pd.DataFrame({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": i32(rng.integers(1, 8, n_line)),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100,
        "l_tax": rng.integers(0, 9, n_line) / 100,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _days(rng, n_line, dt.date(1995, 1, 2), dt.date(2001, 11, 4)),
    })
    us = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n_ev))
    t["events"] = pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.datetime64("2024-01-01T00:00:00", "us") + us.astype("timedelta64[us]"),
        "user_id": rng.integers(0, 150, n_ev).astype(np.int64),
        "event_type": rng.choice(["click", "view", "purchase", "signup", "error"], n_ev),
        "value": np.maximum(0.01, np.round(rng.exponential(50, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    t["documents"] = _documents(rng, 500)
    t["embeddings"] = _embeddings(rng, 500, 64, 10)
    return t


def _documents(rng, n):
    texts = []
    for i in range(n):
        if i > 20 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            words = texts[int(rng.integers(0, i))].split()
            texts.append(" ".join(words[1:] + ["dup"]))
        else:
            k = int(rng.integers(8, 90))
            texts.append(" ".join(rng.choice(_WORDS, k)))
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(
            ["en", "de", "es", "fr", "zh"], n, p=[0.44, 0.14, 0.14, 0.13, 0.15]
        ),
        "source": [f"src{s}" for s in rng.integers(0, 20, n)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    })


def _embeddings(rng, n, dim, n_labels):
    centers = rng.normal(size=(n_labels, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    label = rng.integers(0, n_labels, n)
    v = 0.15 * centers[label] + rng.normal(scale=1 / np.sqrt(dim), size=(n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pd.DataFrame({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": list(v),
        "label": label.astype(np.int32),
    })


def write_registry_tables(seed: int, sf: float, out_dir: str) -> dict:
    """Write the tables as single-file parquet; returns {table: rows}."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, df in registry_tables(seed, sf).items():
        schema = None
        if name == "embeddings":
            schema = pa.schema([
                ("vec_id", pa.int64()),
                ("embedding", pa.list_(pa.float32())),
                ("label", pa.int32()),
            ])
        tbl = pa.Table.from_pandas(df, schema=schema, preserve_index=False)
        for c in tbl.schema.names:  # timestamps as microseconds, like the fixtures
            if pa.types.is_timestamp(tbl.schema.field(c).type):
                i = tbl.schema.get_field_index(c)
                tbl = tbl.set_column(i, c, tbl.column(c).cast(pa.timestamp("us")))
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = len(df)
    return rows
