"""Driver-contract smoke: entry() returns rows with a stable schema; a fast
subset of queries() matches oracle_sql() on DuckDB at sf0.001 (the full
25-query sweep is tools/check_parity.py at sf0.01)."""

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as entrymod

SF = "/root/testdata/sf0.001"
FAST_SUBSET = [
    "s1_tier_quota_pop",
    "w1_weighted_rotation",
    "j1_seen_antijoin",
    "f8_url_canonicalize",
    "a3_queue_depth",
    "d1_dedup_exact",
    "t2_fingerprint",
    "flagship_crawl_round",
]

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def oracle_con():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    return con


def _norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif str(df[c].dtype).startswith("float"):
            df[c] = df[c].round(9)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def test_entry_contract(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert {"pop_seq", "tier", "event_id"} <= set(df.columns)
    assert [r.asDict() for r in entrymod.entry(spark).collect()] == [
        r.asDict() for r in rows
    ]


# binary/image pipelines are not DuckDB-expressible — registered without an
# oracle on purpose and held to the weaker rows-only check; each maps to the
# columns its frame must have
ORACLE_EXEMPT = {
    "v1_image_validation": {"image_id", "fmt", "psnr_db", "caption_ok", "valid"},
}


def test_every_query_has_oracle():
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    assert set(oracles) == set(qs) - set(ORACLE_EXEMPT)
    assert set(ORACLE_EXEMPT) <= set(qs)


def _assert_parity(spark, oracle_con, name: str) -> None:
    """The Spark query equals its DuckDB oracle at SF: row count, column set
    and normalized values."""
    sdf = entrymod.queries()[name](spark, SF).toPandas()
    odf = oracle_con.execute(entrymod.oracle_sql()[name]).df()
    assert len(sdf) == len(odf), f"{name}: rowcount {len(sdf)} vs {len(odf)}"
    assert sorted(sdf.columns) == sorted(odf.columns), f"{name}: columns"
    a, b = _norm(sdf), _norm(odf)
    assert a.equals(b), f"{name}: value mismatch"


@pytest.mark.parametrize("name", FAST_SUBSET)
def test_query_oracle_parity(spark, oracle_con, name):
    _assert_parity(spark, oracle_con, name)


# FULL-registry gate (VERDICT r5 task 1, second half): the driver's
# correctness artifact caps at 50 rows in registration order, so queries
# registered past the window would otherwise only ever be checked by
# ad-hoc tools/check_parity.py runs. This parametrization covers every
# registered query at sf0.001 on every pytest run — slower than
# FAST_SUBSET (which stays as the quick smoke) but bounded: sf0.001 is
# ~6k rows/table and the Spark fixture is session-scoped.
_ALL_QUERIES = sorted(set(entrymod.queries()) - set(FAST_SUBSET))


@pytest.mark.parametrize("name", _ALL_QUERIES)
def test_full_registry_oracle_parity(spark, oracle_con, name):
    if name not in ORACLE_EXEMPT:
        _assert_parity(spark, oracle_con, name)
        return
    # rows-only check (binary pipeline): the query must run and return a
    # non-empty frame of the expected columns
    sdf = entrymod.queries()[name](spark, SF).toPandas()
    assert len(sdf) > 0, f"{name}: no rows"
    assert set(sdf.columns) == ORACLE_EXEMPT[name], f"{name}: columns"
