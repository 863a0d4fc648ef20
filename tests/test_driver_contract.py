"""Driver-contract smoke inside pytest: a fast subset of queries() checked
against oracle_sql() through DuckDB at sf0.001 (the full set runs via
scripts/check_contract.py at sf0.01)."""

from __future__ import annotations

import math

import duckdb
import pytest

import __spark_entry__ as entrymod

SF = "/root/testdata/sf0.001"
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

FAST_SUBSET = [
    "q01_pricing_summary",
    "q_top_orders_per_customer",
    "q_rollup_lineitem",
    "q_sessionize",
    "q_events_json",
    "q_url_canonicalize",
    "q_dedup_exact",
    "q_dedup_minhash_lsh",
    "q_ann_bruteforce",
    "q_text_quality",
    "q_langid",
    "q_fingerprint",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')"
        )
    return con


def _canon(df):
    cols = sorted(df.columns)
    rows = []
    for row in df[cols].itertuples(index=False):
        rows.append(
            tuple(
                round(v, 6) if isinstance(v, float) and not math.isnan(v) else v
                for v in row
            )
        )
    return cols, sorted(rows, key=repr)


@pytest.mark.parametrize("name", FAST_SUBSET)
def test_query_matches_oracle(spark, duck, name):
    sp = entrymod.queries()[name](spark, SF).toPandas()
    dk = duck.execute(entrymod.oracle_sql()[name]).df()
    sc, sr = _canon(sp)
    dc, dr = _canon(dk)
    assert sc == dc
    assert len(sr) == len(dr)
    assert sr == dr


def test_registry_consistency():
    qs, osql = entrymod.queries(), entrymod.oracle_sql()
    assert set(osql) <= set(qs)
    assert len(qs) >= 25


def test_minhash_sub_k_docs_emit_no_pair_like_sql_twin(spark):
    """Documents shorter than k=3 words have no shingles, hence a NULL
    signature, and NULL never equals NULL in the band equi-join: even two
    identical short texts form no pair. The DuckDB twin agrees, so the old
    string-bucket form (which put every sub-k doc in one empty-string
    bucket) cannot come back silently."""
    import pandas as pd

    from paperchase_crawler_spark.operators.dedup import minhash_lsh_pairs
    from paperchase_crawler_spark.plans.driver_queries import SQL_MINHASH

    long_text = "the quick brown fox jumps over the lazy dog today"
    rows = [
        (1, long_text),
        (2, long_text),
        (3, long_text + " again"),
        (4, "alpha beta"),
        (5, "alpha beta"),
        (6, "solo"),
        (7, ""),
    ]
    got = sorted(
        tuple(r)
        for r in minhash_lsh_pairs(
            spark.createDataFrame(rows, "doc_id long, text string"),
            "text", "doc_id", k=3, n_hashes=8, bands=4,
        ).collect()
    )
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
    want = sorted(tuple(r) for r in con.execute(SQL_MINHASH).fetchall())
    assert got == want
    assert (1, 2) in got and not {4, 5, 6, 7} & {d for pair in got for d in pair}
