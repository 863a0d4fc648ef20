"""Output checks, kept apart from the timed code so the self-test can show
that each one fires on a corrupted result."""

from __future__ import annotations


def crawl_round_mismatches(
    engine_ordering: list[tuple], oracle_ordering: list[tuple], rounds: list[int]
) -> list[int]:
    """Rounds whose (seq, round, canon_url) rows differ from the oracle's."""
    bad = []
    for r in rounds:
        eng = sorted(row for row in engine_ordering if row[1] == r)
        ref = [row for row in oracle_ordering if row[1] == r]
        if eng != ref:
            bad.append(r)
    return bad


def seen_set_mismatch(engine_seen: set[int], oracle_seen: set[int]) -> dict[str, int]:
    """How many URL hashes only the engine, or only the oracle, has seen;
    empty when the two seen sets are equal."""
    extra, missing = len(engine_seen - oracle_seen), len(oracle_seen - engine_seen)
    return {k: v for k, v in (("extra", extra), ("missing", missing)) if v}


def query_result_equal(spark_pdf, duckdb_pdf) -> bool:
    """Same columns, row count and order-insensitive values, compared the
    way scripts/check_contract.py compares a query with its DuckDB twin."""
    from scripts.check_contract import _canon

    return _canon(spark_pdf) == _canon(duckdb_pdf)


def duckdb_views(tables_dir: str):
    """A DuckDB connection with one view per analytics table."""
    import duckdb

    from scripts.check_contract import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables_dir}/{t}.parquet')"
        )
    return con
