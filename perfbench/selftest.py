"""Shows that every output check of the benchmark fires on a corrupted
result, at tiny sizes and without Spark: the oracle crawl and the DuckDB
query results stand in for correct engine output.

    python3 -m perfbench.selftest        (from the repository root)

Exits 0 when each check accepts the correct result and rejects every
corruption; prints one line per case.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

from .checks import (
    crawl_round_mismatches,
    duckdb_views,
    query_result_equal,
    seen_set_mismatch,
)
from .crawl_workload import seed_urls
from .tables import write_tables

HERE = os.path.dirname(os.path.abspath(__file__))


def _crawl_cases() -> list[tuple[str, bool]]:
    from oracle.crawler import crawl

    res = crawl(seed_urls(7, 5), rounds=3, round_budget=20)
    good = list(res.ordering)
    rounds = [1, 2, 3]
    r2 = [i for i, row in enumerate(good) if row[1] == 2]
    swapped = list(good)
    a, b = r2[0], r2[1]
    swapped[a] = (good[a][0], 2, good[b][2])
    swapped[b] = (good[b][0], 2, good[a][2])
    dropped = [row for row in good if row != [r for r in good if r[1] == 3][-1]]
    renumbered = [(s + 1 if rd == 1 else s, rd, u) for s, rd, u in good]
    seen = set(res.seen)
    seen_missing = seen - {min(seen)}
    seen_extra = seen | {max(seen) + 1}
    return [
        ("crawl ordering: correct result accepted", not crawl_round_mismatches(good, res.ordering, rounds)),
        ("crawl ordering: two URLs swapped in round 2", crawl_round_mismatches(swapped, res.ordering, rounds) == [2]),
        ("crawl ordering: last URL of round 3 dropped", crawl_round_mismatches(dropped, res.ordering, rounds) == [3]),
        ("crawl ordering: round 1 seq shifted", crawl_round_mismatches(renumbered, res.ordering, rounds) == [1]),
        ("crawl seen set: correct set accepted", not seen_set_mismatch(set(seen), res.seen)),
        ("crawl seen set: one hash missing", seen_set_mismatch(seen_missing, res.seen) == {"missing": 1}),
        ("crawl seen set: one hash added", seen_set_mismatch(seen_extra, res.seen) == {"extra": 1}),
    ]


def _query_cases(tmp: str) -> list[tuple[str, bool]]:
    from __spark_entry__ import oracle_sql

    with open(os.path.join(HERE, "spec.json")) as f:
        families = json.load(f)["workloads"]["query_suite"]["families"]
    write_tables(tmp, seed=7, scale=0.001)
    con = duckdb_views(tmp)
    osql = oracle_sql()
    cases = []
    for name in [q for fam in families.values() for q in fam]:
        ref = con.execute(osql[name]).df()
        changed = ref.copy()
        col = changed.columns[-1]
        first = changed[col].iloc[0]
        changed[col] = changed[col].astype(object)
        changed.loc[changed.index[0], col] = f"{first}x" if isinstance(first, str) else first + 1
        cases += [
            (f"{name}: correct result accepted", query_result_equal(ref.copy(), ref)),
            (f"{name}: one value changed", not query_result_equal(changed, ref)),
            (f"{name}: one row dropped", not query_result_equal(ref.iloc[1:], ref)),
            (f"{name}: column renamed", not query_result_equal(ref.rename(columns={col: "x"}), ref)),
        ]
    con.close()
    return cases


def main() -> int:
    scratch = os.path.join(os.path.dirname(HERE), ".perfbench_tmp")
    os.makedirs(scratch, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=scratch) as tmp:
        cases = _crawl_cases() + _query_cases(tmp)
    try:
        os.rmdir(scratch)
    except OSError:  # a benchmark run's temp dir is still there
        pass
    for label, ok in cases:
        print(f"{'ok  ' if ok else 'FAIL'} {label}")
    failed = sum(1 for _, ok in cases if not ok)
    print(f"{len(cases) - failed}/{len(cases)} self-test cases pass")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
