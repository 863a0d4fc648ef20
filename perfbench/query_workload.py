"""The ``query_suite`` workload: headline driver queries over seeded tables.

Set-up writes the analytics tables and runs the warm-up passes; the first warm-up pass collects every query's result for the
DuckDB check, the rest write to the noop sink like the timed passes. An op is
one query: build the DataFrame, then write it to the noop sink. An item is a
query. After the timed region each collected result is compared with the
query's ``oracle_sql()`` twin on DuckDB.
"""

from __future__ import annotations

import math
import os
import time
from statistics import median

from . import spark_env
from .checks import duckdb_views, query_result_equal
from .tables import write_tables
from .trace import Tracer, fold_events, install_query_spans, read_event_log


def run(spark, cfg: dict, seed: int, seconds: float, tmp: str, tracer: Tracer) -> dict:
    import __spark_entry__ as entry

    if tracer.enabled:
        install_query_spans(tracer)
    tables = os.path.join(tmp, "tables")
    t = time.time()
    rows = write_tables(tables, seed, cfg["scale"])

    qs = entry.queries()
    names = [q for fam in cfg["families"].values() for q in fam]
    failed_q: set[str] = set()
    results = {}
    for name in names:
        try:
            results[name] = qs[name](spark, tables).toPandas()
        except Exception as e:  # a failed query is counted, not fatal to the run
            print(f"query_suite: {name} raised {e!r}", flush=True)
            failed_q.add(name)
    for _ in range(cfg["warmup_ops"] - 1):
        for name in names:
            if name not in failed_q:
                qs[name](spark, tables).write.format("noop").mode("overwrite").save()
    setup_s = time.time() - t

    n_passes = max(cfg["min_ops"], math.ceil(seconds / cfg["nominal_op_s"]))
    # per pass: name -> (build_s, write_s)
    passes: list[dict[str, tuple[float, float]]] = []
    t_start = time.time()
    for _ in range(n_passes):
        times = {}
        for name in names:
            if name in failed_q:
                continue
            try:
                with tracer.op(f"query.{name}"):
                    t0 = time.time()
                    with tracer.span("query.build", lazy=True):
                        df = qs[name](spark, tables)
                    t1 = time.time()
                    with tracer.span("query.write"):
                        df.write.format("noop").mode("overwrite").save()
                    times[name] = (t1 - t0, time.time() - t1)
            except Exception as e:
                print(f"query_suite: {name} raised {e!r}", flush=True)
                failed_q.add(name)
        passes.append(times)
    wall_s = time.time() - t_start
    peak = spark_env.peak_rss_mb(spark)

    # verification, outside every metric
    con = duckdb_views(tables)
    osql = entry.oracle_sql()
    wrong = {
        n for n, pdf in results.items()
        if not query_result_equal(pdf, con.execute(osql[n]).df())
    }
    con.close()
    bad = failed_q | wrong
    op_times = [b + w for p in passes for n, (b, w) in p.items() if n not in bad]
    res = {
        "setup_s": setup_s,
        "wall_s": wall_s,
        "timed": (t_start, t_start + wall_s),
        "op_times": op_times,
        "items": len(op_times),
        "attempted": n_passes * len(names),
        "failed": n_passes * len(bad),
        "correct": not bad,
        "peak_rss": peak,
        "report": [
            f"query_suite: {len(names)} queries, scale {cfg['scale']} "
            f"(lineitem {rows['lineitem']} rows, documents {rows['documents']}), "
            f"{cfg['warmup_ops']} warm-up + {n_passes} timed passes; "
            f"DuckDB-equal {len(names) - len(bad)}/{len(names)}"
            + (f", mismatched: {sorted(bad)}" if bad else "")
        ],
    }
    if tracer.enabled:
        res["layers"] = _layers(cfg, passes, names, tmp, t_start, t_start + wall_s)
    return res


def _layers(cfg, passes, names, tmp, t0, t1) -> dict:
    def per_pass(fn):
        return float(median(fn(p) for p in passes))

    L = {
        f"q.{n}_s": per_pass(lambda p, n=n: sum(p.get(n, (0.0, 0.0))))
        for n in names
    }
    L["queries.build_s"] = per_pass(lambda p: sum(b for b, _ in p.values()))
    L["queries.write_s"] = per_pass(lambda p: sum(w for _, w in p.values()))
    for fam, qnames in cfg["families"].items():
        L[f"family.{fam}_s"] = per_pass(
            lambda p, q=qnames: sum(sum(p[n]) for n in q if n in p)
        )
    events = read_event_log(os.path.join(tmp, "eventlog"))
    L.update({k: v for k, v in fold_events(events, t0, t1).items() if k.startswith("spark.")})
    return L
