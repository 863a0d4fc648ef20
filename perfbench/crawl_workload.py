"""The ``crawl`` workload: a BSP crawl from a seeded seed-URL list.

Set-up is ``CrawlRunner.init_from_seeds`` in a fresh workdir plus the
configured warm-up rounds. An op is one ``run_round()``; an item is a fetched
URL. After the timed region every timed round's ordering rows, and the final
URL-seen set, are compared with ``oracle.crawler.crawl`` on the same seeds.
"""

from __future__ import annotations

import math
import os
import time
from statistics import median

import numpy as np

from . import spark_env
from .checks import crawl_round_mismatches, seen_set_mismatch
from .trace import Tracer, fold_events, install_crawl_spans, read_event_log

TABLES = (
    "frontier", "corpus", "seen", "ordering", "bloom_shards", "host_touch",
    "crawl_log",
)


def seed_urls(seed: int, n: int) -> list[str]:
    """n seed URLs on n distinct hosts of the simweb universe, with the hosts
    and page numbers drawn from ``seed``."""
    from paperchase_crawler_spark import simweb

    rng = np.random.default_rng(seed)
    hosts = rng.choice(simweb.HOSTS, n, replace=False)
    pages = rng.integers(0, 10_000, n)
    return [f"https://{simweb.host_name(int(h))}/page/{int(p)}" for h, p in zip(hosts, pages)]


def _data_files(workdir: str) -> dict[str, int]:
    out = {}
    for table in TABLES:
        for root, _, files in os.walk(os.path.join(workdir, table, "data")):
            for f in files:
                if f.endswith(".parquet"):
                    path = os.path.join(root, f)
                    out[path] = os.path.getsize(path)
    return out


def run(spark, cfg: dict, seed: int, seconds: float, tmp: str, tracer: Tracer) -> dict:
    from oracle.crawler import crawl as oracle_crawl
    from paperchase_crawler_spark.operators.seen import BloomSeen
    from paperchase_crawler_spark.plans.crawl import CrawlRunner

    clocks = install_crawl_spans(tracer, spark) if tracer.enabled else {}
    workdir = os.path.join(tmp, "crawl")
    seeds = seed_urls(seed, cfg["seeds"])
    t = time.time()
    runner = CrawlRunner(
        spark, workdir, round_budget=cfg["round_budget"], bloom=BloomSeen(**cfg["bloom"])
    )
    runner.init_from_seeds(seeds)
    for _ in range(cfg["warmup_ops"]):
        runner.run_round()
    setup_s = time.time() - t

    n_ops = max(cfg["min_ops"], math.ceil(seconds / cfg["nominal_op_s"]))
    ops: list[dict] = []
    t_start = time.time()
    for _ in range(n_ops):
        files_before = _data_files(workdir) if tracer.enabled else None
        clocks_before = {k: acc.value for k, acc in clocks.items()}
        t0 = time.time()
        try:
            with tracer.op("crawl.run_round"):
                out = runner.run_round()
        except Exception as e:  # a failed op is counted, not fatal to the run
            print(f"crawl: round {runner.round + 1} raised {e!r}", flush=True)
            break
        op = {"t0": t0, "t1": time.time(), "out": out}
        if tracer.enabled:
            after = _data_files(workdir)
            new = [p for p in after if p not in files_before]
            op["files"], op["bytes"] = len(new), sum(after[p] for p in new)
            op["kernel_s"] = {k: acc.value - clocks_before[k] for k, acc in clocks.items()}
        ops.append(op)
    wall_s = time.time() - t_start
    peak = spark_env.peak_rss_mb(spark)

    # verification, outside every metric
    rounds = [o["out"]["round"] for o in ops]
    oracle = oracle_crawl(seeds, rounds=runner.round, round_budget=cfg["round_budget"])
    engine_ordering = [
        (r["seq"], r["round"], r["canon_url"]) for r in runner.ordering_df().collect()
    ]
    bad = set(crawl_round_mismatches(engine_ordering, oracle.ordering, rounds))
    seen_diff = seen_set_mismatch(
        {r["url_hash"] for r in runner.seen_df().collect()}, oracle.seen
    )
    failed = n_ops - len(ops) + len(bad)
    res = {
        "setup_s": setup_s,
        "wall_s": wall_s,
        "timed": (t_start, t_start + wall_s),
        "op_times": [o["t1"] - o["t0"] for o in ops],
        "items": sum(o["out"]["n_selected"] for o in ops),
        "attempted": n_ops,
        "failed": failed,
        "correct": failed == 0 and not seen_diff,
        "peak_rss": peak,
        "report": [
            f"crawl: {len(seeds)} seeds, budget {cfg['round_budget']}/round, "
            f"{cfg['warmup_ops']} warm-up + {n_ops} timed rounds; "
            f"oracle-equal rounds {len(ops) - len(bad)}/{n_ops}, "
            f"seen set {'equal' if not seen_diff else f'differs {seen_diff}'}"
        ],
    }
    if tracer.enabled and ops:
        res["layers"], lines = _layers(tracer, runner, ops, tmp)
        res["report"] += lines
    return res


def _med(values) -> float:
    values = list(values)
    return float(median(values)) if values else 0.0


def _layers(tracer: Tracer, runner, ops: list[dict], tmp: str) -> tuple[dict, list[str]]:
    from paperchase_crawler_spark.sources.icetable import IceTable

    events = read_event_log(os.path.join(tmp, "eventlog"))
    per_round = []
    for o in ops:
        spans = tracer.within(o["t0"], o["t1"])
        writes = [s for s in spans if s["name"].startswith("icetable.")]
        chain = {t: 0.0 for t in TABLES}
        for s in writes:
            chain[s["attrs"]["table"]] += s["end"] - s["start"]
        ev = fold_events(events, o["t0"], o["t1"])
        compaction = [s["end"] - s["start"] for s in writes if s["attrs"]["op"] == "compaction"]
        phases = o["out"]["phase_sec"]
        per_round.append(
            {
                "round": o["out"]["round"],
                "op_s": o["t1"] - o["t0"],
                "phases": phases,
                "chain": chain,
                "critical": max(chain, key=chain.get),
                "jobs": ev["spark.jobs"],
                "tasks": ev["spark.tasks"],
                "max_stage_tasks": ev["max_stage_tasks"],
                "images_s": o["kernel_s"]["fetch_images"],
                "n_images": o["out"]["n_images"],
                "bloom_s": o["kernel_s"]["bloom_build"],
                "compaction_s": sum(compaction),
                "files": o["files"],
                "bytes": o["bytes"],
            }
        )

    # pruning and seen-filter decisions, from the crawl_log snapshot metas
    log = IceTable(os.path.join(runner.workdir, "crawl_log"))
    metas = {}
    for sid in log.snapshot_ids():
        meta = log.snapshot(sid)["meta"]
        if "select_pruning" in meta:
            metas[meta["round"]] = meta
    timed = [metas[p["round"]] for p in per_round if p["round"] in metas]
    prune = [m["select_pruning"] for m in timed]
    seen = [m["seen_filter"] for m in timed]

    L = {
        "crawl.select_s": _med(p["phases"]["select"] for p in per_round),
        "crawl.fetch_meta_s": _med(p["phases"]["fetch_meta"] for p in per_round),
        "crawl.expand_seen_s": _med(p["phases"]["expand_seen"] for p in per_round),
        "crawl.commit_s": _med(p["phases"]["commit"] for p in per_round),
        "crawl.phase_cover": _med(sum(p["phases"].values()) / p["op_s"] for p in per_round),
        "crawl.spark_jobs_per_round": _med(p["jobs"] for p in per_round),
        "crawl.spark_tasks_per_round": _med(p["tasks"] for p in per_round),
        "crawl.max_stage_tasks": _med(p["max_stage_tasks"] for p in per_round),
        "icetable.critical_chain_s": _med(max(p["chain"].values()) for p in per_round),
        "icetable.files_written_per_round": _med(p["files"] for p in per_round),
        "icetable.bytes_written_per_round": _med(p["bytes"] for p in per_round),
        "icetable.live_files_end": float(
            sum(len(IceTable(os.path.join(runner.workdir, t)).files_at()) for t in TABLES)
        ),
        "icetable.compaction_rounds": float(sum(1 for p in per_round if p["compaction_s"])),
        "icetable.compaction_s": sum(p["compaction_s"] for p in per_round),
        "select.rows_scanned_per_selected": _med(
            p["est_rows_scanned"] / p["n_selected"]
            for p in prune if p.get("est_rows_scanned") is not None and p["n_selected"]
        ),
        "select.buckets_scanned_frac": _med(
            p["scanned_buckets"] / p["total_buckets"] for p in prune
        ),
        "select.fallbacks": float(sum(1 for p in prune if p.get("fallback"))),
        "fetch.images_s": _med(p["images_s"] for p in per_round),
        "fetch.images_per_s": _med(
            p["n_images"] / p["images_s"] for p in per_round if p["images_s"]
        ),
        "seen.bloom_build_s": _med(p["bloom_s"] for p in per_round),
        "seen.n_suspects_per_round": _med(s.get("n_suspects", 0) for s in seen),
        "seen.suspect_buckets_frac": _med(
            s.get("suspect_buckets", 0) / s["total_buckets"] for s in seen if "total_buckets" in s
        ),
    }
    for t in TABLES:
        L[f"icetable.commit_s.{t}"] = _med(p["chain"][t] for p in per_round)
    t0, t1 = ops[0]["t0"], ops[-1]["t1"]
    L.update({k: v for k, v in fold_events(events, t0, t1).items() if k.startswith("spark.")})

    lines = ["crawl trace: per round (op s | phases | 7 commit chains, critical first)"]
    for p in per_round:
        chains = sorted(p["chain"].items(), key=lambda kv: -kv[1])
        lines.append(
            f"  round {p['round']}: {p['op_s']:.2f}s | "
            + " ".join(f"{k}={v:.2f}" for k, v in p["phases"].items())
            + " | " + " ".join(f"{k}={v:.2f}" for k, v in chains)
            + f" | jobs={p['jobs']} tasks={p['tasks']} files={p['files']}"
            + f" | kernels: fetch_images={p['images_s']:.2f} bloom_build={p['bloom_s']:.2f}"
        )
    crit = [p["critical"] for p in per_round]
    lines.append(
        "  critical commit chain: "
        + ", ".join(f"{t} ({crit.count(t)}/{len(crit)} rounds)" for t in sorted(set(crit), key=crit.count, reverse=True))
    )
    return L, lines
