"""Long-horizon soak (r3 verdict item 6): one crawl crossing EVERY
maintenance event — auto re-bucket split, frontier compaction, Bloom shard
compaction, seen compaction, retention sweeps — plus between-round streaming
ingest, in the SAME run. Rounds 1-3 tests cover each event separately; this
pins their composition: oracle equivalence survives all of them, disc_seq
stays globally unique/monotone, and snapshot metadata stays O(buckets)
(manifest-sharded — no per-file inline growth) for the whole horizon."""

from __future__ import annotations

import json
import os

from oracle.crawler import crawl as oracle_crawl
from paperchase_crawler_spark import simweb
from paperchase_crawler_spark.operators.seen import BloomSeen
from paperchase_crawler_spark.plans.crawl import CrawlRunner
from paperchase_crawler_spark.streaming.frontier_ingest import ingest_batch

SEEDS = simweb.seed_urls(8)
ROUNDS = 10
BUDGET = 60

TIGHT = dict(
    round_budget=BUDGET,
    with_bytes=False,
    frontier_buckets=2,
    rows_per_bucket_target=150,
    bloom=BloomSeen(n_buckets=32),
    bloom_shards_per_bucket=1,
    bloom_shard_groups=4,
    seen_buckets=8,
    max_bucket_files=2,
)


def _snap_bytes(tbl) -> int:
    sid = tbl.current_snapshot_id()
    return os.path.getsize(os.path.join(tbl.meta_dir, f"snap-{sid}.json"))


def _ops(tbl) -> list[str]:
    return [tbl.snapshot(s)["op"] for s in tbl.snapshot_ids()]


def test_soak_maintenance_composition_oracle_equal(spark, tmp_path):
    """10 rounds with aggressive maintenance thresholds: every event class
    fires at least once, retention sweeps twice mid-run, and the final
    ordering/seen artifacts still equal the single-threaded oracle."""
    oracle = oracle_crawl(SEEDS, rounds=ROUNDS, round_budget=BUDGET)
    wd = str(tmp_path / "soak")
    runner = CrawlRunner(spark, wd, **TIGHT)
    runner.init_from_seeds(SEEDS)
    snap_sizes = []
    for i in range(ROUNDS):
        runner.run_round()
        snap_sizes.append(
            _snap_bytes(runner.frontier)
            / runner.frontier.snapshot()["meta"]["buckets"]["n"]
        )
        if i in (4, 7):
            removed = runner.maintain(keep_last=3)
            assert sum(removed.values()) > 0  # retention actually swept
    # every maintenance event class fired in THIS run
    assert runner.frontier_buckets > 2, "auto re-bucket never fired"
    assert "replace" in _ops(runner.frontier), "frontier compaction never fired"
    assert "replace" in _ops(runner.bloom_shards), "bloom compaction never fired"
    assert "replace" in _ops(runner.seen), "seen compaction never fired"
    # oracle equivalence across the full horizon
    eng_order = [
        (r["seq"], r["round"], r["canon_url"])
        for r in runner.ordering_df().orderBy("seq").collect()
    ]
    assert eng_order == oracle.ordering
    assert {r["url_hash"] for r in runner.seen_df().collect()} == oracle.seen
    # snapshot metadata is manifest-sharded: no per-file inline lists, and
    # bytes per bucket don't trend with accumulated files (O(buckets) only;
    # a bucket-count doubling inside the window doubles the raw size)
    snap = runner.frontier.snapshot()
    assert snap["files"] == [] and snap["row_counts"] == {}
    window = snap_sizes[-4:]
    assert max(window) < 2 * min(window)
    # resume still lands exactly on the checkpoint after all that history
    resumed = CrawlRunner.resume(spark, wd)
    assert resumed.round == ROUNDS
    assert resumed.frontier_buckets == runner.frontier_buckets


def test_soak_with_interleaved_ingest_invariants(spark, tmp_path):
    """Same horizon with streaming ingest epochs landing BETWEEN rounds
    (the supported window), including across a retention sweep and the
    re-bucket split: disc_seq stays globally unique and monotone per epoch,
    ingested URLs get crawled, and the Bloom invariant (seen ⊆ bloom) holds
    at the end of the run."""
    from pyspark.sql import functions as F

    from paperchase_crawler_spark.operators.seen import filter_new_bucketed

    wd = str(tmp_path / "soak_ingest")
    runner = CrawlRunner(spark, wd, **TIGHT)
    runner.init_from_seeds(SEEDS)
    hwms = []
    for i in range(ROUNDS):
        runner.run_round()
        hwms.append(runner._frontier_disc_hwm())
        if i in (2, 6):
            r = ingest_batch(
                runner,
                spark.createDataFrame(
                    [(f"https://host{i}.example/feed-{j}", j) for j in range(5)],
                    "raw_url string, src_seq long",
                ),
                epoch_id=100 + i,
            )
            assert r["n_new"] == 5
            runner = CrawlRunner.resume(spark, wd)  # adopt the epochs
        if i == 4:
            runner.maintain(keep_last=3)
    assert hwms == sorted(hwms)  # monotone across every event
    fr = runner.frontier_df().collect()
    seqs = [row["disc_seq"] for row in fr]
    assert len(seqs) == len(set(seqs))  # globally unique end-to-end
    urls = {row["canon_url"]: row for row in fr}
    assert "https://host2.example/feed-0" in urls
    # ingested URLs were actually crawled by later rounds
    assert urls["https://host2.example/feed-0"]["state"] == "fetched"
    # seen ⊆ bloom: every seen key probes as a suspect (no certainly-new
    # escape for already-seen URLs — the invariant streaming ingest must
    # maintain for the bucketed fast path to stay exact)
    seen_keys = runner.seen_df().select("url_hash")
    new, _ = filter_new_bucketed(
        spark, seen_keys, runner.seen, runner.bloom,
        runner.bloom_shards.read(spark), runner.seen_buckets,
    )
    assert new.count() == 0
