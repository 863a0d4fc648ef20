"""Streaming URL ingestion → frontier: exactly-once foreachBatch sink."""

from __future__ import annotations

from pyspark.sql import functions as F

from paperchase_crawler_spark import simweb
from paperchase_crawler_spark.operators.frontier_select import (
    frontier_bucket_col,
    merged_frontier,
    select_frontier_round,
)
from paperchase_crawler_spark.plans.crawl import CrawlRunner
from paperchase_crawler_spark.streaming.frontier_ingest import (
    ingest_batch,
    run_ingest_stream,
)

NB, SB = 4, 8
# seed hosts outside the simweb universe: no robots rules, never blocked
SEEDS = ["https://h0.example/", "https://h1.example/"]


def _seeded_runner(spark, base):
    """A crawl runner at round 0: the 2 seeds hold disc_seq 0 and 1."""
    runner = CrawlRunner(
        spark, str(base), round_budget=50, with_bytes=False,
        frontier_buckets=NB, seen_buckets=SB,
    )
    runner.init_from_seeds(SEEDS)
    return runner


def _blocked_url() -> str:
    """A simweb URL its host's robots rules disallow."""
    for h in simweb.host_state_rows(last_round=0):
        for rule in h["robots_rules"]:
            if not rule["allow"]:
                return f"https://{h['host']}{rule['prefix']}x"
    raise AssertionError("simweb has no disallow rule")


def test_stream_ingest_end_to_end(spark, tmp_path):
    runner = _seeded_runner(spark, tmp_path / "crawl")
    n_seeds = len(SEEDS)
    src_dir = str(tmp_path / "src")
    # file 1: a new URL, a duplicate-of-seed (must drop), an in-batch dup
    spark.createDataFrame(
        [
            ("https://h2.example/a", 100),
            ("https://h0.example/", 101),          # already seen
            ("https://h2.example/a#f", 102),       # canonicalizes to /a → dup
            ("https://h3.example/b", 103),
        ],
        "raw_url string, src_seq long",
    ).coalesce(1).write.parquet(src_dir + "/f1")
    spark.createDataFrame(
        [
            ("https://h2.example/a", 200),          # seen via file 1's epoch
            ("https://h4.example/c", 201),
        ],
        "raw_url string, src_seq long",
    ).coalesce(1).write.parquet(src_dir + "/f2")
    source = (
        spark.readStream.schema("raw_url string, src_seq long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir + "/f*")
    )
    results = run_ingest_stream(runner, source, str(tmp_path / "ckpt"))
    assert sum(r["n_new"] for r in results) == 3  # /a, /b, /c
    merged = merged_frontier(spark, runner.frontier)
    got = {
        r["canon_url"]: r["disc_seq"]
        for r in merged.filter(F.col("round_disc") == -1).collect()
    }
    assert set(got) == {
        "https://h2.example/a", "https://h3.example/b", "https://h4.example/c",
    }
    # contiguous disc_seq continuing after the seeds' high-water mark
    assert sorted(got.values()) == [n_seeds, n_seeds + 1, n_seeds + 2]
    assert runner.frontier.snapshot()["meta"]["next_disc_seq"] == n_seeds + 3
    # seen covers everything now; re-ingesting the same URLs adds nothing
    res2 = ingest_batch(
        runner,
        spark.createDataFrame(
            [("https://h3.example/b", 300)], "raw_url string, src_seq long"
        ),
        epoch_id=99,
    )
    assert res2["n_new"] == 0
    # and the BSP SELECT immediately sees the ingested URLs
    hs = spark.createDataFrame(
        [(f"h{i}.example", 0, 4, -1000000) for i in range(5)],
        "host string, crawl_delay_rounds int, tokens_per_round int, last_round int",
    )
    ranked, _ = select_frontier_round(
        spark, runner.frontier, hs, round_no=1, budget=10, max_tokens=8, salts=1
    )
    assert {r["canon_url"] for r in ranked.collect()} >= set(got)


def test_ingest_epoch_replay_is_idempotent(spark, tmp_path):
    runner = _seeded_runner(spark, tmp_path / "crawl")
    frontier, seen = runner.frontier, runner.seen
    batch = spark.createDataFrame(
        [("https://h9.example/x", 1)], "raw_url string, src_seq long"
    )
    r1 = ingest_batch(runner, batch, 7)
    f_snap, s_snap = frontier.current_snapshot_id(), seen.current_snapshot_id()
    r2 = ingest_batch(runner, batch, 7)
    assert r1["n_new"] == 1 and r2["replayed"] is True
    assert frontier.current_snapshot_id() == f_snap  # no second commit
    assert seen.current_snapshot_id() == s_snap
    assert merged_frontier(spark, frontier).count() == len(SEEDS) + 1


def test_ingest_batch_job_count(spark, tmp_path):
    """Spark jobs per ingested micro-batch, a fixed cost of every epoch,
    robots gate included. The frontier rows' lineage cut and their count
    share one job, and the exact seen filter reads seen with its known
    schema (no inference job)."""
    runner = _seeded_runner(spark, tmp_path / "crawl")
    batch = spark.createDataFrame(
        [("https://h7.example/a", 1), ("https://h8.example/b", 2),
         ("https://h0.example/", 3)],
        "raw_url string, src_seq long",
    )
    sc = spark.sparkContext
    group = "ingest_batch jobs"
    sc.setJobGroup(group, group)
    try:
        out = ingest_batch(runner, batch, 0)
        n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert out["n_new"] == 2
    # the standalone-table ingest with a separately built robots_rules_df
    # ran 15 on this workdir, 16 with the rules read inside the call; 15
    # while host_state was read with an inferred schema
    assert n_jobs == 14


def test_ingest_refuses_runner_layout_mismatch(spark, tmp_path):
    """A handle whose layout differs from the crawl's checkpoint (here a
    hand-built one with another bucket count) would write rows into buckets
    the crawl does not read them from: ingest refuses before any commit."""
    import pytest

    runner = _seeded_runner(spark, tmp_path / "crawl")
    f_snap = runner.frontier.current_snapshot_id()
    other = CrawlRunner(
        spark, str(tmp_path / "crawl"), round_budget=50, with_bytes=False,
        frontier_buckets=2 * NB, seen_buckets=SB,
    )
    batch = spark.createDataFrame(
        [("https://h9.example/x", 1)], "raw_url string, src_seq long"
    )
    with pytest.raises(ValueError, match="layout"):
        ingest_batch(other, batch, 1)
    assert runner.frontier.current_snapshot_id() == f_snap
    assert ingest_batch(runner, batch, 1)["n_new"] == 1


def test_ingest_crash_between_commits_recovers(spark, tmp_path):
    """Simulated crash AFTER the frontier commit but BEFORE the seen commit:
    the replayed epoch must skip the frontier and complete only the seen
    append — no duplicate frontier rows, seen catches up."""
    runner = _seeded_runner(spark, tmp_path / "crawl")
    frontier, seen = runner.frontier, runner.seen
    batch = spark.createDataFrame(
        [("https://h9.example/x", 1)], "raw_url string, src_seq long"
    )
    # run the full epoch once, then surgically roll the SEEN table back to
    # pre-epoch state — byte-identical to a crash between the two commits
    seen_pre = seen.current_snapshot_id()
    ingest_batch(runner, batch, 7)
    seen.rollback(seen_pre)
    f_snap = frontier.current_snapshot_id()
    r = ingest_batch(runner, batch, 7)
    assert r["replayed"] is False and r["n_new"] == 1
    assert frontier.current_snapshot_id() == f_snap  # frontier NOT re-applied
    assert merged_frontier(spark, frontier).count() == len(SEEDS) + 1  # no dup rows
    # seen now contains the ingested key exactly once
    k = seen.read(spark).filter(
        F.col("url_hash") == F.xxhash64(F.lit("https://h9.example/x"))
    )
    assert k.count() == 1


def test_ingest_composes_with_live_crawl(spark, tmp_path):
    """Ingest between BSP rounds of a REAL CrawlRunner: disc_seq stays
    globally unique (the runner resumes past the ingest high-water mark),
    the ingested URL is selectable in the next round, and every engine
    invariant (seen ⊇ frontier keys, unique seq ordering) holds."""
    wd = str(tmp_path / "live")
    runner = CrawlRunner(
        spark, wd, round_budget=50, with_bytes=False, frontier_buckets=4
    )
    runner.init_from_seeds(simweb.seed_urls(8))
    runner.run(1)
    # out-of-band discovery feed lands between rounds (host0 exists in the
    # simweb universe so it is fetchable); it passes the SAME robots gate as
    # in-loop discoveries — include a robots-blocked URL to prove it
    blocked_url = _blocked_url()
    r = ingest_batch(
        runner,
        spark.createDataFrame(
            [("https://host0.example/ingested-page", 1), (blocked_url, 2)],
            "raw_url string, src_seq long",
        ),
        epoch_id=1,
    )
    assert r["n_new"] == 2
    resumed = CrawlRunner.resume(spark, wd)
    resumed.run(1)
    fr = merged_frontier(spark, resumed.frontier).collect()
    # disc_seq globally unique across seed/expand/ingest provenance
    seqs = [row["disc_seq"] for row in fr]
    assert len(seqs) == len(set(seqs))
    urls = {row["canon_url"]: row for row in fr}
    assert "https://host0.example/ingested-page" in urls
    assert urls["https://host0.example/ingested-page"]["state"] in (
        "queued", "fetched",
    )
    # the robots-disallowed ingest landed blocked and was never fetched
    from paperchase_crawler_spark.functions.urlnorm import canon_url

    assert urls[canon_url(blocked_url)]["state"] == "blocked"
    fetched_urls = {
        row["canon_url"] for row in resumed.ordering_df().collect()
    }
    assert canon_url(blocked_url) not in fetched_urls
    # the runner's own discoveries continued PAST the ingested high-water
    assert resumed.next_disc_seq > max(seqs) - 1 or resumed.next_disc_seq == max(seqs) + 1
    # seen covers every frontier key exactly
    seen_keys = {row["url_hash"] for row in resumed.seen_df().collect()}
    assert {row["url_hash"] for row in fr} <= seen_keys


def test_ingest_after_aggressive_retention(spark, tmp_path):
    """Eager compaction + keep_last=1 retention can expire the delta that
    introduced the disc_seq counter; compaction commits must carry it
    forward so a later ingest never reuses live disc_seqs."""
    wd = str(tmp_path / "ret")
    runner = CrawlRunner(
        spark, wd, round_budget=50, with_bytes=False, frontier_buckets=4,
        max_bucket_files=1,  # compaction is the CURRENT snapshot each round
    )
    runner.init_from_seeds(simweb.seed_urls(8))
    runner.run(2)
    runner.maintain(keep_last=1)  # expire everything but the compaction
    r = ingest_batch(
        runner,
        spark.createDataFrame(
            [("https://host0.example/late-feed", 1)],
            "raw_url string, src_seq long",
        ),
        epoch_id=5,
    )
    assert r["n_new"] == 1
    fr = merged_frontier(spark, runner.frontier).collect()
    seqs = [row["disc_seq"] for row in fr]
    assert len(seqs) == len(set(seqs))  # the ingested seq did not collide
    ingested = [row for row in fr if row["canon_url"].endswith("late-feed")]
    assert ingested[0]["disc_seq"] == max(seqs)


def test_ingest_maintains_bloom_invariant(spark, tmp_path):
    """A Bloom-enabled crawl relies on seen-keys ⊆ bloom (filter_new_bucketed
    treats a non-suspect as certainly-new, skipping the exact verify), so
    ingest into it always appends the new keys' shards too."""
    from paperchase_crawler_spark.operators.seen import (
        BloomSeen,
        filter_new_bucketed,
    )

    wd = str(tmp_path / "bloomed")
    runner = CrawlRunner(
        spark, wd, round_budget=50, with_bytes=False, frontier_buckets=4,
        bloom=BloomSeen(n_buckets=16, m_bits=1 << 12, k=5),
    )
    runner.init_from_seeds(simweb.seed_urls(8))
    runner.run(1)
    batch = spark.createDataFrame(
        [("https://host0.example/feed-page", 1)], "raw_url string, src_seq long"
    )
    b_pre = runner.bloom_shards.current_snapshot_id()
    r = ingest_batch(runner, batch, epoch_id=1)
    assert r["n_new"] == 1
    # the epoch appended shards under its own tag
    b_snap = runner.bloom_shards.current_snapshot_id()
    assert b_snap != b_pre
    assert runner.bloom_shards.snapshot()["meta"]["ingest_epochs"][-1] == 1
    # the ingested key is a bloom suspect, so a later in-crawl rediscovery
    # is filtered as seen instead of re-enqueued
    cand = batch.select(
        F.xxhash64(F.lit("https://host0.example/feed-page")).alias("url_hash")
    )
    new, info = filter_new_bucketed(
        spark, cand, runner.seen, runner.bloom,
        runner.bloom_shards.read(spark), runner.seen_buckets,
    )
    assert new.count() == 0  # rediscovery is recognized as already seen
    assert info["n_suspects"] == 1
    # epoch replay: the bloom table is idempotent like frontier/seen
    r2 = ingest_batch(runner, batch, epoch_id=1)
    assert r2["replayed"] is True
    assert runner.bloom_shards.current_snapshot_id() == b_snap
    # the composed crawl keeps running (resume adopts all three tables)
    resumed = CrawlRunner.resume(spark, wd)
    resumed.run(1)
    fr = merged_frontier(spark, resumed.frontier).collect()
    seqs = [row["disc_seq"] for row in fr]
    assert len(seqs) == len(set(seqs))


def test_ingest_into_salted_crawl(spark, tmp_path):
    """Ingest takes the frontier layout from the runner: on a salted crawl
    every ingested row lands in its (host bucket, url salt) bucket, the
    robots gate still applies, and the next round keeps disc_seq unique."""
    import pyarrow.parquet as pq

    from paperchase_crawler_spark.functions.urlnorm import canon_url

    runner = CrawlRunner(
        spark, str(tmp_path / "salted"), round_budget=50, with_bytes=False,
        frontier_buckets=NB, frontier_salts=2,
    )
    runner.init_from_seeds(simweb.seed_urls(8))
    runner.run(1)
    blocked_url = _blocked_url()
    feed = [f"https://host{i}.example/salted-{i}" for i in range(6)]
    r = ingest_batch(
        runner,
        spark.createDataFrame(
            [(u, i) for i, u in enumerate(feed + [blocked_url])],
            "raw_url string, src_seq long",
        ),
        epoch_id=8,
    )
    assert r["n_new"] == len(feed) + 1
    # the epoch's delta files, by the physical bucket they were written to
    sid = runner.frontier.current_snapshot_id()
    rows = [
        (row["host"], row["url_hash"], row["canon_url"], int(b))
        for b, v in runner.frontier.bucket_plan().items()
        for f in v["delta"]
        if f"/s{sid}-" in f
        for row in pq.read_table(f, columns=["host", "url_hash", "canon_url"]).to_pylist()
    ]
    got = spark.createDataFrame(
        rows, "host string, url_hash long, canon_url string, fb int"
    )
    assert {row["canon_url"] for row in got.collect()} == {
        canon_url(u) for u in feed + [blocked_url]
    }
    assert got.filter(F.col("fb") != frontier_bucket_col(NB, 2)).count() == 0
    urls = {row["canon_url"]: row for row in runner.frontier_df().collect()}
    blocked = urls[canon_url(blocked_url)]
    assert blocked["state"] == "blocked" and blocked["round_done"] == -1
    runner.run_round()
    fr = runner.frontier_df().collect()
    seqs = [row["disc_seq"] for row in fr]
    assert len(seqs) == len(set(seqs))
    assert runner.next_disc_seq == max(seqs) + 1
    assert {row["canon_url"]: row["state"] for row in fr}[
        canon_url(blocked_url)
    ] == "blocked"


def test_resume_adopts_ingest_past_crash_garbage(spark, tmp_path):
    """Rolled-back-over crashed-round snapshots keep ids BETWEEN the
    checkpoint and a later legitimate ingest commit. Resume must adopt by
    parent chain — an ascending id scan would stop on the garbage id and
    silently roll back the committed ingest epoch (which the stream
    checkpoint will never redeliver)."""
    from paperchase_crawler_spark.schemas import FRONTIER

    wd = str(tmp_path / "chain")
    runner = CrawlRunner(
        spark, wd, round_budget=50, with_bytes=False, frontier_buckets=4
    )
    runner.init_from_seeds(simweb.seed_urls(8))
    runner.run(1)
    ckpt_snap = runner.frontier.current_snapshot_id()
    # crash garbage: an untagged post-checkpoint delta, then the rollback a
    # previous resume would have done (snapshot file stays on disk)
    garbage = spark.createDataFrame(
        [("https://host0.example/crashed", 12345, "host0.example",
          1, 10_000, -1.0, "queued", 2, None)],
        FRONTIER,
    )
    runner._frontier_append_delta(garbage, meta={"round": 99})
    garbage_snap = runner.frontier.current_snapshot_id()
    runner.frontier.rollback(ckpt_snap)
    # a legitimate ingest epoch lands AFTER the crash+rollback
    r = ingest_batch(
        runner,
        spark.createDataFrame(
            [("https://host0.example/after-crash", 1)],
            "raw_url string, src_seq long",
        ),
        epoch_id=3,
    )
    assert r["n_new"] == 1
    ingest_snap = runner.frontier.current_snapshot_id()
    assert garbage_snap < ingest_snap  # the garbage id sits in between
    resumed = CrawlRunner.resume(spark, wd)
    # the ingest commit survived; the garbage did not
    assert resumed.frontier.current_snapshot_id() == ingest_snap
    urls = {r["canon_url"] for r in merged_frontier(spark, resumed.frontier).collect()}
    assert "https://host0.example/after-crash" in urls
    assert "https://host0.example/crashed" not in urls


def test_midround_ingest_fails_stop_and_resumes(spark, tmp_path):
    """A concurrent ingest epoch landing MID-round would allocate disc_seqs
    overlapping the round's claimed block. The round must detect the moved
    high-water mark BEFORE committing any disc_seq-bearing table, abort, and
    replay cleanly after resume."""
    import pytest

    wd = str(tmp_path / "midround")
    runner = CrawlRunner(
        spark, wd, round_budget=50, with_bytes=False, frontier_buckets=4
    )
    runner.init_from_seeds(simweb.seed_urls(8))
    runner.run(1)
    # inject an ingest epoch in the middle of round 2 (during EXPAND,
    # before the HWM guard + commit phase) by hooking _new_frontier_rows.
    # The feed runs on its own handle: ingest enqueues through
    # _new_frontier_rows too, so on the hooked runner it would recurse.
    feed = CrawlRunner.resume(spark, wd)
    orig_nfr = runner._new_frontier_rows

    def hooked(cand, round_disc):
        ingest_batch(
            feed,
            spark.createDataFrame(
                [("https://host0.example/raced", 1)],
                "raw_url string, src_seq long",
            ),
            epoch_id=11,
        )
        return orig_nfr(cand, round_disc)

    runner._new_frontier_rows = hooked
    with pytest.raises(RuntimeError, match="mid-round"):
        runner.run_round()
    # resume rolls back the aborted round's partial commits, adopts the
    # ingest epoch, and the replayed round allocates PAST it
    resumed = CrawlRunner.resume(spark, wd)
    resumed.run_round()
    fr = merged_frontier(spark, resumed.frontier).collect()
    seqs = [row["disc_seq"] for row in fr]
    assert len(seqs) == len(set(seqs))  # no disc_seq overlap
    urls = {row["canon_url"] for row in fr}
    assert "https://host0.example/raced" in urls


def test_ingest_bloom_crash_window_preserves_seen_subset_bloom(spark, tmp_path):
    """The only remaining crash window between probabilistic-filter and seen
    commits is AFTER bloom, BEFORE seen (commit order frontier → bloom →
    seen). In that window — and after the replay completes — every seen key
    must be a bloom suspect (seen ⊆ bloom). The r4 order (seen first) had a
    corrupting window: the replay's anti-join against the already-updated
    seen table returned zero keys and the bloom append was skipped forever."""
    from paperchase_crawler_spark.operators.seen import BloomSeen

    wd = str(tmp_path / "bw")
    runner = CrawlRunner(
        spark, wd, round_budget=50, with_bytes=False, frontier_buckets=4,
        bloom=BloomSeen(n_buckets=16, m_bits=1 << 12, k=5),
    )
    runner.init_from_seeds(simweb.seed_urls(8))
    runner.run(1)
    batch = spark.createDataFrame(
        [("https://host0.example/window-page", 1)], "raw_url string, src_seq long"
    )
    seen_pre = runner.seen.current_snapshot_id()
    ingest_batch(runner, batch, epoch_id=2)

    def _seen_subset_bloom():
        keys = runner.seen.read(spark)
        shards = runner.bloom_shards.read(spark)
        suspects = runner.bloom.probe(keys, shards).filter("maybe_seen")
        assert suspects.count() == keys.count()

    # simulate the crash window: roll seen back to pre-epoch (bloom + frontier
    # committed, seen not) — the invariant must hold IN the window...
    runner.seen.rollback(seen_pre)
    _seen_subset_bloom()
    # ...and the replay must complete the seen append without touching bloom
    b_snap = runner.bloom_shards.current_snapshot_id()
    r = ingest_batch(runner, batch, epoch_id=2)
    assert r["replayed"] is False and r["n_new"] == 1
    assert runner.bloom_shards.current_snapshot_id() == b_snap
    _seen_subset_bloom()
    k = runner.seen.read(spark).filter(
        F.col("url_hash") == F.xxhash64(F.lit("https://host0.example/window-page"))
    )
    assert k.count() == 1


def test_ingest_refuses_crash_garbage_tip(spark, tmp_path):
    """A round that committed table snapshots but crashed BEFORE its
    CHECKPOINT swap leaves an untagged post-checkpoint tip. Ingest must
    refuse to commit on top of it: an epoch stranded on the garbage parent
    chain would be rolled back by resume() after the stream checkpoint
    recorded it — permanent loss. After resume() rolls the garbage back, the
    same feed lands cleanly."""
    import pytest

    from paperchase_crawler_spark.schemas import FRONTIER

    wd = str(tmp_path / "garbage-tip")
    runner = CrawlRunner(
        spark, wd, round_budget=50, with_bytes=False, frontier_buckets=4
    )
    runner.init_from_seeds(simweb.seed_urls(8))
    runner.run(1)
    # crash garbage: an untagged post-checkpoint frontier delta, NOT rolled
    # back (the crashed process never resumed)
    garbage = spark.createDataFrame(
        [("https://host0.example/half-round", 777, "host0.example",
          1, 10_000, -1.0, "queued", 2, None)],
        FRONTIER,
    )
    runner._frontier_append_delta(garbage, meta={"round": 99})
    garbage_snap = runner.frontier.current_snapshot_id()
    batch = spark.createDataFrame(
        [("https://host0.example/feed", 1)], "raw_url string, src_seq long"
    )
    with pytest.raises(ValueError, match="crash garbage"):
        ingest_batch(runner, batch, epoch_id=4)
    assert runner.frontier.current_snapshot_id() == garbage_snap  # no commit
    resumed = CrawlRunner.resume(spark, wd)  # rolls the garbage back
    r = ingest_batch(resumed, batch, epoch_id=4)
    assert r["n_new"] == 1
    urls = {row["canon_url"] for row in merged_frontier(spark, resumed.frontier).collect()}
    assert "https://host0.example/feed" in urls
    assert "https://host0.example/half-round" not in urls


def test_ingest_crash_after_frontier_before_bloom_recovers(spark, tmp_path):
    """The other crash window of the r5 commit order (frontier → bloom →
    seen): frontier committed, bloom + seen not. The replay must skip the
    frontier, recompute the SAME key set (seen untouched ⇒ the anti-join
    is unchanged), append bloom then seen, and end with seen ⊆ bloom —
    with no duplicate frontier rows and no disc_seq drift."""
    from paperchase_crawler_spark.operators.seen import BloomSeen

    wd = str(tmp_path / "fb")
    runner = CrawlRunner(
        spark, wd, round_budget=50, with_bytes=False, frontier_buckets=4,
        bloom=BloomSeen(n_buckets=16, m_bits=1 << 12, k=5),
    )
    runner.init_from_seeds(simweb.seed_urls(8))
    runner.run(1)
    batch = spark.createDataFrame(
        [("https://host0.example/fb-page", 1)], "raw_url string, src_seq long"
    )
    seen_pre = runner.seen.current_snapshot_id()
    bloom_pre = runner.bloom_shards.current_snapshot_id()
    ingest_batch(runner, batch, epoch_id=6)
    f_snap = runner.frontier.current_snapshot_id()
    # the crash window: roll BOTH bloom and seen back (frontier stands)
    runner.seen.rollback(seen_pre)
    runner.bloom_shards.rollback(bloom_pre)
    r = ingest_batch(runner, batch, epoch_id=6)
    assert r["replayed"] is False and r["n_new"] == 1
    assert runner.frontier.current_snapshot_id() == f_snap  # not re-applied
    fr = merged_frontier(spark, runner.frontier).collect()
    assert len([x for x in fr if x["canon_url"].endswith("fb-page")]) == 1
    seqs = [x["disc_seq"] for x in fr]
    assert len(seqs) == len(set(seqs))
    keys = runner.seen.read(spark)
    suspects = runner.bloom.probe(
        keys, runner.bloom_shards.read(spark)
    ).filter("maybe_seen")
    assert suspects.count() == keys.count()  # seen ⊆ bloom after recovery
