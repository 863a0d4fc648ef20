"""End-to-end: Spark engine ≡ single-threaded oracle (the north_rule gate).

Asserts exact crawl-ordering equality, exact URL-seen-set equality, corpus
caption equality + decoded-pixel PSNR ≥ 40 dB (lossless exact), resume-from-
checkpoint equivalence, and Bloom-mode equivalence."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from oracle.crawler import crawl as oracle_crawl
from paperchase_crawler_spark import simweb
from paperchase_crawler_spark.codecs import decode_image, psnr
from paperchase_crawler_spark.operators.seen import BloomSeen
from paperchase_crawler_spark.plans.crawl import CrawlRunner, run_crawl

SEEDS = simweb.seed_urls(8)
ROUNDS = 3
BUDGET = 120


@pytest.fixture(scope="module")
def oracle():
    return oracle_crawl(SEEDS, rounds=ROUNDS, round_budget=BUDGET)


def _assert_match(runner, oracle, check_corpus=True):
    eng_order = [
        (r["seq"], r["round"], r["canon_url"])
        for r in runner.ordering_df().orderBy("seq").collect()
    ]
    assert eng_order == oracle.ordering
    eng_seen = {r["url_hash"] for r in runner.seen_df().collect()}
    assert eng_seen == oracle.seen
    if check_corpus:
        eng = {r["image_id"]: r for r in runner.corpus_df().collect()}
        assert len(eng) == len(oracle.corpus)
        for row in oracle.corpus:
            e = eng[row["image_id"]]
            assert e["caption"] == row["caption"]
            assert e["phash"] == row["phash"]
            assert (e["w"], e["h"], e["fmt"]) == (row["w"], row["h"], row["fmt"])
            ours = decode_image(bytes(e["bytes"]), e["fmt"])
            ref = decode_image(row["bytes"], row["fmt"])
            if row["fmt"] in ("ppm", "png"):
                assert np.array_equal(ours, ref)
            else:
                assert psnr(ours, ref) == float("inf") or psnr(ours, ref) >= 40.0


def test_engine_equals_oracle(spark, tmp_path, oracle):
    runner = run_crawl(spark, str(tmp_path / "c"), SEEDS, ROUNDS, BUDGET)
    _assert_match(runner, oracle)


def test_resume_equivalence(spark, tmp_path, oracle):
    wd = str(tmp_path / "r")
    runner = CrawlRunner(spark, wd, round_budget=BUDGET, with_bytes=False)
    runner.init_from_seeds(SEEDS)
    runner.run(1)
    # simulate a crash MID-round-2: uncheckpointed snapshot garbage appears
    runner.ordering.append(
        spark.createDataFrame([(999999, 99, "https://junk.example/x")],
                              "seq long, round int, canon_url string")
    )
    resumed = CrawlRunner.resume(spark, wd)  # must roll the junk back
    assert resumed.round == 1
    resumed.run(ROUNDS - 1)
    _assert_match(resumed, oracle, check_corpus=False)


def test_resume_after_first_commit_crash(spark, tmp_path, oracle):
    """Crash DURING a table's first-ever commit: at init, ordering/corpus/
    crawl_log have no snapshot (checkpoint records None). Garbage committed
    to them before the round-1 checkpoint must roll back to EMPTY on resume,
    or the replayed round would append duplicate seq/image rows."""
    wd = str(tmp_path / "fc")
    runner = CrawlRunner(spark, wd, round_budget=BUDGET, with_bytes=False)
    runner.init_from_seeds(SEEDS)
    # simulate round 1 dying mid-commit: ordering got its FIRST snapshot but
    # the checkpoint (which still records ordering=None) never swapped
    runner.ordering.append(
        spark.createDataFrame([(0, 1, "https://junk.example/x")],
                              "seq long, round int, canon_url string")
    )
    resumed = CrawlRunner.resume(spark, wd)
    assert resumed.ordering.current_snapshot_id() is None
    resumed.run(ROUNDS)
    _assert_match(resumed, oracle, check_corpus=False)


def test_crawl_log_lineage_schema(spark, tmp_path):
    """crawl_log rows carry per-partition fetch lineage; the round-level
    selected/new/blocked-at-enqueue counts live in the snapshot meta."""
    from paperchase_crawler_spark.schemas import CRAWL_LOG

    runner = run_crawl(
        spark, str(tmp_path / "log"), SEEDS, rounds=2, round_budget=BUDGET,
        with_bytes=False,
    )
    log = runner.crawl_log.read(spark)
    assert [f.name for f in log.schema.fields] == [f.name for f in CRAWL_LOG.fields]
    meta = runner.crawl_log.snapshot()["meta"]
    per_part = log.filter(F.col("round") == meta["round"]).collect()
    assert sum(row["n_fetched"] for row in per_part) == meta["n_selected"]
    assert meta["n_new"] >= meta["n_blocked_enqueued"] >= 0


def test_tight_budget_equivalence(spark, tmp_path):
    """ROUND_BUDGET far below the politeness-eligible candidate count: the
    exact global cut (and the last_round bookkeeping for hosts whose rows
    were all cut) must still match the oracle round by round."""
    seeds = simweb.seed_urls(12)
    oracle = oracle_crawl(seeds, rounds=4, round_budget=7)
    runner = run_crawl(
        spark, str(tmp_path / "t"), seeds, rounds=4, round_budget=7, with_bytes=False
    )
    _assert_match(runner, oracle, check_corpus=False)


def test_bloom_mode_equivalence(spark, tmp_path, oracle):
    runner = run_crawl(
        spark,
        str(tmp_path / "b"),
        SEEDS,
        ROUNDS,
        BUDGET,
        bloom=BloomSeen(n_buckets=8, m_bits=1 << 13, k=5),
        with_bytes=False,
    )
    _assert_match(runner, oracle, check_corpus=False)
    # corpus row count still matches even without bytes
    assert runner.corpus_df().count() == len(oracle.corpus)


def test_duplicate_seeds_dedup_to_same_crawl(spark, tmp_path):
    """R2/R4: duplicated + reshuffled seed lists must dedup (first occurrence
    wins) and crawl identically to the oracle fed the same noisy list."""
    dup_seeds = SEEDS + SEEDS[::-1] + SEEDS[:3]
    oracle_dup = oracle_crawl(dup_seeds, rounds=2, round_budget=60)
    runner = run_crawl(
        spark, str(tmp_path / "dup"), dup_seeds, 2, 60, with_bytes=False
    )
    eng = [
        (r["seq"], r["round"], r["canon_url"])
        for r in runner.ordering_df().orderBy("seq").collect()
    ]
    assert eng == oracle_dup.ordering
    assert {r["url_hash"] for r in runner.seen_df().collect()} == oracle_dup.seen


def test_zero_budget_rounds_are_noops(spark, tmp_path):
    """budget=0: rounds select nothing, commit nothing data-bearing, and the
    crawl stays resumable."""
    wd = str(tmp_path / "z")
    runner = CrawlRunner(spark, wd, round_budget=0, with_bytes=False)
    runner.init_from_seeds(SEEDS)
    out = runner.run(2)
    assert all(o["n_selected"] == 0 for o in out)
    assert runner.ordering.current_snapshot_id() is None  # nothing fetched
    resumed = CrawlRunner.resume(spark, wd)
    assert resumed.run(1)[0]["n_selected"] == 0


def test_empty_seed_list(spark, tmp_path):
    """No seeds: init succeeds with empty tables; a round is a clean no-op
    (the empty-manifest guards, not a crash)."""
    runner = CrawlRunner(
        spark, str(tmp_path / "e"), round_budget=10, with_bytes=False
    )
    runner.init_from_seeds([])
    assert runner.run(1)[0]["n_selected"] == 0


def test_disk_checkpoint_mode_equivalence(spark, tmp_path, oracle):
    """checkpoint='disk' (persist DISK_ONLY + materialize — the
    executor-loss-safe mode for real clusters, where localCheckpoint blocks
    die with their executor) must produce the bit-identical crawl, survive
    resume (the mode rides the checkpoint), and run Bloom mode through the
    same materializer."""
    wd = str(tmp_path / "dk")
    runner = CrawlRunner(
        spark, wd, round_budget=BUDGET, checkpoint="disk",
        bloom=BloomSeen(n_buckets=32),
    )
    runner.init_from_seeds(SEEDS)
    runner.run(1)
    resumed = CrawlRunner.resume(spark, wd)
    assert resumed.checkpoint == "disk"
    resumed.run(ROUNDS - 1)
    _assert_match(resumed, oracle)


def test_disk_mode_unpersists_on_midround_abort(spark, tmp_path):
    """checkpoint='disk': a round that ABORTS (here: the mid-round ingest
    HWM guard, whose purpose is to be raised and resumed from) must still
    free its DISK_ONLY blocks — without the try/finally each abort/resume
    cycle pinned the aborted round's persists on executor disk until a later
    successful round happened to clear the list (r4 advice)."""
    from paperchase_crawler_spark.streaming.frontier_ingest import ingest_batch

    wd = str(tmp_path / "dka")
    runner = CrawlRunner(
        spark, wd, round_budget=BUDGET, checkpoint="disk", with_bytes=False
    )
    runner.init_from_seeds(SEEDS)
    runner.run(1)
    # inject the concurrent ingest at a point that still PRECEDES the HWM
    # guard: _new_frontier_rows runs in EXPAND, before the pre-pool check
    # (r6 moved ordering.append — the old hook point — into the concurrent
    # commit pool, after the guard). The feed runs on its own handle:
    # ingest enqueues through _new_frontier_rows too, so on the hooked
    # runner it would recurse.
    feed = CrawlRunner.resume(spark, wd)
    orig_nfr = runner._new_frontier_rows

    def hooked(cand, round_disc):
        ingest_batch(
            feed,
            spark.createDataFrame(
                [("https://host0.example/mid", 1)], "raw_url string, src_seq long"
            ),
            epoch_id=21,
        )
        return orig_nfr(cand, round_disc)

    runner._new_frontier_rows = hooked
    with pytest.raises(RuntimeError, match="mid-round"):
        runner.run_round()
    assert runner.mat.owned == []  # freed by the finally, not leaked
    runner._new_frontier_rows = orig_nfr
    resumed = CrawlRunner.resume(spark, wd)
    resumed.run_round()
    assert resumed.mat.owned == []


def test_commit_failure_keeps_corpus_counter_and_resumes(spark, tmp_path, oracle):
    """A commit chain that fails mid-round must leave the in-memory corpus
    counter where the last checkpoint put it (it used to be bumped before
    the commit pool ran, overstating the corpus table), and resume() must
    replay the round oracle-equal."""
    wd = str(tmp_path / "cf")
    runner = CrawlRunner(spark, wd, round_budget=BUDGET)
    runner.init_from_seeds(SEEDS)
    runner.run(1)
    corpus_rows = runner._corpus_rows

    def fail(*args, **kwargs):
        raise RuntimeError("crawl_log commit failed")

    runner.crawl_log.append = fail
    with pytest.raises(RuntimeError, match="crawl_log commit failed"):
        runner.run_round()
    assert runner._corpus_rows == corpus_rows
    resumed = CrawlRunner.resume(spark, wd)
    assert resumed.round == 1 and resumed._corpus_rows == corpus_rows
    resumed.run(ROUNDS - 1)
    _assert_match(resumed, oracle)


@pytest.fixture(scope="module")
def bloom_round_2(spark, tmp_path_factory, oracle):
    """Round 2 of a small Bloom crawl: (Spark job ids, {stage id: tasks}).
    The commit chains run on pool threads, which carry no job group, so
    every job of the round is an ungrouped job started during it."""
    tracker = spark.sparkContext.statusTracker()
    runner = CrawlRunner(
        spark, str(tmp_path_factory.mktemp("jobs")), round_budget=BUDGET,
        with_bytes=False, bloom=BloomSeen(n_buckets=8, m_bits=1 << 13, k=5),
    )
    runner.init_from_seeds(SEEDS)
    runner.run_round()
    before = set(tracker.getJobIdsForGroup(None))
    runner.run_round()
    jobs = set(tracker.getJobIdsForGroup(None)) - before
    stages = {
        s: tracker.getStageInfo(s).numTasks
        for j in jobs
        for s in tracker.getJobInfo(j).stageIds
        if tracker.getStageInfo(s) is not None
    }
    runner.run_round()
    _assert_match(runner, oracle, check_corpus=False)
    return jobs, stages


def test_bloom_round_job_count(bloom_round_2):
    """Spark jobs of round 2, commit chains included. Every table read
    passes its declared schema, so no round pays a footer-inference job, and
    no frontier compaction runs."""
    jobs, _ = bloom_round_2
    # 33 with schema inference on every table read and a frontier
    # compaction each round; 27 while SELECT shuffled its bucket manifest
    # and table reads were not sized by their file count
    assert len(jobs) == 25


def test_bloom_round_stage_width(spark, bloom_round_2):
    """No stage of round 2 is wider than the session's task slots: every
    per-round stage is sized by stage_tasks (16 frontier buckets, 64 seen
    buckets and the fetched URLs all land on shuffle.partitions tasks), and
    no table read launches a file-listing job. One stage may run one task
    more: the frontier delta unions the fetched rows (up to
    shuffle.partitions partitions) with the one-partition cut of the new
    rows before its write shuffle."""
    _, stages = bloom_round_2
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert len(stages) > 20
    assert max(stages.values()) <= n_parts + 1, stages
