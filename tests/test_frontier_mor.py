"""Bucketed merge-on-read frontier: delta semantics, compaction, salts."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from oracle.crawler import crawl as oracle_crawl
from paperchase_crawler_spark import simweb
from paperchase_crawler_spark.operators.frontier_select import (
    frontier_bucket_col,
    merged_frontier,
    select_candidates,
)
from paperchase_crawler_spark.plans.crawl import CrawlRunner, run_crawl
from paperchase_crawler_spark.schemas import FRONTIER
from paperchase_crawler_spark.sources.icetable import IceTable

SEEDS = simweb.seed_urls(8)


def _frontier_rows(spark, rows):
    return spark.createDataFrame(rows, FRONTIER)


def _row(url, state="queued", depth=0, seq=0, rd=0, done=None):
    host = url.split("/")[2]
    return (url, hash(url) % (1 << 40), host, depth, seq, -float(depth), state, rd, done)


@pytest.fixture
def tbl(tmp_path):
    return IceTable(str(tmp_path / "f"))


def _write(tbl, df, nb, rev):
    from paperchase_crawler_spark.operators.frontier_select import (
        compute_frontier_zones,
    )

    spark = df.sparkSession
    zf = lambda files: compute_frontier_zones(spark, files)
    staged = (
        df.withColumn("__rev", F.lit(rev).cast("int"))
        .withColumn("__fb", frontier_bucket_col(nb, 1))
        .repartition(nb, F.col("__fb"))
    )
    if tbl.current_snapshot_id() is None:
        tbl.overwrite_bucketed(staged, n_buckets=nb, zone_fn=zf)
    else:
        tbl.append_bucketed_delta(staged, zone_fn=zf)


def test_delta_overrides_base(spark, tbl):
    base = [_row(f"https://h{i % 3}.example/p/{i}", seq=i) for i in range(20)]
    _write(tbl, _frontier_rows(spark, base), nb=4, rev=0)
    # flip 5 rows to fetched via a delta
    upd = [
        _row(f"https://h{i % 3}.example/p/{i}", state="fetched", seq=i, done=1)
        for i in range(5)
    ]
    _write(tbl, _frontier_rows(spark, upd), nb=4, rev=1)
    merged = merged_frontier(spark, tbl)
    assert merged.count() == 20
    assert merged.filter(F.col("state") == "fetched").count() == 5
    # and the no-shuffle candidate path sees only the still-queued rows
    cand = select_candidates(spark, tbl, max_tokens=100)
    got = {r["disc_seq"] for r in cand.collect()}
    assert got == set(range(5, 20))


def test_candidates_rank_is_true_host_rank(spark, tbl):
    rows = [_row(f"https://h0.example/p/{i}", depth=i % 2, seq=i) for i in range(10)]
    _write(tbl, _frontier_rows(spark, rows), nb=4, rev=0)
    cand = select_candidates(spark, tbl, max_tokens=3).collect()
    assert len(cand) == 3  # one host → top-3 overall
    by_rank = sorted((r["__host_rank"], r["depth"], r["disc_seq"]) for r in cand)
    want = sorted((r[3], r[4]) for r in rows)[:3]  # (depth, seq) R3 order
    assert [(d, s) for _, d, s in by_rank] == want


def test_crawl_equivalence_with_salts_and_eager_compaction(spark, tmp_path):
    """salts>1 (giant-host defense → exact window cut) and compaction every
    round (max_bucket_files=1) must not change any artifact."""
    oracle = oracle_crawl(SEEDS, rounds=3, round_budget=120)
    runner = run_crawl(
        spark, str(tmp_path / "s"), SEEDS, 3, 120,
        with_bytes=False, frontier_buckets=4, frontier_salts=2,
        max_bucket_files=1,
    )
    eng = [
        (r["seq"], r["round"], r["canon_url"])
        for r in runner.ordering_df().orderBy("seq").collect()
    ]
    assert eng == oracle.ordering
    assert {r["url_hash"] for r in runner.seen_df().collect()} == oracle.seen
    # eager compaction → frontier has no deltas at rest
    assert all(
        s["n_delta_files"] == 0 for s in runner.frontier.bucket_summaries().values()
    )
    # 8 buckets on fewer tasks: one host's salt buckets can share a task, and
    # the packed SELECT still equals the per-host top-k of the reference merge
    from paperchase_crawler_spark.operators.frontier_select import (
        exact_per_host_cut,
        merged_frontier_reference,
    )

    k = runner.max_tokens
    cand = select_candidates(spark, runner.frontier, k)
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert cand.rdd.getNumPartitions() == n_parts < len(
        runner.frontier.bucket_summaries()
    )
    got = exact_per_host_cut(
        cand.withColumn("tokens_per_round", F.lit(k)), salts=2
    ).select("url_hash").collect()
    ref = merged_frontier_reference(spark, runner.frontier).filter(
        F.col("state") == "queued"
    )
    w = Window.partitionBy("host").orderBy("depth", "disc_seq")
    want = ref.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)
    assert sorted(r[0] for r in got) == sorted(
        r[0] for r in want.select("url_hash").collect()
    )
    assert got


def test_frontier_files_sorted_by_key(spark, tmp_path):
    """Every frontier file — delta appends and compaction rewrites alike —
    is sorted by (depth, disc_seq), so its row-group stats are tight for
    the zone-pruned SELECT's parquet pushdown, even though every write task
    holds several buckets."""
    import pyarrow.parquet as pq

    runner = run_crawl(
        spark, str(tmp_path / "sorted"), SEEDS, 3, 120, with_bytes=False,
        max_bucket_files=2,
    )
    tbl = runner.frontier
    assert "compaction" in {tbl.snapshot(i)["meta"].get("op") for i in tbl.snapshot_ids()}
    files = tbl.files_at()
    assert len(files) > 16
    for f in files:
        t = pq.read_table(f, columns=["depth", "disc_seq"])
        key = list(zip(t.column("depth").to_pylist(), t.column("disc_seq").to_pylist()))
        assert key == sorted(key), f


def test_compaction_is_shuffle_free_and_exact(spark, tbl):
    """compacted_frontier: per-bucket merge plan has no Exchange (rows never
    change bucket) and equals the shuffled groupBy/max_by reference. The
    public merged_frontier view (bucket-local since r3) must match both and
    itself stay Exchange-free."""
    from paperchase_crawler_spark.operators.frontier_select import (
        compacted_frontier,
        merged_frontier_reference,
    )

    base = [_row(f"https://h{i % 5}.example/p/{i}", seq=i) for i in range(30)]
    _write(tbl, _frontier_rows(spark, base), nb=4, rev=0)
    upd = [
        _row(f"https://h{i % 5}.example/p/{i}", state="fetched", seq=i, done=1)
        for i in range(7)
    ]
    _write(tbl, _frontier_rows(spark, upd), nb=4, rev=1)
    compacted = compacted_frontier(spark, tbl, next_rev=2)
    plan = compacted._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") <= 1  # only the tiny manifest repartition
    cols = [f.name for f in FRONTIER.fields]
    got = sorted(tuple(r) for r in compacted.select(*cols).collect())
    want = sorted(
        tuple(r)
        for r in merged_frontier_reference(spark, tbl).select(*cols).collect()
    )
    assert got == want
    assert {r[6] for r in got} == {"queued", "fetched"}
    pub = merged_frontier(spark, tbl)
    pub_plan = pub._jdf.queryExecution().executedPlan().toString()
    assert pub_plan.count("Exchange") <= 1  # no caller can trip a full shuffle
    assert sorted(tuple(r) for r in pub.select(*cols).collect()) == want


def test_maintenance_keeps_resume_working(spark, tmp_path):
    """expire_snapshots between rounds must not break crash-resume or change
    any artifact (the checkpointed current snapshots are always retained)."""
    oracle = oracle_crawl(SEEDS, rounds=3, round_budget=120)
    wd = str(tmp_path / "m")
    runner = CrawlRunner(spark, wd, round_budget=120, with_bytes=False)
    runner.init_from_seeds(SEEDS)
    runner.run(2)
    removed = runner.maintain(keep_last=1)
    assert sum(removed.values()) > 0
    resumed = CrawlRunner.resume(spark, wd)
    resumed.run(1)
    eng = [
        (r["seq"], r["round"], r["canon_url"])
        for r in resumed.ordering_df().orderBy("seq").collect()
    ]
    assert eng == oracle.ordering
    assert {r["url_hash"] for r in resumed.seen_df().collect()} == oracle.seen


def test_frontier_delta_commit_is_o_changed(spark, tmp_path):
    """A round's frontier commit writes o(frontier) bytes (the delta), and
    the snapshot metadata proves it: delta rows ≪ base rows."""
    runner = CrawlRunner(
        spark, str(tmp_path / "d"), round_budget=10, with_bytes=False,
        frontier_buckets=4,
    )
    runner.init_from_seeds(simweb.seed_urls(400))
    base_bytes = runner.frontier.last_commit_bytes
    runner.run(1)
    snap = runner.frontier.snapshot()
    assert snap["op"] == "append"  # delta, not a rewrite
    summ = runner.frontier.bucket_summaries().values()
    frac = sum(s["delta_rows"] for s in summ) / sum(s["base_rows"] for s in summ)
    assert 0 < frac <= 0.5
    assert runner.frontier.last_commit_bytes < base_bytes * 25  # sanity: bounded


# -- round 3: zone-map pruned SELECT -------------------------------------------


def _hs_df(spark, hosts, tokens=4):
    return spark.createDataFrame(
        [(h, 0, tokens, -1000000) for h in hosts],
        "host string, crawl_delay_rounds int, tokens_per_round int, last_round int",
    )


def _ranked_set(df):
    return sorted((r["url_hash"], r["seq"]) for r in df.collect())


def test_pruned_select_equals_full_and_skips_buckets(spark, tbl):
    """Mostly-cold frontier: the pruned plan must open a strict subset of
    buckets and produce EXACTLY the full-scan selection."""
    from paperchase_crawler_spark.operators.frontier_select import (
        select_candidates,
        select_frontier_round,
    )
    from paperchase_crawler_spark.operators.ordering import ranked_cut
    from paperchase_crawler_spark.operators.politeness import R3_KEYS, eligible_hosts

    # host i's rows all sit at depth i → bucket zone mins differ sharply
    rows = [
        _row(f"https://h{i}.example/p/{i}-{j}", depth=i, seq=i * 100 + j)
        for i in range(32)
        for j in range(40)
    ]
    _write(tbl, _frontier_rows(spark, rows), nb=16, rev=0)
    hosts = [f"h{i}.example" for i in range(32)]
    hs = _hs_df(spark, hosts)
    ranked, info = select_frontier_round(
        spark, tbl, hs, round_no=1, budget=12, max_tokens=8, salts=1
    )
    # independent full-scan reference
    full = select_candidates(spark, tbl, max_tokens=8)
    elig = eligible_hosts(full.join(F.broadcast(hs), "host", "inner"), 1)
    from paperchase_crawler_spark.operators.frontier_select import exact_per_host_cut

    ref = ranked_cut(exact_per_host_cut(elig, 1), R3_KEYS, "seq", k=12)[0]
    assert _ranked_set(ranked) == _ranked_set(ref)
    assert info["pruned"] is True
    assert info["fallback"] is False
    assert info["scanned_buckets"] < info["queued_buckets"]


def test_pruned_select_fallback_is_exact(spark, tbl):
    """budget > eligible supply: the verification count must catch it and the
    fallback full scan must deliver the exact full selection."""
    from paperchase_crawler_spark.operators.frontier_select import (
        select_frontier_round,
    )

    rows = [
        _row(f"https://h{i}.example/p/{i}-{j}", depth=i, seq=i * 100 + j)
        for i in range(32)
        for j in range(40)
    ]
    _write(tbl, _frontier_rows(spark, rows), nb=16, rev=0)
    hosts = [f"h{i}.example" for i in range(32)]
    hs = _hs_df(spark, hosts, tokens=2)
    # supply = 32 hosts x 2 tokens = 64; ask for 60 with a tiny overscan so
    # the planner skips buckets it shouldn't have → verification must fire
    ranked, info = select_frontier_round(
        spark, tbl, hs, round_no=1, budget=60, max_tokens=8, salts=1,
        prune_overscan=1.0, max_scan_frac=0.99,
    )
    got = _ranked_set(ranked)
    assert len(got) == 60
    if info["pruned"] and info["tau"] is not None:
        assert info["fallback"] is True
    # exact reference: per-host top-2 by (depth, seq) → global top-60
    per_host = {}
    survivors = []
    for r in sorted(rows, key=lambda t: (t[3], t[4])):
        c = per_host.get(r[2], 0)
        if c < 2:
            per_host[r[2]] = c + 1
            survivors.append(r)
    want_hashes = sorted(r[1] for r in survivors[:60])
    assert sorted(h for h, _ in got) == want_hashes


def test_zero_queued_buckets_always_skipped(spark, tbl):
    """Buckets whose zone maps show no queued rows are skipped exactly, with
    no tau verification needed."""
    from paperchase_crawler_spark.operators.frontier_select import (
        select_frontier_round,
    )

    rows = [
        _row(
            f"https://h{i}.example/p/{i}-{j}",
            state="queued" if i < 2 else "fetched",
            depth=0,
            seq=i * 100 + j,
            done=None if i < 2 else 1,
        )
        for i in range(24)
        for j in range(10)
    ]
    _write(tbl, _frontier_rows(spark, rows), nb=12, rev=0)
    hs = _hs_df(spark, [f"h{i}.example" for i in range(24)], tokens=10)
    ranked, info = select_frontier_round(
        spark, tbl, hs, round_no=1, budget=100, max_tokens=16, salts=1
    )
    got = {r["url_hash"] for r in ranked.collect()}
    want = {r[1] for r in rows if r[6] == "queued"}
    assert got == want  # all 20 queued rows, none lost
    assert info["scanned_buckets"] <= 2  # only buckets holding h0/h1
    assert info["scanned_buckets"] < info["total_buckets"]


def test_host_touch_commit_is_o_hosts(spark, tmp_path):
    """host_state is written once; per-round commits are o(hosts) touch rows."""
    runner = CrawlRunner(
        spark, str(tmp_path / "ht"), round_budget=10, with_bytes=False,
        frontier_buckets=4,
    )
    runner.init_from_seeds(simweb.seed_urls(400))
    base_bytes = runner.host_state.last_commit_bytes
    hs_snap_before = runner.host_state.current_snapshot_id()
    runner.run(1)
    # the dimension was NOT rewritten
    assert runner.host_state.current_snapshot_id() == hs_snap_before
    # the touch delta is tiny vs the dimension
    assert runner.host_touch.last_commit_bytes < base_bytes / 4
    # and the merged view carries the round's last_round updates
    hs = runner._host_state_df()
    assert hs.filter(F.col("last_round") == 1).count() > 0


def test_bloom_partial_compaction_rewrites_subset(spark, tmp_path):
    """Group-scoped Bloom compaction rewrites only hot groups' files."""
    from paperchase_crawler_spark.operators.seen import BloomSeen

    runner = CrawlRunner(
        spark, str(tmp_path / "bp"), round_budget=120, with_bytes=False,
        frontier_buckets=4, bloom=BloomSeen(n_buckets=16),
        bloom_shards_per_bucket=1, bloom_shard_groups=4,
    )
    runner.init_from_seeds(SEEDS)
    plan_before = runner.bloom_shards.bucket_plan()
    runner.run(2)
    snap = runner.bloom_shards.snapshot()
    ops = [
        runner.bloom_shards.snapshot(s)["op"]
        for s in runner.bloom_shards.snapshot_ids()
    ]
    assert "replace" in ops  # a partial compaction happened
    # every bucket's shard count is back within the allowance
    allowance = (16 / 4) * 1
    for g, s in runner.bloom_shards.bucket_summaries().items():
        assert s["rows"] <= allowance * 2 + 4  # bounded, not unbounded growth
    # equivalence with the oracle still holds (probe over compacted groups)
    oracle = oracle_crawl(SEEDS, rounds=2, round_budget=120)
    assert {r["url_hash"] for r in runner.seen_df().collect()} == oracle.seen


def test_rebucket_split_preserves_equivalence(spark, tmp_path):
    """rows_per_bucket_target forces bucket-count doubling mid-crawl; every
    artifact stays oracle-equal and resume still works after the split."""
    oracle = oracle_crawl(SEEDS, rounds=3, round_budget=120)
    wd = str(tmp_path / "rb")
    runner = CrawlRunner(
        spark, wd, round_budget=120, with_bytes=False,
        frontier_buckets=2, frontier_salts=1, max_bucket_files=1,
        rows_per_bucket_target=40,
    )
    runner.init_from_seeds(SEEDS)
    runner.run(2)
    assert runner.frontier_buckets > 2  # the split happened
    assert (
        runner.frontier.snapshot()["meta"]["buckets"]["n"]
        == runner.frontier_buckets
    )
    resumed = CrawlRunner.resume(spark, wd)
    assert resumed.frontier_buckets == runner.frontier_buckets
    resumed.run(1)
    eng = [
        (r["seq"], r["round"], r["canon_url"])
        for r in resumed.ordering_df().orderBy("seq").collect()
    ]
    assert eng == oracle.ordering
    assert {r["url_hash"] for r in resumed.seen_df().collect()} == oracle.seen


def test_crawl_equivalence_with_pruning_engaged(spark, tmp_path):
    """End-to-end: a small-budget crawl where the zone-map pruned SELECT
    actually engages (tau set, no fallback needed for exactness — fallback
    rounds are fine too, they're exact by construction) must reproduce the
    oracle's ordering and seen set bit-exactly. Asserts via crawl_log meta
    that at least one round really pruned (tau non-null) so this test cannot
    silently degrade into full-scan-only coverage."""
    seeds = simweb.seed_urls(64)
    oracle = oracle_crawl(seeds, rounds=4, round_budget=10)
    runner = run_crawl(
        spark, str(tmp_path / "pe"), seeds, 4, 10,
        with_bytes=False, frontier_buckets=4, frontier_salts=1,
    )
    eng = [
        (r["seq"], r["round"], r["canon_url"])
        for r in runner.ordering_df().orderBy("seq").collect()
    ]
    assert eng == oracle.ordering
    assert {r["url_hash"] for r in runner.seen_df().collect()} == oracle.seen
    prune_infos = [
        runner.crawl_log.snapshot(s)["meta"].get("select_pruning")
        for s in runner.crawl_log.snapshot_ids()
        if "select_pruning" in runner.crawl_log.snapshot(s)["meta"]
    ]
    engaged = [
        p for p in prune_infos if p and p.get("tau") and not p.get("fallback")
    ]
    assert engaged, f"pruning never engaged: {prune_infos}"


def test_pruned_select_randomized_equivalence(spark, tmp_path):
    """Seeded-random frontiers (states × depths × hosts × budgets × salts):
    the pruned production SELECT must equal the reference pipeline on every
    draw — guards the τ-exactness proof against edge cases the handcrafted
    tests miss (fallback draws are equally valid: they must also match)."""
    import random

    from paperchase_crawler_spark.operators.frontier_select import (
        exact_per_host_cut,
        select_candidates,
        select_frontier_round,
    )
    from paperchase_crawler_spark.operators.ordering import ranked_cut
    from paperchase_crawler_spark.operators.politeness import R3_KEYS, eligible_hosts

    for seed in range(4):
        rng = random.Random(seed)
        n_hosts = rng.randint(4, 14)
        salts = rng.choice([1, 2])
        budget = rng.choice([5, 17, 60])
        tokens = rng.randint(1, 4)
        rows = []
        for i in range(400):
            h = rng.randrange(n_hosts)
            rows.append(
                _row(
                    f"https://h{h}.example/p/{seed}-{i}",
                    state=rng.choice(["queued", "queued", "queued", "fetched"]),
                    depth=rng.randrange(6),
                    seq=seed * 1000 + i,
                )
            )
        tbl = IceTable(str(tmp_path / f"r{seed}"))
        df = _frontier_rows(spark, rows)
        from paperchase_crawler_spark.operators.frontier_select import (
            compute_frontier_zones,
        )

        staged = (
            df.withColumn("__rev", F.lit(0).cast("int"))
            .withColumn("__fb", frontier_bucket_col(8, salts))
            .repartition(8 * salts, F.col("__fb"))
        )
        tbl.overwrite_bucketed(
            staged, n_buckets=8 * salts,
            zone_fn=lambda files: compute_frontier_zones(spark, files),
        )
        hs = _hs_df(spark, [f"h{i}.example" for i in range(n_hosts)], tokens=tokens)
        got_df, info = select_frontier_round(
            spark, tbl, hs, round_no=1, budget=budget, max_tokens=8, salts=salts
        )
        ref = ranked_cut(
            exact_per_host_cut(
                eligible_hosts(
                    select_candidates(spark, tbl, 8).join(
                        F.broadcast(hs), "host", "inner"
                    ),
                    1,
                ),
                salts,
            ),
            R3_KEYS, "seq", k=budget,
        )[0]
        assert _ranked_set(got_df) == _ranked_set(ref), (seed, info)


def test_seen_verify_reads_bucket_subset(spark, tmp_path):
    """Bloom-mode crawl: the exact seen verify must read only the buckets the
    suspects hash into (crawl_log meta proves the scope), while the crawl
    stays oracle-equal — the seen table is never fully scanned in a round."""
    from paperchase_crawler_spark.operators.seen import BloomSeen

    seeds = simweb.seed_urls(12)
    oracle = oracle_crawl(seeds, rounds=3, round_budget=150)
    runner = run_crawl(
        spark, str(tmp_path / "sb"), seeds, 3, 150,
        with_bytes=False, frontier_buckets=4,
        bloom=BloomSeen(n_buckets=32), seen_buckets=16,
    )
    eng = [
        (r["seq"], r["round"], r["canon_url"])
        for r in runner.ordering_df().orderBy("seq").collect()
    ]
    assert eng == oracle.ordering
    assert {r["url_hash"] for r in runner.seen_df().collect()} == oracle.seen
    infos = [
        runner.crawl_log.snapshot(s)["meta"].get("seen_filter")
        for s in runner.crawl_log.snapshot_ids()
        if "seen_filter" in runner.crawl_log.snapshot(s)["meta"]
    ]
    assert infos and all(i and "suspect_buckets" in i for i in infos), infos
    # scope recorded and bounded: never more buckets than suspects require
    for i in infos:
        assert i["suspect_buckets"] <= i["total_buckets"]
        assert i["suspect_buckets"] <= max(i["n_suspects"], 1)


# -- exact bucket summaries between compactions --------------------------------


def _queued_hist(spark, tbl) -> dict[str, int]:
    """depth → queued rows of the merged (last-wins) frontier."""
    rows = (
        merged_frontier(spark, tbl)
        .filter(F.col("state") == "queued")
        .groupBy("depth")
        .count()
        .collect()
    )
    return {str(r["depth"]): r["count"] for r in rows}


def test_bucket_summaries_exact_under_merge_on_read(spark, tmp_path):
    """Random merge-on-read histories — a base, then deltas mixing fetched
    transitions with new queued and blocked rows — must give bucket
    summaries whose queued-depth histogram and queued count equal those of
    the same buckets after compaction (stale queued versions of fetched
    URLs are netted out, not counted)."""
    import random
    from collections import Counter

    from paperchase_crawler_spark.operators.frontier_select import (
        compacted_frontier,
        compute_frontier_zones,
    )

    nb = 4
    n_fetched_deltas = 0
    for seed in range(3):
        rng = random.Random(seed)
        tbl = IceTable(str(tmp_path / f"h{seed}"))
        latest: dict[str, tuple] = {}
        next_seq = 0

        def fresh(n, rd):
            nonlocal next_seq
            out = []
            for _ in range(n):
                url = f"https://h{rng.randrange(6)}.example/p/{next_seq}"
                blocked = rng.random() < 0.2
                out.append(
                    _row(
                        url, state="blocked" if blocked else "queued",
                        depth=rng.randrange(4), seq=next_seq, rd=rd,
                        done=rd if blocked else None,
                    )
                )
                next_seq += 1
            return out

        rows = fresh(40, 0)
        _write(tbl, _frontier_rows(spark, rows), nb=nb, rev=0)
        latest.update({r[0]: r for r in rows})
        for rev in range(1, 5):
            queued = sorted(u for u, r in latest.items() if r[6] == "queued")
            picked = rng.sample(queued, min(len(queued), rng.randrange(15)))
            # fetched replaces the queued version: same key, terminal state
            upd = [latest[u][:6] + ("fetched", latest[u][7], rev) for u in picked]
            upd += fresh(rng.randrange(1, 12), rev)
            n_fetched_deltas += bool(picked)
            _write(tbl, _frontier_rows(spark, upd), nb=nb, rev=rev)
            latest.update({r[0]: r for r in upd})
        before = tbl.bucket_summaries()
        assert any(s["n_delta_files"] for s in before.values())
        want = _queued_hist(spark, tbl)
        queued_depths = Counter(r[3] for r in latest.values() if r[6] == "queued")
        assert want == {str(d): n for d, n in queued_depths.items()}
        buckets = sorted(before, key=int)
        tbl.overwrite_buckets_partial(
            compacted_frontier(spark, tbl, next_rev=9, buckets=buckets),
            buckets,
            zone_fn=lambda files: compute_frontier_zones(spark, files),
        )
        after = tbl.bucket_summaries()
        for b in buckets:
            assert after[b]["n_delta_files"] == 0
            assert before[b]["depth_hist"] == after[b]["depth_hist"], (seed, b)
            assert before[b]["n_queued"] == after[b]["n_queued"], (seed, b)
        total: dict[str, int] = {}
        for s in before.values():
            for d, n in s["depth_hist"].items():
                total[d] = total.get(d, 0) + n
        assert total == want
    assert n_fetched_deltas >= 6  # the histories really carry transitions


def test_default_bloom_crawl_keeps_frontier_uncompacted_and_exact(spark, tmp_path):
    """A 3-round default-layout Bloom crawl: no frontier bucket reaches
    max_bucket_files, so the frontier is never rewritten, yet every round's
    SELECT plans on an exact queued count (no stale versions, no fallback)
    and the crawl equals the oracle."""
    from paperchase_crawler_spark.operators.seen import BloomSeen

    oracle = oracle_crawl(SEEDS, rounds=3, round_budget=120)
    runner = CrawlRunner(
        spark, str(tmp_path / "nc"), round_budget=120, with_bytes=False,
        bloom=BloomSeen(n_buckets=16, m_bits=1 << 13, k=5),
    )
    runner.init_from_seeds(SEEDS)
    for _ in range(3):
        n_queued = sum(_queued_hist(spark, runner.frontier).values())
        runner.run_round()
        info = runner.crawl_log.snapshot()["meta"]["select_pruning"]
        assert info["total_queued"] == n_queued, info
        assert not info["fallback"], info
    assert "replace" not in _ops(runner.frontier)
    eng = [
        (r["seq"], r["round"], r["canon_url"])
        for r in runner.ordering_df().orderBy("seq").collect()
    ]
    assert eng == oracle.ordering
    assert {r["url_hash"] for r in runner.seen_df().collect()} == oracle.seen


def _ops(tbl) -> list[str]:
    return [tbl.snapshot(s)["op"] for s in tbl.snapshot_ids()]
