"""Distributed exact rank / top-k vs the naive single-partition truth."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from paperchase_crawler_spark.operators.ordering import global_topk, ranked_cut


def _df(spark, n=500, seed=1):
    rng = random.Random(seed)
    rows = [(rng.randrange(5), i, rng.random()) for i in range(n)]
    rng.shuffle(rows)
    return spark.createDataFrame(rows, "depth int, disc_seq long, junk double").repartition(7)


def test_with_global_rank_matches_sort(spark):
    """k=None ranks every row (range path)."""
    df = _df(spark)
    ranked, n_rows, n_pred = ranked_cut(df, ["depth", "disc_seq"], "rank", start=100)
    got = {r.disc_seq: r.rank for r in ranked.collect()}
    want = sorted((r.depth, r.disc_seq) for r in df.collect())
    assert (n_rows, n_pred) == (500, None)
    for i, (_, seq) in enumerate(want):
        assert got[seq] == 100 + i


def test_global_topk_matches_sort(spark):
    df = _df(spark, n=300, seed=2)
    want = sorted((r.depth, r.disc_seq) for r in df.collect())[:37]
    got = sorted((r.depth, r.disc_seq) for r in global_topk(df, ["depth", "disc_seq"], 37).collect())
    assert got == want


def test_global_topk_ranked_matches_sort(spark):
    """A cut of k rows with ranks, on the take-ordered path and, with a
    count_pred, on the range path: same rows, same ranks."""
    df = _df(spark, n=400, seed=4)
    want = sorted((r.depth, r.disc_seq) for r in df.collect())
    n_shallow = sum(1 for d, _ in want if d < 2)
    for k in (1, 37, 400, 9999):
        for pred in (None, F.col("depth") < 2):
            ranked, n_rows, n_pred = ranked_cut(
                df, ["depth", "disc_seq"], "rank", k=k, start=7, count_pred=pred
            )
            got = {r.rank: (r.depth, r.disc_seq) for r in ranked.collect()}
            assert len(got) == min(k, 400)
            for i in range(min(k, 400)):
                assert got[7 + i] == want[i]
            if pred is None:
                assert (n_rows, n_pred) == (None, None)
            else:
                assert (n_rows, n_pred) == (min(k, 400), n_shallow)
    assert ranked_cut(df.limit(0), ["depth", "disc_seq"], "rank", k=5)[0].count() == 0


def test_global_topk_edges(spark):
    df = _df(spark, n=20, seed=3)
    assert global_topk(df, ["depth", "disc_seq"], 0).count() == 0
    assert global_topk(df, ["depth", "disc_seq"], 10**6).count() == 20
    empty = df.filter(F.lit(False))
    assert global_topk(empty, ["depth", "disc_seq"], 5).count() == 0
    ranked, n_rows, _ = ranked_cut(empty, ["depth", "disc_seq"], "rank")
    assert ranked.count() == 0 and n_rows == 0
    ranked, n_rows, n_pred = ranked_cut(
        df, ["depth", "disc_seq"], "rank", k=0, count_pred=F.lit(True)
    )
    assert ranked.count() == 0 and (n_rows, n_pred) == (0, 0)


def test_ranked_cut_job_count_per_path(spark):
    """Spark jobs per ranked_cut path: a job added here is a fixed cost paid
    by every crawl round. Each path counts the jobs of the cut itself plus
    the size count a caller takes when the take-ordered path leaves n_rows
    unknown (SELECT and the seed rank do; EXPAND does not), then the jobs of
    one collect of the output. The input carries an exchange, as every call
    site's input does (an aggregation or a join); a fresh DataFrame per path
    keeps earlier runs from sharing its shuffle stages."""
    from paperchase_crawler_spark.operators.ordering import TAKE_ORDERED_MAX_K

    def fresh():
        return (
            spark.range(0, 800, 1, 5)
            .groupBy((F.col("id") % 400).alias("k"))
            .agg(F.min(F.col("id") * 7919 % 7).cast("int").alias("depth"))
            .select("depth", (F.col("k") * 104729 % 400).alias("disc_seq"))
        )

    keys = ["depth", "disc_seq"]
    paths = {
        "take-ordered ranked": ({"k": 100}, True, (3, 1)),
        "take-ordered max_rows": ({"max_rows": 500}, False, (1, 1)),
        "take-ordered max_rows, sized": ({"max_rows": 500}, True, (3, 1)),
        "range, k": ({"k": TAKE_ORDERED_MAX_K + 1}, True, (5, 2)),
        "range, count_pred": ({"k": 100, "count_pred": F.col("depth") < 3}, True, (5, 2)),
        "range, k=None": ({}, True, (5, 2)),
    }
    sc = spark.sparkContext
    for name, (kwargs, sized, want) in paths.items():
        group = f"ranked_cut_jobs {name}"
        sc.setJobGroup(group, group)
        try:
            ranked, n_rows, _ = ranked_cut(fresh(), keys, "rank", **kwargs)
            if sized and n_rows is None:
                ranked.count()
            cut_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
            ranked.collect()
            all_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert (cut_jobs, all_jobs - cut_jobs) == want, name
