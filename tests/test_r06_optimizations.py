"""Round-6 optimization parity pins: every rewrite that changed an
operator's internals must produce BIT-IDENTICAL results to the r5 form it
replaced (the optimization round's contract: faster, never different).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from paperchase_crawler_spark.functions import text as T
from paperchase_crawler_spark.functions.text import md5_int60
from paperchase_crawler_spark.operators import dedup as D

SF = "/root/testdata/sf0.001"


def _docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def _simhash64_r5(df, text_col, id_col, bits=D.SIMHASH_BITS):
    """The r5 per-bit SUM(CASE) reference implementation, kept verbatim as
    the parity oracle for the packed-vote rewrite."""
    w = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array_distinct(F.split(F.col(text_col), " "))).alias("word"),
    ).withColumn("wh", md5_int60(F.col("word")))
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("wh"), j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v{j}")
        for j in range(bits)
    ]
    agg = w.groupBy("doc_id").agg(*votes)
    sim = F.lit(0).cast("long")
    for j in range(bits):
        sim = sim + F.when(F.col(f"v{j}") > 0, F.lit(1 << j).cast("long")).otherwise(0)
    return agg.select("doc_id", sim.alias("simhash"))


def test_simhash_packed_votes_match_per_bit_reference(spark):
    docs = _docs(spark)
    got = {r.doc_id: r.simhash for r in D.simhash64(docs, "text", "doc_id").collect()}
    want = {
        r.doc_id: r.simhash for r in _simhash64_r5(docs, "text", "doc_id").collect()
    }
    assert got == want and len(got) > 0


def test_simhash_packed_votes_edge_docs(spark):
    # single word, repeated word (distinct → one vote), exact tie on a bit
    # (2 words: count==1, 2*1 > 2 false → bit 0 like the ±1 sum's v=0)
    rows = [(1, "alpha"), (2, "alpha alpha alpha"), (3, "alpha beta"), (4, "")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.simhash for r in D.simhash64(df, "text", "doc_id").collect()}
    want = {r.doc_id: r.simhash for r in _simhash64_r5(df, "text", "doc_id").collect()}
    assert got == want
    assert got[1] == got[2]  # distinct words → same single-word vote


def test_simhash_packed_lane_overflow_raises(spark):
    import pytest

    # 2^lane distinct words would overflow a 2-bit lane: force tiny lanes by
    # calling with bits=6 (lane=2, capacity 4) on a 5-distinct-word doc
    df = spark.createDataFrame([(1, "a b c d e")], "doc_id long, text string")
    with pytest.raises(Exception) as ei:
        D.simhash64(df, "text", "doc_id", bits=6).collect()
    assert "lane overflow" in str(ei.value)


def test_langid_staged_matches_column_form(spark):
    from paperchase_crawler_spark.plans.driver_queries import q_langid

    got = sorted(
        (r.lang, r.predicted, r.n) for r in q_langid(spark, SF).collect()
    )
    d = _docs(spark)
    want = sorted(
        (r.lang, r.predicted, r.n)
        for r in d.select("lang", T.langid(F.col("text")).alias("predicted"))
        .groupBy("lang", "predicted")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    assert got == want and len(got) > 0


def test_fingerprint_nondistinct_matches_distinct(spark):
    d = _docs(spark)
    a = d.select(
        "doc_id",
        F.array_min(
            F.transform(T.word_kgrams(F.col("text"), 4, distinct=True), md5_int60)
        ).alias("fp"),
    )
    b = d.select("doc_id", T.fingerprint(F.col("text"), 4).alias("fp"))
    ga = {r.doc_id: r.fp for r in a.collect()}
    gb = {r.doc_id: r.fp for r in b.collect()}
    assert ga == gb and len(ga) > 0


def test_global_topk_small_k_is_take_ordered(spark, monkeypatch):
    """Small k must plan as TakeOrderedAndProject (bounded per-partition
    heaps, no range exchange, no sampling/count jobs); large k keeps the
    range-partitioned exact cut."""
    from paperchase_crawler_spark.operators.ordering import (
        TAKE_ORDERED_MAX_K,
        global_topk,
        ranked_cut,
    )

    df = spark.range(10_000).select(
        (F.col("id") % 13).alias("depth"), F.col("id").alias("disc_seq")
    )
    plan = global_topk(df, ["depth", "disc_seq"], 100)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan.lower()
    big = global_topk(df, ["depth", "disc_seq"], TAKE_ORDERED_MAX_K + 1)
    plan_big = big._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" not in plan_big
    # the ranked small-k cut: the row_number Window sits directly on the
    # single sorted TakeOrderedAndProject partition — no Exchange or Sort
    # between them (plan of the DataFrame the cut checkpoints; nothing runs,
    # so a max_rows below the row count keeps the limit in the plan)
    checkpointed = []
    local_checkpoint = type(df).localCheckpoint

    def spy(self, *args, **kwargs):
        checkpointed.append(self)
        return local_checkpoint(self, *args, **kwargs)

    monkeypatch.setattr(type(df), "localCheckpoint", spy)
    for kw in ({"k": 100}, {"max_rows": 5_000}):
        ranked_cut(df, ["depth", "disc_seq"], "rank", **kw)
        ranked_plan = checkpointed[-1]._jdf.queryExecution().executedPlan().toString()
        assert "TakeOrderedAndProject" in ranked_plan, kw
        above = ranked_plan.split("TakeOrderedAndProject")[0]
        assert "Window" in above, kw
        assert "Exchange" not in above and "Sort " not in above, kw


def test_minhash_numeric_band_keys_match_string_form(spark):
    """The (band, bk0..bk{r-1}) long-tuple join key must produce the exact
    pair set of the r5 concat_ws string-bucket form (equality of the long
    tuple ⟺ equality of the joined string — md5_int60 renders commaless)."""
    docs = _docs(spark)
    got = sorted(
        (r.doc_a, r.doc_b)
        for r in D.minhash_lsh_pairs(docs, "text", "doc_id", k=3, n_hashes=8, bands=4).collect()
    )
    # reference: brute-force recompute of band collisions in python
    sig = D.minhash_signatures(docs, "text", "doc_id", k=3, n_hashes=8).collect()
    sigs = {r.doc_id: [r[f"h{i}"] for i in range(8)] for r in sig}
    want = set()
    ids = sorted(sigs)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            for band in range(4):
                if (
                    sigs[a][2 * band] == sigs[b][2 * band]
                    and sigs[a][2 * band + 1] == sigs[b][2 * band + 1]
                ):
                    want.add((a, b))
                    break
    assert got == sorted(want) and len(got) > 0


def test_ranked_cut_max_rows_bound_matches_range_path(spark):
    """The max_rows upper bound must yield exactly the range path's ranks
    (row_number over the single TakeOrdered partition), for bounds equal to,
    above, and far above the true row count, and fall back to the range path
    past TAKE_ORDERED_MAX_K. A bound below the true row count is a broken
    promise: it must raise, never truncate silently."""
    import random

    import pytest

    from paperchase_crawler_spark.operators.ordering import (
        TAKE_ORDERED_MAX_K,
        ranked_cut,
    )

    rng = random.Random(9)
    rows = [(rng.randrange(7), i) for i in range(400)]
    rng.shuffle(rows)
    df = spark.createDataFrame(rows, "depth int, disc_seq long").repartition(5)
    keys = ["depth", "disc_seq"]
    want = {r.disc_seq: r.rank for r in ranked_cut(df, keys, "rank", start=3)[0].collect()}
    for bound in (400, 401, 5000, TAKE_ORDERED_MAX_K, TAKE_ORDERED_MAX_K + 1):
        out, n_rows, _ = ranked_cut(df, keys, "rank", start=3, max_rows=bound)
        got = {r.disc_seq: r.rank for r in out.collect()}
        assert got == want and (n_rows is None or n_rows == 400), bound
    for bound in (0, 399):
        with pytest.raises(Exception, match="exceeds max_rows"):
            ranked_cut(df, keys, "rank", max_rows=bound)[0].collect()
    out0 = ranked_cut(df.limit(0), keys, "rank", max_rows=0)[0]
    assert out0.count() == 0


def test_ivf_hot_cell_guard_is_result_identical(spark):
    """The salted cell-skew guard must produce exactly the unguarded rows
    (every ordered pair meets at one salt) — same contract as the LSH
    hot-bucket guard."""
    from paperchase_crawler_spark.operators import similarity as S

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    cents = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").cast("int").alias("cell_idx"), "embedding"
    )
    plain = sorted(map(tuple, S.ivf_topk(e, cents, k=3, nprobe=2).collect()))
    guarded = sorted(
        map(
            tuple,
            S.ivf_topk(e, cents, k=3, nprobe=2, hot_cell_cap=5, n_salts=3).collect(),
        )
    )
    assert plain == guarded and len(plain) > 0


def test_word_kgrams_unrolled_matches_slice_form(spark):
    """k<=8 builds grams via unrolled element_at concat — must equal the
    slice+concat_ws form exactly (incl. short docs and empty strings)."""
    rows = [
        (1, "a b c d e f g h i j"),
        (2, "one two three"),
        (3, "solo"),
        (4, ""),
        (5, "x " * 12 + "y"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    def slice_gram_fn(k):
        # factory, not default-arg lambda (pyspark reads lambda arity)
        return lambda i: F.concat_ws(" ", F.slice(F.split(F.col("text"), " "), i, k))

    for k in (2, 3, 4, 9):
        ref = F.when(
            F.size(F.split(F.col("text"), " ")) >= k,
            F.transform(
                F.sequence(F.lit(1), F.size(F.split(F.col("text"), " ")) - (k - 1)),
                slice_gram_fn(k),
            ),
        ).otherwise(F.expr("array()").cast("array<string>"))
        got = {r.doc_id: r.g for r in df.select("doc_id", T.word_kgrams(F.col("text"), k, distinct=False).alias("g")).collect()}
        want = {r.doc_id: r.g for r in df.select("doc_id", ref.alias("g")).collect()}
        assert got == want, k


def test_materializer_releases_owned_persists(spark, tmp_path):
    """A disk Materializer without a checkpoint dir owns its
    persist(DISK_ONLY) cuts and frees every one on context exit, on success
    and on error (ADVICE r5 leak). With a dir it writes reliable checkpoint
    files and owns nothing, whatever dir the SparkContext held before; the
    local mode owns nothing either. An invalid mode raises."""
    import pytest

    from paperchase_crawler_spark.operators.materialize import Materializer

    df = spark.createDataFrame([(i,) for i in range(10)], "x long")
    with Materializer("disk") as mat:
        m, n = mat.counted(df)
        assert n == 10 and m.storageLevel.useDisk and mat.owned == [m]
    assert mat.owned == [] and m.storageLevel.useDisk is False
    with pytest.raises(RuntimeError, match="boom"):
        with Materializer("disk") as mat:
            m, _ = mat.counted(df)
            raise RuntimeError("boom")
    assert mat.owned == [] and m.storageLevel.useDisk is False
    spark.sparkContext.setCheckpointDir(str(tmp_path / "other"))
    ckpt = tmp_path / "ckpt"
    reliable = Materializer("disk", str(ckpt))
    m, n = reliable.counted(df)
    assert n == 10 and reliable.owned == [] and any(ckpt.iterdir())
    local = Materializer()
    m, n = local.counted(df)
    assert n == 10 and local.owned == []
    with pytest.raises(ValueError, match="'local' or 'disk'"):
        Materializer("memory")


def test_auto_n_blocks_warns_past_banding_horizon():
    """Past the widest affordable layout the projected rows-per-key exceeds
    the load target — must warn loudly instead of degrading silently (r5
    verdict What's-missing #1)."""
    import warnings

    import pytest

    with pytest.warns(RuntimeWarning, match="widest affordable banding"):
        nb = D.auto_n_blocks(10**10, 64, 6)
    assert nb == 9  # still returns the widest layout
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        assert D.auto_n_blocks(400_000, 64, 6) == 7  # in-horizon: no warning


def test_capped_shingles_broadcast_guard(spark):
    """The over-cap anti-join must drop the broadcast hint when the possible
    over-cap list is no longer tiny (ADVICE r5: unconditional broadcast was
    unbounded in corpus size). Both forms produce identical rows."""
    docs = _docs(spark)
    sh = D.shingle_table(docs, "text", "doc_id", 3)
    plan_b = D.capped_shingles(sh, 64, broadcast=True)._jdf.queryExecution().executedPlan().toString()
    plan_s = D.capped_shingles(sh, 64, broadcast=False)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" in plan_b
    assert "LeftAnti" in plan_s
    a = sorted((r.doc_id, r.shingle) for r in D.capped_shingles(sh, 8, True).collect())
    b = sorted((r.doc_id, r.shingle) for r in D.capped_shingles(sh, 8, False).collect())
    assert a == b and len(a) > 0


def test_fetch_outlinks_arrow_matches_scalar(spark):
    """The Arrow-native pass-1 fetch (no Python string objects) must emit,
    for every input row, the row passed through plus status 200, the scalar
    oracle's outlinks (simweb.outlinks_for) and has_image ⇔
    simweb.image_for(h) is not None."""
    from paperchase_crawler_spark import simweb
    from paperchase_crawler_spark.functions.spark_udfs import (
        OUTLINKS_SCHEMA,
        fetch_outlinks_map_in_arrow,
    )

    df = spark.range(500).select(
        F.concat(F.lit("https://host"), (F.col("id") % 37).cast("string"),
                 F.lit(".example/page/"), F.col("id").cast("string")).alias("canon_url"),
        F.xxhash64(F.concat(F.lit("u"), F.col("id").cast("string"))).alias("url_hash"),
        F.concat(F.lit("host"), (F.col("id") % 37).cast("string"), F.lit(".example")).alias("host"),
        (F.col("id") % 5).cast("int").alias("depth"),
        F.col("id").alias("disc_seq"),
        F.lit(0).cast("int").alias("round_disc"),
        F.col("id").alias("seq"),
    ).repartition(3)

    got = sorted(
        (r.canon_url, r.url_hash, r.host, r.depth, r.disc_seq,
         r.round_disc, r.seq, r.status, tuple(r.outlinks), r.has_image)
        for r in df.mapInArrow(fetch_outlinks_map_in_arrow(), OUTLINKS_SCHEMA).collect()
    )
    want = sorted(
        (r.canon_url, r.url_hash, r.host, r.depth, r.disc_seq, r.round_disc,
         r.seq, 200, tuple(simweb.outlinks_for(r.url_hash)),
         simweb.image_for(r.url_hash) is not None)
        for r in df.collect()
    )
    assert got == want and len(got) == 500
    assert 0 < sum(row[-1] for row in got) < 500


def test_outlinks_batch_arrow_matches_scalar(spark):
    import numpy as np
    import pyarrow as pa

    from paperchase_crawler_spark import simweb

    rng = np.random.default_rng(11)
    hashes = rng.integers(-2**63, 2**63, 2000, dtype=np.int64)
    off, flat = simweb.outlinks_batch_arrow(hashes)
    got = pa.ListArray.from_arrays(pa.array(off, type=pa.int32()), flat).to_pylist()
    want = [simweb.outlinks_for(int(h)) for h in hashes]
    assert got == want


def test_hamming_reuses_materialized_count(spark):
    """auto_n_blocks must read the row count of the job that materializes
    the simhash table instead of launching its own count job (r5 verdict
    What's-wrong #2): building simhash_pairs runs exactly the jobs of that
    one cut-and-count."""
    from paperchase_crawler_spark.operators.materialize import Materializer

    docs = _docs(spark)
    sc = spark.sparkContext

    def jobs(name, build):
        sc.setJobGroup(name, name)
        try:
            out = build()
            return out, len(sc.statusTracker().getJobIdsForGroup(name))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    (_, n_rows), cut_jobs = jobs(
        "simhash table cut",
        lambda: Materializer().counted(
            D.simhash64(D._spread(docs), "text", "doc_id")
        ),
    )
    pairs, build_jobs = jobs(
        "simhash_pairs build",
        lambda: D.simhash_pairs(docs, "text", "doc_id", max_hamming=3),
    )
    assert n_rows > 0 and cut_jobs >= 1
    assert build_jobs == cut_jobs
    assert pairs.count() > 0
