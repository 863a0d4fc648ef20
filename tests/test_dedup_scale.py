"""Scale-path dedup/similarity plans are EXACT twins of their pairwise forms.

The 100 TB rule for this module: candidate generation must be an equi-join on
a blocking key (simhash bit-blocks, LSH band codes, salted buckets), never a
cartesian — and blocked output must equal the pairwise reference on real data.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from paperchase_crawler_spark.operators import dedup as D
from paperchase_crawler_spark.operators import similarity as S

SF = "/root/testdata/sf0.001"


def _docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def _emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _no_cartesian(df):
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    return plan


def test_simhash_banded_equals_pairwise(spark):
    docs = _docs(spark)
    banded = D.simhash_pairs(docs, "text", "doc_id", max_hamming=3)
    pairwise = D.simhash_pairs(docs, "text", "doc_id", max_hamming=3, banded=False)
    assert _rows(banded) == _rows(pairwise)
    _no_cartesian(banded)


def test_embedding_blocked_equals_exact(spark):
    """Banded sign-LSH candidates + exact verify ≡ the all-pairs form, on a
    corpus with planted near-dups (cos ≈ 0.9997) — measured recall 1.0."""
    e = _emb(spark).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    noisy = e.withColumnRenamed("vec_id", "ovid").select(
        (F.col("ovid") + 100000).alias("vec_id"),
        F.transform(
            F.col("v"), lambda x, i: x + 0.004 * F.sin(F.col("ovid") * 64 + i)
        ).alias("v"),
    )
    u = e.unionByName(noisy)
    blocked = D.embedding_dup_pairs(u, "v", "vec_id", threshold=0.9)
    exact = D.embedding_dup_pairs(u, "v", "vec_id", threshold=0.9, n_bands=None)
    b_rows, e_rows = _rows(blocked), _rows(exact)
    assert b_rows == e_rows and len(b_rows) == e.count()  # one planted pair per vector
    _no_cartesian(blocked)


def test_jaccard_cap_exact_above_max_freq(spark):
    """The contract cap (64) exceeds the testdata's max shingle doc-freq, so
    the capped plan is bit-identical to the uncapped one."""
    docs = _docs(spark)
    sh = D.shingle_table(docs, "text", "doc_id", 3)
    max_freq = (
        sh.groupBy("shingle").agg(F.count("*").alias("f")).agg(F.max("f")).collect()[0][0]
    )
    assert max_freq < 64
    capped = D.jaccard_pairs(docs, "text", "doc_id", 3, 0.5, max_doc_freq=64)
    uncapped = D.jaccard_pairs(docs, "text", "doc_id", 3, 0.5)
    assert _rows(capped) == _rows(uncapped)


def test_jaccard_cap_bounds_zipf_skew(spark):
    """Zipf shingles: one shingle in every doc. Uncapped, that shingle alone
    makes N² join rows; the cap drops it from the join input entirely while
    keeping the qualifying near-dup pair (which shares rare shingles too)."""
    n = 60
    rows = []
    for i in range(n):
        words = ["common common common"] + [f"w{i}a w{i}b w{i}c w{i}d"]
        rows.append((i, " ".join(words)))
    rows.append((n, rows[0][1]))  # exact near-dup of doc 0
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sh = D.shingle_table(docs, "text", "doc_id", 3)
    capped_sh = sh.join(
        sh.groupBy("shingle").agg(F.count("*").alias("f")).filter(F.col("f") <= 10),
        "shingle",
    )
    # the hot shingle ('common common common' appears in all docs) is gone
    # from the join input → self-join rows collapse from ~N² to ~N
    assert capped_sh.count() < sh.count()
    hot = sh.groupBy("shingle").agg(F.count("*").alias("f")).agg(F.max("f")).collect()[0][0]
    assert hot == n + 1
    pairs = D.jaccard_pairs(docs, "text", "doc_id", 3, 0.5, max_doc_freq=10)
    got = {(r["doc_a"], r["doc_b"]) for r in pairs.collect()}
    assert (0, n) in got


def test_minhash_band_explode_no_cartesian(spark):
    """Band-exploded minhash LSH: single (band, bucket) equi-join plan, no
    per-band union recomputing the signatures."""
    pairs = D.minhash_lsh_pairs(_docs(spark), "text", "doc_id", 3, 8, 4)
    plan = _no_cartesian(pairs)
    assert plan.count("Scan parquet") <= 2  # one per join side, not 2×bands


def test_ivf_topk_cells_and_recall(spark):
    """IVF: every query's neighbours share a coarse cell; nprobe=2 finds at
    least as much as nprobe=1; ranks are exact cosine order within results."""
    e = _emb(spark)
    centroids = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").cast("int").alias("cell_idx"), "embedding"
    )
    r1 = S.ivf_topk(e, centroids, k=3, nprobe=1)
    r2 = S.ivf_topk(e, centroids, k=3, nprobe=2)
    plan = r2._jdf.queryExecution().executedPlan().toString()
    # the only nested-loop joins allowed are the deliberate broadcasts of
    # the tiny centroid table for cell assignment (once per self-join side);
    # the candidate join must be a cell_idx equi-join
    assert plan.count("BroadcastNestedLoopJoin") <= 2
    assert "CartesianProduct" not in plan
    assert "cell_idx" in plan and (
        "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan
    )
    n1 = {(r["query_id"], r["rank"]): r["neighbor_id"] for r in r1.collect()}
    rows2 = r2.collect()
    assert len(rows2) >= len(n1) > 0
    # per-query cosine ordering is strictly ranked
    by_q: dict = {}
    for r in rows2:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["cosine"]))
    for q, rs in by_q.items():
        rs.sort()
        cosines = [c for _, c in rs]
        assert cosines == sorted(cosines, reverse=True)


def test_ann_hot_bucket_guard_identical(spark):
    """Salted hot-bucket replication changes task sizing, never results."""
    e = _emb(spark)
    planes = e.filter(F.col("vec_id") < 6).select(
        F.col("vec_id").cast("int").alias("plane_idx"), "embedding"
    )
    guarded = S.lsh_bucketed_topk(e, planes, k=3, hot_bucket_cap=10, n_salts=4)
    plain = S.lsh_bucketed_topk(e, planes, k=3)
    assert _rows(guarded) == _rows(plain)


def test_ann_hot_bucket_guard_spreads_salts(spark):
    """All vectors in ONE bucket (identical vectors ⇒ identical sign bits):
    the guard must spread the query side across >1 salt."""
    base = [0.5] * 8
    e = spark.createDataFrame(
        [(i, [x + 0.001 * i for x in base]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    planes = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").cast("int").alias("plane_idx"), "embedding"
    )
    with_b = S.with_lsh_bucket(e, planes, "embedding", "vec_id")
    n_buckets = with_b.select("bucket").distinct().count()
    assert n_buckets == 1  # genuinely hot
    salts = (
        with_b.select(
            F.pmod(F.xxhash64("vec_id"), F.lit(4)).cast("int").alias("s")
        )
        .distinct()
        .count()
    )
    assert salts > 1
    guarded = S.lsh_bucketed_topk(
        e, planes, k=2, hot_bucket_cap=10, n_salts=4
    )
    plain = S.lsh_bucketed_topk(e, planes, k=2)
    assert _rows(guarded) == _rows(plain)


def test_embedding_banded_equals_exact_at_contract_sf(spark):
    """r2 advice: the banded sign-LSH path is only provably identical to the
    exact twin when every qualifying pair collides in ≥1 band. Pin that
    precondition AT THE DRIVER'S CONTRACT SF (overridable via
    SPARK_GRAFT_SF_DIR) with the contract parameters, so a future data/sf
    bump fails HERE loudly instead of silently hash-mismatching the oracle."""
    import os

    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    kw = dict(threshold=0.9, rows_per_band=8, dim=64, seed=42)
    banded = D.embedding_dup_pairs(emb, "embedding", "vec_id", n_bands=4, **kw)
    exact = D.embedding_dup_pairs(emb, "embedding", "vec_id", n_bands=None, **kw)
    got = sorted(tuple(r) for r in banded.collect())
    want = sorted(tuple(r) for r in exact.collect())
    assert got == want


def test_image_phash_banded_equals_pairwise(spark):
    """image_dup_pairs over FULL-RANGE (negative included) 64-bit hashes:
    the banded pigeonhole equi-join must equal the all-pairs reference,
    including planted near-dup twins at Hamming ≤ 2."""
    from pyspark.sql import functions as F

    base = spark.range(0, 400).select(
        F.col("id").alias("image_id"), F.xxhash64("id").alias("phash")
    )
    twins = spark.range(0, 400).select(
        (F.col("id") + 10_000).alias("image_id"),
        F.xxhash64("id")
        .bitwiseXOR(F.expr("shiftleft(1L, cast(id % 64 as int))"))
        .bitwiseXOR(F.expr("shiftleft(1L, cast((id * 7 + 13) % 64 as int))"))
        .alias("phash"),
    )
    imgs = base.unionByName(twins)
    banded = D.image_dup_pairs(imgs, "phash", "image_id", max_hamming=6)
    pairwise = D.image_dup_pairs(
        imgs, "phash", "image_id", max_hamming=6, banded=False
    )
    got = sorted(map(tuple, banded.collect()))
    want = sorted(map(tuple, pairwise.collect()))
    assert got == want
    assert len(got) >= 400  # every planted twin found


def test_ann_literal_guard_switches_to_broadcast(spark):
    """Past LITERAL_BUDGET_FLOATS the IVF/LSH assignment must switch from
    plan-baked literals to a broadcast join with HASH-IDENTICAL output and a
    plan whose size is bounded in nlist (the literal plan grows with
    nlist × dim and eventually fails to compile)."""
    import paperchase_crawler_spark.operators.similarity as S
    from pyspark.sql import functions as F

    dim, nlist = 8, 4096
    # 30 clusters of 10: cluster members assign to the same argmax cell, so
    # co-cell neighbour pairs exist even with 4096 cells
    corpus = spark.range(0, 300).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda i: (
                F.sin(F.pmod(F.col("id"), F.lit(30)) * 7 + i)
                + 0.01 * F.sin(F.col("id") * 13 + i)
            ).cast("double"),
        ).alias("embedding"),
    )
    cents = spark.range(0, nlist).select(
        F.col("id").alias("cell_idx"),
        F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda i: F.cos(F.col("id") * 3 + i).cast("double"),
        ).alias("embedding"),
    )
    assert nlist * dim > S.LITERAL_BUDGET_FLOATS  # auto must pick broadcast
    auto = S.ivf_topk(corpus, cents, k=3, nprobe=2)
    forced = S.ivf_topk(corpus, cents, k=3, nprobe=2, assign_path="literal")
    plan_auto = auto._jdf.queryExecution().executedPlan().toString()
    # the auto pick itself must choose broadcast past the budget (r6: both
    # paths' FINAL plans are cut at the assignment checkpoint, so the
    # literal plan's nlist x dim expression bloat now lives in the
    # materialization job — the pick is what keeps it out of Catalyst)
    assert S._assign_mode(nlist, dim, "auto") == "broadcast"
    assert S._assign_mode(nlist, dim, "literal") == "literal"
    # r5: assignment is a one-row broadcast matrix scored IN PLACE — the r4
    # broadcast form's N×nlist per-vid collect_list shuffle must not
    # reappear. The matrix build itself IS a collect_list, but a GLOBAL one
    # over the O(nlist) centroid rows (keys=[]); a KEYED collect_list means
    # corpus rows are being gathered again.
    import re

    assert not re.search(r"keys=\[[^\]]+\], functions=\[(partial_)?collect_list", plan_auto)
    got = sorted(map(tuple, auto.collect()))
    want = sorted(map(tuple, forced.collect()))
    assert got == want and len(got) > 0

    # same guard on the LSH plane path (planes ≤ 63 bits but dim can be big)
    planes = spark.range(0, 8).select(
        F.col("id").alias("plane_idx"),
        F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda i: F.cos(F.col("id") * 11 + i * 5).cast("double"),
        ).alias("embedding"),
    )
    lit_b = S.with_lsh_bucket(corpus, planes, assign_path="literal")
    brd_b = S.with_lsh_bucket(corpus, planes, assign_path="broadcast")
    a = {r["vec_id"]: r["bucket"] for r in lit_b.collect()}
    b = {r["vec_id"]: r["bucket"] for r in brd_b.collect()}
    assert a == b


def test_image_dup_pairs_end_to_end_with_real_phash(spark, tmp_path):
    """Full multimodal composition: crawl a corpus (real codec bytes →
    stored phash64), perturb each image at PIXEL level (mild brightness
    shift — a re-encode/re-host stand-in), recompute phash64 through the
    same codec, and image_dup_pairs must pair every perturbed copy with its
    original while keeping distinct images apart."""
    import numpy as np
    from pyspark.sql import functions as F

    from paperchase_crawler_spark import simweb
    from paperchase_crawler_spark.codecs import decode_image
    from paperchase_crawler_spark.codecs.phash import phash64
    from paperchase_crawler_spark.plans.crawl import run_crawl

    runner = run_crawl(
        spark, str(tmp_path / "c"), simweb.seed_urls(8), 2, 120,
        frontier_buckets=4,
    )
    corpus = runner.corpus_df().select("image_id", "bytes", "fmt", "phash").collect()
    assert len(corpus) >= 10
    rows = []
    for r in corpus:
        rows.append((r["image_id"], int(r["phash"])))
        rgb = decode_image(bytes(r["bytes"]), r["fmt"])
        bright = np.clip(rgb.astype(np.int16) + 6, 0, 255).astype(np.uint8)
        rows.append((r["image_id"] + "#copy", phash64(bright)))
    df = spark.createDataFrame(rows, "image_id string, phash long")
    pairs = D.image_dup_pairs(df, "phash", "image_id", max_hamming=8)
    got = {(a, b) for a, b, _ in pairs.collect()}
    for r in corpus:
        orig, copy = r["image_id"], r["image_id"] + "#copy"
        pair = (orig, copy) if orig < copy else (copy, orig)
        assert pair in got, f"perturbed copy of {orig} not detected"
    # distinct images stay apart: pair count stays near the planted count
    assert len(got) < len(corpus) * 2


def test_dup_clusters_equals_union_find(spark):
    """dup_clusters (iterative min-label propagation) must equal a plain
    union-find on a seeded random graph — including multi-hop chains,
    isolated pairs, and star shapes."""
    import random

    from paperchase_crawler_spark.operators.dedup import dup_clusters

    rng = random.Random(7)
    n = 400
    edges = set()
    for _ in range(260):
        a, b = rng.randrange(n), rng.randrange(n)
        if a != b:
            edges.add((min(a, b), max(a, b)))
    # force a long chain (diameter stress) and a star
    edges |= {(i, i + 1) for i in range(300, 312)}
    edges |= {(350, x) for x in range(351, 360)}
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    members = {x for e in edges for x in e}
    want = {x: find(x) for x in members}
    pairs = spark.createDataFrame(
        sorted(edges), "doc_a long, doc_b long"
    )
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in dup_clusters(pairs).collect()
    }
    assert got == want


def test_dup_clusters_composes_with_image_pairs(spark):
    """End-to-end keep-one-per-component: image near-dup pairs → clusters →
    exactly one survivor per connected set of near-identical images."""
    from pyspark.sql import functions as F

    from paperchase_crawler_spark.operators.dedup import dup_clusters

    base = spark.range(0, 120).select(
        F.col("id").alias("image_id"), F.xxhash64("id").alias("phash")
    )
    # two perturbed generations of each image: A~B and A~C (B~C within 4)
    gen = lambda off, p1, p2: spark.range(0, 120).select(
        (F.col("id") + off).alias("image_id"),
        F.xxhash64("id")
        .bitwiseXOR(F.expr(f"shiftleft(1L, cast((id * 3 + {p1}) % 64 as int))"))
        .bitwiseXOR(F.expr(f"shiftleft(1L, cast((id * 5 + {p2}) % 64 as int))"))
        .alias("phash"),
    )
    imgs = base.unionByName(gen(1000, 1, 7)).unionByName(gen(2000, 2, 11))
    pairs = D.image_dup_pairs(imgs, "phash", "image_id", max_hamming=6)
    clusters = dup_clusters(pairs, "img_a", "img_b").collect()
    by_cluster = {}
    for r in clusters:
        by_cluster.setdefault(r["cluster_id"], set()).add(r["doc_id"])
    # every original id 0..119 roots a component holding its two twins
    for i in range(120):
        assert {i, i + 1000, i + 2000} <= by_cluster[i]
    survivors = set(by_cluster)  # keep-one = the cluster ids
    assert len(survivors) <= 121  # ~one per planted component


def test_banded_key_space_grows_with_bits():
    """The r4 single-block banding's key space was CONSTANT in the hash
    width's corpus-scaling sense (4×2⁸ for 32-bit simhash, 7×2⁹ for phash);
    the Manku combination keys must grow it with bits AND with n_blocks —
    the property that keeps 'bucketed, not all-pairs' true at 10^9+ rows."""
    # old defaults (minimal blocks = single-block keys)
    assert D.banded_key_space(32, 3, 4) == 4 * 2**8
    assert D.banded_key_space(64, 6, 7) == 6 * 2**9 + 2**10  # uneven 64/7 blocks
    # r5 defaults: 60-bit simhash / 5 blocks, 64-bit phash / 8 blocks
    sim_old, sim_new = D.banded_key_space(32, 3, 4), D.banded_key_space(60, 3, 5)
    ph_old, ph_new = D.banded_key_space(64, 6, 7), D.banded_key_space(64, 6, 8)
    assert sim_new == 10 * 2**24 and sim_new > 100_000 * sim_old
    assert ph_new == 28 * 2**16 and ph_new > 100 * ph_old
    # monotone in n_blocks at fixed bits/h
    assert (
        D.banded_key_space(60, 3, 4)
        < D.banded_key_space(60, 3, 5)
        < D.banded_key_space(60, 3, 6)
    )
    # pigeonhole precondition is enforced
    import pytest

    with pytest.raises(ValueError, match="pigeonhole"):
        D.banded_key_space(60, 3, 3)


def test_hamming_nblocks_sweep_equals_pairwise(spark):
    """Every n_blocks choice is EXACT by the same pigeonhole argument —
    sweep the knob over full-range int64 hashes with planted near-dups and
    pin equality against the all-pairs reference."""
    from pyspark.sql import functions as F

    base = spark.range(0, 300).select(
        F.col("id").alias("doc_id"), F.xxhash64("id").alias("h")
    )
    twins = spark.range(0, 300).select(
        (F.col("id") + 5000).alias("doc_id"),
        F.xxhash64("id")
        .bitwiseXOR(F.expr("shiftleft(1L, cast(id % 64 as int))"))
        .bitwiseXOR(F.expr("shiftleft(1L, cast((id * 11 + 3) % 64 as int))"))
        .alias("h"),
    )
    df = base.unionByName(twins)
    want = sorted(
        map(tuple, D.hamming_dup_pairs(
            df, "h", "doc_id", bits=64, max_hamming=4, banded=False
        ).collect())
    )
    assert len(want) >= 300
    for nb in (5, 6, 8):
        got = sorted(
            map(tuple, D.hamming_dup_pairs(
                df, "h", "doc_id", bits=64, max_hamming=4, n_blocks=nb
            ).collect())
        )
        assert got == want, f"n_blocks={nb} diverged from pairwise"


def test_dup_clusters_jump_reduces_rounds(spark):
    """Pointer jumping must converge a 64-chain (diameter 63) in O(log d)
    rounds — plain propagation moves the min label ONE hop per round and
    blows the same round budget."""
    import pytest
    from pyspark.sql import functions as F

    chain = spark.range(0, 63).select(
        F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b")
    )
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in D.dup_clusters(chain, max_iter=10).collect()
    }
    assert got == {i: 0 for i in range(64)}
    with pytest.raises(RuntimeError, match="did not converge"):
        D.dup_clusters(chain, max_iter=10, jump=False)


def test_dup_clusters_hot_label_salting_identical(spark):
    """The hot-label salting guard (giant star components: every member
    looks up the SAME label row) changes task sizing, never results."""
    from pyspark.sql import functions as F

    # one giant star (hub 0, 300 leaves) + a chain + isolated pairs
    star = spark.range(1, 301).select(
        F.lit(0).cast("long").alias("doc_a"), F.col("id").alias("doc_b")
    )
    chain = spark.range(400, 420).select(
        F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b")
    )
    pairs = star.unionByName(chain)
    guarded = {
        r["doc_id"]: r["cluster_id"]
        for r in D.dup_clusters(pairs, n_salts=4, hot_label_cap=10).collect()
    }
    plain = {
        r["doc_id"]: r["cluster_id"]
        for r in D.dup_clusters(pairs).collect()
    }
    assert guarded == plain
    assert guarded[300] == 0 and guarded[420] == 400


def test_dedup_suite_disk_mode_equivalence(spark, tmp_path):
    """A disk Materializer — the executor-loss-safe mode for real clusters
    (r4 hardcoded localCheckpoint) — must produce identical results across
    the dedup suite. With a checkpoint_dir it uses RELIABLE df.checkpoint
    (true lineage cut — required by the iterative dup_clusters, whose
    persist-only lineage would compound until Catalyst analysis OOMs);
    without one the one-shot operators fall back to persist(DISK_ONLY) and
    release() frees every block."""
    from paperchase_crawler_spark.operators.materialize import Materializer

    docs = _docs(spark)
    chain = spark.range(0, 40).select(
        F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b")
    )

    def suite(mat=None):
        return {
            "mh": _rows(D.minhash_lsh_pairs(docs, "text", "doc_id", 3, 8, 4, mat=mat)),
            "sh": _rows(D.simhash_pairs(docs, "text", "doc_id", max_hamming=3, mat=mat)),
            "cl": _rows(D.dup_clusters(chain, mat=mat)),
        }

    local = suite()
    # persist fallback: non-iterative ops exact, blocks freed on release;
    # the iterative op refuses loudly
    with Materializer("disk") as mat:
        got = _rows(D.minhash_lsh_pairs(docs, "text", "doc_id", 3, 8, 4, mat=mat))
        assert got == local["mh"]
        assert mat.release(blocking=True) > 0
        with pytest.raises(ValueError, match="checkpoint dir"):
            D.dup_clusters(chain, mat=mat)
    # reliable-checkpoint path: the whole suite, iterative op included
    mat = Materializer("disk", checkpoint_dir=str(tmp_path / "ckpt"))
    assert suite(mat) == local and mat.owned == []
    with pytest.raises(ValueError, match="'local' or 'disk'"):
        Materializer("memory")


def test_auto_n_blocks_scales_with_corpus():
    """Adaptive banding: minimal replication while the corpus is far below
    the key space, wider combination keys as it grows — the layout choice
    is a pure function of (N, bits, h), monotone in N, and bounded by the
    replication/granularity caps."""
    # contract scale: minimal layouts (the fast path the bench measures)
    assert D.auto_n_blocks(10_000, 60, 3) == 4
    assert D.auto_n_blocks(10_000, 64, 6) == 7
    # web scale: keys widen
    assert D.auto_n_blocks(10**9, 60, 3) == 5
    assert D.auto_n_blocks(10**9, 64, 6) == 9
    # monotone in N, never below the pigeonhole minimum
    prev = 0
    for n in (10**3, 10**5, 10**7, 10**9, 10**11):
        nb = D.auto_n_blocks(n, 64, 6)
        assert nb >= 7 and nb >= prev
        prev = nb
    # bounded: replication cap stops growth even at absurd N
    from math import comb

    nb = D.auto_n_blocks(10**14, 64, 6)
    assert comb(nb, 6) <= D.MAX_REPLICATION


def test_dedup_edge_empty_inputs(spark):
    """Empty corpora flow through the adaptive/banded paths and the cluster
    resolver without special-casing: zero rows out, no layout blow-ups."""
    docs = spark.createDataFrame([], "doc_id long, text string")
    assert D.jaccard_pairs(docs, "text", "doc_id", 3, 0.5, max_doc_freq=4).count() == 0
    assert D.simhash_pairs(docs, "text", "doc_id").count() == 0
    imgs = spark.createDataFrame([], "image_id long, phash long")
    assert D.image_dup_pairs(imgs, "phash", "image_id").count() == 0
    pairs = spark.createDataFrame([], "doc_a long, doc_b long")
    assert D.dup_clusters(pairs).count() == 0
