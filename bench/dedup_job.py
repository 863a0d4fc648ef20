"""Dedup-suite scale bench: Zipf-skewed synthetic corpus, ~10× the sf0.1
documents table, reporting per-family WALL time and MAX-TASK time.

Why this exists (r4 verdict item 8): the contract-suite dedup numbers all
run at sf0.1 (5k docs, benign token distribution) — small enough that the
skew pathologies the r5 fixes target are invisible. This job synthesizes a
corpus where they are visible and measurable:

- tokens drawn from a ZIPF-ish (log-uniform rank) distribution over a 50k
  vocabulary, so hot shingles with doc-frequency ≫ the cap exist (the
  jaccard cap-stage skew), deterministically from xxhash64 — no RNG, no
  driver-side data generation;
- 5% planted near-dup twins (2 tokens swapped) so every family has real
  work to find;
- a giant-star + long-chain pair graph for the cluster resolver (the
  hot-label shape real boilerplate dedup produces).

Each family runs in its r5 shape AND, where the r4 shape is still
expressible, in that legacy shape — direct before/after evidence at skew
scale for: the jaccard window-cap vs groupBy+anti-join cap, and the
single-block (n_blocks = h+1) vs Manku multi-block banding keys for
simhash/phash.

MAX-TASK time comes from Spark's own status REST API (the UI must be on):
stages completed during a family's run are collected and the largest
executorRunTime quantile-1.0 task is reported — the straggler metric the
skew guards are supposed to bound.

Prints ONE JSON line. Usage:
  python bench/dedup_job.py [--docs 50000] [--cpus 32]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


# -- deterministic Zipf-ish corpus -------------------------------------------


def synth_docs(spark, n_docs: int, tokens: int = 40, vocab: int = 50_000,
               dup_every: int = 20):
    """(doc_id, text): token ranks are log-uniform (P(rank ≤ x) = ln x /
    ln V → frequency ∝ 1/rank, the Zipf head), derived purely from
    xxhash64(doc_id * tokens + position) — fully distributed, no driver
    data. Every ``dup_every``-th doc gets a twin (id + n_docs) with its two
    leading tokens replaced — a planted near-dup."""
    u = lambda seed: (F.pmod(F.xxhash64(seed), F.lit(1 << 20)).cast("double")
                      / F.lit(float(1 << 20)))
    import math

    lnv = math.log(vocab)
    word = lambda seed: F.concat(
        F.lit("w"), F.floor(F.exp(u(seed) * F.lit(lnv))).cast("string")
    )
    base = spark.range(0, n_docs).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            F.transform(
                F.sequence(F.lit(0), F.lit(tokens - 1)),
                lambda i: word(F.col("id") * tokens + i),
            ),
        ).alias("text"),
    )
    twins = (
        base.filter(F.pmod(F.col("doc_id"), F.lit(dup_every)) == 0)
        .select(
            (F.col("doc_id") + n_docs).alias("doc_id"),
            F.concat(F.lit("x0 x1 "), F.substring_index(
                F.col("text"), " ", -(tokens - 2))).alias("text"),
        )
    )
    return base.unionByName(twins)


def synth_phash(spark, n: int):
    """(image_id, phash) with an exact-Hamming-2 twin per base row."""
    base = spark.range(0, n).select(
        F.col("id").alias("image_id"), F.xxhash64("id").alias("phash")
    )
    twins = spark.range(0, n).select(
        (F.col("id") + 10_000_000).alias("image_id"),
        F.xxhash64("id")
        .bitwiseXOR(F.expr("shiftleft(1L, cast(id % 64 as int))"))
        .bitwiseXOR(F.expr("shiftleft(1L, cast((id * 7 + 13) % 64 as int))"))
        .alias("phash"),
    )
    return base.unionByName(twins)


def star_chain_pairs(spark, leaves: int, chain: int = 200):
    """Giant star (hub 0) + a long chain — the hot-label + diameter stress."""
    star = spark.range(1, leaves + 1).select(
        F.lit(0).cast("long").alias("doc_a"), F.col("id").alias("doc_b")
    )
    ch = spark.range(leaves + 10, leaves + 10 + chain).select(
        F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b")
    )
    return star.unionByName(ch)


# -- max-task instrumentation (Spark status REST API) -------------------------


class StageWatch:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.base = f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}"

    def _stages(self):
        with urllib.request.urlopen(f"{self.base}/stages?status=complete") as r:
            return json.load(r)

    def snapshot(self) -> set:
        return {(s["stageId"], s["attemptId"]) for s in self._stages()}

    def max_task_ms(self, before: set) -> float:
        """Largest single-task executorRunTime among stages completed since
        ``before`` — the straggler metric."""
        worst = 0.0
        for s in self._stages():
            key = (s["stageId"], s["attemptId"])
            if key in before or s["numCompleteTasks"] == 0:
                continue
            url = (f"{self.base}/stages/{s['stageId']}/{s['attemptId']}"
                   f"/taskSummary?quantiles=1.0")
            try:
                with urllib.request.urlopen(url) as r:
                    q = json.load(r)
                worst = max(worst, float(q["executorRunTime"][0]))
            except Exception:
                continue
        return round(worst, 1)


def measure(watch: StageWatch, name: str, build, out: dict) -> None:
    before = watch.snapshot()
    t0 = time.time()
    n = build().count()
    wall = round(time.time() - t0, 3)
    out[name] = {"rows": n, "wall_sec": wall,
                 "max_task_ms": watch.max_task_ms(before)}


# -- legacy (r4) shapes, inline, for before/after evidence --------------------


def jaccard_window_cap(docs, cap: int, threshold: float):
    """The r4 cap stage: Window.partitionBy(shingle) — ALL f rows of a hot
    shingle land in one task. Semantically identical to jaccard_pairs(cap);
    kept here (bench-only) as the skew counter-example."""
    from pyspark.sql import Window

    from paperchase_crawler_spark.operators import dedup as D
    from paperchase_crawler_spark.operators.materialize import Materializer

    sh, _ = D._reuse(D.shingle_table(D._spread(docs), "text", "doc_id", 3),
                     Materializer(), spread=False)
    w = Window.partitionBy("shingle")
    sh = (sh.withColumn("__f", F.count("*").over(w))
          .filter(F.col("__f") <= cap).drop("__f"))
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (a.join(b, on="shingle")
             .filter(F.col("a.doc_id") < F.col("b.doc_id"))
             .groupBy(F.col("a.doc_id").alias("doc_a"),
                      F.col("b.doc_id").alias("doc_b"))
             .agg(F.count("*").alias("n_inter")))
    return (inter.join(sizes.withColumnRenamed("doc_id", "doc_a"), "doc_a")
            .withColumnRenamed("n_shingles", "na")
            .join(sizes.withColumnRenamed("doc_id", "doc_b")
                  .withColumnRenamed("n_shingles", "nb"), "doc_b")
            .withColumn("jaccard", F.col("n_inter").cast("double")
                        / (F.col("na") + F.col("nb") - F.col("n_inter")))
            .filter(F.col("jaccard") >= threshold))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=50_000)
    ap.add_argument("--images", type=int, default=200_000)
    ap.add_argument("--leaves", type=int, default=100_000)
    ap.add_argument("--cpus", type=int, default=32)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{args.cpus}]")
        .config("spark.sql.shuffle.partitions", str(args.cpus))
        .config("spark.driver.memory", "32g")
        .config("spark.ui.enabled", "true")  # the status API is the probe
        .config("spark.ui.showConsoleProgress", "false")
        .appName("dedup-scale-bench")
        .getOrCreate()
    )
    from paperchase_crawler_spark.operators import dedup as D

    watch = StageWatch(spark)
    docs = synth_docs(spark, args.docs).localCheckpoint()
    imgs = synth_phash(spark, args.images).localCheckpoint()
    pairs = star_chain_pairs(spark, args.leaves).localCheckpoint()
    out: dict = {}

    # session warm-up (JVM JIT + codegen + shuffle machinery): the first
    # measured family would otherwise eat it, biasing the r5-vs-r4 pairings
    # that run back to back
    D.jaccard_pairs(docs, "text", "doc_id", k=3, threshold=0.5,
                    max_doc_freq=64).count()

    t0 = time.time()
    measure(watch, "jaccard_groupby_cap", lambda: D.jaccard_pairs(
        docs, "text", "doc_id", k=3, threshold=0.5, max_doc_freq=64), out)
    measure(watch, "jaccard_window_cap_r4", lambda: jaccard_window_cap(
        docs, 64, 0.5), out)
    measure(watch, "minhash_lsh", lambda: D.minhash_lsh_pairs(
        docs, "text", "doc_id", k=3, n_hashes=8, bands=4), out)
    measure(watch, "simhash_auto", lambda: D.simhash_pairs(
        docs, "text", "doc_id", max_hamming=3), out)
    measure(watch, "simhash_manku_nb5", lambda: D.simhash_pairs(
        docs, "text", "doc_id", max_hamming=3, n_blocks=5), out)
    measure(watch, "simhash_singleblock", lambda: D.simhash_pairs(
        docs, "text", "doc_id", max_hamming=3, n_blocks=4), out)
    measure(watch, "image_phash_auto", lambda: D.image_dup_pairs(
        imgs, "phash", "image_id", max_hamming=6), out)
    measure(watch, "image_phash_manku_nb8", lambda: D.image_dup_pairs(
        imgs, "phash", "image_id", max_hamming=6, n_blocks=8), out)
    measure(watch, "image_phash_singleblock", lambda: D.image_dup_pairs(
        imgs, "phash", "image_id", max_hamming=6, n_blocks=7), out)
    measure(watch, "dup_clusters_star", lambda: D.dup_clusters(
        pairs, n_salts=8, hot_label_cap=20_000), out)
    out["auto_picks"] = {
        "simhash_60bit": D.auto_n_blocks(docs.count(), 60, 3),
        "image_phash_64bit": D.auto_n_blocks(imgs.count(), 64, 6),
        "image_phash_at_1e9": D.auto_n_blocks(10**9, 64, 6),
    }

    print(json.dumps({
        "metric": "dedup_suite_zipf",
        "value": round(time.time() - t0, 3),
        "unit": "sec",
        "n_docs": args.docs, "n_images": args.images,
        "star_leaves": args.leaves,
        "cpus": args.cpus,
        "families": out,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
