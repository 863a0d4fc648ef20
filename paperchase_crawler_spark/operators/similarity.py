"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k as the exactness baseline, and an LSH-bucketed
variant as the scale path. Everything is JVM column algebra (zip_with /
aggregate higher-order functions) — no Python UDFs; both variants have
ANSI-SQL twins for the DuckDB oracle.

Scale notes: brute-force is O(N·Q) — right answer for small Q (broadcast the
queries side!); the LSH path buckets by projection sign bits so candidate
generation is a bucket-equi-join, shuffling only (bucket, id, vec).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .materialize import Materializer

# Literal-baked assignment (planes/centroids folded into the plan as column
# literals — zero shuffle, zero join) is the right call for the usual tiny
# dimension tables, but the PLAN grows with n_rows × dim: past ~10^4
# centroids it bloats Catalyst analysis/codegen and eventually fails to
# compile. Past this budget (in floats) the operators below switch to a
# broadcast-join assignment automatically: same math (bit-identical — both
# paths reduce the same doubles in the same order), bounded plan, at the
# cost of one aggregation shuffle on the row id.
LITERAL_BUDGET_FLOATS = 20_000


def _assign_mode(n_rows: int, dim: int, assign_path: str) -> str:
    if assign_path != "auto":
        return assign_path
    return "literal" if n_rows * dim <= LITERAL_BUDGET_FLOATS else "broadcast"


def _norm(v: Column) -> Column:
    return F.sqrt(F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x))


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x)


def cosine_topk_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k neighbours per query (self-matches excluded).

    Output: (query_id, neighbor_id, cosine, rank). The queries side is
    broadcast — at 100 TB the corpus streams map-side with zero shuffle
    (_spread is a no-op once the file count provides parallelism; it only
    rebalances a single-file small-SF scan that would otherwise run the
    whole N×Q scoring in one task)."""
    from .dedup import _spread

    corpus = _spread(corpus)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("cv"),
    ).withColumn("cn", _norm(F.col("cv")))
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    ).withColumn("qn", _norm(F.col("qv")))
    scored = (
        c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cosine", _dot(F.col("cv"), F.col("qv")) / (F.col("cn") * F.col("qn")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.round("cosine", 4).alias("cosine"), "rank")
    )


def with_lsh_bucket(
    df: DataFrame,
    planes: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    assign_path: str = "auto",
) -> DataFrame:
    """Random-hyperplane LSH bucket id: bit j = sign(dot(v, plane_j)).

    Default path for a tiny ``planes`` (plane_idx, vec) table: COLLECT and
    bake it into the plan as literal arrays, so the bucket is pure narrow
    column algebra computed in place — no broadcast cross join, no groupBy
    shuffle, no join-back (the r2 form paid all three; the literal form is
    the same trick as dedup._lsh_band_codes). Past LITERAL_BUDGET_FLOATS
    (``assign_path`` "auto"; force with "literal"/"broadcast") the sign bits
    come from a broadcast join + per-id bit-sum instead — identical buckets
    (each bit's dot product reduces the same doubles in the same order),
    bounded plan size, one extra shuffle on ``id_col``. Deterministic given
    the planes; the oracle derives planes from fixed corpus rows so the SQL
    twin is exact."""
    rows = sorted(
        planes.select(
            "plane_idx", F.col(vec_col).cast("array<double>").alias("pv")
        ).collect(),
        key=lambda r: r["plane_idx"],
    )
    # both paths OR the plane's sign bit in as 2^plane_idx on a long; past
    # idx 62 the broadcast path's double→long cast would silently saturate
    # and smear bits across the mask — fail loudly instead (ADVICE r5)
    if rows and int(max(r["plane_idx"] for r in rows)) > 62:
        raise ValueError(
            "with_lsh_bucket supports plane_idx <= 62 (bucket bits live in "
            f"one signed long); got {max(r['plane_idx'] for r in rows)}"
        )
    dim = len(rows[0]["pv"]) if rows else 0
    if _assign_mode(len(rows), dim, assign_path) == "literal":
        v = F.col(vec_col).cast("array<double>")
        bucket = F.lit(0).cast("long")
        for r in rows:
            pv = F.array(*[F.lit(float(x)) for x in r["pv"]])
            bucket = bucket + F.when(
                _dot(v, pv) > 0, F.lit(1 << int(r["plane_idx"])).cast("long")
            ).otherwise(F.lit(0).cast("long"))
        return df.withColumn("bucket", bucket)
    # ONE-ROW broadcast of the sorted plane matrix, then the bucket is
    # computed IN PLACE per row by folding over the array — exactly the
    # literal path's shape with the planes as broadcast DATA instead of plan
    # literals: same per-plane dot (sequential zip_with/aggregate reduction
    # → bit-identical sign bits), zero shuffle, zero join-back, and the plan
    # stays O(1) in the plane count. (The r4 broadcast form exploded
    # N × planes rows into a per-id sum — a full aggregation shuffle just to
    # OR sign bits together.)
    pl_row = planes.select(
        F.struct(
            F.col("plane_idx").cast("int").alias("pidx"),
            F.col(vec_col).cast("array<double>").alias("pv"),
        ).alias("p")
    ).agg(F.array_sort(F.collect_list("p")).alias("__planes"))
    v = F.col(vec_col).cast("array<double>")
    bucket = F.aggregate(
        F.col("__planes"),
        F.lit(0).cast("long"),
        lambda acc, p: acc
        + F.when(
            # 2^pidx as a long: powers of two are exact in double for any
            # pidx ≤ 62, and F.shiftleft's python wrapper only takes int
            # literals (lambda vars can't reach F.expr strings)
            _dot(v, p["pv"]) > 0,
            F.pow(F.lit(2.0), p["pidx"]).cast("long"),
        ).otherwise(F.lit(0).cast("long")),
    )
    return (
        df.join(F.broadcast(pl_row))
        .withColumn("bucket", bucket)
        .drop("__planes")
    )


def ivf_topk(
    corpus: DataFrame,
    centroids: DataFrame,
    k: int = 3,
    nprobe: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    assign_path: str = "auto",
    hot_cell_cap: int | None = None,
    n_salts: int = 8,
    mat: Materializer | None = None,
) -> DataFrame:
    """IVF (inverted-file) approximate all-pairs top-k: assign every vector
    to its ``nprobe`` highest-dot-product coarse cells (``centroids`` is a
    tiny broadcast (cell_idx, vec) table — at scale, k-means centroids; the
    contract derives them from fixed corpus rows so the SQL twin is exact),
    then search neighbours only within shared cells. Candidate generation is
    a (cell) equi-join — shuffle is cell-local, the same scale shape as the
    LSH path but with data-adaptive cells. nprobe > 1 is the recall knob:
    queries probe their ``nprobe`` nearest cells (neighbours stay indexed in
    their top-1 cell, the IVF convention).

    ``hot_cell_cap``: skew guard, same construction as lsh_bucketed_topk's
    hot_bucket_cap. A cell equi-join's parallelism is bounded by the number
    of POPULATED cells, and clustered corpora pile into few cells (measured:
    the contract query's 8-cell join ran its ~1M interpreted cosine dots on
    ≤8 tasks — the whole query was this stage). Cells holding more query
    rows than the cap get the query side salted by pmod(xxhash64(vid),
    n_salts) and the indexed side replicated across the salts; every
    ordered pair still meets at exactly one salt → results are IDENTICAL
    (property-tested), only the max task size changes.

    Output: (query_id, neighbor_id, cosine, rank) for each corpus row with
    ≥1 co-cell neighbour."""
    # cell-score total order: desc by score, tie-break asc cell_idx — same
    # total order the r2 row_number() used, so results are bit-identical
    def _cell_cmp(x, y):
        return (
            F.when(x["s"] > y["s"], F.lit(-1))
            .when(x["s"] < y["s"], F.lit(1))
            .otherwise(
                F.when(x["cell_idx"] < y["cell_idx"], F.lit(-1))
                .when(x["cell_idx"] > y["cell_idx"], F.lit(1))
                .otherwise(F.lit(0))
            )
        )

    cells = sorted(
        centroids.select(
            "cell_idx", F.col(vec_col).cast("array<double>").alias("cv")
        ).collect(),
        key=lambda r: r["cell_idx"],
    )
    dim = len(cells[0]["cv"]) if cells else 0
    v = corpus.select(
        F.col(id_col).alias("vid"), F.col(vec_col).cast("array<double>").alias("v")
    ).withColumn("n", _norm(F.col("v")))
    if _assign_mode(len(cells), dim, assign_path) == "literal":
        # the usual case — centroids are tiny: bake them into the plan as
        # literals so cell assignment is narrow in-place column algebra
        # (array of per-cell scores → comparator sort → top-nprobe) — the r2
        # form paid a broadcast cross join plus a Window shuffle of
        # N × cells rows for the same result
        scored_cells = F.array(
            *[
                F.struct(
                    (
                        _dot(
                            F.col("v"),
                            F.array(*[F.lit(float(x)) for x in r["cv"]]),
                        )
                        / F.lit(
                            float(sum(x * x for x in r["cv"]) ** 0.5)
                        )
                    ).alias("s"),
                    F.lit(int(r["cell_idx"])).alias("cell_idx"),
                )
                for r in cells
            ]
        )
        ranked_cells = F.array_sort(scored_cells, _cell_cmp)
        assigned = v.select(
            "vid",
            "v",
            "n",
            F.posexplode(F.slice(ranked_cells, 1, nprobe)).alias("__pos", "__c"),
        ).select(
            "vid", "v", "n",
            F.col("__c.cell_idx").alias("cell_idx"),
            (F.col("__pos") + 1).alias("probe_rank"),
        )
    else:
        # past LITERAL_BUDGET_FLOATS: ONE-ROW broadcast of the sorted
        # centroid matrix, scored IN PLACE per corpus row with the same
        # array_sort comparator as the literal path. The scores reduce the
        # same doubles in the same order (zip_with/aggregate is sequential
        # both ways; python sum(x*x) and the JVM _norm fold are both
        # sequential left-to-right) so the chosen cells are bit-identical —
        # and the plan stays O(1) in nlist. This replaces the r4 broadcast
        # form, which exploded N × nlist scored rows into a collect_list +
        # full-sort shuffle per vid just to take the top nprobe (the r4
        # verdict's watch item); here assignment is narrow map-side work
        # with ZERO shuffle — the only cost is the nlist × dim broadcast
        # (~2 MB at 4096×64 doubles).
        # centroid norm precomputed ONCE per centroid on the broadcast build
        # side (same sequential _norm fold → bit-identical quotient) — the r5
        # form recomputed _norm(c['cv']) inside the per-row transform, paying
        # nlist × dim multiply-adds per corpus row for values that never
        # change (ADVICE r5)
        cent_row = centroids.select(
            F.struct(
                F.col("cell_idx").cast("int").alias("cell_idx"),
                F.col(vec_col).cast("array<double>").alias("cv"),
            ).alias("c")
        ).agg(
            F.transform(
                F.array_sort(F.collect_list("c")),
                lambda c: F.struct(
                    c["cell_idx"].alias("cell_idx"),
                    c["cv"].alias("cv"),
                    _norm(c["cv"]).alias("cn"),
                ),
            ).alias("__cells")
        )
        scored_cells = F.transform(
            F.col("__cells"),
            lambda c: F.struct(
                (_dot(F.col("v"), c["cv"]) / c["cn"]).alias("s"),
                c["cell_idx"].alias("cell_idx"),
            ),
        )
        ranked_cells = F.array_sort(scored_cells, _cell_cmp)
        assigned = (
            v.join(F.broadcast(cent_row))
            .select(
                "vid",
                "v",
                "n",
                F.posexplode(F.slice(ranked_cells, 1, nprobe)).alias(
                    "__pos", "__c"
                ),
            )
            .select(
                "vid", "v", "n",
                F.col("__c.cell_idx").alias("cell_idx"),
                (F.col("__pos") + 1).alias("probe_rank"),
            )
        )
    # ONE materialization of the assignment — the query side and the
    # indexed side both read it (each previously recomputed the full
    # nlist-scoring lineage)
    from .dedup import _reuse

    assigned, _ = _reuse(assigned, mat, spread=False)
    if hot_cell_cap is None:
        a = assigned.alias("a")  # query side: probes nprobe cells
        b = assigned.filter(F.col("probe_rank") == 1).alias("b")  # top-1 indexed
        cand = a.join(b, on="cell_idx")
    else:
        hot = (
            assigned.groupBy("cell_idx")
            .agg(F.count("*").alias("__cn"))
            .filter(F.col("__cn") > hot_cell_cap)
            .select("cell_idx", F.lit(True).alias("__hot"))
        )
        flagged = assigned.join(F.broadcast(hot), on="cell_idx", how="left")
        a = flagged.withColumn(
            "__salt",
            F.when(
                F.col("__hot").isNotNull(),
                F.pmod(F.xxhash64("vid"), F.lit(n_salts)),
            )
            .otherwise(F.lit(0))
            .cast("int"),
        ).drop("__hot").alias("a")
        b = (
            flagged.filter(F.col("probe_rank") == 1)
            .withColumn(
                "__salts",
                F.when(
                    F.col("__hot").isNotNull(),
                    F.sequence(F.lit(0), F.lit(n_salts - 1)),
                ).otherwise(F.array(F.lit(0))),
            )
            .withColumn("__salt", F.explode("__salts"))
            .withColumn("__salt", F.col("__salt").cast("int"))
            .drop("__salts", "__hot")
            .alias("b")
        )
        # explicit-width repartition on the join keys: the candidate join
        # shuffles a few MB of vectors but computes millions of interpreted
        # cosine folds — AQE coalesces shuffles by BYTES, so it merged this
        # compute-bound join down to 1-2 partitions and ran it effectively
        # single-threaded (measured: the whole contract query was this
        # stage). An explicit partition count is exempt from AQE coalescing;
        # the join reuses the partitioning, so no extra exchange appears.
        npart = int(
            a.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
        )
        a = a.repartition(npart, "cell_idx", "__salt")
        b = b.repartition(npart, "cell_idx", "__salt")
        cand = a.join(b, on=["cell_idx", "__salt"]).drop("__salt")
    scored = (
        cand.filter(F.col("a.vid") != F.col("b.vid"))
        .withColumn(
            "cosine", _dot(F.col("a.v"), F.col("b.v")) / (F.col("a.n") * F.col("b.n"))
        )
        .select(
            F.col("a.vid").alias("query_id"),
            F.col("b.vid").alias("neighbor_id"),
            "cosine",
        )
        .distinct()  # nprobe>1 can reach the same neighbour via 2 cells
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "neighbor_id", F.round("cosine", 4).alias("cosine"), "rank"
        )
    )


def lsh_bucketed_topk(
    corpus: DataFrame,
    planes: DataFrame,
    k: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    hot_bucket_cap: int | None = None,
    n_salts: int = 8,
    assign_path: str = "auto",
    mat: Materializer | None = None,
) -> DataFrame:
    """Approximate all-pairs top-k: neighbours searched within LSH bucket only.

    Output: (query_id, neighbor_id, cosine, rank) for every corpus row that
    shares a bucket with ≥1 other row. Candidate join is on ``bucket`` —
    shuffle is bucket-local (the scale path).

    ``hot_bucket_cap``: skew guard. Buckets holding more rows than the cap
    are salted — the query side takes salt = pmod(xxhash64(vid), n_salts)
    and the neighbour side is replicated across all salts, so the join key
    becomes (bucket, salt) and one hot bucket spreads over n_salts tasks.
    Every ordered pair still meets at exactly one salt → results are
    IDENTICAL to the unguarded plan (property-tested); only the max task
    size changes. The within-bucket candidate count is semantic (search the
    whole bucket), so the guard bounds skew, not total work."""
    from .dedup import _reuse, _spread

    # spread the (possibly single-file) corpus scan so the per-row plane
    # dots use every core, then materialize the bucketed table ONCE — the
    # hot-bucket count, the query side, and the neighbour side all read it
    # (the r5 shape recomputed scan + bucket codes three times)
    with_b, _ = _reuse(
        with_lsh_bucket(_spread(corpus), planes, vec_col, id_col, assign_path)
        .select(
            F.col(id_col).alias("vid"),
            F.col(vec_col).cast("array<double>").alias("v"),
            "bucket",
        )
        .withColumn("n", _norm(F.col("v"))),
        mat,
        spread=False,
    )
    # explicit-width repartition on the join key(s): the bucket join
    # shuffles few bytes but computes the all-pairs-within-bucket cosine
    # folds — AQE coalesces by BYTES and would run this compute-bound join
    # on 1-2 partitions (see ivf_topk; measured there)
    npart = int(with_b.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    if hot_bucket_cap is None:
        r = with_b.repartition(npart, "bucket")
        a, b = r.alias("a"), r.alias("b")
        cand = a.join(b, on="bucket")
    else:
        hot = (
            with_b.groupBy("bucket")
            .agg(F.count("*").alias("__bn"))
            .filter(F.col("__bn") > hot_bucket_cap)
            .select("bucket", F.lit(True).alias("__hot"))
        )
        flagged = with_b.join(F.broadcast(hot), on="bucket", how="left")
        a = flagged.withColumn(
            "__salt",
            F.when(
                F.col("__hot").isNotNull(),
                F.pmod(F.xxhash64("vid"), F.lit(n_salts)),
            )
            .otherwise(F.lit(0))
            .cast("int"),
        ).drop("__hot")
        b = (
            flagged.withColumn(
                "__salts",
                F.when(
                    F.col("__hot").isNotNull(),
                    F.sequence(F.lit(0), F.lit(n_salts - 1)),
                ).otherwise(F.array(F.lit(0))),
            )
            .withColumn("__salt", F.explode("__salts"))
            .withColumn("__salt", F.col("__salt").cast("int"))
            .drop("__salts", "__hot")
        )
        a = a.repartition(npart, "bucket", "__salt")
        b = b.repartition(npart, "bucket", "__salt")
        cand = a.alias("a").join(b.alias("b"), on=["bucket", "__salt"]).drop("__salt")
    scored = (
        cand.filter(F.col("a.vid") != F.col("b.vid"))
        .withColumn("cosine", _dot(F.col("a.v"), F.col("b.v")) / (F.col("a.n") * F.col("b.n")))
    )
    w = Window.partitionBy(F.col("a.vid")).orderBy(
        F.col("cosine").desc(), F.col("b.vid").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("a.vid").alias("query_id"),
            F.col("b.vid").alias("neighbor_id"),
            F.round("cosine", 4).alias("cosine"),
            "rank",
        )
    )
