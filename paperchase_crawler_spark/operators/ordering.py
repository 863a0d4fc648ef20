"""Exact global total-order rank / top-k without a single-partition sort.

A naive ``row_number().over(Window.orderBy(...))`` or a full ``orderBy`` pulls
every row through ONE task — the classic scale killer (SURVEY.md §4.3).
``ranked_cut`` keeps the cut exact while staying distributed, on one of two
paths:

- **take-ordered** (a cut or row bound ≤ TAKE_ORDERED_MAX_K): sort+limit
  plans as TakeOrderedAndProject — per-partition bounded heaps merged into
  one sorted partition of ≤ k rows — and the rank is a ``row_number`` over
  that already-single, already-sorted partition (no extra exchange or sort).
- **range-partitioned**:

  1. ``repartitionByRange`` on the total-order key → partition i holds a
     contiguous key range, ranges ascending with i.
  2. per-partition row counts (one tiny job, P rows to the driver),
  3. driver-side cumulative sum → per-partition rank offsets and the
     boundary partition of the cut,
  4. ``row_number`` windowed *within* each range partition (+ offset).

Result is exact and deterministic whenever the key tuple is unique (ours is:
disc_seq is unique), independent of physical partitioning. Memory per task is
O(rows/P) on the range path; nothing global ever materializes in one place.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .materialize import Materializer

_PID = "__pid"
_RN = "__rn"
_RANK = "__rank"

# Below this k, sort+limit plans as TakeOrderedAndProject: every partition
# keeps a k-row bounded heap and only P×k rows reach the final merge — no
# range-exchange, no sampling pass, no counts job, and no full sort of any
# partition. Above it, P×k rows through one merge stops being small and the
# range-partitioned path (sampling job + counts job, but fully distributed)
# wins. 64k keeps the merge ≤ a few MB per thousand partitions.
TAKE_ORDERED_MAX_K = 65_536


def _range_partitioned(
    df: DataFrame, keys: list[str], mat: Materializer
) -> DataFrame:
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    # repartitionByRange executes its CHILD twice per action: once in the
    # range-boundary sampling pass, once in the real shuffle-map pass. The
    # children fed to the rank operators are exactly the expensive cut
    # lineages (bucket Arrow scans, salted windows, UDF-bearing expand
    # plans), so a lazy cut in between makes the child compute once — the
    # sampling pass materializes it and the map pass reads the cut blocks
    # (guide §2.4 "remove shuffles/passes outright").
    return (
        mat.cut(df)
        .repartitionByRange(n, *[F.col(k) for k in keys])
        .withColumn(_PID, F.spark_partition_id())
    )


def ranked_cut(
    df: DataFrame,
    keys: list[str],
    rank_col: str,
    k: int | None = None,
    start: int = 0,
    count_pred=None,
    max_rows: int | None = None,
    mat: Materializer | None = None,
) -> tuple[DataFrame, int | None, int | None]:
    """The first ``k`` rows of ``df`` in ascending ``keys`` order (``k=None``:
    every row), with ``rank_col`` = ``start`` + 0-based global position.

    Returns ``(ranked, n_rows, n_pred)``:

    - ``n_rows``: the exact output row count, which the range path's counts
      job already knows. The take-ordered path runs no job of its own and
      returns None: a caller that needs the size counts ``ranked``, and that
      one job also materializes its checkpoint.
    - ``n_pred``: the exact number of input rows matching ``count_pred`` (a
      boolean Column), piggybacked on the same counts job — the zone-pruned
      SELECT verifies its exactness bound with it (frontier_select). None
      without ``count_pred``; a ``count_pred`` always takes the range path,
      since it counts the FULL input, not just the cut.

    ``max_rows``: an upper bound on df's row count the caller already holds
    (the crawl bounds seeds by the seed list and new discoveries by the
    collected outlink total). With ``k=None``, a bound ≤ TAKE_ORDERED_MAX_K
    ranks every row on the take-ordered path, and is checked there, not
    trusted: a row past the bound raises in the same job. Larger bounds take
    the range path, so the hint can never funnel a large set through one
    partition.

    ``mat`` cuts the take-ordered output and both range-path stages (the
    child before the range exchange, and its partitioned result); a local
    Materializer by default."""
    mat = mat or Materializer()
    order = [F.col(c).asc() for c in keys]
    cut = k if k is not None else max_rows
    if k is not None and k <= 0:
        # guard BEFORE any job: an empty offsets map would otherwise build
        # create_map() of VOID type
        return _empty(df, rank_col), 0, None if count_pred is None else 0
    if count_pred is None and cut is not None and cut <= TAKE_ORDERED_MAX_K:
        rank = F.col(_RN) - 1 + F.lit(start).cast("long")
        if k is None:
            # max_rows bounds the input, it does not cut it: keep one row
            # past the bound so an overflow fails stop instead of truncating
            cut += 1
            rank = F.when(
                F.col(_RN) > max_rows,
                F.raise_error(F.lit(f"ranked_cut: input exceeds max_rows={max_rows}")),
            ).otherwise(rank)
        top = df.orderBy(*order).limit(cut)
        ranked = (
            top.withColumn(_RN, F.row_number().over(Window.orderBy(*order)))
            .withColumn(rank_col, rank.cast("long"))
            .drop(_RN)
        )
        return mat.cut(ranked), None, None

    part = mat.cut(_range_partitioned(df, keys, mat))
    aggs = [F.count("*").alias("cnt")]
    if count_pred is not None:
        aggs.append(F.count_if(count_pred).alias("npred"))
    rows = part.groupBy(_PID).agg(*aggs).collect()
    n_pred = None if count_pred is None else sum(r["npred"] for r in rows)
    total = sum(r["cnt"] for r in rows)
    n_rows = total if k is None else min(k, total)
    if n_rows == 0:
        return _empty(df, rank_col), 0, n_pred
    acc = 0
    offsets: dict[int, int] = {}
    boundary_pid, take_in_boundary = None, 0
    for pid, cnt in sorted((r[_PID], r["cnt"]) for r in rows):
        if acc >= n_rows:
            break
        offsets[pid] = acc + start
        if acc + cnt > n_rows:
            boundary_pid, take_in_boundary = pid, n_rows - acc
        acc += cnt
    # a cut drops the range partitions past it with a metadata-only filter
    kept = part if k is None else part.filter(F.col(_PID).isin(list(offsets)))
    w = Window.partitionBy(_PID).orderBy(*order)
    ranked = kept.withColumn(_RN, F.row_number().over(w))
    if boundary_pid is not None:
        ranked = ranked.filter(
            (F.col(_PID) != boundary_pid) | (F.col(_RN) <= take_in_boundary)
        )
    off_map = F.create_map(*[F.lit(x) for kv in offsets.items() for x in kv])
    ranked = ranked.withColumn(
        rank_col,
        (F.col(_RN).cast("long") - 1 + off_map[F.col(_PID)]).cast("long"),
    ).drop(_PID, _RN)
    return ranked, n_rows, n_pred


def _empty(df: DataFrame, rank_col: str) -> DataFrame:
    return df.withColumn(rank_col, F.lit(0).cast("long")).limit(0)


def global_topk(df: DataFrame, keys: list[str], k: int) -> DataFrame:
    """Exact smallest-k rows by ``keys``. Small k (the common case: crawl
    budgets, report top-k) goes through sort+limit = TakeOrderedAndProject —
    per-partition bounded heaps, one job, zero extra actions. Larger k is
    ranked_cut's range path with the rank dropped."""
    if k <= TAKE_ORDERED_MAX_K:
        return df.orderBy(*[F.col(c).asc() for c in keys]).limit(max(k, 0))
    return ranked_cut(df, keys, _RANK, k=k)[0].drop(_RANK)
