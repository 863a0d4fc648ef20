"""Politeness selection — rule R5 with salted windows (hot-host skew defense).

north_rule: "per-host politeness buckets and robots.txt gating enforced via
salted-key repartitioning to defuse hot-host skew". The frontier's host
distribution is Zipf (host0 ≈ 20% of URLs — FIXTURES.md §3), so a window
partitioned by ``host`` alone would funnel a fifth of the frontier through one
task. Instead:

1. **salted pre-cut**: window over ``(host, salt)`` with
   ``salt = pmod(xxhash64(canon_url), S)`` keeps only the per-salt top
   ``tokens`` rows by R3 order — max task ≈ hot-host-rows / S, and at most
   ``S × tokens`` rows per host survive;
2. **exact cut**: window over ``host`` on that tiny survivor set.

The two-pass result is exactly the per-host top-``tokens`` (any row in the
true host top-``tokens`` is in its salt's top-``tokens``). The global
ROUND_BUDGET cap then uses operators.ordering.global_topk (no single-partition
sort). AQE skew-join handling does NOT fix window skew — salting is the only
defense (SURVEY.md §4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .ordering import global_topk

R3_KEYS = ["depth", "disc_seq"]
DEFAULT_SALTS = 8


def eligible_hosts(joined: DataFrame, round_no: int) -> DataFrame:
    """R5 delay gate: host eligible iff round - last_round >= crawl_delay."""
    return joined.filter(
        F.lit(round_no) - F.col("last_round") >= F.col("crawl_delay_rounds")
    )


def per_host_topk_salted(df: DataFrame, n_salts: int = DEFAULT_SALTS) -> DataFrame:
    """Keep the per-host top ``tokens_per_round`` queued rows by R3 order.

    PRECONDITION: ``tokens_per_round`` is constant within each host (it comes
    from the per-host host_state dimension). The two-pass salted cut is exact
    under that invariant: every true top-``tokens`` row has salt-rank ≤ its
    host-rank ≤ tokens (survives pass 1), and no row ranked below tokens can
    be promoted in pass 2 because everything ahead of it also survived.
    With row-varying tokens a dropped-ahead row could promote a later row —
    tests/test_politeness_robots.py pins the per-host-constant case.

    Design note (measured, round 2): a "hot-host-aware" variant that salts
    only sampled-hot hosts to skip pass 2 for cold ones was tried and
    REVERTED — splitting pass-1 survivors into cold/hot branches recomputes
    the full pass-1 lineage twice, which costs far more than pass 2's
    shuffle of the survivor set (≤ n_salts × tokens per host, ~1-2% of the
    frontier here and ~host_count × tokens at the 10^10 design point)."""
    salted = df.withColumn(
        "__salt", F.pmod(F.xxhash64("canon_url"), F.lit(n_salts)).cast("int")
    )
    w1 = Window.partitionBy("host", "__salt").orderBy(
        *[F.col(k).asc() for k in R3_KEYS]
    )
    pre = (
        salted.withColumn("__rn1", F.row_number().over(w1))
        .filter(F.col("__rn1") <= F.col("tokens_per_round"))
        .drop("__rn1", "__salt")
    )
    w2 = Window.partitionBy("host").orderBy(*[F.col(k).asc() for k in R3_KEYS])
    return (
        pre.withColumn("__rn2", F.row_number().over(w2))
        .filter(F.col("__rn2") <= F.col("tokens_per_round"))
        .drop("__rn2")
    )


def select_round(
    queued_with_host_state: DataFrame,
    round_no: int,
    round_budget: int,
    n_salts: int = DEFAULT_SALTS,
) -> DataFrame:
    """Full R5 selection: delay gate → salted per-host top-k → global budget."""
    elig = eligible_hosts(queued_with_host_state, round_no)
    return global_topk(per_host_topk_salted(elig, n_salts), R3_KEYS, round_budget)
