"""URL-seen membership — exact anti-join twin + distributed bucketed Bloom.

north_rule: "a distributed Bloom/cuckoo URL-seen filter keyed on canonicalized
URL hashes" at 10^10-URL scale. Design (SURVEY.md §2.2/§4):

- the filter is a TABLE of shards ``(bucket:int, bitset:binary, n_keys:long)``
  with ``bucket = pmod(url_hash, B)`` — never a single driver-side structure.
  At the 10^10 design point: B = 65536 buckets × m bits sized for
  FPR ≈ 1e-3 (≈ 14.4 bits/key ⇒ ~18 GB total, ~275 KB/shard), spread across
  executors by the bucket key.
- build/merge/probe are grouped/cogrouped pandas ops over numpy bit arrays —
  vectorized, no per-row Python (input_hint).
- probe uses **cogroup** so each task sees (candidate rows of one bucket +
  that bucket's single shard row): the bitset is never replicated per
  candidate row the way a plain join would.
- Bloom has no false negatives, so ``maybe_seen == False`` rows are certainly
  new; only the ``maybe_seen`` survivors pay the exact anti-join against the
  (bucket-colocated) exact seen table. Exactness is therefore total — the
  Bloom is purely a traffic reducer, and at steady state (most discovered
  URLs are duplicates) it keeps ~99.9% of duplicate traffic out of the
  exact-join shuffle.

Hashing: double hashing over the unsigned url_hash u (itself xxhash64 of the
canonical URL): h1 = u, h2 = xxh64(u ^ GOLDEN) | 1, bit_j = (h1 + j·h2) mod m.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, StructField, StructType

from ..functions.hashing import xxh64_u64_vec
from ..schemas import BLOOM_SHARD
from .materialize import Materializer

_GOLDEN = np.uint64(0x9E3779B97F4A7C15)


def _bit_positions(u: np.ndarray, m_bits: int, k: int) -> np.ndarray:
    """(n, k) bit positions for unsigned-u64 keys via double hashing."""
    with np.errstate(over="ignore"):
        h1 = u
        h2 = xxh64_u64_vec(u ^ _GOLDEN) | np.uint64(1)
        j = np.arange(k, dtype=np.uint64)
        return ((h1[:, None] + j[None, :] * h2[:, None]) % np.uint64(m_bits)).astype(
            np.int64
        )


class BloomSeen:
    """Parameters for one bucketed Bloom filter (shared by build/probe)."""

    def __init__(self, n_buckets: int = 256, m_bits: int = 1 << 16, k: int = 7):
        self.n_buckets = n_buckets
        self.m_bits = m_bits
        self.k = k

    # -- column helpers -------------------------------------------------------

    def bucket_col(self, url_hash: str = "url_hash") -> F.Column:
        return F.pmod(F.col(url_hash), F.lit(self.n_buckets)).cast("int")

    # -- build ----------------------------------------------------------------

    def build(self, hashes: DataFrame, url_hash: str = "url_hash") -> DataFrame:
        """(url_hash) rows → shard table. One shard per non-empty bucket."""
        m_bits, k = self.m_bits, self.k

        def _build(pdf: pd.DataFrame) -> pd.DataFrame:
            u = pdf[url_hash].to_numpy(dtype=np.int64).view(np.uint64)
            bits = np.zeros(m_bits // 8, dtype=np.uint8)
            pos = _bit_positions(u, m_bits, k).ravel()
            np.bitwise_or.at(bits, pos >> 3, (1 << (pos & 7)).astype(np.uint8))
            return pd.DataFrame(
                {
                    "bucket": [int(pdf["bucket"].iloc[0])],
                    "bitset": [bits.tobytes()],
                    "n_keys": [len(u)],
                }
            )

        return (
            hashes.withColumn("bucket", self.bucket_col(url_hash))
            .groupBy("bucket")
            .applyInPandas(_build, BLOOM_SHARD)
        )

    def merge(self, *shard_dfs: DataFrame) -> DataFrame:
        """Bitwise-OR shard tables together (same params assumed)."""

        def _or(pdf: pd.DataFrame) -> pd.DataFrame:
            acc = np.frombuffer(pdf["bitset"].iloc[0], dtype=np.uint8).copy()
            for b in pdf["bitset"].iloc[1:]:
                acc |= np.frombuffer(b, dtype=np.uint8)
            return pd.DataFrame(
                {
                    "bucket": [int(pdf["bucket"].iloc[0])],
                    "bitset": [acc.tobytes()],
                    "n_keys": [int(pdf["n_keys"].sum())],
                }
            )

        df = shard_dfs[0]
        for other in shard_dfs[1:]:
            df = df.unionByName(other)
        return df.groupBy("bucket").applyInPandas(_or, BLOOM_SHARD)

    # -- probe ----------------------------------------------------------------

    def probe(
        self, candidates: DataFrame, shards: DataFrame, url_hash: str = "url_hash"
    ) -> DataFrame:
        """Append ``maybe_seen`` to candidates. False ⇒ certainly not in the
        filter (no false negatives). A bucket may hold SEVERAL shard rows
        (the incremental commit path appends one per round between
        compactions); the probe ORs them — OR-of-shards == shard-of-union,
        so incremental and compacted filters answer identically."""
        m_bits, k = self.m_bits, self.k
        out_schema = StructType(
            candidates.schema.fields + [StructField("maybe_seen", BooleanType(), False)]
        )
        cand_cols = [f.name for f in candidates.schema.fields]

        def _probe(cand: pd.DataFrame, shard: pd.DataFrame) -> pd.DataFrame:
            out = cand[cand_cols].copy()
            if shard.empty:
                out["maybe_seen"] = False
                return out
            bits = np.frombuffer(shard["bitset"].iloc[0], dtype=np.uint8)
            if len(shard) > 1:
                bits = bits.copy()
                for b in shard["bitset"].iloc[1:]:
                    bits |= np.frombuffer(b, dtype=np.uint8)
            u = cand[url_hash].to_numpy(dtype=np.int64).view(np.uint64)
            pos = _bit_positions(u, m_bits, k)
            hit = (bits[pos >> 3] & (1 << (pos & 7)).astype(np.uint8)) != 0
            out["maybe_seen"] = hit.all(axis=1)
            return out

        cand_b = candidates.withColumn("__bucket", self.bucket_col(url_hash))
        return (
            cand_b.groupBy("__bucket")
            .cogroup(shards.groupBy("bucket"))
            .applyInPandas(_probe, out_schema)
        )


def anti_join_seen(
    candidates: DataFrame, seen: DataFrame, key: str = "url_hash"
) -> DataFrame:
    """Exact: drop candidates whose key is already in ``seen``."""
    return candidates.join(seen.select(key), on=key, how="left_anti")


def filter_new(
    candidates: DataFrame,
    seen_exact: DataFrame,
    bloom: BloomSeen | None = None,
    shards: DataFrame | None = None,
) -> DataFrame:
    """Exact not-yet-seen filter, Bloom-accelerated when shards are given."""
    if bloom is None or shards is None:
        return anti_join_seen(candidates, seen_exact)
    probed = bloom.probe(candidates, shards)
    certain_new = probed.filter(~F.col("maybe_seen")).drop("maybe_seen")
    suspects = probed.filter(F.col("maybe_seen")).drop("maybe_seen")
    return certain_new.unionByName(anti_join_seen(suspects, seen_exact))


def filter_new_bucketed(
    spark,
    candidates: DataFrame,
    seen_tbl,
    bloom: BloomSeen,
    shards: DataFrame,
    n_seen_buckets: int,
    key: str = "url_hash",
    mat: Materializer | None = None,
):
    """Exact not-yet-seen filter that never scans the whole seen table.

    The r2 design Bloom-reduced the JOIN traffic but the exact verify still
    READ the entire seen set every round — the last O(big-table)-per-round
    scan besides the frontier's (now zone-pruned). With the seen table
    BUCKETED by pmod(url_hash, B) (sources/icetable bucketed commits), the
    Bloom's no-false-negative guarantee means every truly-seen candidate is a
    suspect, so the exact verify only needs the buckets the suspects hash
    into: read those buckets' files, map-side semi-join against the
    broadcast suspect set, and anti-join the (tiny) truly-seen result back.
    A round reads O(suspect_buckets / B) of the seen set — at steady state
    suspects ≈ FPR × duplicate traffic, so the read is a sliver — and
    NOTHING here shuffles (both joins broadcast the small side).

    Returns (new_df, info) where info records the read scope for the
    crawl_log (suspect_buckets / total_buckets / files_read). ``mat`` cuts
    the probe result lazily: the suspect-bucket counts job right below
    materializes it."""
    probed = (mat or Materializer()).cut(bloom.probe(candidates, shards))
    certain_new = probed.filter(~F.col("maybe_seen")).drop("maybe_seen")
    suspects = probed.filter(F.col("maybe_seen")).drop("maybe_seen")
    bucket_rows = (
        suspects.groupBy(F.pmod(F.col(key), F.lit(n_seen_buckets)).alias("b"))
        .count()
        .collect()
    )
    info = {
        "total_buckets": n_seen_buckets,
        "suspect_buckets": len(bucket_rows),
        "n_suspects": int(sum(r["count"] for r in bucket_rows)),
    }
    if not bucket_rows:
        info["files_read"] = 0
        return certain_new, info
    # only the suspect buckets' manifests are opened — cold buckets cost
    # zero metadata IO as well as zero data IO
    plan = seen_tbl.bucket_plan(buckets=[str(r["b"]) for r in bucket_rows])
    files = [f for v in plan.values() for f in v["base"] + v["delta"]]
    info["files_read"] = len(files)
    if not files:
        return certain_new.unionByName(suspects), info
    seen_sub = seen_tbl.read_files(spark, files)
    truly_seen = seen_sub.join(
        F.broadcast(suspects.select(key)), on=key, how="left_semi"
    )
    new_suspects = suspects.join(F.broadcast(truly_seen), on=key, how="left_anti")
    return certain_new.unionByName(new_suspects), info
