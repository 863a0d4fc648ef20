"""Streaming URL ingestion → frontier (continuous discovery feeds).

The crawl loop is batch-BSP by design (round-ordering contract — SURVEY §3.3),
but URL DISCOVERY need not be: sitemap diffs, link logs, or upstream-crawler
feeds arrive continuously. This module lands such a stream into the SAME
bucketed merge-on-read frontier the BSP loop selects from, using Structured
Streaming's ``foreachBatch`` custom-sink pattern:

  readStream(source) → foreachBatch(ingest_batch) → trigger(availableNow)

``ingest_batch`` is a plain batch plan per micro-batch: canonicalize
(vectorized pandas UDF) → xxhash64 → batch-internal first-occurrence dedup →
not-yet-seen filter (exact anti-join, or the bucket-pruned Bloom path when a
filter is maintained) → deterministic disc_seq assignment → bucketed delta
append with zone maps. EXACTLY-ONCE: every table commit records the epoch id
in its snapshot meta and a replayed epoch (foreachBatch redelivers after
crashes) is skipped per table — so frontier and seen each apply an epoch at
most once, in any crash/replay interleaving.

COMMIT ORDER IS LOAD-BEARING: frontier → bloom_shards → seen. The epoch's
key set is derived by anti-joining against the CURRENT seen table, so the
seen commit must come LAST: every earlier crash window replays against a
seen table the epoch has not touched and recomputes the same keys. Putting
bloom before seen also keeps the crawl's hard invariant seen ⊆ bloom true in
EVERY window — a crash between them leaves extra bloom keys (harmless false
positives), never seen keys missing from bloom. (The r4 order seen → bloom
had a corrupting window: crash after the seen commit made the replay's
anti-join return zero keys, permanently skipping the bloom append.)

disc_seq: the stream source must carry a unique ``src_seq long`` (arrival
order); each epoch's new URLs get contiguous disc_seq from the frontier
snapshot's persisted ``next_disc_seq`` high-water mark, ranked by src_seq —
deterministic and replay-stable, and compatible with the BSP loop's R3/R4
ordering (ingested URLs enqueue exactly like expanded outlinks).
"""

from __future__ import annotations

import json
import os
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.spark_udfs import canonicalize_udf
from ..operators.frontier_select import compute_frontier_zones, frontier_bucket_col
from ..operators.materialize import Materializer
from ..operators.ordering import ranked_cut
from ..operators.robots import blocked_expr, path_col
from ..operators.seen import anti_join_seen
from ..sources.icetable import IceTable

FRONTIER_COLS = [
    "canon_url", "url_hash", "host", "depth", "disc_seq",
    "priority", "state", "round_disc", "round_done",
]


def frontier_disc_hwm(tbl: IceTable) -> int:
    """disc_seq high-water mark: newest snapshot whose meta carries
    ``next_disc_seq`` (compaction/maintenance commits don't) — shared
    contract with CrawlRunner._frontier_disc_hwm."""
    for sid in reversed(tbl.snapshot_ids()):
        meta = tbl.snapshot(sid)["meta"]
        if "next_disc_seq" in meta:
            return int(meta["next_disc_seq"])
    return 0


def _epoch_already_applied(tbl: IceTable, epoch_id: int) -> bool:
    snap = tbl.snapshot()
    if snap is None:
        return False
    applied = snap["meta"].get("ingest_epochs", [])
    return epoch_id in applied


def _epoch_meta(tbl: IceTable, epoch_id: int, extra: dict | None = None) -> dict:
    snap = tbl.snapshot()
    applied = list(snap["meta"].get("ingest_epochs", [])) if snap else []
    meta = dict(extra or {})
    # keep a bounded tail of applied epochs — foreachBatch only ever replays
    # recent ones (the stream checkpoint bounds the replay window)
    meta["ingest_epochs"] = (applied + [epoch_id])[-64:]
    return meta


def _crawl_checkpoint(tbl: IceTable) -> dict | None:
    """The composed CrawlRunner's atomic checkpoint, when ``tbl`` lives in a
    crawl workdir (<workdir>/<table>); None for standalone ingest tables."""
    ckpt = os.path.join(os.path.dirname(tbl.path.rstrip("/")), "CHECKPOINT")
    try:
        with open(ckpt) as f:
            return json.load(f)
    except (FileNotFoundError, json.JSONDecodeError):
        return None


def _require_tip_adoptable(tbl: IceTable, name: str) -> None:
    """Refuse to commit an ingest epoch on top of CRASH GARBAGE: if the
    table's current tip is post-checkpoint history that is not itself
    ingest-tagged, a crawl round committed but crashed before its CHECKPOINT
    swap. CrawlRunner.resume() will roll that garbage back — and an ingest
    snapshot whose parent chain passes THROUGH garbage is not reachable from
    the checkpoint target, so resume would roll the committed epoch back too,
    after the stream checkpoint already recorded it (permanent loss). The
    adoption contract (resume follows tagged children by parent chain) is
    only sound because this guard stops ingest from ever building on an
    unadoptable tip: run CrawlRunner.resume() first, then re-run the feed."""
    state = _crawl_checkpoint(tbl)
    if state is None:
        return
    target = state.get("snapshots", {}).get(name, -1)
    if target == -1:
        return
    sid = tbl.current_snapshot_id()
    while sid != target:
        if sid is None:
            # chain bottomed out without reaching the checkpointed snapshot —
            # the table was recreated/rolled past it; unadoptable either way
            raise ValueError(
                f"ingest refused: {name} tip does not descend from the crawl "
                f"checkpoint snapshot {target} — resume the crawl first"
            )
        try:
            snap = tbl.snapshot(sid)
        except FileNotFoundError:
            # a chain snapshot was expired out from under the walk — the
            # state is unverifiable, which gets the same refusal (never an
            # obscure crash in the stream sink)
            raise ValueError(
                f"ingest refused: {name} snapshot {sid} on the tip's parent "
                f"chain is missing (expired?) — cannot verify the tip is "
                "adoptable; run CrawlRunner.resume() first"
            ) from None
        if "ingest_epochs" not in snap["meta"]:
            raise ValueError(
                f"ingest refused: {name} tip (snapshot {sid}) is uncommitted "
                "crash garbage — a crawl round committed table snapshots but "
                "died before its CHECKPOINT swap. An ingest epoch committed "
                "on top would be stranded on the garbage parent chain and "
                "rolled back by CrawlRunner.resume() AFTER the stream "
                "checkpoint recorded it (permanent loss). Run "
                "CrawlRunner.resume() to roll the garbage back, then re-run "
                "the ingest feed."
            )
        sid = snap["parent"]


def _require_bloom_when_crawl_uses_it(frontier: IceTable, bloom) -> None:
    """Hard invariant (not a convention): a Bloom-enabled CrawlRunner relies
    on seen-keys ⊆ bloom — ``filter_new_bucketed`` treats a non-suspect as
    *certainly new* and skips the exact verify. An ingest that appends to
    seen but not to bloom_shards breaks that superset: a later in-crawl
    rediscovery of the ingested URL probes not-in-bloom, re-enqueues it with
    a fresh disc_seq, and the MoR last-wins merge resets its state (possible
    re-fetch) while violating the per-URL key immutability the zone-pruned
    SELECT's exactness proof assumes. Detect the runner's config from its
    checkpoint (frontier lives at <workdir>/frontier) and refuse."""
    if bloom is not None:
        return
    state = _crawl_checkpoint(frontier)
    if state is None:
        return
    if state.get("bloom"):
        raise ValueError(
            "this crawl runs with a Bloom URL-seen filter "
            f"({state['bloom']}) — streaming ingest MUST maintain it: pass "
            "bloom=BloomSeen(**ckpt['bloom']) and bloom_shards="
            "IceTable(<workdir>/bloom_shards) to ingest_batch/"
            "run_ingest_stream, or the seen⊆bloom invariant the crawl's "
            "filter_new_bucketed fast path depends on silently breaks"
        )


def ingest_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    frontier: IceTable,
    seen: IceTable,
    epoch_id: int,
    n_buckets: int,
    salts: int = 1,
    seen_buckets: int = 64,
    max_tokens: int = 8,
    depth: int = 0,
    robots_rules_df: DataFrame | None = None,
    bloom=None,
    bloom_shards: IceTable | None = None,
    bloom_shard_groups: int = 16,
) -> dict[str, Any]:
    """Land one micro-batch of (raw_url, src_seq) rows into the frontier.
    Idempotent per (table, epoch): replays are skipped. Returns counters.

    ``robots_rules_df`` ((host, robots_rules) — e.g. the runner's static
    host_state): when given, ingested URLs pass the SAME R6 enqueue-time
    robots gate the BSP loop applies, landing as state='blocked' instead of
    'queued' — the SELECT stage assumes every queued row already passed
    robots, so feeds into a live crawl MUST provide it.

    ``bloom``/``bloom_shards``/``bloom_shard_groups`` (BloomSeen or
    CuckooSeen + the shard IceTable + the runner's bloom_shard_groups): when
    the composed crawl maintains a probabilistic seen filter, ingest appends
    the new keys' shards under the same epoch tag, preserving the
    seen-keys ⊆ filter invariant filter_new_bucketed's certainly-new fast
    path depends on. Feeding a Bloom-enabled crawl WITHOUT these raises."""
    _require_bloom_when_crawl_uses_it(frontier, bloom)
    _require_tip_adoptable(frontier, "frontier")
    _require_tip_adoptable(seen, "seen")
    if bloom_shards is not None:
        _require_tip_adoptable(bloom_shards, "bloom_shards")
    if (
        _epoch_already_applied(frontier, epoch_id)
        and _epoch_already_applied(seen, epoch_id)
        and (bloom is None or _epoch_already_applied(bloom_shards, epoch_id))
    ):
        return {"epoch": epoch_id, "n_new": 0, "replayed": True}

    canon = (
        batch_df.select("raw_url", "src_seq")
        .withColumn("canon_url", canonicalize_udf("raw_url"))
        .withColumn("url_hash", F.xxhash64("canon_url"))
    )
    # batch-internal first occurrence wins (R2/R4, same rule as seeds)
    dedup = (
        canon.groupBy("url_hash")
        .agg(F.min(F.struct("src_seq", "canon_url")).alias("s"))
        .select("url_hash", "s.src_seq", "s.canon_url")
    )
    new = anti_join_seen(dedup, seen.read(spark))
    next_seq = frontier_disc_hwm(frontier)
    ranked, _, _ = ranked_cut(new, ["src_seq"], "disc_seq", start=next_seq)
    hosts = ranked.withColumn(
        "host", F.lower(F.parse_url("canon_url", F.lit("HOST")))
    )
    if robots_rules_df is not None:
        gated = hosts.withColumn("__path", path_col(F.col("canon_url"))).join(
            F.broadcast(robots_rules_df.select("host", "robots_rules")),
            on="host",
            how="left",
        )
        blocked = blocked_expr("__path", "robots_rules")
    else:
        gated = hosts
        blocked = F.lit(False)
    rows = (
        gated.withColumn("depth", F.lit(depth).cast("int"))
        .withColumn("priority", -F.col("depth").cast("double"))
        .withColumn(
            "state", F.when(blocked, F.lit("blocked")).otherwise(F.lit("queued"))
        )
        .withColumn("round_disc", F.lit(-1))  # discovered out-of-band
        .withColumn(
            "round_done",
            F.when(blocked, F.lit(-1)).otherwise(F.lit(None)).cast("int"),
        )
        .select(*FRONTIER_COLS)
    )
    # one job both materializes the cut and counts it
    rows, n_new = Materializer().counted(rows)

    if not _epoch_already_applied(frontier, epoch_id):
        staged = (
            rows.withColumn("__rev", F.lit(frontier._next_sid()).cast("int"))
            .withColumn("__fb", frontier_bucket_col(n_buckets, salts))
            .repartition(n_buckets * salts, F.col("__fb"))
            .sortWithinPartitions("depth", "disc_seq")
        )
        frontier.append_bucketed_delta(
            staged,
            meta=_epoch_meta(
                frontier, epoch_id, {"next_disc_seq": next_seq + n_new}
            ),
            zone_fn=lambda files: compute_frontier_zones(spark, files, max_tokens),
        )
    # bloom BEFORE seen (module docstring "COMMIT ORDER IS LOAD-BEARING"):
    # the epoch's keys come from anti-joining the CURRENT seen table, so as
    # long as seen commits last, every crash replay recomputes the same key
    # set — and seen ⊆ bloom holds in every window (a crash between the two
    # leaves extra bloom keys: harmless false positives, never corruption)
    if (
        bloom is not None
        and n_new
        and not _epoch_already_applied(bloom_shards, epoch_id)
    ):
        shards = bloom.build(rows.select("url_hash")).withColumn(
            "__fb",
            F.pmod(F.col("bucket"), F.lit(bloom_shard_groups)).cast("int"),
        )
        if bloom_shards.current_snapshot_id() is None:
            # standalone ingest before any crawl round seeded the table
            bloom_shards.overwrite_bucketed(
                shards, n_buckets=bloom_shard_groups,
                meta=_epoch_meta(bloom_shards, epoch_id),
            )
        else:
            bloom_shards.append_bucketed_delta(
                shards, meta=_epoch_meta(bloom_shards, epoch_id)
            )
    if not _epoch_already_applied(seen, epoch_id) and n_new:
        seen.append_bucketed_delta(
            rows.select("url_hash")
            .withColumn(
                "__fb", F.pmod(F.col("url_hash"), F.lit(seen_buckets)).cast("int")
            )
            .repartition(seen_buckets, F.col("__fb")),
            meta=_epoch_meta(seen, epoch_id),
        )
    return {"epoch": epoch_id, "n_new": n_new, "replayed": False}


def run_ingest_stream(
    spark: SparkSession,
    source: DataFrame,
    frontier: IceTable,
    seen: IceTable,
    checkpoint_dir: str,
    n_buckets: int,
    salts: int = 1,
    seen_buckets: int = 64,
    max_tokens: int = 8,
    robots_rules_df: DataFrame | None = None,
    bloom=None,
    bloom_shards: IceTable | None = None,
    bloom_shard_groups: int = 16,
) -> list[dict[str, Any]]:
    """Drain a streaming (raw_url, src_seq) source into the frontier with
    availableNow (process-everything-then-stop). Returns per-epoch counters.

    COMPOSITION CONTRACT: run this BETWEEN BSP rounds. A processingTime
    stream co-executing with a live round is unsupported — the round claims
    its disc_seq block from the published high-water mark at round start and
    publishes the new mark only at its frontier commit, so a mid-round epoch
    would allocate overlapping disc_seqs. The crawl loop enforces this as a
    fail-stop invariant (run_round re-checks the mark before any
    disc_seq-bearing commit and aborts the round, resumable, if it moved)."""
    results: list[dict[str, Any]] = []

    def _sink(batch_df: DataFrame, epoch_id: int) -> None:
        results.append(
            ingest_batch(
                spark, batch_df, frontier, seen, epoch_id,
                n_buckets=n_buckets, salts=salts,
                seen_buckets=seen_buckets, max_tokens=max_tokens,
                robots_rules_df=robots_rules_df,
                bloom=bloom, bloom_shards=bloom_shards,
                bloom_shard_groups=bloom_shard_groups,
            )
        )

    q = (
        source.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return results
