"""Streaming URL ingestion → a live crawl's frontier (continuous discovery
feeds).

The crawl loop is batch-BSP by design (round-ordering contract — SURVEY §3.3),
but URL DISCOVERY need not be: sitemap diffs, link logs, or upstream-crawler
feeds arrive continuously. This module lands such a stream into a
``CrawlRunner``'s bucketed merge-on-read frontier using Structured Streaming's
``foreachBatch`` custom-sink pattern:

  readStream(source) → foreachBatch(ingest_batch) → trigger(availableNow)

``ingest_batch`` is a thin epoch-idempotent shell over the runner's own
enqueue path, so an ingested URL lands exactly like an expanded outlink:
canonicalize (vectorized pandas UDF) → xxhash64 → batch-internal
first-occurrence dedup → the runner's not-yet-seen filter (exact anti-join,
or the bucket-pruned Bloom path when the crawl keeps a filter) →
deterministic disc_seq assignment → the runner's frontier rows (host
extraction + R6 robots gate at enqueue) → the runner's bucketed layouts for
frontier, bloom_shards and seen. Every table, layout and filter comes from
the runner; there is nothing to pass that could disagree with it.
EXACTLY-ONCE: every table commit records the epoch id in its snapshot meta
and a replayed epoch (foreachBatch redelivers after crashes) is skipped per
table — so each table applies an epoch at most once, in any crash/replay
interleaving.

COMMIT ORDER IS LOAD-BEARING: frontier → bloom_shards → seen. The epoch's
key set is derived by filtering against the CURRENT seen table, so the
seen commit must come LAST: every earlier crash window replays against a
seen table the epoch has not touched and recomputes the same keys. Putting
bloom before seen also keeps the crawl's hard invariant seen ⊆ bloom true in
EVERY window — a crash between them leaves extra bloom keys (harmless false
positives), never seen keys missing from bloom. (The r4 order seen → bloom
had a corrupting window: crash after the seen commit made the replay's
filter return zero keys, permanently skipping the bloom append.)

disc_seq: the stream source must carry a unique ``src_seq long`` (arrival
order); each epoch's new URLs get contiguous disc_seq from the frontier
snapshot's persisted ``next_disc_seq`` high-water mark, ranked by src_seq —
deterministic and replay-stable, and compatible with the BSP loop's R3/R4
ordering.
"""

from __future__ import annotations

import json
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.spark_udfs import canonicalize_udf
from ..operators.ordering import ranked_cut
from ..plans.crawl import CrawlRunner
from ..sources.icetable import IceTable

# the runner attributes that fix where a row lands in the crawl's tables
_LAYOUT = ("frontier_buckets", "frontier_salts", "seen_buckets", "bloom_shard_groups")


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


def _require_tip_adoptable(state: dict, tbl: IceTable, name: str) -> None:
    """Refuse to commit an ingest epoch on top of CRASH GARBAGE: if the
    table's current tip is post-checkpoint history that is not itself
    ingest-tagged, a crawl round committed but crashed before its CHECKPOINT
    swap. CrawlRunner.resume() will roll that garbage back — and an ingest
    snapshot whose parent chain passes THROUGH garbage is not reachable from
    the checkpoint target, so resume would roll the committed epoch back too,
    after the stream checkpoint already recorded it (permanent loss). The
    adoption contract (resume follows tagged children by parent chain) is
    only sound because this guard stops ingest from ever building on an
    unadoptable tip: run CrawlRunner.resume() first, then re-run the feed.
    ``state`` is the runner's atomic CHECKPOINT."""
    target = state["snapshots"][name]
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


def ingest_batch(
    runner: CrawlRunner, batch_df: DataFrame, epoch_id: int, depth: int = 0
) -> dict[str, Any]:
    """Land one micro-batch of (raw_url, src_seq) rows into ``runner``'s
    frontier at ``depth``. Idempotent per (table, epoch): replays are
    skipped. Returns counters."""
    with open(runner._ckpt_path()) as f:
        state = json.load(f)
    bloom = None if runner.bloom is None else vars(runner.bloom)
    if bloom != state["bloom"] or any(state[k] != getattr(runner, k) for k in _LAYOUT):
        raise ValueError(
            "ingest refused: the runner's table layout differs from its crawl "
            "checkpoint (a stale or hand-built handle) — use "
            "CrawlRunner.resume(spark, workdir)"
        )
    tables = {"frontier": runner.frontier, "seen": runner.seen}
    if runner.bloom is not None:
        tables["bloom_shards"] = runner.bloom_shards
    for name, tbl in tables.items():
        _require_tip_adoptable(state, tbl, name)
    if all(_epoch_already_applied(tbl, epoch_id) for tbl in tables.values()):
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
    try:
        new, _ = runner._unseen(dedup)
        next_seq = runner._frontier_disc_hwm()
        ranked, _, _ = ranked_cut(
            new, ["src_seq"], "disc_seq", start=next_seq, mat=runner.mat
        )
        # discovered out-of-band: round_disc -1 (and round_done -1 when the
        # robots gate blocks the row)
        rows, n_new = runner.mat.counted(
            runner._new_frontier_rows(
                ranked.withColumn("depth", F.lit(depth)), round_disc=-1
            )
        )
        frontier = runner.frontier
        if not _epoch_already_applied(frontier, epoch_id):
            # a direct delta append, never _frontier_append_delta: its
            # compaction commit would put an untagged snapshot on the tip
            frontier.append_bucketed_delta(
                runner._with_layout(rows),
                meta=_epoch_meta(
                    frontier, epoch_id, {"next_disc_seq": next_seq + n_new}
                ),
                zone_fn=runner._zone_fn,
            )
        # bloom BEFORE seen (module docstring "COMMIT ORDER IS LOAD-BEARING")
        shards = runner.bloom_shards
        if (
            runner.bloom is not None
            and n_new
            and not _epoch_already_applied(shards, epoch_id)
        ):
            shards.append_bucketed_delta(
                runner.bloom.build(rows.select("url_hash")).withColumn(
                    "__fb", runner._bloom_group_col()
                ),
                meta=_epoch_meta(shards, epoch_id),
            )
        if n_new and not _epoch_already_applied(runner.seen, epoch_id):
            runner.seen.append_bucketed_delta(
                runner._seen_layout(rows), meta=_epoch_meta(runner.seen, epoch_id)
            )
    finally:
        runner.mat.release()
    return {"epoch": epoch_id, "n_new": n_new, "replayed": False}


def run_ingest_stream(
    runner: CrawlRunner, source: DataFrame, checkpoint_dir: str
) -> list[dict[str, Any]]:
    """Drain a streaming (raw_url, src_seq) source into ``runner``'s frontier
    with availableNow (process-everything-then-stop). Returns per-epoch
    counters.

    COMPOSITION CONTRACT: run this BETWEEN BSP rounds. A processingTime
    stream co-executing with a live round is unsupported — the round claims
    its disc_seq block from the published high-water mark at round start and
    publishes the new mark only at its frontier commit, so a mid-round epoch
    would allocate overlapping disc_seqs. The crawl loop enforces this as a
    fail-stop invariant (run_round re-checks the mark before any
    disc_seq-bearing commit and aborts the round, resumable, if it moved)."""
    results: list[dict[str, Any]] = []

    def _sink(batch_df: DataFrame, epoch_id: int) -> None:
        results.append(ingest_batch(runner, batch_df, epoch_id))

    q = (
        source.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return results
