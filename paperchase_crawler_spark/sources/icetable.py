"""icetable — snapshot-log Parquet tables with Iceberg's semantics contract.

The north_rule demands an "Iceberg-backed priority frontier ... resumable from
Iceberg snapshot checkpoints with per-partition lineage and fetch/parse
metrics" (BASELINE.json:14). This sandbox has no iceberg-spark-runtime jar, no
pyiceberg, and no network (SURVEY.md §0.1), so this module provides the
*semantics* Iceberg gives us, in ~200 lines, with the same call shapes:

- layout: ``table/data/s<id>-<uuid>/part-*.parquet`` (one dir per commit) +
  ``table/metadata/snap-<id>.json`` + ``table/metadata/VERSION`` (the atomic
  current-snapshot pointer, written last via ``os.replace``).
- snapshot JSON records the **file list** (readers never directory-list),
  parent id, operation, per-file row counts (per-partition lineage), and an
  arbitrary ``meta`` dict (fetch/parse metrics, crawl counters).
- ops: ``append(df)``, ``overwrite(df)``, ``read(spark, snapshot_id=None)``
  (time travel), ``snapshot_ids()``, ``rollback(id)``.

Swapping in real Iceberg is localized: replace append/overwrite with
``df.writeTo(tbl).append()`` / ``.overwritePartitions()`` and read with
``spark.table(tbl)`` + ``VERSION AS OF``; the crawl loop only touches this
interface.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import uuid
from typing import Any

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# reads of more paths than this session setting list them in a Spark job
_LISTING_THRESHOLD = "spark.sql.sources.parallelPartitionDiscovery.threshold"
_LISTING_LOCK = threading.Lock()


def _row_counts(files: list[str]) -> dict[str, int]:
    """Per-file parquet row counts from the footers. Threaded: a commit's
    footer loop ran serially on the driver (pyarrow releases the GIL), and
    bucketed commits touch up to n_buckets files — the loop was a visible
    slice of every crawl round's commit wall."""
    if len(files) <= 2:
        return {f: pq.ParquetFile(f).metadata.num_rows for f in files}
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(min(16, len(files))) as pool:
        counts = pool.map(lambda f: pq.ParquetFile(f).metadata.num_rows, files)
        return dict(zip(files, counts))


def stage_tasks(spark: SparkSession, units: int) -> int:
    """The one sizing rule for a per-round stage over a table: one task per
    unit of work (a bucket, a file, or a batch of fetched URLs), capped at
    the session's ``spark.sql.shuffle.partitions``. A Python task costs a
    fixed ~0.2 s per wave of slots whatever its data, so a small round's
    stage should be as wide as the slots, not as the table's layout."""
    return max(1, min(units, int(spark.conf.get("spark.sql.shuffle.partitions"))))


class IceTable:
    # a bucketed snapshot inherits untouched buckets' (manifest pointer +
    # summary) from its parent BY REFERENCE, so a delta commit's snap json
    # is O(touched buckets); every ROLLUP_EVERY-th commit materializes the
    # full per-bucket map so resolution never walks more than this many
    # snapshots (and retention only has to pin that much extra history)
    ROLLUP_EVERY = 16

    def __init__(self, path: str, schema: StructType | None = None):
        self.path = path
        # the written data schema (bucketed tables: without the __fb
        # partition column); None ⇒ reads infer it from the file footers
        self.schema = schema
        self.data_dir = os.path.join(path, "data")
        self.meta_dir = os.path.join(path, "metadata")
        self.manifest_dir = os.path.join(self.meta_dir, "manifests")
        os.makedirs(self.data_dir, exist_ok=True)
        os.makedirs(self.meta_dir, exist_ok=True)
        # manifest files are immutable once written (named by snapshot id,
        # ids never reused) — cache parses for the life of this handle;
        # same for resolved bucket maps (keyed by snapshot id)
        self._manifest_cache: dict[str, dict] = {}
        self._resolved_cache: dict[int, dict] = {}

    # -- metadata ------------------------------------------------------------

    def _version_file(self) -> str:
        return os.path.join(self.meta_dir, "VERSION")

    def current_snapshot_id(self) -> int | None:
        try:
            with open(self._version_file()) as f:
                return int(f.read().strip())
        except FileNotFoundError:
            return None

    def snapshot(self, snapshot_id: int | None = None) -> dict[str, Any] | None:
        sid = snapshot_id if snapshot_id is not None else self.current_snapshot_id()
        if sid is None:
            return None
        with open(os.path.join(self.meta_dir, f"snap-{sid}.json")) as f:
            return json.load(f)

    def snapshot_ids(self) -> list[int]:
        out = []
        for name in os.listdir(self.meta_dir):
            if name.startswith("snap-") and name.endswith(".json"):
                out.append(int(name[5:-5]))
        return sorted(out)

    # -- commits -------------------------------------------------------------

    def _next_sid(self) -> int:
        """Snapshot ids are NEVER reused (Iceberg semantics): after a rollback
        the next commit takes max(existing)+1, so rolled-back-over snapshots
        stay valid time-travel history instead of being silently overwritten."""
        ids = self.snapshot_ids()
        return (ids[-1] + 1) if ids else 0

    def _write_data(self, df: DataFrame, sid: int) -> tuple[list[str], dict[str, int]]:
        sub = os.path.join(self.data_dir, f"s{sid}-{uuid.uuid4().hex[:8]}")
        df.write.mode("errorifexists").parquet(sub)
        files = sorted(
            os.path.join(sub, f)
            for f in os.listdir(sub)
            if f.endswith(".parquet")
        )
        counts = _row_counts(files)
        self.last_commit_bytes = sum(os.path.getsize(f) for f in files)
        return files, counts

    def _commit(
        self,
        op: str,
        files: list[str],
        counts: dict[str, int],
        meta: dict[str, Any] | None,
        total_rows: int | None = None,
    ) -> int:
        parent = self.current_snapshot_id()
        sid = self._next_sid()
        snap = {
            "id": sid,
            "parent": parent,
            "op": op,
            "files": files,
            "row_counts": counts,
            "total_rows": sum(counts.values()) if total_rows is None else total_rows,
            "meta": meta or {},
        }
        snap_path = os.path.join(self.meta_dir, f"snap-{sid}.json")
        tmp = snap_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(snap, f)
        os.replace(tmp, snap_path)
        self.last_snap_bytes = os.path.getsize(snap_path)
        vtmp = self._version_file() + ".tmp"
        with open(vtmp, "w") as f:
            f.write(str(sid))
        os.replace(vtmp, self._version_file())  # atomic pointer swap, LAST
        return sid

    def _reject_plain_op_on_bucketed(self, op: str) -> None:
        """A plain append/overwrite on a manifest-bucketed table would
        commit a snapshot WITHOUT buckets metadata — readers of bucket_plan/
        summaries would start raising and the MoR merge contract silently
        breaks. Bucketed tables must use the bucketed ops."""
        snap = self.snapshot()
        if snap and "buckets" in snap["meta"]:
            raise ValueError(
                f"icetable {self.path}: plain {op}() on a bucketed table — "
                "use append_bucketed_delta / overwrite_bucketed / "
                "overwrite_buckets_partial"
            )

    def append(self, df: DataFrame, meta: dict[str, Any] | None = None) -> int:
        self._reject_plain_op_on_bucketed("append")
        parent = self.snapshot()
        files, counts = self._write_data(df, self._next_sid())
        if parent:
            files = parent["files"] + files
            counts = {**parent["row_counts"], **counts}
        return self._commit("append", files, counts, meta)

    def overwrite(self, df: DataFrame, meta: dict[str, Any] | None = None) -> int:
        self._reject_plain_op_on_bucketed("overwrite")
        files, counts = self._write_data(df, self._next_sid())
        return self._commit("overwrite", files, counts, meta)

    # -- bucketed / merge-on-read commits --------------------------------------
    #
    # Iceberg-v2-style layout for the frontier (north_rule: "partitioned
    # Iceberg-backed priority frontier" at 10^10 rows): data is hash-bucketed
    # by a stable key (pmod(xxhash64(host), NB) so politeness sees every row
    # of a host in ONE bucket), the base is written once, and each round
    # APPENDS per-bucket delta files carrying full replacement rows tagged
    # with a monotone __rev column (the snapshot id). Readers merge
    # last-wins per key WITHIN each bucket — a narrow, shuffle-free plan —
    # and compaction folds a bucket's deltas back into its base once the
    # bucket holds too many files.
    # This replaces the full-table overwrite per round: a round commits
    # O(changed rows), not O(frontier).
    #
    # METADATA is manifest-sharded, mirroring Iceberg's manifest-file /
    # manifest-list split (the r3 verdict's last design-point scale term was
    # the single snap-N.json carrying EVERY file + row count + zone dict):
    #
    # - one immutable ``metadata/manifests/m-<sid>-<bucket>.json`` per
    #   TOUCHED bucket per commit holds that bucket's file lists, per-file
    #   row counts, and per-file zone-map stats; untouched buckets keep
    #   their parent's manifest BY REFERENCE (never rewritten, never read);
    # - snap-N.json's meta["buckets"] holds only the manifest POINTER per
    #   bucket plus a small per-bucket SUMMARY (row/file counts and the
    #   aggregated queued-depth histograms) — O(buckets), independent of how
    #   many data files history has accumulated;
    # - planners prune on the snap-level summaries alone and open only the
    #   chosen buckets' manifests (operators/frontier_select pruned SELECT,
    #   operators/seen bucket-pruned verify).
    #
    # So a delta commit writes O(touched buckets) manifest bytes + an
    # O(buckets) snapshot, and pruned planning reads O(buckets) summaries +
    # O(scanned buckets) manifests — never O(total files). With real Iceberg
    # the same shapes come from manifest files + the manifest list, and the
    # summaries are the partition-level column stats the list carries.
    #
    # ``zone_fn`` (optional on every bucketed commit) computes per-file ZONE
    # MAP stats for the files just written — with real Iceberg these are the
    # manifest column stats writers emit for free; the shim recomputes them in
    # one narrow pass over the new files only.

    def _write_bucketed(self, df: DataFrame, sid: int) -> tuple[dict[str, list[str]], dict[str, int]]:
        """df must carry an int ``__fb`` bucket column; one file per bucket.
        Row groups are capped small (1 MB vs the 128 MB default) so sorted
        buckets give zone-pruned readers row-group-granular predicate
        pushdown; on a real cluster the default is fine — 128 MB over a
        sorted multi-GB bucket is already selective."""
        sub = os.path.join(self.data_dir, f"s{sid}-{uuid.uuid4().hex[:8]}")
        df.write.mode("errorifexists").option(
            "parquet.block.size", str(1 << 20)
        ).partitionBy("__fb").parquet(sub)
        buckets: dict[str, list[str]] = {}
        total_bytes = 0
        for d in sorted(os.listdir(sub)):
            if not d.startswith("__fb="):
                continue
            b = d.split("=", 1)[1]
            files = sorted(
                os.path.join(sub, d, f)
                for f in os.listdir(os.path.join(sub, d))
                if f.endswith(".parquet")
            )
            buckets[b] = files
            total_bytes += sum(os.path.getsize(f) for f in files)
        counts = _row_counts([f for fs in buckets.values() for f in fs])
        self.last_commit_bytes = total_bytes
        return buckets, counts

    # -- manifest plumbing -----------------------------------------------------

    def _read_manifest(self, rel: str) -> dict:
        if rel not in self._manifest_cache:
            with open(os.path.join(self.meta_dir, rel)) as f:
                self._manifest_cache[rel] = json.load(f)
        return self._manifest_cache[rel]

    @staticmethod
    def _summarize(entry: dict) -> dict:
        """Per-bucket summary carried in the snapshot (the manifest-list
        row): row/file counts always; when EVERY file in the bucket has zone
        stats, the queued-depth histograms the pruning planner needs
        (``zoned`` False ⇒ planners must treat the bucket as unknown and
        fall back to scanning it).

        The histograms describe the MERGED view, not the sum of the files.
        Every ``fetched`` row in a DELTA file replaces exactly one queued
        version of the same URL, at the same depth, in an earlier file of
        the bucket: fetched is terminal, a URL never changes bucket, and new
        and ingested rows are never fetched. So each delta file's
        ``fetched_hist`` is subtracted, which makes ``depth_hist`` and
        ``n_queued`` equal the compacted bucket's. ``sel_hist`` (capped per
        host) can only err low, i.e. towards a deeper τ. A base file's
        fetched rows replace nothing: compaction already dropped their
        queued versions."""
        counts = entry["row_counts"]
        base_rows = sum(counts[f] for f in entry["base"])
        delta_rows = sum(counts[f] for f in entry["delta"])
        files = entry["base"] + entry["delta"]
        s = {
            "rows": base_rows + delta_rows,
            "base_rows": base_rows,
            "delta_rows": delta_rows,
            "n_base_files": len(entry["base"]),
            "n_delta_files": len(entry["delta"]),
        }
        zones = entry.get("zones", {})
        if not all(f in zones and "sel_hist" in zones[f] for f in files):
            s["zoned"] = False
            return s
        depth_hist: dict[str, int] = {}
        sel_hist: dict[str, int] = {}

        def add(hist: dict, by_depth: dict, sign: int) -> None:
            for d, n in by_depth.items():
                hist[str(d)] = hist.get(str(d), 0) + sign * n

        for f in files:
            add(depth_hist, zones[f]["depth_hist"], 1)
            add(sel_hist, zones[f]["sel_hist"], 1)
        # zones written before fetched_hist existed lack it: they overcount
        # like every summary did then, which the planner tolerates
        for f in entry["delta"]:
            add(depth_hist, zones[f].get("fetched_hist", {}), -1)
            add(sel_hist, zones[f].get("fetched_hist", {}), -1)
        depth_hist = {d: n for d, n in depth_hist.items() if n > 0}
        s.update(
            {
                "zoned": True,
                "n_queued": sum(depth_hist.values()),
                "depth_hist": depth_hist,
                "sel_hist": {d: n for d, n in sel_hist.items() if n > 0},
            }
        )
        return s

    def _commit_bucketed(
        self,
        op: str,
        n_buckets: int,
        touched: dict[str, dict],
        meta: dict[str, Any] | None,
        inherit: bool,
    ) -> int:
        """Write one manifest per TOUCHED bucket; inherit every other
        bucket's manifest pointer AND summary from the parent BY CHAIN
        REFERENCE (``inherit``), or start fresh (full overwrite). The
        snapshot carries only the touched buckets' pointer+summary entries
        plus a ``prev`` pointer — O(touched), not O(buckets) (the r4 format
        rewrote every bucket's summary into every snap json; fine at 10³
        buckets, ~3.5 MB/commit at 10⁵). Every ROLLUP_EVERY-th commit
        materializes the full map (prev=None) so chain resolution — and the
        history retention must pin — stays bounded."""
        parent = self.snapshot()
        sid = self._next_sid()
        os.makedirs(self.manifest_dir, exist_ok=True)
        manifest_bytes = 0
        delta: dict[str, dict] = {}
        for b, entry in touched.items():
            rel = os.path.join("manifests", f"m-{sid}-{b}.json")
            full = os.path.join(self.meta_dir, rel)
            tmp = full + ".tmp"
            with open(tmp, "w") as f:
                json.dump(entry, f)
            os.replace(tmp, full)
            manifest_bytes += os.path.getsize(full)
            self._manifest_cache[rel] = entry
            delta[b] = {"manifest": rel, "summary": self._summarize(entry)}
        self.last_manifest_bytes = manifest_bytes
        self.last_touched_buckets = len(touched)
        if inherit:
            if parent is None or "buckets" not in parent["meta"]:
                raise ValueError(f"icetable {self.path}: no bucketed base")
            bk = self._inherit_bk(parent, delta, n_buckets)
        else:
            bk = {"n": n_buckets, "delta": delta, "prev": None, "depth": 0}
        meta = dict(meta or {})
        meta["buckets"] = bk
        resolved = self._resolve_bk(bk)
        self._resolved_cache[sid] = resolved
        total = sum(s["rows"] for s in resolved["summary"].values())
        return self._commit(op, [], {}, meta, total_rows=total)

    def _inherit_bk(
        self, parent: dict, delta: dict[str, dict], n_buckets: int
    ) -> dict:
        """Build the buckets meta for a commit inheriting from ``parent``:
        a chain delta normally, a full rollup every ROLLUP_EVERY commits."""
        pbk = parent["meta"]["buckets"]
        pdepth = int(pbk.get("depth", 0))
        if pdepth + 1 < self.ROLLUP_EVERY:
            return {
                "n": n_buckets,
                "delta": delta,
                "prev": parent["id"],
                "depth": pdepth + 1,
            }
        resolved = self._resolve_bk(pbk, parent["id"])
        full = {
            b: {"manifest": resolved["manifests"][b], "summary": resolved["summary"][b]}
            for b in resolved["manifests"]
        }
        full.update(delta)
        return {"n": n_buckets, "delta": full, "prev": None, "depth": 0}

    def _resolve_bk(self, bk: dict, sid: int | None = None) -> dict:
        """Resolve a buckets meta dict (either format) to the full
        {"n", "manifests": {b: rel}, "summary": {b: {...}}} map, walking the
        ``prev`` chain for delta snapshots. Cached by snapshot id —
        snapshots are immutable."""
        if sid is not None and sid in self._resolved_cache:
            return self._resolved_cache[sid]
        if "manifests" in bk:  # r4 full-format snapshot (or rolled up)
            out = {
                "n": bk["n"],
                "manifests": dict(bk["manifests"]),
                "summary": dict(bk["summary"]),
            }
        elif bk["prev"] is None:
            out = {
                "n": bk["n"],
                "manifests": {b: e["manifest"] for b, e in bk["delta"].items()},
                "summary": {b: e["summary"] for b, e in bk["delta"].items()},
            }
        else:
            parent = self.snapshot(bk["prev"])
            base = self._resolve_bk(parent["meta"]["buckets"], bk["prev"])
            manifests = dict(base["manifests"])
            summary = dict(base["summary"])
            for b, e in bk["delta"].items():
                manifests[b] = e["manifest"]
                summary[b] = e["summary"]
            out = {"n": bk["n"], "manifests": manifests, "summary": summary}
        if sid is not None:
            self._resolved_cache[sid] = out
        return out

    @staticmethod
    def _entry(
        files: list[str],
        delta: list[str],
        counts: dict[str, int],
        zones: dict[str, dict],
    ) -> dict:
        all_files = files + delta
        return {
            "base": files,
            "delta": delta,
            "row_counts": {f: counts[f] for f in all_files},
            "zones": {f: zones[f] for f in all_files if f in zones},
        }

    # -- bucketed ops ----------------------------------------------------------

    def overwrite_bucketed(
        self,
        df: DataFrame,
        n_buckets: int,
        meta: dict[str, Any] | None = None,
        zone_fn=None,
    ) -> int:
        buckets, counts = self._write_bucketed(df, self._next_sid())
        files = [f for fs in buckets.values() for f in fs]
        zones = zone_fn(files) if zone_fn else {}
        touched = {
            b: self._entry(fs, [], counts, zones) for b, fs in buckets.items()
        }
        return self._commit_bucketed("overwrite", n_buckets, touched, meta, inherit=False)

    def append_bucketed_delta(
        self, df: DataFrame, meta: dict[str, Any] | None = None, zone_fn=None
    ) -> int:
        parent = self.snapshot()
        if parent is None or "buckets" not in parent["meta"]:
            raise ValueError("append_bucketed_delta requires a bucketed base")
        pbk = parent["meta"]["buckets"]
        presolved = self._resolve_bk(pbk, parent["id"])
        new_buckets, new_counts = self._write_bucketed(df, self._next_sid())
        new_files = [f for fs in new_buckets.values() for f in fs]
        zones_new = zone_fn(new_files) if zone_fn else {}
        touched: dict[str, dict] = {}
        for b, fs in new_buckets.items():
            if b in presolved["manifests"]:
                pe = self._read_manifest(presolved["manifests"][b])
                touched[b] = {
                    "base": list(pe["base"]),
                    "delta": pe["delta"] + fs,
                    "row_counts": {
                        **pe["row_counts"],
                        **{f: new_counts[f] for f in fs},
                    },
                    "zones": {
                        **pe.get("zones", {}),
                        **{f: zones_new[f] for f in fs if f in zones_new},
                    },
                }
            else:
                touched[b] = self._entry([], fs, new_counts, zones_new)
        return self._commit_bucketed("append", pbk["n"], touched, meta, inherit=True)

    def overwrite_buckets_partial(
        self,
        df: DataFrame,
        buckets: list[str],
        meta: dict[str, Any] | None = None,
        zone_fn=None,
    ) -> int:
        """Rewrite ONLY ``buckets``: their base becomes the files written from
        ``df`` (which must contain exactly those buckets' rows, ``__fb``
        tagged) and their deltas clear; every other bucket keeps its manifest
        untouched (by reference — neither read nor rewritten). This is what
        makes compaction o(table) in data AND metadata."""
        parent = self.snapshot()
        if parent is None or "buckets" not in parent["meta"]:
            raise ValueError("overwrite_buckets_partial requires a bucketed base")
        pbk = parent["meta"]["buckets"]
        new_buckets, new_counts = self._write_bucketed(df, self._next_sid())
        unknown = set(new_buckets) - set(buckets)
        if unknown:
            raise ValueError(f"df contains rows outside target buckets: {unknown}")
        zones_new = zone_fn([f for fs in new_buckets.values() for f in fs]) if zone_fn else {}
        touched = {
            b: self._entry(new_buckets.get(b, []), [], new_counts, zones_new)
            for b in buckets
        }
        return self._commit_bucketed("replace", pbk["n"], touched, meta, inherit=True)

    # -- bucketed reads --------------------------------------------------------

    def _buckets_meta(self, snapshot_id: int | None = None) -> dict:
        snap = self.snapshot(snapshot_id)
        if snap is None or "buckets" not in snap["meta"]:
            raise ValueError(f"icetable {self.path}: not a bucketed table")
        return snap["meta"]["buckets"]

    def _resolved_at(self, snapshot_id: int | None = None) -> dict:
        sid = snapshot_id if snapshot_id is not None else self.current_snapshot_id()
        return self._resolve_bk(self._buckets_meta(snapshot_id), sid)

    def bucket_plan(
        self,
        snapshot_id: int | None = None,
        buckets: list[str] | None = None,
    ) -> dict[str, dict[str, list[str]]]:
        """bucket → {"base": [files], "delta": [files in commit order]}.
        ``buckets`` scopes the read: only those buckets' manifests are
        opened — the pruned-SELECT / suspect-verify paths never touch cold
        buckets' metadata (None opens all, for full scans/compaction)."""
        bk = self._resolved_at(snapshot_id)
        sel = (
            bk["manifests"]
            if buckets is None
            else {b: bk["manifests"][b] for b in buckets if b in bk["manifests"]}
        )
        out: dict[str, dict[str, list[str]]] = {}
        for b, rel in sel.items():
            e = self._read_manifest(rel)
            out[b] = {"base": list(e["base"]), "delta": list(e["delta"])}
        return out

    def bucket_summaries(self, snapshot_id: int | None = None) -> dict[str, dict]:
        """Per-bucket summary rows from the snapshot chain alone (no
        manifest IO): row/file counts + aggregated queued-depth histograms
        (see _summarize). This is what planners prune on."""
        return self._resolved_at(snapshot_id)["summary"]

    def files_at(self, snapshot_id: int | None = None) -> list[str]:
        """Every data file of a snapshot (manifest-assembled for bucketed
        tables, inline for plain ones)."""
        snap = self.snapshot(snapshot_id)
        if snap is None:
            return []
        if "buckets" in snap["meta"]:
            bk = self._resolve_bk(snap["meta"]["buckets"], snap["id"])
            out: list[str] = []
            for rel in bk["manifests"].values():
                e = self._read_manifest(rel)
                out.extend(e["base"])
                out.extend(e["delta"])
            return out
        return snap["files"]

    def commit_empty(self, meta: dict[str, Any] | None = None) -> int:
        """Metadata-only commit (carries counters without rewriting data).
        On a bucketed table the parent's manifest pointers + summaries carry
        forward by chain reference (an empty delta)."""
        parent = self.snapshot()
        files = parent["files"] if parent else []
        counts = parent["row_counts"] if parent else {}
        meta = dict(meta or {})
        if parent and "buckets" in parent["meta"] and "buckets" not in meta:
            meta["buckets"] = self._inherit_bk(
                parent, {}, parent["meta"]["buckets"]["n"]
            )
        total = parent["total_rows"] if parent else None
        return self._commit("meta", files, counts, meta, total_rows=total)

    # -- reads ---------------------------------------------------------------

    def read(self, spark: SparkSession, snapshot_id: int | None = None) -> DataFrame:
        files = self.files_at(snapshot_id)
        if not files:
            raise ValueError(f"icetable {self.path}: no data at snapshot {snapshot_id}")
        return self.read_files(spark, files)

    def read_files(self, spark: SparkSession, files: list[str]) -> DataFrame:
        """``files`` of this table, read with its declared schema when it has
        one — inferring it costs a footer-reading Spark job per read.

        The snapshot already names every file, so the read must not list
        them either: Spark lists a read's paths in a Spark job of one task
        per path once they exceed the session's
        ``parallelPartitionDiscovery.threshold`` (a per-read option does not
        reach it). The threshold is raised to the path count, never lowered,
        and under a lock, so no read of the concurrent commit chains sees it
        drop below its own path count while Spark lists its paths.

        The scan is sized by ``stage_tasks`` over the files (a narrow
        coalesce, a no-op when Spark splits them into fewer tasks): Spark
        packs small files ~4 MB apart, so a table whose bucket files pile up
        between compactions would otherwise widen its read every round."""
        reader = spark.read if self.schema is None else spark.read.schema(self.schema)
        with _LISTING_LOCK:
            if int(spark.conf.get(_LISTING_THRESHOLD)) < len(files):
                spark.conf.set(_LISTING_THRESHOLD, str(len(files)))
            df = reader.parquet(*files)
        return df.coalesce(stage_tasks(spark, len(files)))

    def rollback(self, snapshot_id: int | None) -> None:
        """Point VERSION back at ``snapshot_id``. ``None`` rolls back to the
        never-committed state (needed when a crash happened during a table's
        FIRST-ever commit: the checkpoint recorded no snapshot to return to).
        Later snapshots remain on disk as history; new commits take fresh ids."""
        if snapshot_id is None:
            try:
                os.remove(self._version_file())
            except FileNotFoundError:
                pass
            return
        if snapshot_id not in self.snapshot_ids():
            raise ValueError(f"unknown snapshot {snapshot_id}")
        vtmp = self._version_file() + ".tmp"
        with open(vtmp, "w") as f:
            f.write(str(snapshot_id))
        os.replace(vtmp, self._version_file())

    def expire_snapshots(self, keep_last: int = 10) -> int:
        """Iceberg-style retention: drop all but the newest ``keep_last``
        snapshot JSONs (never the current one), then vacuum data dirs no
        surviving snapshot references. Bounds metadata AND data growth for
        long crawls — without it every frontier delta/compaction generation
        stays pinned forever. Returns the number of snapshots removed."""
        ids = self.snapshot_ids()
        current = self.current_snapshot_id()
        keep = set(ids[-keep_last:])
        if current is not None:
            keep.add(current)
        # a surviving DELTA snapshot resolves its bucket map through its
        # ``prev`` chain; rather than pinning expired ancestors (which would
        # pin their DATA generations too), rewrite any kept snapshot whose
        # chain escapes the keep set into self-contained form — same id,
        # byte-different but SEMANTICALLY identical metadata (resolution is
        # deterministic), the same move as Iceberg's rewrite-manifests
        # maintenance. Retention then behaves exactly as in the full-format
        # days: keep_last bounds snapshots, orphan vacuum reclaims the rest.
        for sid in list(keep):
            snap = self.snapshot(sid)
            bk = snap["meta"].get("buckets")
            if not bk or "manifests" in bk or bk.get("prev") is None:
                continue
            cur, escapes = bk["prev"], False
            while cur is not None:
                if cur not in keep:
                    escapes = True
                    break
                nbk = self.snapshot(cur)["meta"].get("buckets")
                if not nbk or "manifests" in nbk or nbk.get("prev") is None:
                    break
                cur = nbk["prev"]
            if not escapes:
                continue
            resolved = self._resolve_bk(bk, sid)
            snap["meta"]["buckets"] = {
                "n": bk["n"],
                "delta": {
                    b: {
                        "manifest": resolved["manifests"][b],
                        "summary": resolved["summary"][b],
                    }
                    for b in resolved["manifests"]
                },
                "prev": None,
                "depth": 0,
            }
            path = os.path.join(self.meta_dir, f"snap-{sid}.json")
            tmp = path + ".tmp"
            with open(tmp, "w") as f:
                json.dump(snap, f)
            os.replace(tmp, path)
        removed = 0
        for sid in ids:
            if sid not in keep:
                os.remove(os.path.join(self.meta_dir, f"snap-{sid}.json"))
                removed += 1
        if removed:
            self.expire_orphans()
        return removed

    def expire_orphans(self) -> int:
        """Remove data dirs not referenced by any snapshot (vacuum), and
        manifest files no surviving snapshot points at.

        Bucketed commits nest files one level deeper (``s<id>-<uuid>/
        __fb=<b>/part-*``), so a top-level dir is referenced if any snapshot
        file lives anywhere UNDER it — not only directly inside it."""
        referenced: set[str] = set()
        live_manifests: set[str] = set()
        for sid in self.snapshot_ids():
            snap = self.snapshot(sid)
            if "buckets" in snap["meta"]:
                live_manifests.update(
                    self._resolve_bk(snap["meta"]["buckets"], sid)[
                        "manifests"
                    ].values()
                )
            for f in self.files_at(sid):
                d = os.path.dirname(f)
                while len(d) > len(self.data_dir):
                    referenced.add(d)
                    d = os.path.dirname(d)
        removed = 0
        for sub in os.listdir(self.data_dir):
            full = os.path.join(self.data_dir, sub)
            if full not in referenced:
                shutil.rmtree(full)
                removed += 1
        if os.path.isdir(self.manifest_dir):
            live_names = {os.path.basename(rel) for rel in live_manifests}
            for name in os.listdir(self.manifest_dir):
                if name.endswith(".json") and name not in live_names:
                    os.remove(os.path.join(self.manifest_dir, name))
        return removed
