"""Vectorized UDFs used by the engine (input_hint: no per-row Python).

- ``canonicalize_udf`` — R1 canonicalization, pandas-vectorized common path
  (functions/urlnorm.canon_series).
- ``fetch_outlinks_map_in_arrow`` — pass-1 "network fetch + parse" stage:
  a ``mapInArrow`` iterator over Arrow batches evaluating simweb (the
  deterministic fake web); outlink sub-hashes run through the numpy
  vectorized XXH64.
- ``fetch_images_map_in_arrow`` — pass-2 image synthesis/decode/encode (the
  stand-in for network + codec work), emitted straight into Arrow batches.

Both fetch kernels are pinned row-for-row to simweb's scalar oracle
(``outlinks_for`` / ``image_for``) by the tests.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from .. import simweb
from .urlnorm import canon_series

canonicalize_udf = F.pandas_udf(canon_series, StringType())


OUTLINKS_SCHEMA = (
    "canon_url string, url_hash long, host string, depth int, disc_seq long, "
    "round_disc int, seq long, status int, outlinks array<string>, "
    "has_image boolean, fetch_partition int"
)

IMAGES_SCHEMA = (
    "image_id string, bytes binary, w int, h int, fmt string, caption string, "
    "phash long"
)


def fetch_outlinks_map_in_arrow():
    """Pass-1 fetch, Arrow-native (mapInArrow): the outlink list column is
    assembled as a ``pa.ListArray`` over a flat string array built by
    vectorized pyarrow kernels (simweb.outlinks_batch_arrow) — no pandas
    block manager and NO per-link Python string objects (~1M per 2M-URL
    round)."""
    import numpy as np
    import pyarrow as pa

    from pyspark import TaskContext

    from .hashing import xxh64_u64_vec

    def _fetch(batches):
        pid = TaskContext.get().partitionId() if TaskContext.get() else -1
        for rb in batches:
            if rb.num_rows == 0:
                continue
            cols = {name: rb.column(i) for i, name in enumerate(rb.schema.names)}
            hashes = cols["url_hash"].to_numpy(zero_copy_only=False)
            u = hashes.view(np.uint64)
            with np.errstate(over="ignore"):
                has = (
                    xxh64_u64_vec(u * np.uint64(5)) % np.uint64(10)
                ) < np.uint64(3)
            offsets, flat = simweb.outlinks_batch_arrow(hashes)
            n = rb.num_rows
            yield pa.RecordBatch.from_arrays(
                [
                    cols["canon_url"].cast(pa.string()),
                    cols["url_hash"].cast(pa.int64()),
                    cols["host"].cast(pa.string()),
                    cols["depth"].cast(pa.int32()),
                    cols["disc_seq"].cast(pa.int64()),
                    cols["round_disc"].cast(pa.int32()),
                    cols["seq"].cast(pa.int64()),
                    pa.array(np.full(n, 200, dtype=np.int32)),
                    pa.ListArray.from_arrays(pa.array(offsets, type=pa.int32()), flat),
                    pa.array(has),
                    pa.array(np.full(n, pid, dtype=np.int32)),
                ],
                names=[
                    "canon_url", "url_hash", "host", "depth", "disc_seq",
                    "round_disc", "seq", "status", "outlinks", "has_image",
                    "fetch_partition",
                ],
            )

    return _fetch


def fetch_images_map_in_arrow(with_bytes: bool = True):
    """Pass-2 fetch, Arrow-native (mapInArrow): encoded image buffers go
    straight into a pyarrow RecordBatch — no pandas block manager, no
    per-cell bytes-object round-trip through a DataFrame: for the ~60 KB/row
    binary column a pandas wrapper is pure overhead (SURVEY.md §2.2
    mapInArrow row). Only rows already known to carry an image are fed in;
    the output is corpus-shaped and goes straight to the sink."""
    import pyarrow as pa

    CHUNK = 256  # ~60KB/image ⇒ ~16MB Arrow batches: bounds worker memory
    # and pipelines the python→JVM transfer (a full 8192-row input batch
    # would emit a ~500MB Arrow batch and stall the JVM ingest side)

    def _fetch(batches):
        for rb in batches:
            n = rb.num_rows
            urls = rb.column(rb.schema.get_field_index("canon_url"))
            hashes_all = rb.column(rb.schema.get_field_index("url_hash")).to_numpy(
                zero_copy_only=False
            )
            for lo in range(0, n, CHUNK):
                hi = min(lo + CHUNK, n)
                hashes = hashes_all[lo:hi]
                img = simweb.images_batch(hashes, with_bytes=with_bytes)
                yield pa.RecordBatch.from_arrays(
                    [
                        urls.slice(lo, hi - lo),
                        pa.array(img["bytes"], type=pa.binary()),
                        pa.array(img["w"], type=pa.int32()),
                        pa.array(img["h"], type=pa.int32()),
                        pa.array(img["fmt"], type=pa.string()),
                        pa.array(img["caption"], type=pa.string()),
                        pa.array(img["phash"], type=pa.int64()),
                    ],
                    names=["image_id", "bytes", "w", "h", "fmt", "caption", "phash"],
                )

    return _fetch


