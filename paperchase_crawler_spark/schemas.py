"""Fixed, explicit Spark schemas for every engine table (SURVEY.md §1.2).

Schema inference is never used inside the engine: every table the crawl
opens is an IceTable declaring its schema from here (the frontier's adds the
__rev column), so no read pays a footer-inference job. The corpus shape is
pinned verbatim by BASELINE.json input_hint; frontier/host_state/fetch-result
shapes are the engine's own design (SURVEY.md §1.2). Reference provenance: the
reference snapshot is empty (SURVEY.md §0), so there are no file:line
citations — BASELINE.json:14-15 (north_rule, input_hint) is the authority.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# Corpus: image + caption pairs — columns verbatim from BASELINE.json input_hint.
CORPUS = StructType(
    [
        StructField("image_id", StringType(), False),
        StructField("bytes", BinaryType(), False),
        StructField("w", IntegerType(), False),
        StructField("h", IntegerType(), False),
        StructField("fmt", StringType(), False),  # 'ppm' | 'png' | 'qdct'
        StructField("caption", StringType(), False),
        StructField("phash", LongType(), False),
    ]
)

# Frontier: partitioned priority queue of URLs (north_rule: "partitioned
# Iceberg-backed priority frontier").
FRONTIER = StructType(
    [
        StructField("canon_url", StringType(), False),
        StructField("url_hash", LongType(), False),  # xxhash64(canon_url), seed 42
        StructField("host", StringType(), False),
        StructField("depth", IntegerType(), False),
        StructField("disc_seq", LongType(), False),  # global discovery sequence (R4)
        StructField("priority", DoubleType(), False),
        StructField("state", StringType(), False),  # queued|selected|fetched|blocked|failed
        StructField("round_disc", IntegerType(), False),
        StructField("round_done", IntegerType(), True),
    ]
)

# Per-host politeness bucket + robots rules (north_rule: "per-host politeness
# buckets and robots.txt gating"). Robots rules are longest-prefix-match
# (RFC 9309) disallow prefixes; allow-all == empty array.
HOST_STATE = StructType(
    [
        StructField("host", StringType(), False),
        StructField("crawl_delay_rounds", IntegerType(), False),
        StructField("tokens_per_round", IntegerType(), False),
        StructField(
            "robots_rules",
            ArrayType(
                StructType(
                    [
                        StructField("allow", BooleanType(), False),
                        StructField("prefix", StringType(), False),
                    ]
                )
            ),
            False,
        ),
        StructField("last_round", IntegerType(), False),
    ]
)

# Merge-on-read last_round updates: one row per (round, touched host). The
# static HOST_STATE dimension is written once at init; per-round commits
# append only these o(hosts) rows (r2 verdict "What's missing" #2) and the
# merged view takes max(last_round) per host.
HOST_TOUCH = StructType(
    [
        StructField("host", StringType(), False),
        StructField("last_round", IntegerType(), False),
    ]
)

# Transient fetch result, one row per fetched URL (SURVEY.md §1.2).
FETCH_RESULT = StructType(
    [
        StructField("canon_url", StringType(), False),
        StructField("url_hash", LongType(), False),
        StructField("host", StringType(), False),
        StructField("depth", IntegerType(), False),
        StructField("disc_seq", LongType(), False),
        StructField("status", IntegerType(), False),
        StructField("outlinks", ArrayType(StringType()), False),
        StructField("has_image", BooleanType(), False),
        StructField("image_bytes", BinaryType(), True),
        StructField("w", IntegerType(), True),
        StructField("h", IntegerType(), True),
        StructField("fmt", StringType(), True),
        StructField("caption", StringType(), True),
        StructField("phash", LongType(), True),
    ]
)

# URL-seen set, exact representation (bucketed Bloom bitsets live in
# operators/seen.py with schema (bucket:int, bitset:binary)).
URL_SEEN = StructType([StructField("url_hash", LongType(), False)])

BLOOM_SHARD = StructType(
    [
        StructField("bucket", IntegerType(), False),
        StructField("bitset", BinaryType(), False),
        StructField("n_keys", LongType(), False),
    ]
)

# Crawl ordering artifact: the global fetch order the oracle must equal (R3/R5).
ORDERING = StructType(
    [
        StructField("seq", LongType(), False),
        StructField("round", IntegerType(), False),
        StructField("canon_url", StringType(), False),
    ]
)

# Per-(round, partition) lineage + metrics (north_rule: "per-partition lineage
# and fetch/parse metrics"), also embedded in icetable snapshot JSON. Every
# selected row is fetched (robots gating happens at ENQUEUE, so blocked URLs
# never reach the fetch stage); the round-level selected/new/blocked-at-enqueue
# counts live in the crawl_log snapshot meta, not duplicated per partition.
CRAWL_LOG = StructType(
    [
        StructField("round", IntegerType(), False),
        StructField("partition_id", IntegerType(), False),
        StructField("n_fetched", LongType(), False),
        StructField("n_images", LongType(), False),
        StructField("n_outlinks", LongType(), False),
        StructField("bytes_out", LongType(), False),
        StructField("fetch_ms", DoubleType(), False),
    ]
)
