"""simweb fixture: scalar (oracle) path == vectorized (engine) path; skew."""

from __future__ import annotations

import numpy as np

from paperchase_crawler_spark import simweb
from paperchase_crawler_spark.functions.hashing import xxh64_str
from paperchase_crawler_spark.functions.urlnorm import canon_url, host_of


def _hashes(n=80):
    return np.array(
        [xxh64_str(canon_url(u)) for u in simweb.seed_urls(n)], dtype=np.int64
    )


def test_outlinks_scalar_equals_vectorized():
    import pyarrow as pa

    hs = _hashes()
    off, flat = simweb.outlinks_batch_arrow(hs)
    vec = pa.ListArray.from_arrays(pa.array(off, type=pa.int32()), flat).to_pylist()
    assert vec == [simweb.outlinks_for(int(h)) for h in hs]


def test_images_scalar_equals_vectorized():
    hs = _hashes(40)
    ib = simweb.images_batch(hs)
    for i, h in enumerate(hs):
        im = simweb.image_for(int(h))
        if im is None:
            assert not ib["has_image"][i]
        else:
            assert ib["has_image"][i]
            assert (ib["w"][i], ib["h"][i], ib["fmt"][i]) == (im["w"], im["h"], im["fmt"])
            assert ib["bytes"][i] == im["bytes"]
            assert ib["caption"][i] == im["caption"]
            assert int(ib["phash"][i]) == im["phash"]


def test_zipf_hot_host_skew():
    hs = _hashes(200)
    links = [l for h in hs for l in simweb.outlinks_for(int(h))]
    hosts = [host_of(canon_url(l)) for l in links]
    frac0 = hosts.count("host0.example") / len(hosts)
    assert 0.12 <= frac0 <= 0.30  # FIXTURES.md: host0 ~ 20% of links


def test_politeness_and_robots_shape():
    rows = simweb.host_state_rows()
    assert len(rows) == simweb.HOSTS
    for z in (0, 1, 5, 999):
        r = rows[z]
        assert r["crawl_delay_rounds"] == 1 + z % 3
        assert r["tokens_per_round"] == 2 + z % 4
        assert (len(r["robots_rules"]) > 0) == (z % 5 == 0)


def test_image_fetch_arrow_equals_scalar(spark):
    """fetch_images_map_in_arrow (production hot path) emits, for every input
    row, exactly the scalar oracle's image_for fields — byte-for-byte — and
    no bytes or caption where image_for says there is no image."""
    from pyspark.sql import functions as F

    from paperchase_crawler_spark.functions.spark_udfs import (
        IMAGES_SCHEMA,
        fetch_images_map_in_arrow,
    )

    rows = spark.range(600).select(
        F.concat(F.lit("https://h.example/p/"), F.col("id")).alias("canon_url"),
        F.xxhash64(F.col("id").cast("string")).alias("url_hash"),
    ).repartition(3)
    hashes = {r.canon_url: r.url_hash for r in rows.collect()}
    got = {
        r["image_id"]: r
        for r in rows.mapInArrow(fetch_images_map_in_arrow(True), IMAGES_SCHEMA).collect()
    }
    assert got.keys() == hashes.keys()
    n_images = 0
    for url, h in hashes.items():
        im, r = simweb.image_for(h), got[url]
        if im is None:
            assert r["bytes"] is None and r["caption"] is None
            continue
        n_images += 1
        assert (bytes(r["bytes"]), r["w"], r["h"], r["fmt"], r["caption"], r["phash"]) == (
            im["bytes"], im["w"], im["h"], im["fmt"], im["caption"], im["phash"]
        )
    assert n_images > 0
