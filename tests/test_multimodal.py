"""Multimodal binary-column plumbing over a real engine corpus table."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from paperchase_crawler_spark import simweb
from paperchase_crawler_spark.codecs import decode_image
from paperchase_crawler_spark.functions.hashing import xxh64_str
from paperchase_crawler_spark.operators.multimodal import image_features, resize_images
from paperchase_crawler_spark.schemas import CORPUS


@pytest.fixture(scope="module")
def corpus(spark):
    rows = []
    for url in simweb.seed_urls(60):
        h = xxh64_str(url)
        im = simweb.image_for(h)
        if im is None:
            continue
        rows.append(
            (url, im["bytes"], im["w"], im["h"], im["fmt"], im["caption"], im["phash"])
        )
    assert len(rows) >= 10
    return spark.createDataFrame(rows, CORPUS).repartition(4)


def test_image_features(spark, corpus):
    feats = image_features(corpus)
    got = {r.image_id: r for r in feats.collect()}
    assert len(got) == corpus.count()
    # recomputed phash must equal the stored one for lossless fmts
    for row in corpus.collect():
        f = got[row.image_id]
        assert (f.w, f.h) == (row.w, row.h)
        if row.fmt in ("ppm", "png"):
            assert f.phash == row.phash
        assert 0 <= f.mean_r <= 255 and f.std_gray > 0


def test_resize(spark, corpus):
    small = resize_images(corpus, 16, 16)
    for r in small.collect():
        rgb = decode_image(bytes(r.bytes), r.fmt)
        assert rgb.shape == (16, 16, 3)

