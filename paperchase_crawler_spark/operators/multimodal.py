"""Multimodal (image-as-binary) column operators.

Treats media as opaque ``binary`` columns with typed metadata, processed via
Arrow-batched ``mapInPandas`` (never per-row Python UDFs). The image path is
REAL end-to-end against the engine's own corpus tables (our pure-numpy
ppm/png/qdct codecs). No audio/video decode: this sandbox ships no media
libraries (SURVEY.md §0.1).

Scale notes: media bytes never enter a shuffle — decode stages are
narrow (mapInPandas on the scan), and reductions emit fixed-size features
before any groupBy. Tune spark.sql.execution.arrow.maxRecordsPerBatch down
(≈2-8k) so a batch of large images stays within worker memory.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..codecs import decode_image, encode_image, phash64

IMAGE_FEATURES_SCHEMA = (
    "image_id string, w int, h int, fmt string, n_bytes long, "
    "mean_r double, mean_g double, mean_b double, std_gray double, phash long"
)

RESIZE_SCHEMA = "image_id string, bytes binary, w int, h int, fmt string"


def image_features(corpus: DataFrame) -> DataFrame:
    """Decode each image and emit fixed-size features (channel means, gray
    std, recomputed phash). Input needs (image_id, bytes, fmt)."""

    def _feat(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for image_id, data, fmt in zip(pdf["image_id"], pdf["bytes"], pdf["fmt"]):
                rgb = decode_image(bytes(data), fmt)
                gray = rgb.astype(np.float64).mean(axis=2)
                rows.append(
                    {
                        "image_id": image_id,
                        "w": rgb.shape[1],
                        "h": rgb.shape[0],
                        "fmt": fmt,
                        "n_bytes": len(data),
                        "mean_r": float(rgb[..., 0].mean()),
                        "mean_g": float(rgb[..., 1].mean()),
                        "mean_b": float(rgb[..., 2].mean()),
                        "std_gray": float(gray.std()),
                        "phash": phash64(rgb),
                    }
                )
            yield pd.DataFrame(rows)

    return corpus.select("image_id", "bytes", "fmt").mapInPandas(
        _feat, IMAGE_FEATURES_SCHEMA
    )


def resize_images(corpus: DataFrame, out_w: int, out_h: int) -> DataFrame:
    """Nearest-grid resize inside mapInPandas; re-encodes in the source fmt."""

    def _resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for image_id, data, fmt in zip(pdf["image_id"], pdf["bytes"], pdf["fmt"]):
                rgb = decode_image(bytes(data), fmt)
                yi = (np.arange(out_h) * rgb.shape[0]) // out_h
                xi = (np.arange(out_w) * rgb.shape[1]) // out_w
                small = rgb[np.ix_(yi, xi)]
                rows.append(
                    {
                        "image_id": image_id,
                        "bytes": encode_image(small, fmt),
                        "w": out_w,
                        "h": out_h,
                        "fmt": fmt,
                    }
                )
            yield pd.DataFrame(rows)

    return corpus.select("image_id", "bytes", "fmt").mapInPandas(_resize, RESIZE_SCHEMA)

