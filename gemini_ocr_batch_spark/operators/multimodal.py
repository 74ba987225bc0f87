"""Multimodal column plumbing: image/audio/video as opaque binary columns
with typed metadata.

No image decode runs (no imaging library is a dependency): the
dimensions are digest-derived stand-ins. Everything Spark-side is real
and tested: schema, Arrow batch shape, partitioning and the mapInPandas
signature.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

ASSET_META_SCHEMA = (
    "asset_id long, byte_size long, content_md5 string, magic string, "
    "guessed_kind string, fake_width int, fake_height int"
)

_MAGIC = [
    (b"\xff\xd8\xff", "jpeg"),
    (b"\x89PNG", "png"),
    (b"GIF8", "gif"),
    (b"RIFF", "riff-av"),
    (b"%PDF", "pdf"),
    (b"\x1aE\xdf\xa3", "mkv"),
]


def _sniff(blob: bytes) -> str:
    for magic, kind in _MAGIC:
        if blob[: len(magic)] == magic:
            return kind
    return "unknown"


def _asset_meta_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in it:
        sizes, md5s, magics, kinds, ws, hs = [], [], [], [], [], []
        for blob in pdf["asset"]:
            b = bytes(blob) if blob is not None else b""
            sizes.append(len(b))
            digest = hashlib.md5(b).hexdigest()
            md5s.append(digest)
            magics.append(b[:4].hex())
            kinds.append(_sniff(b))
            # deterministic fake decode: "dimensions" derived from the
            # digest — stand-ins for a real decoder's width/height
            ws.append(int(digest[:4], 16) % 1920 + 1)
            hs.append(int(digest[4:8], 16) % 1080 + 1)
        yield pd.DataFrame(
            {
                "asset_id": pdf["asset_id"],
                "byte_size": pd.Series(sizes, dtype="int64"),
                "content_md5": md5s,
                "magic": magics,
                "guessed_kind": kinds,
                "fake_width": pd.Series(ws, dtype="int32"),
                "fake_height": pd.Series(hs, dtype="int32"),
            }
        )


def asset_metadata(assets: DataFrame, id_col: str = "asset_id",
                   blob_col: str = "asset") -> DataFrame:
    """(asset_id, asset binary) → typed metadata row per asset.

    Real plumbing: column-prune to (id, blob), Arrow-batched, bounded
    batches (session conf caps records/batch so giant blobs can't blow the
    worker). Same salting pattern as extract.py applies upstream when
    blobs are heavy-tailed.
    """
    slim = assets.select(
        F.col(id_col).alias("asset_id"), F.col(blob_col).alias("asset")
    )
    return slim.mapInPandas(_asset_meta_batches, ASSET_META_SCHEMA)
