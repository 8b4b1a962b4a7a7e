"""Multimodal (binary-column) operators.

The input table carries ``html:binary`` (BASELINE.json input_hint); a
training-data pipeline additionally carries image/audio/video payloads as
opaque binary columns. This module provides the Spark-side plumbing for
those columns — schema, content sniffing, partitioning, Arrow batch shape —
with the actual media decode STUBBED (no image/audio library is a
dependency): ``decode_media`` computes deterministic fake features derived
from the bytes. Everything around the stub (column pruning, mapInPandas
batch iteration, typed struct output) is real and tested.

Reference analog: the reference treats sequences as opaque payloads written
back out per classification (/root/reference/lasvdedup/utils/io_utils.py:111-144);
here the opaque payload is the media blob and the "classification" is its
sniffed type + extracted metadata.

Scale notes: binary columns dominate row width — every operator here
``select``s the binary column only where required so Parquet/Iceberg column
pruning keeps it out of shuffles (SURVEY §4: never read html in stages that
only need text). ``decode_media`` is mapInPandas: Arrow transfers the binary
batches to the Python worker zero-copy; batch size is bounded by
``spark.sql.execution.arrow.maxRecordsPerBatch`` so a partition of wide rows
never materializes at once.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Printable magic prefixes (cross-engine-safe stand-ins for \x89PNG etc. so
# the DuckDB oracle can build byte-identical blobs from SQL strings).
MAGIC_TYPES = [
    ("<htm", "text/html"),
    ("PNG0", "image/png"),
    ("RIFF", "audio/wav"),
    ("FTYP", "video/mp4"),
]

DECODE_SCHEMA = (
    "url string, content_type string, n_bytes long, "
    "width int, height int, feature0 double, feature1 double"
)


def sniff_type_expr(bin_col: str = "html") -> Column:
    """Magic-byte content sniff, JVM-side: first 4 bytes decide the type."""
    head = F.decode(F.expr(f"substring({bin_col}, 1, 4)"), "UTF-8")
    c = F.when(head == MAGIC_TYPES[0][0], MAGIC_TYPES[0][1])
    for magic, ctype in MAGIC_TYPES[1:]:
        c = c.when(head == magic, ctype)
    return c.otherwise("application/octet-stream")


def binary_meta(pages: DataFrame, bin_col: str = "html", id_col: str = "url") -> DataFrame:
    """Typed metadata over an opaque binary column — pure built-ins, stays
    inside whole-stage codegen: (id, n_bytes, head_hex, content_type)."""
    return pages.select(
        F.col(id_col),
        F.length(F.col(bin_col)).cast("long").alias("n_bytes"),
        F.hex(F.expr(f"substring({bin_col}, 1, 4)")).alias("head_hex"),
        sniff_type_expr(bin_col).alias("content_type"),
    )


def _fake_decode(blob: bytes) -> tuple[int, int, float, float]:
    """Deterministic fake 'decode': dims + features derived purely from the
    bytes. Stands in for PIL/librosa/ffmpeg (absent in this container); the
    REAL decode goes here and nowhere else."""
    import hashlib

    h = hashlib.md5(blob).digest()
    width = 16 + h[0] % 240
    height = 16 + h[1] % 240
    f0 = int.from_bytes(h[2:6], "big") / 2**32
    f1 = int.from_bytes(h[6:10], "big") / 2**32
    return width, height, round(f0, 9), round(f1, 9)


def decode_media(
    pages: DataFrame,
    bin_col: str = "html",
    id_col: str = "url",
) -> DataFrame:
    """mapInPandas decode/feature-extract over a binary column.

    Output: (url, content_type, n_bytes, width, height, feature0, feature1).
    The Python worker receives Arrow record batches (binary column included)
    and yields narrow metadata batches — the blob never leaves the worker.
    Dims and features come from _fake_decode, the single boundary where a
    real image/audio codec would plug in.
    """
    magic_to_type = dict(MAGIC_TYPES)

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            blobs = pdf[bin_col]
            heads = blobs.map(lambda b: bytes(b[:4]).decode("utf-8", "replace"))
            dims = blobs.map(_fake_decode)
            yield pd.DataFrame(
                {
                    "url": pdf[id_col],
                    "content_type": heads.map(
                        lambda h: magic_to_type.get(h, "application/octet-stream")
                    ),
                    "n_bytes": blobs.map(len).astype("int64"),
                    "width": dims.map(lambda d: d[0]).astype("int32"),
                    "height": dims.map(lambda d: d[1]).astype("int32"),
                    "feature0": dims.map(lambda d: d[2]),
                    "feature1": dims.map(lambda d: d[3]),
                }
            )

    return pages.select(F.col(id_col), F.col(bin_col)).mapInPandas(
        decode, schema=DECODE_SCHEMA
    )


def frame_sample_plan(
    pages: DataFrame, n_frames: int, bin_col: str = "html", id_col: str = "url"
) -> DataFrame:
    """Frame-sampling plumbing for video blobs: one output row per sampled
    frame index with a deterministic byte-offset plan. The actual frame
    decode is the same stub boundary as decode_media; the *distribution
    shape* (explode to frame granularity BEFORE the heavy decode, so frames
    of one video spread across tasks) is the part that matters at scale."""
    return (
        pages.select(
            F.col(id_col),
            F.length(F.col(bin_col)).cast("long").alias("n_bytes"),
        )
        .withColumn("frame_idx", F.explode(F.sequence(F.lit(0), F.lit(n_frames - 1))))
        .withColumn(
            "byte_offset",
            (F.col("frame_idx") * F.col("n_bytes") / F.lit(n_frames)).cast("long"),
        )
    )
