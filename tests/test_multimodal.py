"""Multimodal binary-column plumbing (operators/multimodal.py): the decode
itself is a deterministic stub (no codecs in this container), but the
Spark-side contract — schema, Arrow batch iteration, pruning-friendly
projection, explode-before-decode distribution — is real and pinned here."""

import pytest
from pyspark.sql import functions as F

from lasvdedup_spark.operators.multimodal import (
    MAGIC_TYPES,
    binary_meta,
    decode_media,
    frame_sample_plan,
)


@pytest.fixture(scope="module")
def media(spark):
    rows = []
    for i, (magic, _t) in enumerate(MAGIC_TYPES * 3):
        payload = f"{magic}payload-{i}".encode()
        rows.append((f"u/{i}", payload))
    rows.append(("u/unknown", b"????no-magic"))
    return spark.createDataFrame(rows, "url string, html binary").cache()


def test_binary_meta_sniffs_types(media):
    out = {r["url"]: r for r in binary_meta(media).collect()}
    assert out["u/0"]["content_type"] == "text/html"
    assert out["u/1"]["content_type"] == "image/png"
    assert out["u/2"]["content_type"] == "audio/wav"
    assert out["u/3"]["content_type"] == "video/mp4"
    assert out["u/unknown"]["content_type"] == "application/octet-stream"
    assert out["u/0"]["n_bytes"] == len(b"<htmpayload-0")
    assert out["u/0"]["head_hex"] == b"<htm".hex().upper()


def test_decode_media_schema_and_determinism(media):
    out = decode_media(media)
    assert out.schema.simpleString() == (
        "struct<url:string,content_type:string,n_bytes:bigint,"
        "width:int,height:int,feature0:double,feature1:double>"
    )
    a = sorted(map(tuple, out.collect()))
    b = sorted(map(tuple, decode_media(media.repartition(7)).collect()))
    assert a == b  # partitioning/batching must not change decode output
    by_url = {r[0]: r for r in a}
    assert by_url["u/0"][1] == "text/html"
    w, h = by_url["u/0"][3], by_url["u/0"][4]
    assert 16 <= w < 256 and 16 <= h < 256
    assert 0.0 <= by_url["u/0"][5] <= 1.0


def test_frame_sample_plan(media):
    plan = frame_sample_plan(media, n_frames=4)
    rows = plan.where(F.col("url") == "u/0").orderBy("frame_idx").collect()
    assert [r["frame_idx"] for r in rows] == [0, 1, 2, 3]
    n = rows[0]["n_bytes"]
    assert [r["byte_offset"] for r in rows] == [0, n // 4, n // 2, 3 * n // 4]
    # one row per (doc, frame): explode happens before any decode
    assert plan.count() == media.count() * 4
