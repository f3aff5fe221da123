"""Multimodal column plumbing: Arrow-batched feature extraction over binary
payloads, frame-sampling plan expansion, stub gating.
"""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from breweries_data_engineering_case_spark.operators.multimodal import (
    ASSET_SCHEMA,
    FEATURE_SCHEMA,
    extract_features,
    frame_sample_plan,
    probe_codecs,
    real_decode,
    synthetic_assets,
    synthetic_real_assets,
)


def test_extract_features_schema_and_values(spark):
    assets = synthetic_assets(spark, n=32)
    feats = extract_features(assets)
    assert feats.schema == FEATURE_SCHEMA
    rows = {r.asset_id: r for r in feats.collect()}
    assert len(rows) == 32
    payload0 = hashlib.md5(b"0").digest() * 4
    assert rows[0].payload_sha256 == hashlib.sha256(payload0).hexdigest()
    assert rows[0].payload_bytes == 64
    assert rows[0].feature_dim == 8
    # deterministic across runs
    again = {r.asset_id: r.feature_head for r in extract_features(assets).collect()}
    assert again == {k: v.feature_head for k, v in rows.items()}


def test_asset_frame_is_a_local_table_scan(spark):
    # built from Arrow, not a pickled row list: no Python worker per scan
    assets = synthetic_assets(spark, n=9)
    assert assets.schema == ASSET_SCHEMA
    assert "PythonRDD" not in assets._jdf.queryExecution().toRdd().toDebugString()
    assert [r.asset_id for r in assets.orderBy("asset_id").collect()] == list(range(9))
    assert assets.where(F.col("media_type") == "image").first().payload == bytearray(
        hashlib.md5(b"0").digest() * 4
    )


def test_real_codec_unsupported_format_fails_loudly(spark):
    """Fake payloads (random bytes, no magic) through the real-codec path
    must fail the task, never silently produce features."""
    assets = synthetic_assets(spark, n=4)
    with pytest.raises(Exception, match="NotImplementedError|no available codec"):
        extract_features(assets, require_real_codec=True).collect()


def test_probe_codecs_baseline():
    avail = probe_codecs()
    assert avail["wav"] and avail["pgm"] and avail["ppm"]
    assert isinstance(avail["pil"], bool) and isinstance(avail["video"], bool)


def test_real_codec_decodes_wav_and_pgm(spark):
    """The real-codec path on real encoded payloads: PGM pixel stats and WAV
    amplitude features must match closed-form expectations."""
    assets = synthetic_real_assets(spark, n=8)
    feats = extract_features(assets, require_real_codec=True)
    assert feats.schema == FEATURE_SCHEMA
    rows = {r.asset_id: r for r in feats.collect()}
    assert len(rows) == 8

    # image 0: P5 gradient, 8x6, values (x+y) % 256 -> mean known exactly
    img0 = rows[0]
    assert img0.feature_dim == 5  # 4 stats + 1 channel mean
    vals = [float(v) for v in img0.feature_head.split(",")]
    px = [((x + y) % 256) / 255.0 for y in range(6) for x in range(8)]
    assert abs(vals[0] - sum(px) / len(px)) < 1e-3  # mean
    assert abs(vals[2] - min(px)) < 1e-3 and abs(vals[3] - max(px)) < 1e-3

    # audio 1: 440 Hz sine at amplitude 3000/32768 -> rms ~ A/sqrt(2)
    aud1 = rows[1]
    assert aud1.feature_dim == 5
    dur, mean_abs, rms, peak, nch = (float(v) for v in aud1.feature_head.split(","))
    amp = 3000 / 32768
    assert abs(dur - 0.05) < 1e-6 and nch == 1.0
    assert abs(rms - amp / 2**0.5) < amp * 0.05
    assert peak <= amp * 1.01 and peak > amp * 0.9


def test_real_decode_direct_roundtrip():
    """real_decode on a hand-built P6 RGB image: per-channel means exact."""
    w, h = 4, 2
    header = f"P6\n{w} {h}\n255\n".encode()
    # channel values: R=10, G=100, B=200 everywhere
    px = bytes([10, 100, 200] * (w * h))
    out = real_decode(header + px, "image")
    assert out["dim"] == 7  # 4 stats + 3 channel means
    vals = [float(v) for v in out["head"].split(",")]
    assert abs(vals[4] - 10 / 255) < 1e-3
    assert abs(vals[5] - 100 / 255) < 1e-3
    assert abs(vals[6] - 200 / 255) < 1e-3


def test_frame_sample_plan(spark):
    assets = synthetic_assets(spark, n=9)
    plan = frame_sample_plan(assets, every_ms=1000)
    got = plan.groupBy("asset_id").agg(F.count(F.lit(1)).alias("frames")).collect()
    expected = {r.asset_id: r.duration_ms // 1000 + 1
                for r in assets.filter("media_type = 'video' and duration_ms > 0").collect()}
    assert {r.asset_id: r.frames for r in got} == expected


def test_resize_images_real_roundtrip(spark):
    """Resized netpbm payloads must decode to the target dims with pixel
    values that are exact nearest-neighbor subsamples of the original."""
    from breweries_data_engineering_case_spark.operators.multimodal import (
        resize_images,
    )

    assets = synthetic_real_assets(spark, n=8)  # evens are P5 images
    out = {r.asset_id: r for r in resize_images(assets, 4, 3).collect()}
    # only the 4 image assets survive
    assert set(out) == {0, 2, 4, 6}
    r0 = out[0]
    assert (r0.width, r0.height) == (4, 3)
    decoded = real_decode(bytes(r0.payload), "image")
    assert decoded["dim"] == 5  # P5: 4 stats + 1 channel mean
    # original image 0: 8x6 gradient ((x+y+0)%256); nearest-neighbor at
    # (y*6//3, x*8//4) = (2y, 2x) -> value (2x+2y)%256
    import numpy as np

    payload = bytes(r0.payload)
    pos = payload.index(b"255\n") + 4
    px = np.frombuffer(payload, dtype=np.uint8, offset=pos).reshape(3, 4)
    for y in range(3):
        for x in range(4):
            assert px[y, x] == (2 * x + 2 * y) % 256
