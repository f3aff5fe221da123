"""Multimodal column operators — opaque binary payloads + typed metadata.

For a 100 TB training-data pipeline, images/audio/video ride through Spark as
``binary`` columns with a metadata struct; decode / feature-extract / resize /
frame-sample run as Arrow-batched pandas functions over ``mapInPandas`` so
the heavy per-item work happens C-side in vectorized batches, never row-at-a-
time Python.

Codec availability is PROBED, not assumed (``probe_codecs``): WAV-PCM audio
and netpbm (PGM/PPM) images decode for real via stdlib ``wave`` + numpy;
PIL/ffmpeg-backed formats activate automatically when those libraries exist.
``require_real_codec=True`` routes through ``real_decode``, which raises
``NotImplementedError`` only for formats with no available codec (e.g. video
without ffmpeg). The default (fake) path stays deterministic for the driver
check. Everything Spark-visible — schema contracts, batch shapes, partition
sizing, UDF signatures — is identical across the two paths.
"""

from __future__ import annotations

import hashlib
import importlib.util
import io
import wave
from collections.abc import Iterator
from typing import Any

import numpy as np
import pandas as pd
import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

#: Contract for a multimodal asset row.
ASSET_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), nullable=False),
        StructField("media_type", StringType(), nullable=False),  # image|audio|video
        StructField("payload", BinaryType(), nullable=True),
        StructField("width", IntegerType(), nullable=True),
        StructField("height", IntegerType(), nullable=True),
        StructField("duration_ms", LongType(), nullable=True),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), nullable=False),
        StructField("media_type", StringType(), nullable=False),
        StructField("payload_sha256", StringType(), nullable=False),
        StructField("payload_bytes", LongType(), nullable=False),
        StructField("feature_dim", IntegerType(), nullable=False),
        StructField("feature_head", StringType(), nullable=False),
    ]
)


def fake_decode(payload: bytes, media_type: str) -> dict[str, Any]:
    """Deterministic stand-in for a real codec: derives a tiny 'feature
    vector' from the payload digest. Replace with PIL/torchaudio/ffmpeg in a
    real deployment — the Spark plumbing does not change."""
    digest = hashlib.sha256(payload or b"").digest()
    feats = [b / 255.0 for b in digest[:8]]
    return {"dim": len(feats), "head": ",".join(f"{x:.4f}" for x in feats)}


def probe_codecs() -> dict[str, bool]:
    """Which real codecs this environment can run. stdlib wave + numpy make
    WAV and netpbm unconditional; PIL and ffmpeg are optional upgrades
    detected without importing them at module load."""
    return {
        "wav": True,
        "pgm": True,
        "ppm": True,
        "pil": importlib.util.find_spec("PIL") is not None,
        "video": importlib.util.find_spec("ffmpeg") is not None,
    }


def _decode_netpbm(payload: bytes) -> dict[str, Any]:
    """Minimal real decoder for binary netpbm: P5 (grayscale) / P6 (RGB).
    Header = magic, whitespace-separated width/height/maxval (with optional
    '#' comments), one whitespace byte, then raw samples."""
    fields: list[int] = []
    pos = 2  # past magic
    while len(fields) < 3:
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if payload[pos : pos + 1] == b"#":
            pos = payload.index(b"\n", pos) + 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        fields.append(int(payload[start:pos]))
    pos += 1  # the single whitespace after maxval
    width, height, maxval = fields
    channels = 3 if payload[:2] == b"P6" else 1
    px = np.frombuffer(payload, dtype=np.uint8, count=width * height * channels, offset=pos)
    px = px.reshape(height, width, channels).astype(np.float64) / maxval
    stats = [float(px.mean()), float(px.std()), float(px.min()), float(px.max())]
    return {
        "dim": 4 + channels,
        "head": ",".join(
            f"{x:.4f}" for x in stats + [float(px[..., c].mean()) for c in range(channels)]
        ),
    }


def _decode_wav(payload: bytes) -> dict[str, Any]:
    """Real WAV-PCM decode via stdlib wave: parse RIFF header, read frames,
    compute amplitude features over the int samples."""
    with wave.open(io.BytesIO(payload), "rb") as w:
        nch, width, rate, nframes = (
            w.getnchannels(),
            w.getsampwidth(),
            w.getframerate(),
            w.getnframes(),
        )
        raw = w.readframes(nframes)
    dtype = {1: np.uint8, 2: np.int16, 4: np.int32}.get(width)
    if dtype is None:
        raise NotImplementedError(f"unsupported WAV sample width: {width}")
    x = np.frombuffer(raw, dtype=dtype).astype(np.float64)
    if width == 1:
        x -= 128.0
    scale = float(2 ** (8 * width - 1))
    x /= scale
    feats = [
        nframes / rate if rate else 0.0,  # duration s
        float(np.abs(x).mean()) if x.size else 0.0,
        float(np.sqrt((x**2).mean())) if x.size else 0.0,  # rms
        float(np.abs(x).max()) if x.size else 0.0,  # peak
        float(nch),
    ]
    return {"dim": len(feats), "head": ",".join(f"{v:.4f}" for v in feats)}


def real_decode(payload: bytes, media_type: str) -> dict[str, Any]:
    """Dispatch to a REAL codec by payload magic + media_type; raises
    ``NotImplementedError`` when no codec for the format is available in
    this environment (probe first with ``probe_codecs``)."""
    p = payload or b""
    if p[:2] in (b"P5", b"P6"):
        return _decode_netpbm(p)
    if p[:4] == b"RIFF" and p[8:12] == b"WAVE":
        return _decode_wav(p)
    if media_type == "image" and probe_codecs()["pil"]:
        from PIL import Image  # pragma: no cover - not in this container

        img = np.asarray(Image.open(io.BytesIO(p)).convert("RGB")) / 255.0
        return {
            "dim": 4,
            "head": ",".join(
                f"{x:.4f}" for x in (img.mean(), img.std(), img.min(), img.max())
            ),
        }
    raise NotImplementedError(
        f"no available codec for media_type={media_type!r} "
        f"payload_magic={p[:4]!r}; available: {probe_codecs()}"
    )


def extract_features(assets: DataFrame, require_real_codec: bool = False) -> DataFrame:
    """Decode + feature-extract each asset via Arrow-batched mapInPandas.

    One map pass, no shuffle; each task processes pandas batches of
    ``spark.sql.execution.arrow.maxRecordsPerBatch`` rows. Binary payloads
    dominate partition size — keep input files sized so a partition's
    payloads fit executor memory (maxPartitionBytes governs this for the
    scan; asset tables should store payloads ≤ a few MB or hold pointers).

    ``require_real_codec=True`` selects ``real_decode`` (WAV / netpbm, plus
    PIL formats when installed); unsupported formats then fail the task with
    ``NotImplementedError`` rather than silently producing fake features.
    """
    decode = real_decode if require_real_codec else fake_decode

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                "asset_id": pdf["asset_id"],
                "media_type": pdf["media_type"],
                "payload_sha256": [
                    hashlib.sha256(p or b"").hexdigest() for p in pdf["payload"]
                ],
                "payload_bytes": [len(p or b"") for p in pdf["payload"]],
            }
            decoded = [
                decode(p, m) for p, m in zip(pdf["payload"], pdf["media_type"])
            ]
            out["feature_dim"] = [d["dim"] for d in decoded]
            out["feature_head"] = [d["head"] for d in decoded]
            yield pd.DataFrame(out)

    return assets.mapInPandas(process, schema=FEATURE_SCHEMA)


def _asset_frame(spark, rows: list[tuple]) -> DataFrame:
    """``ASSET_SCHEMA`` rows as a ``LocalTableScan`` built from an Arrow
    table; a Python list would give ``Scan ExistingRDD`` over a ``PythonRDD``,
    whose every scan runs Python workers."""
    arrow_schema = to_arrow_schema(ASSET_SCHEMA)
    columns = [
        pa.array(col, field.type) for col, field in zip(zip(*rows), arrow_schema)
    ]
    return spark.createDataFrame(
        pa.Table.from_arrays(columns, schema=arrow_schema), ASSET_SCHEMA
    )


def synthetic_assets(spark, n: int = 64) -> DataFrame:
    """Deterministic fake asset table for tests/demos (payload = seeded
    bytes; metadata plausible)."""
    rows = []
    for i in range(n):
        payload = hashlib.md5(str(i).encode()).digest() * 4  # 64 bytes
        mt = ("image", "audio", "video")[i % 3]
        rows.append(
            (
                i,
                mt,
                bytearray(payload),
                64 + i if mt == "image" else None,
                48 + i if mt == "image" else None,
                1000 * i if mt != "image" else None,
            )
        )
    return _asset_frame(spark, rows)


def synthetic_real_assets(spark, n: int = 32) -> DataFrame:
    """Asset table whose payloads are REAL encoded media: binary PGM images
    (deterministic gradient) and 16-bit mono WAV sine bursts — decodable by
    ``real_decode`` with no optional dependencies."""
    rows = []
    for i in range(n):
        if i % 2 == 0:
            w, h = 8 + (i % 4), 6
            header = f"P5\n{w} {h}\n255\n".encode()
            px = bytes(((x + y + i) % 256) for y in range(h) for x in range(w))
            rows.append((i, "image", bytearray(header + px), w, h, None))
        else:
            rate, dur_s = 8000, 0.05
            nfr = int(rate * dur_s)
            t = np.arange(nfr) / rate
            samples = np.round(3000 * np.sin(2 * np.pi * 440 * t + i)).astype("<i2")
            buf = io.BytesIO()
            with wave.open(buf, "wb") as wv:
                wv.setnchannels(1)
                wv.setsampwidth(2)
                wv.setframerate(rate)
                wv.writeframes(samples.tobytes())
            rows.append(
                (i, "audio", bytearray(buf.getvalue()), None, None, int(dur_s * 1000))
            )
    return _asset_frame(spark, rows)


def synthetic_near_dup_images(spark, n: int = 48) -> DataFrame:
    """PGM asset table with PLANTED near-duplicates: every group of 3
    consecutive ids shares a 16×12 base gradient (seeded by the group id);
    variants 1 and 2 invert a handful of pixels, so within-group dHashes
    differ by a few bits while cross-group hashes are far apart."""
    w, h = 16, 12
    rows = []
    for i in range(n):
        g, v = divmod(i, 3)
        px = bytearray(((x * 3 + y * 5 + g * 17) % 256) for y in range(h) for x in range(w))
        for k in range(2 * v):
            pos = (g * 7 + k * 13) % (w * h)
            px[pos] = (px[pos] + 128) % 256
        header = f"P5\n{w} {h}\n255\n".encode()
        rows.append((i, "image", bytearray(header + bytes(px)), w, h, None))
    return _asset_frame(spark, rows)


DHASH_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), nullable=False),
        StructField("dhash", LongType(), nullable=False),
    ]
)


def dhash56(gray: "np.ndarray") -> int:
    """56-bit difference hash of a grayscale image: nearest-neighbor sample
    onto an 8×8 grid, compare horizontally adjacent cells (7 bits × 8
    rows). Pure integer ops — bit-identical anywhere."""
    h, w = gray.shape
    grid = [
        [int(gray[y * h // 8, x * w // 8]) for x in range(8)] for y in range(8)
    ]
    out = 0
    for y in range(8):
        for x in range(7):
            if grid[y][x + 1] > grid[y][x]:
                out |= 1 << (y * 7 + x)
    return out


def image_dhash(assets: DataFrame) -> DataFrame:
    """Perceptual dHash per image asset — the image-dedup fingerprint, as
    an Arrow-batched mapInPandas stage (decode + hash happen C-side per
    batch). Non-image or undecodable payloads are dropped (loudly distinct
    from hash=0)."""

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, hashes = [], []
            # column-zip, not iterrows: the decode is inherently per-row but
            # iterrows constructs a pandas Series per row on top of it
            for aid, mt, payload in zip(
                pdf["asset_id"], pdf["media_type"], pdf["payload"]
            ):
                p = bytes(payload) if payload is not None else b""
                if mt != "image" or p[:2] != b"P5":
                    continue
                # P5 header: magic, width, height, maxval, one whitespace
                parts = p.split(maxsplit=3)
                w, h = int(parts[1]), int(parts[2])
                raw = parts[3].split(b"\n", 1)[1] if b"\n" in parts[3] else parts[3]
                gray = np.frombuffer(raw, dtype=np.uint8, count=w * h).reshape(h, w)
                ids.append(int(aid))
                hashes.append(dhash56(gray))
            yield pd.DataFrame({"asset_id": ids, "dhash": hashes})

    return assets.mapInPandas(process, DHASH_SCHEMA)


def dhash_near_dup_pairs(hashes: DataFrame, max_hamming: int = 7) -> DataFrame:
    """Banded Hamming near-dup join over 56-bit dHashes: 8 bands × 7 bits.
    By pigeonhole, any pair within ``max_hamming`` ≤ 7 bit flips leaves at
    least one band untouched — recall is exactly 1 (the simhash argument);
    candidates verify with one xor+bit_count. Never all-pairs: the
    self-join runs on (band_idx, band_val) buckets."""
    bands = hashes.select(
        "asset_id",
        "dhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("band_idx"),
                        F.shiftright(F.col("dhash"), 7 * j)
                        .bitwiseAND(F.lit(0x7F))
                        .alias("band_val"),
                    )
                    for j in range(8)
                ]
            )
        ).alias("b"),
    ).select("asset_id", "dhash", "b.band_idx", "b.band_val")
    l, r = bands.alias("l"), bands.alias("r")
    cand = (
        l.join(
            r,
            on=[
                F.col("l.band_idx") == F.col("r.band_idx"),
                F.col("l.band_val") == F.col("r.band_val"),
                F.col("l.asset_id") < F.col("r.asset_id"),
            ],
        )
        .select(
            F.col("l.asset_id").alias("id_a"),
            F.col("r.asset_id").alias("id_b"),
            F.col("l.dhash").alias("ha"),
            F.col("r.dhash").alias("hb"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return cand.select(
        "id_a",
        "id_b",
        F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))).alias("hamming"),
    ).filter(F.col("hamming") <= max_hamming)


def synthetic_audio_set(spark, n: int = 36) -> DataFrame:
    """WAV asset table with PLANTED duplicate groups: every group of 3
    consecutive ids shares a tone frequency (300 + 40·g Hz); variants
    differ only in phase and amplitude, which the spectral fingerprint is
    invariant to — so within-group fingerprints collide and cross-group
    ones don't."""
    rows = []
    rate, nfr = 8000, 8192
    for i in range(n):
        g, v = divmod(i, 3)
        freq = 300 + 40 * g
        t = np.arange(nfr) / rate
        amp = 2000 + 300 * v
        samples = np.round(
            amp * np.sin(2 * np.pi * freq * t + 0.7 * v)
        ).astype("<i2")
        buf = io.BytesIO()
        with wave.open(buf, "wb") as wv:
            wv.setnchannels(1)
            wv.setsampwidth(2)
            wv.setframerate(rate)
            wv.writeframes(samples.tobytes())
        rows.append(
            (i, "audio", bytearray(buf.getvalue()), None, None, nfr * 1000 // rate)
        )
    return _asset_frame(spark, rows)


FINGERPRINT_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), nullable=False),
        StructField("fingerprint", LongType(), nullable=False),
    ]
)


def audio_peak_fingerprint(samples: "np.ndarray") -> int:
    """Spectral fingerprint: dominant FFT bin (DC excluded) per 1024-sample
    frame, rolled into one integer (6 frames x 10-bit bins stay under 2^60,
    inside int64). Invariant to amplitude scaling and (for a steady tone)
    phase; pure argmax over |rfft| — deterministic."""
    frame = 1024
    fp = 0
    for f in range(6):
        seg = samples[f * frame : (f + 1) * frame]
        if len(seg) < frame:
            break
        mag = np.abs(np.fft.rfft(seg.astype(np.float64)))
        peak = int(np.argmax(mag[1:])) + 1
        fp = fp * 1024 + peak
    return fp


def audio_fingerprint(assets: DataFrame) -> DataFrame:
    """Per-asset audio fingerprint as an Arrow-batched mapInPandas stage:
    stdlib-wave decode + per-frame FFT peak sequence. Non-audio or
    non-WAV payloads are dropped."""

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, fps = [], []
            for aid, mt, payload in zip(
                pdf["asset_id"], pdf["media_type"], pdf["payload"]
            ):
                p = bytes(payload) if payload is not None else b""
                if mt != "audio" or p[:4] != b"RIFF":
                    continue
                try:
                    with wave.open(io.BytesIO(p), "rb") as wv:
                        raw = wv.readframes(wv.getnframes())
                    samples = np.frombuffer(raw, dtype="<i2")
                except (wave.Error, EOFError, ValueError):
                    # truncated/malformed RIFF: drop the row like the other
                    # malformed-payload branches, don't fail the task
                    continue
                ids.append(int(aid))
                fps.append(audio_peak_fingerprint(samples))
            yield pd.DataFrame({"asset_id": ids, "fingerprint": fps})

    return assets.mapInPandas(process, FINGERPRINT_SCHEMA)


def fingerprint_dup_pairs(fps: DataFrame) -> DataFrame:
    """Exact-fingerprint duplicate pairs via bucket self-join (the exact-
    dedup shape: group on the fingerprint, emit within-bucket pairs —
    never all-pairs)."""
    l, r = fps.alias("l"), fps.alias("r")
    return (
        l.join(
            r,
            on=[
                F.col("l.fingerprint") == F.col("r.fingerprint"),
                F.col("l.asset_id") < F.col("r.asset_id"),
            ],
        )
        .select(
            F.col("l.asset_id").alias("id_a"),
            F.col("r.asset_id").alias("id_b"),
            F.col("l.fingerprint").alias("fingerprint"),
        )
    )


RESIZED_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), nullable=False),
        StructField("width", IntegerType(), nullable=False),
        StructField("height", IntegerType(), nullable=False),
        StructField("payload", BinaryType(), nullable=False),
    ]
)


def resize_images(
    assets: DataFrame, target_w: int = 8, target_h: int = 8
) -> DataFrame:
    """REAL image resize (nearest-neighbor) for netpbm payloads, as an
    Arrow-batched mapInPandas kernel — the standard thumbnail/normalize
    step before vision feature extraction. Non-image rows and undecodable
    payloads are dropped (curation semantics: resize what you can prove is
    an image). Index math is pure numpy per batch; re-encoded output is
    valid P5/P6 with updated dimensions."""

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {
                "asset_id": [],
                "width": [],
                "height": [],
                "payload": [],
            }
            for aid, mt, payload in zip(
                pdf["asset_id"], pdf["media_type"], pdf["payload"]
            ):
                p = bytes(payload or b"")
                if mt != "image" or p[:2] not in (b"P5", b"P6"):
                    continue
                channels = 3 if p[:2] == b"P6" else 1
                # reuse the strict header parser via real_decode's sibling
                fields: list[int] = []
                pos = 2
                while len(fields) < 3:
                    while pos < len(p) and p[pos : pos + 1].isspace():
                        pos += 1
                    if p[pos : pos + 1] == b"#":
                        pos = p.index(b"\n", pos) + 1
                        continue
                    start = pos
                    while pos < len(p) and not p[pos : pos + 1].isspace():
                        pos += 1
                    fields.append(int(p[start:pos]))
                pos += 1
                w, h, maxval = fields
                px = np.frombuffer(
                    p, dtype=np.uint8, count=w * h * channels, offset=pos
                ).reshape(h, w, channels)
                ys = (np.arange(target_h) * h // target_h).astype(np.int64)
                xs = (np.arange(target_w) * w // target_w).astype(np.int64)
                small = px[ys][:, xs]
                header = (
                    f"{'P6' if channels == 3 else 'P5'}\n"
                    f"{target_w} {target_h}\n{maxval}\n"
                ).encode()
                out["asset_id"].append(aid)
                out["width"].append(target_w)
                out["height"].append(target_h)
                out["payload"].append(header + small.tobytes())
            yield pd.DataFrame(out)

    return assets.mapInPandas(process, schema=RESIZED_SCHEMA)


def frame_sample_plan(assets: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Expand each video asset into a frame-sampling work list (one row per
    frame timestamp) — pure JVM expressions (sequence+explode), so the
    expensive decode fan-out is planned by Catalyst, not driver loops."""
    videos = assets.filter(F.col("media_type") == "video").filter(
        F.col("duration_ms").isNotNull() & (F.col("duration_ms") > 0)
    )
    return videos.select(
        "asset_id",
        F.explode(
            F.sequence(F.lit(0).cast("long"), F.col("duration_ms"), F.lit(every_ms).cast("long"))
        ).alias("frame_ts_ms"),
    )


# ---------------------------------------------------------------------------
# pHash: DCT-based perceptual hash (integer fixed point)
# ---------------------------------------------------------------------------

#: fixed-point DCT-II basis, C[u][x] = round(1024 * cos((2x+1)*u*pi/64)) for a
#: 32-point transform — integer so the 2-D DCT (C @ P @ C^T) is EXACT and the
#: hash is bit-identical across hosts/engines (the only float ever touched is
#: math.cos at table-build time, far from any rounding boundary)
def _dct32_matrix() -> list[list[int]]:
    import math

    return [
        [round(1024 * math.cos((2 * x + 1) * u * math.pi / 64)) for x in range(32)]
        for u in range(32)
    ]


def phash63(gray: "np.ndarray") -> int:
    """63-bit perceptual hash: nearest-neighbor sample onto 32×32, exact
    integer 2-D DCT-II (1024-scaled basis), keep the low-frequency 8×8
    block minus the DC term, set bit i where coefficient > the lower
    median of the 63 kept coefficients. Pure Python ints end-to-end — no
    float in the transform, so the hash is deterministic everywhere."""
    h, w = gray.shape
    p = [[int(gray[y * h // 32, x * w // 32]) for x in range(32)] for y in range(32)]
    c = _dct32_matrix()
    # rows: t = C @ P^T is (u, y); then d = C @ t^T gives (v, u) — index
    # carefully instead: d[u][v] = sum_x sum_y C[u][x] * C[v][y] * p[y][x]
    t = [[sum(c[u][x] * p[y][x] for x in range(32)) for y in range(32)] for u in range(32)]
    d = [[sum(c[v][y] * t[u][y] for y in range(32)) for v in range(8)] for u in range(8)]
    coeffs = [d[u][v] for u in range(8) for v in range(8)][1:]  # drop DC
    med = sorted(coeffs)[31]  # lower median of 63
    out = 0
    for i, val in enumerate(coeffs):
        if val > med:
            out |= 1 << i
    return out


PHASH_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), nullable=False),
        StructField("phash", LongType(), nullable=False),
    ]
)


def image_phash(assets: DataFrame) -> DataFrame:
    """DCT perceptual hash per image asset (the pHash sibling of
    image_dhash — robust to global brightness/contrast shifts dHash's
    local comparisons miss), as an Arrow-batched mapInPandas stage.
    Non-image or undecodable payloads are dropped."""

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, hashes = [], []
            for aid, mt, payload in zip(
                pdf["asset_id"], pdf["media_type"], pdf["payload"]
            ):
                p = bytes(payload) if payload is not None else b""
                if mt != "image" or p[:2] != b"P5":
                    continue
                parts = p.split(maxsplit=3)
                w, h = int(parts[1]), int(parts[2])
                raw = parts[3].split(b"\n", 1)[1] if b"\n" in parts[3] else parts[3]
                gray = np.frombuffer(raw, dtype=np.uint8, count=w * h).reshape(h, w)
                ids.append(int(aid))
                hashes.append(phash63(gray))
            yield pd.DataFrame({"asset_id": ids, "phash": hashes})

    return assets.mapInPandas(process, PHASH_SCHEMA)


def banded_hamming_pairs(
    hashes: DataFrame,
    hash_col: str,
    n_bands: int,
    band_bits: int,
    max_hamming: int,
) -> DataFrame:
    """Generalized banded Hamming near-dup join (the dhash_near_dup_pairs
    shape, parameterized): pigeonhole guarantees recall 1 whenever
    ``max_hamming < n_bands`` — at most max_hamming flips cannot touch all
    bands. Self-join on skinny (band_idx, band_val) buckets, xor+bit_count
    verify, never all-pairs."""
    mask = (1 << band_bits) - 1
    bands = hashes.select(
        "asset_id",
        F.col(hash_col).alias("__h"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("band_idx"),
                        F.shiftright(F.col(hash_col), band_bits * j)
                        .bitwiseAND(F.lit(mask))
                        .alias("band_val"),
                    )
                    for j in range(n_bands)
                ]
            )
        ).alias("b"),
    ).select("asset_id", "__h", "b.band_idx", "b.band_val")
    l, r = bands.alias("l"), bands.alias("r")
    cand = (
        l.join(
            r,
            on=[
                F.col("l.band_idx") == F.col("r.band_idx"),
                F.col("l.band_val") == F.col("r.band_val"),
                F.col("l.asset_id") < F.col("r.asset_id"),
            ],
        )
        .select(
            F.col("l.asset_id").alias("id_a"),
            F.col("r.asset_id").alias("id_b"),
            F.col("l.__h").alias("ha"),
            F.col("r.__h").alias("hb"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return cand.select(
        "id_a",
        "id_b",
        F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))).alias("hamming"),
    ).filter(F.col("hamming") <= max_hamming)


def synthetic_textured_images(spark, n: int = 48) -> DataFrame:
    """PGM asset table with planted near-duplicates for the pHash pipeline.
    Unlike synthetic_near_dup_images' linear gradients (whose DCT is
    pathologically sparse — every AC coefficient ~0, so a perceptual hash
    degenerates), these are QUADRATIC textures: every group of 3
    consecutive ids shares a base texture (seeded by group id); variants
    add a uniform +8v brightness shift (which pHash is invariant to — it
    moves only the dropped DC term; the base stays ≤ 199 so no clipping)
    plus v single-pixel tweaks (which move a few low-frequency
    coefficients slightly). Measured: within-group Hamming ≤ 4,
    cross-group ≥ 10."""
    w, h = 16, 12
    rows = []
    for i in range(n):
        g, v = divmod(i, 3)
        px = [
            (37 * x * x + 23 * y * y + 11 * ((g % 5) + 1) * x * y + 53 * g + 7 * g * x) % 200
            for y in range(h)
            for x in range(w)
        ]
        for k in range(v):
            pos = (g * 7 + k * 13) % (w * h)
            px[pos] = (px[pos] + 100) % 200
        px = bytes(p + 8 * v for p in px)
        header = f"P5\n{w} {h}\n255\n".encode()
        rows.append((i, "image", bytearray(header + px), w, h, None))
    return _asset_frame(spark, rows)


def synthetic_video_frames(
    spark, n_videos: int = 6, n_frames: int = 24
) -> "DataFrame":
    """Frame table for SHOT-BOUNDARY detection: each video is a sequence of
    16×12 PGM frames with deterministic SCENE CUTS — the scene id
    increments every ``5 + v % 3`` frames; frames inside a scene share a
    scene-seeded gradient plus a tiny per-frame jitter at two dHash-sampled
    pixels (≤2 hash bits), while a cut swaps the gradient coefficients
    entirely (tens of bits). asset_id = video*1000 + frame, so downstream
    stages recover (video_id, frame_idx) without a second column — the
    frame payload stays a standard single-image asset row."""
    w, h = 16, 12
    rows = []
    for v in range(n_videos):
        period = 5 + v % 3
        for f in range(n_frames):
            s = f // period
            a = 1 + (s * 7 + v * 3) % 11
            b = 1 + (s * 5 + v * 7) % 13
            c = (s * 3 + v) % 5
            px = bytearray(
                ((x * a + y * b + x * y * c) % 200)
                for y in range(h)
                for x in range(w)
            )
            for k in range(2):
                gy, gx = (f * 3 + k * 5) % 8, (f * 5 + k * 3) % 8
                pos = (gy * h // 8) * w + (gx * w // 8)
                px[pos] = (px[pos] + 128) % 256
            header = f"P5\n{w} {h}\n255\n".encode()
            rows.append(
                (v * 1000 + f, "image", bytearray(header + bytes(px)), w, h, None)
            )
    return _asset_frame(spark, rows)


FRAME_ENERGY_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), nullable=False),
        StructField("frame_idx", LongType(), nullable=False),
        StructField("energy", LongType(), nullable=False),
    ]
)


def synthetic_speech_audio(spark, n: int = 8) -> "DataFrame":
    """WAV assets with PLANTED voiced/silent alternation for VAD: asset i
    alternates (3 + i%3) voiced frames (2000-amplitude tone, 200+25·i Hz)
    with (2 + i%2) all-zero silent frames; frame = 256 samples, 32 frames
    (8192 samples at 8 kHz) per asset."""
    rows = []
    rate, frame, n_frames = 8000, 256, 32
    for i in range(n):
        von, voff = 3 + i % 3, 2 + i % 2
        period = von + voff
        samples = np.zeros(frame * n_frames, dtype="<i2")
        freq = 200 + 25 * i
        for f in range(n_frames):
            if f % period < von:
                t = (np.arange(frame) + f * frame) / rate
                samples[f * frame : (f + 1) * frame] = np.round(
                    2000 * np.sin(2 * np.pi * freq * t)
                ).astype("<i2")
        buf = io.BytesIO()
        with wave.open(buf, "wb") as wv:
            wv.setnchannels(1)
            wv.setsampwidth(2)
            wv.setframerate(rate)
            wv.writeframes(samples.tobytes())
        rows.append(
            (i, "audio", bytearray(buf.getvalue()), None, None,
             frame * n_frames * 1000 // rate)
        )
    return _asset_frame(spark, rows)


def audio_frame_energy(assets: DataFrame, frame: int = 256) -> DataFrame:
    """Per-frame signal energy (Σ sample², exact int64) as an Arrow-batched
    mapInPandas stage — the primitive under voice-activity detection,
    silence trimming, and loudness normalization. Non-audio or non-WAV
    payloads are dropped."""

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, frames, energies = [], [], []
            for aid, mt, payload in zip(
                pdf["asset_id"], pdf["media_type"], pdf["payload"]
            ):
                p = bytes(payload) if payload is not None else b""
                if mt != "audio" or p[:4] != b"RIFF":
                    continue
                try:
                    with wave.open(io.BytesIO(p), "rb") as wv:
                        raw = wv.readframes(wv.getnframes())
                    samples = np.frombuffer(raw, dtype="<i2").astype(np.int64)
                except (wave.Error, EOFError, ValueError):
                    # truncated/malformed RIFF: drop the row like the other
                    # malformed-payload branches, don't fail the task
                    continue
                nf = len(samples) // frame
                for f in range(nf):
                    seg = samples[f * frame : (f + 1) * frame]
                    ids.append(int(aid))
                    frames.append(f)
                    energies.append(int((seg * seg).sum()))
            yield pd.DataFrame(
                {"asset_id": ids, "frame_idx": frames, "energy": energies}
            )

    return assets.mapInPandas(process, FRAME_ENERGY_SCHEMA)
