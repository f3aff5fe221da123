"""Multimodal (image/audio/video) payload queries over binary columns."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.writers import staged_dir

from .qshared import register



def _multimodal_fake_oracle(n: int = 128) -> str:
    """Golden-value oracle for the fake-codec extract: the synthetic-asset
    recipe (payload = md5(str(i)) digest ×4) and the fake feature formula
    (first 8 sha256 digest bytes / 255) are re-derived here with hashlib
    alone — independent of operators/multimodal — and frozen into a VALUES
    table. (A pure-SQL twin is blocked on DuckDB's sha256() accepting only
    VARCHAR, not the binary payload.)"""
    import hashlib as _hl

    rows = []
    for i in range(n):
        payload = _hl.md5(str(i).encode()).digest() * 4
        mt = ("image", "audio", "video")[i % 3]
        digest = _hl.sha256(payload).digest()
        head = ",".join(f"{b / 255.0:.4f}" for b in digest[:8])
        rows.append(
            f"({i}, '{mt}', '{_hl.sha256(payload).hexdigest()}', "
            f"{len(payload)}, 8, '{head}')"
        )
    vals = ",\n      ".join(rows)
    return f"""
    SELECT * FROM (VALUES
      {vals})
      AS t(asset_id, media_type, payload_sha256, payload_bytes,
           feature_dim, feature_head)
    ORDER BY asset_id
    """


@register("multimodal_feature_extract", _multimodal_fake_oracle(128))
def q_multimodal_feature_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched mapInPandas feature extraction over binary multimodal
    payloads (deterministic fake codec; real codec is a drop-in). Exercises
    the schema contract + batch plumbing end-to-end; now VALUE
    oracle-checked (upgraded from rows-only) against golden features
    re-derived from the recipe with hashlib alone."""
    from ..operators.multimodal import extract_features, synthetic_assets

    return extract_features(synthetic_assets(spark, n=128))


def _regen_real_assets(n: int):
    """Re-derive the synthetic real-codec assets from their RECIPE (the spec
    in operators/multimodal.synthetic_real_assets' docstring), without
    calling that module — even ids are P5 gradient PGMs (px = (x+y+i) mod
    256), odd ids 16-bit mono 440 Hz WAV bursts. Used to freeze golden
    expected outputs into the multimodal oracles below."""
    import io as _io
    import wave as _wave

    import numpy as _np

    out = []
    for i in range(n):
        if i % 2 == 0:
            w, h = 8 + (i % 4), 6
            header = f"P5\n{w} {h}\n255\n".encode()
            px = bytes(((x + y + i) % 256) for y in range(h) for x in range(w))
            out.append((i, "image", header + px, w, h, None))
        else:
            rate, dur_s = 8000, 0.05
            nfr = int(rate * dur_s)
            t = _np.arange(nfr) / rate
            samples = _np.round(
                3000 * _np.sin(2 * _np.pi * 440 * t + i)
            ).astype("<i2")
            buf = _io.BytesIO()
            with _wave.open(buf, "wb") as wv:
                wv.setnchannels(1)
                wv.setsampwidth(2)
                wv.setframerate(rate)
                wv.writeframes(samples.tobytes())
            out.append((i, "audio", buf.getvalue(), None, None, samples))
    return out


def _multimodal_extract_oracle(n: int = 64) -> str:
    """Golden-value oracle for the real-codec extract: expected features are
    recomputed here from the asset recipe (netpbm stats over the gradient
    formula, WAV amplitude stats over the regenerated samples) and frozen
    into a VALUES table. The decode MATH is additionally pinned by the
    closed-form asserts in tests/test_multimodal.py; what this oracle
    value-checks per round is the whole Spark path — parquet round-trip of
    binary payloads, Arrow batching, mapInPandas execution — against the
    frozen expectation."""
    import hashlib as _hl

    import numpy as _np

    rows = []
    for i, mt, payload, w, h, samples in _regen_real_assets(n):
        sha, blen = _hl.sha256(payload).hexdigest(), len(payload)
        if mt == "image":
            px = _np.frombuffer(
                payload, dtype=_np.uint8, count=w * h, offset=len(payload) - w * h
            ).reshape(h, w, 1).astype(_np.float64) / 255
            feats = [px.mean(), px.std(), px.min(), px.max(), px[..., 0].mean()]
        else:
            rate = 8000
            x = samples.astype(_np.float64) / 32768.0
            feats = [
                len(x) / rate,
                _np.abs(x).mean(),
                _np.sqrt((x**2).mean()),
                _np.abs(x).max(),
                1.0,
            ]
        head = ",".join(f"{float(v):.4f}" for v in feats)
        rows.append(f"({i}, '{mt}', '{sha}', {blen}, 5, '{head}')")
    vals = ",\n      ".join(rows)
    return f"""
    SELECT * FROM (VALUES
      {vals})
      AS t(asset_id, media_type, payload_sha256, payload_bytes,
           feature_dim, feature_head)
    ORDER BY asset_id
    """


@register("multimodal_real_codec_extract", _multimodal_extract_oracle(64))
def q_multimodal_real_codec_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL-codec multimodal path end-to-end through storage, now VALUE
    oracle-checked (upgraded from rows-only): a real encoded asset table
    (PGM images + WAV audio payloads) is landed as parquet once, scanned
    back as binary columns, and decoded with actual codecs (numpy netpbm
    parse, stdlib wave PCM) inside Arrow-batched mapInPandas. The oracle
    freezes golden features regenerated from the asset recipe, so payload
    sha256, byte length, and every formatted feature are hash-compared;
    closed-form decode math is separately asserted in
    tests/test_multimodal.py."""
    from ..operators.multimodal import extract_features, synthetic_real_assets

    staging = staged_dir(
        spark,
        "real_assets",
        lambda out: synthetic_real_assets(spark, n=64).write.parquet(str(out)),
    )
    assets = spark.read.parquet(str(staging))
    return extract_features(assets, require_real_codec=True).orderBy("asset_id")


@register(
    "multimodal_frame_sample",
    """
    WITH v AS (
      SELECT CAST(i AS BIGINT) AS asset_id, 1000 * i AS dur
      FROM UNNEST(range(64)) AS t(i)
      WHERE i % 3 = 2 AND i > 0
    )
    SELECT asset_id, CAST(1000 * j AS BIGINT) AS frame_ts_ms
    FROM v, UNNEST(range(dur // 1000 + 1)) AS u(j)
    ORDER BY asset_id, frame_ts_ms
    """,
)
def q_multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling work list: each video asset expands to one row
    per frame timestamp (sequence+explode — the decode fan-out is planned
    by Catalyst, not a driver loop). Full value oracle (upgraded from
    rows-only): the synthetic-asset recipe makes every video's duration
    1000·i ms, so plain SQL regenerates the exact fan-out; per-asset frame
    counts also asserted against duration in tests/test_multimodal.py."""
    from ..operators.multimodal import frame_sample_plan, synthetic_assets

    assets = synthetic_assets(spark, n=64)
    return frame_sample_plan(assets, every_ms=1000).orderBy("asset_id", "frame_ts_ms")


def _multimodal_resize_oracle(n: int = 32, tw: int = 8, th: int = 8) -> str:
    """Golden-value oracle for the netpbm nearest-neighbor resize: expected
    8×8 thumbnails are recomputed here INDEPENDENTLY of
    operators/multimodal.resize_images — pure integer index math
    (ys = y·h//th, xs = x·w//tw) over the recipe's gradient pixels, then
    sha256 of the re-encoded P5 bytes — and frozen into a VALUES table, so
    the driver hash-checks the exact output payload of every image."""
    import hashlib as _hl

    rows = []
    for i, mt, payload, w, h, _ in _regen_real_assets(n):
        if mt != "image":
            continue
        px = payload[len(payload) - w * h :]
        small = bytes(
            px[(y * h // th) * w + (x * w // tw)]
            for y in range(th)
            for x in range(tw)
        )
        out = f"P5\n{tw} {th}\n255\n".encode() + small
        rows.append(f"({i}, {tw}, {th}, '{_hl.sha256(out).hexdigest()}')")
    vals = ",\n      ".join(rows)
    return f"""
    SELECT * FROM (VALUES
      {vals})
      AS t(asset_id, width, height, payload_sha256)
    ORDER BY asset_id
    """


@register("multimodal_resize", _multimodal_resize_oracle(32))
def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real image resize (nearest-neighbor netpbm downsample to 8×8) over
    Arrow-batched mapInPandas — the thumbnail/normalize stage. Now VALUE
    oracle-checked (upgraded from rows-only): the oracle independently
    recomputes each expected thumbnail from the asset recipe with pure
    integer index math and freezes its sha256, so the exact output bytes
    are hash-compared per round (exact pixel subsampling also asserted in
    tests/test_multimodal.py). Payload sha projected instead of raw bytes
    so the driver's value hash is stable and compact."""
    from ..operators.multimodal import resize_images, synthetic_real_assets

    assets = synthetic_real_assets(spark, n=32)
    resized = resize_images(assets, target_w=8, target_h=8)
    return resized.select(
        "asset_id", "width", "height", F.sha2("payload", 256).alias("payload_sha256")
    ).orderBy("asset_id")


def _dhash_golden_oracle(n: int = 48) -> str:
    """Golden-value oracle for the image dHash near-dup pipeline: the
    synthetic PGM recipe AND the 56-bit dHash are re-derived here with
    pure-Python integers (independent of operators/multimodal), frozen
    into a VALUES table; the pair join + Hamming verify replay in SQL as
    an all-pairs xor/bit_count (fine at oracle scale — the Spark path is
    the banded bucket join)."""
    w, h = 16, 12
    rows = []
    for i in range(n):
        g, v = divmod(i, 3)
        px = [(x * 3 + y * 5 + g * 17) % 256 for y in range(h) for x in range(w)]
        for k in range(2 * v):
            pos = (g * 7 + k * 13) % (w * h)
            px[pos] = (px[pos] + 128) % 256
        out = 0
        for y in range(8):
            for x in range(7):
                a = px[(y * h // 8) * w + (x * w // 8)]
                b = px[(y * h // 8) * w + ((x + 1) * w // 8)]
                if b > a:
                    out |= 1 << (y * 7 + x)
        rows.append(f"({i}, {out})")
    vals = ", ".join(rows)
    return f"""
    WITH hv(id, hsh) AS (VALUES {vals}),
    p AS (
      SELECT a.id AS id_a, b.id AS id_b,
             bit_count(xor(CAST(a.hsh AS BIGINT), CAST(b.hsh AS BIGINT)))
               AS hamming
      FROM hv a JOIN hv b ON a.id < b.id
    )
    SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
           CAST(hamming AS INT) AS hamming
    FROM p WHERE hamming <= 7
    """


@register("multimodal_image_dhash_near_dup", _dhash_golden_oracle(48))
def q_multimodal_image_dhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image dedup — dHash + banded Hamming join, the IMAGE
    analog of SimHash text near-dup: decode the PGM payloads and compute a
    56-bit difference hash in one Arrow-batched mapInPandas stage (8×8
    nearest-neighbor grid, 7×8 adjacent-cell comparisons — pure integer,
    bit-identical anywhere), then find pairs within Hamming ≤ 7 via 8
    bands × 7 bits: pigeonhole guarantees recall exactly 1 (≤ 7 flips
    can't touch all 8 bands), candidates verify with one xor+bit_count.
    The asset set plants near-duplicate groups (3 variants per base
    image), so the output exercises both hit and miss paths. Scale shape:
    hash once per image (embarrassingly parallel), self-join on skinny
    (band, value) buckets — never all-pairs over payloads; the oracle
    re-derives recipe + hash with pure Python and replays the join in
    SQL."""
    from ..operators.multimodal import (
        dhash_near_dup_pairs,
        image_dhash,
        synthetic_near_dup_images,
    )

    assets = synthetic_near_dup_images(spark, 48)
    hashes = image_dhash(assets)
    return dhash_near_dup_pairs(hashes, max_hamming=7).select(
        "id_a", "id_b", F.col("hamming").cast("int").alias("hamming")
    )


def _audio_fp_golden_oracle(n: int = 36) -> str:
    """Golden-value oracle for the audio fingerprint dedup: re-derive the
    WAV recipe and the FFT-peak fingerprint here (stdlib wave + numpy —
    independent of operators/multimodal), freeze (id, fingerprint) into a
    VALUES table, replay the bucket pair join in SQL."""
    import io as _io
    import wave as _wave

    import numpy as _np

    rate, nfr, frame = 8000, 8192, 1024
    rows = []
    for i in range(n):
        g, v = divmod(i, 3)
        freq = 300 + 40 * g
        t = _np.arange(nfr) / rate
        amp = 2000 + 300 * v
        samples = _np.round(
            amp * _np.sin(2 * _np.pi * freq * t + 0.7 * v)
        ).astype("<i2")
        buf = _io.BytesIO()
        with _wave.open(buf, "wb") as wv:
            wv.setnchannels(1)
            wv.setsampwidth(2)
            wv.setframerate(rate)
            wv.writeframes(samples.tobytes())
        with _wave.open(_io.BytesIO(buf.getvalue()), "rb") as wv:
            raw = wv.readframes(wv.getnframes())
        s = _np.frombuffer(raw, dtype="<i2")
        fp = 0
        for f in range(6):
            seg = s[f * frame : (f + 1) * frame]
            mag = _np.abs(_np.fft.rfft(seg.astype(_np.float64)))
            fp = fp * 1024 + int(_np.argmax(mag[1:])) + 1
        rows.append(f"({i}, {fp})")
    vals = ", ".join(rows)
    return f"""
    WITH fp(id, f) AS (VALUES {vals})
    SELECT CAST(a.id AS BIGINT) AS id_a, CAST(b.id AS BIGINT) AS id_b,
           CAST(a.f AS BIGINT) AS fingerprint
    FROM fp a JOIN fp b ON a.f = b.f AND a.id < b.id
    """


@register("multimodal_audio_fingerprint_dup", _audio_fp_golden_oracle(36))
def q_multimodal_audio_fingerprint_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio duplicate detection by spectral fingerprint — completing the
    per-modality dedup matrix (text: SimHash/MinHash; image: dHash;
    audio: FFT-peak landmarks, the simplified Shazam idea): stdlib-wave
    decode + per-frame dominant-FFT-bin sequence rolled into one int64,
    computed in an Arrow-batched mapInPandas stage, then exact-fingerprint
    pairs via the bucket self-join (the exact-dedup shape — the join runs
    on the fingerprint column, never on payloads, never all-pairs). The
    asset set plants 3-variant groups differing only in amplitude/phase —
    invariants of the fingerprint — so within-group pairs collide and
    cross-group ones don't. Golden oracle re-derives recipe + FFT
    fingerprint independently and replays the join in SQL."""
    from ..operators.multimodal import (
        audio_fingerprint,
        fingerprint_dup_pairs,
        synthetic_audio_set,
    )

    assets = synthetic_audio_set(spark, 36)
    return fingerprint_dup_pairs(audio_fingerprint(assets))


def _multimodal_keep_oracle() -> str:
    """Golden oracle for the cross-modality dedup keep list: re-derive
    BOTH modality pair sets (image dHash ≤7 Hamming, audio exact FFT
    fingerprint) with pure Python / numpy from the asset recipes, then
    run the transitive closure + keep-min in SQL over the frozen pairs."""
    import io as _io
    import wave as _wave

    import numpy as _np

    # image dhashes (recipe of synthetic_near_dup_images, ids 0..47)
    w, h = 16, 12
    hv = {}
    for i in range(48):
        g, v = divmod(i, 3)
        px = [(x * 3 + y * 5 + g * 17) % 256 for y in range(h) for x in range(w)]
        for k in range(2 * v):
            pos = (g * 7 + k * 13) % (w * h)
            px[pos] = (px[pos] + 128) % 256
        out = 0
        for y in range(8):
            for x in range(7):
                a = px[(y * h // 8) * w + (x * w // 8)]
                b = px[(y * h // 8) * w + ((x + 1) * w // 8)]
                if b > a:
                    out |= 1 << (y * 7 + x)
        hv[i] = out
    pairs = [
        (a, b)
        for a in hv
        for b in hv
        if a < b and bin(hv[a] ^ hv[b]).count("1") <= 7
    ]
    # audio fingerprints (recipe of synthetic_audio_set, ids 1000..1035)
    rate, nfr, frame = 8000, 8192, 1024
    fp = {}
    for i in range(36):
        g, v = divmod(i, 3)
        freq = 300 + 40 * g
        t = _np.arange(nfr) / rate
        samples = _np.round(
            (2000 + 300 * v) * _np.sin(2 * _np.pi * freq * t + 0.7 * v)
        ).astype("<i2")
        buf = _io.BytesIO()
        with _wave.open(buf, "wb") as wv:
            wv.setnchannels(1)
            wv.setsampwidth(2)
            wv.setframerate(rate)
            wv.writeframes(samples.tobytes())
        with _wave.open(_io.BytesIO(buf.getvalue()), "rb") as wv:
            raw = wv.readframes(wv.getnframes())
        s = _np.frombuffer(raw, dtype="<i2")
        f = 0
        for fr in range(6):
            seg = s[fr * frame : (fr + 1) * frame]
            mag = _np.abs(_np.fft.rfft(seg.astype(_np.float64)))
            f = f * 1024 + int(_np.argmax(mag[1:])) + 1
        fp[1000 + i] = f
    from collections import defaultdict

    byfp = defaultdict(list)
    for i, f in fp.items():
        byfp[f].append(i)
    for ids in byfp.values():
        ids.sort()
        for ix, a in enumerate(ids):
            for b in ids[ix + 1 :]:
                pairs.append((a, b))
    assets = sorted(set(hv) | set(fp))
    pvals = ", ".join(f"({a}, {b})" for a, b in sorted(pairs))
    avals = ", ".join(f"({a})" for a in assets)
    return f"""
    WITH RECURSIVE assets(id) AS (VALUES {avals}),
    e(u, v) AS (VALUES {pvals}),
    sym AS (SELECT u AS a, v AS b FROM e UNION SELECT v, u FROM e),
    reach(a, b) AS (
      SELECT a, b FROM sym
      UNION
      SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
    ),
    comp AS (
      SELECT assets.id,
             CAST(LEAST(assets.id, COALESCE(MIN(r.b), assets.id)) AS BIGINT)
               AS component
      FROM assets LEFT JOIN reach r ON r.a = assets.id
      GROUP BY assets.id
    )
    SELECT id AS asset_id, component,
           id = component AS is_kept
    FROM comp
    """


@register("multimodal_dedup_keep_list", _multimodal_keep_oracle())
def q_multimodal_dedup_keep_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modality dedup keep list — the media twin of the text
    dedup_cascade_funnel: image near-dup pairs (dHash banded Hamming) and
    audio duplicate pairs (FFT fingerprint buckets) pool into ONE edge
    set over a disjoint asset-id space (audio offset by 1000), weakly-
    connected components cluster transitively-linked variants, and the
    min-id per component is kept — exactly how a production media-dedup
    decision composes per-modality detectors into one survivorship
    verdict. Reuses the oracle-checked dedup primitives + the
    components operator (pointer jumping); the golden oracle re-derives
    both modality pair sets independently and replays the closure with
    WITH RECURSIVE."""
    from ..operators.components import connected_components
    from ..operators.multimodal import (
        audio_fingerprint,
        dhash_near_dup_pairs,
        fingerprint_dup_pairs,
        image_dhash,
        synthetic_audio_set,
        synthetic_near_dup_images,
    )

    def edges() -> DataFrame:
        img_pairs = dhash_near_dup_pairs(
            image_dhash(synthetic_near_dup_images(spark, 48)), max_hamming=7
        ).select("id_a", "id_b")
        aud = synthetic_audio_set(spark, 36).withColumn(
            "asset_id", F.col("asset_id") + 1000
        )
        aud_pairs = fingerprint_dup_pairs(audio_fingerprint(aud)).select(
            "id_a", "id_b"
        )
        return img_pairs.unionByName(aud_pairs)

    img_ids = spark.range(48).select(F.col("id").alias("node"))
    aud_ids = spark.range(1000, 1036).select(F.col("id").alias("node"))
    vertices = img_ids.unionByName(aud_ids)
    comp = connected_components(
        vertices,
        edges,
        id_col="node",
        src_col="id_a",
        dst_col="id_b",
    )
    return comp.select(
        F.col("node").alias("asset_id"),
        "component",
        (F.col("node") == F.col("component")).alias("is_kept"),
    )


def _phash_golden_oracle(n: int = 48) -> str:
    """Golden-value oracle for the pHash near-dup pipeline: the textured
    PGM recipe AND the 63-bit DCT hash are re-derived here with pure-Python
    integers (independent of operators/multimodal — including its own copy
    of the fixed-point DCT basis), frozen into a VALUES table; the pair
    join + Hamming verify replay in SQL as all-pairs xor/bit_count (fine
    at oracle scale — the Spark path is the banded bucket join)."""
    import math

    w, h = 16, 12
    c = [
        [
            round(1024 * math.cos((2 * x + 1) * u * math.pi / 64))
            for x in range(32)
        ]
        for u in range(32)
    ]
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
        px = [p + 8 * v for p in px]
        p32 = [
            [px[(y * h // 32) * w + (x * w // 32)] for x in range(32)]
            for y in range(32)
        ]
        t = [
            [sum(c[u][x] * p32[y][x] for x in range(32)) for y in range(32)]
            for u in range(32)
        ]
        d = [
            [sum(c[v2][y] * t[u][y] for y in range(32)) for v2 in range(8)]
            for u in range(8)
        ]
        coeffs = [d[u][v2] for u in range(8) for v2 in range(8)][1:]
        med = sorted(coeffs)[31]
        out = 0
        for bi, val in enumerate(coeffs):
            if val > med:
                out |= 1 << bi
        rows.append(f"({i}, {out})")
    vals = ", ".join(rows)
    return f"""
    WITH hv(id, hsh) AS (VALUES {vals}),
    p AS (
      SELECT a.id AS id_a, b.id AS id_b,
             bit_count(xor(CAST(a.hsh AS BIGINT), CAST(b.hsh AS BIGINT)))
               AS hamming
      FROM hv a JOIN hv b ON a.id < b.id
    )
    SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
           CAST(hamming AS INT) AS hamming
    FROM p WHERE hamming <= 6
    """


@register("multimodal_image_phash_near_dup", _phash_golden_oracle(48))
def q_multimodal_image_phash_near_dup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Perceptual image dedup, FREQUENCY-domain — pHash + banded Hamming
    join, completing the image-fingerprint pair with image_dhash's
    spatial-gradient hash: decode the PGM payloads, 2-D DCT-II on a 32×32
    nearest-neighbor resample using a 1024-scaled INTEGER basis (the
    transform is exact integer arithmetic — no float ever enters the
    hash), keep the low-frequency 8×8 block minus DC, bit = coefficient >
    lower-median. Uniform brightness shifts move only the dropped DC term,
    so pHash survives global exposure edits that flip dHash bits. Pairs
    within Hamming ≤ 6 via 9 bands × 7 bits (pigeonhole recall 1 up to 8
    flips), verified with one xor+bit_count. The asset set plants textured
    near-dup groups (quadratic base + brightness/pixel variants; linear
    gradients are degenerate for DCT and deliberately avoided — see
    synthetic_textured_images). Scale shape: hash once per image in one
    Arrow-batched mapInPandas stage, then the skinny banded self-join —
    never all-pairs over payloads; the oracle re-derives recipe, DCT
    basis, and hash in pure Python and replays the join in SQL."""
    from ..operators.multimodal import (
        banded_hamming_pairs,
        image_phash,
        synthetic_textured_images,
    )

    assets = synthetic_textured_images(spark, 48)
    hashes = image_phash(assets)
    return banded_hamming_pairs(
        hashes, "phash", n_bands=9, band_bits=7, max_hamming=6
    ).select("id_a", "id_b", F.col("hamming").cast("int").alias("hamming"))


def _video_shot_boundary_oracle(
    n_videos: int = 6, n_frames: int = 24, threshold: int = 5
) -> str:
    """Golden-value oracle for shot-boundary detection: the frame recipe
    AND the 56-bit dHash are re-derived with pure-Python integers
    (independent of operators/multimodal — its own sampling grid and hash
    loop), boundaries frozen into a VALUES table."""
    w, h = 16, 12

    def dhash(px: bytes) -> int:
        grid = [
            [px[(y * h // 8) * w + (x * w // 8)] for x in range(8)]
            for y in range(8)
        ]
        out = 0
        for y in range(8):
            for x in range(7):
                if grid[y][x + 1] > grid[y][x]:
                    out |= 1 << (y * 7 + x)
        return out

    rows = []
    for v in range(n_videos):
        period = 5 + v % 3
        prev = None
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
            dh = dhash(bytes(px))
            if prev is not None:
                ham = bin(dh ^ prev).count("1")
                if ham > threshold:
                    rows.append(f"({v}, {f}, {ham})")
            prev = dh
    vals = ",\n      ".join(rows)
    return f"""
    SELECT CAST(video_id AS BIGINT) AS video_id,
           CAST(frame_idx AS BIGINT) AS frame_idx,
           CAST(hamming_to_prev AS BIGINT) AS hamming_to_prev
    FROM (VALUES
      {vals})
      AS t(video_id, frame_idx, hamming_to_prev)
    """


@register("multimodal_video_shot_boundary", _video_shot_boundary_oracle())
def q_multimodal_video_shot_boundary(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Video SHOT-BOUNDARY detection — the first structural pass of every
    video-curation pipeline (scene indexing, keyframe selection, per-shot
    dedup all start from cut positions): consecutive frames of one shot
    are perceptually near (dHash Hamming ≤ a few bits of jitter), a cut
    swaps the scene content (tens of bits), so boundary = frame whose
    dHash sits > 5 bits from its predecessor. Pipeline: the synthetic
    frame table (operators/multimodal.synthetic_video_frames — planted
    scene cuts every 5+v%3 frames) → the SAME Arrow-batched image_dhash
    stage the still-image dedup uses (decode+hash C-side per batch) →
    a video-partitioned LAG + xor + bit_count. Scale: hashing is
    embarrassingly parallel over frames; the temporal comparison
    partitions by video — no global window, no pairwise joins. Oracle:
    the full recipe + hash + rule re-derived in pure Python and frozen as
    golden VALUES (the multimodal house pattern)."""
    from ..operators.multimodal import image_dhash, synthetic_video_frames

    frames = synthetic_video_frames(spark, n_videos=6, n_frames=24)
    dh = image_dhash(frames).select(
        F.expr("asset_id div 1000").cast("long").alias("video_id"),
        F.expr("asset_id % 1000").cast("long").alias("frame_idx"),
        "dhash",
    )
    w = Window.partitionBy("video_id").orderBy("frame_idx")
    lagged = dh.select(
        "video_id",
        "frame_idx",
        F.bit_count(
            F.expr("dhash").bitwiseXOR(F.lag("dhash").over(w))
        )
        .cast("long")
        .alias("hamming_to_prev"),
    )
    return lagged.filter(F.col("hamming_to_prev") > 5)


def _vad_golden_oracle(n: int = 8, frame: int = 256, thresh: int = 1000000) -> str:
    """Golden-value oracle for VAD segmentation: replays the speech-audio
    recipe + per-frame energy + island grouping with numpy/pure Python and
    freezes the expected segments into a VALUES table."""
    import numpy as _np

    rate, n_frames = 8000, 32
    rows = []
    for i in range(n):
        von, voff = 3 + i % 3, 2 + i % 2
        period = von + voff
        samples = _np.zeros(frame * n_frames, dtype="<i2")
        freq = 200 + 25 * i
        for f in range(n_frames):
            if f % period < von:
                t = (_np.arange(frame) + f * frame) / rate
                samples[f * frame : (f + 1) * frame] = _np.round(
                    2000 * _np.sin(2 * _np.pi * freq * t)
                ).astype("<i2")
        s64 = samples.astype(_np.int64)
        voiced = [
            f
            for f in range(n_frames)
            if int(
                (s64[f * frame : (f + 1) * frame] ** 2).sum()
            )
            > thresh
        ]
        segs = []
        for f in voiced:
            if segs and segs[-1][1] == f - 1:
                segs[-1][1] = f
            else:
                segs.append([f, f])
        for idx, (a, b) in enumerate(segs, start=1):
            rows.append(f"({i}, {idx}, {a}, {b}, {b - a + 1})")
    vals = ",\n      ".join(rows)
    return f"""
    SELECT CAST(asset_id AS BIGINT) AS asset_id,
           CAST(seg_idx AS BIGINT) AS seg_idx,
           CAST(start_frame AS BIGINT) AS start_frame,
           CAST(end_frame AS BIGINT) AS end_frame,
           CAST(n_frames AS BIGINT) AS n_frames
    FROM (VALUES
      {vals})
      AS t(asset_id, seg_idx, start_frame, end_frame, n_frames)
    """


@register("multimodal_audio_vad_segments", _vad_golden_oracle(8))
def q_multimodal_audio_vad_segments(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Energy-threshold voice-activity detection (VAD) — the first pass of
    every speech-data pipeline (silence trimming, utterance splitting for
    ASR corpora): per 256-sample frame compute the exact int64 signal
    energy Σs², flag frames above threshold, and collapse consecutive
    voiced frames into segments via the date-minus-rank ISLANDS key (the
    events_gaps_and_islands shape, here over frame indices). Pipeline:
    planted voiced/silent WAV assets (operators/multimodal.
    synthetic_speech_audio) → Arrow-batched real WAV decode + framing
    (audio_frame_energy — stdlib wave + numpy, energy exact integer) →
    JVM-side island grouping, asset-partitioned windows only. Oracle:
    recipe + energy + grouping replayed in pure numpy and frozen as
    golden VALUES (the multimodal house pattern); pytest asserts the
    segments equal the PLANTED voiced runs exactly."""
    from ..operators.multimodal import (
        audio_frame_energy,
        synthetic_speech_audio,
    )

    assets = synthetic_speech_audio(spark, n=8)
    en = audio_frame_energy(assets, frame=256)
    voiced = en.filter(F.col("energy") > 1000000)
    w = Window.partitionBy("asset_id").orderBy("frame_idx")
    isl = voiced.withColumn(
        "k", F.col("frame_idx") - F.row_number().over(w)
    )
    seg = isl.groupBy("asset_id", "k").agg(
        F.min("frame_idx").alias("start_frame"),
        F.max("frame_idx").alias("end_frame"),
        F.count(F.lit(1)).cast("long").alias("n_frames"),
    )
    ws = Window.partitionBy("asset_id").orderBy("start_frame")
    return seg.select(
        "asset_id",
        F.row_number().over(ws).cast("long").alias("seg_idx"),
        "start_frame",
        "end_frame",
        "n_frames",
    )


def _blur_golden_oracle(n: int = 48) -> str:
    """Golden-value oracle for the Laplacian blur audit: the textured-PGM
    recipe AND the integer Laplacian variance are re-derived with pure
    Python (independent of operators/multimodal) and frozen as VALUES."""
    w, h = 16, 12
    rows = []
    for i in range(n):
        g, v = divmod(i, 3)
        px = [
            (
                37 * x * x
                + 23 * y * y
                + 11 * ((g % 5) + 1) * x * y
                + 53 * g
                + 7 * g * x
            )
            % 200
            for y in range(h)
            for x in range(w)
        ]
        for k in range(v):
            pos = (g * 7 + k * 13) % (w * h)
            px[pos] = (px[pos] + 100) % 200
        px = [p + 8 * v for p in px]
        laps = []
        for y in range(1, h - 1):
            for x in range(1, w - 1):
                c = px[y * w + x]
                lap = (
                    px[y * w + x - 1]
                    + px[y * w + x + 1]
                    + px[(y - 1) * w + x]
                    + px[(y + 1) * w + x]
                    - 4 * c
                )
                laps.append(lap)
        m = len(laps)
        s1 = sum(laps)
        s2 = sum(z * z for z in laps)
        var_scaled = m * s2 - s1 * s1  # m² × variance, exact integer
        rows.append(f"({i}, {m}, {var_scaled}, {var_scaled < 1000 * m * m})")
    vals = ",\n      ".join(rows)
    return f"""
    SELECT CAST(asset_id AS BIGINT) AS asset_id,
           CAST(n_lap AS BIGINT) AS n_lap,
           CAST(lap_var_x_m2 AS BIGINT) AS lap_var_x_m2,
           is_blurry
    FROM (VALUES
      {vals})
      AS t(asset_id, n_lap, lap_var_x_m2, is_blurry)
    """


@register("multimodal_image_blur_laplacian", _blur_golden_oracle(48))
def q_multimodal_image_blur_laplacian(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Blur/low-detail detection via Laplacian variance — the standard
    image-quality gate of vision data pipelines (variance of the 4-
    neighbor Laplacian collapses on defocused or flat images): per PGM
    asset, the exact INTEGER variance-scaled statistic m²·Var =
    m·Σlap² − (Σlap)² over interior pixels, plus a low-detail flag
    (Var < 1000 ⇔ the scaled form < 1000·m²  — integer cross-
    multiplication, no division). Runs over the textured asset set
    through an Arrow-batched mapInPandas numpy stencil (vectorized
    shifts, no Python pixel loop); the oracle re-derives recipe + stencil
    in pure Python and freezes golden VALUES. Scale: embarrassingly
    parallel per asset — one map stage, no shuffle."""
    import pandas as _pd

    from ..operators.multimodal import synthetic_textured_images

    assets = synthetic_textured_images(spark, n=48)

    def process(batches):
        import numpy as _np

        for pdf in batches:
            ids, ms, vars_, flags = [], [], [], []
            # column-zip, not iterrows: per-row decode is unavoidable but
            # building a pandas Series per row on top of it is not.
            for asset_id, payload, media_type in zip(
                pdf["asset_id"], pdf["payload"], pdf["media_type"]
            ):
                p = bytes(payload) if payload is not None else b""
                if media_type != "image" or p[:2] != b"P5":
                    continue
                parts = p.split(maxsplit=3)
                w_, h_ = int(parts[1]), int(parts[2])
                raw = (
                    parts[3].split(b"\n", 1)[1]
                    if b"\n" in parts[3]
                    else parts[3]
                )
                g = (
                    _np.frombuffer(raw, dtype=_np.uint8, count=w_ * h_)
                    .reshape(h_, w_)
                    .astype(_np.int64)
                )
                lap = (
                    g[1:-1, :-2]
                    + g[1:-1, 2:]
                    + g[:-2, 1:-1]
                    + g[2:, 1:-1]
                    - 4 * g[1:-1, 1:-1]
                )
                m = int(lap.size)
                s1 = int(lap.sum())
                s2 = int((lap * lap).sum())
                vs = m * s2 - s1 * s1
                ids.append(int(asset_id))
                ms.append(m)
                vars_.append(vs)
                flags.append(bool(vs < 1000 * m * m))
            yield _pd.DataFrame(
                {
                    "asset_id": ids,
                    "n_lap": ms,
                    "lap_var_x_m2": vars_,
                    "is_blurry": flags,
                }
            )

    schema = (
        "asset_id long, n_lap long, lap_var_x_m2 long, is_blurry boolean"
    )
    return assets.mapInPandas(process, schema)
