"""Multimodal columns: opaque binary payloads + typed metadata.

Image/audio/video payloads are opaque ``binary`` columns with a typed
metadata struct. Decode/feature/resize/frame-sample are REAL for the
formats a stdlib + numpy codec can parse (``codecs.py``: 24-bit BMP,
binary PPM, 8-bit truecolor PNG — DEFLATE is stdlib ``zlib`` — and GIF
images; PCM-16 WAV + Sun AU audio, YUV4MPEG2 video). For MP3/MP4 the stub
boundary sits exactly at the codec: metadata probing (frame/box walks,
``mediameta.probe_*``) and MP4 sample DEMUX (``mediameta.demux_mp4`` —
frame extraction through the stsc/stco/stsz tables) are REAL pure
arithmetic; only decoding the demuxed sample bytes into pixels/PCM
(H.264/AAC/Layer-III) remains behind ``NotImplementedError`` — no codec
library ships in this container — with ``fake_features`` as the
deterministic stand-in that keeps the distributed plumbing
byte-verifiable for ANY payload.

At 100 TB the binary column dominates IO: keep media in its own table
(or Iceberg file-split-friendly column ordering), size Arrow batches by
bytes not rows (`spark.sql.execution.arrow.maxRecordsPerBatch` low), and
never collect the payload — only derived features leave the executor.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd

MEDIA_SCHEMA = (
    "media_id BIGINT, kind STRING, payload BINARY, "
    "meta STRUCT<mime: STRING, width: INT, height: INT, duration_ms: INT>"
)

FEATURE_SCHEMA = "media_id BIGINT, kind STRING, n_bytes BIGINT, feature ARRAY<FLOAT>"

FEATURE_DIM = 16


def decode_image(payload: bytes) -> np.ndarray:
    """Image decode: REAL for 24-bit uncompressed BMP, binary PPM, and
    (r5) the two compressed formats that need no codec library — 8-bit
    truecolor PNG (stdlib-zlib DEFLATE) and GIF (LZW). Codec-bound
    formats (JPEG/WebP/AVIF/…) raise ``NotImplementedError`` until a
    codec library exists here.
    Returns (H, W, 3) uint8 — PNG alpha is dropped (RGBA → RGB) so every
    image kind feeds the same feature contract."""
    from . import codecs

    kind = codecs.sniff_codec(payload)
    if kind == "bmp":
        return codecs.decode_bmp(payload)
    if kind == "ppm":
        return codecs.decode_ppm(payload)
    if kind == "png":
        return codecs.decode_png(payload)[:, :, :3]
    if kind == "gif":
        return codecs.decode_gif(payload)
    raise NotImplementedError(
        "codec-bound image decode (JPEG/WebP/AVIF/…) needs a codec library "
        "(PIL/libvips) — absent in this container; BMP/PPM/PNG/GIF decode for real"
    )


def decode_audio(payload: bytes):
    """Audio decode: REAL for PCM-16 WAV and Sun AU → ((n, ch) int16,
    rate). Codec-bound audio (FLAC/MP3/AAC) raises NotImplementedError."""
    from . import codecs

    kind = codecs.sniff_codec(payload)
    if kind == "wav":
        return codecs.decode_wav(payload)
    if kind == "au":
        return codecs.decode_au(payload)
    raise NotImplementedError(
        "codec-bound audio (FLAC/MP3/AAC) needs a codec library — absent here; "
        "PCM WAV/AU decode for real"
    )


def decode_video_frames(payload: bytes):
    """Video decode: REAL for YUV4MPEG2 → ((n_frames, H, W) luma, fps);
    container formats (MP4/MKV) raise NotImplementedError."""
    from . import codecs

    if codecs.sniff_codec(payload) == "y4m":
        return codecs.decode_y4m(payload)
    raise NotImplementedError(
        "container-video decode needs ffmpeg — absent here; Y4M decodes for real"
    )


def fake_features(payload: bytes, dim: int = FEATURE_DIM) -> np.ndarray:
    """Deterministic stand-in feature extractor: sha256-seeded vector.
    Same bytes → same vector on every executor (test contract)."""
    if payload is None:
        payload = b""
    digest = hashlib.sha256(payload).digest()
    seed = int.from_bytes(digest[:8], "big", signed=False) % (2**32)
    rng = np.random.default_rng(seed)
    return rng.standard_normal(dim).astype(np.float32)


def image_features(rgb: np.ndarray, dim: int = FEATURE_DIM) -> np.ndarray:
    """REAL image features from a decoded (H, W, 3) array: per-channel
    mean/std (6), aspect ratio (1), and a 3×3 nearest-downsampled luma
    grid (9) — 16 dims, all numpy."""
    from . import codecs

    a = rgb.astype(np.float32)
    luma = a @ np.array([0.299, 0.587, 0.114], np.float32)
    grid = codecs.resize_nearest(luma, 3, 3).reshape(-1) / 255.0
    h, w = a.shape[:2]
    out = np.concatenate(
        [a.mean(axis=(0, 1)) / 255.0, a.std(axis=(0, 1)) / 255.0, [w / max(h, 1)], grid]
    ).astype(np.float32)
    return out[:dim] if len(out) >= dim else np.pad(out, (0, dim - len(out)))


def audio_features(samples: np.ndarray, rate: int, dim: int = FEATURE_DIM) -> np.ndarray:
    """REAL audio features from PCM samples: RMS, peak, zero-crossing
    rate, duration (4) + 12 log-magnitude FFT band energies — 16 dims."""
    x = samples.astype(np.float32).mean(axis=1) / 32768.0
    n = len(x)
    if n == 0:
        return np.zeros(dim, np.float32)
    rms = float(np.sqrt((x * x).mean()))
    peak = float(np.abs(x).max())
    zcr = float((np.signbit(x[1:]) != np.signbit(x[:-1])).mean()) if n > 1 else 0.0
    dur = n / max(rate, 1)
    spec = np.abs(np.fft.rfft(x))
    bands = np.array_split(spec, 12)
    energies = np.log1p(np.array([b.mean() if len(b) else 0.0 for b in bands], np.float32))
    out = np.concatenate([[rms, peak, zcr, dur], energies]).astype(np.float32)
    return out[:dim] if len(out) >= dim else np.pad(out, (0, dim - len(out)))


def video_features(frames_y: np.ndarray, fps: int, dim: int = FEATURE_DIM) -> np.ndarray:
    """REAL video features from decoded luma frames: frame count, fps,
    global mean/std, mean inter-frame absolute difference (motion), and
    per-frame means of up to 11 evenly sampled frames — 16 dims."""
    n = len(frames_y)
    if n == 0:
        return np.zeros(dim, np.float32)
    f = frames_y.astype(np.float32) / 255.0
    motion = float(np.abs(np.diff(f, axis=0)).mean()) if n > 1 else 0.0
    idx = np.linspace(0, n - 1, min(n, 11)).astype(np.int64)
    per_frame = f[idx].mean(axis=(1, 2))
    head = np.array([n, fps, f.mean(), f.std(), motion], np.float32)
    out = np.concatenate([head, per_frame]).astype(np.float32)
    return out[:dim] if len(out) >= dim else np.pad(out, (0, dim - len(out)))


def media_feature_vector(payload: bytes, dim: int = FEATURE_DIM) -> np.ndarray:
    """Feature router: REAL features for decodable payloads (BMP / PPM /
    PNG / GIF / WAV / AU / Y4M via magic bytes), deterministic fake
    stand-in for codec-bound or unknown bytes — so one UDF serves mixed
    corpora.

    A sniff hit is only a 2-9-byte prefix match: payloads that LOOK like
    a decodable format but fail to parse (corrupt file, text starting
    'BM…') fall back to the fake stand-in instead of raising — one bad
    row must never kill a corpus-scale job."""
    from . import codecs

    kind = codecs.sniff_codec(payload)
    try:
        if kind == "bmp":
            return image_features(codecs.decode_bmp(payload), dim)
        if kind == "ppm":
            return image_features(codecs.decode_ppm(payload), dim)
        if kind == "png":
            return image_features(codecs.decode_png(payload)[:, :, :3], dim)
        if kind == "gif":
            return image_features(codecs.decode_gif(payload), dim)
        if kind == "wav":
            return audio_features(*codecs.decode_wav(payload), dim=dim)
        if kind == "au":
            return audio_features(*codecs.decode_au(payload), dim=dim)
        if kind == "y4m":
            return video_features(*codecs.decode_y4m(payload), dim=dim)
    except ValueError:
        pass
    return fake_features(payload, dim)


def extract_features_udf(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas body: binary payload column → feature vectors.

    The per-element loop is over *media objects* (one payload = one
    document), with the numeric work vectorized inside each extractor —
    decode → features all numpy; no payload ever leaves the executor.
    """
    for pdf in batches:
        feats = [media_feature_vector(p).tolist() for p in pdf["payload"]]
        yield pd.DataFrame(
            {
                "media_id": pdf["media_id"],
                "kind": pdf["kind"],
                "n_bytes": _n_bytes(pdf["payload"]),
                "feature": feats,
            }
        )


def media_features(df):
    """binary media table → feature table (mapInPandas, shuffle-free)."""
    return df.mapInPandas(extract_features_udf, schema=FEATURE_SCHEMA)


META_SCHEMA = (
    "media_id BIGINT, kind STRING, n_bytes BIGINT, "
    "mime STRING, width INT, height INT, duration_ms BIGINT"
)


def _n_bytes(payloads: pd.Series) -> pd.Series:
    """Payload byte counts (null → 0) — shared by both media UDFs so the
    two output tables can never disagree on the semantics."""
    return payloads.map(lambda b: 0 if b is None else len(b)).astype("int64")


def _in_range(v, lo: int, hi: int):
    """Clamp probe values to the output schema's range AS NULL: a
    hostile header can claim width 2^31 or an ~1.8e22 ms duration, and
    an out-of-range value would raise TypeError in the Int32/Int64 cast
    OUTSIDE the per-row try — one crafted row killing the job (the r5
    review finding). Out-of-schema metadata is unknowable, not an
    error."""
    return v if (v is not None and lo <= v <= hi) else None


def metadata_udf(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas body: binary payload → the MEDIA_SCHEMA meta fields
    (mime/width/height/duration_ms), REAL for all nine known formats —
    including MP3/MP4, whose metadata is pure container/frame-header
    arithmetic even though their sample data stays codec-bound
    (``ops/mediameta.py``). Unknown/corrupt payloads degrade to an
    all-null struct; one bad row never kills the job."""
    from . import mediameta

    i32, i64 = (1 << 31) - 1, (1 << 63) - 1
    for pdf in batches:
        rows = []
        for p in pdf["payload"]:
            try:
                m = mediameta.probe_media(p)
            except ValueError:
                m = {"mime": None, "width": None, "height": None, "duration_ms": None}
            rows.append(m)
        yield pd.DataFrame(
            {
                "media_id": pdf["media_id"],
                "kind": pdf["kind"],
                "n_bytes": _n_bytes(pdf["payload"]),
                "mime": [r["mime"] for r in rows],
                "width": pd.array([_in_range(r["width"], 1, i32) for r in rows], dtype="Int32"),
                "height": pd.array([_in_range(r["height"], 1, i32) for r in rows], dtype="Int32"),
                "duration_ms": pd.array(
                    [_in_range(r["duration_ms"], 0, i64) for r in rows], dtype="Int64"
                ),
            }
        )


def media_metadata(df):
    """binary media table → typed-metadata table (mapInPandas,
    shuffle-free) — the MEDIA_SCHEMA ``meta`` struct, filled for real.
    At 100 TB these are the partition/filter columns (mime, dimensions,
    duration) a media pipeline prunes on before ever decoding samples."""
    return df.mapInPandas(metadata_udf, schema=META_SCHEMA)


def synthesize_media(spark, n: int = 64):
    """Deterministic fake media table for tests/benchmarks (payload =
    seeded bytes; kinds cycle image/audio/video)."""
    from pyspark.sql import functions as F  # noqa: N812

    df = spark.range(n).select(
        F.col("id").alias("media_id"),
        F.element_at(F.array(F.lit("image"), F.lit("audio"), F.lit("video")), (F.col("id") % 3 + 1).cast("int")).alias("kind"),
        F.encode(F.concat(F.lit("payload-"), F.sha2(F.col("id").cast("string"), 256)), "utf-8").alias("payload"),
        F.struct(
            F.lit("application/octet-stream").alias("mime"),
            F.lit(64).alias("width"),
            F.lit(64).alias("height"),
            (F.col("id") * 100).cast("int").alias("duration_ms"),
        ).alias("meta"),
    )
    return df


def synthesize_real_media(spark, n: int = 30):
    """Deterministic media table with REAL decodable payloads: 24-bit
    BMP gradients (image), PCM-16 WAV tones (audio), Y4M moving-bar
    clips (video) — cycling by id, seeded, identical on every call.
    Driver-generated (payloads are KB-scale test fixtures); production
    media arrives from a binary source, not from here."""
    from pyspark.sql import types as T

    from . import codecs

    rows = []
    for i in range(n):
        kind = ("image", "audio", "video")[i % 3]
        rng = np.random.default_rng(1000 + i)
        if kind == "image":
            w, h = 16 + (i % 3) * 8, 12 + (i % 2) * 8
            x = np.linspace(0, 255, w, dtype=np.float32)[None, :]
            y = np.linspace(0, 255, h, dtype=np.float32)[:, None]
            rgb = np.stack(
                [np.broadcast_to(x, (h, w)), np.broadcast_to(y, (h, w)), rng.integers(0, 255, (h, w))],
                axis=2,
            ).astype(np.uint8)
            payload, meta = codecs.encode_bmp(rgb), ("image/bmp", w, h, 0)
        elif kind == "audio":
            rate, dur_ms = 8000, 125 + 25 * (i % 4)
            t = np.arange(int(rate * dur_ms / 1000)) / rate
            tone = (np.sin(2 * np.pi * (220 + 55 * i) * t) * 12000).astype(np.int16)
            payload, meta = codecs.encode_wav(tone, rate), ("audio/wav", 0, 0, dur_ms)
        else:
            w, h, nf = 16, 12, 4 + i % 3
            frames = np.zeros((nf, h, w), np.uint8)
            for f in range(nf):
                frames[f, :, (f * 3) % w : (f * 3) % w + 2] = 255
            payload, meta = codecs.encode_y4m(frames), ("video/y4m", w, h, nf * 40)
        rows.append((i, kind, bytearray(payload), meta))
    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("kind", T.StringType()),
            T.StructField("payload", T.BinaryType()),
            T.StructField(
                "meta",
                T.StructType(
                    [
                        T.StructField("mime", T.StringType()),
                        T.StructField("width", T.IntegerType()),
                        T.StructField("height", T.IntegerType()),
                        T.StructField("duration_ms", T.IntegerType()),
                    ]
                ),
            ),
        ]
    )
    return spark.createDataFrame(rows, schema)


def resize_image(payload: bytes, width: int, height: int) -> bytes:
    """Image resize: REAL for BMP/PPM payloads — decode →
    nearest-neighbor kernel → re-encode in the SOURCE format, all numpy;
    compressed formats raise NotImplementedError (no codec library
    here)."""
    from . import codecs

    rgb = decode_image(payload)  # raises NotImplementedError for codec-bound formats
    resized = codecs.resize_nearest(rgb, width, height)
    if codecs.sniff_codec(payload) == "ppm":
        return codecs.encode_ppm(resized)
    return codecs.encode_bmp(resized)


def fake_resized_bytes(payload: bytes, width: int, height: int) -> bytes:
    """Deterministic resize stand-in: size-tagged digest of the source
    bytes (same contract shape a real resize has: bytes → bytes)."""
    tag = f"resized-{width}x{height}-".encode()
    return tag + hashlib.sha256(payload or b"").digest()


RESIZE_SCHEMA = "media_id BIGINT, width INT, height INT, payload BINARY"


def resize_media(df, width: int = 64, height: int = 64):
    """binary media → resized binary (mapInPandas): REAL
    decode→resize→re-encode for BMP payloads, deterministic fake bytes
    for codec-bound formats (same bytes→bytes contract)."""
    from . import codecs

    def one(p, w, h):
        if codecs.sniff_codec(p) in ("bmp", "ppm"):
            try:
                return resize_image(p, w, h)
            except ValueError:  # sniffed-but-corrupt: degrade, never kill the job
                pass
        return fake_resized_bytes(p, w, h)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "width": width,
                    "height": height,
                    "payload": [one(p, width, height) for p in pdf["payload"]],
                }
            )

    return df.mapInPandas(fn, schema=RESIZE_SCHEMA)


def byte_features(data: bytes, dim: int = FEATURE_DIM) -> np.ndarray:
    """REAL features over raw sample bytes (the honest feature basis for
    demuxed-but-codec-bound payloads, e.g. H.264 samples pulled out of
    an MP4): size, mean/std, byte entropy, distinct-byte fraction,
    first/last byte, and an 8-bin value histogram — 16 dims, all numpy.
    Deterministic in the bytes alone (unlike fake_features' seeded
    noise, these are interpretable statistics a dedup/quality pass can
    threshold on)."""
    a = np.frombuffer(data if data else b"\x00", np.uint8)
    p = np.bincount(a, minlength=256) / len(a)
    nz = p[p > 0]
    entropy = float(-(nz * np.log2(nz)).sum())
    hist8 = np.add.reduceat(p, np.arange(0, 256, 32))
    head = np.array(
        [
            float(len(a)),
            a.mean() / 255.0,
            a.std() / 255.0,
            entropy / 8.0,
            float((p > 0).sum()) / 256.0,
            a[0] / 255.0,
            a[-1] / 255.0,
            0.0,
        ],
        np.float32,
    )
    out = np.concatenate([head, hist8.astype(np.float32)])
    return out[:dim] if len(out) >= dim else np.pad(out, (0, dim - len(out)))


FRAME_SCHEMA = "media_id BIGINT, frame_idx INT, frame ARRAY<FLOAT>"


def frame_sample(df, n_frames: int = 4):
    """Video frame sampling: one media row → n_frames feature rows (the
    UDTF row-expansion shape). REAL for Y4M payloads — evenly sampled
    decoded frames, per-frame image features over the luma plane — and
    (r5) REAL at the container layer for MP4: the sampled frames are the
    actual video-track sample bytes pulled through the stsc/stco/stsz
    tables (``mediameta.demux_mp4``), featurized with byte statistics
    (``byte_features``) since pixel decode of the codec payload stays
    codec-bound. Fake deterministic frames only for unknown formats or
    corrupt streams."""
    from . import codecs, mediameta

    def rows_for(payload):
        if codecs.sniff_codec(payload) == "y4m":
            try:
                frames_y, _fps = codecs.decode_y4m(payload)
            except ValueError:  # sniffed-but-corrupt: degrade, never kill the job
                frames_y = None
            if frames_y is not None and len(frames_y):
                idx = np.linspace(0, len(frames_y) - 1, n_frames).astype(np.int64)
                return [
                    image_features(np.repeat(frames_y[j][:, :, None], 3, axis=2)).tolist()
                    for j in idx
                ]
        if payload is not None and len(payload) >= 12 and payload[4:8] in mediameta._MP4_BRANDS:
            try:
                samples = mediameta.mp4_track_samples(payload, "vide")
            except ValueError:  # corrupt container: degrade, never kill the job
                samples = []
            if samples:
                idx = np.linspace(0, len(samples) - 1, n_frames).astype(np.int64)
                return [byte_features(samples[j]["data"]).tolist() for j in idx]
        return [
            fake_features((payload or b"") + i.to_bytes(2, "big")).tolist()
            for i in range(n_frames)
        ]

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, frames = [], [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                for i, feat in enumerate(rows_for(payload)):
                    ids.append(mid)
                    idxs.append(i)
                    frames.append(feat)
            yield pd.DataFrame({"media_id": ids, "frame_idx": idxs, "frame": frames})

    return df.mapInPandas(fn, schema=FRAME_SCHEMA)
