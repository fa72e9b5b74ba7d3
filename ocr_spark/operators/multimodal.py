"""Multimodal columns: opaque ``binary`` media + typed metadata.

The Spark-side plumbing (schemas, batch shapes, partition strategy, UDF
signatures) is real and tested, and the codec work is REAL for the
formats that need no external library (:mod:`ocr_spark.operators.codecs`):
24-bit BMP, PNG (stdlib zlib inflate + numpy row unfiltering, all five
color types, every bit depth, Adam7 interlace), baseline JPEG
(pure-numpy Huffman + dequant + IDCT, 4:4:4/4:2:2/4:2:0, restart
markers), and GIF (from-scratch LZW, palettes, animation compositing)
images are pixel-decoded/re-encoded; PCM-16 WAV audio is
decoded/sliced via stdlib ``wave``; Motion-JPEG AVI video is demuxed and
frame-decoded; progressive (SOF2) JPEG decodes through the same
multi-scan coefficient path.  What remains stubbed behind
:data:`HAVE_MEDIA_LIBS` is modern video (H.264/VP9…):
:func:`_decode_image_stub` raises
``NotImplementedError`` unless ``deterministic_fake=True``, which produces
a seeded fake feature vector so the distributed plumbing is exercised even
for undecodable payloads.

Design points that survive a 100 TB corpus:
* media bytes stay in-column (no driver collect, no temp files);
* ``mapInPandas`` processes whole Arrow batches — metadata-only projections
  never deserialize the binary column (columnar pruning);
* decode output is a fixed-width ``array<float>`` feature column + a typed
  metadata struct, so downstream joins/ANN shuffle features, not bytes;
* per-batch byte budget: huge blobs are truncated with a lineage note, the
  analog of the resize cap P7 (``image_processor.py:227-241``).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from ocr_spark.operators import codecs

try:  # pragma: no cover - the container has no media libs by design
    import PIL.Image  # noqa: F401
    HAVE_MEDIA_LIBS = True
except ImportError:
    HAVE_MEDIA_LIBS = False

MEDIA_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("kind", T.StringType(), True),       # image | audio | video
    T.StructField("payload", T.BinaryType(), True),    # opaque encoded bytes
    T.StructField("meta", T.StructType([
        T.StructField("mime", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_ms", T.IntegerType(), True),
    ]), True),
])

FEATURE_DIM = 32

FEATURES_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("kind", T.StringType(), True),
    T.StructField("n_bytes", T.LongType(), True),
    T.StructField("sha_prefix", T.StringType(), True),
    # True = real codec decode (BMP/WAV within the size cap); False = the
    # stub/fake path (unsupported format OR oversize payload) — consumers
    # must be able to tell real features from placeholders
    T.StructField("decoded", T.BooleanType(), True),
    T.StructField("features", T.ArrayType(T.FloatType()), True),
])

MAX_PAYLOAD_BYTES = 8 * 1024 * 1024  # P7 analog: cap pathological blobs
# frame-sampling explode cap: the emitted-row count derives from
# payload-declared durations/rates, which a hostile blob controls — a
# tiny AVI claiming µs-per-frame=0xFFFFFFFF must not explode into
# millions of output rows per input row
MAX_SAMPLED_FRAMES = 2048


def _decode_image_stub(payload: bytes, deterministic_fake: bool) -> np.ndarray:
    """Fallback for payloads the pure-python codecs cannot decode
    (H.264/VP9, arbitrary containers…).

    Real implementation would be: decode (PIL/libav) → resize/frame-sample
    → embed.  STUB: without media libs, either raise (production guard) or
    emit a deterministic fake derived from the payload bytes (test path).
    """
    if HAVE_MEDIA_LIBS:  # pragma: no cover
        raise NotImplementedError("real decode path not wired in this build")
    if not deterministic_fake:
        raise NotImplementedError(
            "media decode requires image/audio libs not present in this container")
    # seeded fake: stable per payload, exercises the full distributed path
    seed = int.from_bytes(payload[:8].ljust(8, b"\0"), "little") & 0x7FFFFFFF
    rng = np.random.RandomState(seed)
    return rng.normal(size=FEATURE_DIM).astype("float32")


def _image_features(px: np.ndarray) -> list[float]:
    """Real image features from decoded pixels: dims, channel moments,
    16-bin luminance histogram, gradient energy — FEATURE_DIM floats."""
    h, w = px.shape[:2]
    flat = px.reshape(-1, 3).astype(np.float64)
    gray = flat.mean(axis=1)
    f = [float(w), float(h)]
    f += flat.mean(axis=0).tolist() + flat.std(axis=0).tolist()
    hist, _ = np.histogram(gray, bins=16, range=(0.0, 256.0))
    f += (hist / max(1, gray.size)).tolist()
    f += [float(gray.min()), float(gray.max()),
          float(np.abs(np.diff(px.astype(np.int32), axis=0)).mean())
          if h > 1 else 0.0,
          float(np.abs(np.diff(px.astype(np.int32), axis=1)).mean())
          if w > 1 else 0.0]
    f += [0.0] * (FEATURE_DIM - len(f))
    return [float(np.float32(v)) for v in f[:FEATURE_DIM]]


def _audio_features(pcm: np.ndarray, rate: int) -> list[float]:
    """Real audio features from decoded PCM: length, rate, RMS,
    zero-crossing rate, range, 16-band spectrum — FEATURE_DIM floats."""
    x = pcm.astype(np.float64)
    n = x.size
    f = [float(n), float(rate),
         float(np.sqrt((x ** 2).mean())) if n else 0.0,
         float((np.signbit(x[1:]) != np.signbit(x[:-1])).mean())
         if n > 1 else 0.0,
         float(x.min()) if n else 0.0,
         float(x.max()) if n else 0.0]
    if n:
        spec = np.abs(np.fft.rfft(x))
        f += [float(b.mean()) if b.size else 0.0
              for b in np.array_split(spec, 16)]
    f += [0.0] * (FEATURE_DIM - len(f))
    return [float(np.float32(v)) for v in f[:FEATURE_DIM]]


def media_feature_vector(payload: bytes,
                         deterministic_fake: bool) -> tuple[bool, list[float]]:
    """(decoded, features): REAL decode for in-cap BMP/WAV payloads;
    stub/fake for unsupported formats and for payloads over the size cap
    (P7 policy: oversize media is flagged, never silently half-decoded —
    the cap is checked BEFORE dispatch so a truncated header can't
    masquerade as an undecodable format)."""
    if len(payload) <= MAX_PAYLOAD_BYTES:
        # GIF first: decode_image would consume EVERY gif (first frame),
        # making an animated-GIF-as-video branch after it unreachable
        gif = codecs.decode_gif(payload)
        if gif is not None:
            gframes, delays = gif
            if len(gframes) > 1:             # animated GIF as video
                f = _image_features(gframes[0])
                rate = 1000.0 / delays[0] if delays and delays[0] else 10.0
                f[-2], f[-1] = float(len(gframes)), float(rate)
                return True, f
            return True, _image_features(gframes[0])
        img = codecs.decode_image(payload)   # BMP/PNG/JPEG, real pixels
        if img is not None:
            return True, _image_features(img[0])
        wav = codecs.decode_wav(payload)
        if wav is not None:
            return True, _audio_features(*wav)
        avi = codecs.decode_avi_mjpeg(payload)
        if avi is not None:                  # real demux + first-frame decode
            frames, fps = avi
            first = codecs.decode_jpeg(frames[0])
            if first is not None:
                f = _image_features(first)
                f[-2], f[-1] = float(len(frames)), float(fps)
                return True, f
    capped = payload[:MAX_PAYLOAD_BYTES]
    return False, [float(v) for v in _decode_image_stub(capped,
                                                        deterministic_fake)]


def extract_media_features(df: DataFrame,
                           deterministic_fake: bool = True) -> DataFrame:
    """media table → (media_id, kind, n_bytes, sha_prefix, features).

    ``mapInPandas`` so one Python worker handles an entire Arrow batch
    (``spark.sql.execution.arrow.maxRecordsPerBatch`` bounds how many
    blobs one batch holds in worker memory).
    """

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib
        for pdf in batches:
            # column-wise over the Arrow batch (no per-row Series views);
            # the per-payload codec call is inherently per-blob work.
            # Payloads arrive UNtruncated: the size cap is a per-format
            # policy inside media_feature_vector, not a blind prefix cut.
            payloads = [bytes(p) if p is not None else b""
                        for p in pdf["payload"]]
            results = [media_feature_vector(p, deterministic_fake)
                       for p in payloads]
            yield pd.DataFrame({
                "media_id": pdf["media_id"].to_numpy(),
                "kind": pdf["kind"].to_numpy(dtype=object),
                "n_bytes": [len(p) for p in payloads],
                "sha_prefix": [hashlib.sha256(
                    p[:MAX_PAYLOAD_BYTES]).hexdigest()[:16]
                               for p in payloads],
                "decoded": [r[0] for r in results],
                "features": [r[1] for r in results],
            })

    # project only the needed columns BEFORE the python stage so parquet
    # column pruning skips unrelated data
    slim = df.select("media_id", "kind", "payload")
    return slim.mapInPandas(process, schema=FEATURES_SCHEMA)


FRAME_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("frame_idx", T.IntegerType(), False),
    T.StructField("ts_ms", T.IntegerType(), True),
    T.StructField("frame", T.BinaryType(), True),
])


def sample_frames(df: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video/audio rows → one row per sampled frame (1→N mapInPandas shape).

    WAV payloads get REAL PCM windowing: the stream is decoded and each
    ``every_ms`` window is re-encoded as a standalone WAV clip.  MJPEG
    AVI payloads get REAL container demux: the ``movi`` chunks are
    walked and the JPEG frame nearest each ``every_ms`` tick is emitted
    (decodable by :func:`codecs.decode_jpeg`).  Other video codecs
    (H.264…) need external libs (stubbed): the deterministic fake emits
    duration//every_ms payload slices, exercising the explode-shaped
    batch contract either way.
    """

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload, meta in zip(
                    pdf["media_id"], pdf["payload"], pdf["meta"]):
                # P7 cap before any decode — media_features truncates
                # via its own size policy; this one decodes directly
                payload = bytes(payload or b"")[:MAX_PAYLOAD_BYTES]
                avi = codecs.decode_avi_mjpeg(payload)
                if avi is not None:
                    frames, fps = avi
                    total_ms = int(len(frames) * 1000 / fps)
                    n = min(max(1, total_ms // every_ms),
                            MAX_SAMPLED_FRAMES)
                    for i in range(n):
                        src = min(len(frames) - 1,
                                  int(round(i * every_ms * fps / 1000)))
                        rows.append({"media_id": mid, "frame_idx": i,
                                     "ts_ms": i * every_ms,
                                     "frame": frames[src]})
                    continue
                gif = codecs.decode_gif(payload)
                if gif is not None and len(gif[0]) > 1:
                    # animated GIF: real frame timeline from per-frame
                    # delays; each tick emits the composited frame
                    # re-encoded as a standalone single-frame GIF
                    gframes, delays = gif
                    starts = []
                    t = 0
                    for d in delays:
                        starts.append(t)
                        t += d or 100
                    n = min(max(1, t // every_ms), MAX_SAMPLED_FRAMES)
                    for i in range(n):
                        ts = i * every_ms
                        src = max(si for si, s in enumerate(starts)
                                  if s <= ts)
                        try:
                            clip = codecs.encode_gif([gframes[src]])
                        except ValueError:
                            # composition across per-frame palettes can
                            # exceed 256 colors — quantize, never fail
                            clip = codecs.encode_gif(
                                [codecs._posterize_332(gframes[src])])
                        rows.append({"media_id": mid, "frame_idx": i,
                                     "ts_ms": ts, "frame": clip})
                    continue
                wav = codecs.decode_wav(payload)
                if wav is not None:
                    pcm, rate = wav
                    # rate is HEADER-DECLARED, hence attacker-controlled:
                    # rate=1 makes win=1 and n=len(pcm) — one in-cap row
                    # exploding into millions of output rows without the
                    # MAX_SAMPLED_FRAMES cap every other branch applies;
                    # rate=0 decodes fine but wave.setframerate(0) raises
                    # on RE-encode, so clamp it for the clip headers
                    rate = max(1, rate)
                    win = max(1, rate * every_ms // 1000)
                    n = min(max(1, -(-len(pcm) // win)),
                            MAX_SAMPLED_FRAMES)
                    for i in range(n):
                        clip = pcm[i * win:(i + 1) * win]
                        rows.append({"media_id": mid, "frame_idx": i,
                                     "ts_ms": i * every_ms,
                                     "frame": codecs.encode_wav(clip, rate)})
                    continue
                duration = (meta["duration_ms"] if meta is not None
                            else 0) or 0
                n = (min(max(1, duration // every_ms), MAX_SAMPLED_FRAMES)
                     if duration else 1)
                step = max(1, len(payload) // n)
                for i in range(n):
                    rows.append({"media_id": mid, "frame_idx": i,
                                 "ts_ms": i * every_ms,
                                 "frame": payload[i * step:(i + 1) * step]})
            yield pd.DataFrame(rows, columns=[f.name for f in FRAME_SCHEMA])

    slim = df.filter(F.col("kind").isin("video", "audio")) \
        .select("media_id", "payload", "meta")
    return slim.mapInPandas(process, schema=FRAME_SCHEMA)


def synthetic_media(spark, rows: int = 64) -> DataFrame:
    """Deterministic media table for tests/benches.

    Image rows rotate through four REAL containers — 24-bit BMP, PNG
    (zlib inflate + row unfiltering), baseline JPEG (Huffman + IDCT), and
    progressive JPEG (multi-scan SOF2) — over seeded gradient+noise
    pixels, and audio rows carry REAL PCM-16 WAVs
    (seeded sine+noise), so the decode paths above run genuine codec work
    end-to-end; video rows stay opaque seeded bytes (no pure-python video
    container), exercising the stub branch.
    """
    def make(i: int):
        kind = ("image", "audio", "video")[i % 3]
        rng = np.random.RandomState(0x3D1A ^ i)
        if kind == "image":
            w, h = 48 + (i % 5) * 16, 32 + (i % 7) * 8
            yy, xx = np.mgrid[0:h, 0:w]
            px = np.stack([(xx * 255 // max(1, w - 1)),
                           (yy * 255 // max(1, h - 1)),
                           rng.randint(0, 256, size=(h, w))],
                          axis=-1).astype(np.uint8)
            container = (i // 3) % 4
            if container == 0:
                return (i, kind, codecs.encode_bmp(px),
                        {"mime": "image/bmp", "width": w, "height": h,
                         "duration_ms": None})
            if container == 1:
                return (i, kind, codecs.encode_png(px),
                        {"mime": "image/png", "width": w, "height": h,
                         "duration_ms": None})
            enc = (codecs.encode_jpeg if container == 2
                   else codecs.encode_jpeg_progressive)
            return (i, kind, enc(px),
                    {"mime": "image/jpeg", "width": w, "height": h,
                     "duration_ms": None})
        if kind == "audio":
            rate = 8000
            dur_ms = 1000 * (1 + i % 5)
            t = np.arange(rate * dur_ms // 1000)
            tone = (3000 * np.sin(2 * np.pi * (110 + 13 * i) * t / rate)
                    + rng.normal(scale=300, size=t.size))
            pcm = np.clip(tone, -32768, 32767).astype(np.int16)
            return (i, kind, codecs.encode_wav(pcm, rate),
                    {"mime": "audio/wav", "width": None, "height": None,
                     "duration_ms": dur_ms})
        container = (i // 3) % 3
        if container == 0:
            # REAL Motion-JPEG AVI: n JPEG frames of a moving gradient
            n_frames = 4 + i % 4
            fps = 4
            frames = []
            for fi in range(n_frames):
                w, h = 24, 16
                yy, xx = np.mgrid[0:h, 0:w]
                px = np.stack([(xx * 255 // (w - 1) + fi * 9) % 256,
                               (yy * 255 // (h - 1)),
                               np.full((h, w), (i * 31 + fi * 5) % 256)],
                              axis=-1).astype(np.uint8)
                frames.append(codecs.encode_jpeg(px))
            return (i, kind, codecs.encode_avi_mjpeg(frames, fps),
                    {"mime": "video/x-motion-jpeg", "width": 24, "height": 16,
                     "duration_ms": 1000 * n_frames // fps})
        if container == 1:
            # REAL animated GIF: moving block over a flat background
            n_frames = 3 + i % 3
            frames = []
            for fi in range(n_frames):
                px = np.full((12, 20, 3), 32, dtype=np.uint8)
                px[4:8, 2 + 3 * fi:6 + 3 * fi] = [250, 60, (i * 23) % 256]
                frames.append(px)
            return (i, kind, codecs.encode_gif(frames, delay_ms=250),
                    {"mime": "image/gif", "width": 20, "height": 12,
                     "duration_ms": 250 * n_frames})
        payload = bytes(((i * 131 + j * 17) % 256)
                        for j in range(256 + i % 512))
        return (i, kind, payload,
                {"mime": "application/x-fake-video", "width": None,
                 "height": None, "duration_ms": 1000 * (i % 30)})
    from ocr_spark.localrel import local_df
    return local_df(spark, [make(i) for i in range(rows)], MEDIA_SCHEMA)
