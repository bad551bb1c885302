"""Multimodal columns: images/audio as opaque ``binary`` + typed metadata.

Reference analogs: CLIP embedding extraction (C3,
/root/reference/image/method/pipeline_api.py:357-455), average-RGB fallback
embedding (C4, :458-490), binary spectrogram fingerprint (C5,
/root/reference/audio/method/spectrum_fingerprint.py:11-41), audio pHash
exact dedup (J16, audio/method/pipeline_api.py:448-494), binary-vector
Jaccard dedup (J14, audio/method/pipeline_api.py:580-633).

This container ships no image/audio libs (PIL/librosa/torch), so the DECODE
step is pluggable: real decoders are attempted behind import-try and raise
``NotImplementedError`` when absent; a deterministic FAKE codec (``FAKEIMG``
/ ``FAKEPCM`` byte layouts) keeps the Spark-side plumbing — schemas,
mapInPandas batch shapes, partitioning, downstream dedup — fully real and
tested. A production deployment swaps ``decode_image_bytes`` /
``decode_audio_bytes`` only.
"""

from __future__ import annotations

import struct
from typing import Iterator, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image | audio
        T.StructField("data", T.BinaryType(), False),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("sample_rate", T.IntegerType(), True),
                ]
            ),
            True,
        ),
    ]
)

# ---------------------------------------------------------------------------
# fake codec (deterministic; the container has no PIL/librosa)
# ---------------------------------------------------------------------------

_FAKEIMG_MAGIC = b"FAKEIMG1"
_FAKEPCM_MAGIC = b"FAKEPCM1"


def encode_fake_image(pixels: np.ndarray) -> bytes:
    """(h, w, 3) uint8 → bytes."""
    h, w, c = pixels.shape
    assert c == 3
    return _FAKEIMG_MAGIC + struct.pack("<II", w, h) + pixels.tobytes()


def encode_fake_audio(samples: np.ndarray, sample_rate: int = 16000) -> bytes:
    """int16 mono samples → bytes."""
    return _FAKEPCM_MAGIC + struct.pack("<I", sample_rate) + samples.astype(
        "<i2"
    ).tobytes()


def decode_image_bytes(data: bytes) -> np.ndarray:
    """→ (h, w, 3) uint8. Fake codec decoded natively; real formats need PIL
    (not in this image → NotImplementedError)."""
    if data[:8] == _FAKEIMG_MAGIC:
        w, h = struct.unpack("<II", data[8:16])
        return np.frombuffer(data[16 : 16 + w * h * 3], dtype=np.uint8).reshape(
            h, w, 3
        )
    try:  # pragma: no cover - PIL absent in CI image
        import io

        from PIL import Image

        return np.asarray(Image.open(io.BytesIO(data)).convert("RGB"))
    except ImportError as exc:
        raise NotImplementedError(
            "real image decoding requires PIL — not available in this image"
        ) from exc


def decode_audio_bytes(data: bytes) -> Tuple[np.ndarray, int]:
    """→ (float32 samples in [-1, 1], sample_rate)."""
    if data[:8] == _FAKEPCM_MAGIC:
        (sr,) = struct.unpack("<I", data[8:12])
        samples = np.frombuffer(data[12:], dtype="<i2").astype(np.float32) / 32768.0
        return samples, sr
    raise NotImplementedError(
        "real audio decoding requires librosa/soundfile — not in this image"
    )


# ---------------------------------------------------------------------------
# image ops (mapInPandas — Arrow batches of binary payloads)
# ---------------------------------------------------------------------------


def image_stats(media: DataFrame) -> DataFrame:
    """Decode + per-image stats: the C4 average-RGB fallback embedding
    (mean + std per channel = 6 dims, reference pipeline_api.py:458-490,
    computed at the reference's 64x64 resize scale)."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for mid, data in zip(pdf["media_id"], pdf["data"]):
                px = decode_image_bytes(bytes(data))
                small = _resize_nn(px, 64, 64).astype(np.float64) / 255.0
                emb = np.concatenate([small.mean(axis=(0, 1)), small.std(axis=(0, 1))])
                out.append(
                    {
                        "media_id": int(mid),
                        "width": px.shape[1],
                        "height": px.shape[0],
                        "embedding": [float(x) for x in emb],
                    }
                )
            yield pd.DataFrame(out)

    return media.filter(F.col("kind") == "image").mapInPandas(
        op,
        schema="media_id long, width int, height int, embedding array<double>",
    )


def _resize_nn(px: np.ndarray, w: int, h: int) -> np.ndarray:
    """Nearest-neighbor resize — pure numpy (reference uses PIL/cv2; the
    arithmetic here is deterministic and library-free)."""
    ys = (np.arange(h) * px.shape[0] / h).astype(int)
    xs = (np.arange(w) * px.shape[1] / w).astype(int)
    return px[ys][:, xs]


def resize_images(media: DataFrame, w: int, h: int) -> DataFrame:
    """Decode → resize → re-encode (fake codec), keeping payloads binary."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, data in zip(pdf["media_id"], pdf["data"]):
                px = decode_image_bytes(bytes(data))
                rows.append(
                    {
                        "media_id": int(mid),
                        "data": encode_fake_image(_resize_nn(px, w, h)),
                    }
                )
            yield pd.DataFrame(rows)

    return media.filter(F.col("kind") == "image").mapInPandas(
        op, schema="media_id long, data binary"
    )


# ---------------------------------------------------------------------------
# audio ops
# ---------------------------------------------------------------------------

_FP_BINS = 4096


def audio_fingerprints(media: DataFrame) -> DataFrame:
    """C5 analog: per-clip binary fingerprint as array of ACTIVE BIN INDICES
    (the reference flattens a thresholded 32x128 spectrogram to a 4096-dim
    0/1 vector — spectrum_fingerprint.py:11-41; active-index form feeds the
    set-based LSH machinery directly). Librosa is stubbed: the energy
    matrix is a deterministic windowed-RMS grid over the PCM."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, data in zip(pdf["media_id"], pdf["data"]):
                samples, sr = decode_audio_bytes(bytes(data))
                grid = _rms_grid(samples, 32, 128)
                thresh = np.median(grid)  # Otsu stand-in, deterministic
                active = np.nonzero((grid > thresh).ravel())[0]
                rows.append(
                    {
                        "media_id": int(mid),
                        "fp_indices": [int(i) for i in active],
                    }
                )
            yield pd.DataFrame(rows)

    return media.filter(F.col("kind") == "audio").mapInPandas(
        op, schema="media_id long, fp_indices array<long>"
    )


def _rms_grid(samples: np.ndarray, rows: int, cols: int) -> np.ndarray:
    n = rows * cols
    if samples.size < n:
        samples = np.pad(samples, (0, n - samples.size))
    cut = samples[: samples.size // n * n]
    return np.sqrt(
        (cut.reshape(n, -1) ** 2).mean(axis=1)
    ).reshape(rows, cols)


def audio_near_dup_edges(
    fingerprints: DataFrame,
    threshold: float = 0.8,
    num_perm: int = 200,
    bucket_cap: int = 2000,
) -> DataFrame:
    """J7-J9/J14: binary-fingerprint near-dup via the SAME MinHash+banding
    machinery as text — active-index sets are just another feature universe.
    (b, r) from the reference's own parameter rule (b*r = num_perm,
    audio_dedup_main.py:35-62 → (20, 10) at 200/0.8)."""
    from deduplication_framework_spark.functions import kernels as K
    from deduplication_framework_spark.operators.lsh import (
        candidate_pairs,
        minhash_bands,
    )
    from deduplication_framework_spark.operators.verify import verify_jaccard
    from pyspark.sql.pandas.functions import pandas_udf

    b, r = K.lsh_param_search(num_perm, threshold)
    perms = K.minhash_permutations(num_perm)

    @pandas_udf(T.ArrayType(T.LongType()))
    def sig_udf(idx_lists: pd.Series) -> pd.Series:
        out = []
        for idxs in idx_lists:
            if idxs is None:
                idxs = []
            feats = [struct.pack("<q", int(i)) for i in idxs]
            out.append(K.minhash_signature(feats, perms).astype(np.int64).tolist())
        return pd.Series(out)

    sigs = fingerprints.select(
        F.col("media_id").alias("doc_id"), sig_udf("fp_indices").alias("sig")
    )
    bands = minhash_bands(sigs, b, r)
    pairs, _ = candidate_pairs(bands, bucket_cap=bucket_cap,
                               collision_threshold=2)
    feats = fingerprints.select(
        F.col("media_id").alias("doc_id"), F.col("fp_indices").alias("shingles")
    )
    return verify_jaccard(pairs, feats, threshold)


# ---------------------------------------------------------------------------
# video ops — binary payloads + frame sampling (task mandate: multimodal
# columns incl. video; the reference has no video modality, so the design
# mirrors its image/audio pattern: opaque bytes → decode → per-frame
# features → the same set-based dedup machinery)
# ---------------------------------------------------------------------------

_FAKEVID_MAGIC = b"FAKEVID1"


def encode_fake_video(frames: np.ndarray, fps: float = 12.0) -> bytes:
    """(n, h, w, 3) uint8 frame stack → bytes."""
    n, h, w, c = frames.shape
    assert c == 3
    return (
        _FAKEVID_MAGIC
        + struct.pack("<IIIf", w, h, n, fps)
        + frames.tobytes()
    )


def decode_video_bytes(data: bytes) -> Tuple[np.ndarray, float]:
    """→ ((n, h, w, 3) uint8 frames, fps). Real containers need PyAV/ffmpeg
    (not in this image → NotImplementedError); the fake codec keeps the
    Spark plumbing real."""
    if data[:8] == _FAKEVID_MAGIC:
        if len(data) < 24:
            raise ValueError(
                f"truncated FAKEVID payload: {len(data)} bytes < 24-byte header"
            )
        w, h, n, fps = struct.unpack("<IIIf", data[8:24])
        expected = 24 + n * h * w * 3
        if len(data) < expected:
            raise ValueError(
                f"truncated FAKEVID frame buffer: {len(data)} bytes < "
                f"{expected} expected (w={w} h={h} n_frames={n})"
            )
        frames = np.frombuffer(
            data[24:expected], dtype=np.uint8
        ).reshape(n, h, w, 3)
        return frames, float(fps)
    raise NotImplementedError(
        "real video decoding requires PyAV/ffmpeg — not in this image"
    )


def _frame_embedding(frame: np.ndarray) -> np.ndarray:
    """Per-frame 6-dim avg-RGB embedding (the C4 image embedding applied
    framewise, at the same 64x64 resize scale)."""
    small = _resize_nn(frame, 64, 64).astype(np.float64) / 255.0
    return np.concatenate([small.mean(axis=(0, 1)), small.std(axis=(0, 1))])


def sample_video_frames(media: DataFrame, n_frames: int = 8) -> DataFrame:
    """Uniform frame sampling: one OUTPUT ROW per sampled frame —
    (media_id, frame_idx, ts_sec, embedding). The fan-out happens inside
    mapInPandas so a 2-hour clip never materializes as a driver object, and
    downstream per-frame ops inherit the media partitioning."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, data in zip(pdf["media_id"], pdf["data"]):
                frames, fps = decode_video_bytes(bytes(data))
                n = frames.shape[0]
                idxs = np.unique(
                    np.linspace(0, n - 1, min(n_frames, n)).round().astype(int)
                )
                for i in idxs:
                    rows.append(
                        {
                            "media_id": int(mid),
                            "frame_idx": int(i),
                            "ts_sec": float(i / fps) if fps else 0.0,
                            "embedding": [float(x) for x in _frame_embedding(frames[i])],
                        }
                    )
            yield pd.DataFrame(
                rows,
                columns=["media_id", "frame_idx", "ts_sec", "embedding"],
            )

    return media.filter(F.col("kind") == "video").mapInPandas(
        op,
        schema="media_id long, frame_idx int, ts_sec double, "
        "embedding array<double>",
    )


def video_fingerprints(
    media: DataFrame, n_frames: int = 8, quant: int = 16
) -> DataFrame:
    """Per-video fingerprint = the SET of quantized per-frame embedding
    hashes (deduplicated). Quantization (``quant`` levels per dim) makes
    the frame hash robust to small pixel noise; identical frames always
    collide. → (media_id, fhashes array<long>)."""
    from deduplication_framework_spark.functions.kernels import _splitmix64

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, data in zip(pdf["media_id"], pdf["data"]):
                frames, _fps = decode_video_bytes(bytes(data))
                n = frames.shape[0]
                idxs = np.unique(
                    np.linspace(0, n - 1, min(n_frames, n)).round().astype(int)
                )
                hashes = set()
                for i in idxs:
                    q = np.minimum(
                        (_frame_embedding(frames[i]) * quant).astype(np.uint64),
                        np.uint64(quant - 1),
                    )
                    acc = np.uint64(0)
                    with np.errstate(over="ignore"):
                        for v in q:
                            acc = _splitmix64(
                                np.array([acc * np.uint64(quant) + v], dtype=np.uint64)
                            )[0]
                    hashes.add(int(np.int64(acc)))
                rows.append(
                    {"media_id": int(mid), "fhashes": sorted(hashes)}
                )
            yield pd.DataFrame(rows, columns=["media_id", "fhashes"])

    return media.filter(F.col("kind") == "video").mapInPandas(
        op, schema="media_id long, fhashes array<long>"
    )


def video_near_dup_edges(
    media: DataFrame,
    threshold: float = 0.5,
    n_frames: int = 8,
    bucket_cap: int = 2000,
) -> DataFrame:
    """Video near-dup: shared-frame-hash buckets → candidate pairs → exact
    Jaccard of the frame-hash sets (tiny arrays → JVM array_intersect).
    Same bucket/pair/verify machinery as every other detector — videos are
    just another feature universe."""
    from deduplication_framework_spark.functions.text import jaccard_expr
    from deduplication_framework_spark.operators.lsh import (
        _persist_tracked,
        candidate_pairs,
    )

    fps_df = _persist_tracked(video_fingerprints(media, n_frames=n_frames))
    bands = fps_df.select(
        F.col("media_id").alias("doc_id"),
        F.lit(0).alias("band_idx"),
        F.explode("fhashes").alias("band_key"),
    )
    pairs, _ = candidate_pairs(bands, bucket_cap=bucket_cap)
    a = fps_df.select(F.col("media_id").alias("src"), F.col("fhashes").alias("fa"))
    b = fps_df.select(F.col("media_id").alias("dst"), F.col("fhashes").alias("fb"))
    edges = (
        pairs.join(a, "src")
        .join(b, "dst")
        .withColumn("sim", jaccard_expr(F.col("fa"), F.col("fb")))
        .filter(F.col("sim") >= threshold)
        .select("src", "dst", "sim")
    )
    return edges


def phash_exact_dedup(media: DataFrame) -> Tuple[DataFrame, DataFrame]:
    """J16: exact perceptual-hash dedup = hash of the decoded fingerprint
    grid, groupBy + first-seen keeper (same shape as text P7)."""
    from deduplication_framework_spark.operators.exact import exact_dedup

    fps = audio_fingerprints(media).withColumn(
        "phash", F.xxhash64(F.col("fp_indices").cast("string"))
    )
    docs = fps.select(F.col("media_id").alias("doc_id"), F.col("phash").alias("text"))
    return exact_dedup(docs, text_col="text")
