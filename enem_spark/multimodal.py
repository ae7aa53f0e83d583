"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Image/audio/video payloads are carried as `binary` columns with a metadata
struct; decode/feature-extract run as Arrow-batched functions over
mapInPandas. Container-header metadata is REAL (`sniff_media`: PNG-IHDR /
JPEG-SOF parses from enem_spark.imaging), and PIXEL features are REAL for
every codec the repo decodes (`decode_pixels`: PNG via imaging.png_decode,
baseline JPEG via imaging.jpeg_decode — the same from-scratch kernels the
PDF image path certifies). Codecs outside that set (progressive JPEG,
video) fall back to `decode_stub`: a reproducible digest-derived vector
when `deterministic_fake=True`, else None (quarantine, not crash) — the
Spark-side plumbing (schema, batching, partitioning, UDF signature) is
identical on both paths.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from . import stage

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("content_md5", T.StringType()),
        T.StructField("format", T.StringType()),
        T.StructField("width", T.LongType()),
        T.StructField("height", T.LongType()),
        T.StructField("channels", T.LongType()),
        T.StructField("bit_depth", T.LongType()),
        T.StructField("features", T.ArrayType(T.FloatType())),
    ]
)

FEATURE_DIM = 8
# driver-parity resize target: small enough that the 8x8 PNG re-encode is
# cheap per row, big enough to exercise both axes of the resampler
RESIZE_PARITY_W = 8
RESIZE_PARITY_H = 8


def sniff_media(payload: bytes) -> dict:
    """REAL container-header metadata (no pixel decode needed): PNG IHDR
    and JPEG SOF parses from enem_spark.imaging give actual
    width/height/channels/bit depth; anything else is 'unknown' with
    zeroed dims. Pure bytes-in so the same function runs in the UDF, the
    expected staging, and unit tests."""
    from . import imaging

    hdr = imaging.png_parse(payload) or imaging.jpeg_parse(payload)
    if hdr:
        return {
            "format": hdr["format"],
            "width": hdr["width"],
            "height": hdr["height"],
            "channels": hdr["channels"],
            "bit_depth": hdr["bit_depth"],
        }
    return {"format": "unknown", "width": 0, "height": 0, "channels": 0,
            "bit_depth": 0}


def decode_pixels(payload: bytes):
    """REAL pixel decode via the in-repo codecs: PNG through
    imaging.png_decode (inflate + row unfilter + palette expand) and
    baseline JPEG through imaging.jpeg_decode (from-scratch SOF0 Huffman +
    IDCT). Returns (width, height, channels, 8-bit samples) or None for
    codecs the repo can't decode (progressive JPEG, 16-bit PNG, non-image
    bytes)."""
    from . import imaging

    if payload.startswith(b"\x89PNG\r\n\x1a\n"):
        return imaging.png_decode(payload)
    if payload[:2] == b"\xff\xd8":
        return imaging.jpeg_decode(payload)
    return None


def pixel_features(width: int, height: int, channels: int,
                   samples: bytes) -> list[float]:
    """FEATURE_DIM pixel statistics from decoded 8-bit samples: overall
    mean/std/min/max (0..1), 256-bin histogram entropy (bits/8), and the
    first three channel means (absent channels report 0). Integer inputs +
    fixed reduction order + round(6) keep the vector bit-deterministic, so
    the pure expected staging reproduces it exactly."""
    import numpy as np

    arr = np.frombuffer(samples, dtype=np.uint8)
    n = width * height * channels
    arr = arr[:n]
    if arr.size == 0:
        return [0.0] * FEATURE_DIM
    hist = np.bincount(arr, minlength=256).astype(np.float64)
    p = hist[hist > 0] / arr.size
    entropy = float(-(p * np.log2(p)).sum())
    px = arr.reshape(-1, channels)
    ch_means = [
        float(px[:, c].mean()) / 255.0 if c < channels else 0.0
        for c in range(3)
    ]
    feats = [
        float(arr.mean()) / 255.0,
        float(arr.std()) / 255.0,
        float(arr.min()) / 255.0,
        float(arr.max()) / 255.0,
        entropy / 8.0,
        *ch_means,
    ]
    return [round(f, 6) for f in feats]


def media_feature_vector(
    payload: bytes, deterministic_fake: bool = True
) -> list[float] | None:
    """Feature vector for one payload: REAL pixel stats whenever the
    in-repo codecs decode it (PNG, baseline JPEG); otherwise the
    deterministic digest fake when ``deterministic_fake`` (plumbing
    exercised end to end), else None (quarantine semantics — one
    undecodable payload must not kill the job)."""
    dec = decode_pixels(payload)
    if dec is not None:
        return pixel_features(*dec)
    return decode_stub(payload, deterministic_fake)


def decode_stub(payload: bytes, deterministic_fake: bool) -> list[float] | None:
    """Fallback for codecs the in-repo decoders don't cover (progressive
    JPEG, video containers): a deterministic digest-derived vector when
    ``deterministic_fake``, else None. Real pixel decode lives in
    :func:`decode_pixels` / :func:`pixel_features`."""
    if not deterministic_fake:
        return None
    digest = hashlib.sha256(payload).digest()
    return [round(b / 255.0, 6) for b in digest[:FEATURE_DIM]]


def featurize_media(
    media: DataFrame,
    id_col: str = "media_id",
    payload_col: str = "payload",
    media_type: str = "image",
    deterministic_fake: bool = True,
) -> DataFrame:
    """mapInPandas featurizer: (id, binary payload) -> MEDIA_SCHEMA rows.

    Arrow-batched; one pass; no shuffle. At scale, partition the input by
    payload size (spark.sql.files.maxPartitionBytes) so batches stay bounded."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            payloads = pdf[payload_col]
            sniffed = payloads.map(
                lambda b: sniff_media(bytes(b)) if b is not None else None
            )
            yield pd.DataFrame(
                {
                    "media_id": pdf[id_col].astype("int64"),
                    "media_type": media_type,
                    "n_bytes": payloads.map(lambda b: len(b) if b is not None else 0),
                    "content_md5": payloads.map(
                        lambda b: hashlib.md5(bytes(b)).hexdigest()
                        if b is not None
                        else None
                    ),
                    "format": sniffed.map(lambda s: s and s["format"]),
                    "width": sniffed.map(lambda s: s["width"] if s else 0),
                    "height": sniffed.map(lambda s: s["height"] if s else 0),
                    "channels": sniffed.map(
                        lambda s: s["channels"] if s else 0
                    ),
                    "bit_depth": sniffed.map(
                        lambda s: s["bit_depth"] if s else 0
                    ),
                    "features": payloads.map(
                        lambda b: media_feature_vector(
                            bytes(b), deterministic_fake
                        )
                        if b is not None
                        else None
                    ),
                }
            )

    return media.select(
        F.col(id_col), F.col(payload_col)
    ).mapInPandas(batches, MEDIA_SCHEMA)


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame_bytes", T.BinaryType()),
        T.StructField("frame_md5", T.StringType()),
        T.StructField("n_frame_bytes", T.LongType()),
    ]
)


def frame_sample(
    media: DataFrame,
    n_frames: int = 4,
    id_col: str = "media_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Frame sampling plumbing: one media row -> up to ``n_frames`` evenly
    spaced frame rows (1:N explode through mapInPandas, Arrow both ways).

    A real video decoder would seek keyframes with ffmpeg — STUBBED here as
    deterministic byte-range slices (equal chunks, first slice of each) so
    the Spark-side shape (binary in, exploded binary out, per-frame
    metadata) is fully exercised and testable. Output partitioning follows
    the input (no shuffle); at scale cap per-task memory by sizing input
    files, not by collecting frames."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for mid, payload in zip(pdf[id_col], pdf[payload_col]):
                if payload is None:
                    continue
                b = bytes(payload)
                k = min(n_frames, max(len(b), 1))
                step = max(len(b) // k, 1)
                for i in range(k):
                    frame = b[i * step : i * step + step]
                    if not frame:
                        break
                    rows.append(
                        {
                            "media_id": int(mid),
                            "frame_idx": i,
                            "frame_bytes": frame,
                            "frame_md5": hashlib.md5(frame).hexdigest(),
                            "n_frame_bytes": len(frame),
                        }
                    )
            yield pd.DataFrame(
                rows, columns=[f.name for f in FRAME_SCHEMA.fields]
            )

    return media.select(F.col(id_col), F.col(payload_col)).mapInPandas(
        batches, FRAME_SCHEMA
    )


def resize_image(payload: bytes, target_w: int, target_h: int) -> bytes | None:
    """REAL image resize on the in-repo codecs: decode (PNG/baseline JPEG
    via decode_pixels), deterministic nearest-neighbor resample (center
    sampling, pure integer index math — no interpolation-rounding drift
    between platforms), re-encode as PNG via imaging.png_encode. Returns
    None for payloads the repo can't decode (quarantine semantics)."""
    import numpy as np

    from . import imaging

    if target_w <= 0 or target_h <= 0:
        raise ValueError("resize_image: target dims must be positive")
    dec = decode_pixels(payload)
    if dec is None:
        return None
    w, h, ch, samples = dec
    arr = np.frombuffer(samples, dtype=np.uint8)
    n = w * h * ch
    if arr.size < n:
        arr = np.concatenate([arr, np.zeros(n - arr.size, dtype=np.uint8)])
    arr = arr[:n].reshape(h, w, ch)
    ys = ((np.arange(target_h) * 2 + 1) * h) // (2 * target_h)
    xs = ((np.arange(target_w) * 2 + 1) * w) // (2 * target_w)
    out = arr[ys][:, xs]
    return imaging.png_encode(target_w, target_h, out.tobytes(), ch)


RESIZE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("resized", T.BinaryType()),
        T.StructField("resized_md5", T.StringType()),
        T.StructField("n_resized_bytes", T.LongType()),
    ]
)


def resize_media(
    media: DataFrame,
    target_w: int,
    target_h: int,
    id_col: str = "media_id",
    payload_col: str = "payload",
) -> DataFrame:
    """mapInPandas batch resize: decodable payloads come back as
    target-sized PNGs (resize_image), undecodable ones as NULL rows —
    one Arrow pass, no shuffle, same partitioning contract as
    featurize_media."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            resized = pdf[payload_col].map(
                lambda b: resize_image(bytes(b), target_w, target_h)
                if b is not None
                else None
            )
            yield pd.DataFrame(
                {
                    "media_id": pdf[id_col].astype("int64"),
                    "resized": resized,
                    "resized_md5": resized.map(
                        lambda b: hashlib.md5(b).hexdigest()
                        if b is not None
                        else None
                    ),
                    "n_resized_bytes": resized.map(
                        lambda b: len(b) if b is not None else 0
                    ),
                }
            )

    return media.select(F.col(id_col), F.col(payload_col)).mapInPandas(
        batches, RESIZE_SCHEMA
    )


# --- deterministic mixed-media corpus (driver twin) --------------------------


def minimal_jpeg(width: int, height: int, channels: int) -> bytes:
    """A SOI+SOF0+EOI JPEG header vector with real dimensions — enough
    for any SOF-walking metadata reader (ours and exiftool alike); not a
    decodable picture, which header featurization never needs."""
    import struct

    # per-component (id, sampling 1x1, quant table 0) triplets
    sof = struct.pack(">BHHB", 8, height, width, channels) + bytes(
        b for comp in range(channels) for b in (comp + 1, 0x11, 0)
    )
    return (
        b"\xff\xd8"
        + b"\xff\xc0"
        + struct.pack(">H", 2 + len(sof))
        + sof
        + b"\xff\xd9"
    )


def synth_media_payload(doc_id: int, text: str) -> bytes:
    """Deterministic per-document media payload cycling real containers:
    doc_id % 3 == 0 -> a REAL PNG (imaging.png_encode over seeded
    pixels), == 1 -> a REAL PROGRESSIVE JPEG (imaging.
    jpeg_encode_progressive), == 2 -> raw UTF-8 text ('unknown' format).
    Shared by the Spark query and the pure expected staging, so the twin
    certifies sniff AND pixel decode (both codecs) over identical
    bytes."""
    from . import imaging
    from .layout import deterministic_pixels

    m = doc_id % 3
    if m == 0:
        w = 4 + doc_id % 7
        h = 3 + doc_id % 5
        ch = (1, 3, 4)[(doc_id // 3) % 3]
        return imaging.png_encode(
            w, h, deterministic_pixels(f"med:{doc_id}".encode(), w * h * ch), ch
        )
    if m == 1:
        # REAL progressive (SOF2) JPEG — spectral-selection + successive-
        # approximation scans over seeded pixels (round 5; previously a
        # header-only SOF0 vector that fell to the digest fake). CC media
        # is majority-progressive, so the certified twin hash now covers
        # the progressive pixel decoder, not just its unit tests.
        w = 20 + doc_id % 9
        h = 10 + doc_id % 4
        return imaging.jpeg_encode_progressive(
            w, h, 3,
            deterministic_pixels(f"jmed:{doc_id}".encode(), w * h * 3),
        )
    return text.encode("utf-8")


def synth_media_frame(
    docs: DataFrame, id_col: str = "media_id", text_col: str = "text"
) -> DataFrame:
    """(doc rows) -> (media_id, payload binary) via one Arrow crossing."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame(
                {
                    "media_id": pdf[id_col].astype("int64"),
                    "payload": [
                        synth_media_payload(int(i), t)
                        for i, t in zip(pdf[id_col], pdf[text_col])
                    ],
                }
            )

    return docs.select(F.col(id_col), F.col(text_col)).mapInPandas(
        batches, "media_id long, payload binary"
    )


def stage_media_expected(sf_dir: str) -> str:
    """Expected media_featurize parquet (memoized per sf_dir): the same
    synth + sniff composition run pure-Python over the documents table —
    matching hashes certify the Arrow plumbing end to end."""

    def build(tmp: str) -> None:
        import duckdb

        rows = duckdb.sql(
            "SELECT doc_id, text FROM "
            f"read_parquet('{sf_dir}/documents.parquet') ORDER BY doc_id"
        ).fetchall()
        recs = []
        for doc_id, text in rows:
            payload = synth_media_payload(int(doc_id), text)
            s = sniff_media(payload)
            # the SAME shared feature function the Spark UDF runs —
            # pixel-real for the PNG third of the corpus, digest fake for
            # the rest
            feats = media_feature_vector(payload, deterministic_fake=True)
            rz = resize_image(payload, RESIZE_PARITY_W, RESIZE_PARITY_H)
            recs.append(
                {
                    "media_id": int(doc_id),
                    "media_type": "image",
                    "n_bytes": len(payload),
                    "content_md5": hashlib.md5(payload).hexdigest(),
                    **s,
                    "px_mean": feats[0],
                    "px_std": feats[1],
                    "px_entropy": feats[4],
                    "resized_md5": hashlib.md5(rz).hexdigest() if rz else None,
                    "n_resized_bytes": len(rz) if rz else 0,
                }
            )
        pd.DataFrame(recs).to_parquet(tmp, index=False)

    return stage("media", sf_dir, build, ".parquet")
