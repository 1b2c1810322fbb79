"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Extension layer (SURVEY.md §7). Image/audio/video payloads are carried as
``binary`` columns with metadata columns alongside. The Spark-side plumbing
(schemas, Arrow-batched ``mapInPandas`` signatures, partition-safe batch
processing) is real and tested.

Decoding: ``decoder='real'`` runs the numpy-vectorized codecs in
:mod:`media_codecs` — PPM/BMP image parse, nearest-neighbour PPM resize,
PCM WAV parse — with unparseable payloads emitted as null rows (corrupt
payloads are a fact of corpus-scale data; a decode stage must not abort the
job). ``decoder='fake'`` keeps the deterministic md5-derived pseudo-features
(useful when payloads are arbitrary bytes, e.g. text stand-ins). Video's
real path parses uncompressed YUV4MPEG2 (y4m) containers and — since the
baseline JPEG codec landed — MJPEG-in-AVI compressed clips
(:func:`mjpeg_video_profile` decodes every frame through the full JPEG
path); inter-frame codecs (h264 etc.) would need av/ffmpeg, which this
environment lacks.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..functions.partitioning import ensure_min_partitions
from .media_codecs import (
    parse_image,
    parse_wav,
    parse_y4m,
    ppm_pixel_data,
    resize_ppm_nearest,
    synthesize_image,
    synthesize_ppm,
    synthesize_wav,
    synthesize_y4m,
)


def _byte_sum(b: bytes) -> int:
    """Sum of byte values (numpy uint64 accumulate)."""
    return int(np.frombuffer(b, dtype=np.uint8).sum(dtype=np.uint64))

__all__ = [
    "attach_binary_payload",
    "binary_metadata",
    "synthesize_media_payloads",
    "decode_image_features",
    "image_ahash",
    "image_content_profile",
    "ahash_duplicate_groups",
    "AHASH_SCHEMA",
    "CONTENT_PROFILE_SCHEMA",
    "decode_audio_features",
    "resize_image",
    "sample_video_frames",
    "IMAGE_FEATURE_SCHEMA",
    "AUDIO_FEATURE_SCHEMA",
    "RESIZED_IMAGE_SCHEMA",
    "VIDEO_FRAME_SCHEMA",
    "VIDEO_FRAME_REAL_SCHEMA",
    "MJPEG_FRAME_SCHEMA",
    "MJPEG_SIGNATURE_SCHEMA",
    "mjpeg_video_profile",
    "mjpeg_frame_signatures",
    "AUDIO_SIGNATURE_SCHEMA",
    "audio_signatures",
    "AUDIO_PHASH_SCHEMA",
    "audio_phash",
    "audio_downmix",
    "IMAGE_SIGNATURE_SCHEMA",
    "image_signatures",
    "image_ingest_verdicts",
    "VIDEO_SIGNATURE_SCHEMA",
    "video_frame_signatures",
    "AUDIO_CURATION_SCHEMA",
    "audio_curation_signatures",
]


def attach_binary_payload(
    df: DataFrame, source_col: str, payload_col: str = "payload"
) -> DataFrame:
    """Encode a string column to a binary payload column (UTF-8).

    Stand-in ingestion path for environments where the real media bytes
    would be read from object storage; gives tests a real BinaryType column.
    """
    return df.withColumn(payload_col, F.encode(F.col(source_col), "UTF-8"))


def binary_metadata(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Add size + content-hash metadata for a binary column (JVM-side)."""
    return df.withColumns(
        {
            f"{payload_col}_bytes": F.length(F.col(payload_col)).cast("long"),
            f"{payload_col}_md5": F.md5(F.col(payload_col)),
        }
    )


#: One row per input image; ``format`` is the sniffed container
#: ('ppm'/'bmp' real, 'fake' for the pseudo-decoder, null undecodable).
IMAGE_FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("mode", StringType()),
        StructField("format", StringType()),
        StructField("payload_bytes", LongType()),
    ]
)


def synthesize_media_payloads(
    df: DataFrame,
    kind: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    payload_col: str = "payload",
) -> DataFrame:
    """Deterministic binary media fixtures from a seed text column, built
    worker-side via ``mapInPandas`` (no driver collect — fixture generation
    distributes like any other stage).

    ``kind``: ``'image'`` (PPM/BMP mix sniff-selected by md5 byte 2),
    ``'ppm'``, ``'png'`` (zlib-compressed, per-row filter cycle),
    ``'jpeg'`` (baseline DCT, DC-exact block protocol),
    ``'jpeg_progressive'`` (same pixel protocol through the SOF2
    successive-approximation scan script, r16), ``'avi'``
    (MJPEG-in-RIFF compressed video), ``'wav'``, or ``'y4m'``
    (uncompressed C444 video). The
    synthesis rules are the fixed protocol in
    :mod:`media_codecs`, chosen so every observable the real decoders
    extract is also computable in ANSI SQL from the seed text — that is
    what lets the registry run real codec paths under the DuckDB gate.
    """
    from .media_codecs import (
        synthesize_jpeg,
        synthesize_jpeg_progressive,
        synthesize_mjpeg_avi,
        synthesize_png,
        synthesize_wav_tones,
    )

    synth = {"image": synthesize_image, "ppm": synthesize_ppm,
             "png": synthesize_png, "jpeg": synthesize_jpeg,
             "jpeg_progressive": synthesize_jpeg_progressive,
             "avi": synthesize_mjpeg_avi,
             "wav": synthesize_wav, "wav_tones": synthesize_wav_tones,
             "y4m": synthesize_y4m}.get(kind)
    if synth is None:
        raise ValueError(
            "kind must be image|ppm|png|jpeg|jpeg_progressive|avi|wav|"
            f"wav_tones|y4m (got {kind!r})"
        )
    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField(payload_col, BinaryType()),
        ]
    )

    def process(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col],
                    payload_col: [
                        synth(t) if t is not None else None
                        for t in pdf[text_col]
                    ],
                }
            )

    # a single source parquet file otherwise pins the WHOLE synth+decode
    # chain (Python-side, the expensive path) onto one task — spread the
    # seed rows across the session's parallelism before entering Python
    return ensure_min_partitions(df.select(id_col, text_col)).mapInPandas(
        process, schema=schema
    )


def decode_image_features(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    decoder: str = "real",
) -> DataFrame:
    """Arrow-batched image decode via ``mapInPandas``.

    ``decoder='real'`` (default) parses PPM (P6/P3) and BMP headers with the
    codecs in :mod:`media_codecs`; payloads that are not a
    supported image decode to a null-featured row rather than failing the
    stage. ``decoder='fake'`` emits deterministic md5-derived
    pseudo-features for arbitrary payload bytes.
    """
    if decoder not in ("fake", "real"):
        raise ValueError("decoder must be 'fake' or 'real'")

    def process(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            if decoder == "real":
                parsed = [parse_image(p) for p in pdf[payload_col]]
                yield pd.DataFrame(
                    {
                        "doc_id": pdf[id_col],
                        "width": [r["width"] if r else None for r in parsed],
                        "height": [r["height"] if r else None for r in parsed],
                        "mode": [r["mode"] if r else None for r in parsed],
                        "format": [r["format"] if r else None for r in parsed],
                        "payload_bytes": [
                            len(bytes(p)) if p is not None else None
                            for p in pdf[payload_col]
                        ],
                    }
                )
                continue
            digests = [
                hashlib.md5(bytes(p)).digest() if p is not None else None
                for p in pdf[payload_col]
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col],
                    "width": [
                        1 + int.from_bytes(d[0:2], "big") % 4096 if d else None
                        for d in digests
                    ],
                    "height": [
                        1 + int.from_bytes(d[2:4], "big") % 4096 if d else None
                        for d in digests
                    ],
                    "mode": [
                        ["RGB", "RGBA", "L"][d[4] % 3] if d else None
                        for d in digests
                    ],
                    "format": ["fake" if d else None for d in digests],
                    "payload_bytes": [
                        len(bytes(p)) if p is not None else None
                        for p in pdf[payload_col]
                    ],
                }
            )

    return df.select(id_col, payload_col).mapInPandas(
        process, schema=IMAGE_FEATURE_SCHEMA
    )


#: One row per input; ``pixel_sum`` is an integrity checksum (sum of the
#: output pixel bytes) so content — not just dimensions — is verifiable.
RESIZED_IMAGE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("payload", BinaryType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("pixel_sum", LongType()),
    ]
)


def resize_image(
    df: DataFrame,
    target_width: int,
    target_height: int,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    decoder: str = "real",
) -> DataFrame:
    """Arrow-batched image resize via ``mapInPandas`` (1 row -> 1 row,
    binary in / binary out).

    ``decoder='real'`` (default) nearest-neighbour-resizes P6 PPM payloads
    with :func:`media_codecs.resize_ppm_nearest` (floor source mapping
    ``src = x*w//W``) and re-encodes as P6; non-PPM/corrupt payloads emit a
    null payload row. ``decoder='fake'`` emits the input bytes
    repeated/truncated to ``W*H`` — the arbitrary-bytes dataflow stub.
    ``pixel_sum`` sums the output pixel bytes either way (header excluded
    in the real path), making content drift observable without comparing
    binaries.
    """
    if decoder not in ("fake", "real"):
        raise ValueError("decoder must be 'fake' or 'real'")
    n_bytes = target_width * target_height

    def process(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            out_payloads, sums = [], []
            for p in pdf[payload_col]:
                if p is None:
                    out_payloads.append(None)
                    sums.append(None)
                    continue
                if decoder == "real":
                    resized = resize_ppm_nearest(
                        bytes(p), target_width, target_height
                    )
                    out_payloads.append(resized)
                    if resized is None:
                        sums.append(None)
                    else:
                        pix = ppm_pixel_data(resized)
                        sums.append(_byte_sum(pix[2]) if pix else None)
                else:
                    b = bytes(p)
                    reps = (n_bytes // max(len(b), 1)) + 1
                    out = (b * reps)[:n_bytes]
                    out_payloads.append(out)
                    sums.append(_byte_sum(out))
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col],
                    "payload": out_payloads,
                    "width": target_width,
                    "height": target_height,
                    "pixel_sum": pd.array(sums, dtype="Int64"),
                }
            )

    return df.select(id_col, payload_col).mapInPandas(
        process, schema=RESIZED_IMAGE_SCHEMA
    )


#: Output schema of the (stubbed) frame sampler: one row per sampled frame.
VIDEO_FRAME_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_index", IntegerType()),
        StructField("frame_ts_ms", LongType()),
        StructField("frame_md5", StringType()),
    ]
)


#: Output schema of the REAL video frame sampler: structural metadata plus
#: two content signals per frame — ``pixel_sum`` (sum of raw plane bytes,
#: SQL-mirrorable for the oracle gate) and ``frame_md5`` (for exact
#: frame-level dedup downstream).
VIDEO_FRAME_REAL_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_index", IntegerType()),
        StructField("frame_ts_ms", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_frames_total", IntegerType()),
        StructField("pixel_sum", LongType()),
        StructField("frame_md5", StringType()),
    ]
)


def sample_video_frames(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    max_frames: int = 8,
    decoder: str = "fake",
) -> DataFrame:
    """Arrow-batched video frame sampling via ``mapInPandas`` — the
    1-row-to-N-rows batch shape (each video row explodes into its sampled
    frames inside the Python worker; Spark sees a plain schema'd stream, so
    downstream operators parallelise over frames, not videos).

    ``decoder='real'`` parses uncompressed YUV4MPEG2 containers with
    :func:`media_codecs.parse_y4m` and emits real frames under
    :data:`VIDEO_FRAME_REAL_SCHEMA`: timestamps from the container frame
    rate (``floor(i * 1000 * fps_den / fps_num)`` ms), evenly-spaced
    sampling (``k * n // max_frames``) when a clip exceeds ``max_frames``,
    per-frame ``pixel_sum`` + ``frame_md5`` content signals. Non-y4m or
    corrupt payloads contribute zero rows (a decode stage must not abort
    the job; count inputs vs distinct output ids to audit drops).
    Compressed codecs (h264 etc.) would need av/ffmpeg — not present here.

    ``decoder='fake'`` (default) keeps the md5-derived pseudo-sampler for
    arbitrary payload bytes: frame count = 1 + (md5 byte 5) %
    ``max_frames``, 1000 ms spacing, hash md5(payload || frame_index),
    under the original :data:`VIDEO_FRAME_SCHEMA`.
    """
    if decoder not in ("fake", "real"):
        raise ValueError("decoder must be 'fake' or 'real'")

    def process_real(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            out = {k: [] for k in (
                "doc_id", "frame_index", "frame_ts_ms", "width", "height",
                "n_frames_total", "pixel_sum", "frame_md5",
            )}
            for doc_id, p in zip(pdf[id_col], pdf[payload_col]):
                info = parse_y4m(p) if p is not None else None
                if info is None:
                    continue
                b = bytes(p)
                n = info["n_frames"]
                if n <= max_frames:
                    sampled = range(n)
                else:
                    sampled = [k * n // max_frames for k in range(max_frames)]
                for i in sampled:
                    lo, hi = info["frame_spans"][i]
                    frame = b[lo:hi]
                    out["doc_id"].append(doc_id)
                    out["frame_index"].append(i)
                    out["frame_ts_ms"].append(
                        i * 1000 * info["fps_den"] // info["fps_num"]
                    )
                    out["width"].append(info["width"])
                    out["height"].append(info["height"])
                    out["n_frames_total"].append(n)
                    out["pixel_sum"].append(_byte_sum(frame))
                    out["frame_md5"].append(hashlib.md5(frame).hexdigest())
            yield pd.DataFrame(out)

    if decoder == "real":
        return df.select(id_col, payload_col).mapInPandas(
            process_real, schema=VIDEO_FRAME_REAL_SCHEMA
        )

    def process(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            ids, idxs, tss, hashes = [], [], [], []
            for doc_id, p in zip(pdf[id_col], pdf[payload_col]):
                if p is None:
                    continue
                b = bytes(p)
                h = hashlib.md5(b).hexdigest()
                n_frames = 1 + int(h[10:12], 16) % max_frames
                for i in range(n_frames):
                    ids.append(doc_id)
                    idxs.append(i)
                    tss.append(i * 1000)
                    hashes.append(
                        hashlib.md5(b + str(i).encode("utf-8")).hexdigest()
                    )
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "frame_index": idxs,
                    "frame_ts_ms": tss,
                    "frame_md5": hashes,
                }
            )

    return df.select(id_col, payload_col).mapInPandas(
        process, schema=VIDEO_FRAME_SCHEMA
    )


#: Output schema of the (stubbed) audio feature extractor.
AUDIO_FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("sample_rate", IntegerType()),
        StructField("n_channels", IntegerType()),
        StructField("duration_ms", LongType()),
        StructField("rms_q8", IntegerType()),
    ]
)


def decode_audio_features(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    decoder: str = "real",
) -> DataFrame:
    """Arrow-batched audio decode via ``mapInPandas`` (1 row -> 1 row).

    ``decoder='real'`` (default) walks RIFF chunks and parses PCM16 WAV
    with :func:`media_codecs.parse_wav` — sample rate, channels, exact
    integer duration, true RMS quantised to 8 bits. Non-WAV/corrupt
    payloads decode to a null-featured row. ``decoder='fake'`` keeps the
    md5-derived pseudo-features for arbitrary payload bytes.
    """
    if decoder not in ("fake", "real"):
        raise ValueError("decoder must be 'fake' or 'real'")

    _RATES = [8000, 16000, 22050, 44100, 48000]

    def process(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            if decoder == "real":
                parsed = [
                    parse_wav(p) if p is not None else None
                    for p in pdf[payload_col]
                ]
                yield pd.DataFrame(
                    {
                        "doc_id": pdf[id_col],
                        "sample_rate": pd.array(
                            [r["sample_rate"] if r else None for r in parsed],
                            dtype="Int32",
                        ),
                        "n_channels": pd.array(
                            [r["n_channels"] if r else None for r in parsed],
                            dtype="Int32",
                        ),
                        "duration_ms": pd.array(
                            [r["duration_ms"] if r else None for r in parsed],
                            dtype="Int64",
                        ),
                        "rms_q8": pd.array(
                            [r["rms_q8"] if r else None for r in parsed],
                            dtype="Int32",
                        ),
                    }
                )
                continue
            ids, rates, chans, durs, rms = [], [], [], [], []
            for doc_id, p in zip(pdf[id_col], pdf[payload_col]):
                if p is None:
                    continue
                d = hashlib.md5(bytes(p)).digest()
                ids.append(doc_id)
                rates.append(_RATES[d[5] % len(_RATES)])
                chans.append(1 + d[6] % 2)
                durs.append(100 + int.from_bytes(d[7:9], "big") % 600_000)
                rms.append(d[9])
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "sample_rate": rates,
                    "n_channels": chans,
                    "duration_ms": durs,
                    "rms_q8": rms,
                }
            )

    return df.select(id_col, payload_col).mapInPandas(
        process, schema=AUDIO_FEATURE_SCHEMA
    )


#: One row per image: dims + the 64-bit average-hash split into two
#: 32-bit halves (unsigned-safe in engines without uint64).
AHASH_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("ahash_hi", LongType()),
        StructField("ahash_lo", LongType()),
    ]
)


def image_ahash(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    grid: int = 8,
) -> DataFrame:
    """Perceptual average-hash over a binary image column — the
    image-level near-duplicate signature (identical content hashes
    identically across PPM/BMP containers; small edits flip few bits, so
    Hamming distance over the 64 bits measures visual similarity).

    Arrow-batched ``mapInPandas`` over the REAL decode path
    (:func:`media_codecs.ahash64`): numpy lattice sampling + threshold,
    one pass over the payload bytes, no shuffle. Undecodable payloads
    yield null hash halves rather than failing the stage.
    """

    def process(batches: Iterator) -> Iterator:
        import pandas as pd

        from .media_codecs import ahash64

        for pdf in batches:
            hashed = [
                ahash64(p, grid=grid) if p is not None else None
                for p in pdf[payload_col]
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col],
                    "width": [r[0] if r else None for r in hashed],
                    "height": [r[1] if r else None for r in hashed],
                    "ahash_hi": [r[2] if r else None for r in hashed],
                    "ahash_lo": [r[3] if r else None for r in hashed],
                }
            )

    return df.mapInPandas(process, AHASH_SCHEMA)


#: One row per image: dims + full-content byte checksum + perceptual
#: hash halves — the strongest single-pass content audit of a decode.
CONTENT_PROFILE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("pixel_sum", LongType()),
        StructField("ahash_hi", LongType()),
        StructField("ahash_lo", LongType()),
    ]
)


def image_content_profile(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    grid: int = 8,
) -> DataFrame:
    """Decode each image ONCE and emit dims, the exact sum of every
    decoded RGB byte, and the perceptual average-hash — the audit row
    that proves a codec path end-to-end (for compressed containers like
    PNG, ``pixel_sum`` covers every scanline, so a wrong filter
    reconstruction anywhere in the image changes it; the ahash lattice
    alone samples only ``grid``^2 pixels). Arrow-batched ``mapInPandas``
    over the real decoders, no shuffle; undecodable payloads yield null
    features."""

    def process(batches: Iterator) -> Iterator:
        import pandas as pd

        from .media_codecs import ahash64_from_pixels, image_pixel_data

        for pdf in batches:
            rows = {k: [] for k in (
                "width", "height", "pixel_sum", "ahash_hi", "ahash_lo")}
            for p in pdf[payload_col]:
                parsed = image_pixel_data(p) if p is not None else None
                if parsed is None:
                    for k in rows:
                        rows[k].append(None)
                    continue
                w, h, pixels = parsed
                _, _, hi, lo = ahash64_from_pixels(w, h, pixels, grid)
                rows["width"].append(w)
                rows["height"].append(h)
                rows["pixel_sum"].append(_byte_sum(pixels))
                rows["ahash_hi"].append(hi)
                rows["ahash_lo"].append(lo)
            yield pd.DataFrame({"doc_id": pdf[id_col], **rows})

    return df.mapInPandas(process, CONTENT_PROFILE_SCHEMA)


def ahash_duplicate_groups(hashes: DataFrame) -> DataFrame:
    """Collapse identical perceptual hashes into duplicate-image groups:
    one row per hash value seen more than once, with the group size and
    the lowest doc_id as canonical. ONE map-side-combinable aggregate
    keyed by the two hash halves."""
    return (
        hashes.filter(F.col("ahash_hi").isNotNull())
        .groupBy("ahash_hi", "ahash_lo")
        .agg(
            F.count(F.lit(1)).alias("n_images"),
            F.min("doc_id").alias("canonical_doc_id"),
        )
        .filter(F.col("n_images") > 1)
    )


#: One row per image: dims + the 63-bit perceptual DCT hash split into
#: two 32-bit halves (bit 0, the DC slot, is always zero).
PHASH_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("phash_hi", LongType()),
        StructField("phash_lo", LongType()),
    ]
)


def image_phash(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Perceptual DCT hash (pHash) over a binary image column — the
    NEAR-duplicate image signature: a 32x32 gray lattice through the
    fixed-point integer 2-D DCT, keeping the 8x8 low-frequency block's
    sign-vs-mean bits (:func:`media_codecs.phash64`). Low-frequency
    structure survives requantization and small edits that flip many
    ahash bits, so equal-hash grouping (and small-Hamming matching)
    finds visually-identical content across containers AND across
    lossy re-encodes. Arrow-batched ``mapInPandas``, no shuffle;
    undecodable payloads yield null hash halves (fail closed)."""

    def process(batches: Iterator) -> Iterator:
        import pandas as pd

        from .media_codecs import phash64

        for pdf in batches:
            hashed = [
                phash64(p) if p is not None else None
                for p in pdf[payload_col]
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col],
                    "width": [r[0] if r else None for r in hashed],
                    "height": [r[1] if r else None for r in hashed],
                    "phash_hi": [r[2] if r else None for r in hashed],
                    "phash_lo": [r[3] if r else None for r in hashed],
                }
            )

    return df.mapInPandas(process, PHASH_SCHEMA)


def phash_duplicate_groups(hashes: DataFrame) -> DataFrame:
    """Collapse identical perceptual DCT hashes into near-duplicate
    image groups: one row per hash value seen more than once, with the
    group size and the lowest doc_id as canonical. ONE map-side-
    combinable aggregate keyed by the two hash halves — the exact-dedup
    shape, never pairwise."""
    return (
        hashes.filter(F.col("phash_hi").isNotNull())
        .groupBy("phash_hi", "phash_lo")
        .agg(
            F.count(F.lit(1)).alias("n_images"),
            F.min("doc_id").alias("canonical_doc_id"),
        )
        .filter(F.col("n_images") > 1)
    )


#: Output schema of the MJPEG clip profiler: one row per FRAME, each
#: frame fully decoded through the baseline JPEG codec.
MJPEG_FRAME_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_index", IntegerType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("fps", IntegerType()),
        StructField("n_frames_total", IntegerType()),
        StructField("pixel_sum", LongType()),
    ]
)


def mjpeg_video_profile(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Decode every frame of an MJPEG AVI clip through the REAL baseline
    JPEG codec and emit one row per frame — container walk ('00dc'
    chunk extraction), then the full entropy-decode/dequantize/IDCT
    path per frame, with the exact sum of every decoded RGB byte as the
    end-to-end content check. The compressed-video counterpart of
    :func:`sample_video_frames`'s y4m path: 1 clip row in -> n_frames
    rows out inside the Arrow batch, so downstream operators
    parallelise over frames, not clips. Undecodable containers or
    frames yield no rows (fail closed)."""

    def process(batches: Iterator) -> Iterator:
        import pandas as pd

        from .media_codecs import avi_jpeg_frames, decode_jpeg_baseline, parse_avi

        for pdf in batches:
            rows = {k: [] for k in (
                "doc_id", "frame_index", "width", "height", "fps",
                "n_frames_total", "pixel_sum")}
            for doc_id, payload in zip(pdf[id_col], pdf[payload_col]):
                meta = parse_avi(payload) if payload is not None else None
                frames = avi_jpeg_frames(payload) if meta else None
                if not frames:
                    continue
                for idx, fr in enumerate(frames):
                    decoded = decode_jpeg_baseline(fr)
                    if decoded is None:
                        continue
                    w, h, rgb = decoded
                    rows["doc_id"].append(doc_id)
                    rows["frame_index"].append(idx)
                    rows["width"].append(w)
                    rows["height"].append(h)
                    rows["fps"].append(meta.get("fps"))
                    rows["n_frames_total"].append(len(frames))
                    rows["pixel_sum"].append(_byte_sum(rgb))
            yield pd.DataFrame(rows)

    return df.mapInPandas(process, MJPEG_FRAME_SCHEMA)


#: One row per decoded frame with its exact content signature.
MJPEG_SIGNATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_index", IntegerType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("frame_md5", StringType()),
    ]
)


def mjpeg_frame_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Decode every MJPEG frame and emit its EXACT content signature
    (md5 of the decoded RGB bytes) — the video-dedup primitive: two
    frames share a signature iff the full container-walk + JPEG-decode
    pipeline reconstructed byte-identical pixels, so a JVM-side
    ``groupBy(width, height, frame_md5)`` finds duplicated footage
    across clips without ever comparing frames pairwise (the same
    hash-groupBy shape as exact document dedup; at 100 TB the agg is
    map-side-combinable and the Python cost is the decode itself,
    embarrassingly parallel over Arrow batches)."""

    def process(batches: Iterator) -> Iterator:
        import pandas as pd

        from .media_codecs import avi_jpeg_frames, decode_jpeg_baseline

        for pdf in batches:
            rows = {k: [] for k in (
                "doc_id", "frame_index", "width", "height", "frame_md5")}
            for doc_id, payload in zip(pdf[id_col], pdf[payload_col]):
                frames = (
                    avi_jpeg_frames(payload) if payload is not None else None
                )
                if not frames:
                    continue
                for idx, fr in enumerate(frames):
                    decoded = decode_jpeg_baseline(fr)
                    if decoded is None:
                        continue
                    w, h, rgb = decoded
                    rows["doc_id"].append(doc_id)
                    rows["frame_index"].append(idx)
                    rows["width"].append(w)
                    rows["height"].append(h)
                    rows["frame_md5"].append(hashlib.md5(rgb).hexdigest())
            yield pd.DataFrame(rows)

    return df.mapInPandas(process, MJPEG_SIGNATURE_SCHEMA)


#: One row per decoded MJPEG frame with BOTH curation-tier keys from one
#: decode — the exact content key (dims-prefixed md5 of the decoded RGB
#: bytes, the image_signatures convention) and the perceptual DCT hash —
#: plus the content-audit fields (dims, exact pixel byte sum).
VIDEO_SIGNATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_index", IntegerType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("pixel_sum", LongType()),
        StructField("frame_md5", StringType()),
        StructField("phash_hi", LongType()),
        StructField("phash_lo", LongType()),
    ]
)


def video_frame_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Decode every MJPEG AVI frame ONCE and emit every signature the
    video-curation pipeline needs: the EXACT dedup key (dims-prefixed
    md5 of the decoded RGB bytes — :func:`image_signatures`' convention,
    unlike :func:`mjpeg_frame_signatures`' bare-content md5 which
    relies on the caller grouping dims alongside), the PERCEPTUAL DCT
    hash (:func:`media_codecs.phash64_from_pixels` over the decoded
    frame), and the content-audit fields (dims + exact pixel byte sum).
    Arrow-batched ``mapInPandas``, 1 clip row -> n_frames rows; pixels
    never leave the stage — only fixed-width signatures do. The output
    id column is named after ``id_col`` (mirroring
    :func:`audio_curation_signatures`), so callers with a custom id
    keep their name. Undecodable containers or frames yield no rows
    (fail closed, the media family contract — count inputs vs distinct
    output ids to audit drops)."""

    def process(batches: Iterator) -> Iterator:
        import pandas as pd

        from .media_codecs import (
            avi_jpeg_frames,
            decode_jpeg_baseline,
            phash64_from_pixels,
        )

        for pdf in batches:
            rows = {k: [] for k in (
                "doc_id", "frame_index", "width", "height", "pixel_sum",
                "frame_md5", "phash_hi", "phash_lo")}
            for doc_id, payload in zip(pdf[id_col], pdf[payload_col]):
                frames = (
                    avi_jpeg_frames(payload) if payload is not None else None
                )
                if not frames:
                    continue
                for idx, fr in enumerate(frames):
                    decoded = decode_jpeg_baseline(fr)
                    if decoded is None:
                        continue
                    w, h, rgb = decoded
                    _, _, hi, lo = phash64_from_pixels(w, h, rgb)
                    rows["doc_id"].append(doc_id)
                    rows["frame_index"].append(idx)
                    rows["width"].append(w)
                    rows["height"].append(h)
                    rows["pixel_sum"].append(_byte_sum(rgb))
                    rows["frame_md5"].append(
                        hashlib.md5(
                            f"{w}x{h}|".encode("ascii") + rgb
                        ).hexdigest()
                    )
                    rows["phash_hi"].append(hi)
                    rows["phash_lo"].append(lo)
            out = pd.DataFrame(rows).astype(
                {"frame_index": "Int32", "width": "Int32",
                 "height": "Int32", "pixel_sum": "Int64",
                 "phash_hi": "Int64", "phash_lo": "Int64"}
            )
            if id_col != "doc_id":
                out = out.rename(columns={"doc_id": id_col})
            yield out

    schema = (
        VIDEO_SIGNATURE_SCHEMA
        if id_col == "doc_id"
        else StructType(
            [StructField(id_col, LongType())]
            + list(VIDEO_SIGNATURE_SCHEMA.fields[1:])
        )
    )
    return df.mapInPandas(process, schema)


AUDIO_SIGNATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("sample_rate", IntegerType()),
        StructField("n_channels", IntegerType()),
        StructField("n_frames", IntegerType()),
        StructField("pcm_md5", StringType()),
    ]
)


def audio_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Decode each WAV payload and emit its EXACT content signature
    (md5 of the parsed PCM16 data bytes) plus format — the audio-dedup
    primitive completing the family next to image ahash/pHash and
    video frame signatures: two clips share (sample_rate, n_channels,
    pcm_md5) iff the RIFF walk reconstructed byte-identical audio, so
    a JVM-side hash-groupBy finds duplicated recordings without
    pairwise comparison (map-side-combinable at any scale; the Python
    cost is the parse itself, Arrow-batched, 1 row -> 1 row).
    Non-WAV/corrupt payloads yield no row (fail closed, the media
    family contract)."""

    def process(batches: Iterator) -> Iterator:
        import pandas as pd

        from .media_codecs import wav_pcm_data

        for pdf in batches:
            rows = {k: [] for k in (
                "doc_id", "sample_rate", "n_channels", "n_frames",
                "pcm_md5")}
            for doc_id, payload in zip(pdf[id_col], pdf[payload_col]):
                parsed = wav_pcm_data(payload) if payload is not None else None
                if parsed is None:
                    continue
                rate, channels, data = parsed
                usable = len(data) - len(data) % 2
                rows["doc_id"].append(doc_id)
                rows["sample_rate"].append(rate)
                rows["n_channels"].append(channels)
                rows["n_frames"].append(
                    (usable // 2) // channels if channels else 0
                )
                rows["pcm_md5"].append(
                    hashlib.md5(data[:usable]).hexdigest()
                )
            yield pd.DataFrame(rows)

    return df.mapInPandas(process, AUDIO_SIGNATURE_SCHEMA)


#: One row per decoded clip with BOTH curation-tier keys from one
#: parse — the exact PCM md5 and the 56-bit perceptual hash — plus
#: the format/duration audit fields.
AUDIO_CURATION_SCHEMA = StructType(
    [
        StructField("aud_id", LongType()),
        StructField("sample_rate", IntegerType()),
        StructField("n_channels", IntegerType()),
        StructField("n_frames", IntegerType()),
        StructField("pcm_md5", StringType()),
        StructField("aphash", LongType()),
    ]
)


def audio_curation_signatures(
    df: DataFrame,
    id_col: str = "aud_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Parse each WAV payload ONCE and emit every signature the audio
    curation pipeline needs: the EXACT dedup key (md5 of the usable
    PCM16 data bytes, :func:`audio_signatures`' convention — keyed
    alongside rate/channels by the caller) and the PERCEPTUAL 56-bit
    banded-energy hash (:func:`media_codecs.audio_phash56_from_pcm`
    over the SAME parsed bytes — no second container walk), plus the
    format fields. Arrow-batched ``mapInPandas``, 1 row -> <=1 row, no
    shuffle; PCM bytes never leave the stage — only fixed-width
    signatures do. Non-WAV/corrupt/too-short payloads yield no row
    (fail closed, the media family contract)."""

    def process(batches: Iterator) -> Iterator:
        import pandas as pd

        from .media_codecs import audio_phash56_from_pcm, wav_pcm_data

        for pdf in batches:
            rows = {k: [] for k in (
                "aud_id", "sample_rate", "n_channels", "n_frames",
                "pcm_md5", "aphash")}
            for aud_id, payload in zip(pdf[id_col], pdf[payload_col]):
                parsed = wav_pcm_data(payload) if payload is not None else None
                if parsed is None:
                    continue
                rate, channels, data = parsed
                hashed = audio_phash56_from_pcm(channels, data)
                if hashed is None:
                    continue
                n_frames, val = hashed
                usable = len(data) - len(data) % 2
                rows["aud_id"].append(aud_id)
                rows["sample_rate"].append(rate)
                rows["n_channels"].append(channels)
                rows["n_frames"].append(n_frames)
                rows["pcm_md5"].append(
                    hashlib.md5(data[:usable]).hexdigest()
                )
                rows["aphash"].append(val)
            out = pd.DataFrame(rows).astype(
                {"sample_rate": "Int32", "n_channels": "Int32",
                 "n_frames": "Int32", "aphash": "Int64"}
            )
            if id_col != "aud_id":
                out = out.rename(columns={"aud_id": id_col})
            yield out

    schema = (
        AUDIO_CURATION_SCHEMA
        if id_col == "aud_id"
        else StructType(
            [StructField(id_col, LongType())]
            + list(AUDIO_CURATION_SCHEMA.fields[1:])
        )
    )
    return df.mapInPandas(process, schema)


AUDIO_PHASH_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("sample_rate", IntegerType()),
        StructField("n_channels", IntegerType()),
        StructField("n_frames", IntegerType()),
        StructField("aphash", LongType()),
    ]
)


def audio_phash(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Perceptual audio fingerprint over a binary WAV column — audio's
    pHash tier next to :func:`audio_signatures`' exact tier: the 56-bit
    banded-energy sign hash (:func:`media_codecs.audio_phash56`,
    Haitsma & Kalker 2002) whose bits survive uniform gain change,
    +/-1-LSB dither, and mono folds that flip every bit of the exact
    PCM md5 — one re-encode no longer defeats audio dedup. Equal-hash
    grouping (or small-Hamming banding) is one combinable aggregate,
    never pairwise. Arrow-batched ``mapInPandas``, 1 row -> <=1 row,
    zero shuffle; non-WAV/corrupt/too-short payloads yield no row
    (fail closed, the media family contract)."""

    def process(batches: Iterator) -> Iterator:
        import pandas as pd

        from .media_codecs import audio_phash56

        for pdf in batches:
            rows = {k: [] for k in (
                "doc_id", "sample_rate", "n_channels", "n_frames",
                "aphash")}
            for doc_id, payload in zip(pdf[id_col], pdf[payload_col]):
                hashed = (
                    audio_phash56(payload) if payload is not None else None
                )
                if hashed is None:
                    continue
                rate, channels, n_frames, val = hashed
                rows["doc_id"].append(doc_id)
                rows["sample_rate"].append(rate)
                rows["n_channels"].append(channels)
                rows["n_frames"].append(n_frames)
                rows["aphash"].append(val)
            yield pd.DataFrame(rows)

    return df.mapInPandas(process, AUDIO_PHASH_SCHEMA)


#: One row per image: both dedup-tier keys from ONE decode — the exact
#: tier's pixel md5 (container-independent: PPM/BMP/PNG of the same
#: content hash identically) and the perceptual DCT hash, plus the
#: content-audit fields (dims, pixel byte sum).
IMAGE_SIGNATURE_SCHEMA = StructType(
    [
        StructField("img_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("pixel_sum", LongType()),
        StructField("pixel_md5", StringType()),
        StructField("phash_hi", LongType()),
        StructField("phash_lo", LongType()),
    ]
)


def image_signatures(
    df: DataFrame,
    id_col: str = "img_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Decode each image ONCE and emit every signature the curation
    pipeline needs: the EXACT dedup key (md5 of the decoded top-down
    RGB bytes — container-independent, so a PNG and a PPM of the same
    pixels collapse; the image twin of the audio tier's pcm_md5), the
    PERCEPTUAL DCT hash (:func:`media_codecs.phash64_from_pixels`),
    and the content-audit fields (dims + exact pixel byte sum, the
    decode-correctness checksum). Arrow-batched ``mapInPandas``, 1 row
    in -> 1 row out, no shuffle; pixels never leave the stage — only
    the fixed-width signatures do. Undecodable payloads yield null
    signatures (fail closed)."""

    def process(batches: Iterator) -> Iterator:
        import pandas as pd

        from .media_codecs import image_pixel_data, phash64_from_pixels

        for pdf in batches:
            rows = {k: [] for k in (
                "width", "height", "pixel_sum", "pixel_md5",
                "phash_hi", "phash_lo",
            )}
            for p in pdf[payload_col]:
                parsed = image_pixel_data(p) if p is not None else None
                if parsed is None:
                    for k in rows:
                        rows[k].append(None)
                    continue
                w, h, pixels = parsed
                _, _, hi, lo = phash64_from_pixels(w, h, pixels)
                rows["width"].append(w)
                rows["height"].append(h)
                rows["pixel_sum"].append(_byte_sum(pixels))
                # dims are PART of exact identity: a 56x7 and an 8x49
                # image can share the exact same RGB byte stream (equal
                # pixel count, same content generator) while being
                # different images — hashing bytes alone conflates them
                # (found live at sf0.01)
                rows["pixel_md5"].append(
                    hashlib.md5(
                        f"{w}x{h}|".encode("ascii") + pixels
                    ).hexdigest()
                )
                rows["phash_hi"].append(hi)
                rows["phash_lo"].append(lo)
            yield pd.DataFrame({id_col: pdf[id_col], **rows}).astype(
                {"width": "Int32", "height": "Int32",
                 "pixel_sum": "Int64", "phash_hi": "Int64",
                 "phash_lo": "Int64"}
            )

    # the id column keeps the CALLER's name (the audio_downmix id_col
    # lesson, r14): rebuild the schema around it
    schema = StructType(
        [StructField(id_col, LongType())]
        + list(IMAGE_SIGNATURE_SCHEMA.fields[1:])
    )
    return df.mapInPandas(process, schema)


def image_ingest_verdicts(
    batch_sig: DataFrame,
    standing_sig: DataFrame,
    id_col: str = "img_id",
) -> DataFrame:
    """Two-tier ingest verdicts for a BATCH of new image signatures
    probed against a STANDING signature index — the continuous-ingest
    image dedup core (the spans/minhash/bloom incremental shape).

    Both inputs are :func:`image_signatures` frames (``id_col``,
    ``pixel_md5``, ``phash_hi``, ``phash_lo``, ...); ``standing_sig``
    is typically LOADED from a persisted signature table, so each
    night's work is batch-decode plus key-sized joins — standing
    pixels are never re-decoded and standing x standing work is never
    repeated (pinned by a persisted-roundtrip identity test). Returns
    ``batch_sig``'s columns plus ``verdict``:

    - ``exact_dup_standing`` — the exact key exists in the index
      (standing-first: wins regardless of ids);
    - ``exact_dup_batch`` — a batch-internal exact twin with a smaller
      id exists;
    - ``phash_dup`` — the batch exact-canonical's perceptual hash
      matches a standing CANONICAL's, or a smaller batch canonical's;
    - ``novel`` — none of the above;
    - ``undecodable`` — the batch row has a NULL ``pixel_md5`` (what
      :func:`image_signatures` emits for payloads it cannot decode).
      These rows are verdict-tagged and passed through rather than
      silently dropped by the key joins — the ingest pipeline decides
      whether to quarantine them.

    Plan shape: the index legs (distinct keys, canonical phash set)
    are combinable aggregates over the index frame; every probe is an
    equi-join on a 32-char key or two longs; batch-internal dedup is
    one combinable groupBy per tier. No windows, no pairwise work."""
    undecodable = batch_sig.filter(F.col("pixel_md5").isNull()).withColumn(
        "verdict", F.lit("undecodable")
    )
    batch_sig = batch_sig.filter(F.col("pixel_md5").isNotNull())
    st_keys = standing_sig.select("pixel_md5").distinct()
    st_canon = standing_sig.groupBy("pixel_md5").agg(
        F.min(id_col).alias("_c")
    )
    st_ph = (
        standing_sig.join(st_canon, on="pixel_md5")
        .filter(F.col(id_col) == F.col("_c"))
        .select("phash_hi", "phash_lo")
        .distinct()
    )
    bex = batch_sig.groupBy("pixel_md5").agg(F.min(id_col).alias("_bc"))
    bj = (
        batch_sig.join(
            st_keys.withColumn("_hit_sk", F.lit(True)),
            on="pixel_md5",
            how="left",
        )
        .join(bex, on="pixel_md5")
        .withColumn("_hit_sk", F.coalesce(F.col("_hit_sk"), F.lit(False)))
    )
    bphmin = (
        bj.filter(~F.col("_hit_sk") & (F.col(id_col) == F.col("_bc")))
        .groupBy("phash_hi", "phash_lo")
        .agg(F.min(id_col).alias("_pc"))
    )
    verdict = (
        F.when(F.col("_hit_sk"), F.lit("exact_dup_standing"))
        .when(F.col(id_col) != F.col("_bc"), F.lit("exact_dup_batch"))
        .when(F.col("_hit_ph"), F.lit("phash_dup"))
        .when(F.col(id_col) != F.col("_pc"), F.lit("phash_dup"))
        .otherwise(F.lit("novel"))
    )
    return (
        bj.join(
            st_ph.withColumn("_hit_ph", F.lit(True)),
            on=["phash_hi", "phash_lo"],
            how="left",
        )
        .join(bphmin, on=["phash_hi", "phash_lo"], how="left")
        .withColumn("_hit_ph", F.coalesce(F.col("_hit_ph"), F.lit(False)))
        .withColumn("verdict", verdict)
        .drop("_hit_sk", "_hit_ph", "_bc", "_pc")
        .unionByName(undecodable)
    )


def audio_downmix(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Downmix each WAV payload to MONO (sum of channels, clipped to
    int16) and re-encode — the channel-fold re-encode every audio
    ingest pipeline performs, and the transform that DEFEATS the exact
    dedup tier (the PCM md5 changes) while the perceptual fingerprint
    is invariant by construction (:func:`media_codecs.audio_phash56`
    folds channels by the same sum, and its sign bits are scale-free,
    so a clip-free downmix hashes IDENTICALLY — pinned by test and by
    the multimodal_audio_phash_dups oracle). Arrow-batched
    ``mapInPandas``, 1 row -> 1 row; non-WAV payloads pass through
    unchanged (fail open here: a downmix stage must not drop media it
    cannot parse — the later decode stage quarantines those)."""

    def process(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        from .media_codecs import wav_pcm_data, wav_wrap_pcm

        for pdf in batches:
            out = []
            for payload in pdf[payload_col]:
                parsed = wav_pcm_data(payload) if payload is not None else None
                if parsed is None:
                    out.append(payload)
                    continue
                rate, channels, data = parsed
                usable = len(data) - len(data) % 2
                s = np.frombuffer(data[:usable], dtype="<i2").astype(np.int64)
                n = len(s) // channels
                mono = s[: n * channels].reshape(n, channels).sum(axis=1)
                mono = np.clip(mono, -32768, 32767)
                out.append(
                    bytearray(
                        wav_wrap_pcm(rate, 1, mono.astype("<i2").tobytes())
                    )
                )
            yield pd.DataFrame({id_col: pdf[id_col], payload_col: out})

    schema = StructType(
        [
            StructField(id_col, LongType()),
            StructField(payload_col, BinaryType()),
        ]
    )
    return df.mapInPandas(process, schema)
