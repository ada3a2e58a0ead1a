"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Image/audio/video land as ``binary`` columns with metadata; decode /
feature-extract / resize / frame-sample run as Arrow-batched UDFs over
``mapInArrow``.  Since round 5 ``mode="real"`` REALLY decodes the two
simplest formats with stdlib only (media_codecs.py): PNG = zlib
inflate + per-scanline unfilter, WAV = RIFF parse + np.frombuffer;
features/resize then run over the decoded bytes.  Video (MP4) still
raises NotImplementedError at the exact seam where ffmpeg would plug
in (a demuxer + codec is not a stdlib exercise).  ``mode="fake"``
keeps the deterministic byte-level feature (16-bin byte histogram)
whose DuckDB oracle verifies the Spark plumbing end-to-end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from cpp_parquet_spark.session import forget_zip_finders

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("media_type", StringType(), False),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("duration_ms", LongType(), True),
        StructField("payload", BinaryType(), False),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("media_type", StringType(), False),
        StructField("n_bytes", LongType(), False),
        StructField("features", ArrayType(DoubleType(), False), False),
    ]
)


def synthetic_media(df_docs: DataFrame) -> DataFrame:
    """Deterministic fake media table from the documents table: the
    UTF-8 text bytes stand in for an encoded image/audio payload."""
    t = F.col("doc_id") % 3
    return df_docs.select(
        F.col("doc_id").alias("media_id"),
        F.when(t == 0, "image/png").when(t == 1, "audio/wav").otherwise("video/mp4").alias("media_type"),
        F.when(t == 0, (F.col("doc_id") % 640 + 16).cast("int")).alias("width"),
        F.when(t == 0, (F.col("doc_id") % 480 + 16).cast("int")).alias("height"),
        F.when(t != 0, (F.length("text") * 10).cast("long")).alias("duration_ms"),
        F.encode("text", "utf-8").alias("payload"),
    )


def _payload_components(arr):
    """(lengths, contiguous payload bytes) of an Arrow binary column,
    zero-copy; nulls behave as zero-length."""
    import numpy as np
    import pyarrow as pa

    from cpp_parquet_spark.kernels.plain import _byte_components

    if isinstance(arr, pa.ChunkedArray):  # pragma: no cover - defensive
        arr = arr.combine_chunks()
    return _byte_components(arr)


def _fake_features_batch(lengths, payload):
    """Batch-wide byte-histogram features ([n, 16] float64) — one
    bincount over the whole batch, no per-payload loop."""
    import numpy as np

    n = len(lengths)
    doc = np.repeat(np.arange(n, dtype=np.int64), lengths)
    hist = (
        np.bincount(doc * 16 + (payload >> 4).astype(np.int64), minlength=n * 16)
        .reshape(n, 16)
        .astype(np.float64)
    )
    tot = hist.sum(axis=1, keepdims=True)
    # exact IEEE count/total division (no rounding): on ASCII payloads
    # the same division is reproducible bit-identically by any engine
    # (the DuckDB oracle recomputes it from regex byte-class counts)
    return hist / np.maximum(tot, 1.0)  # empty payload -> zeros


def _real_features_batch(b):
    """Real-decode path (round-5): PNG via zlib + vectorized scanline
    unfilter, WAV via RIFF parse + np.frombuffer (media_codecs.py,
    stdlib only) — the 16-bin histogram runs over the DECODED bytes
    (pixels / PCM samples), not the encoded payload.  Decode is
    per-payload by nature (each file is its own compression stream);
    video stays behind the ffmpeg seam."""
    import numpy as np

    from cpp_parquet_spark.pipeline.media_codecs import decode_png, decode_wav

    n = b.num_rows
    types = b.column("media_type").to_pylist()
    payloads = b.column("payload").to_pylist()
    feats = np.zeros((n, 16), dtype=np.float64)
    for i in range(n):
        mt = types[i]
        if mt == "image/png":
            arr = decode_png(payloads[i]).ravel()
        elif mt == "audio/wav":
            samples, _rate = decode_wav(payloads[i])
            arr = np.ascontiguousarray(samples).reshape(-1).view(np.uint8)
        else:
            # MP4 demux + codec decode is not a stdlib exercise
            raise NotImplementedError(
                f"real decode for {mt} requires ffmpeg; use mode='fake'"
            )
        if len(arr):
            hist = np.bincount(arr >> 4, minlength=16).astype(np.float64)
            feats[i] = hist / hist.sum()
    return feats


def extract_features(media: DataFrame, mode: str = "fake") -> DataFrame:
    """Decode + featurize payloads via mapInArrow (zero-copy batches).

    mode="fake" computes the deterministic byte-level feature on the
    raw payload (oracle-checkable); mode="real" actually decodes
    image/png and audio/wav payloads with the stdlib-only codecs in
    media_codecs.py and featurizes the decoded bytes."""
    import pyarrow as pa

    arrow_out = pa.schema(
        [
            ("media_id", pa.int64()),
            ("media_type", pa.string()),
            ("n_bytes", pa.int64()),
            ("features", pa.list_(pa.float64())),
        ]
    )

    def run(batches):
        forget_zip_finders()
        import numpy as np

        for b in batches:
            n = b.num_rows
            lengths, payload = _payload_components(b.column("payload"))
            if mode == "real":
                feats = _real_features_batch(b)
            else:
                feats = _fake_features_batch(lengths, payload)
            features = pa.ListArray.from_arrays(
                pa.array(np.arange(n + 1, dtype=np.int32) * 16, pa.int32()),
                pa.array(feats.ravel(), pa.float64()),
            )
            yield pa.RecordBatch.from_arrays(
                [
                    b.column("media_id").cast(pa.int64()),
                    b.column("media_type").cast(pa.string()),
                    pa.array(lengths, pa.int64()),
                    features,
                ],
                schema=arrow_out,
            )

    return media.mapInArrow(run, FEATURE_SCHEMA)


def resize_images(media: DataFrame, out_w: int = 8, out_h: int = 8, mode: str = "fake") -> DataFrame:
    """Image 'resize' over the opaque payload column.

    mode="real" decodes image/png payloads with the stdlib-only codec
    in media_codecs.py (zlib inflate + vectorized scanline unfilter)
    and nearest-neighbor-resamples the DECODED pixels; mode="fake"
    nearest-neighbor-samples the payload bytes as if they were a
    (height×width) single-channel bitmap using the typed metadata —
    the oracle-checkable twin.
    """
    import pyarrow as pa

    out_schema = StructType(
        [
            StructField("media_id", LongType(), False),
            StructField("out_w", IntegerType(), False),
            StructField("out_h", IntegerType(), False),
            StructField("pixels", BinaryType(), False),
        ]
    )
    arrow_out = pa.schema(
        [
            ("media_id", pa.int64()),
            ("out_w", pa.int32()),
            ("out_h", pa.int32()),
            ("pixels", pa.binary()),
        ]
    )
    out_px = out_w * out_h

    def run(batches):
        forget_zip_finders()
        import numpy as np

        for b in batches:
            n = b.num_rows
            if n == 0:
                continue
            if mode == "real":
                # real path (round-5): decode each PNG (stdlib zlib +
                # unfilter), grayscale by channel mean, nearest-neighbor
                # resample — per-payload by nature
                from cpp_parquet_spark.pipeline.media_codecs import decode_png

                pix_rows = []
                for data in b.column("payload").to_pylist():
                    img = decode_png(data)
                    gray = img.mean(axis=2).astype(np.uint8)
                    h0, w0 = gray.shape
                    si = (np.arange(out_h) * h0) // out_h
                    sj = (np.arange(out_w) * w0) // out_w
                    pix_rows.append(gray[si[:, None], sj[None, :]].tobytes())
                yield pa.RecordBatch.from_arrays(
                    [
                        b.column("media_id").cast(pa.int64()),
                        pa.array(np.full(n, out_w, dtype=np.int32)),
                        pa.array(np.full(n, out_h, dtype=np.int32)),
                        pa.array(pix_rows, pa.binary()),
                    ],
                    schema=arrow_out,
                )
                continue
            lens, payload = _payload_components(b.column("payload"))
            starts = np.cumsum(lens) - lens
            w = np.asarray(b.column("width"), dtype=np.int64)
            h = np.asarray(b.column("height"), dtype=np.int64)
            # nearest-neighbor grid per row, batch-wide: src(i,j) =
            # (i*h//out_h)*w + (j*w//out_w), clamped into the payload
            ii = np.arange(out_h, dtype=np.int64)
            jj = np.arange(out_w, dtype=np.int64)
            src_i = (ii[None, :] * h[:, None]) // out_h  # [n, out_h]
            src_j = (jj[None, :] * w[:, None]) // out_w  # [n, out_w]
            flat = src_i[:, :, None] * w[:, None, None] + src_j[:, None, :]  # [n,out_h,out_w]
            flat = np.minimum(flat.reshape(n, out_px), np.maximum(lens - 1, 0)[:, None])
            idx = np.minimum(starts[:, None] + flat, max(len(payload) - 1, 0))
            pix = payload[idx.ravel()] if len(payload) else np.zeros(n * out_px, np.uint8)
            empty = lens == 0
            if empty.any():
                pix = pix.copy()
                pix.reshape(n, out_px)[empty] = 0
            offsets = np.arange(n + 1, dtype=np.int32) * out_px
            pixels = pa.Array.from_buffers(
                pa.binary(), n, [None, pa.py_buffer(offsets.tobytes()), pa.py_buffer(pix.tobytes())]
            )
            yield pa.RecordBatch.from_arrays(
                [
                    b.column("media_id").cast(pa.int64()),
                    pa.array(np.full(n, out_w, dtype=np.int32)),
                    pa.array(np.full(n, out_h, dtype=np.int32)),
                    pixels,
                ],
                schema=arrow_out,
            )

    images = media.filter(F.col("media_type") == "image/png")
    return images.mapInArrow(run, out_schema)


def frame_sample(media: DataFrame, n_frames: int = 4, mode: str = "fake") -> DataFrame:
    """Keyframe sampling over opaque video payloads.

    mode="fake" slices the payload at even byte offsets (deterministic,
    DuckDB-oracle-checkable; fully vectorized batch-wide gather).
    mode="real" (round-5) REALLY demuxes the MP4 container — the ISO
    BMFF sample tables give each sample's byte range and sync flag
    (media_codecs.parse_mp4_samples, stdlib only) — and emits up to
    ``n_frames`` evenly-spaced KEYFRAME payloads.  The emitted bits
    stay codec-encoded: bitstream decode (H.264 etc.) is the one step
    that genuinely needs ffmpeg."""
    import pyarrow as pa

    frame_schema = StructType(
        [
            StructField("media_id", LongType(), False),
            StructField("frame_idx", IntegerType(), False),
            StructField("frame", BinaryType(), False),
        ]
    )
    arrow_out = pa.schema(
        [("media_id", pa.int64()), ("frame_idx", pa.int32()), ("frame", pa.binary())]
    )

    def run(batches):
        forget_zip_finders()
        import numpy as np

        for b in batches:
            n = b.num_rows
            if n == 0:
                continue
            if mode == "real":
                from cpp_parquet_spark.pipeline.media_codecs import mp4_keyframes

                ids_out: list[int] = []
                fidx_out: list[int] = []
                frames_out: list[bytes] = []
                mids = b.column("media_id").to_pylist()
                for mid, data in zip(mids, b.column("payload").to_pylist()):
                    for j, frame in enumerate(mp4_keyframes(data, n_frames)):
                        ids_out.append(mid)
                        fidx_out.append(j)
                        frames_out.append(frame)
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(ids_out, pa.int64()),
                        pa.array(fidx_out, pa.int32()),
                        pa.array(frames_out, pa.binary()),
                    ],
                    schema=arrow_out,
                )
                continue
            lens, payload = _payload_components(b.column("payload"))
            starts_doc = np.cumsum(lens) - lens
            k = np.minimum(n_frames, lens)  # frames per payload
            step = np.maximum(lens // n_frames, 1)
            total = int(k.sum())
            doc = np.repeat(np.arange(n, dtype=np.int64), k)
            fidx = np.arange(total, dtype=np.int64) - np.repeat(np.cumsum(k) - k, k)
            fstart = fidx * step[doc]  # offset within payload
            flen = np.minimum(16, lens[doc] - fstart)
            cum = np.cumsum(flen) - flen
            nbytes = int(flen.sum())
            within = np.arange(nbytes, dtype=np.int64) - np.repeat(cum, flen)
            frame_bytes = payload[np.repeat(starts_doc[doc] + fstart, flen) + within]
            offsets = np.concatenate(([0], np.cumsum(flen))).astype(np.int32)
            frames = pa.Array.from_buffers(
                pa.binary(),
                total,
                [None, pa.py_buffer(offsets.tobytes()), pa.py_buffer(frame_bytes.tobytes())],
            )
            ids = np.asarray(b.column("media_id"), dtype=np.int64)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(ids[doc], pa.int64()),
                    pa.array(fidx.astype(np.int32), pa.int32()),
                    frames,
                ],
                schema=arrow_out,
            )

    videos = media.filter(F.col("media_type") == "video/mp4")
    return videos.mapInArrow(run, frame_schema)
