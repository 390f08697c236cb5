"""Multimodal column plumbing: opaque binary payloads + typed metadata.

The Spark-side machinery is real and tested — schema contracts, Arrow-batched
``mapInPandas`` UDF signatures, partition sizing — and so is the pixel work
for codec-free formats: PPM/BMP payloads get REAL decode, channel stats,
nearest-neighbor resize, and mean-pool thumbnail features (pure numpy, see
``media_codecs.py``). Compressed image codecs (JPEG/PNG/WebP) plug in via
``media_codecs.register_decoder`` — Pillow self-registers when importable,
and the registry snapshot is pickled into the executor closure — while
video remains behind the ffmpeg strict-mode stub and ``fake`` mode emits
deterministic byte-derived output for pipeline-shape tests.

At 100 TB: binary payloads dominate memory, so decode stages bound their
input per ARROW BATCH, not per partition: Spark 4 cuts ``mapInPandas``
input batches by bytes (``spark.sql.execution.arrow.maxBytesPerBatch``,
ExecEnv default 128 MB) and the decode loops hold one batch at a time.
The decode stages run map-only on the scan partitioning (scan partitions
are already byte-bounded by ``spark.sql.files.maxPartitionBytes``), with
the partition count only RAISED by :func:`parallel.ensure_parallelism`
when a batch input arrives starved; no plan-time payload-size probe and
no Exchange carrying payload bytes. Metadata-only projections stay
separate from payload scans (column pruning drops the binary column when
only metadata is referenced).
"""

from __future__ import annotations

from typing import Callable, Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lakehouse_engine_spark.datapipes.parallel import ensure_parallelism
from lakehouse_engine_spark.datapipes.registry import register

TransformerFn = Callable[[DataFrame], DataFrame]

MEDIA_META_SCHEMA = T.StructType(
    [
        T.StructField("media_type", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("codec", T.StringType()),
    ]
)

def _wav_or_none(decode_wav, b: bytes):
    """``decode_wav`` returns None for non-WAV payloads but RAISES
    ValueError for unsupported WAV VARIANTS (24-bit/float/extensible
    PCM) and corrupt RIFF chunk walks — one such record in a corpus
    must not kill the job (the image decoders' contract; r14 review
    finding). Both cases mean the same thing here: no codec."""
    try:
        return decode_wav(b)
    except ValueError:
        return None


FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("byte_checksum", T.LongType()),
        T.StructField("feature", T.ArrayType(T.FloatType())),
    ]
)


@register("multimodal_pack", streaming_ok=True)
def pack_binary(
    payload_col: str,
    media_type: str = "application/octet-stream",
    output_col: str = "payload",
) -> TransformerFn:
    """Wrap a column as an opaque binary payload + metadata struct.

    (With real media the payload comes from the source as binary already;
    packing from text keeps the column contract exercisable here.)
    """

    def _pack(df: DataFrame) -> DataFrame:
        return df.withColumns(
            {
                output_col: F.col(payload_col).cast("binary"),
                "media_meta": F.struct(
                    F.lit(media_type).alias("media_type"),
                    F.lit(None).cast("int").alias("width"),
                    F.lit(None).cast("int").alias("height"),
                    F.lit(None).cast("long").alias("duration_ms"),
                    F.lit(None).cast("string").alias("codec"),
                ),
            }
        )

    return _pack


@register("multimodal_feature_extract", streaming_ok=True)
def feature_extract(
    payload_col: str = "payload",
    id_col: str = "doc_id",
    feature_dim: int = 8,
    mode: str = "fake",  # fake | strict
) -> TransformerFn:
    """Decode/feature-extract binary payloads via Arrow-batched mapInPandas.

    ``strict`` raises NotImplementedError where a real decoder (PIL/ffmpeg/…)
    would plug in; ``fake`` emits deterministic features from the bytes so the
    distributed plumbing (schema, batching, partition sizing) is testable.
    """
    if mode not in ("fake", "strict"):
        raise ValueError(
            f"multimodal_feature_extract: mode must be fake|strict, got {mode!r}"
        )

    def _extract(df: DataFrame) -> DataFrame:
        src = ensure_parallelism(
            df.select(F.col(id_col).alias("id"), F.col(payload_col))
        )

        def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in it:
                if mode == "strict":
                    raise NotImplementedError(
                        "media decode requires an image/audio library; "
                        "install one and replace this stub"
                    )
                payload = pdf[payload_col]
                n_bytes = payload.map(lambda b: len(b) if b is not None else 0)
                checksum = payload.map(
                    lambda b: int(sum(b[:1024])) if b else 0
                )
                feats = [
                    [float(((c + d) % 251)) / 251.0 for d in range(feature_dim)]
                    for c in checksum
                ]
                yield pd.DataFrame(
                    {
                        "id": pdf["id"],
                        "n_bytes": n_bytes.astype("int64"),
                        "byte_checksum": checksum,
                        "feature": feats,
                    }
                )

        return src.mapInPandas(_batches, FEATURE_SCHEMA)

    return _extract


IMAGE_META_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("codec", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("mean_rgb", T.ArrayType(T.FloatType())),
        T.StructField("feature", T.ArrayType(T.FloatType())),
    ]
)


def image_meta_columns(
    ids,
    payloads,
    decoders,
    thumbnail_side: int = 8,
    on_unsupported: str = "null",
) -> dict:
    """One batch of the ``multimodal_image_decode`` body: parallel
    id/payload sequences → dict of ``IMAGE_META_SCHEMA`` columns. The
    single source of truth for the decode semantics — shared by
    :func:`image_decode` and the constructed-corpus entry queries that
    fuse payload generation + decode into one ``mapInPandas`` stage (so
    the synthetic payload bytes never cross the JVM↔Python boundary; the
    fused queries stay bit-identical to the operator by construction)."""
    from lakehouse_engine_spark.datapipes.media_codecs import (
        decode_image,
        sniff_media,
        thumbnail_feature,
    )

    out = {k.name: [] for k in IMAGE_META_SCHEMA.fields}
    for pid, b in zip(ids, payloads):
        b = bytes(b) if b is not None else b""
        kind = sniff_media(b)
        decoded = decode_image(b, decoders)
        out["id"].append(pid)
        out["media_type"].append(kind)
        if decoded is None:
            if on_unsupported == "error":
                raise NotImplementedError(
                    f"no codec for {kind}; plug Pillow/ffmpeg in here"
                )
            out["codec"].append(None)
            out["width"].append(None)
            out["height"].append(None)
            out["mean_rgb"].append(None)
            out["feature"].append(None)
            continue
        arr, codec = decoded
        out["codec"].append(codec)
        out["width"].append(arr.shape[1])
        out["height"].append(arr.shape[0])
        out["mean_rgb"].append(
            [float(x) for x in arr.reshape(-1, 3).mean(axis=0)]
        )
        out["feature"].append(
            [float(x) for x in thumbnail_feature(arr, thumbnail_side)]
        )
    return out


@register("multimodal_image_decode", streaming_ok=True)
def image_decode(
    payload_col: str = "payload",
    id_col: str = "doc_id",
    thumbnail_side: int = 8,
    on_unsupported: str = "null",  # null | error
) -> TransformerFn:
    """REAL image decode: PPM P6 / uncompressed BMP natively, plus any
    media type with a registered decoder (``media_codecs.register_decoder``
    — Pillow self-registers for JPEG/PNG/WebP when importable). Emits
    dimensions, per-channel means, and a ``thumbnail_side²``-dim mean-pool
    grayscale feature per image — all vectorized numpy inside Arrow-batched
    ``mapInPandas``. Codecs with no decoder yield NULL fields (or raise
    with ``on_unsupported="error"``); their magic bytes still surface in
    ``media_type`` so a pipeline can route them to a codec-equipped
    stage."""
    if on_unsupported not in ("null", "error"):
        raise ValueError(
            "multimodal_image_decode: on_unsupported must be null|error, "
            f"got {on_unsupported!r}"
        )

    def _decode(df: DataFrame) -> DataFrame:
        from lakehouse_engine_spark.datapipes.media_codecs import (
            available_decoders,
        )

        # snapshot the codec registry NOW, on the driver: the closure pickles
        # it to executors, so injected decoders (tests, plugins) work even
        # though workers re-import media_codecs fresh
        decoders = available_decoders()

        src = ensure_parallelism(
            df.select(F.col(id_col).alias("id"), F.col(payload_col))
        )

        def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in it:
                yield pd.DataFrame(
                    image_meta_columns(
                        pdf["id"],
                        pdf[payload_col],
                        decoders,
                        thumbnail_side,
                        on_unsupported,
                    )
                )

        return src.mapInPandas(_batches, IMAGE_META_SCHEMA)

    return _decode


AUDIO_META_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("codec", T.StringType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_channels", T.IntegerType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("duration_s", T.DoubleType()),
        T.StructField("rms", T.DoubleType()),
        T.StructField("peak", T.DoubleType()),
    ]
)


@register("multimodal_audio_decode", streaming_ok=True)
def audio_decode(
    payload_col: str = "payload",
    id_col: str = "doc_id",
    on_unsupported: str = "null",  # null | error
) -> TransformerFn:
    """REAL audio decode for integer-PCM WAV (8/16/32-bit): sample rate,
    channel/frame counts, duration, and normalized RMS/peak levels — the
    signal stats an audio-corpus quality filter gates on (silence, clipping,
    too-short clips). The RIFF chunk walk + sample normalization is pure
    numpy inside Arrow-batched ``mapInPandas`` with the same partition
    guard as image decode. Compressed audio (mp3/flac/ogg) yields
    NULL fields (or raises with ``on_unsupported="error"``) — a codec
    library plugs in at the same boundary as image decoders."""
    if on_unsupported not in ("null", "error"):
        raise ValueError(
            "multimodal_audio_decode: on_unsupported must be null|error, "
            f"got {on_unsupported!r}"
        )

    def _decode(df: DataFrame) -> DataFrame:
        from lakehouse_engine_spark.datapipes.media_codecs import (
            decode_wav,
            sniff_media,
        )

        src = ensure_parallelism(
            df.select(F.col(id_col).alias("id"), F.col(payload_col))
        )

        def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in it:
                out = {k.name: [] for k in AUDIO_META_SCHEMA.fields}
                for pid, b in zip(pdf["id"], pdf[payload_col]):
                    b = bytes(b) if b is not None else b""
                    kind = sniff_media(b)
                    decoded = _wav_or_none(decode_wav, b)
                    out["id"].append(pid)
                    out["media_type"].append(kind)
                    if decoded is None:
                        if on_unsupported == "error":
                            raise NotImplementedError(
                                f"no audio codec for {kind}; plug one in here"
                            )
                        for k in ("codec", "sample_rate", "n_channels",
                                  "n_samples", "duration_s", "rms", "peak"):
                            out[k].append(None)
                        continue
                    samples, rate, codec = decoded
                    frames = samples.shape[0]
                    out["codec"].append(codec)
                    out["sample_rate"].append(rate)
                    out["n_channels"].append(samples.shape[1])
                    out["n_samples"].append(frames)
                    out["duration_s"].append(frames / rate if rate else None)
                    flat = samples.astype(np.float64).reshape(-1)
                    out["rms"].append(
                        float(np.sqrt(np.mean(flat * flat))) if frames else None
                    )
                    out["peak"].append(
                        float(np.abs(flat).max()) if frames else None
                    )
                yield pd.DataFrame(out)

        return src.mapInPandas(_batches, AUDIO_META_SCHEMA)

    return _decode


@register("multimodal_audio_resample", streaming_ok=True)
def audio_resample(
    target_rate: int,
    payload_col: str = "payload",
    id_col: str = "doc_id",
) -> TransformerFn:
    """REAL sample-rate normalization for PCM WAV payloads: linear-interp
    resample to ``target_rate``, re-encoded as 16-bit PCM — the
    everything-to-16kHz step an audio training corpus runs before feature
    extraction. NULL payload for non-WAV inputs (codec boundary)."""

    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("payload", T.BinaryType())]
    )

    def _resample(df: DataFrame) -> DataFrame:
        from lakehouse_engine_spark.datapipes.media_codecs import (
            decode_wav,
            encode_wav,
            resample_linear,
        )

        src = df.select(F.col(id_col).alias("id"), F.col(payload_col))

        def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in it:
                ids, payloads = [], []
                for pid, b in zip(pdf["id"], pdf[payload_col]):
                    decoded = _wav_or_none(
                        decode_wav, bytes(b) if b is not None else b""
                    )
                    ids.append(pid)
                    if decoded is None:
                        payloads.append(None)
                        continue
                    samples, rate, _codec = decoded
                    payloads.append(
                        encode_wav(
                            resample_linear(samples, rate, target_rate), target_rate
                        )
                    )
                yield pd.DataFrame({"id": ids, "payload": payloads})

        return src.mapInPandas(_batches, schema)

    return _resample


@register("multimodal_image_resize", streaming_ok=True)
def image_resize(
    width: int,
    height: int,
    payload_col: str = "payload",
    id_col: str = "doc_id",
) -> TransformerFn:
    """REAL nearest-neighbor resize for decodable payloads, re-encoded as
    PPM: ``(id, payload)`` out, NULL payload for unsupported codecs. The
    gather-based resize is a numpy index operation — no per-pixel Python."""

    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("payload", T.BinaryType())]
    )

    def _resize(df: DataFrame) -> DataFrame:
        from lakehouse_engine_spark.datapipes.media_codecs import (
            available_decoders,
            decode_image,
            encode_ppm,
            resize_nearest,
        )

        decoders = available_decoders()  # driver-side snapshot (see image_decode)
        src = df.select(F.col(id_col).alias("id"), F.col(payload_col))

        def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in it:
                ids, payloads = [], []
                for pid, b in zip(pdf["id"], pdf[payload_col]):
                    decoded = decode_image(bytes(b) if b is not None else b"", decoders)
                    ids.append(pid)
                    payloads.append(
                        encode_ppm(resize_nearest(decoded[0], width, height))
                        if decoded is not None
                        else None
                    )
                yield pd.DataFrame({"id": ids, "payload": payloads})

        return src.mapInPandas(_batches, schema)

    return _resize


@register("multimodal_frame_sample", streaming_ok=True)
def frame_sample(
    payload_col: str = "payload",
    id_col: str = "doc_id",
    every_n_bytes: int = 256,
    max_frames: int = 16,
    mode: str = "fake",
) -> TransformerFn:
    """Frame sampling (video → frames): one output row per sampled frame
    with (id, frame_idx, frame_bytes). Payloads whose sniffed media type
    has a registered frame extractor
    (``media_codecs.register_frame_extractor`` — ffmpeg/PyAV on a real
    cluster; the registry snapshot is pickled into the executor closure)
    extract REAL frames regardless of mode. For everything else, ``fake``
    mode slices the payload at fixed offsets (pipeline-shape tests) and
    ``strict`` raises at the documented codec boundary."""

    if mode not in ("fake", "strict"):
        raise ValueError(
            f"multimodal_frame_sample: mode must be fake|strict, got {mode!r}"
        )
    if int(every_n_bytes) < 1:
        raise ValueError(
            "multimodal_frame_sample: every_n_bytes must be >= 1, "
            f"got {every_n_bytes}"
        )
    if int(max_frames) < 1:
        raise ValueError(
            f"multimodal_frame_sample: max_frames must be >= 1, got {max_frames}"
        )

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("frame_idx", T.IntegerType()),
            T.StructField("frame_bytes", T.BinaryType()),
        ]
    )

    def _sample(df: DataFrame) -> DataFrame:
        from lakehouse_engine_spark.datapipes.media_codecs import (
            available_frame_extractors,
            sniff_media,
        )

        extractors = available_frame_extractors()  # plan-time snapshot
        src = df.select(F.col(id_col).alias("id"), F.col(payload_col))

        def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in it:
                rows = {"id": [], "frame_idx": [], "frame_bytes": []}
                for pid, b in zip(pdf["id"], pdf[payload_col]):
                    b = bytes(b) if b is not None else b""
                    fn = extractors.get(sniff_media(b))
                    if fn is not None:
                        frames = fn(b, max_frames)
                    elif mode == "strict":
                        raise NotImplementedError(
                            "video decode stub — register a frame extractor "
                            "(ffmpeg/PyAV) via media_codecs.register_frame_extractor"
                        )
                    else:
                        # NULL/empty payload: zero frames — the old
                        # max(..., 1) emitted one phantom (id, 0, b'')
                        # row per null input (r14 review finding)
                        n_fr = min(max(len(b) // every_n_bytes, 1), max_frames)
                        frames = [
                            bytes(b[i * every_n_bytes : (i + 1) * every_n_bytes])
                            for i in range(n_fr if b else 0)
                        ]
                    for i, fb in enumerate(frames[:max_frames]):
                        rows["id"].append(pid)
                        rows["frame_idx"].append(i)
                        rows["frame_bytes"].append(fb)
                yield pd.DataFrame(rows)

        return src.mapInPandas(_batches, schema)

    return _sample


@register("multimodal_image_dedup")
def image_dedup(
    payload_col: str = "payload",
    id_col: str = "doc_id",
    thumbnail_side: int = 8,
    keep: str = "survivors",  # survivors | flagged
    hash_col: str = "ahash",
) -> TransformerFn:
    """Perceptual IMAGE dedup: decode → ``side×side`` mean-pool grayscale
    thumbnail → aHash (average hash: bit per cell, set iff the cell is
    brighter than the thumbnail mean) → exact-hash dedup with min-id
    survivors. Collapses re-encoded/metadata-touched copies and uniform
    near-variants of the same picture — the standard first pass of image
    corpus dedup (Hamming-tolerant pHash passes compose downstream).

    Scale design: decode + thumbnail run in the Arrow-batched
    ``mapInPandas`` image pipeline (byte-budget partitioning); the aHash
    bits are a row-space column expression over the 64-float feature (the
    bit string is the hash key — portable, no engine-specific bit packing),
    and the dedup is ONE hash-partitioned window on the key, exactly
    ``dedup_exact``'s cost class — over a SLIM (id, hash) projection
    only, never the payload bytes (the dedup_simhash join-back
    convention; shuffling the corpus's binary column just to take a
    min(id) was the r14 review finding). Undecodable payloads (no codec)
    get a NULL hash and are always kept; NULL-hash rows skip the window
    entirely (they would otherwise pile onto one reducer as a single
    NULL partition).
    """
    if keep not in ("survivors", "flagged"):
        raise ValueError(
            f"multimodal_image_dedup: keep must be survivors|flagged, got {keep!r}"
        )

    def _dedup(df: DataFrame) -> DataFrame:
        from pyspark.sql import Window

        meta = image_decode(
            payload_col=payload_col, id_col=id_col, thumbnail_side=thumbnail_side
        )(df)
        feat = F.col("feature")
        mean = F.aggregate(
            feat, F.lit(0.0), lambda a, x: a + x.cast("double")
        ) / F.size(feat)
        bits = F.concat_ws(
            "",
            F.transform(
                feat, lambda x: F.when(x.cast("double") > mean, "1").otherwise("0")
            ),
        )
        hashed = meta.select(
            F.col("id").alias("__mid"),
            F.when(feat.isNotNull(), bits).alias(hash_col),
        )
        w = Window.partitionBy(hash_col)
        slim = (
            hashed.filter(F.col(hash_col).isNotNull())
            .withColumn("__min_id", F.min("__mid").over(w))
        )
        out = df.join(slim, df[id_col] == F.col("__mid"), "left").drop("__mid")
        out = out.withColumn(
            "__min_id", F.coalesce(F.col("__min_id"), F.col(id_col))
        )
        out = out.withColumn(
            "is_duplicate", F.col("__min_id") < F.col(id_col)
        ).withColumn("dup_group_id", F.col("__min_id")).drop("__min_id")
        if keep == "survivors":
            return out.filter(~F.col("is_duplicate")).drop(
                "is_duplicate", "dup_group_id"
            )
        return out

    return _dedup


@register("binary_decompress", streaming_ok=True)
def binary_decompress(
    payload_col: str = "payload",
    output_col: str = "payload_raw",
    codec: str = "auto",  # auto | gzip | zlib | bz2 | xz | none
    on_error: str = "null",  # null | error | keep
    size_col: str | None = "raw_bytes",
) -> TransformerFn:
    """Per-row decompression of a BINARY column — the WARC/CommonCrawl
    ingestion primitive (HTTP bodies and archive members arrive
    gzip/zlib-compressed per record, not per file, so Spark's file-level
    codec handling never sees them). All codecs are stdlib: gzip, raw
    zlib, bz2, xz/lzma. ``codec="auto"`` sniffs per row from magic bytes
    (1f8b gzip, 425a68 bz2, fd377a xz, 0x78 zlib) and passes
    uncompressed payloads through unchanged.

    Corruption contract mirrors the image decoders: ``on_error="null"``
    (default) yields NULL for undecodable rows — one truncated record in
    a 100 TB crawl must not kill the job; ``"keep"`` passes the original
    bytes through; ``"error"`` fails fast. Adds ``size_col`` (decompressed
    byte count, NULL where decompression failed) unless set to None.

    Scale: an Arrow-batched pandas UDF over the payload column only —
    decompression is per-row CPU with no shuffle; compose with an
    upstream byte-budget ``repartition`` (as ``multimodal_image_decode``
    does) when payload skew is extreme.
    """
    if codec not in ("auto", "gzip", "zlib", "bz2", "xz", "none"):
        raise ValueError(f"binary_decompress: unknown codec {codec!r}")
    if on_error not in ("null", "error", "keep"):
        raise ValueError(f"binary_decompress: on_error must be null|error|keep")

    def _decomp_fn(payloads: pd.Series) -> pd.Series:
        import bz2 as _bz2
        import gzip as _gzip
        import lzma as _lzma
        import zlib as _zlib

        def one(b):
            if b is None:
                return None
            b = bytes(b)
            kind, weak_sniff = codec, False
            if kind == "auto":
                if b[:2] == b"\x1f\x8b":
                    kind = "gzip"
                elif b[:3] == b"BZh":
                    kind = "bz2"
                elif b[:6] == b"\xfd7zXZ\x00":
                    kind = "xz"
                elif b[:1] == b"\x78" and len(b) >= 2 and (b[0] * 256 + b[1]) % 31 == 0:
                    # the zlib "magic" is a 1-byte-plus-checksum
                    # heuristic: plain text starting 'x ', 'x^', 'x}'…
                    # passes it too, so a decompress failure here means
                    # FALSE POSITIVE, not corruption
                    kind, weak_sniff = "zlib", True
                else:
                    kind = "none"
            try:
                if kind == "gzip":
                    return _gzip.decompress(b)
                if kind == "zlib":
                    return _zlib.decompress(b)
                if kind == "bz2":
                    return _bz2.decompress(b)
                if kind == "xz":
                    return _lzma.decompress(b)
                return b  # none: passthrough
            except Exception:
                if weak_sniff:
                    # honour the documented uncompressed-passthrough —
                    # don't apply on_error and destroy a legitimate raw
                    # payload (r14 review finding). Strong magics
                    # (gzip/bz2/xz) and explicit codec= keep on_error:
                    # there a failure really is corruption.
                    return b
                if on_error == "error":
                    raise
                return b if on_error == "keep" else None

        return payloads.map(one)

    _decomp = F.pandas_udf(_decomp_fn, "binary")

    def _apply(df: DataFrame) -> DataFrame:
        out = df.withColumn(output_col, _decomp(F.col(payload_col)))
        if size_col:
            out = out.withColumn(
                size_col, F.length(F.col(output_col)).cast("long")
            )
        return out

    return _apply
