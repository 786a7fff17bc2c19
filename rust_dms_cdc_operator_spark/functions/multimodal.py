"""Multimodal (image/audio/video) column plumbing.

Media are opaque ``binary`` columns with a typed metadata struct; the
compute pattern is Arrow-batched ``mapInPandas`` so decode libraries
see contiguous byte buffers, never row-at-a-time Python. Header-level
decode is REAL for netpbm/PNG/JPEG/BMP/GIF/TIFF/WebP/WAV/MP3 via the
stdlib codecs in :mod:`.mediacodec` (``decode_media_features``), and
pixel-level resize is REAL for raw binary netpbm
(``mediacodec.resize_netpbm`` — nearest-neighbor over the
uncompressed sample grid). Compressed-format pixel transforms and
frame extraction, which need a codec library, remain stubbed behind
deterministic fakes, with the Spark-side plumbing (schema, batch
shape, partitioning) real and tested either way.

Scale notes: binary payloads ride the normal columnar path (parquet
byte arrays); keep ``spark.sql.files.maxPartitionBytes`` sized so a
task's batch of blobs fits executor memory, and repartition by a
content-size bucket when payloads are skewed.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator
from operator import itemgetter
from struct import error as struct_error

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from rust_dms_cdc_operator_spark.functions import mediacodec
from rust_dms_cdc_operator_spark.session import _pandas_frame

#: what a codec raises on a payload it cannot decode; the operators
#: absorb exactly these (a poison-pill row must not kill the job)
_CODEC_ERRORS = (NotImplementedError, ValueError, struct_error)

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("kind", T.StringType(), True),
                    T.StructField("n_bytes", T.LongType(), True),
                ]
            ),
            True,
        ),
    ]
)


def with_media_columns(
    df: DataFrame, id_col: str, content_col: str, kind: str = "blob"
) -> DataFrame:
    """Wrap a column as an opaque binary payload + typed metadata struct
    (the storage contract for multimodal tables)."""
    payload = F.encode(F.col(content_col), "UTF-8")
    return df.select(
        F.col(id_col).cast("long").alias("media_id"),
        payload.alias("payload"),
        F.struct(
            F.lit(kind).alias("kind"),
            F.octet_length(payload).cast("long").alias("n_bytes"),
        ).alias("meta"),
    )


def _per_payload(
    media: DataFrame,
    schema: T.StructType,
    rows_of: Callable[[bytes], Iterable[tuple]],
) -> DataFrame:
    """The Arrow batch loop of the exploding operators: each non-NULL
    payload contributes the rows ``rows_of(payload)`` — tuples of
    ``schema``'s fields after ``media_id`` — prefixed by its
    ``media_id``. ``rows_of`` runs to a full list inside the ``try``,
    so a payload whose codec raises a :data:`_CODEC_ERRORS` error
    contributes no rows, never a partial set. Integer columns stay
    nullable through the batch (see ``session._pandas_frame``)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows: list[tuple] = []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                if p is None:
                    continue
                try:
                    got = list(rows_of(p))
                except _CODEC_ERRORS:
                    continue
                rows.extend((int(mid), *r) for r in got)
            yield _pandas_frame(rows, schema)

    return media.mapInPandas(batches, schema)


def _rewrite_payloads(
    media: DataFrame, one: Callable[[bytes | None], bytes | None]
) -> DataFrame:
    """The Arrow batch loop of the payload-rewrite operators: same
    (media_id, payload, meta) contract in and out, each payload
    replaced by ``one(payload)`` and ``meta.n_bytes`` recomputed. The
    codec call is inherently per-item (a real decoder takes one blob at
    a time); everything around it is column-vectorized."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = pdf.copy()
            out["payload"] = pdf["payload"].map(one)
            kinds = pd.DataFrame(
                [m or {} for m in pdf["meta"]], index=pdf.index
            ).get("kind")
            n_bytes = out["payload"].str.len().fillna(0).astype("int64")
            out["meta"] = pd.DataFrame(
                {"kind": kinds, "n_bytes": n_bytes}, index=pdf.index
            ).to_dict("records")
            yield out

    return media.mapInPandas(batches, MEDIA_SCHEMA)


DECODED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("codec", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("channels", T.IntegerType(), True),
        T.StructField("sample_rate_hz", T.IntegerType(), True),
        T.StructField("n_samples", T.LongType(), True),
        T.StructField("duration_ms", T.LongType(), True),
    ]
)


def decode_media_features(media: DataFrame) -> DataFrame:
    """REAL header decode over binary payloads: (media_id, codec,
    width, height, channels, sample_rate_hz, n_samples, duration_ms),
    NULL-padded per modality (images carry no sample rate, audio no
    pixel geometry).

    Same Arrow ``mapInPandas`` shape as :func:`extract_media_features`
    — whole record batches per task, fixed output schema for Catalyst
    — but the per-item call is an actual byte-level decoder
    (``mediacodec.decode``), not the deterministic fake. The decode
    is the only per-item step; a payload no decoder covers yields a
    NULL-codec row instead of failing the batch (corrupt blobs are a
    fact of life in a 100 TB media table — poison-pill rows must not
    kill the job)."""

    names = DECODED_SCHEMA.fieldNames()[1:]

    def one(p) -> tuple:
        try:
            decoded = mediacodec.decode(p)
        except _CODEC_ERRORS:
            decoded = {}
        return tuple(map(decoded.get, names))

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield _pandas_frame(
                [
                    (int(mid), *one(p))
                    for mid, p in zip(pdf["media_id"], pdf["payload"])
                ],
                DECODED_SCHEMA,
            )

    return media.mapInPandas(batches, DECODED_SCHEMA)


def extract_media_features(media: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads.

    ``mapInPandas`` so each task sees whole Arrow record batches (the
    decode loop is per-batch vectorizable); output schema is fixed so
    Catalyst plans around it.
    """
    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("kind", T.StringType(), True),
            T.StructField("n_bytes", T.LongType(), True),
            T.StructField("first_byte", T.IntegerType(), True),
        ]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            # vectorized over the whole Arrow batch — a real decoder
            # slots in here with the same batch-at-a-time contract
            pay = pdf["payload"]
            n_bytes = pay.str.len().fillna(0).astype("int64")
            first = pay.str[0]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["meta"].map(
                        lambda m: m["kind"] if m is not None else None
                    ),
                    "n_bytes": n_bytes,
                    "first_byte": first.where(first.notna(), -1).astype("int32"),
                }
            )

    return media.mapInPandas(batches, out_schema)


def _stub_resize(payload: bytes, w: int, h: int) -> bytes:
    """Deterministic fake for an image resize (PIL absent): keeps the
    plumbing honest — output is a byte payload derived from the input
    and target geometry. A real impl decodes, resizes, re-encodes."""
    if payload is None:
        return b""
    head = payload[: min(len(payload), 16)]
    return b"RSZ|%dx%d|" % (w, h) + head


def resize_media(media: DataFrame, width: int, height: int) -> DataFrame:
    """Arrow-batched media resize: same (media_id, payload, meta)
    contract in and out, so resize stages compose/pipeline with decode
    and feature extraction. Binary netpbm (P5/P6) payloads get a REAL
    nearest-neighbor resample (`mediacodec.resize_netpbm` — raw
    uncompressed rasters need only index arithmetic); compressed
    formats fall back to the deterministic ``_stub_resize`` fake
    until a PIL/libvips call replaces it — the batch shape, schema,
    and partitioning stay identical either way."""

    def one(p) -> bytes:
        if p is not None and p[:1] == b"P" and p[1:2] in (b"5", b"6"):
            try:
                return mediacodec.resize_netpbm(p, width, height)
            except (NotImplementedError, ValueError):
                pass  # malformed netpbm: stub keeps the row alive
        return _stub_resize(p, width, height)

    return _rewrite_payloads(media, one)


def resample_audio_media(
    media: DataFrame, rate: int, mono: bool = False
) -> DataFrame:
    """Arrow-batched audio normalization — the 16 kHz-mono step every
    speech corpus runs before featurization: PCM WAV payloads get a
    REAL nearest-neighbor resample + channel downmix
    (`mediacodec.resample_wav` — raw PCM needs only index
    arithmetic); non-PCM/undecodable payloads pass through UNCHANGED
    (unlike resize's stub fallback, silently fabricating audio bytes
    would poison a training corpus — pass-through keeps the row alive
    and `decode_media_features` downstream still reports its true
    rate for filtering). Same (media_id, payload, meta) contract in
    and out, so it pipelines with decode/feature stages."""

    def one(p) -> bytes:
        if p is not None and p[:4] == b"RIFF" and p[8:12] == b"WAVE":
            try:
                return mediacodec.resample_wav(p, rate, mono=mono)
            except _CODEC_ERRORS:
                pass
        return p

    return _rewrite_payloads(media, one)


AUDIO_WINDOWS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("window_idx", T.IntegerType(), False),
        T.StructField("n_frames", T.IntegerType(), False),
        T.StructField("rms", T.DoubleType(), False),
        T.StructField("zero_crossings", T.IntegerType(), False),
        T.StructField("peak", T.IntegerType(), False),
    ]
)


def audio_window_features(
    media: DataFrame, window_ms: int = 25
) -> DataFrame:
    """REAL windowed audio features (RMS / zero crossings / peak per
    25 ms window by default) over PCM WAV payloads — the VAD-style
    prefilter that finds silence, clipping, and dead channels before
    a corpus pays for transcription. Exploding shape: one payload →
    one row per window (`mediacodec.pcm_window_features`).
    Non-PCM/undecodable payloads contribute no rows — the poison-pill
    convention of the exploding ops (decode_media_features is the
    place to census undecodables)."""

    def rows_of(p):
        return (
            (w["window_idx"], w["n"], w["rms"], w["zero_crossings"],
             w["peak"])
            for w in mediacodec.pcm_window_features(p, window_ms=window_ms)
        )

    return _per_payload(media, AUDIO_WINDOWS_SCHEMA, rows_of)


IMAGE_STATS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("channel", T.IntegerType(), False),
        T.StructField("mean", T.DoubleType(), False),
        T.StructField("min_val", T.IntegerType(), False),
        T.StructField("max_val", T.IntegerType(), False),
    ]
)


def image_channel_stats(media: DataFrame) -> DataFrame:
    """REAL per-channel pixel statistics (mean/min/max) over binary
    netpbm payloads — the brightness/contrast prefilter for scanned
    or synthetic image corpora (`mediacodec.netpbm_channel_stats`).
    One payload → one row per channel; undecodable payloads
    contribute no rows, same convention as the other exploding
    ops."""

    pick = itemgetter("channel", "mean", "min", "max")
    return _per_payload(
        media,
        IMAGE_STATS_SCHEMA,
        lambda p: map(pick, mediacodec.netpbm_channel_stats(p)),
    )


GIF_CENSUS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("n_frames", T.IntegerType(), False),
        T.StructField("loop_count", T.IntegerType(), True),
        T.StructField("total_duration_ms", T.LongType(), False),
        T.StructField("width", T.IntegerType(), False),
        T.StructField("height", T.IntegerType(), False),
    ]
)


#: the census fields an animated GIF and an APNG share
_animation = itemgetter(
    "n_frames", "loop_count", "total_duration_ms", "width", "height"
)


def gif_animation_census(media: DataFrame) -> DataFrame:
    """REAL animated-GIF census (`mediacodec.gif_frame_census` —
    frame count, Netscape loop count, summed frame delays) at
    header-walk cost, no LZW decode: the is-it-animated/how-long
    filter a media-curation pass runs. One row per decodable GIF;
    other payloads contribute no rows (exploding-op convention)."""

    return _per_payload(
        media,
        GIF_CENSUS_SCHEMA,
        lambda p: [_animation(mediacodec.gif_frame_census(p))],
    )


METADATA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("source", T.StringType(), False),
        T.StructField("key", T.StringType(), False),
        T.StructField("value", T.StringType(), False),
    ]
)


def extract_media_metadata(media: DataFrame) -> DataFrame:
    """REAL embedded-metadata extraction, exploded to (media_id,
    source, key, value) rows: JPEG EXIF IFD0 (orientation — the
    rotate-before-training flag — camera make/model, timestamps) and
    MP3 ID3v2 text frames (title/artist/album — the metadata dedup
    keys). The exploded string shape feeds ordinary groupBy dedup
    and pivots without a per-format schema; payloads with no readable
    metadata contribute no rows."""

    def rows_of(p):
        if p[:2] == b"\xff\xd8":
            src, tags = "exif", mediacodec.jpeg_exif(p)
        elif p[:3] == b"ID3":
            src, tags = "id3", mediacodec.id3v2_tags(p)
        else:
            return []
        return [(src, k, str(v)) for k, v in sorted(tags.items())]

    return _per_payload(media, METADATA_SCHEMA, rows_of)


MULTI_IMAGE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("codec", T.StringType(), False),
        T.StructField("n_frames", T.IntegerType(), False),
        T.StructField("loop_count", T.IntegerType(), True),
        T.StructField("total_duration_ms", T.LongType(), False),
        T.StructField("width", T.IntegerType(), False),
        T.StructField("height", T.IntegerType(), False),
    ]
)


def multi_image_census(media: DataFrame) -> DataFrame:
    """Multi-image payload census across the formats whose structure
    is walkable without pixel decode: animated GIF
    (`gif_frame_census`), APNG (`png_animation_census`), and
    multi-page TIFF (`tiff_page_census` — frames = pages, no
    animation timing). The is-it-animated / how-many-pages questions
    a curation pass asks of a 100 TB image shard, answered at
    header-walk cost. One row per census-able payload; everything
    else contributes no rows (exploding-op convention)."""

    def rows_of(p):
        if p[:6] in (b"GIF87a", b"GIF89a"):
            return [("gif", *_animation(mediacodec.gif_frame_census(p)))]
        if p[:8] == mediacodec._PNG_SIG:
            return [("png", *_animation(mediacodec.png_animation_census(p)))]
        if p[:4] in (b"II*\x00", b"MM\x00*"):
            c = mediacodec.tiff_page_census(p)
            return [("tiff", c["n_pages"], None, 0, c["width"], c["height"])]
        return []

    return _per_payload(media, MULTI_IMAGE_SCHEMA, rows_of)


FRAMES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("frame_idx", T.IntegerType(), False),
        T.StructField("frame", T.BinaryType(), True),
    ]
)


def split_media_frames(
    media: DataFrame, max_frames: int = 8, fallback_stride: int = 64
) -> DataFrame:
    """Frame extraction with a REAL decode path: concatenated binary
    netpbm streams (the self-delimiting multi-image format raw bytes
    can split without a codec) are cut into exact per-image frames by
    `mediacodec.split_netpbm_stream` — each output frame is itself a
    decodable P5/P6 payload, so this chains into
    `decode_media_features`/`resize_media` per frame. Non-netpbm
    payloads (compressed video needs ffmpeg/pyav) fall back to the
    deterministic byte-stride cut of :func:`sample_frames`. Same
    exploding (media_id, frame_idx, frame) shape either way."""

    def cut(p) -> list[bytes]:
        if p[:1] == b"P" and p[1:2] in (b"5", b"6"):
            try:
                return mediacodec.split_netpbm_stream(
                    p, max_frames=max_frames
                )
            except (NotImplementedError, ValueError):
                pass  # corrupt stream: stride keeps the rows alive
        return [
            bytes(p[o : o + fallback_stride])
            for o in range(
                0,
                min(len(p), max_frames * fallback_stride),
                fallback_stride,
            )
        ]

    return _per_payload(media, FRAMES_SCHEMA, lambda p: enumerate(cut(p)))


def sample_frames(
    media: DataFrame, every_n_bytes: int = 64, max_frames: int = 8
) -> DataFrame:
    """Video-style frame sampling plumbing: one input blob → N frame
    rows (media_id, frame_idx, frame payload). The sampler is a
    deterministic byte-stride stub standing in for an ffmpeg/pyav
    keyframe extractor (see :func:`split_media_frames` for the REAL
    netpbm-stream path); the EXPLODING row shape — the part Spark has
    to plan for (fan-out, per-frame downstream ops) — is real."""
    out_schema = FRAMES_SCHEMA

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np  # noqa: PLC0415

        for pdf in it:
            valid = pdf[pdf["payload"].notna()]
            # vectorized fan-out arithmetic (repeat/cumsum — no Python
            # loop over rows): per blob, frames = ceil(len/stride)
            # capped at max_frames; the per-blob byte slice below is
            # the only per-item step, standing in for the codec call
            lens = valid["payload"].str.len().to_numpy(dtype="int64")
            n_frames = np.minimum(
                max_frames, -(-lens // every_n_bytes)
            ).astype("int64")
            ids = np.repeat(valid["media_id"].to_numpy(dtype="int64"), n_frames)
            group_starts = np.repeat(np.cumsum(n_frames) - n_frames, n_frames)
            idxs = np.arange(int(n_frames.sum()), dtype="int64") - group_starts
            offs = idxs * every_n_bytes
            payloads = np.repeat(valid["payload"].to_numpy(), n_frames)
            frames = [
                bytes(p[o : o + every_n_bytes])
                for p, o in zip(payloads, offs)
            ]
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "frame_idx": idxs.astype("int32"),
                    "frame": frames,
                }
            )

    return media.mapInPandas(batches, out_schema)


VIDEO_CENSUS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("major_brand", T.StringType(), False),
        T.StructField("n_tracks", T.IntegerType(), False),
        T.StructField("n_video_tracks", T.IntegerType(), False),
        T.StructField("n_audio_tracks", T.IntegerType(), False),
        T.StructField("duration_ms", T.LongType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("mdat_bytes", T.LongType(), False),
    ]
)


def video_container_census(media: DataFrame) -> DataFrame:
    """REAL ISO-BMFF (MP4/MOV) container census
    (`mediacodec.mp4_box_census`): brand, mvhd movie duration, track
    inventory split by handler, first video track's display
    dimensions, total mdat bytes — the metadata pass a video corpus
    runs BEFORE routing anything to the (GPU-bound) frame decoder,
    at box-walk cost with zero sample decode. One row per decodable
    BMFF payload; other payloads contribute no rows (the
    exploding-op convention the GIF census set)."""

    pick = itemgetter(
        "major_brand", "n_tracks", "n_video_tracks", "n_audio_tracks",
        "duration_ms", "width", "height", "mdat_bytes",
    )
    return _per_payload(
        media,
        VIDEO_CENSUS_SCHEMA,
        lambda p: [pick(mediacodec.mp4_box_census(p))],
    )


MKV_CENSUS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("doc_type", T.StringType(), False),
        T.StructField("n_tracks", T.IntegerType(), False),
        T.StructField("n_video_tracks", T.IntegerType(), False),
        T.StructField("n_audio_tracks", T.IntegerType(), False),
        T.StructField("duration_ms", T.LongType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("void_bytes", T.LongType(), False),
    ]
)


def mkv_container_census(media: DataFrame) -> DataFrame:
    """REAL Matroska/WebM (EBML) container census
    (`mediacodec.mkv_census`): DocType, per-TrackType inventory,
    first video track's pixel dimensions, Duration x TimestampScale
    movie length, Void padding bytes — the metadata pass before
    anything reaches a (GPU-bound) frame decoder, at EBML-walk cost
    with zero sample decode. One row per decodable EBML payload;
    other payloads contribute no rows (the exploding-op convention
    the GIF census set)."""

    pick = itemgetter(
        "doc_type", "n_tracks", "n_video_tracks", "n_audio_tracks",
        "duration_ms", "width", "height", "void_bytes",
    )
    return _per_payload(
        media,
        MKV_CENSUS_SCHEMA,
        lambda p: [pick(mediacodec.mkv_census(p))],
    )


DHASH_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("dhash", T.LongType(), False),
    ]
)


def image_dhash(media: DataFrame) -> DataFrame:
    """REAL perceptual difference-hash over binary netpbm payloads
    (`mediacodec.dhash64`: NN-resize to 9x8 on the raw raster,
    integer BT.601 luminance, 64 gradient-direction bits) — the image
    twin of the text SimHash signature stage. Feed the output to
    `operators.dedup.hamming_pairs_from_signatures` for banded
    multi-index image near-dup at corpus scale. Undecodable payloads
    contribute no rows (poison-pill contract: only the codec
    exception family is absorbed)."""

    def rows_of(p):
        h = mediacodec.dhash64(p)
        return [(h - (1 << 64) if h >= 1 << 63 else h,)]

    return _per_payload(media, DHASH_SCHEMA, rows_of)
