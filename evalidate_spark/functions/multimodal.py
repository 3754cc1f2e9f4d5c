"""Multimodal column plumbing — image/audio/video payloads as opaque
``binary`` columns with typed metadata, processed through Arrow-batched
``mapInPandas`` UDFs.

The Spark side is real and tested: schemas, batch iteration, partition
sizing, UDF signatures.  The decode step is REAL for every modality now:
images — baseline JPEG (pure numpy Huffman+IDCT,
:mod:`evalidate_spark.functions.jpeg`), PNG (stdlib zlib), 24-bit BMP —
audio — 16-bit PCM WAV — and video — MJPEG / uncompressed-DIB AVI
(:mod:`evalidate_spark.functions.avi`): header-only probe for features,
full frame decode + sampling in :func:`frame_sample`.  Exotic variants
(progressive JPEG, stereo WAV, H.264/VP9 video, …) remain a
**clearly-marked stub**: ``strict=True`` raises ``NotImplementedError``,
the default derives deterministic fake dimensions (flagged
``decoded = false`` in the feature rows) so pipelines stay testable
end-to-end.  Swap :func:`decode_media`'s fallback for pyav in production;
nothing else changes.

Scale notes: payload bytes never pass through the driver, never join, and
never shuffle — feature extraction is a map-only stage.  Keep
``spark.sql.files.maxPartitionBytes`` modest (128 MB default) so a
partition of payloads fits executor memory; Arrow batch size is capped via
``spark.sql.execution.arrow.maxRecordsPerBatch`` for very large payloads.
"""

from __future__ import annotations

import struct
from typing import Iterator, Optional

from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from . import avi, codecs, mp4

#: what the decoders raise on malformed or unsupported bytes: such a payload
#: becomes a flagged stub row; anything else is a bug and propagates
_BAD_BYTES = (ValueError, IndexError, struct.error, NotImplementedError)

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType()),
        T.StructField("media_kind", T.StringType()),  # image | audio | video
        T.StructField("payload", T.BinaryType()),
        T.StructField("meta", T.MapType(T.StringType(), T.StringType())),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType()),
        T.StructField("media_kind", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("payload_sha", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_ms", T.IntegerType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("rms", T.DoubleType()),
        T.StructField("decoded", T.BooleanType()),  # real decode vs stub dims
    ]
)


def decode_media(kind: str, payload: bytes, strict: bool = False) -> dict:
    """Decode one payload to typed features.

    Real paths (no external libraries): baseline JPEG, PNG, and BMP →
    width/height; WAV → duration/sample-rate/RMS; MJPEG/DIB AVI video →
    width/height/duration (header-only probe — frame bytes untouched, the
    cheap path over a 100 TB media column).  Anything else is a codec
    this sandbox cannot decode (H.264 video, progressive JPEG, …):
    ``strict=True`` raises ``NotImplementedError``; otherwise
    deterministic pseudo-dimensions are derived from the payload hash and
    the row is flagged ``decoded: False``."""
    import hashlib
    import math

    out = {
        "width": None, "height": None, "duration_ms": None,
        "sample_rate": None, "rms": None, "decoded": True,
    }
    payload = payload or b""
    # dispatch on DECLARED kind + container magic: a payload whose bytes
    # don't match its kind (mislabeled/corrupt upstream) must not decode as
    # another modality — it falls through to strict-raise / flagged stub.
    # Unsupported container VARIANTS (32bpp BMP, stereo WAV, truncated
    # files) likewise fall through instead of crashing the whole stage.
    if kind == "image":
        # shared container-sniffing decode (BMP/PNG/baseline JPEG) lives in
        # perceptual.decode_image — one dispatch to maintain, not two
        from .perceptual import decode_image

        px = decode_image(payload)
        if px is not None:
            out.update(width=int(px.shape[1]), height=int(px.shape[0]))
            return out
    if kind == "video" and avi.is_avi(payload):
        try:
            info = avi.probe_avi(payload)
            # decoded=True is a promise that the FRAMES are decodable, not
            # just the header: an H.264-in-AVI payload must fall through to
            # the strict-raise / flagged-stub path
            if avi.is_decodable(info):
                out.update(
                    width=int(info.width),
                    height=int(info.height),
                    duration_ms=int(info.duration_ms),
                )
                return out
        except _BAD_BYTES:
            pass
    if kind == "video" and mp4.is_mp4(payload):
        # MP4/ISO-BMFF: the box walk yields REAL header metadata (dims,
        # duration, codec fourcc) without touching a frame — the cheap
        # path for the dominant real-world container.  decoded stays
        # False (its contract is frame decodability; H.264/H.265 frames
        # are not decodable here), but unlike the hash-stub fallback the
        # dims are genuine.  strict mode keeps raising below only when
        # even the probe fails.
        try:
            info = mp4.probe_mp4(payload)
            if info.width and info.height:
                out.update(
                    width=int(info.width),
                    height=int(info.height),
                    duration_ms=int(info.duration_ms),
                    decoded=False,
                )
                return out
        except _BAD_BYTES:
            # probe_mp4 raises ValueError on contract violations but can
            # surface IndexError/struct.error on truncated box payloads
            # (e.g. ftyp + empty mvhd) — a malformed payload must fall
            # through to the stub path, never crash the Arrow stage
            pass
    if kind == "audio" and payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        try:
            samples, rate = codecs.decode_wav(payload)
            rms = (
                float(math.sqrt((samples.astype("float64") ** 2).mean()))
                if len(samples)
                else 0.0
            )
            out.update(
                duration_ms=int(len(samples) * 1000 / rate),
                sample_rate=int(rate),
                rms=round(rms, 6),
            )
            return out
        except _BAD_BYTES:
            pass
    if strict:
        raise NotImplementedError(
            f"cannot decode compressed/unknown {kind!r} payload without external "
            "codec libraries (PIL/soundfile/pyav) — not available in this sandbox"
        )
    # STUB fallback: stable pseudo-dimensions from the payload hash
    h = hashlib.sha256(payload).digest()
    out["decoded"] = False
    if kind == "image":
        out.update(width=64 + h[0], height=64 + h[1])
    elif kind == "audio":
        out.update(duration_ms=1000 + int.from_bytes(h[2:4], "big"))
    elif kind == "video":
        out.update(
            width=64 + h[0], height=64 + h[1],
            duration_ms=1000 + int.from_bytes(h[2:4], "big"),
        )
    else:
        raise NotImplementedError(f"unknown media kind {kind!r}")
    return out


def extract_features(media: DataFrame, strict: bool = False) -> DataFrame:
    """Arrow-batched feature extraction over a media table
    (:data:`MEDIA_SCHEMA`-shaped) → :data:`FEATURE_SCHEMA` rows.

    ``mapInPandas`` — one Python worker per partition, pandas batches in,
    pandas batches out; payload stays columnar Arrow end-to-end."""
    import hashlib

    import pandas as pd

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in it:
            decoded = [
                decode_media(k, p if p is not None else b"", strict=strict)
                for k, p in zip(pdf["media_kind"], pdf["payload"])
            ]
            yield pd.DataFrame(
                {
                    "media_ref": pdf["media_ref"],
                    "media_kind": pdf["media_kind"],
                    "n_bytes": [len(p) if p is not None else 0 for p in pdf["payload"]],
                    "payload_sha": [
                        hashlib.sha256(p if p is not None else b"").hexdigest()
                        for p in pdf["payload"]
                    ],
                    "width": pd.array([d["width"] for d in decoded], dtype="Int32"),
                    "height": pd.array([d["height"] for d in decoded], dtype="Int32"),
                    "duration_ms": pd.array(
                        [d["duration_ms"] for d in decoded], dtype="Int32"
                    ),
                    "sample_rate": pd.array(
                        [d["sample_rate"] for d in decoded], dtype="Int32"
                    ),
                    "rms": pd.array([d["rms"] for d in decoded], dtype="Float64"),
                    "decoded": [d["decoded"] for d in decoded],
                }
            )

    return media.mapInPandas(batches, schema=FEATURE_SCHEMA)


def resize_images(media: DataFrame, width: int, height: int) -> DataFrame:
    """REAL image resize for JPEG, PNG, and BMP payloads: decode →
    nearest-neighbour resample → re-encode in the same container, inside
    the Arrow batch loop (binary in, binary out, no driver involvement).
    Other payloads pass through unchanged with
    ``meta['resize'] = 'skipped:<reason>'``."""
    import pandas as pd

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in it:
            payloads, metas = [], []
            for kind, p, m in zip(pdf["media_kind"], pdf["payload"], pdf["meta"]):
                meta = dict(m) if isinstance(m, dict) else {}
                head = bytes(p[:8]) if p is not None else b""
                if kind == "image" and head[:2] == b"BM":
                    px = codecs.decode_bmp(bytes(p))
                    out = codecs.encode_bmp(codecs.resize_nearest(px, width, height))
                    payloads.append(out)
                    meta["resize"] = f"{width}x{height}"
                elif kind == "image" and head == codecs.PNG_SIGNATURE:
                    px = codecs.decode_png(bytes(p))
                    out = codecs.encode_png(codecs.resize_nearest(px, width, height))
                    payloads.append(out)
                    meta["resize"] = f"{width}x{height}"
                elif kind == "image" and head[:3] == b"\xff\xd8\xff":
                    px = codecs.decode_jpeg(bytes(p))
                    out = codecs.encode_jpeg(
                        codecs.resize_nearest(px, width, height), quality=85
                    )
                    payloads.append(out)
                    meta["resize"] = f"{width}x{height}"
                else:
                    payloads.append(p)
                    meta["resize"] = (
                        "skipped:unknown-container" if kind == "image" else "skipped:not-image"
                    )
                metas.append(meta)
            out_pdf = pdf.copy()
            out_pdf["payload"] = payloads
            out_pdf["meta"] = metas
            yield out_pdf

    return media.mapInPandas(batches, schema=MEDIA_SCHEMA)


def resize_stub(media: DataFrame, width: int, height: int) -> DataFrame:
    """STUB resize: passes payloads through ``mapInPandas`` with the target
    dims recorded in ``meta`` (use :func:`resize_images` for the real BMP
    path).  Proves the binary-in/binary-out batch path."""
    import pandas as pd

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in it:
            meta = [
                {**(m if isinstance(m, dict) else {}), "resize": f"{width}x{height}"}
                for m in pdf["meta"]
            ]
            out = pdf.copy()
            out["meta"] = meta
            yield out

    return media.mapInPandas(batches, schema=MEDIA_SCHEMA)


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType()),
        T.StructField("sample_ix", T.IntegerType()),  # 0,1,2,… per payload
        T.StructField("frame_ix", T.IntegerType()),   # source frame; NULL on stub
        T.StructField("ts_ms", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("frame_sha", T.StringType()),
        T.StructField("decoded", T.BooleanType()),
    ]
)


def frame_sample(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """REAL video frame sampling for MJPEG / uncompressed-DIB AVI payloads
    (:data:`FRAME_SCHEMA` rows): decode the stream once per payload, then
    emit the frame at-or-before each ``every_ms`` grid point — one row per
    sample with the frame's true dims and a sha-256 of its RGB pixels
    (``decoded = true``).  Video payloads in codecs this sandbox cannot
    decode (H.264, VP9, corrupt containers, …) fall back to deterministic
    pseudo-frame rows flagged ``decoded = false`` so mixed corpora still
    flow end-to-end — any decode error downgrades the one payload, never
    the stage.

    ``sample_ix`` is the dense per-payload sample counter — the join key
    ``(media_ref, sample_ix)`` is unique.  ``frame_ix`` is the SOURCE frame
    index the sample resolved to (repeats when ``every_ms`` under-runs the
    frame period; NULL on the stub path where no real frame exists).
    1→N ``mapInPandas`` row expansion; payload and frame bytes never leave
    the executors."""
    import hashlib

    import pandas as pd

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in it:
            rows = {k.name: [] for k in FRAME_SCHEMA.fields}
            for ref, kind, payload in zip(
                pdf["media_ref"], pdf["media_kind"], pdf["payload"]
            ):
                if kind != "video":
                    continue
                payload = bytes(payload) if payload is not None else b""
                frames = None
                if avi.is_avi(payload):
                    try:
                        frames, fps = avi.decode_avi(payload)
                    except _BAD_BYTES:  # corrupt/unsupported → flagged stub
                        frames = None
                if frames:
                    dur = int(round(len(frames) * 1000 / fps))
                    for ix, ts in enumerate(range(0, dur, every_ms)):
                        fix = min(int(ts * fps / 1000), len(frames) - 1)
                        px = frames[fix]
                        rows["media_ref"].append(ref)
                        rows["sample_ix"].append(ix)
                        rows["frame_ix"].append(fix)
                        rows["ts_ms"].append(ts)
                        rows["width"].append(px.shape[1])
                        rows["height"].append(px.shape[0])
                        rows["frame_sha"].append(
                            hashlib.sha256(px.tobytes()).hexdigest()
                        )
                        rows["decoded"].append(True)
                else:
                    stub = decode_media(kind, payload)
                    for ix, ts in enumerate(range(0, stub["duration_ms"], every_ms)):
                        rows["media_ref"].append(ref)
                        rows["sample_ix"].append(ix)
                        rows["frame_ix"].append(None)
                        rows["ts_ms"].append(ts)
                        rows["width"].append(stub["width"])
                        rows["height"].append(stub["height"])
                        rows["frame_sha"].append(
                            hashlib.sha256(
                                payload + ts.to_bytes(4, "big")
                            ).hexdigest()
                        )
                        rows["decoded"].append(False)
            out = pd.DataFrame(rows)
            out["frame_ix"] = out["frame_ix"].astype("Int32")
            yield out

    return media.mapInPandas(batches, schema=FRAME_SCHEMA)


def frame_sample_stub(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """STUB video frame sampling: emits one row per sampled frame with a
    deterministic frame payload, regardless of container (use
    :func:`frame_sample` for the real MJPEG/DIB-AVI decode path).
    Demonstrates the 1→N ``mapInPandas`` row-expansion shape."""
    import hashlib

    import pandas as pd

    schema = T.StructType(
        [
            T.StructField("media_ref", T.StringType()),
            T.StructField("frame_ix", T.IntegerType()),
            T.StructField("ts_ms", T.IntegerType()),
            T.StructField("frame_sha", T.StringType()),
        ]
    )

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in it:
            refs, ixs, tss, shas = [], [], [], []
            for ref, kind, payload in zip(pdf["media_ref"], pdf["media_kind"], pdf["payload"]):
                if kind != "video":
                    continue
                dur = decode_media(kind, payload if payload is not None else b"")["duration_ms"]
                for ix, ts in enumerate(range(0, dur, every_ms)):
                    refs.append(ref)
                    ixs.append(ix)
                    tss.append(ts)
                    shas.append(
                        hashlib.sha256((payload or b"") + ts.to_bytes(4, "big")).hexdigest()
                    )
            yield pd.DataFrame({"media_ref": refs, "frame_ix": ixs, "ts_ms": tss, "frame_sha": shas})

    return media.mapInPandas(batches, schema=schema)


#: magic-byte container signatures (hex of the leading bytes; RIFF
#: containers disambiguate on the form-type at bytes 9-12).  Public file
#: layouts: PNG (RFC 2083 §12.11), JPEG/JFIF SOI, BMP 'BM', RIFF/WAVE,
#: RIFF/'AVI ', GIF87a/89a.
_RIFF = "52494646"


def sniff_format(
    media: DataFrame,
    payload_col: str = "payload",
    out_col: str = "sniffed",
) -> DataFrame:
    """Identify each binary payload's REAL container format from its
    magic bytes — ``'jpeg' | 'png' | 'bmp' | 'gif' | 'wav' | 'avi' |
    'mp4' | 'empty' | 'unknown'`` (NULL payload stays NULL: presence checks own
    it).  This is the cheap 100 TB media-column gate: a pure Column
    projection over the first 12 bytes, no decode, no Python — run it
    over everything, and spend the Arrow decode path
    (:func:`extract_features`) only on rows whose container is wrong or
    unknown.  Parquet cannot prune a binary column's *content*, but the
    scan stays one fused codegen stage with zero shuffles."""
    p = F.col("`%s`" % payload_col)
    head = F.hex(F.substring(p, 1, 8))
    riff_type = F.hex(F.substring(p, 9, 4))
    sniffed = (
        F.when(p.isNull(), F.lit(None).cast("string"))
        .when(F.length(p) == 0, F.lit("empty"))
        .when(head.startswith("89504E470D0A1A0A"), F.lit("png"))
        .when(head.startswith("FFD8FF"), F.lit("jpeg"))
        .when(
            head.startswith(_RIFF),
            F.when(riff_type == "57415645", F.lit("wav"))
            .when(riff_type == "41564920", F.lit("avi"))
            .otherwise(F.lit("unknown")),
        )
        .when(head.startswith("424D"), F.lit("bmp"))
        .when(
            head.startswith("474946383761") | head.startswith("474946383961"),
            F.lit("gif"),
        )
        # ISO-BMFF: any major brand — the box fourcc 'ftyp' at offset 4
        .when(F.hex(F.substring(p, 5, 4)) == "66747970", F.lit("mp4"))
        .otherwise(F.lit("unknown"))
    )
    return media.withColumn(out_col, sniffed)


#: which sniffed containers are legitimate for each declared media kind
KIND_FORMATS = {
    "image": ("jpeg", "png", "bmp", "gif"),
    "audio": ("wav",),
    "video": ("avi", "mp4"),
}


def media_format_check(
    media: DataFrame,
    kind_col: str = "media_kind",
    payload_col: str = "payload",
) -> DataFrame:
    """Declared-vs-sniffed consistency over a media table: adds
    ``sniffed`` (:func:`sniff_format`) and ``format_ok`` — true iff the
    payload's real container is one :data:`KIND_FORMATS` allows for the
    declared kind.  NULL payload or NULL/unknown kind → ``format_ok``
    false (a media row whose bytes cannot be vouched for fails the
    gate).  Same zero-shuffle projection shape as the sniffer."""
    k = F.col("`%s`" % kind_col)
    out = sniff_format(media, payload_col=payload_col)
    ok = F.lit(False)
    for kind, fmts in KIND_FORMATS.items():
        ok = F.when((k == kind) & F.col("sniffed").isin(*fmts), F.lit(True)).otherwise(ok)
    return out.withColumn("format_ok", ok)


CONTAINER_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType()),
        T.StructField("container", T.StringType()),
        T.StructField("codec", T.StringType()),
        T.StructField("n_tracks", T.IntegerType()),
        T.StructField("has_audio", T.BooleanType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_ms", T.IntegerType()),
    ]
)

def _sniff_bytes(p: bytes) -> str:
    """Python twin of :func:`sniff_format`'s Column logic, for the rows
    the container probe does not deep-parse."""
    if len(p) == 0:
        return "empty"
    if p[:8] == b"\x89PNG\r\n\x1a\n":
        return "png"
    if p[:3] == b"\xff\xd8\xff":
        return "jpeg"
    if p[:4] == b"RIFF":
        if p[8:12] == b"WAVE":
            return "wav"
        if p[8:12] == b"AVI ":
            return "avi"
        return "unknown"
    if p[:2] == b"BM":
        return "bmp"
    if p[:6] in (b"GIF87a", b"GIF89a"):
        return "gif"
    if p[4:8] == b"ftyp":
        return "mp4"
    return "unknown"


def probe_containers(media: DataFrame) -> DataFrame:
    """Container-metadata probe over a media table — the deep-parse
    companion to :func:`sniff_format`: per payload, the container, the
    declared codec, and the track layout, WITHOUT decoding a frame.
    MP4 payloads walk the ISO-BMFF box tree (:func:`mp4.probe_mp4` —
    brand/codec/tracks/dims/duration); AVI payloads walk the RIFF
    headers (:func:`avi.probe_avi` — ``mjpg``/``dib``/fourcc, stream
    count, audio presence).  Other containers report their sniffed
    format with NULL codec fields (pixel-level facts belong to
    :func:`extract_features`).  Unparseable payloads report container
    ``'corrupt:<sniff>'`` — a malformed MP4 is a data-quality finding,
    not an exception.

    Scale shape: map-only ``mapInPandas``, the probe touches only the
    first/last KB of each payload in memory, 8 small columns out —
    payload bytes never shuffle, never reach the driver."""
    import pandas as pd

    def one(p) -> dict:
        p = bytes(p) if p is not None else b""
        out = {
            "container": None, "codec": None, "n_tracks": None,
            "has_audio": None, "width": None, "height": None,
            "duration_ms": None,
        }
        sniff = _sniff_bytes(p)
        out["container"] = sniff
        try:
            if sniff == "mp4":
                info = mp4.probe_mp4(p)
                out.update(
                    codec=info.video_codec.lower() or None,
                    n_tracks=info.n_tracks,
                    has_audio=info.has_audio,
                    width=info.width or None,
                    height=info.height or None,
                    duration_ms=info.duration_ms,
                )
            elif sniff == "avi":
                info = avi.probe_avi(p)
                if info.handler.upper() == b"MJPG":
                    codec = "mjpg"
                elif info.compression == 0:
                    codec = "dib"
                else:
                    codec = info.handler.decode("latin-1").strip().lower() or None
                out.update(
                    codec=codec,
                    n_tracks=info.n_streams,
                    has_audio=info.has_audio,
                    width=info.width,
                    height=info.height,
                    duration_ms=info.duration_ms,
                )
        except _BAD_BYTES:
            out = dict.fromkeys(out, None)
            out["container"] = "corrupt:%s" % sniff
        return out

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in it:
            probed = [one(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "media_ref": pdf["media_ref"],
                    **{
                        k: [d[k] for d in probed]
                        for k in (
                            "container", "codec", "n_tracks", "has_audio",
                            "width", "height", "duration_ms",
                        )
                    },
                }
            ).astype(
                {
                    "n_tracks": "Int32", "width": "Int32",
                    "height": "Int32", "duration_ms": "Int32",
                }
            )

    return media.mapInPandas(batches, schema=CONTAINER_SCHEMA)


def synth_media(
    spark,
    n: int = 100,
    partitions: Optional[int] = None,
    mp4_videos: bool = False,
) -> DataFrame:
    """Deterministic synthetic media table with REAL payloads where a
    library-free codec exists: images rotate through true baseline JPEGs
    (the dominant lossy web format), true PNGs (zlib-deflated), and true
    24-bit BMPs (8–23 px noise squares), audio is true mono 16-bit PCM WAV
    (sine tones 1.0–3.0 s at 4 kHz), video is true AVI — alternating MJPEG
    (lossy, through the baseline-JPEG encoder) and uncompressed-DIB
    (bit-exact) streams of 2–4 noise frames at 4 fps.  Generated distributed
    (``mapInPandas`` over ``spark.range`` — no driver-side loop), seeded
    per id.

    ``mp4_videos=True`` widens the video rotation to thirds — MJPEG AVI /
    DIB AVI / valid minimal ISO-BMFF MP4 (``avc1`` sample entry, same
    closed-form dims and duration as the AVI streams, opaque ``mdat``) —
    exercising the header-probe-only container path; the default stays
    False so frame-decode fixtures (``frame_sample`` tests/oracles) keep
    their all-decodable corpus."""
    import numpy as np
    import pandas as pd

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in it:
            refs, kinds, payloads, metas = [], [], [], []
            for i in pdf["id"]:
                i = int(i)
                rng = np.random.default_rng(42 + i)
                kind = ("image", "audio", "video")[i % 3]
                if kind == "image":
                    w, h = 8 + i % 16, 8 + (i // 3) % 16
                    px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
                    variant = (i // 3) % 3
                    if variant == 0:
                        payload = codecs.encode_png(px)
                    elif variant == 1:
                        payload = codecs.encode_bmp(px)
                    else:
                        payload = codecs.encode_jpeg(px, quality=85)
                elif kind == "audio":
                    rate = 4000
                    dur_s = 1.0 + (i % 5) * 0.5
                    t = np.arange(int(rate * dur_s))
                    freq = 100 + (i % 20) * 25
                    samples = (
                        np.sin(2 * np.pi * freq * t / rate) * 8000
                    ).astype(np.int16)
                    payload = codecs.encode_wav(samples, rate)
                else:
                    w, h = 8 + i % 8, 8 + (i // 3) % 8
                    # i % 3 is constant on this branch (it selected the
                    # kind) — vary the frame count on i // 3 instead
                    n_frames = 2 + (i // 3) % 3
                    if mp4_videos and (i // 3) % 3 == 2:
                        # same closed-form dims/duration as the AVI
                        # streams (n_frames at 4 fps) so oracles share
                        # one formula across containers
                        payload = mp4.encode_mp4(
                            w, h, n_frames * 250, codec=b"avc1"
                        )
                    else:
                        frames = [
                            rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
                            for _ in range(n_frames)
                        ]
                        if (i // 3) % 2 == 0:
                            payload = avi.encode_avi_mjpeg(frames, fps=4, quality=85)
                        else:
                            payload = avi.encode_avi_dib(frames, fps=4)
                refs.append(f"m-{i}")
                kinds.append(kind)
                payloads.append(payload)
                metas.append({"src": "synth"})
            yield pd.DataFrame(
                {"media_ref": refs, "media_kind": kinds, "payload": payloads, "meta": metas}
            )

    return spark.range(0, n, numPartitions=partitions).mapInPandas(
        batches, schema=MEDIA_SCHEMA
    )


def synth_smooth_videos(spark, n: int = 12, partitions: Optional[int] = None) -> DataFrame:
    """Deterministic synthetic VIDEO table with JPEG-friendly content: each
    video is 3 frames of low-frequency sinusoidal gradients whose
    orientation/frequency depend on the id (distinct videos are far apart
    perceptually) and whose phase shifts per frame.  Complements
    :func:`synth_media`'s noise videos — noise is JPEG's worst case, so
    perceptual re-encode proximity needs smooth content.  DIB-encoded
    (bit-exact ground truth); pair with
    :func:`evalidate_spark.functions.perceptual.transcode_video` for lossy
    duplicates."""
    import numpy as np
    import pandas as pd

    from . import avi as _avi

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in it:
            refs, kinds, payloads, metas = [], [], [], []
            for i in pdf["id"]:
                v = int(i)
                a, b = 1 + (v % 4), 1 + (v // 4)
                h, w = 16, 20
                y, x = np.mgrid[0:h, 0:w]
                frames = []
                for t in range(3):
                    ph = 2 * np.pi * (a * x / w + b * y / h) + t * 0.9
                    base = (128 + 100 * np.sin(ph)).astype(np.uint8)
                    g = (128 + 100 * np.cos(ph * 0.7)).astype(np.uint8)
                    frames.append(
                        np.stack([base, g, 255 - base], -1).astype(np.uint8)
                    )
                refs.append(f"v-{v}")
                kinds.append("video")
                payloads.append(_avi.encode_avi_dib(frames, fps=4))
                metas.append({"src": "synth-smooth"})
            yield pd.DataFrame(
                {"media_ref": refs, "media_kind": kinds, "payload": payloads, "meta": metas}
            )

    return spark.range(0, n, numPartitions=partitions).mapInPandas(
        batches, schema=MEDIA_SCHEMA
    )
