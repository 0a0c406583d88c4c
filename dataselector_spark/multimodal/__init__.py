"""Multimodal column handling (SURVEY.md §2 B16).

Pattern: media payloads are opaque ``binary`` columns travelling next to a
typed metadata struct; decode / feature-extraction runs as Arrow-batched
``mapInPandas`` so each Python worker touches whole record batches, never
rows. The Spark-side plumbing (schema, batch iteration, partition sizing) is
real and tested. `extract_features` reads the payload bytes as they are
(image/audio libraries are not in this container); the netpbm, RIFF/WAVE
and YUV4MPEG2 codecs parse real formats with no optional dependency.

Every stage that emits ``(doc_id, payload, meta)`` is one `_payload_map`
over a per-row function; rasters are read through `_raster`, which checks
the payload length against the metadata and names the doc_id when they
disagree.

Worker imports: Spark's Python workers cannot import this package when the
driver runs from outside the repo (and sandboxed executors never can). A
batch closure pickles by value, but a module-level function it calls
pickles by reference, as an import of its module. This module is therefore
registered with cloudpickle by value: its helpers travel inside the
pickled closure. A closure defined anywhere else in the package must not
call a package-level name; ``tests/test_llm_ops.py`` runs the codec
entries from a directory where the package is not importable.

Scale notes: binary payloads dominate row size, so partition sizing must key
off `spark.sql.files.maxPartitionBytes`, not row counts; feature extraction
is map-only (no shuffle) and the output (small numeric features) should be
written columnar so downstream training reads never touch the blobs again.
"""

from __future__ import annotations

import math
import struct
import sys
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark import cloudpickle
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

cloudpickle.register_pickle_by_value(sys.modules[__name__])

MEDIA_META = T.StructType(
    [
        T.StructField("media_type", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_bytes", T.LongType()),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("byte_mean", T.DoubleType()),
        T.StructField("byte_min", T.IntegerType()),
        T.StructField("byte_max", T.IntegerType()),
    ]
)


def _payload_map(df: DataFrame, schema: T.StructType, row, cols=("payload", "meta")):
    """The one ``(doc_id, payload, meta)`` stage: ``row`` maps the values of
    ``cols`` in one input row to that row's ``(payload, meta)``, and doc_id
    passes through. Output is built column by column per Arrow batch."""

    def batches(it):
        for pdf in it:
            payloads, metas = [], []
            for values in zip(*(pdf[c] for c in cols)):
                payload, meta = row(*values)
                payloads.append(payload)
                metas.append(meta)
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "payload": payloads, "meta": metas}
            )

    return df.mapInPandas(batches, schema)


def _raster(stage: str, doc_id, payload: bytes, shape, dtype="uint8"):
    """``payload`` as a numpy array of ``shape``. A payload whose length
    disagrees with its metadata raises naming the doc_id (the ADVICE r8
    rule), not with numpy's bare reshape error."""
    n = math.prod(shape) * np.dtype(dtype).itemsize
    if len(payload) != n:
        raise ValueError(
            f"{stage}: doc_id={int(doc_id)} payload is {len(payload)} bytes, "
            f"meta says {'x'.join(map(str, shape))} {dtype} = {n} bytes"
        )
    return np.frombuffer(payload, dtype=dtype).reshape(shape)


def _nn_sample(img, out_h: int, out_w: int):
    """Nearest-neighbor index mapping: row r' = r*h//out_h, col
    c' = c*w//out_w."""
    h, w = img.shape
    return img[(np.arange(out_h) * h) // out_h][:, (np.arange(out_w) * w) // out_w]


def _image_meta(media_type: str, w: int, h: int, n_bytes: int) -> dict:
    return {"media_type": media_type, "width": w, "height": h, "n_bytes": n_bytes}


def synthesize_media(docs: DataFrame) -> DataFrame:
    """Derive a deterministic binary payload + metadata struct from the
    documents table (the container has no real media files): payload =
    UTF-8 bytes of the text; width/height derived from doc_id. Exercises the
    exact schema a real ingest would produce."""
    payload = F.encode(F.col("text"), "UTF-8")
    return docs.select(
        "doc_id",
        payload.alias("payload"),
        F.struct(
            F.lit("image/fake").alias("media_type"),
            (F.pmod(F.col("doc_id"), F.lit(64)) + 16).cast("int").alias("width"),
            (F.pmod(F.col("doc_id"), F.lit(48)) + 12).cast("int").alias("height"),
            F.octet_length(payload).cast("bigint").alias("n_bytes"),
        ).alias("meta"),
    )


def extract_features(media: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads via mapInPandas:
    per-record byte statistics (the stand-in for pixel/frame statistics).
    Map-only — no shuffle; output is small numeric columns."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            # the payload bytes stand in for decoded pixels (no codec here)
            payload = pdf["payload"]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": payload.map(len).astype("int64"),
                    "byte_mean": payload.map(
                        lambda b: float(sum(b)) / len(b) if len(b) else 0.0
                    ),
                    "byte_min": payload.map(lambda b: min(b) if len(b) else 0),
                    "byte_max": payload.map(lambda b: max(b) if len(b) else 0),
                }
            )

    return media.mapInPandas(batches, FEATURE_SCHEMA)


BITMAP_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("meta", MEDIA_META),
    ]
)

# the schema of resize_media's output, which is any bitmap stage's
RESIZED_SCHEMA = BITMAP_SCHEMA

FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame", T.BinaryType()),
        T.StructField("n_bytes", T.LongType()),
    ]
)


def resize_media(media: DataFrame, width: int, height: int) -> DataFrame:
    """Binary-in / binary-out transform (the resize stage of an image
    pipeline) via mapInPandas. The codec is stubbed deterministically —
    payload truncated/cycled to exactly width*height bytes — but the
    plumbing is the real thing: binary columns both ways, metadata struct
    rebuilt to reflect the new dimensions, map-only (no shuffle).
    Swap the stub for PIL's `Image.resize` and nothing else changes."""
    w, h = int(width), int(height)
    target = w * h

    def row(payload, m):
        # Deterministic stand-in for a real resample: cycle the source
        # bytes to the target length (empty source -> zero bytes).
        if not payload:
            out = bytes(target)
        else:
            out = (payload * (target // len(payload) + 1))[:target]
        return out, _image_meta(m["media_type"], w, h, len(out))

    return _payload_map(media, RESIZED_SCHEMA, row)


def sample_frames(media: DataFrame, frame_bytes: int, every_n: int = 2) -> DataFrame:
    """Row-expanding transform (the frame-sampling stage of a video
    pipeline): treat each payload as consecutive ``frame_bytes`` chunks and
    emit every ``every_n``-th chunk as its own row — 1 row in, N rows out,
    the generator shape `explode` can't give you when the expansion needs
    imperative logic. Map-only; output partition count follows input."""
    fb, k = int(frame_bytes), int(every_n)

    def batches(it):
        for pdf in it:
            out = {"doc_id": [], "frame_idx": [], "frame": [], "n_bytes": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                n_frames = len(payload) // fb
                for i in range(0, n_frames, k):
                    chunk = payload[i * fb : (i + 1) * fb]
                    out["doc_id"].append(doc_id)
                    out["frame_idx"].append(i)
                    out["frame"].append(chunk)
                    out["n_bytes"].append(len(chunk))
            yield pd.DataFrame(out)

    return media.mapInPandas(batches, FRAME_SCHEMA)


def synthesize_bitmaps(docs: DataFrame) -> DataFrame:
    """Deterministic RAW grayscale bitmaps (no codec needed): each doc gets a
    (height x width) uint8 raster with pixel(r, c) = (doc_id*31 + r*7 + c*13)
    mod 256, exactly width*height payload bytes. Unlike `synthesize_media`'s
    text bytes, these are honest raster payloads, so downstream raster ops
    (resize, stats) can do REAL pixel arithmetic with numpy — no PIL/ffmpeg
    required, and every byte is reproducible for tests and rows-only checks."""

    def row(doc_id):
        w = int(doc_id) % 64 + 16
        h = int(doc_id) % 48 + 12
        r = np.arange(h, dtype=np.int64)[:, None]
        c = np.arange(w, dtype=np.int64)[None, :]
        img = ((int(doc_id) * 31 + r * 7 + c * 13) % 256).astype(np.uint8)
        return img.tobytes(), _image_meta("image/raw8", w, h, w * h)

    return _payload_map(docs.select("doc_id"), BITMAP_SCHEMA, row, ("doc_id",))


# netpbm magic -> (format name, channels, encoded media_type, raw media_type)
_NETPBM = {
    b"P5": ("PGM", 1, "image/x-portable-graymap", "image/raw8"),
    b"P6": ("PPM", 3, "image/x-portable-pixmap", "image/raw24"),
}


def _netpbm_encode(media: DataFrame, magic: bytes) -> DataFrame:
    media_type = _NETPBM[magic][2]

    def row(p, m):
        header = f"{magic.decode()}\n{m['width']} {m['height']}\n255\n".encode(
            "ascii"
        )
        meta = _image_meta(media_type, m["width"], m["height"], len(header) + len(p))
        return header + bytes(p), meta

    return _payload_map(media, BITMAP_SCHEMA, row)


def _netpbm_parse(buf: bytes, magic: bytes):
    """Parse one binary netpbm payload: the magic, then 3 ints (w, h,
    maxval) separated by whitespace, '#' comments running to end-of-line
    allowed; a single whitespace byte then separates header from raster.
    Strict: a truncated raster AND trailing bytes both raise (a
    concatenated/corrupted payload must not decode silently, ADVICE r5
    #4). Returns (w, h, raster)."""
    name, channels = _NETPBM[magic][:2]
    if buf[:2] != magic:
        raise ValueError(f"not a {magic.decode()}/{name} payload: {buf[:2]!r}")
    pos, tokens = 2, []
    while len(tokens) < 3:
        while pos < len(buf) and buf[pos : pos + 1].isspace():
            pos += 1
        if buf[pos : pos + 1] == b"#":
            while pos < len(buf) and buf[pos : pos + 1] != b"\n":
                pos += 1
            continue
        start = pos
        while pos < len(buf) and not buf[pos : pos + 1].isspace():
            pos += 1
        tokens.append(int(buf[start:pos]))
    pos += 1  # the single whitespace after maxval
    w, h, maxval = tokens
    if maxval != 255:
        raise ValueError(f"only 8-bit {name} supported, maxval={maxval}")
    n = w * h * channels
    if len(buf) - pos < n:
        raise ValueError(f"truncated raster: {len(buf) - pos} != {n}")
    if len(buf) - pos != n:
        raise ValueError(f"trailing bytes after raster: {len(buf) - pos - n}")
    return w, h, buf[pos : pos + n]


def _netpbm_decode(media: DataFrame, magic: bytes) -> DataFrame:
    channels, media_type = _NETPBM[magic][1], _NETPBM[magic][3]

    def row(buf):
        w, h, raster = _netpbm_parse(bytes(buf), magic)
        return raster, _image_meta(media_type, w, h, w * h * channels)

    return _payload_map(media, BITMAP_SCHEMA, row, ("payload",))


def encode_pgm(media: DataFrame) -> DataFrame:
    """Encode raw uint8 rasters as binary PGM (P5) — a REAL image format,
    written byte-exact with no codec library: header ``P5\\n<w> <h>\\n255\\n``
    followed by the row-major raster. Arrow-batched mapInPandas, map-only.
    Output payloads open in any image viewer / PIL / ImageMagick."""
    return _netpbm_encode(media, b"P5")


def decode_pgm(media: DataFrame) -> DataFrame:
    """REAL image decode with no optional dependency: parse the binary PGM
    (P5) header — magic, whitespace/comment handling, dimensions, maxval —
    and return the raw uint8 raster + rebuilt metadata. Actual bytes of an
    actual image format are parsed per the netpbm spec (comments starting
    '#' allowed between header tokens), so the decode stage of the pipeline
    exercises real codec logic end-to-end. Swap in PIL for compressed
    formats (JPEG/PNG) — schema, batching, and partitioning stay
    identical."""
    return _netpbm_decode(media, b"P5")


def synthesize_rgb_bitmaps(docs: DataFrame) -> DataFrame:
    """Deterministic RAW interleaved-RGB bitmaps (the color twin of
    `synthesize_bitmaps`): each doc gets a (height x width x 3) uint8 raster
    with channel(r, c, k) = (doc_id*31 + r*7 + c*13 + k*101) mod 256 and
    exactly width*height*3 payload bytes. Closed-form per-byte, so the PPM
    encode→decode roundtrip can be value-verified pixel-exactly in SQL.
    Dimensions are kept smaller than the grayscale twin (3× the bytes per
    pixel) so the DuckDB oracle's per-pixel replay stays cheap."""

    def row(doc_id):
        w = int(doc_id) % 32 + 8
        h = int(doc_id) % 24 + 6
        r = np.arange(h, dtype=np.int64)[:, None, None]
        c = np.arange(w, dtype=np.int64)[None, :, None]
        k = np.arange(3, dtype=np.int64)[None, None, :]
        img = ((int(doc_id) * 31 + r * 7 + c * 13 + k * 101) % 256).astype(np.uint8)
        return img.tobytes(), _image_meta("image/raw24", w, h, w * h * 3)

    return _payload_map(docs.select("doc_id"), BITMAP_SCHEMA, row, ("doc_id",))


def encode_ppm(media: DataFrame) -> DataFrame:
    """Encode raw interleaved-RGB rasters as binary PPM (P6) — the color
    sibling of `encode_pgm`, same netpbm family: header ``P6\\n<w> <h>\\n255\\n``
    followed by row-major RGB triplets. Byte-exact, no codec library;
    Arrow-batched mapInPandas, map-only."""
    return _netpbm_encode(media, b"P6")


def decode_ppm(media: DataFrame) -> DataFrame:
    """REAL color-image decode with no optional dependency: parse the binary
    PPM (P6) header per the netpbm spec — magic, whitespace/'#'-comment
    handling, dimensions, maxval — and return the raw interleaved-RGB raster
    + rebuilt metadata. Strict: truncated rasters AND trailing bytes both
    raise (a concatenated/corrupted payload must not decode silently)."""
    return _netpbm_decode(media, b"P6")


def resize_bitmap_nn(media: DataFrame, out_w: int, out_h: int) -> DataFrame:
    """REAL nearest-neighbor resize over raw uint8 rasters via numpy index
    mapping — the actual resample arithmetic (source row r' = r*h//out_h,
    col c' = c*w//out_w), not a byte-cycling stand-in. Arrow-batched
    mapInPandas, map-only, binary-in/binary-out; swap in PIL only if you
    need fancier filters (bilinear/Lanczos) — the Spark plumbing is
    identical. A payload whose length disagrees with its meta raises
    naming the doc_id."""
    ow, oh = int(out_w), int(out_h)

    def row(doc_id, p, m):
        shape = (int(m["height"]), int(m["width"]))
        img = _raster("resize_bitmap_nn", doc_id, p, shape)
        meta = _image_meta(m["media_type"], ow, oh, ow * oh)
        return _nn_sample(img, oh, ow).tobytes(), meta

    return _payload_map(media, BITMAP_SCHEMA, row, ("doc_id", "payload", "meta"))


AUDIO_META = T.StructType(
    [
        T.StructField("media_type", T.StringType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_samples", T.IntegerType()),
        T.StructField("n_bytes", T.LongType()),
    ]
)

AUDIO_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("meta", AUDIO_META),
    ]
)


def _pcm_meta(n: int, sample_rate: int = 8000) -> dict:
    return {
        "media_type": "audio/raw-s16le",
        "sample_rate": sample_rate,
        "n_samples": n,
        "n_bytes": 2 * n,
    }


def synthesize_pcm(docs: DataFrame) -> DataFrame:
    """Deterministic mono int16 PCM clips (the audio sibling of
    `synthesize_bitmaps`): doc_id gets n = doc_id%512 + 256 samples at
    8 kHz with sample(i) = ((doc_id*7919 + i*2654435761) mod 65536) - 32768
    — integer closed form, so every decoded sample is replayable in SQL
    with no float trig. Little-endian int16 payload bytes, reproducible on
    any executor layout."""

    def row(doc_id):
        d = int(doc_id)
        n = d % 512 + 256
        i = np.arange(n, dtype=np.int64)
        samples = ((d * 7919 + i * 2654435761) % 65536 - 32768).astype("<i2")
        return samples.tobytes(), _pcm_meta(n)

    return _payload_map(docs.select("doc_id"), AUDIO_SCHEMA, row, ("doc_id",))


def encode_wav(media: DataFrame) -> DataFrame:
    """Encode raw int16 PCM as a REAL RIFF/WAVE file, byte-exact with no
    codec library: ``RIFF <size> WAVE`` + a 16-byte PCM ``fmt `` chunk
    (format 1, mono, 16-bit, byte-rate/block-align derived) + the ``data``
    chunk. Output payloads play in any audio player / load with the stdlib
    ``wave`` module. Arrow-batched mapInPandas, map-only."""

    def row(p, m):
        pcm = bytes(p)
        sr, ch, bits = int(m["sample_rate"]), 1, 16
        block = ch * bits // 8
        fmt = struct.pack("<4sIHHIIHH", b"fmt ", 16, 1, ch, sr, sr * block, block, bits)
        data = struct.pack("<4sI", b"data", len(pcm)) + pcm
        riff = struct.pack("<4sI4s", b"RIFF", 4 + len(fmt) + len(data), b"WAVE")
        buf = riff + fmt + data
        return buf, {
            "media_type": "audio/wav",
            "sample_rate": sr,
            "n_samples": len(pcm) // block,
            "n_bytes": len(buf),
        }

    return _payload_map(media, AUDIO_SCHEMA, row)


def decode_wav(media: DataFrame) -> DataFrame:
    """REAL audio decode with no optional dependency: walk the RIFF chunk
    list per spec (magic, chunk ids + sizes, word alignment), require a PCM
    (format 1) mono 16-bit ``fmt `` chunk before ``data``, and reject
    trailing bytes, unknown compression codes, or a truncated data chunk —
    the same strictness contract as `decode_pgm`/`decode_ppm` (a silent
    partial decode would hide corruption). Unknown NON-essential chunks
    (e.g. LIST metadata) are skipped, as the spec requires. Returns the raw
    s16le payload + rebuilt metadata. Swap in soundfile/ffmpeg for
    compressed codecs — schema, batching, and partitioning stay identical."""

    def row(payload):
        buf = bytes(payload)
        if len(buf) < 12 or buf[:4] != b"RIFF" or buf[8:12] != b"WAVE":
            raise ValueError(f"not a RIFF/WAVE payload: {buf[:12]!r}")
        (riff_size,) = struct.unpack_from("<I", buf, 4)
        if 8 + riff_size != len(buf):
            raise ValueError(f"RIFF size {riff_size} != payload {len(buf) - 8}")
        pos, sr, pcm = 12, None, None
        while pos + 8 <= len(buf):
            cid, csize = struct.unpack_from("<4sI", buf, pos)
            body = buf[pos + 8 : pos + 8 + csize]
            if len(body) != csize:
                raise ValueError(f"truncated {cid!r} chunk")
            if cid == b"fmt ":
                if csize < 16:
                    raise ValueError(f"fmt chunk too short: {csize}")
                code, ch, sr, _br, _ba, bits = struct.unpack_from("<HHIIHH", body, 0)
                if code != 1 or ch != 1 or bits != 16:
                    raise ValueError(
                        f"only PCM mono 16-bit supported: "
                        f"code={code} ch={ch} bits={bits}"
                    )
            elif cid == b"data":
                if sr is None:
                    raise ValueError("data chunk before fmt chunk")
                pcm = body
            # other chunks (LIST, fact, ...) skipped per spec
            pos += 8 + csize + (csize & 1)  # chunks are word-aligned
        if pos != len(buf):
            raise ValueError(f"trailing bytes after last chunk: {len(buf) - pos}")
        if pcm is None:
            raise ValueError("no data chunk")
        if len(pcm) % 2:
            raise ValueError("odd data length for 16-bit samples")
        return pcm, _pcm_meta(len(pcm) // 2, sr)

    return _payload_map(media, AUDIO_SCHEMA, row, ("payload",))


VIDEO_META = T.StructType(
    [
        T.StructField("media_type", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("n_bytes", T.LongType()),
    ]
)

VIDEO_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("meta", VIDEO_META),
    ]
)


def _clip_meta(w: int, h: int, nf: int) -> dict:
    return {
        "media_type": "video/raw8",
        "width": w,
        "height": h,
        "n_frames": nf,
        "n_bytes": w * h * nf,
    }


def synthesize_clips(docs: DataFrame) -> DataFrame:
    """Deterministic multi-frame grayscale clips (the video sibling of
    `synthesize_bitmaps`): doc_id gets n = doc_id%6 + 2 frames of
    (h = doc_id%12 + 6) x (w = doc_id%16 + 8) uint8 luma with
    pixel(t, r, c) = (doc_id*31 + t*17 + r*7 + c*13) mod 256 — closed-form,
    so every decoded pixel of every frame is replayable in SQL. Payload =
    frames concatenated row-major."""

    def row(doc_id):
        d = int(doc_id)
        w, h, nf = d % 16 + 8, d % 12 + 6, d % 6 + 2
        t = np.arange(nf, dtype=np.int64)[:, None, None]
        r = np.arange(h, dtype=np.int64)[None, :, None]
        c = np.arange(w, dtype=np.int64)[None, None, :]
        clip = ((d * 31 + t * 17 + r * 7 + c * 13) % 256).astype(np.uint8)
        return clip.tobytes(), _clip_meta(w, h, nf)

    return _payload_map(docs.select("doc_id"), VIDEO_SCHEMA, row, ("doc_id",))


def encode_y4m(media: DataFrame) -> DataFrame:
    """Encode raw luma clips as a REAL video container — YUV4MPEG2 (.y4m),
    byte-exact with no codec library: stream header
    ``YUV4MPEG2 W<w> H<h> F25:1 Ip A1:1 Cmono\\n`` then per frame
    ``FRAME\\n`` + the row-major luma plane (Cmono = luma-only, so plane
    size is exactly w*h). Output payloads play in ffplay/mpv and parse
    with ffprobe. Arrow-batched mapInPandas, map-only."""

    def row(p, m):
        raw = bytes(p)
        w, h, nf = int(m["width"]), int(m["height"]), int(m["n_frames"])
        head = f"YUV4MPEG2 W{w} H{h} F25:1 Ip A1:1 Cmono\n".encode()
        frames = b"".join(
            b"FRAME\n" + raw[i * w * h : (i + 1) * w * h] for i in range(nf)
        )
        buf = head + frames
        return buf, {
            "media_type": "video/x-yuv4mpeg2",
            "width": w,
            "height": h,
            "n_frames": nf,
            "n_bytes": len(buf),
        }

    return _payload_map(media, VIDEO_SCHEMA, row)


def decode_y4m(media: DataFrame) -> DataFrame:
    """REAL video-container decode with no optional dependency: parse the
    YUV4MPEG2 stream header (magic, space-separated W/H/F/I/A/C parameter
    tagged fields — unknown X extension fields skipped per spec), require
    Cmono (luma-only; subsampled chroma needs a real pixel lib), then walk
    the FRAME markers — each may carry its own parameters up to the
    newline, and every plane must be exactly w*h bytes. Strictness contract
    as decode_pgm/decode_wav: wrong magic, missing W/H, unsupported
    colorspace, truncated plane, or trailing bytes all raise. Returns the
    concatenated raw luma + rebuilt metadata; swap in ffmpeg for compressed
    codecs with identical schema/batching/partitioning."""

    def row(payload):
        buf = bytes(payload)
        nl = buf.find(b"\n")
        if nl < 0 or not buf.startswith(b"YUV4MPEG2"):
            raise ValueError(f"not a YUV4MPEG2 payload: {buf[:12]!r}")
        w = h = None
        cs = "420"  # the spec default when no C field is present
        for tok in buf[9:nl].split(b" "):
            if not tok:
                continue
            tag, val = tok[:1], tok[1:]
            if tag == b"W":
                w = int(val)
            elif tag == b"H":
                h = int(val)
            elif tag == b"C":
                cs = val.decode("ascii")
            # F/I/A/X fields are valid but irrelevant to the raster
        if w is None or h is None:
            raise ValueError("stream header missing W or H")
        if cs != "mono":
            raise ValueError(f"only Cmono supported, got C{cs}")
        pos, planes = nl + 1, []
        while pos < len(buf):
            if buf[pos : pos + 5] != b"FRAME":
                raise ValueError(f"expected FRAME marker at {pos}")
            fnl = buf.find(b"\n", pos)
            if fnl < 0:
                raise ValueError("unterminated FRAME header")
            plane = buf[fnl + 1 : fnl + 1 + w * h]
            if len(plane) != w * h:
                raise ValueError(f"truncated frame plane: {len(plane)} != {w * h}")
            planes.append(plane)
            pos = fnl + 1 + w * h
        if not planes:
            raise ValueError("no frames")
        raw = b"".join(planes)
        return raw, _clip_meta(w, h, len(raw) // (w * h))

    return _payload_map(media, VIDEO_SCHEMA, row, ("payload",))


def synthesize_bitmaps_paired(docs: DataFrame) -> DataFrame:
    """Deterministic rasters with BUILT-IN near-duplicates: docs 2k and 2k+1
    share one base raster (dims and pixels derived from base = doc_id - the
    parity bit), and the odd doc adds a checkerboard +1 perturbation — the
    re-encoded/re-screenshotted variant of the same image a web crawl
    yields. The base pixel rides ``% 255`` (range 0..254) so the +1 never
    wraps: a pair's rasters differ by at most 1 per pixel. Per-base gradient steps
    (7 + base%5, 13 + base%11) plus an r*c cross term (3 + base%7) give each
    base a distinct curved texture — a PURELY linear generator downsamples
    to near-identical half-plane 8x8 bit patterns under the mean threshold,
    and a perceptual hash correctly (but unhelpfully) calls the whole corpus
    one near-dup cluster (observed: 941 pairs instead of ~250 at sf0.01
    before the cross term). Closed-form, so perceptual-hash
    oracles replay every pixel (the synthesize_bitmaps contract)."""

    def row(doc_id):
        doc_id = int(doc_id)
        base = doc_id - (doc_id % 2)
        w = base % 64 + 16
        h = base % 48 + 12
        r = np.arange(h, dtype=np.int64)[:, None]
        c = np.arange(w, dtype=np.int64)[None, :]
        rstep = 7 + base % 5
        cstep = 13 + base % 11
        xstep = 3 + base % 7
        img = (base * 31 + r * rstep + c * cstep + r * c * xstep) % 255 + (
            doc_id % 2
        ) * ((r + c) % 2)
        return img.astype(np.uint8).tobytes(), _image_meta("image/raw8", w, h, w * h)

    return _payload_map(docs.select("doc_id"), BITMAP_SCHEMA, row, ("doc_id",))


def _mean_hash(media: DataFrame, side: int, schema: T.StructType, stage: str):
    """Perceptual mean hash of raw uint8 rasters: nearest-neighbor
    downsample to side x side (resize_bitmap_nn's index mapping), then bit
    j = 1 iff pixel_j * side^2 >= sum(pixels) — the mean test as an integer
    cross-multiply, exact integer arithmetic an oracle can replay. The bits
    (row-major) are packed 32 to a long, one long per column of ``schema``
    after doc_id."""
    names = schema.names[1:]

    def batches(it):
        shifts = np.arange(32)
        for pdf in it:
            cols = [[] for _ in names]
            for d, p, m in zip(pdf["doc_id"], pdf["payload"], pdf["meta"]):
                img = _raster(stage, d, p, (int(m["height"]), int(m["width"])))
                small = _nn_sample(img, side, side).astype(np.int64).ravel()
                bits = (small * side * side >= int(small.sum())).astype(np.int64)
                for k, col in enumerate(cols):
                    col.append(int((bits[32 * k : 32 * k + 32] << shifts).sum()))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], **dict(zip(names, cols))})

    return media.mapInPandas(batches, schema)


AHASH_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("ahash_lo", T.LongType()),
        T.StructField("ahash_hi", T.LongType()),
    ]
)


def ahash64(media: DataFrame) -> DataFrame:
    """64-bit average perceptual hash (aHash) of raw uint8 rasters — the
    classic image-dedup fingerprint: nearest-neighbor downsample to 8x8
    (resize_bitmap_nn's exact index mapping), then bit j = 1 iff
    pixel_j * 64 >= sum(pixels) — the mean comparison as an integer
    cross-multiply, so every bit is exact integer arithmetic an oracle can
    replay (no float mean, no rounding mode). Returned as two longs
    (bits 0-31 -> ahash_lo, 32-63 -> ahash_hi) so neither engine touches
    the sign bit of a 64-bit value. Arrow-batched mapInPandas, map-only;
    near-duplicate images differ in O(few) bits, unrelated images in ~32."""
    return _mean_hash(media, 8, AHASH_SCHEMA, "ahash64")


PHASH_SCHEMA = T.StructType(
    [T.StructField("doc_id", T.LongType())]
    + [T.StructField(f"h{k}", T.LongType()) for k in range(8)]
)


def phash256(media: DataFrame) -> DataFrame:
    """256-bit perceptual hash: 16x16 nearest-neighbor downsample, then the
    same integer mean test as ahash64 (bit j = pixel_j * 256 >= sum). The
    WIDER fingerprint exists for scale, not accuracy: exact-recall LSH
    banding on a 64-bit hash is stuck with <=9-bit bands (pigeonhole), whose
    256-value buckets only cut all-pairs work by a constant ~32x
    (docs/SCALE.md "aHash image dedup": brute codegen won through 80k
    images). 256 bits give 16 bands of 16 bits — 65536-value buckets, so
    banded candidates scale as n^2/65536 and the equi-join actually prunes
    once corpora outgrow the brute scan. Returned as 8 longs of 32 bits
    (h0..h7, row-major bit order), sign-bit free in both engines."""
    return _mean_hash(media, 16, PHASH_SCHEMA, "phash256")


PIXEL_SUM_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("pixel_sum", T.LongType()),
    ]
)


def pixel_sum(media: DataFrame) -> DataFrame:
    """Per-raster checksum for value-checked image entries: (doc_id, width,
    height, sum of the uint8 payload bytes). Map-only mapInPandas."""

    def batches(it):
        for pdf in it:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "width": [m["width"] for m in pdf["meta"]],
                    "height": [m["height"] for m in pdf["meta"]],
                    "pixel_sum": [
                        int(np.frombuffer(p, dtype="uint8").astype("int64").sum())
                        for p in pdf["payload"]
                    ],
                }
            )

    return media.mapInPandas(batches, PIXEL_SUM_SCHEMA)


def synthesize_scene_clips(docs: DataFrame) -> DataFrame:
    """`synthesize_clips` with PLANTED SCENE BOUNDARIES: doc_id gets
    n = doc_id%6 + 2 frames of (h = doc_id%12 + 6) x (w = doc_id%16 + 8)
    uint8 luma where pixel(t, r, c) =
    (doc_id*31 + (t // L)*101 + t*3 + r*7 + c*13) mod 256 with scene
    length L = doc_id%3 + 2. Within a scene consecutive frames differ by
    a +3 luma drift (mean abs diff ~6 including mod-256 wrap); across a
    boundary the (t // L) term jumps by 101 (mean abs diff ~123) — a
    >20x planted contrast, and still fully closed-form so the oracle
    can replay every pixel of every frame."""

    def row(doc_id):
        d = int(doc_id)
        w, h, nf = d % 16 + 8, d % 12 + 6, d % 6 + 2
        scene_len = d % 3 + 2
        t = np.arange(nf, dtype=np.int64)[:, None, None]
        r = np.arange(h, dtype=np.int64)[None, :, None]
        c = np.arange(w, dtype=np.int64)[None, None, :]
        clip = (
            (d * 31 + (t // scene_len) * 101 + t * 3 + r * 7 + c * 13) % 256
        ).astype(np.uint8)
        return clip.tobytes(), _clip_meta(w, h, nf)

    return _payload_map(docs.select("doc_id"), VIDEO_SCHEMA, row, ("doc_id",))


SCENE_CUT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("n_cuts", T.LongType()),
        T.StructField("first_cut", T.LongType()),
    ]
)


def detect_scene_cuts(media: DataFrame, threshold: int = 50) -> DataFrame:
    """Shot-boundary detection on raw luma clips: a cut between frames
    t-1 and t when the sum of absolute pixel differences exceeds
    threshold * (pixels per frame). ALL-INTEGER decision math (uint8 ->
    int16 diff, int64 sum, integer threshold product), so the verdict is
    bit-exact and replayable — no float mean to accumulate differently
    across engines. Map-only (one pass over payload bytes, no shuffle);
    emits per-clip n_cuts and the first cut index (NULL when the clip is
    a single shot). Defensive shape check names the doc_id on a payload
    whose length disagrees with meta (the ADVICE r8 ahash rule)."""
    thr = int(threshold)

    def batches(it):
        for pdf in it:
            out = {"doc_id": [], "n_frames": [], "n_cuts": [], "first_cut": []}
            for doc_id, payload, meta in zip(
                pdf["doc_id"], pdf["payload"], pdf["meta"]
            ):
                w, h, nf = (
                    int(meta["width"]),
                    int(meta["height"]),
                    int(meta["n_frames"]),
                )
                clip = _raster("detect_scene_cuts", doc_id, payload, (nf, h * w))
                sad = np.abs(
                    clip[1:].astype(np.int64) - clip[:-1].astype(np.int64)
                ).sum(axis=1)
                cuts = np.nonzero(sad > thr * h * w)[0] + 1
                out["doc_id"].append(int(doc_id))
                out["n_frames"].append(nf)
                out["n_cuts"].append(int(cuts.size))
                out["first_cut"].append(
                    int(cuts[0]) if cuts.size else None
                )
            yield pd.DataFrame(out)

    return media.mapInPandas(batches, SCENE_CUT_SCHEMA)


def synthesize_gapped_pcm(docs: DataFrame) -> DataFrame:
    """`synthesize_pcm` with PLANTED SILENCE: same n = doc_id%512 + 256
    samples and integer-hash waveform, but every 4th block of
    G = doc_id%32 + 16 samples (blocks with (i // G) % 4 == 1) is zeroed
    — silence runs of length >= 16 alternating with ~3G of loud hash
    noise (mean |s| ~ 16k), a >30x contrast at any sane threshold, and
    still fully closed-form so the oracle can replay every sample."""

    def row(doc_id):
        d = int(doc_id)
        n = d % 512 + 256
        g = d % 32 + 16
        i = np.arange(n, dtype=np.int64)
        samples = ((d * 7919 + i * 2654435761) % 65536 - 32768).astype(np.int64)
        samples[(i // g) % 4 == 1] = 0
        return samples.astype("<i2").tobytes(), _pcm_meta(n)

    return _payload_map(docs.select("doc_id"), AUDIO_SCHEMA, row, ("doc_id",))


SILENCE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_runs", T.LongType()),
        T.StructField("silent_samples", T.LongType()),
        T.StructField("first_run_start", T.LongType()),
    ]
)


def detect_silence_runs(
    media: DataFrame, threshold: int = 512, min_run: int = 8
) -> DataFrame:
    """Silence segmentation on raw PCM: maximal runs of consecutive
    samples with |s| <= threshold; runs shorter than min_run are noise
    dropouts and ignored. ALL-INTEGER decision math (int16 -> int64 abs
    vs an integer threshold), map-only, one pass per payload; emits
    per-clip qualifying-run count, samples inside qualifying runs, and
    the first run's start index (NULL when the clip has none). The
    defensive shape check names the doc_id (the ADVICE r8 rule)."""
    thr, mr = int(threshold), int(min_run)

    def batches(it):
        for pdf in it:
            out = {
                "doc_id": [],
                "n_runs": [],
                "silent_samples": [],
                "first_run_start": [],
            }
            for doc_id, payload, meta in zip(
                pdf["doc_id"], pdf["payload"], pdf["meta"]
            ):
                n = int(meta["n_samples"])
                s = _raster("detect_silence_runs", doc_id, payload, (n,), "<i2")
                quiet = np.abs(s.astype(np.int64)) <= thr
                padded = np.concatenate(([False], quiet, [False]))
                starts = np.nonzero(padded[1:-1] & ~padded[:-2])[0]
                ends = np.nonzero(padded[1:-1] & ~padded[2:])[0]
                lens = ends - starts + 1
                keep = lens >= mr
                out["doc_id"].append(int(doc_id))
                out["n_runs"].append(int(keep.sum()))
                out["silent_samples"].append(int(lens[keep].sum()))
                out["first_run_start"].append(
                    int(starts[keep][0]) if keep.any() else None
                )
            yield pd.DataFrame(out)

    return media.mapInPandas(batches, SILENCE_SCHEMA)
