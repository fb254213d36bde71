"""Multimodal-column operators: opaque binary payloads + Pandas-UDF decode.

A 100 TB training-data pipeline carries image/audio/video as opaque
``binary`` columns with typed metadata. The Spark-side plumbing is real —
binary column, ``mapInPandas`` over Arrow batches, explicit output schema,
1->N frame fan-out — and so is the codec for container formats that need
no system libraries: ``_decode_real`` parses PPM (P6) and BMP image
headers, RIFF/WAV audio chunks, and ISO-BMFF (MP4) box structure in pure
Python. Payloads that aren't a recognized container fall back to
``_decode_fake``, a deterministic feature extractor the DuckDB oracle
reproduces. Swapping in a richer decoder (PIL/libav) still changes ONE
function, not the plan. Beyond metadata decode, the sample-level
primitives the pipeline brief names are real too: ``resize_image``
(nearest-neighbor over the decoded RGB plane, binary in -> valid P6 out),
``pixel_stats`` (image feature extraction) and ``audio_stats`` (PCM
peak/RMS from the WAV data chunk) — all numpy-per-Arrow-batch map-only
operators with row-level ok/NULL error channels.

The ``media`` frame derives from ``documents``: media_type cycles
image/audio/video by doc_id. Image rows carry a REAL PPM container
(ASCII header + the text bytes as the pixel plane) so the registered
query exercises the real parse path end-to-end while staying
oracle-expressible; audio/video rows carry raw utf-8 text bytes and
exercise the fallback. BMP and WAV parsing is exercised by binary
fixtures in tests (their headers are little-endian binary — not
constructible in portable SQL, so they stay out of the oracle-gated
payload).

The multimodal members of the dedup family are here too:
``llm_multimodal_image_dedup`` groups images by a perceptual average hash
(aHash) of the real decoded pixel plane, so byte-different but visually
identical images collide where payload-md5 dedup cannot, and
``llm_multimodal_image_neardup_pairs`` finds hamming-bounded aHash pairs
through banded candidates. aHash bits are exact-integer mean compares
(cross-multiplied, no division), identical on both engines.
"""

from __future__ import annotations

import hashlib
import struct
from collections.abc import Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from .. import tables as T
from ..operators.hashing import HEX
from ..operators.joins import candidate_pairs
from .catalog import query


DECODE_SCHEMA = (
    "doc_id bigint, media_type string, byte_len bigint, content_md5 string,"
    " width bigint, height bigint, n_frames bigint"
)
FRAME_SCHEMA = "doc_id bigint, frame_idx bigint, frame_md5 string"


def media_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> (doc_id, media_type, media_bytes binary).

    The binary column is the contract: downstream operators must treat it
    as opaque (no string ops), exactly how parquet would carry real jpeg/
    wav/mp4 payloads. Image rows are a valid binary PPM (P6): ASCII
    header carrying deterministic dimensions, text bytes as the pixel
    plane — built with JVM-side string expressions (codegen, no Python)
    so the oracle can reproduce the exact payload. Partitioning note: at
    scale, media rows are wide — keep ``spark.sql.files.maxPartitionBytes``
    sized so one Arrow batch of payloads fits executor memory.
    """
    d = T.load(spark, sf_dir, "documents")
    iw = (F.lit(16) + F.octet_length("text") % 64).cast("bigint")
    ih = (
        F.lit(16)
        + (
            F.expr(f"instr('{HEX}', substr(md5(encode(text, 'utf-8')), 1, 1))")
            - 1
        )
        * 4
    ).cast("bigint")
    ppm = F.concat(
        F.lit("P6\n"),
        iw.cast("string"),
        F.lit(" "),
        ih.cast("string"),
        F.lit("\n255\n"),
        F.col("text"),
    )
    return d.select(
        "doc_id",
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
        .alias("media_type"),
        F.encode(
            F.when(F.col("doc_id") % 3 == 0, ppm).otherwise(F.col("text")),
            "utf-8",
        ).alias("media_bytes"),
    )


def _ppm_header(b: bytes) -> tuple[int, int, int]:
    """(width, height, plane offset) of a binary pixmap (PPM P6): ASCII
    header ``P6 <w> <h> <maxval>`` with whitespace separators and '#'
    comments; the raw RGB plane starts after the single whitespace byte
    that ends the third token."""
    if not b.startswith(b"P6"):
        raise ValueError("not ppm")
    toks: list[bytes] = []
    i, n = 2, len(b)
    while len(toks) < 3 and i < n:
        c = b[i : i + 1]
        if c.isspace():
            i += 1
        elif c == b"#":  # comment runs to end of line
            while i < n and b[i : i + 1] != b"\n":
                i += 1
        else:
            j = i
            while j < n and not b[j : j + 1].isspace():
                j += 1
            toks.append(b[i:j])
            i = j
    if len(toks) < 3 or not all(t.isdigit() for t in toks):
        raise ValueError("bad ppm header")
    w, h, maxval = (int(t) for t in toks)
    if not (0 < w and 0 < h and 0 < maxval < 65536):
        raise ValueError("bad ppm dims")
    return w, h, i + 1


def _parse_ppm(b: bytes) -> dict:
    """Decode metadata of a PPM P6 container (``_ppm_header``)."""
    w, h, _ = _ppm_header(b)
    return {"width": w, "height": h, "n_frames": 1}


def _parse_bmp(b: bytes) -> dict:
    """Windows bitmap with a BITMAPINFOHEADER; validates magic, the
    declared file size, and the 40-byte info-header size so arbitrary
    'BM...'-prefixed bytes can't mis-parse."""
    if len(b) < 54 or not b.startswith(b"BM"):
        raise ValueError("not bmp")
    (file_size,) = struct.unpack_from("<I", b, 2)
    (hdr_size,) = struct.unpack_from("<I", b, 14)
    if file_size != len(b) or hdr_size != 40:
        raise ValueError("bad bmp header")
    w, h = struct.unpack_from("<ii", b, 18)
    if w <= 0 or h == 0:
        raise ValueError("bad bmp dims")
    return {"width": int(w), "height": abs(int(h)), "n_frames": 1}


def _wav_chunks(b: bytes) -> tuple[tuple, int, bytes]:
    """RIFF/WAVE PCM: validates the RIFF size against the actual payload
    length, then walks the chunks once. Returns the ``fmt `` fields
    (format, channels, rate, byte rate, block align, bits), the declared
    ``data`` length and the data chunk bytes."""
    if len(b) < 44 or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        raise ValueError("not wav")
    (riff_size,) = struct.unpack_from("<I", b, 4)
    if riff_size != len(b) - 8:
        raise ValueError("bad riff size")
    i, fmt, data_len, data = 12, None, None, None
    while i + 8 <= len(b):
        cid = b[i : i + 4]
        (sz,) = struct.unpack_from("<I", b, i + 4)
        if cid == b"fmt " and sz >= 16:
            fmt = struct.unpack_from("<HHIIHH", b, i + 8)
        elif cid == b"data":
            data_len, data = sz, b[i + 8 : i + 8 + sz]
        i += 8 + sz + (sz % 2)  # chunks are word-aligned
    if fmt is None or data_len is None:
        raise ValueError("missing wav chunks")
    _, channels, _, _, block_align, _ = fmt
    if channels <= 0 or block_align <= 0:
        raise ValueError("bad wav fmt")
    return fmt, data_len, data


def _parse_wav(b: bytes) -> dict:
    """Decode metadata of a PCM WAV (``_wav_chunks``), mapped into the
    shared decode schema: width=channels, height=bits/sample,
    n_frames=sample frames (data bytes / block align)."""
    (_, channels, _, _, block_align, bits), data_len, _ = _wav_chunks(b)
    return {
        "width": int(channels),
        "height": int(bits),
        "n_frames": int(data_len // block_align),
    }


def _mp4_boxes(b: bytes, start: int, end: int):
    """Yield (type, payload_start, payload_end) for ISO-BMFF boxes in
    b[start:end); validates size chaining exactly to the range end."""
    i = start
    while i < end:
        if i + 8 > end:
            raise ValueError("truncated mp4 box header")
        (size,) = struct.unpack_from(">I", b, i)
        btype = b[i + 4 : i + 8]
        if size == 1:  # 64-bit largesize
            if i + 16 > end:
                raise ValueError("truncated mp4 largesize")
            (size,) = struct.unpack_from(">Q", b, i + 8)
            payload = i + 16
        else:
            payload = i + 8
        if size < payload - i or i + size > end:
            raise ValueError("bad mp4 box size")
        yield btype, payload, i + size
        i += size
    if i != end:
        raise ValueError("mp4 boxes do not chain to end")


def _mp4_find(b: bytes, start: int, end: int, *path: bytes):
    """Descend a container-box path; returns (payload_start, payload_end)."""
    for depth, want in enumerate(path):
        found = None
        for btype, ps, pe in _mp4_boxes(b, start, end):
            if btype == want:
                found = (ps, pe)
                break
        if found is None:
            raise ValueError(f"mp4 missing box {want!r}")
        start, end = found
        # container boxes whose payload is itself a box sequence need no
        # skip; full boxes (tkhd/stsz) are handled by the caller
    return start, end


def _parse_mp4(b: bytes) -> dict:
    """Minimal ISO-BMFF (MP4) metadata parse: validates the ftyp leader and
    exact top-level box chaining, then reads moov/trak/tkhd for the track
    dimensions (16.16 fixed point) and .../stbl/stsz for the sample count.
    Strict enough that arbitrary bytes cannot mis-parse (magic + size
    chain + version checks)."""
    if len(b) < 16:
        raise ValueError("not mp4")
    boxes = list(_mp4_boxes(b, 0, len(b)))
    if boxes[0][0] != b"ftyp":
        raise ValueError("not mp4 (no ftyp leader)")
    tk_s, tk_e = _mp4_find(b, 0, len(b), b"moov", b"trak", b"tkhd")
    if tk_e - tk_s < 84 or b[tk_s] != 0:  # version-0 tkhd is 84 bytes
        raise ValueError("bad tkhd")
    w_fixed, h_fixed = struct.unpack_from(">II", b, tk_e - 8)
    mvs, mve = _mp4_find(b, 0, len(b), b"moov", b"trak", b"mdia", b"minf",
                         b"stbl", b"stsz")
    if mve - mvs < 12:
        raise ValueError("bad stsz")
    sample_size, sample_count = struct.unpack_from(">II", b, mvs + 4)
    w, h = w_fixed >> 16, h_fixed >> 16
    if w <= 0 or h <= 0:
        raise ValueError("bad mp4 dims")
    return {"width": w, "height": h, "n_frames": int(sample_count)}


_PARSERS: dict[str, tuple] = {
    "image": (_parse_ppm, _parse_bmp),
    "audio": (_parse_wav,),
    "video": (_parse_mp4,),  # binary container: exercised by test fixtures
}


def _decode_real(payload: bytes, media_type: str) -> dict:
    """Pure-Python container decode: tries each parser registered for the
    declared media type; every parser validates strictly enough that
    non-container bytes cannot mis-parse (magic + size/structure checks).
    Raises NotImplementedError when no parser accepts the payload — the
    caller falls back to the deterministic fake."""
    for parse in _PARSERS.get(media_type, ()):
        try:
            meta = parse(payload)
        except (ValueError, struct.error):
            continue
        return {
            "byte_len": len(payload),
            "content_md5": hashlib.md5(payload).hexdigest(),
            **meta,
        }
    raise NotImplementedError(f"no pure-python parser accepted {media_type}")


def _decode_fake(payload: bytes, media_type: str) -> dict:
    """Deterministic fake decode (oracle-matched): features derived purely
    from byte length and md5, so DuckDB can verify the plumbing."""
    md5 = hashlib.md5(payload).hexdigest()
    n = len(payload)
    return {
        "byte_len": n,
        "content_md5": md5,
        "width": 16 + n % 64,
        "height": 16 + HEX.index(md5[0]) * 4,
        "n_frames": 1 + n % 4 if media_type == "video" else 1,
    }


def decode_meta(media: DataFrame) -> DataFrame:
    """mapInPandas decode: one output row per media row.

    Arrow-batched (not row-at-a-time): each partition arrives as a stream
    of pandas DataFrames; features are computed columnar-ish per batch and
    yielded with the declared schema. This is the pattern every real
    decode/resize/feature-extract op at scale follows.
    """

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [
                _safe_decode(b, t)
                for b, t in zip(pdf["media_bytes"], pdf["media_type"])
            ]
            out = pd.DataFrame(feats)
            out.insert(0, "media_type", pdf["media_type"].values)
            out.insert(0, "doc_id", pdf["doc_id"].values)
            yield out

    return media.mapInPandas(fn, schema=DECODE_SCHEMA)


def _safe_decode(payload: bytes, media_type: str) -> dict:
    try:
        return _decode_real(bytes(payload), media_type)
    except NotImplementedError:
        return _decode_fake(bytes(payload), media_type)


def sample_frames(media: DataFrame) -> DataFrame:
    """mapInPandas frame sampler: 1->N fan-out (video frame extraction
    shape). Demonstrates variable-length batch output — the yielded frame
    count per input row is data-dependent."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload, mt in zip(
                pdf["doc_id"], pdf["media_bytes"], pdf["media_type"]
            ):
                meta = _safe_decode(bytes(payload), mt)
                for i in range(meta["n_frames"]):
                    rows.append(
                        {
                            "doc_id": doc_id,
                            "frame_idx": i,
                            "frame_md5": hashlib.md5(
                                f"{meta['content_md5']}#{i}".encode()
                            ).hexdigest(),
                        }
                    )
            yield pd.DataFrame(rows, columns=["doc_id", "frame_idx", "frame_md5"])

    return media.mapInPandas(fn, schema=FRAME_SCHEMA)


_META_SQL = f"""
m AS (
    SELECT doc_id, text,
           CASE CAST(doc_id % 3 AS INT)
                WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video'
           END AS media_type,
           16 + octet_length(encode(text)) % 64 AS iw,
           16 + (strpos('{HEX}', substr(md5(text), 1, 1)) - 1) * 4 AS ih
    FROM documents
), p AS (
    -- image rows are a real PPM container: ASCII header + text as pixels
    SELECT doc_id, media_type, iw, ih,
           CASE WHEN media_type = 'image'
                THEN 'P6' || chr(10) || CAST(iw AS VARCHAR) || ' '
                     || CAST(ih AS VARCHAR) || chr(10) || '255' || chr(10)
                     || text
                ELSE text END AS payload
    FROM m
), meta AS (
    SELECT doc_id, media_type,
           octet_length(encode(payload)) AS byte_len,
           md5(payload) AS content_md5,
           CASE WHEN media_type = 'image' THEN iw
                ELSE 16 + octet_length(encode(payload)) % 64 END AS width,
           CASE WHEN media_type = 'image' THEN ih
                ELSE 16 + (strpos('{HEX}', substr(md5(payload), 1, 1)) - 1) * 4
           END AS height,
           CASE WHEN media_type = 'video'
                THEN 1 + octet_length(encode(payload)) % 4 ELSE 1 END
               AS n_frames
    FROM p
)"""


@query(
    "llm_multimodal_decode",
    oracle=f"""
WITH {_META_SQL}
SELECT doc_id, media_type, byte_len, content_md5, width, height, n_frames
FROM meta
""",
    tags=("llm-multimodal",),
)
def llm_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary media decode via mapInPandas. Image rows exercise the REAL
    pure-Python PPM parse (header-derived width/height); audio/video rows
    exercise the deterministic fallback."""
    return decode_meta(media_frame(spark, sf_dir))


@query(
    "llm_multimodal_frame_sample",
    oracle=f"""
WITH {_META_SQL},
fr AS (
    SELECT doc_id, content_md5, unnest(range(0, n_frames)) AS frame_idx
    FROM meta
)
SELECT doc_id, frame_idx,
       md5(content_md5 || '#' || CAST(frame_idx AS VARCHAR)) AS frame_md5
FROM fr
""",
    tags=("llm-multimodal",),
)
def llm_multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling: data-dependent 1->N fan-out inside mapInPandas."""
    return sample_frames(media_frame(spark, sf_dir))


PIXEL_SCHEMA = (
    "doc_id bigint, width bigint, height bigint, n_plane_bytes bigint,"
    " pixel_sum bigint, pixel_mean_milli bigint"
)


def pixel_stats(media: DataFrame) -> DataFrame:
    """Real pixel-plane feature extraction: parse the PPM header, slice the
    raw plane, reduce it with numpy (vectorized byte arithmetic per Arrow
    batch — the shape every image-statistics / embedding-preprocess op at
    scale takes). Integer sum + integer-milli mean keep the output exact
    and engine-portable. Same row-level error channel as resize_image /
    audio_stats: a non-PPM or truncated payload yields NULL features for
    that doc_id instead of failing the task (a corrupt blob must never
    kill a retry loop); the oracle-gated frame carries only valid PPMs,
    so gated output is unaffected."""
    import numpy as np

    cols = [c.split()[0] for c in PIXEL_SCHEMA.split(",")]

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["media_bytes"]):
                b = bytes(payload)
                try:
                    w, h, off = _ppm_header(b)  # header-derived dims
                    if off > len(b):
                        raise ValueError("truncated ppm: no plane")
                    plane = np.frombuffer(b, dtype=np.uint8, offset=off)
                    s = int(plane.sum(dtype=np.int64))
                    rows.append(
                        {
                            "doc_id": doc_id,
                            "width": w,
                            "height": h,
                            "n_plane_bytes": len(plane),
                            "pixel_sum": s,
                            "pixel_mean_milli": (1000 * s) // len(plane)
                            if len(plane)
                            else 0,
                        }
                    )
                except (ValueError, struct.error):
                    rows.append(
                        {
                            "doc_id": doc_id,
                            "width": None,
                            "height": None,
                            "n_plane_bytes": None,
                            "pixel_sum": None,
                            "pixel_mean_milli": None,
                        }
                    )
            yield pd.DataFrame(rows, columns=cols)

    return media.mapInPandas(fn, schema=PIXEL_SCHEMA)


@query(
    "llm_multimodal_pixel_stats",
    oracle=f"""
WITH m AS (
    SELECT doc_id, text,
           16 + octet_length(encode(text)) % 64 AS iw,
           16 + (strpos('{HEX}', substr(md5(text), 1, 1)) - 1) * 4 AS ih
    FROM documents WHERE CAST(doc_id % 3 AS INT) = 0
)
SELECT doc_id,
       CAST(iw AS BIGINT) AS width,
       CAST(ih AS BIGINT) AS height,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_plane_bytes,
       CAST(list_sum([ascii(c) for c in string_split(text, '')]) AS BIGINT)
           AS pixel_sum,
       CAST((1000 * list_sum([ascii(c) for c in string_split(text, '')]))
            // greatest(octet_length(encode(text)), 1) AS BIGINT)
           AS pixel_mean_milli
FROM m
""",
    tags=("llm-multimodal",),
)
def llm_multimodal_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-image pixel statistics computed from the DECODED plane of the
    real PPM containers (header parse + numpy byte reduction inside
    mapInPandas). The oracle reproduces the numbers from the payload
    construction rule (plane == utf-8 text bytes; testdata is ASCII, so
    byte values == character codes) — proving the decode read exactly the
    bytes the container carries. Map-only plan: scan -> Arrow batch ->
    one output row per image; no shuffle at any scale."""
    return pixel_stats(
        media_frame(spark, sf_dir).filter(F.col("media_type") == "image")
    )


RESIZE_SCHEMA = (
    "doc_id bigint, ok boolean, src_width bigint, src_height bigint,"
    " width bigint, height bigint, media_bytes binary"
)


def resize_image(media: DataFrame, out_w: int, out_h: int) -> DataFrame:
    """Nearest-neighbor image resize — binary in, binary out.

    The third multimodal primitive the pipeline brief names (decode /
    feature-extract / RESIZE / frame-sample): parse the P6 header, reshape
    the raw plane to (h, w, 3) with numpy, gather nearest-neighbor rows
    and columns (``(np.arange(out) * src) // out`` — the standard integer
    NN mapping, deterministic, no float resampling), and re-emit a fully
    valid P6 container with the new dimensions. Per-row failures (not a
    PPM, truncated plane) yield ok=false with NULL payload instead of
    failing the batch — the row-level error-channel shape a 100 TB decode
    stage needs (a single corrupt blob must never kill a task retry loop).
    Map-only ``mapInPandas`` over Arrow batches; scales by executors like
    any decode. Real-codec swap (PIL/cv2 interpolation) changes only the
    numpy body.
    """
    import numpy as np

    cols = [c.split()[0] for c in RESIZE_SCHEMA.split(",")]

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["media_bytes"]):
                b = bytes(payload)
                try:
                    w, h, off = _ppm_header(b)
                    plane = np.frombuffer(b, dtype=np.uint8, offset=off)
                    if len(plane) != w * h * 3:
                        raise ValueError("plane length != w*h*3")
                    img = plane.reshape(h, w, 3)
                    rr = (np.arange(out_h, dtype=np.int64) * h) // out_h
                    cc = (np.arange(out_w, dtype=np.int64) * w) // out_w
                    resized = img[rr][:, cc]
                    out = (
                        b"P6\n%d %d\n255\n" % (out_w, out_h)
                        + resized.tobytes()
                    )
                    rows.append(
                        {
                            "doc_id": doc_id,
                            "ok": True,
                            "src_width": w,
                            "src_height": h,
                            "width": out_w,
                            "height": out_h,
                            "media_bytes": out,
                        }
                    )
                except (ValueError, struct.error):
                    rows.append(
                        {
                            "doc_id": doc_id,
                            "ok": False,
                            "src_width": None,
                            "src_height": None,
                            "width": None,
                            "height": None,
                            "media_bytes": None,
                        }
                    )
            yield pd.DataFrame(rows, columns=cols)

    return media.mapInPandas(fn, schema=RESIZE_SCHEMA)


AUDIO_SCHEMA = (
    "doc_id bigint, ok boolean, channels bigint, sample_rate bigint,"
    " bits bigint, n_samples bigint, peak_abs bigint, rms bigint"
)


def _wav_pcm(b: bytes):
    """(channels, sample_rate, bits, data_bytes) from a validated PCM WAV
    (``_wav_chunks``) for sample-level features. 8-bit PCM is unsigned,
    16-bit is signed LE."""
    (_, channels, rate, _, _, bits), _, data = _wav_chunks(b)
    if bits not in (8, 16):
        raise ValueError("unsupported pcm width")
    return int(channels), int(rate), int(bits), data


def audio_stats(media: DataFrame) -> DataFrame:
    """Audio feature extraction over decoded PCM — the audio twin of
    ``pixel_stats``: per payload, sample count, peak amplitude and RMS
    from the raw data chunk (numpy int64 reduction per Arrow batch; 8-bit
    samples centered at 128 first). RMS is ``isqrt(sum_sq // n)`` —
    integer end-to-end, so the feature is deterministic and
    engine-portable, the same exactness contract every oracle-gated
    number in this repo keeps. Row-level error channel (ok=false) for
    non-WAV payloads; map-only ``mapInPandas``, scales by executors."""
    import math

    import numpy as np

    cols = [c.split()[0] for c in AUDIO_SCHEMA.split(",")]

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["media_bytes"]):
                b = bytes(payload)
                try:
                    channels, rate, bits, data = _wav_pcm(b)
                    if bits == 16:
                        x = np.frombuffer(
                            data[: len(data) // 2 * 2], dtype="<i2"
                        ).astype(np.int64)
                    else:
                        x = np.frombuffer(data, dtype=np.uint8).astype(
                            np.int64
                        ) - 128
                    n = int(x.size)
                    peak = int(np.abs(x).max()) if n else 0
                    rms = int(math.isqrt(int((x * x).sum()) // n)) if n else 0
                    rows.append(
                        {
                            "doc_id": doc_id,
                            "ok": True,
                            "channels": channels,
                            "sample_rate": rate,
                            "bits": bits,
                            "n_samples": n,
                            "peak_abs": peak,
                            "rms": rms,
                        }
                    )
                except (ValueError, struct.error, TypeError):
                    rows.append(
                        {
                            "doc_id": doc_id,
                            "ok": False,
                            "channels": None,
                            "sample_rate": None,
                            "bits": None,
                            "n_samples": None,
                            "peak_abs": None,
                            "rms": None,
                        }
                    )
            yield pd.DataFrame(rows, columns=cols)

    return media.mapInPandas(fn, schema=AUDIO_SCHEMA)


def _fixed_ppm_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-row subset as FIXED-GEOMETRY 8x6 P6 containers whose plane is
    exactly w*h*3 bytes (text rpad-ed/truncated to 144) — the shape the
    resize kernel requires (``len(plane) == w*h*3``), built with JVM-side
    string expressions so the oracle reproduces the exact payload bytes
    (testdata text is ASCII: chars == bytes)."""
    d = T.load(spark, sf_dir, "documents").filter(F.col("doc_id") % 3 == 0)
    plane = F.rpad(F.col("text"), 144, "x")
    payload = F.concat(F.lit("P6\n8 6\n255\n"), plane)
    return d.select(
        "doc_id",
        F.lit("image").alias("media_type"),
        F.encode(payload, "utf-8").alias("media_bytes"),
    )


@query(
    "llm_multimodal_resize",
    oracle="""
WITH img AS (
    SELECT doc_id, rpad(text, 144, 'x') AS plane
    FROM documents WHERE CAST(doc_id % 3 AS INT) = 0
), ident AS (
    SELECT doc_id,
           'P6' || chr(10) || '8 6' || chr(10) || '255' || chr(10) || plane
               AS payload
    FROM img
), half AS (
    -- nearest-neighbor 2x down-sample: resized[oy,ox,c] =
    -- plane[(2*oy)*8*3 + (2*ox)*3 + c] (rr=[0,2,4], cc=[0,2,4,6])
    SELECT i.doc_id,
           string_agg(substr(i.plane, oy * 48 + ox * 6 + c + 1, 1),
                      '' ORDER BY oy, ox, c) AS hp
    FROM img i, range(3) t1(oy), range(4) t2(ox), range(3) t3(c)
    GROUP BY i.doc_id
)
SELECT doc_id, 'identity' AS variant, TRUE AS ok,
       CAST(8 AS BIGINT) AS src_width, CAST(6 AS BIGINT) AS src_height,
       CAST(8 AS BIGINT) AS width, CAST(6 AS BIGINT) AS height,
       md5(payload) AS out_md5,
       CAST(octet_length(encode(payload)) AS BIGINT) AS out_len
FROM ident
UNION ALL
SELECT doc_id, 'half' AS variant, TRUE AS ok,
       CAST(8 AS BIGINT), CAST(6 AS BIGINT),
       CAST(4 AS BIGINT), CAST(3 AS BIGINT),
       md5('P6' || chr(10) || '4 3' || chr(10) || '255' || chr(10) || hp),
       CAST(octet_length(encode(
           'P6' || chr(10) || '4 3' || chr(10) || '255' || chr(10) || hp
       )) AS BIGINT)
FROM half
""",
    tags=("llm-multimodal",),
)
def llm_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-gated resize: identity (8x6 -> 8x6, byte-identical container)
    + 2x down-sample (8x6 -> 4x3) over real P6 containers. The oracle
    recomputes the nearest-neighbor gather per byte and md5s the rebuilt
    container, proving the kernel reproduced the exact plane bytes. Both
    variants are map-only mapInPandas over the same scan; the union is
    two passes over a 144-byte-plane frame — no shuffle at any scale."""
    imgs = _fixed_ppm_frame(spark, sf_dir)
    ident = resize_image(imgs, 8, 6).withColumn("variant", F.lit("identity"))
    half = resize_image(imgs, 4, 3).withColumn("variant", F.lit("half"))
    u = ident.unionByName(half)
    return u.select(
        "doc_id",
        "variant",
        "ok",
        "src_width",
        "src_height",
        "width",
        "height",
        F.md5("media_bytes").alias("out_md5"),
        F.octet_length("media_bytes").cast("bigint").alias("out_len"),
    )


def _le_hex(col, nbytes: int):
    """Little-endian fixed-width lowercase hex of a non-negative int column
    (the byte-literal tool for building binary containers JVM-side)."""
    parts = [
        F.lpad(
            F.lower(F.hex(F.shiftright(col, 8 * i).bitwiseAND(F.lit(255)))),
            2,
            "0",
        )
        for i in range(nbytes)
    ]
    return F.concat(*parts)


def wav_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-row subset as REAL binary RIFF/WAVE containers: a genuine
    little-endian 44-byte PCM header (mono, 8 kHz, 8-bit) built with hex
    string expressions + ``unhex`` (codegen, no Python), data chunk = the
    utf-8 text bytes as unsigned 8-bit samples. The audio twin of the PPM
    construction: binary enough to exercise the real chunk-walk parser,
    deterministic enough for the oracle to recompute the PCM features."""
    d = T.load(spark, sf_dir, "documents").filter(F.col("doc_id") % 3 == 1)
    n = F.octet_length(F.col("text"))
    header_hex = F.concat(
        F.lit("52494646"),           # 'RIFF'
        _le_hex(n + 36, 4),          # riff size = 4 + (8+16) + (8+n)
        F.lit("57415645"),           # 'WAVE'
        F.lit("666d7420"),           # 'fmt '
        F.lit("10000000"),           # subchunk1 size 16
        F.lit("0100"),               # PCM
        F.lit("0100"),               # mono
        F.lit("401f0000"),           # sample rate 8000
        F.lit("401f0000"),           # byte rate (mono 8-bit)
        F.lit("0100"),               # block align 1
        F.lit("0800"),               # 8 bits/sample
        F.lit("64617461"),           # 'data'
        _le_hex(n, 4),               # data size
    )
    payload = F.unhex(
        F.concat(header_hex, F.hex(F.encode(F.col("text"), "utf-8")))
    )
    return d.select(
        "doc_id",
        F.lit("audio").alias("media_type"),
        payload.alias("media_bytes"),
    )


@query(
    "llm_multimodal_audio_stats",
    oracle="""
WITH a AS (
    SELECT doc_id,
           octet_length(encode(text)) AS n,
           [ascii(c) - 128 for c in string_split(text, '')] AS xs
    FROM documents WHERE CAST(doc_id % 3 AS INT) = 1
)
SELECT doc_id, TRUE AS ok,
       CAST(1 AS BIGINT)    AS channels,
       CAST(8000 AS BIGINT) AS sample_rate,
       CAST(8 AS BIGINT)    AS bits,
       CAST(n AS BIGINT)    AS n_samples,
       CAST(coalesce(list_max([abs(x) for x in xs]), 0) AS BIGINT)
           AS peak_abs,
       CAST(CASE WHEN n = 0 THEN 0
                 ELSE floor(sqrt(list_sum([x * x for x in xs]) // n)) END
            AS BIGINT) AS rms
FROM a
""",
    tags=("llm-multimodal",),
)
def llm_multimodal_audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-gated audio feature extraction: the REAL WAV chunk walk +
    numpy PCM reduction over genuine binary containers (LE header built
    JVM-side). 8-bit samples center at 128; ASCII text bytes < 128 give
    negative amplitudes, so peak/RMS are non-trivial integers the oracle
    recomputes exactly from character codes (isqrt == floor(sqrt) here:
    sum_sq/n <= 128^2 is exact in doubles). Map-only plan, no shuffle."""
    return audio_stats(wav_frame(spark, sf_dir))


AHASH_SCHEMA = (
    "doc_id bigint, ok boolean, width bigint, height bigint,"
    " ahash bigint, n_ones bigint"
)


def ahash_image(media: DataFrame) -> DataFrame:
    """Perceptual average-hash (aHash) over the DECODED pixel plane.

    The classic near-dup image fingerprint: one bit per pixel, set iff the
    pixel's summed RGB intensity is >= the image mean. Everything stays in
    exact integers — the mean compare is the cross-multiplied
    ``n_pixels * luma3_i >= sum(luma3)`` so no division ever rounds, and
    ties land on 1 on every engine. Bits pack raster-order into a BIGINT
    (geometry is capped at 63 pixels so the hash always fits; production
    variants downsample to 8x8 first — here the oracle-gated frame is
    already fixed 8x6 = 48 bits).

    Same row-level error channel as the other codec kernels: a non-PPM or
    geometry-mismatched payload yields ok=false + NULL hash instead of
    killing the task. Map-only ``mapInPandas``; inside each Arrow batch the
    header parse is per-image but the pixel math is BATCH-vectorized:
    images sharing a (plane offset, w, h) shape — in practice whole batches
    of a uniform pipeline — stack into ONE (B, n*3) uint8 matrix, and the
    luma reduce / mean threshold / bit pack run as three numpy matrix ops
    over all B images at once (the per-image Python loop was ~10x slower
    at x10 scale). No shuffle at any scale.
    """
    import numpy as np

    cols = [c.split()[0] for c in AHASH_SCHEMA.replace(",", " ").split()[::2]]

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            m = len(pdf)
            out = {
                "doc_id": list(pdf["doc_id"]),
                "ok": [False] * m,
                "width": [None] * m,
                "height": [None] * m,
                "ahash": [None] * m,
                "n_ones": [None] * m,
            }
            # shape -> (row positions, payload bytes): batch same-geometry
            # images so the pixel math vectorizes across images
            groups: dict[tuple[int, int, int, int], tuple[list, list]] = {}
            for pos, payload in enumerate(pdf["media_bytes"]):
                b = bytes(payload)
                try:
                    w, h, off = _ppm_header(b)  # real header parse
                    n = w * h
                    if n == 0 or n > 63 or len(b) - off != 3 * n:
                        raise ValueError("ahash: unsupported geometry")
                except (ValueError, struct.error):
                    continue
                poss, bufs = groups.setdefault((off, w, h, n), ([], []))
                poss.append(pos)
                bufs.append(np.frombuffer(b, dtype=np.uint8, offset=off))
            for (off, w, h, n), (poss, bufs) in groups.items():
                planes = np.stack(bufs)  # (B, n*3)
                luma3 = planes.reshape(len(bufs), n, 3).sum(
                    axis=2, dtype=np.int64
                )  # (B, n)
                totals = luma3.sum(axis=1, keepdims=True)  # (B, 1)
                bits = (n * luma3 >= totals).astype(np.int64)
                pows = np.left_shift(1, np.arange(n - 1, -1, -1))
                hashes = bits @ pows  # (B,)
                ones = bits.sum(axis=1)
                for j, pos in enumerate(poss):
                    out["ok"][pos] = True
                    out["width"][pos] = w
                    out["height"][pos] = h
                    out["ahash"][pos] = int(hashes[j])
                    out["n_ones"][pos] = int(ones[j])
            yield pd.DataFrame(out, columns=cols)

    return media.mapInPandas(fn, schema=AHASH_SCHEMA)


# Near-dup banding of the 48-bit fingerprint: 4 bands of 12 bits; pairs
# within hamming radius AHASH_HAM_MAX always share a band (pigeonhole).
AHASH_BANDS = 4
AHASH_BAND_BITS = 12
AHASH_HAM_MAX = 3


def ahash_bands(fp: DataFrame) -> DataFrame:
    """(doc_id, ahash, k, bv): the band values ``bv`` (band ``k``) of every
    (doc_id, ahash) fingerprint."""
    return fp.select(
        "doc_id",
        "ahash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("k"),
                        F.expr(
                            f"(ahash div {1 << (AHASH_BAND_BITS * k)})"
                            f" % {1 << AHASH_BAND_BITS}"
                        ).alias("bv"),
                    )
                    for k in range(AHASH_BANDS)
                ]
            )
        ).alias("b"),
    ).select("doc_id", "ahash", "b.k", "b.bv")


def ahash_pairs(new: DataFrame, old: DataFrame | None = None) -> DataFrame:
    """Image near-dup pairs (doc_a, doc_b, hamming, is_exact) from
    (doc_id, ahash) fingerprint frames: band candidates within ``new``
    plus, for the streaming twin, between ``new`` and its fingerprint
    state ``old`` (``joins.candidate_pairs``), then the Hamming verify.
    A pair sharing several bands is one candidate after the distinct."""
    cand = (
        candidate_pairs(
            ahash_bands(new),
            ["k", "bv"],
            None if old is None else ahash_bands(old),
            carry=["ahash"],
        )
        .select(
            "doc_a", "doc_b", F.col("ahash_a").alias("ha"), F.col("ahash_b").alias("hb")
        )
        .distinct()
    )
    ham = F.expr("bit_count(ha ^ hb)")
    return (
        cand.withColumn("hamming", ham.cast("bigint"))
        .filter(F.col("hamming") <= AHASH_HAM_MAX)
        .select(
            "doc_a",
            "doc_b",
            "hamming",
            (F.col("hamming") == 0).alias("is_exact"),
        )
    )


RESAMPLE_SCHEMA = (
    "doc_id bigint, ok boolean, n_in bigint, n_out bigint,"
    " in_rate bigint, out_rate bigint, media_bytes binary"
)


def resample_audio(media: DataFrame, factor: int) -> DataFrame:
    """Integer-factor audio DECIMATION: keep every ``factor``-th PCM
    frame and rebuild a canonical 44-byte RIFF/WAVE container at
    rate/factor — the audio twin of ``resize_image`` (same kernel
    contract: real chunk-walk parse in, valid container out, row-level
    ok/NULL error channel). Deliberately NO anti-aliasing filter: a
    float filter would not be bit-stable cross-engine, and the op's job
    here is deterministic rate reduction for fingerprinting/feature
    budgets, not hi-fi (documented honestly, like the linear-counting
    branch HLL omits). Frames (not bytes) decimate, so multi-channel
    and 16-bit payloads stay sample-aligned. Map-only ``mapInPandas``;
    scales by executors, no shuffle at any scale."""
    import numpy as np

    cols = [c.split()[0] for c in RESAMPLE_SCHEMA.split(",")]

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["media_bytes"]):
                b = bytes(payload)
                try:
                    channels, rate, bits, data = _wav_pcm(b)
                    bpf = channels * (bits // 8)
                    n_in = len(data) // bpf
                    frames = np.frombuffer(
                        data[: n_in * bpf], dtype=np.uint8
                    ).reshape(n_in, bpf)
                    kept = frames[::factor]
                    n_out = int(kept.shape[0])
                    out_rate = rate // factor
                    dbytes = kept.tobytes()
                    hdr = (
                        b"RIFF"
                        + struct.pack("<I", 36 + len(dbytes))
                        + b"WAVEfmt "
                        + struct.pack(
                            "<IHHIIHH",
                            16,
                            1,
                            channels,
                            out_rate,
                            out_rate * bpf,
                            bpf,
                            bits,
                        )
                        + b"data"
                        + struct.pack("<I", len(dbytes))
                    )
                    rows.append(
                        {
                            "doc_id": doc_id,
                            "ok": True,
                            "n_in": n_in,
                            "n_out": n_out,
                            "in_rate": rate,
                            "out_rate": out_rate,
                            "media_bytes": hdr + dbytes,
                        }
                    )
                except (ValueError, struct.error, TypeError):
                    rows.append(
                        {
                            "doc_id": doc_id,
                            "ok": False,
                            "n_in": None,
                            "n_out": None,
                            "in_rate": None,
                            "out_rate": None,
                            "media_bytes": None,
                        }
                    )
            yield pd.DataFrame(rows, columns=cols)

    return media.mapInPandas(fn, schema=RESAMPLE_SCHEMA)


def _wav_hdr_hex_sql(rate_hex: str, size_expr: str) -> str:
    """DuckDB hex of the canonical 44-byte mono/8-bit WAV header with a
    pinned rate and a per-row data size (<= 64 KiB, so the two high LE
    bytes are '0000'). Mirrors the kernel's struct.pack layout AND
    `wav_frame`'s JVM construction."""
    le4 = (
        "lower(lpad(hex(({x}) % 256), 2, '0'))"
        " || lower(lpad(hex((({x}) // 256) % 256), 2, '0')) || '0000'"
    )
    return (
        f"'52494646' || {le4.format(x=f'({size_expr}) + 36')}"
        " || '57415645' || '666d7420' || '10000000' || '0100' || '0100'"
        f" || '{rate_hex}' || '{rate_hex}' || '0100' || '0800'"
        f" || '64617461' || {le4.format(x=size_expr)}"
    )


@query(
    "llm_multimodal_audio_resample",
    oracle=f"""
WITH a AS (
    SELECT doc_id, text, octet_length(encode(text)) AS n,
           string_split(text, '') AS xs
    FROM documents WHERE CAST(doc_id % 3 AS INT) = 1
), dec AS (
    SELECT a.doc_id,
           string_agg(a.xs[i], '' ORDER BY i) AS dtext,
           CAST(COUNT(*) AS BIGINT) AS m
    FROM a, unnest(range(1, len(a.xs) + 1, 2)) r(i)
    GROUP BY 1
), ident AS (
    SELECT doc_id, n,
           {_wav_hdr_hex_sql('401f0000', 'n')} || lower(hex(encode(text)))
               AS full_hex
    FROM a
), half AS (
    SELECT d.doc_id, a.n, d.m,
           {_wav_hdr_hex_sql('a00f0000', 'd.m')}
               || lower(hex(encode(d.dtext))) AS full_hex
    FROM dec d JOIN a USING (doc_id)
)
SELECT doc_id, 'identity' AS variant, TRUE AS ok,
       CAST(n AS BIGINT) AS n_in, CAST(n AS BIGINT) AS n_out,
       CAST(8000 AS BIGINT) AS out_rate,
       md5(full_hex) AS out_hex_md5,
       CAST(44 + n AS BIGINT) AS out_len
FROM ident
UNION ALL
SELECT doc_id, 'half' AS variant, TRUE AS ok,
       CAST(n AS BIGINT), m, CAST(4000 AS BIGINT),
       md5(full_hex), CAST(44 + m AS BIGINT)
FROM half
""",
    tags=("llm-multimodal",),
)
def llm_multimodal_audio_resample(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Driver-gated audio resample: identity (factor 1 — the rebuilt
    container must be byte-identical to the input, a full
    parse->rebuild round trip) + 2x decimation (8 kHz -> 4 kHz, every
    2nd frame) over genuine RIFF/WAVE containers. The oracle rebuilds
    BOTH containers byte-by-byte from the construction rule (LE header
    hex + decimated character codes) and compares md5 over the
    lowercase hex of the bytes (DuckDB's md5 is VARCHAR-only — hashing
    the hex proves the same byte-exactness). Two map-only passes over
    the same scan, no shuffle at any scale."""
    wavs = wav_frame(spark, sf_dir)
    ident = resample_audio(wavs, 1).withColumn("variant", F.lit("identity"))
    half = resample_audio(wavs, 2).withColumn("variant", F.lit("half"))
    u = ident.unionByName(half)
    return u.select(
        "doc_id",
        "variant",
        "ok",
        "n_in",
        "n_out",
        "out_rate",
        F.md5(F.lower(F.hex("media_bytes"))).alias("out_hex_md5"),
        F.octet_length("media_bytes").cast("bigint").alias("out_len"),
    )


# ---------------------------------------------------------------------------
# llm_multimodal_image_dedup — perceptual aHash near-dup grouping.
#
# Plan: scan -> JVM P6 construction -> Arrow batch -> one 48-bit fingerprint
# row per image (map-only; the decode never shuffles) -> fingerprint frame is
# localCheckpoint'ed (it feeds both the group agg and the join-back — the
# census discipline: never re-run a codec for fan-out) -> groupBy(ahash)
# keeper/size -> join back on ahash. Both shuffles move 1 row per image of
# a few BIGINTs — at 100 TB of image bytes the shuffled bytes are ~1e-6 of
# the scan, and the join is an AQE-splittable equi join (a degenerate hash
# bucket of identical frames splits fine because only min/count cross it).
# ---------------------------------------------------------------------------


@query(
    "llm_multimodal_image_dedup",
    oracle="""
WITH img AS (
    SELECT doc_id, rpad(text, 144, 'x') AS plane
    FROM documents WHERE CAST(doc_id % 3 AS INT) = 0
), px AS (
    SELECT doc_id, i,
           ascii(substr(plane, CAST(3 * i + 1 AS INT), 1))
         + ascii(substr(plane, CAST(3 * i + 2 AS INT), 1))
         + ascii(substr(plane, CAST(3 * i + 3 AS INT), 1)) AS luma3
    FROM img, range(48) t(i)
), bt AS (
    SELECT doc_id, i,
           CASE WHEN 48 * luma3 >= SUM(luma3) OVER (PARTITION BY doc_id)
                THEN 1 ELSE 0 END AS bit
    FROM px
), hs AS (
    SELECT doc_id,
           SUM(bit * (CAST(1 AS BIGINT) << CAST(47 - i AS INT))) AS ahash,
           CAST(SUM(bit) AS BIGINT) AS n_ones
    FROM bt GROUP BY doc_id
), grp AS (
    SELECT ahash, CAST(COUNT(*) AS BIGINT) AS group_size,
           MIN(doc_id) AS keeper_doc_id
    FROM hs GROUP BY ahash
)
SELECT h.doc_id,
       lower(lpad(hex(h.ahash), 12, '0')) AS ahash_hex,
       h.n_ones, g.group_size, g.keeper_doc_id,
       h.doc_id <> g.keeper_doc_id AS is_dup
FROM hs h JOIN grp g USING (ahash)
""",
    tags=("llm-multimodal", "dedup"),
)
def llm_multimodal_image_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup image dedup by perceptual average-hash over REAL decoded
    P6 pixel planes (header parse + numpy byte reduction in mapInPandas).

    The oracle reproduces every fingerprint bit from the container
    construction rule (plane == rpad'ed ASCII text bytes), proving the
    codec read exactly the bytes the container carries AND that the
    mean-threshold quantization is integer-identical across engines.
    Keeper = min(doc_id) per hash — a deterministic total order on both
    engines (catalog dedup contract)."""
    fp = (
        ahash_image(_fixed_ppm_frame(spark, sf_dir))
        .filter(F.col("ok"))
        .select("doc_id", "ahash", "n_ones")
        .localCheckpoint()  # codec runs once; agg + join-back reuse it
    )
    grp = fp.groupBy("ahash").agg(
        F.count(F.lit(1)).cast("bigint").alias("group_size"),
        F.min("doc_id").alias("keeper_doc_id"),
    )
    return fp.join(grp, "ahash").select(
        "doc_id",
        F.lower(F.lpad(F.hex("ahash"), 12, "0")).alias("ahash_hex"),
        "n_ones",
        "group_size",
        "keeper_doc_id",
        (F.col("doc_id") != F.col("keeper_doc_id")).alias("is_dup"),
    )


# ---------------------------------------------------------------------------
# llm_multimodal_image_neardup_pairs — banded hamming search over aHash.
#
# Extends exact-hash grouping to NEAR hashes: 48-bit fingerprints split
# into 4 bands of 12 bits; candidate pairs share >= 1 band; verify is two
# integer intrinsics (xor + bit_count) per pair. Pigeonhole guarantee:
# hamming <= 3 differing bits cannot touch all 4 bands, so recall within
# the radius is exactly 100% — same banding contract as llm_dedup_simhash.
# The fingerprint frame is checkpointed (codec once); the band self-join
# is an AQE-splittable equi join whose fan-out tracks true collisions.
# The banding and verify are ``ahash_bands``/``ahash_pairs`` next to
# ``ahash_image``; the streaming twin runs the same two.
# ---------------------------------------------------------------------------
@query(
    "llm_multimodal_image_neardup_pairs",
    oracle=f"""
WITH img AS (
    SELECT doc_id, rpad(text, 144, 'x') AS plane
    FROM documents WHERE CAST(doc_id % 3 AS INT) = 0
), px AS (
    SELECT doc_id, i,
           ascii(substr(plane, CAST(3 * i + 1 AS INT), 1))
         + ascii(substr(plane, CAST(3 * i + 2 AS INT), 1))
         + ascii(substr(plane, CAST(3 * i + 3 AS INT), 1)) AS luma3
    FROM img, range(48) t(i)
), bt AS (
    SELECT doc_id, i,
           CASE WHEN 48 * luma3 >= SUM(luma3) OVER (PARTITION BY doc_id)
                THEN 1 ELSE 0 END AS bit
    FROM px
), hs AS (
    SELECT doc_id,
           SUM(bit * (CAST(1 AS BIGINT) << CAST(47 - i AS INT))) AS ahash
    FROM bt GROUP BY doc_id
), bands AS (
    SELECT doc_id, ahash, k,
           (ahash // (CAST(1 AS BIGINT) << CAST({AHASH_BAND_BITS} * k AS INT)))
               % {1 << AHASH_BAND_BITS} AS bv
    FROM hs, range({AHASH_BANDS}) t(k)
), cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           a.ahash AS ha, b.ahash AS hb
    FROM bands a JOIN bands b
      ON a.k = b.k AND a.bv = b.bv AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming,
       bit_count(xor(ha, hb)) = 0 AS is_exact
FROM cand WHERE bit_count(xor(ha, hb)) <= {AHASH_HAM_MAX}
""",
    tags=("llm-multimodal", "dedup"),
)
def llm_multimodal_image_neardup_pairs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Near-duplicate IMAGE pairs within hamming radius 3 of the 48-bit
    perceptual hash — LSH banding (4 x 12-bit bands) generates candidates,
    two integer intrinsics verify. 100% recall inside the radius by
    pigeonhole (3 flipped bits cannot touch 4 bands). The multimodal twin
    of llm_dedup_simhash_pairs; candidates — never the image corpus —
    cross the shuffle."""
    fp = (
        ahash_image(_fixed_ppm_frame(spark, sf_dir))
        .filter(F.col("ok"))
        .select("doc_id", "ahash")
        .localCheckpoint()  # codec once; both join sides read the frame
    )
    return ahash_pairs(fp)

