"""Multimodal codec tests: the pure-Python container parsers (PPM/BMP/WAV)
and the Arrow mapInPandas plumbing that carries them.

The oracle gate proves llm_multimodal_decode end-to-end; these tests prove
the pieces the oracle can't see — that image rows take the REAL parse path
(not the fallback), and that binary BMP/WAV containers (whose little-endian
headers can't be built in portable SQL) decode correctly through the same
Spark plumbing.
"""

from __future__ import annotations

import hashlib
import struct

import pytest

from gmall_flink_realtime4_spark.plans.llm_multimodal import (
    _decode_fake,
    _decode_real,
    _parse_bmp,
    _parse_mp4,
    _parse_ppm,
    _parse_wav,
    _safe_decode,
    decode_meta,
    media_frame,
)

SF = "/root/testdata/sf0.001"


def make_bmp(w: int, h: int) -> bytes:
    """Minimal valid 24-bit BMP: file header + BITMAPINFOHEADER + rows
    padded to 4 bytes."""
    row = (w * 3 + 3) // 4 * 4
    pix = bytes(row * h)
    size = 54 + len(pix)
    fh = b"BM" + struct.pack("<IHHI", size, 0, 0, 54)
    ih = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pix), 2835, 2835, 0, 0)
    return fh + ih + pix


def make_wav(channels: int, rate: int, bits: int, n_samples: int) -> bytes:
    """Minimal valid PCM WAV: RIFF + fmt + data chunks."""
    block = channels * bits // 8
    data = bytes(block * n_samples)
    fmt = struct.pack("<HHIIHH", 1, channels, rate, rate * block, block, bits)
    chunks = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    chunks += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(chunks)) + chunks


def make_ppm(w: int, h: int) -> bytes:
    return f"P6\n{w} {h}\n255\n".encode() + bytes(w * h * 3)


def _box(t: bytes, payload: bytes) -> bytes:
    return struct.pack(">I", 8 + len(payload)) + t + payload


def make_mp4(w: int, h: int, n_samples: int) -> bytes:
    """Minimal valid ISO-BMFF: ftyp + moov(trak(tkhd + mdia/minf/stbl/stsz))
    + mdat. tkhd v0 carries 16.16 fixed-point dims; stsz the sample count."""
    tkhd = _box(b"tkhd", bytes(76) + struct.pack(">II", w << 16, h << 16))
    stsz = _box(
        b"stsz",
        struct.pack(">III", 0, 0, n_samples) + bytes(4 * n_samples),
    )
    mdia = _box(b"mdia", _box(b"minf", _box(b"stbl", stsz)))
    moov = _box(b"moov", _box(b"trak", tkhd + mdia))
    ftyp = _box(b"ftyp", b"isom\x00\x00\x02\x00isomiso2")
    return ftyp + moov + _box(b"mdat", bytes(32))


def test_parse_mp4_box_walk():
    got = _parse_mp4(make_mp4(640, 360, 24))
    assert got == {"width": 640, "height": 360, "n_frames": 24}
    # truncation breaks the size chain
    with pytest.raises(ValueError):
        _parse_mp4(make_mp4(640, 360, 24)[:-5])
    # no ftyp leader
    with pytest.raises(ValueError):
        _parse_mp4(_box(b"moov", bytes(16)) + bytes(8))
    # arbitrary text can never satisfy the chain + magic
    with pytest.raises(ValueError):
        _parse_mp4(b"some plain text payload that is long enough here")


def test_parse_ppm_header_and_comments():
    assert _parse_ppm(make_ppm(32, 24)) == {"width": 32, "height": 24, "n_frames": 1}
    # whitespace variants + comment lines are legal PPM
    b = b"P6 # a comment\n 640\t480 # dims\n255\n" + bytes(10)
    assert _parse_ppm(b)["width"] == 640
    assert _parse_ppm(b)["height"] == 480
    with pytest.raises(ValueError):
        _parse_ppm(b"P6\n-3 4\n255\n")
    with pytest.raises(ValueError):
        _parse_ppm(b"P5\n3 4\n255\n")  # wrong magic (graymap)


def test_parse_bmp_strict_validation():
    assert _parse_bmp(make_bmp(17, 9)) == {"width": 17, "height": 9, "n_frames": 1}
    # top-down BMPs store negative height
    b = bytearray(make_bmp(8, 8))
    struct.pack_into("<i", b, 22, -8)
    assert _parse_bmp(bytes(b))["height"] == 8
    # arbitrary 'BM...' text must NOT mis-parse (file-size check)
    with pytest.raises(ValueError):
        _parse_bmp(b"BM" + bytes(60))


def test_parse_wav_chunks():
    got = _parse_wav(make_wav(2, 44100, 16, 1000))
    assert got == {"width": 2, "height": 16, "n_frames": 1000}
    # riff size must match actual length — truncated files rejected
    with pytest.raises(ValueError):
        _parse_wav(make_wav(2, 44100, 16, 1000)[:-4])
    with pytest.raises(ValueError):
        _parse_wav(b"RIFFxxxxWAVE")


def test_decode_real_dispatch_and_fallback():
    # image tries PPM then BMP
    assert _decode_real(make_ppm(20, 10), "image")["width"] == 20
    assert _decode_real(make_bmp(20, 10), "image")["width"] == 20
    assert _decode_real(make_wav(1, 8000, 8, 5), "audio")["n_frames"] == 5
    assert _decode_real(make_mp4(320, 240, 10), "video")["n_frames"] == 10
    # non-container bytes -> NotImplementedError -> _safe_decode falls back
    with pytest.raises(NotImplementedError):
        _decode_real(b"hello world", "audio")
    with pytest.raises(NotImplementedError):
        _decode_real(b"anything", "video")
    assert _safe_decode(b"hello world", "audio") == _decode_fake(
        b"hello world", "audio"
    )


def test_decode_real_reports_payload_identity():
    b = make_wav(2, 16000, 16, 64)
    got = _decode_real(b, "audio")
    assert got["byte_len"] == len(b)
    assert got["content_md5"] == hashlib.md5(b).hexdigest()


def test_registered_image_rows_take_real_parse_path(spark):
    """The oracle-gated media frame's image payloads must be REAL PPM —
    _decode_real parses them without raising (no fallback involved), and
    the header dims match what decode_meta emits."""
    rows = (
        media_frame(spark, SF)
        .filter("media_type = 'image'")
        .limit(5)
        .collect()
    )
    assert rows
    for r in rows:
        meta = _decode_real(bytes(r.media_bytes), "image")  # must not raise
        assert 16 <= meta["width"] <= 79
        assert 16 <= meta["height"] <= 76


def test_binary_containers_through_spark_plumbing(spark):
    """BMP + WAV fixture bytes through the same mapInPandas decode as the
    registered query — proves the binary column round-trips Arrow and the
    parsed (not fake) features land in the declared schema."""
    fixtures = [
        (1, "image", make_bmp(33, 21)),
        (2, "audio", make_wav(2, 22050, 16, 77)),
        (3, "video", b"\x00\x01notacontainer"),  # exercises fallback
        (4, "video", make_mp4(1280, 720, 30)),
    ]
    df = spark.createDataFrame(
        fixtures, "doc_id bigint, media_type string, media_bytes binary"
    )
    got = {r.doc_id: r for r in decode_meta(df).collect()}
    assert (got[1].width, got[1].height, got[1].n_frames) == (33, 21, 1)
    assert (got[2].width, got[2].height, got[2].n_frames) == (2, 16, 77)
    assert (got[4].width, got[4].height, got[4].n_frames) == (1280, 720, 30)
    fake = _decode_fake(fixtures[2][2], "video")
    assert (got[3].width, got[3].height, got[3].n_frames) == (
        fake["width"],
        fake["height"],
        fake["n_frames"],
    )
    for r in got.values():
        assert r.content_md5 == hashlib.md5(
            bytes(dict((f[0], f[2]) for f in fixtures)[r.doc_id])
        ).hexdigest()


def _gradient_ppm(w: int, h: int) -> bytes:
    """PPM whose pixel (x, y) encodes its own coordinates: R=x, G=y, B=7 —
    so nearest-neighbor gathers are verifiable pixel-by-pixel."""
    plane = bytes(
        v for y in range(h) for x in range(w) for v in (x % 256, y % 256, 7)
    )
    return f"P6\n{w} {h}\n255\n".encode() + plane


def test_resize_image_nearest_neighbor_exact(spark):
    """resize_image must gather exactly the ((i*src)//out)-indexed rows and
    columns, emit a VALID P6 container with the new dims, and be identity
    when out dims == src dims. Non-PPM payloads land in the row-level
    error channel (ok=false, NULL payload) without failing the batch."""
    from gmall_flink_realtime4_spark.plans.llm_multimodal import (
        _ppm_header,
        resize_image,
    )

    def _ppm_plane_offset(b: bytes) -> int:
        return _ppm_header(b)[2]

    src_w, src_h, out_w, out_h = 8, 6, 4, 3
    fixtures = [
        (1, "image", _gradient_ppm(src_w, src_h)),
        (2, "image", b"not an image at all"),
        (3, "image", b"P6\n4 4\n255\n" + bytes(5)),  # truncated plane
    ]
    df = spark.createDataFrame(
        fixtures, "doc_id bigint, media_type string, media_bytes binary"
    )
    got = {r.doc_id: r for r in resize_image(df, out_w, out_h).collect()}

    r1 = got[1]
    assert r1.ok and (r1.src_width, r1.src_height) == (src_w, src_h)
    assert (r1.width, r1.height) == (out_w, out_h)
    out = bytes(r1.media_bytes)
    meta = _parse_ppm(out)
    assert (meta["width"], meta["height"]) == (out_w, out_h)
    plane = out[_ppm_plane_offset(out) :]
    assert len(plane) == out_w * out_h * 3
    for oy in range(out_h):
        for ox in range(out_w):
            sx, sy = (ox * src_w) // out_w, (oy * src_h) // out_h
            px = plane[(oy * out_w + ox) * 3 : (oy * out_w + ox) * 3 + 3]
            assert px == bytes((sx, sy, 7)), (ox, oy)

    assert got[2].ok is False and got[2].media_bytes is None
    assert got[3].ok is False and got[3].media_bytes is None

    # identity resize reproduces the source container byte-for-byte
    # (header is re-serialized canonically, so compare the planes)
    ident = {
        r.doc_id: r
        for r in resize_image(
            spark.createDataFrame(
                fixtures[:1], "doc_id bigint, media_type string, media_bytes binary"
            ),
            src_w,
            src_h,
        ).collect()
    }
    ib = bytes(ident[1].media_bytes)
    src = fixtures[0][2]
    assert ib[_ppm_plane_offset(ib) :] == src[_ppm_plane_offset(src) :]


def test_audio_stats_pcm_features(spark):
    """audio_stats must compute sample count, peak, and integer RMS from
    the real PCM data chunk: a constant-amplitude 16-bit square wave has
    RMS exactly equal to its amplitude; 8-bit samples re-center at 128.
    Non-WAV payloads land in the row-level error channel."""
    import struct as _s

    from gmall_flink_realtime4_spark.plans.llm_multimodal import audio_stats

    amp, n = 1000, 64
    sq = b"".join(
        _s.pack("<h", amp if i % 2 == 0 else -amp) for i in range(n)
    )
    fmt = _s.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    chunks = b"WAVE" + b"fmt " + _s.pack("<I", len(fmt)) + fmt
    chunks += b"data" + _s.pack("<I", len(sq)) + sq
    wav16 = b"RIFF" + _s.pack("<I", len(chunks)) + chunks

    # 8-bit: constant 131 (=128+3) -> peak 3, rms 3
    d8 = bytes([131] * 50)
    fmt8 = _s.pack("<HHIIHH", 1, 2, 22050, 44100, 2, 8)
    ch8 = b"WAVE" + b"fmt " + _s.pack("<I", len(fmt8)) + fmt8
    ch8 += b"data" + _s.pack("<I", len(d8)) + d8
    wav8 = b"RIFF" + _s.pack("<I", len(ch8)) + ch8

    df = spark.createDataFrame(
        [(1, "audio", wav16), (2, "audio", wav8), (3, "audio", b"not a wav")],
        "doc_id bigint, media_type string, media_bytes binary",
    )
    got = {r.doc_id: r for r in audio_stats(df).collect()}
    r1 = got[1]
    assert r1.ok and (r1.channels, r1.sample_rate, r1.bits) == (1, 8000, 16)
    assert (r1.n_samples, r1.peak_abs, r1.rms) == (n, amp, amp)
    r2 = got[2]
    assert r2.ok and (r2.channels, r2.bits) == (2, 8)
    assert (r2.n_samples, r2.peak_abs, r2.rms) == (50, 3, 3)
    assert got[3].ok is False and got[3].rms is None


def test_wav_frame_is_genuine_riff_container(spark):
    """The JVM-built WAV payloads (hex-expression header + unhex) must be
    REAL RIFF/WAVE containers: the pure-Python chunk walk parses them and
    recovers exactly the construction parameters (mono, 8 kHz, 8-bit,
    n_samples == text byte length)."""
    from gmall_flink_realtime4_spark.plans.llm_multimodal import (
        _parse_wav,
        _wav_pcm,
        wav_frame,
    )

    rows = wav_frame(spark, SF).limit(5).collect()
    assert rows
    for r in rows:
        b = bytes(r.media_bytes)
        meta = _parse_wav(b)
        assert (meta["width"], meta["height"]) == (1, 8)  # mono, 8-bit
        channels, rate, bits, data = _wav_pcm(b)
        assert (channels, rate, bits) == (1, 8000, 8)
        assert meta["n_frames"] == len(data) == len(b) - 44


def test_parsers_never_crash_on_arbitrary_bytes():
    """Decode robustness: ANY byte string must either parse or raise the
    two expected signal types (ValueError/struct.error -> fallback) —
    never an unhandled exception, which at scale would kill a task retry
    loop. Deterministic pseudo-fuzz: md5-chained bytes seeded per length,
    plus adversarial prefixes that get PAST each magic check."""
    import hashlib
    import struct as _struct

    from gmall_flink_realtime4_spark.plans.llm_multimodal import (
        _parse_bmp,
        _parse_mp4,
        _parse_ppm,
        _parse_wav,
        _safe_decode,
    )

    def chained(seed: bytes, n: int) -> bytes:
        out = b""
        h = seed
        while len(out) < n:
            h = hashlib.md5(h).digest()
            out += h
        return out[:n]

    parsers = (_parse_ppm, _parse_bmp, _parse_wav, _parse_mp4)
    magics = (b"P6\n", b"BM", b"RIFF", b"\x00\x00\x00\x10ftyp")
    for n in (0, 1, 7, 13, 44, 54, 100, 300):
        blob = chained(str(n).encode(), n)
        for parse in parsers:
            for payload in (blob, *[m + blob for m in magics]):
                try:
                    meta = parse(payload)
                    assert meta["width"] > 0  # a parse that survives is sane
                except (ValueError, _struct.error):
                    pass  # the designed rejection channel
        # the dispatch layer must always produce a row
        for mt in ("image", "audio", "video", "unknown"):
            out = _safe_decode(blob, mt)
            assert out["byte_len"] == n
