"""Multimodal plumbing: schema, Arrow batching, deterministic fake
kernels, NotImplementedError gates for real codecs."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql.utils import PythonException

from jaccard_join_duckdb_spark.sources.multimodal import (
    ASSET_SCHEMA,
    decode_image_meta,
    extract_features,
    make_asset_table,
    sample_frames,
)
from jaccard_join_duckdb_spark.session import duckdb_connect


@pytest.fixture(scope="module")
def assets(documents):
    return make_asset_table(documents.limit(50), "doc_id", "text").cache()


def test_asset_schema(assets):
    got = [(f.name, f.dataType.simpleString()) for f in assets.schema.fields]
    want = [(f.name, f.dataType.simpleString()) for f in ASSET_SCHEMA.fields]
    assert got == want
    assert assets.count() == 50


def test_decode_deterministic(assets):
    a = sorted(map(tuple, decode_image_meta(assets).collect()))
    b = sorted(map(tuple, decode_image_meta(assets).collect()))
    assert a == b
    for row in a:
        _, w, h, c, n = row
        assert 16 <= w < 256 and 16 <= h < 256 and 1 <= c <= 4 and n > 0


def test_features_shape(assets):
    out = extract_features(assets)
    rows = out.collect()
    assert len(rows) == 50
    for r in rows:
        assert len(r.feature) == 16
        assert all(-1.0 <= x < 1.0 for x in r.feature)


def test_frame_sampling(assets):
    out = sample_frames(assets, every_n=20)
    grp = out.groupBy("asset_id").agg(F.count(F.lit(1)).alias("n")).collect()
    assert len(grp) == 50
    assert all(r.n >= 1 for r in grp)


def test_real_decode_gated(assets):
    """Non-PNG/BMP payloads (here: utf-8 text) still raise through
    the real-decode path."""
    with pytest.raises(PythonException, match="NotImplementedError"):
        decode_image_meta(assets, fake=False).collect()


def _png_bytes(w: int, h: int, color_type: int = 6, bit_depth: int = 8) -> bytes:
    """Minimal VALID PNG: signature + IHDR + zero-length IDAT + IEND,
    all with correct CRCs (stdlib struct+zlib only)."""
    import struct
    import zlib

    def chunk(tag: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, bit_depth, color_type, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(b""))
        + chunk(b"IEND", b"")
    )


def _bmp_bytes(w: int, h: int, bpp: int = 24, top_down: bool = False) -> bytes:
    """Minimal valid BMP: BITMAPFILEHEADER + BITMAPINFOHEADER, no
    pixel data (row size 0 is fine for header parsing and matches a
    0x0 clipped image reader's expectations)."""
    import struct

    info = struct.pack(
        "<IiiHHIIiiII", 40, w, -h if top_down else h, 1, bpp, 0, 0, 2835, 2835, 0, 0
    )
    file_hdr = struct.pack("<2sIHHI", b"BM", 14 + len(info), 0, 0, 14 + len(info))
    return file_hdr + info


def _jpeg_bytes(
    w: int, h: int, components: int = 3, progressive: bool = False,
    fill_bytes: int = 0,
) -> bytes:
    """Minimal JPEG marker stream: SOI, APP0 (JFIF), a DQT stub the
    walk must skip by its length field, optional 0xFF fill padding,
    then SOF0/SOF2 with the frame dimensions. No scan data — header
    parsing never reads past SOF."""
    import struct

    def seg(marker: int, data: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", len(data) + 2) + data

    app0 = seg(0xE0, b"JFIF\x00\x01\x02\x00\x00\x01\x00\x01\x00\x00")
    dqt = seg(0xDB, bytes(65))
    sof_data = struct.pack(">BHHB", 8, h, w, components) + bytes(
        3 * components
    )
    sof = seg(0xC2 if progressive else 0xC0, sof_data)
    return b"\xff\xd8" + app0 + dqt + b"\xff" * fill_bytes + sof


def test_real_decode_jpeg_sof_walk(spark):
    """decode_image_meta(fake=False) walks JPEG markers to SOF0/SOF2
    and recovers width/height/components — including past fill bytes
    and variable-length segments; a truncated stream (no SOF) still
    raises through the real path."""
    from pyspark.errors.exceptions.captured import PythonException

    payloads = [
        (1, _jpeg_bytes(1920, 1080, components=3)),            # baseline RGB
        (2, _jpeg_bytes(64, 32, components=1, progressive=True)),  # SOF2 gray
        (3, _jpeg_bytes(300, 200, components=3, fill_bytes=3)),    # fill padding
    ]
    df = spark.createDataFrame(
        [(i, "image", p, None) for i, p in payloads], ASSET_SCHEMA
    )
    got = {r.asset_id: r for r in decode_image_meta(df, fake=False).collect()}
    want = {1: (1920, 1080, 3), 2: (64, 32, 1), 3: (300, 200, 3)}
    assert len(got) == len(want)
    for aid, (w, h, c) in want.items():
        r = got[aid]
        assert (r.width, r.height, r.channels) == (w, h, c)
        assert r.n_bytes == len(dict(payloads)[aid])
    truncated = spark.createDataFrame(
        [(9, "image", b"\xff\xd8\xff\xe0\x00\x02", None)], ASSET_SCHEMA
    )
    with pytest.raises(PythonException, match="NotImplementedError"):
        decode_image_meta(truncated, fake=False).collect()


def test_real_decode_png_bmp_headers(spark):
    """decode_image_meta(fake=False) parses real PNG/BMP headers —
    width/height/channels round-trip the values the payloads were
    generated with."""
    payloads = [
        (1, _png_bytes(640, 480, color_type=6)),   # RGBA → 4
        (2, _png_bytes(31, 7, color_type=0)),      # gray → 1
        (3, _png_bytes(12, 34, color_type=2)),     # RGB → 3
        (4, _bmp_bytes(800, 600, bpp=24)),         # BGR → 3
        (5, _bmp_bytes(64, 128, bpp=32, top_down=True)),  # BGRA → 4
        (6, _bmp_bytes(5, 9, bpp=8)),              # palette → 1
    ]
    df = spark.createDataFrame(
        [(i, "image", p, None) for i, p in payloads], ASSET_SCHEMA
    )
    got = {r.asset_id: r for r in decode_image_meta(df, fake=False).collect()}
    want = {
        1: (640, 480, 4), 2: (31, 7, 1), 3: (12, 34, 3),
        4: (800, 600, 3), 5: (64, 128, 4), 6: (5, 9, 1),
    }
    assert len(got) == len(want)
    for aid, (w, h, c) in want.items():
        r = got[aid]
        assert (r.width, r.height, r.channels) == (w, h, c)
        assert r.n_bytes == len(dict(payloads)[aid])


def test_real_decode_gif_header(spark):
    """GIF logical-screen-descriptor parse: width/height as uint16 LE
    at offsets 6/8, palettized pixels report 3 channels."""
    import struct as _s

    def gif(w, h, ver=b"89a"):
        return b"GIF" + ver + _s.pack("<HH", w, h) + b"\x00\x00\x00"

    df = spark.createDataFrame(
        [
            (1, "image", gif(320, 200), None),
            (2, "image", gif(1, 65535, ver=b"87a"), None),
        ],
        ASSET_SCHEMA,
    )
    got = {r.asset_id: r for r in decode_image_meta(df, fake=False).collect()}
    assert (got[1].width, got[1].height, got[1].channels) == (320, 200, 3)
    assert (got[2].width, got[2].height, got[2].channels) == (1, 65535, 3)


def _wav_bytes(channels=2, rate=44100, bits=16, n_samples=1000, extra_chunk=False):
    import struct

    block_align = channels * bits // 8
    data = b"\x00" * (n_samples * block_align)
    fmt = struct.pack(
        "<HHIIHH", 1, channels, rate, rate * block_align, block_align, bits
    )
    chunks = b"fmt " + struct.pack("<I", len(fmt)) + fmt
    if extra_chunk:  # LIST chunk with odd size → exercises pad-byte walk
        chunks += b"LIST" + struct.pack("<I", 3) + b"abc\x00"
    chunks += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def test_decode_audio_meta_real_wav(spark):
    """The real audio path parses WAV RIFF headers stdlib-only (PCM
    layout needs no codec); compressed formats raise."""
    from jaccard_join_duckdb_spark.sources.multimodal import (
        ASSET_SCHEMA,
        decode_audio_meta,
    )

    rows = [
        (1, "audio", bytearray(_wav_bytes(2, 44100, 16, 44100)), {}),
        (2, "audio", bytearray(_wav_bytes(1, 8000, 8, 4000, extra_chunk=True)), {}),
        (3, "audio", None, {}),
    ]
    assets = spark.createDataFrame(rows, ASSET_SCHEMA)
    got = {r.asset_id: r for r in decode_audio_meta(assets, fake=False).collect()}
    a = got[1]
    assert (a.channels, a.sample_rate, a.bits_per_sample, a.n_samples) == (
        2, 44100, 16, 44100,
    )
    assert a.duration_s == 1.0
    b = got[2]
    assert (b.channels, b.sample_rate, b.bits_per_sample, b.n_samples) == (
        1, 8000, 8, 4000,
    )
    assert b.duration_s == 0.5
    assert got[3].channels is None and got[3].n_bytes is None


def test_decode_audio_real_rejects_compressed(spark):
    import pytest as _pytest

    from jaccard_join_duckdb_spark.sources.multimodal import _wav_audio

    with _pytest.raises(NotImplementedError, match="WAV"):
        _wav_audio(b"\xff\xfb\x90\x00 mp3 frame header-ish")


def test_decode_audio_meta_fake_matches_oracle(spark):
    """Fake kernel vs the DuckDB twin on a handful of docs — the
    same discipline as the image decode (full-table parity runs in
    check_entry's multimodal_audio row)."""
    from jaccard_join_duckdb_spark.plans.oracle_ext import multimodal_audio_sql
    from jaccard_join_duckdb_spark.sources.multimodal import (
        decode_audio_meta,
        make_asset_table,
    )

    rows = [(1, "hello world"), (2, "a"), (3, "ü ü ü")]
    df = spark.createDataFrame(rows, "id long, text string")
    got = sorted(map(tuple, decode_audio_meta(
        make_asset_table(df, "id", "text", modality="audio")
    ).collect()))
    con = duckdb_connect()
    con.execute(
        "create view t as select * from (values "
        + ", ".join(f"({i}, '{x}')" for i, x in rows)
        + ") v(id, text)"
    )
    want = sorted(map(tuple, con.execute(
        multimodal_audio_sql("t", "id", "text")
    ).fetchall()))
    assert got == want
