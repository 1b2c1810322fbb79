"""Multimodal plumbing tests: binary payloads, metadata, real + fake decode.

The real decode paths run the codecs in
``operators/media_codecs.py`` (PPM/BMP image parse, nearest-neighbour PPM
resize, PCM WAV parse); the fake paths remain for arbitrary-bytes payloads.
"""

import hashlib
import struct

import pytest

from hds_functions_spark.operators.media_codecs import (
    parse_image,
    parse_wav,
    ppm_pixel_data,
    resize_ppm_nearest,
    synthesize_bmp,
    synthesize_image,
    synthesize_ppm,
    synthesize_wav,
)
from hds_functions_spark.operators.multimodal import (
    attach_binary_payload,
    binary_metadata,
    decode_audio_features,
    decode_image_features,
    resize_image,
    synthesize_media_payloads,
)


@pytest.fixture()
def payloads(spark):
    df = spark.createDataFrame(
        [(1, "fake image bytes one"), (2, "fake image bytes two"), (3, None)],
        "doc_id: long, raw: string",
    )
    return attach_binary_payload(df, "raw")


def test_payload_is_binary(payloads):
    assert dict(payloads.dtypes)["payload"] == "binary"


def test_binary_metadata(payloads):
    out = binary_metadata(payloads)
    rows = {r["doc_id"]: r for r in out.collect()}
    assert rows[1]["payload_bytes"] == 20
    assert len(rows[1]["payload_md5"]) == 32
    assert rows[3]["payload_bytes"] is None


# --- pure-Python codec units ---------------------------------------------

def test_ppm_parse_handcrafted():
    src = b"P6\n# comment\n3 2\n255\n" + bytes(range(18))
    assert parse_image(src) == {
        "width": 3, "height": 2, "mode": "RGB", "format": "ppm"
    }


def test_bmp_parse_handcrafted():
    bmp = synthesize_bmp("seed")
    d = hashlib.md5(b"seed").digest()
    assert parse_image(bmp) == {
        "width": 1 + d[0] % 64,
        "height": 1 + d[1] % 64,
        "mode": "RGB",
        "format": "bmp",
    }


def test_parse_image_rejects_garbage():
    assert parse_image(b"not an image") is None
    assert parse_image(None) is None
    assert parse_image(b"BM" + b"\x00" * 10) is None  # truncated BMP
    assert parse_image(b"P6\n0 0\n255\n") is None  # degenerate dims


def test_resize_ppm_nearest_exact():
    # 2x2 -> 4x4: each source pixel becomes a 2x2 block (floor mapping)
    px = bytes([10, 11, 12, 20, 21, 22, 30, 31, 32, 40, 41, 42])
    out = resize_ppm_nearest(b"P6\n2 2\n255\n" + px, 4, 4)
    w, h, pix = ppm_pixel_data(out)
    assert (w, h) == (4, 4)
    assert pix[:12] == bytes([10, 11, 12, 10, 11, 12, 20, 21, 22, 20, 21, 22])
    assert pix[-12:] == bytes([30, 31, 32, 30, 31, 32, 40, 41, 42, 40, 41, 42])
    assert resize_ppm_nearest(b"junk", 4, 4) is None


def test_wav_parse_handcrafted():
    # 4 frames stereo PCM16 at 8000 Hz, samples +256/-256 -> RMS exactly 256
    frames = struct.pack("<8h", 256, 256, -256, -256, 256, 256, -256, -256)
    header = struct.pack(
        "<4sI4s4sIHHIIHH4sI", b"RIFF", 36 + len(frames), b"WAVE", b"fmt ",
        16, 1, 2, 8000, 32000, 4, 16, b"data", len(frames),
    )
    got = parse_wav(header + frames)
    assert got == {
        "sample_rate": 8000,
        "n_channels": 2,
        "duration_ms": 0,  # 4 frames / 8000 Hz -> 0 ms integer
        "rms_q8": 2,  # 256 // 128
    }
    assert parse_wav(b"RIFFxxxx") is None


def test_wav_roundtrip_rms_is_exact():
    for seed in ("a", "bb", "ccc"):
        d = hashlib.md5(seed.encode()).digest()
        got = parse_wav(synthesize_wav(seed))
        assert got["rms_q8"] == d[9]
        assert got["sample_rate"] == [8000, 16000, 22050, 44100, 48000][d[5] % 5]


# --- Spark-side real decode paths ----------------------------------------

def test_real_image_decode_through_spark(spark):
    seeds = [(1, "alpha"), (2, "beta"), (3, None)]
    docs = spark.createDataFrame(seeds, "doc_id: long, text: string")
    payloads = synthesize_media_payloads(docs, kind="image")
    rows = {r["doc_id"]: r for r in decode_image_features(payloads).collect()}
    for doc_id, seed in seeds[:2]:
        d = hashlib.md5(seed.encode()).digest()
        r = rows[doc_id]
        assert r["width"] == 1 + d[0] % 64
        assert r["height"] == 1 + d[1] % 64
        assert r["format"] == ("ppm" if d[2] % 2 == 0 else "bmp")
        assert r["payload_bytes"] == len(synthesize_image(seed))
    assert rows[3]["width"] is None  # null seed -> null payload -> null row


def test_real_decode_tolerates_corrupt_payloads(spark):
    df = spark.createDataFrame(
        [(1, b"not an image"), (2, synthesize_ppm("ok"))],
        "doc_id: long, payload: binary",
    )
    rows = {r["doc_id"]: r for r in decode_image_features(df).collect()}
    assert rows[1]["width"] is None and rows[1]["format"] is None
    assert rows[2]["format"] == "ppm"  # good rows unaffected


def test_real_resize_through_spark(spark):
    df = spark.createDataFrame(
        [(1, synthesize_ppm("zed")), (2, b"garbage")],
        "doc_id: long, payload: binary",
    )
    rows = {r["doc_id"]: r for r in resize_image(df, 8, 8).collect()}
    expected = resize_ppm_nearest(synthesize_ppm("zed"), 8, 8)
    assert bytes(rows[1]["payload"]) == expected
    assert rows[1]["pixel_sum"] == sum(ppm_pixel_data(expected)[2])
    assert rows[2]["payload"] is None and rows[2]["pixel_sum"] is None


def test_real_audio_decode_through_spark(spark):
    docs = spark.createDataFrame(
        [(1, "one"), (2, "two")], "doc_id: long, text: string"
    )
    payloads = synthesize_media_payloads(docs, kind="wav")
    rows = {r["doc_id"]: r for r in decode_audio_features(payloads).collect()}
    for doc_id, seed in [(1, "one"), (2, "two")]:
        d = hashlib.md5(seed.encode()).digest()
        assert rows[doc_id]["rms_q8"] == d[9]
        assert rows[doc_id]["n_channels"] == 1 + d[6] % 2


def test_synthesize_kind_validation(spark):
    docs = spark.createDataFrame([(1, "x")], "doc_id: long, text: string")
    with pytest.raises(ValueError, match="kind"):
        synthesize_media_payloads(docs, kind="mp3")


# --- fake paths (arbitrary-bytes payloads) -------------------------------

def test_fake_decode_deterministic(payloads):
    a = {r["doc_id"]: tuple(r)
         for r in decode_image_features(payloads, decoder="fake").collect()}
    b = {r["doc_id"]: tuple(r)
         for r in decode_image_features(payloads, decoder="fake").collect()}
    assert a == b  # byte-deterministic features
    assert a[1] != a[2]  # different payloads -> different features
    r1 = a[1]
    assert 1 <= r1[1] <= 4096 and 1 <= r1[2] <= 4096
    assert r1[3] in ("RGB", "RGBA", "L")
    assert a[3][1] is None  # null payload -> null features


def test_invalid_decoder(payloads):
    with pytest.raises(ValueError, match="decoder"):
        decode_image_features(payloads, decoder="nope")


def test_fake_resize_deterministic(spark):
    df = spark.createDataFrame(
        [(1, b"abc"), (2, b"0123456789" * 5), (3, None)],
        "doc_id: long, payload: binary",
    )
    out = {r["doc_id"]: r for r in resize_image(df, 4, 3, decoder="fake").collect()}
    assert out[1]["payload"] == b"abcabcabcabc"  # repeated to 12 bytes
    assert out[2]["payload"] == b"012345678901"  # truncated to 12 bytes
    assert out[1]["pixel_sum"] == sum(b"abcabcabcabc")
    assert out[3]["payload"] is None
    assert all(r["width"] == 4 and r["height"] == 3 for r in out.values())


def test_sample_video_frames_shape(spark):
    from hds_functions_spark.operators.multimodal import sample_video_frames

    payload = b"fake video bytes"
    df = spark.createDataFrame(
        [(7, payload), (8, None)], "doc_id: long, payload: binary"
    )
    rows = sample_video_frames(df, max_frames=8).collect()
    h = hashlib.md5(payload).hexdigest()
    expected_frames = 1 + int(h[10:12], 16) % 8
    assert len(rows) == expected_frames  # null payload contributes nothing
    assert [r["frame_index"] for r in rows] == list(range(expected_frames))
    assert all(r["frame_ts_ms"] == r["frame_index"] * 1000 for r in rows)
    assert rows[0]["frame_md5"] == hashlib.md5(payload + b"0").hexdigest()


def test_y4m_synthesize_parse_roundtrip():
    from hds_functions_spark.operators.media_codecs import (
        Y4M_RATES,
        parse_y4m,
        synthesize_y4m,
    )

    for seed in ("hello", "", "x" * 200):
        b = synthesize_y4m(seed)
        d = hashlib.md5(seed.encode()).digest()
        info = parse_y4m(b)
        assert info["width"] == 1 + d[0] % 32
        assert info["height"] == 1 + d[1] % 32
        assert info["fps_num"] == Y4M_RATES[d[4] % 4] and info["fps_den"] == 1
        assert info["n_frames"] == 1 + d[10] % 6
        assert info["frame_size"] == 3 * info["width"] * info["height"]
        lo, hi = info["frame_spans"][0]
        assert all(b[lo + j] == (d[3] + j) % 256 for j in range(8))


def test_y4m_parse_handcrafted_and_corrupt():
    from hds_functions_spark.operators.media_codecs import parse_y4m

    # C420 default when the C tag is absent; unknown tags tolerated
    raw = b"YUV4MPEG2 W4 H2 F30:1 Ip Xunknown\n" + b"FRAME\n" + bytes(12)
    info = parse_y4m(raw)
    assert info["frame_size"] == 4 * 2 * 3 // 2 == 12
    assert info["colorspace"].startswith("420")
    assert info["n_frames"] == 1
    # mono
    mono = b"YUV4MPEG2 W4 H2 Cmono\n" + b"FRAME\n" + bytes(8)
    assert parse_y4m(mono)["frame_size"] == 8
    # rejects: not y4m, truncated frame, garbage between frames, empty
    assert parse_y4m(None) is None
    assert parse_y4m(b"RIFF....") is None
    assert parse_y4m(raw[:-1]) is None
    assert parse_y4m(b"YUV4MPEG2 W4 H2 C444\n") is None
    assert parse_y4m(b"YUV4MPEG2 W4 H2 C444\nJUNK\n" + bytes(24)) is None


def test_video_real_decode_through_spark(spark):
    from hds_functions_spark.operators.media_codecs import (
        parse_y4m,
        synthesize_y4m,
    )
    from hds_functions_spark.operators.multimodal import sample_video_frames

    payload = synthesize_y4m("seed with frames")
    info = parse_y4m(payload)
    df = spark.createDataFrame(
        [(1, payload), (2, b"not a video"), (3, None)],
        "doc_id: long, payload: binary",
    )
    rows = sample_video_frames(df, decoder="real").collect()
    # corrupt + null payloads contribute zero rows
    assert {r["doc_id"] for r in rows} == {1}
    assert len(rows) == info["n_frames"]
    lo, hi = info["frame_spans"][0]
    assert rows[0]["pixel_sum"] == sum(payload[lo:hi])
    assert rows[0]["frame_md5"] == hashlib.md5(payload[lo:hi]).hexdigest()
    assert all(
        r["frame_ts_ms"] == r["frame_index"] * 1000 // info["fps_num"]
        for r in rows
    )
    assert rows[0]["width"] == info["width"]
    assert rows[0]["n_frames_total"] == info["n_frames"]


def test_video_real_even_sampling_caps_frames(spark):
    # a 10-frame clip sampled at max_frames=4 -> evenly spaced originals
    from hds_functions_spark.operators.multimodal import sample_video_frames

    header = b"YUV4MPEG2 W2 H2 F10:1 C444\n"
    payload = header + b"".join(
        b"FRAME\n" + bytes([f] * 12) for f in range(10)
    )
    df = spark.createDataFrame([(1, payload)], "doc_id: long, payload: binary")
    rows = sorted(
        sample_video_frames(df, max_frames=4, decoder="real").collect(),
        key=lambda r: r["frame_index"],
    )
    assert [r["frame_index"] for r in rows] == [0, 2, 5, 7]
    assert [r["pixel_sum"] for r in rows] == [0, 2 * 12, 5 * 12, 7 * 12]
    # timestamps follow the 10 fps container clock, not a fixed 1000 ms
    assert [r["frame_ts_ms"] for r in rows] == [0, 200, 500, 700]


def test_fake_audio_decode(spark):
    payload = b"fake audio bytes"
    df = spark.createDataFrame(
        [(1, payload), (2, None)], "doc_id: long, payload: binary"
    )
    rows = decode_audio_features(df, decoder="fake").collect()
    assert len(rows) == 1  # null payload skipped
    d = hashlib.md5(payload).digest()
    r = rows[0]
    assert r["sample_rate"] in (8000, 16000, 22050, 44100, 48000)
    assert r["n_channels"] in (1, 2)
    assert 100 <= r["duration_ms"] < 600100
    assert r["rms_q8"] == d[9]


def test_y4m_parse_c422_and_multiframe():
    from hds_functions_spark.operators.media_codecs import parse_y4m

    raw = (b"YUV4MPEG2 W4 H2 F25:1 C422\n"
           + b"FRAME\n" + bytes(16)
           + b"FRAME Ixyz\n" + bytes(range(16)))  # per-frame params allowed
    info = parse_y4m(raw)
    assert info["frame_size"] == 2 * 4 * 2 == 16
    assert info["n_frames"] == 2
    lo, hi = info["frame_spans"][1]
    assert raw[lo:hi] == bytes(range(16))


class TestImageAhash:
    def test_hash_identical_across_containers(self, spark):
        from hds_functions_spark.operators.media_codecs import (
            ahash64,
            synthesize_bmp,
            synthesize_ppm,
        )

        for seed in ("alpha", "beta", "gamma"):
            a = ahash64(synthesize_ppm(seed))
            b = ahash64(synthesize_bmp(seed))
            assert a == b  # same pixels -> same dims and hash

    def test_small_edit_small_hamming(self, spark):
        from hds_functions_spark.operators.media_codecs import (
            ahash64,
            ppm_pixel_data,
            synthesize_ppm,
        )

        payload = synthesize_ppm("hello world")
        w, h, _ = ppm_pixel_data(payload)
        base = ahash64(payload)
        # perturb ONE sampled lattice pixel (i=j=0 -> pixel (0,0))
        p = bytearray(payload)
        off = len(payload) - 3 * w * h
        p[off] = p[off + 1] = p[off + 2] = 255
        edited = ahash64(bytes(p))
        ham = bin(
            ((base[2] << 32 | base[3]) ^ (edited[2] << 32 | edited[3]))
        ).count("1")
        assert 1 <= ham <= 4  # one sample changed -> few bits flip

    def test_undecodable_payload_nulls(self, spark):
        from hds_functions_spark.operators.multimodal import image_ahash

        df = spark.createDataFrame(
            [(1, bytearray(b"not an image")), (2, None)],
            "doc_id long, payload binary",
        )
        out = {r["doc_id"]: r for r in image_ahash(df).collect()}
        assert out[1]["ahash_hi"] is None and out[2]["ahash_hi"] is None

    def test_duplicate_groups(self, spark):
        from hds_functions_spark.operators.media_codecs import (
            synthesize_bmp,
            synthesize_ppm,
        )
        from hds_functions_spark.operators.multimodal import (
            ahash_duplicate_groups,
            image_ahash,
        )

        rows = [
            (1, bytearray(synthesize_ppm("x"))),
            (2, bytearray(synthesize_bmp("x"))),  # same image, other box
            (3, bytearray(synthesize_ppm("y"))),
            (4, bytearray(b"junk")),
        ]
        df = spark.createDataFrame(rows, "doc_id long, payload binary")
        groups = ahash_duplicate_groups(image_ahash(df)).collect()
        assert len(groups) == 1
        assert groups[0]["n_images"] == 2
        assert groups[0]["canonical_doc_id"] == 1

    def test_bmp_bottom_up_and_stride(self, spark):
        from hds_functions_spark.operators.media_codecs import (
            bmp_pixel_data,
            ppm_pixel_data,
            synthesize_bmp,
            synthesize_ppm,
        )

        # width not divisible by 4 exercises stride padding
        for seed in ("pad1", "pad22", "pad333"):
            pw, ph, ppx = ppm_pixel_data(synthesize_ppm(seed))
            bw, bh, bpx = bmp_pixel_data(synthesize_bmp(seed))
            assert (pw, ph) == (bw, bh)
            assert ppx == bpx  # identical top-down RGB after unpadding


class TestPng:
    """Real PNG codec: full inflate + filter reconstruction."""

    def test_roundtrip_pixels_match_protocol(self):
        from hds_functions_spark.operators.media_codecs import (
            png_pixel_data, synthesize_png,
        )

        for seed in ("png-a", "png-b", "png-c", "png-d", "png-e"):
            d = hashlib.md5(seed.encode()).digest()
            w, h = 1 + d[0] % 64, 1 + d[1] % 64
            pw, ph, pixels = png_pixel_data(synthesize_png(seed))
            assert (pw, ph) == (w, h)
            assert pixels == bytes((d[3] + j) % 256 for j in range(3 * w * h))

    def test_all_five_filters_reconstruct(self):
        # handcraft one image per filter type; decoded pixels must equal raw
        import zlib

        from hds_functions_spark.operators.media_codecs import png_pixel_data

        def chunk(t, b):
            return (
                struct.pack(">I", len(b)) + t + b
                + struct.pack(">I", zlib.crc32(t + b) & 0xFFFFFFFF)
            )

        from hds_functions_spark.operators.media_codecs import _png_filter_row

        w, h = 5, 4
        raw_rows = [
            bytes((17 * (y * w * 3 + i) + 3) % 256 for i in range(w * 3))
            for y in range(h)
        ]
        for ftype in range(5):
            filtered = bytearray()
            prev = bytes(w * 3)
            for row in raw_rows:
                filtered.append(ftype)
                filtered += _png_filter_row(ftype, row, prev, 3)
                prev = row
            ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
            png = (
                b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
                + chunk(b"IDAT", zlib.compress(bytes(filtered)))
                + chunk(b"IEND", b"")
            )
            got = png_pixel_data(png)
            assert got is not None, f"filter {ftype} failed to decode"
            assert got == (w, h, b"".join(raw_rows)), f"filter {ftype} wrong"

    def test_grey_and_rgba_normalise_to_rgb(self):
        import zlib

        from hds_functions_spark.operators.media_codecs import (
            parse_png, png_pixel_data,
        )

        def chunk(t, b):
            return (
                struct.pack(">I", len(b)) + t + b
                + struct.pack(">I", zlib.crc32(t + b) & 0xFFFFFFFF)
            )

        def make(color, bpp, pix, w=2, h=2):
            ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
            raw = b"".join(
                b"\x00" + pix[y * w * bpp:(y + 1) * w * bpp] for y in range(h)
            )
            return (
                b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
                + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")
            )

        grey = make(0, 1, bytes([9, 18, 27, 36]))
        assert parse_png(grey)["mode"] == "L"
        assert png_pixel_data(grey)[2] == bytes(
            [9] * 3 + [18] * 3 + [27] * 3 + [36] * 3
        )
        rgba = make(6, 4, bytes(range(16)))
        assert parse_png(rgba)["mode"] == "RGBA"
        assert png_pixel_data(rgba)[2] == bytes(
            [0, 1, 2, 4, 5, 6, 8, 9, 10, 12, 13, 14]
        )

    def test_corrupt_and_unsupported_reject(self):
        import zlib

        from hds_functions_spark.operators.media_codecs import (
            parse_png, synthesize_png,
        )

        png = synthesize_png("corrupt-me")
        assert parse_png(None) is None
        assert parse_png(b"") is None
        assert parse_png(png[:30]) is None  # truncated mid-chunk
        flipped = bytearray(png)
        flipped[60] ^= 0xFF
        assert parse_png(bytes(flipped)) is None  # CRC catches body damage

        def chunk(t, b):
            return (
                struct.pack(">I", len(b)) + t + b
                + struct.pack(">I", zlib.crc32(t + b) & 0xFFFFFFFF)
            )

        # interlaced and 16-bit depth are unsupported -> None, not garbage
        for depth, interlace in ((8, 1), (16, 0)):
            ihdr = struct.pack(">IIBBBBB", 2, 2, depth, 2, 0, 0, interlace)
            p = (
                b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
                + chunk(b"IDAT", zlib.compress(b"\x00" * 14))
                + chunk(b"IEND", b"")
            )
            assert parse_png(p) is None

    def test_ahash_invariant_across_all_containers(self):
        from hds_functions_spark.operators.media_codecs import (
            ahash64, synthesize_bmp, synthesize_png,
        )

        for seed in ("inv-1", "inv-2", "inv-3"):
            assert (
                ahash64(synthesize_png(seed))
                == ahash64(synthesize_ppm(seed))
                == ahash64(synthesize_bmp(seed))
            )

    def test_content_profile_through_spark(self, spark):
        from hds_functions_spark.operators.multimodal import (
            image_content_profile, synthesize_media_payloads,
        )

        docs = spark.createDataFrame(
            [(1, "alpha"), (2, "beta"), (3, None)], "doc_id long, text string"
        )
        out = {
            r["doc_id"]: r
            for r in image_content_profile(
                synthesize_media_payloads(docs, "png")
            ).collect()
        }
        for doc_id, seed in ((1, "alpha"), (2, "beta")):
            d = hashlib.md5(seed.encode()).digest()
            w, h = 1 + d[0] % 64, 1 + d[1] % 64
            r = out[doc_id]
            assert (r["width"], r["height"]) == (w, h)
            assert r["pixel_sum"] == sum(
                (d[3] + j) % 256 for j in range(3 * w * h)
            )
            assert r["ahash_hi"] is not None
        assert out[3]["width"] is None and out[3]["pixel_sum"] is None


# --- baseline JPEG codec (round 11) -----------------------------------------


def test_jpeg_fixture_decode_is_exact():
    """The DC-exact protocol: constant 8x8 blocks + all-8s quantization
    make the lossy codec lossless — decoded pixels equal the synthesis
    protocol exactly (what the SQL oracle predicts closed-form)."""
    from hds_functions_spark.operators.media_codecs import (
        decode_jpeg_baseline,
        parse_jpeg,
        synthesize_jpeg,
    )

    for seed in ("alpha", "beta", "0", ""):
        d = hashlib.md5(seed.encode()).digest()
        w8, h8 = 1 + d[0] % 8, 1 + d[1] % 8
        payload = synthesize_jpeg(seed)
        meta = parse_jpeg(payload)
        assert meta == {
            "width": 8 * w8, "height": 8 * h8,
            "n_components": 1, "progressive": False,
        }
        w, h, rgb = decode_jpeg_baseline(payload)
        assert (w, h) == (8 * w8, 8 * h8)
        for by in range(h8):
            for bx in range(w8):
                v = (d[3] + by * w8 + bx) % 256
                for (px, py) in ((0, 0), (7, 7), (3, 5)):
                    base = ((by * 8 + py) * w + bx * 8 + px) * 3
                    assert rgb[base] == rgb[base + 1] == rgb[base + 2] == v
        assert sum(rgb) == 3 * 64 * sum(
            (d[3] + k) % 256 for k in range(w8 * h8)
        )


def test_jpeg_gray_roundtrip_error_bounded():
    """Reference-decode property: with an all-1s quantization table the
    only loss is DCT-coefficient rounding (<= 0.5 each), so every pixel
    of the decode is within 64 * 0.5 / 8 = 4 of the original — the AC
    path (runs, ZRL, EOB, magnitude coding) exercised on dense random
    content, including non-multiple-of-8 dims (edge-replicated pad)."""
    import random

    from hds_functions_spark.operators.media_codecs import (
        decode_jpeg_baseline,
        encode_jpeg_baseline,
    )

    rng = random.Random(7)
    for (w, h) in ((8, 8), (16, 8), (11, 13), (32, 24), (1, 1), (9, 1)):
        gray = bytes(rng.randrange(256) for _ in range(w * h))
        out = decode_jpeg_baseline(
            encode_jpeg_baseline(w, h, gray, 1, [1] * 64)
        )
        assert out is not None
        ww, hh, rgb = out
        assert (ww, hh) == (w, h)
        err = max(
            abs(rgb[(y * w + x) * 3] - gray[y * w + x])
            for y in range(h)
            for x in range(w)
        )
        assert err <= 4, (w, h, err)


def test_jpeg_color_roundtrip_error_bounded():
    """4:4:4 color path: YCbCr forward+inverse adds at most ~2 LSB on
    top of the quantization bound."""
    import random

    from hds_functions_spark.operators.media_codecs import (
        decode_jpeg_baseline,
        encode_jpeg_baseline,
    )

    rng = random.Random(11)
    for (w, h) in ((8, 8), (17, 9)):
        data = bytes(rng.randrange(256) for _ in range(w * h * 3))
        out = decode_jpeg_baseline(
            encode_jpeg_baseline(w, h, data, 3, [1] * 64)
        )
        assert out is not None
        ww, hh, rgb = out
        assert (ww, hh) == (w, h)
        assert max(abs(a - b) for a, b in zip(rgb, data)) <= 8


def test_jpeg_restart_markers_roundtrip():
    """DRI/RSTn path: encoder emits restart markers every 3 MCUs (byte-
    aligned, DC predictors reset); the decoder must consume them and
    still reconstruct within the quantization bound."""
    import random

    from hds_functions_spark.operators.media_codecs import (
        decode_jpeg_baseline,
        encode_jpeg_baseline,
    )

    rng = random.Random(13)
    w, h = 32, 24
    gray = bytes(rng.randrange(256) for _ in range(w * h))
    payload = encode_jpeg_baseline(w, h, gray, 1, [1] * 64, restart_interval=3)
    assert b"\xff\xdd" in payload  # DRI present
    out = decode_jpeg_baseline(payload)
    assert out is not None
    _, _, rgb = out
    err = max(
        abs(rgb[(y * w + x) * 3] - gray[y * w + x])
        for y in range(h)
        for x in range(w)
    )
    assert err <= 4


def test_jpeg_unsupported_fails_closed():
    """Progressive (SOF2), subsampled, truncated, or non-JPEG payloads
    return None — never garbage pixels."""
    from hds_functions_spark.operators.media_codecs import (
        decode_jpeg_baseline,
        encode_jpeg_baseline,
        parse_jpeg,
        synthesize_jpeg,
    )

    good = synthesize_jpeg("x")
    assert decode_jpeg_baseline(None) is None
    assert decode_jpeg_baseline(b"") is None
    assert decode_jpeg_baseline(b"notajpeg") is None
    assert decode_jpeg_baseline(good[: len(good) // 2]) is None  # truncated
    # flip SOF0 -> SOF2 (progressive): parse reports it, decode refuses
    sof = good.index(b"\xff\xc0")
    prog = good[:sof] + b"\xff\xc2" + good[sof + 2 :]
    assert parse_jpeg(prog)["progressive"] is True
    assert decode_jpeg_baseline(prog) is None
    # patch the sampling byte (0x11 -> 0x22): subsampling unsupported
    sub = bytearray(good)
    sub[sof + 11] = 0x22  # SOF0 body: len(2) prec(1) h(2) w(2) nc(1) id(1) samp
    assert decode_jpeg_baseline(bytes(sub)) is None
    # encoder input validation
    with pytest.raises(ValueError, match="n_components"):
        encode_jpeg_baseline(2, 2, b"\x00" * 4, 2)
    with pytest.raises(ValueError, match="qtable"):
        encode_jpeg_baseline(2, 2, b"\x00" * 4, 1, [0] * 64)


def test_jpeg_through_image_pixel_data_and_profile(spark):
    """The FFD8 sniff routes JPEG through the shared image decode
    surface, so image_content_profile runs the lossy codec end-to-end
    under Spark with the same 1-row-in/1-row-out Arrow batching as the
    other containers."""
    from pyspark.sql import functions as F

    from hds_functions_spark.operators.media_codecs import (
        image_pixel_data,
        synthesize_jpeg,
    )
    from hds_functions_spark.operators.multimodal import (
        image_content_profile,
        synthesize_media_payloads,
    )

    assert image_pixel_data(synthesize_jpeg("y")) is not None
    docs = spark.range(6).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("doc-"), F.col("id")).alias("text"),
    )
    out = image_content_profile(
        synthesize_media_payloads(docs, "jpeg")
    ).collect()
    assert len(out) == 6
    for r in out:
        d = hashlib.md5(f"doc-{r['doc_id']}".encode()).digest()
        w8, h8 = 1 + d[0] % 8, 1 + d[1] % 8
        assert (r["width"], r["height"]) == (8 * w8, 8 * h8)
        assert r["pixel_sum"] == 3 * 64 * sum(
            (d[3] + k) % 256 for k in range(w8 * h8)
        )


def test_mjpeg_avi_container_and_frames():
    """MJPEG AVI fixtures: RIFF metadata from avih/strh, every 00dc
    chunk a complete DC-exact JPEG whose decode matches the frame-ramp
    protocol; garbage and non-AVI RIFF fail closed."""
    from hds_functions_spark.operators.media_codecs import (
        Y4M_RATES,
        avi_jpeg_frames,
        decode_jpeg_baseline,
        parse_avi,
        synthesize_mjpeg_avi,
    )

    for seed in ("clip-a", "clip-b", ""):
        d = hashlib.md5(seed.encode()).digest()
        w8, h8 = 1 + d[0] % 4, 1 + d[1] % 4
        nf = 1 + d[10] % 6
        payload = synthesize_mjpeg_avi(seed)
        meta = parse_avi(payload)
        assert meta == {
            "n_frames": nf, "width": 8 * w8, "height": 8 * h8,
            "handler": "MJPG", "fps": Y4M_RATES[d[4] % 4],
            "fps_exact": float(Y4M_RATES[d[4] % 4]),
        }
        frames = avi_jpeg_frames(payload)
        assert len(frames) == nf
        for f, fr in enumerate(frames):
            w, h, rgb = decode_jpeg_baseline(fr)
            assert (w, h) == (8 * w8, 8 * h8)
            assert sum(rgb) == 3 * 64 * sum(
                (d[3] + f + k) % 256 for k in range(w8 * h8)
            )
    assert parse_avi(None) is None
    assert parse_avi(b"garbage") is None
    assert avi_jpeg_frames(b"RIFF\x04\x00\x00\x00WAVE") is None


def test_mjpeg_video_profile_through_spark(spark):
    """1-clip-to-n-frames Arrow batch shape: every frame of every clip
    decoded through the full JPEG path, per-frame pixel_sum exact."""
    from pyspark.sql import functions as F

    from hds_functions_spark.operators.multimodal import (
        mjpeg_video_profile,
        synthesize_media_payloads,
    )

    docs = spark.range(5).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("clip-"), F.col("id")).alias("text"),
    )
    rows = mjpeg_video_profile(
        synthesize_media_payloads(docs, "avi")
    ).collect()
    by_doc: dict = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert set(by_doc) == set(range(5))
    for doc_id, frames in by_doc.items():
        d = hashlib.md5(f"clip-{doc_id}".encode()).digest()
        w8, h8 = 1 + d[0] % 4, 1 + d[1] % 4
        nf = 1 + d[10] % 6
        assert len(frames) == nf
        assert sorted(r["frame_index"] for r in frames) == list(range(nf))
        for r in frames:
            assert (r["width"], r["height"]) == (8 * w8, 8 * h8)
            assert r["n_frames_total"] == nf
            f = r["frame_index"]
            assert r["pixel_sum"] == 3 * 64 * sum(
                (d[3] + f + k) % 256 for k in range(w8 * h8)
            )
    # corrupt payloads yield no rows, not errors
    bad = docs.select(
        "doc_id", F.encode(F.lit("notavi"), "UTF-8").alias("payload")
    )
    assert mjpeg_video_profile(bad).count() == 0


def test_jpeg_roundtrip_property_hypothesis():
    """Property form of the roundtrip bound: ANY byte image at ANY dims
    (1..24 per side), grayscale or RGB, encodes to a decodable stream
    whose every pixel is within the quantization error bound."""
    from hypothesis import given, settings, strategies as st

    from hds_functions_spark.operators.media_codecs import (
        decode_jpeg_baseline,
        encode_jpeg_baseline,
    )

    @settings(max_examples=15, deadline=None)
    @given(
        w=st.integers(1, 24),
        h=st.integers(1, 24),
        color=st.booleans(),
        seed=st.integers(0, 2**31),
    )
    def check(w, h, color, seed):
        import random

        rng = random.Random(seed)
        nc = 3 if color else 1
        data = bytes(rng.randrange(256) for _ in range(w * h * nc))
        out = decode_jpeg_baseline(
            encode_jpeg_baseline(w, h, data, nc, [1] * 64)
        )
        assert out is not None
        ww, hh, rgb = out
        assert (ww, hh) == (w, h)
        if color:
            err = max(abs(a - b) for a, b in zip(rgb, data))
        else:
            err = max(
                abs(rgb[i * 3] - data[i]) for i in range(w * h)
            )
        assert err <= 8 if color else err <= 4

    check()


def test_jpeg_encoder_rejects_dim_mismatch():
    from hds_functions_spark.operators.media_codecs import (
        encode_jpeg_baseline,
    )

    with pytest.raises(ValueError, match="does not match dims"):
        encode_jpeg_baseline(4, 4, b"\x00" * 15, 1)
    with pytest.raises(ValueError, match="does not match dims"):
        encode_jpeg_baseline(2, 2, b"\x00" * 4, 3)


def test_mjpeg_frame_signatures_and_video_dedup(spark):
    """Exact video dedup: frames with identical decoded content hash
    identically across clips; a planted byte-identical clip pair forms
    a duplicate group per frame."""
    from pyspark.sql import functions as F

    from hds_functions_spark.operators.multimodal import (
        mjpeg_frame_signatures,
        synthesize_media_payloads,
    )

    # clips 0 and 1 share the SAME seed text -> byte-identical AVIs
    docs = spark.createDataFrame(
        [(0, "dup-seed"), (1, "dup-seed"), (2, "other")],
        "doc_id long, text string",
    )
    sigs = mjpeg_frame_signatures(synthesize_media_payloads(docs, "avi"))
    rows = sigs.collect()
    d = hashlib.md5(b"dup-seed").digest()
    nf = 1 + d[10] % 6
    by_clip = {}
    for r in rows:
        by_clip.setdefault(r["doc_id"], {})[r["frame_index"]] = r["frame_md5"]
    assert by_clip[0] == by_clip[1]  # identical clips, frame-for-frame
    assert len(by_clip[0]) == nf
    groups = (
        sigs.groupBy("width", "height", "frame_md5")
        .agg(F.countDistinct("doc_id").alias("n_clips"))
        .filter(F.col("n_clips") > 1)
        .count()
    )
    # every dup-seed frame with a UNIQUE signature inside the clip
    # forms one cross-clip group; frames repeated within the clip
    # (af wraps only past 256 frames — impossible here) keep groups
    # distinct, so the cross-clip group count is the distinct-signature
    # count of the clip
    assert groups == len(set(by_clip[0].values()))


def test_codec_truncation_fuzz_never_raises():
    """ADVICE r11: every prefix truncation and every single-byte
    size-field corruption of the JPEG and AVI fixtures must fail
    CLOSED (None / partial metadata / skipped frames) — one torn
    payload must never abort a Spark task with struct.error,
    IndexError, or ValueError. The progressive fixture goes through
    both its own decoder and the dispatching one, since their marker
    walks share the DQT/DHT/SOF body parsers."""
    from hds_functions_spark.operators.media_codecs import (
        avi_jpeg_frames,
        decode_jpeg,
        decode_jpeg_baseline,
        decode_jpeg_progressive,
        parse_avi,
        parse_jpeg,
        synthesize_jpeg,
        synthesize_jpeg_progressive,
        synthesize_mjpeg_avi,
    )

    jpg = synthesize_jpeg("fuzz-seed")
    prog = synthesize_jpeg_progressive("fuzz-seed")
    avi = synthesize_mjpeg_avi("fuzz-seed")
    for cut in range(len(jpg)):
        parse_jpeg(jpg[:cut])
        decode_jpeg_baseline(jpg[:cut])
    for cut in range(len(avi)):
        parse_avi(avi[:cut])
        avi_jpeg_frames(avi[:cut])
    # size-field bit flips: corrupt every byte to 0xFF one at a time —
    # inflated segment/chunk sizes must clamp, not run off the end
    for pos in range(len(avi)):
        mut = bytearray(avi)
        mut[pos] = 0xFF
        parse_avi(bytes(mut))
        avi_jpeg_frames(bytes(mut))
    for pos in range(len(jpg)):
        mut = bytearray(jpg)
        mut[pos] = 0xFF
        parse_jpeg(bytes(mut))
        decode_jpeg_baseline(bytes(mut))
    for cut in range(len(prog)):
        decode_jpeg_progressive(prog[:cut])
        decode_jpeg(prog[:cut])
    for pos in range(len(prog)):
        mut = bytearray(prog)
        mut[pos] = 0xFF
        decode_jpeg_progressive(bytes(mut))
        decode_jpeg(bytes(mut))
    # intact fixtures still decode after the guard tightening
    assert decode_jpeg_baseline(jpg) is not None
    decoded = decode_jpeg_progressive(prog)
    assert decoded is not None and decode_jpeg(prog) == decoded
    assert parse_avi(avi)["handler"] == "MJPG"
    assert len(avi_jpeg_frames(avi)) == parse_avi(avi)["n_frames"]


def test_phash_invariances_and_sensitivity():
    """pHash contract: equal across containers, stable under JPEG
    requantization and small pixel edits (the near-dup cases ahash
    misses), NOT rotation-invariant (documented limitation)."""
    import numpy as np

    from hds_functions_spark.operators.media_codecs import (
        decode_jpeg_baseline,
        encode_jpeg_baseline,
        image_pixel_data,
        phash64,
        phash64_from_pixels,
        synthesize_bmp,
        synthesize_ppm,
    )

    def ham(a, b):
        return bin(((a[2] << 32) | a[3]) ^ ((b[2] << 32) | b[3])).count("1")

    for seed in ("alpha", "beta", "gamma", "delta"):
        ppm = synthesize_ppm(seed)
        assert phash64(ppm) == phash64(synthesize_bmp(seed))
        w, h, px = image_pixel_data(ppm)
        base = phash64_from_pixels(w, h, px)
        # lossy requantization: full JPEG encode/decode round-trip
        jw, jh, jpx = decode_jpeg_baseline(encode_jpeg_baseline(w, h, px, 3))
        assert ham(base, phash64_from_pixels(jw, jh, jpx)) <= 4
        # small edit: +6 on ~1% of bytes
        mut = bytearray(px)
        for i in range(0, len(mut), 101):
            mut[i] = min(255, mut[i] + 6)
        assert ham(base, phash64_from_pixels(w, h, bytes(mut))) <= 2
        # 180-degree rotation restructures low frequencies: NOT a dup
        rot = np.frombuffer(px, dtype=np.uint8).reshape(h, w, 3)[::-1, ::-1, :]
        assert ham(base, phash64_from_pixels(w, h, rot.tobytes())) >= 16
    assert phash64(b"not an image") is None
    assert phash64(None) is None
    # bit 0 (the DC slot) is always zero
    assert (phash64(synthesize_ppm("alpha"))[3] & 1) == 0


def test_image_phash_through_spark(spark):
    """Arrow-batch plumbing: per-row phash matches the direct call;
    undecodable payloads yield null halves; duplicate grouping
    collapses identical content across containers."""
    from hds_functions_spark.operators.media_codecs import (
        phash64,
        synthesize_bmp,
        synthesize_ppm,
    )
    from hds_functions_spark.operators.multimodal import (
        image_phash,
        phash_duplicate_groups,
    )

    df = spark.createDataFrame(
        [
            (1, synthesize_ppm("dup")),
            (2, synthesize_bmp("dup")),  # same content, other container
            (3, synthesize_ppm("solo")),
            (4, b"corrupt"),
            (5, None),
        ],
        "doc_id: long, payload: binary",
    )
    hashes = image_phash(df)
    rows = {r["doc_id"]: r for r in hashes.collect()}
    exp = phash64(synthesize_ppm("dup"))
    assert (rows[1]["phash_hi"], rows[1]["phash_lo"]) == (exp[2], exp[3])
    assert tuple(rows[1])[1:] == tuple(rows[2])[1:]
    assert rows[4]["phash_hi"] is None and rows[5]["phash_hi"] is None
    groups = phash_duplicate_groups(hashes).collect()
    assert len(groups) == 1
    assert groups[0]["n_images"] == 2
    assert groups[0]["canonical_doc_id"] == 1


def test_audio_signatures_and_dedup_grouping(spark):
    """Identical seeds -> identical PCM signatures; corrupt payloads
    yield no row (fail closed)."""
    from pyspark.sql import functions as F

    from hds_functions_spark.operators.multimodal import (
        audio_signatures,
        synthesize_media_payloads,
    )

    docs = spark.createDataFrame(
        [(0, "same seed"), (1, "same seed"), (2, "different seed")],
        "doc_id long, text string",
    )
    sigs = audio_signatures(
        synthesize_media_payloads(docs, "wav")
    ).collect()
    by_id = {r["doc_id"]: r for r in sigs}
    assert len(by_id) == 3
    assert by_id[0]["pcm_md5"] == by_id[1]["pcm_md5"]
    assert by_id[0]["sample_rate"] == by_id[1]["sample_rate"]
    assert by_id[0]["pcm_md5"] != by_id[2]["pcm_md5"]
    assert by_id[0]["n_frames"] >= 200  # protocol floor

    # corrupt payloads: truncated header and non-WAV bytes yield no rows
    corrupt = spark.createDataFrame(
        [(10, bytearray(b"RIFF")), (11, bytearray(b"not a wav")), (12, None)],
        "doc_id long, payload binary",
    )
    assert audio_signatures(corrupt).count() == 0


class TestImageSignatures:
    """r14: the single-decode signature row behind pipeline_image_curation."""

    def test_cross_container_exact_identity(self, spark):
        """PNG and PPM of the same seed decode to the same pixels: the
        exact key (pixel_md5) and the perceptual hash must match; the
        JPEG of the same seed is different content."""
        from hds_functions_spark.operators.multimodal import (
            image_signatures,
            synthesize_media_payloads,
        )

        docs = (
            spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .select("doc_id", "text")
            .limit(3)
        )
        out = {}
        for kind in ("png", "ppm", "jpeg"):
            sig = image_signatures(
                synthesize_media_payloads(docs, kind).withColumnRenamed(
                    "doc_id", "img_id"
                )
            )
            out[kind] = {
                r["img_id"]: (r["pixel_md5"], r["phash_hi"], r["phash_lo"])
                for r in sig.collect()
            }
        assert out["png"] == out["ppm"]
        for k in out["jpeg"]:
            assert out["jpeg"][k][0] != out["png"][k][0]

    def test_dims_are_part_of_exact_identity(self, spark):
        """A 2x3 and a 3x2 image with the SAME raw RGB byte stream are
        different images: pixel_md5 must differ (the sf0.01 ramp
        collision this field's dims prefix exists for)."""
        from hds_functions_spark.operators.multimodal import image_signatures

        body = bytes(range(18))
        a = b"P6\n2 3\n255\n" + body
        b = b"P6\n3 2\n255\n" + body
        df = spark.createDataFrame(
            [(1, bytearray(a)), (2, bytearray(b))],
            "img_id long, payload binary",
        )
        rows = {r["img_id"]: r for r in image_signatures(df).collect()}
        assert rows[1]["pixel_sum"] == rows[2]["pixel_sum"]
        assert rows[1]["pixel_md5"] != rows[2]["pixel_md5"]

    def test_custom_id_col_and_null_payload(self, spark):
        from hds_functions_spark.operators.multimodal import image_signatures

        df = spark.createDataFrame(
            [(7, None)], "clip long, payload binary"
        )
        out = image_signatures(df, id_col="clip")
        assert out.columns[0] == "clip"
        [row] = out.collect()
        assert row["clip"] == 7 and row["pixel_md5"] is None


def test_image_curation_tiers_consistent(spark):
    """pipeline_image_curation: tier counts partition the corpus, and
    every protocol re-encode lands in the exact-dup tier (its base
    always carries the smaller img_id)."""
    import hds_functions_spark.registry_ext  # noqa: F401
    from hds_functions_spark.registry import QUERIES
    from hds_functions_spark.registry_ext12 import (
        _IC_CONTAINER_MOD,
        _IC_REENC_MOD,
    )

    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    card = QUERIES["pipeline_image_curation"](spark, sf).toPandas()
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    n_docs = docs.count()
    n_reenc = docs.filter(
        (F.col("doc_id") % _IC_CONTAINER_MOD != 1)
        & (F.col("doc_id") % _IC_REENC_MOD == 2)
    ).count()
    assert int(card["n_images"].sum()) == n_docs + n_reenc
    assert (
        card["n_exact_dups"] + card["n_phash_dups"] + card["n_curated"]
    ).equals(card["n_images"])
    assert int(card["n_exact_dups"].sum()) >= n_reenc
    assert int(card["n_phash_dups"].sum()) > 0


def test_image_dedup_incremental_legs_and_consistency(spark):
    """The continuous-ingest twin: every verdict class must be reachable
    under the protocol (the batch selector was widened to 2 residues
    precisely so base/re-encode pairs both straddle and fall inside the
    batch), and the verdict counts partition the batch."""
    import hds_functions_spark.registry_ext  # noqa: F401
    from hds_functions_spark.registry import QUERIES

    card = QUERIES["multimodal_image_dedup_incremental"](
        spark, "/root/testdata/sf0.01"
    ).toPandas()
    assert (
        card["n_exact_dup_standing"]
        + card["n_exact_dup_batch"]
        + card["n_phash_dup"]
        + card["n_novel"]
    ).equals(card["n_batch_images"])
    assert int(card["n_exact_dup_standing"].sum()) > 0
    assert int(card["n_exact_dup_batch"].sum()) > 0
    assert int(card["n_phash_dup"].sum()) > 0
    assert int(card["n_novel"].sum()) > 0


def test_image_ingest_verdicts_persisted_index_identity(spark, tmp_path):
    """The production claim behind the incremental query: a standing
    signature index PERSISTED to parquet and reloaded must yield
    bit-identical ingest verdicts to the in-memory frame (each night's
    work = batch decode + key joins; standing pixels never re-decoded)."""
    from pyspark.sql import functions as F

    from hds_functions_spark.operators.multimodal import (
        image_ingest_verdicts,
        image_signatures,
        synthesize_media_payloads,
    )

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
        .limit(120)
    )
    sig = image_signatures(
        synthesize_media_payloads(docs, "png").withColumnRenamed(
            "doc_id", "img_id"
        )
    )
    batch = sig.filter(F.col("img_id") % 7 == 0)
    standing = sig.filter(F.col("img_id") % 7 != 0)

    def verdicts(st):
        return {
            r["img_id"]: r["verdict"]
            for r in image_ingest_verdicts(batch, st).collect()
        }

    live = verdicts(standing)
    path = str(tmp_path / "standing_index.parquet")
    standing.write.mode("overwrite").parquet(path)
    reloaded = verdicts(spark.read.parquet(path))
    assert live == reloaded and len(live) > 0


def test_video_frame_signatures_protocol_exact(spark):
    """video_frame_signatures (r15): one decode emits BOTH curation
    keys per frame — md5 exact key under the dims-prefix convention,
    perceptual DCT hash — with protocol-exact dims, frame counts and
    pixel sums; byte-identical clips sign identically frame-for-frame."""
    from pyspark.sql import functions as F  # noqa: F401

    from hds_functions_spark.operators.multimodal import (
        synthesize_media_payloads,
        video_frame_signatures,
    )

    docs = spark.createDataFrame(
        [(0, "dup-seed"), (1, "dup-seed"), (2, "other")],
        "doc_id long, text string",
    )
    rows = video_frame_signatures(
        synthesize_media_payloads(docs, "avi")
    ).collect()
    d = hashlib.md5(b"dup-seed").digest()
    w8, h8, d3, nf = 1 + d[0] % 4, 1 + d[1] % 4, d[3], 1 + d[10] % 6
    by_clip = {}
    for r in rows:
        by_clip.setdefault(r["doc_id"], {})[r["frame_index"]] = (
            r["frame_md5"], r["phash_hi"], r["phash_lo"],
            r["width"], r["height"], r["pixel_sum"],
        )
    assert by_clip[0] == by_clip[1]  # identical clips, every signature
    assert len(by_clip[0]) == nf
    for f, (md5_, hi, lo, w, h, psum) in by_clip[0].items():
        assert (w, h) == (8 * w8, 8 * h8)
        # closed-form ramp: blocks start at af=(d3+f)%256, nb=w8*h8
        af, nb = (d3 + f) % 256, w8 * h8
        expect = 192 * sum((af + k) % 256 for k in range(nb))
        assert psum == expect
        assert hi is not None and lo is not None


def test_video_frame_signatures_custom_id_col(spark):
    """A custom ``id_col`` names the OUTPUT id column too (r16: mirrors
    audio_curation_signatures), and signatures are identical to the
    default-named run."""
    from hds_functions_spark.operators.multimodal import (
        synthesize_media_payloads,
        video_frame_signatures,
    )

    docs = spark.createDataFrame(
        [(0, "a"), (1, "b")], "doc_id long, text string"
    )
    payloads = synthesize_media_payloads(docs, "avi")
    renamed = payloads.withColumnRenamed("doc_id", "clip")
    out = video_frame_signatures(renamed, id_col="clip")
    assert out.columns[0] == "clip"
    key = lambda r: (r[0], r["frame_index"])  # noqa: E731
    base = {
        key(r): (r["frame_md5"], r["phash_hi"], r["phash_lo"])
        for r in video_frame_signatures(payloads).collect()
    }
    custom = {
        key(r): (r["frame_md5"], r["phash_hi"], r["phash_lo"])
        for r in out.collect()
    }
    assert base == custom and len(base) > 0


def test_video_curation_tiers_consistent(spark):
    """pipeline_video_curation: tier counts partition the decoded
    frames, every clip decodes (n_clips = corpus size), and both dedup
    tiers fire under the protocol at sf0.001."""
    import hds_functions_spark.registry_ext  # noqa: F401
    from hds_functions_spark.registry import QUERIES

    sf = "/root/testdata/sf0.001"
    card = QUERIES["pipeline_video_curation"](spark, sf).toPandas()
    n_docs = spark.read.parquet(f"{sf}/documents.parquet").count()
    assert int(card["n_clips"].sum()) == n_docs
    assert (
        card["n_exact_dups"] + card["n_phash_dups"] + card["n_curated"]
    ).equals(card["n_frames"])
    assert int(card["n_exact_dups"].sum()) > 0
    assert int(card["n_phash_dups"].sum()) > 0
    assert int(card["n_curated"].sum()) > 0
    assert (card["n_curated_clips"] <= card["n_clips"]).all()


def test_caption_curation_card_consistent(spark):
    """pipeline_caption_curation: one verdict per doc/image pair, the
    verdict counts partition the pairs, and the gates are all reachable
    under the protocol at sf0.001."""
    import hds_functions_spark.registry_ext  # noqa: F401
    from hds_functions_spark.registry import QUERIES

    sf = "/root/testdata/sf0.001"
    card = QUERIES["pipeline_caption_curation"](spark, sf).toPandas()
    n_docs = spark.read.parquet(f"{sf}/documents.parquet").count()
    assert int(card["n_pairs"].sum()) == n_docs
    assert (
        card["n_dup_image"] + card["n_small_image"] + card["n_extreme_aspect"]
        + card["n_low_quality"] + card["n_accepted"]
    ).equals(card["n_pairs"])
    assert int(card["n_accepted"].sum()) > 0
    # accepted quality mass is bounded by 1.0 * n_accepted and at least
    # the gate floor per accepted pair
    assert (card["accepted_quality_sum"] <= card["n_accepted"]).all()
    assert (
        card["accepted_quality_sum"] >= 0.5 * card["n_accepted"]
    ).all()


def test_image_ingest_verdicts_undecodable_leg(spark):
    """Null-signature batch rows (what image_signatures emits for
    payloads it cannot decode) must surface as verdict='undecodable'
    instead of being silently dropped by the key joins (r15, advice)."""
    from pyspark.sql import functions as F

    from hds_functions_spark.operators.multimodal import (
        image_ingest_verdicts,
        image_signatures,
        synthesize_media_payloads,
    )

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
        .limit(40)
    )
    sig = image_signatures(
        synthesize_media_payloads(docs, "png").withColumnRenamed(
            "doc_id", "img_id"
        )
    )
    # poison two batch rows: null out every signature column, as an
    # undecodable payload would
    batch = sig.filter(F.col("img_id") % 7 == 0)
    nulled = batch.filter(F.col("img_id") % 3 == 0)
    poisoned = batch.filter(F.col("img_id") % 3 != 0).unionByName(
        nulled.select(
            "img_id",
            *[
                F.lit(None).cast(dict(nulled.dtypes)[c]).alias(c)
                for c in nulled.columns
                if c != "img_id"
            ],
        )
    )
    out = image_ingest_verdicts(
        poisoned, sig.filter(F.col("img_id") % 7 != 0)
    )
    got = {r["img_id"]: r["verdict"] for r in out.collect()}
    n_nulled = nulled.count()
    assert n_nulled > 0
    assert len(got) == poisoned.count()  # nothing dropped
    undecodable = [v for v in got.values() if v == "undecodable"]
    assert len(undecodable) == n_nulled


def test_video_dedup_incremental_legs_and_consistency(spark):
    """The continuous-ingest video twin: verdict counts partition the
    batch frames and every class is reachable under the protocol (the
    clip-level 2-residue selector straddles duplicate-content pairs
    both ways)."""
    import hds_functions_spark.registry_ext  # noqa: F401
    from hds_functions_spark.registry import QUERIES

    card = QUERIES["multimodal_video_dedup_incremental"](
        spark, "/root/testdata/sf0.001"
    ).toPandas()
    assert (
        card["n_exact_dup_standing"]
        + card["n_exact_dup_batch"]
        + card["n_phash_dup"]
        + card["n_novel"]
    ).equals(card["n_batch_frames"])
    for leg in ("n_exact_dup_standing", "n_exact_dup_batch",
                "n_phash_dup", "n_novel"):
        assert int(card[leg].sum()) > 0, leg


def test_audio_curation_downmix_tiers(spark):
    """pipeline_audio_curation: one clip per doc plus one downmix
    re-encode per doc_id%5==2 doc; tier counts partition the corpus;
    BOTH tiers fire (mono downmixes land exact, stereo downmixes land
    perceptual — the invariance audio_phash56 was built for)."""
    import hds_functions_spark.registry_ext  # noqa: F401
    from hds_functions_spark.registry import QUERIES
    from hds_functions_spark.registry_ext13 import _AC_DOWNMIX_MOD

    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    card = QUERIES["pipeline_audio_curation"](spark, sf).toPandas()
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    n_docs = docs.count()
    n_dn = docs.filter(F.col("doc_id") % _AC_DOWNMIX_MOD == 2).count()
    assert int(card["n_clips"].sum()) == n_docs + n_dn
    assert (
        card["n_exact_dups"] + card["n_phash_dups"] + card["n_curated"]
    ).equals(card["n_clips"])
    assert int(card["n_exact_dups"].sum()) > 0
    assert int(card["n_phash_dups"].sum()) > 0
    # every downmix re-encode deduplicates into ONE of the two tiers
    assert (
        int(card["n_exact_dups"].sum()) + int(card["n_phash_dups"].sum())
        >= n_dn
    )


def test_audio_curation_signatures_one_parse_matches_pair(spark):
    """audio_curation_signatures must agree with the two single-purpose
    operators (audio_signatures' pcm_md5, audio_phash's aphash) row for
    row — one parse, same signatures."""
    from hds_functions_spark.operators.multimodal import (
        audio_curation_signatures,
        audio_phash,
        audio_signatures,
        synthesize_media_payloads,
    )

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
        .limit(60)
    )
    corpus = synthesize_media_payloads(docs, "wav_tones")
    combined = {
        r["doc_id"]: (r["sample_rate"], r["n_channels"], r["n_frames"],
                      r["pcm_md5"], r["aphash"])
        for r in audio_curation_signatures(corpus, id_col="doc_id").collect()
    }
    sigs = {
        r["doc_id"]: (r["sample_rate"], r["n_channels"], r["n_frames"],
                      r["pcm_md5"])
        for r in audio_signatures(corpus).collect()
    }
    hashes = {r["doc_id"]: r["aphash"] for r in audio_phash(corpus).collect()}
    assert len(combined) == 60
    for doc_id, (rate, ch, nf, md5_, ap) in combined.items():
        assert sigs[doc_id] == (rate, ch, nf, md5_)
        assert hashes[doc_id] == ap


def test_streaming_image_ingest_matches_batch_probe(spark):
    """The streaming twin's invariance contract: the drained sink must
    equal the same standing-only probe computed as ONE batch (micro-
    batch boundaries are an execution detail)."""
    import hds_functions_spark.registry_ext  # noqa: F401
    from pyspark.sql import functions as F

    from hds_functions_spark.operators.multimodal import image_signatures
    from hds_functions_spark.registry import QUERIES
    from hds_functions_spark.registry_ext12 import _image_corpus
    from hds_functions_spark.registry_ext13 import (
        _SMI_BATCH_MOD,
        _SMI_BATCH_RESIDUES,
    )

    sf = "/root/testdata/sf0.001"
    streamed = {
        r["img_id"]: r["verdict"]
        for r in QUERIES["streaming_image_ingest"](spark, sf).collect()
    }
    _, corpus = _image_corpus(spark, sf)
    sig = image_signatures(corpus).filter(F.col("pixel_md5").isNotNull())
    is_batch = F.col("img_id") % _SMI_BATCH_MOD < _SMI_BATCH_RESIDUES
    standing = sig.filter(~is_batch)
    st_canon = standing.groupBy("pixel_md5").agg(F.min("img_id").alias("_c"))
    st_ph = (
        standing.join(st_canon, on="pixel_md5")
        .filter(F.col("img_id") == F.col("_c"))
        .select("phash_hi", "phash_lo").distinct()
        .withColumn("_ph", F.lit(True))
    )
    batch = (
        sig.filter(is_batch)
        .join(
            standing.select("pixel_md5").distinct().withColumn(
                "_sk", F.lit(True)
            ),
            on="pixel_md5", how="left",
        )
        .join(st_ph, on=["phash_hi", "phash_lo"], how="left")
    )
    expected = {
        r["img_id"]: (
            "exact_dup_standing" if r["_sk"]
            else "phash_dup_standing" if r["_ph"]
            else "novel"
        )
        for r in batch.collect()
    }
    assert streamed == expected and len(streamed) > 0
    assert len(set(streamed.values())) >= 2  # more than one class fires


def test_audio_dedup_incremental_legs_and_consistency(spark):
    """The continuous-ingest audio twin: verdict counts partition the
    batch clips and every class is reachable (the aud-granular selector
    exists precisely so base/downmix pairs straddle the split)."""
    import hds_functions_spark.registry_ext  # noqa: F401
    from hds_functions_spark.registry import QUERIES

    card = QUERIES["multimodal_audio_dedup_incremental"](
        spark, "/root/testdata/sf0.001"
    ).toPandas()
    assert (
        card["n_exact_dup_standing"]
        + card["n_exact_dup_batch"]
        + card["n_phash_dup"]
        + card["n_novel"]
    ).equals(card["n_batch_clips"])
    for leg in ("n_exact_dup_standing", "n_exact_dup_batch",
                "n_phash_dup", "n_novel"):
        assert int(card[leg].sum()) > 0, leg


def test_multimodal_shards_manifest_consistency(spark):
    """pipeline_multimodal_shards: manifest totals must reconcile with
    the accepted caption pairs, and every shard's sequence count must
    cover its token mass at the budget."""
    import hds_functions_spark.registry_ext  # noqa: F401
    from pyspark.sql import functions as F

    from hds_functions_spark.registry import QUERIES
    from hds_functions_spark.registry_ext13 import (
        _MS_BUDGET,
        _caption_pairs,
    )

    sf = "/root/testdata/sf0.001"
    man = QUERIES["pipeline_multimodal_shards"](spark, sf).toPandas()
    acc = (
        _caption_pairs(spark, sf)
        .filter(F.col("verdict") == "accepted")
        .count()
    )
    assert int(man["n_pairs"].sum()) == acc
    # every shard needs at least ceil(total_tokens / budget) sequences
    # (exactly that when no doc straddles a boundary with slack; always
    # >= because packing never compacts past the budget)
    assert (
        man["n_seqs"] >= (man["total_tokens"] + _MS_BUDGET - 1) // _MS_BUDGET
    ).all()
    assert (man["total_pixel_bytes"] > 0).all()


# --- progressive JPEG (r16) ----------------------------------------------


def test_jpeg_progressive_fixture_exact_and_parse():
    """The SA-progressive DC-exact fixture decodes bit-identically to
    its baseline twin (same pixel protocol), and parse_jpeg reports
    progressive=True with the same dims."""
    from hds_functions_spark.operators.media_codecs import (
        decode_jpeg_baseline,
        decode_jpeg_progressive,
        parse_jpeg,
        synthesize_jpeg,
        synthesize_jpeg_progressive,
    )

    for seed in ("a", "dup-seed", "zz9", "progressive!"):
        base = decode_jpeg_baseline(synthesize_jpeg(seed))
        prog_payload = synthesize_jpeg_progressive(seed)
        prog = decode_jpeg_progressive(prog_payload)
        assert prog == base and prog is not None
        info = parse_jpeg(prog_payload)
        assert info["progressive"] is True
        assert (info["width"], info["height"]) == (prog[0], prog[1])


def test_jpeg_progressive_roundtrip_equals_baseline_property():
    """PROPERTY: for ANY image, dims, component count, qtable and
    successive-approximation depth, progressive encode->decode equals
    baseline encode->decode EXACTLY (both quantize identically; the
    entropy pipelines are lossless) — pins the point transform,
    EOBRUN coding, refinement bit order and EOB-run corrections."""
    from hypothesis import given, settings, strategies as st

    from hds_functions_spark.operators.media_codecs import (
        decode_jpeg,
        decode_jpeg_baseline,
        encode_jpeg_baseline,
        encode_jpeg_progressive,
    )

    @settings(max_examples=20, deadline=None)
    @given(
        w=st.integers(1, 24),
        h=st.integers(1, 24),
        color=st.booleans(),
        al=st.integers(0, 3),
        qscale=st.integers(1, 32),
        seed=st.integers(0, 2**31),
    )
    def check(w, h, color, al, qscale, seed):
        import random

        rng = random.Random(seed)
        nc = 3 if color else 1
        data = bytes(rng.randrange(256) for _ in range(w * h * nc))
        q = [max(1, min(255, qscale + rng.randrange(8))) for _ in range(64)]
        base = decode_jpeg_baseline(encode_jpeg_baseline(w, h, data, nc, q))
        prog = decode_jpeg(encode_jpeg_progressive(w, h, data, nc, q, al=al))
        assert prog is not None and prog == base

    check()


def test_jpeg_progressive_fails_closed():
    from hds_functions_spark.operators.media_codecs import (
        decode_jpeg_progressive,
        synthesize_jpeg_progressive,
    )

    good = synthesize_jpeg_progressive("x")
    assert decode_jpeg_progressive(None) is None
    assert decode_jpeg_progressive(b"") is None
    assert decode_jpeg_progressive(b"notajpeg") is None
    for cut in (len(good) // 3, len(good) // 2, len(good) - 3):
        assert decode_jpeg_progressive(good[:cut]) is None
    # sampling byte 0x11 -> 0x22: subsampled progressive refused
    sof = good.index(b"\xff\xc2")
    sub = bytearray(good)
    sub[sof + 11] = 0x22
    assert decode_jpeg_progressive(bytes(sub)) is None


def test_jpeg_progressive_through_image_surface(spark):
    """image_pixel_data's FFD8 sniff now dispatches on the SOF marker,
    so progressive streams flow through image_content_profile (no more
    undecodable verdicts for real-web progressive JPEGs) with the SAME
    profile as their baseline twins."""
    from pyspark.sql import functions as F  # noqa: F401

    from hds_functions_spark.operators.multimodal import (
        image_content_profile,
        synthesize_media_payloads,
    )

    docs = spark.createDataFrame(
        [(0, "alpha"), (1, "beta"), (2, "gamma")],
        "doc_id long, text string",
    )
    base = {
        r["doc_id"]: (r["width"], r["height"], r["pixel_sum"])
        for r in image_content_profile(
            synthesize_media_payloads(docs, "jpeg")
        ).collect()
    }
    prog = {
        r["doc_id"]: (r["width"], r["height"], r["pixel_sum"])
        for r in image_content_profile(
            synthesize_media_payloads(docs, "jpeg_progressive")
        ).collect()
    }
    assert base == prog
    assert all(v[2] is not None for v in prog.values())


def test_image_corpus_img_pred_pushdown_identity(spark):
    """_image_corpus_of(img_pred=...) must equal filtering the FULL
    corpus on the same img_id predicate, payload bytes included —
    img_id is a pure function of (doc_id, branch variant), so the
    filter commutes with the synthesis."""
    from pyspark.sql import functions as F

    from hds_functions_spark.registry_ext12 import _image_corpus_of

    docs = spark.createDataFrame(
        [(i, f"seed text {i}", "s") for i in range(40)],
        "doc_id long, text string, source string",
    )
    pred = lambda i: i % 13 < 2  # noqa: E731
    a = sorted(
        (r.img_id, bytes(r.payload))
        for r in _image_corpus_of(docs)
        .filter(F.col("img_id") % 13 < 2)
        .collect()
    )
    b = sorted(
        (r.img_id, bytes(r.payload))
        for r in _image_corpus_of(docs, img_pred=pred).collect()
    )
    assert a == b and a
