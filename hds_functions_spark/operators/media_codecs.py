"""Media codecs: PPM/BMP image parse+encode, PCM WAV parse+encode.

These back the ``decoder='real'`` paths in :mod:`multimodal`. The hot
inner computations (pixel synthesis, nearest-neighbour gather, RMS, DCT)
are numpy-vectorized; numpy comes with the ``pyspark[sql]`` dependency
(pandas/pyarrow), so there is one code path per codec. Formats covered:

- **PPM** (netpbm): binary ``P6`` and ascii ``P3``, comment- and
  whitespace-tolerant header parsing; nearest-neighbour resize re-encoding
  to ``P6``.
- **BMP**: ``BITMAPINFOHEADER`` (the 40-byte header written by effectively
  every producer), 8/24/32 bpp, top-down or bottom-up.
- **WAV**: RIFF chunk walk (tolerates extra chunks before ``data``),
  PCM16 only, exact integer RMS.
- **MJPEG/AVI**: real RIFF AVI container ('MJPG' fourcc) whose movi
  '00dc' chunks each hold one complete baseline JPEG — container walk
  + per-frame JPEG decode, the compressed-video counterpart of the
  uncompressed y4m path.
- **JPEG** (baseline, ITU-T T.81): full encode+decode — 2-D DCT,
  standard Annex K Huffman tables, DPCM/run-length entropy coding,
  DRI/RSTn restarts, JFIF YCbCr; grayscale and 4:4:4 color (no chroma
  subsampling; progressive returns None). The fixture protocol makes
  the LOSSY codec oracle-exact: constant 8x8 blocks + an all-8s
  quantization table leave only DC coefficients, which q=8 quantizes
  losslessly (see the JPEG section comment).

Also provides deterministic fixture *synthesis* (image/audio payloads
derived from a seed string via md5) whose observable properties —
dimensions, byte sizes, durations, RMS, pixel checksums — are mirrorable
in ANSI SQL, which is what lets the registry run the real codecs under the
DuckDB correctness gate: synthesize -> encode -> parse must land exactly
on the SQL-predicted values.

The synthesis rules are fixed protocol (changing them breaks the oracles):

- ``w = 1 + d0 % 64``, ``h = 1 + d1 % 64`` (``d_i`` = byte i of
  ``md5(seed)``); format = PPM if ``d2`` even else BMP.
- image pixel byte ``j`` (row-major RGB, top-down) = ``(d3 + j) % 256``.
- WAV: rate = ``[8000,16000,22050,44100,48000][d5 % 5]``, channels =
  ``1 + d6 % 2``, frames = ``200 + (d7*256 + d8) % 800``, every sample
  alternates ``+A, -A`` with ``A = d9 * 128`` (so RMS == A exactly and
  ``rms_q8 = A // 128 = d9``).
- y4m video (C444): ``w = 1 + d0 % 32``, ``h = 1 + d1 % 32``, fps =
  ``[10,24,25,30][d4 % 4]``, ``n_frames = 1 + d10 % 6``; byte ``j`` of
  frame ``f`` = ``(d3 + f + j) % 256`` (so per-frame byte sums have an
  O(1) closed form the video oracle computes in SQL).
"""

from __future__ import annotations

import hashlib
import math
import struct
import zlib

import numpy as np

__all__ = [
    "WAV_RATES",
    "Y4M_RATES",
    "synthesize_image",
    "synthesize_ppm",
    "synthesize_bmp",
    "synthesize_png",
    "synthesize_jpeg",
    "synthesize_mjpeg_avi",
    "synthesize_wav",
    "synthesize_wav_tones",
    "wav_wrap_pcm",
    "synthesize_y4m",
    "audio_phash56",
    "audio_phash56_from_pcm",
    "parse_avi",
    "parse_image",
    "parse_jpeg",
    "parse_png",
    "parse_wav",
    "parse_y4m",
    "resize_ppm_nearest",
    "ppm_pixel_data",
    "bmp_pixel_data",
    "png_pixel_data",
    "image_pixel_data",
    "ahash64",
    "ahash64_from_pixels",
    "encode_jpeg_baseline",
    "decode_jpeg_baseline",
    "encode_jpeg_progressive",
    "decode_jpeg_progressive",
    "decode_jpeg",
    "synthesize_jpeg_progressive",
    "avi_jpeg_frames",
]

WAV_RATES = [8000, 16000, 22050, 44100, 48000]


# --- synthesis (deterministic, SQL-mirrorable) ---------------------------

def _dims(seed: str) -> tuple[int, int, bytes]:
    d = hashlib.md5(seed.encode("utf-8")).digest()
    return 1 + d[0] % 64, 1 + d[1] % 64, d


def synthesize_ppm(seed: str) -> bytes:
    """Deterministic P6 image: dims and pixel pattern from md5(seed)."""
    w, h, d = _dims(seed)
    header = b"P6\n" + f"{w} {h}\n".encode() + b"255\n"
    pixels = ((d[3] + np.arange(w * h * 3)) % 256).astype(np.uint8).tobytes()
    return header + pixels


def synthesize_bmp(seed: str) -> bytes:
    """Deterministic 24bpp bottom-up BMP with the same pixel pattern as the
    PPM synth (pattern index is top-down row-major RGB)."""
    w, h, d = _dims(seed)
    stride = (3 * w + 3) // 4 * 4
    data_size = stride * h
    file_header = struct.pack("<2sIHHI", b"BM", 54 + data_size, 0, 0, 54)
    info_header = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, data_size, 2835, 2835, 0, 0
    )
    rgb = ((d[3] + np.arange(h * w * 3)) % 256).astype(np.uint8)
    bgr = rgb.reshape(h, w, 3)[:, :, ::-1]  # BMP stores BGR
    padded = np.zeros((h, stride), dtype=np.uint8)
    padded[:, : 3 * w] = bgr.reshape(h, 3 * w)
    return file_header + info_header + padded[::-1].tobytes()  # bottom-up


def synthesize_image(seed: str) -> bytes:
    """PPM if md5 byte 2 is even, BMP otherwise — exercises format sniffing."""
    d2 = hashlib.md5(seed.encode("utf-8")).digest()[2]
    return synthesize_ppm(seed) if d2 % 2 == 0 else synthesize_bmp(seed)


def synthesize_wav(seed: str) -> bytes:
    """Deterministic PCM16 WAV; every sample is +A/-A alternating per frame
    so the true RMS is exactly A (see module docstring for the rules)."""
    d = hashlib.md5(seed.encode("utf-8")).digest()
    rate = WAV_RATES[d[5] % len(WAV_RATES)]
    channels = 1 + d[6] % 2
    frames = 200 + (d[7] * 256 + d[8]) % 800
    amp = d[9] * 128
    vals = np.where(np.arange(frames) % 2 == 0, amp, -amp)
    data = np.repeat(vals, channels).astype("<i2").tobytes()
    return wav_wrap_pcm(rate, channels, data)


def wav_wrap_pcm(rate: int, channels: int, data: bytes) -> bytes:
    """Wrap raw PCM16 bytes in a canonical 44-byte RIFF/WAVE header —
    the encoder half of :func:`wav_pcm_data`'s walk (used by the
    synthesizers and by re-encode robustness tests)."""
    block_align = channels * 2
    header = struct.pack(
        "<4sI4s4sIHHIIHH4sI",
        b"RIFF",
        36 + len(data),
        b"WAVE",
        b"fmt ",
        16,
        1,  # PCM
        channels,
        rate,
        rate * block_align,
        block_align,
        16,
        b"data",
        len(data),
    )
    return header + data


def synthesize_wav_tones(seed: str) -> bytes:
    """Deterministic PCM16 WAV with RICH content: 8 seed-derived segments,
    each a square tone with its own amplitude (256 + byte*16) and
    half-period (a power of two, 1/2/4/8 samples), both channels carrying
    the same value. Unlike :func:`synthesize_wav` (constant +A/-A — a
    single Nyquist tone, spectrally degenerate), this waveform has
    time-varying energy AND band-varying structure, so a perceptual
    audio hash computed over it is content-discriminative — while every
    sample value stays a closed-form integer function of (md5(seed),
    sample index) that ANSI SQL can replay.

    Protocol (d = md5(seed) bytes): rate = WAV_RATES[d[5] % 5],
    channels = 1 + d[6] % 2, frames = 512 + (d[7]*256 + d[8]) % 512,
    amp[s] = 256 + d[(9+s) % 16] * 16 and half_period[s] =
    1 << (d[(s*2+3) % 16] % 4) for segment s = i*8 // frames; sample
    i is +amp[s] when (i // half_period[s]) % 2 == 0 else -amp[s]."""
    d = hashlib.md5(seed.encode("utf-8")).digest()
    rate = WAV_RATES[d[5] % len(WAV_RATES)]
    channels = 1 + d[6] % 2
    frames = 512 + (d[7] * 256 + d[8]) % 512
    amps = [256 + d[(9 + s) % 16] * 16 for s in range(8)]
    pers = [1 << (d[(s * 2 + 3) % 16] % 4) for s in range(8)]
    i = np.arange(frames)
    seg = i * 8 // frames
    amp = np.asarray(amps, dtype=np.int64)[seg]
    per = np.asarray(pers, dtype=np.int64)[seg]
    vals = np.where((i // per) % 2 == 0, amp, -amp)
    data = np.repeat(vals, channels).astype("<i2").tobytes()
    return wav_wrap_pcm(rate, channels, data)


# --- PNG (real zlib inflate + filter reconstruction) ---------------------

def _png_chunk(ctype: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body))
        + ctype
        + body
        + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
    )


def _png_filter_row(ftype: int, row: bytes, prev: bytes, bpp: int) -> bytes:
    """Apply PNG filter ``ftype`` to a raw scanline (encoder side).
    ``prev`` is the RAW previous scanline (zeros for the first row).

    Unlike the decoder's unfilter (whose Sub/Average/Paeth recurrences
    consume their own OUTPUT and are inherently sequential), the encoder
    predicts from raw neighbour bytes only, so every filter vectorizes:
    shift the row/prev arrays and subtract whole lanes.
    """
    n = len(row)
    if ftype == 0:
        return bytes(row)
    x = np.frombuffer(row, dtype=np.uint8).astype(np.int16)
    b = np.frombuffer(prev, dtype=np.uint8).astype(np.int16)
    a = np.zeros(n, dtype=np.int16)
    a[bpp:] = x[:-bpp]
    if ftype == 1:  # Sub
        pred = a
    elif ftype == 2:  # Up
        pred = b
    elif ftype == 3:  # Average
        pred = (a + b) // 2
    else:  # Paeth
        c = np.zeros(n, dtype=np.int16)
        c[bpp:] = b[:-bpp]
        pa, pb, pc = np.abs(b - c), np.abs(a - c), np.abs(a + b - 2 * c)
        pred = np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))
    return ((x - pred) & 0xFF).astype(np.uint8).tobytes()


def synthesize_png(seed: str) -> bytes:
    """Deterministic 8-bit truecolor PNG with the SAME dims and ramp
    pixel pattern as the PPM/BMP synthesis (``w = 1 + d0 % 64``,
    ``h = 1 + d1 % 64``, pixel byte ``j`` = ``(d3 + j) % 256`` top-down
    row-major RGB) — so every pixel-level oracle (ahash lattice, byte
    sums) carries over unchanged across containers. Each scanline uses
    filter type ``(d4 + row) % 5``, cycling through all five PNG filters
    so a decoder that mis-handles any of Sub/Up/Average/Paeth produces
    wrong pixels and fails the content checks, not just a header test.
    """
    w, h, d = _dims(seed)
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)  # RGB8, no interlace
    stride = 3 * w
    raw = ((d[3] + np.arange(h * stride)) % 256).astype(np.uint8)
    rows = raw.reshape(h, stride)
    filtered = bytearray()
    prev = bytes(stride)
    for y in range(h):
        row = bytes(rows[y])
        ftype = (d[4] + y) % 5
        filtered.append(ftype)
        filtered += _png_filter_row(ftype, row, prev, 3)
        prev = row
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(filtered), 6))
        + _png_chunk(b"IEND", b"")
    )


def _png_unfilter(raw: bytes, w: int, h: int, bpp: int) -> bytes | None:
    """Reverse per-scanline filtering -> raw pixel bytes (decoder side).
    ``raw`` is the inflated IDAT stream: h * (1 + w*bpp) bytes. The
    recurrences are sequential per row, but rows are short (<=64 px in
    the fixtures) and the whole decode runs inside an Arrow batch."""
    stride = w * bpp
    if len(raw) < h * (1 + stride):
        return None
    out = bytearray(h * stride)
    prev = bytes(stride)
    pos = 0
    for y in range(h):
        ftype = raw[pos]
        line = bytearray(raw[pos + 1 : pos + 1 + stride])
        pos += 1 + stride
        # numpy pays off only on real-world-sized rows: at fixture widths
        # (<=192 bytes) array setup costs more than the byte loop saves
        if ftype in (1, 2) and stride >= 1024:
            lv = np.frombuffer(bytes(line), dtype=np.uint8)
            if ftype == 1:
                # Sub's left-neighbour recurrence is a per-lane running
                # sum: cumsum each of the bpp byte lanes mod 256
                lanes = lv.reshape(w, bpp).astype(np.uint64)
                line = bytearray(
                    (lanes.cumsum(axis=0) % 256)
                    .astype(np.uint8)
                    .tobytes()
                )
            else:  # Up: whole-row add of the previous scanline
                pv = np.frombuffer(prev, dtype=np.uint8)
                line = bytearray(
                    ((lv.astype(np.int16) + pv) & 0xFF)
                    .astype(np.uint8)
                    .tobytes()
                )
        elif ftype == 1:  # Sub
            for i in range(bpp, stride):
                line[i] = (line[i] + line[i - bpp]) & 0xFF
        elif ftype == 2:  # Up
            for i in range(stride):
                line[i] = (line[i] + prev[i]) & 0xFF
        elif ftype == 3:  # Average
            for i in range(stride):
                a = line[i - bpp] if i >= bpp else 0
                line[i] = (line[i] + (a + prev[i]) // 2) & 0xFF
        elif ftype == 4:  # Paeth
            for i in range(stride):
                a = line[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                pa, pb, pc = abs(b - c), abs(a - c), abs(a + b - c - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                line[i] = (line[i] + pred) & 0xFF
        elif ftype != 0:
            return None  # unknown filter type: corrupt
        out[y * stride : (y + 1) * stride] = line
        prev = bytes(line)
    return bytes(out)


#: PNG color type -> (mode, samples per pixel); 8-bit depth only.
_PNG_COLOR_TYPES = {0: ("L", 1), 2: ("RGB", 3), 6: ("RGBA", 4)}


def _png_decode(payload: bytes) -> tuple[int, int, str, int, bytes] | None:
    """Full PNG decode -> (w, h, mode, bpp, raw pixel bytes) or None.

    Real decoder: signature + chunk walk with CRC verification, IDAT
    concatenation, zlib inflate, and filter reconstruction. Supports
    8-bit greyscale / truecolor / truecolor+alpha, non-interlaced (the
    overwhelming majority of real-world PNGs; Adam7 and palette/16-bit
    variants are rejected as unsupported, not half-parsed).
    """
    p = bytes(payload)
    if len(p) < 8 or p[:8] != b"\x89PNG\r\n\x1a\n":
        return None
    pos, n = 8, len(p)
    ihdr = None
    idat = bytearray()
    while pos + 12 <= n:
        (length,) = struct.unpack_from(">I", p, pos)
        if pos + 12 + length > n:
            return None  # truncated chunk
        ctype = p[pos + 4 : pos + 8]
        body = p[pos + 8 : pos + 8 + length]
        (crc,) = struct.unpack_from(">I", p, pos + 8 + length)
        if zlib.crc32(ctype + body) & 0xFFFFFFFF != crc:
            return None  # corrupt chunk
        if ctype == b"IHDR":
            ihdr = body
        elif ctype == b"IDAT":
            idat += body
        elif ctype == b"IEND":
            break
        pos += 12 + length
    if ihdr is None or len(ihdr) < 13 or not idat:
        return None
    w, h, depth, color, comp, filt, interlace = struct.unpack(
        ">IIBBBBB", ihdr
    )
    if depth != 8 or comp != 0 or filt != 0 or interlace != 0:
        return None
    mode_bpp = _PNG_COLOR_TYPES.get(color)
    if mode_bpp is None or w <= 0 or h <= 0:
        return None
    mode, bpp = mode_bpp
    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error:
        return None
    pixels = _png_unfilter(raw, w, h, bpp)
    if pixels is None:
        return None
    return w, h, mode, bpp, pixels


def parse_png(payload: bytes | None) -> dict | None:
    """PNG payload -> ``{"width", "height", "mode", "format"}`` via the
    FULL decode (inflate + unfilter — a corrupt body rejects even when
    the header reads clean), or None."""
    if not payload:
        return None
    decoded = _png_decode(payload)
    if decoded is None:
        return None
    w, h, mode, _bpp, _pixels = decoded
    return {"width": w, "height": h, "mode": mode, "format": "png"}


def png_pixel_data(payload: bytes) -> tuple[int, int, bytes] | None:
    """PNG payload -> (width, height, top-down raw RGB bytes), or None.
    Greyscale replicates to RGB; alpha is dropped — same RGB surface as
    the PPM/BMP decoders, so perceptual hashes agree across containers."""
    decoded = _png_decode(bytes(payload))
    if decoded is None:
        return None
    w, h, mode, bpp, pixels = decoded
    if mode == "RGB":
        return w, h, pixels
    px = np.frombuffer(pixels, dtype=np.uint8).reshape(-1, bpp)
    rgb = np.repeat(px, 3, axis=1) if mode == "L" else px[:, :3]
    return w, h, rgb.tobytes()


# --- parsing -------------------------------------------------------------

def _ppm_header(payload: bytes) -> tuple[int, int, int, int] | None:
    """Parse a P6/P3 header -> (width, height, maxval, data_offset).
    Whitespace- and comment-tolerant per the netpbm spec."""
    if len(payload) < 2 or payload[:2] not in (b"P6", b"P3"):
        return None
    pos, fields = 2, []
    n = len(payload)
    while len(fields) < 3 and pos < n:
        c = payload[pos]
        if c in b" \t\r\n":
            pos += 1
        elif c == ord("#"):
            while pos < n and payload[pos] != ord("\n"):
                pos += 1
        elif chr(c).isdigit():
            start = pos
            while pos < n and chr(payload[pos]).isdigit():
                pos += 1
            fields.append(int(payload[start:pos]))
        else:
            return None
    if len(fields) < 3 or pos >= n:
        return None
    return fields[0], fields[1], fields[2], pos + 1  # single ws after maxval


def parse_image(payload: bytes | None) -> dict | None:
    """Sniff + parse a PPM or BMP payload.

    Returns ``{"width", "height", "mode", "format"}`` or None if the payload
    is not a supported image (callers emit a null row — robust-by-default
    for corpus-scale data where some payloads are always corrupt).
    """
    if not payload:
        return None
    p = bytes(payload)
    if p[:2] in (b"P6", b"P3"):
        head = _ppm_header(p)
        if head is None:
            return None
        w, h, maxval, _ = head
        if w <= 0 or h <= 0 or maxval <= 0:
            return None
        return {"width": w, "height": h, "mode": "RGB", "format": "ppm"}
    if p[:2] == b"BM" and len(p) >= 54:
        w, h = struct.unpack_from("<ii", p, 18)
        bpp = struct.unpack_from("<H", p, 28)[0]
        mode = {8: "L", 24: "RGB", 32: "RGBA"}.get(bpp)
        if w <= 0 or h == 0 or mode is None:
            return None
        return {"width": w, "height": abs(h), "mode": mode, "format": "bmp"}
    if p[:8] == b"\x89PNG\r\n\x1a\n":
        return parse_png(p)
    return None


def ppm_pixel_data(payload: bytes) -> tuple[int, int, bytes] | None:
    """P6 payload -> (width, height, raw RGB bytes), or None."""
    p = bytes(payload)
    if p[:2] != b"P6":
        return None
    head = _ppm_header(p)
    if head is None:
        return None
    w, h, _maxval, off = head
    pixels = p[off : off + w * h * 3]
    if len(pixels) < w * h * 3:
        return None
    return w, h, pixels


def resize_ppm_nearest(
    payload: bytes | None, target_w: int, target_h: int
) -> bytes | None:
    """Nearest-neighbour resize of a P6 image, re-encoded as P6.

    ``src = (x * w // W, y * h // H)`` — the floor mapping, mirrorable in
    integer SQL. Returns None for non-P6/corrupt payloads.
    """
    if not payload:
        return None
    parsed = ppm_pixel_data(payload)
    if parsed is None:
        return None
    w, h, pixels = parsed
    header = b"P6\n" + f"{target_w} {target_h}\n".encode() + b"255\n"
    src = np.frombuffer(pixels, dtype=np.uint8)[: w * h * 3].reshape(h, w, 3)
    sy = np.arange(target_h) * h // target_h
    sx = np.arange(target_w) * w // target_w
    return header + src[sy][:, sx].tobytes()


def wav_pcm_data(payload: bytes | None) -> tuple | None:
    """RIFF/WAVE chunk walk -> ``(sample_rate, n_channels, data_bytes)``
    for PCM16 payloads, None for non-WAV/corrupt/unsupported — the
    shared walk under :func:`parse_wav` (features) and
    ``multimodal.audio_signatures`` (content hashing)."""
    if not payload:
        return None
    p = bytes(payload)
    if len(p) < 44 or p[:4] != b"RIFF" or p[8:12] != b"WAVE":
        return None
    pos, n = 12, len(p)
    rate = channels = bits = None
    data = None
    while pos + 8 <= n:
        cid = p[pos : pos + 4]
        size = struct.unpack_from("<I", p, pos + 4)[0]
        body = p[pos + 8 : pos + 8 + size]
        if cid == b"fmt " and size >= 16:
            fmt, channels, rate = struct.unpack_from("<HHI", body, 0)
            bits = struct.unpack_from("<H", body, 14)[0]
            if fmt != 1:  # PCM only
                return None
        elif cid == b"data":
            data = body
        pos += 8 + size + (size % 2)  # chunks are word-aligned
    if rate is None or channels is None or data is None or bits != 16:
        return None
    return rate, channels, data


def parse_wav(payload: bytes | None) -> dict | None:
    """RIFF/WAVE chunk walk -> sample_rate, n_channels, duration_ms, rms_q8.

    PCM16 only; RMS is sqrt(mean(sample^2)) over every sample (all
    channels), rounded then quantised ``// 128`` to 8 bits. Returns None
    for non-WAV/corrupt/unsupported payloads.
    """
    parsed = wav_pcm_data(payload)
    if parsed is None:
        return None
    rate, channels, data = parsed
    usable = len(data) - len(data) % 2
    samples = np.frombuffer(data[:usable], dtype="<i2").astype(np.int64)
    n_samples = len(samples)
    # int64 sum of s^2 is exact up to ~8.6e9 samples (>> any one payload)
    mean_sq = float((samples * samples).sum()) / n_samples if n_samples else 0.0
    n_frames = n_samples // channels if channels else 0
    duration_ms = n_frames * 1000 // rate if rate else 0
    if n_samples:
        rms_q8 = min(255, int(round(math.sqrt(mean_sq))) // 128)
    else:
        rms_q8 = 0
    return {
        "sample_rate": rate,
        "n_channels": channels,
        "duration_ms": duration_ms,
        "rms_q8": rms_q8,
    }


# --- video (YUV4MPEG2 / y4m) ---------------------------------------------

#: Frame rates the y4m synthesizer draws from (F<rate>:1 header tag).
Y4M_RATES = [10, 24, 25, 30]


def synthesize_y4m(seed: str) -> bytes:
    """Deterministic uncompressed YUV4MPEG2 clip (planar C444).

    Protocol (fixed — the video oracle mirrors it in SQL): with ``d_i`` =
    byte i of ``md5(seed)``: ``w = 1 + d0 % 32``, ``h = 1 + d1 % 32``,
    fps = ``Y4M_RATES[d4 % 4]`` (denominator 1), ``n_frames = 1 + d10 %
    6``; byte ``j`` of frame ``f``'s raw C444 plane data (length
    ``3*w*h``) = ``(d3 + f + j) % 256``.
    """
    d = hashlib.md5(seed.encode("utf-8")).digest()
    w, h = 1 + d[0] % 32, 1 + d[1] % 32
    fps = Y4M_RATES[d[4] % len(Y4M_RATES)]
    n_frames = 1 + d[10] % 6
    parts = [f"YUV4MPEG2 W{w} H{h} F{fps}:1 Ip A1:1 C444\n".encode("ascii")]
    frame_len = 3 * w * h
    for f in range(n_frames):
        parts.append(b"FRAME\n")
        parts.append(
            ((d[3] + f + np.arange(frame_len)) % 256).astype(np.uint8).tobytes()
        )
    return b"".join(parts)


def parse_y4m(payload: bytes | None) -> dict | None:
    """Parse a YUV4MPEG2 stream header and index its frames.

    Returns ``{width, height, fps_num, fps_den, colorspace, frame_size,
    n_frames, frame_spans}`` (``frame_spans`` = [(start, end), ...] byte
    offsets of each frame's raw plane data) or ``None`` for non-y4m /
    truncated / unsupported payloads. Tolerates unknown header and
    per-frame parameter tags (the spec allows both). Colorspaces: C444
    (``3*w*h`` bytes/frame), C422 (``2*w*h``), C420* (``w*h*3//2`` — the
    y4m default when the tag is absent), Cmono (``w*h``).
    """
    if not payload:
        return None
    p = bytes(payload)
    if not p.startswith(b"YUV4MPEG2"):
        return None
    nl = p.find(b"\n")
    if nl < 0:
        return None
    w = h = None
    num, den = 25, 1
    cs = b"420jpeg"
    for tag in p[9:nl].split(b" "):
        if not tag:
            continue
        k, v = tag[:1], tag[1:]
        try:
            if k == b"W":
                w = int(v)
            elif k == b"H":
                h = int(v)
            elif k == b"F":
                num, den = (int(x) for x in v.split(b":"))
            elif k == b"C":
                cs = v
        except ValueError:
            return None
    if not w or not h or w < 0 or h < 0 or num <= 0 or den <= 0:
        return None
    if cs.startswith(b"444"):
        frame_size = 3 * w * h
    elif cs.startswith(b"422"):
        frame_size = 2 * w * h
    elif cs.startswith(b"420"):
        frame_size = w * h * 3 // 2
    elif cs.startswith(b"mono"):
        frame_size = w * h
    else:
        return None
    spans = []
    pos, n = nl + 1, len(p)
    while pos < n:
        fnl = p.find(b"\n", pos)
        if fnl < 0 or not p[pos : pos + 5] == b"FRAME":
            return None  # stream corrupt mid-way: reject, don't half-parse
        start = fnl + 1
        if start + frame_size > n:
            return None  # truncated final frame
        spans.append((start, start + frame_size))
        pos = start + frame_size
    if not spans:
        return None
    return {
        "width": w,
        "height": h,
        "fps_num": num,
        "fps_den": den,
        "colorspace": cs.decode("ascii", "replace"),
        "frame_size": frame_size,
        "n_frames": len(spans),
        "frame_spans": spans,
    }


def bmp_pixel_data(payload: bytes) -> tuple[int, int, bytes] | None:
    """24bpp BMP payload -> (width, height, top-down raw RGB bytes), or
    None for anything else. Handles bottom-up (positive height) and
    top-down (negative height) storage and row-stride padding."""
    p = bytes(payload)
    if p[:2] != b"BM" or len(p) < 54:
        return None
    off = struct.unpack_from("<I", p, 10)[0]
    w = struct.unpack_from("<i", p, 18)[0]
    h = struct.unpack_from("<i", p, 22)[0]
    bpp = struct.unpack_from("<H", p, 28)[0]
    if bpp != 24 or w <= 0 or h == 0:
        return None
    top_down = h < 0
    h = abs(h)
    stride = (3 * w + 3) // 4 * 4
    if len(p) < off + stride * h:
        return None
    rows = np.frombuffer(
        p, dtype=np.uint8, count=stride * h, offset=off
    ).reshape(h, stride)
    bgr = rows[:, : 3 * w].reshape(h, w, 3)
    if not top_down:
        bgr = bgr[::-1]
    return w, h, bgr[:, :, ::-1].tobytes()


def image_pixel_data(payload: bytes | None) -> tuple[int, int, bytes] | None:
    """Sniff the container and return (width, height, top-down RGB bytes)
    for P6 PPM or 24bpp BMP payloads; None for anything else."""
    if not payload:
        return None
    p = bytes(payload)
    if p[:2] == b"P6":
        return ppm_pixel_data(p)
    if p[:2] == b"BM":
        return bmp_pixel_data(p)
    if p[:8] == b"\x89PNG\r\n\x1a\n":
        return png_pixel_data(p)
    if p[:2] == b"\xff\xd8":
        return decode_jpeg(p)  # baseline or progressive (r16)
    return None


def ahash64(
    payload: bytes | None, grid: int = 8
) -> tuple[int, int, int, int] | None:
    """Perceptual average-hash of a decodable image: sample a grid x grid
    pixel lattice with the SAME floor mapping as resize_ppm_nearest
    (``src = (i * h // grid, j * w // grid)`` — integer, SQL-mirrorable),
    take per-sample RGB sums, and set bit ``i*grid + j`` when the sample
    is STRICTLY above the grid mean (``s * grid^2 > total``). Identical
    content hashes identically across containers (PPM and BMP decode to
    the same pixels); small pixel edits flip few bits, so Hamming
    distance measures visual similarity.

    Returns (width, height, hash_hi32, hash_lo32) or None if the payload
    is not a decodable image. Split halves keep each value in signed-64
    range for engines without unsigned ints.
    """
    parsed = image_pixel_data(payload)
    if parsed is None:
        return None
    w, h, pixels = parsed
    return ahash64_from_pixels(w, h, pixels, grid)


def ahash64_from_pixels(
    w: int, h: int, pixels: bytes, grid: int = 8
) -> tuple[int, int, int, int]:
    """:func:`ahash64` core over already-decoded top-down RGB bytes —
    lets single-pass audits hash without re-decoding the container."""
    n = grid * grid
    px = (
        np.frombuffer(pixels, dtype=np.uint8)[: w * h * 3]
        .astype(np.int64)
        .reshape(h, w, 3)
    )
    sy = (np.arange(grid) * h) // grid
    sx = (np.arange(grid) * w) // grid
    s = px[sy][:, sx].sum(axis=2).flatten()
    total = int(s.sum())
    val = 0
    for idx in range(n):
        if int(s[idx]) * n > total:
            val |= 1 << idx
    return w, h, (val >> 32) & 0xFFFFFFFF, val & 0xFFFFFFFF



# --- perceptual DCT hash (pHash) ------------------------------------------
#
# Fixed-point integer DCT so the hash is EXACTLY reproducible in any
# SQL engine: the 8x32 cosine table below is precomputed once in
# Python and embedded verbatim into the DuckDB oracle, and every later
# operation (lattice sample, two integer matmuls, strict-mean
# threshold) is pure bigint arithmetic -- no cross-engine cos()/double
# drift anywhere. Magnitude bound: |T| <= 2^14, gray <= 765, 32x32
# lattice -> |C| <= 765 * 2^28 * 1024 < 2^48, comfortably int64.

_PHASH_GRID = 32  # lattice (nearest-neighbour resize target)
_PHASH_KEEP = 8  # low-frequency block kept from the DCT
_PHASH_SCALE = 16384  # 2^14 fixed-point scale for the cosine table


def _phash_cos_table() -> list[list[int]]:
    import math

    return [
        [
            round(
                math.cos(math.pi * (2 * x + 1) * u / (2 * _PHASH_GRID))
                * _PHASH_SCALE
            )
            for x in range(_PHASH_GRID)
        ]
        for u in range(_PHASH_KEEP)
    ]


#: The shared fixed-point DCT basis (8 x 32). The oracle embeds these
#: EXACT integers, so Python round() banker's-rounding quirks are
#: irrelevant -- both sides read the same table.
_PHASH_T = _phash_cos_table()


def phash64_from_pixels(
    w: int, h: int, pixels: bytes
) -> tuple[int, int, int, int]:
    """Perceptual DCT hash over already-decoded top-down RGB bytes:
    sample a 32x32 gray lattice (per-pixel RGB sum, the ahash floor
    mapping), apply the fixed-point integer 2-D DCT, keep the 8x8
    low-frequency block, and set bit ``u*8 + v`` when the coefficient
    is STRICTLY above the mean of the 63 non-DC coefficients
    (``C * 63 > total`` -- integer-exact). Bit 0 (the DC slot) is
    always 0. Near-duplicate content (requantized, lightly edited)
    keeps its low-frequency structure, so Hamming distance over the 63
    bits measures visual similarity far more robustly than ahash;
    rotation is NOT invariant (documented, pinned by test).

    Returns ``(width, height, hash_hi32, hash_lo32)`` -- split halves
    keep each value in signed-64 range for engines without uint64."""
    g_n = _PHASH_GRID
    k = _PHASH_KEEP
    px = (
        np.frombuffer(pixels, dtype=np.uint8)[: w * h * 3]
        .astype(np.int64)
        .reshape(h, w, 3)
    )
    sy = (np.arange(g_n) * h) // g_n
    sx = (np.arange(g_n) * w) // g_n
    g = px[sy][:, sx].sum(axis=2)  # 32x32 gray, int64
    t = np.asarray(_PHASH_T, dtype=np.int64)  # 8x32
    c = t @ g @ t.T  # 8x8 integer DCT block
    coef = [[int(c[u, v]) for v in range(k)] for u in range(k)]
    total = sum(sum(row) for row in coef) - coef[0][0]
    val = 0
    for u in range(k):
        for v in range(k):
            if u == 0 and v == 0:
                continue
            if coef[u][v] * 63 > total:
                val |= 1 << (u * k + v)
    return w, h, (val >> 32) & 0xFFFFFFFF, val & 0xFFFFFFFF


def phash64(payload: bytes | None) -> tuple[int, int, int, int] | None:
    """:func:`phash64_from_pixels` over a decodable image payload, or
    None if the container does not decode (fail closed)."""
    parsed = image_pixel_data(payload)
    if parsed is None:
        return None
    w, h, pixels = parsed
    return phash64_from_pixels(w, h, pixels)


# --- JPEG baseline (ITU-T T.81 / ISO 10918-1) -----------------------------
#
# A numpy-vectorized BASELINE sequential DCT codec — the one compressed
# image class real multimodal corpora actually ship.
# Scope: 8-bit baseline (SOF0) AND progressive (SOF2, r16 — spectral
# selection + successive approximation, T.81 Annex G), grayscale or
# 3-component 4:4:4 (no chroma subsampling), standard JFIF color
# transform, DRI/RSTn restart markers honoured. Subsampled /
# lossless / arithmetic streams return None (documented unsupported,
# never garbage). ``decode_jpeg`` dispatches on the SOF marker.
#
# Fixture synthesis protocol (fixed; the oracles depend on it):
# ``w8 = 1 + d0 % 8`` blocks wide, ``h8 = 1 + d1 % 8`` blocks high
# (d_i = byte i of md5(seed); so dims are 8..64 px multiples of 8);
# GRAYSCALE; block k in raster order is the CONSTANT luma
# ``(d3 + k) % 256``; quantization table all-8s. A constant block has
# only a DC coefficient and q=8 makes the quantized DC the exact
# level-shifted value, so the decode is EXACT despite JPEG being lossy
# — which is what lets a SQL oracle predict pixel_sum closed-form
# while the full entropy-decode/dequantize/IDCT path still runs.

#: zigzag scan: position i of the scan -> natural (row-major) index
_JPEG_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10,
    17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63,
]

#: standard luminance Huffman tables (T.81 Annex K.3) — used by the
#: encoder for every component; the decoder reads whatever DHT the
#: stream carries.
_STD_DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_STD_DC_VALS = list(range(12))
_STD_AC_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_STD_AC_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
    0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
    0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
    0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
    0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
    0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
    0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
    0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
    0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
    0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
    0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
    0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
    0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
]


def _huff_encode_map(bits: list[int], vals: list[int]) -> dict:
    """Canonical Huffman (T.81 C.2): symbol -> (code, length)."""
    out, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


def _huff_decode_map(bits: list[int], vals: list[int]) -> dict:
    """(length, code) -> symbol, for the bit-serial decoder."""
    out, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[(length, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return out


def _dct_basis():
    m = [[0.0] * 8 for _ in range(8)]
    for u in range(8):
        cu = math.sqrt(0.5) if u == 0 else 1.0
        for x in range(8):
            m[u][x] = 0.5 * cu * math.cos((2 * x + 1) * u * math.pi / 16)
    return m


_DCT_M = _dct_basis()


class _JpegBitWriter:
    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, code: int, length: int) -> None:
        if length == 0:
            return
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            b = (self.acc >> (self.n - 8)) & 0xFF
            self.buf.append(b)
            if b == 0xFF:
                self.buf.append(0x00)  # byte stuffing
            self.n -= 8
        self.acc &= (1 << self.n) - 1

    def flush(self) -> None:
        if self.n:
            pad = 8 - self.n
            self.write((1 << pad) - 1, pad)  # pad with 1-bits (spec F.1.2.3)


def _magnitude(v: int) -> tuple[int, int]:
    """JPEG magnitude coding: value -> (category, extra bits)."""
    if v == 0:
        return 0, 0
    s = abs(v).bit_length()
    return (s, v) if v > 0 else (s, v + (1 << s) - 1)


def _jpeg_coefficients(
    w: int, h: int, data: bytes, n_components: int, q: list
) -> tuple:
    """Shared front half of both JPEG encoders: plane extraction
    (level-shifted floats), edge-pad to 8-multiples, 2-D DCT, quantize,
    zigzag gather. Returns ``(zz_all, bw, bh)`` where ``zz_all[c]`` is
    nblocks x 64 quantized zigzag ints in raster block order. Everything
    is batched; only entropy coding is bit-serial."""
    bw, bh = (w + 7) // 8, (h + 7) // 8
    raw = np.frombuffer(bytes(data), dtype=np.uint8).astype(np.float64)
    if n_components == 1:
        chans = [raw.reshape(h, w)]
    else:  # JFIF full-range color transform
        rgb = raw.reshape(h, w, 3)
        r, g, b = rgb[:, :, 0], rgb[:, :, 1], rgb[:, :, 2]
        chans = [
            0.299 * r + 0.587 * g + 0.114 * b,
            128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b,
            128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b,
        ]
    m = np.asarray(_DCT_M)
    qnat = np.asarray(q, dtype=np.float64)
    zz_all = []  # per comp: nblocks x 64 ints
    for ch in chans:
        plane = np.pad(
            ch - 128.0, ((0, bh * 8 - h), (0, bw * 8 - w)), mode="edge"
        )
        blocks = (
            plane.reshape(bh, 8, bw, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8)
        )
        # F[u,v] = sum_{x,y} M[u,x] f[x,y] M[v,y]
        coef = np.einsum("ux,nxy,vy->nuv", m, blocks, m).reshape(-1, 64)
        quant = np.rint(coef / qnat).astype(np.int64)
        zz_all.append(quant[:, _JPEG_ZIGZAG].tolist())
    return zz_all, bw, bh


def _jpeg_encoder_args(
    w: int, h: int, data: bytes, n_components: int, qtable: list[int] | None
) -> list[int]:
    """Validate the arguments both JPEG encoders share; returns the
    natural-order quantization table (default all-16s)."""
    if n_components not in (1, 3):
        raise ValueError("n_components must be 1 or 3")
    q = list(qtable) if qtable is not None else [16] * 64
    if len(q) != 64 or any(not (1 <= int(x) <= 255) for x in q):
        raise ValueError("qtable must be 64 values in [1, 255]")
    if w < 1 or h < 1 or len(data) != w * h * n_components:
        raise ValueError(
            f"data length {len(data)} does not match dims {w}x{h} x "
            f"{n_components} component(s)"
        )
    return q


def _jpeg_seg(marker: int, body: bytes) -> bytes:
    """One marker segment: ``FF marker``, 2-byte length, body."""
    return struct.pack(">BBH", 0xFF, marker, len(body) + 2) + body


def _jpeg_header(
    sof_marker: int, w: int, h: int, n_components: int, q: list[int]
) -> bytearray:
    """SOI, JFIF APP0, DQT id 0 (zigzag order), SOFn with every
    component at 1x1 sampling on table 0, and the standard DC/AC DHT
    pair — the stream prefix both encoders emit."""
    comp_specs = b"".join(
        struct.pack(">BBB", cid + 1, 0x11, 0) for cid in range(n_components)
    )
    out = bytearray(b"\xff\xd8")  # SOI
    out += _jpeg_seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += _jpeg_seg(
        0xDB, bytes([0x00]) + bytes(q[_JPEG_ZIGZAG[i]] for i in range(64))
    )
    out += _jpeg_seg(
        sof_marker, struct.pack(">BHHB", 8, h, w, n_components) + comp_specs
    )
    out += _jpeg_seg(
        0xC4, bytes([0x00]) + bytes(_STD_DC_BITS) + bytes(_STD_DC_VALS)
    )  # DHT DC id 0
    out += _jpeg_seg(
        0xC4, bytes([0x10]) + bytes(_STD_AC_BITS) + bytes(_STD_AC_VALS)
    )  # DHT AC id 0
    return out


def encode_jpeg_baseline(
    w: int,
    h: int,
    data: bytes,
    n_components: int = 1,
    qtable: list[int] | None = None,
    restart_interval: int = 0,
) -> bytes:
    """Minimal BASELINE JPEG encoder: grayscale (``n_components=1``,
    ``data`` = w*h luma bytes) or 4:4:4 color (``n_components=3``,
    ``data`` = top-down RGB triples). One quantization table (natural
    order, default all-16s) and the standard luminance Huffman pair
    shared by every component — valid, universally decodable streams;
    compression ratio is not the point, exercising the REAL bit format
    is. Edge blocks replicate the last row/column (the standard pad).
    """
    q = _jpeg_encoder_args(w, h, data, n_components, qtable)
    zz_all, bw, bh = _jpeg_coefficients(w, h, data, n_components, q)

    dc_map = _huff_encode_map(_STD_DC_BITS, _STD_DC_VALS)
    ac_map = _huff_encode_map(_STD_AC_BITS, _STD_AC_VALS)
    bw_writer = _JpegBitWriter()
    pred = [0] * n_components
    mcu = 0
    for by in range(bh):
        for bx in range(bw):
            if restart_interval and mcu and mcu % restart_interval == 0:
                bw_writer.flush()  # byte-align before the marker
                bw_writer.buf += bytes(
                    (0xFF, 0xD0 + (mcu // restart_interval - 1) % 8)
                )
                pred = [0] * n_components
            mcu += 1
            for c in range(n_components):  # interleaved 4:4:4 MCU
                zz = zz_all[c][by * bw + bx]
                diff = zz[0] - pred[c]
                pred[c] = zz[0]
                s, extra = _magnitude(diff)
                code, length = dc_map[s]
                bw_writer.write(code, length)
                bw_writer.write(extra, s)
                run = 0
                last_nz = max(
                    (i for i in range(1, 64) if zz[i] != 0), default=0
                )
                for i in range(1, last_nz + 1):
                    if zz[i] == 0:
                        run += 1
                        continue
                    while run > 15:
                        code, length = ac_map[0xF0]  # ZRL
                        bw_writer.write(code, length)
                        run -= 16
                    s, extra = _magnitude(zz[i])
                    code, length = ac_map[(run << 4) | s]
                    bw_writer.write(code, length)
                    bw_writer.write(extra, s)
                    run = 0
                if last_nz < 63:
                    code, length = ac_map[0x00]  # EOB
                    bw_writer.write(code, length)
    bw_writer.flush()

    out = _jpeg_header(0xC0, w, h, n_components, q)  # SOF0
    if restart_interval:
        out += _jpeg_seg(0xDD, struct.pack(">H", restart_interval))  # DRI
    scan_specs = b"".join(
        struct.pack(">BB", cid + 1, 0x00) for cid in range(n_components)
    )
    out += _jpeg_seg(
        0xDA,
        bytes([n_components]) + scan_specs + b"\x00\x3f\x00",
    )  # SOS
    out += bw_writer.buf
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def encode_jpeg_progressive(
    w: int,
    h: int,
    data: bytes,
    n_components: int = 1,
    qtable: list[int] | None = None,
    al: int = 1,
) -> bytes:
    """Minimal PROGRESSIVE JPEG encoder (SOF2) — T.81 Annex G.

    Same pixel front half as :func:`encode_jpeg_baseline`
    (:func:`_jpeg_coefficients`), then a fixed scan script:

    - ``al=0``: spectral selection only — DC scan (all components,
      interleaved), then per component AC bands 1-5 and 6-63.
    - ``al>=1`` (default 1): successive approximation — the same
      script at bit position ``al`` first, then a DC refinement scan
      and per-component AC refinement scans down to bit 0. This is the
      shape real web encoders emit (libjpeg's default progression uses
      both spectral selection AND successive approximation), so the
      decoder's refinement paths get exercised by roundtrip tests.

    Entropy coding is written as the exact inverse of the decoder's
    walk (correction bits interleave positionally with ZRL/run codes in
    refinement scans — G.1.2.3); EOB runs are emitted per block
    (EOBRUN=1), which the standard AC table covers. Deterministic,
    valid, universally decodable; compression ratio is not the point.
    """
    q = _jpeg_encoder_args(w, h, data, n_components, qtable)
    if not (0 <= al <= 10):
        raise ValueError("al must be in [0, 10]")
    zz_all, bw, bh = _jpeg_coefficients(w, h, data, n_components, q)
    nblocks = bw * bh
    dc_map = _huff_encode_map(_STD_DC_BITS, _STD_DC_VALS)
    ac_map = _huff_encode_map(_STD_AC_BITS, _STD_AC_VALS)

    def sos(comp_ids: list[int], ss: int, se: int, ah: int, a_l: int,
            scan_bits: "_JpegBitWriter") -> bytes:
        specs = b"".join(
            struct.pack(">BB", cid + 1, 0x00) for cid in comp_ids
        )
        hdr = _jpeg_seg(
            0xDA,
            bytes([len(comp_ids)]) + specs
            + bytes([ss, se, (ah << 4) | a_l]),
        )
        scan_bits.flush()
        return hdr + scan_bits.buf

    def dc_first_scan(a_l: int) -> bytes:
        wtr = _JpegBitWriter()
        pred = [0] * n_components
        for b in range(nblocks):
            for c in range(n_components):
                v = zz_all[c][b][0] >> a_l  # arithmetic shift (G.1.2.1)
                diff = v - pred[c]
                pred[c] = v
                s, extra = _magnitude(diff)
                code, length = dc_map[s]
                wtr.write(code, length)
                wtr.write(extra, s)
        return sos(list(range(n_components)), 0, 0, 0, a_l, wtr)

    def dc_refine_scan(a_l: int) -> bytes:
        wtr = _JpegBitWriter()
        for b in range(nblocks):
            for c in range(n_components):
                wtr.write((zz_all[c][b][0] >> a_l) & 1, 1)
        return sos(list(range(n_components)), 0, 0, a_l + 1, a_l, wtr)

    def ac_first_scan(c: int, ss: int, se: int, a_l: int) -> bytes:
        wtr = _JpegBitWriter()
        for b in range(nblocks):
            zz = zz_all[c][b]
            # point transform: magnitude shift, truncation toward zero
            vals = [
                (abs(zz[k]) >> a_l) * (1 if zz[k] >= 0 else -1)
                for k in range(ss, se + 1)
            ]
            last_nz = max(
                (i for i, v in enumerate(vals) if v != 0), default=-1
            )
            run = 0
            for i in range(last_nz + 1):
                if vals[i] == 0:
                    run += 1
                    continue
                while run > 15:
                    code, length = ac_map[0xF0]  # ZRL
                    wtr.write(code, length)
                    run -= 16
                s, extra = _magnitude(vals[i])
                code, length = ac_map[(run << 4) | s]
                wtr.write(code, length)
                wtr.write(extra, s)
                run = 0
            if last_nz < se - ss:
                code, length = ac_map[0x00]  # EOB (EOBRUN = 1)
                wtr.write(code, length)
        return sos([c], ss, se, 0, a_l, wtr)

    def ac_refine_scan(c: int, ss: int, se: int, a_l: int) -> bytes:
        # exact inverse of the decoder's G.1.2.3 walk: runs count
        # ZERO-HISTORY positions only; history coefficients contribute
        # one buffered correction bit each, flushed after the code
        # whose walk traverses them.
        wtr = _JpegBitWriter()
        for b in range(nblocks):
            zz = zz_all[c][b]
            t = [abs(zz[k]) >> a_l for k in range(ss, se + 1)]
            news = [i for i, v in enumerate(t) if v == 1]
            pos = 0

            def emit_corrections(lo: int, hi: int) -> None:
                for i in range(lo, hi):
                    if t[i] > 1:
                        wtr.write(t[i] & 1, 1)

            for kn in news:
                zcount = sum(
                    1 for i in range(pos, kn) if t[i] == 0
                )
                while zcount > 15:
                    code, length = ac_map[0xF0]  # ZRL: 16 zero-history
                    wtr.write(code, length)
                    # decoder consumes up to & incl. the 16th
                    # zero-history position, reading corrections en
                    # route — replicate its stop position exactly
                    seen = 0
                    j = pos
                    while True:
                        if t[j] == 0:
                            seen += 1
                            if seen == 16:
                                break
                        j += 1
                    emit_corrections(pos, j + 1)
                    pos = j + 1
                    zcount -= 16
                code, length = ac_map[(zcount << 4) | 1]
                wtr.write(code, length)
                wtr.write(1 if zz[ss + kn] > 0 else 0, 1)
                emit_corrections(pos, kn)
                pos = kn + 1
            if pos <= se - ss:
                code, length = ac_map[0x00]  # EOB (EOBRUN = 1)
                wtr.write(code, length)
                emit_corrections(pos, se - ss + 1)
        return sos([c], ss, se, a_l + 1, a_l, wtr)

    out = _jpeg_header(0xC2, w, h, n_components, q)  # SOF2
    bands = [(1, 5), (6, 63)]
    out += dc_first_scan(al)
    for c in range(n_components):
        for ss, se in bands:
            out += ac_first_scan(c, ss, se, al)
    for a_l in range(al - 1, -1, -1):
        out += dc_refine_scan(a_l)
        for c in range(n_components):
            for ss, se in bands:
                out += ac_refine_scan(c, ss, se, a_l)
    out += b"\xff\xd9"
    return bytes(out)


def _block_ramp(w8: int, h8: int, start: int) -> bytes:
    """Grayscale ``8*w8 x 8*h8`` plane whose 8x8 block k (raster order)
    is the constant luma ``(start + k) % 256`` — the DC-exact content of
    every JPEG fixture."""
    k = np.arange(h8 * w8).reshape(h8, w8)
    blocks = ((start + k) % 256).astype(np.uint8)
    return np.repeat(np.repeat(blocks, 8, axis=0), 8, axis=1).tobytes()


def synthesize_jpeg(seed: str) -> bytes:
    """Deterministic DC-exact JPEG fixture (protocol in the section
    comment above): grayscale, 1..8 blocks per side, block k constant
    luma ``(d3 + k) % 256``, qtable all-8s — the decode is EXACT, so
    the oracle predicts pixel_sum closed-form while the full baseline
    bitstream path (Huffman, DPCM, dequantize, IDCT) runs for real."""
    d = hashlib.md5(seed.encode()).digest()
    w8, h8 = 1 + d[0] % 8, 1 + d[1] % 8
    gray = _block_ramp(w8, h8, d[3])
    return encode_jpeg_baseline(8 * w8, 8 * h8, gray, 1, [8] * 64)


def synthesize_jpeg_progressive(seed: str) -> bytes:
    """Deterministic DC-exact PROGRESSIVE JPEG fixture: the
    :func:`synthesize_jpeg` pixel protocol (same dims/content/qtable,
    so the same closed-form oracle applies) emitted through the SOF2
    successive-approximation scan script (``al=1``) — every refinement
    path in :func:`decode_jpeg_progressive` runs for real."""
    d = hashlib.md5(seed.encode()).digest()
    w8, h8 = 1 + d[0] % 8, 1 + d[1] % 8
    gray = _block_ramp(w8, h8, d[3])
    return encode_jpeg_progressive(8 * w8, 8 * h8, gray, 1, [8] * 64, al=1)


class _JpegBitReader:
    """Bit-serial reader over entropy-coded data with 0xFF00 unstuffing.
    Stops at any real marker; RSTn consumption is explicit via
    :meth:`restart`."""

    def __init__(self, data: bytes, pos: int):
        self.d = data
        self.pos = pos
        self.acc = 0
        self.n = 0

    def _fill(self) -> bool:
        while self.n < 25:
            if self.pos >= len(self.d):
                return self.n > 0
            b = self.d[self.pos]
            if b == 0xFF:
                if self.pos + 1 < len(self.d) and self.d[self.pos + 1] == 0x00:
                    self.pos += 2  # stuffed FF
                else:
                    return self.n > 0  # real marker: stop feeding
            else:
                self.pos += 1
            self.acc = (self.acc << 8) | b
            self.n += 8
        return True

    def bits(self, k: int) -> int | None:
        if k == 0:
            return 0
        if self.n < k and not self._fill():
            return None
        if self.n < k:
            return None
        self.n -= k
        v = (self.acc >> self.n) & ((1 << k) - 1)
        self.acc &= (1 << self.n) - 1
        return v

    def huff(self, table: dict) -> int | None:
        code = 0
        for length in range(1, 17):
            b = self.bits(1)
            if b is None:
                return None
            code = (code << 1) | b
            sym = table.get((length, code))
            if sym is not None:
                return sym
        return None

    def restart(self) -> bool:
        """Byte-align and consume an RSTn marker (True on success)."""
        self.acc, self.n = 0, 0
        if (
            self.pos + 1 < len(self.d)
            and self.d[self.pos] == 0xFF
            and 0xD0 <= self.d[self.pos + 1] <= 0xD7
        ):
            self.pos += 2
            return True
        return False


def _extend(v: int, s: int) -> int:
    """Inverse magnitude coding (T.81 F.2.2.1 EXTEND)."""
    return v if v >= (1 << (s - 1)) else v - (1 << s) + 1


def _jpeg_parse_dqt(body: bytes) -> dict[int, list[int]] | None:
    """DQT segment body (possibly several tables, 8- or 16-bit) ->
    ``{table_id: 64 values in zigzag order, as stored}``; None when a
    table runs past the body."""
    tables = {}
    j = 0
    while j < len(body):
        prec, tid = body[j] >> 4, body[j] & 0x0F
        j += 1
        if prec == 0:
            if j + 64 > len(body):
                return None
            tables[tid] = list(body[j : j + 64])
            j += 64
        else:
            if j + 128 > len(body):
                return None
            tables[tid] = [
                struct.unpack(">H", body[j + 2 * k : j + 2 * k + 2])[0]
                for k in range(64)
            ]
            j += 128
    return tables


def _jpeg_parse_dht(body: bytes) -> dict[tuple[int, int], dict] | None:
    """DHT segment body (possibly several tables) -> ``{(class, id):
    decode map}``; None when a table's symbol list runs past the body.
    A trailing fragment shorter than one table header is ignored."""
    tables = {}
    j = 0
    while j + 17 <= len(body):
        cls, tid = body[j] >> 4, body[j] & 0x0F
        bits = list(body[j + 1 : j + 17])
        n = sum(bits)
        vals = list(body[j + 17 : j + 17 + n])
        if len(vals) != n:
            return None
        tables[(cls, tid)] = _huff_decode_map(bits, vals)
        j += 17 + n
    return tables


def _jpeg_parse_sof(body: bytes) -> tuple[int, int, list] | None:
    """SOFn segment body -> ``(w, h, [(comp_id, qtable_id)])``; None for
    a short body, zero dims, a component count other than 1 or 3, or
    any sampling factor other than 1x1 (subsampling is unsupported, so
    it fails closed)."""
    if len(body) < 6:
        return None
    h, w = struct.unpack(">HH", body[1:5])
    nc = body[5]
    if nc not in (1, 3) or w == 0 or h == 0:
        return None
    if len(body) < 6 + 3 * nc:
        return None
    comps = []
    for c in range(nc):
        cid, samp, qid = body[6 + 3 * c : 9 + 3 * c]
        if samp != 0x11:
            return None
        comps.append((cid, qid))
    return w, h, comps


def parse_jpeg(payload: bytes | None) -> dict | None:
    """Metadata-only JPEG walk: dims/components/process from the first
    SOFn. Returns ``{width, height, n_components, progressive}`` or
    None if the payload is not a JPEG."""
    if not payload:
        return None
    p = bytes(payload)
    if p[:2] != b"\xff\xd8":
        return None
    i = 2
    while i + 3 < len(p):
        if p[i] != 0xFF:
            return None
        m = p[i + 1]
        if m in (0xD8, 0x01) or 0xD0 <= m <= 0xD7:
            i += 2
            continue
        if m == 0xD9:
            break
        if i + 4 > len(p):
            return None
        ln = struct.unpack(">H", p[i + 2 : i + 4])[0]
        if ln < 2 or i + 2 + ln > len(p):
            return None  # segment claims bytes past payload end
        if m in (0xC0, 0xC1, 0xC2):
            if i + 10 > len(p):
                return None
            h, w = struct.unpack(">HH", p[i + 5 : i + 9])
            return {
                "width": w,
                "height": h,
                "n_components": p[i + 9],
                "progressive": m == 0xC2,
            }
        i += 2 + ln
    return None


def decode_jpeg_progressive(
    payload: bytes | None,
) -> tuple[int, int, bytes] | None:
    """Decode a PROGRESSIVE (SOF2) JPEG to ``(width, height, top-down
    RGB bytes)`` — T.81 Annex G, the full successive-approximation
    machinery: multi-scan marker walk (DQT/DHT/DRI may be redefined
    between scans), interleaved DC first + refinement scans
    (arithmetic-shift point transform, one correction bit per block),
    per-component AC first scans (EOBRUN run coding) and AC refinement
    scans (zero-history runs, positionally-interleaved correction
    bits, EOB-run corrections — G.1.2.3), then the shared
    dequantize/IDCT/color back half (:func:`_jpeg_reconstruct`).
    Same fail-closed contract as the baseline decoder: returns None
    (never garbage) for chroma-subsampled streams, arithmetic coding,
    >3 components, scans violating the progression rules (AC before
    DC, refinement without a first scan, bad Ss/Se/Ah/Al), or any
    structural/entropy corruption.
    """
    if not payload:
        return None
    p = bytes(payload)
    if p[:2] != b"\xff\xd8":
        return None
    qtables: dict[int, list[int]] = {}
    huff: dict[tuple[int, int], dict] = {}
    sof = None  # (w, h, [(comp_id, qid)])
    restart_interval = 0
    coeffs: list[list[list[int]]] | None = None  # [comp][block][64] zigzag
    dc_done: set[int] = set()
    bw_ = bh_ = 0
    i = 2
    saw_scan = False
    while i + 1 < len(p):
        if p[i] != 0xFF:
            return None
        m = p[i + 1]
        if m in (0xD8, 0x01) or 0xD0 <= m <= 0xD7:
            i += 2
            continue
        if m == 0xD9:
            break
        if i + 4 > len(p):
            return None
        ln = struct.unpack(">H", p[i + 2 : i + 4])[0]
        if ln < 2 or i + 2 + ln > len(p):
            return None
        body = p[i + 4 : i + 2 + ln]
        if m == 0xDB:
            tables = _jpeg_parse_dqt(body)
            if tables is None:
                return None
            qtables.update(tables)
        elif m == 0xC4:
            tables = _jpeg_parse_dht(body)
            if tables is None:
                return None
            huff.update(tables)
        elif m == 0xC2:
            if sof is not None:
                return None  # a second SOF
            sof = _jpeg_parse_sof(body)
            if sof is None:
                return None
            w_, h_, comps = sof
            bw_, bh_ = (w_ + 7) // 8, (h_ + 7) // 8
            coeffs = [
                [[0] * 64 for _ in range(bw_ * bh_)] for _ in comps
            ]
        elif m in (0xC0, 0xC1, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA,
                   0xCB, 0xCD, 0xCE, 0xCF):
            return None  # not progressive-Huffman: wrong entry point
        elif m == 0xDD:
            if len(body) < 2:
                return None
            restart_interval = struct.unpack(">H", body[:2])[0]
        elif m == 0xDA:
            if sof is None or coeffs is None or not body:
                return None
            w_, h_, comps = sof
            cidx = {cid: c for c, (cid, _q) in enumerate(comps)}
            ns = body[0]
            if len(body) != 1 + 2 * ns + 3 or ns < 1 or ns > len(comps):
                return None
            scan_comps = []  # component indices in scan order
            tsel = {}
            for c in range(ns):
                cid, tt = body[1 + 2 * c], body[2 + 2 * c]
                if cid not in cidx:
                    return None
                scan_comps.append(cidx[cid])
                tsel[cidx[cid]] = (tt >> 4, tt & 0x0F)
            ss, se = body[1 + 2 * ns], body[2 + 2 * ns]
            ahal = body[3 + 2 * ns]
            ah, a_l = ahal >> 4, ahal & 0x0F
            if a_l > 13 or (ah and ah != a_l + 1):
                return None
            start = i + 2 + ln
            reader = _JpegBitReader(p, start)
            if ss == 0:  # DC scan (se must be 0)
                if se != 0:
                    return None
                if ah == 0:
                    for c in scan_comps:
                        if (0, tsel[c][0]) not in huff:
                            return None
                ok = _jpeg_dc_scan(
                    reader, coeffs, scan_comps, tsel, huff, ah, a_l,
                    restart_interval, bw_ * bh_,
                )
                if not ok:
                    return None
                dc_done.update(scan_comps)
            else:  # AC scan: single component, DC first scan required
                if ns != 1 or not (1 <= ss <= se <= 63):
                    return None
                c = scan_comps[0]
                if c not in dc_done:
                    return None
                if ah == 0 and (1, tsel[c][1]) not in huff:
                    return None
                if ah and (1, tsel[c][1]) not in huff:
                    return None
                ok = _jpeg_ac_scan(
                    reader, coeffs[c], huff.get((1, tsel[c][1])),
                    ss, se, ah, a_l, restart_interval,
                )
                if not ok:
                    return None
            saw_scan = True
            # resync: find the next true marker after the entropy data
            j = reader.pos
            while j + 1 < len(p):
                if (
                    p[j] == 0xFF
                    and p[j + 1] != 0x00
                    and not (0xD0 <= p[j + 1] <= 0xD7)
                ):
                    break
                j += 1
            i = j
            continue
        i += 2 + ln
    if sof is None or coeffs is None or not saw_scan:
        return None
    w_, h_, comps = sof
    if any(c not in dc_done for c in range(len(comps))):
        return None  # never received DC data for some component
    for _cid, qid in comps:
        if qid not in qtables:
            return None
    return _jpeg_reconstruct(
        w_, h_, [qtables[qid] for _, qid in comps], coeffs, bw_, bh_
    )


def _jpeg_dc_scan(
    reader, coeffs, scan_comps, tsel, huff, ah, a_l,
    restart_interval, nunits,
) -> bool:
    """Progressive DC scan: first (``ah==0``, DPCM at bit position
    ``a_l``) or refinement (one bit per block, OR-ed into bit ``a_l`` —
    two's complement, matching the arithmetic-shift point transform)."""
    pred = {c: 0 for c in scan_comps}
    for u in range(nunits):
        if restart_interval and u and u % restart_interval == 0:
            if not reader.restart():
                return False
            pred = {c: 0 for c in scan_comps}
        for c in scan_comps:
            blk = coeffs[c][u]
            if ah == 0:
                s = reader.huff(huff[(0, tsel[c][0])])
                if s is None or s > 15:
                    return False
                bits_v = reader.bits(s)
                if bits_v is None:
                    return False
                pred[c] += _extend(bits_v, s) if s else 0
                blk[0] = pred[c] << a_l
            else:
                b = reader.bits(1)
                if b is None:
                    return False
                if b:
                    blk[0] |= 1 << a_l
    return True


def _jpeg_ac_scan(
    reader, blocks, ac_tab, ss, se, ah, a_l, restart_interval
) -> bool:
    """Progressive AC scan over one component's blocks (zigzag band
    ``ss..se``): first scans decode EOBRUN-coded runs of the
    point-transformed values; refinement scans walk zero-history runs,
    reading positionally-interleaved correction bits (G.1.2.3)."""
    if ac_tab is None:
        return False
    p1 = 1 << a_l
    m1 = -p1
    eobrun = 0
    for u in range(len(blocks)):
        if restart_interval and u and u % restart_interval == 0:
            if not reader.restart():
                return False
            eobrun = 0
        blk = blocks[u]
        if ah == 0:  # first scan for this band/bit position
            if eobrun > 0:
                eobrun -= 1
                continue
            k = ss
            while k <= se:
                rs = reader.huff(ac_tab)
                if rs is None:
                    return False
                r, s = rs >> 4, rs & 0x0F
                if s:
                    k += r
                    if k > se:
                        return False
                    bits_v = reader.bits(s)
                    if bits_v is None:
                        return False
                    blk[k] = _extend(bits_v, s) * p1
                    k += 1
                else:
                    if r < 15:
                        eobrun = (1 << r) - 1
                        if r:
                            eb = reader.bits(r)
                            if eb is None:
                                return False
                            eobrun += eb
                        break
                    k += 16  # ZRL
        else:  # refinement
            k = ss
            if eobrun == 0:
                while k <= se:
                    rs = reader.huff(ac_tab)
                    if rs is None:
                        return False
                    r, s = rs >> 4, rs & 0x0F
                    newval = 0
                    if s == 0:
                        if r < 15:
                            eobrun = 1 << r
                            if r:
                                eb = reader.bits(r)
                                if eb is None:
                                    return False
                                eobrun += eb
                            break
                        # ZRL: skip 16 zero-history coefficients
                    else:
                        if s != 1:
                            return False
                        b = reader.bits(1)
                        if b is None:
                            return False
                        newval = p1 if b else m1
                    while k <= se:
                        if blk[k] != 0:
                            b = reader.bits(1)
                            if b is None:
                                return False
                            if b and (blk[k] & p1) == 0:
                                blk[k] += p1 if blk[k] >= 0 else m1
                        else:
                            if r == 0:
                                break
                            r -= 1
                        k += 1
                    if newval:
                        if k > se:
                            return False
                        blk[k] = newval
                    k += 1
            if eobrun > 0:
                while k <= se:
                    if blk[k] != 0:
                        b = reader.bits(1)
                        if b is None:
                            return False
                        if b and (blk[k] & p1) == 0:
                            blk[k] += p1 if blk[k] >= 0 else m1
                    k += 1
                eobrun -= 1
    return eobrun == 0


def decode_jpeg(payload: bytes | None) -> tuple[int, int, bytes] | None:
    """Decode a JPEG still — baseline OR progressive — to ``(width,
    height, top-down RGB bytes)``; the image-curation entry point
    (r16: real-web progressive streams no longer land in the
    ``undecodable`` verdict bucket). Dispatches on the SOF marker:
    SOF0/SOF1 -> :func:`decode_jpeg_baseline`, SOF2 ->
    :func:`decode_jpeg_progressive`; None for anything else
    (lossless/arithmetic/subsampled — fail closed, never garbage)."""
    info = parse_jpeg(payload)
    if info is None:
        return None
    if info["progressive"]:
        return decode_jpeg_progressive(payload)
    return decode_jpeg_baseline(payload)


def _jpeg_reconstruct(
    w: int,
    h: int,
    qs: list,
    blocks: list,
    bw_: int,
    bh_: int,
) -> tuple[int, int, bytes]:
    """Shared back half of both JPEG decoders: per-component dequantize
    (``qs[c]`` = zigzag-order table), inverse zigzag, batch 2-D IDCT,
    level shift, plane crop, JFIF color transform. ``blocks[c]`` =
    zigzag-order coefficient lists, raster block order."""
    m = np.asarray(_DCT_M)
    planes = []
    for zz, q in zip(blocks, qs):
        zzq = np.asarray(zz, dtype=np.float64) * np.asarray(q, dtype=np.float64)
        coef = np.empty_like(zzq)
        coef[:, _JPEG_ZIGZAG] = zzq  # zigzag -> natural scatter
        # f_xy = sum_{u,v} M[u,x] * F[u,v] * M[v,y]  (= M^T F M)
        px = np.einsum("ux,nuv,vy->nxy", m, coef.reshape(-1, 8, 8), m)
        plane = (
            px.reshape(bh_, bw_, 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(bh_ * 8, bw_ * 8)
        )
        planes.append(plane[:h, :w] + 128.0)

    if len(planes) == 1:
        g = np.clip(np.rint(planes[0]), 0, 255).astype(np.uint8)
        rgb = np.repeat(g[:, :, None], 3, axis=2)
    else:
        y, cb, cr = planes
        r = y + 1.402 * (cr - 128.0)
        g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
        b = y + 1.772 * (cb - 128.0)
        rgb = np.stack(
            [np.clip(np.rint(ch), 0, 255).astype(np.uint8) for ch in (r, g, b)],
            axis=2,
        )
    return w, h, rgb.tobytes()


def decode_jpeg_baseline(payload: bytes | None) -> tuple[int, int, bytes] | None:
    """Decode a BASELINE (SOF0/SOF1) JPEG to ``(width, height, top-down
    RGB bytes)`` — grayscale expanded to RGB. Full pipeline: marker
    walk, DQT (8/16-bit), DHT canonical-code build, interleaved scan
    entropy decode (DPCM DC, run-length AC, ZRL/EOB), DRI/RSTn restart
    handling, dequantize, 2-D IDCT, level shift + clamp, JFIF
    YCbCr->RGB. Returns None (never garbage) for: progressive streams,
    chroma-subsampled streams (sampling factors != 1x1), arithmetic
    coding, >2 components, or any structural corruption.
    """
    if not payload:
        return None
    p = bytes(payload)
    if p[:2] != b"\xff\xd8":
        return None
    qtables: dict[int, list[int]] = {}
    huff: dict[tuple[int, int], dict] = {}  # (class, id) -> decode map
    sof = None  # (w, h, [(comp_id, qtable_id)])
    restart_interval = 0
    i = 2
    scan = None
    while i + 3 < len(p):
        if p[i] != 0xFF:
            return None
        m = p[i + 1]
        if m in (0xD8, 0x01) or 0xD0 <= m <= 0xD7:
            i += 2
            continue
        if m == 0xD9:
            break
        if i + 4 > len(p):
            return None
        ln = struct.unpack(">H", p[i + 2 : i + 4])[0]
        if ln < 2 or i + 2 + ln > len(p):
            return None  # truncated segment: structural corruption
        body = p[i + 4 : i + 2 + ln]
        if m == 0xDB:  # DQT
            tables = _jpeg_parse_dqt(body)
            if tables is None:
                return None
            qtables.update(tables)
        elif m == 0xC4:  # DHT
            tables = _jpeg_parse_dht(body)
            if tables is None:
                return None
            huff.update(tables)
        elif m in (0xC0, 0xC1):  # baseline / extended sequential Huffman
            sof = _jpeg_parse_sof(body)
            if sof is None:
                return None
        elif m in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            return None  # progressive/lossless/arithmetic: unsupported
        elif m == 0xDD:  # DRI
            if len(body) < 2:
                return None
            restart_interval = struct.unpack(">H", body[:2])[0]
        elif m == 0xDA:  # SOS
            if sof is None or not body:
                return None
            ns = body[0]
            if ns != len(sof[2]) or len(body) < 1 + 2 * ns:
                return None
            tsel = {}
            for c in range(ns):
                cid, tt = body[1 + 2 * c], body[2 + 2 * c]
                tsel[cid] = (tt >> 4, tt & 0x0F)
            scan = (i + 2 + ln, tsel)
            break
        i += 2 + ln
    if sof is None or scan is None:
        return None
    w, h, comps = sof
    start, tsel = scan
    nc = len(comps)
    for cid, _qid in comps:
        if cid not in tsel:
            return None
        dci, aci = tsel[cid]
        if (0, dci) not in huff or (1, aci) not in huff:
            return None
    for _cid, qid in comps:
        if qid not in qtables:
            return None

    bw_, bh_ = (w + 7) // 8, (h + 7) // 8
    reader = _JpegBitReader(p, start)
    pred = [0] * nc
    # decoded coefficient blocks per component, raster order
    blocks: list[list[list[float]]] = [[] for _ in range(nc)]
    mcu = 0
    for _by in range(bh_):
        for _bx in range(bw_):
            if restart_interval and mcu and mcu % restart_interval == 0:
                if not reader.restart():
                    return None
                pred = [0] * nc
            for c in range(nc):
                cid, qid = comps[c]
                dc_tab = huff[(0, tsel[cid][0])]
                ac_tab = huff[(1, tsel[cid][1])]
                q = qtables[qid]
                zz = [0] * 64
                s = reader.huff(dc_tab)
                if s is None or s > 15:
                    return None
                bits_v = reader.bits(s)
                if bits_v is None:
                    return None
                pred[c] += _extend(bits_v, s) if s else 0
                zz[0] = pred[c]
                k = 1
                while k < 64:
                    rs = reader.huff(ac_tab)
                    if rs is None:
                        return None
                    r, s = rs >> 4, rs & 0x0F
                    if s == 0:
                        if r == 15:  # ZRL
                            k += 16
                            continue
                        break  # EOB
                    k += r
                    if k > 63:
                        return None
                    bits_v = reader.bits(s)
                    if bits_v is None:
                        return None
                    zz[k] = _extend(bits_v, s)
                    k += 1
                blocks[c].append(zz)  # dequantized in batch below
            mcu += 1

    return _jpeg_reconstruct(
        w, h, [qtables[qid] for _, qid in comps], blocks, bw_, bh_
    )


# --- MJPEG-in-AVI (RIFF container + per-frame baseline JPEG) ---------------
#
# The compressed-VIDEO counterpart of the JPEG still path: a real RIFF
# AVI container ('MJPG' fourcc) whose '00dc' movi chunks each hold one
# complete baseline JPEG. Decoding a clip = container walk + N full
# JPEG decodes — the actual shape of frame-sampled video feature
# extraction over a compressed corpus.
#
# Fixture protocol (fixed; the oracle depends on it): with d_i = byte i
# of md5(seed): ``w8 = 1 + d0 % 4`` blocks wide, ``h8 = 1 + d1 % 4``
# blocks high (8..32 px sides), fps = ``Y4M_RATES[d4 % 4]``,
# ``n_frames = 1 + d10 % 6`` (the y4m clip-shape rules); frame f is the
# DC-exact grayscale JPEG whose block k (raster order) is the constant
# luma ``(d3 + f + k) % 256`` — the y4m content ramp lifted to whole
# blocks, so every frame's decode is EXACT and per-frame pixel sums
# have the same split-range closed form.


def synthesize_mjpeg_avi(seed: str) -> bytes:
    """Deterministic MJPEG AVI clip under the protocol above."""
    d = hashlib.md5(seed.encode("utf-8")).digest()
    w8, h8 = 1 + d[0] % 4, 1 + d[1] % 4
    w, h = 8 * w8, 8 * h8
    fps = Y4M_RATES[d[4] % len(Y4M_RATES)]
    n_frames = 1 + d[10] % 6

    frames = [
        encode_jpeg_baseline(w, h, _block_ramp(w8, h8, d[3] + f), 1, [8] * 64)
        for f in range(n_frames)
    ]

    def chunk(fourcc: bytes, body: bytes) -> bytes:
        pad = b"\x00" if len(body) % 2 else b""  # RIFF chunks are even-sized
        return fourcc + struct.pack("<I", len(body)) + body + pad

    def lst(ltype: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", ltype + body)

    avih = struct.pack(
        "<13I",
        1_000_000 // fps,  # dwMicroSecPerFrame (informational; fps in strh)
        0, 0, 0x10,        # maxbytes, padding, flags
        n_frames, 0, 1,    # totalframes, initialframes, streams
        0, w, h,           # suggested bufsize, width, height
        0, 0, 0,           # reserved[0..2]
    ) + b"\x00" * 4  # reserved[3]
    strh = (
        b"vids" + b"MJPG"
        + struct.pack("<10I", 0, 0, 0, 1, fps, 0, n_frames, 0, 0xFFFFFFFF, 0)
        + struct.pack("<4H", 0, 0, w, h)  # rcFrame
    )
    strf = struct.pack(
        "<IiiHH4sIiiII", 40, w, h, 1, 24, b"MJPG", w * h * 3, 0, 0, 0, 0
    )
    hdrl = lst(
        b"hdrl",
        chunk(b"avih", avih)
        + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)),
    )
    movi = lst(b"movi", b"".join(chunk(b"00dc", fr) for fr in frames))
    riff_body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(riff_body)) + riff_body


def parse_avi(payload: bytes | None) -> dict | None:
    """Metadata-only RIFF/AVI walk: ``{width, height, fps, n_frames,
    handler}`` from avih/strh, or None if not an AVI. Declared chunk and
    RIFF sizes are clamped to the actual payload length so a truncated
    or size-corrupted container degrades to partial/None metadata
    instead of raising (fail closed, never abort the Spark task)."""
    if not payload or len(payload) < 24:
        return None
    p = bytes(payload)
    if p[:4] != b"RIFF" or p[8:12] != b"AVI ":
        return None
    meta: dict = {}

    def walk(start: int, end: int) -> None:
        i = start
        while i + 8 <= end:
            fourcc = p[i : i + 4]
            size = struct.unpack("<I", p[i + 4 : i + 8])[0]
            body_start, body_end = i + 8, min(i + 8 + size, end)
            if fourcc == b"LIST":
                walk(body_start + 4, body_end)
            elif fourcc == b"avih" and body_end - body_start >= 40:
                vals = struct.unpack("<10I", p[body_start : body_start + 40])
                meta["n_frames"] = vals[4]
                meta["width"], meta["height"] = vals[8], vals[9]
            elif fourcc == b"strh" and body_end - body_start >= 28:
                if p[body_start : body_start + 4] == b"vids":
                    meta["handler"] = p[body_start + 4 : body_start + 8].decode(
                        "ascii", "replace"
                    )
                    scale, rate = struct.unpack(
                        "<II", p[body_start + 20 : body_start + 28]
                    )
                    # ``fps`` stays integral (Spark profile schemas type it
                    # int); ``fps_exact`` keeps non-integer rates such as
                    # NTSC 30000/1001 = 29.97 un-truncated.
                    meta["fps"] = rate // scale if scale else None
                    meta["fps_exact"] = rate / scale if scale else None
            i = body_start + size + (size % 2)

    walk(12, min(8 + struct.unpack("<I", p[4:8])[0], len(p)))
    return meta if "width" in meta else None


def avi_jpeg_frames(payload: bytes | None) -> list[bytes] | None:
    """Extract the ``00dc`` frame payloads from an MJPEG AVI (each one a
    complete JPEG). None if the container is not an AVI; frames that do
    not start with the JPEG SOI marker are skipped (a torn chunk must
    not reach the JPEG decoder as garbage)."""
    if not payload or len(payload) < 24:
        return None
    p = bytes(payload)
    if p[:4] != b"RIFF" or p[8:12] != b"AVI ":
        return None
    frames: list[bytes] = []

    def walk(start: int, end: int) -> None:
        i = start
        while i + 8 <= end:
            fourcc = p[i : i + 4]
            size = struct.unpack("<I", p[i + 4 : i + 8])[0]
            body_start, body_end = i + 8, min(i + 8 + size, end)
            if fourcc == b"LIST":
                walk(body_start + 4, body_end)
            elif fourcc == b"00dc":
                body = p[body_start:body_end]
                if body[:2] == b"\xff\xd8":
                    frames.append(body)
            i = body_start + size + (size % 2)

    walk(12, min(8 + struct.unpack("<I", p[4:8])[0], len(p)))
    return frames


# --- perceptual audio fingerprint (banded-energy sign hash) ----------------
#
# The audio twin of phash64, same oracle-exactness discipline: every
# quantity is integer arithmetic an ANSI SQL engine replays bit-for-bit.
# Design follows Haitsma & Kalker 2002 ("A Highly Robust Audio
# Fingerprinting System"): the hash bits are the SIGNS of time- and
# band-difference filtered energies, which are invariant to uniform gain
# (energy scales by g^2 everywhere; double-differences keep their sign)
# and to channel count (the mono fold scales all energies by n_ch^2).
# The "bands" are Walsh correlations (square-wave basis, half-period
# 2^b) instead of an FFT filterbank: exact in int64, and square-wave
# content — including the synthesis fixture — projects onto them
# crisply. Magnitude bound: |mono| <= 2 * 32767, so |S| <= 65534 * n
# stays int64-exact to n ~ 1.4e14 samples; the oracle's S^2 stays in
# BIGINT because the fixture's |S| <= 8672 * 1024 < 2^24.

AUD_PHASH_FRAMES = 9  # time segments -> 8 frame-difference rows
AUD_PHASH_BANDS = 8  # Walsh bands -> 7 band-difference columns


def audio_phash56_from_pcm(
    channels: int, data: bytes
) -> tuple[int, int] | None:
    """``(n_frames, hash56)`` from raw PCM16 bytes: fold channels to a
    mono sum (int, no division), split into ``AUD_PHASH_FRAMES`` equal
    time segments (integer boundaries ``k * n // 9``), correlate each
    segment against ``AUD_PHASH_BANDS`` Walsh square waves
    (``w_b(i) = 1 - 2 * ((i >> b) & 1)``, GLOBAL sample index), square
    to energies, and emit the 8 x 7 = 56 sign bits of the
    Haitsma-Kalker double-difference
    ``E[f][b] - E[f][b+1] - E[f-1][b] + E[f-1][b+1]`` (bit set when
    strictly positive — ties deterministically 0 in both engines).
    None when fewer frames than segments (fail closed)."""
    usable = len(data) - len(data) % 2
    nf, nb = AUD_PHASH_FRAMES, AUD_PHASH_BANDS
    if channels < 1:
        return None
    samples = np.frombuffer(data[:usable], dtype="<i2").astype(np.int64)
    n = len(samples) // channels
    if n < nf:
        return None
    mono = samples[: n * channels].reshape(n, channels).sum(axis=1)
    idx = np.arange(n)
    # segment of sample i is i * nf // n; the reduceat boundary is
    # therefore ceil(k * n / nf) — NOT floor, which disagrees with
    # the per-sample formula at fractional boundaries
    bounds = [(k * n + nf - 1) // nf for k in range(nf)]
    s_fb = [
        [int(v) for v in np.add.reduceat(mono * (1 - 2 * ((idx >> b) & 1)), bounds)]
        for b in range(nb)
    ]
    energy = [[s_fb[b][f] ** 2 for b in range(nb)] for f in range(nf)]
    val = 0
    for f in range(1, nf):
        for b in range(nb - 1):
            d2 = (
                energy[f][b]
                - energy[f][b + 1]
                - energy[f - 1][b]
                + energy[f - 1][b + 1]
            )
            if d2 > 0:
                val |= 1 << ((f - 1) * (nb - 1) + b)
    return n, val


def audio_phash56(payload: bytes | None) -> tuple[int, int, int, int] | None:
    """``(sample_rate, n_channels, n_frames, hash56)`` for a PCM16 WAV
    payload through the shared RIFF walk, or None for
    non-WAV/corrupt/too-short payloads (fail closed)."""
    parsed = wav_pcm_data(payload)
    if parsed is None:
        return None
    rate, channels, data = parsed
    hashed = audio_phash56_from_pcm(channels, data)
    if hashed is None:
        return None
    n, val = hashed
    return rate, channels, n, val
