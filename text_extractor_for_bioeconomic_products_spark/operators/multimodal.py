"""Image payloads as ``binary`` columns with typed metadata, decoded
through ``mapInPandas`` in Arrow batches.

The paper's visual elements are images, tables and charts cut from
document pages.  The codecs here need nothing beyond numpy and the
standard library:

* **BMP** — uncompressed 24-bit BI_RGB bitmaps, read and written with
  ``struct`` + numpy.
* **PNG** — zlib inflate of IDAT and reconstruction of all five scanline
  filters (None/Sub/Up/Average/Paeth), CRC-checked chunks; 8-bit
  truecolor, non-interlaced.
* **JPEG** — baseline sequential: 8×8 DCT as matrix multiplies,
  Annex-K-shaped quantization, canonical Huffman with the tables read
  from the file's own DQT/DHT segments; 4:4:4 only (progressive and
  subsampled files raise).

``decode_media`` raises ``NotImplementedError`` for any other format;
``extract_media_features`` and the image hashes of ``media_dedup``
quarantine such rows as ``valid = false`` instead of failing the batch.
"""

from __future__ import annotations

import hashlib
import struct
import zlib
from typing import Iterator, Tuple

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("kind", T.StringType(), False),
    T.StructField("payload", T.BinaryType(), False),
    T.StructField("meta", T.StructType([
        T.StructField("source", T.StringType(), True),
        T.StructField("mime", T.StringType(), True),
    ]), True),
])


# ---------------------------------------------------------------------------
# BMP
# ---------------------------------------------------------------------------


def encode_bmp(width: int, height: int, pixels: bytes) -> bytes:
    """Encode raw BGR bytes (len = width*height*3, rows top-down) as an
    uncompressed 24-bit BI_RGB BMP (bottom-up rows, 4-byte row padding)."""
    if len(pixels) != width * height * 3:
        raise ValueError("pixels must be width*height*3 bytes")
    row_raw = width * 3
    pad = (-row_raw) % 4
    rows = [
        pixels[r * row_raw:(r + 1) * row_raw] + b"\x00" * pad
        for r in range(height - 1, -1, -1)  # bottom-up storage
    ]
    pixel_array = b"".join(rows)
    info = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(pixel_array),
        2835, 2835, 0, 0,
    )
    header = struct.pack("<2sIHHI", b"BM", 14 + 40 + len(pixel_array), 0, 0, 54)
    return header + info + pixel_array


def decode_bmp(payload: bytes) -> Tuple[int, int, float, np.ndarray]:
    """Parse an uncompressed 24-bit BMP → (width, height, mean_level,
    pixels[h,w,3] top-down).  Real pixel access, not a header echo."""
    if payload[:2] != b"BM":
        raise ValueError("not a BMP")
    data_offset = struct.unpack_from("<I", payload, 10)[0]
    width, height = struct.unpack_from("<ii", payload, 18)
    bpp = struct.unpack_from("<H", payload, 28)[0]
    compression = struct.unpack_from("<I", payload, 30)[0]
    if bpp != 24 or compression != 0:
        raise NotImplementedError("only uncompressed 24-bit BMP supported")
    top_down = height < 0
    height = abs(height)
    row_raw = width * 3
    stride = row_raw + ((-row_raw) % 4)
    arr = np.frombuffer(
        payload, dtype=np.uint8, count=stride * height, offset=data_offset
    ).reshape(height, stride)[:, :row_raw]
    pixels = arr.reshape(height, width, 3)
    if not top_down:
        pixels = pixels[::-1]
    mean_level = round(float(pixels.astype(np.float64).mean()), 4)
    return width, height, mean_level, pixels


# --- PNG (stdlib zlib): IDAT is zlib-deflated scanlines, each prefixed
# by one of 5 filter bytes (None/Sub/Up/Average/Paeth), wrapped in
# CRC-checked chunks; zlib both inflates and CRCs, so the decode below
# reconstructs pixels through the filter algebra.  Scope: 8-bit
# truecolor (color type 2) non-interlaced, the shape the encoder below
# emits; other color types and interlacing raise NotImplementedError.
# Reference analog: `src/core/text_extractor.py:157-245` (real image
# extraction from documents).

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _paeth_vec(a: np.ndarray, b: np.ndarray, c: np.ndarray) -> np.ndarray:
    """Vectorized Paeth predictor (PNG spec §9.4)."""
    p = a + b - c
    pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
    return np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data)) + ctype + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


def encode_png(width: int, height: int, pixels: bytes) -> bytes:
    """Encode raw RGB bytes (len = width*height*3, rows top-down) as an
    8-bit truecolor PNG.  Row r uses filter (r % 5), so any image ≥5
    rows exercises every scanline filter on a decode roundtrip."""
    if len(pixels) != width * height * 3:
        raise ValueError("pixels must be width*height*3 bytes")
    bpp = 3
    raw = np.frombuffer(pixels, np.uint8).reshape(height, width * 3)
    zeros = np.zeros(bpp, np.int64)
    out = bytearray()
    prev = np.zeros(width * 3, np.int64)
    for r in range(height):
        row = raw[r].astype(np.int64)
        left = np.concatenate([zeros, row[:-bpp]]) if width else row
        ul = np.concatenate([zeros, prev[:-bpp]]) if width else prev
        ft = r % 5
        if ft == 0:
            filt = row
        elif ft == 1:  # Sub
            filt = (row - left) % 256
        elif ft == 2:  # Up
            filt = (row - prev) % 256
        elif ft == 3:  # Average
            filt = (row - (left + prev) // 2) % 256
        else:  # Paeth
            filt = (row - _paeth_vec(left, prev, ul)) % 256
        out.append(ft)
        out.extend(filt.astype(np.uint8).tobytes())
        prev = row
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(out), 6))
        + _png_chunk(b"IEND", b"")
    )


# Untrusted-header allocation bound (shared by the PNG/JPEG decoders):
# a crafted IHDR/SOF0 declaring huge dimensions — or a small zlib-bomb
# IDAT — must be rejected BEFORE any dimension-sized allocation, or a
# single malicious row OOMs the mapInPandas worker in a way _safe_decode
# can't contain.  16 MP ≈ 48 MB RGB (PNG) / ≈ 384 MB float64 planes
# (JPEG) per row: comfortably above any synthetic/bench payload, far
# below executor-killing.
_MAX_PIXELS = 16_000_000


def _check_dims(width: int, height: int, fmt: str) -> None:
    if width <= 0 or height <= 0:
        raise ValueError(f"{fmt} declares degenerate dimensions "
                         f"{width}x{height}")
    if width * height > _MAX_PIXELS:
        raise ValueError(
            f"{fmt} declares {width}x{height} "
            f"({width * height} px > {_MAX_PIXELS} cap) — refusing to "
            "allocate from an untrusted header"
        )


def decode_png(payload: bytes) -> Tuple[int, int, float, np.ndarray]:
    """Parse a PNG → (width, height, mean_level, pixels[h,w,3] top-down).
    Real decode: chunk CRCs verified, IDAT inflated with zlib, all five
    scanline filters reconstructed.  8-bit truecolor non-interlaced only;
    other PNG flavors raise NotImplementedError."""
    if payload[:8] != _PNG_SIG:
        raise ValueError("not a PNG")
    pos, ihdr, idat = 8, None, bytearray()
    while pos + 12 <= len(payload):
        (ln,) = struct.unpack_from(">I", payload, pos)
        if pos + 12 + ln > len(payload):
            raise ValueError("truncated PNG chunk")
        ctype = payload[pos + 4:pos + 8]
        data = payload[pos + 8:pos + 8 + ln]
        (crc,) = struct.unpack_from(">I", payload, pos + 8 + ln)
        if zlib.crc32(ctype + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk {ctype!r} CRC mismatch")
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif ctype == b"IDAT":
            idat.extend(data)
        elif ctype == b"IEND":
            break
        pos += 12 + ln
    if ihdr is None:
        raise ValueError("PNG missing IHDR")
    width, height, depth, color_type, _comp, _filt, interlace = ihdr
    if depth != 8 or color_type != 2 or interlace != 0:
        raise NotImplementedError(
            "only 8-bit truecolor non-interlaced PNG is decoded here"
        )
    _check_dims(width, height, "PNG IHDR")
    bpp, stride = 3, width * 3
    expected = (stride + 1) * height
    # bounded inflate: never decompress past expected+1 bytes, so a
    # zlib-bomb IDAT costs O(expected) memory, not O(bomb)
    d = zlib.decompressobj()
    raw = d.decompress(bytes(idat), expected + 1)
    if len(raw) != expected or d.unconsumed_tail:
        raise ValueError("PNG scanline data size mismatch")
    pixels = np.zeros((height, stride), np.uint8)
    prev = np.zeros(stride, np.int64)
    zeros = np.zeros(bpp, np.int64)
    for r in range(height):
        ft = raw[r * (stride + 1)]
        line = np.frombuffer(
            raw, np.uint8, stride, r * (stride + 1) + 1
        ).astype(np.int64)
        if ft == 0:
            recon = line
        elif ft == 2:  # Up: depends only on the prior row — vectorized
            recon = (line + prev) % 256
        elif ft in (1, 3, 4):
            # Sub/Average/Paeth depend on the reconstructed LEFT pixel,
            # so reconstruction is sequential within the row (bounded:
            # synthetic/bench images are small; a production decoder
            # would drop to C here — which is exactly what PIL is)
            recon = np.zeros(stride, np.int64)
            for x in range(stride):
                left = recon[x - bpp] if x >= bpp else 0
                up = prev[x]
                ul = prev[x - bpp] if x >= bpp else 0
                if ft == 1:
                    val = line[x] + left
                elif ft == 3:
                    val = line[x] + (left + up) // 2
                else:
                    p = left + up - ul
                    pa, pb, pc = abs(p - left), abs(p - up), abs(p - ul)
                    pred = left if pa <= pb and pa <= pc else (
                        up if pb <= pc else ul
                    )
                    val = line[x] + pred
                recon[x] = val % 256
        else:
            raise ValueError(f"invalid PNG scanline filter {ft}")
        pixels[r] = recon.astype(np.uint8)
        prev = recon
    px = pixels.reshape(height, width, 3)
    mean_level = round(float(px.astype(np.float64).mean()), 4)
    return width, height, mean_level, px


# --- Baseline JPEG (numpy + stdlib).  Baseline sequential JPEG is:
# RGB→YCbCr, 8×8 DCT (a pair of matrix multiplies), quantization,
# zigzag, and canonical Huffman coding — all expressible with numpy and
# pure Python.  The
# file is SELF-DESCRIBING: the decoder reads its quantization and
# Huffman tables from the DQT/DHT segments, not from constants, so any
# valid table set roundtrips.  Scope: 8-bit baseline (SOF0), 4:4:4
# (no chroma subsampling), no restart markers; progressive/subsampled
# files raise NotImplementedError.  JPEG is lossy by design — the
# roundtrip contract is dimensional exactness + bounded pixel error
# (test-pinned), not byte equality.  Reference analog:
# `src/core/text_extractor.py:157-245` (real image extraction).

_JPEG_QT_LUM = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int64).reshape(8, 8)

_JPEG_QT_CHROM = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.int64).reshape(8, 8)

# canonical Huffman tables (JPEG Annex K shape: BITS = #codes per length
# 1..16, HUFFVAL = symbols in code order) — shipped in DHT, so the
# decoder never assumes them
_DC_LUM_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_DC_LUM_VALS = list(range(12))
_DC_CHROM_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
_DC_CHROM_VALS = list(range(12))
_AC_LUM_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_AC_LUM_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
    0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
    0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
    0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
    0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
    0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
    0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
    0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
    0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]
_AC_CHROM_BITS = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
_AC_CHROM_VALS = [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
    0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
    0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
    0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
    0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
    0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
    0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
    0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
    0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
    0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
    0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
    0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]


def _zigzag_order() -> np.ndarray:
    """(row, col) visit order of the JPEG zigzag scan, derived from the
    rule (not hardcoded): diagonals in order of i+j; odd diagonals walk
    down-left (i ascending), even diagonals walk up-right (j ascending)."""
    cells = sorted(
        ((i, j) for i in range(8) for j in range(8)),
        key=lambda p: (
            p[0] + p[1],
            p[0] if (p[0] + p[1]) % 2 else p[1],
        ),
    )
    return np.array([i * 8 + j for i, j in cells], dtype=np.int64)


_ZIGZAG = _zigzag_order()

# orthonormal 8-point DCT-II basis: dct2(B) = M @ B @ M.T
_DCT_M = np.array([
    [
        (np.sqrt(1 / 8) if k == 0 else 0.5)
        * np.cos((2 * n + 1) * k * np.pi / 16)
        for n in range(8)
    ]
    for k in range(8)
])


def _canonical_codes(bits: list, vals: list) -> dict:
    """symbol -> (code, length) per the canonical JPEG assignment."""
    if sum(bits) != len(vals):
        raise ValueError("BITS/HUFFVAL mismatch")
    codes, code, i = {}, 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[vals[i]] = (code, length)
            code += 1
            i += 1
        code <<= 1
    return codes


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            byte = (self.acc >> (self.nbits - 8)) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:
                self.out.append(0x00)  # byte stuffing
            self.nbits -= 8
            self.acc &= (1 << self.nbits) - 1

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # pad with 1s
        return bytes(self.out)


class _BitReader:
    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0
        self.acc = 0
        self.nbits = 0

    def read_bit(self) -> int:
        if self.nbits == 0:
            if self.pos >= len(self.data):
                raise ValueError("JPEG entropy stream exhausted")
            byte = self.data[self.pos]
            self.pos += 1
            if byte == 0xFF:
                if self.pos >= len(self.data):
                    raise ValueError("JPEG entropy stream exhausted")
                marker = self.data[self.pos]
                self.pos += 1
                if marker != 0x00:
                    raise ValueError("unexpected marker in entropy stream")
            self.acc = byte
            self.nbits = 8
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v


def _extend(v: int, size: int) -> int:
    """JPEG RECEIVE/EXTEND: map `size` magnitude bits to a signed value."""
    if size == 0:
        return 0
    return v if v >= (1 << (size - 1)) else v - (1 << size) + 1


def _mag_bits(v: int) -> tuple[int, int]:
    """signed value -> (size, magnitude bits) per the JPEG convention."""
    size = int(abs(v)).bit_length()
    bits = v if v >= 0 else v + (1 << size) - 1
    return size, bits


def _rgb_to_ycbcr(px: np.ndarray) -> np.ndarray:
    px = px.astype(np.float64)
    r, g, b = px[..., 0], px[..., 1], px[..., 2]
    return np.stack([
        0.299 * r + 0.587 * g + 0.114 * b,
        -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0,
        0.5 * r - 0.418688 * g - 0.081312 * b + 128.0,
    ], axis=-1)


def _ycbcr_to_rgb(ycc: np.ndarray) -> np.ndarray:
    y, cb, cr = ycc[..., 0], ycc[..., 1] - 128.0, ycc[..., 2] - 128.0
    rgb = np.stack([
        y + 1.402 * cr,
        y - 0.344136 * cb - 0.714136 * cr,
        y + 1.772 * cb,
    ], axis=-1)
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


def _seg(marker: int, body: bytes) -> bytes:
    return struct.pack(">HH", marker, len(body) + 2) + body


def encode_jpeg(width: int, height: int, pixels: bytes) -> bytes:
    """Encode raw RGB bytes (len = width*height*3, rows top-down) as a
    baseline sequential JFIF JPEG, 4:4:4 sampling, Annex-K-shaped
    quantization and Huffman tables (both shipped in DQT/DHT)."""
    if len(pixels) != width * height * 3:
        raise ValueError("pixels must be width*height*3 bytes")
    px = np.frombuffer(pixels, np.uint8).reshape(height, width, 3)
    ycc = _rgb_to_ycbcr(px)
    bw, bh = -(-width // 8), -(-height // 8)
    padded = np.empty((bh * 8, bw * 8, 3))
    padded[:height, :width] = ycc
    padded[height:] = padded[height - 1:height]  # edge replication
    padded[:, width:] = padded[:, width - 1:width]

    qts = {0: _JPEG_QT_LUM, 1: _JPEG_QT_CHROM}
    dc_codes = {
        0: _canonical_codes(_DC_LUM_BITS, _DC_LUM_VALS),
        1: _canonical_codes(_DC_CHROM_BITS, _DC_CHROM_VALS),
    }
    ac_codes = {
        0: _canonical_codes(_AC_LUM_BITS, _AC_LUM_VALS),
        1: _canonical_codes(_AC_CHROM_BITS, _AC_CHROM_VALS),
    }
    writer = _BitWriter()
    dc_pred = [0, 0, 0]
    comp_tbl = [0, 1, 1]  # Y uses table 0, Cb/Cr table 1
    for by in range(bh):
        for bx in range(bw):
            for c in range(3):
                t = comp_tbl[c]
                block = padded[by * 8:(by + 1) * 8, bx * 8:(bx + 1) * 8, c]
                coef = _DCT_M @ (block - 128.0) @ _DCT_M.T
                q = np.round(coef / qts[t]).astype(np.int64)
                zz = q.reshape(64)[_ZIGZAG]
                # DC: difference code
                diff = int(zz[0]) - dc_pred[c]
                dc_pred[c] = int(zz[0])
                size, bits = _mag_bits(diff)
                code, ln = dc_codes[t][size]
                writer.write(code, ln)
                if size:
                    writer.write(bits, size)
                # AC: run-length of zeros + magnitude
                run = 0
                last_nz = int(np.max(np.nonzero(zz)[0])) if np.any(zz[1:]) else 0
                for k in range(1, 64):
                    v = int(zz[k])
                    if v == 0 and k > last_nz:
                        code, ln = ac_codes[t][0x00]  # EOB
                        writer.write(code, ln)
                        break
                    if v == 0:
                        run += 1
                        continue
                    while run > 15:
                        code, ln = ac_codes[t][0xF0]  # ZRL
                        writer.write(code, ln)
                        run -= 16
                    size, bits = _mag_bits(v)
                    code, ln = ac_codes[t][(run << 4) | size]
                    writer.write(code, ln)
                    writer.write(bits, size)
                    run = 0
    scan = writer.flush()

    def dqt(tid: int, table: np.ndarray) -> bytes:
        return _seg(0xFFDB, bytes([tid]) + bytes(
            int(x) for x in table.reshape(64)[_ZIGZAG]
        ))

    def dht(cls: int, tid: int, bits: list, vals: list) -> bytes:
        return _seg(0xFFC4, bytes([(cls << 4) | tid]) + bytes(bits) + bytes(vals))

    sof = _seg(0xFFC0, struct.pack(
        ">BHHB", 8, height, width, 3
    ) + bytes([1, 0x11, 0, 2, 0x11, 1, 3, 0x11, 1]))
    sos = _seg(0xFFDA, bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0]))
    app0 = _seg(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    return (
        b"\xff\xd8" + app0
        + dqt(0, _JPEG_QT_LUM) + dqt(1, _JPEG_QT_CHROM)
        + sof
        + dht(0, 0, _DC_LUM_BITS, _DC_LUM_VALS)
        + dht(1, 0, _AC_LUM_BITS, _AC_LUM_VALS)
        + dht(0, 1, _DC_CHROM_BITS, _DC_CHROM_VALS)
        + dht(1, 1, _AC_CHROM_BITS, _AC_CHROM_VALS)
        + sos + scan + b"\xff\xd9"
    )


def decode_jpeg(payload: bytes) -> Tuple[int, int, float, np.ndarray]:
    """Parse a baseline JPEG → (width, height, mean_level, pixels[h,w,3]
    top-down).  Real decode: tables read from DQT/DHT, canonical Huffman
    decoding, dequantize, inverse zigzag, IDCT, YCbCr→RGB.  Baseline
    sequential 4:4:4 only; progressive/subsampled/restart-interval
    files raise NotImplementedError."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG")
    pos = 2
    qts: dict = {}
    huffs: dict = {}  # (class, id) -> {(length, code): symbol}
    sof = None
    scan_comps = None
    scan_start = None
    while pos + 4 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError("JPEG marker desync")
        marker = payload[pos + 1]
        if marker == 0xD9:
            break
        (ln,) = struct.unpack_from(">H", payload, pos + 2)
        body = payload[pos + 4:pos + 2 + ln]
        if marker == 0xDB:  # DQT (possibly several tables)
            b = 0
            while b < len(body):
                prec, tid = body[b] >> 4, body[b] & 0x0F
                if prec != 0:
                    raise NotImplementedError("16-bit DQT unsupported")
                tbl = np.zeros(64, np.int64)
                tbl[_ZIGZAG] = np.frombuffer(body[b + 1:b + 65], np.uint8)
                qts[tid] = tbl.reshape(8, 8)
                b += 65
        elif marker == 0xC4:  # DHT (possibly several tables)
            b = 0
            while b < len(body):
                cls, tid = body[b] >> 4, body[b] & 0x0F
                bits = list(body[b + 1:b + 17])
                n = sum(bits)
                vals = list(body[b + 17:b + 17 + n])
                table = {}
                code, i = 0, 0
                for length in range(1, 17):
                    for _ in range(bits[length - 1]):
                        table[(length, code)] = vals[i]
                        code += 1
                        i += 1
                    code <<= 1
                huffs[(cls, tid)] = table
                b += 17 + n
        elif marker == 0xC0:  # SOF0 baseline
            prec, h, w, nc = struct.unpack_from(">BHHB", body, 0)
            if prec != 8:
                raise NotImplementedError("only 8-bit JPEG")
            if nc != 3:
                # a 1-component (grayscale) file would silently decode
                # green-tinted through the YCbCr math; 4-component
                # (Adobe CMYK) would index past the planes — refuse both
                raise NotImplementedError(
                    "only 3-component (YCbCr) JPEG; grayscale/CMYK "
                    "unsupported"
                )
            _check_dims(w, h, "JPEG SOF0")
            comps = []
            for i in range(nc):
                cid, samp, tq = body[6 + 3 * i:9 + 3 * i]
                if samp != 0x11:
                    raise NotImplementedError(
                        "chroma-subsampled JPEG unsupported (4:4:4 only)"
                    )
                comps.append((cid, tq))
            sof = (w, h, comps)
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
                        0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError("only baseline sequential JPEG (SOF0)")
        elif marker == 0xDD:
            raise NotImplementedError("restart intervals unsupported")
        elif marker == 0xDA:  # SOS — entropy data follows
            nc = body[0]
            scan_comps = [
                (body[1 + 2 * i], body[2 + 2 * i] >> 4, body[2 + 2 * i] & 0x0F)
                for i in range(nc)
            ]
            scan_start = pos + 2 + ln
            break
        pos += 2 + ln
    if sof is None or scan_comps is None:
        raise ValueError("JPEG missing SOF0/SOS")
    w, h, comps = sof
    reader = _BitReader(payload[scan_start:])

    def huff_decode(table: dict) -> int:
        code, length = 0, 0
        while length < 17:
            code = (code << 1) | reader.read_bit()
            length += 1
            sym = table.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("invalid Huffman code in JPEG stream")

    bw, bh = -(-w // 8), -(-h // 8)
    planes = np.zeros((3, bh * 8, bw * 8))
    dc_pred = [0, 0, 0]
    tq_by_comp = {cid: tq for cid, tq in comps}
    for by in range(bh):
        for bx in range(bw):
            for ci, (cid, td, ta) in enumerate(scan_comps):
                qt = qts[tq_by_comp[cid]]
                zz = np.zeros(64, np.int64)
                size = huff_decode(huffs[(0, td)])
                diff = _extend(reader.read_bits(size), size) if size else 0
                dc_pred[ci] += diff
                zz[0] = dc_pred[ci]
                k = 1
                while k < 64:
                    sym = huff_decode(huffs[(1, ta)])
                    if sym == 0x00:  # EOB
                        break
                    run, size = sym >> 4, sym & 0x0F
                    if size == 0 and run == 15:  # ZRL
                        k += 16
                        continue
                    k += run
                    if k > 63:
                        raise ValueError("JPEG AC index overflow")
                    zz[k] = _extend(reader.read_bits(size), size)
                    k += 1
                coef = np.zeros(64, np.float64)
                coef[_ZIGZAG] = zz  # inverse zigzag
                block = _DCT_M.T @ (coef.reshape(8, 8) * qt) @ _DCT_M
                planes[ci, by * 8:(by + 1) * 8, bx * 8:(bx + 1) * 8] = (
                    block + 128.0
                )
    ycc = np.stack([planes[0], planes[1], planes[2]], axis=-1)[:h, :w]
    px = _ycbcr_to_rgb(ycc)
    mean_level = round(float(px.astype(np.float64).mean()), 4)
    return w, h, mean_level, px


# ---------------------------------------------------------------------------
# Synthetic image table (deterministic; real BMP/PNG/JPEG payloads)
# ---------------------------------------------------------------------------


def _noise(seed: int, i: int, n: int) -> bytes:
    """n deterministic bytes from a sha256 chain (no RNG state)."""
    out = bytearray()
    block = hashlib.sha256(f"{seed}:{i}".encode()).digest()
    while len(out) < n:
        out.extend(block)
        block = hashlib.sha256(block).digest()
    return bytes(out[:n])


def synthesize_media(spark: SparkSession, n: int = 300, seed: int = 42) -> DataFrame:
    """Deterministic image table: one noise image per media id
    ``0, 3, 6, … < n``, cycling BMP / PNG / baseline JPEG.  An image's
    size, codec and bytes are functions of ``(seed, media_id)`` alone,
    and the ids keep the stride of the earlier generator that
    interleaved audio and video rows, so a given id names the same image
    in tables either wrote."""
    rows = []
    for i in range(0, n, 3):
        w = 16 + (i * 7) % 48
        h = 16 + (i * 13) % 48
        img_kind = (i // 3) % 3
        if img_kind == 0:
            payload = encode_bmp(w, h, _noise(seed, i, w * h * 3))
            mime = "image/bmp"
        elif img_kind == 1:
            payload = encode_png(w, h, _noise(seed, i, w * h * 3))
            mime = "image/png"
        else:
            payload = encode_jpeg(w, h, _noise(seed, i, w * h * 3))
            mime = "image/jpeg"
        rows.append((i, "image", payload, (f"src{i % 10}", mime)))
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


# ---------------------------------------------------------------------------
# Decode dispatch + feature extraction
# ---------------------------------------------------------------------------

FEATURES_SCHEMA = (
    "media_id long, kind string, n_bytes int, sha256 string, "
    "codec string, width int, height int, mean_level double, valid boolean"
)


def decode_media(payload: bytes) -> Tuple[str, int, int, float]:
    """Dispatch by magic → (codec, width, height, mean_level): BMP, PNG
    and baseline JPEG decode their pixels.  Any other payload raises
    ``NotImplementedError``; the codecs' own errors (truncated data,
    unsupported flavors, oversized headers) propagate as raised."""
    if payload[:2] == b"BM":
        w, h, mean_level, _ = decode_bmp(payload)
        return "bmp", w, h, mean_level
    if payload[:8] == _PNG_SIG:
        w, h, mean_level, _ = decode_png(payload)
        return "png", w, h, mean_level
    if payload[:2] == b"\xff\xd8":
        w, h, mean_level, _ = decode_jpeg(payload)
        return "jpeg", w, h, mean_level
    raise NotImplementedError("not a BMP, PNG or JPEG payload")


def extract_media_features(media: DataFrame) -> DataFrame:
    """mapInPandas feature extraction: per-Arrow-batch iteration, binary
    payloads never leave the executor, output is narrow typed columns.

    At 100 TB: payloads dominate size, so this stage projects them away
    as early as possible; downstream ops see only (id, features).
    """

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            decoded = pdf["payload"].map(_safe_decode)
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "kind": pdf["kind"],
                "n_bytes": pdf["payload"].map(len).astype("int32"),
                "sha256": pdf["payload"].map(
                    lambda b: hashlib.sha256(b).hexdigest()
                ),
                "codec": decoded.map(lambda d: d[0]),
                "width": decoded.map(lambda d: d[1]).astype("int32"),
                "height": decoded.map(lambda d: d[2]).astype("int32"),
                "mean_level": decoded.map(lambda d: d[3]),
                "valid": decoded.map(lambda d: d[4]),
            })

    return media.mapInPandas(op, schema=FEATURES_SCHEMA)


def _safe_decode(payload: bytes):
    try:
        codec, w, h, mean_level = decode_media(payload)
        return (codec, w, h, mean_level, True)
    except Exception:
        # quarantine semantics — row kept, flagged, job never fails
        return (None, 0, 0, None, False)
