"""Pure-stdlib media codecs: PNG (zlib + numpy unfilter) and WAV/PCM.

No third-party image/audio libraries ship in this container, so the real
codec path is implemented from the public specs with nothing but stdlib:

- PNG: W3C PNG spec (RFC 2083) subset — 8-bit depth, color types
  0 (gray), 2 (RGB), 4 (gray+alpha), 6 (RGBA), non-interlaced, all five
  row filters.  Decode is numpy-vectorized per row (Sub via per-phase
  cumsum, Up fully vector; Average/Paeth walk pixels with channel-vector
  steps).  Palette (color type 3) and interlace are out of subset and
  raise NotImplementedError with a clear message.
- WAV: 16-bit PCM via the stdlib ``wave`` module (an independent parser,
  so WAV decode is pinned by a codec we did not write).

No engine path calls these codecs; no counterpart in sbustreamspot-core,
which is graph-only.  They stay only until their deletion (ROADMAP).
"""

from __future__ import annotations

import io
import struct
import wave
import zlib
from binascii import crc32

import numpy as np

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}


class PngFormatError(ValueError):
    pass


def _chunks(data: bytes):
    pos = 8
    while pos + 8 <= len(data):
        (length,) = struct.unpack(">I", data[pos:pos + 4])
        ctype = data[pos + 4:pos + 8]
        # the full chunk (8-byte header + body + 4-byte CRC) must fit —
        # checking body alone would hit struct.error on a CRC truncated
        # mid-field instead of the documented PngFormatError
        if pos + 12 + length > len(data):
            raise PngFormatError("truncated chunk " + ctype.decode("latin1"))
        body = data[pos + 8:pos + 8 + length]
        crc = struct.unpack(">I", data[pos + 8 + length:pos + 12 + length])[0]
        if crc32(ctype + body) & 0xFFFFFFFF != crc:
            raise PngFormatError("bad CRC in " + ctype.decode("latin1"))
        yield ctype, body
        pos += 12 + length
        if ctype == b"IEND":
            return
    raise PngFormatError("missing IEND")


def _paeth(a: np.ndarray, b: np.ndarray, c: np.ndarray) -> np.ndarray:
    # a=left, b=up, c=upper-left; int16 inputs, uint8-range outputs
    p = a + b - c
    pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
    out = np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))
    return out


def png_decode(data: bytes) -> np.ndarray:
    """PNG bytes -> uint8 array (height, width, channels).

    Supported subset: bit depth 8, color types 0/2/4/6, interlace 0.
    Raises PngFormatError on malformed input, NotImplementedError outside
    the subset.
    """
    if not data or not data.startswith(_PNG_SIG):
        raise PngFormatError("not a PNG (bad signature)")
    width = height = None
    channels = 0
    idat = bytearray()
    for ctype, body in _chunks(data):
        if ctype == b"IHDR":
            width, height, depth, ct, comp, filt, inter = struct.unpack(
                ">IIBBBBB", body)
            if depth != 8:
                raise NotImplementedError(f"bit depth {depth} (subset: 8)")
            if ct not in _CHANNELS:
                raise NotImplementedError(
                    f"color type {ct} (subset: 0/2/4/6; no palette)")
            if inter != 0:
                raise NotImplementedError("interlaced PNG not in subset")
            if comp != 0 or filt != 0:
                raise PngFormatError("nonstandard compression/filter method")
            channels = _CHANNELS[ct]
        elif ctype == b"IDAT":
            idat.extend(body)
    if width is None:
        raise PngFormatError("missing IHDR")
    raw = zlib.decompress(bytes(idat))
    stride = width * channels
    if len(raw) != height * (stride + 1):
        raise PngFormatError("IDAT length mismatch")
    scan = np.frombuffer(raw, dtype=np.uint8).reshape(height, stride + 1)
    filters = scan[:, 0]
    rows = scan[:, 1:].astype(np.int16)
    out = np.zeros((height, stride), dtype=np.int16)
    bpp = channels
    for y in range(height):
        f = int(filters[y])
        row = rows[y]
        prev = out[y - 1] if y else np.zeros(stride, dtype=np.int16)
        if f == 0:
            out[y] = row
        elif f == 1:  # Sub: per-phase cumsum is the vectorized scan
            for r in range(bpp):
                out[y, r::bpp] = np.cumsum(row[r::bpp]) & 0xFF
        elif f == 2:  # Up
            out[y] = (row + prev) & 0xFF
        elif f == 3:  # Average — left-dependency: walk pixels, vector channels
            left = np.zeros(bpp, dtype=np.int16)
            for x in range(0, stride, bpp):
                left = (row[x:x + bpp]
                        + ((left + prev[x:x + bpp]) >> 1)) & 0xFF
                out[y, x:x + bpp] = left
        elif f == 4:  # Paeth
            left = np.zeros(bpp, dtype=np.int16)
            ul = np.zeros(bpp, dtype=np.int16)
            for x in range(0, stride, bpp):
                up = prev[x:x + bpp]
                left = (row[x:x + bpp] + _paeth(left, up, ul)) & 0xFF
                out[y, x:x + bpp] = left
                ul = up
        else:
            raise PngFormatError(f"unknown filter type {f}")
    return out.astype(np.uint8).reshape(height, width, channels)


def _filter_row(f: int, row: np.ndarray, prev: np.ndarray,
                bpp: int) -> np.ndarray:
    """Forward-filter one reconstructed row per the PNG spec (encoder side)."""
    r = row.astype(np.int16)
    p = prev.astype(np.int16)
    left = np.concatenate([np.zeros(bpp, dtype=np.int16), r[:-bpp]]) \
        if len(r) > bpp else np.zeros_like(r)
    ulft = np.concatenate([np.zeros(bpp, dtype=np.int16), p[:-bpp]]) \
        if len(p) > bpp else np.zeros_like(p)
    if f == 0:
        out = r
    elif f == 1:
        out = r - left
    elif f == 2:
        out = r - p
    elif f == 3:
        out = r - ((left + p) >> 1)
    elif f == 4:
        out = r - _paeth(left, p, ulft)
    else:
        raise ValueError(f"filter {f}")
    return (out & 0xFF).astype(np.uint8)


def png_encode(arr: np.ndarray, filters=None) -> bytes:
    """uint8 array (H, W) or (H, W, C) with C in {1,2,3,4} -> PNG bytes.

    ``filters``: optional per-row filter types (default all 0); used by
    fixtures/tests to exercise every decoder filter path.
    """
    a = np.asarray(arr, dtype=np.uint8)
    if a.ndim == 2:
        a = a[:, :, None]
    h, w, c = a.shape
    ct = {1: 0, 2: 4, 3: 2, 4: 6}[c]
    if filters is None:
        filters = [0] * h
    flat = a.reshape(h, w * c)
    body = bytearray()
    prev = np.zeros(w * c, dtype=np.uint8)
    for y in range(h):
        body.append(int(filters[y]))
        body.extend(_filter_row(int(filters[y]), flat[y], prev, c).tobytes())
        prev = flat[y]

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (struct.pack(">I", len(data)) + ctype + data
                + struct.pack(">I", crc32(ctype + data) & 0xFFFFFFFF))

    ihdr = struct.pack(">IIBBBBB", w, h, 8, ct, 0, 0, 0)
    return (_PNG_SIG + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(bytes(body), 9))
            + chunk(b"IEND", b""))


# --------------------------------------------------------------------- WAV

def wav_decode(data: bytes) -> tuple[int, np.ndarray]:
    """WAV bytes -> (sample_rate, int16 array (n_frames, channels)).

    Parsing is done by the stdlib ``wave`` module (independent of this
    repo), so decode correctness does not rest on our own writer.
    16-bit PCM only.
    """
    with wave.open(io.BytesIO(data), "rb") as wf:
        if wf.getsampwidth() != 2:
            raise NotImplementedError("only 16-bit PCM WAV in subset")
        n, ch, rate = wf.getnframes(), wf.getnchannels(), wf.getframerate()
        pcm = np.frombuffer(wf.readframes(n), dtype="<i2").reshape(n, ch)
    return rate, pcm


def wav_encode(rate: int, frames: np.ndarray) -> bytes:
    """int16 array (n_frames, channels) -> 16-bit PCM WAV bytes."""
    a = np.asarray(frames, dtype="<i2")
    if a.ndim == 1:
        a = a[:, None]
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(a.shape[1])
        wf.setsampwidth(2)
        wf.setframerate(int(rate))
        wf.writeframes(a.tobytes())
    return buf.getvalue()
