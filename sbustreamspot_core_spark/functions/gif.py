"""Pure-stdlib GIF87a/GIF89a codec: variable-width LZW + palette frames.

Implemented from the public GIF89a specification (CompuServe, 1990;
Appendix F defines the LZW variant) with nothing but numpy — no image
library ships in this container.  Complements functions/codecs.py (PNG/WAV)
with the same stdlib-only approach.  No engine path calls it; no counterpart in sbustreamspot-core, which is
graph-only.  It stays only until its deletion (ROADMAP).

Decoder subset:
- global + local color tables, interlaced and non-interlaced images,
  sub-rectangle frames composited over the previous canvas, Graphic
  Control transparency, all four disposal methods: 0 (none), 1 (keep),
  2 (restore to background) and 3 (restore to previous).  Anything
  malformed raises GifFormatError.
- animations decode to a (n_frames, height, width, 3) uint8 array of
  fully-composited RGB canvases.

Encoder subset (fixture/test writer): full-frame images over one global
color table built from the frames' distinct colors (<= 256), optional
interlace, optional per-frame delay; always GIF89a with a Graphic Control
Extension per frame.  GIF is lossless for palettized content, so decode
-> encode -> decode round-trips are exact.
"""

from __future__ import annotations

import struct

import numpy as np

_MAX_CODE = 1 << 12          # GIF LZW codes are at most 12 bits

# interlace passes: (row offset, row step) in pass order (GIF89a §20)
_INTERLACE = ((0, 8), (4, 8), (2, 4), (1, 2))


class GifFormatError(ValueError):
    pass


# ----------------------------------------------------------------- LZW

def lzw_decode(data: bytes, min_code_size: int) -> bytearray:
    """GIF-variant LZW (GIF89a Appendix F): variable code width starting at
    ``min_code_size + 1`` bits, LSB-first packing, CLEAR/END control codes,
    dictionary capped at 4096 entries (a full dictionary simply stops
    growing until the next CLEAR — "deferred clear" streams are valid)."""
    if not 2 <= min_code_size <= 8:
        raise GifFormatError(f"bad LZW min code size {min_code_size}")
    clear = 1 << min_code_size
    end = clear + 1

    def fresh():
        return [bytes([i]) for i in range(clear)] + [None, None]

    table = fresh()
    size = min_code_size + 1
    out = bytearray()
    prev: bytes | None = None
    val = 0
    nbits = 0
    for byte in data:
        val |= byte << nbits
        nbits += 8
        while nbits >= size:
            code = val & ((1 << size) - 1)
            val >>= size
            nbits -= size
            if code == clear:
                table = fresh()
                size = min_code_size + 1
                prev = None
                continue
            if code == end:
                return out
            if prev is None:
                if code >= len(table):
                    raise GifFormatError("LZW: first code not a literal")
                entry = table[code]
            elif code < len(table):
                entry = table[code]
            elif code == len(table):
                entry = prev + prev[:1]        # the KwKwK case
            else:
                raise GifFormatError(f"LZW: code {code} beyond table")
            out += entry
            if prev is not None and len(table) < _MAX_CODE:
                table.append(prev + entry[:1])
                if len(table) == (1 << size) and size < 12:
                    size += 1
            prev = entry
    raise GifFormatError("LZW: stream ended without END code")


def lzw_encode(indices: np.ndarray, min_code_size: int) -> bytes:
    """Greedy GIF-LZW compressor (emits CLEAR, codes, END; resets the
    dictionary with a CLEAR when it fills).  Width growth mirrors the
    decoder: the code that creates table entry ``1 << size`` is the last
    one written at ``size`` bits."""
    clear = 1 << min_code_size
    end = clear + 1
    out = bytearray()
    val = 0
    nbits = 0

    def put(code: int, size: int) -> None:
        nonlocal val, nbits
        val |= code << nbits
        nbits += size
        while nbits >= 8:
            out.append(val & 0xFF)
            val >>= 8
            nbits -= 8

    table: dict[bytes, int] = {bytes([i]): i for i in range(clear)}
    next_code = end + 1
    size = min_code_size + 1
    put(clear, size)
    w = b""
    for k in bytes(bytearray(int(i) for i in indices)):
        wk = w + bytes([k])
        if wk in table:
            w = wk
            continue
        put(table[w], size)
        if next_code < _MAX_CODE:
            table[wk] = next_code
            if next_code == (1 << size) and size < 12:
                size += 1
            next_code += 1
        else:
            put(clear, size)
            table = {bytes([i]): i for i in range(clear)}
            next_code = end + 1
            size = min_code_size + 1
        w = bytes([k])
    if w:
        put(table[w], size)
    put(end, size)
    if nbits:
        out.append(val & 0xFF)
    return bytes(out)


# -------------------------------------------------------------- decoder

def _sub_blocks(data: bytes, pos: int) -> tuple[bytes, int]:
    """Concatenate data sub-blocks starting at ``pos``; returns (payload,
    position after the 0x00 terminator)."""
    chunks = []
    while True:
        if pos >= len(data):
            raise GifFormatError("truncated sub-block chain")
        n = data[pos]
        pos += 1
        if n == 0:
            return b"".join(chunks), pos
        if pos + n > len(data):
            raise GifFormatError("truncated sub-block")
        chunks.append(data[pos:pos + n])
        pos += n


def _color_table(data: bytes, pos: int, size_field: int
                 ) -> tuple[np.ndarray, int]:
    n = 2 << size_field                     # 2^(field+1) entries
    if pos + 3 * n > len(data):
        raise GifFormatError("truncated color table")
    table = np.frombuffer(data[pos:pos + 3 * n],
                          dtype=np.uint8).reshape(n, 3).copy()
    return table, pos + 3 * n


def gif_decode(data: bytes) -> np.ndarray:
    """GIF bytes -> uint8 array (n_frames, height, width, 3) of composited
    RGB canvases, one per image block, in stream order."""
    if len(data) < 13 or data[:6] not in (b"GIF87a", b"GIF89a"):
        raise GifFormatError("not a GIF (bad signature)")
    width, height = struct.unpack("<HH", data[6:10])
    packed, bg_index, _aspect = data[10], data[11], data[12]
    pos = 13
    gct = None
    if packed & 0x80:
        gct, pos = _color_table(data, pos, packed & 0x07)
    bg_rgb = (gct[bg_index] if gct is not None and bg_index < len(gct)
              else np.zeros(3, dtype=np.uint8))
    canvas = np.empty((height, width, 3), dtype=np.uint8)
    canvas[:] = bg_rgb
    frames = []
    transparent = None                       # index, from the pending GCE
    disposal = 0
    while True:
        if pos >= len(data):
            raise GifFormatError("missing trailer")
        block = data[pos]
        pos += 1
        if block == 0x3B:                    # trailer
            break
        if block == 0x21:                    # extension
            if pos >= len(data):
                raise GifFormatError("truncated extension")
            label = data[pos]
            pos += 1
            if label == 0xF9:                # Graphic Control Extension
                body, pos = _sub_blocks(data, pos)
                if len(body) < 4:
                    raise GifFormatError("short graphic control block")
                flags = body[0]
                disposal = (flags >> 2) & 0x07
                transparent = body[3] if flags & 0x01 else None
            else:                            # comment / application / text
                _, pos = _sub_blocks(data, pos)
            continue
        if block != 0x2C:
            raise GifFormatError(f"unknown block 0x{block:02x}")
        left, top, w, h = struct.unpack("<HHHH", data[pos:pos + 8])
        flags = data[pos + 8]
        pos += 9
        if left + w > width or top + h > height:
            raise GifFormatError("image rectangle outside logical screen")
        palette = gct
        if flags & 0x80:
            palette, pos = _color_table(data, pos, flags & 0x07)
        if palette is None:
            raise GifFormatError("image without any color table")
        if pos >= len(data):
            raise GifFormatError("missing LZW code size")
        min_code = data[pos]
        pos += 1
        payload, pos = _sub_blocks(data, pos)
        idx = np.frombuffer(bytes(lzw_decode(payload, min_code)),
                            dtype=np.uint8)
        if len(idx) < w * h:
            raise GifFormatError(
                f"LZW data yields {len(idx)} pixels, image needs {w * h}")
        idx = idx[:w * h].reshape(h, w)
        if flags & 0x40:                     # interlaced: undo 4-pass order
            de = np.empty_like(idx)
            row = 0
            for off, step in _INTERLACE:
                n_rows = len(range(off, h, step))
                de[off::step] = idx[row:row + n_rows]
                row += n_rows
            idx = de
        if (idx >= len(palette)).any():
            raise GifFormatError("pixel index beyond color table")
        rect = canvas[top:top + h, left:left + w]
        # disposal 3 restores the canvas to its pre-frame state after the
        # frame is emitted; only the frame's rect can change, so a copy of
        # the rect (taken BEFORE compositing) is the whole snapshot
        prev_rect = rect.copy() if disposal == 3 else None
        rgb = palette[idx]
        if transparent is not None:
            keep = (idx == transparent)[:, :, None]
            rgb = np.where(keep, rect, rgb)
        canvas[top:top + h, left:left + w] = rgb
        frames.append(canvas.copy())
        if disposal == 2:                    # restore rect to background
            canvas[top:top + h, left:left + w] = bg_rgb
        elif disposal == 3:                  # restore to previous
            canvas[top:top + h, left:left + w] = prev_rect
        transparent = None
        disposal = 0
    if not frames:
        raise GifFormatError("GIF contains no image data")
    return np.stack(frames)


# -------------------------------------------------------------- encoder

def gif_encode(frames: np.ndarray, delay_cs: int = 4,
               interlace: bool = False) -> bytes:
    """uint8 array (H, W, 3) or (N, H, W, 3) -> GIF89a bytes.

    All frames share one global color table built from their distinct
    colors; more than 256 distinct colors raises ValueError (this is a
    fixture/test writer, not a quantizer).  Frames are written full-screen
    with disposal 1 (keep), so the decoder's composited canvases equal the
    input frames exactly — GIF is lossless over palettized content."""
    a = np.asarray(frames, dtype=np.uint8)
    if a.ndim == 3:
        a = a[None]
    if a.ndim != 4 or a.shape[3] != 3:
        raise ValueError("frames must be (H, W, 3) or (N, H, W, 3) uint8")
    n, h, w, _ = a.shape
    flat = a.reshape(-1, 3)
    colors, inverse = np.unique(flat, axis=0, return_inverse=True)
    if len(colors) > 256:
        raise ValueError(f"{len(colors)} distinct colors (max 256)")
    size_field = 0
    while (2 << size_field) < len(colors):
        size_field += 1
    n_slots = 2 << size_field
    table = np.zeros((n_slots, 3), dtype=np.uint8)
    table[:len(colors)] = colors
    idx = inverse.reshape(-1).astype(np.uint8).reshape(n, h, w)
    min_code = max(2, size_field + 1)

    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", w, h)
    out += bytes([0x80 | size_field, 0, 0])  # GCT present, bg 0, no aspect
    out += table.tobytes()
    for f in range(n):
        out += bytes([0x21, 0xF9, 4, 0x04,   # GCE: disposal 1, no transparency
                      delay_cs & 0xFF, (delay_cs >> 8) & 0xFF, 0, 0])
        out += bytes([0x2C]) + struct.pack("<HHHH", 0, 0, w, h)
        out += bytes([0x40 if interlace else 0])
        rows = idx[f]
        if interlace:
            rows = np.concatenate([rows[off::step]
                                   for off, step in _INTERLACE])
        out += bytes([min_code])
        body = lzw_encode(rows.reshape(-1), min_code)
        for i in range(0, len(body), 255):
            chunk = body[i:i + 255]
            out += bytes([len(chunk)]) + chunk
        out += b"\x00"
    out += b"\x3B"
    return bytes(out)
