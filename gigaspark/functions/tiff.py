"""Pure-numpy baseline TIFF codec (SURVEY §2.8 C8 — Images.cpp web
formats [U][M]; TIFF 6.0 baseline RGB subset).

Encode: little-endian (II), 8-bit RGB, chunky, one strip, uncompressed.
Decode: II and MM byte orders, 8-bit RGB/RGBA chunky, multiple strips,
compression 1 (none) and 32773 (PackBits).  Whole-array numpy; the only
per-item loop is over strips (bounded by the file's strip count).
"""

from __future__ import annotations

import struct

import numpy as np

# baseline tags
_WIDTH, _HEIGHT, _BPS, _COMP, _PHOTO = 256, 257, 258, 259, 262
_STRIP_OFF, _SPP, _ROWS_PER_STRIP, _STRIP_CNT = 273, 277, 278, 279


def encode_tiff(pix: np.ndarray) -> bytes:
    """8-bit RGB, single uncompressed strip, little-endian."""
    h, w, _ = pix.shape
    data = pix.astype(np.uint8).tobytes()
    # layout: header(8) | BPS values(6) | IFD | data
    bps_off = 8
    ifd_off = bps_off + 6
    n_entries = 9
    data_off = ifd_off + 2 + n_entries * 12 + 4

    def entry(tag, typ, cnt, val):
        return struct.pack("<HHII", tag, typ, cnt, val)

    ifd = struct.pack("<H", n_entries)
    ifd += entry(_WIDTH, 3, 1, w)
    ifd += entry(_HEIGHT, 3, 1, h)
    ifd += entry(_BPS, 3, 3, bps_off)       # [8,8,8] stored before IFD
    ifd += entry(_COMP, 3, 1, 1)
    ifd += entry(_PHOTO, 3, 1, 2)           # RGB
    ifd += entry(_STRIP_OFF, 4, 1, data_off)
    ifd += entry(_SPP, 3, 1, 3)
    ifd += entry(_ROWS_PER_STRIP, 3, 1, h)
    ifd += entry(_STRIP_CNT, 4, 1, len(data))
    ifd += struct.pack("<I", 0)             # next IFD
    return (b"II*\x00" + struct.pack("<I", ifd_off)
            + struct.pack("<HHH", 8, 8, 8) + ifd + data)


def _unpackbits(src: bytes, expect: int) -> bytes:
    """PackBits (Apple RLE) decompression."""
    out = bytearray()
    i, n = 0, len(src)
    while i < n and len(out) < expect:
        b = src[i]
        i += 1
        if b < 128:                     # literal run of b+1 bytes
            out += src[i: i + b + 1]
            i += b + 1
        elif b > 128:                   # repeat next byte 257-b times
            out += src[i: i + 1] * (257 - b)
            i += 1
        # 128 = no-op
    return bytes(out[:expect])


def decode_tiff(data: bytes) -> np.ndarray:
    if data[:2] == b"II":
        e = "<"
    elif data[:2] == b"MM":
        e = ">"
    else:
        raise ValueError("not a TIFF")
    if struct.unpack(e + "H", data[2:4])[0] != 42:
        raise ValueError("bad TIFF magic")
    ifd_off = struct.unpack(e + "I", data[4:8])[0]
    n = struct.unpack(e + "H", data[ifd_off: ifd_off + 2])[0]
    tags: dict[int, tuple[int, int, bytes]] = {}
    for i in range(n):
        off = ifd_off + 2 + i * 12
        tag, typ, cnt = struct.unpack(e + "HHI", data[off: off + 8])
        tags[tag] = (typ, cnt, data[off + 8: off + 12])

    _TYPE = {1: ("B", 1), 3: ("H", 2), 4: ("I", 4)}

    def values(tag, default=None):
        if tag not in tags:
            if default is None:
                raise ValueError(f"missing TIFF tag {tag}")
            return default
        typ, cnt, raw = tags[tag]
        code, size = _TYPE[typ]
        total = size * cnt
        buf = raw[:total] if total <= 4 else data[
            struct.unpack(e + "I", raw)[0]:][:total]
        # a corrupt count must fail here, not size an allocation
        if len(buf) != total:
            raise ValueError(f"TIFF tag {tag} runs past the file")
        return list(struct.unpack(f"{e}{cnt}{code}", buf))

    w, h = values(_WIDTH)[0], values(_HEIGHT)[0]
    spp = values(_SPP, [3])[0]
    comp = values(_COMP, [1])[0]
    bps = values(_BPS, [8] * spp)
    if set(bps) != {8} or spp not in (3, 4):
        raise ValueError(f"unsupported TIFF: bps={bps} spp={spp}")
    if comp not in (1, 32773):
        raise ValueError(f"unsupported TIFF compression {comp}")
    offs = values(_STRIP_OFF)
    cnts = values(_STRIP_CNT)
    rps = values(_ROWS_PER_STRIP, [h])[0]
    raw = bytearray()
    for i, (o, c) in enumerate(zip(offs, cnts)):
        strip = data[o: o + c]
        if comp == 32773:
            rows = min(rps, h - i * rps)
            strip = _unpackbits(strip, rows * w * spp)
        raw += strip
    img = np.frombuffer(bytes(raw), dtype=np.uint8,
                        count=h * w * spp).reshape(h, w, spp)
    return np.ascontiguousarray(img[:, :, :3])
