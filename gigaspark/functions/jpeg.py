"""Pure-numpy baseline JPEG (JFIF) encoder/decoder.

Unstubs the ``jpg`` branch of the multimodal layer (SURVEY §2.8 C8,
``Images.cpp`` handles real web formats [U][M]) without PIL/libjpeg —
neither exists in this sandbox (SURVEY §7.4.3).  Written from the public
ITU-T T.81 spec; quantization and Huffman tables are the spec's own
Annex K examples (the universal "standard tables").

Subset (encoder emits exactly this; decoder accepts exactly this and
rejects the rest with ValueError rather than mis-decoding):

  * baseline sequential DCT (SOF0) AND progressive DCT (SOF2) with the
    full T.81 G.1.2 successive-approximation machinery: spectral
    selection, DC/AC point transforms, AC refinement correction bits,
    new-coefficient insertion, ZRL-with-corrections, and cross-block
    EOBn runs (progressive decode is tested bit-identical to baseline
    decode of the same quantized coefficients)
  * 8-bit, 3 components, YCbCr (JFIF)
  * 4:4:4, 4:2:2, AND 4:2:0 chroma (sampling factors 1-2: MCU
    interleave order, per-component MCU-padded coefficient grids,
    non-interleaved progressive scans over the subsampled grids,
    box-average downsample / nearest upsample)
  * no restart markers, no arithmetic coding, no 12-bit

All pixel/DCT/quant math is whole-array numpy; only the entropy coder
walks symbols in Python (bounded: one iteration per nonzero coefficient,
fixtures are ≤128×128).
"""

from __future__ import annotations

import re
import struct

import numpy as np

# a 0xFF followed by anything but the 0x00 stuffing byte inside a scan is
# a marker (we reject RSTs at DRI-parse time, so none are legal here)
_UNSTUFF_RE = re.compile(rb"\xff[^\x00]", re.DOTALL)

# --- Annex K example tables (the de-facto standard tables) -------------------

QUANT_LUMA = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99], dtype=np.int32).reshape(8, 8)

QUANT_CHROMA = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99], dtype=np.int32).reshape(8, 8)

# (bits[1..16], values) per Annex K
DC_LUMA = ([0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
           list(range(12)))
DC_CHROMA = ([0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
             list(range(12)))
AC_LUMA = ([0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D], [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
    0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24, 0x33, 0x62, 0x72,
    0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44, 0x45,
    0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75,
    0x76, 0x77, 0x78, 0x79, 0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA])
AC_CHROMA = ([0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77], [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12, 0x41,
    0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15, 0x62, 0x72, 0xD1,
    0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
    0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44,
    0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74,
    0x75, 0x76, 0x77, 0x78, 0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A,
    0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
    0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
    0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA])

ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63],
    dtype=np.int64)
UNZIGZAG = np.argsort(ZIGZAG)

# orthonormal 8-point DCT-II basis; block DCT = C @ X @ C.T
_k = np.arange(8)
_DCT_C = np.cos((2 * _k[None, :] + 1) * _k[:, None] * np.pi / 16) * 0.5
_DCT_C[0, :] *= 1 / np.sqrt(2)


def _scaled_quant(base: np.ndarray, quality: int) -> np.ndarray:
    quality = min(100, max(1, quality))
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    return np.clip((base * scale + 50) // 100, 1, 255).astype(np.int32)


def _build_codes(bits, values):
    """(bits, values) → {symbol: (code, length)} per T.81 C.2."""
    out, code, i = {}, 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[values[i]] = (code, length)
            code += 1
            i += 1
        code <<= 1
    return out


def _build_decode(bits, values):
    """(bits, values) → {(length, code): symbol}."""
    out, code, i = {}, 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[(length, code)] = values[i]
            code += 1
            i += 1
        code <<= 1
    return out


def _rgb_to_ycbcr(pix: np.ndarray) -> np.ndarray:
    p = pix.astype(np.float64)
    r, g, b = p[..., 0], p[..., 1], p[..., 2]
    return np.stack([
        0.299 * r + 0.587 * g + 0.114 * b,
        128.0 - 0.168735892 * r - 0.331264108 * g + 0.5 * b,
        128.0 + 0.5 * r - 0.418687589 * g - 0.081312411 * b], axis=-1)


def _ycbcr_to_rgb(ycc: np.ndarray) -> np.ndarray:
    y, cb, cr = ycc[..., 0], ycc[..., 1] - 128.0, ycc[..., 2] - 128.0
    rgb = np.stack([
        y + 1.402 * cr,
        y - 0.344136286 * cb - 0.714136286 * cr,
        y + 1.772 * cb], axis=-1)
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


def _geometry(h: int, w: int, samp) -> dict:
    """Sampling-factor geometry (T.81 A.1.1/A.2.4).

    For each component (h_i, v_i): its scaled dims (cw, ch), its
    non-padded block grid (bw, bh) used by non-interleaved scans, and
    its MCU-padded grid (bwp, bhp) that the coefficient arrays use.
    """
    hmax = max(hi for hi, _ in samp)
    vmax = max(vi for _, vi in samp)
    mcux, mcuy = -(-w // (8 * hmax)), -(-h // (8 * vmax))
    comps = []
    for hi, vi in samp:
        cw, ch = -(-(w * hi) // hmax), -(-(h * vi) // vmax)
        comps.append({"hi": hi, "vi": vi, "cw": cw, "ch": ch,
                      "bw": -(-cw // 8), "bh": -(-ch // 8),
                      "bwp": mcux * hi, "bhp": mcuy * vi})
    return {"hmax": hmax, "vmax": vmax, "mcux": mcux, "mcuy": mcuy,
            "comps": comps}


def _subsample(plane: np.ndarray, fh: int, fv: int) -> np.ndarray:
    """Box-average downsample by integer factors (edge-replicated)."""
    if fh == 1 and fv == 1:
        return plane
    h, w = plane.shape
    ph, pw = -(-h // fv) * fv, -(-w // fh) * fh
    p = np.empty((ph, pw), dtype=np.float64)
    p[:h, :w] = plane
    p[h:, :w] = plane[h - 1:h, :]
    p[:, w:] = p[:, w - 1:w]
    return p.reshape(ph // fv, fv, pw // fh, fh).mean(axis=(1, 3))


def _blockify_grid(chan: np.ndarray, bh: int, bw: int) -> np.ndarray:
    """Edge-pad to a GIVEN block grid (the MCU-padded one) and return
    (bh*bw, 8, 8) row-major."""
    h, w = chan.shape
    padded = np.pad(chan, ((0, bh * 8 - h), (0, bw * 8 - w)), mode="edge")
    return padded.reshape(bh, 8, bw, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8)


_SAMP = {"444": ((1, 1), (1, 1), (1, 1)),
         "422": ((2, 1), (1, 1), (1, 1)),
         "420": ((2, 2), (1, 1), (1, 1))}


def _quantized_comp_vecs(pix: np.ndarray, quality: int, samp):
    """RGB → per-component zigzag quantized coefficient arrays over the
    MCU-padded block grids, plus the geometry and quant tables."""
    h, w, _ = pix.shape
    geom = _geometry(h, w, samp)
    qy = _scaled_quant(QUANT_LUMA, quality)
    qc = _scaled_quant(QUANT_CHROMA, quality)
    ycc = _rgb_to_ycbcr(pix)
    vecs = []
    for ci, g in enumerate(geom["comps"]):
        plane = _subsample(ycc[..., ci], geom["hmax"] // g["hi"],
                           geom["vmax"] // g["vi"]) - 128.0
        blocks = _blockify_grid(plane, g["bhp"], g["bwp"])
        coef = _DCT_C @ blocks @ _DCT_C.T
        q = qy if ci == 0 else qc
        vecs.append(np.round(coef / q[None, :, :]).astype(np.int32)
                    .reshape(-1, 64)[:, ZIGZAG])
    return vecs, geom, qy, qc


def _mcu_block_order(geom):
    """Interleaved-scan block indices: per MCU, per component, its
    v_i x h_i blocks (T.81 A.2.3)."""
    order = []
    for my in range(geom["mcuy"]):
        for mx in range(geom["mcux"]):
            for ci, g in enumerate(geom["comps"]):
                for v in range(g["vi"]):
                    for hh in range(g["hi"]):
                        order.append(
                            (ci, (my * g["vi"] + v) * g["bwp"]
                             + mx * g["hi"] + hh))
    return order


def _raster_block_order(g):
    """Non-interleaved scan block indices: the component's NON-padded
    grid in raster order, indexed into its padded array."""
    return [by * g["bwp"] + bx
            for by in range(g["bh"]) for bx in range(g["bw"])]


class _BitWriter:
    """Packs (code, length) symbol pairs; byte-stuffs 0xFF per spec.

    ``write_pairs`` keeps the accumulator in locals — the entropy coder
    emits ~2 symbols per nonzero coefficient, so call/attribute overhead
    here dominates encode time if written naively.
    """

    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write_pairs(self, pairs: list[tuple[int, int]]) -> None:
        acc, nbits, buf = self.acc, self.nbits, self.buf
        for code, length in pairs:
            acc = ((acc << length) | (code & ((1 << length) - 1)))
            nbits += length
            while nbits >= 8:
                nbits -= 8
                byte = (acc >> nbits) & 0xFF
                buf.append(byte)
                if byte == 0xFF:
                    buf.append(0x00)  # byte stuffing
            acc &= (1 << nbits) - 1
        self.acc, self.nbits = acc, nbits

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.write_pairs([((1 << pad) - 1, pad)])  # pad with 1-bits
        return bytes(self.buf)


def _magnitude(v: int) -> tuple[int, int]:
    """value → (category size, raw bits) per T.81 F.1.2.1."""
    if v == 0:
        return 0, 0
    a = abs(v)
    size = a.bit_length()
    bits = v if v > 0 else v + (1 << size) - 1
    return size, bits


def _encode_block(writer, vec, dc_codes, ac_codes, pred):
    """Huffman-encode one quantized block (zigzag coeff vector)."""
    pairs = []
    dc = int(vec[0])
    size, bits = _magnitude(dc - pred)
    pairs.append(dc_codes[size])
    if size:
        pairs.append((bits, size))
    nz = np.nonzero(vec[1:])[0]
    vals = vec[1:][nz]
    last = -1
    for idx, val in zip(nz.tolist(), vals.tolist()):
        run = idx - last - 1
        last = idx
        while run > 15:
            pairs.append(ac_codes[0xF0])  # ZRL
            run -= 16
        size, bits = _magnitude(val)
        pairs.append(ac_codes[(run << 4) | size])
        pairs.append((bits, size))
    if last < 62:
        pairs.append(ac_codes[0x00])  # EOB
    writer.write_pairs(pairs)
    return dc


def _jfif_header(h, w, qy, qc, samp, sof_marker: bytes) -> bytearray:
    out = bytearray(b"\xff\xd8")  # SOI
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    for tid, q in ((0, qy), (1, qc)):
        out += b"\xff\xdb" + struct.pack(">HB", 67, tid)
        out += bytes(q.reshape(64)[ZIGZAG].astype(np.uint8).tolist())
    out += sof_marker + struct.pack(">HBHHB", 17, 8, h, w, 3)
    for ci, (cid, tq) in enumerate(((1, 0), (2, 1), (3, 1))):
        hi, vi = samp[ci]
        out += struct.pack("BBB", cid, (hi << 4) | vi, tq)
    return out


def encode_jpeg(pix: np.ndarray, quality: int = 95,
                subsample: str = "444") -> bytes:
    """RGB uint8 (h, w, 3) → baseline JFIF bytes (Annex K tables;
    subsample: '444', '422', or '420' chroma)."""
    h, w, _ = pix.shape
    samp = _SAMP[subsample]
    comp_vecs, geom, qy, qc = _quantized_comp_vecs(pix, quality, samp)

    out = _jfif_header(h, w, qy, qc, samp, b"\xff\xc0")
    for tc_th, (bits, values) in ((0x00, DC_LUMA), (0x01, DC_CHROMA),
                                  (0x10, AC_LUMA), (0x11, AC_CHROMA)):
        body = bytes([tc_th]) + bytes(bits) + bytes(values)
        out += b"\xff\xc4" + struct.pack(">H", len(body) + 2) + body
    out += b"\xff\xda" + struct.pack(">HB", 12, 3)
    for cid, tables in ((1, 0x00), (2, 0x11), (3, 0x11)):
        out += struct.pack("BB", cid, tables)
    out += b"\x00\x3f\x00"  # Ss=0 Se=63 AhAl=0

    dc_y, ac_y = _build_codes(*DC_LUMA), _build_codes(*AC_LUMA)
    dc_c, ac_c = _build_codes(*DC_CHROMA), _build_codes(*AC_CHROMA)
    writer = _BitWriter()
    preds = [0, 0, 0]
    for ci, b in _mcu_block_order(geom):
        dc_t, ac_t = (dc_y, ac_y) if ci == 0 else (dc_c, ac_c)
        preds[ci] = _encode_block(
            writer, comp_vecs[ci][b], dc_t, ac_t, preds[ci])
    out += writer.flush()
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def _flush_eobrun(pairs, ac_codes, n):
    """Emit an EOBn symbol covering n end-of-band blocks (T.81 G.1.2.2:
    rs=(r<<4)|0 plus r extra bits encoding n = 2^r + extra)."""
    while n > 0:
        r = min(n.bit_length() - 1, 14)
        chunk = min(n, (1 << r) * 2 - 1)    # what r extra bits can carry
        pairs.append(ac_codes[r << 4])
        if r:
            pairs.append((chunk - (1 << r), r))
        n -= chunk


def _enc_ac_first(writer, vecs, ac_codes, ss, se, al):
    """Progressive AC first pass at point transform Al over ALL blocks,
    with cross-block EOB-run accumulation (EOBn)."""
    pairs: list[tuple[int, int]] = []
    eobrun = 0
    for vec in vecs:
        block_pairs = []
        run = 0
        for k in range(ss, se + 1):
            v = int(vec[k])
            t = abs(v) >> al
            if t == 0:
                run += 1
                continue
            while run > 15:
                block_pairs.append(ac_codes[0xF0])
                run -= 16
            size, bits = _magnitude(t if v > 0 else -t)
            block_pairs.append(ac_codes[(run << 4) | size])
            block_pairs.append((bits, size))
            run = 0
        if not block_pairs:            # whole band zero → join the run
            eobrun += 1
            continue
        _flush_eobrun(pairs, ac_codes, eobrun)
        eobrun = 0
        pairs.extend(block_pairs)
        if run:
            eobrun = 1                 # this block's trailing EOB
    _flush_eobrun(pairs, ac_codes, eobrun)
    writer.write_pairs(pairs)


def _enc_ac_refine(writer, vecs, ac_codes, ss, se, al):
    """Progressive AC refinement over ALL blocks: correction bits for
    history-nonzero coefficients + new +-1<<Al values, with EOB-run
    accumulation.  Correction bits of run-member blocks ride inside the
    run in block order — exactly where the decoder's eobrun>0 path
    reads them; a run longer than one EOBn symbol can carry is split
    with each chunk's corrections after its own symbol."""
    pairs: list[tuple[int, int]] = []
    run_blocks: list[list[int]] = []   # per-block corrections in the run

    def flush():
        nonlocal run_blocks
        i = 0
        n = len(run_blocks)
        while n > 0:
            r = min(n.bit_length() - 1, 14)
            chunk = min(n, (1 << (r + 1)) - 1)
            pairs.append(ac_codes[r << 4])
            if r:
                pairs.append((chunk - (1 << r), r))
            for bl in run_blocks[i:i + chunk]:
                pairs.extend((b, 1) for b in bl)
            i += chunk
            n -= chunk
        run_blocks = []

    for vec in vecs:
        events = []                    # ('C', bit) | ('Z',) | ('N', sign)
        for k in range(ss, se + 1):
            v = int(vec[k])
            t = abs(v) >> al
            if (abs(v) >> (al + 1)) != 0:
                events.append(("C", t & 1))
            elif t == 0:
                events.append(("Z", 0))
            else:
                events.append(("N", 1 if v > 0 else 0))
        n_pos = [i for i, e in enumerate(events) if e[0] == "N"]
        if not n_pos:                  # end-of-band at k=Ss → join run
            run_blocks.append([b for kind, b in events if kind == "C"])
            continue
        flush()
        last_n = n_pos[-1]
        run = 0
        corr: list[int] = []
        for i, (kind, b) in enumerate(events[:last_n + 1]):
            if kind == "C":
                corr.append(b)
            elif kind == "Z":
                run += 1
                if run == 16:
                    pairs.append(ac_codes[0xF0])
                    pairs.extend((bb, 1) for bb in corr)
                    corr = []
                    run = 0
            else:
                pairs.append(ac_codes[(run << 4) | 1])
                pairs.append((b, 1))
                pairs.extend((bb, 1) for bb in corr)
                corr = []
                run = 0
        if last_n < len(events) - 1:   # tail → this block joins a new run
            run_blocks.append(
                [bb for kk, bb in events[last_n + 1:] if kk == "C"])
    flush()
    writer.write_pairs(pairs)


# progressive AC Huffman table: Annex K's AC tables carry only the
# baseline alphabet ((run<<4)|size, EOB, ZRL) — progressive scans also
# need the EOBn symbols (r<<4 for r=1..14).  One flat canonical table
# (every symbol 9 bits; 176 * 2^-9 < 1 satisfies Kraft, the all-ones
# code stays unused) keeps the encoder simple; the decoder learns it
# from the DHT segment like any other table.
_PROG_AC_VALUES = sorted(
    {r << 4 for r in range(15)} | {0xF0}
    | {(run << 4) | size for run in range(16) for size in range(1, 11)})
_PROG_AC_TABLE = ([0] * 8 + [len(_PROG_AC_VALUES)] + [0] * 7, _PROG_AC_VALUES)

# progressive scan script (libjpeg-style: DC approximation first, then
# spectral bands per component, then the refinement passes)
_PROG_SCRIPT = (
    ("dc_first", None, 0, 0, 0, 1),
    ("ac_first", 0, 1, 5, 0, 1),
    ("ac_first", 0, 6, 63, 0, 1),
    ("ac_first", 1, 1, 63, 0, 1),
    ("ac_first", 2, 1, 63, 0, 1),
    ("dc_refine", None, 0, 0, 1, 0),
    ("ac_refine", 0, 1, 5, 1, 0),
    ("ac_refine", 0, 6, 63, 1, 0),
    ("ac_refine", 1, 1, 63, 1, 0),
    ("ac_refine", 2, 1, 63, 1, 0),
)


def encode_jpeg_progressive(pix: np.ndarray, quality: int = 95,
                            subsample: str = "444") -> bytes:
    """RGB uint8 (h, w, 3) → progressive (SOF2) JFIF bytes.

    Same Annex K subset as the baseline encoder (subsample '444'/'422'/
    '420'); successive approximation with one refinement pass for DC
    and every AC band — so a decoder must implement the full T.81 G.1.2
    machinery (point transforms, correction bits, new-coefficient
    insertion, EOBn runs) to read it.
    """
    h, w, _ = pix.shape
    samp = _SAMP[subsample]
    comp_vecs, geom, qy, qc = _quantized_comp_vecs(pix, quality, samp)
    mcu_order = _mcu_block_order(geom)

    out = _jfif_header(h, w, qy, qc, samp, b"\xff\xc2")   # SOF2
    for tc_th, (bits, values) in ((0x00, DC_LUMA), (0x01, DC_CHROMA),
                                  (0x10, _PROG_AC_TABLE),
                                  (0x11, _PROG_AC_TABLE)):
        body = bytes([tc_th]) + bytes(bits) + bytes(values)
        out += b"\xff\xc4" + struct.pack(">H", len(body) + 2) + body

    dc_codes = (_build_codes(*DC_LUMA), _build_codes(*DC_CHROMA),
                _build_codes(*DC_CHROMA))
    prog_ac = _build_codes(*_PROG_AC_TABLE)
    ac_codes = (prog_ac, prog_ac, prog_ac)
    tbl_ids = ((1, 0x00), (2, 0x11), (3, 0x11))

    for kind, comp, ss, se, ah, al in _PROG_SCRIPT:
        sel = tbl_ids if comp is None else (tbl_ids[comp],)
        body = bytes([len(sel)])
        for cid, tables in sel:
            body += bytes([cid, tables])
        body += bytes([ss, se, (ah << 4) | al])
        out += b"\xff\xda" + struct.pack(">H", len(body) + 2) + body
        writer = _BitWriter()
        if kind == "dc_first":
            preds = [0, 0, 0]
            for ci, b in mcu_order:
                t = int(comp_vecs[ci][b, 0]) >> al
                size, bits = _magnitude(t - preds[ci])
                writer.write_pairs([dc_codes[ci][size]]
                                   + ([(bits, size)] if size else []))
                preds[ci] = t
        elif kind == "dc_refine":
            writer.write_pairs(
                [((int(comp_vecs[ci][b, 0]) >> al) & 1, 1)
                 for ci, b in mcu_order])
        else:
            # AC scans are non-interleaved: the component's non-padded
            # grid in raster order (padded blocks keep zero AC — they
            # are cropped away after the IDCT)
            idx = _raster_block_order(geom["comps"][comp])
            vecs = comp_vecs[comp][idx]
            if kind == "ac_first":
                _enc_ac_first(writer, vecs, ac_codes[comp], ss, se, al)
            else:
                _enc_ac_refine(writer, vecs, ac_codes[comp], ss, se, al)
        out += writer.flush()
    out += b"\xff\xd9"
    return bytes(out)


class _BitReader:
    """Reads the entropy-coded scan as a pre-unpacked bit list.

    The scan is unstuffed once (0xFF00 → 0xFF; any other 0xFF byte in a
    baseline no-RST scan is a framing error) and exploded to a Python
    list of 0/1 via numpy — ~5× faster than per-bit byte accounting.
    """

    def __init__(self, data: bytes):
        bad = _UNSTUFF_RE.search(data)
        if bad is not None:
            raise ValueError(
                f"unexpected marker 0xFF{data[bad.start() + 1]:02X} in scan")
        unstuffed = data.replace(b"\xff\x00", b"\xff")
        self.bits = np.unpackbits(
            np.frombuffer(unstuffed, dtype=np.uint8)).tolist()
        self.pos = 0

    def read_bits(self, n: int) -> int:
        bits, p = self.bits, self.pos
        if p + n > len(bits):
            raise ValueError("truncated jpeg scan")
        v = 0
        for i in range(n):
            v = (v << 1) | bits[p + i]
        self.pos = p + n
        return v

    def read_symbol(self, table: dict) -> int:
        bits, p = self.bits, self.pos
        code, length, end = 0, 0, len(bits)
        while length < 16 and p < end:
            code = (code << 1) | bits[p]
            p += 1
            length += 1
            sym = table.get((length, code))
            if sym is not None:
                self.pos = p
                return sym
        raise ValueError("invalid huffman code")


def _extend(bits: int, size: int) -> int:
    if size == 0:
        return 0
    return bits if bits >= (1 << (size - 1)) else bits - (1 << size) + 1


def decode_jpeg(data: bytes) -> np.ndarray:
    """JFIF bytes → RGB uint8 (h, w, 3). Subset per module doc.

    OverflowError: a corrupt SOF can declare huge dimensions whose DC
    prediction chain overflows the int32 coefficient store — that is
    corrupt DATA, so it must surface as ValueError (the multimodal
    error channel's contract), not an engine error.
    """
    try:
        return _decode_jpeg(data)
    except (IndexError, struct.error, OverflowError) as e:
        raise ValueError(f"jpeg: truncated/corrupt ({e})") from e


def _decode_baseline_scan(stabs, scan_bytes, coefs, geom):
    """One interleaved full-band scan (SOF0), MCU order per sampling
    factors (T.81 A.2.3)."""
    reader = _BitReader(scan_bytes)
    preds = [0, 0, 0]
    tabs = {}
    for pos, (ci, dc_t, ac_t) in enumerate(stabs):
        if dc_t is None or ac_t is None:
            raise ValueError("missing huffman table")
        if ci != pos:
            raise ValueError("scan/frame component order mismatch")
        tabs[ci] = (dc_t, ac_t)
    for ci, b in _mcu_block_order(geom):
        dc_t, ac_t = tabs[ci]
        vec = coefs[ci][b]
        size = reader.read_symbol(dc_t)
        diff = _extend(reader.read_bits(size), size)
        preds[ci] += diff
        vec[0] = preds[ci]
        k = 1
        while k < 64:
            rs = reader.read_symbol(ac_t)
            run, size = rs >> 4, rs & 0x0F
            if size == 0:
                if run == 15:
                    k += 16  # ZRL
                    continue
                break  # EOB
            k += run
            if k > 63:
                raise ValueError("AC run overflow")
            vec[k] = _extend(reader.read_bits(size), size)
            k += 1


def _decode_progressive_scan(scan, coefs, geom):
    """One SOF2 scan: DC first/refine (interleaved MCU order, or raster
    when non-interleaved) or AC first/refine (single component, T.81
    G.1.2 / the libjpeg-compatible successive approximation algorithm
    incl. EOB runs and correction bits)."""
    stabs, ss, se, ah, al, scan_bytes = scan
    reader = _BitReader(scan_bytes)
    if ss == 0:                                  # ---- DC scan ----
        if se != 0:
            raise ValueError("progressive DC scan must have Se=0")
        if len(stabs) > 1:                       # interleaved MCU order
            pos = {ci: n for n, (ci, _, _) in enumerate(stabs)}
            order = [(ci, b) for ci, b in _mcu_block_order(geom)
                     if ci in pos]
            dcts = {ci: dc_t for ci, dc_t, _ in stabs}
        else:                                    # non-interleaved raster
            ci0, dc_t0, _ = stabs[0]
            order = [(ci0, b)
                     for b in _raster_block_order(geom["comps"][ci0])]
            dcts = {ci0: dc_t0}
        if ah == 0:                              # first pass
            preds = [0, 0, 0]
            for ci, b in order:
                dc_t = dcts[ci]
                if dc_t is None:
                    raise ValueError("missing DC huffman table")
                size = reader.read_symbol(dc_t)
                preds[ci] += _extend(reader.read_bits(size), size)
                coefs[ci][b, 0] = preds[ci] << al
        else:                                    # refinement: 1 bit/block
            for ci, b in order:
                if reader.read_bits(1):
                    coefs[ci][b, 0] |= 1 << al
        return
    # ---- AC scan: single component, coefficients in ZIGZAG order ----
    if len(stabs) != 1:
        raise ValueError("progressive AC scan must be non-interleaved")
    ci, _, ac_t = stabs[0]
    if ac_t is None:
        raise ValueError("missing AC huffman table")
    vecs = coefs[ci]          # zigzag-ordered, same as the scan index k
    block_order = _raster_block_order(geom["comps"][ci])
    eobrun = 0
    if ah == 0:                                  # first pass at this Al
        for b in block_order:
            if eobrun > 0:
                eobrun -= 1
                continue
            k = ss
            while k <= se:
                rs = reader.read_symbol(ac_t)
                run, size = rs >> 4, rs & 0x0F
                if size == 0:
                    if run == 15:
                        k += 16                  # ZRL
                        continue
                    eobrun = (1 << run) - 1      # EOBn: this block done
                    if run:
                        eobrun += reader.read_bits(run)
                    break
                k += run
                if k > se:
                    raise ValueError("AC run overflow")
                vecs[b, k] = _extend(reader.read_bits(size), size) << al
                k += 1
        return
    # refinement pass (Ah = Al+1): correction bits + new +-1<<Al values
    p1, m1 = 1 << al, -1 << al
    for b in block_order:
        vec = vecs[b]
        k = ss
        if eobrun == 0:
            while k <= se:
                rs = reader.read_symbol(ac_t)
                run, size = rs >> 4, rs & 0x0F
                if size == 0:
                    if run != 15:
                        eobrun = 1 << run        # includes THIS block
                        if run:
                            eobrun += reader.read_bits(run)
                        break
                    val = 0                      # ZRL: 16 zero-history
                else:
                    if size != 1:
                        raise ValueError("bad refinement magnitude")
                    val = p1 if reader.read_bits(1) else m1
                while k <= se:
                    c = int(vec[k])
                    if c != 0:
                        if reader.read_bits(1) and (c & p1) == 0:
                            vec[k] = c + (p1 if c >= 0 else m1)
                    else:
                        run -= 1
                        if run < 0:
                            break
                    k += 1
                if val and k <= se:
                    vec[k] = val
                k += 1
        if eobrun > 0:
            while k <= se:
                c = int(vec[k])
                if c != 0 and reader.read_bits(1) and (c & p1) == 0:
                    vec[k] = c + (p1 if c >= 0 else m1)
                k += 1
            eobrun -= 1


def _decode_jpeg(data: bytes) -> np.ndarray:
    if not data.startswith(b"\xff\xd8"):
        raise ValueError("not a jpeg (no SOI)")
    i = 2
    qtables: dict[int, np.ndarray] = {}
    htables: dict[int, dict] = {}
    sof = None
    progressive = False
    scans: list[tuple] = []
    while i < len(data):
        if data[i] != 0xFF:
            raise ValueError("marker sync lost")
        marker = data[i + 1]
        i += 2
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            continue
        if marker == 0xD9:
            break
        (seglen,) = struct.unpack(">H", data[i:i + 2])
        body = data[i + 2:i + seglen]
        i += seglen
        if marker == 0xDB:  # DQT (possibly several tables)
            j = 0
            while j < len(body):
                pq, tq = body[j] >> 4, body[j] & 0x0F
                if pq != 0:
                    raise ValueError("16-bit quant tables unsupported")
                q = np.frombuffer(body[j + 1:j + 65], dtype=np.uint8).astype(np.int32)
                qtables[tq] = q[UNZIGZAG].reshape(8, 8)
                j += 65
        elif marker == 0xC4:  # DHT (possibly several tables)
            j = 0
            while j < len(body):
                tc_th = body[j]
                bits = list(body[j + 1:j + 17])
                n = sum(bits)
                values = list(body[j + 17:j + 17 + n])
                htables[tc_th] = _build_decode(bits, values)
                j += 17 + n
        elif marker in (0xC0, 0xC2):  # SOF0 baseline / SOF2 progressive
            progressive = marker == 0xC2
            depth, h, w, nc = body[0], *struct.unpack(">HH", body[1:5]), body[5]
            if depth != 8 or nc != 3:
                raise ValueError("unsupported jpeg (need 8-bit, 3 components)")
            comps = []
            for c in range(nc):
                cid, hv, tq = body[6 + 3 * c:9 + 3 * c]
                hi, vi = hv >> 4, hv & 0x0F
                if hi not in (1, 2) or vi not in (1, 2):
                    raise ValueError(
                        "unsupported sampling factors (1-2 only)")
                comps.append((cid, hi, vi, tq))
            sof = (h, w, comps)
        elif marker in (0xC1, 0xC3, 0xC5, 0xC6, 0xC7,
                        0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError(
                "unsupported jpeg coding process (baseline/progressive only)")
        elif marker == 0xDD:  # DRI
            if struct.unpack(">H", body[:2])[0] != 0:
                raise ValueError("restart markers unsupported")
        elif marker == 0xDA:  # SOS
            if sof is None:
                raise ValueError("SOS before SOF")
            ns = body[0]
            sel = [(body[1 + 2 * c], body[2 + 2 * c]) for c in range(ns)]
            ss, se, ahal = body[1 + 2 * ns:4 + 2 * ns]
            # resolve tables NOW (they may be redefined between scans)
            cid_to_idx = {c[0]: idx for idx, c in enumerate(sof[2])}
            stabs = []
            for scid, tables in sel:
                if scid not in cid_to_idx:
                    raise ValueError("scan references unknown component")
                stabs.append((cid_to_idx[scid],
                              htables.get(tables >> 4),
                              htables.get(0x10 | (tables & 0x0F))))
            # scan runs until next non-stuffed, non-RST marker
            j = i
            while j < len(data) - 1:
                if data[j] == 0xFF and data[j + 1] not in (0x00,) and not (0xD0 <= data[j + 1] <= 0xD7):
                    break
                j += 1
            scans.append((stabs, ss, se, ahal >> 4, ahal & 0x0F, data[i:j]))
            i = j
        # APPn/COM and anything else: skipped via seglen

    if sof is None or not scans:
        raise ValueError("missing SOF/SOS")
    h, w, comps = sof
    geom = _geometry(h, w, [(hi, vi) for _, hi, vi, _ in comps])
    coefs = [np.zeros((g["bhp"] * g["bwp"], 64), dtype=np.int32)
             for g in geom["comps"]]

    if progressive:
        for scan in scans:
            _decode_progressive_scan(scan, coefs, geom)
    else:
        stabs, ss, se, ah, al, scan_bytes = scans[0]
        if (ss, se, ah, al) != (0, 63, 0, 0) or len(stabs) != 3:
            raise ValueError("bad baseline scan header")
        _decode_baseline_scan(stabs, scan_bytes, coefs, geom)

    chans = []
    for ci, (cid, hi, vi, tq) in enumerate(comps):
        if tq not in qtables:
            raise ValueError("missing quant table")
        q = qtables[tq]
        g = geom["comps"][ci]
        blocks = coefs[ci][:, UNZIGZAG].reshape(-1, 8, 8).astype(np.float64)
        blocks *= q[None, :, :]
        spat = _DCT_C.T @ blocks @ _DCT_C + 128.0
        grid = (spat.reshape(g["bhp"], g["bwp"], 8, 8)
                .transpose(0, 2, 1, 3)
                .reshape(g["bhp"] * 8, g["bwp"] * 8))[:g["ch"], :g["cw"]]
        fy, fx = geom["vmax"] // vi, geom["hmax"] // hi
        if fy > 1 or fx > 1:
            grid = np.repeat(np.repeat(grid, fy, axis=0), fx, axis=1)
        chans.append(grid[:h, :w])
    return _ycbcr_to_rgb(np.stack(chans, axis=-1))


def estimate_jpeg_quality(data: bytes) -> int | None:
    """Estimate the IJG quality factor from the FIRST DQT luma table.

    Inverts :func:`_scaled_quant`'s law (the spec-suggested scaling of
    the Annex K luminance table, T.81 K.1): per-coefficient scale
    estimates ``(q*100 - 50) / base`` are averaged (DC excluded — many
    encoders hand-tune it), then mapped back through the two-branch
    IJG rule.  Returns None when no DQT is present (or the stream is
    truncated before one); raises ValueError on non-JPEG bytes.

    A curation signal, not a decode: recompression detection and
    low-quality filtering at corpus scale read ONLY the header bytes —
    no entropy decode, so it is cheap enough to run on every blob.
    """
    if len(data) < 4 or data[:2] != b"\xff\xd8":
        raise ValueError("jpeg: bad SOI")
    pos = 2
    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            pos += 1
            continue
        # T.81 B.1.1.2: any run of 0xFF fill bytes may precede the
        # marker code — skip the run so seg_len is read at the right
        # offset (a fill byte mistaken for the marker would misparse
        # or skip the DQT)
        while pos + 1 < len(data) and data[pos + 1] == 0xFF:
            pos += 1
        if pos + 4 > len(data):
            break
        marker = data[pos + 1]
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        if marker == 0xD9 or marker == 0xDA:  # EOI / SOS: no DQT seen
            return None
        seg_len = struct.unpack(">H", data[pos + 2:pos + 4])[0]
        if marker == 0xDB:
            seg = data[pos + 4:pos + 2 + seg_len]
            off = 0
            while off < len(seg):
                prec_id = seg[off]
                precision, tid = prec_id >> 4, prec_id & 0x0F
                n = 64 * (2 if precision else 1)
                raw = seg[off + 1:off + 1 + n]
                if len(raw) < n:
                    return None  # truncated table
                if tid == 0:  # luma
                    if precision:
                        q = np.frombuffer(raw, dtype=">u2").astype(np.int64)
                    else:
                        q = np.frombuffer(raw, dtype=np.uint8).astype(np.int64)
                    q = q[UNZIGZAG].reshape(8, 8).ravel()
                    base = QUANT_LUMA.ravel().astype(np.float64)
                    est = (q[1:] * 100.0 - 50.0) / base[1:]
                    scale = float(np.mean(est))
                    if scale <= 0:
                        return 100
                    if scale >= 100.0:
                        qf = 5000.0 / scale
                    else:
                        qf = (200.0 - scale) / 2.0
                    return int(min(100, max(1, round(qf))))
                off += 1 + n
        pos += 2 + seg_len
    return None
