"""Numpy-only image codecs + PSNR for the simulated-fetch validation path.

Reference capability: ``Images.cpp`` thumbnail/dimension handling inside
TitleRec [U][M] (SURVEY §2.8 C8).  The graft's per-row invariant
(BASELINE.json input_hint) is: decoded fetched bytes ≈ golden pixels
(PSNR ≥ 40 dB for lossy formats, exact for lossless) + caption equality.

No PIL in this sandbox (SURVEY §7.4.3), so fixtures use four formats we
can encode/decode with numpy+zlib alone:

  * ``ppm`` — binary P6, lossless
  * ``png`` — real PNG (8-bit RGB, filter 0, zlib), lossless; decodable
    by any standard viewer — the encoder/decoder here is a minimal but
    spec-conformant subset (we only emit filter type 0)
  * ``qnt`` — deterministic lossy 6-bit/channel quantization
    (q = v >> 2, reconstruct q*4+2 → MSE ≈ 1.5 → PSNR ≈ 46 dB),
    zlib-compressed
  * ``jpg`` — REAL baseline JPEG (ITU T.81, 4:4:4, Annex K tables) via
    the pure-numpy codec in :mod:`gigaspark.functions.jpeg`; encoded at
    quality 98 so even uniform-noise fixtures clear the PSNR≥40dB
    invariant (measured ≈43.6 dB on noise, ≥60 dB on natural gradients).

All functions operate on whole numpy arrays; the Spark-side entry point
is an Arrow-batched pandas UDF (see operators/fetch.py) — no per-row
Python UDFs.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

FORMATS = ("ppm", "png", "qnt", "jpg")
LOSSLESS = {"ppm", "png"}

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


# --- PPM (binary P6) ---------------------------------------------------------

def encode_ppm(pix: np.ndarray) -> bytes:
    h, w, _ = pix.shape
    return b"P6\n%d %d\n255\n" % (w, h) + pix.astype(np.uint8).tobytes()


def decode_ppm(data: bytes) -> np.ndarray:
    if not data.startswith(b"P6"):
        raise ValueError("not a P6 ppm")
    # header: magic, width, height, maxval, single whitespace, raw
    parts = data.split(b"\n", 3)
    w, h = (int(x) for x in parts[1].split())
    raw = parts[3]
    return np.frombuffer(raw[: w * h * 3], dtype=np.uint8).reshape(h, w, 3)


# --- PNG (8-bit RGB, minimal conformant subset) ------------------------------

def encode_png(pix: np.ndarray) -> bytes:
    """Full PNG codec lives in functions/png.py (all five filters,
    color types 0/2/3/4/6, depths 1-16, tRNS, Adam7); this wrapper
    keeps the original adaptive truecolor default."""
    from gigaspark.functions.png import encode_png as _enc
    return _enc(pix)


def decode_png(data: bytes) -> np.ndarray:
    from gigaspark.functions.png import decode_png as _dec
    return _dec(data)


# --- QNT (lossy 6-bit quantized) ---------------------------------------------

def encode_qnt(pix: np.ndarray) -> bytes:
    h, w, _ = pix.shape
    q = (pix.astype(np.uint8) >> 2).astype(np.uint8)
    return b"QNT1" + struct.pack("<II", w, h) + zlib.compress(q.tobytes(), 6)


def decode_qnt(data: bytes) -> np.ndarray:
    if not data.startswith(b"QNT1"):
        raise ValueError("not qnt")
    w, h = struct.unpack("<II", data[4:12])
    q = np.frombuffer(zlib.decompress(data[12:]), dtype=np.uint8).reshape(h, w, 3)
    return (q.astype(np.uint16) * 4 + 2).clip(0, 255).astype(np.uint8)


def _encode_jpg(pix: np.ndarray) -> bytes:
    from gigaspark.functions.jpeg import encode_jpeg
    return encode_jpeg(pix, quality=98)


def _decode_jpg(data: bytes) -> np.ndarray:
    from gigaspark.functions.jpeg import decode_jpeg
    return decode_jpeg(data)


def _encode_gif(pix: np.ndarray) -> bytes:
    from gigaspark.functions.gif import encode_gif
    return encode_gif(pix)


def _decode_gif(data: bytes) -> np.ndarray:
    from gigaspark.functions.gif import decode_gif
    return decode_gif(data)


def _encode_webp(pix: np.ndarray) -> bytes:
    from gigaspark.functions.webp import encode_webp
    return encode_webp(pix)


def _decode_webp(data: bytes) -> np.ndarray:
    from gigaspark.functions.webp import decode_webp
    return decode_webp(data)


def _encode_webp_lossy(pix: np.ndarray) -> bytes:
    from gigaspark.functions.vp8 import encode_webp_lossy
    return encode_webp_lossy(pix, qi=0)


def _encode_jpg_progressive(pix: np.ndarray) -> bytes:
    from gigaspark.functions.jpeg import encode_jpeg_progressive
    return encode_jpeg_progressive(pix, quality=98)  # match _encode_jpg


def _encode_jpg_420(pix: np.ndarray) -> bytes:
    from gigaspark.functions.jpeg import encode_jpeg
    return encode_jpeg(pix, quality=98, subsample="420")


# "webpv" = lossy VP8 flavor, "jpgp" = progressive SOF2 flavor,
# "jpg420" = baseline with 4:2:0 chroma — all on the ENCODE side only;
# decode dispatches on the container itself (RIFF chunk id / SOF
# marker / SOF sampling bytes)
def _encode_bmp(pix):
    from gigaspark.functions.bmp import encode_bmp

    return encode_bmp(pix)


def _decode_bmp(data):
    from gigaspark.functions.bmp import decode_bmp

    return decode_bmp(data)


def _encode_tiff(pix):
    from gigaspark.functions.tiff import encode_tiff

    return encode_tiff(pix)


def _decode_tiff(data):
    from gigaspark.functions.tiff import decode_tiff

    return decode_tiff(data)


def _encode_ico(pix):
    from gigaspark.functions.bmp import encode_ico

    return encode_ico(pix)


def _decode_ico(data):
    from gigaspark.functions.bmp import decode_ico

    return decode_ico(data)


_ENC = {"ppm": encode_ppm, "png": encode_png, "qnt": encode_qnt,
        "jpg": _encode_jpg, "jpeg": _encode_jpg, "gif": _encode_gif,
        "webp": _encode_webp, "webpv": _encode_webp_lossy,
        "jpgp": _encode_jpg_progressive, "jpg420": _encode_jpg_420,
        "bmp": _encode_bmp, "ico": _encode_ico, "tiff": _encode_tiff}
_DEC = {"ppm": decode_ppm, "png": decode_png, "qnt": decode_qnt,
        "jpg": _decode_jpg, "jpeg": _decode_jpg, "gif": _decode_gif,
        "webp": _decode_webp, "webpv": _decode_webp, "jpgp": _decode_jpg,
        "jpg420": _decode_jpg, "bmp": _decode_bmp, "ico": _decode_ico,
        "tiff": _decode_tiff}


def encode_image(fmt: str, pix: np.ndarray) -> bytes:
    return _ENC[fmt](pix)


# Native-codec fast path (the 100 TB answer to the per-blob Python
# entropy loops): when GIGASPARK_NATIVE_CODECS=1 AND Pillow is
# importable, container formats decode through libjpeg/zlib-turbo via
# PIL; the pure-numpy codecs above stay the no-deps default AND the
# fallback for anything PIL rejects.  OPT-IN by env var, not
# auto-detected: PIL's lossy color-conversion rounding differs from the
# pinned pure-numpy path by ±1 LSB, which is invisible to the PSNR≥40
# fetch gate but would break bit-exact oracle parity if it switched on
# implicitly.
_PIL = None
if __import__("os").environ.get("GIGASPARK_NATIVE_CODECS") == "1":
    try:
        from PIL import Image as _PIL  # type: ignore[no-redef]
    except Exception:
        _PIL = None
_PIL_FMTS = {"png", "jpg", "jpgp", "jpg420", "gif", "webp", "webpv",
             "bmp", "ico", "tiff"}


def decode_image(fmt: str, data: bytes) -> np.ndarray:
    if _PIL is not None and fmt in _PIL_FMTS:
        import io
        try:
            im = _PIL.open(io.BytesIO(data))
            im.load()
            return np.asarray(im.convert("RGB"))
        except Exception:
            pass  # fall through to the pure-numpy decoder
    return _DEC[fmt](data)


def psnr_db(a: np.ndarray, b: np.ndarray) -> float:
    """Peak signal-to-noise ratio in dB; +inf when identical."""
    if a.shape != b.shape:
        return float("-inf")
    mse = np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2)
    if mse == 0.0:
        return float("inf")
    return float(10.0 * np.log10(255.0**2 / mse))


def area_resize_rgb(pix: np.ndarray, out_w: int, out_h: int) -> np.ndarray:
    """Box-filter (area-mean) RGB resize — the thumbnailer's filter
    (Images.cpp downscales by window averaging [U][M]; unlike
    nearest-neighbour it is stable under small shifts and alias-free on
    downscale).  Summed-area table per channel → O(out) window means;
    rounds half-up to uint8."""
    h, w = pix.shape[:2]
    # window i = [floor(i*src/out), max(start+1, ceil((i+1)*src/out))) —
    # partition boundaries on downscale, >= 1 source px on upscale
    ys0 = (np.arange(out_h) * h) // out_h
    ys1 = np.maximum(ys0 + 1, (np.arange(1, out_h + 1) * h + out_h - 1) // out_h)
    xs0 = (np.arange(out_w) * w) // out_w
    xs1 = np.maximum(xs0 + 1, (np.arange(1, out_w + 1) * w + out_w - 1) // out_w)
    chan = pix.astype(np.float64)
    sat = np.zeros((h + 1, w + 1, 3))
    np.cumsum(np.cumsum(chan, axis=0), axis=1, out=sat[1:, 1:])
    win = (sat[ys1[:, None], xs1[None, :]] - sat[ys0[:, None], xs1[None, :]]
           - sat[ys1[:, None], xs0[None, :]]
           + sat[ys0[:, None], xs0[None, :]])
    area = ((ys1 - ys0)[:, None] * (xs1 - xs0)[None, :])
    out = win / area[:, :, None]
    return np.clip(np.floor(out + 0.5), 0, 255).astype(np.uint8)
