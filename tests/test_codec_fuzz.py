"""Codec corruption fuzzing — the 100-TB error-channel contract.

operators/multimodal.py turns decode failures into decode_ok=false rows
but only catches DECODE-SHAPED exceptions (ValueError, KeyError,
IndexError, struct.error, zlib.error, NotImplementedError); anything
else — or a hang — would kill tasks at crawl scale where corrupt blobs
are guaranteed data.  This suite drives every decoder with truncated,
bit-flipped, and garbage inputs and asserts each either returns a valid
array/tuple or raises within that exception contract, quickly.
"""

import struct
import zlib

import numpy as np
import pytest

from gigaspark.functions.avi import decode_avi_frames, encode_avi_mjpeg
from gigaspark.functions.flac import decode_flac, encode_flac
from gigaspark.functions.gif import decode_gif_frames, encode_gif_anim
from gigaspark.functions.images import decode_image, encode_image
from gigaspark.functions.wav import decode_wav, encode_wav

ALLOWED = (NotImplementedError, ValueError, KeyError, IndexError,
           struct.error, zlib.error)

_IMG_FMTS = ("ppm", "png", "qnt", "jpg", "jpgp", "jpg420", "gif",
             "webp", "webpv", "bmp", "ico", "tiff")


def _pix(seed, grey=False):
    rng = np.random.default_rng(seed)
    if grey:
        g = rng.integers(0, 256, (16, 16), dtype=np.uint8)
        return np.stack([g, g, g], axis=-1)
    return rng.integers(0, 256, (16, 16, 3), dtype=np.uint8)


def _assert_contract(decode, blob):
    try:
        out = decode(blob)
    except ALLOWED:
        return
    assert out is not None   # decoded despite corruption — also fine


@pytest.mark.parametrize("fmt", _IMG_FMTS)
def test_image_decoders_fuzz(fmt):
    blob = encode_image(fmt, _pix(7, grey=fmt in ("webpv", "jpg420")))
    rng = np.random.default_rng(zlib.crc32(fmt.encode()))
    # truncations at assorted depths
    for cut in (0, 1, 4, 10, len(blob) // 3, len(blob) - 1):
        _assert_contract(lambda b: decode_image(fmt, b), blob[:cut])
    # bit flips across the file (headers, tables, entropy data)
    for _ in range(60):
        b = bytearray(blob)
        for _ in range(rng.integers(1, 6)):
            b[rng.integers(0, len(b))] ^= 1 << rng.integers(0, 8)
        _assert_contract(lambda x: decode_image(fmt, x), bytes(b))
    # pure garbage
    for n in (0, 3, 64, 1024):
        _assert_contract(lambda b: decode_image(fmt, b),
                         bytes(rng.integers(0, 256, n, dtype=np.uint8)))


def test_audio_decoders_fuzz():
    t = np.arange(1500) / 8000
    sig = np.sin(2 * np.pi * 440 * t) * 0.5
    from gigaspark.functions.mpeg_audio import (
        decode_mpeg1, encode_layer1, encode_layer2, encode_layer3)

    sig32 = np.sin(2 * np.pi * 440 * (np.arange(768) / 32000)) * 0.5
    for name, enc, dec in (
            ("wav", lambda: encode_wav(sig, 8000), decode_wav),
            ("flac", lambda: encode_flac(sig, 8000), decode_flac),
            ("mp3", lambda: encode_layer1(sig32, 32000, alloc=5),
             decode_mpeg1),
            ("mp2", lambda: encode_layer2(
                np.sin(2 * np.pi * 440 * (np.arange(1152) / 32000)) * 0.5,
                32000), decode_mpeg1),
            ("mp3-l3", lambda: encode_layer3(
                np.sin(2 * np.pi * 440 * (np.arange(1152) / 32000)) * 0.5,
                32000), decode_mpeg1),
            ("mp3-l3-short-res", lambda: encode_layer3(
                np.sin(2 * np.pi * 440 * (np.arange(2304) / 32000)) * 0.5,
                32000, short_blocks=True, reservoir=True), decode_mpeg1),
            ("mp3-l3-ms", lambda: encode_layer3(
                np.stack([np.sin(2 * np.pi * f *
                                 (np.arange(1152) / 32000)) * 0.4
                          for f in (440, 660)], axis=1),
                32000, ms_stereo=True), decode_mpeg1)):
        blob = enc()
        rng = np.random.default_rng(len(name))
        for cut in (0, 4, 20, len(blob) // 2, len(blob) - 1):
            _assert_contract(dec, blob[:cut])
        for _ in range(60):
            b = bytearray(blob)
            for _ in range(rng.integers(1, 6)):
                b[rng.integers(0, len(b))] ^= 1 << rng.integers(0, 8)
            _assert_contract(dec, bytes(b))


def test_container_decoders_fuzz():
    frames = [np.full((8, 8, 3), v * 25, dtype=np.uint8) for v in range(4)]
    for blob, dec in (
            (encode_avi_mjpeg(frames, fps=5), decode_avi_frames),
            (encode_gif_anim(frames), decode_gif_frames)):
        rng = np.random.default_rng(len(blob))
        for cut in (0, 6, 14, len(blob) // 2, len(blob) - 1):
            _assert_contract(dec, blob[:cut])
        for _ in range(60):
            b = bytearray(blob)
            for _ in range(rng.integers(1, 6)):
                b[rng.integers(0, len(b))] ^= 1 << rng.integers(0, 8)
            _assert_contract(dec, bytes(b))


def test_native_codec_dispatch_plumbing(monkeypatch):
    """GIGASPARK_NATIVE_CODECS routes container formats through the
    PIL-shaped fast path when one is importable (no real PIL in this
    sandbox — a stub proves the dispatch + RGB contract + fallback)."""
    from gigaspark.functions import images as I

    pix = _pix(3)
    blob = I.encode_image("png", pix)

    class _FakeIm:
        def load(self):
            pass

        def convert(self, mode):
            assert mode == "RGB"
            return pix

    class _FakePIL:
        @staticmethod
        def open(fp):
            return _FakeIm()

    monkeypatch.setattr(I, "_PIL", _FakePIL)
    assert np.array_equal(I.decode_image("png", blob), pix)
    # ppm is not a PIL format — still the pure-numpy path
    assert np.array_equal(
        I.decode_image("ppm", I.encode_image("ppm", pix)), pix)

    class _Rejecting:
        @staticmethod
        def open(fp):
            raise ValueError("not my format")

    monkeypatch.setattr(I, "_PIL", _Rejecting)
    # PIL rejection falls back to the pure-numpy decoder
    assert np.array_equal(I.decode_image("png", blob), pix)
    monkeypatch.setattr(I, "_PIL", None)
    assert np.array_equal(I.decode_image("png", blob), pix)
