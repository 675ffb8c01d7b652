"""Property-based fuzzers for the pure-Python media codecs: ANY
generated content must round-trip (losslessly for the LZW family,
bit-equal-to-baseline for progressive JPEG). These are the permanent
random-content guards behind the deterministic sweeps that caught
both LZW dialects' width-boundary bugs pre-certification."""

from hypothesis import given, settings, strategies as st

from gobblin_spark.functions import multimodal as M


@settings(max_examples=40, deadline=None)
@given(st.lists(st.integers(0, 255), min_size=1, max_size=2048),
       st.integers(1, 64))
def test_gif_lzw_roundtrip_any_content(vals, w):
    h = (len(vals) + w - 1) // w
    px = vals + [0] * (w * h - len(vals))
    assert M.decode_gif_gray(M.encode_gif_gray(px, w, h)) == (
        w, h, sum(px))


@settings(max_examples=40, deadline=None)
@given(st.lists(st.integers(0, 255), min_size=1, max_size=2048),
       st.integers(1, 64), st.booleans())
def test_tiff_lzw_roundtrip_any_content(vals, w, lzw):
    h = (len(vals) + w - 1) // w
    px = vals + [0] * (w * h - len(vals))
    assert M.decode_tiff_gray(M.encode_tiff_gray(px, w, h, lzw=lzw)) == (
        w, h, sum(px))


@settings(max_examples=15, deadline=None)
@given(st.integers(1, 24), st.integers(1, 24), st.integers(0, 2 ** 32))
def test_progressive_jpeg_bit_equals_baseline(w, h, seed):
    import random

    import numpy as np

    rng = random.Random(seed)
    px = [rng.randrange(256) for _ in range(w * h)]
    _, _, pp = M._decode_jpeg_planes(M.encode_jpeg_prog_gray(px, w, h))
    _, _, bp = M._decode_jpeg_planes(M.encode_jpeg_gray(px, w, h))
    assert np.max(np.abs(pp[0] - bp[0])) < 1e-9


@settings(max_examples=25, deadline=None)
@given(st.lists(st.integers(-1000, 1000), min_size=1, max_size=600))
def test_wav_spectral_parseval_any_signal(samples):
    """The ``wav_spectral`` decode row on real WAV bytes: DC bin, energy
    (Parseval) and Nyquist bin equal their time-domain integers."""
    n, dc, energy, nyq = M._wav_spectral(M.encode_wav_pcm16(samples))
    assert (n, dc, energy) == (
        len(samples), sum(samples), sum(v * v for v in samples))
    assert nyq == (sum(v if i % 2 == 0 else -v for i, v in enumerate(samples))
                   if n % 2 == 0 else 0)
