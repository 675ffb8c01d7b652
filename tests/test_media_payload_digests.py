"""Byte-identity guard for the media codec table: every kind's
payloads for media ids 0..63, and the baseline/progressive JPEG
writers on non-flat content (odd dims, restart markers, 4:2:0), hash
to digests recorded before the per-format encoders were merged into
one writer — a refactor of the encoders may change no byte. The
quantizer's rounding rule (exact DCT ties go half-to-even, whatever
the BLAS kernel) is pinned here too."""

import hashlib
import os
import platform
import random
import subprocess
import sys
from fractions import Fraction

import numpy as np
import pytest

from gobblin_spark.functions import multimodal as M

# sha256 over the concatenated per-id sha256 digests, ids 0..63
KIND_DIGESTS = {
    "wav": "933855c8b2e047dc452897d02f1f6e8e1bcceb158be8e02aa4266ff6751c5a0d",
    "bmp": "74c273a23c7d47e30393f3a299af55605b06788943b0168892439104195e194e",
    "png": "3050c96c458400e72f55d55a0e2c56e99bf95866aeb429b0e119e623d4cdea4b",
    "jpeg": "9d1a31e1143132bad93b78b2cf39b524d80cb0a73db49fe9300c533acfc67083",
    "jpeg_color": "c585c6c3d258e6f6322d77c22590426491321976a01033ea3584367616f3ad52",
    "jpeg420": "fc3541c3be76eab384a9848eb78d89172e90c5cde5ec2707635a0930ee29f56f",
    "jpeg_prog": "b23ac84f287a88a5a54e0f5aca3a633253b850333ec8aed15919fb06e24164ee",
    "gif": "ea1c761092beaa1de920e60506123e2c234a9340f56330277f60ceb1cbe3e137",
    "tiff": "a96753eefd17210d3b70aede520e0da72a972f26071d2991db366c3e9f3eeae9",
}


@pytest.mark.parametrize("kind", sorted(KIND_DIGESTS))
def test_kind_payloads_are_byte_identical(kind):
    h = hashlib.sha256()
    for mid in range(64):
        h.update(hashlib.sha256(M._CODECS[kind].encode(mid)).digest())
    assert h.hexdigest() == KIND_DIGESTS[kind]


def test_every_kind_is_pinned():
    # wav_spectral decodes the wav payloads: one encoder, one digest
    assert set(M._CODECS) - set(KIND_DIGESTS) == {"wav_spectral"}
    assert M._CODECS["wav_spectral"].encode is M._CODECS["wav"].encode


def _gray(w, h):
    return [(x * x + 3 * x * y + 7 * y) % 256
            for y in range(h) for x in range(w)]


def _rgb(w, h):
    return [((x * x + y) % 256, (5 * x + y * y) % 256, (x * y + 11) % 256)
            for y in range(h) for x in range(w)]


# The two gray digests are calculated, not recorded: these writers with
# ``_jpeg_coefs`` replaced by a 50-digit mpmath forward DCT rounded
# half-to-even. The values recorded before (62f1183f..., d6563259...)
# came from a non-FMA BLAS kernel that wrote block 2's (by=1, bx=0)
# coefficient (4,0) = 29/2 as 15, against the half-to-even rule (14).
ENCODER_CASES = {
    "gray_13x11": (lambda: M.encode_jpeg_gray(_gray(13, 11), 13, 11),
                   "d2434658c9baaf5e0d1719062787dc8b67f614ae7a161a6c6da71e644dbfd9d4"),
    "color_13x11": (lambda: M.encode_jpeg_color(_rgb(13, 11), 13, 11),
                    "08a95c7299bea58b081caa84bf6f12a1175881420bc5b219bd2401d120dbf695"),
    "color_13x11_ri2": (
        lambda: M.encode_jpeg_color(_rgb(13, 11), 13, 11, restart_interval=2),
        "0fade751ae452ad8621226d9044d84b9fbee715eee80dce95fc2684bb656cbd6"),
    "color420_32x16": (lambda: M.encode_jpeg_color_420(_rgb(32, 16), 32, 16),
                       "40c875acdfbae6d4b24fb4fc9a53a890b2eeebeeb7fc1d1e6546fe46dbfdfe42"),
    "prog_gray_13x11": (lambda: M.encode_jpeg_prog_gray(_gray(13, 11), 13, 11),
                        "f0c093c54b25d3bbc31ee46fa5a27bfaada313bea090657478d54af5606aed13"),
    "prog_color_13x11": (lambda: M.encode_jpeg_prog_color(_rgb(13, 11), 13, 11),
                         "f2b3078001696892038e27894add765ca8fe0a392509bae8a8b379d160748058"),
}


@pytest.mark.parametrize("case", sorted(ENCODER_CASES))
def test_jpeg_encoders_are_byte_identical(case):
    encode, digest = ENCODER_CASES[case]
    assert hashlib.sha256(encode()).hexdigest() == digest


# the rational DCT coefficients (u, v in {0, 4}) in closed form: with
# C[0, x] = sqrt(2)/4 and C[4, x] = S4[x] * sqrt(2)/4, coefficient (u, v)
# is the S_u x S_v signed pixel sum over 8
_S = {0: [1] * 8, 4: [1, -1, -1, 1, 1, -1, -1, 1]}
_ZZ = {(u, v): M._JPEG_ZIGZAG.index(8 * u + v) for u in (0, 4) for v in (0, 4)}


def _exact_coef(block, u, v):
    return Fraction(sum(_S[u][x] * _S[v][y] * int(block[x][y])
                        for x in range(8) for y in range(8)), 8)


def _tie_blocks(n, seed=0):
    """``n`` level-shifted integer 8x8 blocks whose DC and (4,0)
    coefficients are both exact half-integers."""
    rng, out = random.Random(seed), []
    while len(out) < n:
        b = [[rng.randrange(-128, 128) for _ in range(8)] for _ in range(8)]
        if all(_exact_coef(b, u, v).denominator == 2 for u, v in ((0, 0), (4, 0))):
            out.append(b)
    return out


def test_exact_dct_ties_round_half_to_even():
    C = M._jpeg_dct_basis()
    for b in _tie_blocks(200):
        q = M._jpeg_coefs(np.array(b, dtype=np.float64), C)
        for (u, v), i in _ZZ.items():
            # Fraction's round() is half-to-even
            assert q[i] == round(_exact_coef(b, u, v)), (b, u, v)


@pytest.mark.skipif(platform.machine() not in ("x86_64", "AMD64"),
                    reason="OPENBLAS_CORETYPE=Nehalem names an x86_64 kernel")
def test_gray_bytes_do_not_depend_on_the_blas_kernel():
    code = ("import hashlib; from tests.test_media_payload_digests import "
            "ENCODER_CASES as E; print(hashlib.sha256(E['gray_13x11'][0]()).hexdigest())")
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, OPENBLAS_CORETYPE="Nehalem")
    child = subprocess.run([sys.executable, "-c", code], cwd=root, env=env,
                           capture_output=True, text=True, check=True)
    parent = hashlib.sha256(ENCODER_CASES["gray_13x11"][0]()).hexdigest()
    assert child.stdout.strip() == parent
