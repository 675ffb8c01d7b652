"""Byte-identity guard for the media codec table: every kind's
payloads for media ids 0..63, and the baseline/progressive JPEG
writers on non-flat content (odd dims, restart markers, 4:2:0), hash
to digests recorded before the per-format encoders were merged into
one writer — a refactor of the encoders may change no byte."""

import hashlib

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


ENCODER_CASES = {
    "gray_13x11": (lambda: M.encode_jpeg_gray(_gray(13, 11), 13, 11),
                   "62f1183fb150bd50f3e369e580b93f0810aef426a28dcd0956159e442ae25830"),
    "color_13x11": (lambda: M.encode_jpeg_color(_rgb(13, 11), 13, 11),
                    "08a95c7299bea58b081caa84bf6f12a1175881420bc5b219bd2401d120dbf695"),
    "color_13x11_ri2": (
        lambda: M.encode_jpeg_color(_rgb(13, 11), 13, 11, restart_interval=2),
        "0fade751ae452ad8621226d9044d84b9fbee715eee80dce95fc2684bb656cbd6"),
    "color420_32x16": (lambda: M.encode_jpeg_color_420(_rgb(32, 16), 32, 16),
                       "40c875acdfbae6d4b24fb4fc9a53a890b2eeebeeb7fc1d1e6546fe46dbfdfe42"),
    "prog_gray_13x11": (lambda: M.encode_jpeg_prog_gray(_gray(13, 11), 13, 11),
                        "d65632599131e12444ebcef899f24d521cbd53234856256b8bb4ae5de957a31d"),
    "prog_color_13x11": (lambda: M.encode_jpeg_prog_color(_rgb(13, 11), 13, 11),
                         "f2b3078001696892038e27894add765ca8fe0a392509bae8a8b379d160748058"),
}


@pytest.mark.parametrize("case", sorted(ENCODER_CASES))
def test_jpeg_encoders_are_byte_identical(case):
    encode, digest = ENCODER_CASES[case]
    assert hashlib.sha256(encode()).hexdigest() == digest
