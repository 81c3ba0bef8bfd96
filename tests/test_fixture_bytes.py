"""Byte pins for the multimodal fixtures.

Every payload factory and fixture generator in
``operators/multimodal.py`` must emit the exact bytes the multimodal
queries' SQL oracles were written against. The digests below were
captured from the separate per-format encoders and hand-copied
``attach_*payload`` bodies, before they were folded onto
``_attach_payload_fn`` and the single ``encode_jpeg_dc``; any change
to a payload byte shows here before it shows as an oracle mismatch.
"""

from __future__ import annotations

import hashlib
import struct

import numpy as np
import pytest

import map_reduce_project_spark.operators.multimodal as mm

N_IDS = 500

_GENERATORS = {
    "gradient_png_image": "28bb1668c641e4b7230892a6e85a62d4",
    "palette_png_image": "56ac99ab855f0986241b335c86a2e540",
    "gradient_gif_image": "e412d681568f2693f1f65ffb96b82ea6",
    "gradient_jpeg_image": "96f6a7676fa22c1061f4d9df0df89bf2",
    "gradient_jpeg_color_image": "66b4953d5fc64f31010f584d933ccd45",
    "tone_flac_audio": "b3104ed05b4a39bf4a7eeceb3097a326",
    "gradient_avi_video": "b56fa74043a6a731fad98a0b96b1ebd3",
    "gradient_mjpeg_video": "839d67b1ba089b2f8a886bb4238df26c",
    "gradient_jpeg_420_image": "6573a3184dc29bad849a40e98494fcad",
    "gradient_jpeg_ac_image": "8cfa8bdb0946351e5eb4ef995bfd7daa",
    "gradient_jpeg_progressive_image": "5758ae771a8c731f7061deca453ec4cb",
    "melody_flac_audio": "0019129bc6f27e77a2fcc7dff09b5a39",
    "melody_flac_lpc_audio": "25e823dfed439d387945cd8d1e784427",
    "stereo_flac_audio": "4b27f37acd6aaf9729ad2effbbb86a71",
    "gradient_jpeg_422_image": "0a301dc4401ea201a30b92dfe20cc4fa",
    "gradient_jpeg_411_image": "622ecf59cdb3152d4ed89033316aeb9c",
    "gradient_jpeg_440_image": "d4a7bc18976edb17d63a0b25e4430e2a",
    "exif_jpeg_fixture": "c6900e20c7222c2fc9768a4ebdb803d3",
    "gradient_interlace_png_image": "1576cf4a72d735cd863dc9b1f6566eae",
}

_SOLID = {
    "ppm": "3f1cb260136a6e3f419ab8dde7d1885a",
    "bmp": "9d1e286c5efbe39835f8fd8c94de60f4",
}

_FACTORIES = {
    "attach_real_image_payload": "8edaed3c87c764072407875510c3d6f2",
    "attach_real_audio_payload": "fc352177ae62beaec2fa2beb8617668b",
    "attach_gradient_image_payload": "20e52378b9a1e95e89f40029442f0cf1",
    "attach_real_palette_png_payload": "56ac99ab855f0986241b335c86a2e540",
    "attach_real_png_payload": "28bb1668c641e4b7230892a6e85a62d4",
    "attach_real_gif_payload": "e412d681568f2693f1f65ffb96b82ea6",
    "attach_real_jpeg_payload": "96f6a7676fa22c1061f4d9df0df89bf2",
    "attach_real_jpeg_color_payload": "66b4953d5fc64f31010f584d933ccd45",
    "attach_real_jpeg_420_payload": "6573a3184dc29bad849a40e98494fcad",
    "attach_real_jpeg_ac_payload": "8cfa8bdb0946351e5eb4ef995bfd7daa",
    "attach_real_jpeg_progressive_payload": (
        "5758ae771a8c731f7061deca453ec4cb"
    ),
    "attach_real_jpeg_422_payload": "0a301dc4401ea201a30b92dfe20cc4fa",
    "attach_real_jpeg_411_payload": "622ecf59cdb3152d4ed89033316aeb9c",
    "attach_real_jpeg_440_payload": "d4a7bc18976edb17d63a0b25e4430e2a",
    "attach_interlace_png_payload": "1576cf4a72d735cd863dc9b1f6566eae",
}

# (H, V) luma sampling -> {q00: md5 of the encoded JPEG}; None is the
# grayscale (y-only) form
_ENCODER = {
    None: {
        8: "d1cd7b6a179d71203d31d13a06569375",
        3: "200c87b6a77b329e51c5394a581f3bda",
    },
    (1, 1): {
        8: "8e099e6797e9ac3557f9afa39fbbce20",
        3: "7ea02c87b30197b32d1c007590b18714",
    },
    (2, 2): {
        8: "24383be01114e8e5465a9ae99b9d798b",
        3: "e16fd5249e24edc8e879a9c2c39f7f3b",
    },
    (2, 1): {
        8: "f6e03fd9370de9508120176d21cb5313",
        3: "dd4789fc2bdf9b15cc94778bb81d2f2b",
    },
    (4, 1): {
        8: "a27e481525b5ee4db36dc2405b217738",
        3: "ad94cf75da0e6f14b2987868511cd988",
    },
    (1, 2): {
        8: "e21e574a27cdb45f9d64c89c625a4406",
        3: "d07530c31f1a29aa7432b93289d31d2f",
    },
}


def _digest(rows) -> str:
    """md5 over (doc_id, modality, payload) rows sorted by doc_id,
    each field length-prefixed."""
    h = hashlib.md5()
    for doc_id, modality, payload in sorted(rows):
        h.update(struct.pack("<qI", doc_id, len(modality)) + modality.encode())
        h.update(struct.pack("<I", len(payload)) + bytes(payload))
    return h.hexdigest()


def _blocks(nby: int, nbx: int, a: int, b: int, c: int) -> np.ndarray:
    """Block-constant plane: 8x8 block (bx, by) = (a + b*bx + c*by) % 256."""
    by, bx = np.mgrid[0:nby, 0:nbx]
    v = ((a + b * bx + c * by) % 256).astype(np.uint8)
    return np.kron(v, np.ones((8, 8), dtype=np.uint8))


def _planes(hv):
    """Two MCU rows by three MCU columns at luma sampling ``hv``."""
    hs, vs = hv or (1, 1)
    y = _blocks(2 * vs, 3 * hs, 7, 37, 91)
    if hv is None:
        return (y,)
    return y, _blocks(2, 3, 50, 13, 29), _blocks(2, 3, 200, 31, 5)


def test_fixture_generators_are_byte_pinned():
    got = {
        name: _digest(
            (d, *getattr(mm, name)(d)) for d in range(N_IDS)
        )
        for name in _GENERATORS
    }
    got_solid = {
        fmt: _digest((d, *mm.solid_color_image(d, fmt)) for d in range(N_IDS))
        for fmt in _SOLID
    }
    assert got == _GENERATORS
    assert got_solid == _SOLID


def test_payload_factories_are_byte_pinned(spark):
    ids = spark.range(N_IDS)
    got = {}
    for name in _FACTORIES:
        rows = getattr(mm, name)(ids, "id").collect()
        assert [f.name for f in mm.PAYLOAD_SCHEMA.fields] == list(
            rows[0].asDict()
        )
        got[name] = _digest((r.doc_id, r.modality, r.payload) for r in rows)
    assert got == _FACTORIES


@pytest.mark.parametrize("hv", list(_ENCODER), ids=str)
def test_encode_jpeg_dc_is_byte_pinned(hv):
    planes = _planes(hv)
    kw = {} if hv is None else {"hv": hv}
    got = {
        q00: hashlib.md5(mm.encode_jpeg_dc(*planes, q00=q00, **kw)).hexdigest()
        for q00 in _ENCODER[hv]
    }
    assert got == _ENCODER[hv]


@pytest.mark.parametrize("hv", list(_ENCODER), ids=str)
def test_encode_jpeg_dc_rejects_partial_mcus(hv):
    hs, vs = hv or (1, 1)
    kw = {} if hv is None else {"hv": hv}
    y, *chroma = _planes(hv)
    bad = [y[:-4], y[:, :-4]]  # off the 8-pixel block grid
    # on the block grid but one block short of a whole MCU
    if vs > 1:
        bad.append(y[:-8])
    if hs > 1:
        bad.append(y[:, :-8])
    for plane in bad:
        with pytest.raises(ValueError, match="DC-only fixture"):
            mm.encode_jpeg_dc(plane, *chroma, **kw)


def test_encode_jpeg_dc_grayscale_takes_unit_sampling():
    y = _planes((2, 2))[0]
    with pytest.raises(ValueError, match="hv=\\(1, 1\\)"):
        mm.encode_jpeg_dc(y, hv=(2, 2))
