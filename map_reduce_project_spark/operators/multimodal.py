"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video ride through the engine as ``binary`` columns with
typed metadata columns next to them. The Spark-side plumbing — schema,
Arrow batch shape, ``mapInPandas`` partition processing — is real and
tested. ``decode_media`` does REAL header-level metadata extraction
for PNG/JPEG/BMP/PPM/WAV (pure stdlib parsing — the cheap first pass
a pipeline runs over every payload). Pixel/sample decode is REAL for
P6 PPM, uncompressed 24/32-bit BMP, PCM16 WAV, AND — via stdlib zlib
inflate + scanline unfiltering — real compressed PNG (8-bit RGB/RGBA,
see the PNG codec section). JPEG pixel decode genuinely needs libjpeg
(not in this container) and stays stubbed behind
``NotImplementedError``, with a deterministic ``fake/*`` modality so
the pipeline is testable end-to-end.

At scale this is the canonical pattern: keep payloads in parquet
binary columns (or pointers to object storage), process them with
Arrow-batched Python only in the narrow decode/featurize stage, and
keep everything before/after in JVM expressions.
"""

from __future__ import annotations

import hashlib
import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
)

METADATA_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("modality", StringType()),
        StructField("n_bytes", LongType()),
        StructField("payload_md5", StringType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
    ]
)


def _parse_png(b: bytes) -> dict:
    # IHDR is mandatory-first: width/height are big-endian u32 at 16..24
    if len(b) < 24 or b[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG")
    w, h = struct.unpack(">II", b[16:24])
    return {"width": w, "height": h}


def _parse_bmp(b: bytes) -> dict:
    # BITMAPINFOHEADER: signed little-endian dims at 18/22 (negative
    # height = top-down row order)
    if len(b) < 26 or b[:2] != b"BM":
        raise ValueError("not a BMP")
    w, h = struct.unpack("<ii", b[18:26])
    return {"width": abs(w), "height": abs(h)}


def _ppm_header(b: bytes, n_fields: int = 3) -> tuple[list[int], int]:
    # P6 "<w> <h> <maxval>" header, '#' comments allowed. Returns the
    # parsed numeric fields and the offset just past the last one
    # (pixel data starts after exactly ONE whitespace byte more).
    if b[:2] != b"P6":
        raise ValueError("not a binary PPM")
    fields: list[int] = []
    i = 2
    while len(fields) < n_fields and i < len(b):
        c = b[i : i + 1]
        if c == b"#":
            i = b.find(b"\n", i)
            if i < 0:
                break
            i += 1
        elif c.isspace():
            i += 1
        else:
            j = i
            while j < len(b) and b[j : j + 1].isdigit():
                j += 1
            if j == i:
                raise ValueError("bad PPM header")
            fields.append(int(b[i:j]))
            i = j
    if len(fields) < n_fields:
        raise ValueError("truncated PPM header")
    return fields, i


def _parse_ppm(b: bytes) -> dict:
    fields, _ = _ppm_header(b, n_fields=2)
    return {"width": fields[0], "height": fields[1]}


def _parse_jpeg(b: bytes) -> dict:
    # walk markers to the first SOF0-SOF15 frame header (skipping
    # DHT/DAC/RST/standalone markers); dims are big-endian u16 there.
    # Per ITU T.81 B.1.1.2, markers may be preceded by any number of
    # 0xFF fill bytes, so runs of 0xFF collapse to one marker prefix;
    # EOI (0xD9) and SOS (0xDA) end the header region — dims must
    # appear before the entropy-coded scan.
    if len(b) < 4 or b[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG")
    i = 2
    while i + 2 <= len(b):
        if b[i] != 0xFF:
            i += 1
            continue
        while i + 1 < len(b) and b[i + 1] == 0xFF:  # fill bytes
            i += 1
        if i + 2 > len(b):
            break
        marker = b[i + 1]
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            i += 2  # standalone: no length field
            continue
        if marker in (0xD9, 0xDA):  # EOI / start-of-scan
            break
        if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            if i + 9 > len(b):
                break
            h, w = struct.unpack(">HH", b[i + 5 : i + 9])
            return {"width": w, "height": h}
        if i + 4 > len(b):
            break
        (seg_len,) = struct.unpack(">H", b[i + 2 : i + 4])
        i += 2 + seg_len
    raise ValueError("no JPEG frame header found")


def _parse_wav(b: bytes) -> dict:
    # RIFF chunk walk: channels from 'fmt ', sample count from 'data'
    # size / block align. width = samples per channel, height =
    # channel count (the metadata schema's 2-D slot for audio).
    if len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        raise ValueError("not a WAV")
    channels = bits = None
    n_samples = 0
    i = 12
    while i + 8 <= len(b):
        cid = b[i : i + 4]
        (size,) = struct.unpack("<I", b[i + 4 : i + 8])
        if cid == b"fmt ":
            channels, _rate = struct.unpack("<HI", b[i + 10 : i + 16])
            (bits,) = struct.unpack("<H", b[i + 22 : i + 24])
        elif cid == b"data" and channels and bits:
            n_samples = size // (channels * bits // 8)
        i += 8 + size + (size & 1)  # chunks are word-aligned
    if channels is None:
        raise ValueError("no fmt chunk")
    return {"width": n_samples, "height": channels}


_HEADER_DECODERS = {
    "image/png": _parse_png,
    "image/bmp": _parse_bmp,
    "image/x-portable-pixmap": _parse_ppm,
    "image/jpeg": _parse_jpeg,
    "audio/wav": _parse_wav,
}


def decode_media(payload: bytes, modality: str) -> dict:
    """Header-level metadata decode.

    REAL for PNG / JPEG / BMP / PPM / WAV — pure header parsing, no
    media libraries, which is exactly the cheap first metadata pass a
    production pipeline runs over billions of payloads (full pixel
    decode is deferred to the narrow featurize stage and a far
    smaller row set). Pixel/sample decode and resize are real for
    PPM/BMP/WAV, (via stdlib zlib) PNG, GIF (real LZW), and the
    DC-only baseline JPEG profile; general JPEG (nonzero AC, color)
    still needs libjpeg and raises from inside the decoder. The ``fake/*`` modality yields deterministic
    dimensions derived from the payload so the full pipeline is
    testable end-to-end without any real media bytes.
    """
    if modality.startswith("fake/"):
        return {
            "width": 64 + payload[0] % 64 if payload else 0,
            "height": 64 + len(payload) % 64,
        }
    decoder = _HEADER_DECODERS.get(modality)
    if decoder is not None:
        return decoder(payload)
    raise NotImplementedError(
        f"no decoder for modality {modality!r} in this environment"
    )


# ---------------------------------------------------------------------------
# Pixel-level decode — REAL for the uncompressed formats (P6 PPM and
# 24/32-bit uncompressed BMP, pure stdlib + numpy); PNG is decoded for
# real too (zlib inflate + unfiltering — see the PNG codec section
# below). JPEG needs libjpeg entropy/DCT machinery and stays an honest
# NotImplementedError stub; a production engine swaps only the decoder
# body, the Spark-side stage shape is identical.
# ---------------------------------------------------------------------------


def _decode_ppm_pixels(b: bytes) -> np.ndarray:
    """(h, w, 3) uint8 array from a binary P6 PPM (maxval <= 255)."""
    (w, h, maxval), i = _ppm_header(b)
    if maxval > 255:
        raise ValueError("16-bit PPM not supported")
    i += 1  # exactly one whitespace byte separates maxval from data
    n = w * h * 3
    if len(b) < i + n:
        raise ValueError("truncated PPM pixel data")
    return np.frombuffer(b, dtype=np.uint8, count=n, offset=i).reshape(h, w, 3)


def _decode_bmp_pixels(b: bytes) -> np.ndarray:
    """(h, w, 3) uint8 RGB array from an uncompressed 8-bit-indexed,
    24-bit, or 32-bit BMP.

    Handles the format's real quirks: pixel rows padded to 4-byte
    boundaries, bottom-up row order (positive height) vs top-down
    (negative), BGR channel order, and for the indexed tier the
    BGRX color table with biClrUsed=0 meaning a full 256 entries.
    """
    if len(b) < 34 or b[:2] != b"BM":
        raise ValueError("not a BMP")
    (data_off,) = struct.unpack("<I", b[10:14])
    w, h_signed = struct.unpack("<ii", b[18:26])
    (bpp,) = struct.unpack("<H", b[28:30])
    (compression,) = struct.unpack("<I", b[30:34])
    if compression != 0 or bpp not in (8, 24, 32):
        raise NotImplementedError(
            f"only uncompressed 8-bit-indexed/24/32-bit BMP (got "
            f"bpp={bpp}, compression={compression})"
        )
    h = abs(h_signed)
    if bpp == 8:
        # indexed-color tier (round 7, matching the PNG palette
        # tier): BITMAPINFOHEADER's color table sits right after the
        # 40-byte header, biClrUsed entries (0 = full 256), each a
        # 4-byte BGRX quad; pixel bytes are palette indices
        if len(b) < 50:
            raise ValueError("truncated BMP header (8-bit needs biClrUsed)")
        (hdr_size,) = struct.unpack("<I", b[14:18])
        if hdr_size < 40:
            # BITMAPCOREHEADER uses 3-byte RGB palette triples; decoding
            # it with the BGRX layout below would silently mis-color.
            raise NotImplementedError(
                f"8-bit BMP requires BITMAPINFOHEADER (hdr_size={hdr_size})"
            )
        (clr_used,) = struct.unpack("<I", b[46:50])
        n_colors = clr_used or 256
        tbl_off = 14 + hdr_size
        tbl = np.frombuffer(
            b, dtype=np.uint8, count=4 * n_colors, offset=tbl_off
        ).reshape(n_colors, 4)
        palette = tbl[:, 2::-1]  # BGRX -> RGB
        stride = (w + 3) & ~3
        if len(b) < data_off + stride * h:
            raise ValueError("truncated BMP pixel data")
        rows = np.frombuffer(
            b, dtype=np.uint8, count=stride * h, offset=data_off
        ).reshape(h, stride)
        idx = rows[:, :w]
        if int(idx.max(initial=0)) >= n_colors:
            raise ValueError("BMP palette index out of range")
        px = palette[idx]
        return px[::-1] if h_signed > 0 else px
    bytes_pp = bpp // 8
    stride = (w * bytes_pp + 3) & ~3  # rows pad to 4-byte boundary
    if len(b) < data_off + stride * h:
        raise ValueError("truncated BMP pixel data")
    rows = np.frombuffer(
        b, dtype=np.uint8, count=stride * h, offset=data_off
    ).reshape(h, stride)
    px = rows[:, : w * bytes_pp].reshape(h, w, bytes_pp)
    if h_signed > 0:
        px = px[::-1]  # bottom-up storage -> top-down array
    return px[:, :, 2::-1]  # BGR(A) -> RGB, alpha dropped


_PIXEL_DECODERS = {
    "image/x-portable-pixmap": _decode_ppm_pixels,
    "image/bmp": _decode_bmp_pixels,
}


def encode_ppm(px: np.ndarray) -> bytes:
    """(h, w, 3) uint8 array -> binary P6 PPM bytes."""
    h, w, _ = px.shape
    return b"P6\n%d %d\n255\n" % (w, h) + px.astype(np.uint8).tobytes()


def decode_pixels(
    payload: bytes, modality: str, decode_backend=None
) -> np.ndarray:
    """REAL pixel decode to an (h, w, 3) uint8 array.

    Supported without media libraries: P6 PPM, uncompressed BMP, and
    real compressed PNG (8-bit RGB/RGBA via stdlib zlib + scanline
    unfiltering), real GIF (variable-width LZW), and DC-only baseline
    JPEG (integer entropy layer; see decode_jpeg_dc). The ``fake/*``
    modality derives a deterministic buffer from the payload bytes
    (same contract as ``decode_media``) so pipelines are testable
    end-to-end. General JPEG profiles raise NotImplementedError from
    inside the decoder — swap in PIL/libvips at the decoder table,
    nothing else changes.

    ``decode_backend``: the external-codec seam (round-10). A callable
    ``(payload, modality) -> np.ndarray | None`` consulted FIRST; a
    non-None return is the decoded (h, w, 3) uint8 array (a thin PIL /
    libvips / ffmpeg adapter in a real deployment), None falls through
    to the stdlib tier above. It is threaded through the mapInPandas
    operators as a plain closure argument — NOT module state — because
    executors import this module fresh and would never see a
    driver-side registration; a picklable callable rides inside the
    task closure instead, which is exactly how a PIL adapter would
    ship. Plan shape, schema, and batch layout are unchanged either
    way (pinned by test_multimodal_backend_seam).
    """
    if decode_backend is not None:
        px = decode_backend(payload, modality)
        if px is not None:
            return px
    if modality.startswith("fake/"):
        meta = decode_media(payload, modality)
        w, h = meta["width"], meta["height"]
        seed = np.frombuffer(
            hashlib.md5(payload).digest(), dtype=np.uint8
        )
        reps = (w * h * 3) // len(seed) + 1
        return np.tile(seed, reps)[: w * h * 3].reshape(h, w, 3)
    decoder = _PIXEL_DECODERS.get(modality)
    if decoder is not None:
        return decoder(payload)
    raise NotImplementedError(
        f"no pixel decoder for modality {modality!r} in this environment"
    )


def pil_decode_backend(payload: bytes, modality: str):
    """SHIPPED real-codec adapter for the ``decode_backend`` seam
    (round-12, closing the seam's never-exercised-with-a-real-library
    residual): decodes any ``image/*`` payload Pillow can open into
    the seam's (h, w, 3) uint8 RGB contract. Returns None — fall
    through to the stdlib tier — when Pillow is absent, the modality
    is not an image, or Pillow cannot parse the payload (the stub
    tier then raises its documented NotImplementedError, unchanged).

    This is the exact adapter shape the seam was designed for: a
    picklable module-level callable that rides in the mapInPandas
    task closure (``resize_images(..., decode_backend=
    pil_decode_backend)``), imported fresh per executor. The
    env-gated integration test (tests/test_llm_ops.py::
    test_pil_backend_decodes_what_stub_tiers_cannot) proves the 30
    stub tiers are genuinely swappable: a payload whose stub tier
    raises decodes through Pillow with the identical output schema.
    """
    try:
        from PIL import Image  # noqa: PLC0415 — optional dependency
    except ImportError:
        return None
    if not modality.startswith("image/"):
        return None
    try:
        import io

        im = Image.open(io.BytesIO(payload))
        return np.asarray(im.convert("RGB"), dtype=np.uint8)
    except Exception:  # noqa: BLE001 — None = "this adapter can't"
        return None


def resize_nearest(px: np.ndarray, w: int, h: int) -> np.ndarray:
    """Deterministic nearest-neighbor resize (floor index mapping —
    source index = out_index * in_size // out_size), pure numpy."""
    h_in, w_in, _ = px.shape
    rows = (np.arange(h) * h_in) // h
    cols = (np.arange(w) * w_in) // w
    return px[rows][:, cols]


def spread_rows(
    df: DataFrame, rows_per_task: int = 2048, key_col: str = "doc_id"
) -> DataFrame:
    """Spread a SMALL-BYTES / HEAVY-PYTHON input across the cluster
    before a mapInPandas stage (optimization round 12, guide §2.5
    input-skew + §4 boundary notes): codec-decode queries synthesize
    multi-KB payloads and run ms-per-row pure-Python bit decoding off
    a doc_id column whose parquet scan is ONE split at gate scale —
    so the whole Python stage ran on one core (measured: the FLAC
    trio at sf0.1 spent 13-17 s each single-threaded; ~2 s spread).

    ROW-count sized (bytes are meaningless here): one metadata-cheap
    count, then hash-repartition by ``key_col`` (deterministic under
    retries — guide §2.5 warns off round-robin's re-roll risk; an
    EXPLICIT high-cardinality key since round 13, after the r12
    advisory that keying implicitly on the first column would let a
    future caller with a low-cardinality or skewed first column
    silently under-parallelize) to ceil(rows / rows_per_task)
    partitions, floored at default parallelism, capped at 65536.
    Per-row values are unchanged, so gate hashes are unaffected."""
    if key_col not in df.columns:
        raise ValueError(
            f"spread_rows: key_col {key_col!r} not in {df.columns} — "
            "pass the frame's high-cardinality id column"
        )
    n = df.count()
    sc = df.sparkSession.sparkContext
    parts = max(
        sc.defaultParallelism,
        min(65536, int(n // rows_per_task) + 1),
    )
    return df.repartition(parts, F.col(key_col))


def attach_fake_payload(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Manufacture a binary payload column from text (UTF-8 bytes) with
    a modality tag — stands in for real image/audio bytes in tests."""
    return docs.select(
        F.col(id_col),
        F.lit("fake/image").alias("modality"),
        F.encode(F.col(text_col), "UTF-8").alias("payload"),
    )


def extract_metadata(media: DataFrame) -> DataFrame:
    """Arrow-batched metadata extraction over (doc_id, modality, payload).

    ``mapInPandas``: one Python process per partition, pandas batches
    in/out — the shape every real decode/featurize stage uses. All
    outputs are deterministic functions of the payload bytes.
    """

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            decoded = [
                decode_media(payload, modality)
                for payload, modality in zip(pdf["payload"], pdf["modality"])
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "modality": pdf["modality"],
                    "n_bytes": [len(p) for p in pdf["payload"]],
                    "payload_md5": [
                        hashlib.md5(p).hexdigest() for p in pdf["payload"]
                    ],
                    "width": [d["width"] for d in decoded],
                    "height": [d["height"] for d in decoded],
                }
            )

    return media.mapInPandas(process, METADATA_SCHEMA)


RESIZED_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("modality", StringType()),
        StructField("payload", BinaryType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
    ]
)


def resize_media(
    payload: bytes, modality: str, w: int, h: int, decode_backend=None
) -> bytes:
    """Resize: REAL (decode -> numpy nearest-neighbor -> re-encode as
    P6 PPM) for the pixel-decodable formats; the fake modality keeps
    its deterministic md5-chained derived payload so downstream stages
    and tests have stable bytes to hash. JPEG inputs need
    PIL/libvips and raise — or arrive decoded via ``decode_backend``
    (the external-codec seam, see decode_pixels)."""
    if modality.startswith("fake/"):
        seed = hashlib.md5(payload + f"|{w}x{h}".encode()).digest()
        return (seed * ((w * h * 3) // len(seed) + 1))[: w * h * 3]
    if decode_backend is not None or modality in _PIXEL_DECODERS:
        return encode_ppm(
            resize_nearest(
                decode_pixels(payload, modality, decode_backend), w, h
            )
        )
    raise NotImplementedError(
        f"no resizer for modality {modality!r} in this environment"
    )


def resize_images(
    media: DataFrame, width: int, height: int, decode_backend=None
) -> DataFrame:
    """1:1 Arrow-batched resize stage over (doc_id, modality, payload).

    Same mapInPandas shape as ``extract_metadata``; the output payload
    is the resized bytes (w*h*3 for the fake modality — an RGB buffer
    stand-in). Partitioning is preserved: a narrow transform, no
    shuffle, safe to chain before a write or a featurize stage.
    ``decode_backend`` rides in the task closure (see decode_pixels).
    """

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = [
                resize_media(p, m, width, height, decode_backend)
                for p, m in zip(pdf["payload"], pdf["modality"])
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "modality": pdf["modality"],
                    "payload": out,
                    "width": [width] * len(out),
                    "height": [height] * len(out),
                }
            )

    return media.mapInPandas(process, RESIZED_SCHEMA)


PIXEL_STATS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("modality", StringType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("n_pixels", LongType()),
        StructField("sum_r", LongType()),
        StructField("sum_g", LongType()),
        StructField("sum_b", LongType()),
    ]
)


def pixel_stats(media: DataFrame, decode_backend=None) -> DataFrame:
    """REAL pixel-level statistics over decodable payloads, Arrow-batched.

    Decodes each payload to an (h, w, 3) array and emits EXACT integer
    channel sums (not float means — integer sums survive any
    aggregation order, so the stage is hash-gateable against a SQL
    oracle). This is the canonical featurize shape: binary column in,
    fixed-schema numeric columns out, one Python stage, no shuffle.
    ``decode_backend`` rides in the task closure (see decode_pixels).
    """

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in PIXEL_STATS_SCHEMA.fieldNames()}
            for doc_id, modality, payload in zip(
                pdf["doc_id"], pdf["modality"], pdf["payload"]
            ):
                px = decode_pixels(payload, modality, decode_backend)
                sums = px.sum(axis=(0, 1), dtype=np.int64)
                out["doc_id"].append(doc_id)
                out["modality"].append(modality)
                out["height"].append(px.shape[0])
                out["width"].append(px.shape[1])
                out["n_pixels"].append(px.shape[0] * px.shape[1])
                out["sum_r"].append(int(sums[0]))
                out["sum_g"].append(int(sums[1]))
                out["sum_b"].append(int(sums[2]))
            yield pd.DataFrame(out)

    return media.mapInPandas(process, PIXEL_STATS_SCHEMA)


PAYLOAD_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("modality", StringType()),
        StructField("payload", BinaryType()),
    ]
)


def _attach_payload_fn(gen):
    """``attach(docs, id_col="doc_id")`` -> (doc_id, modality, payload):
    one payload per id from the (doc_id) -> (modality, bytes) fixture
    generator ``gen``, built by mapInPandas where the rows live, never
    driver-side."""

    def attach(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
        def process(
            batches: Iterator[pd.DataFrame],
        ) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                mods, payloads = [], []
                for doc_id in pdf["doc_id"]:
                    m, p = gen(int(doc_id))
                    mods.append(m)
                    payloads.append(p)
                yield pd.DataFrame(
                    {
                        "doc_id": pdf["doc_id"],
                        "modality": mods,
                        "payload": payloads,
                    }
                )

        return docs.select(
            F.col(id_col).cast("long").alias("doc_id")
        ).mapInPandas(process, PAYLOAD_SCHEMA)

    return attach


def solid_color_image(doc_id: int, fmt: str) -> tuple[str, bytes]:
    """Deterministic REAL image bytes from an integer id: a solid-color
    w x h image as P6 PPM (even ids) or bottom-up padded 24-bit BMP
    (odd ids). Geometry/color are simple functions of the id, so a SQL
    oracle can predict the decoded pixel sums without parsing bytes —
    while the engine path genuinely parses the format (header walk,
    row padding, BGR/bottom-up for BMP)."""
    w = 1 + doc_id % 16
    h = 1 + (doc_id // 16) % 16
    r, g, b = doc_id % 256, (doc_id * 7) % 256, (doc_id * 13) % 256
    px = np.full((h, w, 3), (r, g, b), dtype=np.uint8)
    if fmt == "ppm":
        return "image/x-portable-pixmap", encode_ppm(px)
    # hand-rolled uncompressed 24-bit bottom-up BMP with row padding
    stride = (w * 3 + 3) & ~3
    rows = np.zeros((h, stride), dtype=np.uint8)
    rows[:, : w * 3] = px[::-1, :, ::-1].reshape(h, w * 3)  # BGR bottom-up
    data = rows.tobytes()
    header = (
        b"BM"
        + struct.pack("<IHHI", 54 + len(data), 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(data), 0, 0, 0, 0)
    )
    return "image/bmp", header + data


def _solid_image(doc_id: int) -> tuple[str, bytes]:
    """PPM for even ids, BMP for odd."""
    return solid_color_image(doc_id, "ppm" if doc_id % 2 == 0 else "bmp")


attach_real_image_payload = _attach_payload_fn(_solid_image)


FRAMES_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_idx", LongType()),
        StructField("frame_md5", StringType()),
    ]
)


def sample_frames(media: DataFrame, every_n: int = 10) -> DataFrame:
    """1:N frame-sampling stage (the video shape: one row in, one row
    per sampled frame out — mapInPandas is the right tool because the
    fan-out ratio is data-dependent, which a pandas_udf can't express).

    The fake "video" has ``len(payload) // 32`` frames; every_n-th is
    sampled and fingerprinted. A real engine swaps the body for an
    ffmpeg keyframe pull with identical schema and batch shape.
    """

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, md5s = [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                n_frames = len(payload) // 32
                for i in range(0, n_frames, every_n):
                    ids.append(doc_id)
                    idxs.append(i)
                    md5s.append(
                        hashlib.md5(payload[i * 32 : (i + 1) * 32]).hexdigest()
                    )
            yield pd.DataFrame(
                {"doc_id": ids, "frame_idx": idxs, "frame_md5": md5s}
            )

    return media.mapInPandas(process, FRAMES_SCHEMA)


# ---------------------------------------------------------------------------
# Real PCM16 audio: synthesize genuine WAV bytes per row, then decode
# the sample stream back out of the RIFF container (full chunk walk +
# struct.unpack of the int16 frames). Stats are exact integers, so the
# oracle predicts them from the same generator arithmetic — like the
# PPM/BMP pixel path.
# ---------------------------------------------------------------------------

AUDIO_RATE = 8000

AUDIO_STATS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("sample_rate", LongType()),
        StructField("n_samples", LongType()),
        StructField("sum_samples", LongType()),
        StructField("sum_sq", LongType()),
        StructField("peak", LongType()),
    ]
)


def _synth_samples(doc_id: int) -> list[int]:
    n = 16 + doc_id % 17
    return [((doc_id * 31 + i * 7) % 2048) - 1024 for i in range(n)]


def _build_wav(samples: list[int], rate: int = AUDIO_RATE) -> bytes:
    data = struct.pack(f"<{len(samples)}h", *samples)
    fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _wav_audio(doc_id: int) -> tuple[str, bytes]:
    """One genuine PCM16 mono WAV, samples a function of the id."""
    return "audio/wav", _build_wav(_synth_samples(doc_id))


attach_real_audio_payload = _attach_payload_fn(_wav_audio)


def _decode_wav_samples(b: bytes) -> tuple[int, list[int]]:
    """(sample_rate, int16 samples) via the RIFF chunk walk."""
    if b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        raise ValueError("not a WAV")
    rate = None
    samples: list[int] = []
    i = 12
    while i + 8 <= len(b):
        cid = b[i : i + 4]
        (size,) = struct.unpack("<I", b[i + 4 : i + 8])
        if cid == b"fmt ":
            _fmt, _ch, rate = struct.unpack("<HHI", b[i + 8 : i + 16])
        elif cid == b"data":
            samples = list(
                struct.unpack(f"<{size // 2}h", b[i + 8 : i + 8 + size])
            )
        i += 8 + size + (size & 1)
    if rate is None:
        raise ValueError("no fmt chunk")
    return rate, samples


def audio_sample_stats(media: DataFrame) -> DataFrame:
    """REAL WAV sample decode (RIFF chunk walk -> little-endian int16
    unpack) -> exact integer stream statistics per file. Arrow-batched
    ``mapInPandas``; at scale this is the audio featurize stage —
    partition-local, no shuffle, output one tiny row per file."""

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                rate, samples = _decode_wav_samples(bytes(payload))
                out.append(
                    {
                        "doc_id": int(doc_id),
                        "sample_rate": int(rate),
                        "n_samples": len(samples),
                        "sum_samples": int(sum(samples)),
                        "sum_sq": int(sum(s * s for s in samples)),
                        "peak": int(max(abs(s) for s in samples)),
                    }
                )
            yield pd.DataFrame(out)

    return media.mapInPandas(stats, AUDIO_STATS_SCHEMA)


def decimate_audio(media: DataFrame, factor: int = 2) -> DataFrame:
    """REAL audio downsampling (round 7): decode the PCM16 stream,
    average each block of ``factor`` consecutive samples with
    arithmetic-shift floor division ((a + b) >> 1 for factor 2 —
    floor semantics on negatives in BOTH engines, so the oracle can
    replay it), RE-ENCODE a genuine WAV at rate/factor, and emit the
    new payload. Trailing samples that do not fill a block are
    dropped (the standard decimator contract). Arrow-batched
    mapInPandas, partition-local, 1:1 rows — the resample stage of
    an audio-corpus pipeline, payload-to-payload so downstream
    stages (stats, activity, featurize) run unchanged on the output."""

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for payload in pdf["payload"]:
                rate, raw = _decode_wav_samples(bytes(payload))
                samples = np.asarray(raw, dtype=np.int64)
                n_out = len(samples) // factor
                blocks = samples[: n_out * factor].reshape(n_out, factor)
                dec = np.right_shift(
                    blocks.sum(axis=1), factor.bit_length() - 1
                ) if factor & (factor - 1) == 0 else blocks.sum(
                    axis=1
                ) // factor
                payloads.append(
                    _build_wav(
                        [int(v) for v in dec], rate=rate // factor
                    )
                )
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "modality": pdf["modality"],
                    "payload": payloads,
                }
            )

    return media.select("doc_id", "modality", "payload").mapInPandas(
        process, PAYLOAD_SCHEMA
    )


# ---------------------------------------------------------------------------
# Perceptual hashing (dHash) over REAL decoded pixels: gradient PPM
# payloads give the comparator non-trivial structure, and the 64-bit
# difference hash comes out of the genuine P6 parse — the oracle
# predicts every bit from the same generator arithmetic.
# ---------------------------------------------------------------------------

DHASH_W = 9
DHASH_H = 8


def _gradient_value(doc_id: int, x: int, y: int) -> int:
    return (doc_id * 13 + x * 17 + y * 29) % 256


def _gradient_ppm_image(doc_id: int) -> tuple[str, bytes]:
    """P6 PPM at the 9x8 dHash comparison size: pixel (x, y) =
    (id*13 + x*17 + y*29) % 256 on all channels."""
    ys, xs = np.mgrid[0:DHASH_H, 0:DHASH_W]
    v = _gradient_value(doc_id, xs, ys).astype(np.uint8)
    return "image/x-portable-pixmap", encode_ppm(np.dstack([v, v, v]))


attach_gradient_image_payload = _attach_payload_fn(_gradient_ppm_image)


def image_dhash(media: DataFrame) -> DataFrame:
    """dHash perceptual fingerprint from REAL pixel decode: integer
    luma (299/587/114 per mille), bit (y, x) set iff gray[y][x] >
    gray[y][x+1] over the 8x8 difference grid; returned as a 16-hex
    string (64 bits, no signed-int64 trap). Near-duplicate images
    differ in few bits — pair via the SimHash Hamming-band machinery.
    Arrow-batched mapInPandas; one tiny row out per image.

    Images are downsampled to the 9x8 dHash grid before hashing
    (standard dHash; also what keeps the fingerprint EXACTLY 64 bits —
    hashing a wider image would overflow the '016x' format into >16
    hex chars and silently break shot_boundaries' fixed-width
    substring parse)."""

    def hash_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_ids, hashes = [], []
            for doc_id, payload, modality in zip(
                pdf["doc_id"], pdf["payload"], pdf["modality"]
            ):
                px = decode_pixels(bytes(payload), modality)
                if px.shape[0] != DHASH_H or px.shape[1] != DHASH_W:
                    px = resize_nearest(px, DHASH_W, DHASH_H)
                px = px.astype(np.int64)
                gray = (
                    px[:, :, 0] * 299 + px[:, :, 1] * 587 + px[:, :, 2] * 114
                ) // 1000
                bits = 0
                for y in range(gray.shape[0]):
                    for x in range(gray.shape[1] - 1):
                        if gray[y, x] > gray[y, x + 1]:
                            bits |= 1 << (y * (gray.shape[1] - 1) + x)
                out_ids.append(int(doc_id))
                hashes.append(format(bits, "016x"))
            yield pd.DataFrame({"doc_id": out_ids, "dhash": hashes})

    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("dhash", StringType()),
        ]
    )
    return media.mapInPandas(hash_batch, schema)


# ---------------------------------------------------------------------------
# Video shot detection: per-frame dHash + consecutive-frame Hamming.
# Synthetic "videos" are sequences of REAL PPM frames whose gradient
# orientation flips mid-sequence (a cut); every frame is genuinely
# decoded before hashing, and the oracle predicts each frame's hash
# bits from the generator arithmetic.
# ---------------------------------------------------------------------------

SHOT_FRAMES = 6
SHOT_CUT_AT = 3  # frames [0, CUT) use one gradient, [CUT, N) the flipped one


def _frame_gradient_value(doc_id: int, x: int, y: int, f: int) -> int:
    a, b = (17, 29) if f < SHOT_CUT_AT else (29, 17)
    return (doc_id * 13 + x * a + y * b) % 256


def frame_dhashes(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(doc_id, frame_idx, dhash): build each frame as a REAL P6 PPM,
    decode it back through the genuine parser, and dHash the decoded
    pixels — one mapInPandas pass, SHOT_FRAMES tiny rows per video."""

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, hashes = [], [], []
            for doc_id in pdf[id_col]:
                for f in range(SHOT_FRAMES):
                    body = bytearray()
                    for y in range(DHASH_H):
                        for x in range(DHASH_W):
                            v = _frame_gradient_value(int(doc_id), x, y, f)
                            body += bytes((v, v, v))
                    payload = (
                        f"P6\n{DHASH_W} {DHASH_H}\n255\n".encode() + bytes(body)
                    )
                    px = decode_pixels(
                        payload, "image/x-portable-pixmap"
                    ).astype(np.int64)
                    gray = (
                        px[:, :, 0] * 299 + px[:, :, 1] * 587 + px[:, :, 2] * 114
                    ) // 1000
                    bits = 0
                    for y in range(gray.shape[0]):
                        for x in range(gray.shape[1] - 1):
                            if gray[y, x] > gray[y, x + 1]:
                                bits |= 1 << (y * (gray.shape[1] - 1) + x)
                    ids.append(int(doc_id))
                    idxs.append(f)
                    hashes.append(format(bits, "016x"))
            yield pd.DataFrame(
                {"doc_id": ids, "frame_idx": idxs, "dhash": hashes}
            )

    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("frame_idx", LongType()),
            StructField("dhash", StringType()),
        ]
    )
    return docs.select(
        F.col(id_col).cast("long").alias(id_col)
    ).mapInPandas(build, schema)


def shot_boundaries(frames: DataFrame, threshold: int = 8) -> DataFrame:
    """Consecutive-frame Hamming distance over per-frame dHashes (hex
    -> two int32 halves -> xor + bit_count, pure JVM expressions) and
    the cut flag where the distance clears the threshold — the
    standard cheap shot detector. One lag window per video."""
    from pyspark.sql.window import Window

    half = lambda c, lo: F.conv(F.substring(c, lo, 8), 16, 10).cast("long")
    w = Window.partitionBy("doc_id").orderBy("frame_idx")
    prev = F.lag("dhash").over(w)
    ham = (
        F.bit_count(half(F.col("dhash"), 1).bitwiseXOR(half(prev, 1)))
        + F.bit_count(half(F.col("dhash"), 9).bitwiseXOR(half(prev, 9)))
    ).cast("long")
    return frames.select(
        "doc_id",
        "frame_idx",
        "dhash",
        F.coalesce(ham, F.lit(-1)).alias("hamming_prev"),
        F.coalesce(ham >= threshold, F.lit(False)).alias("is_cut"),
    )


def audio_samples(media: DataFrame) -> DataFrame:
    """(doc_id, i, sample): the decoded PCM16 stream as rows — the
    bridge from container decode (Python, partition-local) to
    relational DSP downstream (windows/aggregates in the JVM). Same
    RIFF chunk walk as ``audio_sample_stats``."""

    def explode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, vals = [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(payload)
                if b[:4] != b"RIFF" or b[8:12] != b"WAVE":
                    raise ValueError("not a WAV")
                i = 12
                samples: list[int] = []
                while i + 8 <= len(b):
                    cid = b[i : i + 4]
                    (size,) = struct.unpack("<I", b[i + 4 : i + 8])
                    if cid == b"data":
                        samples = list(
                            struct.unpack(
                                f"<{size // 2}h", b[i + 8 : i + 8 + size]
                            )
                        )
                    i += 8 + size + (size & 1)
                for idx, v in enumerate(samples):
                    ids.append(int(doc_id))
                    idxs.append(idx)
                    vals.append(int(v))
            yield pd.DataFrame({"doc_id": ids, "i": idxs, "sample": vals})

    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("i", LongType()),
            StructField("sample", LongType()),
        ]
    )
    return media.mapInPandas(explode, schema)


# ---------------------------------------------------------------------------
# REAL PNG codec — pure stdlib (zlib) + numpy. PNG's "compression" is
# zlib over per-scanline filtered bytes (spec §6), so a genuine
# compressed-format decode needs no media library at all: inflate the
# IDAT stream and invert the five scanline filters (None/Sub/Up/
# Average/Paeth). Supports 8-bit truecolor (type 2) and truecolor +
# alpha (type 6), non-interlaced — the dominant shapes in training
# corpora. JPEG stays an honest NotImplementedError (DCT entropy
# decode genuinely needs libjpeg).
# ---------------------------------------------------------------------------

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_chunk(tag: bytes, data: bytes) -> bytes:
    import zlib

    return (
        struct.pack(">I", len(data))
        + tag
        + data
        + struct.pack(">I", zlib.crc32(tag + data))
    )


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def _png_filter_block(
    flat: np.ndarray, bpp: int, row_filters: list[int] | None = None
) -> bytes:
    """Filter one scanline block ((h, stride) int64 raw bytes) into
    the PNG wire form: per-row filter-type byte + filtered bytes, the
    spec's mod-256 byte arithmetic. ``row_filters`` defaults to
    cycling 0..4 so every filter is exercised. Shared by the plain,
    16-bit, and per-Adam7-pass encoders (each interlace pass filters
    independently with its own prior row, spec 8.2)."""
    h, stride = flat.shape
    if row_filters is None:
        row_filters = [y % 5 for y in range(h)]
    out = bytearray()
    prior = np.zeros(stride, dtype=np.int64)
    for y in range(h):
        raw = flat[y]
        ft = row_filters[y]
        filt = np.empty(stride, dtype=np.int64)
        for x in range(stride):
            left = raw[x - bpp] if x >= bpp else 0
            up = prior[x]
            ul = prior[x - bpp] if x >= bpp else 0
            if ft == 0:
                pred = 0
            elif ft == 1:
                pred = left
            elif ft == 2:
                pred = up
            elif ft == 3:
                pred = (left + up) // 2
            else:
                pred = _paeth(int(left), int(up), int(ul))
            filt[x] = (raw[x] - pred) % 256
        out.append(ft)
        out += bytes(filt.astype(np.uint8))
        prior = raw
    return bytes(out)


def encode_png(
    px: np.ndarray,
    alpha: np.ndarray | None = None,
    row_filters: list[int] | None = None,
) -> bytes:
    """(h, w, 3) uint8 (+ optional (h, w) alpha -> color type 6) to a
    spec-valid PNG. ``row_filters`` picks the filter type per scanline
    (default: cycle 0..4 so every filter is exercised); filtering is
    the spec's byte arithmetic mod 256, so any PNG reader round-trips
    the exact pixels."""
    import zlib

    h, w, _ = px.shape
    if alpha is not None:
        img = np.dstack([px, alpha]).astype(np.uint8)
        ctype, bpp = 6, 4
    else:
        img = px.astype(np.uint8)
        ctype, bpp = 2, 3
    flat = img.reshape(h, w * bpp).astype(np.int64)
    out = _png_filter_block(flat, bpp, row_filters)
    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(out))
        + _png_chunk(b"IEND", b"")
    )


# Adam7 pass grid (PNG spec 8.2): (x_start, y_start, x_step, y_step).
_ADAM7 = (
    (0, 0, 8, 8),
    (4, 0, 8, 8),
    (0, 4, 4, 8),
    (2, 0, 4, 4),
    (0, 2, 2, 4),
    (1, 0, 2, 2),
    (0, 1, 1, 2),
)


def encode_png_adam7(px: np.ndarray) -> bytes:
    """(h, w, 3) uint8 to a spec-valid Adam7-INTERLACED truecolor PNG
    (round 8): seven sub-images in pass order, each filtered
    independently (filters cycle 0..4 within the pass), empty passes
    contributing zero bytes (spec 8.2)."""
    import zlib

    h, w, _ = px.shape
    img = px.astype(np.int64)
    out = bytearray()
    for x0, y0, xs, ys in _ADAM7:
        sub = img[y0::ys, x0::xs]
        ph, pw = sub.shape[0], sub.shape[1]
        if ph == 0 or pw == 0:
            continue
        out += _png_filter_block(sub.reshape(ph, pw * 3), 3)
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 1)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(out)))
        + _png_chunk(b"IEND", b"")
    )


def encode_png16(
    px16: np.ndarray, row_filters: list[int] | None = None
) -> bytes:
    """(h, w, 3) uint16 to a spec-valid 16-bit-channel truecolor PNG
    (round 8): big-endian samples, filters over BYTES with bpp=6
    (spec 7.2: filtering is byte-wise regardless of bit depth)."""
    import zlib

    h, w, _ = px16.shape
    be = px16.astype(">u2").tobytes()
    flat = (
        np.frombuffer(be, dtype=np.uint8)
        .reshape(h, w * 6)
        .astype(np.int64)
    )
    out = _png_filter_block(flat, 6, row_filters)
    ihdr = struct.pack(">IIBBBBB", w, h, 16, 2, 0, 0, 0)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(out))
        + _png_chunk(b"IEND", b"")
    )


def _png_unfilter_block(
    raw: bytes, pos: int, ph: int, stride: int, bpp: int
) -> tuple[np.ndarray, int]:
    """Unfilter ``ph`` scanlines of ``stride`` bytes starting at
    ``pos`` in the inflated stream; returns ((ph, stride) int64 bytes,
    next position). Shared by the sequential whole-image path and the
    per-Adam7-pass path (each pass unfilters independently with its
    own zeroed prior row, spec 8.2)."""
    if len(raw) < pos + ph * (stride + 1):
        raise ValueError("truncated PNG scanline data")
    px = np.zeros((ph, stride), dtype=np.int64)
    prior = np.zeros(stride, dtype=np.int64)
    for y in range(ph):
        ft = raw[pos]
        pos += 1
        line = np.frombuffer(
            raw, dtype=np.uint8, count=stride, offset=pos
        ).astype(np.int64)
        pos += stride
        if ft == 0:
            recon = line
        elif ft == 2:
            recon = (line + prior) % 256
        else:
            recon = np.empty(stride, dtype=np.int64)
            for x in range(stride):
                left = recon[x - bpp] if x >= bpp else 0
                up = prior[x]
                ul = prior[x - bpp] if x >= bpp else 0
                if ft == 1:
                    pred = left
                elif ft == 3:
                    pred = (left + up) // 2
                elif ft == 4:
                    pred = _paeth(int(left), int(up), int(ul))
                else:
                    raise ValueError(f"bad PNG filter type {ft}")
                recon[x] = (line[x] + pred) % 256
        px[y] = recon
        prior = recon
    return px, pos


def _png_block_to_rgb(
    px: np.ndarray,
    pw: int,
    ctype: int,
    depth: int,
    palette: np.ndarray | None,
) -> np.ndarray:
    """Unfiltered scanline bytes ((ph, stride) int64) of a ``pw``-wide
    (sub-)image to (ph, pw, 3) uint8. 16-bit samples are reduced to
    their HIGH byte (the libpng 16->8 strip convention; big-endian, so
    the high byte is the first of each pair)."""
    ph = px.shape[0]
    if ctype == 3:
        packed = px.astype(np.uint8)
        stride = px.shape[1]
        if depth == 8:
            idx = packed[:, :pw]
        else:
            # MSB-first sub-byte unpacking (PNG spec 7.2), trimmed
            # to width (trailing pad bits in the last byte ignored)
            bits = np.unpackbits(packed, axis=1)
            per = 8 // depth
            idx = np.zeros((ph, stride * per), dtype=np.uint8)
            for k in range(depth):
                idx = (idx << 1) | bits[:, k::depth][:, : stride * per]
            idx = idx[:, :pw]
        if int(idx.max(initial=0)) >= len(palette):
            raise ValueError("palette index out of range")
        return palette[idx]
    channels = 4 if ctype == 6 else (3 if ctype == 2 else 1)
    if depth == 16:
        px = px[:, 0::2]  # high byte of each big-endian sample pair
    out = px.reshape(ph, pw, channels).astype(np.uint8)
    if ctype == 0:
        return np.repeat(out, 3, axis=2)
    return out[:, :, :3]


def _decode_png_pixels(b: bytes) -> np.ndarray:
    """(h, w, 3) uint8 from a real PNG: chunk walk, zlib inflate of the
    concatenated IDAT stream, and per-scanline unfiltering (the spec's
    five filters). Color types 2 (RGB) and 6 (RGBA, alpha dropped —
    same convention as the BMP decoder) and 0 (grayscale) at bit
    depths 8 AND 16 (16-bit stripped to the high byte), palette (3)
    at depths 1/2/4/8, sequential AND Adam7-interlaced (round 8)."""
    import zlib

    if b[:8] != _PNG_SIG:
        raise ValueError("not a PNG")
    i = 8
    w = h = None
    bpp = None
    depth = ctype = None
    interlace = 0
    palette = None
    idat = bytearray()
    while i + 8 <= len(b):
        (size,) = struct.unpack(">I", b[i : i + 4])
        tag = b[i + 4 : i + 8]
        data = b[i + 8 : i + 8 + size]
        if tag == b"IHDR":
            w, h, depth, ctype, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", data
            )
            # real tiers: truecolor (2), truecolor+alpha (6), and
            # grayscale (0) at depths 8 and 16; palette (3) at ALL
            # legal palette depths 1/2/4/8; sequential and Adam7
            if ctype in (0, 2, 6):
                if depth not in (8, 16):
                    raise NotImplementedError(
                        f"PNG bit depth {depth} for color type {ctype}"
                        " (8/16-bit only)"
                    )
                channels = 4 if ctype == 6 else (3 if ctype == 2 else 1)
                bpp = channels * (depth // 8)
            elif ctype == 3:
                if depth not in (1, 2, 4, 8):
                    raise NotImplementedError(
                        f"PNG palette bit depth {depth}"
                    )
                bpp = 1  # filters operate on bytes; depth < 8 packs
            else:
                raise NotImplementedError(
                    f"PNG color type {ctype} (gray-alpha out)"
                )
            if comp != 0 or filt != 0 or interlace not in (0, 1):
                raise NotImplementedError(
                    "nonzero compression/filter method or unknown "
                    "interlace method"
                )
        elif tag == b"PLTE":
            palette = np.frombuffer(data, dtype=np.uint8).reshape(-1, 3)
        elif tag == b"IDAT":
            idat += data
        elif tag == b"IEND":
            break
        i += 12 + size  # len + tag + data + crc
    if w is None or bpp is None:
        raise ValueError("no IHDR chunk")
    if ctype == 3 and palette is None:
        raise ValueError("palette PNG without PLTE chunk")
    raw = zlib.decompress(bytes(idat))

    def stride_for(pw: int) -> int:
        if ctype == 3:
            return -(-(pw * depth) // 8)  # packed bytes per scanline
        return pw * bpp

    if interlace == 0:
        px, _ = _png_unfilter_block(raw, 0, h, stride_for(w), bpp)
        return _png_block_to_rgb(px, w, ctype, depth, palette)
    # Adam7: seven independently-filtered sub-images in pass order;
    # empty passes contribute zero bytes (spec 8.2)
    out = np.zeros((h, w, 3), dtype=np.uint8)
    pos = 0
    for x0, y0, xs, ys in _ADAM7:
        pw = len(range(x0, w, xs))
        ph = len(range(y0, h, ys))
        if pw == 0 or ph == 0:
            continue
        px, pos = _png_unfilter_block(raw, pos, ph, stride_for(pw), bpp)
        out[y0::ys, x0::xs] = _png_block_to_rgb(
            px, pw, ctype, depth, palette
        )
    return out


_PIXEL_DECODERS["image/png"] = _decode_png_pixels


def gradient_png_image(doc_id: int) -> tuple[str, bytes]:
    """Deterministic gradient PNG for the oracle gate: w = 1 + id % 8,
    h = 1 + (id // 8) % 6, channel c(x, y) = (id * kc + 3x + 5y) % 256
    with kc in (1, 7, 13); odd ids add an alpha plane (dropped on
    decode). Row filters cycle 0..4, so the gate exercises every
    scanline filter against nontrivial gradients."""
    w = 1 + doc_id % 8
    h = 1 + (doc_id // 8) % 6
    xs = np.arange(w, dtype=np.int64)
    ys = np.arange(h, dtype=np.int64)
    grid = 3 * xs[None, :] + 5 * ys[:, None]
    px = np.dstack(
        [(doc_id * k + grid) % 256 for k in (1, 7, 13)]
    ).astype(np.uint8)
    alpha = (
        ((doc_id + grid) % 256).astype(np.uint8) if doc_id % 2 == 1 else None
    )
    return "image/png", encode_png(px, alpha=alpha)


def encode_palette_png(
    idx: np.ndarray,
    palette: np.ndarray,
    depth: int = 8,
    row_filters: list[int] | None = None,
) -> bytes:
    """(h, w) palette indices (< 2^depth) + (n, 3) palette -> a
    spec-valid color-type-3 PNG at depth 1/2/4/8: MSB-first bit
    packing per scanline (spec 7.2), then the same five-filter byte
    arithmetic as ``encode_png`` with bpp = 1 (filters always operate
    on packed BYTES). Default filters cycle 0..4."""
    import zlib

    h, w = idx.shape
    if depth == 8:
        packed = idx.astype(np.uint8)
    else:
        per = 8 // depth
        padw = -(-w // per) * per
        wide = np.zeros((h, padw), dtype=np.uint8)
        wide[:, :w] = idx.astype(np.uint8)
        bits = np.zeros((h, padw * depth), dtype=np.uint8)
        for k in range(depth):
            bits[:, k::depth] = (wide >> (depth - 1 - k)) & 1
        packed = np.packbits(bits, axis=1)
    stride = packed.shape[1]
    flat = packed.astype(np.int64)
    if row_filters is None:
        row_filters = [y % 5 for y in range(h)]
    out = bytearray()
    prior = np.zeros(stride, dtype=np.int64)
    for y in range(h):
        raw = flat[y]
        ft = row_filters[y]
        filt = np.empty(stride, dtype=np.int64)
        for x in range(stride):
            left = raw[x - 1] if x >= 1 else 0
            up = prior[x]
            ul = prior[x - 1] if x >= 1 else 0
            if ft == 0:
                pred = 0
            elif ft == 1:
                pred = left
            elif ft == 2:
                pred = up
            elif ft == 3:
                pred = (left + up) // 2
            else:
                pred = _paeth(int(left), int(up), int(ul))
            filt[x] = (raw[x] - pred) % 256
        out.append(ft)
        out += bytes(filt.astype(np.uint8))
        prior = raw
    ihdr = struct.pack(">IIBBBBB", w, h, depth, 3, 0, 0, 0)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"PLTE", palette.astype(np.uint8).tobytes())
        + _png_chunk(b"IDAT", zlib.compress(bytes(out)))
        + _png_chunk(b"IEND", b"")
    )


def palette_png_image(doc_id: int) -> tuple[str, bytes]:
    """Deterministic palette PNG for the oracle gate: w = 2 + id % 7,
    h = 2 + (id // 7) % 5; bit depth by id % 3 (0 -> 4-bit/16 colors,
    1 -> 8-bit/256, 2 -> 2-bit/4 colors — every sub-byte packer and
    the full-byte path under one gate); index(x, y) =
    (id + 3x + 5y) % n_colors; palette entry i =
    (i, 7i % 256, 13i % 256). Filters cycle 0..4 per scanline."""
    w = 2 + doc_id % 7
    h = 2 + (doc_id // 7) % 5
    depth = {0: 4, 1: 8, 2: 2}[doc_id % 3]
    n_colors = 1 << depth
    xs = np.arange(w, dtype=np.int64)
    ys = np.arange(h, dtype=np.int64)
    idx = (doc_id + 3 * xs[None, :] + 5 * ys[:, None]) % n_colors
    i = np.arange(n_colors, dtype=np.int64)
    palette = np.stack([i % 256, (7 * i) % 256, (13 * i) % 256], axis=1)
    return "image/png", encode_palette_png(idx, palette, depth=depth)


attach_real_palette_png_payload = _attach_payload_fn(palette_png_image)


attach_real_png_payload = _attach_payload_fn(gradient_png_image)


# ---------------------------------------------------------------------------
# REAL GIF codec — pure stdlib + numpy. GIF's compression is variable-
# width LZW (spec 89a appendix F) over palette indices, so a genuine
# compressed-format decode needs a real LZW implementation: variable
# code widths (cs+1 up to 12 bits, LSB-first bit packing), CLEAR/EOI
# control codes, the KwKwK missing-entry case, and the width bump when
# the next free slot reaches 2^width — the exact rules libgif pairs.
# The decoder is pinned against the canonical spec example bytes (the
# 1x1 white GIF every GIF text quotes), so the encoder cannot hide a
# mutually-cancelling bug behind a round-trip test. 8-bit global
# palette, single image, no interlace — the training-corpus shape.
# ---------------------------------------------------------------------------

_GIF_MAX_WIDTH = 12

# FLAC fixed-predictor coefficients by order (newest sample first) —
# ONE table shared by the decoder's reconstruction and the fixture
# encoder's residual computation, so the codec cannot silently
# diverge from its own fixtures
_FLAC_FIXED_COEFFS = [[], [1], [2, -1], [3, -3, 1], [4, -6, 4, -1]]


def _flac_fixed_predict(hist: list, order: int, n: int) -> int:
    """Prediction for position n from the ``order`` previous samples
    of ``hist`` using the shared coefficient table."""
    return sum(
        c * hist[n - 1 - j] for j, c in enumerate(_FLAC_FIXED_COEFFS[order])
    )


def _gif_lzw_compress(indices: bytes, cs: int) -> bytes:
    """GIF-variant LZW: emit CLEAR, then codes of growing width;
    width bumps when the next free slot reaches 2^width; table reset
    via CLEAR at 4096. LSB-first bit packing (spec appendix F)."""
    clear, eoi = 1 << cs, (1 << cs) + 1
    out = bytearray()
    acc = 0
    nbits = 0

    def emit(code: int, width: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    width = cs + 1
    table: dict[bytes, int] = {bytes([i]): i for i in range(1 << cs)}
    next_code = eoi + 1
    emit(clear, width)
    w = b""
    for ch in indices:
        wk = w + bytes([ch])
        if wk in table:
            w = wk
            continue
        emit(table[w], width)
        if next_code < (1 << _GIF_MAX_WIDTH):
            table[wk] = next_code
            next_code += 1
            # the DECODER's table lags one entry behind (it inserts
            # after READING the next code), so the encoder must widen
            # one insert later than its own table size suggests:
            # when next_code passes 2^width, not when it reaches it
            if next_code == (1 << width) + 1 and width < _GIF_MAX_WIDTH:
                width += 1
        else:
            emit(clear, width)
            table = {bytes([i]): i for i in range(1 << cs)}
            next_code = eoi + 1
            width = cs + 1
        w = bytes([ch])
    if w:
        emit(table[w], width)
    emit(eoi, width)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def _gif_lzw_decompress(data: bytes, cs: int) -> bytes:
    """Inverse of the GIF LZW stream: real variable-width decode with
    CLEAR/EOI handling and the KwKwK case (a code equal to the next
    free slot references the string being defined: prev + prev[0])."""
    clear, eoi = 1 << cs, (1 << cs) + 1
    width = cs + 1
    table: dict[int, bytes] = {i: bytes([i]) for i in range(1 << cs)}
    next_code = eoi + 1
    out = bytearray()
    prev: bytes | None = None
    acc = 0
    nbits = 0
    pos = 0
    while True:
        while nbits < width:
            if pos >= len(data):
                return bytes(out)  # missing EOI: tolerate truncation
            acc |= data[pos] << nbits
            nbits += 8
            pos += 1
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        if code == clear:
            table = {i: bytes([i]) for i in range(1 << cs)}
            next_code = eoi + 1
            width = cs + 1
            prev = None
            continue
        if code == eoi:
            return bytes(out)
        if prev is None:
            if code not in table:
                raise ValueError(f"corrupt LZW stream: code {code}")
            entry = table[code]
        elif code in table:
            entry = table[code]
        elif code == next_code:
            entry = prev + prev[:1]  # KwKwK
        else:
            raise ValueError(f"corrupt LZW stream: code {code}")
        if prev is not None and next_code < (1 << _GIF_MAX_WIDTH):
            table[next_code] = prev + entry[:1]
            next_code += 1
            if next_code == (1 << width) and width < _GIF_MAX_WIDTH:
                width += 1
        out += entry
        prev = entry


def encode_gif(idx: np.ndarray, palette: np.ndarray) -> bytes:
    """(h, w) uint8 palette indices + (256, 3) palette -> spec-valid
    GIF89a with a global color table and a real LZW-compressed image
    block (sub-block framed)."""
    h, w = idx.shape
    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", w, h)
    out.append(0xF7)  # global table, 8 bits/entry, 256 entries
    out += b"\x00\x00"  # background index, aspect
    out += palette.astype(np.uint8).tobytes()
    out += b"\x2c" + struct.pack("<HHHH", 0, 0, w, h) + b"\x00"
    cs = 8
    out.append(cs)
    lzw = _gif_lzw_compress(idx.reshape(-1).astype(np.uint8).tobytes(), cs)
    for i in range(0, len(lzw), 255):
        block = lzw[i : i + 255]
        out.append(len(block))
        out += block
    out += b"\x00\x3b"
    return bytes(out)


def _parse_gif(b: bytes) -> dict:
    if len(b) < 13 or b[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF")
    w, h = struct.unpack("<HH", b[6:10])
    return {"width": w, "height": h}


def _decode_gif_pixels(b: bytes) -> np.ndarray:
    """REAL GIF decode: global color table + LZW-decompressed palette
    indices -> (h, w, 3) uint8 RGB. Single non-interlaced image with
    a global table (the encoder's shape); extensions are skipped."""
    meta = _parse_gif(b)
    packed = b[10]
    if not packed & 0x80:
        raise ValueError("GIF without a global color table")
    table_len = 2 << (packed & 0x07)
    pos = 13
    palette = np.frombuffer(
        b[pos : pos + 3 * table_len], dtype=np.uint8
    ).reshape(table_len, 3)
    pos += 3 * table_len
    while pos < len(b):
        marker = b[pos]
        if marker == 0x21:  # extension: label + sub-blocks
            pos += 2
            while b[pos] != 0:
                pos += 1 + b[pos]
            pos += 1
        elif marker == 0x2C:
            left, top, w, h = struct.unpack("<HHHH", b[pos + 1 : pos + 9])
            lpacked = b[pos + 9]
            if lpacked & 0x80:
                raise ValueError("local color tables not supported")
            if lpacked & 0x40:
                raise ValueError("interlaced GIFs not supported")
            pos += 10
            cs = b[pos]
            pos += 1
            lzw = bytearray()
            while b[pos] != 0:
                n = b[pos]
                lzw += b[pos + 1 : pos + 1 + n]
                pos += 1 + n
            indices = np.frombuffer(
                _gif_lzw_decompress(bytes(lzw), cs)[: w * h], dtype=np.uint8
            )
            return palette[indices.reshape(h, w)]
        elif marker == 0x3B:
            break
        else:
            raise ValueError(f"unexpected GIF block 0x{marker:02x}")
    raise ValueError("no image block in GIF")


_HEADER_DECODERS["image/gif"] = _parse_gif
_PIXEL_DECODERS["image/gif"] = _decode_gif_pixels


def gradient_gif_image(doc_id: int) -> tuple[str, bytes]:
    """Deterministic gradient GIF for the oracle gate: w = 16 + id %
    16, h = 12 + (id // 16) % 8 (192-589 pixels; the larger ids grow
    the LZW code width past its initial 9 bits — the width-bump path
    itself is separately pinned by the codec unit tests for every
    size); palette entry i = (i, 7i % 256, 13i % 256);
    pixel index (x, y) = (id + 3x + 5y) % 256 — channel sums are
    SQL-predictable from the composed formulas."""
    w = 16 + doc_id % 16
    h = 12 + (doc_id // 16) % 8
    xs = np.arange(w, dtype=np.int64)
    ys = np.arange(h, dtype=np.int64)
    idx = ((doc_id + 3 * xs[None, :] + 5 * ys[:, None]) % 256).astype(
        np.uint8
    )
    i = np.arange(256, dtype=np.int64)
    palette = np.stack([i % 256, (7 * i) % 256, (13 * i) % 256], axis=1)
    return "image/gif", encode_gif(idx, palette)


attach_real_gif_payload = _attach_payload_fn(gradient_gif_image)


# ---------------------------------------------------------------------------
# REAL baseline JPEG decode — DC-only tier. A full baseline decoder
# needs the AC coefficient path through an IDCT (that's what libjpeg
# is for, and IDCT implementations are not bit-identical across
# decoders anyway); but the ENTROPY layer — marker segments, DQT/DHT
# parsing, canonical Huffman decode, DC prediction chain, byte
# unstuffing — is pure integer arithmetic, so a DC-only baseline JPEG
# (every 8x8 block constant: all AC coefficients zero) decodes
# EXACTLY: IDCT of a lone DC is flat dc*q00/8, and with q00 = 8 the
# whole pipeline is integers end to end. The decoder is a real T.81
# reader for this profile and raises honestly the moment a nonzero AC
# coefficient, color scan, or progressive frame appears.
# ---------------------------------------------------------------------------

# ITU T.81 Annex K.3.3.1/2 — the standard luminance Huffman tables
_JPEG_DC_BITS = (0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
_JPEG_DC_VALS = tuple(range(12))
_JPEG_AC_BITS = (0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D)
_JPEG_AC_VALS = (
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
    0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
    0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
    0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
    0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
    0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
    0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
    0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
    0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
)


def _huff_canonical(bits: tuple, vals: tuple) -> dict:
    """T.81 C.2: canonical (code, length) -> value table."""
    table = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[(length, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return table


def _huff_encode_map(bits: tuple, vals: tuple) -> dict:
    return {v: (ln, c) for (ln, c), v in _huff_canonical(bits, vals).items()}


def _jpeg_put_dc(bw: "_JpegBitWriter", dc_map: dict, diff: int) -> None:
    """One Huffman-coded DC difference: the size category's code, then
    the amplitude bits (T.81 F.1.2.1; negatives as diff - 1)."""
    size = abs(diff).bit_length()
    ln, code = dc_map[size]
    bw.put(code, ln)
    if size:
        bw.put(diff if diff > 0 else diff + (1 << size) - 1, size)


def _jpeg_seg(marker: int, payload: bytes) -> bytes:
    """One marker segment: FF marker, big-endian length (+2), payload."""
    return bytes([0xFF, marker]) + struct.pack(">H", len(payload) + 2) + payload


# DHT body carrying the Annex K baseline tables (DC and AC, table 0)
_JPEG_BASELINE_DHT = (
    bytes([0x00]) + bytes(_JPEG_DC_BITS) + bytes(_JPEG_DC_VALS)
    + bytes([0x10]) + bytes(_JPEG_AC_BITS) + bytes(_JPEG_AC_VALS)
)


class _JpegBitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, value: int, length: int) -> None:
        self.acc = (self.acc << length) | (value & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            byte = (self.acc >> (self.n - 8)) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:
                self.out.append(0x00)  # byte stuffing
            self.n -= 8

    def flush(self) -> bytes:
        if self.n:
            pad = 8 - self.n
            self.put((1 << pad) - 1, pad)  # 1-fill per spec F.1.2.3
        return bytes(self.out)


def encode_jpeg_dc(
    y: np.ndarray,
    cb: np.ndarray | None = None,
    cr: np.ndarray | None = None,
    *,
    hv: tuple[int, int] = (1, 1),
    q00: int = 8,
) -> bytes:
    """Block-constant planes -> spec-valid DC-only baseline JFIF
    (standard Annex K Huffman tables): each 8x8 block encodes its DC
    diff plus an AC end-of-block, nothing else.

    Grayscale when only ``y`` is given. Otherwise one interleaved
    Y/Cb/Cr scan with luma sampling ``hv`` = (H, V) and 1x1 chroma:
    y is (h, w) with h a multiple of 8V and w of 8H; cb/cr are
    (h/V, w/H). Each MCU is H x V luma blocks in raster order, then
    Cb, then Cr, with per-component DC predictor chains. (1, 1),
    (2, 2), (2, 1), (4, 1) and (1, 2) are 4:4:4, 4:2:0, 4:2:2, 4:1:1
    and 4:4:0."""
    hs, vs = hv
    planes = (y,) if cb is None else (y, cb, cr)
    n = len(planes)
    if n == 1 and hv != (1, 1):
        raise ValueError("grayscale DC-only fixture takes hv=(1, 1)")
    h, w = y.shape
    if h % (8 * vs) or w % (8 * hs):
        raise ValueError(
            f"DC-only fixture with {hs}x{vs} luma sampling needs "
            f"h%{8 * vs}==0 and w%{8 * hs}==0 dims"
        )
    dc_map = _huff_encode_map(_JPEG_DC_BITS, _JPEG_DC_VALS)
    eob_ln, eob = _huff_encode_map(_JPEG_AC_BITS, _JPEG_AC_VALS)[0x00]
    bw = _JpegBitWriter()
    preds = [0] * n

    def put_block(ci: int, v: int) -> None:
        dc = (8 * (v - 128)) // q00
        _jpeg_put_dc(bw, dc_map, dc - preds[ci])
        preds[ci] = dc
        bw.put(eob, eob_ln)

    for my in range(h // (8 * vs)):
        for mx in range(w // (8 * hs)):
            for by in range(my * vs, my * vs + vs):
                for bx in range(mx * hs, mx * hs + hs):
                    put_block(0, int(y[by * 8, bx * 8]))
            for ci in range(1, n):
                put_block(ci, int(planes[ci][my * 8, mx * 8]))
    scan = bw.flush()

    comps = bytes([1, (hs << 4) | vs, 0])
    comps += b"".join(bytes([ci, 0x11, 0]) for ci in range(2, n + 1))
    sof = struct.pack(">BHHB", 8, h, w, n) + comps
    sos = bytes([n])
    sos += b"".join(bytes([ci, 0x00]) for ci in range(1, n + 1))
    return (
        b"\xff\xd8"
        + _jpeg_seg(0xDB, bytes([0x00]) + bytes([q00] * 64))
        + _jpeg_seg(0xC0, sof)
        + _jpeg_seg(0xC4, _JPEG_BASELINE_DHT)
        + _jpeg_seg(0xDA, sos + bytes([0, 63, 0]))
        + scan
        + b"\xff\xd9"
    )


class _JpegBitReader:
    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0
        self.acc = 0
        self.n = 0

    def bit(self) -> int:
        if self.n == 0:
            if self.pos >= len(self.data):
                raise ValueError("JPEG scan truncated")
            byte = self.data[self.pos]
            self.pos += 1
            if byte == 0xFF:
                nxt = self.data[self.pos] if self.pos < len(self.data) else None
                if nxt == 0x00:
                    self.pos += 1  # unstuff
                elif nxt is None:
                    raise ValueError("JPEG scan truncated at 0xFF")
                else:
                    raise ValueError(f"unexpected marker in scan: FF {nxt:02x}")
            self.acc = byte
            self.n = 8
        self.n -= 1
        return (self.acc >> self.n) & 1

    def bits(self, k: int) -> int:
        v = 0
        for _ in range(k):
            v = (v << 1) | self.bit()
        return v

    def huff(self, table: dict) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | self.bit()
            if (length, code) in table:
                return table[(length, code)]
        raise ValueError("invalid Huffman code")

    def consume_restart(self, expect: int) -> None:
        """Byte-align and consume the RSTn marker between restart
        intervals, verifying the 0-7 cycle number."""
        self.n = 0  # drop the 1-padding bits of the interval
        if self.pos + 2 > len(self.data):
            raise ValueError("JPEG scan truncated at restart")
        m0, m1 = self.data[self.pos], self.data[self.pos + 1]
        if m0 != 0xFF or not (0xD0 <= m1 <= 0xD7):
            raise ValueError(
                f"expected restart marker, found {m0:02x}{m1:02x}"
            )
        if (m1 & 0x07) != expect:
            raise ValueError("restart marker out of sequence")
        self.pos += 2


def _jpeg_extend(amp: int, size: int) -> int:
    # T.81 F.2.2.1 EXTEND: amplitudes with a 0 high bit are negative
    if size == 0:
        return 0
    return amp if amp >= (1 << (size - 1)) else amp - (1 << size) + 1


def decode_jpeg_dc(b: bytes) -> np.ndarray:
    """REAL T.81 baseline decode of the DC-only profile: walks the
    marker stream, parses DQT/SOF0/DHT/SOS, Huffman-decodes every
    block's DC diff through the canonical tables with byte
    unstuffing, and reconstructs each flat block as dc*q00/8 + 128 —
    exact integers for the fixtures' q00 = 8. Grayscale AND
    interleaved 3-component (1x1 sampling) scans are supported; color
    converts YCbCr -> RGB in libjpeg-style 2^16 fixed point
    (R = Y + fd(91881*Cr'), B = Y + fd(116130*Cb'),
    G = Y + fd(-22554*Cb' - 46802*Cr'), each + 32768 rounding, Cb'/
    Cr' centered at 128, clamped) — deterministic integers end to
    end, which is what lets an SQL oracle replay the conversion.
    4:2:0 subsampled scans decode too (4 Y + Cb + Cr per macroblock,
    chroma upsampled by exact 2x2 replication — T.81 leaves the
    filter to the decoder). AC coefficients decode for REAL through
    the full entropy layer — zigzag, (run, size) symbols, ZRL, EOB —
    into the module's DEFINED fixed-point integer IDCT (see the
    _IDCT_W table note: T.81 permits IDCT variance; ours is exact
    int64 and oracle-replayable, and reproduces the flat-block
    fixtures bit-for-bit). Restart intervals decode (DRI + byte-aligned RSTn cycle
    verification, DC predictors reset per interval). 4:1:1 and 4:4:0
    sampled scans decode too (horizontal-only 4x / vertical-only 2x
    chroma replication). Progressive (SOF2) frames dispatch to the
    multi-scan decoder. Still honestly out of scope: arithmetic
    coding, hierarchical/lossless frames, 12-bit precision."""
    if b[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG")
    i = 2
    qtables: dict[int, bytes] = {}
    htables: dict[tuple[int, int], dict] = {}
    dims = None
    comps: list = []
    scan_tables = None
    dri = 0
    while i + 4 <= len(b):
        if b[i] != 0xFF:
            raise ValueError("marker expected")
        marker = b[i + 1]
        (seg_len,) = struct.unpack(">H", b[i + 2 : i + 4])
        payload = b[i + 4 : i + 2 + seg_len]
        i += 2 + seg_len
        if marker == 0xDB:
            p = 0
            while p < len(payload):
                pq, tq = payload[p] >> 4, payload[p] & 0x0F
                if pq != 0:
                    raise NotImplementedError("16-bit quant tables")
                qtables[tq] = payload[p + 1 : p + 65]
                p += 65
        elif marker == 0xC4:
            p = 0
            while p < len(payload):
                tc, th = payload[p] >> 4, payload[p] & 0x0F
                bits = tuple(payload[p + 1 : p + 17])
                nvals = sum(bits)
                vals = tuple(payload[p + 17 : p + 17 + nvals])
                htables[(tc, th)] = _huff_canonical(bits, vals)
                p += 17 + nvals
        elif marker == 0xC0:
            h, w = struct.unpack(">HH", payload[1:5])
            ncomp = payload[5]
            if ncomp not in (1, 3):
                raise NotImplementedError(f"{ncomp}-component JPEG")
            comps = []
            for c in range(ncomp):
                cid, samp, tq = payload[6 + 3 * c : 9 + 3 * c]
                comps.append((cid, tq, samp >> 4, samp & 0x0F))
            samplings = [(hc, vc) for _, _, hc, vc in comps]
            if samplings not in (
                [(1, 1)],
                [(1, 1)] * 3,
                [(2, 2), (1, 1), (1, 1)],
                [(2, 1), (1, 1), (1, 1)],
                [(4, 1), (1, 1), (1, 1)],
                [(1, 2), (1, 1), (1, 1)],
            ):
                raise NotImplementedError(
                    f"unsupported sampling layout {samplings} (1x1, "
                    "4:2:0, 4:2:2, 4:1:1 and 4:4:0 supported; others "
                    "need libjpeg)"
                )
            dims = (h, w)
        elif marker == 0xC2:
            # progressive DCT frame: restart the walk in the
            # multi-scan decoder (spectral selection + successive
            # approximation need per-scan coefficient accumulation)
            return _decode_jpeg_progressive(b)
        elif marker in (0xC1, 0xC3, 0xC5, 0xC6, 0xC7):
            raise NotImplementedError(
                "only baseline sequential + progressive JPEG"
            )
        elif marker == 0xDD:
            (dri,) = struct.unpack(">H", payload[0:2])
        elif marker == 0xDA:
            ns = payload[0]
            scan_tables = []
            for c in range(ns):
                td_ta = payload[2 + 2 * c]
                scan_tables.append(
                    (htables[(0, td_ta >> 4)], htables[(1, td_ta & 0x0F)])
                )
            scan_start = i
            break
    if dims is None or scan_tables is None:
        raise ValueError("incomplete JPEG header")
    h, w = dims
    end = b.rfind(b"\xff\xd9")
    reader = _JpegBitReader(b[scan_start:end])
    ncomp = len(comps)

    def read_block(ci: int) -> np.ndarray:
        """Full baseline block decode: DC diff + AC run/size symbols
        (ZRL, EOB) through the zigzag order, dequantized with the
        component's table (DQT is stored in zigzag order too), then
        the defined integer IDCT. Returns the 8x8 pixel block.
        (``preds`` is reassigned by restart handling, so it is read
        through the enclosing scope each call.)"""
        scan_dc, scan_ac = scan_tables[ci]
        qt = qtables[comps[ci][1]]
        zz = [0] * 64
        size = reader.huff(scan_dc)
        preds[ci] += _jpeg_extend(reader.bits(size), size)
        zz[0] = preds[ci] * qt[0]
        k = 1
        while k < 64:
            rs = reader.huff(scan_ac)
            if rs == 0x00:  # EOB
                break
            if rs == 0xF0:  # ZRL: sixteen zeros
                k += 16
                if k > 64:
                    raise ValueError("AC run past block end")
                continue
            k += rs >> 4
            if k > 63:
                raise ValueError("AC run past block end")
            sz = rs & 0x0F
            zz[k] = _jpeg_extend(reader.bits(sz), sz) * qt[k]
            k += 1
        coef = np.zeros((8, 8), dtype=np.int64)
        flat = coef.reshape(-1)
        for kk in range(64):
            flat[_JPEG_ZIGZAG[kk]] = zz[kk]
        return np.clip(_idct_int(coef), 0, 255)

    preds = [0] * ncomp
    mcu_count = 0
    rst_cycle = 0

    def maybe_restart() -> None:
        # called BEFORE each MCU: every dri MCUs the stream carries a
        # byte-aligned RSTn marker and every DC predictor resets
        nonlocal mcu_count, rst_cycle, preds
        if dri and mcu_count and mcu_count % dri == 0:
            reader.consume_restart(rst_cycle)
            rst_cycle = (rst_cycle + 1) & 0x07
            preds = [0] * ncomp
        mcu_count += 1

    if ncomp == 3 and comps[0][2:] == (2, 2):
        # 4:2:0 — the dominant real-corpus layout: each interleaved
        # MCU covers a 16x16 luma macroblock as 4 Y blocks (2x2 in
        # raster order) + 1 Cb + 1 Cr; chroma is upsampled by 2x2
        # REPLICATION (a documented decoder choice — T.81 leaves the
        # upsampling filter to the implementation; replication keeps
        # the pipeline exact integers)
        mw, mh = -(-w // 16), -(-h // 16)
        y_plane = np.empty((mh * 16, mw * 16), dtype=np.int64)
        cb_p = np.empty((mh * 8, mw * 8), dtype=np.int64)
        cr_p = np.empty((mh * 8, mw * 8), dtype=np.int64)
        for my in range(mh):
            for mx in range(mw):
                maybe_restart()
                for blk in range(4):
                    oy = my * 16 + (blk // 2) * 8
                    ox = mx * 16 + (blk % 2) * 8
                    y_plane[oy : oy + 8, ox : ox + 8] = read_block(0)
                cb_p[my * 8 : my * 8 + 8, mx * 8 : mx * 8 + 8] = read_block(1)
                cr_p[my * 8 : my * 8 + 8, mx * 8 : mx * 8 + 8] = read_block(2)
        y = y_plane[:h, :w]
        cb = np.repeat(np.repeat(cb_p, 2, axis=0), 2, axis=1)[:h, :w] - 128
        cr = np.repeat(np.repeat(cr_p, 2, axis=0), 2, axis=1)[:h, :w] - 128
        r = y + ((91881 * cr + 32768) >> 16)
        g = y + ((-22554 * cb - 46802 * cr + 32768) >> 16)
        bl = y + ((116130 * cb + 32768) >> 16)
        return np.dstack([r, g, bl]).clip(0, 255).astype(np.uint8)

    if ncomp == 3 and comps[0][2:] == (2, 1):
        # 4:2:2 — each interleaved MCU covers a 16x8 luma strip as 2 Y
        # blocks side by side + 1 Cb + 1 Cr; chroma is upsampled by
        # HORIZONTAL replication only (vertical resolution is full)
        mw, mh = -(-w // 16), -(-h // 8)
        y_plane = np.empty((mh * 8, mw * 16), dtype=np.int64)
        cb_p = np.empty((mh * 8, mw * 8), dtype=np.int64)
        cr_p = np.empty((mh * 8, mw * 8), dtype=np.int64)
        for my in range(mh):
            for mx in range(mw):
                maybe_restart()
                for blk in range(2):
                    ox = mx * 16 + blk * 8
                    y_plane[my * 8 : my * 8 + 8, ox : ox + 8] = read_block(0)
                cb_p[my * 8 : my * 8 + 8, mx * 8 : mx * 8 + 8] = read_block(1)
                cr_p[my * 8 : my * 8 + 8, mx * 8 : mx * 8 + 8] = read_block(2)
        y = y_plane[:h, :w]
        cb = np.repeat(cb_p, 2, axis=1)[:h, :w] - 128
        cr = np.repeat(cr_p, 2, axis=1)[:h, :w] - 128
        r = y + ((91881 * cr + 32768) >> 16)
        g = y + ((-22554 * cb - 46802 * cr + 32768) >> 16)
        bl = y + ((116130 * cb + 32768) >> 16)
        return np.dstack([r, g, bl]).clip(0, 255).astype(np.uint8)

    if ncomp == 3 and comps[0][2:] == (4, 1):
        # 4:1:1 — the DV-camcorder layout: each interleaved MCU covers
        # a 32x8 luma strip as 4 Y blocks side by side + 1 Cb + 1 Cr;
        # chroma is upsampled by 4x HORIZONTAL replication only
        mw, mh = -(-w // 32), -(-h // 8)
        y_plane = np.empty((mh * 8, mw * 32), dtype=np.int64)
        cb_p = np.empty((mh * 8, mw * 8), dtype=np.int64)
        cr_p = np.empty((mh * 8, mw * 8), dtype=np.int64)
        for my in range(mh):
            for mx in range(mw):
                maybe_restart()
                for blk in range(4):
                    ox = mx * 32 + blk * 8
                    y_plane[my * 8 : my * 8 + 8, ox : ox + 8] = read_block(0)
                cb_p[my * 8 : my * 8 + 8, mx * 8 : mx * 8 + 8] = read_block(1)
                cr_p[my * 8 : my * 8 + 8, mx * 8 : mx * 8 + 8] = read_block(2)
        y = y_plane[:h, :w]
        cb = np.repeat(cb_p, 4, axis=1)[:h, :w] - 128
        cr = np.repeat(cr_p, 4, axis=1)[:h, :w] - 128
        r = y + ((91881 * cr + 32768) >> 16)
        g = y + ((-22554 * cb - 46802 * cr + 32768) >> 16)
        bl = y + ((116130 * cb + 32768) >> 16)
        return np.dstack([r, g, bl]).clip(0, 255).astype(np.uint8)

    if ncomp == 3 and comps[0][2:] == (1, 2):
        # 4:4:0 — the transposed-4:2:2 layout: each interleaved MCU
        # covers an 8x16 luma column as 2 Y blocks stacked + 1 Cb +
        # 1 Cr; chroma is upsampled by 2x VERTICAL replication only
        mw, mh = -(-w // 8), -(-h // 16)
        y_plane = np.empty((mh * 16, mw * 8), dtype=np.int64)
        cb_p = np.empty((mh * 8, mw * 8), dtype=np.int64)
        cr_p = np.empty((mh * 8, mw * 8), dtype=np.int64)
        for my in range(mh):
            for mx in range(mw):
                maybe_restart()
                for blk in range(2):
                    oy = my * 16 + blk * 8
                    y_plane[oy : oy + 8, mx * 8 : mx * 8 + 8] = read_block(0)
                cb_p[my * 8 : my * 8 + 8, mx * 8 : mx * 8 + 8] = read_block(1)
                cr_p[my * 8 : my * 8 + 8, mx * 8 : mx * 8 + 8] = read_block(2)
        y = y_plane[:h, :w]
        cb = np.repeat(cb_p, 2, axis=0)[:h, :w] - 128
        cr = np.repeat(cr_p, 2, axis=0)[:h, :w] - 128
        r = y + ((91881 * cr + 32768) >> 16)
        g = y + ((-22554 * cb - 46802 * cr + 32768) >> 16)
        bl = y + ((116130 * cb + 32768) >> 16)
        return np.dstack([r, g, bl]).clip(0, 255).astype(np.uint8)

    bh, bw_ = -(-h // 8), -(-w // 8)
    planes = [
        np.empty((bh * 8, bw_ * 8), dtype=np.int64) for _ in range(ncomp)
    ]
    for by in range(bh):
        for bx in range(bw_):
            maybe_restart()
            # interleaved MCU: one 8x8 block per component (1x1
            # sampling), each with its own DC predictor chain
            for ci in range(ncomp):
                planes[ci][by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = (
                    read_block(ci)
                )
    if ncomp == 1:
        gray = planes[0][:h, :w].astype(np.uint8)
        return np.repeat(gray[:, :, None], 3, axis=2)
    y = planes[0][:h, :w]
    cb = planes[1][:h, :w] - 128
    cr = planes[2][:h, :w] - 128
    r = y + ((91881 * cr + 32768) >> 16)
    g = y + ((-22554 * cb - 46802 * cr + 32768) >> 16)
    bl = y + ((116130 * cb + 32768) >> 16)
    rgb = np.dstack([r, g, bl]).clip(0, 255).astype(np.uint8)
    return rgb


_PIXEL_DECODERS["image/jpeg"] = decode_jpeg_dc


def _block_plane(h: int, w: int, f) -> np.ndarray:
    """(h, w) uint8 plane whose 8x8 block (bx, by) is f(bx, by) % 256."""
    out = np.empty((h, w), dtype=np.uint8)
    for by in range(h // 8):
        for bx in range(w // 8):
            out[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = f(bx, by) % 256
    return out


def gradient_jpeg_image(doc_id: int) -> tuple[str, bytes]:
    """Deterministic block-constant grayscale JPEG: w = 8*(2+id%4),
    h = 8*(1+(id//4)%3); block (bx, by) holds (id + 11bx + 17by) %
    256. Channel sums = 64 * sum of block values, replicated across
    r/g/b — SQL-predictable."""
    w = 8 * (2 + doc_id % 4)
    h = 8 * (1 + (doc_id // 4) % 3)
    gray = _block_plane(h, w, lambda bx, by: doc_id + 11 * bx + 17 * by)
    return "image/jpeg", encode_jpeg_dc(gray)


attach_real_jpeg_payload = _attach_payload_fn(gradient_jpeg_image)


def gradient_jpeg_color_image(doc_id: int) -> tuple[str, bytes]:
    """Deterministic block-constant COLOR JPEG: w = 8*(2+id%3),
    h = 8*(1+(id//3)%2); block (bx, by) YCbCr =
    ((id+23bx+41by)%256, (3id+29bx+7by)%256, (5id+13bx+31by)%256).
    The decoder's fixed-point YCbCr->RGB is documented integer math,
    so per-channel sums are SQL-predictable."""
    w = 8 * (2 + doc_id % 3)
    h = 8 * (1 + (doc_id // 3) % 2)
    y = _block_plane(h, w, lambda bx, by: doc_id + 23 * bx + 41 * by)
    cb = _block_plane(h, w, lambda bx, by: 3 * doc_id + 29 * bx + 7 * by)
    cr = _block_plane(h, w, lambda bx, by: 5 * doc_id + 13 * bx + 31 * by)
    return "image/jpeg", encode_jpeg_dc(y, cb, cr)


attach_real_jpeg_color_payload = _attach_payload_fn(gradient_jpeg_color_image)


# ---------------------------------------------------------------------------
# REAL FLAC decode — constant-subframe tier. FLAC's container and
# integrity layers are pure integer bitstream work: STREAMINFO
# parsing, frame-sync + header field codes, UTF-8-coded frame
# numbers, CRC-8 (poly 0x07) over the header and CRC-16 (poly
# 0x8005) over the whole frame — both VERIFIED, not skipped. The
# CONSTANT subframe (type 0) carries one signed sample value for the
# whole block, so a "held tones" stream decodes exactly with no DSP;
# the LPC/rice tiers are the honest boundary (that is where real
# audio modeling starts). Mono 16-bit.
# ---------------------------------------------------------------------------


def _crc8_flac(data: bytes) -> int:
    crc = 0
    for byte in data:
        crc ^= byte
        for _ in range(8):
            crc = ((crc << 1) ^ 0x07) & 0xFF if crc & 0x80 else (crc << 1) & 0xFF
    return crc


def _crc16_flac(data: bytes) -> int:
    crc = 0
    for byte in data:
        crc ^= byte << 8
        for _ in range(8):
            crc = (
                ((crc << 1) ^ 0x8005) & 0xFFFF
                if crc & 0x8000
                else (crc << 1) & 0xFFFF
            )
    return crc


class _BitWriterMSB:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, value: int, length: int) -> None:
        self.acc = (self.acc << length) | (value & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            self.out.append((self.acc >> (self.n - 8)) & 0xFF)
            self.n -= 8

    def align(self) -> None:
        if self.n:
            self.put(0, 8 - self.n)

    def bytes(self) -> bytes:
        assert self.n == 0
        return bytes(self.out)


def _flac_stream(channels: int, total: int, frames: list[bytes]) -> bytes:
    """fLaC magic + STREAMINFO + the given frame bytes — the ONE
    container builder behind every fixture encoder (and the tests'
    hand-built frames)."""
    out = bytearray(b"fLaC")
    info = bytearray()
    info += struct.pack(">HH", 256, 256)
    info += b"\x00\x00\x00" * 2  # min/max framesize unknown
    packed = (44100 << 44) | ((channels - 1) << 41) | (15 << 36) | total
    info += packed.to_bytes(8, "big")
    info += b"\x00" * 16  # md5 unset
    out += bytes([0x80]) + len(info).to_bytes(3, "big") + bytes(info)
    for f in frames:
        out += f
    return bytes(out)


def _flac_frame(
    fno: int, chan_code: int, write_subframes
) -> bytes:
    """One 256-sample frame: sync + field codes + UTF-8 frame number
    + CRC-8, subframes via the callback, byte alignment, CRC-16."""
    if fno > 0x7F:
        raise ValueError("fixture encoder: frame number < 128")
    bw = _BitWriterMSB()
    bw.put(0b11111111111110, 14)
    bw.put(0, 1)  # reserved
    bw.put(0, 1)  # fixed blocksize strategy
    bw.put(0b1000, 4)  # blocksize 256
    bw.put(0b1001, 4)  # 44.1 kHz
    bw.put(chan_code, 4)
    bw.put(0b100, 3)  # 16 bps
    bw.put(0, 1)  # reserved
    bw.put(fno, 8)  # UTF-8 single byte
    bw.align()
    header = bw.bytes()
    frame = bytearray(header)
    frame.append(_crc8_flac(header))
    bw2 = _BitWriterMSB()
    write_subframes(_FlacSubframeWriter(bw2))
    bw2.align()
    frame += bw2.bytes()
    frame += struct.pack(">H", _crc16_flac(bytes(frame)))
    return bytes(frame)


def encode_flac_constant(
    frame_values: list[int], blocksize: int = 256, rate_code: int = 0b1001
) -> bytes:
    """Mono 16-bit FLAC whose every frame is one CONSTANT subframe of
    ``blocksize`` samples (value per frame from ``frame_values``,
    signed 16-bit). Real container: STREAMINFO + per-frame CRC-8 and
    CRC-16. blocksize must be 256 (header code 0b1000)."""
    if blocksize != 256:
        raise ValueError("fixture encoder emits blocksize 256 only")
    frames = [
        _flac_frame(fno, 0b0000, lambda wr, v=v: wr.constant(v, 16))
        for fno, v in enumerate(frame_values)
    ]
    return _flac_stream(1, blocksize * len(frame_values), frames)


class _BitReaderMSB:
    def __init__(self, data: bytes, pos: int = 0) -> None:
        self.data = data
        self.bitpos = pos * 8

    def bits(self, k: int) -> int:
        v = 0
        for _ in range(k):
            byte = self.data[self.bitpos >> 3]
            v = (v << 1) | ((byte >> (7 - (self.bitpos & 7))) & 1)
            self.bitpos += 1
        return v

    def align(self) -> None:
        self.bitpos = (self.bitpos + 7) & ~7

    def bytepos(self) -> int:
        return self.bitpos >> 3


def _flac_read_subframe(r: "_BitReaderMSB", bps: int, blocksize: int) -> list:
    """One subframe: CONSTANT or FIXED-predictor with partitioned
    Rice residuals (any partition order whose partitions divide the
    blocksize evenly). ``bps`` varies per channel under stereo
    decorrelation (the side channel carries one extra bit)."""
    r.bits(1)
    stype = r.bits(6)
    if not (
        stype in (0, 1) or 8 <= stype <= 12 or stype & 0x20
    ):
        raise NotImplementedError(f"reserved subframe type {stype:06b}")
    if r.bits(1):
        raise NotImplementedError("wasted bits")

    def signed(nbits: int) -> int:
        raw = r.bits(nbits)
        return raw - (1 << nbits) if raw >= (1 << (nbits - 1)) else raw

    if stype == 0:
        return [signed(bps)] * blocksize
    if stype == 1:  # VERBATIM: every sample literal
        return [signed(bps) for _ in range(blocksize)]
    if stype & 0x20:  # LPC, order = low 5 bits + 1
        order = (stype & 0x1F) + 1
        warm = [signed(bps) for _ in range(order)]
        precision = r.bits(4) + 1
        if precision == 16:
            raise ValueError("invalid qlp precision escape")
        shift = r.bits(5)  # spec: signed, but negative is forbidden
        qlp = [signed(precision) for _ in range(order)]

        def predict(hist: list, n: int) -> int:
            # the EXACT integer prediction the spec mandates: decoding
            # LPC is mechanical; only FITTING coefficients is DSP
            return sum(
                c * hist[n - 1 - j] for j, c in enumerate(qlp)
            ) >> shift

    else:
        order = stype & 0x07
        warm = [signed(bps) for _ in range(order)]

        def predict(hist: list, n: int) -> int:
            return _flac_fixed_predict(hist, order, n)

    method = r.bits(2)
    if method not in (0, 1):
        raise ValueError("reserved residual coding method")
    part_order = r.bits(4)
    n_parts = 1 << part_order
    if blocksize % n_parts:
        raise ValueError("partition count does not divide blocksize")
    kbits = 4 if method == 0 else 5
    out = list(warm)
    for part in range(n_parts):
        k = r.bits(kbits)
        n_res = (blocksize >> part_order) - (order if part == 0 else 0)
        if k == (1 << kbits) - 1:
            # ESCAPED partition: residuals stored verbatim at an
            # explicit bit width instead of Rice codes (the spec's
            # pressure valve for incompressible audio)
            nb = r.bits(5)
            for _ in range(n_res):
                raw = r.bits(nb) if nb else 0
                res = (
                    raw - (1 << nb)
                    if nb and raw >= (1 << (nb - 1))
                    else raw
                )
                out.append(res + predict(out, len(out)))
            continue
        for _ in range(n_res):
            q = 0
            while r.bits(1) == 0:
                q += 1
            u = (q << k) | r.bits(k)
            res = (u >> 1) ^ -(u & 1)  # zigzag unfold
            out.append(res + predict(out, len(out)))
    return out


def soundfile_decode_backend(payload: bytes, modality: str):
    """SHIPPED real-codec AUDIO adapter — the soundfile/libsndfile
    twin of ``pil_decode_backend`` (round-12): decodes any
    ``audio/*`` payload libsndfile can parse into the audio seam's
    contract — int16 numpy samples, channel-interleaved for stereo.
    Returns None (fall through to the stdlib FLAC/WAV tiers) when
    soundfile is absent, the modality is not audio, or the payload
    does not parse; the stub tier then raises its documented error
    unchanged. Env-gated integration test:
    tests/test_llm_ops.py::test_soundfile_backend_decodes_flac."""
    try:
        import soundfile as sf  # noqa: PLC0415 — optional dependency
    except ImportError:
        return None
    if not modality.startswith("audio/"):
        return None
    try:
        import io

        data, _sr = sf.read(io.BytesIO(payload), dtype="int16")
        # (frames, channels) row-major -> channel-interleaved stream,
        # matching decode_flac_constant's output layout
        return np.asarray(data, dtype=np.int16).reshape(-1)
    except Exception:  # noqa: BLE001 — None = "this adapter can't"
        return None


def decode_flac_constant(b: bytes, decode_backend=None) -> np.ndarray:
    """REAL FLAC decode: STREAMINFO, frame sync walk, header field
    decode, UTF-8 frame numbers, and BOTH CRCs verified per frame.
    CONSTANT and FIXED-predictor subframes decode — the latter
    through genuine partitioned-Rice entropy decoding (unary
    quotient + k remainder bits, zigzag sign fold, ANY evenly
    dividing partition order) and the exact integer polynomial
    reconstruction orders 0-4. Mono and stereo streams decode;
    stereo supports all four channel assignments (independent,
    left/side, right/side, mid/side — the decorrelation inverses are
    exact integer identities, and the side channel reads bps+1
    bits). ALL FOUR subframe types decode — CONSTANT, VERBATIM,
    FIXED, and LPC (quantized-coefficient prediction is an exact
    integer shift by spec: only FITTING coefficients is DSP; decoding
    them is mechanical). Returns int16 samples, channel-interleaved
    for stereo; escaped (verbatim-width) Rice partitions decode too.
    Remaining honest boundaries: multi-byte frame numbers, non-16
    bps, >2 channels.

    ``decode_backend``: the audio arm of the external-codec seam —
    a callable ``(payload, "audio/flac") -> np.ndarray | None``
    consulted FIRST (``soundfile_decode_backend`` is the shipped
    libsndfile adapter); None falls through to the stdlib tier."""
    if decode_backend is not None:
        out = decode_backend(b, "audio/flac")
        if out is not None:
            return out
    if b[:4] != b"fLaC":
        raise ValueError("not a FLAC stream")
    pos = 4
    blocksize = None
    while True:
        hdr = b[pos]
        last = hdr & 0x80
        btype = hdr & 0x7F
        length = int.from_bytes(b[pos + 1 : pos + 4], "big")
        if btype == 0:
            info = b[pos + 4 : pos + 4 + length]
            blocksize = struct.unpack(">H", info[0:2])[0]
            packed = int.from_bytes(info[10:18], "big")
            channels = ((packed >> 41) & 0x7) + 1
            bps = ((packed >> 36) & 0x1F) + 1
            total = packed & ((1 << 36) - 1)
            if channels not in (1, 2) or bps != 16:
                raise NotImplementedError(
                    "only mono/stereo 16-bit streams in this tier"
                )
        pos += 4 + length
        if last:
            break
    if blocksize is None:
        raise ValueError("missing STREAMINFO")
    samples: list[int] = []
    needed = total * channels
    while pos < len(b) and len(samples) < needed:
        r = _BitReaderMSB(b, pos)
        if r.bits(14) != 0b11111111111110:
            raise ValueError("lost FLAC frame sync")
        r.bits(1)
        r.bits(1)
        bs_code = r.bits(4)
        if bs_code != 0b1000:
            raise NotImplementedError("fixture tier reads blocksize-256 frames")
        r.bits(4)  # rate code (from STREAMINFO otherwise)
        chan_code = r.bits(4)
        if chan_code not in (0b0000, 0b0001, 0b1000, 0b1001, 0b1010):
            raise NotImplementedError(
                f"channel assignment {chan_code:04b} beyond this tier"
            )
        if r.bits(3) != 0b100:
            raise NotImplementedError("non-16bps")
        r.bits(1)
        first = r.bits(8)
        if first > 0x7F:
            raise NotImplementedError("multi-byte UTF-8 frame numbers")
        r.align()
        header = b[pos : r.bytepos()]
        crc8 = r.bits(8)
        if crc8 != _crc8_flac(header):
            raise ValueError("FLAC frame header CRC-8 mismatch")
        if chan_code == 0b0000:
            frame_samples = _flac_read_subframe(r, 16, 256)
        else:
            # stereo: the decorrelated channel assignments carry the
            # SIDE (difference) signal with one extra bit; inverses
            # are exact integer identities (flac spec 9.2)
            bps0 = 16 + (1 if chan_code == 0b1001 else 0)
            bps1 = 16 + (1 if chan_code in (0b1000, 0b1010) else 0)
            c0 = _flac_read_subframe(r, bps0, 256)
            c1 = _flac_read_subframe(r, bps1, 256)
            frame_samples = []
            for a, bb in zip(c0, c1):
                if chan_code == 0b0001:
                    left, right = a, bb
                elif chan_code == 0b1000:  # left/side
                    left, right = a, a - bb
                elif chan_code == 0b1001:  # right/side: (side, right)
                    left, right = bb + a, bb
                else:  # mid/side
                    mid2 = (a << 1) | (bb & 1)
                    left = (mid2 + bb) >> 1
                    right = (mid2 - bb) >> 1
                frame_samples.extend([left, right])
        r.align()
        body_end = r.bytepos()
        crc16 = r.bits(16)
        if crc16 != _crc16_flac(b[pos:body_end]):
            raise ValueError("FLAC frame CRC-16 mismatch")
        samples.extend(frame_samples)
        pos = r.bytepos()
    return np.asarray(samples[:needed], dtype=np.int16)


def tone_flac_audio(doc_id: int) -> tuple[str, bytes]:
    """Deterministic held-tone FLAC: 2 + id%3 frames of 256 samples,
    frame f holds (7*id + 13*f) % 4096 - 2048 — sums/extrema are
    SQL-predictable."""
    n_frames = 2 + doc_id % 3
    vals = [(7 * doc_id + 13 * f) % 4096 - 2048 for f in range(n_frames)]
    return "audio/flac", encode_flac_constant(vals)


# ---------------------------------------------------------------------------
# REAL AVI decode — uncompressed BI_RGB tier. AVI is a RIFF container
# (like WAV): LIST/chunk walking, the avih main header, the vids
# stream's BITMAPINFOHEADER, '00db' frame chunks of bottom-up
# 4-byte-stride-padded BGR rows, and the idx1 index whose per-frame
# offsets/sizes are VERIFIED against the frames actually found —
# real container integrity work with zero codec DSP. Compressed
# codecs (MJPEG/H.264) are the honest boundary.
# ---------------------------------------------------------------------------


def _avi_row_stride(w: int) -> int:
    return (3 * w + 3) & ~3


def encode_avi(frames: list[np.ndarray], fps: int = 10) -> bytes:
    """List of (h, w, 3) uint8 RGB frames -> spec-valid AVI with an
    uncompressed BI_RGB 24-bit 'DIB ' video stream and an idx1
    index. Rows are written bottom-up, BGR, stride-padded to 4."""
    h, w, _ = frames[0].shape
    stride = _avi_row_stride(w)
    frame_bytes = []
    for px in frames:
        rows = []
        for y in range(h - 1, -1, -1):
            row = px[y, :, ::-1].tobytes()  # BGR
            rows.append(row + b"\x00" * (stride - len(row)))
        frame_bytes.append(b"".join(rows))

    def chunk(tag: bytes, data: bytes) -> bytes:
        pad = b"\x00" if len(data) % 2 else b""
        return tag + struct.pack("<I", len(data)) + data + pad

    def lst(tag: bytes, data: bytes) -> bytes:
        return chunk(b"LIST", tag + data)

    avih = struct.pack(
        "<14I",
        1000000 // fps,  # us per frame
        0, 0, 0x10,      # max bytes/sec, padding, flags (HASINDEX)
        len(frames), 0, 1, 0,
        w, h, 0, 0, 0, 0,
    )
    # canonical 56-byte AVISTREAMHEADER: fccType fccHandler dwFlags
    # wPriority wLanguage dwInitialFrames dwScale dwRate dwStart
    # dwLength dwSuggestedBufferSize dwQuality dwSampleSize rcFrame
    # (RECT of four WORDs: left top right bottom)
    strh = (
        b"vids" + b"DIB " + struct.pack(
            "<IHHIIIIIIII4H", 0, 0, 0, 0, 1, fps,
            0, len(frames), 0, 0, 0, 0, 0, w, h,
        )
    )
    strf = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, stride * h, 0, 0, 0, 0
    )
    hdrl = lst(
        b"hdrl",
        chunk(b"avih", avih) + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)),
    )
    movi_chunks = []
    offsets = []
    pos = 4  # idx1 offsets count from the start of the 'movi' tag data
    for fb in frame_bytes:
        offsets.append(pos)
        c = chunk(b"00db", fb)
        movi_chunks.append(c)
        pos += len(c)
    movi = lst(b"movi", b"".join(movi_chunks))
    idx = b"".join(
        b"00db" + struct.pack("<III", 0x10, off, len(fb))
        for off, fb in zip(offsets, frame_bytes)
    )
    body = b"AVI " + hdrl + movi + chunk(b"idx1", idx)
    return b"RIFF" + struct.pack("<I", len(body)) + body


_MJPG_FOURCC = struct.unpack("<I", b"MJPG")[0]


def decode_avi_frames(b: bytes) -> list[np.ndarray]:
    """REAL AVI decode: RIFF walk -> avih dims/frame count ->
    BITMAPINFOHEADER -> RGB frames; the idx1 offsets AND sizes are
    verified against the frames actually found (a desynced index
    raises). Two codec tiers decode for real: BI_RGB (bottom-up
    stride-padded BGR '00db' chunks) and MJPG ('00dc' chunks each
    holding a complete baseline JFIF, decoded through this module's
    exact-integer T.81 decoder — Motion JPEG is intra-only, so a
    real JPEG decoder IS a real MJPEG decoder). Inter-frame codecs
    (H.264 etc.) are the honest boundary and raise."""
    if b[:4] != b"RIFF" or b[8:12] != b"AVI ":
        raise ValueError("not an AVI")
    dims = None
    frames: list[np.ndarray] = []
    frame_meta: list[tuple[int, int]] = []
    idx_entries: list[tuple[int, int]] = []
    bitcount = compression = None
    movi_pos = None

    def walk(start: int, end: int) -> None:
        nonlocal dims, bitcount, compression, movi_pos
        i = start
        while i + 8 <= end:
            tag = b[i : i + 4]
            (size,) = struct.unpack("<I", b[i + 4 : i + 8])
            data0 = i + 8
            if tag == b"LIST":
                # idx1 offsets count from the 'movi' fourcc inside the
                # LIST — record the WALKED position, not a byte scan
                # (the literal bytes 'movi' can legally appear inside
                # an INFO/JUNK chunk earlier in the file)
                if b[data0 : data0 + 4] == b"movi" and movi_pos is None:
                    movi_pos = data0
                walk(data0 + 4, data0 + size)
            elif tag == b"avih":
                n_frames, = struct.unpack("<I", b[data0 + 16 : data0 + 20])
                w, h = struct.unpack("<II", b[data0 + 32 : data0 + 40])
                dims = (w, h, n_frames)
            elif tag == b"strf":
                (_bisize, _w2, _h2, _planes, bitcount, compression) = (
                    struct.unpack("<IiiHHI", b[data0 : data0 + 20])
                )
            elif tag in (b"00db", b"00dc"):
                frame_meta.append((i, size, tag))
            elif tag == b"idx1":
                for p in range(data0, data0 + size, 16):
                    ck, _flags, off, sz = struct.unpack(
                        "<4sIII", b[p : p + 16]
                    )
                    if ck in (b"00db", b"00dc"):
                        idx_entries.append((off, sz, ck))
            i = data0 + size + (size & 1)

    walk(12, len(b))
    if dims is None or bitcount is None:
        raise ValueError("incomplete AVI header")
    if compression == 0 and bitcount == 24:
        chunk_tag = b"00db"
    elif compression == _MJPG_FOURCC:
        chunk_tag = b"00dc"
    else:
        raise NotImplementedError(
            "inter-frame AVI codecs need a real video decoder "
            "(BI_RGB and MJPG tiers decode)"
        )
    w, h, n_frames = dims
    stride = _avi_row_stride(w)
    if movi_pos is None:
        raise ValueError("no movi list in AVI")
    if len(idx_entries) != len(frame_meta):
        raise ValueError("idx1 entry count != frames present")
    for (fpos, fsize, ftag), (off, sz, itag) in zip(frame_meta, idx_entries):
        if ftag != chunk_tag or itag != chunk_tag:
            raise ValueError("frame chunk tag inconsistent with codec")
        if fsize != sz or (movi_pos + off) != fpos:
            raise ValueError("idx1 offset/size desynced from movi chunks")
        raw = b[fpos + 8 : fpos + 8 + fsize]
        if chunk_tag == b"00dc":
            px = decode_jpeg_dc(raw)
            if px.shape[0] != h or px.shape[1] != w:
                raise ValueError("MJPG frame dims != avih dims")
            frames.append(px)
            continue
        if fsize != stride * h:
            raise ValueError("frame size != stride * height")
        arr = np.frombuffer(raw, dtype=np.uint8).reshape(h, stride)
        bgr = arr[:, : 3 * w].reshape(h, w, 3)
        frames.append(bgr[::-1, :, ::-1].copy())  # top-down RGB
    if len(frames) != n_frames:
        raise ValueError("frame count mismatch vs avih")
    return frames


def gradient_avi_video(doc_id: int) -> tuple[str, bytes]:
    """Deterministic gradient AVI: 2 + id%3 frames of
    (6 + (id//8)%4) x (8 + id%8) pixels (odd widths exercise the
    4-byte stride padding); channel c of frame f at (x, y) =
    (id*kc + 2f + 3x + 5y) % 256 for kc in (1, 7, 13)."""
    w = 8 + doc_id % 8
    h = 6 + (doc_id // 8) % 4
    n_frames = 2 + doc_id % 3
    xs = np.arange(w, dtype=np.int64)
    ys = np.arange(h, dtype=np.int64)
    grid = 3 * xs[None, :] + 5 * ys[:, None]
    frames = []
    for f in range(n_frames):
        px = np.dstack(
            [(doc_id * k + 2 * f + grid) % 256 for k in (1, 7, 13)]
        ).astype(np.uint8)
        frames.append(px)
    return "video/avi", encode_avi(frames)


def encode_avi_mjpeg(
    jpegs: list[bytes], w: int, h: int, fps: int = 10
) -> bytes:
    """List of complete baseline-JFIF byte strings (all w x h) ->
    spec-valid Motion-JPEG AVI: same RIFF/hdrl/movi/idx1 layout as
    encode_avi, but the stream header and BITMAPINFOHEADER declare
    the MJPG fourcc and each frame is a compressed '00dc' chunk
    holding one whole JPEG (MJPEG is intra-only by definition)."""

    def chunk(tag: bytes, data: bytes) -> bytes:
        pad = b"\x00" if len(data) % 2 else b""
        return tag + struct.pack("<I", len(data)) + data + pad

    def lst(tag: bytes, data: bytes) -> bytes:
        return chunk(b"LIST", tag + data)

    avih = struct.pack(
        "<14I",
        1000000 // fps,
        0, 0, 0x10,
        len(jpegs), 0, 1, 0,
        w, h, 0, 0, 0, 0,
    )
    # canonical 56-byte AVISTREAMHEADER incl. the trailing rcFrame
    # RECT (four WORDs) — see encode_avi
    strh = (
        b"vids" + b"MJPG" + struct.pack(
            "<IHHIIIIIIII4H", 0, 0, 0, 0, 1, fps,
            0, len(jpegs), 0, 0, 0, 0, 0, w, h,
        )
    )
    strf = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, _MJPG_FOURCC,
        max(len(j) for j in jpegs), 0, 0, 0, 0,
    )
    hdrl = lst(
        b"hdrl",
        chunk(b"avih", avih)
        + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)),
    )
    movi_chunks = []
    offsets = []
    pos = 4
    for j in jpegs:
        offsets.append(pos)
        c = chunk(b"00dc", j)
        movi_chunks.append(c)
        pos += len(c)
    movi = lst(b"movi", b"".join(movi_chunks))
    idx = b"".join(
        b"00dc" + struct.pack("<III", 0x10, off, len(j))
        for off, j in zip(offsets, jpegs)
    )
    body = b"AVI " + hdrl + movi + chunk(b"idx1", idx)
    return b"RIFF" + struct.pack("<I", len(body)) + body


def gradient_mjpeg_video(doc_id: int) -> tuple[str, bytes]:
    """Deterministic Motion-JPEG AVI: 2 + id%3 frames, each a
    block-constant grayscale baseline JPEG of w = 8*(2 + id%4) by
    h = 8*(1 + (id//4)%3); block (bx, by) of frame f holds
    (id + 11bx + 17by + 7f) % 256. Frame pixel sums are therefore
    64 * sum of the block formula — SQL-replayable, while the decode
    path runs the REAL RIFF walk + idx1 verification + T.81 entropy
    layer per frame."""
    w = 8 * (2 + doc_id % 4)
    h = 8 * (1 + (doc_id // 4) % 3)
    n_frames = 2 + doc_id % 3
    jpegs = []
    for f in range(n_frames):
        gray = _block_plane(
            h, w, lambda bx, by: doc_id + 11 * bx + 17 * by + 7 * f
        )
        jpegs.append(encode_jpeg_dc(gray))
    return "video/x-mjpeg", encode_avi_mjpeg(jpegs, w, h)


def gradient_jpeg_420_image(doc_id: int) -> tuple[str, bytes]:
    """Deterministic block-constant 4:2:0 JPEG: w = 16*(1+id%3),
    h = 16*(1+(id//3)%2); Y block (bx, by) (8px grid) =
    (id + 9bx + 21by) % 256; chroma blocks (cx, cy) (16px luma grid):
    Cb = (3id + 17cx) % 256, Cr = (5id + 27cy) % 256."""
    w = 16 * (1 + doc_id % 3)
    h = 16 * (1 + (doc_id // 3) % 2)
    y = _block_plane(h, w, lambda bx, by: doc_id + 9 * bx + 21 * by)
    cb = _block_plane(h // 2, w // 2, lambda cx, cy: 3 * doc_id + 17 * cx)
    cr = _block_plane(h // 2, w // 2, lambda cx, cy: 5 * doc_id + 27 * cy)
    return "image/jpeg", encode_jpeg_dc(y, cb, cr, hv=(2, 2))


attach_real_jpeg_420_payload = _attach_payload_fn(gradient_jpeg_420_image)


def _parse_mp4(b: bytes) -> dict:
    """ISO-BMFF (MP4) box walk: ftyp validation, then moov -> trak ->
    tkhd for the video track's width/height (16.16 fixed point in the
    spec — the integer part is returned). Real container metadata
    parsing, the header-pass tier (sample decode needs real codecs).
    Handles 64-bit largesize boxes and version-0/1 tkhd layouts."""
    if len(b) < 12:
        raise ValueError("not an MP4")
    (first_size,) = struct.unpack(">I", b[0:4])
    if b[4:8] != b"ftyp" or first_size < 8:
        raise ValueError("not an MP4 (missing ftyp)")

    def walk(start: int, end: int, path: tuple) -> dict | None:
        i = start
        while i + 8 <= end:
            (size,) = struct.unpack(">I", b[i : i + 4])
            tag = b[i + 4 : i + 8]
            hdr = 8
            if size == 1:  # 64-bit largesize
                (size,) = struct.unpack(">Q", b[i + 8 : i + 16])
                hdr = 16
            elif size == 0:  # to end of enclosing box
                size = end - i
            if size < hdr:
                raise ValueError("corrupt MP4 box size")
            if tag == b"tkhd" and path == (b"moov", b"trak"):
                ver = b[i + hdr]
                # fullbox header (4) + v0 20 / v1 32 bytes of times and
                # ids, then reserved+layer+group+volume+matrix (52)
                wh = i + hdr + 4 + (20 if ver == 0 else 32) + 52
                w16, h16 = struct.unpack(">II", b[wh : wh + 8])
                if w16 and h16:  # audio tracks carry 0x0
                    return {"width": w16 >> 16, "height": h16 >> 16}
            if tag in (b"moov", b"trak"):
                found = walk(i + hdr, i + size, path + (tag,))
                if found:
                    return found
            i += size
        return None

    meta = walk(0, len(b), ())
    if meta is None:
        raise ValueError("no video tkhd in MP4")
    return meta


_HEADER_DECODERS["video/mp4"] = _parse_mp4


# --- Full-AC tier: zigzag + run/size entropy decode + a DEFINED
# fixed-point integer IDCT. T.81 permits IDCT implementation variance
# (that's why libjpeg ships three); this decoder's transform is the
# exact-integer spec below, which an SQL oracle can replay term by
# term: p(x,y) = ((sum_uv F[v][u]*W[u][x]*W[v][y] + 2^19) >> 20) + 128
# with W[u][x] = round((c_u/2)*cos((2x+1)u*pi/16)*2^10), c_0 = 1/sqrt2.
# For the DC-only fixtures this reproduces round(F/8)+128 exactly
# (their true values are integers and the table error is < 0.04), so
# the earlier DC-only gates stay bit-green under the general path. ---

_JPEG_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]

_IDCT_SCALE = 10


def _idct_w_table() -> np.ndarray:
    import math

    w = np.zeros((8, 8), dtype=np.int64)
    for u in range(8):
        cu = (1 / math.sqrt(2)) if u == 0 else 1.0
        for x in range(8):
            w[u][x] = round(
                (cu / 2)
                * math.cos((2 * x + 1) * u * math.pi / 16)
                * (1 << _IDCT_SCALE)
            )
    return w


_IDCT_W = _idct_w_table()


def _idct_int(coef: np.ndarray) -> np.ndarray:
    """The defined integer IDCT: exact int64 triple product + one
    rounded shift; coef is the 8x8 DEQUANTIZED natural-order block."""
    tmp = _IDCT_W.T @ coef @ _IDCT_W  # (x,y) orientation: W[u][x]
    return ((tmp + (1 << (2 * _IDCT_SCALE - 1))) >> (2 * _IDCT_SCALE)) + 128


def encode_jpeg_gray_coeffs(
    coef_blocks: list[list[np.ndarray]],
    q00: int = 1,
    restart_interval: int = 0,
) -> bytes:
    """Grayscale baseline JFIF from ARBITRARY quantized coefficient
    blocks (natural-order 8x8 int arrays, rows of blocks): full AC
    run-length entropy coding — zigzag scan, (run, size) Huffman
    symbols, ZRL for zero-runs past 15, EOB — the complete T.81
    baseline entropy layer. Quant table all-q00."""
    bh = len(coef_blocks)
    bw_n = len(coef_blocks[0])
    h, w = bh * 8, bw_n * 8
    dc_map = _huff_encode_map(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_map = _huff_encode_map(_JPEG_AC_BITS, _JPEG_AC_VALS)
    bw = _JpegBitWriter()
    pred = 0
    mcu = 0
    rst = 0
    scan_parts = []
    for row in coef_blocks:
        for coef in row:
            if restart_interval and mcu and mcu % restart_interval == 0:
                scan_parts.append(bw.flush())
                scan_parts.append(bytes([0xFF, 0xD0 | rst]))
                rst = (rst + 1) & 0x07
                bw = _JpegBitWriter()
                pred = 0
            mcu += 1
            flat = coef.reshape(-1)
            zz = [int(flat[_JPEG_ZIGZAG[k]]) for k in range(64)]
            _jpeg_put_dc(bw, dc_map, zz[0] - pred)
            pred = zz[0]
            run = 0
            last_nz = max((k for k in range(1, 64) if zz[k]), default=0)
            for k in range(1, last_nz + 1):
                if zz[k] == 0:
                    run += 1
                    continue
                while run > 15:
                    ln, code = ac_map[0xF0]  # ZRL
                    bw.put(code, ln)
                    run -= 16
                sz = abs(zz[k]).bit_length()
                ln, code = ac_map[(run << 4) | sz]
                bw.put(code, ln)
                amp = zz[k] if zz[k] > 0 else zz[k] + (1 << sz) - 1
                bw.put(amp, sz)
                run = 0
            if last_nz < 63:
                ln, code = ac_map[0x00]  # EOB
                bw.put(code, ln)
    scan_parts.append(bw.flush())
    scan = b"".join(scan_parts)

    dqt = _jpeg_seg(0xDB, bytes([0x00]) + bytes([q00] * 64))
    dri = (
        _jpeg_seg(0xDD, struct.pack(">H", restart_interval))
        if restart_interval
        else b""
    )
    sof = _jpeg_seg(
        0xC0, struct.pack(">BHHB", 8, h, w, 1) + bytes([1, 0x11, 0])
    )
    dht = _jpeg_seg(0xC4, _JPEG_BASELINE_DHT)
    sos = _jpeg_seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
    return b"\xff\xd8" + dqt + dri + sof + dht + sos + scan + b"\xff\xd9"


def _ac_fixture_blocks(doc_id: int) -> list[list[np.ndarray]]:
    """2x3 rows of sparse quantized coefficient blocks for the AC and
    progressive JPEG fixtures."""
    blocks = []
    for by in range(2):
        row = []
        for bx in range(3):
            coef = np.zeros((8, 8), dtype=np.int64)
            coef[0, 0] = (doc_id + 13 * bx + 29 * by) % 256 - 128
            coef[0, 1] = (3 * doc_id + 7 * bx) % 64 - 32
            coef[1, 0] = (5 * doc_id + 11 * by) % 64 - 32
            coef.reshape(-1)[_JPEG_ZIGZAG[40]] = doc_id % 16 + 1
            row.append(coef)
        blocks.append(row)
    return blocks


def gradient_jpeg_ac_image(doc_id: int) -> tuple[str, bytes]:
    """Grayscale baseline JPEG with REAL AC content: 2x3 blocks of
    sparse coefficients — DC = (id + 13bx + 29by) % 256 - 128,
    AC(u=1) = (3id + 7bx) % 64 - 32, AC(v=1) = (5id + 11by) % 64 - 32,
    plus a deep coefficient at zigzag position 40 (natural (v=3,u=5);
    its 37-zero run forces TWO ZRL symbols) = id % 16 + 1. q00 = 1;
    a 2-MCU restart interval exercises DRI/RSTn framing and the DC
    predictor resets WITHOUT touching the oracle (pixels are framing-
    independent). The defined integer IDCT is replayed term by
    term."""
    return "image/jpeg", encode_jpeg_gray_coeffs(
        _ac_fixture_blocks(doc_id), q00=1, restart_interval=2
    )


attach_real_jpeg_ac_payload = _attach_payload_fn(gradient_jpeg_ac_image)


# --- Progressive tier: real SOF2 decode — spectral selection,
# successive approximation (arithmetic-shift DC / toward-zero AC point
# transforms), EOBRUN end-of-band runs, and the AC refinement
# correction-bit algorithm (T.81 G.1.2/G.2 — the same control flow
# libjpeg's decode_mcu_AC_refine implements). Progressive re-encoding
# is LOSSLESS over the quantized coefficients, so a progressive
# fixture built from the SAME coefficient recipe as the baseline AC
# fixture decodes to bit-identical pixels and rides the same SQL
# oracle: every scan-ordering, band, refinement-bit, or EOBRUN bug is
# a hash mismatch on all 500 files. ---

# progressive AC scans need EOBn symbols (n<<4, n=1..14) that the
# Annex K baseline table lacks; a full 256-symbol canonical table —
# values 0-127 at 8 bits, 128-255 at 9 bits (DHT length counts are
# single bytes, so one length can't hold all 256; Kraft sum 0.75,
# all-ones code unused) — covers every (run,size) and EOBn symbol.
# Fixture-friendly, spec-legal, carried in DHT
_JPEG_PROG_AC_BITS = (0, 0, 0, 0, 0, 0, 0, 128, 128, 0, 0, 0, 0, 0, 0, 0)
_JPEG_PROG_AC_VALS = tuple(range(256))

# libjpeg's default progression script for one component (jcparam.c
# fill_scan_script): (Ss, Se, Ah, Al)
_JPEG_PROG_SCRIPT = (
    (0, 0, 0, 1),  # DC first, point transform 1
    (1, 5, 0, 2),  # AC band 1-5 first, low 2 bits dropped
    (6, 63, 0, 2),  # AC band 6-63 first
    (1, 63, 2, 1),  # AC refinement 2 -> 1
    (0, 0, 1, 0),  # DC refinement (final bit)
    (1, 63, 1, 0),  # AC refinement 1 -> 0 (final)
)


class _ProgAcState:
    """Cross-block AC-scan encoder state: the pending end-of-band run
    and the correction bits attached to it (libjpeg's EOBRUN + BE)."""

    def __init__(self) -> None:
        self.eobrun = 0
        self.pending: list[int] = []


def _emit_eobrun(bw: "_JpegBitWriter", ac_map: dict, st: _ProgAcState) -> None:
    """Flush the pending EOBn symbol (category = floor(log2 eobrun),
    that many extra bits) followed by its buffered correction bits."""
    if st.eobrun > 0:
        nbits = st.eobrun.bit_length() - 1
        ln, code = ac_map[nbits << 4]
        bw.put(code, ln)
        if nbits:
            bw.put(st.eobrun & ((1 << nbits) - 1), nbits)
        st.eobrun = 0
    for bit in st.pending:
        bw.put(bit, 1)
    st.pending = []


def _encode_ac_first_block(
    bw: "_JpegBitWriter",
    ac_map: dict,
    st: _ProgAcState,
    zz: list,
    ss: int,
    se: int,
    al: int,
) -> None:
    """One block of an AC first scan: band coefficients point-
    transformed TOWARD ZERO by Al, run/size coded with ZRL and the
    deferred end-of-band run."""
    r = 0
    for k in range(ss, se + 1):
        t = zz[k]
        if t < 0:
            t = (-t) >> al
            t2 = ~t  # negative amplitude pattern (T.81 F.1.2.2.1)
        else:
            t >>= al
            t2 = t
        if t == 0:
            r += 1
            continue
        while r > 15:
            _emit_eobrun(bw, ac_map, st)
            ln, code = ac_map[0xF0]
            bw.put(code, ln)
            r -= 16
        nbits = t.bit_length()
        _emit_eobrun(bw, ac_map, st)
        ln, code = ac_map[(r << 4) | nbits]
        bw.put(code, ln)
        bw.put(t2 & ((1 << nbits) - 1), nbits)
        r = 0
    if r > 0:
        st.eobrun += 1
        if st.eobrun == 0x7FFF:  # spec cap for one EOBn symbol
            _emit_eobrun(bw, ac_map, st)


def _encode_ac_refine_block(
    bw: "_JpegBitWriter",
    ac_map: dict,
    st: _ProgAcState,
    zz: list,
    ss: int,
    se: int,
    al: int,
) -> None:
    """One block of an AC refinement scan (Ah = Al + 1): newly-nonzero
    coefficients as (run,1) symbols + sign bit, already-nonzero ones
    as buffered correction bits emitted after the next symbol."""
    absvals = [0] * (se + 1)
    eob = ss - 1  # index of last NEWLY-nonzero coefficient
    for k in range(ss, se + 1):
        t = abs(zz[k]) >> al
        absvals[k] = t
        if t == 1:
            eob = k
    r = 0
    br: list[int] = []  # this block's correction bits
    for k in range(ss, se + 1):
        t = absvals[k]
        if t == 0:
            r += 1
            continue
        while r > 15 and k <= eob:
            _emit_eobrun(bw, ac_map, st)
            ln, code = ac_map[0xF0]
            bw.put(code, ln)
            r -= 16
            for bit in br:
                bw.put(bit, 1)
            br = []
        if t > 1:
            br.append(t & 1)
            continue
        _emit_eobrun(bw, ac_map, st)
        ln, code = ac_map[(r << 4) | 1]
        bw.put(code, ln)
        bw.put(0 if zz[k] < 0 else 1, 1)
        for bit in br:
            bw.put(bit, 1)
        br = []
        r = 0
    if r > 0 or br:
        st.eobrun += 1
        st.pending.extend(br)
        if st.eobrun == 0x7FFF:
            _emit_eobrun(bw, ac_map, st)


def encode_jpeg_progressive_gray(
    coef_blocks: list[list[np.ndarray]], q00: int = 1
) -> bytes:
    """Grayscale PROGRESSIVE JFIF (SOF2) from arbitrary quantized
    coefficient blocks, encoded through libjpeg's default 6-scan
    script — DC first at Al=1, two AC spectral bands at Al=2, an AC
    2->1 refinement, the final DC bit, and the final AC 1->0
    refinement — so spectral selection, successive approximation,
    EOBRUN, and correction-bit emission are ALL exercised."""
    bh = len(coef_blocks)
    bwn = len(coef_blocks[0])
    h, w = bh * 8, bwn * 8
    dc_map = _huff_encode_map(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_map = _huff_encode_map(_JPEG_PROG_AC_BITS, _JPEG_PROG_AC_VALS)
    zzs = [
        [int(coef.reshape(-1)[_JPEG_ZIGZAG[k]]) for k in range(64)]
        for row in coef_blocks
        for coef in row
    ]

    scans = []
    for ss, se, ah, al in _JPEG_PROG_SCRIPT:
        bw = _JpegBitWriter()
        if ss == 0:  # DC scan (Se must be 0 in progressive)
            if ah == 0:
                preds = [0]
                for zz in zzs:
                    t = zz[0] >> al  # arithmetic shift per G.1.2.1
                    _jpeg_put_dc(bw, dc_map, t - preds[0])
                    preds[0] = t
            else:
                for zz in zzs:
                    bw.put((zz[0] >> al) & 1, 1)
        else:  # AC scan: single component, one band
            st = _ProgAcState()
            for zz in zzs:
                if ah == 0:
                    _encode_ac_first_block(bw, ac_map, st, zz, ss, se, al)
                else:
                    _encode_ac_refine_block(bw, ac_map, st, zz, ss, se, al)
            _emit_eobrun(bw, ac_map, st)  # scan-end flush
        sos = _jpeg_seg(0xDA, bytes([1, 1, 0x00, ss, se, (ah << 4) | al]))
        scans.append(sos + bw.flush())

    dqt = _jpeg_seg(0xDB, bytes([0x00]) + bytes([q00] * 64))
    sof = _jpeg_seg(0xC2, struct.pack(">BHHB", 8, h, w, 1) + bytes([1, 0x11, 0]))
    dht = _jpeg_seg(
        0xC4,
        bytes([0x00]) + bytes(_JPEG_DC_BITS) + bytes(_JPEG_DC_VALS)
        + bytes([0x10])
        + bytes(_JPEG_PROG_AC_BITS)
        + bytes(_JPEG_PROG_AC_VALS),
    )
    return b"\xff\xd8" + dqt + sof + dht + b"".join(scans) + b"\xff\xd9"


def _decode_jpeg_progressive(b: bytes) -> np.ndarray:
    """REAL T.81 progressive (SOF2) decode: walks every scan,
    accumulating quantized coefficients per component across DC
    first/refinement and AC first/refinement scans (spectral
    selection, successive approximation, EOBRUN), then dequantizes
    and runs the module's defined integer IDCT once at the end.
    Supports grayscale and 3-component 1x1-sampled frames (DC scans
    interleaved or single-component; AC scans are single-component by
    spec). Subsampled progressive frames and restart intervals inside
    progressive scans raise honestly."""
    if b[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG")
    i = 2
    qtables: dict[int, bytes] = {}
    htables: dict[tuple[int, int], dict] = {}
    dims = None
    comps: list = []
    coef_store: list = []
    nblocks = 0
    while i + 2 <= len(b):
        if b[i] != 0xFF:
            raise ValueError("marker expected")
        marker = b[i + 1]
        if marker == 0xD9:
            break
        (seg_len,) = struct.unpack(">H", b[i + 2 : i + 4])
        payload = b[i + 4 : i + 2 + seg_len]
        i += 2 + seg_len
        if marker == 0xDB:
            p = 0
            while p < len(payload):
                pq, tq = payload[p] >> 4, payload[p] & 0x0F
                if pq != 0:
                    raise NotImplementedError("16-bit quant tables")
                qtables[tq] = payload[p + 1 : p + 65]
                p += 65
        elif marker == 0xC4:
            p = 0
            while p < len(payload):
                tc, th = payload[p] >> 4, payload[p] & 0x0F
                bits = tuple(payload[p + 1 : p + 17])
                nvals = sum(bits)
                vals = tuple(payload[p + 17 : p + 17 + nvals])
                htables[(tc, th)] = _huff_canonical(bits, vals)
                p += 17 + nvals
        elif marker == 0xC2:
            h, w = struct.unpack(">HH", payload[1:5])
            ncomp = payload[5]
            if ncomp not in (1, 3):
                raise NotImplementedError(f"{ncomp}-component JPEG")
            comps = []
            for c in range(ncomp):
                cid, samp, tq = payload[6 + 3 * c : 9 + 3 * c]
                if samp != 0x11:
                    raise NotImplementedError(
                        "subsampled progressive JPEG (1x1 only)"
                    )
                comps.append((cid, tq))
            dims = (h, w)
            nblocks = (-(-h // 8)) * (-(-w // 8))
            coef_store = [
                np.zeros((nblocks, 64), dtype=np.int64) for _ in comps
            ]
        elif marker == 0xC0:
            raise ValueError("baseline frame in progressive decoder")
        elif marker == 0xDD:
            (dri,) = struct.unpack(">H", payload[0:2])
            if dri:
                raise NotImplementedError(
                    "restart intervals in progressive scans"
                )
        elif marker == 0xDA:
            if dims is None:
                raise ValueError("SOS before SOF2")
            ns = payload[0]
            scomp = []
            for c in range(ns):
                cs = payload[1 + 2 * c]
                td_ta = payload[2 + 2 * c]
                ci = next(
                    j for j, (cid, _) in enumerate(comps) if cid == cs
                )
                scomp.append((ci, td_ta >> 4, td_ta & 0x0F))
            ss, se = payload[1 + 2 * ns], payload[2 + 2 * ns]
            ah_al = payload[3 + 2 * ns]
            ah, al = ah_al >> 4, ah_al & 0x0F
            # entropy span: up to the next unstuffed non-RST marker
            j = i
            while j < len(b):
                if b[j] == 0xFF and j + 1 < len(b):
                    nxt = b[j + 1]
                    if nxt == 0x00 or 0xD0 <= nxt <= 0xD7:
                        j += 2
                        continue
                    break
                j += 1
            reader = _JpegBitReader(b[i:j])
            _decode_prog_scan(
                reader, coef_store, scomp, htables, ss, se, ah, al, nblocks
            )
            i = j
    if dims is None:
        raise ValueError("incomplete progressive JPEG")
    h, w = dims
    bwn = -(-w // 8)
    planes = []
    for ci, (_, tq) in enumerate(comps):
        qt = qtables[tq]
        # DQT is zigzag order; coefficients are stored natural order
        qt_nat = np.zeros(64, dtype=np.int64)
        for k in range(64):
            qt_nat[_JPEG_ZIGZAG[k]] = qt[k]
        plane = np.empty((-(-h // 8) * 8, bwn * 8), dtype=np.int64)
        for bi in range(nblocks):
            coef = (coef_store[ci][bi] * qt_nat).reshape(8, 8)
            by, bx = divmod(bi, bwn)
            plane[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = np.clip(
                _idct_int(coef), 0, 255
            )
        planes.append(plane)
    if len(comps) == 1:
        gray = planes[0][:h, :w].astype(np.uint8)
        return np.repeat(gray[:, :, None], 3, axis=2)
    y = planes[0][:h, :w]
    cb = planes[1][:h, :w] - 128
    cr = planes[2][:h, :w] - 128
    r = y + ((91881 * cr + 32768) >> 16)
    g = y + ((-22554 * cb - 46802 * cr + 32768) >> 16)
    bl = y + ((116130 * cb + 32768) >> 16)
    return np.dstack([r, g, bl]).clip(0, 255).astype(np.uint8)


def _decode_prog_scan(
    reader: "_JpegBitReader",
    coef_store: list,
    scomp: list,
    htables: dict,
    ss: int,
    se: int,
    ah: int,
    al: int,
    nblocks: int,
) -> None:
    """Decode one progressive scan into the coefficient store."""
    if ss == 0:  # DC scan — all listed components, interleaved
        if se != 0:
            raise ValueError("progressive DC scan with Se != 0")
        if ah == 0:
            preds = [0] * len(scomp)
            for bi in range(nblocks):
                for si, (ci, td, _) in enumerate(scomp):
                    size = reader.huff(htables[(0, td)])
                    preds[si] += _jpeg_extend(reader.bits(size), size)
                    coef_store[ci][bi][0] = preds[si] << al
        else:
            p1 = 1 << al
            for bi in range(nblocks):
                for ci, _, _ in scomp:
                    if reader.bit():
                        coef_store[ci][bi][0] |= p1
        return
    if len(scomp) != 1:
        raise ValueError("progressive AC scan must be single-component")
    ci, _, ta = scomp[0]
    ac = htables[(1, ta)]
    store = coef_store[ci]
    eobrun = 0
    if ah == 0:  # AC first scan
        for bi in range(nblocks):
            if eobrun:
                eobrun -= 1
                continue
            blk = store[bi]
            k = ss
            while k <= se:
                rs = reader.huff(ac)
                r, s = rs >> 4, rs & 0x0F
                if s == 0:
                    if r == 15:  # ZRL
                        k += 16
                        continue
                    eobrun = (1 << r) - 1  # current block included
                    if r:
                        eobrun += reader.bits(r)
                    break
                k += r
                if k > se:
                    raise ValueError("AC run past band end")
                blk[_JPEG_ZIGZAG[k]] = (
                    _jpeg_extend(reader.bits(s), s) << al
                )
                k += 1
        return
    # AC refinement scan: T.81 G.2 / libjpeg decode_mcu_AC_refine
    p1 = 1 << al
    m1 = -1 << al
    for bi in range(nblocks):
        blk = store[bi]
        k = ss
        if eobrun == 0:
            while k <= se:
                rs = reader.huff(ac)
                r, s = rs >> 4, rs & 0x0F
                val = 0
                if s:
                    if s != 1:
                        raise ValueError("refinement size must be 1")
                    val = p1 if reader.bit() else m1
                elif r != 15:
                    eobrun = 1 << r
                    if r:
                        eobrun += reader.bits(r)
                    break  # remaining corrections in the eobrun pass
                # advance past r zero-history coefficients, applying
                # correction bits to every nonzero-history one crossed
                while k <= se:
                    idx = _JPEG_ZIGZAG[k]
                    c = int(blk[idx])
                    if c != 0:
                        if reader.bit() and (c & p1) == 0:
                            blk[idx] = c + (p1 if c >= 0 else m1)
                    else:
                        if r == 0:
                            break
                        r -= 1
                    k += 1
                if val:
                    if k > se:
                        raise ValueError("refinement run past band end")
                    blk[_JPEG_ZIGZAG[k]] = val
                k += 1
        if eobrun > 0:
            while k <= se:
                idx = _JPEG_ZIGZAG[k]
                c = int(blk[idx])
                if c != 0:
                    if reader.bit() and (c & p1) == 0:
                        blk[idx] = c + (p1 if c >= 0 else m1)
                k += 1
            eobrun -= 1


def gradient_jpeg_progressive_image(doc_id: int) -> tuple[str, bytes]:
    """The SAME deterministic coefficient recipe as
    gradient_jpeg_ac_image (2x3 blocks: DC + two first-row/column AC
    terms + a deep zigzag-40 coefficient), re-encoded PROGRESSIVELY
    through the 6-scan script. Progressive coding is lossless over
    quantized coefficients, so decoded pixels — and therefore the SQL
    oracle — are bit-identical to the baseline AC fixture's."""
    return "image/jpeg", encode_jpeg_progressive_gray(
        _ac_fixture_blocks(doc_id), q00=1
    )


attach_real_jpeg_progressive_payload = _attach_payload_fn(
    gradient_jpeg_progressive_image
)


def encode_flac_fixed(
    frames: list[list[int]], order: int = 2, k: int = 4
) -> bytes:
    """Mono 16-bit FLAC whose frames are FIXED-predictor subframes:
    ``order`` warmup samples verbatim, then single-partition Rice
    residuals (parameter ``k``) of the fixed-polynomial prediction —
    the exact-integer tier of real FLAC compression. 256-sample
    frames, real CRC-8/CRC-16."""
    for f in frames:
        if len(f) != 256:
            raise ValueError("fixture frames are 256 samples")
    built = [
        _flac_frame(
            fno,
            0b0000,
            lambda wr, samp=samp: wr.fixed(
                samp, order=order, k_per_part=[k], bps=16, part_order=0
            ),
        )
        for fno, samp in enumerate(frames)
    ]
    return _flac_stream(1, 256 * len(frames), built)


def melody_flac_audio(doc_id: int) -> tuple[str, bytes]:
    """Deterministic 'melody' FLAC with FIXED order-2 prediction:
    1 + id%2 frames of s(t) = (id % 1000) + ((id % 50) - 25) * t
    + ((13t + id) % 7) - 3 — linear trend (perfectly predicted by
    order 2) plus a small periodic residual the Rice coder carries."""
    n_frames = 1 + doc_id % 2
    frames = []
    for f in range(n_frames):
        base = doc_id % 1000 + f
        slope = (doc_id % 50) - 25
        frames.append(
            [
                base + slope * t + ((13 * t + doc_id) % 7) - 3
                for t in range(256)
            ]
        )
    return "audio/flac", encode_flac_fixed(frames, order=2, k=4)


def _put_rice(bw: _BitWriterMSB, v: int, k: int) -> None:
    """ONE Rice emission (zigzag fold, unary quotient, k-bit
    remainder) shared by every residual writer — a change to the
    coding cannot silently diverge between subframe kinds. k must
    stay below the decoder's escape code (15)."""
    assert k < 15
    u = (v << 1) if v >= 0 else ((-v) << 1) - 1
    q = u >> k
    for _ in range(q):
        bw.put(0, 1)
    bw.put(1, 1)
    bw.put(u & ((1 << k) - 1), k)


class _FlacSubframeWriter:
    """Shared subframe emission for the fixture encoders — ALL FOUR
    subframe kinds live here, mirroring _flac_read_subframe bit for
    bit."""

    def __init__(self, bw: _BitWriterMSB) -> None:
        self.bw = bw

    def constant(self, v: int, bps: int) -> None:
        self.bw.put(0, 1)
        self.bw.put(0, 6)
        self.bw.put(0, 1)
        self.bw.put(v & ((1 << bps) - 1), bps)

    def verbatim(self, samp: list, bps: int) -> None:
        self.bw.put(0, 1)
        self.bw.put(1, 6)
        self.bw.put(0, 1)
        for v in samp:
            self.bw.put(v & ((1 << bps) - 1), bps)

    def fixed(
        self,
        samp: list,
        order: int,
        k_per_part: list,
        bps: int,
        part_order: int = 0,
    ) -> None:
        bw = self.bw
        blocksize = len(samp)
        n_parts = 1 << part_order
        assert len(k_per_part) == n_parts
        bw.put(0, 1)
        bw.put(0b001000 | order, 6)
        bw.put(0, 1)
        for t in range(order):
            bw.put(samp[t] & ((1 << bps) - 1), bps)
        bw.put(0, 2)
        bw.put(part_order, 4)
        t = order
        for part, k in enumerate(k_per_part):
            bw.put(k, 4)
            n_res = (blocksize >> part_order) - (order if part == 0 else 0)
            for _ in range(n_res):
                _put_rice(bw, samp[t] - _flac_fixed_predict(samp, order, t), k)
                t += 1

    def lpc(
        self,
        samp: list,
        qlp: list,
        shift: int,
        precision: int,
        k: int | None = None,
        bps: int = 16,
        k_per_part: list | None = None,
        part_order: int = 0,
    ) -> None:
        """LPC subframe with the given quantized coefficients: warmup,
        precision/shift/coefs, then partitioned-Rice residuals of the
        exact integer prediction. ``k_per_part`` holds one entry per
        partition (2^part_order total): an int is that partition's
        Rice parameter; a ``('esc', nb)`` tuple writes the spec's
        ESCAPED partition (code 0b1111 + 5-bit width, residuals as
        nb-bit signed verbatim — the pressure valve for
        incompressible audio). Plain ``k`` is single-partition
        shorthand."""
        bw = self.bw
        order = len(qlp)
        blocksize = len(samp)
        if k_per_part is None:
            k_per_part = [k]
        n_parts = 1 << part_order
        assert len(k_per_part) == n_parts
        assert blocksize % n_parts == 0
        bw.put(0, 1)
        bw.put(0x20 | (order - 1), 6)
        bw.put(0, 1)
        for t in range(order):
            bw.put(samp[t] & ((1 << bps) - 1), bps)
        bw.put(precision - 1, 4)
        bw.put(shift, 5)
        for c in qlp:
            bw.put(c & ((1 << precision) - 1), precision)
        bw.put(0, 2)
        bw.put(part_order, 4)

        def predict(t: int) -> int:
            return (
                sum(c * samp[t - 1 - j] for j, c in enumerate(qlp)) >> shift
            )

        t = order
        for part, kp in enumerate(k_per_part):
            n_res = (blocksize >> part_order) - (order if part == 0 else 0)
            if isinstance(kp, tuple):  # ('esc', nb)
                nb = kp[1]
                bw.put(0b1111, 4)
                bw.put(nb, 5)
                for _ in range(n_res):
                    res = samp[t] - predict(t)
                    assert -(1 << (nb - 1)) <= res < (1 << (nb - 1))
                    bw.put(res & ((1 << nb) - 1), nb)
                    t += 1
            else:
                bw.put(kp, 4)
                for _ in range(n_res):
                    _put_rice(bw, samp[t] - predict(t), kp)
                    t += 1


def encode_flac_lpc_multipart(
    frames: list[list[int]],
    qlp: list,
    shift: int,
    precision: int,
    k_per_part: list,
    part_order: int,
) -> bytes:
    """Mono 16-bit FLAC whose frames are LPC subframes with
    MULTI-PARTITION Rice residuals (mixed Rice parameters and escaped
    verbatim-width partitions) — the last FLAC entropy tier beyond
    the single-partition LPC fixture. 256-sample frames, real
    CRCs."""
    for f in frames:
        if len(f) != 256:
            raise ValueError("fixture frames are 256 samples")
    built = [
        _flac_frame(
            fno,
            0b0000,
            lambda wr, samp=samp: wr.lpc(
                samp,
                qlp=qlp,
                shift=shift,
                precision=precision,
                bps=16,
                k_per_part=k_per_part,
                part_order=part_order,
            ),
        )
        for fno, samp in enumerate(frames)
    ]
    return _flac_stream(1, 256 * len(frames), built)


def melody_flac_lpc_audio(doc_id: int) -> tuple[str, bytes]:
    """Deterministic LPC melody with MULTI-PARTITION Rice:
    (1 + id%2) frames of 256 samples, s(t) = (id%800) + 2t +
    ((7t + id) % 9) - 4 (t global across frames). The order-2
    predictor qlp = [2, -1] (shift 0) absorbs the linear trend, so
    residuals are the periodic term's second difference (|res| <=
    16); the four Rice partitions per frame use parameters
    [4, ESCAPE(6), 3, 5], covering mixed-k decoding AND the escaped
    verbatim-width partition in one gated fixture."""
    n_frames = 1 + doc_id % 2
    samples = [
        (doc_id % 800) + 2 * t + ((7 * t + doc_id) % 9) - 4
        for t in range(256 * n_frames)
    ]
    frames = [
        samples[f * 256 : (f + 1) * 256] for f in range(n_frames)
    ]
    return "audio/flac", encode_flac_lpc_multipart(
        frames,
        qlp=[2, -1],
        shift=0,
        precision=4,
        k_per_part=[4, ("esc", 6), 3, 5],
        part_order=2,
    )


def encode_flac_stereo(
    left: list, right: list, assignment: str = "mid_side"
) -> bytes:
    """Stereo 16-bit FLAC (one 256-sample frame) using the requested
    channel assignment — independent / left_side / right_side /
    mid_side — with FIXED order-1 subframes and 2-partition Rice,
    exercising the full decorrelation + partition machinery."""
    assert len(left) == len(right) == 256
    codes = {
        "independent": 0b0001,
        "left_side": 0b1000,
        "right_side": 0b1001,
        "mid_side": 0b1010,
    }
    code = codes[assignment]
    side = [l - r for l, r in zip(left, right)]
    mid = [(l + r) >> 1 for l, r in zip(left, right)]
    if assignment == "independent":
        chans = [(left, 16), (right, 16)]
    elif assignment == "left_side":
        chans = [(left, 16), (side, 17)]
    elif assignment == "right_side":
        chans = [(side, 17), (right, 16)]
    else:
        chans = [(mid, 16), (side, 17)]

    def body(wr: _FlacSubframeWriter) -> None:
        for samp, bps in chans:
            wr.fixed(
                samp, order=1, k_per_part=[5, 6], bps=bps, part_order=1
            )

    return _flac_stream(2, 256, [_flac_frame(0, code, body)])


def stereo_flac_audio(doc_id: int) -> tuple[str, bytes]:
    """Deterministic stereo FLAC: one 256-sample frame whose channel
    assignment rotates with the doc id (independent / left_side /
    right_side / mid_side), L(t) = (id%500) + 2t + ((5t+id)%11) - 5,
    R(t) = (id%300) - t + ((7t+id)%9) - 4 — FIXED order-1 subframes,
    two-partition Rice."""
    modes = ("independent", "left_side", "right_side", "mid_side")
    left = [
        (doc_id % 500) + 2 * t + ((5 * t + doc_id) % 11) - 5
        for t in range(256)
    ]
    right = [
        (doc_id % 300) - t + ((7 * t + doc_id) % 9) - 4
        for t in range(256)
    ]
    return "audio/flac", encode_flac_stereo(
        left, right, modes[doc_id % 4]
    )


def gradient_jpeg_422_image(doc_id: int) -> tuple[str, bytes]:
    """Deterministic block-constant 4:2:2 JPEG: w = 16*(1+id%3),
    h = 8*(1+(id//3)%2); Y block (bx, by) (8px grid) =
    (id + 9bx + 21by) % 256; chroma blocks (cx, cy) on the (16px wide,
    8px tall) luma grid: Cb = (3id + 13cx + 7cy) % 256,
    Cr = (5id + 23cy + 11cx) % 256."""
    w = 16 * (1 + doc_id % 3)
    h = 8 * (1 + (doc_id // 3) % 2)
    y = _block_plane(h, w, lambda bx, by: doc_id + 9 * bx + 21 * by)
    cb = _block_plane(h, w // 2, lambda cx, cy: 3 * doc_id + 13 * cx + 7 * cy)
    cr = _block_plane(h, w // 2, lambda cx, cy: 5 * doc_id + 23 * cy + 11 * cx)
    return "image/jpeg", encode_jpeg_dc(y, cb, cr, hv=(2, 1))


attach_real_jpeg_422_payload = _attach_payload_fn(gradient_jpeg_422_image)


def gradient_jpeg_411_image(doc_id: int) -> tuple[str, bytes]:
    """Deterministic block-constant 4:1:1 JPEG: w = 32*(1+id%2),
    h = 8*(1+(id//2)%3); Y block (bx, by) (8px grid) =
    (id + 7bx + 19by) % 256; chroma blocks (cx = bx//4, cy = by):
    Cb = (3id + 13cx + 5cy) % 256, Cr = (5id + 11cx + 3cy) % 256."""
    w = 32 * (1 + doc_id % 2)
    h = 8 * (1 + (doc_id // 2) % 3)
    y = _block_plane(h, w, lambda bx, by: doc_id + 7 * bx + 19 * by)
    cb = _block_plane(h, w // 4, lambda cx, cy: 3 * doc_id + 13 * cx + 5 * cy)
    cr = _block_plane(h, w // 4, lambda cx, cy: 5 * doc_id + 11 * cx + 3 * cy)
    return "image/jpeg", encode_jpeg_dc(y, cb, cr, hv=(4, 1))


attach_real_jpeg_411_payload = _attach_payload_fn(gradient_jpeg_411_image)


def gradient_jpeg_440_image(doc_id: int) -> tuple[str, bytes]:
    """Deterministic block-constant 4:4:0 JPEG: w = 8*(1+id%3),
    h = 16*(1+(id//3)%2); Y block (bx, by) (8px grid) =
    (id + 23bx + 9by) % 256; chroma blocks (cx = bx, cy = by//2):
    Cb = (3id + 7cx + 17cy) % 256, Cr = (5id + 13cx + 27cy) % 256."""
    w = 8 * (1 + doc_id % 3)
    h = 16 * (1 + (doc_id // 3) % 2)
    y = _block_plane(h, w, lambda bx, by: doc_id + 23 * bx + 9 * by)
    cb = _block_plane(h // 2, w, lambda cx, cy: 3 * doc_id + 7 * cx + 17 * cy)
    cr = _block_plane(h // 2, w, lambda cx, cy: 5 * doc_id + 13 * cx + 27 * cy)
    return "image/jpeg", encode_jpeg_dc(y, cb, cr, hv=(1, 2))


attach_real_jpeg_440_payload = _attach_payload_fn(gradient_jpeg_440_image)


def encode_exif_jpeg(
    orientation: int,
    make: str,
    model: str,
    datetime_s: str,
    big_endian: bool = False,
) -> bytes:
    """Minimal JPEG container carrying a REAL Exif APP1 segment: TIFF
    header ('II' little- or 'MM' big-endian, magic 42, IFD0 at 8),
    IFD0 with Make/Model/Orientation/DateTime, out-of-line ASCII
    values in a data area addressed by offsets from the TIFF origin —
    the genuine TIFF encoding, not a lookalike."""
    e = ">" if big_endian else "<"
    entries = []  # (tag, type, count, packed-value-or-None, raw-bytes)
    for tag, s in ((0x010F, make), (0x0110, model), (0x0132, datetime_s)):
        raw = s.encode("ascii") + b"\x00"
        entries.append((tag, 2, len(raw), raw))
    entries.append((0x0112, 3, 1, struct.pack(e + "H", orientation) + b"\x00\x00"))
    entries.sort(key=lambda x: x[0])  # TIFF requires ascending tags
    n = len(entries)
    ifd_size = 2 + n * 12 + 4
    data_off = 8 + ifd_size
    body = b""
    data = b""
    for tag, typ, cnt, raw in entries:
        if len(raw) <= 4:
            val = raw.ljust(4, b"\x00")
        else:
            val = struct.pack(e + "I", data_off + len(data))
            data += raw
        body += struct.pack(e + "HHI", tag, typ, cnt) + val
    tiff = (
        (b"MM" if big_endian else b"II")
        + struct.pack(e + "H", 42)
        + struct.pack(e + "I", 8)
        + struct.pack(e + "H", n)
        + body
        + struct.pack(e + "I", 0)
        + data
    )
    return b"\xff\xd8" + _jpeg_seg(0xE1, b"Exif\x00\x00" + tiff) + b"\xff\xd9"


def decode_exif(b: bytes) -> dict:
    """Walk JPEG markers to the Exif APP1 segment and parse the TIFF
    IFD0: endianness from the byte-order mark, magic-42 check, entry
    walk with in-line vs offset-addressed values (ASCII type 2, SHORT
    type 3). Returns {byte_order, orientation, make, model,
    datetime}. Raises ValueError on malformed containers — the
    codec-ladder error contract."""
    if b[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG")
    i = 2
    tiff = None
    while i + 4 <= len(b):
        if b[i] != 0xFF:
            raise ValueError("marker expected")
        marker = b[i + 1]
        if marker == 0xD9:
            break
        (seg_len,) = struct.unpack(">H", b[i + 2 : i + 4])
        payload = b[i + 4 : i + 2 + seg_len]
        i += 2 + seg_len
        if marker == 0xE1 and payload[:6] == b"Exif\x00\x00":
            tiff = payload[6:]
            break
    if tiff is None:
        raise ValueError("no Exif APP1 segment")
    bom = tiff[:2]
    if bom == b"II":
        e = "<"
    elif bom == b"MM":
        e = ">"
    else:
        raise ValueError(f"bad TIFF byte order {bom!r}")
    (magic,) = struct.unpack(e + "H", tiff[2:4])
    if magic != 42:
        raise ValueError("bad TIFF magic")
    (ifd0,) = struct.unpack(e + "I", tiff[4:8])
    (n,) = struct.unpack(e + "H", tiff[ifd0 : ifd0 + 2])
    out: dict = {"byte_order": bom.decode()}
    names = {0x010F: "make", 0x0110: "model", 0x0132: "datetime"}
    for k in range(n):
        off = ifd0 + 2 + k * 12
        tag, typ, cnt = struct.unpack(e + "HHI", tiff[off : off + 8])
        val = tiff[off + 8 : off + 12]
        if typ == 2:  # ASCII, count includes the NUL
            if cnt <= 4:
                raw = val[:cnt]
            else:
                (p,) = struct.unpack(e + "I", val)
                raw = tiff[p : p + cnt]
            if tag in names:
                out[names[tag]] = raw.rstrip(b"\x00").decode("ascii")
        elif typ == 3 and tag == 0x0112:
            (out["orientation"],) = struct.unpack(e + "H", val[:2])
    return out


def exif_jpeg_fixture(doc_id: int) -> tuple[str, bytes]:
    """Deterministic Exif JPEG: orientation 1 + id%8, maker/model/
    timestamp derived from the id, byte order alternating II/MM by
    parity — both TIFF endiannesses under the gate."""
    return "image/jpeg", encode_exif_jpeg(
        orientation=1 + doc_id % 8,
        make=f"Maker{doc_id % 5}",
        model=f"Cam{doc_id % 7}",
        datetime_s=f"2024:01:{1 + doc_id % 28:02d} 12:{doc_id % 60:02d}:00",
        big_endian=bool(doc_id % 2),
    )


def extract_exif(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Manufacture Exif payloads distributively and decode them back
    through the REAL parser — schema (doc_id, byte_order,
    orientation, make, model, datetime)."""
    gen_schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("byte_order", StringType()),
            StructField("orientation", LongType()),
            StructField("make", StringType()),
            StructField("model", StringType()),
            StructField("datetime", StringType()),
        ]
    )

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                _, payload = exif_jpeg_fixture(int(doc_id))
                meta = decode_exif(payload)
                rows.append(
                    {
                        "doc_id": int(doc_id),
                        "byte_order": meta["byte_order"],
                        "orientation": meta["orientation"],
                        "make": meta["make"],
                        "model": meta["model"],
                        "datetime": meta["datetime"],
                    }
                )
            yield pd.DataFrame(rows)

    return docs.select(F.col(id_col).cast("long").alias("doc_id")).mapInPandas(
        process, gen_schema
    )


def gradient_interlace_png_image(doc_id: int) -> tuple[str, bytes]:
    """Deterministic PNG for the round-8 tiers: even ids are
    Adam7-INTERLACED 8-bit truecolor (c(x, y) = (id * kc + 3x + 5y) %
    256, kc in (1, 7, 13)); odd ids are 16-BIT-channel sequential
    truecolor (v16(x, y) = (id * kc + 257x + 513y) % 65536, decoded
    byte = v16 >> 8). Geometry w = 3 + id % 9, h = 3 + (id // 9) % 8
    spans sub-8 AND super-8 dimensions so every Adam7 pass shape
    (empty, partial, full) sits under one hash."""
    w = 3 + doc_id % 9
    h = 3 + (doc_id // 9) % 8
    xs = np.arange(w, dtype=np.int64)
    ys = np.arange(h, dtype=np.int64)
    if doc_id % 2 == 0:
        grid = 3 * xs[None, :] + 5 * ys[:, None]
        px = np.dstack(
            [(doc_id * k + grid) % 256 for k in (1, 7, 13)]
        ).astype(np.uint8)
        return "image/png", encode_png_adam7(px)
    grid16 = 257 * xs[None, :] + 513 * ys[:, None]
    px16 = np.dstack(
        [(doc_id * k + grid16) % 65536 for k in (1, 7, 13)]
    ).astype(np.uint16)
    return "image/png", encode_png16(px16)


attach_interlace_png_payload = _attach_payload_fn(gradient_interlace_png_image)
