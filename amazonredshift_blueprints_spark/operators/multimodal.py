"""Multimodal-column plumbing: opaque binary payloads + typed metadata.

The pattern for image/audio/video at 100 TB (SURVEY.md §2 Part C):
- payloads ride as ``BinaryType`` columns (or object-store URIs for the
  very large ones) next to a ``StructType`` metadata column;
- decode / feature-extract runs in ``mapInPandas`` — Arrow-batched, one
  Python worker per input partition, constant memory per batch;
- partitioning carries over from the scan, so the decode stage scales
  with partition count and never shuffles — EXCEPT when the scan itself
  arrives pathologically under-split (a single-row-group parquet file
  serializes every codec kernel into one task no matter the cluster
  size). Every Arrow-stage input therefore passes through dedup.py's
  guarded ``rebalance_for_compute`` (r16): a round-robin repartition
  that FIRES only when scan parallelism is >4× below the cluster's and
  is a no-op on any well-split at-scale input, so the "no shuffle at
  100 TB" contract above still holds. Measured at sf0.1/local[32]: the
  JPEG decode-stats entries ran 1-task serial before the guard.

Decode status, honestly: uncompressed binary PPM (P6) decodes FOR REAL
(pure-numpy parser, ``decode_image``; end-to-end verified against a
closed-form pixel oracle in c64), and PNG decodes FOR REAL via stdlib
zlib + numpy unfiltering (``decode_png``; same closed-form oracle in
c81/c83): RGB and grayscale at depths 8 AND 16, RGBA and gray+alpha
(r15, c219), and PLTE-indexed color at depths 1/2/4/8, each
sequential or Adam7-interlaced, all five filter types. Baseline TIFF
(r15, c220) encodes and decodes in both byte orders, gray/RGB/RGBA at
8/16 bits, multi-strip. Audio: PCM WAV, G.711 mu-law/A-law (r15,
c217) and stateful IMA ADPCM (r15, c218), the latter two bit-exact
against CPython's audioop reference.
Baseline JPEG encodes AND decodes for real since r14 — grayscale
(c211) and 3-component color (c213: JFIF YCbCr, dual Annex
K.1/K.2 quantization tables, K.3.2 chroma Huffman tables,
interleaved MCUs; r15 adds chroma-SUBSAMPLED 4:2:0/4:2:2 encode and
decode with general sampling-factor MCU layout and replication
upsampling, c214 — the layout nearly every camera/web JPEG uses —
and RESTART INTERVALS, c215: DRI + RSTm markers emitted every N MCUs
and consumed at the declared boundaries with DC predictors reset) —
pure numpy DCT + canonical Huffman, cross-validated against the
JVM's independent javax.imageio decoder; exactness contract for
block-constant tiles documented at the JPEG section below.
Progressive JPEG (SOF2, every Annex G scan kind, c216) and
4-component Adobe CMYK/YCCK JPEG (c226) decode natively as well
(``_decode_jpeg_progressive``, :func:`image_cmyk_stats`). Non-integer
chroma sampling grids and 16-bit quantization tables refuse inside
:func:`decode_jpeg` with a NotImplementedError naming the reason.
Only a payload whose magic matches no native format falls through to
pillow when present, and otherwise raises NotImplementedError; video
has no decoder (:func:`sample_frames` slices bytes). The hash-based
featureizer remains for payloads that cannot decode here; every piece
of real plumbing (binary Arrow transfer, batch iteration, schema
contract) is shared between both paths through the ``_synthesize`` /
``_per_payload`` scaffold below, so swapping in a full decoder is a
one-function change.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import rebalance_for_compute
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
)

FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_bytes", LongType()),
        StructField("payload_md5", StringType()),
        StructField("head_hex", StringType()),
        StructField("feature", StringType()),
    ]
)


# --------------------------------------------------------------------------
# The per-row Arrow scaffold every synthesize_* / *_stats function shares
# (the gapply / convert_to_pandas_udf pattern: adapt a per-row pure
# function into one batched UDF). Each public function keeps only its
# own part — the closed-form formula its oracle replays, or its decode
# and reduce — and these two helpers own the batch loop, the output
# frame and the ``rebalance_for_compute`` guard.
# --------------------------------------------------------------------------


def _synthesize(df: DataFrame, id_col: str, payload_of) -> DataFrame:
    """The ``(doc_id long, payload binary)`` frame holding
    ``payload_of(int(id)) -> bytes`` for every id of ``df[id_col]``,
    built Arrow-batched inside the scan's partitions."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf[id_col].astype("int64")
            payloads = [payload_of(int(i)) for i in ids]
            yield pd.DataFrame(
                {"doc_id": ids, "payload": pd.Series(payloads, dtype=object)}
            )

    return rebalance_for_compute(df.select(F.col(id_col))).mapInPandas(
        gen, "doc_id long, payload binary"
    )


def _per_payload(
    df: DataFrame,
    row_of,
    schema,
    *,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """One output row ``row_of(doc_id, payload_bytes, *extras) -> tuple``
    per input row, where ``extras`` are the values of ``extra_cols``.
    Column names come from ``schema`` (DDL string or StructType) and
    every column is built with its declared type — nullable ``Int64``
    for longs, so a row may carry NULL stats — on empty batches too.
    Arrow-batched inside the scan's partitions, no shuffle."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    names = schema.fieldNames()
    dtypes = [
        "Int64" if isinstance(f.dataType, LongType) else object
        for f in schema.fields
    ]

    def rows(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            more = [pdf[c] for c in extra_cols]
            cells = zip(pdf[id_col], pdf[payload_col], *more)
            out = [
                row_of(int(doc_id), bytes(payload), *extras)
                for doc_id, payload, *extras in cells
            ]
            cols = list(zip(*out)) or [()] * len(names)
            yield pd.DataFrame(
                {
                    n: pd.Series(col, dtype=t)
                    for n, col, t in zip(names, cols, dtypes)
                }
            )

    return rebalance_for_compute(
        df.select(F.col(id_col), F.col(payload_col), *extra_cols)
    ).mapInPandas(rows, schema)


def _pixel_grid(base: int, shape, steps, m: int = 256):
    """Closed-form test pixels ``(base + r*dr + c*dc + ch*dch) % m`` over
    an ``(h, w, n_ch)`` grid — the formula family the synthesizers'
    oracles replay in SQL — as uint8, or uint16 when ``m > 256``."""
    h, w, n_ch = shape
    dr, dc, dch = steps
    r = np.arange(h)[:, None, None]
    c = np.arange(w)[None, :, None]
    ch = np.arange(n_ch)[None, None, :]
    px = (base + r * dr + c * dc + ch * dch) % m
    return px.astype(np.uint16 if m > 256 else np.uint8)


def _rgb_grid(i: int, side: int):
    """The PPM/PNG test image: pixel (r, c) channel ch of image ``i`` is
    ``(i*31 + r*7 + c*3 + ch) % 256``."""
    return _pixel_grid(i * 31, (side, side, 3), (7, 3, 1))


def _ramp_palette(n_colors: int, muls):
    """Palette entry c = ``((c*m0)%256, (c*m1)%256, (c*m2)%256)``."""
    c = np.arange(n_colors)
    return np.stack([(c * m) % 256 for m in muls], axis=1).astype(np.uint8)


def _tile_image(i: int, tiles, steps, crop):
    """The JPEG exactness class (see the JPEG section header): a
    ``tiles = (th, tw)`` grid of 8x8 tiles, tile (tr, tc) holding the
    constant EVEN value ``2*((i*a + tr*b + tc*c) % 128)`` for
    ``steps = (a, b, c)``, cropped by ``crop = (dh, dw)`` pixels so the
    encoders' edge-replicate padding runs."""
    (th, tw), (a, b, c) = tiles, steps
    tr = np.arange(th)[:, None]
    tc = np.arange(tw)[None, :]
    grid = (2 * ((i * a + tr * b + tc * c) % 128)).astype(np.uint8)
    img = np.kron(grid, np.ones((8, 8), dtype=np.uint8))
    return img[: th * 8 - crop[0], : tw * 8 - crop[1]]


def _gray_tile_jpeg(i: int) -> bytes:
    """The c211 grayscale tile JPEG of image ``i``."""
    return encode_jpeg_gray(
        _tile_image(i, (1 + i % 3, 2 + i % 2), (31, 7, 3), (1, 3))
    )


_CHANNEL_SCHEMA = (
    "doc_id long, width long, height long, n_channels long, "
    "sum_r long, sum_g long, sum_b long, sum_a long, px_max long"
)


def _channel_row(doc_id: int, px) -> tuple:
    """The ``_CHANNEL_SCHEMA`` row of a gray (h, w) or RGB/RGBA
    (h, w, 3|4) pixel array: gray fills sum_r/g/b with its single
    channel, and sum_a is 0 without alpha."""
    arr = px.astype(np.int64)
    if arr.ndim == 2:
        s = int(arr.sum())
        n_ch, sums = 1, (s, s, s, 0)
    else:
        n_ch = arr.shape[2]
        sums = [int(arr[:, :, k].sum()) for k in range(3)]
        sums.append(int(arr[:, :, 3].sum()) if n_ch == 4 else 0)
    return (doc_id, px.shape[1], px.shape[0], n_ch, *sums, int(arr.max()))


def _pcm_stats(pcm) -> tuple:
    """``(n_samples, sum, sum_abs, min, max)`` of 1-D PCM samples as
    exact integers. Real ingest can carry an empty frame: it gives an
    honest zero-sample row with NULL stats instead of numpy's opaque
    zero-size reduction error."""
    v = pcm.astype(np.int64)
    if v.size == 0:
        return (0, None, None, None, None)
    return (
        v.size, int(v.sum()), int(np.abs(v).sum()), int(v.min()), int(v.max())
    )


def encode_ppm(pixels) -> bytes:
    """RGB uint8 array (h, w, 3) → binary PPM (P6) bytes — the
    uncompressed image format that needs no codec library, used to give
    the decode path REAL bytes to chew on."""
    import numpy as np

    arr = np.asarray(pixels, dtype=np.uint8)
    h, w, c = arr.shape
    if c != 3:
        raise ValueError(f"PPM P6 is RGB; got {c} channels")
    return b"P6\n%d %d\n255\n" % (w, h) + arr.tobytes()


def encode_pnm(pixels, variant: str) -> bytes:
    """Full netpbm family encode (r16 — the PPM rung was P6-only):
    ``P1`` ASCII bitmap (0/1, 1 = black per the PBM spec), ``P2``
    ASCII graymap, ``P3`` ASCII pixmap, ``P4`` packed binary bitmap
    (rows MSB-first, padded to a byte boundary), ``P5`` binary graymap
    in 8-bit or BIG-ENDIAN 16-bit samples by dtype (the netpbm
    ``maxval > 255`` rule). P6 stays in :func:`encode_ppm`. Bitmaps
    take a (h, w) array of {0, 1}; graymaps (h, w) uint8/uint16;
    pixmaps (h, w, 3) uint8."""
    import numpy as np

    if variant in ("P1", "P4"):
        arr = np.asarray(pixels)
        if arr.ndim != 2:
            raise ValueError(f"{variant} takes an HxW bitmap array")
        if arr.size and (int(arr.min()) < 0 or int(arr.max()) > 1):
            raise ValueError(f"{variant} samples must be 0 or 1")
        arr = arr.astype(np.uint8)
        h, w = arr.shape
        head = b"%s\n%d %d\n" % (variant.encode(), w, h)
        if variant == "P1":
            body = "\n".join(
                " ".join(str(int(v)) for v in row) for row in arr
            )
            return head + body.encode() + b"\n"
        return head + np.packbits(arr, axis=1).tobytes()
    if variant in ("P2", "P5"):
        arr, depth = _as_pixel_array(pixels, f"encode_pnm {variant}")
        if arr.ndim != 2:
            raise ValueError(f"{variant} takes an HxW gray array")
        h, w = arr.shape
        maxval = 255 if depth == 8 else 65535
        head = b"%s\n%d %d\n%d\n" % (variant.encode(), w, h, maxval)
        if variant == "P2":
            body = "\n".join(
                " ".join(str(int(v)) for v in row) for row in arr
            )
            return head + body.encode() + b"\n"
        wire = arr.astype(">u2") if depth == 16 else arr.astype(np.uint8)
        return head + wire.tobytes()
    if variant == "P3":
        arr, depth = _as_pixel_array(pixels, "encode_pnm P3")
        if depth != 8 or arr.ndim != 3 or arr.shape[2] != 3:
            raise ValueError("P3 takes an HxWx3 uint8 RGB array")
        h, w = arr.shape[:2]
        head = b"P3\n%d %d\n255\n" % (w, h)
        body = "\n".join(
            " ".join(str(int(v)) for v in row.reshape(-1)) for row in arr
        )
        return head + body.encode() + b"\n"
    raise ValueError(f"unknown PNM variant {variant!r} (P1-P5 here, P6 via encode_ppm)")


def _pnm_header(payload: bytes, ntok: int):
    """``(tokens, pos)`` after the magic: ``ntok`` whitespace-separated
    integers with ``#`` comments allowed in any whitespace run — the
    shared netpbm header grammar."""
    end, pos, tokens = len(payload), 2, []
    while len(tokens) < ntok:
        while pos < end and payload[pos : pos + 1].isspace():
            pos += 1
        if payload[pos : pos + 1] == b"#":
            nl = payload.find(b"\n", pos)
            if nl < 0:
                raise ValueError("truncated PNM header: unterminated comment")
            pos = nl + 1
            continue
        start = pos
        while pos < end and not payload[pos : pos + 1].isspace():
            pos += 1
        if pos == start:
            raise ValueError("truncated PNM header: missing token")
        tokens.append(int(payload[start:pos]))
    return tokens, pos


def _pnm_ascii_samples(payload: bytes, pos: int, n: int, maxval: int):
    """``n`` ASCII integers from ``pos`` (whitespace-separated, ``#``
    comments skipped), range-checked against ``maxval``."""
    import numpy as np

    out, end = [], len(payload)
    while len(out) < n:
        while pos < end and payload[pos : pos + 1].isspace():
            pos += 1
        if payload[pos : pos + 1] == b"#":
            nl = payload.find(b"\n", pos)
            if nl < 0:
                break
            pos = nl + 1
            continue
        start = pos
        while pos < end and not payload[pos : pos + 1].isspace():
            pos += 1
        if pos == start:
            break
        v = int(payload[start:pos])
        if v < 0 or v > maxval:
            raise ValueError(f"PNM sample {v} outside 0..{maxval}")
        out.append(v)
    if len(out) < n:
        raise ValueError(
            f"truncated PNM raster: need {n} samples, have {len(out)}"
        )
    return np.asarray(out, dtype=np.uint16 if maxval > 255 else np.uint8)


def decode_pnm(payload: bytes):
    """Full netpbm family decode (r16): P1/P4 bitmaps → (h, w) uint8 of
    raw {0, 1} raster values (1 = black, the PBM convention — callers
    map to luminance), P2/P5 graymaps → (h, w) uint8 or uint16 by
    maxval (16-bit samples are big-endian on the wire), P3/P6 pixmaps
    → (h, w, 3). P4 rows unpack MSB-first with byte-boundary padding
    discarded."""
    import numpy as np

    magic = payload[:2]
    if magic == b"P6":
        return decode_image(payload)
    if magic in (b"P1", b"P4"):
        (w, h), pos = _pnm_header(payload, 2)
        if magic == b"P1":
            return _pnm_ascii_samples(payload, pos, h * w, 1).reshape(h, w)
        pos += 1  # the single whitespace byte after the header
        row_bytes = (w + 7) // 8
        if len(payload) - pos < h * row_bytes:
            raise ValueError("truncated P4 raster")
        rows = np.frombuffer(
            payload, dtype=np.uint8, count=h * row_bytes, offset=pos
        ).reshape(h, row_bytes)
        return np.unpackbits(rows, axis=1)[:, :w]
    if magic in (b"P2", b"P5"):
        (w, h, maxval), pos = _pnm_header(payload, 3)
        if maxval <= 0 or maxval > 65535:
            raise ValueError(f"PNM maxval {maxval} outside 1..65535")
        if magic == b"P2":
            return _pnm_ascii_samples(payload, pos, h * w, maxval).reshape(
                h, w
            )
        pos += 1
        if maxval > 255:
            if len(payload) - pos < h * w * 2:
                raise ValueError("truncated P5 raster")
            return (
                np.frombuffer(payload, dtype=">u2", count=h * w, offset=pos)
                .reshape(h, w)
                .astype(np.uint16)
            )
        if len(payload) - pos < h * w:
            raise ValueError("truncated P5 raster")
        return np.frombuffer(
            payload, dtype=np.uint8, count=h * w, offset=pos
        ).reshape(h, w)
    if magic == b"P3":
        (w, h, maxval), pos = _pnm_header(payload, 3)
        if maxval != 255:
            raise NotImplementedError("16-bit P3 is not in this corpus")
        return _pnm_ascii_samples(payload, pos, h * w * 3, 255).reshape(
            h, w, 3
        )
    raise ValueError(f"not a PNM payload: magic {magic!r}")


def decode_image(payload: bytes):
    """REAL image decode for uncompressed binary PPM (P6) — pure numpy,
    no codec library — returning an (h, w, 3) uint8 array. Compressed
    formats fall through to pillow when present; otherwise they raise,
    honestly, because this container ships no codecs.

    P6 grammar: ``P6 <ws> width <ws> height <ws> maxval <one ws> raw
    RGB bytes``, where any whitespace run may contain ``#`` comments.
    """
    import numpy as np

    if payload[:2] == b"P6":
        end, pos, tokens = len(payload), 2, []
        while len(tokens) < 3:
            while pos < end and payload[pos : pos + 1].isspace():
                pos += 1
            if payload[pos : pos + 1] == b"#":  # comment to end of line
                nl = payload.find(b"\n", pos)
                if nl < 0:
                    raise ValueError("truncated PPM header: unterminated comment")
                pos = nl + 1
                continue
            start = pos
            while pos < end and not payload[pos : pos + 1].isspace():
                pos += 1
            if pos == start:
                raise ValueError("truncated PPM header: missing dimension token")
            tokens.append(int(payload[start:pos]))
        w, h, maxval = tokens
        if maxval != 255:
            raise ValueError(f"only 8-bit PPM supported, maxval={maxval}")
        pos += 1  # the single whitespace byte after maxval
        if end - pos < h * w * 3:
            raise ValueError(
                f"truncated PPM payload: need {h * w * 3} bytes, have {end - pos}"
            )
        data = np.frombuffer(payload, dtype=np.uint8, count=h * w * 3, offset=pos)
        return data.reshape(h, w, 3)
    if payload[:1] == b"P" and payload[1:2] in (b"1", b"2", b"3", b"4", b"5"):
        return decode_pnm(payload)  # full netpbm family (r16)
    if payload[:8] == _PNG_SIG:
        return decode_png(payload)
    if payload[:4] == b"GIF8":
        return decode_gif(payload)
    if payload[:2] == b"BM":
        return decode_bmp(payload)
    if payload[:4] == b"qoif":
        return decode_qoi(payload)
    if payload[-18:] == _TGA_FOOTER_SIG:
        return decode_tga(payload)
    if payload[:2] == b"\xff\xd8":
        return decode_jpeg(payload)  # baseline grayscale + color incl.
        # 4:2:0/4:2:2 (r15); progressive/CMYK refuse inside with the reason
    try:  # pragma: no cover - pillow absent in this container
        import io

        from PIL import Image

        return np.asarray(Image.open(io.BytesIO(payload)))
    except ImportError:
        raise NotImplementedError(
            "codecs beyond the native ladder (pillow/ffmpeg) are not "
            "available in this container; PPM, PNG, GIF, BMP, QOI, TGA "
            "and baseline grayscale JPEG decode natively — swap in a "
            "full decoder for color JPEG/video in production"
        )


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    import struct
    import zlib

    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


def _paeth(a: int, b: int, c: int) -> int:
    """PNG Paeth predictor (RFC 2083 §6.6): nearest of left/up/upleft."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


# Adam7 pass grid: (row offset, col offset, row step, col step) per pass
# (PNG spec §8.2). A pass is empty when its offset exceeds the image.
_ADAM7 = (
    (0, 0, 8, 8),
    (0, 4, 8, 8),
    (4, 0, 8, 4),
    (0, 2, 4, 4),
    (2, 0, 4, 2),
    (0, 1, 2, 2),
    (1, 0, 2, 1),
)


def _filter_scanlines(raw, bpp: int, filter_mode: str) -> bytearray:
    """Filter a (h, row_bytes) uint8 image into PNG scanlines (one
    filter-type byte + filtered bytes per row). ``filter_mode='cycle'``
    uses type r % 5 so every unfilter path gets exercised on decode."""
    import numpy as np

    raw = raw.astype(np.int16)  # int16: filter deltas go negative
    h, row_bytes = raw.shape
    prev = np.zeros(row_bytes, dtype=np.int16)
    scanlines = bytearray()
    for r in range(h):
        row = raw[r]
        ft = (r % 5) if filter_mode == "cycle" else 0
        left = np.concatenate([np.zeros(bpp, dtype=np.int16), row[:-bpp]])
        upleft = np.concatenate([np.zeros(bpp, dtype=np.int16), prev[:-bpp]])
        if ft == 0:
            filt = row
        elif ft == 1:
            filt = row - left
        elif ft == 2:
            filt = row - prev
        elif ft == 3:
            filt = row - (left + prev) // 2
        else:  # Paeth — vectorized predictor over the three neighbors
            p = left + prev - upleft
            pa, pb, pc = np.abs(p - left), np.abs(p - prev), np.abs(p - upleft)
            pred = np.where(
                (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prev, upleft)
            )
            filt = row - pred
        scanlines.append(ft)
        scanlines.extend((filt % 256).astype(np.uint8).tobytes())
        prev = row
    return scanlines


def _interlaced_scanlines(raw, bpp: int, filter_mode: str) -> bytearray:
    """Adam7: each pass is an independently filtered sub-image (its own
    filter bytes, prev-row state reset per pass); empty passes emit
    nothing."""
    scanlines = bytearray()
    w = raw.shape[1] // bpp
    for r0, c0, dr, dc in _ADAM7:
        sub = raw[r0::dr].reshape(-1, w, bpp)[:, c0::dc]
        if sub.size == 0:
            continue
        scanlines.extend(
            _filter_scanlines(sub.reshape(sub.shape[0], -1), bpp, filter_mode)
        )
    return scanlines


def _as_pixel_array(pixels, who: str):
    """``(array, depth)`` for an image encoder: uint8 → 8, uint16 → 16
    (byte-order-blind — a non-native ``>u2`` compares unequal to
    uint16 but must not truncate). Signed/bool integer inputs in the
    uint8 range are accepted (plain Python-literal arrays arrive as
    int64); anything wider REFUSES by name instead of the silent
    mod-256 garbage a bare ``astype(np.uint8)`` would produce."""
    import numpy as np

    arr = np.asarray(pixels)
    if arr.dtype.kind == "u" and arr.dtype.itemsize == 2:
        return arr, 16
    if arr.dtype.kind == "u" and arr.dtype.itemsize == 1:
        return arr, 8
    if arr.dtype.kind in "ib":
        if arr.size and (int(arr.min()) < 0 or int(arr.max()) > 255):
            raise ValueError(
                f"{who} takes uint8 or uint16 samples; int values "
                f"outside 0..255 (saw {int(arr.min())}..{int(arr.max())}) "
                "would truncate — cast explicitly first"
            )
        return arr.astype(np.uint8), 8
    raise ValueError(
        f"{who} takes uint8 or uint16 samples, not dtype {arr.dtype}"
    )


def encode_png(pixels, *, filter_mode: str = "cycle", interlace: bool = False) -> bytes:
    """RGB/RGBA array (h, w, 3|4) of uint8 or uint16 → truecolor PNG
    (color type 2 or 6, bit depth 8 or 16 chosen by the array dtype;
    r15 added alpha and 16-bit — PNG filters are byte-oriented, so
    the same filter core runs at every bpp) — pure stdlib ``zlib`` +
    numpy, no pillow. ``filter_mode='cycle'`` filters row r with type
    r % 5, so a round-trip through :func:`decode_png` exercises EVERY
    unfilter path (None/Sub/Up/Average/Paeth); ``interlace=True``
    writes Adam7 (each pass filtered independently). uint8 RGB input
    produces bytes identical to the pre-r15 encoder."""
    import struct
    import zlib

    import numpy as np

    arr, depth = _as_pixel_array(pixels, "encode_png")
    if arr.ndim != 3 or arr.shape[2] not in (3, 4):
        raise ValueError(
            "PNG encoder takes (h, w, 3) RGB or (h, w, 4) RGBA; got "
            f"shape {arr.shape}"
        )
    h, w, c = arr.shape
    ctype_id = 2 if c == 3 else 6
    bpp = c * depth // 8
    if depth == 16:
        raw = np.frombuffer(
            arr.astype(">u2").tobytes(), dtype=np.uint8
        ).reshape(h, w * bpp)
    else:
        raw = arr.reshape(h, w * bpp)
    scanlines = (
        _interlaced_scanlines(raw, bpp, filter_mode)
        if interlace
        else _filter_scanlines(raw, bpp, filter_mode)
    )
    ihdr = struct.pack(
        ">IIBBBBB", w, h, depth, ctype_id, 0, 0, int(interlace)
    )
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(scanlines)))
        + _png_chunk(b"IEND", b"")
    )


def encode_png_gray(
    pixels, *, filter_mode: str = "cycle", interlace: bool = False
) -> bytes:
    """Grayscale uint8 array (h, w) → 8-bit grayscale PNG (color type
    0), optionally Adam7-interlaced; decodes back as replicated RGB."""
    import struct
    import zlib

    import numpy as np

    arr, depth = _as_pixel_array(pixels, "encode_png_gray")
    if depth != 8:
        raise ValueError(
            "encode_png_gray writes 8-bit grayscale only; got uint16 "
            "samples (use encode_png for 16-bit truecolor)"
        )
    h, w = arr.shape
    scanlines = (
        _interlaced_scanlines(arr, 1, filter_mode)
        if interlace
        else _filter_scanlines(arr, 1, filter_mode)
    )
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, int(interlace))
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(scanlines)))
        + _png_chunk(b"IEND", b"")
    )


def encode_png_palette(
    indices,
    palette,
    *,
    depth: int = 8,
    filter_mode: str = "cycle",
    interlace: bool = False,
) -> bytes:
    """Index array (h, w) + palette (n, 3) → PLTE-indexed PNG (color
    type 3) at bit depth 1/2/4/8, optionally Adam7-interlaced. Sub-byte
    depths pack indices MSB-first within each scanline byte, rows padded
    to a byte boundary (PNG spec §7.2)."""
    import struct
    import zlib

    import numpy as np

    idx = np.asarray(indices, dtype=np.uint8)
    pal = np.asarray(palette, dtype=np.uint8)
    if depth not in (1, 2, 4, 8):
        raise ValueError(f"palette bit depth must be 1/2/4/8, got {depth}")
    if idx.max(initial=0) >= min(pal.shape[0], 1 << depth):
        raise ValueError("palette index out of range for depth/palette size")
    h, w = idx.shape

    def pack_rows(sub: "np.ndarray") -> "np.ndarray":
        if depth == 8:
            return sub
        per_byte = 8 // depth
        sh, sw = sub.shape
        padded_w = ((sw + per_byte - 1) // per_byte) * per_byte
        padded = np.zeros((sh, padded_w), dtype=np.uint8)
        padded[:, :sw] = sub
        grouped = padded.reshape(sh, padded_w // per_byte, per_byte)
        shifts = (np.arange(per_byte)[::-1] * depth).astype(np.uint8)
        return (grouped.astype(np.uint16) << shifts).sum(axis=2).astype(np.uint8)

    if interlace:
        scanlines = bytearray()
        for r0, c0, dr, dc in _ADAM7:
            sub = idx[r0::dr, c0::dc]
            if sub.size == 0:
                continue
            scanlines.extend(_filter_scanlines(pack_rows(sub), 1, filter_mode))
    else:
        scanlines = _filter_scanlines(pack_rows(idx), 1, filter_mode)
    ihdr = struct.pack(">IIBBBBB", w, h, depth, 3, 0, 0, int(interlace))
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"PLTE", pal.tobytes())
        + _png_chunk(b"IDAT", zlib.compress(bytes(scanlines)))
        + _png_chunk(b"IEND", b"")
    )


def _unfilter(raw: bytes, offset: int, h: int, row_bytes: int, bpp: int):
    """Reconstruct one (sub-)image's scanlines: consume ``h`` rows of
    ``1 + row_bytes`` bytes starting at ``offset``, undoing the per-row
    filter. Returns ``(pixels, new_offset)`` with pixels (h, row_bytes)
    uint8. Sub/Up vectorized; Average/Paeth are left-dependent per byte."""
    import numpy as np

    need = h * (1 + row_bytes)
    if len(raw) - offset < need:
        raise ValueError(
            f"corrupt PNG: expected {need} scanline bytes, "
            f"have {len(raw) - offset}"
        )
    out = np.zeros((h, row_bytes), dtype=np.uint8)
    prev = np.zeros(row_bytes, dtype=np.int32)
    for r in range(h):
        ft = raw[offset]
        row = np.frombuffer(
            raw, dtype=np.uint8, count=row_bytes, offset=offset + 1
        ).astype(np.int32)
        offset += 1 + row_bytes
        if ft == 0:
            recon = row
        elif ft == 1:  # Sub: per-byte-lane cumulative sum, vectorized
            recon = row.copy()
            for lane in range(bpp):
                recon[lane::bpp] = np.cumsum(recon[lane::bpp]) % 256
        elif ft == 2:  # Up: previous reconstructed row, vectorized
            recon = (row + prev) % 256
        elif ft in (3, 4):  # Average/Paeth: left-dependent, per-byte
            recon = np.zeros(row_bytes, dtype=np.int32)
            for x in range(row_bytes):
                left = int(recon[x - bpp]) if x >= bpp else 0
                up = int(prev[x])
                upleft = int(prev[x - bpp]) if x >= bpp else 0
                pred = (
                    (left + up) // 2 if ft == 3 else _paeth(left, up, upleft)
                )
                recon[x] = (int(row[x]) + pred) % 256
        else:
            raise ValueError(f"corrupt PNG: unknown filter type {ft}")
        out[r] = recon.astype(np.uint8)
        prev = recon
    return out, offset


def _unpack_indices(rows, w: int, depth: int):
    """Unpack sub-byte palette indices (MSB-first within each byte,
    rows padded to byte boundaries) into an (h, w) uint8 index array."""
    import numpy as np

    if depth == 8:
        return rows[:, :w]
    per_byte = 8 // depth
    mask = (1 << depth) - 1
    shifts = (np.arange(per_byte)[::-1] * depth).astype(np.uint8)
    unpacked = (rows[:, :, None].astype(np.uint16) >> shifts) & mask
    return unpacked.reshape(rows.shape[0], -1)[:, :w].astype(np.uint8)


def decode_png(payload: bytes):
    """REAL PNG decode — stdlib ``zlib`` inflate + per-row unfiltering,
    no pillow. Supported variants: truecolor (color type 2) and
    grayscale (type 0, replicated to RGB) at bit depths 8 AND 16
    (r15), RGBA (type 6) and gray+alpha (type 4, gray replicated) at
    8 and 16, and PLTE-indexed color (type 3) at depths 1/2/4/8 —
    each both sequential and Adam7-interlaced (each pass unfiltered
    independently, then scattered into the output grid). A tRNS chunk
    (r16) adds an alpha channel: per-palette-index alpha for type 3,
    color-key transparency for gray (type 0) and RGB (type 2); tRNS
    with an alpha-bearing type is corrupt per the spec. Returns
    (h, w, 3) without alpha, (h, w, 4) with, dtype uint8 or uint16
    by depth (16-bit samples are big-endian on the wire). Chunk CRCs
    are verified; truncated or corrupt payloads raise ValueError."""
    import struct
    import zlib

    import numpy as np

    if payload[:8] != _PNG_SIG:
        raise ValueError("not a PNG: bad signature")
    pos, end = 8, len(payload)
    ihdr = None
    plte = None
    trns = None
    idat = bytearray()
    seen_iend = False
    while pos < end:
        if end - pos < 8:
            raise ValueError("truncated PNG: partial chunk header")
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        ctype = payload[pos + 4 : pos + 8]
        if end - pos < 12 + length:
            raise ValueError(f"truncated PNG: {ctype!r} chunk cut short")
        data = payload[pos + 8 : pos + 8 + length]
        (crc,) = struct.unpack(
            ">I", payload[pos + 8 + length : pos + 12 + length]
        )
        if zlib.crc32(ctype + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"corrupt PNG: CRC mismatch in {ctype!r} chunk")
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif ctype == b"PLTE":
            if length % 3 or not length:
                raise ValueError("corrupt PNG: PLTE length not a multiple of 3")
            plte = np.frombuffer(data, dtype=np.uint8).reshape(-1, 3)
        elif ctype == b"tRNS":
            trns = data
        elif ctype == b"IDAT":
            idat.extend(data)
        elif ctype == b"IEND":
            seen_iend = True
            break
        pos += 12 + length
    if ihdr is None:
        raise ValueError("corrupt PNG: missing IHDR")
    if not seen_iend:
        raise ValueError("truncated PNG: missing IEND")
    w, h, depth, ctype_id, comp, filt_m, interlace = ihdr
    supported = (
        (ctype_id in (0, 2, 4, 6) and depth in (8, 16))
        or (ctype_id == 3 and depth in (1, 2, 4, 8))
    )
    if comp != 0 or filt_m != 0 or interlace not in (0, 1) or not supported:
        raise ValueError(
            "unsupported PNG variant: gray/RGB/gray+alpha/RGBA at "
            "depth 8/16 and 1/2/4/8-bit palette decode here, "
            f"sequential or Adam7 (depth={depth}, color={ctype_id}, "
            f"interlace={interlace})"
        )
    if ctype_id == 3 and plte is None:
        raise ValueError("corrupt PNG: palette image without PLTE chunk")
    if trns is not None and ctype_id in (4, 6):
        raise ValueError(
            "corrupt PNG: tRNS is forbidden with an alpha channel "
            f"(color type {ctype_id})"
        )
    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error as e:
        raise ValueError(f"corrupt PNG: IDAT inflate failed: {e}") from e

    n_ch = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[ctype_id]
    out_ch = {0: 3, 2: 3, 3: 3, 4: 4, 6: 4}[ctype_id]
    bpp = max(n_ch * depth // 8, 1)
    out_dtype = np.uint16 if depth == 16 and ctype_id != 3 else np.uint8
    amax = 65535 if out_dtype == np.uint16 else 255
    trns_alpha = trns_key = None
    if trns is not None:
        out_ch += 1  # the r16 transparency chunk: output gains alpha
        if ctype_id == 3:
            if len(trns) > len(plte):
                raise ValueError("corrupt PNG: tRNS longer than PLTE")
            trns_alpha = np.full(len(plte), 255, dtype=np.uint8)
            trns_alpha[: len(trns)] = np.frombuffer(trns, dtype=np.uint8)
        elif ctype_id == 0:
            if len(trns) != 2:
                raise ValueError("corrupt PNG: gray tRNS needs 2 bytes")
            trns_key = (int.from_bytes(trns, "big"),)
        else:  # type 2: one 16-bit sample per channel
            if len(trns) != 6:
                raise ValueError("corrupt PNG: RGB tRNS needs 6 bytes")
            trns_key = tuple(
                int.from_bytes(trns[i : i + 2], "big") for i in (0, 2, 4)
            )

    def row_bytes(width: int) -> int:
        if ctype_id == 3 and depth != 8:
            return (width * depth + 7) // 8
        return width * bpp

    def to_pixels(rows, width: int):
        """(h, row_bytes) unfiltered byte rows → (h, width, out_ch)."""
        if ctype_id == 3:
            idx = _unpack_indices(rows, width, depth)
            if idx.max(initial=0) >= plte.shape[0]:
                raise ValueError(
                    "corrupt PNG: palette index beyond PLTE size"
                )
            base = plte[idx]
            if trns_alpha is not None:
                return np.concatenate(
                    [base, trns_alpha[idx][..., None]], axis=2
                )
            return base
        if depth == 16:  # network byte order (big-endian) sample pairs
            pairs = rows.reshape(rows.shape[0], width, n_ch, 2)
            px = (
                pairs[..., 0].astype(np.uint16) << 8
            ) | pairs[..., 1].astype(np.uint16)
        else:
            px = rows.reshape(rows.shape[0], width, n_ch)
        if ctype_id in (0, 4):  # replicate gray to RGB, keep alpha last
            gray = np.repeat(px[..., :1], 3, axis=2)
            if ctype_id == 4:
                return np.concatenate([gray, px[..., 1:2]], axis=2)
            if trns_key is not None:  # gray color-key transparency
                alpha = np.where(
                    px[..., 0] == trns_key[0], 0, amax
                ).astype(px.dtype)
                return np.concatenate([gray, alpha[..., None]], axis=2)
            return gray
        if ctype_id == 2 and trns_key is not None:  # RGB color key
            match = (
                (px[..., 0] == trns_key[0])
                & (px[..., 1] == trns_key[1])
                & (px[..., 2] == trns_key[2])
            )
            alpha = np.where(match, 0, amax).astype(px.dtype)
            return np.concatenate([px, alpha[..., None]], axis=2)
        return px

    if interlace == 0:
        rows, offset = _unfilter(raw, 0, h, row_bytes(w), bpp)
        if offset != len(raw):
            raise ValueError("corrupt PNG: trailing bytes after scanlines")
        return to_pixels(rows, w).astype(out_dtype).copy()
    out = np.zeros((h, w, out_ch), dtype=out_dtype)
    offset = 0
    for r0, c0, dr, dc in _ADAM7:
        sub_h = len(range(r0, h, dr))
        sub_w = len(range(c0, w, dc))
        if sub_h == 0 or sub_w == 0:
            continue
        rows, offset = _unfilter(raw, offset, sub_h, row_bytes(sub_w), bpp)
        out[r0::dr, c0::dc] = to_pixels(rows, sub_w)
    if offset != len(raw):
        raise ValueError("corrupt PNG: trailing bytes after Adam7 passes")
    return out


def _fake_feature(payload: bytes) -> str:
    """Deterministic stand-in for a decoded feature vector."""
    import hashlib

    return hashlib.sha256(payload).hexdigest()[:16]


def attach_binary_payload(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Simulate a multimodal table: utf-8 payload bytes + typed metadata.

    (The fixtures carry no real media; production tables land here from
    the ingest layer with genuine image/audio bytes.)
    """
    return df.select(
        F.col(id_col),
        F.encode(F.col(text_col), "UTF-8").alias("payload"),
        F.struct(
            F.lit("text/plain").alias("mime"),
            F.octet_length(F.col(text_col)).cast("long").alias("n_bytes"),
        ).alias("meta"),
    )


def extract_features(df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload") -> DataFrame:
    """Arrow-batched feature extraction over binary payloads.

    ``mapInPandas``: each batch arrives as a pandas DataFrame with the
    payload as raw bytes; output rows follow FEATURE_SCHEMA. Python is
    unavoidable for codec work — this is the sanctioned slow path, kept
    off the hot path for everything SQL can do.
    """
    import hashlib

    def row(doc_id: int, b: bytes) -> tuple:
        md5 = hashlib.md5(b).hexdigest()
        return (doc_id, len(b), md5, b[:8].hex(), _fake_feature(b))

    return _per_payload(
        df, row, FEATURE_SCHEMA, id_col=id_col, payload_col=payload_col
    )


FRAME_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_idx", LongType()),
        StructField("n_frame_bytes", LongType()),
        StructField("frame_md5", StringType()),
    ]
)


def sample_frames(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    frame_size: int = 64,
    stride: int = 4,
) -> DataFrame:
    """Frame-sampling plumbing for video-like payloads: split each
    binary payload into fixed-size frames and keep every ``stride``-th
    one (frame 0, stride, 2·stride, …) — the batch-shape-changing
    ``mapInPandas`` pattern (one input row → many output rows) that a
    real video sampler needs; the "decode" here is byte slicing, so the
    pipeline stays deterministic and externally replayable.

    100 TB: no shuffle — frames are emitted within the scan's
    partitions; Arrow batches bound worker memory regardless of payload
    count per partition. Swap the slicer for an ffmpeg keyframe reader
    and the schema/partitioning/batch contract is unchanged.
    """
    import hashlib

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, sizes, digests = [], [], [], []
            for doc_id, payload in zip(pdf[id_col], pdf[payload_col]):
                b = bytes(payload)
                n_frames = (len(b) + frame_size - 1) // frame_size
                for i in range(0, n_frames, stride):
                    frame = b[i * frame_size : (i + 1) * frame_size]
                    ids.append(int(doc_id))
                    idxs.append(i)
                    sizes.append(len(frame))
                    digests.append(hashlib.md5(frame).hexdigest())
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int64"),
                    "n_frame_bytes": pd.Series(sizes, dtype="int64"),
                    "frame_md5": pd.Series(digests, dtype="object"),
                }
            )

    return rebalance_for_compute(
        df.select(F.col(id_col), F.col(payload_col))
    ).mapInPandas(
        sample, FRAME_SCHEMA
    )


def synthesize_ppm_images(df: DataFrame, id_col: str, *, side: int = 8) -> DataFrame:
    """Deterministic synthetic RGB images as REAL binary PPM payloads:
    pixel (r, c) channel ch of image ``id`` is
    ``(id*31 + r*7 + c*3 + ch) % 256`` — a closed form an external
    engine can replay WITHOUT parsing bytes. That closed form is what
    turns :func:`image_channel_stats` into a genuine decode test: if
    the encoder or decoder mangled a single byte, the channel sums
    would not match the formula's.
    """
    return _synthesize(df, id_col, lambda i: encode_ppm(_rgb_grid(i, side)))


def synthesize_png_images(df: DataFrame, id_col: str, *, side: int = 8) -> DataFrame:
    """The PNG twin of :func:`synthesize_ppm_images`: the SAME
    closed-form pixels ((id*31 + r*7 + c*3 + ch) % 256), encoded to
    genuine zlib-compressed PNG bytes with the row filters cycling
    through all five types — so decoding exercises every unfilter
    path and the c64 channel-sum oracle replays unchanged."""
    return _synthesize(df, id_col, lambda i: encode_png(_rgb_grid(i, side)))


def synthesize_png_variant_images(
    df: DataFrame, id_col: str, *, side: int = 9
) -> DataFrame:
    """The real-corpus PNG variant matrix (VERDICT r9 #6): the SAME
    closed-form pixels as :func:`synthesize_ppm_images`, but each image
    encoded per ``doc_id % 4`` as (0) sequential truecolor, (1) Adam7-
    interlaced truecolor, (2) sequential PLTE-indexed, (3) Adam7 PLTE-
    indexed. The palette trick: the closed form's channel values are
    ``base+ch`` for ``base = (id*31 + r*7 + c*3) % 256``, so palette
    entry i = (i, i+1, i+2) mod 256 with index ``base`` reproduces the
    exact same colors — one oracle covers all four codecs. Default
    side=9 (not a multiple of 8) so every Adam7 pass hits a ragged
    edge."""
    i256 = np.arange(256)[:, None]
    pal = ((i256 + np.arange(3)[None, :]) % 256).astype(np.uint8)

    def payload_of(i: int) -> bytes:
        rgb = _rgb_grid(i, side)
        if i % 4 < 2:
            return encode_png(rgb, interlace=i % 4 == 1)
        idx = rgb[:, :, 0]  # base channel IS the palette index
        return encode_png_palette(idx, pal, interlace=i % 4 == 3)

    return _synthesize(df, id_col, payload_of)


IMAGE_STATS_SCHEMA = (
    "doc_id long, width long, height long, n_pixels long, "
    "sum_r long, sum_g long, sum_b long"
)


def image_channel_stats(
    df: DataFrame, *, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """REAL decode + featurize: every payload runs through
    :func:`decode_image` (numpy PPM parser — actual pixels, not a hash
    stand-in) and reduces to exact integer per-channel sums — the
    mean-brightness/color-statistics pass of an image curation
    pipeline, with outputs an external oracle can verify in closed
    form against :func:`synthesize_ppm_images`' pixel formula.

    100 TB: decode is Arrow-batched ``mapInPandas`` inside the scan's
    partitions — no shuffle, constant memory per batch; the integer
    sums keep the output engine-exact (no float accumulation).
    """

    def row(doc_id: int, payload: bytes) -> tuple:
        arr = decode_image(payload)
        h, w, _ = arr.shape
        s = arr.reshape(-1, 3).astype(np.int64).sum(axis=0)
        return (doc_id, w, h, h * w, int(s[0]), int(s[1]), int(s[2]))

    return _per_payload(
        df, row, IMAGE_STATS_SCHEMA, id_col=id_col, payload_col=payload_col
    )


RESIZE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("orig_bytes", LongType()),
        StructField("resized_bytes", LongType()),
        StructField("resized_md5", StringType()),
        StructField("resized", BinaryType()),
    ]
)


def resize_payload(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    target_bytes: int = 256,
) -> DataFrame:
    """Resize plumbing: deterministic decimation of each payload to at
    most ``target_bytes`` (every k-th byte, k = ceil(len/target)) — the
    stand-in for an image resize, exercising the real contract (binary
    in, smaller binary out, Arrow round-trip) without codecs. Payloads
    already at or under the target pass through unchanged.
    """
    import hashlib
    import math

    def row(doc_id: int, b: bytes) -> tuple:
        k = math.ceil(len(b) / target_bytes) if len(b) > target_bytes else 1
        b2 = b[::k]
        return (doc_id, len(b), len(b2), hashlib.md5(b2).hexdigest(), b2)

    return _per_payload(
        df, row, RESIZE_SCHEMA, id_col=id_col, payload_col=payload_col
    )


# --------------------------------------------------------------------------
# Real audio decode: uncompressed RIFF/WAVE PCM16 (the audio twin of the
# PPM/PNG image decoders — genuine bytes, genuine parser, closed-form
# oracle). Compressed audio codecs (MP3/FLAC/OGG) honestly raise —
# unlike baseline grayscale JPEG, which decodes natively since r14.
# --------------------------------------------------------------------------

def encode_wav(samples, sample_rate: int = 8000) -> bytes:
    """Encode an int16 sample array of shape (n_samples, n_channels)
    into a genuine RIFF/WAVE PCM16 payload (fmt + data chunks,
    little-endian interleaved frames)."""
    import struct

    import numpy as np

    arr = np.asarray(samples, dtype="<i2")
    n, ch = arr.shape
    data = arr.tobytes()  # interleaved row-major == frame-major
    byte_rate = sample_rate * ch * 2
    fmt = struct.pack("<HHIIHH", 1, ch, sample_rate, byte_rate, ch * 2, 16)
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def encode_wav_pcm(samples, *, bits: int, sample_rate: int = 8000) -> bytes:
    """PCM WAVE at the three real-world sample widths (r16): ``bits=8``
    takes UNSIGNED uint8 stored-domain samples (the WAV convention —
    8-bit PCM is excess-128), ``16`` little-endian int16, ``24``
    int32 values within ±2^23 packed as 3-byte little-endian signed.
    ``samples`` is (n_samples, n_channels); frames interleave
    row-major."""
    import struct

    import numpy as np

    arr = np.asarray(samples)
    if arr.ndim != 2:
        raise ValueError("encode_wav_pcm takes (n_samples, n_channels)")
    n, ch = arr.shape
    if bits == 8:
        if arr.dtype != np.uint8:
            raise ValueError("8-bit PCM takes uint8 (excess-128) samples")
        data = arr.tobytes()
    elif bits == 16:
        data = arr.astype("<i2").tobytes()
    elif bits == 24:
        v = arr.astype(np.int64)
        if v.size and (v.min() < -(1 << 23) or v.max() >= (1 << 23)):
            raise ValueError("24-bit PCM samples outside ±2^23")
        u = (v & 0xFFFFFF).astype(np.uint32)
        b = np.empty((n, ch, 3), dtype=np.uint8)
        b[..., 0] = u & 0xFF
        b[..., 1] = (u >> 8) & 0xFF
        b[..., 2] = (u >> 16) & 0xFF
        data = b.tobytes()
    else:
        raise ValueError(f"encode_wav_pcm: bits must be 8/16/24, got {bits}")
    ba = ch * bits // 8
    fmt = struct.pack(
        "<HHIIHH", 1, ch, sample_rate, sample_rate * ba, ba, bits
    )
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    if len(data) & 1:
        body += b"\x00"  # word alignment pad
    return b"RIFF" + struct.pack("<I", len(body)) + body


def encode_wav_extensible(
    samples, *, bits: int, sample_rate: int = 8000, channel_mask: int = 0
) -> bytes:
    """PCM WAVE wrapped in WAVE_FORMAT_EXTENSIBLE (tag 0xFFFE) — the
    modern container for multichannel / >16-bit audio: the 40-byte fmt
    chunk carries validBits, a channel mask and the PCM media-subtype
    GUID. Sample packing is identical to :func:`encode_wav_pcm`."""
    import struct

    plain = encode_wav_pcm(samples, bits=bits, sample_rate=sample_rate)
    # splice the fmt chunk: reuse the PCM encoder's container, widening
    # the fmt body from 16 to the 40-byte extensible layout
    fmt_off = plain.find(b"fmt ")
    (old_size,) = struct.unpack("<I", plain[fmt_off + 4:fmt_off + 8])
    old_fmt = plain[fmt_off + 8:fmt_off + 8 + old_size]
    ch, rate, br, ba = struct.unpack("<HIIH", old_fmt[2:14])
    new_fmt = (
        struct.pack("<HHIIHH", 0xFFFE, ch, rate, br, ba, bits)
        + struct.pack("<HHI", 22, bits, channel_mask)
        + struct.pack("<I", 1)  # PCM subtype tag DWORD
        + bytes.fromhex("00001000800000aa00389b71")
    )
    chunks = (
        plain[12:fmt_off]
        + b"fmt " + struct.pack("<I", len(new_fmt)) + new_fmt
        + plain[fmt_off + 8 + old_size:]
    )
    return (
        b"RIFF"
        + struct.pack("<I", 4 + len(chunks))
        + b"WAVE"
        + chunks
    )


def encode_wav_telephony(
    data: bytes,
    fmt_tag: int,
    *,
    sample_rate: int = 8000,
    samples_per_block: int | None = None,
    n_samples: int | None = None,
) -> bytes:
    """Wrap pre-encoded mono audio bytes in a RIFF/WAVE container with
    a non-PCM format tag: 6 (A-law), 7 (mu-law) — byte-per-sample —
    or 0x11 (IMA ADPCM; ``data`` is whole blocks, header included,
    and the fmt chunk carries ``samples_per_block`` with a ``fact``
    chunk holding ``n_samples``)."""
    import struct

    if fmt_tag in (6, 7):
        bits, ba, extra = 8, 1, b""
        byte_rate = sample_rate
    elif fmt_tag == 0x11:
        if samples_per_block is None or n_samples is None:
            raise ValueError(
                "ADPCM WAVE needs samples_per_block and n_samples"
            )
        bits = 4
        ba = len(data)  # single block in this corpus
        byte_rate = sample_rate // 2
        extra = struct.pack("<HH", 2, samples_per_block)
    else:
        raise ValueError(f"encode_wav_telephony: format tag {fmt_tag}")
    fmt = struct.pack(
        "<HHIIHH", fmt_tag, 1, sample_rate, byte_rate, ba, bits
    ) + extra
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    if fmt_tag == 0x11:
        body += b"fact" + struct.pack("<II", 4, n_samples)
    body += b"data" + struct.pack("<I", len(data)) + data
    if len(data) & 1:
        body += b"\x00"  # word alignment pad
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _adpcm_wav_block_decode(block: bytes, samples_per_block: int):
    """One MONO IMA-ADPCM WAVE data block (the WAV container variant
    of the codec, format tag 0x11): a 4-byte header carries the
    block's initial state (int16 predictor — which IS the block's
    first output sample — and uint8 step index), then nibbles run
    LOW-order first (the WAV spec's order; the raw audioop/DVI
    stream in :func:`decode_adpcm` is high-first with zero initial
    state — both conventions are real and they differ)."""
    if len(block) < 4:
        raise ValueError("corrupt WAVE: truncated ADPCM block header")
    pred = int.from_bytes(block[:2], "little", signed=True)
    idx = block[2]
    if idx > 88:
        raise ValueError(f"corrupt WAVE: ADPCM step index {idx} > 88")
    out = [pred]
    for byte in block[4:]:
        for delta in (byte & 0x0F, byte >> 4):  # LOW nibble first
            step = _ADPCM_STEPS[idx]
            idx = min(max(idx + _ADPCM_INDEX[delta], 0), 88)
            vpdiff = step >> 3
            if delta & 4:
                vpdiff += step
            if delta & 2:
                vpdiff += step >> 1
            if delta & 1:
                vpdiff += step >> 2
            pred = pred - vpdiff if delta & 8 else pred + vpdiff
            pred = min(max(pred, -32768), 32767)
            out.append(pred)
            if len(out) == samples_per_block:
                return out
    return out[:samples_per_block]


def decode_wav(payload: bytes):
    """Parse a RIFF/WAVE payload: walk the chunk list (unknown chunks —
    LIST/INFO metadata etc. — are skipped by their declared size, as a
    real parser must) and decode the data chunk per the format tag:
    1 = PCM at 8 (unsigned excess-128, promoted to full-scale int16),
    16, or 24 bits (3-byte little-endian signed → int32 — r16),
    6 = G.711 A-law, 7 = G.711 mu-law (the telephony WAVs
    call-center corpora arrive in), 0x11 = IMA ADPCM (mono, block
    headers carrying per-block initial state, low-nibble-first — r16).
    WAVE_FORMAT_EXTENSIBLE (0xFFFE — the modern multichannel/high-width
    wrapper) unwraps to its SubFormat GUID's effective tag (r16).
    Returns ``(sample_rate, n_channels, samples)`` with ``samples`` an
    int16 (int32 for 24-bit) array of shape (n_samples, n_channels).
    Raises ValueError on anything malformed or an unsupported format
    tag."""
    import struct

    import numpy as np

    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    declared = struct.unpack("<I", payload[4:8])[0]
    if declared + 8 != len(payload):
        raise ValueError(
            f"RIFF size {declared} + 8 != payload length {len(payload)}"
        )
    pos, fmt_info, data, fact_samples = 12, None, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        size = struct.unpack("<I", payload[pos + 4 : pos + 8])[0]
        body = payload[pos + 8 : pos + 8 + size]
        if len(body) != size:
            raise ValueError(f"truncated {cid!r} chunk")
        if cid == b"fmt ":
            tag, ch, rate, _br, ba, bits = struct.unpack("<HHIIHH", body[:16])
            if tag == 0xFFFE:
                # WAVE_FORMAT_EXTENSIBLE (the modern multichannel/
                # high-width wrapper): cbSize(2) + validBits(2) +
                # channelMask(4) + SubFormat GUID(16); the GUID's
                # leading DWORD is the effective format tag (the
                # KSDATAFORMAT_SUBTYPE_* convention), rest must be
                # the fixed media-subtype suffix
                if len(body) < 40:
                    raise ValueError(
                        "corrupt WAVE: EXTENSIBLE fmt chunk below 40 "
                        "bytes"
                    )
                sub = body[24:40]
                if sub[4:] != bytes.fromhex("00001000800000aa00389b71"):
                    raise ValueError(
                        "EXTENSIBLE SubFormat GUID is not a standard "
                        "media subtype"
                    )
                tag = struct.unpack("<I", sub[:4])[0]
                if tag == 0x11:
                    raise ValueError(
                        "IMA ADPCM under WAVE_FORMAT_EXTENSIBLE not "
                        "supported (samplesPerBlock is displaced by "
                        "the extensible header)"
                    )
                valid_bits = struct.unpack("<H", body[18:20])[0]
                if valid_bits and valid_bits != bits:
                    raise ValueError(
                        f"EXTENSIBLE validBitsPerSample {valid_bits} "
                        f"!= container {bits} (padded layouts not "
                        "supported)"
                    )
            if tag not in (1, 6, 7, 0x11):
                raise ValueError(
                    f"compressed WAVE (format tag {tag}) not supported — "
                    "PCM (1), G.711 A-law (6) / mu-law (7) and IMA "
                    "ADPCM (0x11) decode here; production swap-in: "
                    "soundfile/librosa"
                )
            want_bits = {1: (8, 16, 24), 6: (8,), 7: (8,), 0x11: (4,)}[tag]
            if bits not in want_bits:
                raise ValueError(
                    f"format tag {tag} needs {'/'.join(map(str, want_bits))}"
                    f"-bit samples, got {bits}-bit"
                )
            spb = None
            if tag == 0x11:
                if ch != 1:
                    raise ValueError(
                        "multi-channel IMA ADPCM WAVE not supported "
                        "(mono blocks decode here)"
                    )
                if len(body) < 20:
                    raise ValueError(
                        "corrupt WAVE: ADPCM fmt chunk lacks "
                        "samplesPerBlock"
                    )
                (spb,) = struct.unpack("<H", body[18:20])
            fmt_info = (tag, rate, ch, ba, spb, bits)
        elif cid == b"fact":
            (fact_samples,) = struct.unpack("<I", body[:4])
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt_info is None or data is None:
        raise ValueError("missing fmt or data chunk")
    tag, rate, ch, ba, spb, bits = fmt_info
    if tag == 1:
        if len(data) % (bits // 8 * ch):
            raise ValueError("data chunk is not whole frames")
        if bits == 16:
            samples = np.frombuffer(data, dtype="<i2").reshape(-1, ch)
        elif bits == 8:
            # 8-bit PCM is UNSIGNED excess-128 (the WAV rule); promote
            # to int16 full-scale so downstream stats are width-blind
            u = np.frombuffer(data, dtype=np.uint8).astype(np.int16)
            samples = ((u - 128) * 256).reshape(-1, ch)
        else:  # 24-bit: 3-byte little-endian signed -> int32
            b = np.frombuffer(data, dtype=np.uint8).reshape(-1, 3)
            v = (
                b[:, 0].astype(np.int32)
                | (b[:, 1].astype(np.int32) << 8)
                | (b[:, 2].astype(np.int32) << 16)
            )
            samples = np.where(v & 0x800000, v - 0x1000000, v).astype(
                np.int32
            ).reshape(-1, ch)
    elif tag in (6, 7):
        if len(data) % ch:
            raise ValueError("data chunk is not whole frames")
        dec = decode_alaw if tag == 6 else decode_mulaw
        samples = dec(bytes(data)).reshape(-1, ch)
    else:  # 0x11: IMA ADPCM, mono blocks of block_align bytes
        if ba < 4:
            raise ValueError("corrupt WAVE: ADPCM block align < 4")
        pcm: list[int] = []
        for off in range(0, len(data), ba):
            block = data[off : off + ba]
            n = spb if len(block) == ba else 1 + 2 * (len(block) - 4)
            pcm.extend(_adpcm_wav_block_decode(block, n))
        if fact_samples is not None:
            pcm = pcm[:fact_samples]
        samples = np.asarray(pcm, dtype=np.int16).reshape(-1, 1)
    return rate, ch, samples


def synthesize_wav_audio(
    df: DataFrame, id_col: str, *, n_samples: int = 64, channels: int = 2,
    sample_rate: int = 8000,
) -> DataFrame:
    """Deterministic synthetic audio as REAL RIFF/WAVE PCM16 payloads:
    sample ``s`` of channel ``ch`` for id ``i`` is
    ``((i*37 + s*11 + ch*5) % 65536) - 32768`` — full int16 range, a
    closed form an external engine replays without parsing bytes
    (the :func:`synthesize_ppm_images` contract, for audio)."""
    s = np.arange(n_samples)[:, None]
    ch = np.arange(channels)[None, :]

    def payload_of(i: int) -> bytes:
        pcm = ((i * 37 + s * 11 + ch * 5) % 65536 - 32768).astype("<i2")
        return encode_wav(pcm, sample_rate=sample_rate)

    return _synthesize(df, id_col, payload_of)


def synthesize_pcm_variant_wavs(df: DataFrame, id_col: str) -> DataFrame:
    """Deterministic PCM WAVE payloads across the three real sample
    widths (r16): ``id % 3`` picks 8-bit mono @ 8 kHz (stored
    ``(id*13 + j*7) % 256``, unsigned excess-128), 16-bit STEREO @
    16 kHz (``((id*29 + j*11 + ch*3) % 60000) - 30000``), or 24-bit
    mono @ 44.1 kHz (``((id*37 + j*17) % 1000000) - 500000``); length
    ``40 + id % 17`` frames. Lossless PCM → the c230 oracle replays
    decoded-domain sums arithmetically (8-bit decodes to
    ``(stored - 128) * 256``)."""

    def payload_of(i: int) -> bytes:
        j = np.arange(40 + i % 17)[:, None]
        if i % 3 == 0:
            arr = ((i * 13 + j * 7) % 256).astype(np.uint8)
            return encode_wav_pcm(arr, bits=8, sample_rate=8000)
        if i % 3 == 1:
            ch = np.arange(2)[None, :]
            arr = ((i * 29 + j * 11 + ch * 3) % 60000) - 30000
            return encode_wav_pcm(
                arr.astype(np.int64), bits=16, sample_rate=16000
            )
        arr = ((i * 37 + j * 17) % 1000000) - 500000
        return encode_wav_pcm(arr, bits=24, sample_rate=44100)

    return _synthesize(df, id_col, payload_of)


def wav_pcm_stats(
    df: DataFrame, *, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """REAL PCM WAVE decode + featurize across 8/16/24-bit and
    mono/stereo layouts: each payload runs through :func:`decode_wav`
    and reduces to container fields plus exact integer sample stats
    over every channel. Arrow-batched ``mapInPandas`` inside the
    scan's partitions — no shuffle."""

    def row(doc_id: int, payload: bytes) -> tuple:
        rate, ch, samples = decode_wav(payload)
        v = samples.astype(np.int64)
        return (
            doc_id, ch, rate, samples.shape[0],
            int(v.sum()), int(v.min()), int(v.max()),
        )

    return _per_payload(
        df,
        row,
        "doc_id long, n_channels long, sample_rate long, n_samples long, "
        "sample_sum long, sample_min long, sample_max long",
        id_col=id_col,
        payload_col=payload_col,
    )


def _f80_encode(rate: float) -> bytes:
    """IEEE 754 80-bit extended float, the AIFF COMM sampleRate field:
    1 sign + 15 exponent (bias 16383) + 64-bit mantissa with EXPLICIT
    integer bit. Exact for the integer rates audio uses."""
    import struct

    if rate <= 0:
        raise ValueError("AIFF sample rate must be positive")
    m, e = rate, 16383 + 63
    while m < (1 << 63):
        m *= 2
        e -= 1
    while m >= (1 << 64):
        m /= 2
        e += 1
    return struct.pack(">HQ", e, int(m))


def _f80_decode(b: bytes) -> float:
    import struct

    e, m = struct.unpack(">HQ", b)
    sign = -1.0 if e & 0x8000 else 1.0
    e &= 0x7FFF
    if e == 0 and m == 0:
        return 0.0
    return sign * m * 2.0 ** (e - 16383 - 63)


def encode_aiff(samples, *, bits: int, sample_rate: int = 8000) -> bytes:
    """AIFF (the IFF ``FORM``/``AIFF`` container — the big-endian
    sibling of RIFF/WAVE): COMM carries channels, frame count, sample
    width and the 80-bit extended sampleRate; SSND carries big-endian
    SIGNED PCM (AIFF 8-bit is signed, unlike WAV's excess-128).
    ``samples`` is (n_samples, n_channels): int8-domain for ``bits=8``,
    int16 for ``16``, ±2^23 ints packed 3-byte big-endian for ``24``."""
    import struct

    import numpy as np

    arr = np.asarray(samples)
    if arr.ndim != 2:
        raise ValueError("encode_aiff takes (n_samples, n_channels)")
    n, ch = arr.shape
    if bits == 8:
        if arr.dtype != np.int8:
            raise ValueError("8-bit AIFF takes SIGNED int8 samples")
        data = arr.tobytes()
    elif bits == 16:
        data = arr.astype(">i2").tobytes()
    elif bits == 24:
        v = arr.astype(np.int64)
        if v.size and (v.min() < -(1 << 23) or v.max() >= (1 << 23)):
            raise ValueError("24-bit AIFF samples outside ±2^23")
        u = (v & 0xFFFFFF).astype(np.uint32)
        b = np.empty((n, ch, 3), dtype=np.uint8)
        b[..., 0] = (u >> 16) & 0xFF
        b[..., 1] = (u >> 8) & 0xFF
        b[..., 2] = u & 0xFF
        data = b.tobytes()
    else:
        raise ValueError(f"encode_aiff: bits must be 8/16/24, got {bits}")
    comm = (
        struct.pack(">hLh", ch, n, bits) + _f80_encode(float(sample_rate))
    )
    ssnd = struct.pack(">LL", 0, 0) + data  # offset, blockSize
    body = b"AIFF"
    for cid, payload in ((b"COMM", comm), (b"SSND", ssnd)):
        body += cid + struct.pack(">L", len(payload)) + payload
        if len(payload) & 1:
            body += b"\x00"  # IFF chunks are word-aligned
    return b"FORM" + struct.pack(">L", len(body)) + body


def decode_aiff(payload: bytes):
    """Parse an AIFF payload: FORM header, chunk walk (unknown chunks
    skipped by declared size with word alignment), COMM + SSND decode.
    Returns ``(sample_rate, n_channels, samples)`` — int16 (8-bit
    signed promoted ×256 to full scale, width-blind like decode_wav)
    or int32 for 24-bit. AIFC (compressed AIFF) refuses by name."""
    import struct

    import numpy as np

    if len(payload) < 12 or payload[:4] != b"FORM":
        raise ValueError("not an AIFF payload (no FORM header)")
    form_type = payload[8:12]
    if form_type == b"AIFC":
        raise NotImplementedError(
            "AIFC (compressed AIFF) decode; production swap-in: "
            "soundfile/librosa"
        )
    if form_type != b"AIFF":
        raise ValueError(f"unknown FORM type {form_type!r}")
    pos, end = 12, 8 + struct.unpack(">L", payload[4:8])[0]
    comm = data = None
    while pos + 8 <= min(end, len(payload)):
        cid = payload[pos:pos + 4]
        (size,) = struct.unpack(">L", payload[pos + 4:pos + 8])
        body = payload[pos + 8:pos + 8 + size]
        if len(body) < size:
            raise ValueError(f"truncated AIFF chunk {cid!r}")
        if cid == b"COMM":
            if size < 18:
                raise ValueError("truncated COMM chunk")
            ch, n_frames, bits = struct.unpack(">hLh", body[:8])
            rate = _f80_decode(body[8:18])
            comm = (ch, n_frames, bits, rate)
        elif cid == b"SSND":
            if size < 8:
                raise ValueError("truncated SSND chunk")
            off, _blk = struct.unpack(">LL", body[:8])
            data = body[8 + off:]
        pos += 8 + size + (size & 1)  # word-aligned
    if comm is None or data is None:
        raise ValueError("missing COMM or SSND chunk")
    ch, n_frames, bits, rate = comm
    if ch < 1 or n_frames < 0:
        raise ValueError("corrupt COMM fields")
    if bits not in (8, 16, 24):
        raise ValueError(f"AIFF needs 8/16/24-bit samples, got {bits}-bit")
    need = n_frames * ch * (bits // 8)
    if len(data) < need:
        raise ValueError("SSND data shorter than COMM frame count")
    data = data[:need]
    if bits == 8:
        s = np.frombuffer(data, dtype=np.int8).astype(np.int16) * 256
        samples = s.reshape(-1, ch)
    elif bits == 16:
        samples = np.frombuffer(data, dtype=">i2").astype(
            np.int16
        ).reshape(-1, ch)
    else:
        b = np.frombuffer(data, dtype=np.uint8).reshape(-1, 3)
        v = (
            (b[:, 0].astype(np.int32) << 16)
            | (b[:, 1].astype(np.int32) << 8)
            | b[:, 2].astype(np.int32)
        )
        samples = np.where(v & 0x800000, v - 0x1000000, v).astype(
            np.int32
        ).reshape(-1, ch)
    return int(round(rate)), ch, samples


def encode_au(
    data: bytes,
    *,
    encoding: int,
    sample_rate: int = 8000,
    channels: int = 1,
    annotation: bytes = b"",
) -> bytes:
    """Sun AU (.au/.snd): ``.snd`` magic + 24-byte big-endian header
    (+ optional annotation) then the raw encoded stream. ``data`` is
    the already-encoded byte stream for the given encoding (1 =
    G.711 mu-law, 2 = int8 PCM, 3 = int16 big-endian PCM)."""
    import struct

    hdr_size = 24 + len(annotation)
    return (
        b".snd"
        + struct.pack(
            ">LLLLL", hdr_size, len(data), encoding, sample_rate, channels
        )
        + annotation
        + data
    )


def decode_au(payload: bytes):
    """Parse a Sun AU payload: magic, header-declared data offset and
    size (0xFFFFFFFF = unknown → to EOF), then decode per the encoding
    field — 1 = G.711 mu-law (the voice-mail default), 2 = signed
    int8 PCM (promoted ×256), 3 = int16 big-endian PCM. Returns
    ``(sample_rate, n_channels, samples)`` with int16 samples of
    shape (n_samples, n_channels). Other encodings refuse by name."""
    import struct

    import numpy as np

    if len(payload) < 24 or payload[:4] != b".snd":
        raise ValueError("not an AU payload (no .snd magic)")
    hdr_size, data_size, enc, rate, ch = struct.unpack(
        ">LLLLL", payload[4:24]
    )
    if hdr_size < 24:
        raise ValueError("AU header size below the 24-byte minimum")
    if ch < 1:
        raise ValueError("corrupt AU channel count")
    data = payload[hdr_size:]
    if data_size != 0xFFFFFFFF:
        if len(data) < data_size:
            raise ValueError("AU data shorter than the declared size")
        data = data[:data_size]
    if enc == 1:
        pcm = decode_mulaw(data)
    elif enc == 2:
        pcm = np.frombuffer(data, dtype=np.int8).astype(np.int16) * 256
    elif enc == 3:
        if len(data) % 2:
            raise ValueError("AU int16 data is not whole samples")
        pcm = np.frombuffer(data, dtype=">i2").astype(np.int16)
    else:
        raise NotImplementedError(
            f"AU encoding {enc} decode (only mu-law/int8/int16be "
            "here); production swap-in: soundfile/librosa"
        )
    if len(pcm) % ch:
        raise ValueError("AU data is not whole frames")
    return rate, ch, pcm.reshape(-1, ch)


def synthesize_bigendian_audio(df: DataFrame, id_col: str) -> DataFrame:
    """Deterministic AIFF / Sun-AU payloads (r16): variant ``id % 5``
    — 0: AIFF 8-bit mono @ 8 kHz (int8 domain ``((id*11 + j*5) % 256)
    - 128``), 1: AIFF 16-bit STEREO @ 44.1 kHz (``((id*29 + j*13 +
    ch*7) % 60000) - 30000``), 2: AIFF 24-bit mono @ 48 kHz
    (``((id*31 + j*17) % 1000000) - 500000``), 3: AU int16be STEREO
    @ 16 kHz (``((id*23 + j*19 + ch*3) % 60000) - 30000``), 4: AU
    mu-law mono @ 8 kHz (code bytes ``(id*7 + j*13) % 256``); length
    ``30 + id % 15`` frames."""

    def payload_of(i: int) -> bytes:
        j = np.arange(30 + i % 15)[:, None]
        ch = np.arange(2)[None, :]
        v = i % 5
        if v == 0:
            arr = (((i * 11 + j * 5) % 256) - 128).astype(np.int8)
            return encode_aiff(arr, bits=8, sample_rate=8000)
        if v == 1:
            arr = ((i * 29 + j * 13 + ch * 7) % 60000) - 30000
            return encode_aiff(
                arr.astype(np.int64), bits=16, sample_rate=44100
            )
        if v == 2:
            arr = ((i * 31 + j * 17) % 1000000) - 500000
            return encode_aiff(arr, bits=24, sample_rate=48000)
        if v == 3:
            arr = (((i * 23 + j * 19 + ch * 3) % 60000) - 30000).astype(">i2")
            return encode_au(
                arr.tobytes(), encoding=3, sample_rate=16000, channels=2
            )
        codes = ((i * 7 + j[:, 0] * 13) % 256).astype(np.uint8)
        return encode_au(
            codes.tobytes(), encoding=1, sample_rate=8000, channels=1
        )

    return _synthesize(df, id_col, payload_of)


def bigendian_audio_stats(
    df: DataFrame, *, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """REAL AIFF / Sun-AU decode + featurize: dispatch on the magic
    (``FORM`` → decode_aiff, ``.snd`` → decode_au) and reduce to
    container fields plus exact integer sample stats. Arrow-batched
    ``mapInPandas`` inside the scan's partitions — no shuffle."""

    def row(doc_id: int, raw: bytes) -> tuple:
        if raw[:4] == b"FORM":
            container, (rate, ch, samples) = "aiff", decode_aiff(raw)
        elif raw[:4] == b".snd":
            container, (rate, ch, samples) = "au", decode_au(raw)
        else:
            raise ValueError("unknown audio container magic")
        v = samples.astype(np.int64)
        return (
            doc_id, container, ch, rate, samples.shape[0], int(v.sum()),
            int(v.min()) if v.size else None,
            int(v.max()) if v.size else None,
        )

    return _per_payload(
        df,
        row,
        "doc_id long, container string, n_channels long, "
        "sample_rate long, n_samples long, sample_sum long, "
        "sample_min long, sample_max long",
        id_col=id_col,
        payload_col=payload_col,
    )


def synthesize_wav_telephony(df: DataFrame, id_col: str) -> DataFrame:
    """Deterministic telephony WAV containers (r16): variant
    ``id % 3``: 0 → mu-law (format tag 7) and 1 → A-law (tag 6), each
    carrying ``80 + id%40`` closed-form code bytes ``(id*11 + k*29) %
    256``; 2 → mono IMA ADPCM (tag 0x11), one block whose header
    state is ``pred0 = (id*37) % 1025 - 512``, ``idx0 = id % 89`` and
    whose ``60 + 2*(id%10)`` nibbles are ``(id*13 + k*7 + k*k) % 16``
    packed LOW-first, with a fact chunk. Every byte is closed-form,
    so the c223 oracle regenerates them in SQL and replays the law
    formulas / the stateful block decode as a recursive CTE."""
    import struct

    def payload_of(i: int) -> bytes:
        if i % 3 in (0, 1):
            data = bytes((i * 11 + k * 29) % 256 for k in range(80 + i % 40))
            return encode_wav_telephony(data, 7 if i % 3 == 0 else 6)
        n_nib = 60 + 2 * (i % 10)
        pred0 = (i * 37) % 1025 - 512
        deltas = [(i * 13 + k * 7 + k * k) % 16 for k in range(n_nib)]
        blob = struct.pack("<hBB", pred0, i % 89, 0) + bytes(
            deltas[j] | (deltas[j + 1] << 4)  # LOW nibble first
            for j in range(0, n_nib, 2)
        )
        return encode_wav_telephony(
            blob, 0x11, samples_per_block=n_nib + 1, n_samples=n_nib + 1
        )

    return _synthesize(df, id_col, payload_of)


def wav_telephony_stats(audio: DataFrame) -> DataFrame:
    """Decode a (doc_id, payload) frame of telephony WAVs through the
    container-aware :func:`decode_wav` (G.711 laws and IMA-ADPCM
    blocks included) and reduce to exact integer statistics.
    Arrow-batched inside the scan's partitions — no shuffle."""

    def row(doc_id: int, payload: bytes) -> tuple:
        rate, _, samples = decode_wav(payload)
        return (doc_id, rate, *_pcm_stats(samples[:, 0]))

    return _per_payload(
        audio,
        row,
        "doc_id long, sample_rate long, n_samples long, sum_pcm long, "
        "sum_abs long, min_pcm long, max_pcm long",
    )


AUDIO_STATS_SCHEMA = (
    "doc_id long, sample_rate long, n_channels long, n_samples long, "
    "sum_ch0 long, sum_ch1 long, sum_abs long"
)


def audio_channel_stats(
    df: DataFrame, *, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """REAL decode + featurize for audio: every payload runs through
    :func:`decode_wav` (actual PCM frames) and reduces to exact integer
    per-channel sums plus total absolute amplitude (the loudness/energy
    screen of an audio curation pipeline — silence and clipping both
    show up in these integers). 100 TB: Arrow-batched ``mapInPandas``
    inside the scan's partitions — no shuffle, constant memory."""

    def row(doc_id: int, payload: bytes) -> tuple:
        rate, ch, samples = decode_wav(payload)
        s64 = samples.astype(np.int64)
        return (
            doc_id, rate, ch, samples.shape[0],
            int(s64[:, 0].sum()),
            int(s64[:, 1].sum()) if ch > 1 else 0,
            int(np.abs(s64).sum()),
        )

    return _per_payload(
        df, row, AUDIO_STATS_SCHEMA, id_col=id_col, payload_col=payload_col
    )


# --------------------------------------------------------------------------
# G.711 companding (r15): REAL mu-law and A-law codecs, the telephony
# byte-per-sample format every VOIP/callcenter audio corpus arrives in.
# Vectorized numpy, bit-exact against CPython's independent C reference
# (audioop.ulaw2lin/alaw2lin/lin2ulaw/lin2alaw — pinned over all 256
# code bytes and random PCM in tests). Decode formulas are pure integer
# arithmetic, so the c217 oracle replays them in SQL.
# --------------------------------------------------------------------------


def decode_mulaw(payload: bytes):
    """G.711 mu-law bytes → int16 PCM (the audioop/CCITT scaling):
    u = ~b; mag = (((u & 15) << 3) + 132) << seg, seg = (u >> 4) & 7;
    value = ±(mag - 132) with the sign bit choosing 132 - mag."""
    import numpy as np

    b = np.frombuffer(payload, dtype=np.uint8).astype(np.int32)
    u = 255 - b  # ~b for uint8
    t = (((u & 0x0F) << 3) + 0x84) << ((u >> 4) & 0x07)
    return np.where(u & 0x80, 0x84 - t, t - 0x84).astype(np.int16)


def encode_mulaw(samples) -> bytes:
    """int16 PCM → G.711 mu-law bytes (audioop semantics: 14-bit
    companding of pcm >> 2, bias 33, clip 8159, complemented output).
    decode(encode(x)) == x exactly on the 255-value mu-law codebook;
    elsewhere it is the nearest-segment quantization G.711 defines."""
    import numpy as np

    pcm = np.asarray(samples, dtype=np.int16).astype(np.int32) >> 2
    mask = np.where(pcm < 0, 0x7F, 0xFF)
    mag = np.minimum(np.abs(pcm) + 33, 8159)
    # segment = position of the MSB above bit 5 (seg_uend boundaries
    # 0x3F/0x7F/.../0x1FFF)
    seg = np.maximum(
        np.frexp(mag.astype(np.float64))[1] - 6, 0
    )  # frexp exponent: mag < 2**e
    uval = (seg << 4) | ((mag >> (seg + 1)) & 0x0F)
    return (uval ^ mask).astype(np.uint8).tobytes()


def decode_alaw(payload: bytes):
    """G.711 A-law bytes → int16 PCM (audioop/CCITT scaling): p = b ^
    0x55; m = (p & 15) << 4; seg 0 → m + 8, seg 1 → m + 0x108, else
    (m + 0x108) << (seg - 1); the SET sign bit is positive."""
    import numpy as np

    b = np.frombuffer(payload, dtype=np.uint8).astype(np.int32)
    p = b ^ 0x55
    m = (p & 0x0F) << 4
    seg = (p >> 4) & 0x07
    mag = np.where(
        seg == 0,
        m + 8,
        np.where(seg == 1, m + 0x108, (m + 0x108) << np.maximum(seg - 1, 0)),
    )
    return np.where(p & 0x80, mag, -mag).astype(np.int16)


def encode_alaw(samples) -> bytes:
    """int16 PCM → G.711 A-law bytes (audioop semantics: 13-bit
    companding of pcm >> 3, xor 0x55 output, set sign bit positive)."""
    import numpy as np

    pcm = np.asarray(samples, dtype=np.int16).astype(np.int32) >> 3
    mask = np.where(pcm >= 0, 0xD5, 0x55)
    # negative magnitudes are -pcm - 1, not |pcm| (CCITT even-bit
    # inversion; audioop st_linear2alaw does the same)
    mag = np.minimum(np.where(pcm >= 0, pcm, -pcm - 1), 0x0FFF)
    seg = np.maximum(np.frexp(mag.astype(np.float64))[1] - 5, 0)
    aval = np.where(
        seg < 2,
        (seg << 4) | ((mag >> 1) & 0x0F),
        (seg << 4) | ((mag >> seg) & 0x0F),
    )
    return (aval ^ mask).astype(np.uint8).tobytes()


_ADPCM_STEPS = [
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
]
_ADPCM_INDEX = [-1, -1, -1, -1, 2, 4, 6, 8, -1, -1, -1, -1, 2, 4, 6, 8]


def decode_adpcm(payload: bytes):
    """IMA/DVI ADPCM (4-bit, the audioop/Intel variant) → int16 PCM:
    two codes per byte, HIGH nibble first, state starting at
    (pred=0, index=0); per code the step is read at the OLD index,
    vpdiff = step>>3 plus step/step>>1/step>>2 for bits 4/2/1, bit 8
    subtracts, predictor clamps to int16 and index moves by the
    T.IMA index table clamped to [0, 88]. Bit-exact against
    audioop.adpcm2lin (pinned in tests). Stateful per stream, so the
    loop is per-sample within a payload — Arrow batches still carry
    many payloads per task, the same scale shape as the other
    codecs."""
    import numpy as np

    pred, idx = 0, 0
    out = []
    for byte in payload:
        for delta in (byte >> 4, byte & 0x0F):
            step = _ADPCM_STEPS[idx]
            idx = min(max(idx + _ADPCM_INDEX[delta], 0), 88)
            vpdiff = step >> 3
            if delta & 4:
                vpdiff += step
            if delta & 2:
                vpdiff += step >> 1
            if delta & 1:
                vpdiff += step >> 2
            pred = pred - vpdiff if delta & 8 else pred + vpdiff
            pred = min(max(pred, -32768), 32767)
            out.append(pred)
    return np.asarray(out, dtype=np.int16)


def encode_adpcm(samples) -> bytes:
    """int16 PCM → IMA/DVI ADPCM bytes (audioop.lin2adpcm semantics
    from the zero state: successive step comparisons build the 3
    magnitude bits, vpdiff mirrors the decoder, codes pack HIGH
    nibble first; an odd trailing sample pads the last low nibble
    with zero bits)."""
    pred, idx = 0, 0
    codes = []
    for val in samples:
        val = int(val)
        step = _ADPCM_STEPS[idx]
        diff = val - pred
        sign = 8 if diff < 0 else 0
        if sign:
            diff = -diff
        delta = 0
        vpdiff = step >> 3
        if diff >= step:
            delta = 4
            diff -= step
            vpdiff += step
        step >>= 1
        if diff >= step:
            delta |= 2
            diff -= step
            vpdiff += step
        step >>= 1
        if diff >= step:
            delta |= 1
            vpdiff += step
        pred = pred - vpdiff if sign else pred + vpdiff
        pred = min(max(pred, -32768), 32767)
        delta |= sign
        idx = min(max(idx + _ADPCM_INDEX[delta], 0), 88)
        codes.append(delta)
    if len(codes) % 2:
        codes.append(0)
    return bytes(
        (codes[i] << 4) | codes[i + 1] for i in range(0, len(codes), 2)
    )


def synthesize_adpcm_audio(df: DataFrame, id_col: str) -> DataFrame:
    """Deterministic IMA ADPCM payloads: id ``i`` carries
    ``64 + 2*(i % 16)`` four-bit codes ``((i % 97)*(k+1) + k*k) %
    16`` packed high-nibble-first — a code stream that drives the
    decoder across all three regimes (small wander, mid-range, and
    full int16 rail) over the document set. The closed form is what
    lets the c218 oracle regenerate the codes in SQL and replay the
    whole STATEFUL decode as a recursive CTE."""

    def payload_of(i: int) -> bytes:
        n = 64 + 2 * (i % 16)
        codes = [((i % 97) * (k + 1) + k * k) % 16 for k in range(n)]
        return bytes((codes[j] << 4) | codes[j + 1] for j in range(0, n, 2))

    return _synthesize(df, id_col, payload_of)


def adpcm_audio_stats(df: DataFrame) -> DataFrame:
    """Decode a (doc_id, payload) frame of IMA ADPCM audio to PCM16
    and reduce to exact integer statistics. Arrow-batched
    ``mapInPandas`` inside the scan's partitions — no shuffle."""
    return _per_payload(
        df,
        lambda doc_id, payload: (doc_id, *_pcm_stats(decode_adpcm(payload))),
        "doc_id long, n_samples long, sum_pcm long, "
        "sum_abs long, min_pcm long, max_pcm long",
    )


def synthesize_g711_audio(df: DataFrame, id_col: str) -> DataFrame:
    """Deterministic REAL G.711 payloads: id ``i`` carries
    ``96 + i % 32`` code bytes ``(i*7 + k*13) % 256`` (k = sample
    index) in mu-law when ``i`` is even, A-law when odd. Code bytes
    ARE the payload (byte-per-sample telephony framing), so the c217
    oracle regenerates them in SQL and replays the integer decode
    formulas exactly."""

    def payload_of(i: int) -> bytes:
        k = np.arange(96 + i % 32, dtype=np.int64)
        return ((i * 7 + k * 13) % 256).astype(np.uint8).tobytes()

    law = F.when(F.col("doc_id") % 2 == 0, "ulaw").otherwise("alaw")
    return _synthesize(df, id_col, payload_of).select(
        "doc_id", law.alias("law"), "payload"
    )


def g711_audio_stats(df: DataFrame) -> DataFrame:
    """Decode a (doc_id, law, payload) frame of G.711 telephony audio
    to PCM16 and reduce to exact integer statistics — the loudness/
    energy screen over compressed call audio. 100 TB: Arrow-batched
    ``mapInPandas`` inside the scan's partitions, no shuffle."""

    def row(doc_id: int, payload: bytes, law: str) -> tuple:
        dec = decode_mulaw if law == "ulaw" else decode_alaw
        return (doc_id, law, *_pcm_stats(dec(payload)))

    return _per_payload(
        df,
        row,
        "doc_id long, law string, n_samples long, sum_pcm long, "
        "sum_abs long, min_pcm long, max_pcm long",
        extra_cols=("law",),
    )


# --------------------------------------------------------------------------
# GIF87a: real LZW codec (the PNG/WAV contract, for GIF) — encoder and
# decoder are independent implementations of the spec's variable-width
# LSB-first LZW, so a round-trip exercises both directions of the real
# compression, not a memcpy.
# --------------------------------------------------------------------------


class _LZWBitWriter:
    """LSB-first variable-width code packer (GIF byte order)."""

    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, width: int) -> None:
        self.acc |= code << self.nbits
        self.nbits += width
        while self.nbits >= 8:
            self.out.append(self.acc & 0xFF)
            self.acc >>= 8
            self.nbits -= 8

    def flush(self) -> bytes:
        if self.nbits:
            self.out.append(self.acc & 0xFF)
        return bytes(self.out)


def _lzw_compress(indices, min_code_size: int) -> bytes:
    """GIF LZW: emit CLEAR, compress, emit EOI. Width bumps when
    next_code == 2^width + 1 (the spec's early-change-free timing —
    the just-added code can be referenced immediately via the KwKwK
    case, so the bump must land one entry early on the encoder side)."""
    clear, eoi = 1 << min_code_size, (1 << min_code_size) + 1
    w_bits = min_code_size + 1
    d = {bytes([i]): i for i in range(clear)}
    next_code = eoi + 1
    bw = _LZWBitWriter()
    bw.write(clear, w_bits)
    w = b""
    for k in indices:
        wk = w + bytes([int(k)])
        if wk in d:
            w = wk
            continue
        bw.write(d[w], w_bits)
        if next_code < 4096:
            d[wk] = next_code
            next_code += 1
            if next_code == (1 << w_bits) + 1 and w_bits < 12:
                w_bits += 1
        else:  # table full: reset (spec-allowed; rare at our sizes)
            bw.write(clear, w_bits)
            d = {bytes([i]): i for i in range(clear)}
            next_code = eoi + 1
            w_bits = min_code_size + 1
        w = bytes([int(k)])
    if w:
        bw.write(d[w], w_bits)
    bw.write(eoi, w_bits)
    return bw.flush()


def _lzw_decompress(data: bytes, min_code_size: int) -> bytes:
    """Inverse of :func:`_lzw_compress`; decoder bump fires when the
    table reaches 2^width (one entry later than the encoder's counter,
    compensating the decoder's one-step table lag)."""
    clear, eoi = 1 << min_code_size, (1 << min_code_size) + 1
    width = min_code_size + 1
    base = [bytes([i]) for i in range(clear)] + [b"", b""]
    table = list(base)
    out = bytearray()
    acc = nbits = pos = 0
    prev = None
    n = len(data)
    while True:
        while nbits < width:
            if pos >= n:
                raise ValueError("truncated LZW stream (no EOI)")
            acc |= data[pos] << nbits
            pos += 1
            nbits += 8
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        if code == clear:
            table = list(base)
            width = min_code_size + 1
            prev = None
            continue
        if code == eoi:
            return bytes(out)
        if prev is None:
            if code >= len(table):
                raise ValueError(f"bad first LZW code {code}")
            out += table[code]
            prev = code
            continue
        if code < len(table):
            entry = table[code]
        elif code == len(table):
            entry = table[prev] + table[prev][:1]
        else:
            raise ValueError(f"LZW code {code} beyond table {len(table)}")
        out += entry
        if len(table) < 4096:
            table.append(table[prev] + entry[:1])
            if len(table) == (1 << width) and width < 12:
                width += 1
        prev = code


def _gif_palette(n_colors: int) -> bytes:
    """Closed-form palette: color c -> ((c*11)%256, (c*7)%256, (c*3)%256)."""
    out = bytearray()
    for c in range(n_colors):
        out += bytes(((c * 11) % 256, (c * 7) % 256, (c * 3) % 256))
    return bytes(out)


def encode_gif(indices, *, n_colors: int = 16) -> bytes:
    """Genuine GIF87a: header, logical screen descriptor, global color
    table (closed-form palette), image descriptor, real LZW-compressed
    index stream in 255-byte sub-blocks, trailer. ``indices`` is an
    (h, w) array of palette indices."""
    import numpy as np

    arr = np.asarray(indices)
    h, w = arr.shape
    gct_bits = max((n_colors - 1).bit_length(), 1)
    if (1 << gct_bits) != n_colors:
        raise ValueError("n_colors must be a power of two")
    out = bytearray(b"GIF87a")
    out += w.to_bytes(2, "little") + h.to_bytes(2, "little")
    out.append(0x80 | ((gct_bits - 1) << 4) | (gct_bits - 1))  # GCT present
    out += b"\x00\x00"  # bg color, aspect
    out += _gif_palette(n_colors)
    out += b"\x2c" + b"\x00\x00\x00\x00"  # image descriptor at (0,0)
    out += w.to_bytes(2, "little") + h.to_bytes(2, "little")
    out.append(0x00)  # no local table, no interlace
    mcs = max(gct_bits, 2)
    out.append(mcs)
    blob = _lzw_compress(arr.reshape(-1).tolist(), mcs)
    for i in range(0, len(blob), 255):
        chunk = blob[i : i + 255]
        out.append(len(chunk))
        out += chunk
    out += b"\x00\x3b"  # block terminator, trailer
    return bytes(out)


def encode_gif89a(
    frames,
    *,
    n_colors: int = 16,
    delays=None,
    transparents=None,
    disposals=None,
    loop: int | None = 0,
) -> bytes:
    """Genuine animated GIF89a: header, logical screen descriptor,
    global color table (closed-form palette), NETSCAPE2.0 looping
    application extension, and per frame a Graphic Control Extension
    (disposal method, delay in centiseconds, transparency flag +
    index) followed by a full-screen image descriptor with real
    LZW-compressed indices. ``frames`` is a list of (h, w) palette
    index arrays; ``transparents[k]`` is frame k's transparent index
    or None; ``disposals[k]`` in 0..3 (GIF89a §23); ``loop=None``
    omits the looping extension."""
    import numpy as np

    arrs = [np.asarray(f) for f in frames]
    if not arrs:
        raise ValueError("encode_gif89a needs at least one frame")
    h, w = arrs[0].shape
    if any(a.shape != (h, w) for a in arrs):
        raise ValueError("all frames must share the logical screen size")
    n = len(arrs)
    delays = list(delays) if delays is not None else [0] * n
    transparents = (
        list(transparents) if transparents is not None else [None] * n
    )
    disposals = list(disposals) if disposals is not None else [1] * n
    gct_bits = max((n_colors - 1).bit_length(), 1)
    if (1 << gct_bits) != n_colors:
        raise ValueError("n_colors must be a power of two")
    out = bytearray(b"GIF89a")
    out += w.to_bytes(2, "little") + h.to_bytes(2, "little")
    out.append(0x80 | ((gct_bits - 1) << 4) | (gct_bits - 1))
    out += b"\x00\x00"  # bg color, aspect
    out += _gif_palette(n_colors)
    if loop is not None:
        out += b"\x21\xff\x0bNETSCAPE2.0\x03\x01"
        out += int(loop).to_bytes(2, "little") + b"\x00"
    mcs = max(gct_bits, 2)
    for arr, delay, transp, disp in zip(arrs, delays, transparents, disposals):
        packed = (int(disp) & 0x07) << 2
        tindex = 0
        if transp is not None:
            packed |= 0x01
            tindex = int(transp)
        out += b"\x21\xf9\x04"
        out.append(packed)
        out += int(delay).to_bytes(2, "little")
        out.append(tindex)
        out.append(0x00)  # GCE terminator
        out += b"\x2c" + b"\x00\x00\x00\x00"
        out += w.to_bytes(2, "little") + h.to_bytes(2, "little")
        out.append(0x00)  # no local table, no interlace
        out.append(mcs)
        blob = _lzw_compress(arr.reshape(-1).tolist(), mcs)
        for i in range(0, len(blob), 255):
            chunk = blob[i : i + 255]
            out.append(len(chunk))
            out += chunk
        out.append(0x00)
    out += b"\x3b"
    return bytes(out)


def decode_gif_animation(payload: bytes):
    """Full GIF89a animation decode (r16): walks every block, parses
    Graphic Control Extensions and the NETSCAPE2.0 looping extension,
    supports frame sub-rectangles and LOCAL color tables, and
    COMPOSITES the animation per the §23 disposal semantics — the
    canvas starts fully transparent (the renderer convention);
    disposal 0/1 keep the painted state, 2 restores the frame's rect
    to transparent, 3 restores the pre-frame canvas. Transparent
    frame pixels (index == the GCE's transparent index) leave the
    canvas through.

    Returns ``(canvases, meta, loop)``: ``canvases`` is one
    (screen_h, screen_w, 4) RGBA uint8 array per frame — the canvas
    AS DISPLAYED after that frame draws; ``meta`` is one dict per
    frame (``delay`` centiseconds, ``disposal``, ``transparent``
    index or None, ``rect`` (left, top, w, h), ``n_transparent``
    pixels inside the rect); ``loop`` is the Netscape loop count or
    None. Interlaced frames deinterlace via the four-pass row
    reorder (the JVM's GIF writer emits interlaced sequences)."""
    import numpy as np

    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF payload")
    sw = int.from_bytes(payload[6:8], "little")
    sh = int.from_bytes(payload[8:10], "little")
    packed = payload[10]
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        gct = np.frombuffer(
            payload, dtype=np.uint8, count=3 * n, offset=pos
        ).reshape(n, 3)
        pos += 3 * n
    canvas = np.zeros((sh, sw, 4), dtype=np.uint8)
    canvases: list = []
    meta: list = []
    loop = None
    gce = None  # pending GCE applies to the NEXT image only (§23)
    while pos < len(payload):
        b = payload[pos]
        if b == 0x21:
            label = payload[pos + 1]
            pos += 2
            blocks = []
            while payload[pos] != 0:
                ln = payload[pos]
                blocks.append(payload[pos + 1 : pos + 1 + ln])
                pos += 1 + ln
            pos += 1
            if label == 0xF9:  # Graphic Control Extension
                if not blocks or len(blocks[0]) < 4:
                    raise ValueError("corrupt GIF: truncated GCE")
                g = blocks[0]
                gce = {
                    "disposal": (g[0] >> 2) & 0x07,
                    "delay": int.from_bytes(g[1:3], "little"),
                    "transparent": g[3] if g[0] & 0x01 else None,
                }
            elif label == 0xFF and blocks and blocks[0] == b"NETSCAPE2.0":
                if len(blocks) > 1 and len(blocks[1]) >= 3 and blocks[1][0] == 1:
                    loop = int.from_bytes(blocks[1][1:3], "little")
        elif b == 0x2C:
            left = int.from_bytes(payload[pos + 1 : pos + 3], "little")
            top = int.from_bytes(payload[pos + 3 : pos + 5], "little")
            w = int.from_bytes(payload[pos + 5 : pos + 7], "little")
            h = int.from_bytes(payload[pos + 7 : pos + 9], "little")
            ipacked = payload[pos + 9]
            pos += 10
            palette = gct
            if ipacked & 0x80:  # local color table overrides the global
                nl = 2 << (ipacked & 0x07)
                palette = np.frombuffer(
                    payload, dtype=np.uint8, count=3 * nl, offset=pos
                ).reshape(nl, 3)
                pos += 3 * nl
            if palette is None:
                raise ValueError("GIF image with no color table")
            mcs = payload[pos]
            pos += 1
            blob = bytearray()
            while payload[pos] != 0:
                ln = payload[pos]
                blob += payload[pos + 1 : pos + 1 + ln]
                pos += 1 + ln
            pos += 1
            idx = np.frombuffer(
                _lzw_decompress(bytes(blob), mcs), dtype=np.uint8
            )
            if idx.size != h * w:
                raise ValueError(f"GIF index stream {idx.size} != {h}x{w}")
            idx = idx.reshape(h, w)
            if ipacked & 0x40:  # interlaced: rows arrive in the four
                # GIF passes (0::8, 4::8, 2::4, 1::2) — reorder them
                order = np.concatenate(
                    [
                        np.arange(0, h, 8),
                        np.arange(4, h, 8),
                        np.arange(2, h, 4),
                        np.arange(1, h, 2),
                    ]
                )
                deinter = np.empty_like(idx)
                deinter[order] = idx
                idx = deinter
            transp = gce["transparent"] if gce else None
            disposal = gce["disposal"] if gce else 0
            delay = gce["delay"] if gce else 0
            opaque = (
                np.ones((h, w), dtype=bool)
                if transp is None
                else idx != transp
            )
            snapshot = canvas.copy()
            region = canvas[top : top + h, left : left + w]
            region[opaque, :3] = palette[idx[opaque]]
            region[opaque, 3] = 255
            canvases.append(canvas.copy())
            meta.append(
                {
                    "delay": delay,
                    "disposal": disposal,
                    "transparent": transp,
                    "rect": (left, top, w, h),
                    "n_transparent": int((~opaque).sum()),
                }
            )
            if disposal == 2:  # restore rect to (transparent) background
                canvas[top : top + h, left : left + w] = 0
            elif disposal == 3:  # restore to previous
                canvas = snapshot
            gce = None
        elif b == 0x3B:
            break
        else:
            raise ValueError(f"unknown GIF block 0x{b:02x}")
    if not canvases:
        raise ValueError(f"GIF ({sw}x{sh}) contained no image data")
    return canvases, meta, loop


def decode_gif(payload: bytes):
    """Chunk-walking GIF87a/89a decoder: parses the screen descriptor
    and global color table, skips 89a extension blocks by declared
    size, LZW-decompresses the first image, and maps indices through
    the palette to an (h, w, 3) uint8 array. Interlaced images and
    local color tables refuse loudly (not in this corpus's contract)."""
    import numpy as np

    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF payload")
    sw = int.from_bytes(payload[6:8], "little")
    sh = int.from_bytes(payload[8:10], "little")
    packed = payload[10]
    pos = 13
    palette = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        palette = np.frombuffer(
            payload, dtype=np.uint8, count=3 * n, offset=pos
        ).reshape(n, 3)
        pos += 3 * n
    while pos < len(payload):
        b = payload[pos]
        if b == 0x21:  # 89a extension: label + sized sub-blocks
            pos += 2
            while payload[pos] != 0:
                pos += 1 + payload[pos]
            pos += 1
        elif b == 0x2C:  # image descriptor
            w = int.from_bytes(payload[pos + 5 : pos + 7], "little")
            h = int.from_bytes(payload[pos + 7 : pos + 9], "little")
            ipacked = payload[pos + 9]
            pos += 10
            if ipacked & 0x40:
                raise ValueError("interlaced GIF not supported")
            if ipacked & 0x80:
                raise ValueError("local color table not supported")
            if palette is None:
                raise ValueError("GIF without a global color table")
            mcs = payload[pos]
            pos += 1
            blob = bytearray()
            while payload[pos] != 0:
                ln = payload[pos]
                blob += payload[pos + 1 : pos + 1 + ln]
                pos += 1 + ln
            idx = np.frombuffer(
                _lzw_decompress(bytes(blob), mcs), dtype=np.uint8
            )
            if idx.size != h * w:
                raise ValueError(
                    f"GIF index stream {idx.size} != {h}x{w}"
                )
            return palette[idx.reshape(h, w)]
        elif b == 0x3B:
            break
        else:
            raise ValueError(f"unknown GIF block 0x{b:02x}")
    raise ValueError(f"GIF ({sw}x{sh}) contained no image data")


def synthesize_gif_images(
    df: DataFrame, id_col: str, *, side: int = 8, n_colors: int = 16
) -> DataFrame:
    """Deterministic synthetic images as REAL GIF87a payloads: palette
    index of pixel (x, y) for id ``i`` is ``(i*7 + y*5 + x*3) %
    n_colors`` and the palette is the closed-form ``_gif_palette`` —
    so an external engine replays the decoded channel sums without
    parsing a byte (the synthesize_ppm/png/wav contract, for GIF —
    but here the payload really is LZW-compressed)."""
    y = np.arange(side)[:, None]
    x = np.arange(side)[None, :]

    def payload_of(i: int) -> bytes:
        idx = ((i * 7 + y * 5 + x * 3) % n_colors).astype("uint8")
        return encode_gif(idx, n_colors=n_colors)

    return _synthesize(df, id_col, payload_of)


def synthesize_gif_animations(df: DataFrame, id_col: str) -> DataFrame:
    """Deterministic animated GIF89a payloads (r16): id ``i`` carries
    ``2 + i%3`` full-screen frames of ``(5 + i%4) x (6 + i%3)``
    16-color indices ``(i*31 + r*5 + c*3 + f*7) % 16``; frame 0 is
    fully opaque, frame f>0 carries transparent index ``(i + f) %
    16`` in its GCE; delays are ``(i + 3f) % 50 + 2`` centiseconds,
    disposal 1 (do not dispose), Netscape loop count ``i % 4``. The
    closed forms are what let the c222 oracle replay the disposal-1
    compositing (last opaque frame wins per pixel) in SQL."""

    def payload_of(i: int) -> bytes:
        nf = 2 + i % 3
        r = np.arange(5 + i % 4)[:, None]
        c = np.arange(6 + i % 3)[None, :]
        frames = [
            ((i * 31 + r * 5 + c * 3 + f * 7) % 16).astype(np.uint8)
            for f in range(nf)
        ]
        return encode_gif89a(
            frames,
            n_colors=16,
            delays=[(i + 3 * f) % 50 + 2 for f in range(nf)],
            transparents=[None] + [(i + f) % 16 for f in range(1, nf)],
            disposals=[1] * nf,
            loop=i % 4,
        )

    return _synthesize(df, id_col, payload_of)


def gif_animation_stats(images: DataFrame) -> DataFrame:
    """Decode a (doc_id, payload) frame of animated GIF89a and reduce
    to exact integer statistics: frame count, screen size, total GCE
    delay, total transparent pixels across frames, the Netscape loop
    count, and per-channel sums of the FINAL COMPOSITED canvas (the
    frame-over-frame disposal semantics, not just the last raw
    frame). Arrow-batched decode inside the scan's partitions — no
    shuffle."""

    def row(doc_id: int, payload: bytes) -> tuple:
        canvases, meta, loop = decode_gif_animation(payload)
        final = canvases[-1].astype(np.int64)
        return (
            doc_id,
            len(canvases),
            final.shape[1],
            final.shape[0],
            sum(m["delay"] for m in meta),
            sum(m["n_transparent"] for m in meta),
            loop if loop is not None else -1,
            *(int(final[:, :, k].sum()) for k in range(3)),
        )

    return _per_payload(
        images,
        row,
        "doc_id long, n_frames long, width long, height long, "
        "total_delay long, n_transparent long, n_loops long, "
        "sum_r long, sum_g long, sum_b long",
    )


def encode_bmp(pixels, *, topdown: bool = False) -> bytes:
    """REAL Windows BMP encoder, 24-bit BI_RGB: BITMAPFILEHEADER +
    BITMAPINFOHEADER(40), BGR byte order, rows padded to 4 bytes,
    bottom-up by default (positive biHeight) or top-down via the
    spec's negative-height convention. Pure stdlib struct packing."""
    import struct

    import numpy as np

    arr = np.asarray(pixels, dtype=np.uint8)
    h, w, _ = arr.shape
    row = w * 3
    pad = (-row) % 4
    body = bytearray()
    order = range(h) if topdown else range(h - 1, -1, -1)
    for y in order:
        body += arr[y, :, ::-1].tobytes()  # RGB -> BGR
        body += b"\x00" * pad
    bih = struct.pack(
        "<IiiHHIIiiII",
        40, w, -h if topdown else h, 1, 24, 0, len(body), 2835, 2835, 0, 0,
    )
    off = 14 + 40
    bfh = struct.pack("<2sIHHI", b"BM", off + len(body), 0, 0, off)
    return bytes(bfh + bih + body)


def encode_bmp_palette(indices, palette, *, topdown: bool = False) -> bytes:
    """REAL 8-bit palettized BMP: BGRA(0) color table after the 54-byte
    headers, one index byte per pixel, rows padded to 4 bytes."""
    import struct

    import numpy as np

    idx = np.asarray(indices, dtype=np.uint8)
    h, w = idx.shape
    pal = np.asarray(palette, dtype=np.uint8)  # (n, 3) RGB
    n = pal.shape[0]
    table = bytearray()
    for r, g, b in pal:
        table += bytes((int(b), int(g), int(r), 0))  # BGRA0
    pad = (-w) % 4
    body = bytearray()
    order = range(h) if topdown else range(h - 1, -1, -1)
    for y in order:
        body += idx[y].tobytes()
        body += b"\x00" * pad
    bih = struct.pack(
        "<IiiHHIIiiII",
        40, w, -h if topdown else h, 1, 8, 0, len(body), 2835, 2835, n, n,
    )
    off = 14 + 40 + len(table)
    bfh = struct.pack("<2sIHHI", b"BM", off + len(body), 0, 0, off)
    return bytes(bfh + bih + bytes(table) + body)


def decode_bmp(payload: bytes):
    """REAL BMP decode (BITMAPINFOHEADER, BI_RGB, 8-bit palettized or
    24-bit) returning (h, w, 3) uint8 RGB: honors the 4-byte row
    padding, bottom-up (positive height) and top-down (negative
    height) layouts, and the BGRA(0) color table. Anything fancier
    (RLE, 16/32-bit masks, V4/V5 headers) raises by name — honest
    boundaries, not silent garbage."""
    import struct

    import numpy as np

    if payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    off = struct.unpack_from("<I", payload, 10)[0]
    bih_size = struct.unpack_from("<I", payload, 14)[0]
    if bih_size != 40:
        raise NotImplementedError(
            f"only BITMAPINFOHEADER(40) supported, got size {bih_size}"
        )
    w, h_signed = struct.unpack_from("<ii", payload, 18)
    planes, bits = struct.unpack_from("<HH", payload, 26)
    compression, _img_size = struct.unpack_from("<II", payload, 30)
    n_colors = struct.unpack_from("<I", payload, 46)[0]
    if compression != 0:
        raise NotImplementedError(f"only BI_RGB supported, got {compression}")
    if bits not in (8, 24):
        raise NotImplementedError(f"only 8/24-bit BMP supported, got {bits}")
    topdown = h_signed < 0
    h = -h_signed if topdown else h_signed
    if bits == 8:
        n = n_colors or 256
        table = np.frombuffer(payload, np.uint8, n * 4, 54).reshape(n, 4)
        pal = table[:, 2::-1]  # BGRA -> RGB
        stride = w + ((-w) % 4)
        rows = np.frombuffer(payload, np.uint8, stride * h, off).reshape(
            h, stride
        )[:, :w]
        out = pal[rows]
    else:
        stride = w * 3 + ((-(w * 3)) % 4)
        rows = np.frombuffer(payload, np.uint8, stride * h, off).reshape(
            h, stride
        )[:, : w * 3].reshape(h, w, 3)
        out = rows[:, :, ::-1]  # BGR -> RGB
    if not topdown:
        out = out[::-1]
    return np.ascontiguousarray(out)


def synthesize_bmp_images(
    df: DataFrame, id_col: str, *, w: int = 6, h: int = 5, n_colors: int = 16
) -> DataFrame:
    """Deterministic synthetic images as REAL BMP payloads with the
    closed-form pixel ``c(x, y; i) = (i*13 + y*3 + x*7) % n_colors``
    and color ``((c*5)%256, (c*9)%256, (c*13)%256)``. Even ids encode
    8-bit PALETTIZED bottom-up, odd ids 24-bit TRUE-COLOR top-down
    (negative height) — one fixture drives both branches plus the
    4-byte row padding (w=6: 18- and 6-byte rows both pad by 2)."""
    y = np.arange(h)[:, None]
    x = np.arange(w)[None, :]
    pal = _ramp_palette(n_colors, (5, 9, 13))

    def payload_of(i: int) -> bytes:
        idx = ((i * 13 + y * 3 + x * 7) % n_colors).astype(np.uint8)
        if i % 2 == 0:
            return encode_bmp_palette(idx, pal)
        return encode_bmp(pal[idx], topdown=True)

    return _synthesize(df, id_col, payload_of)


# --------------------------------------------------------------------------
# QOI ("Quite OK Image", qoiformat.org — public 1-page spec): the
# modern lossless codec rung of the ladder (PPM raw → BMP container →
# PNG zlib+filters → GIF LZW → WAV PCM → QOI op-stream). Distinct
# machinery: a 64-entry hash-indexed color cache, 2-bit channel diffs,
# luma diffs, and run-length ops — five op types in one byte stream.
# --------------------------------------------------------------------------

_QOI_MAGIC = b"qoif"
_QOI_END = b"\x00" * 7 + b"\x01"


def _qoi_hash(r: int, g: int, b: int, a: int) -> int:
    return (r * 3 + g * 5 + b * 7 + a * 11) % 64


def encode_qoi(pixels) -> bytes:
    """Encode an (h, w, 3) uint8 array as a spec-complete QOI stream
    (channels=3, alpha implicitly 255): greedy op selection RUN →
    INDEX → DIFF → LUMA → RGB, exactly the reference encoder's order,
    so every op type is exercised by a fixture that contains runs,
    small gradients, and palette jumps."""
    import struct

    h, w = pixels.shape[0], pixels.shape[1]
    out = bytearray()
    out += _QOI_MAGIC + struct.pack(">II", w, h) + bytes([3, 0])
    index = [(0, 0, 0, 0)] * 64
    pr, pg, pb, pa = 0, 0, 0, 255
    run = 0
    flat = pixels.reshape(-1, 3)
    for px in flat:
        r, g, b = int(px[0]), int(px[1]), int(px[2])
        if (r, g, b) == (pr, pg, pb):
            run += 1
            if run == 62:
                out.append(0xC0 | (run - 1))
                run = 0
            continue
        if run:
            out.append(0xC0 | (run - 1))
            run = 0
        idx = _qoi_hash(r, g, b, 255)
        if index[idx] == (r, g, b, 255):
            out.append(idx)  # QOI_OP_INDEX (tag 0b00)
        else:
            index[idx] = (r, g, b, 255)
            dr = (r - pr + 128) % 256 - 128
            dg = (g - pg + 128) % 256 - 128
            db = (b - pb + 128) % 256 - 128
            if -2 <= dr <= 1 and -2 <= dg <= 1 and -2 <= db <= 1:
                out.append(0x40 | ((dr + 2) << 4) | ((dg + 2) << 2) | (db + 2))
            elif (
                -32 <= dg <= 31
                and -8 <= dr - dg <= 7
                and -8 <= db - dg <= 7
            ):
                out.append(0x80 | (dg + 32))
                out.append(((dr - dg + 8) << 4) | (db - dg + 8))
            else:
                out += bytes([0xFE, r, g, b])  # QOI_OP_RGB
        pr, pg, pb = r, g, b
    if run:
        out.append(0xC0 | (run - 1))
    out += _QOI_END
    return bytes(out)


def decode_qoi(payload: bytes):
    """Spec-complete QOI decode → (h, w, 3) uint8 (alpha dropped for
    channels=3 streams, refused non-255 for 3-channel output). Raises
    on bad magic, truncation, or a missing end marker."""
    import struct

    import numpy as np

    if payload[:4] != _QOI_MAGIC:
        raise ValueError("not a QOI stream (bad magic)")
    w, h = struct.unpack(">II", payload[4:12])
    channels, _colorspace = payload[12], payload[13]
    if channels not in (3, 4):
        raise ValueError(f"QOI channels must be 3 or 4, got {channels}")
    if payload[-8:] != _QOI_END:
        raise ValueError("QOI stream missing end marker")
    data = payload[14:-8]
    n = w * h
    out = np.empty((n, 3), dtype=np.uint8)
    index = [(0, 0, 0, 0)] * 64
    r, g, b, a = 0, 0, 0, 255
    pos = 0
    i = 0
    while i < n:
        if pos >= len(data):
            raise ValueError("truncated QOI stream")
        byte = data[pos]
        pos += 1
        if byte == 0xFE:  # RGB
            r, g, b = data[pos], data[pos + 1], data[pos + 2]
            pos += 3
        elif byte == 0xFF:  # RGBA
            r, g, b, a = data[pos], data[pos + 1], data[pos + 2], data[pos + 3]
            pos += 4
        else:
            tag = byte >> 6
            if tag == 0b00:  # INDEX
                r, g, b, a = index[byte & 0x3F]
            elif tag == 0b01:  # DIFF
                r = (r + ((byte >> 4) & 3) - 2) % 256
                g = (g + ((byte >> 2) & 3) - 2) % 256
                b = (b + (byte & 3) - 2) % 256
            elif tag == 0b10:  # LUMA
                dg = (byte & 0x3F) - 32
                b2 = data[pos]
                pos += 1
                r = (r + dg + ((b2 >> 4) & 0xF) - 8) % 256
                g = (g + dg) % 256
                b = (b + dg + (b2 & 0xF) - 8) % 256
            else:  # RUN
                run = (byte & 0x3F) + 1
                if i + run > n:
                    raise ValueError("QOI run overflows the pixel count")
                out[i : i + run] = (r, g, b)
                i += run
                index[_qoi_hash(r, g, b, a)] = (r, g, b, a)
                continue
        index[_qoi_hash(r, g, b, a)] = (r, g, b, a)
        if a != 255:
            raise ValueError("3-channel output cannot carry alpha != 255")
        out[i] = (r, g, b)
        i += 1
    return out.reshape(h, w, 3)


def synthesize_qoi_images(
    df: DataFrame, id_col: str, *, w: int = 8, h: int = 4
) -> DataFrame:
    """Deterministic synthetic images as REAL QOI payloads exercising
    every op family: EVEN rows are per-pixel gradients
    ``(r,g,b)(x) = ((i*7+x)%256, (i*11+x)%256, (i*13+x)%256)`` (step
    +1/+1/+1 → QOI_OP_DIFF), ODD rows are 4-pixel blocks of palette
    color ``k = (i*13 + y*3 + (x DIV 4)*7) % 16`` mapped through
    ``((k*5)%256, (k*9)%256, (k*13)%256)`` (runs → QOI_OP_RUN,
    revisits → QOI_OP_INDEX, jumps → RGB/LUMA)."""
    xs = np.arange(w)
    gradient = np.array([7, 11, 13])[None, :]
    pal = _ramp_palette(16, (5, 9, 13))

    def payload_of(i: int) -> bytes:
        img = np.zeros((h, w, 3), dtype=np.uint8)
        for y in range(h):
            if y % 2 == 0:
                img[y] = (i * gradient + xs[:, None]) % 256
            else:
                img[y] = pal[(i * 13 + y * 3 + (xs // 4) * 7) % 16]
        return encode_qoi(img)

    return _synthesize(df, id_col, payload_of)


# --------------------------------------------------------------------------
# TGA (Truevision TARGA, the TGA 2.0 public spec): the RLE-packet rung
# of the codec ladder — distinct machinery from every other rung: an
# 18-byte little-endian header (no magic at the front; TGA 2.0 is
# detected by the trailing "TRUEVISION-XFILE." footer), BGR pixel
# order, bottom-up default origin with a descriptor-bit top-down
# override, and per-scanline RLE/raw packets (high bit = run of one
# repeated pixel, else literal block; packets never cross scanlines).
# --------------------------------------------------------------------------

_TGA_FOOTER_SIG = b"TRUEVISION-XFILE.\x00"
_TGA_FOOTER = b"\x00" * 8 + _TGA_FOOTER_SIG


def encode_tga(pixels, *, rle: bool = False, topdown: bool = False) -> bytes:
    """REAL TGA encoder, 24-bit truecolor: type 2 (uncompressed) or
    type 10 (RLE, greedy per-scanline packets — runs of identical
    pixels become repeat packets, the rest literal blocks, both capped
    at 128 per the spec). Bottom-up rows by default; ``topdown`` sets
    descriptor bit 5. A TGA 2.0 footer is appended (the format's only
    signature — detection is from the TAIL)."""
    import struct

    import numpy as np

    arr = np.asarray(pixels, dtype=np.uint8)
    h, w, _ = arr.shape
    desc = 0x20 if topdown else 0
    head = struct.pack(
        "<BBBHHBHHHHBB",
        0, 0, 10 if rle else 2, 0, 0, 0, 0, 0, w, h, 24, desc,
    )
    rows = arr if topdown else arr[::-1]
    body = bytearray()
    for y in range(h):
        row = rows[y, :, ::-1]  # RGB -> BGR
        if not rle:
            body += row.tobytes()
            continue
        x = 0
        while x < w:
            run = 1
            while (
                x + run < w
                and run < 128
                and (row[x + run] == row[x]).all()
            ):
                run += 1
            if run >= 2:
                body.append(0x80 | (run - 1))
                body += row[x].tobytes()
                x += run
                continue
            # extend the literal until a >=2 pixel run starts (which
            # the next outer iteration emits as a repeat packet)
            lit = x + 1
            while (
                lit < w
                and lit - x < 128
                and not (
                    lit + 1 < w and (row[lit + 1] == row[lit]).all()
                )
            ):
                lit += 1
            body.append((lit - x) - 1)
            body += row[x:lit].tobytes()
            x = lit
    return bytes(head) + bytes(body) + _TGA_FOOTER


def decode_tga(payload: bytes):
    """REAL TGA decode (24-bit truecolor, type 2 uncompressed or type
    10 RLE) returning (h, w, 3) uint8 RGB: honors the bottom-up
    default and the descriptor top-down bit, decodes repeat and
    literal packets per scanline. Color-mapped/16/32-bit types raise
    by name — honest boundaries, not silent garbage."""
    import struct

    import numpy as np

    (
        idlen, cmap_type, img_type, _cm_first, _cm_len, _cm_size,
        _xo, _yo, w, h, bits, desc,
    ) = struct.unpack_from("<BBBHHBHHHHBB", payload, 0)
    if cmap_type != 0 or img_type not in (2, 10):
        raise NotImplementedError(
            f"only truecolor TGA types 2/10 supported, got type "
            f"{img_type} cmap {cmap_type}"
        )
    if bits != 24:
        raise NotImplementedError(f"only 24-bit TGA supported, got {bits}")
    pos = 18 + idlen
    n = w * h
    if img_type == 2:
        flat = np.frombuffer(payload, np.uint8, n * 3, pos).reshape(n, 3)
    else:
        out = np.empty((n, 3), dtype=np.uint8)
        filled = 0
        while filled < n:
            hdr = payload[pos]
            pos += 1
            count = (hdr & 0x7F) + 1
            if hdr & 0x80:
                px = np.frombuffer(payload, np.uint8, 3, pos)
                out[filled : filled + count] = px
                pos += 3
            else:
                out[filled : filled + count] = np.frombuffer(
                    payload, np.uint8, count * 3, pos
                ).reshape(count, 3)
                pos += count * 3
            filled += count
        flat = out
    img = flat.reshape(h, w, 3)[:, :, ::-1]  # BGR -> RGB
    if not (desc & 0x20):
        img = img[::-1]  # bottom-up storage -> top-down array
    return np.ascontiguousarray(img)


def synthesize_tga_images(
    df: DataFrame, id_col: str, *, w: int = 8, h: int = 5, n_colors: int = 32
) -> DataFrame:
    """Deterministic synthetic images as REAL TGA payloads with the
    closed-form pixel ``c(x, y; i) = (i*11 + y*5 + (x DIV 4)*3) %
    n_colors`` and color ``((c*7)%256, (c*11)%256, (c*3)%256)`` — the
    x DIV 4 plateau makes 4-pixel runs, so the RLE branch emits real
    repeat packets, and the plateau BOUNDARIES emit literal packets.
    Even ids encode type 2 (uncompressed, bottom-up), odd ids type 10
    (RLE, top-down) — one fixture drives both pixel paths, both row
    orders, and both packet kinds."""
    y = np.arange(h)[:, None]
    x = np.arange(w)[None, :]
    pal = _ramp_palette(n_colors, (7, 11, 3))

    def payload_of(i: int) -> bytes:
        idx = ((i * 11 + y * 5 + (x // 4) * 3) % n_colors).astype(np.uint8)
        odd = i % 2 == 1
        return encode_tga(pal[idx], rle=odd, topdown=odd)

    return _synthesize(df, id_col, payload_of)


# ---------------------------------------------------------------------------
# Baseline TIFF (r15): the scanner/scientific container — uncompressed
# strips, either byte order (II little / MM big), grayscale / RGB /
# RGBA, 8 or 16 bits per sample. Encoder and decoder are independent
# IFD implementations; cross-validated against the JVM's
# com.sun.imageio TIFF plugin. Compression, tiling and planar=2 refuse
# by name — the honest subset.
# ---------------------------------------------------------------------------


def _packbits_encode_row(row: bytes) -> bytes:
    """PackBits (TIFF 6.0 §9) one ROW — the spec requires each row to
    be packed separately: n in 0..127 → n+1 literal bytes follow;
    n in 129..255 → the next byte repeats 257-n times; 128 is a noop."""
    out = bytearray()
    i, n = 0, len(row)
    while i < n:
        run = 1
        while i + run < n and row[i + run] == row[i] and run < 128:
            run += 1
        if run >= 2:
            out.append((256 - (run - 1)) & 0xFF)
            out.append(row[i])
            i += run
            continue
        start = i
        i += 1
        while i < n and (i - start) < 128:
            if i + 1 < n and row[i + 1] == row[i]:
                break  # an upcoming run: close the literal here
            i += 1
        out.append(i - start - 1)
        out += row[start:i]
    return bytes(out)


def _packbits_decode(data: bytes, expected: int) -> bytes:
    """Inverse of :func:`_packbits_encode_row` over a whole strip
    (rows were packed separately but concatenate seamlessly)."""
    out = bytearray()
    i, n = 0, len(data)
    while len(out) < expected:
        if i >= n:
            raise ValueError("corrupt TIFF: truncated PackBits strip")
        b = data[i]
        i += 1
        if b == 128:  # noop
            continue
        if b < 128:
            if i + b + 1 > n:
                raise ValueError("corrupt TIFF: truncated PackBits strip")
            out += data[i : i + b + 1]
            i += b + 1
        else:
            if i >= n:
                raise ValueError("corrupt TIFF: truncated PackBits strip")
            out += bytes([data[i]]) * (257 - b)
            i += 1
    return bytes(out[:expected])


def _tiff_lzw_compress(data: bytes) -> bytes:
    """TIFF 6.0 §13 LZW: MSB-first variable-width codes over the
    256-symbol byte alphabet (Clear=256, EOI=257, entries from 258),
    with the spec's EARLY width change — the encoder widens after
    ASSIGNING slot 511/1023/2047 (one slot earlier than GIF's
    LSB-first variant above, which widens after slot 512), and emits
    a Clear when NextCode reaches 4094. Cross-validated bit-for-bit
    against com.sun.imageio's TIFF LZW on streams long enough to
    cross every width boundary. Independent of the GIF core: both
    bit order and change timing differ, and the GIF bitstreams must
    stay byte-identical."""
    CLEAR, EOI = 256, 257
    out = bytearray()
    acc = nbits = 0

    def put(code: int, width: int) -> None:
        nonlocal acc, nbits
        acc = (acc << width) | code
        nbits += width
        while nbits >= 8:
            out.append((acc >> (nbits - 8)) & 0xFF)
            nbits -= 8
    width = 9
    d: dict[bytes, int] = {bytes([i]): i for i in range(256)}
    next_code = 258
    put(CLEAR, width)
    w = b""
    for k in data:
        wk = w + bytes([k])
        if wk in d:
            w = wk
            continue
        put(d[w], width)
        d[wk] = next_code
        next_code += 1
        if next_code == (1 << width) and width < 12:
            width += 1  # slot (1<<width)-1 just assigned
        elif next_code == 4094:  # table nearly full: spec-mandated reset
            put(CLEAR, width)
            d = {bytes([i]): i for i in range(256)}
            next_code = 258
            width = 9
        w = bytes([k])
    if w:
        put(d[w], width)
    put(EOI, width)
    if nbits:
        out.append((acc << (8 - nbits)) & 0xFF)
    return bytes(out)


def _tiff_lzw_decompress(data: bytes, expected: int) -> bytes:
    """Inverse of :func:`_tiff_lzw_compress`. The decoder's table lags
    the encoder's by one entry, so its width change fires one slot
    earlier — after assigning slot 510/1022/2046, i.e. at table size
    ``(1 << width) - 1`` (the spec's 'decoder adds the code-length
    change one code earlier than the encoder')."""
    CLEAR, EOI = 256, 257
    base = [bytes([i]) for i in range(256)] + [b"", b""]
    table = list(base)
    width = 9
    out = bytearray()
    acc = nbits = pos = 0
    n = len(data)
    prev = None
    while len(out) < expected:
        while nbits < width:
            if pos >= n:
                raise ValueError("corrupt TIFF: truncated LZW strip")
            acc = (acc << 8) | data[pos]
            pos += 1
            nbits += 8
        code = (acc >> (nbits - width)) & ((1 << width) - 1)
        nbits -= width
        if code == CLEAR:
            table = list(base)
            width = 9
            prev = None
            continue
        if code == EOI:
            break
        if prev is None:
            if code >= 256:
                raise ValueError(f"corrupt TIFF: bad first LZW code {code}")
            out += table[code]
            prev = code
            continue
        if code < len(table):
            entry = table[code]
        elif code == len(table):
            entry = table[prev] + table[prev][:1]
        else:
            raise ValueError(
                f"corrupt TIFF: LZW code {code} beyond table {len(table)}"
            )
        out += entry
        table.append(table[prev] + entry[:1])
        if len(table) == (1 << width) - 1 and width < 12:
            width += 1
        prev = code
    if len(out) < expected:
        raise ValueError(
            f"corrupt TIFF: LZW strip yields {len(out)} bytes, "
            f"need {expected}"
        )
    return bytes(out[:expected])


def encode_tiff(
    pixels,
    *,
    big_endian: bool = False,
    compression: str = "none",
    predictor: bool = False,
) -> bytes:
    """(h, w[, ch]) uint8/uint16 array → baseline TIFF 6.0: a single
    strip with one IFD holding the required tags (ImageWidth/Length,
    BitsPerSample, Compression, Photometric, StripOffsets/ByteCounts,
    SamplesPerPixel, RowsPerStrip) plus ExtraSamples for RGBA.
    ``big_endian`` writes an MM file (sample bytes AND tag values flip
    together, per the spec). ``compression`` (r16): 'none' (bytes
    identical to the r15 encoder), 'packbits' (§9 RLE, each row packed
    separately), 'lzw' (§13 MSB-first variable-width) or 'deflate'
    (zlib streams, Compression=8).
    ``predictor=True`` (lzw/deflate) applies horizontal differencing
    (Predictor=2, tag 317) on samples before compression."""
    import struct

    import numpy as np

    arr, depth = _as_pixel_array(pixels, "encode_tiff")
    if arr.ndim == 2:
        arr = arr[:, :, None]
    if arr.ndim != 3 or arr.shape[2] not in (1, 3, 4):
        raise ValueError(
            "encode_tiff takes (h, w), (h, w, 3) or (h, w, 4); got "
            f"shape {np.asarray(pixels).shape}"
        )
    if compression not in ("none", "packbits", "lzw", "deflate"):
        raise ValueError(
            f"encode_tiff compression {compression!r} not supported; "
            "'none', 'packbits', 'lzw' or 'deflate'"
        )
    if predictor and compression not in ("lzw", "deflate"):
        raise ValueError("predictor=True needs compression='lzw'/'deflate'")
    h, w, ch = arr.shape
    bo = ">" if big_endian else "<"
    if predictor:
        # horizontal differencing on SAMPLE values (mod 2^depth),
        # per channel along the row
        m = 1 << depth
        d64 = arr.astype(np.int64)
        d64[:, 1:, :] -= arr.astype(np.int64)[:, :-1, :]
        arr = (d64 % m).astype(arr.dtype)
    if depth == 16:
        raw = arr.astype(bo + "u2").tobytes()
    else:
        raw = arr.astype(np.uint8).tobytes()
    row_bytes = w * ch * depth // 8
    if compression == "packbits":
        strip = b"".join(
            _packbits_encode_row(raw[r * row_bytes : (r + 1) * row_bytes])
            for r in range(h)
        )
    elif compression == "lzw":
        strip = _tiff_lzw_compress(raw)
    elif compression == "deflate":
        import zlib

        strip = zlib.compress(raw)
    else:
        strip = raw
    comp_code = {
        "none": 1, "packbits": 32773, "lzw": 5, "deflate": 8,
    }[compression]
    photometric = 1 if ch == 1 else 2  # BlackIsZero / RGB
    extra = bytearray()  # out-of-line tag data, placed after the IFD

    def short(v):
        return struct.pack(bo + "H", v)

    def long_(v):
        return struct.pack(bo + "I", v)

    header = struct.pack(bo + "2sHI", b"MM" if big_endian else b"II", 42, 8)
    # required set + Predictor (LZW differencing) + ExtraSamples (RGBA)
    n_tags = 9 + (1 if predictor else 0) + (1 if ch == 4 else 0)
    # layout: header(8) | IFD: count(2) + 12*n + next(4) | extra | strip
    ifd_size = 2 + 12 * n_tags + 4
    extra_base = 8 + ifd_size

    tags = []

    def add(tag, ttype, count, payload):
        """payload is the packed value data; <=4 bytes goes inline."""
        nonlocal extra
        if len(payload) <= 4:
            tags.append(
                struct.pack(bo + "HHI", tag, ttype, count)
                + payload.ljust(4, b"\x00")
            )
        else:
            tags.append(
                struct.pack(bo + "HHI", tag, ttype, count)
                + long_(extra_base + len(extra))
            )
            extra += payload

    add(256, 3, 1, short(w))  # ImageWidth
    add(257, 3, 1, short(h))  # ImageLength
    add(258, 3, ch, b"".join(short(depth) for _ in range(ch)))
    add(259, 3, 1, short(comp_code))  # Compression
    add(262, 3, 1, short(photometric))
    # StripOffsets placeholder — patched once extra size is final
    strip_off_idx = len(tags)
    add(273, 4, 1, long_(0))
    add(277, 3, 1, short(ch))  # SamplesPerPixel
    add(278, 3, 1, short(h))  # RowsPerStrip: single strip
    add(279, 4, 1, long_(len(strip)))  # StripByteCounts
    if predictor:
        add(317, 3, 1, short(2))  # Predictor: horizontal differencing
    if ch == 4:
        add(338, 3, 1, short(2))  # ExtraSamples: unassociated alpha
    assert len(tags) == n_tags, (len(tags), n_tags)
    strip_offset = extra_base + len(extra)
    tags[strip_off_idx] = (
        struct.pack(bo + "HHI", 273, 4, 1) + long_(strip_offset)
    )
    # tags were appended in ascending tag-number order (TIFF requires it)
    ifd = short(n_tags) + b"".join(tags) + long_(0)
    return header + ifd + bytes(extra) + strip


def decode_tiff(payload: bytes):
    """Baseline TIFF decode: II/MM byte order, first IFD, strips (any
    RowsPerStrip split) that are uncompressed, PackBits (32773), LZW
    (5) or Deflate (8/32946) — each strip decompressed independently,
    with Predictor=2 horizontal differencing undone on samples (r16) —
    PlanarConfiguration=1, gray at 1 sample or RGB/RGBA at 3/4, depths
    8/16. Returns (h, w) for grayscale, (h, w, ch) otherwise; dtype
    uint8/uint16. Other compressions, tiled and planar files refuse
    by name."""
    import struct

    import numpy as np

    if len(payload) < 8:
        raise ValueError("corrupt TIFF: truncated header")
    if payload[:2] == b"II":
        bo = "<"
    elif payload[:2] == b"MM":
        bo = ">"
    else:
        raise ValueError("not a TIFF: bad byte-order mark")
    (magic,) = struct.unpack(bo + "H", payload[2:4])
    if magic != 42:
        raise ValueError("not a TIFF: bad magic")
    (ifd_off,) = struct.unpack(bo + "I", payload[4:8])
    if ifd_off + 2 > len(payload):
        raise ValueError("corrupt TIFF: IFD offset past EOF")
    (n_tags,) = struct.unpack(bo + "H", payload[ifd_off : ifd_off + 2])
    if ifd_off + 2 + 12 * n_tags + 4 > len(payload):
        raise ValueError("corrupt TIFF: truncated IFD")
    type_size = {1: 1, 2: 1, 3: 2, 4: 4}
    tags = {}
    for k in range(n_tags):
        off = ifd_off + 2 + 12 * k
        tag, ttype, count = struct.unpack(
            bo + "HHI", payload[off : off + 8]
        )
        if ttype not in type_size:
            continue  # RATIONAL etc.: not needed for baseline strips
        nbytes = type_size[ttype] * count
        if nbytes <= 4:
            data = payload[off + 8 : off + 8 + nbytes]
        else:
            (voff,) = struct.unpack(bo + "I", payload[off + 8 : off + 12])
            if voff + nbytes > len(payload):
                raise ValueError("corrupt TIFF: tag value past EOF")
            data = payload[voff : voff + nbytes]
        fmt = {1: "B", 2: "B", 3: "H", 4: "I"}[ttype]
        tags[tag] = list(struct.unpack(bo + str(count) + fmt, data))
    if 322 in tags or 323 in tags:
        raise NotImplementedError("tiled TIFF is not supported")
    comp = tags.get(259, [1])[0]
    if comp not in (1, 5, 8, 32946, 32773):
        raise NotImplementedError(
            f"compressed TIFF (Compression={comp}) is not supported; "
            "uncompressed, LZW (5), Deflate (8/32946) and PackBits "
            "(32773) strips decode here"
        )
    pred = tags.get(317, [1])[0]
    if pred not in (1, 2):
        raise NotImplementedError(
            f"TIFF Predictor={pred} is not supported; none (1) and "
            "horizontal differencing (2) decode here"
        )
    if tags.get(284, [1])[0] != 1:
        raise NotImplementedError(
            "planar (PlanarConfiguration=2) TIFF is not supported"
        )
    try:
        w = tags[256][0]
        h = tags[257][0]
        offsets = tags[273]
        counts = tags[279]
    except KeyError as e:
        raise ValueError(f"corrupt TIFF: missing required tag {e}")
    ch = tags.get(277, [1])[0]
    bits = tags.get(258, [8])
    if ch not in (1, 3, 4) or any(b not in (8, 16) for b in bits):
        raise NotImplementedError(
            f"TIFF with {ch} samples at bits {bits} is not supported; "
            "gray/RGB/RGBA at 8 or 16 bits decode here"
        )
    photometric = tags.get(262, [1])[0]
    if photometric not in (0, 1, 2):
        raise NotImplementedError(
            f"TIFF PhotometricInterpretation={photometric} is not "
            "supported; WhiteIsZero (0) / BlackIsZero (1) grayscale "
            "and RGB (2) decode here"
        )
    if photometric == 0 and ch != 1:
        raise ValueError(
            "corrupt TIFF: WhiteIsZero with multiple samples"
        )
    depth = bits[0]
    if any(b != depth for b in bits):
        raise NotImplementedError("mixed per-channel bit depths")
    rps = tags.get(278, [h])[0] or h
    row_bytes = w * ch * depth // 8
    data = bytearray()
    for s, (o, c) in enumerate(zip(offsets, counts)):
        if o + c > len(payload):
            raise ValueError("corrupt TIFF: strip past EOF")
        raw = payload[o : o + c]
        n_rows = min(rps, h - s * rps)
        expected = n_rows * row_bytes
        if comp == 32773:
            raw = _packbits_decode(raw, expected)
        elif comp == 5:
            raw = _tiff_lzw_decompress(raw, expected)
        elif comp in (8, 32946):  # Deflate (new + legacy code)
            import zlib

            try:
                raw = zlib.decompress(bytes(raw))
            except zlib.error as e:
                raise ValueError(f"corrupt TIFF: bad Deflate strip ({e})")
            if len(raw) < expected:
                raise ValueError(
                    f"corrupt TIFF: Deflate strip yields {len(raw)} "
                    f"bytes, need {expected}"
                )
            raw = raw[:expected]
        data += raw
    need = h * row_bytes
    if len(data) < need:
        raise ValueError(
            f"corrupt TIFF: strips hold {len(data)} bytes, need {need}"
        )
    if depth == 16:
        px = np.frombuffer(
            bytes(data[:need]), dtype=bo + "u2"
        ).astype(np.uint16)
    else:
        px = np.frombuffer(bytes(data[:need]), dtype=np.uint8)
    px = px.reshape(h, w, ch)
    if pred == 2:
        # undo horizontal differencing: cumulative sum on samples
        # along the row, per channel, wrapping at the sample width
        m = 1 << depth
        px = (np.cumsum(px.astype(np.int64), axis=1) % m).astype(px.dtype)
    if photometric == 0:  # WhiteIsZero: invert to BlackIsZero polarity
        px = ((1 << depth) - 1 - px.astype(np.int64)).astype(px.dtype)
    return px[:, :, 0].copy() if ch == 1 else px.copy()


def synthesize_tiff_images(df: DataFrame, id_col: str) -> DataFrame:
    """Deterministic baseline-TIFF payloads (r15): image ``id`` is
    (4 + id%5) x (5 + id%4) with per-channel pixels ``(id*151 + r*13
    + c*11 + ch*5) % M``, in variant ``id % 4``: 0 → gray 8-bit II,
    1 → RGB 8-bit MM, 2 → RGBA 8-bit II, 3 → RGB 16-bit MM
    (M = 65536 for the 16-bit variant, else 256) — both byte orders,
    alpha, and both depths. Lossless, so the c220 oracle replays the
    closed form in SQL."""

    def payload_of(i: int) -> bytes:
        variant = i % 4
        m = 65536 if variant == 3 else 256
        shape = (4 + i % 5, 5 + i % 4, (1, 3, 4, 3)[variant])
        px = _pixel_grid(i * 151, shape, (13, 11, 5), m)
        if variant == 0:
            px = px[:, :, 0]
        return encode_tiff(px, big_endian=variant in (1, 3))

    return _synthesize(df, id_col, payload_of)


def synthesize_tiff_compressed_images(df: DataFrame, id_col: str) -> DataFrame:
    """Deterministic COMPRESSED-TIFF payloads (r16): image ``id`` is
    (6 + id%6) x (5 + id%5) in variant ``id % 4``: 0 → gray 8-bit
    PackBits II with run-friendly pixels ``(id*157 + r*17 +
    (c//3)*21) % 256`` (horizontal runs of 3, so the RLE actually
    bites), 1 → RGB 8-bit LZW MM, 2 → RGBA 8-bit LZW+Predictor-2 II,
    3 → RGB 16-bit Deflate MM, the non-gray variants with pixels
    ``(id*157 + r*17 + c*7 + ch*3) % M``. Both compressions are
    lossless, so the c221 oracle replays the closed pixel forms in
    SQL exactly as c220 does for the uncompressed baseline."""

    def payload_of(i: int) -> bytes:
        variant = i % 4
        h, w = 6 + i % 6, 5 + i % 5
        if variant == 0:
            r = np.arange(h)[:, None]
            c = np.arange(w)[None, :]
            px = ((i * 157 + r * 17 + (c // 3) * 21) % 256).astype(np.uint8)
        else:
            m = 65536 if variant == 3 else 256
            n_ch = (1, 3, 4, 3)[variant]
            px = _pixel_grid(i * 157, (h, w, n_ch), (17, 7, 3), m)
        return encode_tiff(
            px,
            big_endian=variant in (1, 3),
            compression=("packbits", "lzw", "lzw", "deflate")[variant],
            predictor=variant == 2,
        )

    return _synthesize(df, id_col, payload_of)


def tiff_image_stats(images: DataFrame) -> DataFrame:
    """Decode a (doc_id, payload) frame of TIFF images and reduce to
    exact integer per-channel statistics (gray fills sum_r/g/b with
    the single channel; sum_a is 0 without alpha). Arrow-batched
    decode inside the scan's partitions — no shuffle."""
    return _per_payload(
        images,
        lambda doc_id, payload: _channel_row(doc_id, decode_tiff(payload)),
        _CHANNEL_SCHEMA,
    )


# ---------------------------------------------------------------------------
# baseline JPEG, grayscale (r14) — the first DCT-family codec on the
# ladder. Both directions are real: the encoder emits spec-standard
# baseline JFIF (SOI/APP0/DQT/SOF0/DHT/SOS/EOI, Annex K.1 luminance
# quantization, Annex K.3.1 canonical Huffman tables, byte-stuffed
# entropy data) and the decoder parses arbitrary single-component
# baseline files (marker walk, canonical Huffman decode, dequant,
# IDCT, level shift). Cross-validated in pytest against the JVM's own
# javax.imageio decoder — an INDEPENDENT implementation that ships in
# every Spark container — which reproduces our decoder bit-for-bit on
# our encoder's output.
#
# Exactness contract (what makes a hash oracle possible for a LOSSY
# codec): an 8x8-aligned block of constant EVEN value round-trips
# bit-exactly — a constant block has exactly one nonzero DCT
# coefficient, DC = 8*(v-128), and the Annex K DC quantizer is 16, so
# quantization is exact iff (v-128) is even; AC coefficients of a
# constant block are 0 to ~1e-13 float and quantize to exactly 0.
# Edge-replicate padding preserves block-constancy for cropped tiles,
# so non-multiple-of-8 sizes stay exact too. c211 synthesizes such
# tiles; fidelity on non-constant content is PSNR-bounded in pytest.
# ---------------------------------------------------------------------------

#: ITU-T T.81 Annex K.1 luminance quantization table (natural order)
_JPEG_QUANT_LUMA = [
    [16, 11, 10, 16, 24, 40, 51, 61],
    [12, 12, 14, 19, 26, 58, 60, 55],
    [14, 13, 16, 24, 40, 57, 69, 56],
    [14, 17, 22, 29, 51, 87, 80, 62],
    [18, 22, 37, 56, 68, 109, 103, 77],
    [24, 35, 55, 64, 81, 104, 113, 92],
    [49, 64, 78, 87, 103, 121, 120, 101],
    [72, 92, 95, 98, 112, 100, 103, 99],
]

#: Annex K.3.1 standard luminance Huffman specs (BITS, HUFFVAL)
_JPEG_DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_JPEG_DC_VALS = list(range(12))
_JPEG_AC_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_JPEG_AC_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
    0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
    0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
    0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
    0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
    0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
    0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
    0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
    0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
    0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
    0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
    0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
    0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
]


#: ITU-T T.81 Annex K.2 chrominance quantization table (natural order)
_JPEG_QUANT_CHROMA = [
    [17, 18, 24, 47, 99, 99, 99, 99],
    [18, 21, 26, 66, 99, 99, 99, 99],
    [24, 26, 56, 99, 99, 99, 99, 99],
    [47, 66, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
]

#: Annex K.3.2 standard chrominance Huffman specs (BITS, HUFFVAL)
_JPEG_DC_BITS_C = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
_JPEG_DC_VALS_C = list(range(12))
_JPEG_AC_BITS_C = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
_JPEG_AC_VALS_C = [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
    0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
    0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
    0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
    0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
    0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
    0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
    0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
    0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
    0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
    0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
    0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
    0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
]


def _jpeg_zigzag():
    """ZIGZAG[k] = (row, col) of the k-th zigzag-scanned coefficient.

    Odd anti-diagonals run down-left (increasing row), even ones
    up-right (increasing col) — T.81 Figure 5. The tie-break was
    transposed before r15: the table it produced was the spec table
    with rows and cols swapped, which every internal round trip and
    every block-transpose-invariant test image (constant tiles, solid
    colors) hides perfectly — real content decoded from, or written
    for, an external codec came out per-block transposed. Caught by
    cross-validating the progressive decoder against javax.imageio on
    noise."""
    return sorted(
        ((r, c) for r in range(8) for c in range(8)),
        key=lambda rc: (
            rc[0] + rc[1],
            rc[0] if (rc[0] + rc[1]) % 2 else rc[1],
        ),
    )


_JPEG_ZIGZAG = _jpeg_zigzag()


def _jpeg_dct_matrix():
    """Orthonormal 8-point DCT-II matrix (C @ C.T == I)."""
    import numpy as np

    k = np.arange(8, dtype=np.float64)
    m = np.cos((2 * k[None, :] + 1) * k[:, None] * np.pi / 16)
    m[0, :] = 1.0 / np.sqrt(2.0)
    return m * 0.5


def _jpeg_canonical_codes(bits, vals):
    """value -> (code, length): canonical Huffman assignment (T.81 C.2)."""
    codes = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


def _jpeg_decode_table(bits, vals):
    """(length, code) -> value lookup for canonical Huffman tables."""
    if sum(bits) > len(vals):
        raise ValueError(
            "corrupt JPEG: DHT declares more codes than values present"
        )
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


class _JpegBitWriter:
    """MSB-first bit accumulator with 0xFF byte stuffing (T.81 B.1.1.5)."""

    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            b = (self.acc >> self.nbits) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)

    def flush(self) -> None:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # 1-bit padding, the spec rule


def _jpeg_magnitude(v: int):
    """(size category, value bits) of a DC difference / AC coefficient."""
    if v == 0:
        return 0, 0
    size = int(abs(v)).bit_length()
    bits = v if v >= 0 else v + (1 << size) - 1
    return size, bits


def _jpeg_write_block(wtr, zz, prev_dc, dc_codes, ac_codes) -> int:
    """Entropy-code one quantized zigzag block (DC diff + RLE AC) with
    the given canonical tables; returns the block's DC for the next
    diff. Shared by the grayscale and color encoders."""
    size, bits = _jpeg_magnitude(zz[0] - prev_dc)
    code, ln = dc_codes[size]
    wtr.write(code, ln)
    if size:
        wtr.write(bits, size)
    last_nz = 0
    for k in range(63, 0, -1):
        if zz[k]:
            last_nz = k
            break
    run = 0
    for k in range(1, last_nz + 1):
        v = zz[k]
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, ln = ac_codes[0xF0]  # ZRL: 16 zeros
            wtr.write(code, ln)
            run -= 16
        size, bits = _jpeg_magnitude(v)
        code, ln = ac_codes[(run << 4) | size]
        wtr.write(code, ln)
        wtr.write(bits, size)
        run = 0
    if last_nz < 63:
        code, ln = ac_codes[0x00]  # EOB
        wtr.write(code, ln)
    return zz[0]


def _jpeg_quantize_block(block, dctm, qt):
    """Forward DCT + quantize one 8x8 level-shifted block → zigzag
    list of 64 ints."""
    import numpy as np

    coeff = dctm @ block @ dctm.T
    q = np.rint(coeff / qt).astype(np.int32)
    return [int(q[r, c]) for r, c in _JPEG_ZIGZAG]


def _jpeg_emit_restart(wtr: _JpegBitWriter, idx: int) -> None:
    """Byte-align with 1-padding (T.81 F.1.2.3) and emit RSTm, m = idx
    mod 8. The pad bits live in the final partial entropy byte, so a
    decoder that consumed the last MCU has always loaded (and, for a
    padded 0xFF, unstuffed) that byte — its cursor lands exactly on
    the marker."""
    wtr.flush()
    wtr.out += bytes([0xFF, 0xD0 + (idx & 7)])


def encode_jpeg_gray(pixels, *, restart_interval: int = 0) -> bytes:
    """(h, w) uint8 grayscale array → spec-standard baseline JFIF bytes
    (single component, Annex K.1 quantization, Annex K.3.1 Huffman
    tables). Non-multiple-of-8 sizes pad by edge replication — the
    choice that keeps cropped constant tiles exactly reconstructible.
    ``restart_interval`` > 0 emits a DRI segment and an RSTm marker
    after every that-many MCUs (one 8x8 block in this non-interleaved
    single-component scan), resetting the DC predictor — the T.81 B.2.4.4
    error-resilience feature every libjpeg stream can carry (r15).
    Restarts change only the bitstream segmentation, never the decoded
    pixels; ``restart_interval=0`` (the default) produces bytes
    byte-identical to the pre-r15 encoder."""
    import struct

    import numpy as np

    ri = int(restart_interval)
    if ri < 0 or ri > 0xFFFF:
        raise ValueError("restart_interval must be in [0, 65535]")
    px = np.asarray(pixels, dtype=np.uint8)
    if px.ndim != 2:
        raise ValueError("encode_jpeg_gray takes an HxW grayscale array")
    h, w = px.shape
    if not h or not w:
        raise ValueError("empty image")
    ph, pw = -(-h // 8) * 8, -(-w // 8) * 8
    padded = np.pad(px, ((0, ph - h), (0, pw - w)), mode="edge")
    shifted = padded.astype(np.float64) - 128.0

    dctm = _jpeg_dct_matrix()
    qt = np.asarray(_JPEG_QUANT_LUMA, dtype=np.float64)
    dc_codes = _jpeg_canonical_codes(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_codes = _jpeg_canonical_codes(_JPEG_AC_BITS, _JPEG_AC_VALS)
    wtr = _JpegBitWriter()
    prev_dc = 0
    n_blocks = (ph // 8) * (pw // 8)
    done = 0
    for by in range(0, ph, 8):
        for bx in range(0, pw, 8):
            zz = _jpeg_quantize_block(
                shifted[by : by + 8, bx : bx + 8], dctm, qt
            )
            prev_dc = _jpeg_write_block(wtr, zz, prev_dc, dc_codes, ac_codes)
            done += 1
            if ri and done % ri == 0 and done < n_blocks:
                _jpeg_emit_restart(wtr, done // ri - 1)
                prev_dc = 0
    wtr.flush()

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">HH", marker, len(payload) + 2) + payload

    zz_qt = bytes(
        int(_JPEG_QUANT_LUMA[r][c]) for r, c in _JPEG_ZIGZAG
    )
    out = bytearray()
    out += b"\xff\xd8"  # SOI
    out += seg(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += seg(0xFFDB, b"\x00" + zz_qt)  # DQT, 8-bit, table 0
    out += seg(0xFFC0, struct.pack(">BHHB", 8, h, w, 1) + b"\x01\x11\x00")
    out += seg(
        0xFFC4,
        b"\x00" + bytes(_JPEG_DC_BITS) + bytes(_JPEG_DC_VALS)
        + b"\x10" + bytes(_JPEG_AC_BITS) + bytes(_JPEG_AC_VALS),
    )
    if ri:
        out += seg(0xFFDD, struct.pack(">H", ri))  # DRI
    out += seg(0xFFDA, b"\x01\x01\x00\x00\x3f\x00")
    out += wtr.out
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def encode_jpeg_color(
    pixels, *, sampling: str = "444", restart_interval: int = 0
) -> bytes:
    """(h, w, 3) uint8 RGB array → spec-standard baseline JFIF color
    bytes: JFIF full-range YCbCr with selectable chroma sampling —
    ``"444"`` (every MCU one 8x8 block per component), ``"422"``
    (Y sampled 2x1: 16x8 MCUs, chroma box-averaged horizontally) or
    ``"420"`` (Y 2x2: 16x16 MCUs, chroma box-averaged both ways —
    the layout nearly every camera/web JPEG uses; r15). Annex K.1/K.2
    quantization and K.3.1/K.3.2 Huffman tables (luma tables for Y,
    chroma tables for Cb/Cr — ids 0/1). Edge-replicate padding to the
    MCU grid as in the grayscale encoder. Exactness contract for the
    oracle: GRAY-valued tiles (R=G=B=v, v even) give Y=v and Cb=Cr=128
    to float rounding, so the chroma blocks quantize to exactly zero
    under EVERY sampling — box-averaging an all-zero centered chroma
    plane is still zero — and the whole pipeline round-trips
    bit-identically (module section header). ``restart_interval`` > 0
    emits DRI + an RSTm marker every that-many interleaved MCUs with
    all three DC predictors reset (r15); 0 keeps the pre-r15 bytes."""
    import struct

    import numpy as np

    factors = {"444": (1, 1), "422": (2, 1), "420": (2, 2)}
    if sampling not in factors:
        raise ValueError(f"sampling must be one of {sorted(factors)}")
    ri = int(restart_interval)
    if ri < 0 or ri > 0xFFFF:
        raise ValueError("restart_interval must be in [0, 65535]")
    hy, vy = factors[sampling]
    px = np.asarray(pixels, dtype=np.uint8)
    if px.ndim != 3 or px.shape[2] != 3:
        raise ValueError("encode_jpeg_color takes an HxWx3 RGB array")
    h, w = px.shape[:2]
    if not h or not w:
        raise ValueError("empty image")
    mh, mw = 8 * vy, 8 * hy  # MCU pixel size
    ph, pw = -(-h // mh) * mh, -(-w // mw) * mw
    padded = np.pad(px, ((0, ph - h), (0, pw - w), (0, 0)), mode="edge")
    r = padded[:, :, 0].astype(np.float64)
    g = padded[:, :, 1].astype(np.float64)
    b = padded[:, :, 2].astype(np.float64)
    yp = 0.299 * r + 0.587 * g + 0.114 * b - 128.0  # Y, level-shifted
    cb = -0.168735892 * r - 0.331264108 * g + 0.5 * b  # Cb - 128
    cr = 0.5 * r - 0.418687589 * g - 0.081312411 * b  # Cr - 128
    if (hy, vy) != (1, 1):
        # chroma downsample: box mean over each vy x hy pixel group
        cb = cb.reshape(ph // vy, vy, pw // hy, hy).mean(axis=(1, 3))
        cr = cr.reshape(ph // vy, vy, pw // hy, hy).mean(axis=(1, 3))
    planes = [yp, cb, cr]

    dctm = _jpeg_dct_matrix()
    qts = [
        np.asarray(_JPEG_QUANT_LUMA, dtype=np.float64),
        np.asarray(_JPEG_QUANT_CHROMA, dtype=np.float64),
        np.asarray(_JPEG_QUANT_CHROMA, dtype=np.float64),
    ]
    dc_l = _jpeg_canonical_codes(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_l = _jpeg_canonical_codes(_JPEG_AC_BITS, _JPEG_AC_VALS)
    dc_c = _jpeg_canonical_codes(_JPEG_DC_BITS_C, _JPEG_DC_VALS_C)
    ac_c = _jpeg_canonical_codes(_JPEG_AC_BITS_C, _JPEG_AC_VALS_C)
    codes = [(dc_l, ac_l), (dc_c, ac_c), (dc_c, ac_c)]
    wtr = _JpegBitWriter()
    prev = [0, 0, 0]
    # interleaved scan (T.81 A.2.3): per MCU, hy*vy Y blocks in raster
    # order, then one Cb and one Cr block (4:4:4 degenerates to one
    # block per component)
    n_mcus = (ph // mh) * (pw // mw)
    done = 0
    for my in range(ph // mh):
        for mx in range(pw // mw):
            for v in range(vy):
                for u in range(hy):
                    by, bx = (my * vy + v) * 8, (mx * hy + u) * 8
                    zz = _jpeg_quantize_block(
                        planes[0][by : by + 8, bx : bx + 8], dctm, qts[0]
                    )
                    prev[0] = _jpeg_write_block(
                        wtr, zz, prev[0], codes[0][0], codes[0][1]
                    )
            for ci in (1, 2):
                zz = _jpeg_quantize_block(
                    planes[ci][my * 8 : my * 8 + 8, mx * 8 : mx * 8 + 8],
                    dctm,
                    qts[ci],
                )
                prev[ci] = _jpeg_write_block(
                    wtr, zz, prev[ci], codes[ci][0], codes[ci][1]
                )
            done += 1
            if ri and done % ri == 0 and done < n_mcus:
                _jpeg_emit_restart(wtr, done // ri - 1)
                prev = [0, 0, 0]
    wtr.flush()

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">HH", marker, len(payload) + 2) + payload

    zz_luma = bytes(int(_JPEG_QUANT_LUMA[r][c]) for r, c in _JPEG_ZIGZAG)
    zz_chroma = bytes(
        int(_JPEG_QUANT_CHROMA[r][c]) for r, c in _JPEG_ZIGZAG
    )
    y_samp = (hy << 4) | vy
    out = bytearray()
    out += b"\xff\xd8"  # SOI
    out += seg(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += seg(0xFFDB, b"\x00" + zz_luma + b"\x01" + zz_chroma)
    out += seg(
        0xFFC0,
        struct.pack(">BHHB", 8, h, w, 3)
        + bytes([1, y_samp, 0]) + b"\x02\x11\x01" + b"\x03\x11\x01",
    )
    out += seg(
        0xFFC4,
        b"\x00" + bytes(_JPEG_DC_BITS) + bytes(_JPEG_DC_VALS)
        + b"\x10" + bytes(_JPEG_AC_BITS) + bytes(_JPEG_AC_VALS)
        + b"\x01" + bytes(_JPEG_DC_BITS_C) + bytes(_JPEG_DC_VALS_C)
        + b"\x11" + bytes(_JPEG_AC_BITS_C) + bytes(_JPEG_AC_VALS_C),
    )
    if ri:
        out += seg(0xFFDD, struct.pack(">H", ri))  # DRI
    out += seg(0xFFDA, b"\x03\x01\x00\x02\x11\x03\x11\x00\x3f\x00")
    out += wtr.out
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def encode_jpeg_cmyk(
    pixels, *, ycck: bool = False, sampling: str = "444"
) -> bytes:
    """(h, w, 4) uint8 TRUE-CMYK array (0 = no ink) → 4-component
    baseline Adobe JPEG — the print-pipeline class (r16, the last
    common real-world JPEG refusal). Two transforms, selected by the
    APP14 ``Adobe`` marker's transform byte exactly as Photoshop/
    libjpeg write them:

    - ``ycck=False`` → transform 0 (CMYK): four independent planes,
      4:4:4 only (ink planes are not chroma — subsampling them has no
      perceptual basis and real transform-0 files don't).
    - ``ycck=True`` → transform 2 (YCCK): the INVERTED CMY channels are
      treated as RGB and pushed through the JFIF YCbCr matrix (Y/Cb/Cr
      coded with the color codec's dual tables), K rides as a fourth
      plane at Y's sampling factors; ``sampling`` picks 444/422/420
      chroma (Cb/Cr subsample, Y and K stay full-resolution — Adobe's
      own layout; a 4:2:0 YCCK MCU is 4+1+1+4 = 10 blocks, T.81's
      exact interleave ceiling).

    SAMPLES ARE STORED INVERTED (``255 - v``) per the de-facto Adobe
    convention every real decoder honors (libjpeg's
    ``Adobe_APP14``/``CCIR601`` handling); :func:`decode_jpeg`
    re-inverts, so the pair round-trips true CMYK. No JFIF APP0 is
    written — JFIF admits only 1- and 3-component streams; APP14 alone
    identifies the file (T.81 itself is colorspace-blind).

    Exactness contract for the oracle (module section header): constant
    8x8-aligned tiles with ODD true-CMYK values invert to EVEN stored
    values, so every plane's DC quantizes exactly (luma step 16 at
    [0,0]) and — with C=M=Y per pixel — the YCCK chroma planes are
    exactly zero, surviving box-average + replication untouched: both
    transforms round-trip bit-identically on this class."""
    import struct

    import numpy as np

    factors = {"444": (1, 1), "422": (2, 1), "420": (2, 2)}
    if sampling not in factors:
        raise ValueError(f"sampling must be one of {sorted(factors)}")
    if not ycck and sampling != "444":
        raise ValueError(
            "transform-0 CMYK encodes 4:4:4 only (ink planes are not "
            "chroma); use ycck=True for subsampled YCCK"
        )
    hy, vy = factors[sampling]
    px, depth = _as_pixel_array(pixels, "encode_jpeg_cmyk")
    if depth != 8:
        raise ValueError("encode_jpeg_cmyk takes 8-bit samples")
    if px.ndim != 3 or px.shape[2] != 4:
        raise ValueError("encode_jpeg_cmyk takes an HxWx4 CMYK array")
    h, w = px.shape[:2]
    if not h or not w:
        raise ValueError("empty image")
    mh, mw = 8 * vy, 8 * hy
    ph, pw = -(-h // mh) * mh, -(-w // mw) * mw
    padded = np.pad(px, ((0, ph - h), (0, pw - w), (0, 0)), mode="edge")
    inv = 255.0 - padded.astype(np.float64)  # Adobe stores inverted ink
    dc_l = _jpeg_canonical_codes(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_l = _jpeg_canonical_codes(_JPEG_AC_BITS, _JPEG_AC_VALS)
    qt_l = np.asarray(_JPEG_QUANT_LUMA, dtype=np.float64)
    if ycck:
        r, g, b = inv[:, :, 0], inv[:, :, 1], inv[:, :, 2]
        yp = 0.299 * r + 0.587 * g + 0.114 * b - 128.0
        cb = -0.168735892 * r - 0.331264108 * g + 0.5 * b
        cr = 0.5 * r - 0.418687589 * g - 0.081312411 * b
        if (hy, vy) != (1, 1):
            cb = cb.reshape(ph // vy, vy, pw // hy, hy).mean(axis=(1, 3))
            cr = cr.reshape(ph // vy, vy, pw // hy, hy).mean(axis=(1, 3))
        planes = [yp, cb, cr, inv[:, :, 3] - 128.0]
        samp = [(hy, vy), (1, 1), (1, 1), (hy, vy)]
        qt_c = np.asarray(_JPEG_QUANT_CHROMA, dtype=np.float64)
        qts = [qt_l, qt_c, qt_c, qt_l]
        dc_c = _jpeg_canonical_codes(_JPEG_DC_BITS_C, _JPEG_DC_VALS_C)
        ac_c = _jpeg_canonical_codes(_JPEG_AC_BITS_C, _JPEG_AC_VALS_C)
        codes = [(dc_l, ac_l), (dc_c, ac_c), (dc_c, ac_c), (dc_l, ac_l)]
        sof_q, sos_t = [0, 1, 1, 0], [0x00, 0x11, 0x11, 0x00]
    else:
        planes = [inv[:, :, ci] - 128.0 for ci in range(4)]
        samp = [(1, 1)] * 4
        qts = [qt_l] * 4
        codes = [(dc_l, ac_l)] * 4
        sof_q, sos_t = [0, 0, 0, 0], [0x00, 0x00, 0x00, 0x00]

    dctm = _jpeg_dct_matrix()
    wtr = _JpegBitWriter()
    prev = [0, 0, 0, 0]
    # interleaved scan (T.81 A.2.3): per MCU each component contributes
    # hi*vi blocks in raster order over its OWN plane grid
    for my in range(ph // mh):
        for mx in range(pw // mw):
            for ci in range(4):
                hi, vi = samp[ci]
                for v in range(vi):
                    for u in range(hi):
                        by, bx = (my * vi + v) * 8, (mx * hi + u) * 8
                        zz = _jpeg_quantize_block(
                            planes[ci][by : by + 8, bx : bx + 8],
                            dctm,
                            qts[ci],
                        )
                        prev[ci] = _jpeg_write_block(
                            wtr, zz, prev[ci], codes[ci][0], codes[ci][1]
                        )
    wtr.flush()

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">HH", marker, len(payload) + 2) + payload

    zz_luma = bytes(int(_JPEG_QUANT_LUMA[r][c]) for r, c in _JPEG_ZIGZAG)
    out = bytearray()
    out += b"\xff\xd8"  # SOI — no JFIF APP0: 4-component is not JFIF
    out += seg(
        0xFFEE,  # APP14 'Adobe': version 100, flags 0/0, transform byte
        b"Adobe" + struct.pack(">HHHB", 100, 0, 0, 2 if ycck else 0),
    )
    dqt = b"\x00" + zz_luma
    if ycck:
        dqt += b"\x01" + bytes(
            int(_JPEG_QUANT_CHROMA[r][c]) for r, c in _JPEG_ZIGZAG
        )
    out += seg(0xFFDB, dqt)
    sof = struct.pack(">BHHB", 8, h, w, 4)
    for ci in range(4):
        hi, vi = samp[ci]
        sof += bytes([ci + 1, (hi << 4) | vi, sof_q[ci]])
    out += seg(0xFFC0, sof)
    dht = (
        b"\x00" + bytes(_JPEG_DC_BITS) + bytes(_JPEG_DC_VALS)
        + b"\x10" + bytes(_JPEG_AC_BITS) + bytes(_JPEG_AC_VALS)
    )
    if ycck:
        dht += (
            b"\x01" + bytes(_JPEG_DC_BITS_C) + bytes(_JPEG_DC_VALS_C)
            + b"\x11" + bytes(_JPEG_AC_BITS_C) + bytes(_JPEG_AC_VALS_C)
        )
    out += seg(0xFFC4, dht)
    sos = b"\x04"
    for ci in range(4):
        sos += bytes([ci + 1, sos_t[ci]])
    out += seg(0xFFDA, sos + b"\x00\x3f\x00")
    out += wtr.out
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def encode_jpeg_progressive(
    pixels, *, sampling: str = "444", restart_interval: int = 0
) -> bytes:
    """(h, w) uint8 grayscale or (h, w, 3) uint8 RGB array →
    spec-standard PROGRESSIVE JFIF bytes (SOF2, r15) with a
    spectral-selection scan script: one DC scan (interleaved across
    all components for color), then one full-band AC scan (1..63)
    per component — Ah=Al=0 throughout, so every quantized
    coefficient is identical to what the baseline encoder writes and
    the exactness contract for block-constant even tiles carries
    over unchanged. AC scans are non-interleaved per T.81 G.1, so
    they walk the component's OWN block grid (which for subsampled
    luma is smaller than the padded MCU grid the interleaved DC scan
    covers). Same quantization and Huffman tables, samplings, and
    edge-replicate padding as :func:`encode_jpeg_color` /
    :func:`encode_jpeg_gray`. ``restart_interval`` > 0 emits DRI and
    segments EVERY scan with RSTm markers — after that many MCUs in
    the interleaved DC scan, after that many data units in each
    non-interleaved scan (T.81 E.2.4), with the marker index
    restarting at RST0 per scan and DC predictors reset."""
    import struct

    import numpy as np

    px = np.asarray(pixels, dtype=np.uint8)
    gray = px.ndim == 2
    if not gray and (px.ndim != 3 or px.shape[2] != 3):
        raise ValueError(
            "encode_jpeg_progressive takes an HxW grayscale or HxWx3 "
            "RGB array"
        )
    factors = {"444": (1, 1), "422": (2, 1), "420": (2, 2)}
    if sampling not in factors:
        raise ValueError(f"sampling must be one of {sorted(factors)}")
    ri = int(restart_interval)
    if ri < 0 or ri > 0xFFFF:
        raise ValueError("restart_interval must be in [0, 65535]")
    hy, vy = (1, 1) if gray else factors[sampling]
    h, w = px.shape[:2]
    if not h or not w:
        raise ValueError("empty image")
    mh, mw = 8 * vy, 8 * hy
    ph, pw = -(-h // mh) * mh, -(-w // mw) * mw
    if gray:
        padded = np.pad(px, ((0, ph - h), (0, pw - w)), mode="edge")
        planes = [padded.astype(np.float64) - 128.0]
        samps = [(1, 1)]
        qts = [np.asarray(_JPEG_QUANT_LUMA, dtype=np.float64)]
    else:
        padded = np.pad(
            px, ((0, ph - h), (0, pw - w), (0, 0)), mode="edge"
        )
        r = padded[:, :, 0].astype(np.float64)
        g = padded[:, :, 1].astype(np.float64)
        b = padded[:, :, 2].astype(np.float64)
        yp = 0.299 * r + 0.587 * g + 0.114 * b - 128.0
        cb = -0.168735892 * r - 0.331264108 * g + 0.5 * b
        cr = 0.5 * r - 0.418687589 * g - 0.081312411 * b
        if (hy, vy) != (1, 1):
            cb = cb.reshape(ph // vy, vy, pw // hy, hy).mean(axis=(1, 3))
            cr = cr.reshape(ph // vy, vy, pw // hy, hy).mean(axis=(1, 3))
        planes = [yp, cb, cr]
        samps = [(hy, vy), (1, 1), (1, 1)]
        qts = [
            np.asarray(_JPEG_QUANT_LUMA, dtype=np.float64),
            np.asarray(_JPEG_QUANT_CHROMA, dtype=np.float64),
            np.asarray(_JPEG_QUANT_CHROMA, dtype=np.float64),
        ]
    dctm = _jpeg_dct_matrix()
    # quantize every block of every component's (padded) plane grid
    coefs = []
    for plane, qt in zip(planes, qts):
        bh, bw = plane.shape[0] // 8, plane.shape[1] // 8
        grid = [
            [
                _jpeg_quantize_block(
                    plane[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8],
                    dctm,
                    qt,
                )
                for bx in range(bw)
            ]
            for by in range(bh)
        ]
        coefs.append(grid)
    dc_l = _jpeg_canonical_codes(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_l = _jpeg_canonical_codes(_JPEG_AC_BITS, _JPEG_AC_VALS)
    dc_c = _jpeg_canonical_codes(_JPEG_DC_BITS_C, _JPEG_DC_VALS_C)
    ac_c = _jpeg_canonical_codes(_JPEG_AC_BITS_C, _JPEG_AC_VALS_C)
    ncomp = len(planes)
    dc_codes = [dc_l] + [dc_c] * (ncomp - 1)
    ac_codes = [ac_l] + [ac_c] * (ncomp - 1)

    def dc_scan() -> bytes:
        wtr = _JpegBitWriter()
        prev = [0] * ncomp
        if ncomp == 1:
            n_units = len(coefs[0]) * len(coefs[0][0])
            done = 0
            for row in coefs[0]:
                for zz in row:
                    size, bits = _jpeg_magnitude(zz[0] - prev[0])
                    code, ln = dc_codes[0][size]
                    wtr.write(code, ln)
                    if size:
                        wtr.write(bits, size)
                    prev[0] = zz[0]
                    done += 1
                    if ri and done % ri == 0 and done < n_units:
                        _jpeg_emit_restart(wtr, done // ri - 1)
                        prev = [0]
        else:
            n_units = (ph // mh) * (pw // mw)
            done = 0
            for my in range(ph // mh):
                for mx in range(pw // mw):
                    for ci, (hi, vi) in enumerate(samps):
                        for v in range(vi):
                            for u in range(hi):
                                zz = coefs[ci][my * vi + v][mx * hi + u]
                                size, bits = _jpeg_magnitude(
                                    zz[0] - prev[ci]
                                )
                                code, ln = dc_codes[ci][size]
                                wtr.write(code, ln)
                                if size:
                                    wtr.write(bits, size)
                                prev[ci] = zz[0]
                    done += 1
                    if ri and done % ri == 0 and done < n_units:
                        _jpeg_emit_restart(wtr, done // ri - 1)
                        prev = [0] * ncomp
        wtr.flush()
        return bytes(wtr.out)

    def ac_scan(ci: int) -> bytes:
        # non-interleaved: the component's REAL block grid (T.81 G.1)
        hi, vi = samps[ci]
        maxh = max(s[0] for s in samps)
        maxv = max(s[1] for s in samps)
        ch_, cw_ = -(-(h * vi) // maxv), -(-(w * hi) // maxh)
        bh, bw = -(-ch_ // 8), -(-cw_ // 8)
        wtr = _JpegBitWriter()
        done = 0
        for by in range(bh):
            for bx in range(bw):
                if ri and done and done % ri == 0:
                    _jpeg_emit_restart(wtr, done // ri - 1)
                done += 1
                zz = coefs[ci][by][bx]
                last_nz = 0
                for k in range(63, 0, -1):
                    if zz[k]:
                        last_nz = k
                        break
                run = 0
                for k in range(1, last_nz + 1):
                    v = zz[k]
                    if v == 0:
                        run += 1
                        continue
                    while run > 15:
                        code, ln = ac_codes[ci][0xF0]
                        wtr.write(code, ln)
                        run -= 16
                    size, bits = _jpeg_magnitude(v)
                    code, ln = ac_codes[ci][(run << 4) | size]
                    wtr.write(code, ln)
                    wtr.write(bits, size)
                    run = 0
                if last_nz < 63:
                    code, ln = ac_codes[ci][0x00]  # EOB (run of 1)
                    wtr.write(code, ln)
        wtr.flush()
        return bytes(wtr.out)

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">HH", marker, len(payload) + 2) + payload

    out = bytearray()
    out += b"\xff\xd8"
    out += seg(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    zz_luma = bytes(int(_JPEG_QUANT_LUMA[r][c]) for r, c in _JPEG_ZIGZAG)
    if gray:
        out += seg(0xFFDB, b"\x00" + zz_luma)
        out += seg(
            0xFFC2, struct.pack(">BHHB", 8, h, w, 1) + b"\x01\x11\x00"
        )
        out += seg(
            0xFFC4,
            b"\x00" + bytes(_JPEG_DC_BITS) + bytes(_JPEG_DC_VALS)
            + b"\x10" + bytes(_JPEG_AC_BITS) + bytes(_JPEG_AC_VALS),
        )
        if ri:
            out += seg(0xFFDD, struct.pack(">H", ri))  # DRI
        out += seg(0xFFDA, b"\x01\x01\x00\x00\x00\x00") + dc_scan()
        out += seg(0xFFDA, b"\x01\x01\x00\x01\x3f\x00") + ac_scan(0)
    else:
        zz_chroma = bytes(
            int(_JPEG_QUANT_CHROMA[r][c]) for r, c in _JPEG_ZIGZAG
        )
        out += seg(0xFFDB, b"\x00" + zz_luma + b"\x01" + zz_chroma)
        y_samp = (hy << 4) | vy
        out += seg(
            0xFFC2,
            struct.pack(">BHHB", 8, h, w, 3)
            + bytes([1, y_samp, 0]) + b"\x02\x11\x01" + b"\x03\x11\x01",
        )
        out += seg(
            0xFFC4,
            b"\x00" + bytes(_JPEG_DC_BITS) + bytes(_JPEG_DC_VALS)
            + b"\x10" + bytes(_JPEG_AC_BITS) + bytes(_JPEG_AC_VALS)
            + b"\x01" + bytes(_JPEG_DC_BITS_C) + bytes(_JPEG_DC_VALS_C)
            + b"\x11" + bytes(_JPEG_AC_BITS_C) + bytes(_JPEG_AC_VALS_C),
        )
        if ri:
            out += seg(0xFFDD, struct.pack(">H", ri))  # DRI
        out += (
            seg(0xFFDA, b"\x03\x01\x00\x02\x10\x03\x10\x00\x00\x00")
            + dc_scan()
        )
        for ci, cid in enumerate((1, 2, 3)):
            ta = 0 if ci == 0 else 1
            out += seg(
                0xFFDA, bytes([1, cid, ta]) + b"\x01\x3f\x00"
            ) + ac_scan(ci)
    out += b"\xff\xd9"
    return bytes(out)


class _JpegBitReader:
    """MSB-first bit reader over entropy-coded data with 0xFF00
    unstuffing. Restart markers are consumed only at the declared
    interval boundaries via :meth:`expect_restart` (r15); a bare
    marker anywhere else means the stream disagrees with its own DRI
    declaration and raises rather than silently mis-decoding."""

    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0
        self.acc = 0
        self.nbits = 0

    def read_bit(self) -> int:
        if not self.nbits:
            if self.pos >= len(self.data):
                raise ValueError("corrupt JPEG: entropy data exhausted")
            b = self.data[self.pos]
            self.pos += 1
            if b == 0xFF:
                if (
                    self.pos >= len(self.data)
                    or self.data[self.pos] != 0x00
                ):
                    raise ValueError(
                        "corrupt JPEG: marker inside entropy-coded data "
                        "(restart marker not at the declared DRI "
                        "boundary, or truncated scan)"
                    )
                self.pos += 1
            self.acc = b
            self.nbits = 8
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def expect_restart(self, idx: int) -> None:
        """Consume the RSTm marker due after the idx-th restart
        interval (T.81 E.2.4: m cycles 0..7). Any pad bits of the
        final partial byte were already loaded while decoding the
        last MCU, so the cursor sits exactly on the marker."""
        self.nbits = 0  # discard 1-padding bits (T.81 F.1.2.3)
        want = 0xD0 + (idx & 7)
        if (
            self.pos + 2 > len(self.data)
            or self.data[self.pos] != 0xFF
            or self.data[self.pos + 1] != want
        ):
            got = self.data[self.pos : self.pos + 2].hex() or "EOF"
            raise ValueError(
                f"corrupt JPEG: expected restart marker RST{idx & 7} "
                f"(0xFF{want:02X}) at the declared interval, got {got}"
            )
        self.pos += 2


def _jpeg_read_huff(reader: _JpegBitReader, table) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | reader.read_bit()
        v = table.get((length, code))
        if v is not None:
            return v
    raise ValueError("corrupt JPEG: invalid Huffman code")


def _jpeg_extend(bits: int, size: int) -> int:
    """T.81 F.12: map the raw value bits back to a signed coefficient."""
    if size == 0:
        return 0
    if bits < (1 << (size - 1)):
        return bits - (1 << size) + 1
    return bits


def decode_jpeg(payload: bytes):
    """REAL baseline JPEG decode → (h, w) uint8 for single-component
    (grayscale) files, (h, w, 3) uint8 RGB for 3-component color
    files in 4:4:4, 4:2:2 or 4:2:0 (r15 — general sampling-factor MCU
    layout with replication chroma upsampling): marker walk, canonical
    Huffman decode with byte unstuffing (per-table ids, so color files
    with separate luma/chroma tables decode), dezigzag, dequantize,
    orthonormal IDCT, chroma upsample, JFIF YCbCr→RGB for color,
    level shift, clamp, crop. Restart intervals decode for real
    (r15): DRI declares the MCU stride, each RSTm is consumed at its
    boundary with the marker sequence verified mod 8 and all DC
    predictors reset (T.81 E.2.4). Progressive (SOF2), non-integer
    sampling grids, CMYK, and 16-bit quantization refuse with the
    reason — honest subset, not a silent mis-decode."""
    import struct

    import numpy as np

    data = payload
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG: missing SOI marker")
    i = 2
    qtables = {}
    dc_tables, ac_tables = {}, {}
    dims = None
    comps = None  # [(component id, quant table id)], SOF order
    scan = None  # [(component index, dc table id, ac table id)]
    scan_start = None
    restart_interval = 0  # MCUs between RSTm markers; 0 = none (DRI, r15)
    adobe_transform = None  # APP14 'Adobe' transform byte (r16, CMYK/YCCK)
    while i < len(data) - 1:
        if data[i] != 0xFF:
            raise ValueError(f"corrupt JPEG: expected marker at byte {i}")
        marker = data[i + 1]
        i += 2
        if marker == 0xD9:  # EOI before any scan
            break
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            continue  # standalone markers carry no length
        if i + 2 > len(data):
            raise ValueError("corrupt JPEG: truncated marker segment")
        (ln,) = struct.unpack(">H", data[i : i + 2])
        seg = data[i + 2 : i + ln]
        if marker == 0xDB:
            j = 0
            while j < len(seg):
                pq, tq = seg[j] >> 4, seg[j] & 0x0F
                if pq:
                    raise NotImplementedError(
                        "16-bit JPEG quantization tables are not supported"
                    )
                vals = seg[j + 1 : j + 65]
                qt = np.zeros((8, 8), dtype=np.float64)
                for k, (r, c) in enumerate(_JPEG_ZIGZAG):
                    qt[r, c] = vals[k]
                qtables[tq] = qt
                j += 65
        elif marker == 0xEE:
            # APP14 'Adobe' (r16): the transform byte disambiguates
            # 4-component streams — 0 = CMYK planes, 2 = YCCK
            if seg[:5] == b"Adobe" and len(seg) >= 12:
                adobe_transform = seg[11]
        elif marker == 0xC0:
            precision, h, w, ncomp = struct.unpack(">BHHB", seg[:6])
            if precision != 8:
                raise NotImplementedError(
                    f"{precision}-bit JPEG precision is not supported"
                )
            if ncomp not in (1, 3, 4):
                raise NotImplementedError(
                    f"{ncomp}-component JPEG is not supported; "
                    "grayscale, 3-component color and 4-component "
                    "Adobe CMYK/YCCK are"
                )
            if len(seg) < 6 + 3 * ncomp:
                raise ValueError("corrupt JPEG: truncated SOF segment")
            comps = []
            for k in range(ncomp):
                cid, sampling, tq = seg[6 + 3 * k : 9 + 3 * k]
                hi, vi = sampling >> 4, sampling & 0x0F
                if not (1 <= hi <= 4 and 1 <= vi <= 4):
                    raise ValueError(
                        f"corrupt JPEG: sampling factors {hi}x{vi}"
                    )
                comps.append((cid, hi, vi, tq))
            if ncomp == 1:
                # T.81 A.2.2: a single-component scan is
                # non-interleaved — the data unit is one block over
                # the component's own grid; declared factors ignored
                comps = [(comps[0][0], 1, 1, comps[0][3])]
            maxh = max(c[1] for c in comps)
            maxv = max(c[2] for c in comps)
            if any(maxh % c[1] or maxv % c[2] for c in comps):
                raise NotImplementedError(
                    "non-integer chroma upsampling ratios (e.g. 3:2 "
                    "sampling grids) are not supported; 4:4:4, 4:2:2 "
                    "and 4:2:0 decode here"
                )
            dims = (h, w)
        elif marker == 0xC2:
            # progressive (SOF2, r15): multi-scan decode with its own
            # marker walk over the whole payload
            return _decode_jpeg_progressive(data)
        elif marker in (
            0xC1, 0xC3, 0xC5, 0xC6, 0xC7,
            0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF,
        ):
            raise NotImplementedError(
                "only baseline sequential (SOF0) and progressive "
                f"(SOF2) JPEG are supported; got SOF marker "
                f"0xFF{marker:02X}"
            )
        elif marker == 0xC4:
            j = 0
            while j < len(seg):
                tc, th = seg[j] >> 4, seg[j] & 0x0F
                bits = list(seg[j + 1 : j + 17])
                nv = sum(bits)
                vals = list(seg[j + 17 : j + 17 + nv])
                tree = _jpeg_decode_table(bits, vals)
                (dc_tables if tc == 0 else ac_tables)[th] = tree
                j += 17 + nv
        elif marker == 0xDD:
            if len(seg) < 2:
                raise ValueError("corrupt JPEG: truncated DRI segment")
            (restart_interval,) = struct.unpack(">H", seg[:2])
        elif marker == 0xDA:
            if comps is None:
                raise ValueError("corrupt JPEG: SOS before SOF0")
            ns = seg[0]
            if ns != len(comps):
                raise NotImplementedError(
                    "multi-scan JPEG (SOS component subset) is not "
                    "supported; baseline interleaved scans only"
                )
            by_id = {c[0]: k for k, c in enumerate(comps)}
            scan = []
            for k in range(ns):
                cs, tdta = seg[1 + 2 * k : 3 + 2 * k]
                if cs not in by_id:
                    raise ValueError(
                        f"corrupt JPEG: scan selects unknown component {cs}"
                    )
                scan.append((by_id[cs], tdta >> 4, tdta & 0x0F))
            scan_start = i + ln
            break
        i += ln
    if dims is None or comps is None or scan_start is None:
        raise ValueError("corrupt JPEG: missing DQT/SOF0/DHT/SOS segment")
    if len(comps) == 4:
        if adobe_transform is None:
            raise NotImplementedError(
                "4-component JPEG without an Adobe APP14 marker is "
                "ambiguous (CMYK vs YCCK) and is not supported"
            )
        if adobe_transform not in (0, 2):
            raise NotImplementedError(
                f"Adobe APP14 transform {adobe_transform} on a "
                "4-component JPEG is not supported (0 = CMYK planes, "
                "2 = YCCK decode here)"
            )
    for _, _, _, tq in comps:
        if tq not in qtables:
            raise ValueError("corrupt JPEG: missing quantization table")
    for _, td, ta in scan:
        if td not in dc_tables or ta not in ac_tables:
            raise ValueError("corrupt JPEG: missing Huffman table")
    h, w = dims
    maxh = max(c[1] for c in comps)
    maxv = max(c[2] for c in comps)
    mcux, mcuy = -(-w // (8 * maxh)), -(-h // (8 * maxv))
    end = data.rfind(b"\xff\xd9")
    reader = _JpegBitReader(
        data[scan_start : end if end != -1 else len(data)]
    )
    dctm = _jpeg_dct_matrix()
    # each component decodes at its OWN resolution: hi x vi blocks per
    # MCU (T.81 A.2.3); 4:4:4 and grayscale degenerate to one block
    planes = [
        np.zeros((mcuy * vi * 8, mcux * hi * 8), dtype=np.float64)
        for _, hi, vi, _ in comps
    ]
    prev = [0] * len(comps)
    mcu_done = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if (
                restart_interval
                and mcu_done
                and mcu_done % restart_interval == 0
            ):
                # T.81 E.2.4: byte-align, consume RSTm (m cycles 0..7),
                # reset every component's DC predictor
                reader.expect_restart(mcu_done // restart_interval - 1)
                prev = [0] * len(comps)
            mcu_done += 1
            for ci, td, ta in scan:
                _, hi, vi, tq = comps[ci]
                for v in range(vi):
                    for u in range(hi):
                        zz = [0] * 64
                        size = _jpeg_read_huff(reader, dc_tables[td])
                        prev[ci] += (
                            _jpeg_extend(reader.read_bits(size), size)
                            if size
                            else 0
                        )
                        zz[0] = prev[ci]
                        k = 1
                        while k < 64:
                            rs = _jpeg_read_huff(reader, ac_tables[ta])
                            if rs == 0x00:  # EOB
                                break
                            if rs == 0xF0:  # ZRL
                                k += 16
                                continue
                            run, size = rs >> 4, rs & 0x0F
                            k += run
                            if k > 63:
                                raise ValueError(
                                    "corrupt JPEG: AC run past block end"
                                )
                            zz[k] = _jpeg_extend(
                                reader.read_bits(size), size
                            )
                            k += 1
                        coeff = np.zeros((8, 8), dtype=np.float64)
                        for kk, (r, c) in enumerate(_JPEG_ZIGZAG):
                            coeff[r, c] = zz[kk]
                        coeff *= qtables[tq]
                        by, bx = (my * vi + v) * 8, (mx * hi + u) * 8
                        planes[ci][by : by + 8, bx : bx + 8] = (
                            dctm.T @ coeff @ dctm
                        )
    return _jpeg_planes_to_pixels(
        planes, comps, maxh, maxv, h, w, adobe_transform
    )


def _jpeg_planes_to_pixels(
    planes, comps, maxh, maxv, h, w, adobe_transform=None
):
    """Shared tail of the baseline and progressive decoders: upsample
    subsampled component planes to full resolution by pixel
    replication (T.81 leaves the upsampling filter to the decoder;
    replication is exact on constant chroma — the oracle class — and
    within a filter's footprint of any interpolating decoder
    elsewhere), JFIF YCbCr→RGB for 3-component images, the Adobe
    inverse transform + sample re-inversion for 4-component CMYK/YCCK
    (r16 — stored samples are inverted per the Adobe convention; the
    return is TRUE CMYK, 0 = no ink), level shift, clamp, crop."""
    import numpy as np

    if len(comps) == 1:
        px = np.clip(np.rint(planes[0] + 128.0), 0, 255).astype(np.uint8)
        return px[:h, :w]
    for ci, (_, hi, vi, _) in enumerate(comps):
        if (hi, vi) != (maxh, maxv):
            planes[ci] = np.repeat(
                np.repeat(planes[ci], maxv // vi, axis=0),
                maxh // hi,
                axis=1,
            )
    if len(comps) == 4:
        if adobe_transform == 2:  # YCCK: inverse YCbCr gives inverted CMY
            y = planes[0] + 128.0
            cb, cr = planes[1], planes[2]
            inv = np.stack(
                [
                    y + 1.402 * cr,
                    y - 0.344136286 * cb - 0.714136286 * cr,
                    y + 1.772 * cb,
                    planes[3] + 128.0,
                ],
                axis=-1,
            )
        else:  # transform 0: four stored (inverted) ink planes
            inv = np.stack([p + 128.0 for p in planes], axis=-1)
        cmyk = 255 - np.clip(np.rint(inv), 0, 255).astype(np.uint8)
        return cmyk[:h, :w, :]
    y = planes[0] + 128.0
    cb, cr = planes[1], planes[2]  # already centered (level shift = 128)
    rgb = np.stack(
        [
            y + 1.402 * cr,
            y - 0.344136286 * cb - 0.714136286 * cr,
            y + 1.772 * cb,
        ],
        axis=-1,
    )
    px = np.clip(np.rint(rgb), 0, 255).astype(np.uint8)
    return px[:h, :w]


def _jpeg_entropy_end(data: bytes, start: int) -> int:
    """First byte index at/after ``start`` holding a real marker — a
    0xFF followed by neither a stuffed 0x00 nor an RSTn — i.e. the end
    of the current entropy-coded segment (T.81 B.1.1.5)."""
    j = start
    n = len(data)
    while j + 1 < n:
        if data[j] == 0xFF:
            b = data[j + 1]
            if b != 0x00 and not (0xD0 <= b <= 0xD7):
                return j
            j += 2
        else:
            j += 1
    return n


def _decode_jpeg_progressive(data: bytes):
    """REAL progressive JPEG (SOF2, Huffman) decode — T.81 Annex G
    (r15): a full multi-scan marker walk accumulating quantized
    coefficients per component, with all four scan kinds — first and
    refinement DC scans (interleaved or not), and single-component
    spectral-selection AC scans with EOB-run coding and successive-
    approximation refinement (the libjpeg default scan script uses
    every one of them). Non-interleaved scans walk the component's
    OWN block grid (T.81 G.1; the padded MCU grid only applies to
    interleaved scans), restart intervals reset DC predictors and the
    EOB run, and reconstruction (dequantize → IDCT → upsample →
    YCbCr) is shared with the baseline decoder. Same honest refusals
    as baseline for CMYK / 16-bit / non-integer sampling grids."""
    import struct

    import numpy as np

    i = 2
    qtables = {}
    dc_tables, ac_tables = {}, {}
    dims = None
    comps = None  # [(component id, hi, vi, quant table id)], SOF order
    coeffs = None  # per comp: int32 (bh_pad, bw_pad, 64), zigzag order
    real_grid = None  # per comp: (bh_real, bw_real) — non-interleaved walk
    mcux = mcuy = maxh = maxv = None
    restart_interval = 0
    n_scans = 0
    while i < len(data) - 1:
        if data[i] != 0xFF:
            raise ValueError(f"corrupt JPEG: expected marker at byte {i}")
        marker = data[i + 1]
        i += 2
        if marker == 0xD9:
            break
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            continue
        if i + 2 > len(data):
            raise ValueError("corrupt JPEG: truncated marker segment")
        (ln,) = struct.unpack(">H", data[i : i + 2])
        seg = data[i + 2 : i + ln]
        if marker == 0xDB:
            j = 0
            while j < len(seg):
                pq, tq = seg[j] >> 4, seg[j] & 0x0F
                if pq:
                    raise NotImplementedError(
                        "16-bit JPEG quantization tables are not supported"
                    )
                vals = seg[j + 1 : j + 65]
                qt = np.zeros((8, 8), dtype=np.float64)
                for k, (r, c) in enumerate(_JPEG_ZIGZAG):
                    qt[r, c] = vals[k]
                qtables[tq] = qt
                j += 65
        elif marker == 0xC2:
            precision, h, w, ncomp = struct.unpack(">BHHB", seg[:6])
            if precision != 8:
                raise NotImplementedError(
                    f"{precision}-bit JPEG precision is not supported"
                )
            if ncomp not in (1, 3):
                raise NotImplementedError(
                    f"progressive {ncomp}-component JPEG (CMYK/YCCK/"
                    "unknown) is not supported; progressive grayscale "
                    "and 3-component color are (baseline CMYK/YCCK "
                    "decodes via decode_jpeg)"
                )
            if len(seg) < 6 + 3 * ncomp:
                raise ValueError("corrupt JPEG: truncated SOF segment")
            comps = []
            for k in range(ncomp):
                cid, sampling, tq = seg[6 + 3 * k : 9 + 3 * k]
                hi, vi = sampling >> 4, sampling & 0x0F
                if not (1 <= hi <= 4 and 1 <= vi <= 4):
                    raise ValueError(
                        f"corrupt JPEG: sampling factors {hi}x{vi}"
                    )
                comps.append((cid, hi, vi, tq))
            if ncomp == 1:
                comps = [(comps[0][0], 1, 1, comps[0][3])]
            maxh = max(c[1] for c in comps)
            maxv = max(c[2] for c in comps)
            if any(maxh % c[1] or maxv % c[2] for c in comps):
                raise NotImplementedError(
                    "non-integer chroma upsampling ratios are not "
                    "supported"
                )
            dims = (h, w)
            mcux, mcuy = -(-w // (8 * maxh)), -(-h // (8 * maxv))
            coeffs, real_grid = [], []
            for _, hi, vi, _ in comps:
                coeffs.append(
                    np.zeros((mcuy * vi, mcux * hi, 64), dtype=np.int32)
                )
                ch = -(-(h * vi) // maxv)  # component pixel dims (A.1.1)
                cw = -(-(w * hi) // maxh)
                real_grid.append((-(-ch // 8), -(-cw // 8)))
        elif marker == 0xC4:
            j = 0
            while j < len(seg):
                tc, th = seg[j] >> 4, seg[j] & 0x0F
                bits = list(seg[j + 1 : j + 17])
                nv = sum(bits)
                vals = list(seg[j + 17 : j + 17 + nv])
                tree = _jpeg_decode_table(bits, vals)
                (dc_tables if tc == 0 else ac_tables)[th] = tree
                j += 17 + nv
        elif marker == 0xDD:
            if len(seg) < 2:
                raise ValueError("corrupt JPEG: truncated DRI segment")
            (restart_interval,) = struct.unpack(">H", seg[:2])
        elif marker in (
            0xC0, 0xC1, 0xC3, 0xC5, 0xC6, 0xC7,
            0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF,
        ):
            raise ValueError(
                "corrupt JPEG: second SOF marker in a progressive stream"
            )
        elif marker == 0xDA:
            if comps is None:
                raise ValueError("corrupt JPEG: SOS before SOF2")
            if not seg:
                raise ValueError("corrupt JPEG: truncated SOS segment")
            ns = seg[0]
            if len(seg) < 1 + 2 * ns + 3:
                raise ValueError("corrupt JPEG: truncated SOS segment")
            by_id = {c[0]: k for k, c in enumerate(comps)}
            scan = []
            for k in range(ns):
                cs, tdta = seg[1 + 2 * k : 3 + 2 * k]
                if cs not in by_id:
                    raise ValueError(
                        f"corrupt JPEG: scan selects unknown component {cs}"
                    )
                scan.append((by_id[cs], tdta >> 4, tdta & 0x0F))
            ss, se, ahal = seg[1 + 2 * ns : 4 + 2 * ns]
            ah, al = ahal >> 4, ahal & 0x0F
            end = _jpeg_entropy_end(data, i + ln)
            reader = _JpegBitReader(data[i + ln : end])
            _jpeg_progressive_scan(
                reader, scan, comps, coeffs, real_grid,
                dc_tables, ac_tables, mcux, mcuy,
                ss, se, ah, al, restart_interval,
            )
            n_scans += 1
            i = end
            continue
        i += ln
    if dims is None or not n_scans:
        raise ValueError("corrupt JPEG: missing SOF2/SOS segment")
    h, w = dims
    dctm = _jpeg_dct_matrix()
    planes = []
    for ci, (_, hi, vi, tq) in enumerate(comps):
        if tq not in qtables:
            raise ValueError("corrupt JPEG: missing quantization table")
        qt = qtables[tq]
        bh, bw = coeffs[ci].shape[:2]
        plane = np.zeros((bh * 8, bw * 8), dtype=np.float64)
        for by in range(bh):
            for bx in range(bw):
                zz = coeffs[ci][by, bx]
                if not zz.any():
                    continue  # IDCT of the zero block is the zero plane
                coeff = np.zeros((8, 8), dtype=np.float64)
                for kk, (r, c) in enumerate(_JPEG_ZIGZAG):
                    coeff[r, c] = zz[kk]
                coeff *= qt
                plane[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = (
                    dctm.T @ coeff @ dctm
                )
        planes.append(plane)
    return _jpeg_planes_to_pixels(planes, comps, maxh, maxv, h, w)


def _jpeg_progressive_scan(
    reader, scan, comps, coeffs, real_grid, dc_tables, ac_tables,
    mcux, mcuy, ss, se, ah, al, restart_interval,
):
    """Decode one progressive scan into the coefficient buffers —
    T.81 G.2 data-unit walk with all four band/approximation kinds.
    DC band (ss=0, se=0): first pass stores diff<<al, refinement ORs
    in one bit at position al. AC band (single component, T.81 G.1):
    first pass is RLE with EOB-runs shifted by al; refinement is the
    correction-bit walk (nonzero history coefficients absorb one bit
    each, zero runs count only zero-history positions, EOB-runs
    correct the rest of the band). Restart markers reset predictors
    and the EOB run."""
    if ss == 0:
        if se != 0:
            raise ValueError(
                "corrupt JPEG: DC scan with nonzero spectral end"
            )
    else:
        if len(scan) != 1:
            raise ValueError(
                "corrupt JPEG: progressive AC scan must be "
                "non-interleaved (one component)"
            )
        if not (ss <= se <= 63):
            raise ValueError("corrupt JPEG: bad spectral selection band")
        ta = scan[0][2]
        if ta not in ac_tables:
            raise ValueError("corrupt JPEG: missing Huffman table")
    if ss == 0 and ah == 0:
        for ci, td, _ in scan:
            if td not in dc_tables:
                raise ValueError("corrupt JPEG: missing Huffman table")

    # one entry per restart-counted unit: interleaved scans count MCUs,
    # non-interleaved scans count data units (T.81 E.2.4)
    def units():
        if len(scan) > 1:
            for my in range(mcuy):
                for mx in range(mcux):
                    mcu = []
                    for ci, td, ta in scan:
                        _, hi, vi, _ = comps[ci]
                        for v in range(vi):
                            for u in range(hi):
                                mcu.append(
                                    (ci, td, ta, my * vi + v, mx * hi + u)
                                )
                    yield mcu
        else:
            ci, td, ta = scan[0]
            bh, bw = real_grid[ci]
            for by in range(bh):
                for bx in range(bw):
                    yield [(ci, td, ta, by, bx)]

    preds = [0] * len(comps)
    eobrun = 0
    n_done = 0
    for unit in units():
        if (
            restart_interval
            and n_done
            and n_done % restart_interval == 0
        ):
            reader.expect_restart(n_done // restart_interval - 1)
            preds = [0] * len(comps)
            eobrun = 0
        n_done += 1
        for ci, td, ta, by, bx in unit:
            blk = coeffs[ci][by, bx]
            if ss == 0:
                if ah == 0:  # first DC scan
                    size = _jpeg_read_huff(reader, dc_tables[td])
                    diff = (
                        _jpeg_extend(reader.read_bits(size), size)
                        if size
                        else 0
                    )
                    preds[ci] += diff
                    blk[0] = preds[ci] << al
                else:  # DC refinement: one correction bit per block
                    if reader.read_bit():
                        blk[0] = int(blk[0]) | (1 << al)
            elif ah == 0:  # first AC scan: RLE with EOB-runs
                if eobrun > 0:
                    eobrun -= 1
                    continue
                k = ss
                while k <= se:
                    rs = _jpeg_read_huff(reader, ac_tables[ta])
                    r, s = rs >> 4, rs & 0x0F
                    if s == 0:
                        if r == 15:  # ZRL: sixteen zeros
                            k += 16
                            continue
                        eobrun = (1 << r) - 1
                        if r:
                            eobrun += reader.read_bits(r)
                        break
                    k += r
                    if k > se:
                        raise ValueError(
                            "corrupt JPEG: AC run past band end"
                        )
                    blk[k] = _jpeg_extend(reader.read_bits(s), s) << al
                    k += 1
            else:  # AC refinement (T.81 G.1.2.3 / libjpeg semantics)
                p1, m1 = 1 << al, -(1 << al)
                k = ss
                if eobrun == 0:
                    while k <= se:
                        rs = _jpeg_read_huff(reader, ac_tables[ta])
                        r, s = rs >> 4, rs & 0x0F
                        val = 0
                        if s == 0:
                            if r != 15:
                                eobrun = 1 << r
                                if r:
                                    eobrun += reader.read_bits(r)
                                break
                            # r == 15: skip 16 zero-history positions,
                            # refining nonzero history on the way
                        else:
                            if s != 1:
                                raise ValueError(
                                    "corrupt JPEG: AC refinement "
                                    "magnitude must be 1"
                                )
                            val = p1 if reader.read_bit() else m1
                        while k <= se:
                            c = int(blk[k])
                            if c != 0:
                                if reader.read_bit() and not (c & p1):
                                    blk[k] = c + (p1 if c >= 0 else m1)
                            else:
                                if r == 0:
                                    break
                                r -= 1
                            k += 1
                        if val and k <= se:
                            blk[k] = val
                        k += 1
                if eobrun > 0:
                    # EOB run covers the rest of THIS block's band too:
                    # nonzero history coefficients absorb one
                    # correction bit each
                    while k <= se:
                        c = int(blk[k])
                        if c != 0:
                            if reader.read_bit() and not (c & p1):
                                blk[k] = c + (p1 if c >= 0 else m1)
                        k += 1
                    eobrun -= 1


def decode_jpeg_gray(payload: bytes):
    """Single-component contract kept for grayscale callers: decodes
    via :func:`decode_jpeg` and refuses a color result by name."""
    px = decode_jpeg(payload)
    if px.ndim != 2:
        raise ValueError(
            "payload is a color JPEG; use decode_jpeg/decode_image"
        )
    return px


def synthesize_jpeg_images(df: DataFrame, id_col: str) -> DataFrame:
    """Deterministic REAL baseline-JPEG payloads with an exactness
    contract: image ``id`` is a grid of (1 + id%3) x (2 + id%2) tiles
    of 8x8 pixels, tile (tr, tc) holding the constant EVEN value
    ``2*((id*31 + tr*7 + tc*3) % 128)``, then CROPPED to
    (tiles_h*8 - 1, tiles_w*8 - 3) so the encoder's edge-replicate
    padding path runs on every image. Block-constant even tiles
    round-trip bit-exactly through the lossy codec (see the module
    section header), so an external engine can replay the decoded
    pixel statistics from the closed form without parsing a byte."""
    return _synthesize(df, id_col, _gray_tile_jpeg)


def synthesize_color_jpeg_images(df: DataFrame, id_col: str) -> DataFrame:
    """Deterministic REAL baseline COLOR-JPEG payloads with the same
    exactness contract as :func:`synthesize_jpeg_images`, through the
    full 3-component 4:4:4 pipeline (dual quant tables, chroma
    Huffman tables, interleaved MCUs, YCbCr round trip): image ``id``
    is a grid of (1 + id%3) x (2 + id%2) tiles of 8x8 GRAY-VALUED
    pixels (R=G=B = the constant EVEN value ``2*((id*37 + tr*11 +
    tc*5) % 128)``), cropped to (tiles_h*8 - 2, tiles_w*8 - 1) so
    edge-replicate padding runs. Gray-valued tiles make Cb=Cr=128 to
    float rounding — the chroma blocks quantize to exactly zero and
    the lossy color codec round-trips bit-identically, so per-channel
    stats replay from the closed tile form in SQL."""

    def payload_of(i: int) -> bytes:
        img = _tile_image(i, (1 + i % 3, 2 + i % 2), (37, 11, 5), (2, 1))
        return encode_jpeg_color(np.stack([img, img, img], axis=-1))

    return _synthesize(df, id_col, payload_of)


def synthesize_subsampled_jpeg_images(
    df: DataFrame, id_col: str
) -> DataFrame:
    """Deterministic REAL chroma-SUBSAMPLED baseline-JPEG payloads
    (r15): image ``id`` encodes 4:2:0 when ``id`` is even and 4:2:2
    when odd, through the general sampling-factor MCU pipeline (Y
    2x2/2x1 blocks per MCU, box-averaged chroma, edge-replicate
    padding to the 16-pixel MCU grid). Same exactness contract as
    :func:`synthesize_color_jpeg_images`: a grid of (1 + id%3) x
    (2 + id%2) tiles of 8x8 GRAY-VALUED pixels (R=G=B = the constant
    EVEN value ``2*((id*41 + tr*13 + tc*7) % 128)``), cropped to
    (tiles_h*8 - 1, tiles_w*8 - 2). Gray values make the CENTERED
    chroma exactly zero, box-averaging zero is zero, and replication
    upsampling of zero is zero — so subsampling is LOSSLESS on this
    class and the decoded per-channel stats replay from the closed
    tile form in SQL (the c214 oracle)."""

    def payload_of(i: int) -> bytes:
        img = _tile_image(i, (1 + i % 3, 2 + i % 2), (41, 13, 7), (1, 2))
        return encode_jpeg_color(
            np.stack([img, img, img], axis=-1),
            sampling="420" if i % 2 == 0 else "422",
        )

    return _synthesize(df, id_col, payload_of)


def synthesize_restart_jpeg_images(df: DataFrame, id_col: str) -> DataFrame:
    """Deterministic REAL baseline-JPEG payloads carrying RESTART
    INTERVALS (r15): image ``id`` encodes with
    ``restart_interval = 1 + id % 2`` and sampling cycling
    444/422/420 by ``id % 3``, so every payload's scan is segmented
    by RSTm markers with DC predictors reset at each boundary (the
    tile grids below give every sampling at least 4 MCUs, so
    restarts always actually occur). Same exactness contract as
    :func:`synthesize_color_jpeg_images` — restarts change only the
    bitstream segmentation, never the decoded pixels: a grid of
    (2 + id%3) x (3 + id%2) tiles of 8x8 GRAY-VALUED pixels (R=G=B =
    the constant EVEN value ``2*((id*43 + tr*17 + tc*9) % 128)``),
    cropped to (tiles_h*8 - 1, tiles_w*8 - 2), round-trips
    bit-identically, so per-channel stats replay from the closed
    tile form in SQL (the c215 oracle)."""

    def payload_of(i: int) -> bytes:
        img = _tile_image(i, (2 + i % 3, 3 + i % 2), (43, 17, 9), (1, 2))
        return encode_jpeg_color(
            np.stack([img, img, img], axis=-1),
            sampling=("444", "422", "420")[i % 3],
            restart_interval=1 + i % 2,
        )

    return _synthesize(df, id_col, payload_of)


def synthesize_progressive_jpeg_images(
    df: DataFrame, id_col: str
) -> DataFrame:
    """Deterministic REAL PROGRESSIVE-JPEG payloads (SOF2, r15):
    image ``id`` encodes through :func:`encode_jpeg_progressive`'s
    spectral-selection scan script (a DC scan, then one full-band AC
    scan per component) with sampling cycling 444/422/420 by
    ``id % 3``. The quantized coefficients are identical to the
    baseline encoder's, so the exactness contract carries over: a
    grid of (1 + id%4) x (2 + id%3) tiles of 8x8 GRAY-VALUED pixels
    (R=G=B = the constant EVEN value ``2*((id*47 + tr*19 + tc*11) %
    128)``), cropped to (tiles_h*8 - 3, tiles_w*8 - 1), round-trips
    bit-identically through the multi-scan pipeline and per-channel
    stats replay from the closed tile form in SQL (the c216
    oracle)."""

    def payload_of(i: int) -> bytes:
        img = _tile_image(i, (1 + i % 4, 2 + i % 3), (47, 19, 11), (3, 1))
        return encode_jpeg_progressive(
            np.stack([img, img, img], axis=-1),
            sampling=("444", "422", "420")[i % 3],
        )

    return _synthesize(df, id_col, payload_of)


def build_exif_app1(
    orientation: int,
    *,
    byte_order: str = "II",
    description: str | None = None,
) -> bytes:
    """EXIF APP1 segment BODY (after the marker+length): ``Exif\\0\\0``
    + a TIFF structure (either byte order) whose IFD0 carries the
    Orientation SHORT (tag 0x0112, values 1-8 per the EXIF spec's
    eight flip/rotate states) and, optionally, an out-of-line
    ImageDescription ASCII (tag 0x010E) to exercise offset-followed
    values."""
    import struct

    if not 1 <= orientation <= 8:
        raise ValueError("EXIF orientation must be 1..8")
    if byte_order not in ("II", "MM"):
        raise ValueError("byte_order must be 'II' or 'MM'")
    e = "<" if byte_order == "II" else ">"
    entries = []
    tail = b""
    desc = None if description is None else description.encode() + b"\x00"
    n = 1 + (desc is not None)
    data_off = 8 + 2 + n * 12 + 4  # header + count + entries + next-IFD
    if desc is not None:
        if len(desc) <= 4:
            val = desc.ljust(4, b"\x00")
        else:
            val = struct.pack(f"{e}I", data_off)
            tail = desc
        entries.append(
            struct.pack(f"{e}HHI", 0x010E, 2, len(desc)) + val
        )
    # IFD entries must be tag-ascending: 0x010E description (appended
    # above when present) precedes 0x0112 orientation
    entries.append(
        struct.pack(f"{e}HHI", 0x0112, 3, 1)
        + struct.pack(f"{e}H", orientation) + b"\x00\x00"
    )
    tiff = (
        byte_order.encode()
        + struct.pack(f"{e}HI", 42, 8)
        + struct.pack(f"{e}H", len(entries))
        + b"".join(entries)
        + struct.pack(f"{e}I", 0)
        + tail
    )
    return b"Exif\x00\x00" + tiff


def inject_exif(jpeg: bytes, app1_body: bytes) -> bytes:
    """Insert an APP1 segment after SOI — or after a leading JFIF
    APP0 when one is present (the dual-marker layout real files with
    both JFIF and EXIF use; JFIF requires APP0 to stay the first
    marker)."""
    import struct

    if jpeg[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload (no SOI)")
    at = 2
    if jpeg[2:4] == b"\xff\xe0":
        (size,) = struct.unpack(">H", jpeg[4:6])
        at = 4 + size
    return (
        jpeg[:at]
        + b"\xff\xe1"
        + struct.pack(">H", len(app1_body) + 2)
        + app1_body
        + jpeg[at:]
    )


def parse_exif(payload: bytes) -> dict:
    """Walk the JPEG marker stream for an ``Exif``-tagged APP1 and
    parse its TIFF IFD0: returns ``{"orientation": 1-8,
    "byte_order": "II"|"MM", "description": str|None}``. A JPEG with
    no EXIF APP1 returns the spec default orientation 1 (top-left) —
    the behavior every viewer implements. Corrupt EXIF refuses by
    name."""
    import struct

    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload (no SOI)")
    pos = 2
    body = None
    while pos + 4 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError("corrupt JPEG: expected marker")
        marker = payload[pos + 1]
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        (size,) = struct.unpack(">H", payload[pos + 2:pos + 4])
        seg = payload[pos + 4:pos + 2 + size]
        if marker == 0xE1 and seg[:6] == b"Exif\x00\x00":
            body = seg[6:]
            break
        if marker == 0xDA:  # SOS — EXIF never follows entropy data
            break
        pos += 2 + size
    out = {"orientation": 1, "byte_order": None, "description": None}
    if body is None:
        return out
    if len(body) < 8 or body[:2] not in (b"II", b"MM"):
        raise ValueError("corrupt EXIF: bad TIFF byte-order mark")
    e = "<" if body[:2] == b"II" else ">"
    out["byte_order"] = body[:2].decode()
    magic, ifd_off = struct.unpack(f"{e}HI", body[2:8])
    if magic != 42:
        raise ValueError("corrupt EXIF: TIFF magic != 42")
    if ifd_off + 2 > len(body):
        raise ValueError("corrupt EXIF: IFD0 offset out of range")
    (n,) = struct.unpack(f"{e}H", body[ifd_off:ifd_off + 2])
    for k in range(n):
        off = ifd_off + 2 + 12 * k
        if off + 12 > len(body):
            raise ValueError("corrupt EXIF: truncated IFD entry")
        tag, typ, cnt = struct.unpack(f"{e}HHI", body[off:off + 8])
        val = body[off + 8:off + 12]
        if tag == 0x0112 and typ == 3 and cnt == 1:
            (o,) = struct.unpack(f"{e}H", val[:2])
            if not 1 <= o <= 8:
                raise ValueError(f"corrupt EXIF: orientation {o}")
            out["orientation"] = o
        elif tag == 0x010E and typ == 2:
            if cnt <= 4:
                raw = val[:cnt]
            else:
                (doff,) = struct.unpack(f"{e}I", val)
                if doff + cnt > len(body):
                    raise ValueError(
                        "corrupt EXIF: description offset out of range"
                    )
                raw = body[doff:doff + cnt]
            out["description"] = raw.rstrip(b"\x00").decode(
                "ascii", "replace"
            )
    return out


def apply_exif_orientation(px, orientation: int):
    """Map stored pixels to UPRIGHT display pixels per the EXIF
    orientation state (1 = as stored, 2 = mirror-H, 3 = rotate 180,
    4 = mirror-V, 5 = transpose, 6 = rotate 90 CW, 7 = transverse,
    8 = rotate 90 CCW) — pure index views, zero copies where numpy
    allows."""
    import numpy as np

    o = int(orientation)
    if o == 1:
        return px
    if o == 2:
        return px[:, ::-1]
    if o == 3:
        return px[::-1, ::-1]
    if o == 4:
        return px[::-1, :]
    if o == 5:
        return np.swapaxes(px, 0, 1)
    if o == 6:
        return np.rot90(px, k=3)
    if o == 7:
        return np.swapaxes(px, 0, 1)[::-1, ::-1]
    if o == 8:
        return np.rot90(px, k=1)
    raise ValueError("EXIF orientation must be 1..8")


def synthesize_exif_jpeg_images(df: DataFrame, id_col: str) -> DataFrame:
    """The c211 exactness-class tile JPEGs with an EXIF APP1 spliced
    in: orientation ``1 + id % 8`` (all eight states), TIFF byte order
    ``II`` for even ids / ``MM`` for odd, and an out-of-line
    ImageDescription carrying ``doc <id>``."""

    def payload_of(i: int) -> bytes:
        app1 = build_exif_app1(
            1 + i % 8,
            byte_order="II" if i % 2 == 0 else "MM",
            description=f"doc {i}",
        )
        return inject_exif(_gray_tile_jpeg(i), app1)

    return _synthesize(df, id_col, payload_of)


def exif_image_stats(
    df: DataFrame, *, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """Orientation-aware JPEG featurize: parse the EXIF APP1, decode
    the image, apply the orientation transform, and reduce to the
    UPRIGHT dimensions + top-left pixel (orientation-sensitive) and
    the pixel sum (rotation-invariant — the cross-check). Arrow-batched
    ``mapInPandas`` inside the scan's partitions — no shuffle."""

    def row(doc_id: int, raw: bytes) -> tuple:
        orientation = parse_exif(raw)["orientation"]
        px = apply_exif_orientation(decode_jpeg_gray(raw), orientation)
        return (
            doc_id, orientation, px.shape[1], px.shape[0],
            int(px[0, 0]), int(px.astype(np.int64).sum()),
        )

    return _per_payload(
        df,
        row,
        "doc_id long, orientation long, width long, height long, "
        "topleft long, pixel_sum long",
        id_col=id_col,
        payload_col=payload_col,
    )


def synthesize_cmyk_jpeg_images(df: DataFrame, id_col: str) -> DataFrame:
    """Deterministic REAL 4-component Adobe-JPEG payloads (r16 — the
    print-pipeline class): image ``id`` encodes transform-0 CMYK when
    ``id % 2 == 0``, YCCK 4:2:0 when ``id % 4 == 1`` and YCCK 4:2:2
    when ``id % 4 == 3`` — every transform and sampling the codec
    supports. Exactness contract (the lossy-codec oracle trick, ink
    edition): a grid of (2 + id%2) x (2 + id%3) tiles of 8x8 pixels
    with C=M=Y = the constant ODD value ``2*((id*47 + tr*19 + tc*11)
    % 128) + 1`` and K = ``2*((id*53 + tr*7 + tc*3) % 128) + 1``,
    cropped to (tiles_h*8 - 1, tiles_w*8 - 2). ODD true-ink values
    invert to EVEN Adobe stored samples (every DC quantizes exactly);
    equal inverted CMY makes the YCCK chroma exactly zero (zero
    box-averages and replication-upsamples to zero) — so both
    transforms round-trip bit-identically and per-channel ink sums
    replay from the closed tile form in SQL (the c226 oracle)."""

    def payload_of(i: int) -> bytes:
        tiles, crop = (2 + i % 2, 2 + i % 3), (1, 2)
        # ODD ink values: the even tile forms plus one
        cmy = _tile_image(i, tiles, (47, 19, 11), crop) + 1
        k = _tile_image(i, tiles, (53, 7, 3), crop) + 1
        img = np.stack([cmy, cmy, cmy, k], axis=-1)
        if i % 2 == 0:
            return encode_jpeg_cmyk(img)
        return encode_jpeg_cmyk(
            img, ycck=True, sampling="420" if i % 4 == 1 else "422"
        )

    return _synthesize(df, id_col, payload_of)


def image_cmyk_stats(
    df: DataFrame, *, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """REAL 4-component Adobe-JPEG decode + featurize: each payload
    runs through :func:`decode_jpeg` (APP14 transform dispatch, YCCK
    inverse, Adobe sample re-inversion) and reduces to exact integer
    per-ink sums — true CMYK, 0 = no ink. Arrow-batched
    ``mapInPandas`` inside the scan's partitions: no shuffle, constant
    memory per batch; at 100 TB decode is embarrassingly parallel."""

    def row(doc_id: int, payload: bytes) -> tuple:
        arr = decode_jpeg(payload)
        if arr.ndim != 3 or arr.shape[2] != 4:
            raise ValueError(
                f"doc {doc_id}: expected a 4-component "
                f"CMYK decode, got shape {arr.shape}"
            )
        h, w = arr.shape[:2]
        s = arr.reshape(-1, 4).astype(np.int64).sum(axis=0)
        return (doc_id, w, h, h * w, *(int(v) for v in s))

    return _per_payload(
        df,
        row,
        "doc_id long, width long, height long, n_pixels long, "
        "sum_c long, sum_m long, sum_y long, sum_k long",
        id_col=id_col,
        payload_col=payload_col,
    )


def synthesize_pnm_images(df: DataFrame, id_col: str) -> DataFrame:
    """Deterministic payloads across the FULL netpbm family (r16):
    ``id % 5`` picks P1 (ASCII bitmap) / P2 (ASCII graymap) / P3
    (ASCII pixmap) / P4 (packed binary bitmap) / P5 (16-BIT big-endian
    binary graymap). Sample values are the closed form ``(id*31 +
    r*17 + c*7 + ch*5) % M`` with M = 2 for bitmaps, 60000 for the
    16-bit graymap, 256 otherwise (ch is 0 except P3's three
    channels); dimensions ``(5 + id%4) x (6 + id%5)`` are non-multiples
    of 8 so P4's row byte-padding always exercises. Lossless formats →
    the c229 oracle replays sample sums arithmetically."""

    def payload_of(i: int) -> bytes:
        variant = ("P1", "P2", "P3", "P4", "P5")[i % 5]
        m = {"P1": 2, "P4": 2, "P5": 60000}.get(variant, 256)
        img = _pixel_grid(i * 31, (5 + i % 4, 6 + i % 5, 3), (17, 7, 5), m)
        # ch is 0 except in P3's three channels
        return encode_pnm(img if variant == "P3" else img[:, :, 0], variant)

    return _synthesize(df, id_col, payload_of)


def pnm_image_stats(
    df: DataFrame, *, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """REAL netpbm decode + featurize across all five P1-P5 variants:
    each payload runs through :func:`decode_pnm` and reduces to the
    variant tag, dimensions and the exact integer sum over every
    sample (channels included). Arrow-batched ``mapInPandas`` inside
    the scan's partitions — no shuffle, embarrassingly parallel at
    100 TB."""

    def row(doc_id: int, payload: bytes) -> tuple:
        arr = decode_pnm(payload)
        h, w = arr.shape[:2]
        return (
            doc_id, payload[:2].decode(), w, h, h * w,
            int(arr.astype(np.int64).sum()),
        )

    return _per_payload(
        df,
        row,
        "doc_id long, variant string, width long, height long, "
        "n_pixels long, sample_sum long",
        id_col=id_col,
        payload_col=payload_col,
    )


def synthesize_deep_png_images(df: DataFrame, id_col: str) -> DataFrame:
    """Deterministic 16-bit and alpha-channel PNG payloads (r15):
    image ``id`` is (5 + id%4) x (6 + id%3) with pixel value
    ``(id*131 + r*17 + c*7 + ch*3) % M`` per channel, in variant
    ``id % 4``: 0 → RGB 16-bit sequential (M=65536), 1 → RGBA 8-bit
    sequential (M=256), 2 → RGBA 16-bit Adam7, 3 → RGBA 8-bit Adam7
    — every combination of depth, alpha and interlacing, all with
    the filter-cycling encoder so every unfilter path runs at bpp
    4/6/8. PNG is lossless, so the c219 oracle replays the closed
    form per channel in SQL."""

    def payload_of(i: int) -> bytes:
        variant = i % 4
        m = 65536 if variant in (0, 2) else 256
        shape = (5 + i % 4, 6 + i % 3, 3 if variant == 0 else 4)
        px = _pixel_grid(i * 131, shape, (17, 7, 3), m)
        return encode_png(px, interlace=variant in (2, 3))

    return _synthesize(df, id_col, payload_of)


def image_deep_stats(images: DataFrame) -> DataFrame:
    """Decode a (doc_id, payload) frame of RGB/RGBA images at any
    depth and reduce to exact integer per-channel statistics
    (``sum_a`` is 0 for alpha-less images). Arrow-batched decode
    inside the scan's partitions — no shuffle."""

    def row(doc_id: int, payload: bytes) -> tuple:
        px = decode_image(payload)
        if px.ndim != 3 or px.shape[2] not in (3, 4):
            raise ValueError(
                f"doc {doc_id}: expected RGB/RGBA, got shape {px.shape}"
            )
        return _channel_row(doc_id, px)

    return _per_payload(images, row, _CHANNEL_SCHEMA)


def image_gray_stats(images: DataFrame) -> DataFrame:
    """Decode a (doc_id, payload) frame of grayscale images and reduce
    to exact integer pixel statistics — the single-channel sibling of
    :func:`image_channel_stats`, same scale shape: Arrow-batched
    decode inside the scan's partitions, no shuffle, constant memory
    per batch."""

    def row(doc_id: int, payload: bytes) -> tuple:
        px = decode_image(payload)
        if px.ndim != 2:
            raise ValueError(
                f"doc {doc_id}: expected grayscale, got shape {px.shape}"
            )
        arr = px.astype(np.int64)
        return (
            doc_id, px.shape[1], px.shape[0], px.size,
            int(arr.sum()), int(arr.min()), int(arr.max()),
        )

    return _per_payload(
        images,
        row,
        "doc_id long, width long, height long, n_pixels long, "
        "px_sum long, px_min long, px_max long",
    )


def encode_ico(frames) -> bytes:
    """ICO favicon container: ICONDIR + one directory entry per frame
    + member images. Each frame is a dict with ``pixels`` ((h, w, 3)
    uint8 RGB, h/w <= 256) and ``kind`` — ``'png'`` embeds a real PNG
    member (the modern favicon layout), ``'bmp'`` a headerless DIB
    (BITMAPINFOHEADER with DOUBLED height, bottom-up 24-bit BGR XOR
    image + the 1-bit AND mask, all-opaque), ``'bmp32'`` a 32-bit
    BGRA DIB whose alpha comes from the optional ``alpha`` array
    (opaque default)."""
    import struct

    import numpy as np

    entries, blobs = [], []
    offset = 6 + 16 * len(frames)
    for fr in frames:
        px = np.asarray(fr["pixels"], dtype=np.uint8)
        h, w = px.shape[:2]
        if h > 256 or w > 256:
            raise ValueError("ICO frames are at most 256x256")
        kind = fr.get("kind", "bmp")
        if kind == "png":
            blob = encode_png(px)
        elif kind in ("bmp", "bmp32"):
            bits = 24 if kind == "bmp" else 32
            bih = struct.pack(
                "<IiiHHIIiiII", 40, w, 2 * h, 1, bits, 0, 0, 0, 0, 0, 0
            )
            bgr = px[::-1, :, ::-1]  # bottom-up, BGR
            if kind == "bmp":
                stride = w * 3 + ((-(w * 3)) % 4)
                xor = np.zeros((h, stride), dtype=np.uint8)
                xor[:, : w * 3] = bgr.reshape(h, w * 3)
            else:
                alpha = np.asarray(
                    fr.get("alpha", np.full((h, w), 255)), dtype=np.uint8
                )
                bgra = np.concatenate(
                    [bgr, alpha[::-1, :, None]], axis=-1
                )
                xor = bgra.reshape(h, w * 4)
            mask_stride = ((w + 31) // 32) * 4
            blob = bih + xor.tobytes() + bytes(mask_stride * h)
        else:
            raise ValueError(f"unknown ICO frame kind {kind!r}")
        entries.append(
            struct.pack(
                "<BBBBHHII",
                w % 256, h % 256, 0, 0, 1,
                32 if kind == "bmp32" else 24,
                len(blob), offset,
            )
        )
        blobs.append(blob)
        offset += len(blob)
    return (
        struct.pack("<HHH", 0, 1, len(frames))
        + b"".join(entries)
        + b"".join(blobs)
    )


def decode_ico(payload: bytes):
    """REAL ICO decode: ICONDIR walk, then per member either an
    embedded PNG (dispatched on the magic — the modern favicon
    layout) or a headerless DIB: BITMAPINFOHEADER with the DOUBLED
    height, bottom-up 24-bit BGR or 32-bit BGRA XOR image, and the
    1-bit AND transparency mask (MSB-first rows padded to 4 bytes).
    Returns a list of dicts ``{kind, width, height, pixels, alpha}``
    with ``pixels`` (h, w, 3) uint8 RGB and ``alpha`` (h, w) uint8
    (AND-mask- or channel-derived). Other member layouts refuse by
    name."""
    import struct

    import numpy as np

    if len(payload) < 6:
        raise ValueError("not an ICO payload")
    reserved, ftype, count = struct.unpack("<HHH", payload[:6])
    if reserved != 0 or ftype != 1:
        raise ValueError("not an ICO payload (bad ICONDIR)")
    frames = []
    for k in range(count):
        e = payload[6 + 16 * k:6 + 16 * (k + 1)]
        if len(e) < 16:
            raise ValueError("truncated ICONDIR entry")
        _w, _h, _nc, _res, _planes, _bpp, size, off = struct.unpack(
            "<BBBBHHII", e
        )
        blob = payload[off:off + size]
        if len(blob) < size:
            raise ValueError(f"truncated ICO member {k}")
        if blob[:8] == b"\x89PNG\r\n\x1a\n":
            px = decode_png(blob)
            if px.ndim == 2:
                px = np.stack([px] * 3, axis=-1)
            if px.shape[-1] == 4:
                alpha, px = px[..., 3], px[..., :3]
            else:
                alpha = np.full(px.shape[:2], 255, dtype=np.uint8)
            frames.append(
                {"kind": "png", "width": px.shape[1],
                 "height": px.shape[0],
                 "pixels": px.astype(np.uint8),
                 "alpha": alpha.astype(np.uint8)}
            )
            continue
        if len(blob) < 40 or struct.unpack("<I", blob[:4])[0] != 40:
            raise NotImplementedError(
                "ICO member is neither PNG nor BITMAPINFOHEADER DIB"
            )
        _sz, w, h2, _pl, bits, comp = struct.unpack("<IiiHHI", blob[:20])
        if comp != 0:
            raise NotImplementedError(
                f"compressed ICO DIB (BI_ code {comp})"
            )
        if h2 % 2:
            raise ValueError("ICO DIB height must be doubled (XOR+AND)")
        h = h2 // 2
        if bits == 24:
            stride = w * 3 + ((-(w * 3)) % 4)
            rows = np.frombuffer(
                blob, np.uint8, stride * h, 40
            ).reshape(h, stride)[:, : w * 3].reshape(h, w, 3)
            px = rows[::-1, :, ::-1]  # bottom-up BGR -> top-down RGB
            mask_at = 40 + stride * h
            alpha_from_channel = None
        elif bits == 32:
            rows = np.frombuffer(
                blob, np.uint8, w * 4 * h, 40
            ).reshape(h, w, 4)
            px = rows[::-1, :, 2::-1]
            alpha_from_channel = rows[::-1, :, 3]
            mask_at = 40 + w * 4 * h
        else:
            raise NotImplementedError(
                f"{bits}-bit ICO DIB (24/32-bit decode here)"
            )
        mask_stride = ((w + 31) // 32) * 4
        mask = np.frombuffer(
            blob, np.uint8, mask_stride * h, mask_at
        ).reshape(h, mask_stride)
        mbits = np.unpackbits(mask, axis=1)[:, :w][::-1]  # 1 = skip
        alpha = (
            alpha_from_channel
            if alpha_from_channel is not None
            else np.where(mbits == 1, 0, 255).astype(np.uint8)
        )
        frames.append(
            {"kind": "bmp32" if bits == 32 else "bmp", "width": w,
             "height": h, "pixels": np.ascontiguousarray(px),
             "alpha": np.ascontiguousarray(alpha)}
        )
    return frames


def synthesize_ico_files(df: DataFrame, id_col: str) -> DataFrame:
    """Deterministic ICO payloads: ``1 + id % 3`` frames per icon —
    frame f is (8 + 8*((id + f) % 2)) square, kind cycling
    PNG / 24-bit DIB / 32-bit BGRA DIB by ``(id + f) % 3``, pixel
    (r, c) channel ch = ``(id*7 + f*13 + r*5 + c*3 + ch*11) % 256``,
    and the 32-bit frames carry alpha ``(id + r + c) % 2 * 255``."""

    def payload_of(i: int) -> bytes:
        frames = []
        for f in range(1 + i % 3):
            n = 8 + 8 * ((i + f) % 2)
            px = _pixel_grid(i * 7 + f * 13, (n, n, 3), (5, 3, 11))
            kind = ("png", "bmp", "bmp32")[(i + f) % 3]
            fr = {"pixels": px, "kind": kind}
            if kind == "bmp32":
                rr = np.arange(n)[:, None]
                cc = np.arange(n)[None, :]
                fr["alpha"] = (((i + rr + cc) % 2) * 255).astype(np.uint8)
            frames.append(fr)
        return encode_ico(frames)

    return _synthesize(df, id_col, payload_of)


def ico_stats(
    df: DataFrame, *, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """REAL ICO decode + featurize: per icon the frame count, total
    pixels, per-kind counts, the pixel sum over all frames' RGB and
    the alpha sum. Arrow-batched ``mapInPandas`` inside the scan's
    partitions — no shuffle."""

    def row(doc_id: int, payload: bytes) -> tuple:
        frames = decode_ico(payload)
        return (
            doc_id,
            len(frames),
            *(
                sum(1 for fr in frames if fr["kind"] == kind)
                for kind in ("png", "bmp", "bmp32")
            ),
            sum(fr["width"] * fr["height"] for fr in frames),
            sum(int(fr["pixels"].astype(np.int64).sum()) for fr in frames),
            sum(int(fr["alpha"].astype(np.int64).sum()) for fr in frames),
        )

    return _per_payload(
        df,
        row,
        "doc_id long, n_frames long, n_png long, n_bmp long, "
        "n_bmp32 long, n_pixels long, pixel_sum long, alpha_sum long",
        id_col=id_col,
        payload_col=payload_col,
    )


def _png_idat_data(png: bytes) -> bytes:
    """Concatenated IDAT payloads of a PNG produced by our encoder."""
    import struct

    out, pos = bytearray(), 8
    while pos < len(png):
        (length,) = struct.unpack(">I", png[pos:pos + 4])
        ctype = png[pos + 4:pos + 8]
        if ctype == b"IDAT":
            out += png[pos + 8:pos + 8 + length]
        pos += 12 + length
    return bytes(out)


def encode_apng(frames, *, num_plays: int = 0) -> bytes:
    """APNG (animated PNG — the PNG third edition's animation
    chunks): ``acTL`` + per-frame ``fcTL`` + ``fdAT``. ``frames`` are
    dicts with ``pixels`` ((h, w, 3) uint8 RGB), ``x``/``y`` offsets,
    ``delay_num``/``delay_den``, ``dispose`` (0 none / 1 background /
    2 previous) and ``blend`` (0 source / 1 over); frame 0 is the
    full-canvas default image (fcTL before IDAT, so static decoders
    show it and animated ones play it). Each frame's scanline stream
    comes from the real PNG encoder; the container stays a valid
    static PNG."""
    import struct

    import numpy as np

    if not frames:
        raise ValueError("encode_apng needs at least one frame")
    f0 = np.asarray(frames[0]["pixels"], dtype=np.uint8)
    ch, cw = f0.shape[:2]
    if frames[0].get("x", 0) or frames[0].get("y", 0):
        raise ValueError("APNG frame 0 must be the full canvas at 0,0")
    ihdr = struct.pack(">IIBBBBB", cw, ch, 8, 2, 0, 0, 0)
    out = bytearray(_PNG_SIG)
    out += _png_chunk(b"IHDR", ihdr)
    out += _png_chunk(
        b"acTL", struct.pack(">II", len(frames), num_plays)
    )
    seq = 0
    for k, fr in enumerate(frames):
        px = np.asarray(fr["pixels"], dtype=np.uint8)
        fh, fw = px.shape[:2]
        x, y = fr.get("x", 0), fr.get("y", 0)
        if x + fw > cw or y + fh > ch:
            raise ValueError(f"APNG frame {k} exceeds the canvas")
        fctl = struct.pack(
            ">IIIIIHHBB", seq, fw, fh, x, y,
            fr.get("delay_num", 1), fr.get("delay_den", 10),
            fr.get("dispose", 0), fr.get("blend", 0),
        )
        out += _png_chunk(b"fcTL", fctl)
        seq += 1
        data = _png_idat_data(encode_png(px))
        if k == 0:
            out += _png_chunk(b"IDAT", data)
        else:
            out += _png_chunk(
                b"fdAT", struct.pack(">I", seq) + data
            )
            seq += 1
    out += _png_chunk(b"IEND", b"")
    return bytes(out)


def decode_apng(payload: bytes):
    """REAL APNG decode: chunk walk collecting ``acTL``/``fcTL``/
    ``fdAT`` (sequence numbers validated consecutive, frame count
    validated against acTL), each frame's stream re-wrapped as a
    minimal PNG through the real decoder, then §ANIMATION
    compositing — blend 0 SOURCE / 1 OVER onto an RGBA canvas,
    dispose 0 none / 1 background / 2 previous applied between
    frames. Returns ``{"num_plays", "frames": [fcTL dicts],
    "canvas": (h, w, 4) uint8}`` — the canvas as of the LAST frame.
    A PNG without acTL raises (use decode_png for stills)."""
    import struct
    import zlib

    import numpy as np

    if payload[:8] != _PNG_SIG:
        raise ValueError("not a PNG: bad signature")
    pos, end = 8, len(payload)
    ihdr = actl = None
    fctls, datas, seqs = [], [], []
    idat = bytearray()
    idat_fctl = None
    while pos < end:
        (length,) = struct.unpack(">I", payload[pos:pos + 4])
        ctype = payload[pos + 4:pos + 8]
        data = payload[pos + 8:pos + 8 + length]
        (crc,) = struct.unpack(
            ">I", payload[pos + 8 + length:pos + 12 + length]
        )
        if zlib.crc32(ctype + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"corrupt APNG: CRC mismatch in {ctype!r}")
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif ctype == b"acTL":
            actl = struct.unpack(">II", data)
        elif ctype == b"fcTL":
            f = struct.unpack(">IIIIIHHBB", data)
            seqs.append(f[0])
            fctls.append(f)
            if idat and idat_fctl is None:
                raise ValueError("corrupt APNG: fcTL after IDAT data")
        elif ctype == b"IDAT":
            idat += data
            if fctls and idat_fctl is None:
                idat_fctl = len(fctls) - 1
        elif ctype == b"fdAT":
            if len(data) < 4:
                raise ValueError("corrupt APNG: truncated fdAT")
            seqs.append(struct.unpack(">I", data[:4])[0])
            datas.append((len(fctls) - 1, data[4:]))
        elif ctype == b"IEND":
            break
        pos += 12 + length
    if actl is None:
        raise ValueError("not an APNG: no acTL chunk (static PNG)")
    if ihdr is None:
        raise ValueError("corrupt APNG: missing IHDR")
    n_frames, num_plays = actl
    if len(fctls) != n_frames:
        raise ValueError(
            f"corrupt APNG: acTL declares {n_frames} frames, "
            f"found {len(fctls)} fcTL chunks"
        )
    if seqs != list(range(len(seqs))):
        raise ValueError(
            f"corrupt APNG: sequence numbers {seqs} not consecutive"
        )
    cw, ch = ihdr[0], ihdr[1]
    # collect per-frame streams: the fcTL-covered IDAT, then fdAT
    streams: dict[int, bytearray] = {}
    if idat_fctl is not None:
        streams[idat_fctl] = bytearray(idat)
    for k, d in datas:
        streams.setdefault(k, bytearray()).extend(d)
    canvas = np.zeros((ch, cw, 4), dtype=np.uint8)
    frames_meta = []
    for k, f in enumerate(fctls):
        _seq, fw, fh, x, y, dnum, dden, dispose, blend = f
        if k not in streams:
            raise ValueError(f"corrupt APNG: frame {k} has no data")
        mini = (
            _PNG_SIG
            + _png_chunk(
                b"IHDR",
                struct.pack(">IIBBBBB", fw, fh, ihdr[2], ihdr[3],
                            0, 0, 0),
            )
            + _png_chunk(b"IDAT", bytes(streams[k]))
            + _png_chunk(b"IEND", b"")
        )
        px = decode_png(mini)
        if px.ndim == 2:
            px = np.stack([px] * 3, axis=-1)
        if px.shape[-1] == 3:
            rgba = np.concatenate(
                [px, np.full((fh, fw, 1), 255, dtype=np.uint8)], axis=-1
            )
        else:
            rgba = px
        region = canvas[y:y + fh, x:x + fw]
        before = region.copy()
        if blend == 0:  # SOURCE
            region[:] = rgba
        elif blend == 1:  # OVER
            a = rgba[..., 3:4].astype(np.uint16)
            region[..., :3] = (
                (rgba[..., :3].astype(np.uint16) * a
                 + region[..., :3].astype(np.uint16) * (255 - a)) // 255
            ).astype(np.uint8)
            region[..., 3] = np.maximum(region[..., 3], rgba[..., 3])
        else:
            raise ValueError(f"corrupt APNG: blend op {blend}")
        frames_meta.append(
            {"width": fw, "height": fh, "x": x, "y": y,
             "delay_num": dnum, "delay_den": dden,
             "dispose": dispose, "blend": blend}
        )
        if k < len(fctls) - 1:  # dispose applies between frames
            if dispose == 2 and k == 0:
                dispose = 1  # spec: PREVIOUS on frame 0 -> BACKGROUND
            if dispose == 1:  # background
                region[:] = 0
            elif dispose == 2:  # previous
                region[:] = before
            elif dispose != 0:
                raise ValueError(f"corrupt APNG: dispose op {dispose}")
    return {
        "num_plays": num_plays,
        "frames": frames_meta,
        "canvas": canvas,
    }


def synthesize_apng_images(df: DataFrame, id_col: str) -> DataFrame:
    """Deterministic APNG payloads: 16x16 gradient base frame
    (``(id*3 + r + c) % 256`` gray RGB) plus ``1 + id % 3`` constant
    6x6 sub-frames at offsets ``(2f, 2f)`` with value
    ``(id*5 + f*7) % 256`` and delay ``f+1``/100, SOURCE blend, NONE
    dispose — so the final canvas has a closed last-covering-frame
    form the c244 oracle replays."""

    def payload_of(i: int) -> bytes:
        base = _pixel_grid(i * 3, (16, 16, 1), (1, 1, 0))
        frames = [
            {"pixels": np.repeat(base, 3, axis=2), "delay_num": 1,
             "delay_den": 100}
        ]
        for f in range(1, 2 + i % 3):
            v = (i * 5 + f * 7) % 256
            frames.append(
                {"pixels": np.full((6, 6, 3), v, np.uint8),
                 "x": 2 * f, "y": 2 * f,
                 "delay_num": f + 1, "delay_den": 100}
            )
        return encode_apng(frames, num_plays=i % 4)

    return _synthesize(df, id_col, payload_of)


def apng_stats(
    df: DataFrame, *, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """REAL APNG decode + featurize: frame/loop/delay metadata plus
    the composited FINAL canvas sum. Arrow-batched ``mapInPandas``
    inside the scan's partitions — no shuffle."""

    def row(doc_id: int, payload: bytes) -> tuple:
        out = decode_apng(payload)
        return (
            doc_id,
            len(out["frames"]),
            out["num_plays"],
            sum(f["delay_num"] for f in out["frames"]),
            int(out["canvas"][..., :3].astype(np.int64).sum()),
        )

    return _per_payload(
        df,
        row,
        "doc_id long, n_frames long, num_plays long, "
        "delay_num_sum long, canvas_sum long",
        id_col=id_col,
        payload_col=payload_col,
    )
