"""Multimodal columns: opaque binary payloads + typed metadata.

Image/audio/video payloads travel as ``binary`` columns with a metadata
struct, processed by Arrow-batched ``mapInPandas`` UDFs — the identical
plumbing the reference uses for raw raster scanlines
(``/root/reference/scripts/old_files/build_dem.py:63-79``:
``struct.unpack`` over binary) generalized to media.

Compression codecs (PIL/libjpeg/ffmpeg) are NOT in this container, but
stdlib-decodable formats are REAL here: 24/32-bit BI_RGB BMP
(``decode_bmp``), zlib-compressed 8-bit PNG (``decode_png`` — IDAT
inflate + Sub/Up/Average/Paeth unfilter, the one compressed format a
pure-Python engine can own) and 16-bit PCM WAV (``decode_wav``), each
with an encoder twin for fixtures/sinks and golden-byte tests.
``decode_image``/``decode_audio`` auto-detect by magic bytes:
BMP/PNG/WAV payloads decode for real; other compressed formats fall
back to a deterministic fake decoder (seeded from the payload bytes)
that exercises the full Spark-side plumbing — schema, partitioning, UDF
signature, Arrow batch shape. ``fake=False`` requires a real decode and
raises loudly when the payload needs an absent codec.
"""

from __future__ import annotations

import hashlib
import struct
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F

IMAGE_META_SCHEMA = "width int, height int, channels int, format string"


def codecs_available() -> bool:
    """True iff a real image codec (PIL) is importable (not in this
    container — the capability gate mirrors lineage.iceberg_available)."""
    try:
        import PIL.Image  # noqa: F401

        return True
    except Exception:
        return False


def encode_bmp(img: np.ndarray) -> bytes:
    """(H, W, 3) uint8 RGB → 24-bit BI_RGB BMP bytes (pure Python) —
    fixture/sink twin of :func:`decode_bmp`; rows bottom-up, BGR,
    4-byte padded per the format spec."""
    img = np.asarray(img, dtype=np.uint8)
    h, w, c = img.shape
    if c != 3:
        raise ValueError("encode_bmp wants (H, W, 3) RGB")
    pad = (-w * 3) % 4
    data_size = (w * 3 + pad) * h
    offset = 14 + 40
    header = struct.pack("<2sIHHI", b"BM", offset + data_size, 0, 0, offset)
    dib = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, data_size, 2835, 2835, 0, 0
    )
    bgr = img[:, :, ::-1]
    rows = [bgr[y].tobytes() + b"\x00" * pad for y in range(h - 1, -1, -1)]
    return header + dib + b"".join(rows)


def decode_bmp(payload: bytes) -> np.ndarray:
    """Pure-Python decode of uncompressed (BI_RGB) 24/32-bit BMP →
    (H, W, 3) uint8 RGB. No external codec involved."""
    if payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    (offset,) = struct.unpack_from("<I", payload, 10)
    w, h = struct.unpack_from("<ii", payload, 18)
    _planes, bpp = struct.unpack_from("<HH", payload, 26)
    (comp,) = struct.unpack_from("<I", payload, 30)
    if comp != 0 or bpp not in (24, 32):
        raise NotImplementedError(
            f"only uncompressed 24/32-bit BI_RGB BMP decodes natively "
            f"(got compression={comp}, bpp={bpp})"
        )
    bottom_up = h > 0
    h = abs(h)
    nb = bpp // 8
    stride = (w * nb + 3) // 4 * 4
    arr = np.frombuffer(
        payload, dtype=np.uint8, count=stride * h, offset=offset
    ).reshape(h, stride)
    px = arr[:, : w * nb].reshape(h, w, nb)
    rgb = px[:, :, 2::-1]  # BGR(A) → RGB, alpha dropped
    if bottom_up:
        rgb = rgb[::-1]
    return np.ascontiguousarray(rgb)


PNG_MAGIC = b"\x89PNG\r\n\x1a\n"


def encode_png(img: np.ndarray) -> bytes:
    """(H, W) / (H, W, 1|3|4) uint8 → PNG bytes via stdlib ``zlib``
    (fixture/sink twin of :func:`decode_png`): 8-bit grayscale / RGB /
    RGBA, filter 0 on every scanline, one IDAT chunk. Deterministic
    (fixed zlib level), so golden-byte tests hold."""
    import zlib

    img = np.asarray(img, dtype=np.uint8)
    if img.ndim == 2:
        img = img[:, :, None]
    h, w, c = img.shape
    color_type = {1: 0, 3: 2, 4: 6}.get(c)
    if color_type is None:
        raise ValueError("encode_png wants 1 (gray), 3 (RGB) or 4 (RGBA) channels")

    def chunk(tag: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + tag
            + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    raw = b"".join(b"\x00" + img[y].tobytes() for y in range(h))
    idat = zlib.compress(raw, 6)
    return (
        PNG_MAGIC
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", idat)
        + chunk(b"IEND", b"")
    )


def _png_unfilter(raw: np.ndarray, h: int, stride: int, bpp: int) -> np.ndarray:
    """Reverse the per-scanline PNG filters (None/Sub/Up/Average/Paeth)
    — the sequential half of the decode. Up and Sub are vectorized
    (full-row add / per-lane cumsum); Average and Paeth carry an
    intra-row dependency and run per-pixel across each such row."""
    rows = raw.reshape(h, stride + 1)
    filters = rows[:, 0]
    data = rows[:, 1:].astype(np.int32)
    out = np.zeros((h, stride), dtype=np.int32)
    prev = np.zeros(stride, dtype=np.int32)
    for y in range(h):
        f, cur = int(filters[y]), data[y]
        if f == 0:
            rec = cur
        elif f == 1:  # Sub: per-byte-lane cumulative sum
            lanes = cur.reshape(-1, bpp)
            rec = np.cumsum(lanes, axis=0).reshape(-1)
        elif f == 2:  # Up
            rec = cur + prev
        elif f in (3, 4):  # Average / Paeth: sequential in x
            rec = np.empty(stride, dtype=np.int32)
            for x in range(stride):
                a = rec[x - bpp] & 0xFF if x >= bpp else 0
                b = prev[x] & 0xFF
                if f == 3:
                    rec[x] = cur[x] + ((a + b) >> 1)
                else:
                    cc = prev[x - bpp] & 0xFF if x >= bpp else 0
                    p = a + b - cc
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - cc)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else cc)
                    rec[x] = cur[x] + pred
        else:
            raise NotImplementedError(f"unknown PNG filter type {f}")
        rec = rec & 0xFF
        out[y] = rec
        prev = rec
    return out.astype(np.uint8)


def decode_png(payload: bytes) -> np.ndarray:
    """Pure-Python PNG decode via stdlib ``zlib`` — the ONE compressed
    image format this engine owns natively (r4 directive 5): IDAT
    inflate + per-scanline unfilter (Sub/Up/Average/Paeth), 8-bit
    grayscale / gray+alpha / RGB / RGBA, non-interlaced. Palette,
    16-bit and Adam7 variants raise loudly (no silent wrong pixels);
    JPEG et al. still require absent codecs."""
    import zlib

    if payload[: len(PNG_MAGIC)] != PNG_MAGIC:
        raise ValueError("not a PNG payload")
    pos = len(PNG_MAGIC)
    w = h = None
    bit_depth = color_type = interlace = None
    idat = bytearray()
    while pos + 8 <= len(payload):
        (length,) = struct.unpack_from(">I", payload, pos)
        tag = payload[pos + 4 : pos + 8]
        body = payload[pos + 8 : pos + 8 + length]
        pos += 12 + length  # length + tag + body + crc
        if tag == b"IHDR":
            w, h, bit_depth, color_type, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", body
            )
        elif tag == b"IDAT":
            idat += body
        elif tag == b"IEND":
            break
    if w is None:
        raise ValueError("PNG missing IHDR")
    channels = {0: 1, 2: 3, 4: 2, 6: 4}.get(color_type)
    if bit_depth != 8 or channels is None or interlace != 0:
        raise NotImplementedError(
            f"PNG variant not supported by the native decoder "
            f"(bit_depth={bit_depth}, color_type={color_type}, "
            f"interlace={interlace}): 8-bit gray/graya/RGB/RGBA, "
            f"non-interlaced only"
        )
    raw = np.frombuffer(zlib.decompress(bytes(idat)), dtype=np.uint8)
    stride = w * channels
    if len(raw) != h * (stride + 1):
        raise ValueError("PNG IDAT length mismatch")
    px = _png_unfilter(raw, h, stride, channels)
    return px.reshape(h, w, channels)


# --------------------------------------------------------------------------
# GIF: the second compressed format a pure-Python engine can own —
# LZW (GIF variant: LSB-first bit packing, variable code width, clear /
# end codes, 12-bit cap with deferred clear) implemented both ways, so
# roundtrip tests are golden and decode is real, not a shim.

GIF_MAGICS = (b"GIF87a", b"GIF89a")


def _gif_lzw_decode(data: bytes, min_code_size: int) -> list[int]:
    """GIF-flavor LZW: codes are packed LSB-first; width starts at
    min+1 and grows after the table reaches 2^width (capped at 12 —
    past the cap codes keep coming at 12 bits until a CLEAR)."""
    clear = 1 << min_code_size
    end = clear + 1

    def fresh():
        return {i: (i,) for i in range(clear)}

    table = fresh()
    next_code = end + 1
    width = min_code_size + 1
    out: list[int] = []
    prev: tuple[int, ...] | None = None
    acc = nbits = 0
    for byte in data:
        acc |= byte << nbits
        nbits += 8
        while nbits >= width:
            code = acc & ((1 << width) - 1)
            acc >>= width
            nbits -= width
            if code == clear:
                table = fresh()
                next_code = end + 1
                width = min_code_size + 1
                prev = None
                continue
            if code == end:
                return out
            if prev is None:
                entry = table[code]
            elif code in table:
                entry = table[code]
            elif code == next_code:
                entry = prev + (prev[0],)  # the KwKwK case
            else:
                raise ValueError(f"corrupt LZW stream (code {code})")
            out.extend(entry)
            if prev is not None and next_code < 4096:
                table[next_code] = prev + (entry[0],)
                next_code += 1
                if next_code == (1 << width) and width < 12:
                    width += 1
            prev = entry
    return out


def _gif_lzw_encode(indices, min_code_size: int) -> bytes:
    """Encoder twin (CLEAR up front, table reset at 4096) — emits the
    byte stream :func:`_gif_lzw_decode` inverts exactly."""
    clear = 1 << min_code_size
    end = clear + 1
    out = bytearray()
    acc = nbits = 0

    def emit(code: int, width: int):
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    table = {(i,): i for i in range(clear)}
    next_code = end + 1
    width = min_code_size + 1
    emit(clear, width)
    run: tuple[int, ...] = ()
    for idx in indices:
        cand = run + (int(idx),)
        if cand in table:
            run = cand
            continue
        emit(table[run], width)
        if next_code < 4096:
            table[cand] = next_code
            # width grows when the NEXT code to assign no longer fits
            if next_code == (1 << width):
                width += 1
            next_code += 1
        else:
            emit(clear, width)
            table = {(i,): i for i in range(clear)}
            next_code = end + 1
            width = min_code_size + 1
        run = (int(idx),)
    if run:
        emit(table[run], width)
    emit(end, width)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


_GIF_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def encode_gif(img: np.ndarray, interlace: bool = False) -> bytes:
    """(H, W, 3) uint8 RGB → single-frame GIF89a.  The global palette
    is the image's sorted unique colors (≤ 256 — quantization is the
    caller's job, this is a lossless codec for already-quantized
    frames, same contract as the BMP/PNG encoders)."""
    img = np.asarray(img, dtype=np.uint8)
    if img.ndim != 3 or img.shape[2] != 3:
        raise ValueError("encode_gif wants (H, W, 3) RGB")
    h, w, _ = img.shape
    flat = img.reshape(-1, 3)
    colors, inverse = np.unique(flat, axis=0, return_inverse=True)
    if len(colors) > 256:
        raise ValueError(f"{len(colors)} colors; quantize to <= 256 first")
    pal_bits = max(1, int(len(colors) - 1).bit_length())
    pal = np.zeros((1 << pal_bits, 3), dtype=np.uint8)
    pal[: len(colors)] = colors
    indices = inverse.astype(np.int64).reshape(h, w)
    if interlace:
        order = [y for s, step in _GIF_INTERLACE_PASSES for y in range(s, h, step)]
        indices = indices[order]
    min_code = max(2, pal_bits)
    lzw = _gif_lzw_encode(indices.reshape(-1).tolist(), min_code)
    blocks = b"".join(
        bytes([len(lzw[i : i + 255])]) + lzw[i : i + 255]
        for i in range(0, len(lzw), 255)
    )
    screen = struct.pack(
        "<HHBBB", w, h, 0x80 | ((pal_bits - 1) << 4) | (pal_bits - 1), 0, 0
    )
    imgdesc = struct.pack(
        "<BHHHHB", 0x2C, 0, 0, w, h, 0x40 if interlace else 0
    )
    return (
        b"GIF89a"
        + screen
        + pal.tobytes()
        + imgdesc
        + bytes([min_code])
        + blocks
        + b"\x00;"
    )


def decode_gif(payload: bytes) -> np.ndarray:
    """Single-frame GIF87a/89a → (H, W, 3) uint8 RGB: real LZW
    inflate, global/local palettes, interlace supported; extensions
    (GCE/comment/application) skipped structurally.  Animated GIFs
    (more than one image block) raise loudly — frame compositing with
    disposal methods is out of scope, same contract as the other
    codecs' unsupported-variant raises."""
    if payload[:6] not in GIF_MAGICS:
        raise ValueError("not a GIF (missing GIF87a/GIF89a magic)")
    if len(payload) < 14:
        raise ValueError("truncated GIF header")
    w, h, flags, _bg, _ar = struct.unpack_from("<HHBBB", payload, 6)
    pos = 13
    gpal = None
    if flags & 0x80:
        n = 2 << (flags & 7)
        gpal = np.frombuffer(payload, np.uint8, n * 3, pos).reshape(n, 3)
        pos += n * 3
    frames = 0
    result = None
    while pos < len(payload):
        b0 = payload[pos]
        if b0 == 0x3B:  # trailer
            break
        if b0 == 0x21:  # extension: label + sub-blocks
            pos += 2
            while payload[pos] != 0:
                pos += 1 + payload[pos]
            pos += 1
            continue
        if b0 != 0x2C:
            raise ValueError(f"unexpected GIF block 0x{b0:02x}")
        left, top, iw, ih, iflags = struct.unpack_from("<HHHHB", payload, pos + 1)
        pos += 10
        pal = gpal
        if iflags & 0x80:
            n = 2 << (iflags & 7)
            pal = np.frombuffer(payload, np.uint8, n * 3, pos).reshape(n, 3)
            pos += n * 3
        if pal is None:
            raise ValueError("GIF image block without any color table")
        min_code = payload[pos]
        pos += 1
        chunks = []
        while payload[pos] != 0:
            ln = payload[pos]
            chunks.append(payload[pos + 1 : pos + 1 + ln])
            pos += 1 + ln
        pos += 1
        frames += 1
        if frames > 1:
            raise NotImplementedError(
                "animated GIF (multiple image blocks) — frame "
                "compositing with disposal methods is unsupported"
            )
        if (left, top, iw, ih) != (0, 0, w, h):
            raise NotImplementedError("partial-canvas GIF frame")
        idx = _gif_lzw_decode(b"".join(chunks), min_code)
        if len(idx) < iw * ih:
            raise ValueError("truncated GIF pixel data")
        arr = np.asarray(idx[: iw * ih], dtype=np.int64).reshape(ih, iw)
        if iflags & 0x40:  # interlaced: invert the pass ordering
            order = [
                y for s, step in _GIF_INTERLACE_PASSES for y in range(s, ih, step)
            ]
            out = np.empty_like(arr)
            out[order] = arr
            arr = out
        if (arr >= len(pal)).any():
            raise ValueError("GIF index outside color table")
        result = pal[arr]
    if result is None:
        raise ValueError("GIF has no image block")
    return np.ascontiguousarray(result)


def decode_image(payload: bytes, fake: bool | None = None) -> np.ndarray:
    """Decode an image payload to (H, W, C) uint8.

    Uncompressed BMP and zlib-compressed PNG (8-bit, non-interlaced)
    decode FOR REAL, pure-Python (magic-byte detected; PNG gray/alpha
    variants normalize to RGB like BMP's alpha-drop). Other compressed
    formats need PIL/libjpeg (not installed): the default
    (``fake=None``) falls back to the deterministic fake decoder
    (8×8×3 from the payload digest) so PIPELINES NEVER HIT A RAISE at
    runtime; ``fake=False`` requires a real decode and raises loudly
    when the needed codec is absent.
    """

    def to_rgb(arr: np.ndarray) -> np.ndarray:
        c = arr.shape[2]
        if c == 3:
            return arr
        if c == 4:
            return np.ascontiguousarray(arr[:, :, :3])  # drop alpha
        if c == 2:
            arr = arr[:, :, :1]  # gray+alpha → gray
        return np.repeat(arr, 3, axis=2)

    if fake is None:
        # magic match is a hint, not a guarantee: a truncated payload,
        # a renamed blob starting with the magic, or a PIL failure must
        # all fall back to the fake decoder (the fake=None contract
        # never raises)
        if (payload or b"")[:2] == b"BM":
            try:
                return decode_bmp(payload)
            except Exception:
                pass
        if (payload or b"")[: len(PNG_MAGIC)] == PNG_MAGIC:
            try:
                return to_rgb(decode_png(payload))
            except Exception:
                pass
        if (payload or b"")[:6] in GIF_MAGICS:
            try:
                return decode_gif(payload)
            except Exception:
                pass
        if codecs_available():
            try:
                import io

                import PIL.Image

                return np.asarray(
                    PIL.Image.open(io.BytesIO(payload)).convert("RGB")
                )
            except Exception:
                pass
        fake = True
    if not fake:
        if (payload or b"")[:2] == b"BM":
            return decode_bmp(payload)
        if (payload or b"")[: len(PNG_MAGIC)] == PNG_MAGIC:
            return to_rgb(decode_png(payload))
        if (payload or b"")[:6] in GIF_MAGICS:
            return decode_gif(payload)
        if not codecs_available():
            raise NotImplementedError(
                "compressed-image codecs not available in this "
                "environment (uncompressed BMP, 8-bit PNG and "
                "single-frame GIF decode natively); pass fake=True "
                "(or leave the default) for the deterministic test "
                "decoder"
            )
        import io

        import PIL.Image

        return np.asarray(PIL.Image.open(io.BytesIO(payload)).convert("RGB"))
    digest = hashlib.sha256(payload or b"").digest()
    arr = np.frombuffer((digest * 6)[: 8 * 8 * 3], dtype=np.uint8)
    return arr.reshape(8, 8, 3).copy()


def resize_image(
    img: np.ndarray, out_h: int, out_w: int, method: str = "bilinear"
) -> np.ndarray:
    """Resize (H, W, C) uint8 → (out_h, out_w, C), pure numpy —
    'nearest' (index gather) or 'bilinear' (separable lerp, half-pixel
    centers, edge-clamped). The real transform step of the multimodal
    pipeline; no codec or PIL involved."""
    img = np.asarray(img)
    h, w = img.shape[:2]
    if method == "nearest":
        yi = np.minimum((np.arange(out_h) + 0.5) * h / out_h, h - 1).astype(int)
        xi = np.minimum((np.arange(out_w) + 0.5) * w / out_w, w - 1).astype(int)
        return img[yi][:, xi]
    if method != "bilinear":
        raise ValueError(f"unknown resize method {method!r}")
    fy = (np.arange(out_h) + 0.5) * h / out_h - 0.5
    fx = (np.arange(out_w) + 0.5) * w / out_w - 0.5
    y0 = np.clip(np.floor(fy).astype(int), 0, h - 1)
    x0 = np.clip(np.floor(fx).astype(int), 0, w - 1)
    y1 = np.minimum(y0 + 1, h - 1)
    x1 = np.minimum(x0 + 1, w - 1)
    wy = np.clip(fy - y0, 0.0, 1.0)[:, None, None]
    wx = np.clip(fx - x0, 0.0, 1.0)[None, :, None]
    a = img[y0][:, x0].astype(np.float64)
    b = img[y0][:, x1].astype(np.float64)
    c = img[y1][:, x0].astype(np.float64)
    d = img[y1][:, x1].astype(np.float64)
    out = (
        a * (1 - wy) * (1 - wx)
        + b * (1 - wy) * wx
        + c * wy * (1 - wx)
        + d * wy * wx
    )
    return np.round(out).astype(np.uint8)


def center_crop(img: np.ndarray, crop_h: int, crop_w: int) -> np.ndarray:
    """Center crop (H, W, C) → (crop_h, crop_w, C); raises if the crop
    exceeds the image (resize first — silent padding would corrupt
    training data)."""
    h, w = img.shape[:2]
    if crop_h > h or crop_w > w:
        raise ValueError(f"crop {crop_h}x{crop_w} exceeds image {h}x{w}")
    y = (h - crop_h) // 2
    x = (w - crop_w) // 2
    return img[y : y + crop_h, x : x + crop_w]


THUMBNAIL_SCHEMA = (
    "key string, payload binary, width int, height int, orig_width int, orig_height int"
)


def image_thumbnails(
    df: DataFrame,
    out_h: int = 8,
    out_w: int = 8,
    key_col: str = "url",
    payload_col: str = "payload",
    fake: bool = True,
) -> DataFrame:
    """Decode → bilinear resize → re-encode as BMP, per Arrow batch —
    the full real transform pipeline (decode_bmp → resize_image →
    encode_bmp is codec-free end to end; non-BMP payloads go through
    the deterministic fake decoder when ``fake`` allows). Output payload
    is itself a decodable BMP, so stages compose."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            keys, payloads, ws, hs, ows, ohs = [], [], [], [], [], []
            for key, payload in zip(b[key_col], b[payload_col]):
                img = decode_image(payload, fake=None if fake else False)
                thumb = resize_image(img, out_h, out_w)
                keys.append(key)
                payloads.append(encode_bmp(thumb))
                ws.append(out_w)
                hs.append(out_h)
                ohs.append(img.shape[0])
                ows.append(img.shape[1])
            yield pd.DataFrame(
                {
                    "key": keys,
                    "payload": payloads,
                    "width": np.array(ws, dtype=np.int32),
                    "height": np.array(hs, dtype=np.int32),
                    "orig_width": np.array(ows, dtype=np.int32),
                    "orig_height": np.array(ohs, dtype=np.int32),
                }
            )

    return df.select(key_col, payload_col).mapInPandas(
        fn, schema=THUMBNAIL_SCHEMA
    )


FEATURES_SCHEMA = "key string, mean_r double, mean_g double, mean_b double, phash string"


def image_features(
    df: DataFrame, key_col: str = "url", payload_col: str = "payload", fake: bool = True
) -> DataFrame:
    """Decode → per-channel means + perceptual-hash-style digest, one
    Arrow batch at a time (the W4 batched-UDF shape)."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            keys = b[key_col].tolist()
            means = np.zeros((len(b), 3))
            hashes = []
            for i, payload in enumerate(b[payload_col].tolist()):
                img = decode_image(payload, fake=fake)
                means[i] = img.reshape(-1, 3).mean(axis=0)
                coarse = img[::4, ::4].mean(axis=2)
                bits = (coarse > coarse.mean()).ravel()
                hashes.append("".join("1" if x else "0" for x in bits))
            yield pd.DataFrame(
                {
                    "key": keys,
                    "mean_r": means[:, 0],
                    "mean_g": means[:, 1],
                    "mean_b": means[:, 2],
                    "phash": hashes,
                }
            )

    return df.select(key_col, payload_col).mapInPandas(fn, schema=FEATURES_SCHEMA)


def encode_wav(wave: np.ndarray, sample_rate: int = 16_000) -> bytes:
    """Mono float waveform in [-1, 1] → 16-bit PCM RIFF/WAVE bytes
    (pure Python) — fixture/sink twin of :func:`decode_wav`."""
    pcm = np.clip(np.asarray(wave, dtype=np.float64), -1.0, 1.0)
    data = np.round(pcm * 32767.0).astype("<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, sample_rate, sample_rate * 2, 2, 16)
    return (
        b"RIFF"
        + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data))
        + b"WAVE"
        + b"fmt "
        + struct.pack("<I", len(fmt))
        + fmt
        + b"data"
        + struct.pack("<I", len(data))
        + data
    )


def decode_wav(payload: bytes) -> np.ndarray:
    """Pure-Python decode of 16-bit PCM RIFF/WAVE → mono float32 in
    [-1, 1] (multi-channel payloads are mean-downmixed). No external
    codec involved."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a WAV payload")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (size,) = struct.unpack_from("<I", payload, pos + 4)
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("WAV payload missing fmt/data chunk")
    audio_format, channels, _rate, _br, _ba, bits = struct.unpack_from(
        "<HHIIHH", fmt, 0
    )
    if audio_format != 1 or bits != 16:
        raise NotImplementedError(
            f"only 16-bit PCM WAV decodes natively (got format="
            f"{audio_format}, bits={bits})"
        )
    pcm = np.frombuffer(data, dtype="<i2")
    if channels > 1:
        pcm = pcm[: len(pcm) // channels * channels].reshape(-1, channels)
        return (pcm.astype(np.float32).mean(axis=1) / 32768.0).astype(
            np.float32
        )
    return (pcm.astype(np.float32) / 32768.0).copy()


def decode_audio(payload: bytes, fake: bool | None = None) -> np.ndarray:
    """Decode an audio payload to a mono float32 waveform in [-1, 1].

    16-bit PCM WAV decodes FOR REAL, pure-Python (magic-byte detected).
    Compressed audio needs libsndfile/ffmpeg (absent here): the default
    auto-detect falls back to a deterministic fake (1024 samples from
    the payload digest) so pipelines never raise; ``fake=False``
    requires a real decode and raises loudly."""
    if fake is None:
        if (payload or b"")[:4] == b"RIFF":
            # "RIFF" also prefixes AVI etc. — invalid/truncated WAVs fall
            # back to the fake decoder (the fake=None contract never raises)
            try:
                return decode_wav(payload)
            except Exception:
                pass
        fake = True  # no compressed-audio codec importable here
    if not fake:
        if (payload or b"")[:4] == b"RIFF":
            return decode_wav(payload)
        raise NotImplementedError(
            "compressed-audio codecs not available (16-bit PCM WAV "
            "decodes natively); pass fake=True for the deterministic "
            "test decoder"
        )
    digest = hashlib.sha256(b"audio:" + (payload or b"")).digest()
    raw = np.frombuffer((digest * 128)[: 1024 * 2], dtype="<i2")
    return (raw.astype(np.float32) / 32768.0).copy()


def wav_sample_rate(payload: bytes) -> int | None:
    """Actual sample rate from a RIFF/WAVE fmt chunk, or None when the
    payload is not a parseable WAV — the rate `decode_wav` itself
    normalizes away must still drive resampling ratios."""
    try:
        if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
            return None
        pos = 12
        while pos + 8 <= len(payload):
            cid = payload[pos : pos + 4]
            (size,) = struct.unpack_from("<I", payload, pos + 4)
            if cid == b"fmt ":
                return int(struct.unpack_from("<HHI", payload, pos + 8)[2])
            pos += 8 + size + (size & 1)
    except Exception:
        return None
    return None


def resample_audio(
    wave: np.ndarray, from_rate: int, to_rate: int
) -> np.ndarray:
    """Linear-interpolation resample of a mono waveform — the real
    transform step of the audio pipeline (sample-center mapping, edge
    clamped; pure numpy, no codec). Identity when rates match."""
    if from_rate == to_rate:
        return np.asarray(wave, dtype=np.float32)
    w = np.asarray(wave, dtype=np.float64)
    n_out = max(int(round(len(w) * to_rate / from_rate)), 1)
    src = np.arange(n_out) * (from_rate / to_rate)
    i0 = np.minimum(np.floor(src).astype(int), len(w) - 1)
    i1 = np.minimum(i0 + 1, len(w) - 1)
    frac = np.clip(src - i0, 0.0, 1.0)
    return (w[i0] * (1 - frac) + w[i1] * frac).astype(np.float32)


CLIP_SCHEMA = (
    "key string, payload binary, n_samples int, orig_samples int, sample_rate int"
)


def audio_clips(
    df: DataFrame,
    to_rate: int = 8_000,
    from_rate: int = 16_000,
    key_col: str = "url",
    payload_col: str = "payload",
    fake: bool = True,
) -> DataFrame:
    """Decode → resample → re-encode 16-bit PCM WAV per Arrow batch —
    the audio twin of :func:`image_thumbnails` (decode_wav →
    resample_audio → encode_wav is codec-free end to end; non-WAV
    payloads go through the deterministic fake decoder when ``fake``
    allows). A real WAV's OWN header rate drives the resampling ratio
    (``from_rate`` only covers headerless fake payloads — a 44.1 kHz
    input must not be resampled as if it were 16 kHz). Output payloads
    are decodable WAVs, so stages compose."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            keys, payloads, ns, on = [], [], [], []
            for key, payload in zip(b[key_col], b[payload_col]):
                w = decode_audio(payload, fake=None if fake else False)
                actual = wav_sample_rate(bytes(payload or b"")) or from_rate
                r = resample_audio(w, actual, to_rate)
                keys.append(key)
                payloads.append(encode_wav(r, sample_rate=to_rate))
                ns.append(len(r))
                on.append(len(w))
            yield pd.DataFrame(
                {
                    "key": keys,
                    "payload": payloads,
                    "n_samples": np.array(ns, dtype=np.int32),
                    "orig_samples": np.array(on, dtype=np.int32),
                    "sample_rate": np.full(len(keys), to_rate, dtype=np.int32),
                }
            )

    return df.select(key_col, payload_col).mapInPandas(fn, schema=CLIP_SCHEMA)


AUDIO_SCHEMA = "key string, n_samples int, rms double, zero_crossings int"


def audio_features(
    df: DataFrame, key_col: str = "url", payload_col: str = "payload", fake: bool = True
) -> DataFrame:
    """Decode → RMS energy + zero-crossing count per clip, one Arrow
    batch at a time — the same typed-binary-column plumbing as
    image_features applied to the audio modality."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            n = len(b)
            ns = np.zeros(n, dtype=np.int32)
            rms = np.zeros(n)
            zc = np.zeros(n, dtype=np.int32)
            for i, payload in enumerate(b[payload_col].tolist()):
                w = decode_audio(payload, fake=fake)
                ns[i] = len(w)
                rms[i] = float(np.sqrt(np.mean(w * w)))
                zc[i] = int(np.count_nonzero(np.diff(np.signbit(w))))
            yield pd.DataFrame(
                {
                    "key": b[key_col],
                    "n_samples": ns,
                    "rms": rms,
                    "zero_crossings": zc,
                }
            )

    return df.select(key_col, payload_col).mapInPandas(fn, schema=AUDIO_SCHEMA)


# --------------------------------------------------------------------------
# perceptual-hash image near-dup detection (dHash, Krawetz 2013)

DHASH_SCHEMA = "key string, dhash long"
DHASH_BANDS = 4
DHASH_BAND_BITS = 64 // DHASH_BANDS
DHASH_MAX_BUCKET = 200  # hot-bucket cap, same role as SIMHASH_MAX_BUCKET


def dhash64(img: np.ndarray) -> int:
    """64-bit difference hash: bilinear-resize to 8×9 grayscale, bit
    k=y·8+x set iff g[y,x] < g[y,x+1]. Pure numpy (the deterministic
    resize above), so the oracle twin replays it bit-for-bit."""
    small = resize_image(img, 8, 9, method="bilinear")
    g = small.astype(np.float64).mean(axis=2)
    bits = (g[:, :-1] < g[:, 1:]).ravel()
    v = np.uint64(0)
    for k in np.nonzero(bits)[0]:
        v |= np.uint64(1) << np.uint64(k)
    return int(v.astype(np.int64))


def image_dhash(
    df: DataFrame, key_col: str = "key", payload_col: str = "payload",
    fake: bool = False,
) -> DataFrame:
    """Decode → 64-bit dHash per image, one Arrow batch at a time (the
    W4 batched-UDF shape); the hash lands in a LongType column so the
    pairing join and hamming verify stay JVM-side."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            out = [
                dhash64(decode_image(p, fake=fake))
                for p in b[payload_col].tolist()
            ]
            yield pd.DataFrame(
                {"key": b[key_col].tolist(),
                 "dhash": np.array(out, dtype=np.int64)}
            )

    return df.select(key_col, payload_col).mapInPandas(fn, schema=DHASH_SCHEMA)


def dhash_near_pairs(
    fps: DataFrame,
    max_hamming: int = 3,
    max_bucket: int | None = DHASH_MAX_BUCKET,
) -> DataFrame:
    """Hamming-≤``max_hamming`` image pairs via 4×16-bit band buckets.

    With 4 bands, exact-band equality is LOSSLESS for hamming ≤ 3
    (pigeonhole: ≤3 flipped bits leave ≥1 band untouched), so the
    banded join finds EXACTLY the brute-force pair set — the oracle
    brute-forces it relationally. The verify (bit_count of xor) and the
    join are JVM-side; ``max_bucket`` drops degenerate buckets (solid
    boilerplate thumbnails) before the quadratic join, same contract as
    the SimHash text path — at fixture scale the cap is a measured
    no-op so the oracle needs no cap mirror.
    """
    mask = (1 << DHASH_BAND_BITS) - 1
    keys = fps.select(
        "key",
        "dhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftrightunsigned(F.col("dhash"), b * DHASH_BAND_BITS)
                        .bitwiseAND(F.lit(mask))
                        .alias("bkey"),
                    )
                    for b in range(DHASH_BANDS)
                ]
            )
        ).alias("bk"),
    ).select("key", "dhash", "bk.band", "bk.bkey")
    if max_bucket is not None:
        w = Window.partitionBy("band", "bkey")
        keys = (
            keys.withColumn("__n", F.count("*").over(w))
            .filter(F.col("__n") <= max_bucket)
            .drop("__n")
        )
    a = keys.select(
        F.col("key").alias("id_a"), F.col("dhash").alias("ha"), "band", "bkey"
    )
    b = keys.select(
        F.col("key").alias("id_b"), F.col("dhash").alias("hb"), "band", "bkey"
    )
    ham = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    return (
        a.join(b, ["band", "bkey"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", ham.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


# --------------------------------------------------------------------------
# audio near-dup fingerprints (energy-envelope difference hash)

EHASH_FRAMES = 65  # 64 adjacent-frame comparisons → 64-bit hash


def ehash64(wave: np.ndarray) -> int:
    """64-bit audio difference hash: split the mono waveform into 65
    equal frames (trailing remainder dropped), bit k set iff frame k's
    energy < frame k+1's — the envelope analogue of the image dHash
    (loudness-invariant comparisons, robust to level changes that flip
    no ordering). Pure numpy; the oracle twin replays it bit-for-bit
    on the SAME 16-bit-quantized samples the codec roundtrip yields."""
    x = np.asarray(wave, dtype=np.float64).ravel()
    m = len(x) // EHASH_FRAMES
    if m == 0:
        raise ValueError(f"waveform too short for {EHASH_FRAMES} frames")
    e = (x[: m * EHASH_FRAMES].reshape(EHASH_FRAMES, m) ** 2).sum(axis=1)
    bits = e[:-1] < e[1:]
    v = np.uint64(0)
    for k in np.nonzero(bits)[0]:
        v |= np.uint64(1) << np.uint64(k)
    return int(v.astype(np.int64))


def audio_ehash(
    df: DataFrame, key_col: str = "key", payload_col: str = "payload",
    fake: bool = False,
) -> DataFrame:
    """Decode → 64-bit envelope hash per clip, one Arrow batch at a
    time; output column names match ``dhash_near_pairs``'s contract so
    audio near-dups ride the SAME lossless 4-band hamming join as
    images."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            out = [
                ehash64(decode_audio(p, fake=fake))
                for p in b[payload_col].tolist()
            ]
            yield pd.DataFrame(
                {"key": [str(k) for k in b[key_col].tolist()],
                 "dhash": np.array(out, dtype=np.int64)}
            )

    return df.select(key_col, payload_col).mapInPandas(fn, schema=DHASH_SCHEMA)


# --------------------------------------------------------------------------
# video: minimal uncompressed AVI (RIFF + DIB frames) — a REAL container,
# parsed structurally, so frame sampling exercises genuine demux logic
# (the reference gets video I/O from GDAL-adjacent C libraries; here the
# one uncompressed format is owned end-to-end like BMP/WAV/PNG)


def encode_avi(frames: list[np.ndarray], fps: int = 10) -> bytes:
    """(H, W, 3) uint8 RGB frame list → uncompressed AVI bytes:
    RIFF('AVI ' LIST('hdrl' avih LIST('strl' strh strf)) LIST('movi'
    '00db'×n) 'idx1'). Frames are BI_RGB DIBs (bottom-up BGR rows,
    4-byte padded) — lossless, so decode∘encode is identity."""
    frames = [np.asarray(f, dtype=np.uint8) for f in frames]
    if not frames:
        raise ValueError("encode_avi wants at least one frame")
    h, w, c = frames[0].shape
    if c != 3 or any(f.shape != (h, w, 3) for f in frames):
        raise ValueError("all frames must be (H, W, 3) RGB")
    pad = (-w * 3) % 4
    frame_size = (w * 3 + pad) * h

    def dib(img: np.ndarray) -> bytes:
        bgr = img[:, :, ::-1]
        return b"".join(
            bgr[y].tobytes() + b"\x00" * pad for y in range(h - 1, -1, -1)
        )

    avih = b"avih" + struct.pack(
        "<I14I",
        56,
        1_000_000 // fps, frame_size * fps, 0, 0x10, len(frames),
        0, 1, frame_size, w, h, 0, 0, 0, 0,
    )
    strh = b"strh" + struct.pack(
        "<I4s4sIHHIIIIIIII4H",
        56,
        b"vids", b"DIB ", 0, 0, 0, 0, 1, fps, 0, len(frames),
        frame_size, 0xFFFFFFFF, 0, 0, 0, w, h,
    )
    strf = b"strf" + struct.pack(
        "<IIiiHHIIiiII",
        40, 40, w, h, 1, 24, 0, frame_size, 2835, 2835, 0, 0,
    )
    strl = b"LIST" + struct.pack("<I", 4 + len(strh) + len(strf)) + b"strl" + strh + strf
    hdrl = b"LIST" + struct.pack("<I", 4 + len(avih) + len(strl)) + b"hdrl" + avih + strl
    movi_items = b"".join(
        b"00db" + struct.pack("<I", frame_size) + dib(f) for f in frames
    )
    movi = b"LIST" + struct.pack("<I", 4 + len(movi_items)) + b"movi" + movi_items
    # idx1: one entry per frame (fourcc, flags=KEYFRAME, offset, size)
    entries = []
    off = 4  # offsets are relative to the start of the 'movi' list data
    for _ in frames:
        entries.append(struct.pack("<4sIII", b"00db", 0x10, off, frame_size))
        off += 8 + frame_size
    idx = b"idx1" + struct.pack("<I", 16 * len(frames)) + b"".join(entries)
    body = b"AVI " + hdrl + movi + idx
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _riff_chunks(buf: bytes, off: int, end: int):
    """Walk sibling chunks in buf[off:end]: yields (fourcc, data_off,
    size); honors the RIFF odd-size pad byte."""
    while off + 8 <= end:
        cid = buf[off : off + 4]
        (size,) = struct.unpack_from("<I", buf, off + 4)
        yield cid, off + 8, size
        off += 8 + size + (size & 1)


def decode_avi(payload: bytes) -> list[np.ndarray]:
    """Uncompressed AVI → list of (H, W, 3) uint8 RGB frames via a
    structural RIFF walk (hdrl→strl→strf for geometry, movi for frame
    chunks). Raises loudly on compressed streams (non-BI_RGB/24bpp) —
    same contract as the other codecs."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        raise ValueError("not an AVI (RIFF/'AVI ' magic missing)")
    end = min(len(payload), 8 + struct.unpack_from("<I", payload, 4)[0])
    w = h = bpp = compression = None
    frames: list[np.ndarray] = []

    def walk(off: int, stop: int) -> None:
        nonlocal w, h, bpp, compression
        for cid, doff, size in _riff_chunks(payload, off, stop):
            if cid == b"LIST":
                walk(doff + 4, doff + size)
            elif cid == b"strf" and w is None:
                _, w_, h_, _, bpp_, comp_ = struct.unpack_from(
                    "<IiiHHI", payload, doff
                )
                w, h, bpp, compression = w_, abs(h_), bpp_, comp_
            elif cid[2:4] in (b"db", b"dc") and size > 0:
                frames.append(payload[doff : doff + size])

    walk(12, end)
    if w is None:
        raise ValueError("AVI has no strf header")
    if bpp != 24 or compression != 0:
        raise NotImplementedError(
            f"compressed AVI stream (bpp={bpp}, compression={compression}) "
            "— only BI_RGB 24-bit is supported"
        )
    pad = (-w * 3) % 4
    stride = w * 3 + pad
    out = []
    for raw in frames:
        if len(raw) != stride * h:
            raise ValueError("frame chunk size does not match geometry")
        a = np.frombuffer(raw, dtype=np.uint8).reshape(h, stride)[:, : w * 3]
        out.append(a.reshape(h, w, 3)[::-1, :, ::-1].copy())
    return out


def frame_sample(payload: bytes, every_n: int = 3) -> list[np.ndarray]:
    """Demux an AVI and keep every ``every_n``-th frame (the standard
    cheap video fingerprinting reduction — hash sampled frames, not
    all of them)."""
    return decode_avi(payload)[::every_n]


VIDEO_FP_SCHEMA = "key string, frame_idx int, dhash long"


def video_frame_dhash(
    df: DataFrame,
    key_col: str = "key",
    payload_col: str = "payload",
    every_n: int = 3,
) -> DataFrame:
    """Demux → sample every n-th frame → 64-bit dHash per sampled
    frame, one Arrow batch at a time. Output (key, frame_idx, dhash)
    rows feed either the exact frame-overlap join (video near-dup) or
    the banded hamming join (``dhash_near_pairs``) per frame."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            keys, idxs, hashes = [], [], []
            for k, p in zip(b[key_col].tolist(), b[payload_col].tolist()):
                for j, fr in enumerate(frame_sample(p, every_n=every_n)):
                    keys.append(str(k))
                    idxs.append(j * every_n)
                    hashes.append(dhash64(fr))
            yield pd.DataFrame(
                {
                    "key": keys,
                    "frame_idx": np.array(idxs, dtype=np.int32),
                    "dhash": np.array(hashes, dtype=np.int64),
                }
            )

    return df.select(key_col, payload_col).mapInPandas(
        fn, schema=VIDEO_FP_SCHEMA
    )


def video_overlap_pairs(
    fps: DataFrame,
    min_shared: int = 3,
    max_bucket: int | None = DHASH_MAX_BUCKET,
) -> DataFrame:
    """Video near-dup candidates: videos sharing ≥ ``min_shared``
    DISTINCT sampled-frame hashes. One equi-join on the exact frame
    hash (the 64-bit dHash is the blocking key — no all-pairs stage),
    hot hashes (solid/boilerplate frames) capped like
    ``dhash_near_pairs``. Returns (id_a, id_b, n_shared)."""
    h = fps.select("key", "dhash").distinct()
    if max_bucket is not None:
        from pyspark.sql import Window

        h = (
            h.withColumn(
                "_n", F.count("*").over(Window.partitionBy("dhash"))
            )
            .filter(F.col("_n") <= max_bucket)
            .drop("_n")
        )
    a, b = h.alias("a"), h.alias("b")
    return (
        a.join(
            b,
            (F.col("a.dhash") == F.col("b.dhash"))
            & (F.col("a.key") < F.col("b.key")),
        )
        .groupBy(
            F.col("a.key").alias("id_a"), F.col("b.key").alias("id_b")
        )
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
