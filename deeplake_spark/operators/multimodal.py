"""Multimodal columns: image/audio/video as opaque `binary` payloads
with typed metadata, processed through Arrow-batched `mapInPandas`
pipelines (SURVEY §1.4 htype table: Image/Audio/Video/Medical/Mesh →
BinaryType + decode UDFs; reference decode path: column_view
request_sample → codecs/compression.hpp → nd::array).

The Spark-side plumbing — schema, batch iteration, partitioning, UDF
signatures, shape bookkeeping — is real and tested. The actual codec
calls (libjpeg/ffmpeg/PIL) are NOT in this container, so each codec is
import-gated: with the library present the real decode runs; without
it, `strict=True` raises NotImplementedError and `strict=False` uses a
deterministic fake decoder (seeded from the payload bytes) so
downstream geometry/statistics logic stays testable.

Scale notes: decode happens inside mapInPandas on the executors —
payload bytes never move to the driver; Arrow carries each batch across
the JVM/Python boundary once. Target batch size is controlled by
`spark.sql.execution.arrow.maxRecordsPerBatch` (keep batches × decoded
size within executor memory: decoded images are ~HxWx3 bytes each).
"""

from __future__ import annotations

import hashlib
import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from deeplake_spark.exceptions import FormatNotSupportedError


# --------------------------------------------------------------- fake codec


def _fake_decode(payload: bytes, h: int = 16, w: int = 16, c: int = 3) -> np.ndarray:
    """Deterministic stand-in decoder: pixels derived from a rolling
    digest of the payload — stable across runs/partitions."""
    if payload is None or len(payload) == 0:
        return np.zeros((h, w, c), dtype=np.uint8)
    digest = hashlib.sha256(payload).digest()
    rng = np.random.default_rng(struct.unpack("<Q", digest[:8])[0])
    return rng.integers(0, 256, size=(h, w, c), dtype=np.uint8)


def _decode_ppm(payload: bytes) -> np.ndarray:
    """REAL decoder for binary PPM (P6): pure numpy, no third-party
    codec needed. Header = b'P6\\n<w> <h>\\n<maxval>\\n' + raw RGB."""
    if not payload.startswith(b"P6"):
        raise ValueError("not a P6 PPM payload")
    parts, idx = [], 2
    while len(parts) < 3:
        while idx < len(payload) and payload[idx : idx + 1].isspace():
            idx += 1
        if payload[idx : idx + 1] == b"#":  # comment line
            idx = payload.index(b"\n", idx) + 1
            continue
        end = idx
        while end < len(payload) and not payload[end : end + 1].isspace():
            end += 1
        parts.append(int(payload[idx:end]))
        idx = end
    idx += 1  # single whitespace after maxval
    w, h, _maxval = parts
    return np.frombuffer(payload, dtype=np.uint8, count=h * w * 3,
                         offset=idx).reshape(h, w, 3)


def _decode_bmp(payload: bytes) -> np.ndarray:
    """REAL decoder for uncompressed 24-bit BMP: stdlib struct + numpy
    (bottom-up rows, BGR order, 4-byte row padding)."""
    if payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    data_off = struct.unpack_from("<I", payload, 10)[0]
    w, h = struct.unpack_from("<ii", payload, 18)
    bpp = struct.unpack_from("<H", payload, 28)[0]
    comp = struct.unpack_from("<I", payload, 30)[0]
    if bpp != 24 or comp != 0:
        raise ValueError(f"only uncompressed 24-bit BMP supported (bpp={bpp})")
    stride = (w * 3 + 3) & ~3
    rows = np.frombuffer(payload, dtype=np.uint8, count=stride * abs(h),
                         offset=data_off).reshape(abs(h), stride)
    img = rows[:, : w * 3].reshape(abs(h), w, 3)[:, :, ::-1]  # BGR → RGB
    if h > 0:
        img = img[::-1]  # bottom-up storage
    return np.ascontiguousarray(img)


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


class _PngUnsupported(Exception):
    """Valid PNG, but a variant outside the stdlib decoder's scope
    (interlaced, exotic color types) — falls through to PIL when
    present. 8- and 16-bit non-interlaced streams decode for real."""


def _png_unfilter(raw: bytes, h: int, w: int, channels: int,
                  sample_bytes: int = 1, stride: int | None = None,
                  bpp: int | None = None) -> np.ndarray:
    """Reverse the per-scanline PNG filters (spec §9: None/Sub/Up/
    Average/Paeth). Filters operate on BYTES regardless of bit depth
    (spec §9: bpp = max(1, depth//8) * channels), so 16-bit rows reuse
    the same math with doubled stride/bpp and sub-byte depths with
    bpp=1 and a packed stride. Up is vectorized; Sub/Average/Paeth
    carry a left-neighbor dependency, so those rows scan byte-wise."""
    if stride is None:
        stride = w * channels * sample_bytes
    if bpp is None:
        bpp = channels * sample_bytes
    out = np.empty((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint16)
    pos = 0
    for y in range(h):
        ftype = raw[pos]
        pos += 1
        line = np.frombuffer(raw, dtype=np.uint8, count=stride,
                             offset=pos).astype(np.uint16)
        pos += stride
        if ftype == 0:  # None
            recon = line
        elif ftype == 2:  # Up
            recon = (line + prev) & 0xFF
        elif ftype == 1:  # Sub
            recon = line.copy()
            for x in range(bpp, stride):
                recon[x] = (recon[x] + recon[x - bpp]) & 0xFF
        elif ftype == 3:  # Average
            recon = line.copy()
            for x in range(stride):
                left = recon[x - bpp] if x >= bpp else 0
                recon[x] = (recon[x] + ((int(left) + int(prev[x])) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            recon = line.copy()
            for x in range(stride):
                a = int(recon[x - bpp]) if x >= bpp else 0
                b = int(prev[x])
                c = int(prev[x - bpp]) if x >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                recon[x] = (recon[x] + pred) & 0xFF
        else:
            raise _PngUnsupported(f"unknown PNG filter type {ftype}")
        out[y] = recon.astype(np.uint8)
        prev = recon
    return out


#: Adam7 pass origins and strides (spec §8.2): (x0, y0, dx, dy)
_ADAM7 = ((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
          (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))


def _png_rows_to_samples(rows: np.ndarray, h: int, w: int, channels: int,
                         depth: int) -> np.ndarray:
    """(h, stride) filter-reversed bytes → (h, w, channels) samples:
    big-endian uint16 assembly for 16-bit (spec §7.1), MSB-first bit
    unpacking for sub-byte depths (spec §7.2; only 1-channel color
    types may be sub-byte)."""
    if depth == 16:
        return ((rows[:, 0::2].astype(np.uint16) << 8)
                | rows[:, 1::2]).reshape(h, w, channels)
    if depth < 8:
        bits = np.unpackbits(rows, axis=1)[:, :w * depth]
        weights = (1 << np.arange(depth - 1, -1, -1)).astype(np.uint8)
        vals = (bits.reshape(h, w, depth) * weights).sum(axis=2)
        return vals.astype(np.uint8).reshape(h, w, 1)
    return rows.reshape(h, w, channels)


def _decode_png(payload: bytes) -> np.ndarray:
    """REAL decoder for 8/16-bit PNG, sequential AND Adam7-interlaced:
    stdlib zlib + struct only (the reference Image htype's default
    compression, python/deeplake/types.pyi:1011-1036). Supports
    grayscale (→ HxW), gray+alpha (HxWx2), RGB (HxWx3), RGBA (HxWx4),
    and paletted (PLTE lookup → HxWx3) color types; 16-bit samples come
    back as uint16 (big-endian per spec §7.1). Each Adam7 pass is an
    independently-filtered sub-image whose pixels scatter back on the
    (x0 + i*dx, y0 + j*dy) grid (spec §8.2)."""
    import zlib

    if not payload.startswith(_PNG_SIG):
        raise ValueError("not a PNG payload")
    pos = 8
    idat = bytearray()
    palette = None
    trns = None
    w = h = depth = color = interlace = None
    while pos + 8 <= len(payload):
        (ln,) = struct.unpack_from(">I", payload, pos)
        ctype = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + ln]
        pos += 12 + ln  # length + type + data + crc
        if ctype == b"IHDR":
            w, h, depth, color, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", data)
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"PLTE":
            palette = np.frombuffer(data, dtype=np.uint8).reshape(-1, 3)
        elif ctype == b"tRNS":
            trns = np.frombuffer(data, dtype=np.uint8)
        elif ctype == b"IEND":
            break
    if w is None:
        raise ValueError("PNG missing IHDR")
    valid_depths = {0: (1, 2, 4, 8, 16), 3: (1, 2, 4, 8),
                    2: (8, 16), 4: (8, 16), 6: (8, 16)}
    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(color)
    if channels is None:
        raise _PngUnsupported(f"unknown PNG color type {color}")
    if depth not in valid_depths[color] or interlace not in (0, 1):
        raise _PngUnsupported(
            f"PNG depth/interlace outside the stdlib path "
            f"(depth={depth}, color={color}, interlace={interlace})")
    raw = zlib.decompress(bytes(idat))
    bpp = max(1, channels * depth // 8)

    def stride_of(wp: int) -> int:
        return -(-wp * channels * depth // 8)  # packed rows round UP

    if interlace == 1:
        dtype = np.uint16 if depth == 16 else np.uint8
        img = np.zeros((h, w, channels), dtype=dtype)
        pos = 0
        for x0, y0, dx, dy in _ADAM7:
            wp = (w - x0 + dx - 1) // dx
            hp = (h - y0 + dy - 1) // dy
            if wp <= 0 or hp <= 0:
                continue
            stride = stride_of(wp)
            nbytes = hp * (1 + stride)
            rows = _png_unfilter(raw[pos:pos + nbytes], hp, wp, channels,
                                 stride=stride, bpp=bpp)
            pos += nbytes
            img[y0::dy, x0::dx] = _png_rows_to_samples(
                rows, hp, wp, channels, depth)
    else:
        rows = _png_unfilter(raw, h, w, channels,
                             stride=stride_of(w), bpp=bpp)
        img = _png_rows_to_samples(rows, h, w, channels, depth)
    if color == 3:
        if palette is None:
            raise ValueError("paletted PNG missing PLTE")
        idxs = img[:, :, 0]
        if trns is not None:
            # tRNS: one alpha byte per palette entry, short chunk means
            # the rest are opaque (spec 11.3.2) -> RGBA output
            alpha = np.full(len(palette), 255, dtype=np.uint8)
            alpha[:min(len(trns), len(palette))] = \
                trns[:min(len(trns), len(palette))]
            rgba = np.concatenate([palette, alpha[:, None]], axis=1)
            return rgba[idxs]
        return palette[idxs]
    if color == 0:
        gray = img.reshape(h, w)  # PIL 'L'/'I;16' convention: 2-D
        if trns is not None and len(trns) >= 2:
            # tRNS on gray: ONE fully-transparent sample value
            # (2-byte big-endian, spec 11.3.2) -> gray+alpha output.
            # The raw (pre-scaling) sample value is compared.
            key = (int(trns[0]) << 8) | int(trns[1])
            if depth < 16:  # sample sits in the low bits of the field
                key &= (1 << depth) - 1
            alpha = np.where(gray == key, 0, 255).astype(gray.dtype)
            if depth == 16:
                alpha = (alpha.astype(np.uint16) * 257)  # 255 -> 65535
            out16 = np.stack([gray, alpha], axis=-1)
            if depth < 8:
                out16[:, :, 0] = (out16[:, :, 0].astype(np.uint16)
                                  * (255 // ((1 << depth) - 1)))
            return out16.astype(np.uint16 if depth == 16 else np.uint8)
        if depth < 8:
            # present sub-byte gray at 8-bit (PIL convert-'L' scaling;
            # exact: 255/(2^d - 1) is an integer for d in 1/2/4)
            gray = (gray.astype(np.uint16)
                    * (255 // ((1 << depth) - 1))).astype(np.uint8)
        return gray
    if color == 2 and trns is not None and len(trns) >= 6:
        # tRNS on RGB: one fully-transparent RGB value (three 2-byte
        # big-endian samples) -> RGBA output
        key = np.array([(int(trns[i]) << 8) | int(trns[i + 1])
                        for i in (0, 2, 4)])
        if depth == 8:
            key = key & 0xFF
        mask = (img == key.astype(img.dtype)).all(axis=2)
        hi = 65535 if depth == 16 else 255
        alpha = np.where(mask, 0, hi).astype(img.dtype)
        return np.concatenate([img, alpha[:, :, None]], axis=2)
    return img


def _decode_one(payload: bytes, compression: str, strict: bool) -> np.ndarray:
    if compression == "ppm":
        return _decode_ppm(payload)  # real, stdlib-only
    if compression == "bmp":
        return _decode_bmp(payload)  # real, stdlib-only
    if compression == "gif":
        from deeplake_spark.operators._gif import (
            GifUnsupported,
            decode_gif_image,
        )

        try:
            # real, stdlib+numpy: 87a/89a, interlace, transparency,
            # first composited frame (operators/_gif.py)
            return decode_gif_image(payload)
        except GifUnsupported:
            pass  # restore-to-previous disposal → PIL below
        except Exception:
            if strict:
                raise  # corrupt payload is a real decode error
            pass  # non-strict: not GIF bytes → PIL/fake below
        try:
            from PIL import Image  # noqa: F401  (not in this image)
            import io

            return np.asarray(Image.open(io.BytesIO(payload)).convert("RGB"))
        except ImportError:
            if strict:
                raise FormatNotSupportedError(
                    "codec 'gif' variant requires Pillow, which is not "
                    "installed")
            return _fake_decode(payload)
    if compression == "png":
        try:
            return _decode_png(payload)  # real, stdlib-only
        except _PngUnsupported:
            pass  # 16-bit/interlaced/exotic → PIL below
        except Exception:
            if strict:
                raise  # corrupt payload is a real decode error
            pass  # non-strict: not PNG bytes → PIL/fake below
    if compression in ("jpg", "jpeg"):
        try:
            # real, numpy/stdlib-only: sequential/progressive/lossless/
            # 12-bit/arithmetic (SOF0/1/2/3/9/10), sampling up to 2x2
            from deeplake_spark.operators._jpeg import (
                JpegUnsupported,
                decode_baseline,
            )

            return decode_baseline(payload)
        except JpegUnsupported:
            pass  # progressive/subsampled → PIL below
        except Exception:
            if strict:
                raise  # corrupt payload is a real decode error
            pass  # non-strict: not JPEG bytes → PIL/fake below
    if compression in ("jpg", "jpeg", "png"):
        try:
            from PIL import Image  # noqa: F401  (not in this image)
            import io

            return np.asarray(Image.open(io.BytesIO(payload)))
        except ImportError:
            if strict:
                raise FormatNotSupportedError(
                    f"codec {compression!r} requires Pillow, which is not installed"
                )
            return _fake_decode(payload)
    if strict:
        raise FormatNotSupportedError(f"codec {compression!r} not available")
    return _fake_decode(payload)


# ---------------------------------------------------------------- operators


def decode_images(df: DataFrame, payload_col: str = "image",
                  compression: str = "png", strict: bool = False) -> DataFrame:
    """binary payload → decoded pixel tensor + shape sibling column.

    Output schema: all input columns (minus payload) + `pixels`
    (3-D nested array) + `shape` (array<int>) — the variable-shape
    convention from SURVEY §1.4.
    """
    keep = [c for c in df.columns if c != payload_col]
    out_schema = ", ".join(f"{c} {df.schema[c].dataType.simpleString()}" for c in keep)
    out_schema += ", pixels array<array<array<int>>>, shape array<int>"

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            arrs = [_decode_one(p, compression, strict) for p in pdf[payload_col]]
            out = pdf[keep].copy()
            out["pixels"] = [a.tolist() for a in arrs]
            out["shape"] = [list(a.shape) for a in arrs]
            yield out

    return df.mapInPandas(decode, out_schema)


def image_stats(df: DataFrame, payload_col: str = "image",
                compression: str = "png", strict: bool = False) -> DataFrame:
    """Feature extraction without materializing pixels in the plan:
    per-image mean/std/shape computed inside the decode batch (the
    common training-data filter: drop broken/outlier images)."""
    keep = [c for c in df.columns if c != payload_col]
    out_schema = ", ".join(f"{c} {df.schema[c].dataType.simpleString()}" for c in keep)
    out_schema += ", height int, width int, channels int, mean double, std double"

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for p in pdf[payload_col]:
                a = _decode_one(p, compression, strict).astype(np.float64)
                rows.append((a.shape[0], a.shape[1], a.shape[2] if a.ndim == 3 else 1,
                             float(a.mean()), float(a.std())))
            out = pdf[keep].copy()
            out[["height", "width", "channels", "mean", "std"]] = pd.DataFrame(rows, index=pdf.index)
            yield out

    return df.mapInPandas(stats, out_schema)


def resize_images(df: DataFrame, height: int, width: int,
                  payload_col: str = "image", compression: str = "png",
                  strict: bool = False) -> DataFrame:
    """Decode → nearest-neighbor resize → pixels (downsampling path of
    the reference's materialized-dataset tiling/downsampling note,
    heimdall/dataset_view.hpp:22-63)."""
    keep = [c for c in df.columns if c != payload_col]
    out_schema = ", ".join(f"{c} {df.schema[c].dataType.simpleString()}" for c in keep)
    out_schema += ", pixels array<array<array<int>>>, shape array<int>"

    def rz(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            outs = []
            for p in pdf[payload_col]:
                a = _decode_one(p, compression, strict)
                ys = (np.arange(height) * a.shape[0] // height).clip(0, a.shape[0] - 1)
                xs = (np.arange(width) * a.shape[1] // width).clip(0, a.shape[1] - 1)
                outs.append(a[ys][:, xs])
            out = pdf[keep].copy()
            out["pixels"] = [a.tolist() for a in outs]
            out["shape"] = [list(a.shape) for a in outs]
            yield out

    return df.mapInPandas(rz, out_schema)


def _module_available(name: str) -> bool:
    """find_spec gate that survives monkeypatched stub modules (a bare
    types.ModuleType in sys.modules has __spec__=None, which makes
    find_spec raise ValueError)."""
    import importlib.util
    import sys

    if name in sys.modules:
        return sys.modules[name] is not None
    try:
        return importlib.util.find_spec(name) is not None
    except (ImportError, ValueError):
        return False


def _decode_video_frames_av(payload: bytes, every_n: int) -> list[tuple[int, np.ndarray]]:
    """REAL video decode via PyAV (import-gated by the caller): every
    `every_n`-th frame as (frame_index, HxWx3 uint8 RGB)."""
    import io

    import av

    out: list[tuple[int, np.ndarray]] = []
    with av.open(io.BytesIO(bytes(payload))) as container:
        for i, frame in enumerate(container.decode(video=0)):
            if i % every_n == 0:
                out.append((i, np.asarray(frame.to_ndarray(format="rgb24"))))
    return out


def _decode_video_frames_avi(payload: bytes,
                             every_n: int) -> list[tuple[int, np.ndarray]]:
    """REAL video decode for AVI — stdlib/numpy only: the RIFF container
    walk is ~30 lines of struct. Two in-container codecs: every '00dc'
    JPEG chunk goes to the in-repo JPEG decoder (operators/_jpeg.py,
    baseline + progressive + restart markers), and uncompressed-DIB
    '00db' chunks (BI_RGB 24-bit, the raw-capture interchange format)
    decode as bottom-up BGR rows with 4-byte row padding straight from
    the strf BITMAPINFOHEADER. MJPEG is the classic capture/surveillance
    format, so the video lane has a real in-container decode path
    exactly like images (PNG/JPEG) and audio (WAV) do; h264/mp4 stays
    PyAV-gated."""
    from deeplake_spark.operators._jpeg import decode_baseline

    data = bytes(payload)
    if data[:4] != b"RIFF" or data[8:12] != b"AVI ":
        raise ValueError("not an AVI payload")

    def find_list(kind: bytes, pos: int, end: int) -> tuple[int, int] | None:
        while pos + 8 <= end:
            cid = data[pos:pos + 4]
            (ln,) = struct.unpack_from("<I", data, pos + 4)
            if cid == b"LIST":
                if data[pos + 8:pos + 12] == kind:
                    return pos + 12, pos + 8 + ln
                inner = find_list(kind, pos + 12, pos + 8 + ln)
                if inner:
                    return inner
            pos += 8 + ln + (ln & 1)  # chunks are word-aligned
        return None

    # strf BITMAPINFOHEADER of the vids stream: (width, height, bitcount,
    # compression) — needed only for raw-DIB frames
    dib: tuple[int, int, int, int] | None = None
    hdrl = find_list(b"hdrl", 12, len(data))
    if hdrl:
        strl = find_list(b"strl", *hdrl)
        if strl:
            pos, end = strl
            is_vids = False
            while pos + 8 <= end:
                cid = data[pos:pos + 4]
                (ln,) = struct.unpack_from("<I", data, pos + 4)
                body = data[pos + 8:pos + 8 + ln]
                pos += 8 + ln + (ln & 1)
                if cid == b"strh":
                    is_vids = body[:4] == b"vids"
                elif cid == b"strf" and is_vids and ln >= 20:
                    w, h = struct.unpack_from("<ii", body, 4)
                    (bits,) = struct.unpack_from("<H", body, 14)
                    comp = body[16:20]
                    dib = (w, h, bits, 0 if comp == b"\x00\x00\x00\x00"
                           else 1)

    def decode_dib(body: bytes) -> np.ndarray:
        if dib is None or dib[3] != 0 or dib[2] != 24:
            raise ValueError("unsupported uncompressed-DIB AVI stream")
        w, h = dib[0], abs(dib[1])
        stride = (w * 3 + 3) & ~3  # rows padded to 4 bytes
        if len(body) < stride * h:
            raise ValueError("truncated DIB frame")
        rows = np.frombuffer(body[:stride * h], dtype=np.uint8)
        rows = rows.reshape(h, stride)[:, :w * 3].reshape(h, w, 3)
        if dib[1] > 0:  # positive biHeight = bottom-up
            rows = rows[::-1]
        return rows[:, :, ::-1].copy()  # BGR → RGB

    movi = find_list(b"movi", 12, len(data))
    if movi is None:
        raise ValueError("AVI missing movi list")
    pos, end = movi
    out: list[tuple[int, np.ndarray]] = []
    idx = 0
    while pos + 8 <= end:
        cid = data[pos:pos + 4]
        (ln,) = struct.unpack_from("<I", data, pos + 4)
        body = data[pos + 8:pos + 8 + ln]
        pos += 8 + ln + (ln & 1)
        if cid[2:4] in (b"dc", b"db"):  # compressed / uncompressed DIB
            if idx % every_n == 0:
                if body.startswith(b"\xff\xd8"):
                    frame = decode_baseline(body)
                    if frame.ndim == 2:  # grayscale clip → stack to HxWx3
                        frame = np.repeat(frame[:, :, None], 3, axis=2)
                elif cid[2:4] == b"db":
                    frame = decode_dib(body)
                else:
                    raise ValueError("non-MJPEG compressed AVI stream")
                out.append((idx, frame))
            idx += 1
    return out


def encode_mjpeg_avi(frames: list, fps: int = 10,
                     subsampling: str = "420") -> bytes:
    """Encode (h, w, 3) uint8 frames as an MJPEG AVI (RIFF) — the
    writer half of the real video lane, so round-trip tests need no
    third-party codec. Each frame is one baseline JPEG '00dc' chunk."""
    from deeplake_spark.operators._jpeg import encode_baseline

    if not frames:
        raise ValueError("avi encode requires at least one frame")
    frames = [np.asarray(f, dtype=np.uint8) for f in frames]
    h, w = frames[0].shape[:2]
    payloads = [encode_baseline(f, subsampling=subsampling) for f in frames]

    def chunk(cid: bytes, body: bytes) -> bytes:
        pad = b"\x00" if len(body) & 1 else b""
        return cid + struct.pack("<I", len(body)) + body + pad

    def lst(kind: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", kind + body)

    avih = struct.pack("<14I", 1_000_000 // fps, 0, 0, 0x10, len(frames),
                       0, 1, 0, w, h, 0, 0, 0, 0)
    strh = (b"vids" + b"MJPG" + struct.pack("<IHHIIIIIIII", 0, 0, 0, 0,
                                            1, fps, 0, len(frames), 0,
                                            10_000, 0)
            + struct.pack("<4H", 0, 0, w, h))
    strf = struct.pack("<IiiHH4sIiiII", 40, w, h, 1, 24, b"MJPG",
                       w * h * 3, 0, 0, 0, 0)
    hdrl = lst(b"hdrl", chunk(b"avih", avih)
               + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)))
    movi = lst(b"movi", b"".join(chunk(b"00dc", p) for p in payloads))
    body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body


def encode_dib_avi(frames: list, fps: int = 10) -> bytes:
    """Encode (h, w, 3) uint8 frames as an UNCOMPRESSED-DIB AVI (BI_RGB
    24-bit '00db' chunks, bottom-up BGR rows padded to 4 bytes) — the
    second real in-container video codec alongside MJPEG, losslessly
    round-trippable with zero third-party deps."""
    if not frames:
        raise ValueError("avi encode requires at least one frame")
    frames = [np.asarray(f, dtype=np.uint8) for f in frames]
    h, w = frames[0].shape[:2]
    stride = (w * 3 + 3) & ~3

    def dib_body(f: np.ndarray) -> bytes:
        rows = np.zeros((h, stride), dtype=np.uint8)
        rows[:, :w * 3] = f[::-1, :, ::-1].reshape(h, w * 3)  # bottom-up BGR
        return rows.tobytes()

    payloads = [dib_body(f) for f in frames]

    def chunk(cid: bytes, body: bytes) -> bytes:
        pad = b"\x00" if len(body) & 1 else b""
        return cid + struct.pack("<I", len(body)) + body + pad

    def lst(kind: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", kind + body)

    avih = struct.pack("<14I", 1_000_000 // fps, 0, 0, 0x10, len(frames),
                       0, 1, 0, w, h, 0, 0, 0, 0)
    strh = (b"vids" + b"DIB " + struct.pack("<IHHIIIIIIII", 0, 0, 0, 0,
                                            1, fps, 0, len(frames), 0,
                                            stride * h, 0)
            + struct.pack("<4H", 0, 0, w, h))
    strf = struct.pack("<IiiHH4sIiiII", 40, w, h, 1, 24,
                       b"\x00\x00\x00\x00", stride * h, 0, 0, 0, 0)
    hdrl = lst(b"hdrl", chunk(b"avih", avih)
               + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)))
    movi = lst(b"movi", b"".join(chunk(b"00db", p) for p in payloads))
    body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _decode_video_frames_mp4(payload: bytes,
                             every_n: int) -> list[tuple[int, np.ndarray]]:
    """REAL video decode for mp4 (ISO-BMFF) carrying MOTION-JPEG
    samples — the same trick the AVI path uses, moved to the other
    mainstream container: a stdlib box walk (ftyp/moov/trak/mdia/minf/
    stbl → stsd + stsz + stsc + stco/co64) reconstructs per-sample
    file offsets, and every sampled frame goes to the in-repo JPEG
    decoder (operators/_jpeg.py). Accepted sample-entry fourccs:
    'jpeg' (MP4/QuickTime motion-JPEG), 'mjpg'/'MJPG', 'mjpa'. Any
    other codec (avc1/hev1/...) raises ValueError so the caller's
    documented hierarchy (PyAV → deterministic fake) takes over —
    an H.264 entropy decoder is genuinely out of stdlib scope
    (reference Video htype decodes via ffmpeg,
    python/deeplake/types.pyi:1310-1361)."""
    from deeplake_spark.operators._jpeg import decode_baseline

    data = bytes(payload)
    if len(data) < 12 or data[4:8] != b"ftyp":
        raise ValueError("not an ISO-BMFF payload")

    def boxes(pos: int, end: int):
        while pos + 8 <= end:
            (size,) = struct.unpack_from(">I", data, pos)
            btype = data[pos + 4:pos + 8]
            hdr = 8
            if size == 1:
                if pos + 16 > end:
                    raise ValueError("malformed mp4 largesize box")
                (size,) = struct.unpack_from(">Q", data, pos + 8)
                hdr = 16
            elif size == 0:
                size = end - pos
            if size < hdr or pos + size > end:
                raise ValueError("malformed mp4 box")
            yield btype, pos + hdr, pos + size
            pos += size

    def child(kind: bytes, pos: int, end: int) -> tuple[int, int] | None:
        for t, s, e in boxes(pos, end):
            if t == kind:
                return s, e
        return None

    moov = child(b"moov", 0, len(data))
    if moov is None:
        raise ValueError("mp4 missing moov")

    def parse_stbl(s: int, e: int):
        fmt = sizes = stsc = stco = None
        for t, bs, be in boxes(s, e):
            if t == b"stsd":
                (count,) = struct.unpack_from(">I", data, bs + 4)
                if count >= 1:
                    fmt = data[bs + 12:bs + 16]
            elif t == b"stsz":
                uniform, n = struct.unpack_from(">II", data, bs + 4)
                if uniform:
                    sizes = [uniform] * n
                else:
                    sizes = list(struct.unpack_from(f">{n}I", data,
                                                    bs + 12))
            elif t == b"stsc":
                (n,) = struct.unpack_from(">I", data, bs + 4)
                stsc = [struct.unpack_from(">III", data, bs + 8 + 12 * i)
                        for i in range(n)]
            elif t == b"stco":
                (n,) = struct.unpack_from(">I", data, bs + 4)
                stco = list(struct.unpack_from(f">{n}I", data, bs + 8))
            elif t == b"co64":
                (n,) = struct.unpack_from(">I", data, bs + 4)
                stco = list(struct.unpack_from(f">{n}Q", data, bs + 8))
        return fmt, sizes, stsc, stco

    found = None
    bad_video_fmt = None
    for t, s, e in boxes(*moov):
        if t != b"trak":
            continue
        mdia = child(b"mdia", s, e)
        if not mdia:
            continue
        # only VIDEO traks participate: an audio/hint trak listed
        # before the video trak (the common ffmpeg layout) must be
        # skipped, not mistaken for a non-MJPEG video stream
        hdlr = child(b"hdlr", *mdia)
        if hdlr is not None and data[hdlr[0] + 8:hdlr[0] + 12] != b"vide":
            continue
        minf = child(b"minf", *mdia)
        stbl = minf and child(b"stbl", *minf)
        if not stbl:
            continue
        fmt, sizes, stsc, stco = parse_stbl(*stbl)
        if fmt is None or sizes is None or stsc is None or stco is None:
            continue
        if fmt.lower() in (b"jpeg", b"mjpg", b"mjpa"):
            found = (sizes, stsc, stco)
            break
        if bad_video_fmt is None:
            bad_video_fmt = fmt
    if found is None:
        if bad_video_fmt is not None:
            raise ValueError(
                f"non-MJPEG mp4 video stream {bad_video_fmt!r}")
        raise ValueError("mp4 has no MJPEG video track")
    sizes, stsc, stco = found

    # expand the stsc runs: entry (first_chunk, samples_per_chunk, _)
    # applies from first_chunk until the next entry's first_chunk
    out: list[tuple[int, np.ndarray]] = []
    sample = 0
    for ci, base in enumerate(stco):
        spc = 1
        for first, per, _desc in stsc:
            if first <= ci + 1:
                spc = per
            else:
                break
        off = base
        for _ in range(spc):
            if sample >= len(sizes):
                break
            body = data[off:off + sizes[sample]]
            if sample % every_n == 0:
                if not body.startswith(b"\xff\xd8"):
                    raise ValueError("mp4 MJPEG sample is not a JPEG")
                frame = decode_baseline(body)
                if frame.ndim == 2:
                    frame = np.repeat(frame[:, :, None], 3, axis=2)
                out.append((sample, frame))
            off += sizes[sample]
            sample += 1
    return out


def encode_mjpeg_mp4(frames: list, fps: int = 10,
                     subsampling: str = "420") -> bytes:
    """Encode (h, w, 3) uint8 frames as an MJPEG mp4 (ISO-BMFF) — the
    writer half of the mp4 lane, so round-trip tests need no
    third-party codec. ftyp + mdat (one baseline JPEG per sample) +
    moov written last so the stco chunk offsets are known; each frame
    is its own chunk, so the decoder's stsc/stco expansion is
    exercised for real."""
    from deeplake_spark.operators._jpeg import encode_baseline

    if not frames:
        raise ValueError("mp4 encode requires at least one frame")
    frames = [np.asarray(f, dtype=np.uint8) for f in frames]
    h, w = frames[0].shape[:2]
    payloads = [encode_baseline(f, subsampling=subsampling) for f in frames]
    n = len(payloads)

    def box(t: bytes, body: bytes) -> bytes:
        return struct.pack(">I", len(body) + 8) + t + body

    def full(t: bytes, version: int, flags: int, body: bytes) -> bytes:
        return box(t, struct.pack(">I", (version << 24) | flags) + body)

    ftyp = box(b"ftyp", b"isom" + struct.pack(">I", 0x200)
               + b"isom" + b"mp41")
    mdat = box(b"mdat", b"".join(payloads))
    base = len(ftyp) + 8                  # first sample's file offset
    offsets = []
    acc = base
    for p in payloads:
        offsets.append(acc)
        acc += len(p)

    matrix = struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0,
                         0x40000000)
    mvhd = full(b"mvhd", 0, 0, struct.pack(
        ">IIII", 0, 0, fps, n) + struct.pack(">IHH", 0x10000, 0x100, 0)
        + b"\x00" * 8 + matrix + b"\x00" * 24 + struct.pack(">I", 2))
    tkhd = full(b"tkhd", 0, 7, struct.pack(">IIII", 0, 0, 1, 0)
                + struct.pack(">I", n) + b"\x00" * 8
                + struct.pack(">HHHH", 0, 0, 0, 0) + matrix
                + struct.pack(">II", w << 16, h << 16))
    mdhd = full(b"mdhd", 0, 0, struct.pack(">IIIIHH", 0, 0, fps, n,
                                           0x55C4, 0))
    hdlr = full(b"hdlr", 0, 0, struct.pack(">I", 0) + b"vide"
                + b"\x00" * 12 + b"VideoHandler\x00")
    vmhd = full(b"vmhd", 0, 1, struct.pack(">HHHH", 0, 0, 0, 0))
    dref = full(b"dref", 0, 0, struct.pack(">I", 1)
                + full(b"url ", 0, 1, b""))
    dinf = box(b"dinf", dref)
    entry = box(b"jpeg", b"\x00" * 6 + struct.pack(">H", 1)
                + b"\x00" * 16 + struct.pack(">HH", w, h)
                + struct.pack(">II", 0x480000, 0x480000)
                + struct.pack(">I", 0) + struct.pack(">H", 1)
                + b"\x00" * 32 + struct.pack(">Hh", 24, -1))
    stsd = full(b"stsd", 0, 0, struct.pack(">I", 1) + entry)
    stts = full(b"stts", 0, 0, struct.pack(">III", 1, n, 1))
    stsc = full(b"stsc", 0, 0, struct.pack(">I", 1)
                + struct.pack(">III", 1, 1, 1))
    stsz = full(b"stsz", 0, 0, struct.pack(">II", 0, n)
                + struct.pack(f">{n}I", *[len(p) for p in payloads]))
    stco = full(b"stco", 0, 0, struct.pack(">I", n)
                + struct.pack(f">{n}I", *offsets))
    stbl = box(b"stbl", stsd + stts + stsc + stsz + stco)
    minf = box(b"minf", vmhd + dinf + stbl)
    mdia = box(b"mdia", mdhd + hdlr + minf)
    trak = box(b"trak", tkhd + mdia)
    moov = box(b"moov", mvhd + trak)
    return ftyp + mdat + moov


def _video_frames(payload: bytes, every_n: int, strict: bool) -> list[tuple[int, np.ndarray]]:
    """Per-payload frame extraction: MJPEG-AVI, uncompressed-DIB AVI
    and MJPEG-mp4 decode for REAL (stdlib RIFF/ISO-BMFF walks + the
    in-repo JPEG decoder); a container carrying any other codec falls
    through to PyAV/fake unless strict; other containers go to PyAV
    when the lib is present (decode errors fall back to the fake
    unless strict); deterministic 8-frame fake clip otherwise."""
    # JpegUnsupported too: an 'mjpa' sample can carry out-of-subset JPEG
    # features (hierarchical, >2x2 sampling) — those must take the same
    # documented PyAV/fake fallback as a non-MJPEG codec, not escape
    from deeplake_spark.operators._jpeg import JpegUnsupported

    if bytes(payload[:6]) in (b"GIF87a", b"GIF89a"):
        # animated GIF = a real video container in web corpora; frames
        # composite on the canvas (operators/_gif.py). Truncated/corrupt
        # payloads raise struct.error/IndexError from the binary walk —
        # catch Exception like the image path so non-strict falls back
        try:
            from deeplake_spark.operators._gif import (
                GifUnsupported,
                decode_gif,
            )

            frames = decode_gif(payload)
            return [(i, f[..., :3]) for i, (f, _delay) in
                    enumerate(frames) if i % every_n == 0]
        except GifUnsupported:
            # in-scope-boundary variant (restore-to-previous disposal):
            # same fallthrough as the image path's _decode_one — the
            # PyAV/fake chain below, FormatNotSupportedError in strict
            # mode without the lib (NOT a re-raise: the two entry
            # points must surface the same condition the same way)
            pass
        except Exception:
            if strict:
                raise  # corrupt payload is a real decode error
    if bytes(payload[:4]) == b"RIFF" and bytes(payload[8:12]) == b"AVI ":
        try:
            return _decode_video_frames_avi(payload, every_n)
        except (ValueError, JpegUnsupported):
            if strict:
                raise
    if len(payload) >= 12 and bytes(payload[4:8]) == b"ftyp":
        try:
            return _decode_video_frames_mp4(payload, every_n)
        except (ValueError, JpegUnsupported):
            if strict:
                raise
    if _module_available("av"):
        try:
            return _decode_video_frames_av(payload, every_n)
        except Exception:
            if strict:
                raise
    elif strict:
        raise FormatNotSupportedError("video decode requires PyAV/ffmpeg")
    return [
        (i, _fake_decode(bytes(payload) + i.to_bytes(2, "little")))
        for i in range(0, 8, every_n)
    ]


def sample_video_frames(df: DataFrame, every_n: int, payload_col: str = "video",
                        id_col: str = "doc_id", strict: bool = False) -> DataFrame:
    """Frame sampling: video payload → one row per sampled frame
    (frame_index + frame tensor). With PyAV present the real ffmpeg
    decode runs; without it the fake codec treats the payload as an
    8-frame clip. The explode happens Python-side per batch, keeping
    output rows partition-local."""
    out_schema = f"{id_col} bigint, frame_index int, frame array<array<array<int>>>"

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, frames = [], [], []
            for key, p in zip(pdf[id_col], pdf[payload_col]):
                for i, arr in _video_frames(p, every_n, strict):
                    ids.append(key)
                    idxs.append(i)
                    frames.append(arr.tolist())
            yield pd.DataFrame({id_col: ids, "frame_index": idxs, "frame": frames})

    return df.mapInPandas(sample, out_schema)


def with_payload_from_text(df: DataFrame, text_col: str = "text",
                           payload_col: str = "image") -> DataFrame:
    """Test helper: synthesize a binary payload column from text (the
    testdata has no blob columns; payload bytes are deterministic)."""
    return df.withColumn(payload_col, F.encode(F.sha2(F.col(text_col), 256), "utf-8").cast("binary"))


def _fake_decode_audio(payload: bytes, n_samples: int = 1024) -> np.ndarray:
    """Deterministic stand-in waveform decoder (mono float32 [-1, 1])."""
    if payload is None or len(payload) == 0:
        return np.zeros(n_samples, dtype=np.float32)
    digest = hashlib.sha256(payload).digest()
    rng = np.random.default_rng(struct.unpack("<Q", digest[:8])[0])
    return (rng.random(n_samples, dtype=np.float32) * 2.0 - 1.0)


def _decode_wav(payload: bytes) -> np.ndarray:
    """REAL decoder for PCM WAV via the stdlib `wave` module: mono-mixed
    float32 in [-1, 1]. Always available — no third-party codec."""
    import io
    import wave as _wave

    with _wave.open(io.BytesIO(payload), "rb") as wf:
        n, ch, width = wf.getnframes(), wf.getnchannels(), wf.getsampwidth()
        raw = wf.readframes(n)
    if width == 2:
        a = np.frombuffer(raw, dtype="<i2").astype(np.float32) / 32768.0
    elif width == 1:
        a = (np.frombuffer(raw, dtype=np.uint8).astype(np.float32) - 128.0) / 128.0
    elif width == 4:
        a = np.frombuffer(raw, dtype="<i4").astype(np.float32) / 2147483648.0
    else:
        raise ValueError(f"unsupported WAV sample width {width}")
    if ch > 1:
        a = a.reshape(-1, ch).mean(axis=1)
    return a


def _decode_audio_soundfile(payload: bytes) -> np.ndarray:
    """REAL compressed-audio decode via soundfile (import-gated by the
    caller): mono-mixed float32 waveform."""
    import io

    import soundfile

    data, _sr = soundfile.read(io.BytesIO(bytes(payload)), dtype="float32",
                               always_2d=True)
    return np.asarray(data, dtype=np.float32).mean(axis=1).astype(np.float32)


def _audio_waveform(payload: bytes, compression: str, strict: bool) -> np.ndarray:
    """Per-payload waveform extraction: stdlib WAV always real; other
    codecs real via soundfile when present (decode errors fall back to
    the fake unless strict), deterministic fake otherwise."""
    if compression == "wav":
        return _decode_wav(payload)
    if _module_available("soundfile"):
        try:
            return _decode_audio_soundfile(payload)
        except Exception:
            if strict:
                raise
    elif strict:
        raise FormatNotSupportedError(
            f"audio codec {compression!r} requires soundfile/ffmpeg"
        )
    return _fake_decode_audio(payload)


def audio_features(df: DataFrame, payload_col: str = "audio",
                   compression: str = "mp3", strict: bool = False) -> DataFrame:
    """Audio payload → waveform features (duration proxy, rms, peak) —
    same Arrow-batched plumbing as images. PCM WAV decodes for REAL via
    the stdlib `wave` module; compressed codecs (mp3/flac) are
    import-gated on soundfile, `strict=True` raises
    NotImplementedError."""
    keep = [c for c in df.columns if c != payload_col]
    out_schema = ", ".join(f"{c} {df.schema[c].dataType.simpleString()}" for c in keep)
    out_schema += ", n_samples int, rms double, peak double"

    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for p in pdf[payload_col]:
                w = _audio_waveform(p, compression, strict)
                rows.append((len(w), float(np.sqrt((w.astype(np.float64) ** 2).mean())),
                             float(np.abs(w).max())))
            out = pdf[keep].copy()
            out[["n_samples", "rms", "peak"]] = pd.DataFrame(rows, index=pdf.index)
            yield out

    return df.mapInPandas(feats, out_schema)


def fetch_links(df: DataFrame, link_col: str = "image",
                strict: bool = False) -> DataFrame:
    """Link htype (types.pyi:1038-1058): URL/path reference column →
    payload bytes fetched executor-side in Arrow batches. Local file
    paths are read directly; remote schemes are import-gated (requests
    not in this image) — `strict=True` raises, else null payloads."""
    keep = [c for c in df.columns if c != link_col]
    out_schema = ", ".join(f"{c} {df.schema[c].dataType.simpleString()}" for c in keep)
    out_schema += f", {link_col} string, payload binary"

    def fetch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import os

        for pdf in batches:
            payloads = []
            for url in pdf[link_col]:
                if url and os.path.exists(url):
                    with open(url, "rb") as f:
                        payloads.append(f.read())
                elif url and "://" in url:
                    try:
                        import requests

                        resp = requests.get(url, timeout=5)
                        resp.raise_for_status()
                        payloads.append(resp.content)
                    except Exception:
                        if strict:
                            raise
                        payloads.append(None)  # unreachable/missing → null
                else:
                    payloads.append(None)
            out = pdf[keep].copy()
            out[link_col] = pdf[link_col]
            out["payload"] = payloads
            yield out

    return df.mapInPandas(fetch, out_schema)


# ------------------------------------------------------------ medical (nd)


_NIFTI_DTYPES = {2: np.uint8, 4: np.int16, 8: np.int32, 16: np.float32,
                 64: np.float64, 256: np.int8, 512: np.uint16, 768: np.uint32}


class _MedicalUnsupported(Exception):
    """Valid payload, but a variant outside the stdlib decoder's scope
    — falls through to pydicom/nibabel when present."""


def _decode_nifti(payload: bytes) -> np.ndarray:
    """REAL decoder for NIfTI-1 (.nii / .nii.gz): stdlib gzip + struct
    + numpy — the 348-byte fixed header (dim[8] at offset 40, datatype
    at 70, vox_offset at 108, magic 'n+1' at 344) and the raw voxel
    buffer. Handles both endiannesses (sniffed from sizeof_hdr) and
    the common scalar dtypes; anything else raises _MedicalUnsupported
    so nibabel can take over when installed. Reference Medical htype:
    python/deeplake/types.pyi:1369-1428."""
    import gzip

    if payload[:2] == b"\x1f\x8b":  # gzip magic → .nii.gz
        payload = gzip.decompress(payload)
    if len(payload) < 352:
        raise ValueError("not a NIfTI-1 payload (too short)")
    (sizeof_hdr,) = struct.unpack_from("<i", payload, 0)
    endian = "<"
    if sizeof_hdr != 348:
        (sizeof_hdr,) = struct.unpack_from(">i", payload, 0)
        if sizeof_hdr != 348:
            raise ValueError("not a NIfTI-1 payload (bad sizeof_hdr)")
        endian = ">"
    magic = payload[344:347]
    if magic not in (b"n+1", b"ni1"):
        raise ValueError("not a NIfTI-1 payload (bad magic)")
    dim = struct.unpack_from(f"{endian}8h", payload, 40)
    ndim = dim[0]
    if not 1 <= ndim <= 7:
        raise _MedicalUnsupported(f"NIfTI ndim {ndim}")
    shape = tuple(int(d) for d in dim[1 : ndim + 1])
    (datatype,) = struct.unpack_from(f"{endian}h", payload, 70)
    (vox_offset,) = struct.unpack_from(f"{endian}f", payload, 108)
    np_dtype = _NIFTI_DTYPES.get(datatype)
    if np_dtype is None:
        raise _MedicalUnsupported(f"NIfTI datatype code {datatype}")
    count = int(np.prod(shape))
    arr = np.frombuffer(payload, dtype=np.dtype(np_dtype).newbyteorder(endian),
                        count=count, offset=int(vox_offset))
    # NIfTI data is Fortran-ordered (fastest-varying dim first)
    return arr.reshape(shape, order="F")


# DICOM (NEMA PS3.10 file format / PS3.5 encoding) — from-scratch
# decoder for the uncompressed little-endian transfer syntaxes, the
# same stdlib struct+numpy protocol as _decode_nifti. Compressed /
# exotic syntaxes raise _MedicalUnsupported and fall through to
# pydicom when installed. Reference Medical htype:
# python/deeplake/types.pyi:1369-1428, cpp/deeplake_core/medical_type.hpp.

_DICOM_IMPLICIT_LE = "1.2.840.10008.1.2"
_DICOM_EXPLICIT_LE = "1.2.840.10008.1.2.1"
_DICOM_EXPLICIT_BE = "1.2.840.10008.1.2.2"  # retired; byteswapped walk
_DICOM_RLE = "1.2.840.10008.1.2.5"  # RLE Lossless, PS3.5 Annex G
# Encapsulated-JPEG transfer syntaxes (PS3.5 A.4.1) routed to the
# in-repo T.81 decoder (operators/_jpeg.py): baseline Process 1 is the
# most common compressed DICOM in real PACS exports; .4.51 is the
# 12-bit extended DCT flavor (SOF1); .4.57/.4.70 are lossless SOF3
# (Process 14 / 14-SV1 — the decoder takes any predictor, so both UIDs
# share a lane). JPEG hierarchical (SOF11) and J2K stay unsupported —
# COVERAGE.md "considered and excluded".
_DICOM_JPEG_BASELINE = "1.2.840.10008.1.2.4.50"
_DICOM_JPEG_EXTENDED = "1.2.840.10008.1.2.4.51"
_DICOM_JPEG_LOSSLESS = "1.2.840.10008.1.2.4.57"
_DICOM_JPEG_LOSSLESS_SV1 = "1.2.840.10008.1.2.4.70"
_DICOM_JPEG_SYNTAXES = {_DICOM_JPEG_BASELINE, _DICOM_JPEG_EXTENDED,
                        _DICOM_JPEG_LOSSLESS, _DICOM_JPEG_LOSSLESS_SV1}
# VRs using the 4-byte length form (2 reserved bytes + uint32), PS3.5 §7.1.2
_DICOM_LONG_VRS = {b"OB", b"OD", b"OF", b"OL", b"OV", b"OW", b"SQ",
                   b"SV", b"UC", b"UN", b"UR", b"UT", b"UV"}
_DICOM_SHORT_VRS = {b"AE", b"AS", b"AT", b"CS", b"DA", b"DS", b"DT",
                    b"FL", b"FD", b"IS", b"LO", b"LT", b"PN", b"SH",
                    b"SL", b"SS", b"ST", b"TM", b"UI", b"UL", b"US"}


def _dicom_walk(payload: bytes, pos: int, end: int, explicit: bool,
                collect: dict | None, endian: str = "<",
                frames_out: list | None = None) -> int:
    """Walk one dataset scope in payload[pos:end]; fill `collect`
    (tag → value bytes) for top-level elements. Sequence bodies are
    skipped (defined length: by length; undefined length: by item walk,
    recursing for undefined-length items). ``endian`` byteswaps tags
    and lengths for the retired explicit-VR big-endian syntax. With
    ``frames_out`` (the RLE and encapsulated-JPEG lanes), an
    undefined-length PixelData is
    parsed as PS3.5 A.4 encapsulation — one fragment item per frame
    appended to the list — instead of raising. Returns the position
    after the scope — end of buffer, or just past an item/sequence
    delimiter when called for a nested scope."""
    while pos + 8 <= end:
        group, elem = struct.unpack_from(endian + "HH", payload, pos)
        tag = (group, elem)
        if tag in ((0xFFFE, 0xE00D), (0xFFFE, 0xE0DD)):
            return pos + 8  # item / sequence delimitation (zero length)
        if tag == (0xFFFE, 0xE000):  # item header inside a sequence body
            (length,) = struct.unpack_from(endian + "I", payload, pos + 4)
            pos += 8
            pos = (_dicom_walk(payload, pos, end, explicit, None, endian)
                   if length == 0xFFFFFFFF else pos + length)
            continue
        if explicit:
            vr = payload[pos + 4:pos + 6]
            if vr in _DICOM_LONG_VRS:
                (length,) = struct.unpack_from(endian + "I", payload, pos + 8)
                vpos = pos + 12
            else:
                (length,) = struct.unpack_from(endian + "H", payload, pos + 6)
                vpos = pos + 8
        else:
            (length,) = struct.unpack_from(endian + "I", payload, pos + 4)
            vpos = pos + 8
        if length == 0xFFFFFFFF:  # undefined length
            if tag == (0x7FE0, 0x0010):
                if frames_out is None:
                    raise _MedicalUnsupported(
                        "encapsulated (compressed) DICOM PixelData")
                pos = _dicom_encap_items(payload, vpos, end, frames_out)
                continue
            pos = _dicom_walk(payload, vpos, end, explicit, None, endian)
            continue
        if vpos + length > end:
            raise ValueError("DICOM element overruns payload")
        if collect is not None and tag in collect:
            collect[tag] = payload[vpos:vpos + length]
        pos = vpos + length
    return pos


def _dicom_encap_items(payload: bytes, pos: int, end: int,
                       frames_out: list) -> int:
    """Encapsulated-PixelData item walk (PS3.5 A.4): a Basic Offset
    Table item (possibly empty — skipped; fragments are delimited by
    their own item headers so the table is redundant here), then one
    defined-length fragment item per frame, terminated by the sequence
    delimiter. Item tags/lengths are always little-endian (every
    encapsulated transfer syntax is explicit-VR LE)."""
    first = True
    while pos + 8 <= end:
        group, elem = struct.unpack_from("<HH", payload, pos)
        if (group, elem) == (0xFFFE, 0xE0DD):
            return pos + 8
        if (group, elem) != (0xFFFE, 0xE000):
            raise ValueError("malformed encapsulated DICOM PixelData")
        (length,) = struct.unpack_from("<I", payload, pos + 4)
        pos += 8
        if length == 0xFFFFFFFF or pos + length > end:
            raise ValueError("encapsulated DICOM item overruns payload")
        if first:
            first = False  # Basic Offset Table
        else:
            frames_out.append(payload[pos:pos + length])
        pos += length
    raise ValueError("unterminated encapsulated DICOM PixelData")


def _packbits_decode(data: bytes, pos: int, end: int, out_len: int) -> bytes:
    """PS3.5 G.3.1 byte decoder (the TIFF PackBits scheme): control
    byte n<128 → copy the next n+1 literal bytes; n>128 → replicate the
    next byte 257−n times; n==128 → no-op."""
    out = bytearray()
    while pos < end and len(out) < out_len:
        n = data[pos]
        pos += 1
        if n < 128:
            if pos + n + 1 > end:
                raise ValueError("RLE literal run overruns segment")
            out += data[pos:pos + n + 1]
            pos += n + 1
        elif n > 128:
            if pos >= end:
                raise ValueError("RLE replicate run overruns segment")
            out += data[pos:pos + 1] * (257 - n)
            pos += 1
    if len(out) < out_len:
        raise ValueError("RLE segment decodes short")
    return bytes(out[:out_len])


def _decode_rle_frame(frame: bytes, rows: int, cols: int, samples: int,
                      base: np.dtype) -> np.ndarray:
    """One RLE-lossless frame (PS3.5 Annex G): a 64-byte header (uint32
    LE segment count + 15 offsets), then PackBits segments — one byte
    plane of the Composite Pixel Code each, MSB first per sample.
    Returns (rows, cols) or (rows, cols, samples)."""
    base = np.dtype(base)
    itemsize = base.itemsize
    if len(frame) < 64:
        raise ValueError("RLE frame shorter than its 64-byte header")
    header = struct.unpack_from("<16I", frame, 0)
    nseg = header[0]
    if nseg != samples * itemsize or not 1 <= nseg <= 15:
        raise ValueError(
            f"RLE segment count {nseg} != SamplesPerPixel*bytes "
            f"({samples}*{itemsize})")
    offs = list(header[1:1 + nseg]) + [len(frame)]
    plane_len = rows * cols
    planes = [np.frombuffer(
        _packbits_decode(frame, offs[i], min(offs[i + 1], len(frame)),
                         plane_len), dtype=np.uint8)
        for i in range(nseg)]
    uns = np.dtype({1: np.uint8, 2: np.uint16, 4: np.uint32}[itemsize])
    vals = np.empty((plane_len, samples), dtype=base)
    k = 0
    for s in range(samples):
        acc = np.zeros(plane_len, dtype=np.uint64)
        for _b in range(itemsize):
            acc = (acc << np.uint64(8)) | planes[k]
            k += 1
        vals[:, s] = acc.astype(uns).view(base)
    if samples > 1:
        return vals.reshape(rows, cols, samples)
    return vals[:, 0].reshape(rows, cols)


def _decode_jpeg_frames(frames_items: list, frames: int, rows: int,
                        cols: int, samples: int, base: np.dtype,
                        dct: bool, photometric: str) -> np.ndarray:
    """Encapsulated-JPEG pixel decode (PS3.5 A.4.1) through the in-repo
    T.81 codec (operators/_jpeg.py — SOF0 baseline, SOF1 12-bit
    extended, SOF2 progressive, SOF3 lossless): a SINGLE-frame image
    may split one JPEG stream across several fragments (concatenated —
    the fixed-size-fragment layout real exporters emit); a MULTI-frame
    image must carry exactly one fragment per frame. A mismatched
    fragment count is a LIMITATION here, not malformation — PS3.5 A.4
    allows a frame to span fragments (grouped by the Basic Offset
    Table), so it raises _MedicalUnsupported and pydicom gets its
    chance (r15 review: a ValueError used to bypass the fallthrough
    and hand strict mode a hard failure on a legal file). Frame shape
    must match the DICOM image-pixel header; a decoded sample width
    NARROWER than BitsAllocated widens (JPEG precision tracks
    BitsStored — 8-in-16-bit files are legal), sign-extending at the
    decoded width first when PixelRepresentation=1 (the pydicom
    pixel_array convention); wider is unsupported, pydicom decides.
    For the DCT syntaxes the codec inverse-YCbCr-transforms every
    3-component frame, so a PhotometricInterpretation that says the
    stored components are NOT YBR (e.g. RGB — legal per PS3.3
    C.7.6.3.1.2) is unsupported rather than silently scrambled; the
    lossless lane applies no transform and returns any photometric
    as stored. JPEG features the codec lacks (SOF11 hierarchical,
    4-component color) likewise surface as _MedicalUnsupported —
    the pydicom/fake fallthrough, never a wrong array."""
    from deeplake_spark.operators import _jpeg

    if not frames_items:
        raise _MedicalUnsupported(
            "JPEG DICOM without encapsulated fragments "
            "(defined-length PixelData)")
    if dct and samples == 3 and photometric \
            and not photometric.startswith("YBR"):
        raise _MedicalUnsupported(
            f"JPEG DICOM PhotometricInterpretation {photometric} "
            "(DCT lane decodes YBR only)")
    if frames <= 1:
        streams = [b"".join(frames_items)]
    elif len(frames_items) == frames:
        streams = frames_items
    else:
        raise _MedicalUnsupported(
            f"JPEG DICOM NumberOfFrames {frames} != "
            f"{len(frames_items)} encapsulated fragments "
            "(frames spanning fragments need the Basic Offset Table)")
    base = np.dtype(base)
    decoded = []
    for s in streams:
        try:
            d = _jpeg.decode_baseline(bytes(s))
        except _jpeg.JpegUnsupported as e:
            raise _MedicalUnsupported(f"DICOM JPEG: {e}") from e
        if d.shape[:2] != (rows, cols):
            raise ValueError(
                f"JPEG frame {d.shape[:2]} contradicts DICOM "
                f"Rows/Columns ({rows}, {cols})")
        nc = d.shape[2] if d.ndim == 3 else 1
        if nc != samples:
            raise ValueError(
                f"JPEG {nc}-component frame contradicts DICOM "
                f"SamplesPerPixel {samples}")
        if d.dtype.itemsize > base.itemsize:
            raise _MedicalUnsupported(
                f"JPEG sample width {d.dtype.itemsize * 8} exceeds "
                f"DICOM BitsAllocated {base.itemsize * 8}")
        if base.kind == "i":
            d = d.view(np.dtype(f"i{d.dtype.itemsize}"))
        if d.dtype.itemsize < base.itemsize:
            d = d.astype(base)
        decoded.append(d)
    return np.stack(decoded) if len(decoded) > 1 else decoded[0]


def _decode_dicom(payload: bytes) -> np.ndarray:
    """REAL decoder for uncompressed DICOM (PS3.10 part-10 files and
    raw datasets) plus RLE Lossless: preamble+DICM sniff, explicit-VR
    file meta walk for the TransferSyntaxUID, then an explicit- or
    implicit-VR element walk (little- or big-endian) to Rows/Columns/
    BitsAllocated/PixelRepresentation/SamplesPerPixel/NumberOfFrames
    and the PixelData buffer — native for implicit/explicit LE,
    explicit BE (retired .1.2.2, a byteswapped walk), RLE Lossless
    (.1.2.5, PS3.5 Annex G PackBits segments) and the encapsulated
    JPEG families (.4.50 baseline / .4.51 12-bit extended / .4.57 +
    .4.70 lossless SOF3) through the in-repo T.81 codec. Remaining
    compressed syntaxes (J2K, JPEG-LS, hierarchical) raise
    _MedicalUnsupported (pydicom fallthrough, the nibabel
    convention).

    Raw datasets carry no TransferSyntaxUID, so the VR mode is
    sniffed. The sniff is a TRIAL, not a commitment (ADVICE r13): in
    an implicit-VR dataset bytes 4:6 are the LOW half of the first
    element's uint32 length and can spell a valid VR by accident
    (length 0x4144 reads as "DA"), so when both readings are
    plausible the explicit parse runs first and a failure falls back
    to the implicit parse — only an exhausted candidate list raises."""
    payload = bytes(payload)
    if len(payload) >= 132 and payload[128:132] == b"DICM":
        pos, end = 132, len(payload)
        ts = None
        while pos + 8 <= end:  # file meta group: always explicit VR LE
            group, _elem = struct.unpack_from("<HH", payload, pos)
            if group != 0x0002:
                break
            vr = payload[pos + 4:pos + 6]
            if vr in _DICOM_LONG_VRS:
                (length,) = struct.unpack_from("<I", payload, pos + 8)
                vpos = pos + 12
            else:
                (length,) = struct.unpack_from("<H", payload, pos + 6)
                vpos = pos + 8
            if (group, _elem) == (0x0002, 0x0010):
                ts = (payload[vpos:vpos + length]
                      .rstrip(b"\x00 ").decode("ascii", "replace"))
            pos = vpos + length
        if ts is None:
            raise ValueError("DICOM file meta missing TransferSyntaxUID")
        # (explicit, endian, codec) per transfer syntax — authoritative,
        # no sniff fallback for part-10 files
        if ts == _DICOM_EXPLICIT_LE:
            modes = [(True, "<", None)]
        elif ts == _DICOM_IMPLICIT_LE:
            modes = [(False, "<", None)]
        elif ts == _DICOM_EXPLICIT_BE:
            modes = [(True, ">", None)]
        elif ts == _DICOM_RLE:
            modes = [(True, "<", "rle")]
        elif ts in (_DICOM_JPEG_BASELINE, _DICOM_JPEG_EXTENDED):
            modes = [(True, "<", "jpeg-dct")]
        elif ts in (_DICOM_JPEG_LOSSLESS, _DICOM_JPEG_LOSSLESS_SV1):
            modes = [(True, "<", "jpeg-ll")]
        else:
            raise _MedicalUnsupported(f"DICOM transfer syntax {ts}")
    elif len(payload) >= 8:
        pos, end = 0, len(payload)
        group, _ = struct.unpack_from("<HH", payload, 0)
        plausible_group = group in (0x0008, 0x0010, 0x0018, 0x0020,
                                    0x0028, 0x7FE0)
        modes = []
        if payload[4:6] in _DICOM_SHORT_VRS | _DICOM_LONG_VRS:
            modes.append((True, "<", None))
        if plausible_group:
            modes.append((False, "<", None))
        if not modes:
            raise ValueError("not a DICOM payload")
    else:
        raise ValueError("not a DICOM payload (too short)")

    err: Exception | None = None
    for explicit, endian, codec in modes:
        try:
            return _dicom_extract(payload, pos, end, explicit, endian, codec)
        except _MedicalUnsupported:
            raise
        except (ValueError, struct.error) as e:
            err = e
    if isinstance(err, ValueError):
        raise err
    raise ValueError(f"DICOM parse failed: {err}")


def _dicom_extract(payload: bytes, pos: int, end: int, explicit: bool,
                   endian: str, codec: str | None) -> np.ndarray:
    want: dict = {
        (0x0028, 0x0002): None,  # SamplesPerPixel US
        (0x0028, 0x0004): None,  # PhotometricInterpretation CS
        (0x0028, 0x0008): None,  # NumberOfFrames IS
        (0x0028, 0x0010): None,  # Rows US
        (0x0028, 0x0011): None,  # Columns US
        (0x0028, 0x0100): None,  # BitsAllocated US
        (0x0028, 0x0103): None,  # PixelRepresentation US
        (0x7FE0, 0x0010): None,  # PixelData OW/OB
    }
    frames_items: list | None = [] if codec else None
    _dicom_walk(payload, pos, end, explicit, want, endian, frames_items)

    def us(tag, default):
        v = want[tag]
        return default if not v else struct.unpack_from(endian + "H", v, 0)[0]

    rows, cols = us((0x0028, 0x0010), 0), us((0x0028, 0x0011), 0)
    if not rows or not cols:
        raise ValueError("DICOM payload missing Rows/Columns")
    bits = us((0x0028, 0x0100), 16)
    signed = us((0x0028, 0x0103), 0) == 1
    samples = us((0x0028, 0x0002), 1)
    nf_raw = want[(0x0028, 0x0008)]
    frames = int(nf_raw.strip(b"\x00 ") or b"1") if nf_raw else 1
    base = {8: np.int8 if signed else np.uint8,
            16: np.int16 if signed else np.uint16,
            32: np.int32 if signed else np.uint32}.get(bits)
    if base is None:
        raise _MedicalUnsupported(f"DICOM BitsAllocated {bits}")
    if codec == "rle":
        if not frames_items:
            raise ValueError("RLE DICOM without encapsulated frames")
        # PS3.5 Annex G: exactly one fragment per frame — a mismatch in
        # EITHER direction is malformed (incl. NumberOfFrames absent/1
        # with multiple fragments: silently stacking those would
        # invent a multi-frame volume the header contradicts)
        if frames != len(frames_items):
            raise ValueError(
                f"RLE DICOM NumberOfFrames {frames} != "
                f"{len(frames_items)} encapsulated fragments")
        decoded = [_decode_rle_frame(fr, rows, cols, samples, base)
                   for fr in frames_items]
        return (np.stack(decoded) if len(decoded) > 1 else decoded[0])
    if codec in ("jpeg-dct", "jpeg-ll"):
        photometric = (want[(0x0028, 0x0004)] or b"").strip(
            b"\x00 ").decode("ascii", "replace").upper()
        return _decode_jpeg_frames(frames_items, frames, rows, cols,
                                   samples, base, codec == "jpeg-dct",
                                   photometric)
    pix = want[(0x7FE0, 0x0010)]
    if pix is None:
        raise ValueError("DICOM payload missing PixelData")
    count = rows * cols * samples * frames
    if len(pix) < count * np.dtype(base).itemsize:
        raise ValueError("DICOM PixelData shorter than Rows*Columns*...")
    arr = np.frombuffer(pix, dtype=np.dtype(base).newbyteorder(endian),
                        count=count)
    if endian == ">":
        arr = arr.astype(base)  # native byte order out
    shape = [rows, cols]
    if samples > 1:
        shape.append(samples)
    if frames > 1:
        shape = [frames] + shape
    return arr.reshape(shape)  # pydicom pixel_array shape convention


def _decode_dicom_pydicom(payload: bytes) -> np.ndarray:
    """REAL DICOM decode via pydicom (import-gated by the caller)."""
    import io

    import pydicom

    return np.asarray(pydicom.dcmread(io.BytesIO(bytes(payload))).pixel_array)


def _decode_nifti_nibabel(payload: bytes) -> np.ndarray:
    """REAL NIfTI decode via nibabel (import-gated by the caller) —
    the fallthrough for variants the stdlib path refuses."""
    import gzip

    import nibabel

    if payload[:2] == b"\x1f\x8b":
        payload = gzip.decompress(payload)
    img = nibabel.Nifti1Image.from_bytes(bytes(payload))
    return np.asarray(img.get_fdata())


def _volume(payload: bytes, compression: str, strict: bool) -> np.ndarray:
    """Medical payload → nd voxel array. nii/nii.gz decode for REAL
    stdlib-only (nibabel as fallthrough for exotic variants); dcm
    decodes for REAL stdlib-only for the uncompressed little-endian
    transfer syntaxes (pydicom as fallthrough for compressed ones);
    deterministic fake otherwise."""
    if compression in ("nii", "nii.gz"):
        try:
            return _decode_nifti(payload)
        except _MedicalUnsupported:
            pass  # exotic dtype/dim → nibabel below
        except Exception:
            if strict:
                raise
            return _fake_decode(payload)[:, :, 0]  # 2-D fake slice
        if _module_available("nibabel"):
            try:
                return _decode_nifti_nibabel(payload)
            except Exception:
                if strict:
                    raise
        elif strict:
            raise FormatNotSupportedError(
                "this NIfTI variant requires nibabel, which is not installed")
        return _fake_decode(payload)[:, :, 0]
    if compression == "dcm":
        try:
            return _decode_dicom(payload)
        except _MedicalUnsupported:
            pass  # compressed/big-endian transfer syntax → pydicom below
        except Exception:
            if strict:
                raise
            return _fake_decode(payload)[:, :, 0]
        if _module_available("pydicom"):
            try:
                return _decode_dicom_pydicom(payload)
            except Exception:
                if strict:
                    raise
        elif strict:
            raise FormatNotSupportedError(
                "this DICOM transfer syntax requires pydicom, "
                "which is not installed")
        return _fake_decode(payload)[:, :, 0]
    if strict:
        raise FormatNotSupportedError(f"medical codec {compression!r} not available")
    return _fake_decode(payload)[:, :, 0]


def decode_medical(df: DataFrame, payload_col: str = "scan",
                   compression: str = "nii", strict: bool = False) -> DataFrame:
    """binary Medical payload → flat voxel buffer + shape sibling
    column (flat + shape stays schema-stable across 2-D DICOM slices
    and 3-D/4-D NIfTI volumes — the nd-buffer convention of SURVEY
    §1.4). Decode runs inside mapInPandas on the executors; payload
    bytes never move to the driver."""
    keep = [c for c in df.columns if c != payload_col]
    out_schema = ", ".join(f"{c} {df.schema[c].dataType.simpleString()}" for c in keep)
    out_schema += ", voxels array<double>, shape array<int>"

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            arrs = [_volume(p, compression, strict) for p in pdf[payload_col]]
            out = pdf[keep].copy()
            out["voxels"] = [a.astype(np.float64).ravel(order="C").tolist()
                             for a in arrs]
            out["shape"] = [list(a.shape) for a in arrs]
            yield out

    return df.mapInPandas(decode, out_schema)


# ---------------------------------------------------------------- mesh


class _MeshUnsupported(Exception):
    """Valid payload, but a variant outside the stdlib decoders' scope
    (binary PLY, OBJ, ...) — falls through to trimesh when present."""


def _decode_stl(payload: bytes) -> tuple[np.ndarray, np.ndarray]:
    """REAL decoder for binary STL: 80-byte header + uint32 triangle
    count + 50 bytes/triangle (normal 3f, three vertices 3f each,
    uint16 attr). Returns (vertices [n,3] float64, faces [m,3] int64)
    with vertices deduplicated. Reference Mesh htype:
    python/deeplake/types.pyi:1430-1478."""
    if payload[:5] == b"solid" and b"facet" in payload[:512]:
        raise _MeshUnsupported("ASCII STL")  # rare; trimesh handles it
    if len(payload) < 84:
        raise ValueError("not a binary STL payload (too short)")
    (n_tri,) = struct.unpack_from("<I", payload, 80)
    if len(payload) < 84 + 50 * n_tri:
        raise ValueError("binary STL truncated")
    rec = np.frombuffer(payload, dtype=np.uint8, count=50 * n_tri,
                        offset=84).reshape(n_tri, 50)
    tris = rec[:, 12:48].copy().view("<f4").reshape(n_tri, 3, 3).astype(np.float64)
    flat = tris.reshape(-1, 3)
    verts, inverse = np.unique(flat, axis=0, return_inverse=True)
    faces = inverse.reshape(n_tri, 3).astype(np.int64)
    return verts, faces


def _decode_ply_ascii(payload: bytes) -> tuple[np.ndarray, np.ndarray]:
    """REAL decoder for ASCII PLY: header ('element vertex N' /
    'element face M' + per-element properties) then N vertex lines
    (x y z lead) and M face lines (count + indices)."""
    if not payload.startswith(b"ply"):
        raise ValueError("not a PLY payload")
    text = payload.decode("utf-8", errors="replace").splitlines()
    if len(text) < 2 or "ascii" not in text[1]:
        raise _MeshUnsupported("binary PLY")
    n_vert = n_face = 0
    body_at = None
    for i, line in enumerate(text):
        parts = line.split()
        if parts[:2] == ["element", "vertex"]:
            n_vert = int(parts[2])
        elif parts[:2] == ["element", "face"]:
            n_face = int(parts[2])
        elif parts[:1] == ["end_header"]:
            body_at = i + 1
            break
    if body_at is None:
        raise ValueError("PLY missing end_header")
    verts = np.array(
        [[float(x) for x in text[body_at + j].split()[:3]] for j in range(n_vert)],
        dtype=np.float64).reshape(n_vert, 3)
    faces = []
    for j in range(n_face):
        parts = [int(x) for x in text[body_at + n_vert + j].split()]
        k = parts[0]
        for t in range(1, k - 1):  # fan-triangulate polygons
            faces.append((parts[1], parts[1 + t], parts[2 + t]))
    return verts, np.asarray(faces, dtype=np.int64).reshape(len(faces), 3)


def _decode_mesh_trimesh(payload: bytes, compression: str) -> tuple[np.ndarray, np.ndarray]:
    """REAL mesh decode via trimesh (import-gated by the caller)."""
    import io

    import trimesh

    m = trimesh.load(io.BytesIO(bytes(payload)), file_type=compression)
    return (np.asarray(m.vertices, dtype=np.float64),
            np.asarray(m.faces, dtype=np.int64))


def _fake_mesh(payload: bytes) -> tuple[np.ndarray, np.ndarray]:
    """Deterministic stand-in mesh: a payload-seeded tetrahedron."""
    digest = hashlib.sha256(payload or b"").digest()
    rng = np.random.default_rng(struct.unpack("<Q", digest[:8])[0])
    verts = rng.random((4, 3))
    faces = np.array([[0, 1, 2], [0, 1, 3], [0, 2, 3], [1, 2, 3]], dtype=np.int64)
    return verts, faces


def _mesh(payload: bytes, compression: str, strict: bool) -> tuple[np.ndarray, np.ndarray]:
    decoder = {"stl": _decode_stl, "ply": _decode_ply_ascii}.get(compression)
    if decoder is not None:
        try:
            return decoder(payload)
        except _MeshUnsupported:
            pass  # ASCII STL / binary PLY → trimesh below
        except Exception:
            if strict:
                raise
            return _fake_mesh(payload)
    if _module_available("trimesh"):
        try:
            return _decode_mesh_trimesh(payload, compression)
        except Exception:
            if strict:
                raise
    elif strict:
        raise FormatNotSupportedError(
            f"mesh codec {compression!r} requires trimesh, which is not installed")
    return _fake_mesh(payload)


def mesh_stats(df: DataFrame, payload_col: str = "mesh",
               compression: str = "stl", strict: bool = False) -> DataFrame:
    """Mesh payload → geometry summary per row: vertex/face counts,
    axis-aligned bbox (xmin..zmax), and total surface area (0.5 *
    sum ||cross(v1-v0, v2-v0)||). Executor-side via mapInPandas."""
    keep = [c for c in df.columns if c != payload_col]
    out_schema = ", ".join(f"{c} {df.schema[c].dataType.simpleString()}" for c in keep)
    out_schema += (", n_vertices bigint, n_faces bigint, bbox array<double>, "
                   "area double")

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            nv, nf, bb, ar = [], [], [], []
            for p in pdf[payload_col]:
                verts, faces = _mesh(p, compression, strict)
                nv.append(len(verts))
                nf.append(len(faces))
                bb.append(np.concatenate([verts.min(axis=0),
                                          verts.max(axis=0)]).tolist()
                          if len(verts) else [0.0] * 6)
                if len(faces):
                    tri = verts[faces]
                    cross = np.cross(tri[:, 1] - tri[:, 0], tri[:, 2] - tri[:, 0])
                    ar.append(float(0.5 * np.linalg.norm(cross, axis=1).sum()))
                else:
                    ar.append(0.0)
            out = pdf[keep].copy()
            out["n_vertices"] = nv
            out["n_faces"] = nf
            out["bbox"] = bb
            out["area"] = ar
            yield out

    return df.mapInPandas(stats, out_schema)


# ------------------------------------------------------- perceptual hash


def _phash_one(a: np.ndarray, hash_size: int = 8,
               highfreq_factor: int = 4) -> list[int]:
    """64-bit perceptual hash of one decoded image: grayscale →
    nearest-resize to (hash_size*highfreq_factor)² → orthonormal 2-D
    DCT-II (numpy matrix product, the _jpeg.py construction at NxN) →
    top-left hash_size² low-frequency block → bit per coefficient
    above the block median (the classic pHash recipe). Returns the
    bit list, MSB-first row-major."""
    n = hash_size * highfreq_factor
    g = a.astype(np.float64)
    if g.ndim == 3:
        g = g.mean(axis=2)
    h, w = g.shape
    sy = np.minimum(np.arange(n) * h // n, h - 1)
    sx = np.minimum(np.arange(n) * w // n, w - 1)
    g = g[sy][:, sx]
    k = np.arange(n)[:, None]
    i = np.arange(n)[None, :]
    m = np.sqrt(2.0 / n) * np.cos(np.pi * (2 * i + 1) * k / (2 * n))
    m[0] = np.sqrt(1.0 / n)
    low = (m @ g @ m.T)[:hash_size, :hash_size].ravel()
    med = np.median(low)
    return [int(x > med) for x in low]


def _pack_bits_signed(bits: list[int]) -> int:
    """Pack up to 64 bits (MSB first) into a signed 64-bit value —
    two's complement over len(bits), so any length <= 64 fits the
    Spark long column."""
    n = len(bits)
    if n > 64:
        raise ValueError(
            f"{n} bits cannot pack into a 64-bit long — use hash grids "
            "of at most 64 cells, or work with the bits array directly")
    v = 0
    for b in bits:
        v = (v << 1) | (b & 1)
    return v - (1 << n) if n and v >= (1 << (n - 1)) else v


def phash_images(df: DataFrame, payload_col: str = "image",
                 compression: str = "png", strict: bool = False,
                 hash_size: int = 8, highfreq_factor: int = 4) -> DataFrame:
    """Perceptual image hashing inside the decode batch (no pixel
    materialization in the plan): adds ``phash_bits``
    (array<int>, hash_size² sign bits — the banding/verify input) and
    ``phash`` (the bits packed into one signed 64-bit long — the
    storage/equality form). The content-based image near-dup primitive
    of a multimodal training pipeline; resolution changes, recompress,
    and small edits move only a few bits. ``hash_size`` is capped at 8
    (64 bits) — a larger grid cannot pack into the long column and
    `bits_near_dup_pairs`' pigeonhole guarantee is stated per nbits."""
    if hash_size * hash_size > 64:
        raise ValueError(
            f"hash_size={hash_size} gives {hash_size * hash_size} bits; "
            "the packed phash long holds at most 64")
    from deeplake_spark.io import ensure_parallelism

    df = ensure_parallelism(df)
    keep = [c for c in df.columns if c != payload_col]
    out_schema = ", ".join(
        f"{c} {df.schema[c].dataType.simpleString()}" for c in keep)
    out_schema += ", phash_bits array<int>, phash long"

    def ph(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            bits = [
                _phash_one(_decode_one(p, compression, strict),
                           hash_size, highfreq_factor)
                for p in pdf[payload_col]
            ]
            out = pdf[keep].copy()
            out["phash_bits"] = bits
            out["phash"] = [_pack_bits_signed(b) for b in bits]
            yield out

    return df.mapInPandas(ph, out_schema)


def image_near_dup_pairs(df: DataFrame, payload_col: str = "image",
                         id_col: str = "img_id", compression: str = "png",
                         strict: bool = False, max_hamming: int = 6,
                         bands: int = 8,
                         index_path: str | None = None) -> DataFrame:
    """Image near-duplicate pairs by banded perceptual hash — pHash →
    band the 64 bits into ``bands`` buckets → bucket-join candidates →
    exact Hamming verify (pure JVM on the bit arrays). EXACT for
    ``max_hamming < bands`` by pigeonhole: a pair differing in h bits
    has some all-equal band whenever h < bands, so every true pair
    collides in at least one bucket — recall 1 with candidate volume
    proportional to true collisions, the near_dup_pairs_lsh shape with
    a provable (not probabilistic) guarantee. Returns (a, b, hamming).
    With ``index_path`` the pairs come from the PERSISTED fingerprint
    index (build_fingerprint_index at ingest) — no payload decode; the
    side table is the corpus snapshot, delta-append keeps it fresh.
    """
    from deeplake_spark.operators.similarity import bits_near_dup_pairs

    if index_path is not None:
        # persisted-fingerprint lane: the side table IS the corpus
        # snapshot (delta-append keeps it fresh) — zero payload decode
        return fingerprint_index_near_dup_pairs(
            df.sparkSession, index_path, "image", max_hamming, bands)
    hashed = phash_images(df, payload_col, compression, strict)
    return bits_near_dup_pairs(hashed, "phash_bits", id_col,
                               max_hamming=max_hamming, bands=bands)


# -------------------------------------------------- audio fingerprint


def _audio_sig_one(x: np.ndarray, t_cells: int = 8, f_cells: int = 8) -> list[int]:
    """64-bit spectral fingerprint of one waveform: peak-normalize,
    split into ``t_cells`` time segments, rfft magnitude per segment
    binned into ``f_cells``+1 log-spaced frequency bands, bit[t,f] =
    band f louder than band f+1 (the Haitsma–Kalker spectral-slope
    sign, per time cell). Slope signs compare adjacent log energies,
    so uniform gain cancels exactly and — unlike a global median
    threshold, which degenerates to ~f_cells effective bits on
    STATIONARY clips (every time column identical, half the grid above
    the median by construction) — the bits encode the spectrum SHAPE
    in every time cell."""
    n = len(x)
    cells = np.zeros((t_cells, f_cells + 1))
    if n >= t_cells * 2:
        x = x.astype(np.float64)
        peak = np.max(np.abs(x))
        if peak > 0:
            x = x / peak
        seg = n // t_cells
        for t in range(t_cells):
            mag = np.abs(np.fft.rfft(x[t * seg:(t + 1) * seg]))[1:]
            if len(mag) < f_cells + 1:
                mag = np.pad(mag, (0, f_cells + 1 - len(mag)))
            # log-spaced band edges emphasize the low end like a mel scale
            edges = np.unique(np.geomspace(1, len(mag), f_cells + 2)
                              .astype(int))
            while len(edges) < f_cells + 2:
                edges = np.append(edges, edges[-1] + 1)
            for f in range(f_cells + 1):
                lo, hi = edges[f], max(edges[f + 1], edges[f] + 1)
                cells[t, f] = np.log1p(mag[lo - 1:hi - 1].sum())
    return [int(cells[t, f] > cells[t, f + 1])
            for t in range(t_cells) for f in range(f_cells)]


def audio_fingerprint(df: DataFrame, payload_col: str = "audio",
                      compression: str = "wav",
                      strict: bool = False) -> DataFrame:
    """Audio fingerprinting inside the decode batch: adds ``afp_bits``
    (array<int>, 64 spectral-slope sign bits) and ``afp`` (packed
    signed long). Slope signs compare adjacent log band energies, so
    uniform gain cancels exactly on the waveform; through an integer
    re-encode the quantization noise moves at most a few near-boundary
    bits (same class as re-encode noise) — the content-based audio
    near-dup primitive."""
    from deeplake_spark.io import ensure_parallelism

    df = ensure_parallelism(df)
    keep = [c for c in df.columns if c != payload_col]
    out_schema = ", ".join(
        f"{c} {df.schema[c].dataType.simpleString()}" for c in keep)
    out_schema += ", afp_bits array<int>, afp long"

    def fp(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            bits = [
                _audio_sig_one(_audio_waveform(p, compression, strict))
                for p in pdf[payload_col]
            ]
            out = pdf[keep].copy()
            out["afp_bits"] = bits
            out["afp"] = [_pack_bits_signed(b) for b in bits]
            yield out

    return df.mapInPandas(fp, out_schema)


def audio_near_dup_pairs(df: DataFrame, payload_col: str = "audio",
                         id_col: str = "clip_id", compression: str = "wav",
                         strict: bool = False, max_hamming: int = 6,
                         bands: int = 8,
                         index_path: str | None = None) -> DataFrame:
    """Audio near-duplicate pairs: spectral fingerprint → the shared
    banded-bits engine (`similarity.bits_near_dup_pairs` — exact for
    max_hamming < bands). Returns (a, b, hamming)."""
    from deeplake_spark.operators.similarity import bits_near_dup_pairs

    if index_path is not None:
        return fingerprint_index_near_dup_pairs(
            df.sparkSession, index_path, "audio", max_hamming, bands)
    hashed = audio_fingerprint(df, payload_col, compression, strict)
    return bits_near_dup_pairs(hashed, "afp_bits", id_col,
                               max_hamming=max_hamming, bands=bands)


def video_fingerprint(df: DataFrame, payload_col: str = "video",
                      every_n: int = 5, strict: bool = False) -> DataFrame:
    """Video fingerprinting inside the decode batch: sample every
    ``every_n``-th frame (the sample_video_frames path), pHash each
    sampled frame, majority-vote the 64 bit positions across frames
    into one clip signature (``vfp_bits`` array<int> + ``vfp`` long).
    Majority pooling makes the signature stable under re-encode noise
    and small frame drops/offsets — per-frame hashes vote, so a
    minority of disturbed frames cannot flip a bit position that the
    rest of the clip agrees on. Clips that decode to zero frames
    fingerprint as all-zero bits."""
    from deeplake_spark.io import ensure_parallelism

    df = ensure_parallelism(df)
    keep = [c for c in df.columns if c != payload_col]
    out_schema = ", ".join(
        f"{c} {df.schema[c].dataType.simpleString()}" for c in keep)
    out_schema += ", n_frames_hashed int, vfp_bits array<int>, vfp long"

    def fp(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            nfs, bits_col, packed = [], [], []
            for p in pdf[payload_col]:
                frames = _video_frames(p, every_n, strict)
                votes = np.zeros(64)
                for _, frame in frames:
                    votes += np.array(_phash_one(frame))
                nf = len(frames)
                bits = [int(v * 2 > nf) for v in votes]  # strict majority
                nfs.append(nf)
                bits_col.append(bits)
                packed.append(_pack_bits_signed(bits))
            out = pdf[keep].copy()
            out["n_frames_hashed"] = nfs
            out["vfp_bits"] = bits_col
            out["vfp"] = packed
            yield out

    return df.mapInPandas(fp, out_schema)


def video_near_dup_pairs(df: DataFrame, payload_col: str = "video",
                         id_col: str = "clip_id", every_n: int = 5,
                         strict: bool = False, max_hamming: int = 6,
                         bands: int = 8,
                         index_path: str | None = None) -> DataFrame:
    """Video near-duplicate pairs: majority-pooled frame pHash → the
    shared banded-bits engine (exact for max_hamming < bands).
    Returns (a, b, hamming); ``index_path`` probes the persisted
    fingerprint index instead of decoding."""
    from deeplake_spark.operators.similarity import bits_near_dup_pairs

    if index_path is not None:
        return fingerprint_index_near_dup_pairs(
            df.sparkSession, index_path, "video", max_hamming, bands)
    hashed = video_fingerprint(df, payload_col, every_n, strict)
    return bits_near_dup_pairs(hashed, "vfp_bits", id_col,
                               max_hamming=max_hamming, bands=bands)


# ---------------------------------------- persisted fingerprint index
#
# Build-at-ingest side table of bit signatures keyed by row id — the
# same save/load/delta protocol as the vector/text indexes
# (indexes.INDEX_KINDS; reference index side tables per
# SURVEY §4.3, Column.create_index `python/deeplake/__init__.pyi:1678`).
# Decode economics: at 100 TB of payloads the mapInPandas decode
# dominates a near-dup run by orders of magnitude, while the signature
# table is ~300 B/row — decoding ONCE at ingest and probing the side
# table makes multimodal dedup re-runnable at payload-free cost
# (SCALING.md "fingerprint index" ladder).

#: modality -> (fingerprint fn, bits col, packed col, allowed params)
_FP_BUILDERS = {
    "image": ("phash_images", "phash_bits", "phash",
              ("compression", "strict", "hash_size", "highfreq_factor")),
    "audio": ("audio_fingerprint", "afp_bits", "afp",
              ("compression", "strict")),
    "video": ("video_fingerprint", "vfp_bits", "vfp",
              ("every_n", "strict")),
}


class FingerprintIndex:
    """Persisted bit-signature index: ``signatures`` is a DataFrame
    (id_col, bits array<int>, packed long) — the payload-free corpus
    every ``*_near_dup_pairs(index_path=...)`` lane and the streaming
    probe consume."""

    def __init__(self, signatures: DataFrame, modality: str, id_col: str,
                 params: dict, nbits: int = 64,
                 n_rows_est: int | None = None):
        self.signatures = signatures
        self.modality = modality
        self.id_col = id_col
        self.params = dict(params)
        self.nbits = int(nbits)
        self.n_rows_est = n_rows_est

    def save(self, path: str, mode: str = "overwrite") -> None:
        """Persist: signatures range-partitioned + sorted by id
        (row-group min/max stats make later id probes prunable, the
        ingest layout convention; an append delta lands as written)
        plus manifest meta carrying the decode params and
        corpus size."""
        from deeplake_spark.operators.indexes import counted, write_side_table

        sigs = self.signatures
        if mode != "append":
            sigs = (sigs.repartitionByRange(F.col(self.id_col))
                    .sortWithinPartitions(self.id_col))
        write_side_table(path, {"signatures": (sigs, None)}, counted(
            "signatures", {"modality": self.modality, "id_col": self.id_col,
                           "params": self.params, "nbits": self.nbits}),
            mode)

    @classmethod
    def load(cls, spark, path: str,
             source: DataFrame | None = None) -> "FingerprintIndex":
        from deeplake_spark.operators.indexes import read_side_table

        sigs, meta = read_side_table(spark, path, "signatures")
        return cls(signatures=sigs, modality=meta["modality"],
                   id_col=meta["id_col"], params=meta.get("params", {}),
                   nbits=int(meta.get("nbits", 64)),
                   n_rows_est=meta.get("n"))

    def delta(self, new_df: DataFrame, column: str) -> "FingerprintIndex":
        """Incremental maintenance: decode ONLY the appended payloads in
        `column` with the PERSISTED params (saved with mode="append",
        existing signature files stay untouched, never a corpus
        re-read)."""
        return build_fingerprint_index(new_df, column, self.id_col,
                                       self.modality, **self.params)


def build_fingerprint_index(df: DataFrame, payload_col: str, id_col: str,
                            modality: str, **params) -> FingerprintIndex:
    """One decode pass over the payloads → canonical (id, bits, packed)
    signature frame. ``params`` are the modality's decode parameters
    (persisted by save so delta appends and rebuilds encode
    IDENTICALLY — a compression/hash_size drift between build and
    append would silently mix incomparable signatures)."""
    if modality not in _FP_BUILDERS:
        raise ValueError(
            f"unknown fingerprint modality {modality!r}; "
            f"one of {sorted(_FP_BUILDERS)}")
    fn_name, bits_col, packed_col, allowed = _FP_BUILDERS[modality]
    bad = sorted(set(params) - set(allowed))
    if bad:
        raise ValueError(f"{modality} fingerprint takes {allowed}, got {bad}")
    fn = globals()[fn_name]
    hashed = fn(df.select(id_col, payload_col), payload_col, **params)
    sigs = hashed.select(
        F.col(id_col),
        F.col(bits_col).alias("bits"),
        F.col(packed_col).alias("packed"),
    )
    # nbits follows the ACTUAL signature length, not a constant: image
    # pHash emits hash_size² bits (phash_images caps hash_size at 8), so
    # a 4×4 build must record nbits=16 — recording 64 would band past
    # the array's end (ANSI element_at throws at probe time) and disarm
    # the streaming lane's nbits-mismatch guard. Audio/video signatures
    # are fixed 64-bit by construction.
    nbits = (int(params.get("hash_size", 8)) ** 2 if modality == "image"
             else 64)
    return FingerprintIndex(sigs, modality, id_col, params, nbits=nbits)


def fingerprint_index_near_dup_pairs(spark, index_path: str,
                                     modality: str, max_hamming: int,
                                     bands: int) -> DataFrame:
    """Near-dup pairs over the PERSISTED signatures — zero payload
    decode. Same (a, b, hamming) result as the decode lane (pinned in
    tests); raises if the side table was built for another modality."""
    from deeplake_spark.operators.similarity import bits_near_dup_pairs

    idx = FingerprintIndex.load(spark, index_path)
    if idx.modality != modality:
        raise ValueError(
            f"index at {index_path} holds {idx.modality} fingerprints, "
            f"asked for {modality}")
    return bits_near_dup_pairs(idx.signatures, "bits", idx.id_col,
                               max_hamming=max_hamming, bands=bands,
                               nbits=idx.nbits)
