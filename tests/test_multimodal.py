"""Multimodal plumbing tests: schema/batch/partitioning of the decode
pipelines is real; the codec itself is the documented deterministic
fake (real libs absent from this image)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from deeplake_spark.io import load_table
from deeplake_spark.operators.multimodal import (
    decode_images,
    image_stats,
    resize_images,
    sample_video_frames,
    with_payload_from_text,
)


@pytest.fixture(scope="module")
def payloads(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text").limit(20)
    return with_payload_from_text(d).select("doc_id", "image").cache()


def test_decode_schema_and_determinism(spark, payloads):
    out = decode_images(payloads)
    assert out.columns == ["doc_id", "pixels", "shape"]
    rows = {r.doc_id: r for r in out.collect()}
    assert all(r.shape == [16, 16, 3] for r in rows.values())
    # determinism: same payload → same pixels across runs
    again = {r.doc_id: r for r in decode_images(payloads).collect()}
    some = next(iter(rows))
    assert rows[some].pixels == again[some].pixels


def test_strict_raises_without_codec(spark, payloads):
    with pytest.raises(Exception) as ei:
        decode_images(payloads, compression="jpg", strict=True).collect()
    # strict-mode codec-unavailable surfaces as FormatNotSupportedError
    # (a NotImplementedError subclass — exceptions.py); across the Py4J
    # boundary only the class NAME in the worker traceback survives
    assert ("FormatNotSupportedError" in str(ei.value)
            or isinstance(ei.value, NotImplementedError))


def test_image_stats(spark, payloads):
    out = image_stats(payloads).collect()
    assert len(out) == 20
    for r in out:
        assert r.height == 16 and r.width == 16 and r.channels == 3
        assert 0 <= r.mean <= 255 and r.std > 0


def test_resize(spark, payloads):
    out = resize_images(payloads, 8, 4).collect()
    assert all(r.shape == [8, 4, 3] for r in out)


def test_video_frame_sampling(spark, payloads):
    vid = payloads.withColumnRenamed("image", "video")
    out = sample_video_frames(vid, every_n=2, payload_col="video")
    rows = out.collect()
    # 20 clips × 4 sampled frames (0,2,4,6 of 8)
    assert len(rows) == 80
    assert sorted({r.frame_index for r in rows}) == [0, 2, 4, 6]


def test_audio_features(spark, payloads):
    from deeplake_spark.operators.multimodal import audio_features

    aud = payloads.withColumnRenamed("image", "audio")
    out = audio_features(aud).collect()
    assert len(out) == 20
    for r in out:
        assert r.n_samples == 1024 and 0 < r.rms < 1 and 0 < r.peak <= 1


def test_fetch_links_local_files(spark, tmp_path):
    from deeplake_spark.operators.multimodal import fetch_links

    f1 = tmp_path / "a.bin"
    f1.write_bytes(b"payload-a")
    rows = [(1, str(f1)), (2, "http://example.com/x.png"), (3, None)]
    df = spark.createDataFrame(rows, "id: int, image: string")
    got = {r.id: (bytes(r.payload) if r.payload is not None else None)
           for r in fetch_links(df).collect()}
    assert got[1] == b"payload-a"
    assert got[2] is None and got[3] is None  # remote gated, null passthrough


def test_real_ppm_decode_roundtrip(spark):
    """PPM payloads decode for REAL (stdlib-only): known pixels survive
    the distributed decode exactly."""
    import numpy as np

    from deeplake_spark.operators.multimodal import decode_images

    h, w = 4, 3
    pix = np.arange(h * w * 3, dtype=np.uint8).reshape(h, w, 3)
    payload = b"P6\n%d %d\n255\n" % (w, h) + pix.tobytes()
    df = spark.createDataFrame([(0, bytearray(payload))], "id long, image binary")
    row = decode_images(df, "image", compression="ppm", strict=True).head()
    got = np.array([[list(px) for px in r] for r in row.pixels], dtype=np.uint8)
    assert got.shape == (h, w, 3)
    assert (got == pix).all()
    assert list(row.shape) == [h, w, 3]


def test_real_bmp_decode_roundtrip(spark):
    """Uncompressed 24-bit BMP decodes for REAL (struct+numpy): BGR and
    bottom-up row order are undone."""
    import numpy as np
    import struct as st

    from deeplake_spark.operators.multimodal import decode_images

    h, w = 2, 3
    pix = np.arange(h * w * 3, dtype=np.uint8).reshape(h, w, 3)
    stride = (w * 3 + 3) & ~3
    body = bytearray()
    for r in range(h - 1, -1, -1):  # bottom-up
        rowb = bytearray()
        for c in range(w):
            rowb += bytes(pix[r, c][::-1])  # BGR
        rowb += b"\0" * (stride - len(rowb))
        body += rowb
    header = b"BM" + st.pack("<IHHI", 54 + len(body), 0, 0, 54)
    header += st.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 2835, 2835, 0, 0)
    payload = header + bytes(body)
    df = spark.createDataFrame([(0, bytearray(payload))], "id long, image binary")
    row = decode_images(df, "image", compression="bmp", strict=True).head()
    got = np.array([[list(px) for px in r] for r in row.pixels], dtype=np.uint8)
    assert (got == pix).all()


def _encode_png(img, filters=None, color=None, interlace=False, depth=None):
    """Test-side PNG encoder: applies the REQUESTED filter type per
    scanline (spec §9 forward transform) so the decoder's unfilter
    paths all get exercised, not just filter 0. With `interlace` the
    Adam7 passes are emitted as independently-filtered sub-images
    (spec §8.2). `depth` of 1/2/4 packs sub-byte gray/palette samples
    MSB-first (spec §7.2)."""
    import struct as st
    import zlib

    import numpy as np

    if depth is None:
        depth = 16 if img.dtype == np.uint16 else 8
    if img.ndim == 2:
        h, w, ch = img.shape[0], img.shape[1], 1
        color = 0 if color is None else color
    else:
        h, w, ch = img.shape
        color = {1: 0, 2: 4, 3: 2, 4: 6}[ch] if color is None else color
    bpp = max(1, ch * depth // 8)
    filters = filters or [0]

    def to_bytes(sub):
        """(hp, wp[, ch]) samples -> (hp, stride) byte matrix: PNG
        filters operate on BYTES whatever the depth (big-endian;
        sub-byte samples pack MSB-first)."""
        hp, wp = sub.shape[0], sub.shape[1]
        if depth < 8:
            vals = sub.reshape(hp, wp).astype(np.uint8)
            bits = ((vals[:, :, None]
                     >> np.arange(depth - 1, -1, -1)) & 1).reshape(
                hp, wp * depth).astype(np.uint8)
            return np.packbits(bits, axis=1).astype(np.int32)
        samples = sub.reshape(hp, wp * ch).astype(
            np.uint16 if depth == 16 else np.uint8)
        if depth == 16:
            flat = np.empty((hp, wp * ch * 2), dtype=np.int32)
            flat[:, 0::2] = samples >> 8
            flat[:, 1::2] = samples & 0xFF
            return flat
        return samples.astype(np.int32)

    def filter_block(flat):
        hp, stride = flat.shape
        raw = bytearray()
        prev = np.zeros(stride, dtype=np.int32)
        for y in range(hp):
            line = flat[y]
            ft = filters[y % len(filters)]
            filt = np.empty(stride, dtype=np.int32)
            for x in range(stride):
                a = int(line[x - bpp]) if x >= bpp else 0
                b = int(prev[x])
                c = int(prev[x - bpp]) if x >= bpp else 0
                if ft == 0:
                    pred = 0
                elif ft == 1:
                    pred = a
                elif ft == 2:
                    pred = b
                elif ft == 3:
                    pred = (a + b) >> 1
                else:  # Paeth
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (
                        b if pb <= pc else c)
                filt[x] = (int(line[x]) - pred) & 0xFF
            raw += bytes([ft]) + filt.astype(np.uint8).tobytes()
            prev = line
        return bytes(raw)

    if interlace:
        from deeplake_spark.operators.multimodal import _ADAM7

        raw = b""
        for x0, y0, dx, dy in _ADAM7:
            sub = img[y0::dy, x0::dx]
            if sub.shape[0] and sub.shape[1]:
                raw += filter_block(to_bytes(sub))
    else:
        raw = filter_block(to_bytes(img))

    def chunk(ctype, data):
        return (st.pack(">I", len(data)) + ctype + data
                + st.pack(">I", zlib.crc32(ctype + data)))

    ihdr = st.pack(">IIBBBBB", w, h, depth, color, 0, 0,
                   1 if interlace else 0)
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(bytes(raw)))
            + chunk(b"IEND", b""))


def test_real_png_decode_roundtrip_all_filters(spark):
    """PNG decodes for REAL (stdlib zlib + unfilter): RGB pixels
    encoded with every filter type (None/Sub/Up/Average/Paeth cycling
    per row) survive the distributed decode exactly."""
    import numpy as np

    from deeplake_spark.operators.multimodal import decode_images

    h, w = 7, 5
    rng = np.random.default_rng(7)
    pix = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    payload = _encode_png(pix, filters=[0, 1, 2, 3, 4])
    df = spark.createDataFrame([(0, bytearray(payload))], "id long, image binary")
    row = decode_images(df, "image", compression="png", strict=True).head()
    got = np.array([[list(px) for px in r] for r in row.pixels], dtype=np.uint8)
    assert (got == pix).all()
    assert list(row.shape) == [h, w, 3]


def test_real_png_gray_rgba_palette():
    """Grayscale → 2-D sample (PIL 'L' convention), RGBA keeps the
    alpha channel, paletted resolves through PLTE — all stdlib-only."""
    import struct as st
    import zlib

    import numpy as np

    from deeplake_spark.operators.multimodal import _decode_png

    rng = np.random.default_rng(11)
    gray = rng.integers(0, 256, size=(4, 6), dtype=np.uint8)
    assert (_decode_png(_encode_png(gray, filters=[4, 3, 1, 2])) == gray).all()
    rgba = rng.integers(0, 256, size=(3, 4, 4), dtype=np.uint8)
    assert (_decode_png(_encode_png(rgba, filters=[1, 2, 4])) == rgba).all()

    # paletted: indices reference a 4-entry PLTE
    idx = np.array([[0, 1], [2, 3]], dtype=np.uint8)
    plte = np.array([[255, 0, 0], [0, 255, 0], [0, 0, 255], [9, 9, 9]],
                    dtype=np.uint8)
    body = _encode_png(idx, color=3)
    # splice a PLTE chunk in front of IDAT
    def chunk(ctype, data):
        return (st.pack(">I", len(data)) + ctype + data
                + st.pack(">I", zlib.crc32(ctype + data)))
    ihdr_end = 8 + 12 + 13
    payload = body[:ihdr_end] + chunk(b"PLTE", plte.tobytes()) + body[ihdr_end:]
    assert (_decode_png(payload) == plte[idx]).all()


def test_png_16bit_decodes_real():
    """16-bit PNG decodes for REAL in the stdlib path (medical/depth
    imagery ships 16-bit; reference Image htype accepts any libpng
    stream, python/deeplake/types.pyi:1011-1036): big-endian samples,
    byte-level filters with doubled bpp, exact round trip through every
    filter type for gray and RGB; values above 255 prove real 16-bit
    (not a truncated 8-bit read)."""
    import numpy as np

    from deeplake_spark.operators.multimodal import _decode_one, _decode_png

    rng = np.random.default_rng(3)
    gray16 = rng.integers(0, 65536, size=(9, 6), dtype=np.uint16)
    rgb16 = rng.integers(0, 65536, size=(7, 5, 3), dtype=np.uint16)
    for img in (gray16, rgb16):
        for filters in ([0], [0, 1, 2, 3, 4], [4, 3, 1, 2]):
            out = _decode_png(_encode_png(img, filters=filters))
            assert out.dtype == np.uint16
            assert np.array_equal(out, img), filters
    assert gray16.max() > 255  # the fixture genuinely exercises 16-bit

    # one-pixel hand-built stream: value 1 (big-endian 0x0001)
    import struct as st
    import zlib

    def chunk(ctype, data):
        return (st.pack(">I", len(data)) + ctype + data
                + st.pack(">I", zlib.crc32(ctype + data)))

    ihdr = st.pack(">IIBBBBB", 1, 1, 16, 0, 0, 0, 0)
    raw = b"\x00\x00\x01"  # filter 0 + one 16-bit gray pixel
    payload = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
               + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))
    out = _decode_one(payload, "png", strict=True)
    assert out.shape == (1, 1) and int(out[0, 0]) == 1

    # the interlaced spelling of the same 1x1 stream decodes too (a 1x1
    # image is entirely Adam7 pass 1)
    ihdr_i = st.pack(">IIBBBBB", 1, 1, 16, 0, 0, 0, 1)
    inter = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr_i)
             + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))
    out = _decode_one(inter, "png", strict=True)
    assert out.shape == (1, 1) and int(out[0, 0]) == 1


def test_png_adam7_interlaced_decodes_real():
    """Adam7-interlaced PNG (the progressive web layout) decodes for
    REAL: each of the 7 passes is an independently-filtered sub-image
    scattered back on its (x0 + i*dx, y0 + j*dy) grid — exact round
    trips across filter types, odd sizes (passes drop out), 8- and
    16-bit, gray and RGBA."""
    import numpy as np

    from deeplake_spark.operators.multimodal import _decode_png

    rng = np.random.default_rng(5)
    cases = [
        rng.integers(0, 256, size=(16, 16, 3), dtype=np.uint8),
        rng.integers(0, 256, size=(13, 7, 4), dtype=np.uint8),   # odd dims
        rng.integers(0, 256, size=(9, 10), dtype=np.uint8),      # gray
        rng.integers(0, 65536, size=(11, 6, 3), dtype=np.uint16),  # 16-bit
        rng.integers(0, 256, size=(3, 2, 3), dtype=np.uint8),    # tiny:
        rng.integers(0, 256, size=(1, 1, 3), dtype=np.uint8),    # passes absent
    ]
    for img in cases:
        for filters in ([0], [0, 1, 2, 3, 4], [4, 2, 3]):
            out = _decode_png(_encode_png(img, filters=filters,
                                          interlace=True))
            assert out.dtype == img.dtype
            assert np.array_equal(out, img), (img.shape, filters)
    # sequential and interlaced spellings of the same image agree
    img = cases[0]
    a = _decode_png(_encode_png(img))
    b = _decode_png(_encode_png(img, interlace=True))
    assert np.array_equal(a, b)


def test_real_wav_decode_features(spark):
    """PCM WAV decodes for REAL via stdlib wave: a full-scale square
    wave has rms == peak == 1.0 (int16 -32768/32767 → ±~1.0)."""
    import io
    import wave as wv

    import numpy as np

    from deeplake_spark.operators.multimodal import audio_features

    sig = np.tile(np.array([32767, -32768], dtype=np.int16), 500)
    buf = io.BytesIO()
    with wv.open(buf, "wb") as wf:
        wf.setnchannels(1); wf.setsampwidth(2); wf.setframerate(16000)
        wf.writeframes(sig.tobytes())
    df = spark.createDataFrame([(0, bytearray(buf.getvalue()))], "id long, audio binary")
    row = audio_features(df, "audio", compression="wav", strict=True).head()
    assert row.n_samples == 1000
    assert abs(row.rms - 1.0) < 1e-3
    assert abs(row.peak - 1.0) < 1e-3


def test_video_real_branch_with_stubbed_pyav(monkeypatch):
    """When PyAV IS importable, _video_frames must run the real decode
    branch (not raise, not fake) — proven with a stub `av` module;
    regression for the NotImplementedError landmine inside the try."""
    import sys
    import types

    import numpy as np

    from deeplake_spark.operators.multimodal import _video_frames

    frame_arr = np.full((2, 2, 3), 7, dtype=np.uint8)

    class _Frame:
        def to_ndarray(self, format):
            assert format == "rgb24"
            return frame_arr

    class _Container:
        def __enter__(self):
            return self

        def __exit__(self, *a):
            return False

        def decode(self, video):
            assert video == 0
            return iter([_Frame() for _ in range(6)])

    stub = types.ModuleType("av")
    stub.open = lambda fobj: _Container()
    monkeypatch.setitem(sys.modules, "av", stub)

    out = _video_frames(b"payload", every_n=2, strict=True)
    assert [i for i, _ in out] == [0, 2, 4]
    assert all((a == frame_arr).all() for _, a in out)


def test_video_fake_fallback_and_strict_without_pyav(monkeypatch):
    import sys

    from deeplake_spark.operators.multimodal import _video_frames

    monkeypatch.setitem(sys.modules, "av", None)  # force "absent"
    out = _video_frames(b"payload", every_n=4, strict=False)
    assert [i for i, _ in out] == [0, 4]
    import pytest as _pytest

    with _pytest.raises(NotImplementedError):
        _video_frames(b"payload", every_n=4, strict=True)


def test_audio_real_branch_with_stubbed_soundfile(monkeypatch):
    """Same landmine regression for the soundfile path: with the lib
    present the real branch decodes (stereo mono-mixed)."""
    import sys
    import types

    import numpy as np

    from deeplake_spark.operators.multimodal import _audio_waveform

    stereo = np.array([[0.5, 1.0], [-0.5, -1.0]], dtype=np.float32)

    stub = types.ModuleType("soundfile")

    def _read(fobj, dtype, always_2d):
        assert dtype == "float32" and always_2d
        return stereo, 16000

    stub.read = _read
    monkeypatch.setitem(sys.modules, "soundfile", stub)

    w = _audio_waveform(b"payload", compression="mp3", strict=True)
    assert np.allclose(w, [0.75, -0.75])


def test_audio_fake_fallback_and_strict_without_soundfile(monkeypatch):
    import sys

    import pytest as _pytest

    from deeplake_spark.operators.multimodal import _audio_waveform

    monkeypatch.setitem(sys.modules, "soundfile", None)
    w = _audio_waveform(b"payload", compression="mp3", strict=False)
    assert len(w) == 1024
    with _pytest.raises(NotImplementedError):
        _audio_waveform(b"payload", compression="mp3", strict=True)


def _encode_nifti(arr, gz=False, endian="<"):
    """Test-side NIfTI-1 writer: 348-byte header + raw Fortran-order
    voxels at vox_offset 352."""
    import gzip
    import struct as st

    import numpy as np

    codes = {np.uint8: 2, np.int16: 4, np.int32: 8, np.float32: 16,
             np.float64: 64}
    code = codes[arr.dtype.type]
    hdr = bytearray(352)
    st.pack_into(f"{endian}i", hdr, 0, 348)
    dims = [arr.ndim] + list(arr.shape) + [1] * (7 - arr.ndim)
    st.pack_into(f"{endian}8h", hdr, 40, *dims)
    st.pack_into(f"{endian}h", hdr, 70, code)
    st.pack_into(f"{endian}h", hdr, 72, arr.dtype.itemsize * 8)
    st.pack_into(f"{endian}f", hdr, 108, 352.0)
    hdr[344:348] = b"n+1\x00"
    body = arr.astype(arr.dtype.newbyteorder(endian)).tobytes(order="F")
    payload = bytes(hdr) + body
    return gzip.compress(payload) if gz else payload


def test_real_nifti_decode_roundtrip(spark):
    """NIfTI-1 volumes decode for REAL (stdlib gzip+struct+numpy):
    Fortran order, both .nii and .nii.gz, big-endian too."""
    import numpy as np

    from deeplake_spark.operators.multimodal import _decode_nifti, decode_medical

    vol = np.arange(2 * 3 * 4, dtype=np.int16).reshape(2, 3, 4)
    assert (_decode_nifti(_encode_nifti(vol)) == vol).all()
    assert (_decode_nifti(_encode_nifti(vol, gz=True)) == vol).all()
    assert (_decode_nifti(_encode_nifti(vol.astype(np.float32),
                                        endian=">")) == vol).all()

    df = spark.createDataFrame(
        [(0, bytearray(_encode_nifti(vol, gz=True)))], "id long, scan binary")
    row = decode_medical(df, "scan", compression="nii.gz", strict=True).head()
    assert list(row.shape) == [2, 3, 4]
    got = np.array(row.voxels).reshape(2, 3, 4)  # C-order ravel
    assert (got == vol).all()


def _packbits_encode_test(b):
    """Independent test-side PS3.5 G.3.1 encoder: replicate runs >= 2,
    literal runs broken at 128 bytes or a 3-run lookahead; even pad."""
    out = bytearray()
    i, n = 0, len(b)
    while i < n:
        j = i
        while j + 1 < n and b[j + 1] == b[i] and j - i < 127:
            j += 1
        run = j - i + 1
        if run >= 2:
            out.append(257 - run)
            out.append(b[i])
            i = j + 1
            continue
        k = i
        while k < n and k - i < 128:
            if k + 2 < n and b[k + 1] == b[k] and b[k + 2] == b[k]:
                break
            k += 1
        out.append(k - i - 1)
        out += b[i:k]
        i = k
    if len(out) % 2:
        out.append(0x80)  # pad with the no-op control byte
    return bytes(out)


def _rle_encode_frame_test(a):
    """Test-side PS3.5 Annex G frame: 64-byte header (segment count +
    offsets) + one PackBits segment per Composite-Pixel-Code byte,
    MSB first per sample."""
    import struct as st

    if a.ndim == 2:
        a = a[:, :, None]
    itemsize = a.dtype.itemsize
    segs = []
    for s in range(a.shape[2]):
        be = a[:, :, s].astype(a.dtype.newbyteorder(">")).tobytes(order="C")
        for b in range(itemsize):
            segs.append(_packbits_encode_test(be[b::itemsize]))
    offs, cur = [], 64
    for seg in segs:
        offs.append(cur)
        cur += len(seg)
    offs += [0] * (15 - len(segs))
    return st.pack("<16I", len(segs), *offs) + b"".join(segs)


def _encode_dicom(arr, explicit=True, preamble=True, transfer_syntax=None,
                  with_seq=False, endian="<", rle=False, fragments=None,
                  photometric=None, bits_allocated=None):
    """Test-side DICOM part-10 writer (NEMA PS3.10/PS3.5): 128-byte
    preamble + DICM + explicit-VR file meta (TransferSyntaxUID) + a
    dataset with the image-pixel module and PixelData. `with_seq`
    plants an undefined-length SQ with an undefined-length item before
    the pixel module to exercise the decoder's skip walk. `endian='>'`
    writes the retired explicit-VR big-endian syntax; `rle=True`
    writes RLE Lossless (encapsulated PixelData, Annex G frames);
    `fragments` (list of bytes, with `transfer_syntax`) writes
    pre-encoded encapsulated fragments verbatim (the JPEG lanes) —
    `arr` still supplies the image-pixel header."""
    import struct as st

    import numpy as np

    def ele(g, e, vr, v):  # explicit-VR element
        if len(v) % 2:
            v += b"\x00"
        if vr in (b"OB", b"OW", b"SQ", b"UN", b"UT"):
            return st.pack(endian + "HH2sHI", g, e, vr, 0, len(v)) + v
        return st.pack(endian + "HH2sH", g, e, vr, len(v)) + v

    def eli(g, e, vr, v):  # implicit-VR element
        if len(v) % 2:
            v += b"\x00"
        return st.pack(endian + "HHI", g, e, len(v)) + v

    el = ele if explicit else eli
    signed = arr.dtype.kind == "i"
    bits = bits_allocated or arr.dtype.itemsize * 8
    samples = 1
    if arr.ndim == 2:
        frames, (rows, cols) = 1, arr.shape
    elif arr.ndim == 3 and arr.shape[2] in (3, 4) and (rle or fragments):
        frames, (rows, cols, samples) = 1, arr.shape
    else:
        frames, rows, cols = arr.shape
    body = b""
    if with_seq:
        inner = el(0x0008, 0x0100, b"SH", b"CODE")
        item = (st.pack(endian + "HHI", 0xFFFE, 0xE000, 0xFFFFFFFF) + inner
                + st.pack(endian + "HHI", 0xFFFE, 0xE00D, 0))
        seq = item + st.pack(endian + "HHI", 0xFFFE, 0xE0DD, 0)
        if explicit:
            body += st.pack(endian + "HH2sHI", 0x0008, 0x1140, b"SQ", 0,
                            0xFFFFFFFF) + seq
        else:
            body += st.pack(endian + "HHI", 0x0008, 0x1140, 0xFFFFFFFF) + seq
    body += el(0x0028, 0x0002, b"US", st.pack(endian + "H", samples))
    if photometric is not None:
        body += el(0x0028, 0x0004, b"CS", photometric.encode())
    if frames > 1:
        body += el(0x0028, 0x0008, b"IS", str(frames).encode())
    body += el(0x0028, 0x0010, b"US", st.pack(endian + "H", rows))
    body += el(0x0028, 0x0011, b"US", st.pack(endian + "H", cols))
    stored = arr.dtype.itemsize * 8   # BitsStored = the data's width
    body += el(0x0028, 0x0100, b"US", st.pack(endian + "H", bits))
    body += el(0x0028, 0x0101, b"US", st.pack(endian + "H", stored))
    body += el(0x0028, 0x0102, b"US", st.pack(endian + "H", stored - 1))
    body += el(0x0028, 0x0103, b"US", st.pack(endian + "H", 1 if signed else 0))
    if rle or fragments:
        if fragments:
            # PS3.5 A.4: items are even-length; only the LAST fragment
            # may be padded (a pad inside a split stream would corrupt
            # the concatenated entropy data) — callers split at even
            # offsets
            assert all(len(f) % 2 == 0 for f in fragments[:-1])
            frags = list(fragments[:-1]) + [
                fragments[-1] + (b"\x00" if len(fragments[-1]) % 2 else b"")]
        else:
            fr_arrs = [arr] if arr.ndim == 2 or samples > 1 else list(arr)
            frags = [_rle_encode_frame_test(np.ascontiguousarray(fa))
                     for fa in fr_arrs]
        items = st.pack("<HHI", 0xFFFE, 0xE000, 0)  # empty offset table
        for payload_fr in frags:
            items += st.pack("<HHI", 0xFFFE, 0xE000, len(payload_fr))
            items += payload_fr
        items += st.pack("<HHI", 0xFFFE, 0xE0DD, 0)
        body += st.pack("<HH2sHI", 0x7FE0, 0x0010, b"OB", 0,
                        0xFFFFFFFF) + items
    else:
        pix = arr.astype(arr.dtype.newbyteorder(endian)).tobytes(order="C")
        body += (ele if explicit else eli)(0x7FE0, 0x0010, b"OW", pix)
    if not preamble:
        return body
    if fragments:
        default_ts = "1.2.840.10008.1.2.4.50"
    elif rle:
        default_ts = "1.2.840.10008.1.2.5"
    elif endian == ">":
        default_ts = "1.2.840.10008.1.2.2"
    else:
        default_ts = ("1.2.840.10008.1.2.1" if explicit
                      else "1.2.840.10008.1.2")
    ts = transfer_syntax or default_ts
    tsb = ts.encode()
    if len(tsb) % 2:
        tsb += b"\x00"
    meta = st.pack("<HH2sH", 2, 0x10, b"UI", len(tsb)) + tsb
    metalen = st.pack("<HH2sH", 2, 0, b"UL", 4) + st.pack("<I", len(meta))
    return b"\x00" * 128 + b"DICM" + metalen + meta + body


def test_real_dicom_decode_roundtrip(spark):
    """Uncompressed LE DICOM decodes for REAL (stdlib struct+numpy, no
    pydicom): explicit and implicit VR, part-10 and raw datasets,
    signed int16, undefined-length sequence skipped, multi-frame
    uint8 → (frames, rows, cols)."""
    import numpy as np

    from deeplake_spark.operators.multimodal import _decode_dicom, decode_medical

    sl = (np.arange(12, dtype=np.int16) - 5).reshape(3, 4)
    for kw in (dict(), dict(explicit=False), dict(preamble=False),
               dict(explicit=False, preamble=False), dict(with_seq=True),
               dict(explicit=False, with_seq=True)):
        got = _decode_dicom(_encode_dicom(sl, **kw))
        assert got.dtype == np.int16 and (got == sl).all(), kw

    mf = np.arange(2 * 3 * 4, dtype=np.uint8).reshape(2, 3, 4)
    got = _decode_dicom(_encode_dicom(mf))
    assert got.shape == (2, 3, 4) and got.dtype == np.uint8
    assert (got == mf).all()

    # executor-side: decode_medical over the dcm branch, strict, no pydicom
    df = spark.createDataFrame(
        [(0, bytearray(_encode_dicom(sl))),
         (1, bytearray(_encode_dicom(sl, explicit=False, with_seq=True)))],
        "id long, scan binary")
    rows = (decode_medical(df, "scan", compression="dcm", strict=True)
            .orderBy("id").collect())
    for row in rows:
        assert list(row.shape) == [3, 4]
        assert (np.array(row.voxels).reshape(3, 4) == sl).all()


def test_real_dicom_rle_and_bigendian():
    """Round 14: RLE Lossless (1.2.840.10008.1.2.5) and explicit-VR
    big-endian (.1.2.2) decode for REAL against the independent
    test-side encoder: 8/16-bit, signed, RGB samples, multi-frame."""
    import numpy as np

    from deeplake_spark.operators.multimodal import _decode_dicom

    rng = np.random.default_rng(14)
    # runs + noise so both PackBits branches (replicate + literal) fire
    flat = np.repeat(rng.integers(0, 255, 40), rng.integers(1, 9, 40))
    u8 = flat[:96].astype(np.uint8).reshape(8, 12)
    i16 = (rng.integers(-4000, 4000, (7, 9))).astype(np.int16)
    i16[2:5, 3:6] = -1234  # a replicate run in both byte planes
    rgb = rng.integers(0, 255, (5, 6, 3)).astype(np.uint8)
    rgb[:, :3, :] = 77
    mf16 = rng.integers(0, 60000, (3, 4, 5)).astype(np.uint16)
    for a in (u8, i16, rgb):
        got = _decode_dicom(_encode_dicom(a, rle=True))
        assert got.dtype == a.dtype and got.shape == a.shape
        assert (got == a).all(), a.dtype
    got = _decode_dicom(_encode_dicom(mf16, rle=True))
    assert got.shape == (3, 4, 5) and (got == mf16).all()

    for a in (u8, i16):
        got = _decode_dicom(_encode_dicom(a, endian=">"))
        assert got.dtype == a.dtype and (got == a).all()
    got = _decode_dicom(_encode_dicom(mf16, endian=">", with_seq=True))
    assert (got == mf16).all()


def test_raw_implicit_dataset_vr_lookalike():
    """ADVICE r13: a raw implicit-VR dataset whose first element length
    low-half spells a valid VR ("DA" = 0x4144) must still decode — the
    explicit sniff is a trial with an implicit fallback, not a
    commitment."""
    import struct as st

    import numpy as np

    from deeplake_spark.operators.multimodal import _decode_dicom

    sl = (np.arange(20, dtype=np.int16) - 7).reshape(4, 5)
    body = _encode_dicom(sl, explicit=False, preamble=False)
    # prepend (0008,xxxx) with a 0x4144-byte value: bytes 4:6 == b"DA"
    filler = st.pack("<HHI", 0x0008, 0x0099, 0x4144) + b"\x00" * 0x4144
    payload = filler + body
    assert payload[4:6] == b"DA"
    got = _decode_dicom(payload)
    assert got.dtype == np.int16 and (got == sl).all()


def test_dicom_rle_property_round_trip():
    """Property (hypothesis): ANY array round-trips through the RLE
    encoder/decoder pair — random dtypes/shapes/values, runs planted by
    value quantization so both PackBits branches exercise."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from deeplake_spark.operators.multimodal import _decode_dicom

    dtypes = st.sampled_from([np.uint8, np.int16, np.uint16, np.int32])

    @settings(max_examples=25, deadline=None)
    @given(st.integers(1, 9), st.integers(1, 11), dtypes,
           st.integers(0, 2 ** 32 - 1), st.integers(1, 16))
    def run(rows, cols, dt, seed, quant):
        rng = np.random.default_rng(seed)
        info = np.iinfo(dt)
        a = rng.integers(info.min, int(info.max) + 1,
                         (rows, cols)).astype(dt)
        a = (a // quant) * quant  # quantize → replicate runs appear
        got = _decode_dicom(_encode_dicom(a, rle=True))
        assert got.dtype == a.dtype and got.shape == a.shape
        assert (got == a).all()
        got_be = _decode_dicom(_encode_dicom(a, endian=">"))
        assert (got_be == a).all()

    run()


def test_real_dicom_encapsulated_jpeg_lossless_exact():
    """Encapsulated-JPEG DICOM, lossless lanes (r14 verdict #2): the
    fragment walk routes to the in-repo T.81 SOF3 codec — .4.57 (any
    predictor) and .4.70 (first-order SV1) round-trip PIXEL-EXACT,
    signed data reinterprets per PixelRepresentation (the pydicom
    pixel_array convention), multi-frame stacks one fragment per
    frame, and fragment/header contradictions raise instead of
    returning a wrong array."""
    import numpy as np
    import pytest as pt

    from deeplake_spark.operators._jpeg import encode_lossless
    from deeplake_spark.operators.multimodal import _decode_dicom

    rng = np.random.default_rng(7)

    # .4.57, 16-bit unsigned, default predictor — exact
    a = rng.integers(0, 65536, (9, 11)).astype(np.uint16)
    got = _decode_dicom(_encode_dicom(
        a, fragments=[encode_lossless(a)],
        transfer_syntax="1.2.840.10008.1.2.4.57"))
    assert got.dtype == np.uint16 and (got == a).all()

    # .4.70, first-order prediction (SV1) — exact
    got = _decode_dicom(_encode_dicom(
        a, fragments=[encode_lossless(a, predictor=1)],
        transfer_syntax="1.2.840.10008.1.2.4.70"))
    assert (got == a).all()

    # signed int16 (PixelRepresentation=1): the JPEG stream carries the
    # two's-complement code values; the decoder views them back signed
    s = rng.integers(-3000, 3000, (7, 5)).astype(np.int16)
    got = _decode_dicom(_encode_dicom(
        s, fragments=[encode_lossless(s.view(np.uint16))],
        transfer_syntax="1.2.840.10008.1.2.4.70"))
    assert got.dtype == np.int16 and (got == s).all()

    # multi-frame: one complete JPEG stream per fragment, stacked
    mf = rng.integers(0, 65536, (3, 6, 5)).astype(np.uint16)
    frags = [encode_lossless(f) for f in mf]
    frags = [f + (b"\x00" if len(f) % 2 else b"") for f in frags]
    got = _decode_dicom(_encode_dicom(
        mf, fragments=frags, transfer_syntax="1.2.840.10008.1.2.4.57"))
    assert got.shape == (3, 6, 5) and (got == mf).all()

    # multi-frame fragment-count mismatch: a frame may LEGALLY span
    # fragments (PS3.5 A.4, BOT-grouped) — our lane can't group it, so
    # it is UNSUPPORTED (the pydicom fallthrough), never a hard
    # ValueError that would bypass a decoder that can (r15 review)
    from deeplake_spark.operators.multimodal import _MedicalUnsupported
    with pt.raises(_MedicalUnsupported, match="fragments"):
        _decode_dicom(_encode_dicom(
            mf, fragments=frags[:2],
            transfer_syntax="1.2.840.10008.1.2.4.57"))

    # header contradiction: JPEG frame shape != Rows/Columns
    wrong = rng.integers(0, 65536, (4, 4)).astype(np.uint16)
    with pt.raises(ValueError, match="contradicts"):
        _decode_dicom(_encode_dicom(
            a, fragments=[encode_lossless(wrong)],
            transfer_syntax="1.2.840.10008.1.2.4.57"))


def test_real_dicom_encapsulated_jpeg_baseline_and_extended():
    """Encapsulated lossy JPEG DICOM: .4.50 baseline (SOF0, 8-bit —
    the most common compressed PACS export) and .4.51 extended (SOF1,
    12-bit) decode through the in-repo DCT codec within the MJPEG
    lossy tolerance band; a single frame split across MULTIPLE
    fragments concatenates (PS3.5 A.4 — the fixed-fragment-size layout
    real exporters emit); RGB carries SamplesPerPixel=3."""
    import numpy as np

    from deeplake_spark.operators._jpeg import encode_baseline
    from deeplake_spark.operators.multimodal import _decode_dicom

    y, x = np.mgrid[0:16, 0:24]
    gray = (96 + 40 * np.sin(x / 5.0) + 30 * np.cos(y / 4.0)).astype(np.uint8)

    stream = encode_baseline(gray)
    payload = _encode_dicom(gray, fragments=[stream],
                            transfer_syntax="1.2.840.10008.1.2.4.50")
    got = _decode_dicom(payload)
    assert got.dtype == np.uint8 and got.shape == gray.shape
    err = np.abs(got.astype(int) - gray.astype(int))
    assert err.max() <= 20 and err.mean() <= 4

    # strict mode is REAL for .4.50 now — no pydicom, no fake
    from deeplake_spark.operators.multimodal import _volume
    assert (_volume(payload, "dcm", strict=True) == got).all()

    # the SAME stream split mid-entropy-data across two fragments
    cut = (len(stream) // 2) & ~1  # even offset (items are even-length)
    got2 = _decode_dicom(_encode_dicom(
        gray, fragments=[stream[:cut], stream[cut:]],
        transfer_syntax="1.2.840.10008.1.2.4.50"))
    assert (got2 == got).all()

    # RGB baseline (SamplesPerPixel=3)
    rgb = np.stack([gray, gray[::-1], gray[:, ::-1]], axis=-1)
    got = _decode_dicom(_encode_dicom(
        rgb, fragments=[encode_baseline(rgb)],
        transfer_syntax="1.2.840.10008.1.2.4.50"))
    assert got.shape == rgb.shape
    err = np.abs(got.astype(int) - rgb.astype(int))
    assert err.max() <= 25 and err.mean() <= 5

    # .4.51 extended 12-bit (SOF1): uint16 samples, scaled tolerance
    g12 = (gray.astype(np.uint16) * 16).clip(0, 4095)
    got = _decode_dicom(_encode_dicom(
        g12, fragments=[encode_baseline(g12, precision=12)],
        transfer_syntax="1.2.840.10008.1.2.4.51"))
    assert got.dtype == np.uint16 and got.shape == g12.shape
    err = np.abs(got.astype(int) - g12.astype(int))
    assert err.max() <= 20 * 16 and err.mean() <= 4 * 16


def test_dicom_jpeg_photometric_bits_and_taxonomy(monkeypatch):
    """r15 review pins on the encapsulated-JPEG lane:

    - PhotometricInterpretation=RGB on a DCT syntax is UNSUPPORTED
      (the codec inverse-YCbCr-transforms every 3-component DCT frame
      — decoding RGB-stored components would scramble colors), while
      YBR_FULL_422 decodes; the lossless lane applies no transform and
      accepts RGB as stored.
    - BitsStored 8 in BitsAllocated 16 (legal per PS3.5) widens the
      decoded samples to the allocated dtype instead of raising, sign-
      extending at the decoded width for PixelRepresentation=1.
    - Defined-length (non-encapsulated) PixelData under a JPEG syntax
      is UNSUPPORTED, not malformed — pydicom gets its chance."""
    import numpy as np
    import pytest as pt

    from deeplake_spark.operators._jpeg import (
        encode_baseline, encode_lossless)
    from deeplake_spark.operators.multimodal import (
        _MedicalUnsupported, _decode_dicom)

    y, x = np.mgrid[0:8, 0:12]
    gray = (90 + 30 * np.sin(x / 3.0) + 20 * np.cos(y / 2.0)).astype(np.uint8)
    rgb = np.stack([gray, gray[::-1], gray[:, ::-1]], axis=-1)

    # DCT + RGB photometric: unsupported, never a scrambled array
    with pt.raises(_MedicalUnsupported, match="RGB"):
        _decode_dicom(_encode_dicom(
            rgb, fragments=[encode_baseline(rgb)],
            transfer_syntax="1.2.840.10008.1.2.4.50", photometric="RGB"))
    # DCT + YBR declared: decodes (same stream as the untagged lane)
    got = _decode_dicom(_encode_dicom(
        rgb, fragments=[encode_baseline(rgb)],
        transfer_syntax="1.2.840.10008.1.2.4.50",
        photometric="YBR_FULL_422"))
    assert got.shape == rgb.shape
    # lossless + RGB photometric: no transform, exact, as stored
    rgb16 = rgb.astype(np.uint16) * 200
    got = _decode_dicom(_encode_dicom(
        rgb16, fragments=[encode_lossless(rgb16)],
        transfer_syntax="1.2.840.10008.1.2.4.57", photometric="RGB"))
    assert (got == rgb16).all()

    # 8-in-16: BitsAllocated=16, JPEG precision 8 — widens, not raises
    a8 = gray
    got = _decode_dicom(_encode_dicom(
        a8, fragments=[encode_lossless(a8)],
        transfer_syntax="1.2.840.10008.1.2.4.70", bits_allocated=16))
    assert got.dtype == np.uint16 and (got == a8.astype(np.uint16)).all()
    # signed 8-in-16: sign-extends at the decoded width
    s8 = (gray.astype(np.int16) - 120).astype(np.int8)
    got = _decode_dicom(_encode_dicom(
        s8, fragments=[encode_lossless(s8.view(np.uint8))],
        transfer_syntax="1.2.840.10008.1.2.4.70", bits_allocated=16))
    assert got.dtype == np.int16 and (got == s8.astype(np.int16)).all()

    # defined-length PixelData under a JPEG syntax: unsupported
    with pt.raises(_MedicalUnsupported, match="encapsulated"):
        _decode_dicom(_encode_dicom(
            gray, transfer_syntax="1.2.840.10008.1.2.4.50"))


def test_medical_dicom_compressed_falls_to_pydicom(monkeypatch):
    """Compressed transfer syntaxes are _MedicalUnsupported for the
    stdlib decoder: strict without pydicom raises the taxonomy error;
    with pydicom importable the fallthrough runs (stub-module proof,
    the av/soundfile pattern). Truly malformed payloads raise
    ValueError in strict mode."""
    import sys
    import types

    import numpy as np
    import pytest as pt

    from deeplake_spark.operators.multimodal import _volume

    # J2K (.4.90) stays beyond the stdlib decoder (the JPEG families
    # .4.50/.51/.57/.70 decode in-repo since r15)
    j2k = _encode_dicom(np.zeros((2, 2), dtype=np.uint8),
                        transfer_syntax="1.2.840.10008.1.2.4.90")
    with pt.raises(NotImplementedError):
        _volume(j2k, "dcm", strict=True)
    with pt.raises(ValueError):
        _volume(b"DICM-ish", "dcm", strict=True)

    pix = np.full((3, 3), 42, dtype=np.int16)

    class _DS:
        pixel_array = pix

    stub = types.ModuleType("pydicom")
    stub.dcmread = lambda fh: _DS()
    monkeypatch.setitem(sys.modules, "pydicom", stub)
    assert (_volume(j2k, "dcm", strict=True) == pix).all()


def test_real_stl_mesh_stats(spark):
    """Binary STL decodes for REAL (struct+numpy): two unit right
    triangles → 4 unique vertices, area 1.0, exact bbox."""
    import struct as st

    import numpy as np

    from deeplake_spark.operators.multimodal import mesh_stats

    tris = np.array([
        [[0, 0, 0], [1, 0, 0], [0, 1, 0]],
        [[1, 0, 0], [1, 1, 0], [0, 1, 0]],
    ], dtype=np.float32)
    body = bytearray(b"\0" * 80 + st.pack("<I", len(tris)))
    for t in tris:
        body += st.pack("<3f", 0, 0, 1)
        for v in t:
            body += st.pack("<3f", *v)
        body += st.pack("<H", 0)
    df = spark.createDataFrame([(0, bytearray(bytes(body)))],
                               "id long, mesh binary")
    row = mesh_stats(df, "mesh", compression="stl", strict=True).head()
    assert row.n_vertices == 4 and row.n_faces == 2
    assert abs(row.area - 1.0) < 1e-9
    assert list(row.bbox) == [0.0, 0.0, 0.0, 1.0, 1.0, 0.0]


def test_real_ply_ascii_mesh_stats(spark):
    """ASCII PLY decodes for REAL: a unit square as one quad face is
    fan-triangulated into 2 faces with area 1.0."""
    from deeplake_spark.operators.multimodal import mesh_stats

    ply = b"\n".join([
        b"ply", b"format ascii 1.0",
        b"element vertex 4",
        b"property float x", b"property float y", b"property float z",
        b"element face 1",
        b"property list uchar int vertex_indices",
        b"end_header",
        b"0 0 0", b"1 0 0", b"1 1 0", b"0 1 0",
        b"4 0 1 2 3",
    ])
    df = spark.createDataFrame([(0, bytearray(ply))], "id long, mesh binary")
    row = mesh_stats(df, "mesh", compression="ply", strict=True).head()
    assert row.n_vertices == 4 and row.n_faces == 2
    assert abs(row.area - 1.0) < 1e-9


def test_mesh_trimesh_real_branch_with_stub(monkeypatch):
    """Binary PLY is outside the stdlib path: with trimesh importable
    the real branch runs (stub proof); without it, strict raises."""
    import sys
    import types

    import numpy as np
    import pytest as pt

    from deeplake_spark.operators.multimodal import _mesh

    binary_ply = b"ply\nformat binary_little_endian 1.0\nend_header\n\x00"
    with pt.raises(NotImplementedError):
        _mesh(binary_ply, "ply", strict=True)

    class _M:
        vertices = np.zeros((5, 3))
        faces = np.zeros((3, 3), dtype=np.int64)

    stub = types.ModuleType("trimesh")
    stub.load = lambda fh, file_type=None: _M()
    monkeypatch.setitem(sys.modules, "trimesh", stub)
    verts, faces = _mesh(binary_ply, "ply", strict=True)
    assert verts.shape == (5, 3) and faces.shape == (3, 3)


def test_real_jpeg_decode_roundtrip(spark):
    """Baseline JPEG decodes for REAL via the stdlib codec pair
    (operators/_jpeg.py — encoder writes its own canonical Huffman +
    quant tables, decoder reads tables from the stream per the
    standard): gray and RGB round-trip within lossy-codec tolerance,
    shapes exact, through BOTH _decode_one and the Spark
    decode_images pipeline."""
    import numpy as np

    from deeplake_spark.operators._jpeg import decode_baseline, encode_baseline
    from deeplake_spark.operators.multimodal import _decode_one, decode_images

    rng = np.random.default_rng(42)
    yy, xx = np.mgrid[0:24, 0:33]
    gray = np.clip(100 + 2 * xx + 1.5 * yy + rng.normal(0, 3, (24, 33)),
                   0, 255).astype(np.uint8)
    rgb = np.stack([
        np.clip(80 + 2 * xx, 0, 255),
        np.clip(60 + 1.5 * yy, 0, 255),
        np.clip(150 - 1.1 * xx, 0, 255)], axis=-1).astype(np.uint8)

    for img in (gray, rgb):
        out = _decode_one(encode_baseline(img), "jpg", strict=True)
        assert out.shape == img.shape
        err = np.abs(out.astype(int) - img.astype(int))
        assert err.max() <= 20 and err.mean() <= 4   # lossy, but close

    # chroma-subsampled layouts (4:2:0 is the real-world default)
    for sub in ("422", "420"):
        out = _decode_one(encode_baseline(rgb, subsampling=sub), "jpg",
                          strict=True)
        assert out.shape == rgb.shape
        err = np.abs(out.astype(int) - rgb.astype(int))
        assert err.max() <= 25 and err.mean() <= 5

    # through the Spark pipeline (Arrow-batched mapInPandas)
    df = spark.createDataFrame(
        [(1, bytearray(encode_baseline(rgb)))], "id long, image binary")
    row = decode_images(df, compression="jpg", strict=True).head()
    assert row["shape"] == [24, 33, 3]
    px = np.array(row["pixels"], dtype=np.uint8)
    assert np.abs(px.astype(int) - rgb.astype(int)).mean() <= 4

    # a TRUNCATED stream (SOF2 header, no scans) must fall through,
    # never return garbage: strict raises here (no PIL in this
    # container). Real progressive streams now decode — see
    # test_progressive_jpeg_decode below.
    import pytest as pt

    truncated = (b"\xff\xd8\xff\xc2" + b"\x00\x0b" + b"\x08\x00\x10\x00\x10\x01"
                 + b"\x01\x11\x00" + b"\xff\xd9")
    try:
        import PIL  # noqa: F401
    except ImportError:
        with pt.raises(NotImplementedError):
            _decode_one(truncated, "jpg", strict=True)


def test_progressive_jpeg_decode(spark):
    """Progressive JPEG (SOF2 — the dominant layout in web-crawled
    corpora; reference Image htype decodes it via libjpeg,
    python/deeplake/types.pyi:1011-1036) decodes for REAL in-container.

    The progressive encoder uses a libjpeg-flavored scan script (DC
    first at Al=1 + DC refinement; luma AC split into 1-5 / 6-63 bands;
    per-component full-band refinement to Al=0), so the decode exercises
    spectral selection, successive approximation (first + refine for DC
    and AC), and EOB-run accumulation. Quantization matches the baseline
    encoder, so the progressive re-encode must decode to PIXEL-IDENTICAL
    output vs the baseline stream — a far stronger check than a
    tolerance band."""
    import numpy as np

    from deeplake_spark.operators._jpeg import (
        decode_baseline,
        encode_baseline,
        encode_progressive,
    )
    from deeplake_spark.operators.multimodal import _decode_one, decode_images

    rng = np.random.default_rng(11)
    yy, xx = np.mgrid[0:41, 0:53]
    gray = np.clip(90 + 2 * xx + 1.7 * yy + rng.normal(0, 4, (41, 53)),
                   0, 255).astype(np.uint8)
    rgb = np.stack([
        np.clip(70 + 2 * xx, 0, 255),
        np.clip(50 + 1.5 * yy, 0, 255),
        np.clip(160 - 1.2 * xx, 0, 255)], axis=-1).astype(np.uint8)
    flat = np.full((40, 48, 3), 128, dtype=np.uint8)  # EOB-run heavy
    noisy = rng.integers(0, 256, (24, 24, 3), dtype=np.uint8)

    cases = [(gray, "444"), (rgb, "444"), (rgb, "422"), (rgb, "420"),
             (flat, "420"), (noisy, "444"), (noisy, "420")]
    for img, sub in cases:
        if img.ndim == 2:
            base_b, prog_b = encode_baseline(img), encode_progressive(img)
        else:
            base_b = encode_baseline(img, subsampling=sub)
            prog_b = encode_progressive(img, subsampling=sub)
        assert b"\xff\xc2" in prog_b and b"\xff\xc0" not in prog_b
        assert prog_b.count(b"\xff\xda") > 3      # genuinely multi-scan
        assert np.array_equal(decode_baseline(prog_b),
                              decode_baseline(base_b)), (img.shape, sub)

    # through the multimodal entry and the Spark pipeline
    out = _decode_one(encode_progressive(rgb, subsampling="420"), "jpg",
                      strict=True)
    assert out.shape == rgb.shape
    assert np.abs(out.astype(int) - rgb.astype(int)).mean() <= 5
    df = spark.createDataFrame(
        [(1, bytearray(encode_progressive(rgb)))], "id long, image binary")
    row = decode_images(df, compression="jpg", strict=True).head()
    assert row["shape"] == [41, 53, 3]


def test_jpeg_restart_markers_roundtrip():
    """DRI/RSTn streams (the error-resilience layout camera firmware
    emits) decode for real: DC predictors and bit alignment reset per
    interval. Encoding with any restart interval must decode to the
    IDENTICAL pixels as the marker-free stream — including intervals
    that do not divide the MCU count."""
    import numpy as np

    from deeplake_spark.operators._jpeg import decode_baseline, encode_baseline

    x, y = np.meshgrid(np.arange(61), np.arange(45))
    rgb = np.stack([(x * 3 + y * 5) % 256, (x * 7) % 256, (y * 11) % 256],
                   axis=-1).astype(np.uint8)
    gray = ((x * 2 + y * 3) % 256).astype(np.uint8)
    for img, sub in [(rgb, "444"), (rgb, "420"), (rgb, "422"), (gray, None)]:
        kw = {} if sub is None else {"subsampling": sub}
        plain = decode_baseline(encode_baseline(img, **kw))
        for ri in (1, 3, 7):
            b = encode_baseline(img, restart_interval=ri, **kw)
            assert b"\xff\xdd" in b
            # real RSTn markers present (0xFF in entropy data is always
            # stuffed with 0x00, so FF Dn can only be a marker)
            assert any(bytes([0xFF, 0xD0 + i]) in b for i in range(8))
            assert np.array_equal(decode_baseline(b), plain), (sub, ri)


def test_real_mjpeg_avi_video_decode(spark):
    """Video decodes for REAL in-container via MJPEG-in-AVI: a stdlib
    RIFF walk feeds each '00dc' chunk to the in-repo JPEG decoder —
    no PyAV needed. Frame sampling, pixel identity with per-frame JPEG
    decode, and the Spark mapInPandas pipeline all verified; a
    non-MJPEG AVI refuses rather than returning garbage."""
    import numpy as np
    import pytest as pt

    from deeplake_spark.operators._jpeg import decode_baseline, encode_baseline
    from deeplake_spark.operators.multimodal import (
        _decode_video_frames_avi,
        encode_mjpeg_avi,
        sample_video_frames,
    )

    x, y = np.meshgrid(np.arange(48), np.arange(32))
    frames = [np.stack([(x * 3 + y * 5 + 20 * t) % 256, (x * 7 + t) % 256,
                        (y * 11 + 3 * t) % 256], axis=-1).astype(np.uint8)
              for t in range(6)]
    avi = encode_mjpeg_avi(frames, fps=5)

    got = _decode_video_frames_avi(avi, every_n=2)
    assert [i for i, _ in got] == [0, 2, 4]
    for i, fr in got:
        want = decode_baseline(encode_baseline(frames[i], subsampling="420"))
        assert np.array_equal(fr, want)

    # distributed: one row per sampled frame, exact pixels, strict mode
    df = spark.createDataFrame([(7, bytearray(avi))],
                               "doc_id long, video binary")
    rows = sample_video_frames(df, every_n=3, strict=True).collect()
    assert sorted(r.frame_index for r in rows) == [0, 3]
    for r in rows:
        want = decode_baseline(
            encode_baseline(frames[r.frame_index], subsampling="420"))
        assert np.array_equal(
            np.array(r.frame, dtype=np.uint8), want)

    # a RIFF/AVI whose stream is NOT MJPEG must refuse loudly
    bad = avi.replace(b"\xff\xd8", b"\x00\x00", 1)
    with pt.raises(Exception):
        _decode_video_frames_avi(bad, every_n=1)


def test_real_dib_avi_video_decode(spark):
    """The SECOND real in-container video codec: uncompressed-DIB AVI
    (BI_RGB 24-bit '00db' chunks) round-trips LOSSLESSLY through the
    stdlib RIFF walk — bottom-up BGR rows with 4-byte padding decoded
    straight from the strf header. A non-MJPEG/non-DIB AVI falls back
    to the deterministic fake under strict=False (the PyAV/fake
    hierarchy the docstring promises) and raises under strict=True."""
    import numpy as np
    import pytest as pt

    from deeplake_spark.operators.multimodal import (
        _decode_video_frames_avi,
        _video_frames,
        encode_dib_avi,
        encode_mjpeg_avi,
        sample_video_frames,
    )

    # width 47: stride 141 pads to 144 — the row-padding path is real
    x, y = np.meshgrid(np.arange(47), np.arange(22))
    frames = [np.stack([(x * 5 + y + 9 * t) % 256, (y * 3 + t) % 256,
                        (x + y * 7 + 2 * t) % 256], axis=-1).astype(np.uint8)
              for t in range(5)]
    avi = encode_dib_avi(frames, fps=4)

    got = _decode_video_frames_avi(avi, every_n=2)
    assert [i for i, _ in got] == [0, 2, 4]
    for i, fr in got:
        assert np.array_equal(fr, frames[i])   # lossless, unlike MJPEG

    # the Spark lane sees identical pixels
    df = spark.createDataFrame([(3, bytearray(avi))],
                               "doc_id long, video binary")
    rows = sample_video_frames(df, every_n=4, strict=True).collect()
    assert sorted(r.frame_index for r in rows) == [0, 4]
    for r in rows:
        assert np.array_equal(np.array(r.frame, dtype=np.uint8),
                              frames[r.frame_index])

    # unsupported codec in an AVI: strict raises, lax falls back to the
    # deterministic fake clip instead of erroring the whole batch
    h264ish = encode_mjpeg_avi(frames[:2]).replace(b"\xff\xd8", b"\x1b\x00")
    with pt.raises(ValueError):
        _video_frames(h264ish, every_n=1, strict=True)
    lax = _video_frames(h264ish, every_n=4, strict=False)
    assert [i for i, _ in lax] == [0, 4]

    with pt.raises(ValueError, match="at least one frame"):
        encode_dib_avi([])
    with pt.raises(ValueError, match="at least one frame"):
        encode_mjpeg_avi([])


def test_real_mjpeg_mp4_video_decode(spark):
    """mp4 (ISO-BMFF) joins AVI as a REAL container: a stdlib box walk
    (moov/trak/mdia/minf/stbl → stsd+stsz+stsc+stco) reconstructs
    per-sample offsets and feeds each MJPEG sample to the in-repo JPEG
    decoder — pixels identical to a per-frame JPEG decode. The encoder
    writes each frame as its own chunk, so the stsc/stco expansion is
    exercised for real. A non-MJPEG mp4 (avc1 sample entry) raises in
    the box walk and falls through to the fake under strict=False —
    the same PyAV/fake hierarchy AVI documents; h264 entropy decode
    itself stays out of stdlib scope (reference decodes via ffmpeg,
    types.pyi:1310-1361)."""
    import numpy as np
    import pytest as pt

    from deeplake_spark.operators._jpeg import decode_baseline, encode_baseline
    from deeplake_spark.operators.multimodal import (
        _decode_video_frames_mp4,
        _video_frames,
        encode_mjpeg_mp4,
        sample_video_frames,
    )

    x, y = np.meshgrid(np.arange(40), np.arange(24))
    frames = [np.stack([(x * 2 + y * 3 + 17 * t) % 256, (y * 5 + t) % 256,
                        (x * 3 + 4 * t) % 256], axis=-1).astype(np.uint8)
              for t in range(5)]
    mp4 = encode_mjpeg_mp4(frames, fps=6)
    assert mp4[4:8] == b"ftyp" and b"moov" in mp4 and b"jpeg" in mp4

    got = _decode_video_frames_mp4(mp4, every_n=2)
    assert [i for i, _ in got] == [0, 2, 4]
    for i, fr in got:
        want = decode_baseline(encode_baseline(frames[i], subsampling="420"))
        assert np.array_equal(fr, want)

    # the Spark mapInPandas lane decodes the same pixels, strict mode
    df = spark.createDataFrame([(11, bytearray(mp4))],
                               "doc_id long, video binary")
    rows = sample_video_frames(df, every_n=3, strict=True).collect()
    assert sorted(r.frame_index for r in rows) == [0, 3]
    for r in rows:
        want = decode_baseline(
            encode_baseline(frames[r.frame_index], subsampling="420"))
        assert np.array_equal(np.array(r.frame, dtype=np.uint8), want)

    # an mp4 whose sample entry is NOT an MJPEG flavor: strict raises
    # from the box walk; lax falls back to the deterministic fake
    h264ish = mp4.replace(b"jpeg", b"avc1")
    with pt.raises(ValueError, match="non-MJPEG"):
        _decode_video_frames_mp4(h264ish, every_n=1)
    with pt.raises(ValueError):
        _video_frames(h264ish, every_n=1, strict=True)
    lax = _video_frames(h264ish, every_n=4, strict=False)
    assert [i for i, _ in lax] == [0, 4]

    # truncated/garbage ISO-BMFF refuses rather than mis-slicing
    with pt.raises(ValueError):
        _decode_video_frames_mp4(mp4[:40], every_n=1)
    with pt.raises(ValueError, match="at least one frame"):
        encode_mjpeg_mp4([])

    # an AUDIO trak listed BEFORE the video trak (the common ffmpeg
    # layout) must be skipped by the hdlr check, not mistaken for a
    # non-MJPEG video stream: splice a 'soun'/'mp4a' clone of the trak
    # ahead of the real one (moov is the last box, so stco offsets
    # into mdat stay valid)
    import struct as _st
    mpos = mp4.rindex(b"moov") - 4
    (msize,) = _st.unpack_from(">I", mp4, mpos)
    payload = mp4[mpos + 8:mpos + msize]
    tpos = payload.index(b"trak") - 4
    trak = payload[tpos:]
    fake_audio = trak.replace(b"vide", b"soun").replace(b"jpeg", b"mp4a")
    new_payload = payload[:tpos] + fake_audio + trak
    spliced = (mp4[:mpos]
               + _st.pack(">I", len(new_payload) + 8) + b"moov"
               + new_payload)
    got2 = _decode_video_frames_mp4(spliced, every_n=2)
    assert [i for i, _ in got2] == [0, 2, 4]
    for (i, a), (_, b) in zip(got2, got):
        assert np.array_equal(a, b)


def test_png_low_bit_depths_decode_real():
    """1/2/4-bit PNG (the favicon/icon layout across web crawls)
    decodes for real: packed MSB-first samples, byte-level filters with
    bpp=1, gray presented at 8-bit with the exact PIL 'L' scaling
    (255/(2^d-1)), palette indices looked up directly — sequential AND
    Adam7, all filter types, widths that do not fill the last byte."""
    import struct as st
    import zlib

    import numpy as np

    from deeplake_spark.operators.multimodal import _decode_png

    rng = np.random.default_rng(9)
    for d in (1, 2, 4):
        scale = 255 // ((1 << d) - 1)
        vals = rng.integers(0, 1 << d, size=(9, 11), dtype=np.uint8)
        for interlace in (False, True):
            for filters in ([0], [0, 1, 2, 3, 4]):
                out = _decode_png(_encode_png(vals, filters=filters,
                                              depth=d, interlace=interlace))
                assert out.shape == (9, 11)
                assert np.array_equal(out, vals * scale), (d, interlace)

    # paletted 4-bit: indices -> PLTE rows
    plte = rng.integers(0, 256, size=(16, 3), dtype=np.uint8)
    idx = rng.integers(0, 16, size=(6, 5), dtype=np.uint8)
    body = _encode_png(idx, color=3, depth=4, filters=[0, 2])

    def chunk(ctype, data):
        return (st.pack(">I", len(data)) + ctype + data
                + st.pack(">I", zlib.crc32(ctype + data)))

    ihdr_end = 8 + 12 + 13
    payload = body[:ihdr_end] + chunk(b"PLTE", plte.tobytes()) + body[ihdr_end:]
    assert (_decode_png(payload) == plte[idx]).all()


def test_png_palette_trns_alpha():
    """Paletted PNG with a tRNS chunk decodes to RGBA: per-entry alpha,
    short chunks leave the remaining entries opaque (spec 11.3.2) —
    the transparent-background web-image layout."""
    import struct as st
    import zlib

    import numpy as np

    from deeplake_spark.operators.multimodal import _decode_png

    rng = np.random.default_rng(21)
    plte = rng.integers(0, 256, size=(8, 3), dtype=np.uint8)
    idx = rng.integers(0, 8, size=(5, 6), dtype=np.uint8)
    body = _encode_png(idx, color=3, depth=4)

    def chunk(ctype, data):
        return (st.pack(">I", len(data)) + ctype + data
                + st.pack(">I", zlib.crc32(ctype + data)))

    ihdr_end = 8 + 12 + 13
    alphas = bytes([0, 128, 255])          # entries 3..7 default opaque
    payload = (body[:ihdr_end] + chunk(b"PLTE", plte.tobytes())
               + chunk(b"tRNS", alphas) + body[ihdr_end:])
    out = _decode_png(payload)
    assert out.shape == (5, 6, 4)
    assert np.array_equal(out[:, :, :3], plte[idx])
    want_a = np.array([0, 128, 255, 255, 255, 255, 255, 255],
                      dtype=np.uint8)[idx]
    assert np.array_equal(out[:, :, 3], want_a)

    # without tRNS the same stream stays RGB
    plain = (body[:ihdr_end] + chunk(b"PLTE", plte.tobytes())
             + body[ihdr_end:])
    assert _decode_png(plain).shape == (5, 6, 3)


def test_jpeg_multiscan_baseline_noninterleaved():
    """Multi-scan BASELINE JPEG (one non-interleaved SOS per component,
    T.81 A.2.2 — some encoders emit it for 4:2:0) decodes identically
    to the interleaved single-scan stream of the same image. The
    fixture stream is built here from the codec's own block/Huffman
    primitives, so the decoder is exercised against an independently
    assembled layout, not its own encoder's output."""
    import struct as st

    import numpy as np

    from deeplake_spark.operators import _jpeg as J

    x, y = np.meshgrid(np.arange(37), np.arange(29))
    img = np.stack([(x * 3 + y * 5) % 256, (x * 7) % 256, (y * 11) % 256],
                   axis=-1).astype(np.uint8)

    for sub in ("444", "420"):
        planes, sampling = J._to_planes(img, sub)
        h, w = img.shape[:2]
        hmax = max(hs for hs, _ in sampling)
        vmax = max(vs for _, vs in sampling)
        mx = (w + 8 * hmax - 1) // (8 * hmax)
        my = (h + 8 * vmax - 1) // (8 * vmax)
        blocks = [J._plane_blocks(planes[ci], my * vs, mx * hs)
                  for ci, (hs, vs) in enumerate(sampling)]

        def comp_blocks(ci):
            hs, vs = sampling[ci]
            cw = -(-(w * hs) // hmax)
            ch = -(-(h * vs) // vmax)
            for by in range(-(-ch // 8)):
                for bx in range(-(-cw // 8)):
                    yield blocks[ci][by][bx]

        def encode_block(zz, pred, dc_sym, ac_sym, bits):
            diff = int(zz[0]) - pred
            size = J._category(diff)
            dc_sym(size)
            if size:
                bits(diff if diff >= 0 else diff + (1 << size) - 1, size)
            run = 0
            last = max((i for i in range(1, 64) if zz[i] != 0), default=0)
            for i in range(1, last + 1):
                v = int(zz[i])
                if v == 0:
                    run += 1
                    continue
                while run > 15:
                    ac_sym(0xF0)
                    run -= 16
                s = J._category(v)
                ac_sym((run << 4) | s)
                bits(v if v >= 0 else v + (1 << s) - 1, s)
                run = 0
            if last < 63:
                ac_sym(0x00)
            return int(zz[0])

        out = bytearray(b"\xff\xd8")
        qz = J._QTAB.reshape(64)[J._ZIGZAG]
        out += (b"\xff\xdb" + st.pack(">H", 67) + b"\x00"
                + bytes(int(v) for v in qz))
        sof = bytearray(st.pack(">BHHB", 8, h, w, 3))
        for ci, (hs, vs) in enumerate(sampling):
            sof += bytes([ci + 1, (hs << 4) | vs, 0])
        out += b"\xff\xc0" + st.pack(">H", len(sof) + 2) + sof

        for ci in range(3):
            dc_syms, ac_syms = set(), {0x00, 0xF0}
            pred = 0
            for zz in comp_blocks(ci):
                pred = encode_block(zz, pred, dc_syms.add, ac_syms.add,
                                    lambda v, n: None)
            dc_counts, dc_tab = J._canonical_code(sorted(dc_syms))
            ac_counts, ac_tab = J._canonical_code(sorted(ac_syms))
            out += J._dht_segment(0, 0, dc_counts, dc_tab)
            out += J._dht_segment(1, 0, ac_counts, ac_tab)
            out += (b"\xff\xda" + st.pack(">H", 8)
                    + bytes([1, ci + 1, 0x00, 0, 63, 0]))
            bw = J._BitWriter()
            pred = 0
            for zz in comp_blocks(ci):
                pred = encode_block(
                    zz, pred,
                    lambda s: bw.put(*dc_tab[s]),
                    lambda s: bw.put(*ac_tab[s]),
                    lambda v, n: bw.put(v, n))
            bw.flush()
            out += bw.out
        out += b"\xff\xd9"

        multi = J.decode_baseline(bytes(out))
        single = J.decode_baseline(J.encode_baseline(img, subsampling=sub))
        assert np.array_equal(multi, single), sub


def test_png_trns_gray_and_rgb_colorkey():
    """tRNS on gray (one transparent sample value) and on RGB (one
    transparent color) decode to gray+alpha / RGBA — the color-key
    transparency layout (spec 11.3.2); the raw pre-scaling sample is
    what the key matches."""
    import struct as st
    import zlib

    import numpy as np

    from deeplake_spark.operators.multimodal import _decode_png

    def chunk(ctype, data):
        return (st.pack(">I", len(data)) + ctype + data
                + st.pack(">I", zlib.crc32(ctype + data)))

    def splice(body, tchunk):
        ihdr_end = 8 + 12 + 13
        return body[:ihdr_end] + tchunk + body[ihdr_end:]

    # 8-bit gray, key = 7
    gray = np.array([[7, 8], [9, 7]], dtype=np.uint8)
    out = _decode_png(splice(_encode_png(gray),
                             chunk(b"tRNS", st.pack(">H", 7))))
    assert out.shape == (2, 2, 2)
    assert np.array_equal(out[:, :, 0], gray)
    assert np.array_equal(out[:, :, 1],
                          np.where(gray == 7, 0, 255).astype(np.uint8))

    # 16-bit gray, key above 255 proves the full-width compare
    g16 = np.array([[300, 301]], dtype=np.uint16)
    out = _decode_png(splice(_encode_png(g16),
                             chunk(b"tRNS", st.pack(">H", 300))))
    assert out.dtype == np.uint16 and out.shape == (1, 2, 2)
    assert list(out[0, :, 1]) == [0, 65535]

    # 8-bit RGB color key
    rgb = np.array([[[1, 2, 3], [4, 5, 6]]], dtype=np.uint8)
    out = _decode_png(splice(_encode_png(rgb),
                             chunk(b"tRNS", st.pack(">HHH", 1, 2, 3))))
    assert out.shape == (1, 2, 4)
    assert list(out[0, :, 3]) == [0, 255]
    assert np.array_equal(out[:, :, :3], rgb)


def test_lossless_jpeg_roundtrip_all_predictors():
    """SOF3 lossless JPEG (T.81 Annex H — the archival/medical flavor):
    every predictor 1-7 round-trips PIXEL-EXACT through the from-scratch
    codec at 8, 12 and 16-bit precision, grayscale and RGB (components
    stay untransformed — no YCbCr in the lossless path). The stream is
    standard-valid: SOF3 + DHT + SOS with the predictor in Ss."""
    import numpy as np
    import pytest as pt

    from deeplake_spark.operators._jpeg import (
        JpegUnsupported,
        decode,
        encode_lossless,
    )

    rng = np.random.default_rng(11)
    cases = [
        rng.integers(0, 256, (21, 33), dtype=np.uint8),
        rng.integers(0, 256, (14, 15, 3), dtype=np.uint8),
        rng.integers(0, 65536, (11, 8), dtype=np.uint16),
        np.full((6, 6), 200, dtype=np.uint8),                 # flat
        np.arange(0, 256, dtype=np.uint8).reshape(16, 16),    # gradient
    ]
    for img in cases:
        for pred in range(1, 8):
            got = decode(encode_lossless(img, predictor=pred))
            assert got.dtype == img.dtype
            assert np.array_equal(got, img), pred
    # 12-bit (the DICOM staple): exact too, decodes to uint16
    img12 = rng.integers(0, 4096, (9, 13), dtype=np.uint16)
    got = decode(encode_lossless(img12, precision=12))
    assert got.dtype == np.uint16 and np.array_equal(got, img12)
    # header invariants: SOF3 marker present, and out-of-range samples
    # or bad predictors refuse loudly
    assert b"\xff\xc3" in encode_lossless(img12, precision=12)
    with pt.raises(ValueError):
        encode_lossless(img12, precision=8)    # samples exceed precision
    with pt.raises(ValueError):
        encode_lossless(cases[0], predictor=9)
    # out-of-scope frame families stay refusable: SOF5 (differential
    # sequential) raises JpegUnsupported rather than mis-decoding
    bad = bytearray(encode_lossless(cases[0]))
    bad[bad.index(b"\xff\xc3") + 1] = 0xC5
    with pt.raises(JpegUnsupported):
        decode(bytes(bad))


def test_extended_12bit_jpeg_roundtrip():
    """SOF1 extended sequential at 12-bit (the DICOM DCT flavor):
    uint16 samples with 16-bit DQT entries decode through the shared
    DCT path, and the reconstruction error matches the 8-bit baseline
    RELATIVE error (same quantizer scaled 16x) — proving the level
    shift / clamp / color center all scaled with precision rather than
    silently truncating to 8 bits."""
    import numpy as np
    import pytest as pt

    from deeplake_spark.operators._jpeg import encode_baseline, decode

    x, y = np.meshgrid(np.arange(48), np.arange(32))
    r = 2048 + 1500 * np.sin(x / 9.0) * np.cos(y / 7.0)
    g = 2048 + 1200 * np.cos(x / 11.0)
    b = 2048 + 900 * np.sin(y / 5.0)
    rgb12 = np.clip(np.stack([r, g, b], axis=-1), 0, 4095).astype(np.uint16)

    enc = encode_baseline(rgb12, precision=12)
    assert b"\xff\xc1" in enc and b"\xff\xdb\x00\x83\x10" in enc  # SOF1+DQT16
    dec = decode(enc)
    assert dec.dtype == np.uint16 and dec.shape == rgb12.shape
    err12 = np.abs(dec.astype(int) - rgb12.astype(int)).mean()
    dec8 = decode(encode_baseline((rgb12 // 16).astype(np.uint8)))
    err8 = np.abs(dec8.astype(int) - (rgb12 // 16).astype(int)).mean() * 16
    assert err12 < err8 * 1.2 + 16    # same relative quality

    gray12 = rgb12[:, :, 0]
    dg = decode(encode_baseline(gray12, precision=12))
    assert dg.dtype == np.uint16
    assert np.abs(dg.astype(int) - gray12.astype(int)).max() < 160

    with pt.raises(ValueError):
        encode_baseline(rgb12, precision=10)
    with pt.raises(ValueError):
        encode_baseline(np.full((8, 8), 5000, np.uint16), precision=12)


def test_video_out_of_subset_jpeg_falls_back_not_raises():
    """An MJPEG container whose JPEG sample uses out-of-subset features
    (JpegUnsupported, not ValueError — e.g. 12-bit precision inside an
    8-bit-advertised stream) must take the same documented fallback
    hierarchy as a foreign codec under strict=False, and surface the
    precise error under strict=True — for BOTH container lanes."""
    import numpy as np
    import pytest as pt

    from deeplake_spark.operators._jpeg import JpegUnsupported
    from deeplake_spark.operators.multimodal import (
        _video_frames,
        encode_mjpeg_avi,
        encode_mjpeg_mp4,
    )

    frames = [np.full((16, 16, 3), 40 * (t + 1), np.uint8)
              for t in range(3)]
    for enc in (encode_mjpeg_avi, encode_mjpeg_mp4):
        clip = bytearray(enc(frames))
        # patch every SOF0 precision byte 8 -> 12: decode_baseline then
        # raises JpegUnsupported("extended precision"), a plain
        # Exception subclass the ValueError-only fallback used to miss
        patched = 0
        i = 0
        while True:
            j = clip.find(b"\xff\xc0", i)
            if j < 0:
                break
            assert clip[j + 4] == 8
            clip[j + 4] = 12
            patched += 1
            i = j + 2
        assert patched >= len(frames)
        with pt.raises(JpegUnsupported):
            _video_frames(bytes(clip), every_n=1, strict=True)
        lax = _video_frames(bytes(clip), every_n=4, strict=False)
        assert [i for i, _ in lax] == [0, 4]   # deterministic fake clip


def _ppm(pix):
    import numpy as np
    a = np.asarray(pix, dtype=np.uint8)
    return bytearray(b"P6\n%d %d\n255\n" % (a.shape[1], a.shape[0]) + a.tobytes())


def test_phash_invariances(spark):
    """pHash: identical pixels → identical hash; nearest-upscale (the
    hash resizes both to the same grid) → identical; small local edit →
    few bits move; unrelated images → many bits differ."""
    import numpy as np

    from deeplake_spark.operators.multimodal import phash_images

    rng = np.random.default_rng(3)
    base = rng.integers(0, 256, (16, 16, 3))
    up = base.repeat(2, axis=0).repeat(2, axis=1)       # 2x nearest upscale
    # recompress-like perturbation: small zero-mean noise everywhere
    edited = np.clip(base + rng.integers(-8, 9, base.shape), 0, 255)
    other = rng.integers(0, 256, (16, 16, 3))
    df = spark.createDataFrame(
        [(0, _ppm(base)), (1, _ppm(base)), (2, _ppm(up)),
         (3, _ppm(edited)), (4, _ppm(other))],
        "img_id long, image binary")
    got = {r.img_id: (list(r.phash_bits), r.phash) for r in
           phash_images(df, "image", compression="ppm", strict=True).collect()}
    ham = lambda x, y: sum(a != b for a, b in zip(got[x][0], got[y][0]))
    assert got[0] == got[1]
    assert ham(0, 2) == 0          # scale-invariant on the DCT grid
    assert ham(0, 3) <= 10         # recompress-like noise moves few bits
    assert ham(0, 4) >= 20         # unrelated content is far
    assert got[0][1] != got[4][1]  # packed longs differ too


def test_image_near_dup_pairs_exact_vs_bruteforce(spark):
    """Banded pHash near-dup is EXACT for max_hamming < bands
    (pigeonhole): operator pairs == brute-force Hamming<=6 pairs over
    planted perturbed copies + randoms."""
    import numpy as np

    from deeplake_spark.operators.multimodal import (
        image_near_dup_pairs, phash_images)

    rng = np.random.default_rng(11)
    rows = []
    vid = 0
    for i in range(24):
        base = rng.integers(0, 256, (16, 16, 3))
        rows.append((vid, _ppm(base))); vid += 1
        if i % 3 == 0:  # plant a lightly edited copy
            pert = base.copy()
            pert[:2, :2] = rng.integers(0, 256, (2, 2, 3))
            rows.append((vid, _ppm(pert))); vid += 1
    df = spark.createDataFrame(rows, "img_id long, image binary").repartition(4)
    got = {(r.a, r.b): r.hamming for r in image_near_dup_pairs(
        df, "image", "img_id", compression="ppm", strict=True,
        max_hamming=6).collect()}
    bits = {r.img_id: list(r.phash_bits) for r in
            phash_images(df, "image", compression="ppm", strict=True).collect()}
    ids = sorted(bits)
    brute = {}
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            h = sum(p != q for p, q in zip(bits[ids[x]], bits[ids[y]]))
            if h <= 6:
                brute[(ids[x], ids[y])] = h
    assert got == brute
    assert len(brute) >= 4  # the planted copies are really near-dups


def test_image_near_dup_rejects_unguaranteed_threshold(spark):
    import pytest as _pytest

    from deeplake_spark.operators.multimodal import image_near_dup_pairs

    df = spark.createDataFrame([(0, bytearray(b"x"))], "img_id long, image binary")
    with _pytest.raises(ValueError, match="max_hamming"):
        image_near_dup_pairs(df, max_hamming=8, bands=8)


def _wav(samples, rate=8000):
    import io
    import struct as st
    import wave as _wave

    import numpy as np
    buf = io.BytesIO()
    with _wave.open(buf, "wb") as wf:
        wf.setnchannels(1); wf.setsampwidth(2); wf.setframerate(rate)
        a = (np.clip(np.asarray(samples), -1, 1) * 32767).astype("<i2")
        wf.writeframes(a.tobytes())
    return bytearray(buf.getvalue())


def test_audio_fingerprint_invariances(spark):
    """Spectral fingerprint: identical → identical; uniform gain →
    within near-dup range (peak normalization undoes the gain exactly;
    the int16 WAV round trip re-quantizes, flipping a few
    near-median bits); light noise → few bits; different frequency
    content → far."""
    import numpy as np

    from deeplake_spark.operators.multimodal import audio_near_dup_pairs, audio_fingerprint

    rng = np.random.default_rng(5)
    t = np.arange(8000) / 8000.0
    tone = (np.sin(2 * np.pi * 440 * t) + 0.5 * np.sin(2 * np.pi * 1320 * t)
            + 0.2 * np.sin(2 * np.pi * 220 * t * (1 + t)))
    noisy = tone + rng.normal(0, 0.01, tone.shape)
    other = np.sin(2 * np.pi * 2937 * t) + rng.normal(0, 0.3, t.shape)
    df = spark.createDataFrame(
        [(0, _wav(tone)), (1, _wav(tone)), (2, _wav(tone * 0.25)),
         (3, _wav(noisy)), (4, _wav(other))],
        "clip_id long, audio binary")
    got = {r.clip_id: (list(r.afp_bits), r.afp) for r in
           audio_fingerprint(df, "audio", compression="wav",
                             strict=True).collect()}
    ham = lambda x, y: sum(a != b for a, b in zip(got[x][0], got[y][0]))
    assert got[0] == got[1]
    assert ham(0, 2) <= 6          # gain-invariant up to i16 re-quantization
    assert ham(0, 3) <= 8          # light noise moves few bits
    assert ham(0, 4) >= 16         # different content is far
    pairs = {(r.a, r.b): r.hamming for r in audio_near_dup_pairs(
        df, "audio", "clip_id", compression="wav", strict=True,
        max_hamming=6).collect()}
    assert (0, 1) in pairs and (0, 2) in pairs
    assert (0, 4) not in pairs and (1, 4) not in pairs


def test_video_fingerprint_and_near_dup(spark):
    """Majority-pooled frame pHash: identical clips match; a
    frame-dropped re-edit (every other frame) stays within near-dup
    range; a clip of unrelated frames is far. Pairs via the shared
    banded engine."""
    import numpy as np

    from deeplake_spark.operators.multimodal import (
        encode_dib_avi, video_fingerprint, video_near_dup_pairs)

    rng = np.random.default_rng(9)

    def textured(seed, t):
        r = np.random.default_rng(seed)
        base = r.integers(0, 256, (16, 16, 3))
        out = base.copy()
        out[t % 16, :, :] = 255  # a moving stripe so frames differ
        return out.astype(np.uint8)

    frames = [textured(1, t) for t in range(12)]
    clip = encode_dib_avi(frames, fps=4)
    dropped = encode_dib_avi(frames[::2], fps=4)       # re-edit: half the frames
    other = encode_dib_avi(
        [rng.integers(0, 256, (16, 16, 3)).astype(np.uint8)
         for _ in range(12)], fps=4)
    df = spark.createDataFrame(
        [(0, bytearray(clip)), (1, bytearray(clip)),
         (2, bytearray(dropped)), (3, bytearray(other))],
        "clip_id long, video binary")
    got = {r.clip_id: (r.n_frames_hashed, list(r.vfp_bits)) for r in
           video_fingerprint(df, "video", every_n=1, strict=True).collect()}
    ham = lambda x, y: sum(a != b for a, b in zip(got[x][1], got[y][1]))
    assert got[0] == got[1]
    assert got[0][0] == 12 and got[2][0] == 6
    assert ham(0, 2) <= 6          # frame-dropped re-edit is near
    assert ham(0, 3) >= 16         # unrelated content is far
    pairs = {(r.a, r.b) for r in video_near_dup_pairs(
        df, "video", "clip_id", every_n=1, strict=True,
        max_hamming=6).collect()}
    assert (0, 1) in pairs and (0, 2) in pairs
    assert (0, 3) not in pairs


def test_fingerprint_index_persisted_equals_decode_lane(spark, tmp_path):
    """Persisted fingerprint index (round 11): pairs from the side
    table == pairs from the decode lane, for image AND audio; a
    modality mismatch raises; the side table carries the decode params
    so a rebuild/delta encodes identically."""
    import numpy as np

    from deeplake_spark.operators.multimodal import (
        FingerprintIndex,
        audio_near_dup_pairs,
        build_fingerprint_index,
        image_near_dup_pairs,
    )

    rng = np.random.default_rng(17)
    rows, vid = [], 0
    for i in range(16):
        base = rng.integers(0, 256, (16, 16, 3))
        rows.append((vid, _ppm(base))); vid += 1
        if i % 3 == 0:
            pert = base.copy()
            pert[:2, :2] = rng.integers(0, 256, (2, 2, 3))
            rows.append((vid, _ppm(pert))); vid += 1
    df = spark.createDataFrame(rows, "img_id long, image binary").repartition(4)
    decode = {(r.a, r.b): r.hamming for r in image_near_dup_pairs(
        df, "image", "img_id", compression="ppm", strict=True,
        max_hamming=6).collect()}
    idx_path = str(tmp_path / "img_fp")
    build_fingerprint_index(df, "image", "img_id", "image",
                            compression="ppm", strict=True).save(idx_path)
    idx = FingerprintIndex.load(spark, idx_path)
    assert idx.modality == "image" and idx.id_col == "img_id"
    assert idx.params == {"compression": "ppm", "strict": True}
    assert idx.n_rows_est == len(rows)
    persisted = {(r.a, r.b): r.hamming for r in image_near_dup_pairs(
        df, max_hamming=6, index_path=idx_path).collect()}
    assert persisted == decode and len(decode) >= 3

    with pytest.raises(ValueError, match="holds image fingerprints"):
        audio_near_dup_pairs(df, max_hamming=6, index_path=idx_path).collect()

    # audio modality through the same protocol
    t = np.arange(2000) / 8000.0
    arows, cid = [], 0
    for i in range(8):
        tone = np.sin(2 * np.pi * (220 + 170 * i) * t)
        arows.append((cid, _wav(tone))); cid += 1
        if i % 2 == 0:
            arows.append((cid, _wav(tone + rng.normal(0, 0.01, t.shape))))
            cid += 1
    adf = spark.createDataFrame(arows, "clip_id long, audio binary")
    adecode = {(r.a, r.b): r.hamming for r in audio_near_dup_pairs(
        adf, "audio", "clip_id", compression="wav", strict=True,
        max_hamming=6).collect()}
    apath = str(tmp_path / "aud_fp")
    build_fingerprint_index(adf, "audio", "clip_id", "audio",
                            compression="wav", strict=True).save(apath)
    apers = {(r.a, r.b): r.hamming for r in audio_near_dup_pairs(
        adf, max_hamming=6, index_path=apath).collect()}
    assert apers == adecode and len(adecode) >= 2


def test_fingerprint_index_incremental_append(spark, tmp_path):
    """append_fingerprint_delta decodes ONLY the appended payloads
    (persisted params) and appends their signatures: the maintained
    index serves the same pairs as a fresh full-corpus decode."""
    import numpy as np

    from deeplake_spark.operators.multimodal import (
        FingerprintIndex,
        build_fingerprint_index,
        image_near_dup_pairs,
    )

    rng = np.random.default_rng(23)
    rows, vid = [], 0
    for i in range(20):
        base = rng.integers(0, 256, (16, 16, 3))
        rows.append((vid, _ppm(base))); vid += 1
        if i % 4 == 0:
            pert = base.copy()
            pert[0, 0] = rng.integers(0, 256, 3)
            rows.append((vid, _ppm(pert))); vid += 1
    full = spark.createDataFrame(rows, "img_id long, image binary")
    half = len(rows) // 2
    first = full.filter(F.col("img_id") < half)
    second = full.filter(F.col("img_id") >= half)
    idx_path = str(tmp_path / "inc_fp")
    build_fingerprint_index(first, "image", "img_id", "image",
                            compression="ppm", strict=True).save(idx_path)
    FingerprintIndex.load(spark, idx_path).delta(second, "image").save(
        idx_path, mode="append")
    assert FingerprintIndex.load(spark, idx_path).n_rows_est == len(rows)
    maintained = {(r.a, r.b): r.hamming for r in image_near_dup_pairs(
        full, max_hamming=6, index_path=idx_path).collect()}
    fresh = {(r.a, r.b): r.hamming for r in image_near_dup_pairs(
        full, "image", "img_id", compression="ppm", strict=True,
        max_hamming=6).collect()}
    assert maintained == fresh and len(fresh) >= 3


def test_fingerprint_index_nbits_follows_hash_size(spark, tmp_path):
    """nbits is derived from the ACTUAL signature length (round-12
    advice): an image build at hash_size=4 emits 16-bit signatures, so
    the index must record nbits=16 — recording a constant 64 would band
    past the bits array (ANSI element_at throws at probe time) and
    disarm the streaming lane's nbits-mismatch guard. The persisted
    probe at nbits=16 matches the decode-side banding exactly; a
    64-bit-banded stream against the 16-bit index raises eagerly."""
    import numpy as np

    from deeplake_spark.operators.multimodal import (
        FingerprintIndex,
        build_fingerprint_index,
        fingerprint_index_near_dup_pairs,
        phash_images,
    )
    from deeplake_spark.operators.similarity import bits_near_dup_pairs

    rng = np.random.default_rng(23)
    rows, vid = [], 0
    for i in range(12):
        base = rng.integers(0, 256, (16, 16, 3))
        rows.append((vid, _ppm(base))); vid += 1
        if i % 3 == 0:
            pert = base.copy()
            pert[:2, :2] = rng.integers(0, 256, (2, 2, 3))
            rows.append((vid, _ppm(pert))); vid += 1
    df = spark.createDataFrame(rows, "img_id long, image binary")

    idx = build_fingerprint_index(df, "image", "img_id", "image",
                                  compression="ppm", strict=True,
                                  hash_size=4)
    assert idx.nbits == 16
    path = str(tmp_path / "fp16")
    idx.save(path)
    loaded = FingerprintIndex.load(spark, path)
    assert loaded.nbits == 16
    assert all(len(r.bits) == 16 for r in loaded.signatures.collect())

    # persisted probe bands 16 bits without overrun and equals the
    # decode-side banding at the same hash_size
    persisted = {(r.a, r.b): r.hamming for r in
                 fingerprint_index_near_dup_pairs(
                     spark, path, "image", max_hamming=3,
                     bands=4).collect()}
    hashed = phash_images(df, "image", compression="ppm", strict=True,
                          hash_size=4)
    decode = {(r.a, r.b): r.hamming for r in bits_near_dup_pairs(
        hashed, "phash_bits", "img_id", max_hamming=3, bands=4,
        nbits=16).collect()}
    assert persisted == decode and len(decode) >= 2

    # the streaming guard can now actually fire on a real mismatch
    from deeplake_spark.streaming.neardup import stream_bits_near_dup

    with pytest.raises(ValueError, match="16-bit"):
        stream_bits_near_dup(
            df.selectExpr("img_id", "array(1) as bits"), "bits",
            "img_id", max_hamming=3, bands=4, nbits=64, index_path=path)

    # default hash_size stays 64-bit
    idx64 = build_fingerprint_index(df, "image", "img_id", "image",
                                    compression="ppm", strict=True)
    assert idx64.nbits == 64


def test_gif_codec_round_trips():
    """From-scratch GIF codec: plain / interlaced / RGBA-transparent /
    animated round trips are pixel-exact; encoding is deterministic;
    >256 distinct colors raises (exact-palette boundary); the LZW
    12-bit dictionary reset survives a large gradient image."""
    import numpy as np

    from deeplake_spark.operators._gif import (
        GifUnsupported, decode_gif, decode_gif_image, encode_gif)

    rng = np.random.default_rng(7)
    pal = rng.integers(0, 256, (17, 3), dtype=np.uint8)
    idx = rng.integers(0, 17, (23, 31))
    img = pal[idx]

    b = encode_gif(img)
    assert b[:6] == b"GIF89a"
    assert np.array_equal(decode_gif_image(b), img)
    assert encode_gif(img) == b  # deterministic bytes

    assert np.array_equal(
        decode_gif_image(encode_gif(img, interlace=True)), img)

    rgba = np.dstack([img, np.where(idx == 3, 0, 255).astype(np.uint8)])
    back = decode_gif_image(encode_gif(rgba))
    assert back.shape[2] == 4
    opaque = rgba[..., 3] == 255
    assert np.array_equal(back[opaque], rgba[opaque])
    assert (back[~opaque][:, 3] == 0).all()

    frames = [pal[rng.integers(0, 17, (23, 31))] for _ in range(3)]
    dec = decode_gif(encode_gif(frames, delays_cs=[10, 20, 30]))
    assert [d for _, d in dec] == [10, 20, 30]
    assert all(np.array_equal(a[0], f) for a, f in zip(dec, frames))

    with pytest.raises(GifUnsupported, match="256"):
        encode_gif(rng.integers(0, 256, (40, 40, 3), dtype=np.uint8))

    pal2 = np.array([[i, 255 - i, (i * 7) % 256] for i in range(256)],
                    np.uint8)
    big = pal2[(np.add.outer(np.arange(200), np.arange(300)) * 37 % 256)]
    blob = encode_gif(big)
    assert np.array_equal(decode_gif_image(blob), big)
    assert len(blob) < big.size // 4  # real compression, not code spam


def test_gif_external_disposal_and_gce_scope():
    """External-GIF semantics the round-trip tests can't reach (our
    encoder never emits disposal bits): (a) a frame's disposal-2
    restores ITS rect to background AFTER it is displayed — the frame
    itself shows its content, the NEXT frame starts from background;
    (b) a GCE governs only the single following image block — the next
    frame inherits neither transparency nor delay; (c) truncated
    payloads raise through decode_gif but fall to the fake clip in the
    non-strict video path."""
    import struct

    import numpy as np

    from deeplake_spark.operators._gif import _lzw_encode, decode_gif
    from deeplake_spark.operators.multimodal import _video_frames

    pal = np.array([[10, 10, 10], [200, 0, 0], [0, 200, 0], [0, 0, 200]],
                   np.uint8)

    def img_block(left, top, fw, fh, idxs):
        blk = struct.pack("<BHHHHB", 0x2C, left, top, fw, fh, 0)
        blk += bytes([2])
        comp = _lzw_encode(bytes(idxs), 2)
        for i in range(0, len(comp), 255):
            c = comp[i:i + 255]
            blk += bytes([len(c)]) + c
        return blk + b"\x00"

    def gce(disposal, delay, trans=-1):
        flags = (disposal << 2) | (0x01 if trans >= 0 else 0)
        return bytes([0x21, 0xF9, 4, flags, delay & 0xFF, delay >> 8,
                      max(trans, 0), 0])

    header = b"GIF89a" + struct.pack("<HHBBB", 4, 4, 0x80 | 0x01, 0, 0) \
        + pal.tobytes()

    # (a) frame 1 fills the canvas with color 1, disposal=2; frame 2 is
    # a 2x2 patch of color 2 at (0, 0) with no GCE
    payload = (header
               + gce(2, 7)
               + img_block(0, 0, 4, 4, [1] * 16)
               + img_block(0, 0, 2, 2, [2] * 4)
               + b"\x3b")
    frames = decode_gif(payload)
    f1, d1 = frames[0]
    f2, d2 = frames[1]
    assert d1 == 7 and np.array_equal(f1, np.tile(pal[1], (4, 4, 1)))
    want2 = np.tile(pal[0] * 0, (4, 4, 1))          # background zeros
    want2[:2, :2] = pal[2]
    assert np.array_equal(f2, want2), "disposal-2 must clear AFTER display"
    assert d2 == 0, "GCE delay must not leak to the next frame"

    # (b) GCE transparency applies only to its own frame: frame 1
    # declares index 3 transparent, frame 2 (no GCE) uses index 3
    payload2 = (header
                + gce(0, 0, trans=3)
                + img_block(0, 0, 4, 4, [1] * 16)
                + img_block(0, 0, 4, 4, [3] * 16)
                + b"\x3b")
    fr2 = decode_gif(payload2)
    last = fr2[-1][0]
    assert np.array_equal(last[..., :3], np.tile(pal[3], (4, 4, 1))), \
        "next frame must not inherit the previous GCE's transparency"
    assert (last[..., 3] == 255).all()

    # (c) truncated payload: non-strict video path falls back to the
    # deterministic fake clip instead of crashing the task
    trunc = payload[:20]
    with pytest.raises(Exception):
        decode_gif(trunc)
    frames = _video_frames(trunc, every_n=1, strict=False)
    assert len(frames) == 8  # the documented fake clip
    with pytest.raises(Exception):
        _video_frames(trunc, every_n=1, strict=True)


def test_gif_through_image_and_video_operators(spark):
    """GIF payloads flow through the Spark-side operators: decode_images
    (strict — the real decoder, no fake fallback), pHash invariance to
    re-encoding, and animated GIFs sample frames through the video path
    like any other real container."""
    import numpy as np

    from deeplake_spark.operators._gif import encode_gif
    from deeplake_spark.operators.multimodal import (
        decode_images, phash_images, sample_video_frames)

    rng = np.random.default_rng(11)
    pal = rng.integers(0, 256, (31, 3), dtype=np.uint8)
    imgs = [pal[rng.integers(0, 31, (16, 16))] for _ in range(4)]
    df = spark.createDataFrame(
        [(i, bytearray(encode_gif(im))) for i, im in enumerate(imgs)],
        "doc_id long, image binary")
    rows = {r.doc_id: r for r in decode_images(
        df, "image", compression="gif", strict=True).collect()}
    for i, im in enumerate(imgs):
        assert np.array_equal(np.array(rows[i].pixels, np.uint8), im)

    # pHash: identical image re-encoded interlaced hashes identically
    both = spark.createDataFrame(
        [(0, bytearray(encode_gif(imgs[0]))),
         (1, bytearray(encode_gif(imgs[0], interlace=True)))],
        "doc_id long, image binary")
    sigs = [tuple(r.phash_bits) for r in phash_images(
        both, "image", compression="gif", strict=True)
        .select("phash_bits").collect()]
    assert sigs[0] == sigs[1]

    clip = encode_gif(imgs, delays_cs=[5, 5, 5, 5])
    vdf = spark.createDataFrame([(0, bytearray(clip))],
                                "doc_id long, video binary")
    got = sample_video_frames(vdf, every_n=2, payload_col="video",
                              strict=True).collect()
    assert sorted(r.frame_index for r in got) == [0, 2]
    assert np.array_equal(
        np.array(next(r.frame for r in got if r.frame_index == 2),
                 np.uint8), imgs[2])


def test_gif_disposal3_consistent_across_image_and_video_paths():
    """Round-12 ADVICE: the same in-scope-boundary condition
    (restore-to-previous disposal, GifUnsupported) must surface the
    same way from BOTH entry points. Strict mode without the optional
    libs: the image path (_decode_one → PIL gate) and the video path
    (_video_frames → PyAV gate) both raise FormatNotSupportedError —
    the video path must NOT re-raise the raw GifUnsupported."""
    import struct

    import numpy as np
    import pytest as pt

    from deeplake_spark.exceptions import FormatNotSupportedError
    from deeplake_spark.operators._gif import _lzw_encode
    from deeplake_spark.operators.multimodal import _decode_one, _video_frames

    pal = np.array([[10, 10, 10], [200, 0, 0], [0, 200, 0], [0, 0, 200]],
                   np.uint8)

    def img_block(left, top, fw, fh, idxs):
        blk = struct.pack("<BHHHHB", 0x2C, left, top, fw, fh, 0)
        blk += bytes([2])
        comp = _lzw_encode(bytes(idxs), 2)
        for i in range(0, len(comp), 255):
            c = comp[i:i + 255]
            blk += bytes([len(c)]) + c
        return blk + b"\x00"

    header = b"GIF89a" + struct.pack("<HHBBB", 4, 4, 0x80 | 0x01, 0, 0) \
        + pal.tobytes()
    gce3 = bytes([0x21, 0xF9, 4, 3 << 2, 0, 0, 0, 0])  # disposal=3
    payload = (header + gce3 + img_block(0, 0, 4, 4, [1] * 16)
               + img_block(0, 0, 2, 2, [2] * 4) + b"\x3b")

    with pt.raises(FormatNotSupportedError):
        _decode_one(payload, "gif", strict=True)
    with pt.raises(FormatNotSupportedError):
        _video_frames(payload, 1, strict=True)
    # non-strict: both fall to the deterministic fake
    assert _decode_one(payload, "gif", strict=False).shape
    assert len(_video_frames(payload, 1, strict=False)) == 8
    # a truly CORRUPT gif still raises in the strict video path
    with pt.raises(Exception) as exc:
        _video_frames(header + gce3 + b"\x2c\x01", 1, strict=True)
    assert not isinstance(exc.value, FormatNotSupportedError)
