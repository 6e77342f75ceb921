"""Real (not stubbed) media decode for stdlib-decodable formats.

Synthesizes PCM WAV, binary PPM/PGM, 24-bit BMP, and 8-bit PNG
payloads with stdlib only, then verifies decode_image/decode_audio
recover the exact samples/pixels — locally and distributed through
mapInPandas (the binary column + Arrow batch path the engine uses for
multimodal assets).  Variants with no native decoder (progressive
JPEG, ...) must raise NotImplementedError.
"""

import io
import struct
import wave
import zlib

import numpy as np
import pandas as pd
import pytest

from flo_spark.operators.multimodal import decode_audio, decode_image


def make_wav(rate=8000, n=64, n_ch=2, width=2):
    t = np.arange(n)
    samples = (np.sin(2 * np.pi * t / 16) * 0.5 * 32767).astype("<i2")
    stereo = np.repeat(samples, n_ch).reshape(-1, n_ch)
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(n_ch)
        wf.setsampwidth(width)
        wf.setframerate(rate)
        wf.writeframes(stereo.tobytes())
    return buf.getvalue(), stereo


def make_ppm(w=4, h=3):
    pixels = np.arange(w * h * 3, dtype=np.uint8).reshape(h, w, 3)
    header = f"P6\n# comment\n{w} {h}\n255\n".encode()
    return header + pixels.tobytes(), pixels


def make_pgm(w=5, h=2):
    pixels = np.arange(w * h, dtype=np.uint8).reshape(h, w, 1)
    return f"P5\n{w} {h}\n255\n".encode() + pixels.tobytes(), pixels


def make_bmp(w=3, h=2):
    rgb = np.arange(w * h * 3, dtype=np.uint8).reshape(h, w, 3)
    stride = (w * 3 + 3) & ~3
    rows = b""
    for y in range(h - 1, -1, -1):  # bottom-up
        row = rgb[y][:, ::-1].tobytes()  # RGB -> BGR
        rows += row + b"\x00" * (stride - len(row))
    data_offset = 14 + 40
    file_size = data_offset + len(rows)
    header = struct.pack("<2sIHHI", b"BM", file_size, 0, 0, data_offset)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(rows), 0, 0, 0, 0)
    return header + info + rows, rgb


def test_wav_decodes_exact_samples():
    payload, stereo = make_wav()
    samples, rate = decode_audio(payload)
    assert rate == 8000
    assert samples.shape == stereo.shape
    np.testing.assert_allclose(samples, stereo / 32768.0, atol=1e-7)


def test_ppm_pgm_bmp_decode_exact_pixels():
    for maker in (make_ppm, make_pgm, make_bmp):
        payload, pixels = maker()
        arr = decode_image(payload)
        assert arr.shape == pixels.shape, maker.__name__
        np.testing.assert_array_equal(arr, pixels)


def make_png(w=4, h=6, channels=3, seed=3):
    """PNG with scanline filter y%5 — every filter type exercised."""
    color_type = {1: 0, 2: 4, 3: 2, 4: 6}[channels]
    rng = np.random.RandomState(seed)
    img = rng.randint(0, 256, size=(h, w, channels)).astype(np.uint8)

    def chunk(ctype, body):
        return (
            struct.pack(">I", len(body)) + ctype + body
            + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
        )

    bpp = channels
    raw = bytearray()
    prev = np.zeros(w * channels, dtype=np.int32)
    for y in range(h):
        cur = img[y].reshape(-1).astype(np.int32)
        left = np.concatenate([np.zeros(bpp, np.int32), cur[:-bpp]])
        diag = np.concatenate([np.zeros(bpp, np.int32), prev[:-bpp]])
        f = y % 5
        if f == 0:
            filt = cur
        elif f == 1:
            filt = (cur - left) & 0xFF
        elif f == 2:
            filt = (cur - prev) & 0xFF
        elif f == 3:
            filt = (cur - ((left + prev) >> 1)) & 0xFF
        else:
            p = left + prev - diag
            pa, pb, pc = abs(p - left), abs(p - prev), abs(p - diag)
            pred = np.where(
                (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prev, diag)
            )
            filt = (cur - pred) & 0xFF
        raw += bytes([f]) + filt.astype(np.uint8).tobytes()
        prev = cur
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    payload = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )
    return payload, img


def test_ppm_crlf_header_and_truncation():
    # ADVICE r4: a CRLF-terminated header must not shift sample offsets,
    # and a truncated payload must fail with a clear error
    pixels = np.arange(4 * 3 * 3, dtype=np.uint8).reshape(3, 4, 3)
    crlf = b"P6\r\n4 3\r\n255\r\n" + pixels.tobytes()
    np.testing.assert_array_equal(decode_image(crlf), pixels)
    with pytest.raises(ValueError, match="truncated netpbm payload"):
        decode_image(b"P6\n4 3\n255\n" + pixels.tobytes()[:-5])
    with pytest.raises(ValueError, match="truncated netpbm header"):
        decode_image(b"P6\n4 3")


def test_png_decodes_exact_pixels_all_color_types():
    for channels in (1, 2, 3, 4):
        payload, img = make_png(channels=channels, seed=channels)
        arr = decode_image(payload)
        assert arr.shape == img.shape, channels
        np.testing.assert_array_equal(arr, img)


def test_png_unsupported_variants_raise_not_implemented():
    def chunk(ctype, body):
        return (
            struct.pack(">I", len(body)) + ctype + body
            + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
        )

    sig = b"\x89PNG\r\n\x1a\n"
    sixteen_bit = sig + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 16, 2, 0, 0, 0))
    with pytest.raises(NotImplementedError):
        decode_image(sixteen_bit)


def _filter_scanlines(rows, bpp):
    """Filter an (h, stride) sample grid with filter type y%5 per line
    (every PNG filter exercised); returns the raw pre-zlib stream."""
    h, stride = rows.shape
    raw = bytearray()
    prev = np.zeros(stride, dtype=np.int32)
    for y in range(h):
        cur = rows[y].astype(np.int32)
        left = np.concatenate([np.zeros(bpp, np.int32), cur[:-bpp]]) if stride > bpp else np.zeros(stride, np.int32)
        diag = np.concatenate([np.zeros(bpp, np.int32), prev[:-bpp]]) if stride > bpp else np.zeros(stride, np.int32)
        f = y % 5
        if f == 0:
            filt = cur
        elif f == 1:
            filt = (cur - left) & 0xFF
        elif f == 2:
            filt = (cur - prev) & 0xFF
        elif f == 3:
            filt = (cur - ((left + prev) >> 1)) & 0xFF
        else:
            p = left + prev - diag
            pa, pb, pc = abs(p - left), abs(p - prev), abs(p - diag)
            pred = np.where(
                (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prev, diag)
            )
            filt = (cur - pred) & 0xFF
        raw += bytes([f]) + filt.astype(np.uint8).tobytes()
        prev = cur
    return bytes(raw)


def make_png_adam7(w=9, h=7, channels=3, seed=11):
    """Adam7-interlaced PNG: 7 sequential reduced images, each filtered
    independently at its own width (PNG spec 8.2)."""
    color_type = {1: 0, 2: 4, 3: 2, 4: 6}[channels]
    rng = np.random.RandomState(seed)
    img = rng.randint(0, 256, size=(h, w, channels)).astype(np.uint8)

    def chunk(ctype, body):
        return (
            struct.pack(">I", len(body)) + ctype + body
            + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
        )

    passes = [
        (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
        (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
    ]
    raw = bytearray()
    for x0, y0, dx, dy in passes:
        sub = img[y0::dy, x0::dx, :]
        if sub.size == 0:
            continue
        ph, pw = sub.shape[:2]
        raw += _filter_scanlines(
            sub.reshape(ph, pw * channels), channels
        )
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 1)
    payload = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )
    return payload, img


def test_png_adam7_decodes_exact_pixels():
    """Interlaced decode: every color type, and dimensions exercising
    empty passes (w or h < the pass origin) and partial 8x8 tiles."""
    for channels in (1, 2, 3, 4):
        for (w, h) in [(9, 7), (8, 8), (3, 2), (1, 1), (16, 5)]:
            payload, img = make_png_adam7(w, h, channels, seed=channels + w)
            arr = decode_image(payload)
            assert arr.shape == img.shape, (channels, w, h)
            np.testing.assert_array_equal(arr, img)


def test_netpbm_16bit_decodes_exact_samples():
    """maxval > 255: two-byte big-endian samples -> uint16 arrays."""
    rng = np.random.RandomState(5)
    pix = rng.randint(0, 65536, size=(3, 4, 3)).astype(np.uint16)
    ppm = b"P6\n4 3\n65535\n" + pix.astype(">u2").tobytes()
    got = decode_image(ppm)
    assert got.dtype == np.uint16
    np.testing.assert_array_equal(got, pix)
    gray = rng.randint(0, 65536, size=(2, 5, 1)).astype(np.uint16)
    pgm = b"P5\n5 2\n65535\n" + gray.astype(">u2").tobytes()
    np.testing.assert_array_equal(decode_image(pgm), gray)
    # truncation still fails loudly at 16-bit widths
    with pytest.raises(ValueError, match="truncated netpbm payload"):
        decode_image(b"P6\n4 3\n65535\n" + pix.astype(">u2").tobytes()[:-3])


def test_codec_lib_formats_raise_without_codec_libs():
    # BASELINE JPEG decodes natively (operators/jpeg.py); PROGRESSIVE
    # JPEG (SOF2) has no native decoder and must raise
    # NotImplementedError exactly (ADVICE r4: a broad exception class
    # would mask header-parse bugs)
    import struct

    progressive = (
        b"\xff\xd8"
        + b"\xff\xc2"
        + struct.pack(">H", 11)
        + struct.pack(">BHHB", 8, 8, 8, 1)
        + bytes([1, 0x11, 0])
    )
    with pytest.raises(NotImplementedError):
        decode_image(progressive)


def test_real_decode_through_map_in_pandas(spark):
    """The distributed path: binary assets -> mapInPandas -> per-asset
    stats computed from REAL decoded pixels/samples."""
    from pyspark.sql import types as T

    wav, stereo = make_wav()
    ppm, pixels = make_ppm()
    bmp, rgb = make_bmp()
    df = spark.createDataFrame(
        [(1, bytearray(wav), "audio/wav"),
         (2, bytearray(ppm), "image/x-portable-pixmap"),
         (3, bytearray(bmp), "image/bmp")],
        schema=T.StructType([
            T.StructField("asset_id", T.LongType()),
            T.StructField("data", T.BinaryType()),
            T.StructField("media_type", T.StringType()),
        ]),
    ).repartition(3, "asset_id")

    out_schema = T.StructType([
        T.StructField("asset_id", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("n_values", T.LongType()),
        T.StructField("mean_value", T.DoubleType()),
    ])

    def _decode_stats(batches):
        for pdf in batches:
            rows = {"asset_id": [], "kind": [], "n_values": [], "mean_value": []}
            for aid, payload, mt in zip(pdf.asset_id, pdf.data, pdf.media_type):
                if mt.startswith("audio/"):
                    samples, _rate = decode_audio(payload)
                    rows["kind"].append("audio")
                    rows["n_values"].append(int(samples.size))
                    rows["mean_value"].append(float(np.abs(samples).mean()))
                else:
                    arr = decode_image(payload)
                    rows["kind"].append("image")
                    rows["n_values"].append(int(arr.size))
                    rows["mean_value"].append(float(arr.mean()))
                rows["asset_id"].append(int(aid))
            yield pd.DataFrame(rows)

    got = {r["asset_id"]: r for r in df.mapInPandas(_decode_stats, out_schema).collect()}
    assert got[1]["kind"] == "audio" and got[1]["n_values"] == stereo.size
    assert abs(got[1]["mean_value"] - float(np.abs(stereo / 32768.0).mean())) < 1e-6
    assert got[2]["n_values"] == pixels.size
    assert abs(got[2]["mean_value"] - float(pixels.mean())) < 1e-9
    assert got[3]["n_values"] == rgb.size
    assert abs(got[3]["mean_value"] - float(rgb.mean())) < 1e-9


# ---------------------------------------------------------------------------
# AU / AIFF (round 6): same samples through three containers must agree
# ---------------------------------------------------------------------------


def _pcm16():
    import numpy as np

    t = np.arange(64, dtype=np.float64)
    return (np.sin(t / 3.0) * 20000).astype(np.int16)


def _au_bytes(enc: int, body: bytes, rate: int = 8000, n_ch: int = 1) -> bytes:
    import struct

    return struct.pack(">4sIIIII", b".snd", 24, len(body), enc, rate, n_ch) + body


def _aiff_bytes(pcm, rate: int = 8000, n_ch: int = 1, bits: int = 16) -> bytes:
    import struct

    body = pcm.astype(">i2").tobytes() if bits == 16 else pcm.tobytes()
    # 80-bit extended rate: normalize mantissa so the top bit is set
    exp, mant = 16383 + 63, rate
    while not (mant & (1 << 63)):
        mant <<= 1
        exp -= 1
    comm = struct.pack(">HIH", n_ch, len(pcm) // n_ch, bits) + struct.pack(
        ">HQ", exp, mant
    )
    ssnd = struct.pack(">II", 0, 0) + body
    chunks = b"COMM" + struct.pack(">I", len(comm)) + comm
    chunks += b"SSND" + struct.pack(">I", len(ssnd)) + ssnd
    return b"FORM" + struct.pack(">I", 4 + len(chunks)) + b"AIFF" + chunks


def test_au_linear16_matches_wav_decode():
    """The same PCM through WAV (little-endian) and AU (big-endian)
    must decode to identical floats — container-independence of the
    sample pipeline."""
    import io
    import struct
    import wave

    import numpy as np

    from flo_spark.operators.multimodal import decode_audio

    pcm = _pcm16()
    wav_io = io.BytesIO()
    with wave.open(wav_io, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(8000)
        wf.writeframes(pcm.astype("<i2").tobytes())
    au = _au_bytes(3, pcm.astype(">i2").tobytes())
    s_wav, r_wav = decode_audio(wav_io.getvalue())
    s_au, r_au = decode_audio(au)
    assert r_wav == r_au == 8000
    np.testing.assert_array_equal(s_wav, s_au)


def test_au_mulaw_roundtrip_against_stdlib_encoder():
    """G.711 mu-law decoded through our LUT must invert the stdlib
    audioop encoder to within one quantization step (mu-law is lossy
    by design; the step at 20000 amplitude is ~1024)."""
    import numpy as np
    import pytest

    audioop = pytest.importorskip("audioop")
    from flo_spark.operators.multimodal import decode_audio

    pcm = _pcm16()
    ulaw = audioop.lin2ulaw(pcm.astype("<i2").tobytes(), 2)
    samples, rate = decode_audio(_au_bytes(1, ulaw))
    assert rate == 8000
    back = (samples[:, 0] * 32768.0).astype(np.int32)
    ref = np.frombuffer(
        audioop.ulaw2lin(ulaw, 2), dtype="<i2"
    ).astype(np.int32)
    assert np.abs(back - ref).max() <= 4  # same quantized value both paths


def test_aiff_decode_matches_au_and_handles_stereo():
    import numpy as np

    from flo_spark.operators.multimodal import decode_audio

    pcm = _pcm16()
    s_aiff, r_aiff = decode_audio(_aiff_bytes(pcm, rate=44100))
    s_au, _ = decode_audio(_au_bytes(3, pcm.astype(">i2").tobytes()))
    assert r_aiff == 44100  # 80-bit extended rate parsed exactly
    np.testing.assert_array_equal(s_aiff, s_au)
    # stereo de-interleave: (frames, 2), channel 1 = negated channel 0
    inter = np.empty(len(pcm) * 2, dtype=np.int16)
    inter[0::2], inter[1::2] = pcm, -pcm
    s2, _ = decode_audio(_aiff_bytes(inter, n_ch=2))
    assert s2.shape == (len(pcm), 2)
    np.testing.assert_array_equal(s2[:, 0], -s2[:, 1])


def test_au_signed8_and_unsupported_encoding():
    import numpy as np
    import pytest

    from flo_spark.operators.multimodal import decode_audio

    body = np.int8([-128, -1, 0, 1, 127]).tobytes()
    samples, _ = decode_audio(_au_bytes(2, body))
    np.testing.assert_allclose(
        samples[:, 0], [-1.0, -1 / 128, 0.0, 1 / 128, 127 / 128]
    )
    with pytest.raises(NotImplementedError, match="AU encoding 23"):
        decode_audio(_au_bytes(23, body))


# ---------------------------------------------------------------------------
# TIFF (round 6): both byte orders, strip assembly, photometric invert
# ---------------------------------------------------------------------------


from flo_spark.operators.multimodal import encode_tiff_baseline as _tiff_bytes_impl


def _tiff_bytes(arr, byteorder="<", rows_per_strip=None, photometric=None):
    """Thin alias onto the engine's shared baseline-TIFF encoder so the
    unit tests and the hash-checked catalog entry exercise the SAME
    container layout."""
    return _tiff_bytes_impl(arr, byteorder, rows_per_strip, photometric)


def test_tiff_rgb_both_byteorders_and_strips():
    import numpy as np

    from flo_spark.operators.multimodal import decode_image

    rng = np.arange(5 * 7 * 3, dtype=np.uint8).reshape(5, 7, 3)
    for bo in ("<", ">"):
        got = decode_image(_tiff_bytes(rng, byteorder=bo, rows_per_strip=2))
        np.testing.assert_array_equal(got, rng)


def test_tiff_grayscale_whitezero_inverts():
    import numpy as np

    from flo_spark.operators.multimodal import decode_image

    g = np.arange(12, dtype=np.uint8).reshape(3, 4, 1)
    got = decode_image(_tiff_bytes(g, photometric=0))
    np.testing.assert_array_equal(got, 255 - g)


def test_tiff_compressed_raises():
    import struct

    import numpy as np
    import pytest

    from flo_spark.operators.multimodal import decode_image

    g = np.zeros((2, 2, 1), dtype=np.uint8)
    buf = bytearray(_tiff_bytes(g))
    # flip the compression tag value (259 -> JPEG=7) in place; LZW (5)
    # now decodes natively, so use a genuinely codec-library variant
    idx = buf.find(struct.pack("<HH", 259, 3))
    buf[idx + 8] = 7
    with pytest.raises(NotImplementedError, match="compression 7"):
        decode_image(bytes(buf))


# ---------------------------------------------------------------------------
# GIF (round 6): from-spec LZW, two independent encoders cross-check
# ---------------------------------------------------------------------------


class _BitWriter:
    def __init__(self):
        self.acc, self.nbits, self.out = 0, 0, bytearray()

    def put(self, code, size):
        self.acc |= code << self.nbits
        self.nbits += size
        while self.nbits >= 8:
            self.out.append(self.acc & 0xFF)
            self.acc >>= 8
            self.nbits -= 8

    def done(self):
        if self.nbits:
            self.out.append(self.acc & 0xFF)
        return bytes(self.out)


def _lzw_encode_greedy(indices, min_code_size):
    """Proper greedy longest-match GIF LZW encoder (exercises the
    decoder's dictionary-growth and width-change paths)."""
    clear, end = 1 << min_code_size, (1 << min_code_size) + 1
    table = {(i,): i for i in range(clear)}
    next_code, size = end + 1, min_code_size + 1
    bw = _BitWriter()
    bw.put(clear, size)
    buf = ()
    for px in indices:
        cand = buf + (px,)
        if cand in table:
            buf = cand
            continue
        bw.put(table[buf], size)
        table[cand] = next_code
        next_code += 1
        if next_code - 1 == (1 << size) and size < 12:
            size += 1
        buf = (px,)
    if buf:
        bw.put(table[buf], size)
    bw.put(end, size)
    return bw.done()


def _lzw_encode_clearheavy(indices, min_code_size):
    """Dict-free encoder: CLEAR before every literal.  Trivially
    correct straight from the spec (no dictionary is ever used), so it
    cross-checks the greedy encoder + decoder pair independently."""
    clear, end = 1 << min_code_size, (1 << min_code_size) + 1
    size = min_code_size + 1
    bw = _BitWriter()
    for px in indices:
        bw.put(clear, size)
        bw.put(px, size)
    bw.put(end, size)
    return bw.done()


def _gif_bytes(img, palette, encoder, interlace=False):
    import struct

    h, w = img.shape
    n = len(palette)
    depth = max(2, (n - 1).bit_length())
    table = list(palette) + [(0, 0, 0)] * ((1 << depth) - n)
    gct_flags = 0x80 | (depth - 1)
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, gct_flags, 0, 0)
    for rgb in table:
        out += bytes(rgb)
    iflags = 0x40 if interlace else 0
    out += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, iflags)
    rows = img
    if interlace:
        order = (
            list(range(0, h, 8)) + list(range(4, h, 8))
            + list(range(2, h, 4)) + list(range(1, h, 2))
        )
        rows = img[order]
    data = encoder([int(v) for v in rows.reshape(-1)], depth)
    out += bytes([depth])
    for i in range(0, len(data), 255):
        chunk = data[i : i + 255]
        out += bytes([len(chunk)]) + chunk
    out += b"\x00\x3b"
    return bytes(out)


def test_gif_decodes_both_encoders_identically():
    rng = np.random.RandomState(7)
    img = rng.randint(0, 5, size=(11, 9)).astype(np.uint8)
    palette = [(10, 20, 30), (200, 0, 0), (0, 200, 0), (0, 0, 200), (255, 255, 0)]
    expected = np.array(palette, dtype=np.uint8)[img]
    for enc in (_lzw_encode_greedy, _lzw_encode_clearheavy):
        got = decode_image(_gif_bytes(img, palette, enc))
        np.testing.assert_array_equal(got, expected, err_msg=enc.__name__)


def test_gif_interlaced_and_extension_blocks():
    rng = np.random.RandomState(9)
    img = rng.randint(0, 4, size=(13, 6)).astype(np.uint8)
    palette = [(1, 2, 3), (4, 5, 6), (7, 8, 9), (10, 11, 12)]
    payload = bytearray(_gif_bytes(img, palette, _lzw_encode_greedy, interlace=True))
    # splice a graphic-control extension before the image descriptor
    idesc = payload.index(b"\x2c")
    payload[idesc:idesc] = b"\x21\xf9\x04\x00\x00\x00\x00\x00"
    got = decode_image(bytes(payload))
    np.testing.assert_array_equal(
        got, np.array(palette, dtype=np.uint8)[img]
    )


def test_gif_large_image_exercises_width_growth():
    """Enough distinct pixel runs to push the LZW dictionary through
    several code-width increases."""
    rng = np.random.RandomState(3)
    img = rng.randint(0, 16, size=(40, 50)).astype(np.uint8)
    palette = [(i * 16, 255 - i * 16, i) for i in range(16)]
    got = decode_image(_gif_bytes(img, palette, _lzw_encode_greedy))
    np.testing.assert_array_equal(got, np.array(palette, dtype=np.uint8)[img])


# ---------------------------------------------------------------------------
# TIFF LZW (round 6): MSB-first early-change variant + predictor
# ---------------------------------------------------------------------------


class _MsbBitWriter:
    def __init__(self):
        self.acc, self.nbits, self.out = 0, 0, bytearray()

    def put(self, code, size):
        self.acc = (self.acc << size) | code
        self.nbits += size
        while self.nbits >= 8:
            self.out.append((self.acc >> (self.nbits - 8)) & 0xFF)
            self.nbits -= 8
            self.acc &= (1 << self.nbits) - 1

    def done(self):
        if self.nbits:
            self.out.append((self.acc << (8 - self.nbits)) & 0xFF)
        return bytes(self.out)


def _tiff_lzw_encode_greedy(data: bytes) -> bytes:
    CLEAR, EOI = 256, 257
    table = {bytes([i]): i for i in range(256)}
    next_code, size = EOI + 1, 9
    bw = _MsbBitWriter()
    bw.put(CLEAR, size)
    buf = b""
    for byte in data:
        cand = buf + bytes([byte])
        if cand in table:
            buf = cand
            continue
        bw.put(table[buf], size)
        table[cand] = next_code
        next_code += 1
        buf = bytes([byte])
        if next_code == (1 << size) - 1:  # early change
            if size < 12:
                size += 1
            else:  # table full: CLEAR and start over (the spec's rule)
                bw.put(CLEAR, size)
                table = {bytes([i]): i for i in range(256)}
                next_code, size = EOI + 1, 9
    if buf:
        bw.put(table[buf], size)
    bw.put(EOI, size)
    return bw.done()


def _tiff_lzw_encode_clearheavy(data: bytes) -> bytes:
    """CLEAR before every literal — no dictionary, trivially correct,
    the independent cross-check for the greedy encoder + decoder."""
    CLEAR, EOI = 256, 257
    bw = _MsbBitWriter()
    for byte in data:
        bw.put(CLEAR, 9)
        bw.put(byte, 9)
    bw.put(EOI, 9)
    return bw.done()


def _tiff_lzw_bytes(arr, encoder, predictor=False, rows_per_strip=None):
    """Baseline TIFF container with compression=5 strips (and
    optionally predictor=2), assembled around the shared encoder."""
    import struct

    h, w, c = arr.shape
    rps = rows_per_strip or h
    src = arr
    if predictor:
        first = src[:, :1, :].astype(np.int32)
        deltas = np.diff(src.astype(np.int32), axis=1)
        src = np.concatenate([first, deltas & 0xFF], axis=1).astype(np.uint8)
    strips = [
        encoder(src[r : r + rps].tobytes()) for r in range(0, h, rps)
    ]
    pos, offs = 8, []
    for st in strips:
        offs.append(pos)
        pos += len(st)
    ifd_off = pos
    entries = [
        (256, 4, [w]), (257, 4, [h]), (258, 3, [8] * c), (259, 3, [5]),
        (262, 3, [2 if c == 3 else 1]), (273, 4, offs), (277, 3, [c]),
        (278, 4, [rps]), (279, 4, [len(st) for st in strips]),
    ]
    if predictor:
        entries.append((317, 3, [2]))
    tsize, tfmt = {3: 2, 4: 4}, {3: "H", 4: "I"}
    overflow = b""
    ov_pos = ifd_off + 2 + 12 * len(entries) + 4
    packed = []
    for tag, typ, vals in entries:
        total = tsize[typ] * len(vals)
        raw = struct.pack("<" + tfmt[typ] * len(vals), *vals)
        if total <= 4:
            packed.append(
                struct.pack("<HHI", tag, typ, len(vals)) + raw.ljust(4, b"\0")
            )
        else:
            packed.append(
                struct.pack("<HHII", tag, typ, len(vals), ov_pos + len(overflow))
            )
            overflow += raw
    header = struct.pack("<2sHI", b"II", 42, ifd_off)
    ifd = (
        struct.pack("<H", len(entries))
        + b"".join(packed)
        + struct.pack("<I", 0)
    )
    return header + b"".join(strips) + ifd + overflow


def test_tiff_lzw_decodes_both_encoders():
    rng = np.random.RandomState(21)
    img = rng.randint(0, 256, size=(10, 14, 3)).astype(np.uint8)
    for enc in (_tiff_lzw_encode_greedy, _tiff_lzw_encode_clearheavy):
        got = decode_image(_tiff_lzw_bytes(img, enc, rows_per_strip=4))
        np.testing.assert_array_equal(got, img, err_msg=enc.__name__)


def test_tiff_lzw_with_horizontal_predictor():
    # a smooth gradient: exactly the content the predictor exists for
    img = np.arange(8 * 16 * 3, dtype=np.uint8).reshape(8, 16, 3)
    got = decode_image(
        _tiff_lzw_bytes(img, _tiff_lzw_encode_greedy, predictor=True)
    )
    np.testing.assert_array_equal(got, img)


def test_tiff_lzw_large_exercises_width_growth():
    rng = np.random.RandomState(5)
    img = rng.randint(0, 256, size=(40, 60, 3)).astype(np.uint8)
    got = decode_image(_tiff_lzw_bytes(img, _tiff_lzw_encode_greedy))
    np.testing.assert_array_equal(got, img)


def test_gif_encoder_handles_table_overflow_and_corrupt_code_size():
    """A content-rich image pushes the LZW dictionary past the 12-bit
    ceiling: the encoder must CLEAR and restart instead of leaking
    13-bit codes (round trip pins it).  A corrupt minimum-code-size
    byte must raise immediately, not allocate a 2^40-entry table."""
    rng = np.random.RandomState(1)
    img = rng.randint(0, 16, size=(128, 128)).astype(np.uint8)
    pal = [(i, i, i) for i in range(16)]
    from flo_spark.operators.multimodal import encode_gif

    got = decode_image(encode_gif(img, pal))
    np.testing.assert_array_equal(got[:, :, 0], img)

    buf = bytearray(encode_gif(np.zeros((2, 2), dtype=np.uint8), pal[:2]))
    buf[buf.index(0x2C) + 10] = 40
    with pytest.raises(ValueError, match="invalid GIF LZW code size"):
        decode_image(bytes(buf))


def test_wav_unsupported_width_reaches_soundfile_fallback_contract():
    """A 24-bit WAV has no native decoder: it must raise
    NotImplementedError naming the sample width, not mis-decode."""
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(3)  # 24-bit: no native decoder
        wf.setframerate(8000)
        wf.writeframes(b"\x00\x01\x02" * 8)
    with pytest.raises(NotImplementedError, match="WAV sample width 3"):
        decode_audio(buf.getvalue())


# ---------------------------------------------------------------------------
# QOI (qoiformat.org public spec)
# ---------------------------------------------------------------------------

from flo_spark.operators.multimodal import _decode_qoi, encode_qoi


def test_qoi_spec_vector_wrapped_diff():
    # 1x1 pure red: prev starts (0,0,0,255); 0->255 wraps to a -1
    # DIFF (the spec's signed-char arithmetic), so the whole image is
    # one 0x5A op byte between the 14-byte header and the end marker.
    enc = encode_qoi(np.array([[[255, 0, 0]]], np.uint8))
    exp = (
        b"qoif"
        + (1).to_bytes(4, "big") * 2
        + bytes((3, 0, 0x5A))
        + b"\x00" * 7
        + b"\x01"
    )
    assert enc == exp


def test_qoi_roundtrip_rgb_rgba_and_long_runs():
    rng = np.random.default_rng(7)
    for ch in (3, 4):
        for shape in ((1, 1), (5, 7), (16, 8), (2, 200)):
            img = rng.integers(0, 256, size=shape + (ch,), dtype=np.uint8)
            got = _decode_qoi(encode_qoi(img))
            assert got.shape == img.shape
            assert np.array_equal(got, img)
    # run > 62 forces run-op splitting; constant rows also hit INDEX
    img = np.zeros((4, 40, 3), np.uint8)
    img[2:, :, :] = 255
    assert np.array_equal(_decode_qoi(encode_qoi(img)), img)


def test_qoi_alpha_transitions_use_rgba_op():
    # alpha changes can only travel via QOI_OP_RGBA; a decode that
    # mishandles it corrupts every later pixel
    img = np.array(
        [[[10, 20, 30, 255], [10, 20, 30, 128], [11, 21, 31, 128]]],
        np.uint8,
    )
    enc = encode_qoi(img)
    assert b"\xff" in enc  # at least one RGBA op emitted
    assert np.array_equal(_decode_qoi(enc), img)


def test_qoi_decode_image_dispatch_and_errors():
    img = np.arange(48, dtype=np.uint8).reshape(4, 4, 3)
    assert np.array_equal(decode_image(encode_qoi(img)), img)
    with pytest.raises(ValueError, match="not a QOI"):
        _decode_qoi(b"nope")
    trunc = encode_qoi(img)[:-1]  # damaged end marker
    with pytest.raises(ValueError, match="end marker"):
        _decode_qoi(trunc)


@pytest.mark.parametrize("seed", range(3))
def test_qoi_property_random_images(seed):
    # deterministic fuzz across sizes/channels: every image must
    # survive encode->decode bit-exactly (QOI is lossless)
    rng = np.random.default_rng(seed)
    for _ in range(10):
        h = int(rng.integers(1, 12))
        w = int(rng.integers(1, 12))
        ch = int(rng.choice([3, 4]))
        # mix smooth gradients (DIFF/LUMA) with flat spans (RUN/INDEX)
        base = rng.integers(0, 256, size=(h, w, ch), dtype=np.uint8)
        if rng.random() < 0.5:
            base[:, : w // 2] = base[:, :1]
        got = _decode_qoi(encode_qoi(base))
        assert np.array_equal(got, base)


# -- YUV4MPEG2 video -------------------------------------------------------


class TestY4M:
    def _planes(self, w, h, seed=0):
        import numpy as np

        return (np.arange(w * h, dtype=np.int64) * 31 + seed).astype(
            np.uint8
        ).reshape(h, w)

    def test_c420_roundtrip_multi_frame(self):
        from flo_spark.operators.multimodal import decode_video, encode_y4m

        frames = [
            (
                self._planes(8, 6, f),
                self._planes(4, 3, f + 100),
                self._planes(4, 3, f + 200),
            )
            for f in range(4)
        ]
        out, meta = decode_video(encode_y4m(frames))
        assert meta == {
            "width": 8,
            "height": 6,
            "rate": "25:1",
            "colorspace": "420",
            "n_frames": 4,
        }
        for (a, b, c), (x, y, z) in zip(frames, out):
            assert (a == x).all() and (b == y).all() and (c == z).all()

    def test_c422_c444_mono_geometry(self):
        from flo_spark.operators.multimodal import decode_video, encode_y4m

        y = self._planes(6, 4)
        half = self._planes(3, 4, 7)
        out, meta = decode_video(
            encode_y4m([(y, half, half)], colorspace="422")
        )
        assert meta["colorspace"] == "422" and (out[0][1] == half).all()
        out, _ = decode_video(encode_y4m([(y, y, y)], colorspace="444"))
        assert (out[0][2] == y).all()
        out, meta = decode_video(encode_y4m([(y,)], colorspace="mono"))
        assert meta["colorspace"] == "mono" and len(out[0]) == 1

    def test_unknown_header_tokens_skipped(self):
        from flo_spark.operators.multimodal import decode_video, encode_y4m

        y = self._planes(4, 2)
        raw = encode_y4m([(y,)], colorspace="mono")
        head, body = raw.split(b"\n", 1)
        # spec: readers skip parameters they don't understand, and
        # FRAME lines may carry their own parameters
        raw2 = head + b" XCOLORRANGE=FULL It\n" + body.replace(
            b"FRAME\n", b"FRAME Xtimecode=1\n"
        )
        out, meta = decode_video(raw2)
        assert (out[0][0] == y).all() and meta["n_frames"] == 1

    def test_errors(self):
        import pytest

        from flo_spark.operators.multimodal import (
            decode_video,
            encode_y4m,
        )

        y = self._planes(8, 6)
        with pytest.raises(ValueError, match="even"):
            encode_y4m([(self._planes(5, 3), y, y)], colorspace="420")
        good = encode_y4m(
            [(y, self._planes(4, 3), self._planes(4, 3))]
        )
        with pytest.raises(ValueError, match="truncated"):
            decode_video(good[:-5])
        with pytest.raises(ValueError, match="FRAME"):
            decode_video(good + b"JUNK")
        with pytest.raises(NotImplementedError):
            decode_video(b"\x00\x00\x00\x18ftypmp42 not a y4m stream")


# ---------------------------------------------------------------------------
# TGA (Truevision TGA 2.0 public spec)
# ---------------------------------------------------------------------------

from flo_spark.operators.multimodal import _decode_tga, encode_tga


def _tga_hdr(img_type, w, h, depth, desc, cmap=None):
    cmap_type = 1 if cmap is not None else 0
    cmap_len = 0 if cmap is None else len(cmap) // 3
    return (
        bytes([0, cmap_type, img_type])
        + (0).to_bytes(2, "little")
        + cmap_len.to_bytes(2, "little")
        + bytes([24 if cmap is not None else 0])
        + (0).to_bytes(2, "little") * 2
        + w.to_bytes(2, "little")
        + h.to_bytes(2, "little")
        + bytes([depth, desc])
        + (cmap or b"")
    )


_TGA_FOOT = b"\x00" * 8 + b"TRUEVISION-XFILE.\x00"


def test_tga_roundtrip_rgb_gray_rgba_rle_and_raw():
    rng = np.random.default_rng(11)
    for rle in (True, False):
        img = rng.integers(0, 256, (8, 16, 3), dtype=np.uint8)
        img[:, :6] = 100  # runs exercise run packets under rle
        assert np.array_equal(decode_image(encode_tga(img, rle=rle)), img)
        g = rng.integers(0, 256, (5, 9), dtype=np.uint8)
        g[:, :4] = 7
        assert np.array_equal(decode_image(encode_tga(g, rle=rle)), g)
        a = rng.integers(0, 256, (4, 4, 4), dtype=np.uint8)
        assert np.array_equal(decode_image(encode_tga(a, rle=rle)), a)
    # RLE and raw encodings of one image must decode identically
    img = rng.integers(0, 256, (3, 130, 3), dtype=np.uint8)
    img[:, :129] = 42  # run longer than the 128-pixel packet cap
    assert np.array_equal(
        _decode_tga(encode_tga(img, rle=True)),
        _decode_tga(encode_tga(img, rle=False)),
    )


def test_tga_color_mapped_and_bottom_up_origin():
    # 2x2 color-mapped (type 1), 24-bit BGR palette, BOTTOM-UP origin
    pal = bytes([255, 0, 0, 0, 0, 255])  # entry0 blue, entry1 red
    payload = (
        _tga_hdr(1, 2, 2, 8, 0x00, cmap=pal)
        + bytes([0, 1, 1, 0])  # stored bottom row first
        + _TGA_FOOT
    )
    # stored row0 = image bottom; palette entry0 = blue, entry1 = red
    exp = np.array(
        [[[255, 0, 0], [0, 0, 255]], [[0, 0, 255], [255, 0, 0]]],
        np.uint8,
    )
    assert np.array_equal(decode_image(payload), exp)


def test_tga_16bit_a1r5g5b5_expansion():
    # r=31,g=0,b=31 -> 255,0,255 via (v << 3) | (v >> 2)
    v = ((31 << 10) | 31).to_bytes(2, "little")
    payload = _tga_hdr(2, 1, 1, 16, 0x20) + v + _TGA_FOOT
    assert np.array_equal(
        decode_image(payload), np.array([[[255, 0, 255]]], np.uint8)
    )
    # mid-range channel: 16 -> (16<<3)|(16>>2) = 132
    v2 = (16 << 5).to_bytes(2, "little")
    assert np.array_equal(
        decode_image(_tga_hdr(2, 1, 1, 16, 0x20) + v2 + _TGA_FOOT),
        np.array([[[0, 132, 0]]], np.uint8),
    )


def test_tga_right_to_left_flag_and_rle_crossing_rows():
    img = np.arange(24, dtype=np.uint8).reshape(2, 4, 3)
    enc = bytearray(encode_tga(img, rle=False))
    enc[17] |= 0x10  # flip the right-to-left descriptor bit
    assert np.array_equal(decode_image(bytes(enc)), img[:, ::-1])
    # a decoder must also accept RLE streams where a run crosses a
    # scanline boundary (liberal-in-what-you-accept; some writers do)
    row = np.full((2, 3, 3), 9, np.uint8)
    rle_stream = bytes([0x80 | 5, 9, 9, 9])  # one 6-pixel run
    payload = _tga_hdr(10, 3, 2, 24, 0x20) + rle_stream + _TGA_FOOT
    assert np.array_equal(decode_image(payload), row)


def test_tga_unsupported_variants_raise():
    with pytest.raises(NotImplementedError, match="image type"):
        _decode_tga(_tga_hdr(32, 1, 1, 24, 0x20) + _TGA_FOOT)
    with pytest.raises(NotImplementedError, match="color map"):
        bad = bytearray(_tga_hdr(1, 1, 1, 8, 0x20, cmap=b"\x00" * 3))
        bad[7] = 16  # 16-bit palette entries unsupported
        _decode_tga(bytes(bad) + b"\x00" + _TGA_FOOT)


@pytest.mark.parametrize("seed", range(3))
def test_tga_property_random_images(seed):
    rng = np.random.default_rng(seed)
    for _ in range(8):
        h = int(rng.integers(1, 12))
        w = int(rng.integers(1, 200))
        ch = int(rng.choice([0, 3, 4]))
        shape = (h, w) if ch == 0 else (h, w, ch)
        img = rng.integers(0, 256, shape, dtype=np.uint8)
        for rle in (True, False):
            got = _decode_tga(encode_tga(img, rle=rle))
            assert np.array_equal(got, img)


# ---------------------------------------------------------------------------
# AVI (RIFF container, uncompressed DIB video)
# ---------------------------------------------------------------------------

from flo_spark.operators.multimodal import (
    _decode_avi,
    decode_video,
    encode_avi,
)


def test_avi_roundtrip_with_row_padding():
    rng = np.random.default_rng(3)
    # width 6 -> 18-byte rows padded to a 20-byte stride
    frames = [
        rng.integers(0, 256, (8, 6, 3), dtype=np.uint8) for _ in range(3)
    ]
    dec, meta = decode_video(encode_avi(frames))
    assert meta == {
        "width": 6,
        "height": 8,
        "bitcount": 24,
        "n_frames": 3,
    }
    for a, b in zip(frames, dec):
        assert np.array_equal(a, b)


def _patch_strf(payload: bytes, **fields) -> bytes:
    import struct

    i = payload.index(b"strf")
    body = i + 8
    out = bytearray(payload)
    if "height" in fields:
        out[body + 8 : body + 12] = struct.pack("<i", fields["height"])
    if "compression" in fields:
        out[body + 16 : body + 20] = struct.pack(
            "<I", fields["compression"]
        )
    return bytes(out)


def test_avi_top_down_rows_and_refusals():
    img = np.arange(36, dtype=np.uint8).reshape(2, 6, 3)
    enc = encode_avi([img])
    # flip biHeight negative = top-down rows: same bytes now decode
    # with the rows NOT re-flipped
    dec, _ = _decode_avi(_patch_strf(enc, height=-2))
    assert np.array_equal(dec[0], img[::-1])
    with pytest.raises(NotImplementedError, match="compression"):
        _decode_avi(_patch_strf(enc, compression=0x34363248))  # 'H264'
    with pytest.raises(NotImplementedError, match="video"):
        decode_video(b"\x00\x01\x02")
    with pytest.raises(ValueError, match="RIFF/AVI"):
        _decode_avi(b"RIFF\x04\x00\x00\x00WAVE")


def test_avi_32bit_bgrx_frames():
    import struct

    img = np.array([[[1, 2, 3], [4, 5, 6]]], np.uint8)  # 1x2
    enc = bytearray(encode_avi([img]))
    # rewrite to 32-bit: patch biBitCount and replace the frame chunk
    i = enc.index(b"strf")
    enc[i + 8 + 14 : i + 8 + 16] = struct.pack("<H", 32)
    j = enc.index(b"00db")
    old_size = struct.unpack("<I", enc[j + 4 : j + 8])[0]
    bgrx = bytes([3, 2, 1, 0, 6, 5, 4, 0])  # stride 8 = 2 px * 4
    new = enc[: j + 4] + struct.pack("<I", len(bgrx)) + bgrx + enc[
        j + 8 + old_size :
    ]
    dec, meta = _decode_avi(bytes(new))
    assert meta["bitcount"] == 32
    assert np.array_equal(dec[0], img)


@pytest.mark.parametrize("seed", range(2))
def test_avi_property_random_videos(seed):
    rng = np.random.default_rng(seed)
    for _ in range(5):
        h = int(rng.integers(1, 10))
        w = int(rng.integers(1, 10))
        n = int(rng.integers(1, 5))
        frames = [
            rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
            for _ in range(n)
        ]
        dec, meta = _decode_avi(encode_avi(frames))
        assert meta["n_frames"] == n
        for a, b in zip(frames, dec):
            assert np.array_equal(a, b)


# ---------------------------------------------------------------------------
# PCX (ZSoft RLE) and Sun Raster
# ---------------------------------------------------------------------------

from flo_spark.operators.multimodal import (
    _decode_pcx,
    _decode_ras,
    encode_pcx,
    encode_ras,
)


def test_pcx_roundtrip_rgb_gray_and_escape_values():
    rng = np.random.default_rng(5)
    img = rng.integers(0, 256, (7, 9, 3), dtype=np.uint8)  # odd width
    img[:, :4] = 200  # runs
    assert np.array_equal(decode_image(encode_pcx(img)), img)
    g = rng.integers(0, 256, (5, 5), dtype=np.uint8)
    assert np.array_equal(decode_image(encode_pcx(g)), g)
    # single bytes >= 0xC0 collide with the RLE flag and MUST be
    # escaped as 1-runs
    e = np.full((2, 3), 0xC5, np.uint8)
    assert np.array_equal(_decode_pcx(encode_pcx(e)), e)


def test_pcx_color_palette_and_refusals():
    # non-gray palette -> (H, W, 3) lookup
    enc = bytearray(encode_pcx(np.array([[0, 1]], np.uint8)))
    pal_off = len(enc) - 768
    enc[pal_off : pal_off + 6] = bytes([9, 8, 7, 6, 5, 4])
    dec = _decode_pcx(bytes(enc))
    assert dec.shape == (1, 2, 3)
    assert list(dec[0, 0]) == [9, 8, 7] and list(dec[0, 1]) == [6, 5, 4]
    with pytest.raises(NotImplementedError, match="encoding"):
        bad = bytearray(encode_pcx(np.zeros((1, 1), np.uint8)))
        bad[2] = 0
        _decode_pcx(bytes(bad))
    with pytest.raises(ValueError, match="not a PCX"):
        _decode_pcx(b"\x00\x00\x01\x08")
    with pytest.raises(ValueError, match="truncated"):
        _decode_pcx(encode_pcx(np.zeros((4, 4, 3), np.uint8))[:-20])


def test_ras_roundtrip_raw_rle_and_0x80_escape():
    rng = np.random.default_rng(6)
    for rle in (False, True):
        img = rng.integers(0, 256, (6, 5, 3), dtype=np.uint8)
        img[:, :2] = 0x80  # runs of the escape byte itself
        assert np.array_equal(
            decode_image(encode_ras(img, rle=rle)), img
        )
        g = rng.integers(0, 256, (3, 7), dtype=np.uint8)
        g[1, :] = 0x80
        assert np.array_equal(decode_image(encode_ras(g, rle=rle)), g)
    # an isolated 0x80 literal must use the two-byte 0x80 0x00 escape
    one = np.array([[0x80, 1]], np.uint8)
    enc = encode_ras(one, rle=True)
    assert b"\x80\x00" in enc
    assert np.array_equal(_decode_ras(enc), one)


def test_ras_colormap_and_refusals():
    import struct

    hdr = struct.pack(">8I", 0x59A66A95, 2, 1, 8, 2, 1, 1, 6)
    cm = bytes([10, 20, 30, 40, 50, 60])  # R/G/B vectors of length 2
    dec = decode_image(hdr + cm + bytes([0, 1]))
    assert np.array_equal(
        dec, np.array([[[10, 30, 50], [20, 40, 60]]], np.uint8)
    )
    with pytest.raises(ValueError, match="not a Sun Raster"):
        _decode_ras(struct.pack(">8I", 0x12345678, 1, 1, 8, 1, 1, 0, 0))
    with pytest.raises(NotImplementedError, match="depth"):
        _decode_ras(struct.pack(">8I", 0x59A66A95, 1, 1, 4, 1, 1, 0, 0))


@pytest.mark.parametrize("seed", range(2))
def test_pcx_ras_property_random_images(seed):
    rng = np.random.default_rng(seed)
    for _ in range(6):
        h = int(rng.integers(1, 10))
        w = int(rng.integers(1, 16))
        gray = bool(rng.integers(0, 2))
        shape = (h, w) if gray else (h, w, 3)
        img = rng.integers(0, 256, shape, dtype=np.uint8)
        assert np.array_equal(_decode_pcx(encode_pcx(img)), img)
        for rle in (False, True):
            assert np.array_equal(
                _decode_ras(encode_ras(img, rle=rle)), img
            )


# ---------------------------------------------------------------------------
# WebP lossless (VP8L)
# ---------------------------------------------------------------------------

from flo_spark.operators.bitio import (
    LsbWriter as _VP8LBitWriter,
)
from flo_spark.operators.bitio import (
    canonical_codes,
    canonical_counts,
)
from flo_spark.operators.webp import (
    decode_webp,
    encode_webp_lossless,
)


def _vp8l_file(vp8l: bytes) -> bytes:
    import struct

    chunk = b"VP8L" + struct.pack("<I", len(vp8l)) + vp8l
    if len(vp8l) % 2:
        chunk += b"\x00"
    riff = b"WEBP" + chunk
    return b"RIFF" + struct.pack("<I", len(riff)) + riff


def _emit_lengths(bw, lengths, alphabet_size):
    """Write an arbitrary {symbol: 1} length set through the
    code-length code — zero runs via symbol 18 — so tests can build
    feature streams the literal-only encoder never emits."""
    bw.write(0, 1)  # normal code
    # CLC lengths: symbol 1 -> len 1, symbols 0 and 18 -> len 2
    # _CLC_ORDER[:12] = 17,18,0,1,2,3,4,5,16,6,7,8
    bw.write(12 - 4, 4)
    clc_lens = {18: 2, 0: 2, 1: 1}
    for sym in [17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8]:
        bw.write(clc_lens.get(sym, 0), 3)
    codes = canonical_codes(*canonical_counts(clc_lens))
    bw.write(0, 1)  # no max_symbol shortcut
    sym = 0
    want = sorted(lengths)
    for s in want:
        while sym < s:
            run = min(138, s - sym)
            if run < 11:
                for _ in range(run):
                    c, ln = codes[0]
                    bw.write_code(c, ln)
                sym += run
            else:
                c, ln = codes[18]
                bw.write_code(c, ln)
                bw.write(run - 11, 7)
                sym += run
        c, ln = codes[1]
        bw.write_code(c, ln)
        sym += 1
    while sym < alphabet_size:
        run = min(138, alphabet_size - sym)
        if run < 11:
            for _ in range(run):
                c, ln = codes[0]
                bw.write_code(c, ln)
            sym += run
        else:
            c, ln = codes[18]
            bw.write_code(c, ln)
            bw.write(run - 11, 7)
            sym += run


def _simple_single(bw, sym):
    bw.write(1, 1)
    bw.write(0, 1)
    bw.write(1, 1)
    bw.write(sym, 8)


def test_webp_roundtrip_simple_and_flat_codes():
    rng = np.random.default_rng(9)
    img = np.full((4, 5, 3), 200, np.uint8)  # single-symbol codes
    dec = decode_webp(encode_webp_lossless(img))
    assert (dec[..., :3] == img).all() and (dec[..., 3] == 255).all()
    two = np.where(
        rng.integers(0, 2, (6, 7, 3), dtype=np.uint8) > 0, 10, 250
    ).astype(np.uint8)  # 2-symbol simple codes
    assert (
        decode_webp(encode_webp_lossless(two))[..., :3] == two
    ).all()
    rnd = rng.integers(0, 256, (8, 9, 4), dtype=np.uint8)  # flat codes
    assert (decode_webp(encode_webp_lossless(rnd)) == rnd).all()
    assert np.array_equal(
        decode_image(encode_webp_lossless(rnd)), rnd
    )  # decode_image dispatch


def test_webp_simple_code_stream_order_not_canonical():
    # spec: in a 2-symbol simple code bit 0 maps to the FIRST symbol
    # in stream order even when it is numerically LARGER (the in-repo
    # encoder always sorts, so round trips cannot catch a canonical
    # remap that swaps the two symbols)
    bw = _VP8LBitWriter()
    bw.write(0x2F, 8)
    bw.write(2 - 1, 14)
    bw.write(1 - 1, 14)
    bw.write(0, 1)
    bw.write(0, 3)
    bw.write(0, 1)  # no transforms
    bw.write(0, 1)  # no cache
    bw.write(0, 1)  # no meta
    # green: simple 2-symbol code, larger symbol FIRST: s0=9, s1=3
    bw.write(1, 1)  # simple
    bw.write(1, 1)  # num_symbols = 2
    bw.write(1, 1)  # 8-bit first symbol
    bw.write(9, 8)
    bw.write(3, 8)
    _simple_single(bw, 0)  # red
    _simple_single(bw, 0)  # blue
    _simple_single(bw, 255)  # alpha
    _simple_single(bw, 0)  # distance (unused)
    bw.write_code(0, 1)  # green code 0 -> s0 = 9
    bw.write_code(1, 1)  # green code 1 -> s1 = 3
    dec = decode_webp(_vp8l_file(bw.getvalue()))
    exp = np.array([[[0, 9, 0, 255], [0, 3, 0, 255]]], np.uint8)
    assert np.array_equal(dec, exp)


def test_webp_hand_built_backref_stream():
    # 2x1 image: literal green=0/r=7/b=9/a=255, then a length-1
    # LZ77 backref at linear distance 1 (dist_code 121 = prefix 13
    # + 5 extra bits of 24) copying it — exercises the decode path
    # the literal-only encoder never emits
    bw = _VP8LBitWriter()
    bw.write(0x2F, 8)
    bw.write(2 - 1, 14)
    bw.write(1 - 1, 14)
    bw.write(0, 1)
    bw.write(0, 3)
    bw.write(0, 1)  # no transforms
    bw.write(0, 1)  # no cache
    bw.write(0, 1)  # no meta
    _emit_lengths(bw, {0: 1, 256: 1}, 256 + 24)  # green: literal 0 | len-prefix 0
    _simple_single(bw, 7)  # red
    _simple_single(bw, 9)  # blue
    _simple_single(bw, 255)  # alpha
    _simple_single(bw, 13)  # distance prefix 13 (+5 extra bits)
    # pixel stream
    bw.write_code(0, 1)  # green literal 0 (code 0)
    bw.write_code(1, 1)  # green symbol 256 -> length prefix 0 (len 1)
    bw.write(24, 5)  # distance extra: 97 + 24 = 121 -> dist 1
    dec = decode_webp(_vp8l_file(bw.getvalue()))
    exp = np.array([[[7, 0, 9, 255], [7, 0, 9, 255]]], np.uint8)
    assert np.array_equal(dec, exp)


def test_webp_hand_built_color_cache_stream():
    # 2x1 image via the color cache: literal pixel, then the cache
    # symbol for its slot — hash (argb * 0x1e35a7bd) >> (32 - 1)
    argb = (255 << 24) | (7 << 16) | (0 << 8) | 9
    slot = ((argb * 0x1E35A7BD) & 0xFFFFFFFF) >> 31
    bw = _VP8LBitWriter()
    bw.write(0x2F, 8)
    bw.write(1, 14)
    bw.write(0, 14)
    bw.write(0, 1)
    bw.write(0, 3)
    bw.write(0, 1)  # no transforms
    bw.write(1, 1)  # color cache present
    bw.write(1, 4)  # cache_bits = 1 (2 slots)
    bw.write(0, 1)  # no meta
    _emit_lengths(bw, {0: 1, 256 + 24 + slot: 1}, 256 + 24 + 2)
    _simple_single(bw, 7)
    _simple_single(bw, 9)
    _simple_single(bw, 255)
    _simple_single(bw, 0)  # distance (unused)
    bw.write_code(0, 1)  # green literal 0
    bw.write_code(1, 1)  # cache symbol for the planted slot
    dec = decode_webp(_vp8l_file(bw.getvalue()))
    exp = np.array([[[7, 0, 9, 255], [7, 0, 9, 255]]], np.uint8)
    assert np.array_equal(dec, exp)


def test_webp_refusals():
    bw = _VP8LBitWriter()
    bw.write(0x2F, 8)
    bw.write(0, 14)
    bw.write(0, 14)
    bw.write(0, 1)
    bw.write(0, 3)
    bw.write(1, 1)  # transform present
    bw.write(2, 2)  # subtract-green
    with pytest.raises(NotImplementedError, match="subtract-green"):
        decode_webp(_vp8l_file(bw.getvalue()))
    import struct

    lossy = b"RIFF" + struct.pack("<I", 12) + b"WEBP" + b"VP8 " + struct.pack("<I", 0)
    with pytest.raises(NotImplementedError, match="lossless"):
        decode_webp(lossy)
    with pytest.raises(ValueError, match="not a WebP"):
        decode_webp(b"RIFF\x04\x00\x00\x00WAVE")


@pytest.mark.parametrize("seed", range(3))
def test_webp_property_random_images(seed):
    rng = np.random.default_rng(seed)
    for _ in range(6):
        h = int(rng.integers(1, 14))
        w = int(rng.integers(1, 14))
        ch = int(rng.choice([3, 4]))
        img = rng.integers(0, 256, (h, w, ch), dtype=np.uint8)
        got = decode_webp(encode_webp_lossless(img))
        if ch == 3:
            assert (got[..., :3] == img).all() and (got[..., 3] == 255).all()
        else:
            assert (got == img).all()


# ---------------------------------------------------------------------------
# ICO (Windows icon container)
# ---------------------------------------------------------------------------

from flo_spark.operators.multimodal import _decode_ico, encode_ico


def test_ico_dib_roundtrip_rgb_rgba():
    rng = np.random.default_rng(4)
    img = rng.integers(0, 256, (8, 6, 4), dtype=np.uint8)
    assert np.array_equal(decode_image(encode_ico(img)), img)
    img3 = rng.integers(0, 256, (5, 7, 3), dtype=np.uint8)
    dec3 = decode_image(encode_ico(img3))
    assert np.array_equal(dec3[..., :3], img3)
    assert (dec3[..., 3] == 255).all()


def test_ico_png_entry_routes_through_png_decoder():
    rng = np.random.default_rng(5)
    img = rng.integers(0, 256, (6, 6, 4), dtype=np.uint8)
    enc = encode_ico(img, as_png=True)
    assert b"\x89PNG" in enc
    assert np.array_equal(decode_image(enc), img)


def test_ico_and_mask_sets_alpha_zero():
    enc = bytearray(encode_ico(np.full((2, 2, 3), 9, np.uint8)))
    mask_off = 22 + 40 + 2 * 2 * 4
    enc[mask_off] = 0x80  # mask row 0 = image BOTTOM row, left pixel
    dec = _decode_ico(bytes(enc))
    assert dec[1, 0, 3] == 0
    assert dec[0, 0, 3] == 255 and dec[1, 1, 3] == 255


def test_ico_refusals():
    import struct

    with pytest.raises(ValueError, match="not an ICO"):
        _decode_ico(struct.pack("<HHH", 1, 1, 1) + b"\x00" * 16)
    enc = bytearray(encode_ico(np.zeros((2, 2, 3), np.uint8)))
    enc[22 + 16 : 22 + 20] = struct.pack("<I", 1)  # biCompression
    with pytest.raises(NotImplementedError, match="compressed"):
        _decode_ico(bytes(enc))


@pytest.mark.parametrize("seed", range(2))
def test_ico_property_random_images(seed):
    rng = np.random.default_rng(seed)
    for _ in range(6):
        h = int(rng.integers(1, 16))
        w = int(rng.integers(1, 16))
        ch = int(rng.choice([3, 4]))
        img = rng.integers(0, 256, (h, w, ch), dtype=np.uint8)
        for as_png in (False, True):
            got = _decode_ico(encode_ico(img, as_png=as_png))
            if ch == 3:
                assert np.array_equal(got[..., :3], img)
                assert (got[..., 3] == 255).all()
            else:
                assert np.array_equal(got, img)


# ---------------------------------------------------------------------------
# Animated GIF (GIF89a GCE + NETSCAPE loop)
# ---------------------------------------------------------------------------

from flo_spark.operators.multimodal import (
    decode_gif_frames,
    encode_gif_animation,
)


def test_gif_animation_composites_transparency_over_prior_frames():
    pal = [(10, 0, 0), (0, 20, 0), (0, 0, 30), (40, 40, 40)]
    rng = np.random.default_rng(2)
    f0, f1, f2 = (
        rng.integers(0, 4, (6, 8), dtype=np.int64) for _ in range(3)
    )
    enc = encode_gif_animation(
        [f0, f1, f2], pal, delays_cs=[10, 20, 30],
        transparent_index=3, loops=2,
    )
    frames, meta = decode_gif_frames(enc)
    assert meta["n_frames"] == 3
    assert meta["delays_cs"] == [10, 20, 30]
    assert meta["loops"] == 2
    pal_arr = np.array(pal, np.uint8)
    assert np.array_equal(frames[0], pal_arr[f0])
    c1 = np.where(f1 == 3, f0, f1)
    assert np.array_equal(frames[1], pal_arr[c1])
    c2 = np.where(f2 == 3, c1, f2)
    assert np.array_equal(frames[2], pal_arr[c2])


def test_gif_animation_opaque_frames_and_single_frame_consistency():
    from flo_spark.operators.multimodal import _decode_gif

    pal = [(1, 2, 3), (4, 5, 6), (7, 8, 9), (200, 100, 50)]
    rng = np.random.default_rng(3)
    f0 = rng.integers(0, 4, (5, 5), dtype=np.int64)
    f1 = rng.integers(0, 4, (5, 5), dtype=np.int64)
    enc = encode_gif_animation([f0, f1], pal)  # no transparency
    frames, meta = decode_gif_frames(enc)
    pal_arr = np.array(pal, np.uint8)
    assert np.array_equal(frames[1], pal_arr[f1])  # full overwrite
    # the single-frame decoder must agree on frame 0 of an animation
    assert np.array_equal(_decode_gif(enc), pal_arr[f0])


def test_gif_animation_disposal_3_refuses():
    pal = [(0, 0, 0), (255, 255, 255)]
    enc = bytearray(
        encode_gif_animation(
            [np.zeros((2, 2), np.int64)] * 2, pal, transparent_index=1
        )
    )
    i = enc.index(b"\x21\xf9\x04", enc.index(b"\x21\xf9\x04") + 1)
    enc[i + 3] = (enc[i + 3] & ~0x1C) | (3 << 2)  # disposal 3
    with pytest.raises(NotImplementedError, match="disposal 3"):
        decode_gif_frames(bytes(enc))


@pytest.mark.parametrize("seed", range(2))
def test_gif_animation_property_random(seed):
    rng = np.random.default_rng(seed)
    pal = [tuple(int(v) for v in rng.integers(0, 256, 3)) for _ in range(8)]
    h, w = int(rng.integers(2, 10)), int(rng.integers(2, 10))
    frames = [
        rng.integers(0, 8, (h, w), dtype=np.int64) for _ in range(4)
    ]
    got, meta = decode_gif_frames(
        encode_gif_animation(frames, pal)
    )
    pal_arr = np.array(pal, np.uint8)
    assert meta["n_frames"] == 4
    for f, g in zip(frames, got):  # opaque frames = plain lookups
        assert np.array_equal(g, pal_arr[f])


def test_exif_inject_extract_roundtrip_and_absence():
    from flo_spark.operators.jpeg import decode_jpeg, encode_jpeg_baseline
    from flo_spark.operators.multimodal import (
        build_exif_app1,
        extract_exif,
        inject_exif,
    )

    img = np.full((8, 8, 3), 128, np.uint8)
    j = encode_jpeg_baseline(img)
    tags = {
        "make": "cam3",
        "model": "flo-spark-m1",
        "orientation": 6,
        "datetime": "2024:01:02 03:04:05",
        "software": "flo_spark",
    }
    j2 = inject_exif(j, tags)
    assert extract_exif(j2) == tags
    assert extract_exif(j) == {}  # absence is data, not an error
    # APP1 presence must not perturb pixel decode
    assert np.array_equal(decode_jpeg(j2), decode_jpeg(j))
    # big-endian TIFF bodies parse too (spec allows MM)
    app1 = build_exif_app1({"orientation": 3})
    body = app1[4:]
    import struct as _struct

    tiff = body[6:]
    assert tiff[:2] == b"II"
    # short inline tag: flip to MM by rebuilding by hand
    mm = (b"MM\x00*" + _struct.pack(">I", 8) + _struct.pack(">H", 1)
          + _struct.pack(">HHI", 0x0112, 3, 1)
          + _struct.pack(">H", 3) + b"\x00\x00" + _struct.pack(">I", 0))
    seg = b"Exif\x00\x00" + mm
    jpeg_mm = (b"\xff\xd8" + b"\xff\xe1"
               + _struct.pack(">H", len(seg) + 2) + seg + j[2:])
    assert extract_exif(jpeg_mm) == {"orientation": 3}
