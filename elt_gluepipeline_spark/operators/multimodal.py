"""Multimodal column plumbing: opaque binary payloads + typed metadata,
processed by Arrow-batched pandas functions over mapInPandas.

Decode status, honestly marked per format:

- BMP (uncompressed 8/24-bpp) and WAV (PCM 8/16-bit) are REALLY
  decoded by the pure-Python header/pixel parsers below (`decode_bmp`,
  `decode_wav` → `media_probe`): width/height/palette-mapped luminance
  and sample-rate/duration/amplitude are actual values read from the
  bytes, oracle-checked in q115.
- PNG (8-bit gray/RGB/RGBA, non-interlaced) is REALLY decoded too —
  stdlib zlib inflate + full scanline unfiltering (`decode_png`),
  CRC-verified; the one genuinely COMPRESSED format with a real
  decode path, oracle-checked in q132.
- baseline JPEG (SOF0, gray/4:4:4) is REALLY decoded as well — the
  LOSSY codec path: Huffman entropy decode, dequantization, 2-D IDCT
  and YCbCr→RGB in numpy + struct (`decode_jpeg`), oracle-checked in
  q137 via the block-constant DC-exactness contract.
- progressive JPEG (SOF2) is decoded for real too: per-scan
  spectral-selection / successive-approximation accumulation
  (T.81 Annex G) into coefficient arrays, one IDCT at EOI.
- remaining codec formats (mp3/mp4 — no codec libraries in this
  container) keep the clearly-marked stub (deterministic fake
  features derived from the bytes).

Everything Spark-side is real and tested either way: the schema
contract (binary + struct metadata), the mapInPandas batch shape, and
the partitioning story (payloads never shuffle unless the caller
repartitions; feature extraction is a map-only stage).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (BinaryType, BooleanType, LongType, StringType,
                               StructField, StructType)

# Contract for a multimodal asset table.
ASSET_SCHEMA = StructType([
    StructField("asset_id", LongType(), False),
    StructField("modality", StringType(), True),    # 'image'|'audio'|'video'
    StructField("payload", BinaryType(), True),     # opaque encoded bytes
    StructField("media_format", StringType(), True),
])

FEATURE_SCHEMA = StructType([
    StructField("asset_id", LongType(), False),
    StructField("modality", StringType(), True),
    StructField("byte_len", LongType(), True),
    StructField("feature_hash", LongType(), True),  # stand-in for real features
])


def attach_payload(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Build an 'image' asset table from any string column (test harness
    for the binary plumbing: encode() gives a real BinaryType payload)."""
    return df.select(
        F.col(id_col).cast("long").alias("asset_id"),
        F.lit("image").alias("modality"),
        F.encode(F.col(text_col), "UTF-8").alias("payload"),
        F.lit("utf8-blob").alias("media_format"),
    )


def _decode_stub(payload: bytes) -> int:
    """STUB for the real decoder (PIL/libav are not in this container).

    Deterministic fake 'feature': a polynomial hash of the bytes. A real
    implementation returns pixel/waveform tensors; the Spark-side batch
    contract is identical either way.
    """
    h = 0
    for b in payload[:4096]:  # bounded work per asset, like a thumbnail decode
        h = (h * 1_000_003 + b) & 0x7FFF_FFFF_FFFF_FFFF
    return h


def extract_features(assets: DataFrame) -> DataFrame:
    """Map-only feature extraction via mapInPandas (Arrow batches).

    No shuffle: each partition's assets are decoded in place; a narrow
    input is fanned out at its read (``read_table(spread=True)``).
    Batch size is governed by spark.sql.execution.arrow.maxRecordsPerBatch;
    keep payload partitions ≲128 MB via the reader settings so a batch
    of decoded frames fits executor memory at 100 TB scale.
    """
    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pd.DataFrame({
                "asset_id": pdf["asset_id"],
                "modality": pdf["modality"],
                "byte_len": pdf["payload"].map(
                    lambda p: len(p) if p is not None else 0).astype("int64"),
                "feature_hash": pdf["payload"].map(
                    lambda p: _decode_stub(p) if p is not None else 0).astype("int64"),
            })
            yield out

    return assets.mapInPandas(_extract, schema=FEATURE_SCHEMA)


FRAME_SCHEMA = StructType([
    StructField("asset_id", LongType(), False),
    StructField("frame_idx", LongType(), False),
    StructField("frame_payload", BinaryType(), True),
])


def sample_frames(assets: DataFrame, *, every_n_bytes: int = 1024,
                  max_frames: int = 8) -> DataFrame:
    """One-to-many frame sampling: each asset expands to <= max_frames
    rows via mapInPandas (an Arrow-native generator — the UDF yields
    MORE rows than it consumes, which a scalar pandas_udf cannot).

    STUB sampler: a 'frame' is a byte-slice window at a fixed stride; a
    real implementation seeks keyframes with a codec. The expansion
    contract (fan-out bounded by max_frames, frame index + payload per
    row) and the partitioning story are the real ones: fan-out happens
    in place, no shuffle, and downstream per-frame operators see a
    normal (asset_id, frame_idx) keyed table.
    """
    def _sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, frames = [], [], []
            for aid, p in zip(pdf["asset_id"], pdf["payload"]):
                if p is None:
                    continue
                for i in range(min(max_frames, max(1, len(p) // every_n_bytes))):
                    ids.append(aid)
                    idxs.append(i)
                    frames.append(bytes(p[i * every_n_bytes:(i + 1) * every_n_bytes]))
            yield pd.DataFrame({"asset_id": pd.Series(ids, dtype="int64"),
                                "frame_idx": pd.Series(idxs, dtype="int64"),
                                "frame_payload": frames})

    return assets.mapInPandas(_sample, schema=FRAME_SCHEMA)


# --------------------------------------------------------------------
# REAL pure-Python decoders (no codec library needed): uncompressed
# BMP and PCM WAV here, PNG (stdlib zlib) and baseline JPEG below.
# These make width/height/duration/luminance actual decoded values;
# formats still needing an external codec (mp3, mp4) stay on the
# stub path, loudly.
# --------------------------------------------------------------------

import struct


def decode_bmp(data: bytes):
    """Parse an uncompressed 8-bpp (palettized) or 24-bpp BMP.

    Returns ``(width, height, bpp, gray)`` where ``gray`` is a
    float64 height×width luminance array (palette-mapped BT.601 for
    8-bpp, BT.601 over BGR for 24-bpp). Handles bottom-up and
    top-down (negative height) row order and 4-byte row padding.
    Raises ValueError for anything that isn't a plain BI_RGB
    BITMAPINFOHEADER BMP — callers route those to the stub path.
    """
    import numpy as np

    if len(data) < 54 or data[:2] != b"BM":
        raise ValueError("not a BMP payload")
    pix_off = struct.unpack_from("<I", data, 10)[0]
    hdr_size = struct.unpack_from("<I", data, 14)[0]
    if hdr_size < 40:
        raise ValueError(f"unsupported DIB header size {hdr_size}")
    width, height_raw = struct.unpack_from("<ii", data, 18)
    planes, bpp = struct.unpack_from("<HH", data, 26)
    compression = struct.unpack_from("<I", data, 30)[0]
    if planes != 1 or compression != 0 or bpp not in (8, 24):
        raise ValueError(
            f"unsupported BMP (planes={planes} bpp={bpp} comp={compression})")
    top_down = height_raw < 0
    height = abs(height_raw)
    if width <= 0 or height == 0:
        raise ValueError("degenerate BMP dimensions")
    stride = (width * bpp // 8 + 3) // 4 * 4
    need = pix_off + stride * height
    if len(data) < need:
        raise ValueError(f"truncated BMP: {len(data)} < {need}")

    if bpp == 8:
        n_colors = struct.unpack_from("<I", data, 46)[0] or 256
        pal_off = 14 + hdr_size
        pal = np.frombuffer(data, dtype=np.uint8,
                            count=4 * n_colors, offset=pal_off)
        pal = pal.reshape(n_colors, 4).astype(np.float64)  # B,G,R,reserved
        lum_table = (0.114 * pal[:, 0] + 0.587 * pal[:, 1]
                     + 0.299 * pal[:, 2])
        rows = np.frombuffer(data, dtype=np.uint8, count=stride * height,
                             offset=pix_off).reshape(height, stride)
        gray = lum_table[rows[:, :width]]
    else:
        rows = np.frombuffer(data, dtype=np.uint8, count=stride * height,
                             offset=pix_off).reshape(height, stride)
        bgr = rows[:, : width * 3].reshape(height, width, 3).astype(np.float64)
        gray = 0.114 * bgr[:, :, 0] + 0.587 * bgr[:, :, 1] + 0.299 * bgr[:, :, 2]
    if not top_down:
        gray = gray[::-1]
    return width, height, bpp, gray


def encode_bmp(gray) -> bytes:
    """Build an 8-bpp grayscale-palette BMP from a uint8 H×W array —
    the synthesis/test harness counterpart of decode_bmp (bottom-up
    row order, 4-byte padded rows, 256-entry linear palette)."""
    import numpy as np

    img = np.asarray(gray, dtype=np.uint8)
    height, width = img.shape
    stride = (width + 3) // 4 * 4
    pal = b"".join(struct.pack("<BBBB", v, v, v, 0) for v in range(256))
    pix_off = 14 + 40 + len(pal)
    rows = np.zeros((height, stride), dtype=np.uint8)
    rows[:, :width] = img
    pixels = rows[::-1].tobytes()          # bottom-up storage
    file_size = pix_off + len(pixels)
    header = (b"BM" + struct.pack("<IHHI", file_size, 0, 0, pix_off)
              + struct.pack("<IiiHHIIiiII", 40, width, height, 1, 8, 0,
                            len(pixels), 2835, 2835, 256, 0))
    return header + pal + pixels


def _png_unfilter(raw: bytes, height: int, stride: int, bpp: int) -> bytes:
    """Reverse PNG scanline filtering (spec §6: none/sub/up/average/
    paeth). Sequential in x by definition — pure-Python per-byte loop,
    bounded by payload size (same honesty note as the rest of this
    module: a production decoder is a codec library; THIS one is real
    but stdlib-only)."""
    out = bytearray()
    prev = bytearray(stride)
    pos = 0
    for _ in range(height):
        ft = raw[pos]
        pos += 1
        line = bytearray(raw[pos:pos + stride])
        pos += stride
        if ft == 1:                                   # sub
            for i in range(bpp, stride):
                line[i] = (line[i] + line[i - bpp]) & 255
        elif ft == 2:                                 # up
            for i in range(stride):
                line[i] = (line[i] + prev[i]) & 255
        elif ft == 3:                                 # average
            for i in range(stride):
                a = line[i - bpp] if i >= bpp else 0
                line[i] = (line[i] + ((a + prev[i]) >> 1)) & 255
        elif ft == 4:                                 # paeth
            for i in range(stride):
                a = line[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                line[i] = (line[i] + pred) & 255
        elif ft != 0:
            raise ValueError(f"bad PNG filter type {ft}")
        out += line
        prev = line
    return bytes(out)


_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}   # gray, RGB, gray+A, RGBA


def decode_png(data: bytes):
    """Parse an 8-bit non-interlaced PNG using ONLY stdlib zlib (one
    genuinely COMPRESSED format decoded for real — no codec library
    involved). Supports color types 0/2/4/6; all five
    scanline filters; multiple IDAT chunks; CRC-verified.

    Returns ``(width, height, channels, arr)`` with ``arr`` a float64
    height×width×channels array of raw channel values. Raises
    ValueError for anything else (16-bit, palette, interlaced,
    truncated, bad CRC) — callers route those to the stub path.
    """
    import zlib

    import numpy as np

    if len(data) < len(_PNG_SIG) + 12 or not data.startswith(_PNG_SIG):
        raise ValueError("not a PNG payload")
    pos, ihdr, idat = len(_PNG_SIG), None, bytearray()
    while pos + 12 <= len(data):
        size = struct.unpack_from(">I", data, pos)[0]
        if pos + 12 + size > len(data):
            raise ValueError("truncated PNG chunk")
        typ = data[pos + 4: pos + 8]
        body = data[pos + 8: pos + 8 + size]
        crc = struct.unpack_from(">I", data, pos + 8 + size)[0]
        if zlib.crc32(typ + body) & 0xFFFFFFFF != crc:
            raise ValueError(f"bad CRC in {typ!r} chunk")
        if typ == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", body)
        elif typ == b"IDAT":
            idat += body
        elif typ == b"IEND":
            break
        pos += 12 + size
    if ihdr is None or not idat:
        raise ValueError("missing IHDR/IDAT chunk")
    width, height, depth, ctype, comp, filt, interlace = ihdr
    if (depth != 8 or ctype not in _PNG_CHANNELS or comp != 0
            or filt != 0 or interlace != 0):
        raise ValueError(
            f"unsupported PNG (depth={depth} color={ctype} "
            f"interlace={interlace})")
    if width <= 0 or height <= 0:
        raise ValueError("degenerate PNG dimensions")
    ch = _PNG_CHANNELS[ctype]
    stride = width * ch
    raw = zlib.decompress(bytes(idat))
    if len(raw) != height * (1 + stride):
        raise ValueError(f"PNG pixel data length {len(raw)} != "
                         f"{height * (1 + stride)}")
    flat = np.frombuffer(_png_unfilter(raw, height, stride, ch),
                         dtype=np.uint8)
    return width, height, ch, \
        flat.reshape(height, width, ch).astype(np.float64)


def encode_png(arr, *, color_type: int = 2, filter_type: int = 0) -> bytes:
    """Build an 8-bit PNG from a uint8 H×W×C array — the synthesis/
    test-harness counterpart of decode_png. ``filter_type`` applies
    the SAME filter to every scanline (0-4), which lets tests drive
    each unfilter path while the pixel content stays fixed."""
    import zlib

    import numpy as np

    img = np.asarray(arr, dtype=np.uint8)
    if img.ndim == 2:
        img = img[:, :, None]
    height, width, ch = img.shape
    if _PNG_CHANNELS.get(color_type) != ch:
        raise ValueError(f"color_type {color_type} wants "
                         f"{_PNG_CHANNELS.get(color_type)} channels, got {ch}")
    if not 0 <= filter_type <= 4:
        raise ValueError(f"bad filter type {filter_type}")
    stride = width * ch
    scan = bytearray()
    prev = bytearray(stride)
    for y in range(height):
        line = bytearray(img[y].tobytes())
        enc = bytearray(stride)
        for i in range(stride):
            a = line[i - ch] if i >= ch else 0
            b = prev[i]
            c = prev[i - ch] if i >= ch else 0
            if filter_type == 0:
                pred = 0
            elif filter_type == 1:
                pred = a
            elif filter_type == 2:
                pred = b
            elif filter_type == 3:
                pred = (a + b) >> 1
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            enc[i] = (line[i] - pred) & 255
        scan += bytes([filter_type]) + enc
        prev = line

    def chunk(typ: bytes, body: bytes) -> bytes:
        import zlib as _z
        return (struct.pack(">I", len(body)) + typ + body
                + struct.pack(">I", _z.crc32(typ + body) & 0xFFFFFFFF))

    ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
    return (_PNG_SIG + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(bytes(scan), 6))
            + chunk(b"IEND", b""))


def decode_wav(data: bytes):
    """Parse a PCM RIFF/WAVE file (8- or 16-bit).

    Returns ``(n_channels, sample_rate, bits, samples)`` with
    ``samples`` a float64 (n_frames, n_channels) array in native
    amplitude units (uint8 centered to [-128,127]). Walks the chunk
    list properly (fmt may be followed by LIST/fact before data; odd
    chunks pad to even). Raises ValueError on non-PCM or missing
    chunks — callers route those to the stub path.
    """
    import numpy as np

    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, fmt, pcm = 12, None, None
    while pos + 8 <= len(data):
        cid = data[pos:pos + 4]
        size = struct.unpack_from("<I", data, pos + 4)[0]
        body = data[pos + 8: pos + 8 + size]
        if cid == b"fmt ":
            if size < 16:
                raise ValueError("short fmt chunk")
            fmt = struct.unpack_from("<HHIIHH", body, 0)
        elif cid == b"data":
            pcm = body
        pos += 8 + size + (size & 1)       # chunks pad to even length
    if fmt is None or pcm is None:
        raise ValueError("missing fmt/data chunk")
    audio_fmt, channels, rate, _byte_rate, _block, bits = fmt
    if audio_fmt != 1 or bits not in (8, 16) or channels < 1:
        raise ValueError(f"unsupported WAV (fmt={audio_fmt} bits={bits})")
    if bits == 16:
        raw = np.frombuffer(pcm, dtype="<i2",
                            count=len(pcm) // 2 // channels * channels)
        samples = raw.astype(np.float64)
    else:
        raw = np.frombuffer(pcm, dtype=np.uint8,
                            count=len(pcm) // channels * channels)
        samples = raw.astype(np.float64) - 128.0
    return channels, rate, bits, samples.reshape(-1, channels)


def encode_wav(samples, rate: int) -> bytes:
    """Build a 16-bit mono PCM WAV from an int16 array — the
    synthesis/test harness counterpart of decode_wav."""
    import numpy as np

    pcm = np.asarray(samples, dtype="<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
    chunks = (b"fmt " + struct.pack("<I", len(fmt)) + fmt
              + b"data" + struct.pack("<I", len(pcm)) + pcm
              + (b"\0" if len(pcm) & 1 else b""))
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


# --------------------------------------------------------------------
# JPEG: baseline sequential DCT (ITU-T T.81, public spec), implemented
# with numpy + struct only — the LOSSY compressed-codec path made real.
# Scope: baseline (SOF0), 8-bit, grayscale or YCbCr at 4:4:4 / 4:2:2 /
# 4:2:0 (any integer-ratio sampling factors — the subsampling cameras
# and the web actually emit), restart
# markers honored; progressive (SOF2) decoded via Annex-G scan
# accumulation; arithmetic/12-bit files raise
# ValueError and take the honest stub path.
#
# Huffman tables are CARRIED IN DHT as the spec requires; we emit
# simple canonical tables (12 DC categories at 4 bits; 256 AC symbols
# at 9/10 bits) rather than the Annex K defaults — any T.81 decoder
# reads them from the stream. Quantization tables are the Annex K
# defaults with IJG quality scaling.
#
# Exactness contract used by the oracle gate (q137): for images whose
# 8x8 blocks are CONSTANT with (v-128) divisible by 2^k such that the
# DC quant step divides 8*(v-128), the DCT concentrates everything in
# an exactly-representable DC term, quantization is exact, and
# decode(encode(img)) == img pixel-for-pixel — so a DuckDB oracle can
# predict the decoded stats from the synthesis formula. The AC /
# run-length / ZRL paths are certified by the entropy-layer exact
# roundtrip property test (random coefficient blocks through
# encode-scan -> decode-scan).
# --------------------------------------------------------------------

# Annex K.1 / K.2 default quantization tables (natural row-major order)
_JPEG_QT_LUM = [
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99]
_JPEG_QT_CHR = [
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99] + [99] * 32


def _jpeg_zigzag() -> list[int]:
    """Row-major indices in zigzag scan order (derived, not typed)."""
    out = []
    for s in range(15):
        diag = [(i, s - i) for i in range(max(0, s - 7), min(s, 7) + 1)]
        if s % 2 == 0:
            diag.reverse()
        out += [i * 8 + j for i, j in diag]
    return out


_ZIGZAG = _jpeg_zigzag()

# Canonical Huffman tables (bits[i] = #codes of length i+1, then the
# symbol list in code order). DC: categories 0..11 all at 4 bits
# (12 <= 16, all-ones code unused). AC: 255 symbols at 9 bits + 1 at
# 10 (Li is one byte, so 256 can't sit on one length).
_DC_BITS = [0, 0, 0, 12] + [0] * 12
_DC_VALS = list(range(12))
_AC_BITS = [0] * 8 + [255, 1] + [0] * 6
_AC_VALS = list(range(256))


def _huff_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length), canonical JPEG assignment."""
    out, code = {}, 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


def _jpeg_quality_tables(quality: int):
    import numpy as np
    quality = min(100, max(1, int(quality)))
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    def scaled(base):
        t = [(min(255, max(1, (v * scale + 50) // 100))) for v in base]
        return np.array(t, dtype=np.float64).reshape(8, 8)
    return scaled(_JPEG_QT_LUM), scaled(_JPEG_QT_CHR)


def _dct_mat():
    import numpy as np
    x = np.arange(8, dtype=np.float64)
    m = 0.5 * np.cos((2.0 * x[None, :] + 1.0) * x[:, None] * np.pi / 16.0)
    m[0] *= 1.0 / np.sqrt(2.0)
    return m


class _BitWriter:
    """MSB-first bit accumulator with 0xFF -> 0xFF00 byte stuffing."""

    def __init__(self):
        self.buf = bytearray()
        self._acc, self._n = 0, 0

    def put(self, value: int, length: int) -> None:
        self._acc = (self._acc << length) | (value & ((1 << length) - 1))
        self._n += length
        while self._n >= 8:
            self._n -= 8
            b = (self._acc >> self._n) & 0xFF
            self.buf.append(b)
            if b == 0xFF:
                self.buf.append(0x00)
        self._acc &= (1 << self._n) - 1

    def flush(self) -> bytes:
        if self._n:
            self.put((1 << (8 - self._n)) - 1, 8 - self._n)  # pad with 1s
        return bytes(self.buf)


def _magnitude(v: int) -> tuple[int, int]:
    """(category, appended-bits) per T.81 F.1.2.1 — negative values
    use the one's-complement low bits."""
    if v == 0:
        return 0, 0
    s, a = 0, abs(v)
    while a:
        a >>= 1
        s += 1
    return s, (v if v >= 0 else v + (1 << s) - 1)


def _encode_scan(mcu_blocks, dc_code, ac_code) -> bytes:
    """Entropy-code an iterable of (component_index, zigzag int block)
    in scan order; DC predictors per component. Exposed for the
    entropy-layer exact-roundtrip test."""
    w = _BitWriter()
    pred = {}
    for comp, zz in mcu_blocks:
        diff = int(zz[0]) - pred.get(comp, 0)
        pred[comp] = int(zz[0])
        s, extra = _magnitude(diff)
        code, ln = dc_code[s]
        w.put(code, ln)
        if s:
            w.put(extra, s)
        run = 0
        for k in range(1, 64):
            v = int(zz[k])
            if v == 0:
                run += 1
                continue
            while run > 15:
                code, ln = ac_code[0xF0]          # ZRL
                w.put(code, ln)
                run -= 16
            s, extra = _magnitude(v)
            code, ln = ac_code[(run << 4) | s]
            w.put(code, ln)
            w.put(extra, s)
            run = 0
        if run:
            code, ln = ac_code[0x00]              # EOB
            w.put(code, ln)
    return w.flush()


#: component sampling factors (h, v) for the LUMA plane; chroma is
#: always (1, 1). "444" = no subsampling, "422" = half-width chroma,
#: "420" = half-width half-height chroma (what cameras/web emit).
_JPEG_SUBSAMPLING = {"444": (1, 1), "422": (2, 1), "420": (2, 2)}


def _box_downsample(plane, fy: int, fx: int):
    """Average over fy x fx windows (edge-padded to a multiple)."""
    import numpy as np
    if fy == 1 and fx == 1:
        return plane
    h, w = plane.shape
    ph, pw = -(-h // fy) * fy, -(-w // fx) * fx
    p = np.pad(plane, ((0, ph - h), (0, pw - w)), mode="edge")
    return p.reshape(ph // fy, fy, pw // fx, fx).mean(axis=(1, 3))


def _jpeg_front_end(arr, quality: int, subsampling: str):
    """Shared lossy front half of both JPEG encoders: BT.601 color
    convert, chroma box-downsample, 8x8 DCT, Annex-K quantization.
    Returns (h, w, gray, factors, qts, quantized, mcux, mcuy) where
    ``quantized[ci]`` is a (blocks_h, blocks_w, 64) int array of
    ZIGZAG-ordered coefficients padded to the MCU grid. Baseline and
    progressive encodings of one image share these coefficients
    exactly, which is what makes progressive-vs-baseline decode
    pixel-identical (the roundtrip test's contract)."""
    import numpy as np

    img = np.asarray(arr, dtype=np.float64)
    gray = img.ndim == 2
    h, w = img.shape[:2]
    if h == 0 or w == 0:
        raise ValueError("degenerate image")
    try:
        hy, vy = _JPEG_SUBSAMPLING[subsampling]
    except KeyError:
        raise ValueError(f"unknown subsampling {subsampling!r}; "
                         f"pick one of {sorted(_JPEG_SUBSAMPLING)}") from None
    if gray:
        comps = [img]
        factors = [(1, 1)]
    else:
        r, g, b = img[:, :, 0], img[:, :, 1], img[:, :, 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
        cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b
        comps = [np.clip(np.rint(y), 0, 255),
                 np.clip(np.rint(_box_downsample(cb, vy, hy)), 0, 255),
                 np.clip(np.rint(_box_downsample(cr, vy, hy)), 0, 255)]
        factors = [(hy, vy), (1, 1), (1, 1)]
    qlum, qchr = _jpeg_quality_tables(quality)
    qts = [qlum] if gray else [qlum, qchr]
    m = _dct_mat()
    hmax = max(f[0] for f in factors)
    vmax = max(f[1] for f in factors)
    mcux, mcuy = -(-w // (8 * hmax)), -(-h // (8 * vmax))
    quantized = []   # per component: (bh_i, bw_i, 64) int zigzag blocks
    for ci, comp in enumerate(comps):
        hi, vi = factors[ci]
        bh_i, bw_i = mcuy * vi, mcux * hi
        ph, pw = comp.shape
        pad = np.pad(comp, ((0, bh_i * 8 - ph), (0, bw_i * 8 - pw)),
                     mode="edge")
        q = qts[min(ci, len(qts) - 1)]
        blocks = np.empty((bh_i, bw_i, 64), dtype=np.int64)
        for by in range(bh_i):
            for bx in range(bw_i):
                f = pad[by * 8:by * 8 + 8, bx * 8:bx * 8 + 8] - 128.0
                d = m @ f @ m.T
                blocks[by, bx] = np.rint(d / q).astype(np.int64).ravel()[_ZIGZAG]
        quantized.append(blocks)
    return h, w, gray, factors, qts, quantized, mcux, mcuy


def encode_jpeg(arr, *, quality: int = 90, restart_interval: int = 0,
                subsampling: str = "444") -> bytes:
    """Build a baseline JFIF JPEG from a uint8 H×W (grayscale) or
    H×W×3 (RGB) array: BT.601 full-range YCbCr, 4:4:4 / 4:2:2 / 4:2:0
    chroma (box-average downsample), Annex-K quant tables at IJG
    quality scaling, canonical Huffman tables carried in DHT, optional
    DRI/RSTn segmentation (restart_interval counts MCUs). The
    synthesis/test-harness counterpart of decode_jpeg."""
    import numpy as np

    h, w, gray, factors, qts, quantized, mcux, mcuy = \
        _jpeg_front_end(arr, quality, subsampling)

    dc_code = _huff_codes(_DC_BITS, _DC_VALS)
    ac_code = _huff_codes(_AC_BITS, _AC_VALS)

    # interleaved MCU order: per MCU, component ci contributes its
    # vi x hi data units in raster order (T.81 A.2.3)
    mcu_list = [[(ci, quantized[ci][my * factors[ci][1] + vy,
                                    mx * factors[ci][0] + vx])
                 for ci in range(len(quantized))
                 for vy in range(factors[ci][1])
                 for vx in range(factors[ci][0])]
                for my in range(mcuy) for mx in range(mcux)]
    if restart_interval:
        # each restart segment re-encodes with fresh DC predictors, as
        # the spec requires; RSTn markers cycle D0..D7 between them
        parts = []
        for gi in range(0, len(mcu_list), restart_interval):
            group = [blk for mcu in mcu_list[gi:gi + restart_interval]
                     for blk in mcu]
            parts.append(_encode_scan(group, dc_code, ac_code))
        scan = bytearray()
        for i, part in enumerate(parts):
            if i:
                scan += bytes([0xFF, 0xD0 + ((i - 1) % 8)])
            scan += part
        scan = bytes(scan)
    else:
        scan = _encode_scan((blk for mcu in mcu_list for blk in mcu),
                            dc_code, ac_code)

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">HH", marker, len(body) + 2) + body

    out = bytearray(b"\xFF\xD8")                         # SOI
    out += seg(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    for tq, q in enumerate(qts):
        zz = np.rint(q).astype(np.int64).ravel()[_ZIGZAG]
        out += seg(0xFFDB, bytes([tq]) + bytes(int(v) for v in zz))
    ncomp = 1 if gray else 3
    sof = struct.pack(">BHHB", 8, h, w, ncomp)
    for ci in range(ncomp):
        hv = (factors[ci][0] << 4) | factors[ci][1]
        sof += bytes([ci + 1, hv, min(ci, len(qts) - 1)])
    out += seg(0xFFC0, sof)                              # SOF0 baseline
    out += seg(0xFFC4, bytes([0x00]) + bytes(_DC_BITS) + bytes(_DC_VALS))
    out += seg(0xFFC4, bytes([0x10]) + bytes(_AC_BITS) + bytes(_AC_VALS))
    if restart_interval:
        out += seg(0xFFDD, struct.pack(">H", restart_interval))
    sos = bytes([ncomp])
    for ci in range(ncomp):
        sos += bytes([ci + 1, 0x00])                     # DC 0 / AC 0
    sos += b"\x00\x3F\x00"                               # Ss/Se/Ah+Al
    out += seg(0xFFDA, sos)
    out += scan
    out += b"\xFF\xD9"                                   # EOI
    return bytes(out)


def _comp_block_grid(w: int, h: int, hi: int, vi: int,
                     hmax: int, vmax: int) -> tuple[int, int]:
    """(blocks_wide, blocks_high) of ONE component's own ceil grid —
    what a non-interleaved progressive scan covers (T.81 A.2.2), as
    opposed to the MCU-padded grid interleaved scans use."""
    def ceil_div(a: int, b: int) -> int:
        return -(-a // b)
    comp_w = ceil_div(w * hi, hmax)
    comp_h = ceil_div(h * vi, vmax)
    return ceil_div(comp_w, 8), ceil_div(comp_h, 8)


# libjpeg's default progressive scan script (jcparam.c shape): a
# coarse DC pass with one bit of successive approximation, spectral-
# selection AC passes (low band first, luma before chroma), then the
# refinement passes that restore the dropped bits. Tuples are
# (component indices, Ss, Se, Ah, Al).
_PROGRESSIVE_SCRIPT_COLOR = (
    ((0, 1, 2), 0, 0, 0, 1),
    ((0,), 1, 5, 0, 2),
    ((2,), 1, 63, 0, 1),
    ((1,), 1, 63, 0, 1),
    ((0,), 6, 63, 0, 2),
    ((0,), 1, 63, 2, 1),
    ((0, 1, 2), 0, 0, 1, 0),
    ((2,), 1, 63, 1, 0),
    ((1,), 1, 63, 1, 0),
    ((0,), 1, 63, 1, 0),
)
_PROGRESSIVE_SCRIPT_GRAY = (
    ((0,), 0, 0, 0, 1),
    ((0,), 1, 5, 0, 2),
    ((0,), 6, 63, 0, 2),
    ((0,), 1, 63, 2, 1),
    ((0,), 0, 0, 1, 0),
    ((0,), 1, 63, 1, 0),
)


def _pt(v: int, al: int) -> int:
    """AC point transform (T.81 G.1.2.2): divide by 2^Al toward zero —
    NOT an arithmetic shift, which floors negatives."""
    return -((-v) >> al) if v < 0 else v >> al


def _encode_dc_scan(blocks_iter, dc_code, ah: int, al: int) -> bytes:
    """DC scan body. First pass (Ah=0): baseline DC diff coding in the
    point-transformed domain (arithmetic shift per G.1.2.1). Refinement
    (Ah>0): one raw bit per block, no Huffman."""
    w = _BitWriter()
    if ah == 0:
        pred: dict[int, int] = {}
        for ci, zz in blocks_iter:
            v = int(zz[0]) >> al
            diff = v - pred.get(ci, 0)
            pred[ci] = v
            s, extra = _magnitude(diff)
            code, ln = dc_code[s]
            w.put(code, ln)
            if s:
                w.put(extra, s)
    else:
        for _ci, zz in blocks_iter:
            w.put((int(zz[0]) >> al) & 1, 1)
    return w.flush()


def _encode_ac_first_scan(blocks, ss: int, se: int, al: int,
                          ac_code) -> bytes:
    """AC spectral-selection first pass (Ah=0). Standard Annex-K
    tables carry no EOBn (n>0) symbols, so end-of-band is always the
    plain EOB0 — spec-valid, slightly less compact than run-length
    EOB accumulation."""
    w = _BitWriter()
    for zz in blocks:
        run = 0
        for k in range(ss, se + 1):
            v = _pt(int(zz[k]), al)
            if v == 0:
                run += 1
                continue
            while run > 15:
                code, ln = ac_code[0xF0]
                w.put(code, ln)
                run -= 16
            s, extra = _magnitude(v)
            code, ln = ac_code[(run << 4) | s]
            w.put(code, ln)
            w.put(extra, s)
            run = 0
        if run:
            code, ln = ac_code[0x00]
            w.put(code, ln)
    return w.flush()


def _encode_ac_refine_scan(blocks, ss: int, se: int, al: int,
                           ac_code) -> bytes:
    """AC successive-approximation refinement (Ah=Al+1): newly
    significant coefficients are coded as run/1 + sign, coefficients
    already significant contribute buffered correction bits flushed
    after the next coded symbol (T.81 G.1.2.3)."""
    w = _BitWriter()
    for zz in blocks:
        run = 0
        br: list[int] = []
        # last newly-significant index: past it, the block holds only
        # history coefficients, so pending >15-zero runs fold into the
        # final EOB instead of spending ZRL symbols (the decoder reads
        # the remaining correction bits during its EOB processing) —
        # jcphuff's `k <= EOB` gate on the ZRL loop
        eob_k = ss - 1
        for k in range(ss, se + 1):
            if abs(_pt(int(zz[k]), al)) == 1:
                eob_k = k
        for k in range(ss, se + 1):
            v = int(zz[k])
            t = _pt(v, al)
            if t == 0:
                run += 1
                continue
            # pending ZRLs must be emitted at the FIRST nonzero
            # coefficient after the run completes (history or new) so
            # the buffered correction bits stay position-interleaved
            # with the decoder's advance (jcphuff structure)
            while run > 15 and k <= eob_k:
                code, ln = ac_code[0xF0]
                w.put(code, ln)
                for b in br:
                    w.put(b, 1)
                br = []
                run -= 16
            if abs(t) > 1:              # already significant earlier
                br.append((abs(v) >> al) & 1)
                continue
            code, ln = ac_code[(run << 4) | 1]
            w.put(code, ln)
            w.put(1 if t > 0 else 0, 1)
            for b in br:
                w.put(b, 1)
            br = []
            run = 0
        if run or br:
            code, ln = ac_code[0x00]    # EOB0 covers the tail
            w.put(code, ln)
            for b in br:
                w.put(b, 1)
    return w.flush()


def encode_jpeg_progressive(arr, *, quality: int = 90,
                            subsampling: str = "444") -> bytes:
    """Build a PROGRESSIVE (SOF2) JFIF JPEG: the same lossy front end
    as encode_jpeg — identical quantized coefficients — re-ordered
    into spectral-selection + successive-approximation scans
    (libjpeg's default script). Progressive decode of this stream is
    therefore pixel-identical to baseline decode of
    ``encode_jpeg(arr, quality, subsampling)``, which is the roundtrip
    test's exactness contract. Standard Annex-K Huffman tables are
    reused for every scan (DC refinement is raw bits; AC scans emit
    EOB0 per block so no EOBn symbols are needed)."""
    import numpy as np

    h, w, gray, factors, qts, quantized, mcux, mcuy = \
        _jpeg_front_end(arr, quality, subsampling)
    nc = len(quantized)
    dc_code = _huff_codes(_DC_BITS, _DC_VALS)
    ac_code = _huff_codes(_AC_BITS, _AC_VALS)
    hmax = max(f[0] for f in factors)
    vmax = max(f[1] for f in factors)
    script = _PROGRESSIVE_SCRIPT_GRAY if gray else _PROGRESSIVE_SCRIPT_COLOR

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">HH", marker, len(body) + 2) + body

    out = bytearray(b"\xFF\xD8")
    out += seg(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    for tq, q in enumerate(qts):
        zzq = np.rint(q).astype(np.int64).ravel()[_ZIGZAG]
        out += seg(0xFFDB, bytes([tq]) + bytes(int(v) for v in zzq))
    sof = struct.pack(">BHHB", 8, h, w, nc)
    for ci in range(nc):
        hv = (factors[ci][0] << 4) | factors[ci][1]
        sof += bytes([ci + 1, hv, min(ci, len(qts) - 1)])
    out += seg(0xFFC2, sof)                              # SOF2 progressive
    out += seg(0xFFC4, bytes([0x00]) + bytes(_DC_BITS) + bytes(_DC_VALS))
    out += seg(0xFFC4, bytes([0x10]) + bytes(_AC_BITS) + bytes(_AC_VALS))

    for comps_in_scan, ss, se, ah, al in script:
        if ss == 0:                                      # DC scan
            # interleaved MCU order over every frame component
            blocks = [(ci, quantized[ci][my * factors[ci][1] + vy,
                                         mx * factors[ci][0] + vx])
                      for my in range(mcuy) for mx in range(mcux)
                      for ci in comps_in_scan
                      for vy in range(factors[ci][1])
                      for vx in range(factors[ci][0])]
            body = _encode_dc_scan(blocks, dc_code, ah, al)
        else:                                            # AC: one comp
            ci = comps_in_scan[0]
            hi, vi = factors[ci]
            # non-interleaved scans cover the component's own ceil
            # grid, not the MCU-padded grid (T.81 A.2.2)
            bw_s, bh_s = _comp_block_grid(w, h, hi, vi, hmax, vmax)
            blks = (quantized[ci][by, bx]
                    for by in range(bh_s) for bx in range(bw_s))
            if ah == 0:
                body = _encode_ac_first_scan(blks, ss, se, al, ac_code)
            else:
                body = _encode_ac_refine_scan(blks, ss, se, al, ac_code)
        sos = bytes([len(comps_in_scan)])
        for ci in comps_in_scan:
            sos += bytes([ci + 1, 0x00])   # DC table 0 / AC table 0
        sos += bytes([ss, se, (ah << 4) | al])
        out += seg(0xFFDA, sos)
        out += body
    out += b"\xFF\xD9"
    return bytes(out)


class _BitReader:
    """MSB-first reader over entropy-coded data with 0xFF00 unstuffing;
    surfaces RSTn markers to the caller."""

    def __init__(self, data: bytes, pos: int):
        self.data, self.pos = data, pos
        self._acc, self._n = 0, 0

    def _next_byte(self) -> int:
        d = self.data
        if self.pos >= len(d):
            raise ValueError("truncated JPEG scan")
        b = d[self.pos]
        self.pos += 1
        if b == 0xFF:
            if self.pos >= len(d):
                raise ValueError("truncated JPEG scan")
            m = d[self.pos]
            if m == 0x00:
                self.pos += 1
            elif 0xD0 <= m <= 0xD7:
                raise _RestartMarker(m)
            else:
                raise ValueError(f"unexpected marker 0xFF{m:02X} in scan")
        return b

    def bit(self) -> int:
        if self._n == 0:
            self._acc, self._n = self._next_byte(), 8
        self._n -= 1
        return (self._acc >> self._n) & 1

    def bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.bit()
        return v

    def sync_restart(self) -> None:
        """Consume an expected RSTn at a restart boundary."""
        self._acc, self._n = 0, 0
        d = self.data
        while self.pos + 1 < len(d) and d[self.pos] == 0xFF \
                and 0xD0 <= d[self.pos + 1] <= 0xD7:
            self.pos += 2
            return
        raise ValueError("missing restart marker")


class _RestartMarker(Exception):
    def __init__(self, marker: int):
        self.marker = marker


def _huff_decoder(bits: list[int], vals: list[int]) -> dict[tuple[int, int], int]:
    """(length, code) -> symbol for the canonical table."""
    out, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[(length, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return out


def _read_symbol(r: _BitReader, table: dict[tuple[int, int], int]) -> int:
    code, length = 0, 0
    while length < 16:
        code = (code << 1) | r.bit()
        length += 1
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("invalid Huffman code in scan")


def _extend(v: int, s: int) -> int:
    return v if v >= (1 << (s - 1)) else v - (1 << s) + 1


def _decode_block(r: _BitReader, dc_tab, ac_tab, pred: int):
    """One 8x8 block -> (zigzag int list, new DC predictor)."""
    zz = [0] * 64
    s = _read_symbol(r, dc_tab)
    diff = _extend(r.bits(s), s) if s else 0
    pred += diff
    zz[0] = pred
    k = 1
    while k < 64:
        sym = _read_symbol(r, ac_tab)
        if sym == 0x00:                # EOB
            break
        if sym == 0xF0:                # ZRL
            k += 16
            continue
        run, s = sym >> 4, sym & 0x0F
        k += run
        if k > 63 or s == 0:
            raise ValueError("corrupt AC run in scan")
        zz[k] = _extend(r.bits(s), s)
        k += 1
    return zz, pred


def decode_jpeg(data: bytes):
    """Parse a baseline sequential JPEG (SOF0, 8-bit, grayscale or
    color at 4:4:4 / 4:2:2 / 4:2:0 — any integer-ratio sampling
    factors 1..4 — optional restart markers) with numpy + struct only.
    Subsampled chroma planes are upsampled by pixel replication
    (nearest neighbor), the contract the synthesis oracle replays.

    Progressive (SOF2) streams are decoded too: every scan's
    spectral-selection band and successive-approximation bits are
    accumulated into per-component coefficient arrays (first/refine
    logic per T.81 G.2, EOB runs included), then dequantized and
    IDCT'd once at EOI — so a progressive and a baseline encoding of
    the same quantized coefficients decode pixel-identically.

    Returns ``(width, height, channels, arr)`` with ``arr`` a float64
    height×width×channels array (RGB for color). Raises ValueError
    for arithmetic coding, hierarchical, 12-bit, or malformed
    streams — callers route those to the stub path."""
    import numpy as np

    if len(data) < 4 or data[:2] != b"\xFF\xD8":
        raise ValueError("not a JPEG payload")
    pos = 2
    qts: dict[int, list[int]] = {}
    huff: dict[tuple[int, int], dict] = {}
    sof = None
    restart_interval = 0
    progressive = False
    coefs = None   # progressive: per-component (bh, bw, 64) zigzag ints
    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            raise ValueError("bad JPEG marker alignment")
        marker = data[pos + 1]
        if marker == 0xD9:             # EOI before SOS
            break
        size = struct.unpack_from(">H", data, pos + 2)[0]
        if pos + 2 + size > len(data) or size < 2:
            raise ValueError("truncated JPEG segment")
        body = data[pos + 4: pos + 2 + size]
        if marker == 0xDB:             # DQT (possibly several tables)
            b = 0
            while b < len(body):
                pq, tq = body[b] >> 4, body[b] & 0x0F
                if pq != 0:
                    raise ValueError("16-bit quant tables unsupported")
                if b + 65 > len(body):
                    raise ValueError("truncated quant table")
                zz = list(body[b + 1: b + 65])
                nat = [0] * 64
                for i, idx in enumerate(_ZIGZAG):
                    nat[idx] = zz[i]
                qts[tq] = nat
                b += 65
        elif marker == 0xC4:           # DHT (possibly several tables)
            b = 0
            while b < len(body):
                tc, th = body[b] >> 4, body[b] & 0x0F
                bits = list(body[b + 1: b + 17])
                n = sum(bits)
                if len(bits) < 16 or b + 17 + n > len(body):
                    raise ValueError("truncated Huffman table")
                vals = list(body[b + 17: b + 17 + n])
                huff[(tc, th)] = _huff_decoder(bits, vals)
                b += 17 + n
        elif marker in (0xC0, 0xC1, 0xC2):  # baseline / ext.seq / prog
            progressive = marker == 0xC2
            prec, h, w, nc = struct.unpack_from(">BHHB", body, 0)
            if prec != 8:
                raise ValueError(f"{prec}-bit JPEG unsupported")
            comps = []
            for ci in range(nc):
                cid, hv, tq = body[6 + ci * 3: 9 + ci * 3]
                hi, vi = hv >> 4, hv & 0x0F
                if not (1 <= hi <= 4 and 1 <= vi <= 4):
                    raise ValueError(f"bad sampling factors {hi}x{vi}")
                comps.append((cid, hi, vi, tq))
            if nc == 1:
                # single-component frame: the scan is non-interleaved
                # and the component spans the full image regardless of
                # its declared factors (T.81 A.2.2)
                cid, _hi, _vi, tq = comps[0]
                comps = [(cid, 1, 1, tq)]
            hmax = max(c[1] for c in comps)
            vmax = max(c[2] for c in comps)
            for cid, hi, vi, _tq in comps:
                if hmax % hi or vmax % vi:
                    raise ValueError(
                        f"non-integer sampling ratio {hi}x{vi} vs "
                        f"{hmax}x{vmax}")
            sof = (h, w, comps)
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7,
                        0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError(
                "unsupported JPEG coding (lossless/arith/hierarchical)")
        elif marker == 0xDD:           # DRI
            restart_interval = struct.unpack_from(">H", body, 0)[0]
        elif marker == 0xDA:           # SOS — entropy data follows
            if sof is None:
                raise ValueError("SOS before SOF")
            ns = body[0]
            scomp = []
            for ci in range(ns):
                cid, tdta = body[1 + ci * 2: 3 + ci * 2]
                scomp.append((cid, tdta >> 4, tdta & 0x0F))
            if not progressive:
                return _decode_scan(data, pos + 2 + size, sof, scomp,
                                    qts, huff, restart_interval)
            if len(body) < 1 + ns * 2 + 3:
                raise ValueError("truncated progressive SOS header")
            ss, se = body[1 + ns * 2], body[2 + ns * 2]
            ahal = body[3 + ns * 2]
            if coefs is None:
                _h, _w, comps = sof
                hmax = max(c[1] for c in comps)
                vmax = max(c[2] for c in comps)
                mcux = -(-_w // (8 * hmax))
                mcuy = -(-_h // (8 * vmax))
                coefs = [np.zeros((mcuy * vi, mcux * hi, 64),
                                  dtype=np.int32)
                         for _cid, hi, vi, _tq in comps]
            pos = _progressive_scan(data, pos + 2 + size, sof, scomp,
                                    ss, se, ahal >> 4, ahal & 0x0F,
                                    huff, restart_interval, coefs)
            continue
        pos += 2 + size
    if progressive and coefs is not None:
        return _progressive_finish(sof, qts, coefs)
    raise ValueError("no SOS marker found")


def _decode_scan(data, pos, sof, scomp, qts, huff, restart_interval):
    import numpy as np

    h, w, comps = sof
    if h <= 0 or w <= 0:
        raise ValueError("degenerate JPEG dimensions")
    order = {cid: i for i, (cid, _hi, _vi, _tq) in enumerate(comps)}
    nc = len(comps)
    if {cid for cid, _, _ in scomp} != set(order):
        raise ValueError("scan/frame component mismatch")
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcux, mcuy = -(-w // (8 * hmax)), -(-h // (8 * vmax))
    m = _dct_mat()
    q_nat = []
    for cid, _hi, _vi, tq in comps:
        if tq not in qts:
            raise ValueError(f"missing quant table {tq}")
        q_nat.append(np.array(qts[tq], dtype=np.float64).reshape(8, 8))
    factors = [(hi, vi) for _cid, hi, vi, _tq in comps]
    planes = [np.empty((mcuy * vi * 8, mcux * hi * 8), dtype=np.float64)
              for hi, vi in factors]
    r = _BitReader(data, pos)
    pred = [0] * nc
    mcu = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu and mcu % restart_interval == 0:
                r.sync_restart()
                pred = [0] * nc
            for cid, td, ta in scomp:
                ci = order[cid]
                hi, vi = factors[ci]
                dc_tab = huff.get((0, td))
                ac_tab = huff.get((1, ta))
                if dc_tab is None or ac_tab is None:
                    raise ValueError("missing Huffman table")
                for vy in range(vi):
                    for vx in range(hi):
                        try:
                            zz, pred[ci] = _decode_block(r, dc_tab, ac_tab,
                                                         pred[ci])
                        except _RestartMarker as exc:
                            raise ValueError(
                                "unexpected restart marker") from exc
                        coef = np.zeros(64, dtype=np.float64)
                        for i, idx in enumerate(_ZIGZAG):
                            coef[idx] = zz[i]
                        blk = m.T @ (coef.reshape(8, 8) * q_nat[ci]) @ m
                        by, bx = my * vi + vy, mx * hi + vx
                        planes[ci][by * 8:by * 8 + 8,
                                   bx * 8:bx * 8 + 8] = blk + 128.0
            mcu += 1
    return _assemble_planes(planes, factors, h, w, hmax, vmax)


def _assemble_planes(planes, factors, h, w, hmax, vmax):
    """Crop each padded component plane to its true resolution,
    replicate-upsample subsampled chroma, and color-convert — shared
    by the baseline and progressive decode paths."""
    import numpy as np

    nc = len(planes)
    up = []
    for ci, (hi, vi) in enumerate(factors):
        ch, cw = -(-h * vi // vmax), -(-w * hi // hmax)
        p = planes[ci][:ch, :cw]
        if hi != hmax or vi != vmax:
            p = np.repeat(np.repeat(p, vmax // vi, axis=0),
                          hmax // hi, axis=1)
        up.append(p[:h, :w])
    planes = up
    if nc == 1:
        out = np.clip(np.rint(planes[0]), 0, 255)[:, :, None]
        return w, h, 1, out
    if nc != 3:
        raise ValueError(f"unsupported component count {nc}")
    y, cb, cr = planes
    red = y + 1.402 * (cr - 128.0)
    green = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    blue = y + 1.772 * (cb - 128.0)
    rgb = np.stack([red, green, blue], axis=2)
    return w, h, 3, np.clip(np.rint(rgb), 0, 255)


def _next_marker_pos(data: bytes, p: int) -> int:
    """Position of the next real marker after a scan's entropy data
    (skips stuffed 0x00, stray RSTn, and 0xFF fill bytes)."""
    while p + 1 < len(data):
        if data[p] == 0xFF:
            nxt = data[p + 1]
            if nxt == 0x00:
                p += 2
                continue
            if 0xD0 <= nxt <= 0xD7:
                p += 2
                continue
            if nxt == 0xFF:          # fill byte
                p += 1
                continue
            return p
        p += 1
    raise ValueError("truncated progressive JPEG (no trailing marker)")


def _progressive_scan(data, pos, sof, scomp, ss, se, ah, al, huff,
                      dri, coefs) -> int:
    """Apply ONE progressive scan (T.81 G.2) to the accumulated
    coefficient arrays; returns the stream position of the next
    marker. DC scans may interleave all components; AC scans are
    single-component over that component's own block grid. First
    passes (Ah=0) install values << Al; refinement passes (Ah=Al+1)
    OR in the next magnitude bit, with EOB-run bookkeeping."""
    h, w, comps = sof
    order = {cid: i for i, (cid, _hi, _vi, _tq) in enumerate(comps)}
    for cid, _td, _ta in scomp:
        if cid not in order:
            raise ValueError("scan component not in frame")
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcux, mcuy = -(-w // (8 * hmax)), -(-h // (8 * vmax))
    r = _BitReader(data, pos)
    eobrun = 0
    p1 = 1 << al

    def _refine_nonzero(coef, k):
        # one correction bit for an already-significant coefficient
        if r.bit() and not (int(coef[k]) & p1):
            coef[k] += p1 if coef[k] > 0 else -p1

    def _ac_first(coef):
        nonlocal eobrun
        if eobrun > 0:
            eobrun -= 1
            return
        k = ss
        while k <= se:
            rs = _read_symbol(r, ac_tab)
            rr, s = rs >> 4, rs & 0x0F
            if s == 0:
                if rr == 15:
                    k += 16          # ZRL
                    continue
                eobrun = (1 << rr) - 1
                if rr:
                    eobrun += r.bits(rr)
                return
            k += rr
            if k > se:
                raise ValueError("AC run past band end")
            coef[k] = _extend(r.bits(s), s) << al
            k += 1

    def _ac_refine(coef):
        nonlocal eobrun
        k = ss
        if eobrun == 0:
            while k <= se:
                rs = _read_symbol(r, ac_tab)
                rr, s = rs >> 4, rs & 0x0F
                val = 0
                if s == 0:
                    if rr < 15:
                        eobrun = 1 << rr
                        if rr:
                            eobrun += r.bits(rr)
                        break        # EOB run starts with this block
                    # rr == 15: ZRL — skip 16 zero-history positions
                else:
                    if s != 1:
                        raise ValueError("bad refinement magnitude")
                    val = p1 if r.bit() else -p1
                while k <= se:
                    if coef[k] != 0:
                        _refine_nonzero(coef, k)
                    else:
                        if rr == 0:
                            break
                        rr -= 1
                    k += 1
                if val and k <= se:
                    coef[k] = val
                k += 1
        if eobrun > 0:
            while k <= se:
                if coef[k] != 0:
                    _refine_nonzero(coef, k)
                k += 1
            eobrun -= 1

    if ss == 0:                      # ---- DC scan ----
        if se != 0:
            raise ValueError("progressive DC scan with Se != 0")
        pred = {order[cid]: 0 for cid, _td, _ta in scomp}
        single = len(scomp) == 1
        if single:
            cid, td, _ta = scomp[0]
            ci = order[cid]
            _cid, hi, vi, _tq = comps[ci]
            bw_s, bh_s = _comp_block_grid(w, h, hi, vi, hmax, vmax)
            units = [(ci, td, by, bx)
                     for by in range(bh_s) for bx in range(bw_s)]
            groups = [units[i:i + 1] for i in range(len(units))]
        else:
            groups = []
            for my in range(mcuy):
                for mx in range(mcux):
                    g = []
                    for cid, td, _ta in scomp:
                        ci = order[cid]
                        _cid, hi, vi, _tq = comps[ci]
                        for vy in range(vi):
                            for vx in range(hi):
                                g.append((ci, td, my * vi + vy,
                                          mx * hi + vx))
                    groups.append(g)
        for gi, g in enumerate(groups):
            if dri and gi and gi % dri == 0:
                r.sync_restart()
                pred = {k: 0 for k in pred}
            for ci, td, by, bx in g:
                coef = coefs[ci][by, bx]
                if ah == 0:
                    dc_tab = huff.get((0, td))
                    if dc_tab is None:
                        raise ValueError("missing DC Huffman table")
                    s = _read_symbol(r, dc_tab)
                    diff = _extend(r.bits(s), s) if s else 0
                    pred[ci] += diff
                    coef[0] = pred[ci] << al
                elif r.bit():
                    coef[0] |= p1
    else:                            # ---- AC scan ----
        if len(scomp) != 1:
            raise ValueError("interleaved progressive AC scan")
        cid, _td, ta = scomp[0]
        ci = order[cid]
        _cid, hi, vi, _tq = comps[ci]
        ac_tab = huff.get((1, ta))
        if ac_tab is None:
            raise ValueError("missing AC Huffman table")
        bw_s, bh_s = _comp_block_grid(w, h, hi, vi, hmax, vmax)
        blk = 0
        for by in range(bh_s):
            for bx in range(bw_s):
                if dri and blk and blk % dri == 0:
                    r.sync_restart()
                    eobrun = 0
                coef = coefs[ci][by, bx]
                if ah == 0:
                    _ac_first(coef)
                else:
                    _ac_refine(coef)
                blk += 1
    return _next_marker_pos(data, r.pos)


def _progressive_finish(sof, qts, coefs):
    """Dequantize + inverse DCT the accumulated progressive
    coefficients and assemble the image (same tail as baseline)."""
    import numpy as np

    h, w, comps = sof
    if h <= 0 or w <= 0:
        raise ValueError("degenerate JPEG dimensions")
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    m = _dct_mat()
    planes = []
    factors = []
    for ci, (_cid, hi, vi, tq) in enumerate(comps):
        if tq not in qts:
            raise ValueError(f"missing quant table {tq}")
        q_nat = np.array(qts[tq], dtype=np.float64).reshape(8, 8)
        bh, bw = coefs[ci].shape[:2]
        plane = np.empty((bh * 8, bw * 8), dtype=np.float64)
        for by in range(bh):
            for bx in range(bw):
                nat = np.zeros(64, dtype=np.float64)
                zz = coefs[ci][by, bx]
                for i, idx in enumerate(_ZIGZAG):
                    nat[idx] = zz[i]
                blk = m.T @ (nat.reshape(8, 8) * q_nat) @ m
                plane[by * 8:by * 8 + 8, bx * 8:bx * 8 + 8] = blk + 128.0
        planes.append(plane)
        factors.append((hi, vi))
    return _assemble_planes(planes, factors, h, w, hmax, vmax)


# --------------------------------------------------------------------
# Per-row compressed text columns. 100 TB corpora routinely store the
# document body as a compressed BLOB per row (parquet's page codec
# doesn't help once you project a single huge text column; per-row
# compression lets the scan skip decompression for filtered-out
# rows). These are Arrow-batched pandas UDFs over stdlib codecs —
# zlib / gzip / bz2 / lzma — map-only, no shuffle, bounded per-row
# work. decompress returns NULL (not an error) for undecodable
# payloads so a corrupt row can't kill a 1000-executor scan; count
# the NULLs downstream.
# --------------------------------------------------------------------

_TEXT_CODECS = ("zlib", "gzip", "bz2", "lzma")


def _codec_mod(codec: str):
    import bz2
    import gzip
    import lzma
    import zlib
    try:
        return {"zlib": (zlib.compress, zlib.decompress),
                "gzip": (gzip.compress, gzip.decompress),
                "bz2": (bz2.compress, bz2.decompress),
                "lzma": (lzma.compress, lzma.decompress)}[codec]
    except KeyError:
        raise ValueError(f"unknown codec {codec!r}; "
                         f"pick one of {_TEXT_CODECS}") from None


def compress_text(text_col, codec: str = "zlib"):
    """Column expression: UTF-8 text → compressed binary (pandas UDF).
    Deterministic for a fixed codec/level, so decompress∘compress is
    exactly the identity the q143 oracle leans on."""
    from pyspark.sql.functions import pandas_udf

    comp, _ = _codec_mod(codec)

    @pandas_udf("binary")
    def _comp(s: pd.Series) -> pd.Series:
        return s.map(lambda t: None if t is None
                     else comp(t.encode("utf-8")))

    return _comp(text_col)


def decompress_text(payload_col, codec: str = "zlib"):
    """Column expression: compressed binary → UTF-8 text (pandas UDF).
    NULL in, NULL out; undecodable bytes → NULL (never an executor
    error — corrupt rows surface as a countable column, not a dead
    stage)."""
    from pyspark.sql.functions import pandas_udf

    _, decomp = _codec_mod(codec)

    def _one(p):
        if p is None:
            return None
        try:
            return decomp(bytes(p)).decode("utf-8")
        except Exception:
            return None

    @pandas_udf("string")
    def _decomp(s: pd.Series) -> pd.Series:
        return s.map(_one)

    return _decomp(payload_col)


# --------------------------------------------------------------------
# GIF (87a/89a, public spec): the LZW-compressed palette format — the
# third real compressed decode path (zlib-PNG, DCT-JPEG, now
# dictionary-coded GIF), stdlib-only. Scope: single-image GIFs,
# global or local color table, interlaced or sequential row order,
# extension blocks skipped; animated multi-image files return the
# FIRST frame. The LZW codec is the real variable-width dictionary
# coder (code growth to 12 bits, CLEAR resets, deferred EOI), not the
# fixed-width "uncompressed GIF" shortcut — roundtrip pinned against
# random low-palette streams that force dictionary growth.
# --------------------------------------------------------------------

_GIF_INTERLACE = ((0, 8), (4, 8), (2, 4), (1, 2))


def _lzw_decode(data: bytes, min_size: int) -> list[int]:
    """GIF-variant LZW: LSB-first variable-width codes, dictionary
    reset on CLEAR, width grows when the next free code would not
    fit (max 12 bits)."""
    clear, eoi = 1 << min_size, (1 << min_size) + 1
    base = eoi + 1
    acc = nbits = pos = 0
    width = min_size + 1
    table: list[list[int]] = [[i] for i in range(clear)] + [[], []]
    prev: list[int] | None = None
    out: list[int] = []
    while True:
        while nbits < width:
            if pos >= len(data):
                return out                 # deferred EOI tolerated
            acc |= data[pos] << nbits
            nbits += 8
            pos += 1
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        if code == clear:
            table = [[i] for i in range(clear)] + [[], []]
            width = min_size + 1
            prev = None
            continue
        if code == eoi:
            return out
        if prev is None:
            if code >= len(table):
                raise ValueError("bad first LZW code")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + [entry[0]])
        elif code == len(table):
            entry = prev + [prev[0]]       # KwKwK case
            table.append(entry)
        else:
            raise ValueError("LZW code out of range")
        out.extend(entry)
        if prev is not None and len(table) == (1 << width) and width < 12:
            width += 1
        prev = entry
    # unreachable


def _lzw_encode(pixels, min_size: int) -> bytes:
    """GIF-variant LZW encoder, the exact dual of ``_lzw_decode``:
    emits CLEAR first, grows width when its next free code passes
    2^width (one ahead of the decoder's table, hence the +1), and
    resets with CLEAR when the 12-bit table fills."""
    clear, eoi = 1 << min_size, (1 << min_size) + 1
    out = bytearray()
    acc = nbits = 0

    def put(code: int, width: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    def fresh():
        return {(i,): i for i in range(clear)}

    width = min_size + 1
    table = fresh()
    next_code = eoi + 1
    put(clear, width)
    seq: tuple = ()
    for p in pixels:
        p = int(p)
        cand = seq + (p,)
        if cand in table:
            seq = cand
            continue
        put(table[seq], width)
        table[cand] = next_code
        next_code += 1
        if next_code == (1 << width) + 1 and width < 12:
            width += 1
        if next_code > 4096:
            put(clear, width)
            table = fresh()
            next_code = eoi + 1
            width = min_size + 1
        seq = (p,)
    if seq:
        put(table[seq], width)
    put(eoi, width)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def decode_gif(data: bytes):
    """Parse a single-image GIF with stdlib only (real LZW decode).

    Returns ``(width, height, rgb)`` — image dims from the image
    descriptor and a float64 height×width×3 palette-mapped RGB array
    (integer-valued floats, so downstream means are exact rationals an
    oracle can reproduce — the PNG contract, not BMP's lossy BT.601
    fold). Interlaced images are de-interlaced. Raises ValueError on
    truncated/malformed files — callers route those to the stub path.
    """
    import numpy as np

    if len(data) < 13 or data[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF payload")
    packed = data[10]
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        if pos + 3 * n > len(data):
            raise ValueError("truncated global color table")
        gct = data[pos: pos + 3 * n]
        pos += 3 * n

    def skip_subblocks(p: int) -> int:
        while True:
            if p >= len(data):
                raise ValueError("truncated GIF sub-blocks")
            size = data[p]
            p += 1 + size
            if size == 0:
                return p

    while pos < len(data):
        block = data[pos]
        if block == 0x3B:              # trailer before any image
            raise ValueError("GIF contains no image data")
        if block == 0x21:              # extension: label + sub-blocks
            pos = skip_subblocks(pos + 2)
            continue
        if block != 0x2C:
            raise ValueError(f"unexpected GIF block 0x{block:02X}")
        if pos + 10 > len(data):
            raise ValueError("truncated image descriptor")
        _left, _top, w, h = struct.unpack_from("<HHHH", data, pos + 1)
        ipacked = data[pos + 9]
        pos += 10
        ct = gct
        if ipacked & 0x80:             # local color table
            n = 2 << (ipacked & 0x07)
            if pos + 3 * n > len(data):
                raise ValueError("truncated local color table")
            ct = data[pos: pos + 3 * n]
            pos += 3 * n
        if ct is None:
            raise ValueError("GIF image has no color table")
        if w == 0 or h == 0:
            raise ValueError("degenerate GIF dimensions")
        min_size = data[pos]
        if not 2 <= min_size <= 11:
            raise ValueError(f"bad LZW min code size {min_size}")
        pos += 1
        chunks = bytearray()
        while True:
            if pos >= len(data):
                raise ValueError("truncated GIF image data")
            size = data[pos]
            pos += 1
            if size == 0:
                break
            chunks += data[pos: pos + size]
            pos += size
        idx = _lzw_decode(bytes(chunks), min_size)
        if len(idx) < w * h:
            raise ValueError(f"short GIF pixel data: {len(idx)} < {w * h}")
        arr = np.array(idx[: w * h], dtype=np.int64).reshape(h, w)
        if ipacked & 0x40:             # de-interlace the row order
            rows = [r for start, step in _GIF_INTERLACE
                    for r in range(start, h, step)]
            out = np.empty_like(arr)
            out[rows] = arr
            arr = out
        pal = np.frombuffer(ct, dtype=np.uint8).reshape(-1, 3) \
                .astype(np.float64)
        if arr.max() >= len(pal):
            raise ValueError("GIF pixel index outside color table")
        return w, h, pal[arr]
    raise ValueError("truncated GIF: no trailer")


def encode_gif(indices, palette, *, interlace: bool = False,
               min_size: int = 8) -> bytes:
    """Build a single-image GIF89a from an index array (H×W ints) and
    a palette [(r, g, b), ...] — the synthesis/test counterpart of
    decode_gif, with a REAL LZW compressor."""
    import numpy as np

    img = np.asarray(indices, dtype=np.int64)
    h, w = img.shape
    n = max(2, len(palette))
    bits = max(1, (n - 1).bit_length())
    table = bytearray()
    for i in range(1 << bits):
        r, g, b = palette[i] if i < len(palette) else (0, 0, 0)
        table += bytes((r, g, b))
    if interlace:
        rows = [r for start, step in _GIF_INTERLACE
                for r in range(start, h, step)]
        img = img[rows]
    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", w, h)
    out += bytes((0x80 | (bits - 1), 0, 0))       # GCT flag + size
    out += table
    out += b"\x2C" + struct.pack("<HHHH", 0, 0, w, h)
    out += bytes((0x40 if interlace else 0x00,))
    out += bytes((min_size,))
    lzw = _lzw_encode(img.ravel(), min_size)
    for i in range(0, len(lzw), 255):
        chunk = lzw[i: i + 255]
        out += bytes((len(chunk),)) + chunk
    out += b"\x00\x3B"
    return bytes(out)


PROBE_SCHEMA = StructType([
    StructField("asset_id", LongType(), False),
    StructField("media_format", StringType(), True),
    StructField("decoded", BooleanType(), True),
    StructField("width", LongType(), True),         # images
    StructField("height", LongType(), True),
    StructField("n_channels", LongType(), True),    # audio
    StructField("sample_rate", LongType(), True),
    StructField("n_samples", LongType(), True),
    StructField("duration_us", LongType(), True),
    StructField("mean_signal", StringType(), True),  # 4-dp fixed string
    StructField("byte_len", LongType(), True),
])


def media_probe(assets: DataFrame) -> DataFrame:
    """REAL metadata/feature probe: per-asset decode dispatched on
    media_format — 'bmp', 'png', 'jpeg'/'jpg' and 'wav' payloads are
    actually parsed (dimensions, mean luminance; channel/rate/
    duration, mean amplitude); every other format degrades to the
    honest stub (decoded=false, byte stats only). Map-only
    mapInPandas, zero shuffle; per-asset work is bounded by payload
    size. A narrow input is fanned out at its read
    (``read_table(spread=True)``).

    mean_signal: mean luminance (BMP) / mean amplitude (WAV) as a
    fixed 4-decimal string — engine-stable for oracle comparison.
    """
    import numpy as np

    def _probe(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in ("asset_id", "media_format", "decoded",
                                   "width", "height", "n_channels",
                                   "sample_rate", "n_samples",
                                   "duration_us", "mean_signal",
                                   "byte_len")}
            for aid, fmt, p in zip(pdf["asset_id"], pdf["media_format"],
                                   pdf["payload"]):
                row = dict.fromkeys(out, None)
                row["asset_id"], row["media_format"] = aid, fmt
                row["byte_len"] = len(p) if p is not None else 0
                row["decoded"] = False
                if p is not None:
                    try:
                        if fmt == "bmp":
                            w, h, _bpp, gray = decode_bmp(bytes(p))
                            row.update(width=w, height=h, decoded=True,
                                       mean_signal=f"{gray.mean():.4f}")
                        elif fmt == "png":
                            w, h, ch, arr = decode_png(bytes(p))
                            # mean over COLOR channels (alpha excluded):
                            # integer-valued float64 sums, so the mean
                            # is the exact rational the oracle computes
                            color = arr[:, :, :min(3, ch)]
                            row.update(width=w, height=h, n_channels=ch,
                                       decoded=True,
                                       mean_signal=f"{color.mean():.4f}")
                        elif fmt == "gif":
                            w, h, arr = decode_gif(bytes(p))
                            row.update(width=w, height=h, n_channels=3,
                                       decoded=True,
                                       mean_signal=f"{arr.mean():.4f}")
                        elif fmt in ("jpeg", "jpg"):
                            w, h, ch, arr = decode_jpeg(bytes(p))
                            row.update(width=w, height=h, n_channels=ch,
                                       decoded=True,
                                       mean_signal=f"{arr.mean():.4f}")
                        elif fmt == "wav":
                            ch, rate, _bits, samp = decode_wav(bytes(p))
                            n = samp.shape[0]
                            row.update(
                                n_channels=ch, sample_rate=rate,
                                n_samples=n,
                                duration_us=n * 1_000_000 // rate,
                                decoded=True,
                                mean_signal=f"{samp.mean():.4f}" if n else None)
                    except ValueError:
                        row["decoded"] = False   # honest: not decodable
                for k, v in row.items():
                    out[k].append(v)
            nullable_long = ("width", "height", "n_channels", "sample_rate",
                             "n_samples", "duration_us")
            yield pd.DataFrame({
                k: (pd.array(v, dtype="Int64") if k in nullable_long
                    else pd.Series(v))
                for k, v in out.items()})

    return assets.mapInPandas(_probe, schema=PROBE_SCHEMA)


def audio_frame_stats(assets: DataFrame, *, frame: int = 128) -> DataFrame:
    """Per-frame audio statistics over REAL decoded WAV payloads: the
    VAD-shaped features (frame energy/RMS, zero-crossing count) a
    speech-data pipeline computes before segment filtering. Decode is
    the real RIFF/PCM parser (decode_wav); framing and stats are
    vectorized numpy inside mapInPandas (one-to-many: one row per
    frame, trailing partial frame INCLUDED with its true length).

    sum_sq is emitted as an exact int64 of the integer PCM samples —
    the hash-stable quantity an oracle can replay sample-for-sample.
    (RMS is derived by the CALLER as a JVM-side round(sqrt(...)) so
    rounding semantics match the SQL oracle; Python's round() is
    banker's and would diverge on exact ties.)

    Output: (asset_id, frame_idx, n_in_frame, sum_sq, n_zero_cross).
    """
    import numpy as np
    import pandas as pd

    def _stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, fis, ns, sqs, zcs = [], [], [], [], []
            for aid, payload in zip(pdf["asset_id"], pdf["payload"]):
                if payload is None:
                    continue
                _, _, _, samples = decode_wav(bytes(payload))
                x = samples[:, 0].astype(np.int64)    # mono channel 0
                n = x.shape[0]
                for f in range(0, n, frame):
                    seg = x[f:f + frame]
                    m = seg.shape[0]
                    ss = int(np.dot(seg, seg))
                    # strict sign flips between adjacent samples of
                    # the frame (zeros break a flip, deterministic)
                    zc = int(np.count_nonzero(seg[:-1] * seg[1:] < 0))
                    ids.append(int(aid)); fis.append(f // frame)
                    ns.append(m); sqs.append(ss); zcs.append(zc)
            yield pd.DataFrame({
                "asset_id": pd.Series(ids, dtype="int64"),
                "frame_idx": pd.Series(fis, dtype="int64"),
                "n_in_frame": pd.Series(ns, dtype="int64"),
                "sum_sq": pd.Series(sqs, dtype="int64"),
                "n_zero_cross": pd.Series(zcs, dtype="int64")})

    return assets.mapInPandas(
        _stats, "asset_id long, frame_idx long, n_in_frame long, "
                "sum_sq long, n_zero_cross long")


def raster_block_sums(assets: DataFrame, *, factor: int = 2) -> DataFrame:
    """Block-pooled statistics over REAL decoded BMPs: decode each
    payload (decode_bmp — header/palette/padding handled), then sum
    every factor×factor pixel block as EXACT int64 — the
    area-interpolation resize expressed in its hash-stable integer
    form (the caller derives the float mean with a JVM-side round so
    both engines agree). One row per block (mapInPandas one-to-many);
    decode + pooling are vectorized numpy, map-only, zero shuffle.

    Output: (asset_id, block_r, block_c, n_px, block_sum).
    """
    import numpy as np
    import pandas as pd

    def _pool(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, brs, bcs, ns, sums = [], [], [], [], []
            for aid, p in zip(pdf["asset_id"], pdf["payload"]):
                if p is None:
                    continue
                _, _, _, gray = decode_bmp(bytes(p))
                # decoded luminance is float64 within 1e-12 of the
                # integer palette value — rint recovers it exactly
                px = np.rint(gray).astype(np.int64)
                h, w = px.shape
                oh, ow = h // factor, w // factor
                blocks = px[:oh * factor, :ow * factor] \
                    .reshape(oh, factor, ow, factor).sum(axis=(1, 3))
                for br in range(oh):
                    for bc in range(ow):
                        ids.append(int(aid)); brs.append(br); bcs.append(bc)
                        ns.append(factor * factor)
                        sums.append(int(blocks[br, bc]))
            yield pd.DataFrame({
                "asset_id": pd.Series(ids, dtype="int64"),
                "block_r": pd.Series(brs, dtype="int64"),
                "block_c": pd.Series(bcs, dtype="int64"),
                "n_px": pd.Series(ns, dtype="int64"),
                "block_sum": pd.Series(sums, dtype="int64")})

    return assets.mapInPandas(
        _pool, "asset_id long, block_r long, block_c long, "
               "n_px long, block_sum long")


def dhash_images(assets: DataFrame) -> DataFrame:
    """Perceptual difference hash (dHash) over REAL decoded BMPs: for
    each decoded H×W luminance raster, bit (r, c) of the fingerprint is
    1 iff px[r, c] < px[r, c+1] — W-1 horizontal-gradient comparisons
    per row packed row-major into one integer
    (``sum(bit << (r*(W-1) + c))``). Gradient SIGNS are invariant to
    any monotone per-image transform — brightness shifts, contrast
    scaling, the BT.601 luminance weighting decode_bmp applies — which
    is exactly what makes dHash a PERCEPTUAL hash: re-encoded or
    re-exposed copies of an image collide while different images don't.
    Decode + comparisons are vectorized numpy, map-only, zero shuffle;
    near-dup pairs come from ``dedup.hamming_banded_pairs`` over the
    fingerprint column, never an all-pairs scan.

    Output: (asset_id, dhash) — dhash has H*(W-1) significant bits
    (keep H*(W-1) <= 63 so the value stays a non-negative long).
    """
    import numpy as np
    import pandas as pd

    def _hash(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, hashes = [], []
            for aid, p in zip(pdf["asset_id"], pdf["payload"]):
                if p is None:
                    continue
                _, _, _, gray = decode_bmp(bytes(p))
                bits = (gray[:, :-1] < gray[:, 1:]).astype(np.int64)
                n = bits.size
                if n > 63:
                    raise ValueError(
                        f"dhash needs H*(W-1) <= 63 bits, got {n}")
                weights = np.left_shift(
                    np.int64(1), np.arange(n, dtype=np.int64))
                ids.append(int(aid))
                hashes.append(int((bits.reshape(-1) * weights).sum()))
            yield pd.DataFrame({
                "asset_id": pd.Series(ids, dtype="int64"),
                "dhash": pd.Series(hashes, dtype="int64")})

    return assets.mapInPandas(_hash, "asset_id long, dhash long")
