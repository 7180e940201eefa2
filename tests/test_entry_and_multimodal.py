import sys
from pathlib import Path

from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import __spark_entry__ as entrymod  # noqa: E402
from elt_gluepipeline_spark.operators.multimodal import (attach_payload,
                                                         extract_features)


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) == 25  # one per nation
    assert "rank" in df.columns and "revenue" in df.columns


def test_queries_and_oracles_align(spark):
    q = entrymod.queries()
    o = entrymod.oracle_sql()
    assert set(o) <= set(q)
    assert len(q) >= 20
    # the one rows-only query is the approximate top-k (HLL sketch);
    # test_plans pins it against q08's exact answer
    assert set(q) - set(o) == {"q36_top_locations_approx"}
    # q17 and q21 run their hash-checked twins' plans and oracles, so
    # their outputs are identical at every scale
    for name, twin in (("q17_minhash_neardup", "q41_minhash_portable"),
                       ("q21_simhash", "q40_simhash_portable")):
        assert q[name] is q[twin] and o[name] == o[twin]


def test_multimodal_plumbing(spark):
    docs = spark.createDataFrame([(1, "hello world"), (2, "")],
                                 "doc_id long, text string")
    assets = attach_payload(docs, "doc_id", "text")
    assert dict(assets.dtypes)["payload"] == "binary"
    feats = extract_features(assets)
    got = {r.asset_id: r.byte_len for r in feats.collect()}
    assert got == {1: 11, 2: 0}
    # deterministic stub features
    again = {r.asset_id: r.feature_hash for r in extract_features(assets).collect()}
    assert again == {r.asset_id: r.feature_hash for r in feats.collect()}


def test_sample_frames_fanout_bounds(spark):
    from elt_gluepipeline_spark.operators.multimodal import (attach_payload,
                                                             sample_frames)
    df = spark.createDataFrame(
        [(1, "x" * 300), (2, "y" * 10), (3, "z" * 10_000)], "id long, t string")
    frames = sample_frames(attach_payload(df, "id", "t"),
                           every_n_bytes=64, max_frames=8)
    counts = {r.asset_id: r.n for r in
              frames.groupBy("asset_id").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert counts == {1: 4, 2: 1, 3: 8}                # floor, min-1, capped
    one = frames.filter((F.col("asset_id") == 1) & (F.col("frame_idx") == 0)).collect()[0]
    assert one.frame_payload == b"x" * 64              # windowed slice


def test_median_udaf_matches_exact_median_any_partitioning(spark):
    from pyspark.sql import functions as F

    from elt_gluepipeline_spark.operators.udx import median_udaf
    med = median_udaf()
    df = spark.createDataFrame(
        [("a", float(v)) for v in [5, 1, 9, 3]]
        + [("b", float(v)) for v in [10, 20, 30]],
        "k string, v double")
    for frame in (df, df.repartition(7)):
        got = {r.k: r.m
               for r in frame.groupBy("k").agg(med("v").alias("m")).collect()}
        assert got == {"a": 4.0, "b": 20.0}   # even count interpolates


# ---------------- real BMP/WAV decode ----------------

def test_decode_bmp_24bpp_golden_bottom_up():
    """Hand-crafted 3x2 24-bpp BMP (NOT built by our encoder): padded
    12-byte rows, bottom-up storage — decode must un-flip and strip
    padding. Pixel (0,0) red, (1,0) green, rest blue-ish gray checks
    the BGR byte order and BT.601 weights."""
    import struct

    import numpy as np

    from elt_gluepipeline_spark.operators.multimodal import decode_bmp

    w, h, stride = 3, 2, 12
    # rows as stored (bottom-up): file row 0 = image row 1
    row_img1 = bytes([10, 10, 10, 20, 20, 20, 30, 30, 30]) + b"\0\0\0"
    row_img0 = bytes([0, 0, 255,  0, 255, 0,  255, 0, 0]) + b"\0\0\0"  # BGR!
    pixels = row_img1 + row_img0
    hdr = (b"BM" + struct.pack("<IHHI", 54 + len(pixels), 0, 0, 54)
           + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0,
                         len(pixels), 0, 0, 0, 0))
    width, height, bpp, gray = decode_bmp(hdr + pixels)
    assert (width, height, bpp) == (3, 2, 24)
    # image row 0: red=(R255)->0.299*255, green->0.587*255, blue->0.114*255
    assert np.allclose(gray[0], [0.299 * 255, 0.587 * 255, 0.114 * 255])
    assert np.allclose(gray[1], [10, 20, 30])


def test_decode_bmp_top_down_and_roundtrip():
    import numpy as np

    from elt_gluepipeline_spark.operators.multimodal import (decode_bmp,
                                                             encode_bmp)

    img = (np.arange(35, dtype=np.uint8).reshape(5, 7) * 7) % 256
    data = bytearray(encode_bmp(img))
    w, h, bpp, gray = decode_bmp(bytes(data))
    assert (w, h, bpp) == (7, 5, 8)
    assert np.allclose(gray, img)            # linear palette -> identity
    # flip the height sign -> top-down: rows must come back reversed
    import struct
    struct.pack_into("<i", data, 22, -5)
    pix = bytearray(data)
    _, _, _, gray_td = decode_bmp(bytes(pix))
    assert np.allclose(gray_td, img[::-1])


def test_decode_bmp_rejects_non_bmp():
    import pytest as _pytest

    from elt_gluepipeline_spark.operators.multimodal import decode_bmp

    for bad in (b"", b"\xff\xd8\xff\xe0" + b"x" * 100,  # JPEG magic
                b"BM" + b"\0" * 20):                      # truncated
        with _pytest.raises(ValueError):
            decode_bmp(bad)


def test_decode_wav_golden_with_extra_chunk():
    """Hand-crafted stereo 16-bit WAV with a 'fact' chunk between fmt
    and data (chunk-walk must skip it) and an odd-sized trailing chunk
    pad."""
    import struct

    import numpy as np

    from elt_gluepipeline_spark.operators.multimodal import decode_wav

    frames = [(100, -100), (200, -200), (300, -300)]
    pcm = b"".join(struct.pack("<hh", a, b) for a, b in frames)
    fmt = struct.pack("<HHIIHH", 1, 2, 16000, 16000 * 4, 4, 16)
    body = (b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"fact" + struct.pack("<I", 3) + b"abc\0"   # odd size, padded
            + b"data" + struct.pack("<I", len(pcm)) + pcm)
    data = b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body
    ch, rate, bits, samples = decode_wav(data)
    assert (ch, rate, bits) == (2, 16000, 16)
    assert samples.shape == (3, 2)
    assert np.allclose(samples[:, 0], [100, 200, 300])
    assert np.allclose(samples[:, 1], [-100, -200, -300])


def test_decode_wav_roundtrip_and_rejects():
    import numpy as np
    import pytest as _pytest

    from elt_gluepipeline_spark.operators.multimodal import (decode_wav,
                                                             encode_wav)

    samp = (np.arange(101) * 13 - 650).astype(np.int16)   # odd length
    ch, rate, bits, out = decode_wav(encode_wav(samp, 8000))
    assert (ch, rate, bits) == (1, 8000, 16)
    assert np.allclose(out[:, 0], samp)
    for bad in (b"", b"RIFFxxxxWAVE",                     # no chunks
                b"OggS" + b"\0" * 50):                    # wrong magic
        with _pytest.raises(ValueError):
            decode_wav(bad)


def test_media_probe_dispatch_and_stub_path(spark):
    """media_probe: bmp/wav REALLY decode; unknown formats honestly
    report decoded=false with byte stats only."""
    import numpy as np

    from elt_gluepipeline_spark.operators.multimodal import (encode_bmp,
                                                             encode_wav,
                                                             media_probe)

    bmp = encode_bmp(np.full((4, 6), 90, np.uint8))
    wav = encode_wav(np.full(50, 700, np.int16), 4000)
    assets = spark.createDataFrame(
        [(1, "image", bytearray(bmp), "bmp"),
         (2, "audio", bytearray(wav), "wav"),
         (3, "image", bytearray(b"\xff\xd8\xff\xe0jpegish"), "jpeg"),
         (4, "image", bytearray(b"not really a bmp"), "bmp")],
        "asset_id long, modality string, payload binary, media_format string")
    got = {r.asset_id: r for r in media_probe(assets).collect()}
    assert got[1].decoded and (got[1].width, got[1].height) == (6, 4)
    assert got[1].mean_signal == "90.0000"
    assert got[2].decoded and got[2].sample_rate == 4000
    assert got[2].n_samples == 50 and got[2].duration_us == 12500
    assert got[2].mean_signal == "700.0000"
    assert not got[3].decoded and got[3].byte_len == 11
    assert not got[4].decoded                  # bad magic under bmp format


def test_bmp_roundtrip_property():
    """Property: any uint8 image round-trips encode_bmp -> decode_bmp
    exactly (linear palette => luminance == pixel value), across odd
    widths that exercise row padding."""
    from hypothesis import given, settings
    from hypothesis import strategies as st
    import numpy as np

    from elt_gluepipeline_spark.operators.multimodal import (decode_bmp,
                                                             encode_bmp)

    @settings(max_examples=30, deadline=None)
    @given(st.integers(1, 13), st.integers(1, 9), st.integers(0, 2**32 - 1))
    def check(w, h, seed):
        rng = np.random.default_rng(seed)
        img = rng.integers(0, 256, size=(h, w), dtype=np.uint8)
        ww, hh, bpp, gray = decode_bmp(encode_bmp(img))
        assert (ww, hh, bpp) == (w, h, 8)
        assert np.allclose(gray, img)

    check()


def test_wav_roundtrip_property():
    from hypothesis import given, settings
    from hypothesis import strategies as st
    import numpy as np

    from elt_gluepipeline_spark.operators.multimodal import (decode_wav,
                                                             encode_wav)

    @settings(max_examples=30, deadline=None)
    @given(st.integers(1, 400), st.integers(0, 2**32 - 1),
           st.sampled_from([4000, 8000, 44100]))
    def check(n, seed, rate):
        rng = np.random.default_rng(seed)
        samp = rng.integers(-32768, 32768, size=n).astype(np.int16)
        ch, r, bits, out = decode_wav(encode_wav(samp, rate))
        assert (ch, r, bits) == (1, rate, 16)
        assert np.array_equal(out[:, 0].astype(np.int16), samp)

    check()


def test_png_roundtrip_property():
    """decode_png must invert encode_png for every color type and
    every scanline filter — the unfilter paths are the decode's
    correctness core."""
    from hypothesis import given, settings
    from hypothesis import strategies as st
    import numpy as np

    from elt_gluepipeline_spark.operators.multimodal import (decode_png,
                                                             encode_png)

    @settings(max_examples=40, deadline=None)
    @given(st.integers(1, 13), st.integers(1, 9),
           st.sampled_from([(0, 1), (2, 3), (4, 2), (6, 4)]),
           st.integers(0, 4), st.integers(0, 2**32 - 1))
    def check(w, h, ct_ch, ft, seed):
        ct, ch = ct_ch
        rng = np.random.default_rng(seed)
        img = rng.integers(0, 256, size=(h, w, ch), dtype=np.uint8)
        ww, hh, cc, arr = decode_png(
            encode_png(img, color_type=ct, filter_type=ft))
        assert (ww, hh, cc) == (w, h, ch)
        assert np.array_equal(arr.astype(np.uint8), img)

    check()


def test_png_rejects_corruption():
    import numpy as np
    import pytest

    from elt_gluepipeline_spark.operators.multimodal import (decode_png,
                                                             encode_png)

    good = encode_png(np.zeros((4, 4, 3), np.uint8))
    with pytest.raises(ValueError, match="CRC"):
        bad = bytearray(good)
        bad[20] ^= 0xFF
        decode_png(bytes(bad))
    with pytest.raises(ValueError, match="not a PNG"):
        decode_png(b"BM" + good)
    with pytest.raises(ValueError, match="truncated|missing"):
        decode_png(good[:30])


def test_media_probe_routes_png(spark):
    """media_probe decodes png payloads and leaves unknown formats on
    the honest stub path (decoded=false)."""
    import numpy as np

    from elt_gluepipeline_spark.operators.multimodal import (ASSET_SCHEMA,
                                                             encode_png,
                                                             media_probe)

    img = (np.arange(12, dtype=np.uint8).reshape(2, 2, 3) * 10)
    rows = [(1, "image", bytearray(encode_png(img)), "png"),
            (2, "image", bytearray(b"\x89PNGgarbage"), "png"),
            (3, "image", bytearray(b"whatever"), "jpeg")]
    out = {r.asset_id: r for r in
           media_probe(spark.createDataFrame(rows, ASSET_SCHEMA)).collect()}
    assert out[1].decoded and (out[1].width, out[1].height) == (2, 2)
    assert out[1].n_channels == 3
    assert out[1].mean_signal == f"{img.mean():.4f}"
    assert not out[2].decoded and not out[3].decoded
