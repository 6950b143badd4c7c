from __future__ import annotations

import re

import numpy as np
import pytest

from tests.conftest import FIXTURE_BASE
from webalizer_spark.operators.multimodal import (
    decode_media,
    extract_features,
    gen_media,
    resize_images,
    sample_frames,
)


@pytest.fixture(scope="module")
def media(spark):
    path = gen_media(f"{FIXTURE_BASE}/media", n=120)
    return spark.read.parquet(path)


def test_feature_extraction(spark, media):
    feats = extract_features(media).toPandas().sort_values("media_id")
    assert len(feats) == 120
    assert feats["ok"].all()
    # cross-check one row against a local decode
    row = media.filter("media_id = 7").collect()[0]
    arr, shape = decode_media(bytes(row["payload"]), row["kind"])
    got = feats[feats["media_id"] == 7].iloc[0]
    assert abs(got["mean_val"] - float(arr.mean())) < 1e-12
    assert got["decoded_shape"] == "x".join(map(str, shape))


def test_resize_deterministic(spark, media):
    a = resize_images(media).toPandas().sort_values("media_id").reset_index(drop=True)
    b = resize_images(media).toPandas().sort_values("media_id").reset_index(drop=True)
    assert a.equals(b)
    n_images = media.filter("kind = 'image'").count()
    assert len(a) == n_images


def test_frame_sampling(spark, media):
    frames = sample_frames(media, every=4).toPandas()
    vids = media.filter("kind = 'video'").select("media_id", "n_frames").toPandas()
    expect = int(sum((nf + 3) // 4 for nf in vids["n_frames"]))
    assert len(frames) == expect
    assert (frames["frame_idx"] % 4 == 0).all()


def test_corrupt_media_routes_not_crashes(spark, media):
    from pyspark.sql import functions as F
    corrupted = media.withColumn(
        "payload",
        F.when(F.col("media_id") % 10 == 0,
               F.lit(b"garbage")).otherwise(F.col("payload")))
    feats = extract_features(corrupted).toPandas()
    bad = feats[~feats["ok"]]
    assert len(bad) == 12
    assert bad["mean_val"].isna().all()


def test_real_bmp_wav_codecs_round_trip():
    """BMP 24-bit and WAV PCM16 are REAL decoders (pure numpy): byte-
    exact round-trip, header fields honored."""
    from webalizer_spark.operators.multimodal import (
        decode_bmp,
        decode_wav,
        encode_bmp24,
        encode_wav_pcm16,
    )

    g = np.arange(7 * 13, dtype=np.uint8).reshape(7, 13)  # odd width: padding
    arr, shape = decode_bmp(encode_bmp24(g))
    assert shape == (7, 13) and (arr == g).all()

    s = (np.arange(501, dtype=np.int16) - 250) * 77
    d, sr = decode_wav(encode_wav_pcm16(s, 22050))
    assert sr == 22050 and (d == s).all()


def test_fixture_contains_real_payload_formats(spark, media):
    """The fixture really ships .bmp/.wav bytes and the Spark pipeline
    decodes them (not just the fake container)."""
    rows = media.select("media_id", "kind", "payload").collect()
    magics = {bytes(r["payload"][:2]) for r in rows}
    assert b"BM" in magics
    assert any(bytes(r["payload"][:4]) == b"RIFF" for r in rows)
    feats = extract_features(media).toPandas()
    assert feats["ok"].all()
    # a known-BMP row (image, even id) produced plausible image features
    bmp_ids = [r["media_id"] for r in rows
               if bytes(r["payload"][:2]) == b"BM"]
    got = feats[feats["media_id"].isin(bmp_ids)]
    assert len(got) > 0 and got["decoded_shape"].str.contains("x").all()


def test_png_codec_round_trip_all_filters():
    """PNG is a REAL codec (stdlib zlib + numpy unfilter): byte-exact
    round-trip for both the None and Paeth filter encodings, odd sizes
    included; corrupt/unsupported PNGs raise."""
    from webalizer_spark.operators.multimodal import decode_png, encode_png

    rng = np.random.default_rng(7)
    for h, w in [(1, 1), (7, 13), (31, 17)]:
        g = rng.integers(0, 256, (h, w), dtype=np.uint8)
        for ft in (0, 4):
            arr, shape = decode_png(encode_png(g, filter_type=ft))
            assert shape == (h, w) and (arr == g).all(), (h, w, ft)

    with pytest.raises(ValueError, match="not a PNG"):
        decode_png(b"\x89PNX" + b"\x00" * 20)
    # interlaced / 16-bit headers are refused, not mis-decoded
    good = bytearray(encode_png(np.zeros((4, 4), dtype=np.uint8)))
    good[24] = 16  # bit depth byte inside IHDR
    with pytest.raises(ValueError, match="unsupported PNG"):
        decode_png(bytes(good))


def test_fixture_contains_real_png(spark, media):
    """The fixture ships genuine Paeth-filtered PNG payloads and the
    Spark decode path handles them like any other real format."""
    from webalizer_spark.operators.multimodal import decode_png

    rows = media.select("media_id", "kind", "payload").collect()
    png = [r for r in rows
           if bytes(r["payload"][:8]) == b"\x89PNG\r\n\x1a\n"]
    assert len(png) > 0
    feats = extract_features(media).toPandas()
    for r in png:
        arr, (h, w) = decode_png(bytes(r["payload"]))
        got = feats[feats["media_id"] == r["media_id"]].iloc[0]
        assert bool(got["ok"]) and got["decoded_shape"] == f"{h}x{w}"
        assert abs(got["mean_val"] - float(arr.mean())) < 1e-12


def test_y4m_codec_round_trip():
    """YUV4MPEG2 is a REAL container (plain-text header + raw planes —
    any ffmpeg reads our output): byte-exact luma round-trip, chroma
    format and truncation refused."""
    from webalizer_spark.operators.multimodal import decode_y4m, encode_y4m

    rng = np.random.default_rng(3)
    frames = rng.integers(0, 256, (5, 12, 16), dtype=np.uint8)
    enc = encode_y4m(frames)
    dec, shape = decode_y4m(enc)
    assert shape == (5, 12, 16) and (dec == frames).all()

    with pytest.raises(ValueError, match="not a y4m"):
        decode_y4m(b"RIFFxxxx")
    with pytest.raises(ValueError, match="chroma"):
        decode_y4m(enc.replace(b"C420jpeg", b"C444    ", 1))
    with pytest.raises(ValueError, match="truncated"):
        decode_y4m(enc[:-10])
    with pytest.raises(ValueError, match="even"):
        encode_y4m(rng.integers(0, 256, (2, 7, 8), dtype=np.uint8))


def test_fixture_contains_real_y4m_and_frame_sampling(spark, media):
    """The fixture ships genuine y4m video payloads; Spark frame
    sampling walks their REAL frames (count and means match a local
    decode)."""
    from webalizer_spark.operators.multimodal import decode_y4m

    rows = media.select("media_id", "kind", "payload").collect()
    y4m = [r for r in rows if bytes(r["payload"][:9]) == b"YUV4MPEG2"]
    assert len(y4m) > 0
    sampled = sample_frames(media, every=4).toPandas()
    for r in y4m:
        arr, (nf, _h, _w) = decode_y4m(bytes(r["payload"]))
        got = sampled[sampled["media_id"] == r["media_id"]] \
            .sort_values("frame_idx")
        assert list(got["frame_idx"]) == list(range(0, nf, 4))
        for fi, fm in zip(got["frame_idx"], got["frame_mean"]):
            assert abs(fm - float(arr[fi].mean())) < 1e-12


def test_y4m_rejects_odd_dimensions():
    """A C420 header with odd W/H would floor-divide the chroma plane
    size and silently shift every later frame; decode refuses it like
    the encoder does."""
    from webalizer_spark.operators.multimodal import decode_y4m, encode_y4m

    rng = np.random.default_rng(4)
    enc = encode_y4m(rng.integers(0, 256, (2, 12, 16), dtype=np.uint8))
    with pytest.raises(ValueError, match="even"):
        decode_y4m(enc.replace(b"W16", b"W15", 1))


def test_flac_codec_round_trip():
    """FLAC is a REAL lossless codec (Rice-coded fixed predictors,
    CRC-8/16, STREAMINFO MD5 — RFC 9639 subset): byte-exact sample
    recovery, genuine compression on smooth signals, corrupt streams
    refused by checksum."""
    from webalizer_spark.operators.flac import decode_flac, encode_flac

    rng = np.random.default_rng(21)
    smooth = (2000 * np.sin(np.linspace(0, 40, 9000))).astype(np.int16)
    noise = rng.integers(-32768, 32767, 5000).astype(np.int16)
    const = np.full(4500, -7, np.int16)
    for s in (smooth, noise, const):
        enc = encode_flac(s, 16000)
        dec, sr = decode_flac(enc)
        assert sr == 16000 and np.array_equal(dec, s.astype(np.int64))
    # fixed predictors actually compress the smooth signal
    assert len(encode_flac(smooth, 16000)) < 0.3 * smooth.nbytes

    with pytest.raises(ValueError, match="not a FLAC"):
        decode_flac(b"RIFFxxxx")
    enc = encode_flac(smooth, 16000)
    with pytest.raises(ValueError, match="truncated"):
        decode_flac(enc[:-40])
    # flip one byte inside the last frame: CRC-16 (or MD5) catches it
    bad = bytearray(enc)
    bad[-30] ^= 0x40
    with pytest.raises(ValueError, match="CRC|MD5|FLAC"):
        decode_flac(bytes(bad))


def test_fixture_contains_real_flac(spark, media):
    """The fixture ships genuine FLAC payloads; the Spark decode path
    extracts features from them (lossless — exact means)."""
    from webalizer_spark.operators.flac import decode_flac

    rows = media.select("media_id", "kind", "payload").collect()
    flac = [r for r in rows if bytes(r["payload"][:4]) == b"fLaC"]
    assert len(flac) > 0
    feats = extract_features(media).toPandas()
    for r in flac:
        samples, _sr = decode_flac(bytes(r["payload"]))
        got = feats[feats["media_id"] == r["media_id"]].iloc[0]
        assert bool(got["ok"]) and got["decoded_shape"] == f"{len(samples)}"
        assert abs(got["mean_val"] - float(samples.mean())) < 1e-9


def test_flac_unknown_total_refused():
    """total_samples=0 (the spec's unknown-length marker) is refused,
    not silently decoded to zero samples."""
    import struct as _s

    from webalizer_spark.operators.flac import decode_flac, encode_flac

    enc = bytearray(encode_flac(np.arange(100, dtype=np.int16), 8000))
    # STREAMINFO total_samples lives in bits 4.. of bytes 21..25
    # (after magic+header: 4+4+16+... ) — zero the 36-bit field:
    # bytes offset 8+10+3 = 21: [sr20|ch3|bps5|total36] spans bytes 18..26
    # simpler: rebuild via bit surgery on the known layout
    off = 8 + 10  # magic(4)+blockhdr(4) + minb2+maxb2+minf3+maxf3
    # sr(20)+ch(3)+bps(5) = 28 bits, then total(36): total starts at
    # bit 28 of this 8-byte region
    region = int.from_bytes(enc[off:off + 8], "big")
    region &= ~((1 << 36) - 1)  # zero the low 36 bits (total_samples)
    enc[off:off + 8] = region.to_bytes(8, "big")
    with pytest.raises(ValueError, match="unknown total_samples"):
        decode_flac(bytes(enc))


def test_flac_reserved_sample_size_code_refused():
    """Frame sample-size codes 3 (reserved) and 7 (32-bit) take the
    honest-refusal path instead of silently defaulting to the
    STREAMINFO bit depth (round-4 advice) — the CRC would catch a
    mis-sized decode only incidentally."""
    import struct as _s

    from webalizer_spark.operators.flac import _crc8, decode_flac, encode_flac

    for ss_code in (3, 7):
        enc = bytearray(encode_flac(np.arange(100, dtype=np.int16), 8000))
        # first frame at 42 = magic(4)+metahdr(4)+STREAMINFO(34);
        # header byte 3 = [channels:4 | sample_size:3 | reserved:1]
        f = 42
        assert enc[f] == 0xFF and (enc[f + 1] & 0xFC) == 0xF8  # sync
        enc[f + 3] = (enc[f + 3] & 0xF1) | (ss_code << 1)
        # re-seal the header CRC-8: hb = 4 hdr + 1 utf8 frame-no + 2 bs
        enc[f + 7] = _crc8(bytes(enc[f:f + 7]))
        with pytest.raises(ValueError, match="sample-size code"):
            decode_flac(bytes(enc))


def test_flac_property_round_trip():
    """Hypothesis property: ANY int16 mono signal round-trips losslessly
    through the FLAC codec (bounded sizes keep the test fast)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st
    from hypothesis.extra.numpy import arrays

    from webalizer_spark.operators.flac import decode_flac, encode_flac

    @settings(max_examples=25, deadline=None)
    @given(arrays(np.int16, st.integers(1, 600)),
           st.sampled_from([8000, 22050, 48000]))
    def prop(s, sr):
        dec, got_sr = decode_flac(encode_flac(s, sr))
        assert got_sr == sr and np.array_equal(dec, s.astype(np.int64))

    prop()


def test_gif_codec_round_trip():
    """GIF is a REAL codec (variable-width LZW, pure numpy/stdlib) and
    LOSSLESS for palettized content: byte-exact round-trips for
    grayscale, paletted RGB, animated and interlaced encodings;
    out-of-gamut input and corrupt streams refuse."""
    from webalizer_spark.operators.gif import decode_gif, encode_gif

    rng = np.random.default_rng(11)
    g = rng.integers(0, 256, (23, 37), dtype=np.uint8)
    frames, shape = decode_gif(encode_gif(g))
    assert shape == (1, 23, 37, 3)
    assert (frames[0] == g[..., None]).all()          # 256-gray palette

    pal = rng.integers(0, 256, (16, 3), dtype=np.uint8)
    img = pal[rng.integers(0, 16, (19, 29))].astype(np.uint8)
    frames, _ = decode_gif(encode_gif(img))
    assert (frames[0] == img).all()

    frames, _ = decode_gif(encode_gif(img, interlace=True))
    assert (frames[0] == img).all()

    anim = pal[rng.integers(0, 16, (6, 11, 13))].astype(np.uint8)
    frames, shape = decode_gif(encode_gif(anim, delays_cs=[5] * 6))
    assert shape == (6, 11, 13, 3) and (frames == anim).all()

    # LZW dictionary growth + CLEAR reset on long runs
    run = np.repeat(np.arange(8, dtype=np.uint8), 900).reshape(72, 100)
    frames, _ = decode_gif(encode_gif(run))
    assert (frames[0][..., 0] == run).all()

    big = np.arange(300, dtype=np.uint16)
    rgb300 = np.stack([big % 256, big // 256, big * 0],
                      axis=1).astype(np.uint8).reshape(30, 10, 3)
    with pytest.raises(ValueError, match="distinct colors"):
        encode_gif(rgb300)
    with pytest.raises(ValueError, match="not a GIF"):
        decode_gif(b"GIF90a" + b"\x00" * 16)
    with pytest.raises(ValueError):
        decode_gif(encode_gif(g)[:15])


def test_gif_transparency_and_disposal():
    """Decoder honors the 89a graphic-control model produced by OTHER
    tools: transparent indices pass the prior screen through, and a
    sub-rectangle frame composites at its (left, top) offset."""
    import struct

    from webalizer_spark.operators.gif import decode_gif, encode_gif

    base = np.full((8, 8), 3, dtype=np.uint8)
    payload = bytearray(encode_gif(base[None, ...].repeat(2, axis=0)
                                   .astype(np.uint8)[..., None]
                                   .repeat(3, axis=-1),
                                   transparent_index=7))
    frames, shape = decode_gif(bytes(payload))
    assert shape[0] == 2

    # hand-build a 2-frame GIF whose 2nd frame is a 2x2 patch at (3, 1)
    pal = np.zeros((4, 3), dtype=np.uint8)
    pal[1] = (255, 0, 0)
    pal[2] = (0, 255, 0)
    hdr = b"GIF89a" + struct.pack("<HHBBB", 4, 4, 0x80 | 1, 0, 0) \
        + pal.tobytes()
    from webalizer_spark.operators.gif import _lzw_encode, _sub_blocks
    f1 = np.full((4, 4), 1, dtype=np.uint8)
    img1 = b"\x2c" + struct.pack("<HHHHB", 0, 0, 4, 4, 0) + bytes([2]) \
        + _sub_blocks(_lzw_encode(f1.ravel(), 2))
    f2 = np.full((2, 2), 2, dtype=np.uint8)
    gce = b"\x21\xf9\x04\x04\x00\x00\x00\x00"      # disposal 1, no transp
    img2 = b"\x2c" + struct.pack("<HHHHB", 3, 1, 1, 2, 0) + bytes([2]) \
        + _sub_blocks(_lzw_encode(f2[:, :1].ravel(), 2))
    frames, shape = decode_gif(hdr + img1 + gce + img2 + b"\x3b")
    assert shape == (2, 4, 4, 3)
    assert (frames[0] == (255, 0, 0)).all()
    assert tuple(frames[1][1, 3]) == (0, 255, 0)   # patched cell
    assert tuple(frames[1][0, 0]) == (255, 0, 0)   # rest kept (disposal 1)


def test_fixture_contains_real_gif(spark, media):
    """The fixture ships genuine static AND animated GIF payloads; the
    Spark decode path (extract_features / sample_frames) handles both,
    and the animated frame count matches the n_frames metadata."""
    from webalizer_spark.operators.gif import decode_gif

    rows = media.select("media_id", "kind", "payload", "n_frames").collect()
    gifs = [r for r in rows if bytes(r["payload"][:3]) == b"GIF"]
    img_gifs = [r for r in gifs if r["kind"] == "image"]
    vid_gifs = [r for r in gifs if r["kind"] == "video"]
    assert img_gifs and vid_gifs
    feats = extract_features(media).toPandas()
    for r in img_gifs + vid_gifs:
        frames, shape = decode_gif(bytes(r["payload"]))
        got = feats[feats["media_id"] == r["media_id"]].iloc[0]
        assert bool(got["ok"])
        if r["kind"] == "video":
            assert shape[0] == r["n_frames"]
            assert got["decoded_shape"] == "x".join(map(str, shape))
        else:
            assert got["decoded_shape"] == "x".join(map(str, shape[1:]))


def test_flc_codec_round_trip():
    """FLC is a REAL INTER-FRAME codec (DELTA_FLC line/packet diffs
    against the previous frame, pure numpy/stdlib) and lossless for
    indexed content: byte-exact round-trips, delta frames far smaller
    than keyframes, corrupt streams refuse."""
    from webalizer_spark.operators.flic import decode_flc, encode_flc

    rng = np.random.default_rng(3)
    for nf, h, w in [(1, 8, 11), (5, 13, 21), (4, 9, 16)]:
        fr = np.zeros((nf, h, w), dtype=np.uint8)
        fr[0] = rng.integers(0, 256, (h, w), dtype=np.uint8)
        for i in range(1, nf):
            fr[i] = fr[i - 1]
            fr[i, rng.integers(0, h), rng.integers(0, w)] = 77
        dec, shape = decode_flc(encode_flc(fr))
        assert shape == (nf, h, w, 3)
        assert (dec[..., 0] == fr).all() and (dec[..., 1] == fr).all()

    # inter-frame coding is real: 3 nearly-identical frames cost barely
    # more than 1 keyframe (a per-frame-independent codec would be ~3x)
    base = rng.integers(0, 256, (30, 40), dtype=np.uint8)
    fr = np.stack([base] * 3).copy()
    fr[1, 3, 5] = 1
    fr[2, 8, 8] = 2
    assert len(encode_flc(fr)) < len(encode_flc(fr[:1])) + 200

    with pytest.raises(ValueError, match="not a FLIC"):
        decode_flc(b"\x00" * 4 + b"\x99\x99" + b"\x00" * 122)
    with pytest.raises(ValueError):
        decode_flc(encode_flc(fr)[:64])


def test_fixture_contains_real_flc(spark, media):
    """The fixture ships genuine FLC payloads; extract_features and
    sample_frames drive the inter-frame decode path under Spark, and
    the frame count matches the n_frames metadata."""
    import struct

    from webalizer_spark.operators.flic import decode_flc

    rows = media.select("media_id", "kind", "payload", "n_frames").collect()
    flcs = [r for r in rows
            if len(r["payload"]) > 6
            and bytes(r["payload"][4:6]) == b"\x12\xaf"]
    assert flcs, "no FLC rows in fixture"
    feats = extract_features(media).toPandas()
    for r in flcs:
        frames, shape = decode_flc(bytes(r["payload"]))
        assert shape[0] == r["n_frames"]
        got = feats[feats["media_id"] == r["media_id"]].iloc[0]
        assert bool(got["ok"])
        assert got["decoded_shape"] == "x".join(map(str, shape))
        # frame 2+ really is delta-coded: its frame chunk carries a
        # DELTA_FLC (7) subchunk, not a BYTE_RUN keyframe
        payload = bytes(r["payload"])
        pos = 128
        fsize, _, nchunks = struct.unpack_from("<IHH", payload, pos)
        pos += fsize
        _, _, nchunks2 = struct.unpack_from("<IHH", payload, pos)
        if nchunks2:
            _, ctype = struct.unpack_from("<IH", payload, pos + 16)
            assert ctype == 7


def test_audio_features_match_local_dsp(spark, media):
    """audio_features' RMS / zero-crossing rate / spectral centroid
    match a local numpy re-derivation on real WAV and FLAC rows (true
    header sample rate), the fake container falls back to the metadata
    rate, and corrupt payloads route as ok=false."""
    from pyspark.sql import functions as F

    from webalizer_spark.operators.multimodal import (
        audio_features,
        decode_wav,
    )

    af = audio_features(media).toPandas().set_index("media_id")
    rows = media.filter("kind = 'audio'") \
        .select("media_id", "payload", "sample_rate").collect()
    assert len(af) == len(rows) and af["ok"].all()
    checked_wav = checked_flac = 0
    for r in rows:
        raw = bytes(r["payload"])
        if raw[:4] == b"RIFF":
            s, sr = decode_wav(raw)
            checked_wav += 1
        elif raw[:4] == b"fLaC":
            from webalizer_spark.operators.flac import decode_flac
            s, sr = decode_flac(raw)
            checked_flac += 1
        else:
            assert af.loc[r["media_id"], "sample_rate"] == r["sample_rate"]
            continue
        got = af.loc[r["media_id"]]
        x = s.astype(np.float64)
        assert got["sample_rate"] == sr
        assert abs(got["rms"] - round(float(np.sqrt((x ** 2).mean())), 6)) \
            < 1e-9
        sgn = np.sign(x)
        sgn[sgn == 0] = 1
        assert abs(got["zcr"]
                   - round(float((sgn[1:] != sgn[:-1]).mean()), 6)) < 1e-9
        mag = np.abs(np.fft.rfft(x))
        cent = float((mag * np.fft.rfftfreq(len(x), 1.0 / sr)).sum()
                     / mag.sum())
        assert abs(got["centroid_hz"] - round(cent, 6)) < 1e-6
        # |peak| on the float copy (np.abs overflows on int16 -32768)
        assert got["peak"] == int(np.abs(x).max())
    assert checked_wav > 0 and checked_flac > 0

    corrupted = media.withColumn(
        "payload", F.when(F.col("kind") == "audio",
                          F.lit(b"RIFFxxxxWAVE")).otherwise(F.col("payload")))
    bad = audio_features(corrupted).toPandas()
    assert (~bad["ok"]).all() and bad["rms"].isna().all()


def test_audio_peak_full_scale_negative(spark):
    """Regression: a WAV containing int16 -32768 must report peak 32768
    (np.abs on the int16 array overflows to -32768; the operator
    computes |peak| on the float copy)."""
    from webalizer_spark.operators.multimodal import (
        audio_features,
        encode_wav_pcm16,
    )

    s = np.array([-32768, 100, -5], dtype=np.int16)
    df = spark.createDataFrame(
        [(1, "audio", encode_wav_pcm16(s, 8000), 0, 0, 8000, 1)],
        "media_id long, kind string, payload binary, width int,"
        " height int, sample_rate int, n_frames int")
    got = audio_features(df).toPandas().iloc[0]
    assert bool(got["ok"]) and got["peak"] == 32768


def test_fake_container_never_misroutes_to_flic():
    """Round-5 advice: a fake-container payload whose width field's low
    16 bits equal FLIC's magic (w=44818 -> bytes 4:6 == 12 AF) must hit
    the exact 4-byte WSMM check first, not the weak offset-4 FLIC
    sniff."""
    import struct

    from webalizer_spark.operators.multimodal import _MAGIC, decode_media

    w, h = 44818, 1                    # 44818 & 0xFFFF == 0xAF12
    body = bytes(range(256)) * (w * h // 256 + 1)
    payload = _MAGIC + struct.pack("<IIII", w, h, 0, 0) + body[: w * h]
    arr, shape = decode_media(payload, "image")
    assert shape == (h, w)
    assert arr[0, 0] == 0 and arr[0, 255] == 255


def test_flic_sniff_requires_depth_8():
    """A non-WSMM blob with FLIC's 2-byte magic at offset 4 but an
    implausible depth field must NOT be routed to decode_flc."""
    import struct

    import pytest

    from webalizer_spark.operators.multimodal import decode_media

    blob = struct.pack("<IHHHHHH", 128, 0xAF12, 1, 8, 8, 24, 3)
    blob += b"\x00" * 128
    # depth 24 is not a FLIC depth -> falls through to _decode_real,
    # which raises (no external libs in-sandbox) instead of decode_flc
    # raising a corrupt-FLIC error
    with pytest.raises(Exception) as ei:
        decode_media(blob, "video")
    assert "FLC" not in str(ei.value)


def test_image_dhash_brightness_invariance_and_cross_format():
    """dHash properties, locally: (1) the same pixels encoded as BMP
    and as PNG hash identically (cross-format exact dup detection),
    (2) a uniform brightness shift leaves the hash unchanged (only
    neighbour ORDER matters), (3) a horizontal mirror flips every
    comparison -> maximal distance."""
    from webalizer_spark.operators.multimodal import (
        _dhash64,
        decode_media,
        encode_bmp24,
        encode_png,
    )

    grad = np.tile(np.arange(0, 180, 10, dtype=np.uint8), (16, 1))
    h_bmp = _dhash64(decode_media(encode_bmp24(grad), "image")[0])
    h_png = _dhash64(decode_media(encode_png(grad), "image")[0])
    assert h_bmp == h_png
    brighter = np.clip(grad.astype(np.int32) + 40, 0, 255).astype(np.uint8)
    assert _dhash64(brighter) == _dhash64(grad)
    mirrored = grad[:, ::-1]
    a, b = _dhash64(grad) & (2**64 - 1), _dhash64(mirrored) & (2**64 - 1)
    assert bin(a ^ b).count("1") == 64


def test_image_near_dup_pairs_end_to_end(spark):
    """Three images through the Spark path: A (gradient, as BMP),
    B = A brightness-shifted (as PNG — different container AND pixels,
    same structure -> distance 0), C = mirrored (-> distance 64, no
    pair). One corrupt row routes to ok=false and is excluded."""
    from webalizer_spark.operators.multimodal import (
        encode_bmp24,
        encode_png,
        image_dhash,
        image_near_dup_pairs,
    )

    grad = np.tile(np.arange(0, 180, 10, dtype=np.uint8), (16, 1))
    bright = np.clip(grad.astype(np.int32) + 40, 0, 255).astype(np.uint8)
    rows = [
        (1, "image", bytearray(encode_bmp24(grad))),
        (2, "image", bytearray(encode_png(bright))),
        (3, "image", bytearray(encode_bmp24(grad[:, ::-1].copy()))),
        (4, "image", bytearray(b"\x00garbage-not-an-image")),
        (5, "audio", bytearray(b"ignored: wrong kind")),
    ]
    media = spark.createDataFrame(
        rows, "media_id bigint, kind string, payload binary")
    sig = {r["media_id"]: r for r in image_dhash(media).collect()}
    assert set(sig) == {1, 2, 3, 4}          # kind!=image skipped
    assert sig[4]["ok"] is False
    assert sig[1]["dhash"] == sig[2]["dhash"]
    pairs = image_near_dup_pairs(media, max_hamming=10).collect()
    assert [(p["doc_a"], p["doc_b"], p["hamming"]) for p in pairs] \
        == [(1, 2, 0)]


def test_audio_fp_gain_and_container_invariance():
    """_audio_fp64 properties: (1) exact gain invariance (double
    differences of band energies are linear in the g^2 energy scale,
    signs unchanged), (2) WAV and FLAC of the same samples hash
    identically (lossless containers), (3) different audio content is
    far in Hamming distance, (4) too-short clips refuse."""
    import pytest

    from webalizer_spark.operators.flac import encode_flac
    from webalizer_spark.operators.multimodal import (
        _audio_fp64,
        decode_audio,
        encode_wav_pcm16,
    )

    rng = np.random.RandomState(7)
    t = np.arange(4000)
    sig = (3000 * np.sin(2 * np.pi * t / 50)
           + 1500 * np.sin(2 * np.pi * t / 13)
           + 400 * rng.randn(4000)).astype(np.int16)
    h = _audio_fp64(sig)
    assert _audio_fp64(sig.astype(np.float64) * 2.5) == h
    assert _audio_fp64(decode_audio(encode_wav_pcm16(sig, 16000))[0]) == h
    assert _audio_fp64(decode_audio(encode_flac(sig, 16000))[0]) == h
    other = (2000 * np.sin(2 * np.pi * t / 7)
             + 500 * rng.randn(4000)).astype(np.int16)
    dist = bin((_audio_fp64(other) ^ h) & (2**64 - 1)).count("1")
    assert dist > 20, dist
    with pytest.raises(ValueError, match="too short"):
        _audio_fp64(np.zeros(10, np.int16))


def test_audio_near_dup_pairs_end_to_end(spark):
    """Audio near-dup through the Spark path: WAV and FLAC of the same
    samples pair at distance 0; different content does not pair;
    corrupt payloads flag ok=false; non-audio rows are skipped."""
    from webalizer_spark.operators.flac import encode_flac
    from webalizer_spark.operators.multimodal import (
        audio_fingerprint,
        audio_near_dup_pairs,
        encode_wav_pcm16,
    )

    rng = np.random.RandomState(7)
    t = np.arange(4000)
    sig = (3000 * np.sin(2 * np.pi * t / 50)
           + 1500 * np.sin(2 * np.pi * t / 13)
           + 400 * rng.randn(4000)).astype(np.int16)
    other = (2000 * np.sin(2 * np.pi * t / 7)
             + 500 * rng.randn(4000)).astype(np.int16)
    rows = [
        (1, "audio", bytearray(encode_wav_pcm16(sig, 16000)), 16000),
        (2, "audio", bytearray(encode_flac(sig, 16000)), None),
        (3, "audio", bytearray(encode_wav_pcm16(other, 16000)), 16000),
        (4, "audio", bytearray(b"\x99not-audio-at-all"), None),
        (5, "image", bytearray(b"ignored: wrong kind"), None),
    ]
    media = spark.createDataFrame(
        rows, "media_id bigint, kind string, payload binary,"
              " sample_rate int")
    sig_rows = {r["media_id"]: r for r in audio_fingerprint(media).collect()}
    assert set(sig_rows) == {1, 2, 3, 4}
    assert sig_rows[4]["ok"] is False
    assert sig_rows[1]["afp"] == sig_rows[2]["afp"]
    pairs = audio_near_dup_pairs(media, max_hamming=10).collect()
    assert [(p["doc_a"], p["doc_b"], p["hamming"]) for p in pairs] \
        == [(1, 2, 0)]


def _demo_frames(nf=12, h=32, w=48):
    fr = np.empty((nf, h, w), np.uint8)
    for i in range(nf):
        base = 40 + 15 * np.sin(i / 2.0) + 8 * np.cos(i)
        fr[i] = np.clip(base + np.tile(np.arange(w), (h, 1)) * 0.5,
                        0, 255).astype(np.uint8)
    return fr


def test_video_fp_invariances():
    """_video_fp64 properties: exact gain invariance, stability under
    exact frame duplication, far distance for unrelated footage AND
    for time-reversed footage, single-frame refusal."""
    import pytest

    from webalizer_spark.operators.multimodal import _video_fp64

    fr = _demo_frames()
    v = _video_fp64(fr)
    assert _video_fp64(fr.astype(np.float64) * 1.7) == v
    assert _video_fp64(np.repeat(fr, 2, axis=0)) == v
    rng = np.random.RandomState(99)
    walk = np.cumsum(rng.choice([-9, 9], 12)) + 100
    fr2 = np.clip(walk[:, None, None] + np.zeros((12, 32, 48)),
                  0, 255).astype(np.uint8)
    assert bin((_video_fp64(fr2) ^ v) & (2**64 - 1)).count("1") > 15
    assert bin((_video_fp64(fr[::-1].copy()) ^ v)
               & (2**64 - 1)).count("1") > 15
    with pytest.raises(ValueError, match=">= 2 frames"):
        _video_fp64(fr[:1])



def test_video_near_dup_pairs_end_to_end(spark):
    """A Y4M master and a noisy re-encode of it pair up (per-pixel
    noise moves frame means only slightly); unrelated footage does
    not; corrupt rows flag ok=false and non-video rows are skipped."""
    from webalizer_spark.operators.multimodal import (
        encode_y4m,
        video_fingerprint,
        video_near_dup_pairs,
    )

    fr = _demo_frames()
    rng = np.random.RandomState(99)
    walk = np.cumsum(rng.choice([-9, 9], 12)) + 100
    fr2 = np.clip(walk[:, None, None] + np.zeros((12, 32, 48)),
                  0, 255).astype(np.uint8)
    noisy = np.clip(fr.astype(np.int16)
                    + rng.randint(-3, 4, fr.shape), 0, 255).astype(np.uint8)
    rows = [
        (1, "video", bytearray(encode_y4m(fr))),
        (2, "video", bytearray(encode_y4m(noisy))),
        (3, "video", bytearray(encode_y4m(fr2))),
        (4, "video", bytearray(encode_y4m(fr)[:-10])),
        (5, "audio", bytearray(b"ignored: wrong kind")),
    ]
    media = spark.createDataFrame(
        rows, "media_id bigint, kind string, payload binary")
    fp = {r["media_id"]: r for r in video_fingerprint(media).collect()}
    assert set(fp) == {1, 2, 3, 4}
    assert fp[4]["ok"] is False
    assert fp[1]["n_frames"] == fp[2]["n_frames"] == 12
    pairs = video_near_dup_pairs(media, max_hamming=10).collect()
    assert [(p["doc_a"], p["doc_b"]) for p in pairs] == [(1, 2)]
