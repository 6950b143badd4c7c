from __future__ import annotations

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


def test_audio_features_match_local_dsp(spark, media):
    """audio_features' RMS / zero-crossing rate / spectral centroid
    match a local numpy re-derivation on real WAV rows (true header
    sample rate), the fake container falls back to the metadata
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
    checked_wav = 0
    for r in rows:
        raw = bytes(r["payload"])
        if raw[:4] == b"RIFF":
            s, sr = decode_wav(raw)
            checked_wav += 1
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
    assert checked_wav > 0

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
    """A fake-container payload whose width field's low 16 bits equal
    the 2-byte FLIC magic (w=44818 -> bytes 4:6 == 12 AF) decodes as
    the fake container: the exact 4-byte WSMM check runs before every
    other sniff, so a weaker magic at an offset can never claim it."""
    import struct

    from webalizer_spark.operators.multimodal import _MAGIC, decode_media

    w, h = 44818, 1                    # 44818 & 0xFFFF == 0xAF12
    body = bytes(range(256)) * (w * h // 256 + 1)
    payload = _MAGIC + struct.pack("<IIII", w, h, 0, 0) + body[: w * h]
    arr, shape = decode_media(payload, "image")
    assert shape == (h, w)
    assert arr[0, 0] == 0 and arr[0, 255] == 255


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


def _wav_with_list_chunk(samples, sample_rate):
    """The same PCM16 samples in another WAV byte layout: an odd-sized
    LIST chunk (plus its pad byte) between the fmt and data chunks."""
    import struct

    from webalizer_spark.operators.multimodal import encode_wav_pcm16

    wav = encode_wav_pcm16(samples, sample_rate)
    body = wav[12:36] + b"LIST" + struct.pack("<I", 5) + b"INFOx\x00" \
        + wav[36:]                    # wav[12:36] is the fmt chunk
    return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body


def test_audio_fp_gain_and_container_invariance():
    """_audio_fp64 properties: (1) exact gain invariance (double
    differences of band energies are linear in the g^2 energy scale,
    signs unchanged), (2) two WAV byte layouts of the same samples hash
    identically (container invariance), (3) different audio content is
    far in Hamming distance, (4) too-short clips refuse."""
    import pytest

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
    assert _audio_fp64(decode_audio(_wav_with_list_chunk(sig, 22050))[0]) \
        == h
    other = (2000 * np.sin(2 * np.pi * t / 7)
             + 500 * rng.randn(4000)).astype(np.int16)
    dist = bin((_audio_fp64(other) ^ h) & (2**64 - 1)).count("1")
    assert dist > 20, dist
    with pytest.raises(ValueError, match="too short"):
        _audio_fp64(np.zeros(10, np.int16))


def test_audio_near_dup_pairs_end_to_end(spark):
    """Audio near-dup through the Spark path: two WAV byte layouts of
    the same samples pair at distance 0; different content does not
    pair; corrupt payloads flag ok=false; non-audio rows are skipped."""
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
        (2, "audio", bytearray(_wav_with_list_chunk(sig, 22050)), None),
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
