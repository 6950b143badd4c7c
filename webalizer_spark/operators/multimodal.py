"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

A 100 TB training-data pipeline carries media as `binary` columns with a
small typed metadata struct; decode / feature-extract / resize /
frame-sample run as Arrow-batched Python over mapInPandas (the only hot
path where Python is justified: codec libraries are not expressible as
Catalyst expressions).

Codec status: BMP (24-bit uncompressed), WAV (PCM16 mono) and PNG
(8-bit gray/RGB non-interlaced; stdlib zlib inflate + numpy unfilter
incl. the Paeth predictor) are REAL codecs implemented here — the
fixture generator emits genuine .bmp/.wav/.png payloads, and the
feature/resize paths decode them like any external tool would. Video
ships as REAL YUV4MPEG2 (C420 luma) streams any ffmpeg reads.
Formats needing external libraries (JPEG, GIF, FLAC, MPEG and other
compressed codecs) go through `_decode_real`, which raises
NotImplementedError behind an import-try (PIL / soundfile are not
dependencies of this package), so such rows route as corrupt; the deterministic
fake container covers those rows in tests. decode_media() sniffs the
payload magic and dispatches — swapping in PIL on a real cluster
changes ONE branch.

Scale notes: payloads dominate bytes, so the plan NEVER shuffles them —
decode is a narrow mapInPandas straight after the scan, features are
extracted in the same pass, and only the (tiny) feature rows continue to
joins/aggregates. spark.sql.execution.arrow.maxRecordsPerBatch bounds
Python-worker memory per batch.
"""

from __future__ import annotations

import hashlib
import os
import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MEDIA_SCHEMA = (
    "media_id bigint, kind string, payload binary,"
    " width int, height int, sample_rate int, n_frames int"
)

_MAGIC = b"WSMM"  # deterministic fake container: magic + dims + seeded bytes


# ---------------------------------------------------------------------------
# real codecs (pure numpy): BMP 24-bit uncompressed, WAV PCM16 mono
# ---------------------------------------------------------------------------


def encode_bmp24(gray: np.ndarray) -> bytes:
    """Encode a HxW uint8 grayscale array as a REAL 24-bit BMP file
    (B=G=R=v), bottom-up rows padded to 4 bytes — opens in any viewer."""
    h, w = gray.shape
    row_sz = (3 * w + 3) // 4 * 4
    data_sz = row_sz * h
    header = struct.pack("<2sIHHI", b"BM", 14 + 40 + data_sz, 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, data_sz,
                       2835, 2835, 0, 0)
    rows = np.zeros((h, row_sz), dtype=np.uint8)
    bgr = np.repeat(gray[:, :, None], 3, axis=2)  # B=G=R
    rows[:, :3 * w] = bgr.reshape(h, 3 * w)
    return header + info + rows[::-1].tobytes()  # bottom-up


def decode_bmp(payload: bytes) -> tuple[np.ndarray, tuple[int, int]]:
    """Decode an uncompressed 24-bit BMP to HxW uint8 grayscale (blue
    channel; the encoder writes B=G=R)."""
    if payload[:2] != b"BM":
        raise ValueError("not a BMP")
    off, = struct.unpack_from("<I", payload, 10)
    w, h = struct.unpack_from("<ii", payload, 18)
    bpp, = struct.unpack_from("<H", payload, 28)
    comp, = struct.unpack_from("<I", payload, 30)
    if bpp != 24 or comp != 0:
        raise ValueError(f"unsupported BMP (bpp={bpp}, comp={comp})")
    row_sz = (3 * w + 3) // 4 * 4
    rows = np.frombuffer(payload, dtype=np.uint8,
                         count=row_sz * abs(h), offset=off)
    rows = rows.reshape(abs(h), row_sz)[:, :3 * w].reshape(abs(h), w, 3)
    gray = rows[:, :, 0]
    if h > 0:
        gray = gray[::-1]  # bottom-up storage
    return np.ascontiguousarray(gray), (abs(h), w)


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    import zlib
    return (struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF))


def _paeth_vec(a: np.ndarray, b: np.ndarray, c: np.ndarray) -> np.ndarray:
    """Vectorized Paeth predictor (a=left, b=up, c=upper-left) [PNG spec
    §9.4]."""
    p = a + b - c
    pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
    return np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))


def encode_png(gray: np.ndarray, filter_type: int = 4) -> bytes:
    """Encode a HxW uint8 grayscale array as a REAL PNG (8-bit, color
    type 0, non-interlaced) — stdlib zlib deflate, correct CRCs, opens
    anywhere. filter_type 0 (None) or 4 (Paeth, the default) — Paeth
    exercises the decoder's sequential unfilter path."""
    import zlib

    h, w = gray.shape
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    raw = bytearray()
    prev = np.zeros(w, dtype=np.int32)
    for r in range(h):
        row = gray[r].astype(np.int32)
        if filter_type == 0:
            raw.append(0)
            raw += row.astype(np.uint8).tobytes()
        else:
            # filters predict from RECONSTRUCTED bytes == originals here
            raw.append(4)
            left = np.concatenate(([0], row[:-1]))
            ul = np.concatenate(([0], prev[:-1]))
            raw += ((row - _paeth_vec(left, prev, ul)) % 256) \
                .astype(np.uint8).tobytes()
        prev = row
    return (_PNG_SIG + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", zlib.compress(bytes(raw), 9))
            + _png_chunk(b"IEND", b""))


def decode_png(payload: bytes) -> tuple[np.ndarray, tuple[int, int]]:
    """Decode an 8-bit non-interlaced grayscale/RGB PNG to HxW uint8
    (RGB reads channel 0, matching the BMP convention) — pure stdlib
    zlib inflate + numpy unfilter, all five scanline filter types
    including the Paeth predictor. Multiple IDAT chunks concatenate per
    the spec; CRCs are not re-verified (zlib's adler32 covers the
    stream)."""
    import zlib

    if payload[:8] != _PNG_SIG:
        raise ValueError("not a PNG")
    pos, meta, idat = 8, None, bytearray()
    while pos + 8 <= len(payload):
        ln, = struct.unpack_from(">I", payload, pos)
        ctype = payload[pos + 4:pos + 8]
        data = payload[pos + 8:pos + 8 + ln]
        if ctype == b"IHDR":
            meta = struct.unpack(">IIBBBBB", data)
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
        pos += 12 + ln
    if meta is None:
        raise ValueError("PNG missing IHDR")
    w, h, depth, color, _comp, _filt, interlace = meta
    if depth != 8 or color not in (0, 2) or interlace != 0:
        raise ValueError(
            f"unsupported PNG (depth={depth}, color={color}, "
            f"interlace={interlace}; need 8-bit gray/RGB non-interlaced)")
    ch = 1 if color == 0 else 3
    rows = np.frombuffer(zlib.decompress(bytes(idat)), dtype=np.uint8) \
        .reshape(h, w * ch + 1)
    out = np.zeros((h, w * ch), dtype=np.uint8)
    for r in range(h):
        ft = int(rows[r, 0])
        cur = rows[r, 1:].astype(np.int32)
        up = out[r - 1].astype(np.int32) if r else np.zeros(w * ch, np.int32)
        if ft == 0:
            rec = cur
        elif ft == 2:            # Up: no left dependency -> vectorized
            rec = (cur + up) % 256
        elif ft in (1, 3, 4):    # Sub/Average/Paeth: sequential in x
            rec = np.zeros(w * ch, dtype=np.int32)
            for i in range(w * ch):
                a = int(rec[i - ch]) if i >= ch else 0
                b = int(up[i])
                c = int(up[i - ch]) if i >= ch else 0
                if ft == 1:
                    pred = a
                elif ft == 3:
                    pred = (a + b) // 2
                else:
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                rec[i] = (int(cur[i]) + pred) % 256
        else:
            raise ValueError(f"bad PNG filter type {ft}")
        out[r] = rec.astype(np.uint8)
    img = out.reshape(h, w, ch)[:, :, 0]
    return np.ascontiguousarray(img), (h, w)


def encode_y4m(frames: np.ndarray, fps: tuple[int, int] = (25, 1)) -> bytes:
    """Encode (nf, h, w) uint8 grayscale frames as a REAL YUV4MPEG2
    (C420jpeg) stream — the Y plane carries the frames, chroma planes
    are neutral 128. Any ffmpeg/mpv reads the output. Dims must be even
    (4:2:0 chroma subsampling)."""
    nf, h, w = frames.shape
    if h % 2 or w % 2:
        raise ValueError("y4m C420 needs even frame dimensions")
    head = f"YUV4MPEG2 W{w} H{h} F{fps[0]}:{fps[1]} Ip A1:1 C420jpeg\n"
    chroma = np.full((h // 2) * (w // 2), 128, np.uint8).tobytes()
    out = bytearray(head.encode("ascii"))
    for f in frames:
        out += b"FRAME\n" + f.astype(np.uint8).tobytes() + chroma + chroma
    return bytes(out)


def decode_y4m(payload: bytes) -> tuple[np.ndarray, tuple[int, int, int]]:
    """Decode a YUV4MPEG2 stream's luma: returns ((nf, h, w) uint8 Y
    planes, shape). Supports C420* chroma (the default and overwhelmingly
    common case); per-frame parameter strings after FRAME are tolerated
    per the spec."""
    if not payload.startswith(b"YUV4MPEG2"):
        raise ValueError("not a y4m")
    nl = payload.index(b"\n")
    w = h = None
    chroma = "420jpeg"
    for tok in payload[:nl].decode("ascii", "replace").split(" ")[1:]:
        if tok.startswith("W"):
            w = int(tok[1:])
        elif tok.startswith("H"):
            h = int(tok[1:])
        elif tok.startswith("C"):
            chroma = tok[1:]
    if w is None or h is None:
        raise ValueError("y4m missing W/H header fields")
    if not chroma.startswith("420"):
        raise ValueError(f"unsupported y4m chroma C{chroma} (need 4:2:0)")
    if w % 2 or h % 2:
        # 4:2:0 floor-division chroma math would silently shift every
        # subsequent frame's luma; the encoder rejects odd dims too
        raise ValueError("y4m C420 needs even frame dimensions")
    ysz = w * h
    fsz = ysz + 2 * ((w // 2) * (h // 2))
    pos = nl + 1
    frames = []
    while pos < len(payload):
        fnl = payload.index(b"\n", pos)
        if not payload[pos:fnl].startswith(b"FRAME"):
            raise ValueError("bad y4m FRAME marker")
        pos = fnl + 1
        if pos + fsz > len(payload):
            raise ValueError("y4m truncated mid-frame")
        frames.append(np.frombuffer(payload, np.uint8, ysz, pos)
                      .reshape(h, w))
        pos += fsz
    if not frames:
        raise ValueError("y4m has no frames")
    arr = np.ascontiguousarray(np.stack(frames))
    return arr, (len(frames), h, w)


def encode_wav_pcm16(samples: np.ndarray, sample_rate: int) -> bytes:
    """Encode int16 mono samples as a REAL RIFF/WAVE PCM16 file."""
    data = samples.astype("<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, sample_rate, sample_rate * 2, 2, 16)
    return (b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
            + b"fmt " + struct.pack("<I", 16) + fmt
            + b"data" + struct.pack("<I", len(data)) + data)


def decode_wav(payload: bytes) -> tuple[np.ndarray, int]:
    """Decode RIFF/WAVE PCM16 mono by walking the chunk list; returns
    (int16 samples, sample_rate)."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a WAV")
    pos, sr, samples = 12, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos:pos + 4]
        sz, = struct.unpack_from("<I", payload, pos + 4)
        if cid == b"fmt ":
            audio_fmt, channels, sr = struct.unpack_from(
                "<HHI", payload, pos + 8)
            if audio_fmt != 1 or channels != 1:
                raise ValueError("unsupported WAV (not PCM mono)")
        elif cid == b"data":
            samples = np.frombuffer(payload, dtype="<i2",
                                    count=sz // 2, offset=pos + 8)
        pos += 8 + sz + (sz & 1)
    if sr is None or samples is None:
        raise ValueError("WAV missing fmt/data chunk")
    return samples, sr


def gen_media(out_dir: str, n: int = 200, seed: int = 42) -> str:
    """Deterministic media fixture. Image rows rotate through REAL
    24-bit BMPs (even i), REAL Paeth-filtered PNGs (i%12==3) and the
    fake container (i%12==9, keeping the _decode_fake image branch
    fixture-covered); audio rows rotate through REAL PCM16 WAVs (i odd)
    and the fake container; video rows are REAL YUV4MPEG2 streams
    (i%6==2) or the self-describing fake container (standing in for
    codecs that need external libraries and keeping that branch
    fixture-covered)."""
    rng = np.random.default_rng(seed)
    rows = []
    kinds = ["image", "audio", "video"]
    for i in range(n):
        kind = kinds[i % 3]
        w = int(rng.integers(8, 64))
        h = int(rng.integers(8, 64))
        sr = int(rng.integers(8000, 48000)) if kind == "audio" else 0
        nf = int(rng.integers(4, 32)) if kind == "video" else 1
        body_len = w * h if kind == "image" else (nf * 64 if kind == "video" else 1024)
        body = rng.integers(0, 256, body_len, dtype=np.uint8)
        if kind == "image" and i % 2 == 0:
            payload = encode_bmp24(body.reshape(h, w))
        elif kind == "image" and i % 12 == 3:
            payload = encode_png(body.reshape(h, w))
        elif kind == "audio" and i % 2 == 1:
            payload = encode_wav_pcm16(
                (body.astype(np.int16) - 128) * 256, sr)
        elif kind == "video" and i % 6 == 2:
            w2, h2 = max(w // 2 * 2, 8), max(h // 2 * 2, 8)
            payload = encode_y4m(
                rng.integers(0, 256, (nf, h2, w2), dtype=np.uint8))
        else:
            payload = (_MAGIC + struct.pack("<IIII", w, h, sr, nf)
                       + body.tobytes())
        rows.append((i, kind, payload, w, h, sr, nf))
    tbl = pa.table({
        "media_id": pa.array([r[0] for r in rows], pa.int64()),
        "kind": pa.array([r[1] for r in rows]),
        "payload": pa.array([r[2] for r in rows], pa.binary()),
        "width": pa.array([r[3] for r in rows], pa.int32()),
        "height": pa.array([r[4] for r in rows], pa.int32()),
        "sample_rate": pa.array([r[5] for r in rows], pa.int32()),
        "n_frames": pa.array([r[6] for r in rows], pa.int32()),
    })
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "media.parquet")
    pq.write_table(tbl, path)
    return path


def _decode_real(payload: bytes, kind: str) -> np.ndarray:
    """External-library codec path — requires PIL/av, which this
    package does not depend on. JPEG, GIF, FLAC, MPEG and other
    compressed formats land here: BMP/PNG images, WAV audio and y4m
    video all decode natively above."""
    try:
        import PIL.Image  # noqa: F401
    except ImportError as e:
        raise NotImplementedError(
            "decode of this format requires PIL/soundfile/av; install on "
            "the cluster image — decode_media() will dispatch here") from e
    raise NotImplementedError("real decode not wired in this environment")


def _decode_fake(payload: bytes, kind: str) -> tuple[np.ndarray, tuple[int, ...]]:
    """Parse the deterministic fake container (magic + dims + bytes)."""
    assert payload[:4] == _MAGIC, "bad media payload"
    w, h, sr, nf = struct.unpack("<IIII", payload[4:20])
    body = np.frombuffer(payload[20:], dtype=np.uint8)
    if kind == "image":
        return body.reshape(h, w), (h, w)
    if kind == "video":
        return body.reshape(nf, 64), (nf, 64)
    return body, (len(body),)


def decode_media(payload: bytes, kind: str) -> tuple[np.ndarray, tuple[int, ...]]:
    """Magic-sniffing codec dispatch: real BMP/PNG/WAV decoders first,
    the deterministic fake container next, external-library formats
    last."""
    if payload[:4] == _MAGIC:
        # exact 4-byte container magic checked FIRST, so no later sniff
        # can claim a fake payload
        return _decode_fake(payload, kind)
    if payload[:8] == _PNG_SIG:
        return decode_png(payload)
    if payload[:9] == b"YUV4MPEG2":
        return decode_y4m(payload)
    if payload[:2] == b"BM":
        return decode_bmp(payload)
    if payload[:4] == b"RIFF":
        samples, _sr = decode_wav(payload)
        return samples, (len(samples),)
    arr = _decode_real(payload, kind)
    return arr, tuple(arr.shape)


FEATURE_SCHEMA = (
    "media_id bigint, kind string, ok boolean, mean_val double,"
    " std_val double, content_sha string, decoded_shape string"
)


def extract_features(media: DataFrame, batch_size: int = 64) -> DataFrame:
    """Decode + feature-extract in one Arrow-batched pass (no payload
    shuffle). Features: mean/std of decoded samples + content hash."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for mid, kind, payload in zip(pdf["media_id"], pdf["kind"],
                                          pdf["payload"]):
                try:
                    arr, shape = decode_media(bytes(payload), kind)
                    out.append((int(mid), kind, True, float(arr.mean()),
                                float(arr.std()),
                                hashlib.sha256(arr.tobytes()).hexdigest()[:16],
                                "x".join(map(str, shape))))
                except Exception:  # noqa: BLE001 — corrupt media -> errors row
                    out.append((int(mid), kind, False, None, None, None, None))
            yield pd.DataFrame(out, columns=[
                "media_id", "kind", "ok", "mean_val", "std_val",
                "content_sha", "decoded_shape"])

    return media.mapInPandas(fn, schema=FEATURE_SCHEMA)


RESIZE_SCHEMA = "media_id bigint, out_w int, out_h int, resized_sha string"


def resize_images(media: DataFrame, out_w: int = 8, out_h: int = 8) -> DataFrame:
    """Nearest-neighbor resize on decoded image arrays (pure numpy — the
    real path would call PIL; the plumbing is identical)."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for mid, kind, payload in zip(pdf["media_id"], pdf["kind"],
                                          pdf["payload"]):
                if kind != "image":
                    continue
                arr, shape = decode_media(bytes(payload), kind)
                h, w = shape[:2]      # grayscale (h,w) or color (h,w,3)
                yi = (np.arange(out_h) * h // out_h)
                xi = (np.arange(out_w) * w // out_w)
                small = arr[np.ix_(yi, xi)]   # indexes leading two axes
                out.append((int(mid), out_w, out_h,
                            hashlib.sha256(small.tobytes()).hexdigest()[:16]))
            yield pd.DataFrame(out, columns=["media_id", "out_w", "out_h",
                                             "resized_sha"])

    return media.mapInPandas(fn, schema=RESIZE_SCHEMA)


FRAME_SCHEMA = "media_id bigint, frame_idx int, frame_mean double"


def sample_frames(media: DataFrame, every: int = 4) -> DataFrame:
    """Frame sampling for video payloads: every Nth frame -> one row
    (the fan-out shape a video pipeline needs; frames stay small)."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for mid, kind, payload in zip(pdf["media_id"], pdf["kind"],
                                          pdf["payload"]):
                if kind != "video":
                    continue
                arr, shape = decode_media(bytes(payload), kind)
                for fi in range(0, shape[0], every):
                    out.append((int(mid), fi, float(arr[fi].mean())))
            yield pd.DataFrame(out, columns=["media_id", "frame_idx",
                                             "frame_mean"])

    return media.mapInPandas(fn, schema=FRAME_SCHEMA)


def _dhash64(arr: np.ndarray) -> int:
    """64-bit difference hash of a decoded image: block-mean the
    grayscale to 8 rows x 9 cols, compare horizontal neighbours, pack
    row-major. Invariant to uniform brightness/contrast shifts (only
    ORDER of neighbour means matters) — the property that makes dHash
    the standard cheap near-dup key for images. Pure numpy, exactly
    reproducible everywhere."""
    a = arr.astype(np.float64)
    if a.ndim == 3:
        a = a.mean(axis=2)
    h, w = a.shape
    means = np.empty((8, 9), dtype=np.float64)
    for i in range(8):
        r0, r1 = i * h // 8, max((i + 1) * h // 8, i * h // 8 + 1)
        for j in range(9):
            c0, c1 = j * w // 9, max((j + 1) * w // 9, j * w // 9 + 1)
            means[i, j] = a[r0:r1, c0:c1].mean()
    bits = 0
    for i in range(8):
        for j in range(8):
            if means[i, j] > means[i, j + 1]:
                bits |= 1 << (i * 8 + j)
    return bits - (1 << 64) if bits >= 1 << 63 else bits


DHASH_SCHEMA = "media_id bigint, ok boolean, dhash bigint"


def image_dhash(media: DataFrame) -> DataFrame:
    """Perceptual dHash per image row — decode + hash in one Arrow
    pass, payloads never shuffle; corrupt rows surface as ok=false.
    Identical pixels hash identically regardless of container format
    (a BMP and a PNG of the same image are exact dHash duplicates)."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for mid, kind, payload in zip(pdf["media_id"], pdf["kind"],
                                          pdf["payload"]):
                if kind != "image":
                    continue
                try:
                    arr, shape = decode_media(bytes(payload), kind)
                    if len(shape) < 2:
                        raise ValueError("not a 2-D image")
                    out.append((int(mid), True, _dhash64(arr)))
                except Exception:  # noqa: BLE001 — corrupt -> flagged row
                    out.append((int(mid), False, None))
            yield pd.DataFrame(out, columns=["media_id", "ok", "dhash"])

    return media.mapInPandas(fn, schema=DHASH_SCHEMA)


def image_near_dup_pairs(media: DataFrame, max_hamming: int = 10,
                         n_blocks: int = 16,
                         max_block_freq: int | None = None) -> DataFrame:
    """Near-duplicate image pairs: dHash + the SAME pigeonhole
    Hamming-join used for text SimHash (dedup.simhash_pairs, bits=64 —
    any pair within max_hamming agrees on a whole 4-bit block, so
    candidates come from an equi-join, never all-pairs). The multimodal
    bridge into the dedup stack: payloads decode narrowly to 8-byte
    fingerprints and only those cross any Exchange."""
    from webalizer_spark.operators.dedup import simhash_pairs

    sig = (image_dhash(media).filter(F.col("ok"))
           .select("media_id", F.col("dhash").alias("simhash")))
    return simhash_pairs(sig, max_hamming=max_hamming, bits=64,
                         n_blocks=n_blocks, id_col="media_id",
                         max_block_freq=max_block_freq)


def decode_audio(payload: bytes,
                 meta_sr: int | None = None) -> tuple[np.ndarray, int]:
    """Audio-payload dispatch returning (samples, sample_rate) — the
    one place the audio magic-sniff lives (decode_media drops the
    header rate, which feature extraction needs). The fake container
    has no header rate; meta_sr supplies the metadata column's value
    there (required in that case)."""
    if payload[:4] == b"RIFF":
        return decode_wav(payload)
    s, _shape = decode_media(payload, "audio")
    if meta_sr is None:
        raise ValueError("fake-container audio needs the metadata rate")
    return s, int(meta_sr)


AUDIO_FEATURE_SCHEMA = (
    "media_id bigint, ok boolean, n_samples bigint, sample_rate int,"
    " rms double, zcr double, centroid_hz double, peak int"
)


def audio_features(media: DataFrame, batch_size: int = 64) -> DataFrame:
    """Per-row audio DSP features over the audio rotation — the audio
    counterpart of resize_images/sample_frames: RMS level, zero-crossing
    rate (fraction of adjacent sample pairs changing sign — the classic
    cheap voiced/unvoiced and noisiness proxy) and spectral centroid in
    Hz (rFFT magnitude-weighted mean frequency — "brightness"), plus the
    true sample rate read from the WAV header (the fake container
    falls back to its metadata column). Pure numpy in one Arrow-batched
    mapInPandas pass; payloads never shuffle; corrupt rows route as
    ok=false like extract_features."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for mid, kind, payload, meta_sr in zip(
                    pdf["media_id"], pdf["kind"], pdf["payload"],
                    pdf["sample_rate"]):
                if kind != "audio":
                    continue
                try:
                    s, sr = decode_audio(bytes(payload), int(meta_sr))
                    x = s.astype(np.float64)
                    n = len(x)
                    rms = float(np.sqrt((x ** 2).mean())) if n else 0.0
                    sgn = np.sign(x)
                    sgn[sgn == 0] = 1
                    zcr = (float((sgn[1:] != sgn[:-1]).mean())
                           if n > 1 else 0.0)
                    if n:
                        mag = np.abs(np.fft.rfft(x))
                        freqs = np.fft.rfftfreq(n, d=1.0 / sr)
                        tot = float(mag.sum())
                        cent = (float((mag * freqs).sum() / tot)
                                if tot > 0 else 0.0)
                    else:
                        cent = 0.0
                    # |peak| on the float copy: np.abs overflows on
                    # int16(-32768)
                    peak = int(np.abs(x).max()) if n else 0
                    out.append((int(mid), True, n, int(sr),
                                round(rms, 6), round(zcr, 6),
                                round(cent, 6), peak))
                except Exception:  # noqa: BLE001 — corrupt -> errors row
                    out.append((int(mid), False, None, None, None, None,
                                None, None))
            yield pd.DataFrame(out, columns=[
                "media_id", "ok", "n_samples", "sample_rate", "rms",
                "zcr", "centroid_hz", "peak"])

    return (media.select("media_id", "kind", "payload", "sample_rate")
            .mapInPandas(fn, schema=AUDIO_FEATURE_SCHEMA))


def _audio_fp64(x: np.ndarray) -> int:
    """64-bit robust audio fingerprint (Haitsma-Kalker shape, single
    64-bit summary): split the clip into 9 equal time frames, rFFT
    each, sum magnitude energy into 9 equal frequency bands, and take
    the sign of the TIME-AND-FREQUENCY double difference
    (E[t+1,b] - E[t+1,b+1]) - (E[t,b] - E[t,b+1]) for t,b in 0..7 —
    64 bits, packed t-major. Uniform gain scales every E by g^2 and
    double-differencing is linear, so the sign (hence the whole
    fingerprint) is EXACTLY gain-invariant; any container carrying the
    same samples hashes identically. Pure numpy."""
    x = x.astype(np.float64)
    n = len(x)
    if n < 18:
        raise ValueError("clip too short to fingerprint (need >= 18 samples)")
    energies = np.empty((9, 9), dtype=np.float64)
    for t in range(9):
        seg = x[t * n // 9:(t + 1) * n // 9]
        mag = np.abs(np.fft.rfft(seg)) ** 2
        m = len(mag)
        for b in range(9):
            b0, b1 = b * m // 9, max((b + 1) * m // 9, b * m // 9 + 1)
            energies[t, b] = mag[b0:b1].sum()
    d = energies[:, :-1] - energies[:, 1:]        # freq difference
    dd = d[1:, :] - d[:-1, :]                     # then time difference
    bits = 0
    for t in range(8):
        for b in range(8):
            if dd[t, b] > 0:
                bits |= 1 << (t * 8 + b)
    return bits - (1 << 64) if bits >= 1 << 63 else bits


AFP_SCHEMA = "media_id bigint, ok boolean, afp bigint"


def audio_fingerprint(media: DataFrame) -> DataFrame:
    """Per-clip 64-bit audio fingerprint — decode + hash in one Arrow
    pass (payloads never shuffle), corrupt/too-short rows flagged
    ok=false. The audio leg of the multimodal near-dup bridge."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for mid, kind, payload, meta_sr in zip(
                    pdf["media_id"], pdf["kind"], pdf["payload"],
                    pdf["sample_rate"]):
                if kind != "audio":
                    continue
                try:
                    sr_hint = None if pd.isna(meta_sr) else int(meta_sr)
                    s, _sr = decode_audio(bytes(payload), sr_hint)
                    out.append((int(mid), True, _audio_fp64(s)))
                except Exception:  # noqa: BLE001 — corrupt -> flagged row
                    out.append((int(mid), False, None))
            yield pd.DataFrame(out, columns=["media_id", "ok", "afp"])

    return (media.select("media_id", "kind", "payload", "sample_rate")
            .mapInPandas(fn, schema=AFP_SCHEMA))


def audio_near_dup_pairs(media: DataFrame, max_hamming: int = 10,
                         n_blocks: int = 16,
                         max_block_freq: int | None = None) -> DataFrame:
    """Near-duplicate audio pairs: fingerprint + the SAME pigeonhole
    Hamming equi-join as text SimHash and image dHash
    (dedup.simhash_pairs at bits=64) — candidates from block-key
    equality, exact bit_count verification, never all-pairs. Only
    8-byte fingerprints cross any Exchange."""
    from webalizer_spark.operators.dedup import simhash_pairs

    sig = (audio_fingerprint(media).filter(F.col("ok"))
           .select("media_id", F.col("afp").alias("simhash")))
    return simhash_pairs(sig, max_hamming=max_hamming, bits=64,
                         n_blocks=n_blocks, id_col="media_id",
                         max_block_freq=max_block_freq)


def _video_fp64(frames: np.ndarray) -> int:
    """64-bit temporal video fingerprint: per-frame mean luma resampled
    (nearest-index) to 64 points across the clip, bit i = traj[i] >
    median(traj) — "which parts of the clip are brighter than its
    middle brightness". The median-threshold form (not adjacent-frame
    differences: with nf << 64 resampled neighbours usually repeat the
    SAME frame, zeroing most difference bits and collapsing distances
    between unrelated clips). Gain-invariant (the median scales with
    any uniform brightness factor, so every comparison is preserved)
    and stable under exact frame duplication (the resampled trajectory
    revisits the same frame means; pinned in tests). A constant-
    brightness clip hashes to all-zero bits — flat clips ARE mutual
    near-dups under a brightness-trajectory key, documented behavior.
    Needs >= 2 frames."""
    nf = frames.shape[0]
    if nf < 2:
        raise ValueError("video fingerprint needs >= 2 frames")
    means = frames.reshape(nf, -1).astype(np.float64).mean(axis=1)
    traj = means[(np.arange(64) * nf) // 64]
    med = float(np.median(traj))
    bits = 0
    for i in range(64):
        if traj[i] > med:
            bits |= 1 << i
    return bits - (1 << 64) if bits >= 1 << 63 else bits


VFP_SCHEMA = "media_id bigint, ok boolean, vfp bigint, n_frames int"


def video_fingerprint(media: DataFrame) -> DataFrame:
    """Per-video 64-bit temporal fingerprint (decode + hash in one
    Arrow pass; payloads never shuffle; corrupt or single-frame rows
    flag ok=false). Lossy-codec tolerance comes from the Hamming join
    downstream, not from the hash itself."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for mid, kind, payload in zip(pdf["media_id"], pdf["kind"],
                                          pdf["payload"]):
                if kind != "video":
                    continue
                try:
                    arr, shape = decode_media(bytes(payload), kind)
                    out.append((int(mid), True, _video_fp64(arr),
                                int(shape[0])))
                except Exception:  # noqa: BLE001 — corrupt -> flagged row
                    out.append((int(mid), False, None, None))
            yield pd.DataFrame(out,
                               columns=["media_id", "ok", "vfp", "n_frames"])

    return media.mapInPandas(fn, schema=VFP_SCHEMA)


def video_near_dup_pairs(media: DataFrame, max_hamming: int = 10,
                         n_blocks: int = 16,
                         max_block_freq: int | None = None) -> DataFrame:
    """Near-duplicate video pairs through the shared pigeonhole
    Hamming join (bits=64): re-encodes of the same footage (e.g. a Y4M
    master vs a lossy re-encode) land within a small Hamming distance
    because lossy coding perturbs frame means only slightly."""
    from webalizer_spark.operators.dedup import simhash_pairs

    sig = (video_fingerprint(media).filter(F.col("ok"))
           .select("media_id", F.col("vfp").alias("simhash")))
    return simhash_pairs(sig, max_hamming=max_hamming, bits=64,
                         n_blocks=n_blocks, id_col="media_id",
                         max_block_freq=max_block_freq)
