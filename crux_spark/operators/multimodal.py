"""Multimodal column plumbing: image/audio/video as opaque binary columns
with typed metadata, processed by Arrow-batched pandas UDFs.

The container has no image/audio LIBRARIES, so formats needing real
third-party codecs (MP4/video, MPEG audio Layer II/III SAMPLES) are
STUBBED behind a deterministic fake (clearly marked below). SIX
formats decode FOR REAL with pure stdlib+numpy parsers: PPM (P6), PNG
(zlib inflate + scanline filter reconstruction), baseline JPEG
(Huffman + IDCT, operators/jpeg.py), 16-bit PCM WAV, MPEG-1 Audio
Layer I (requantization + 32-band PQMF synthesis, operators/
mpeg_audio.py), and MJPEG-in-AVI video (RIFF container walk +
per-frame JPEG, operators/avi.py — sample_frames returns real
standalone JPEGs, features come from real frame pixels) — proving the
whole decode -> resize -> feature path end-to-end on actual
pixels/samples. All MPEG audio layers get the
REAL sync-frame metadata parser (duration/bitrate/VBR from the public
frame header layout; see parse_mp3); Layer II/III sample decode stays
stubbed because their bit-allocation/huffman tables are numeric spec
tables with no closed form (see mpeg_audio.py's docstring). Swapping
the remaining stubs for libvips/ffmpeg on a cluster with codecs
changes nothing Spark-side (schema, partition-preserving mapInPandas,
batch shapes, metadata structs).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("blob", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("mime", T.StringType()),
                    T.StructField("width", T.IntegerType()),
                    T.StructField("height", T.IntegerType()),
                    T.StructField("duration_ms", T.LongType()),
                ]
            ),
        ),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("byte_len", T.LongType(), False),
        T.StructField("features", T.ArrayType(T.DoubleType()), False),
    ]
)


# --- real codec: PPM P6 (uncompressed RGB, no libraries needed) --------


def decode_ppm(blob: bytes) -> "np.ndarray | None":
    """Parse a binary PPM (P6) into an (h, w, 3) uint8 array, or None if
    the blob isn't P6. Whitespace/comment-tolerant header per the netpbm
    spec."""
    if blob is None or not blob.startswith(b"P6"):
        return None
    pos, fields = 2, []
    while len(fields) < 3:
        while pos < len(blob) and blob[pos : pos + 1].isspace():
            pos += 1
        if blob[pos : pos + 1] == b"#":  # comment to end of line
            while pos < len(blob) and blob[pos : pos + 1] != b"\n":
                pos += 1
            continue
        start = pos
        while pos < len(blob) and not blob[pos : pos + 1].isspace():
            pos += 1
        fields.append(int(blob[start:pos]))
    pos += 1  # single whitespace after maxval
    w, h, maxval = fields
    if maxval > 255:
        return None  # 16-bit samples: out of scope
    data = np.frombuffer(blob, dtype=np.uint8, count=w * h * 3, offset=pos)
    return data.reshape(h, w, 3)


def encode_ppm(arr: "np.ndarray") -> bytes:
    h, w = arr.shape[:2]
    return b"P6\n%d %d\n255\n" % (w, h) + arr.astype(np.uint8).tobytes()


def _resize_nn(arr: "np.ndarray", w: int, h: int) -> "np.ndarray":
    """Nearest-neighbor resample via index grids — pure numpy."""
    ih, iw = arr.shape[:2]
    ys = (np.arange(h) * ih // h).clip(0, ih - 1)
    xs = (np.arange(w) * iw // w).clip(0, iw - 1)
    return arr[ys][:, xs]


def _image_features(arr: "np.ndarray", n_features: int = 8) -> list[float]:
    """Real image features: per-channel mean + std (in [0,1]) followed by
    a luminance histogram filling the remaining slots."""
    scaled = arr.astype(np.float64) / 255.0
    out = list(scaled.mean(axis=(0, 1))) + list(scaled.std(axis=(0, 1)))
    n_hist = max(0, n_features - len(out))
    if n_hist:
        lum = scaled.mean(axis=2).ravel()
        hist, _ = np.histogram(lum, bins=n_hist, range=(0.0, 1.0))
        out += list(hist / max(1, lum.size))
    return [float(round(x, 6)) for x in out[:n_features]]


# --- real codec: PNG (stdlib zlib + numpy filter reconstruction) -------


def decode_png(blob: bytes) -> "np.ndarray | None":
    """Parse an 8-bit non-interlaced PNG into an (h, w, 3) uint8 RGB
    array, or None if the blob isn't such a PNG. Pure stdlib: IHDR/PLTE/
    IDAT chunk walk, zlib inflate, then per-scanline filter
    reconstruction (None/Sub/Up/Average/Paeth, RFC 2083 §6) in numpy.
    Grayscale and alpha variants normalize to RGB (alpha dropped);
    16-bit depth and Adam7 interlace are out of scope (-> None)."""
    import zlib

    if blob is None or not blob.startswith(b"\x89PNG\r\n\x1a\n"):
        return None
    pos, idat, plte = 8, [], None
    width = height = bit_depth = color_type = interlace = None
    while pos + 8 <= len(blob):
        length = int.from_bytes(blob[pos : pos + 4], "big")
        ctype = blob[pos + 4 : pos + 8]
        body = blob[pos + 8 : pos + 8 + length]
        if ctype == b"IHDR":
            width = int.from_bytes(body[0:4], "big")
            height = int.from_bytes(body[4:8], "big")
            bit_depth, color_type, interlace = body[8], body[9], body[12]
        elif ctype == b"PLTE":
            plte = np.frombuffer(body, np.uint8).reshape(-1, 3)
        elif ctype == b"IDAT":
            idat.append(body)
        elif ctype == b"IEND":
            break
        pos += 12 + length  # length + type + crc
    if not width or bit_depth != 8 or interlace != 0:
        return None
    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(color_type)
    if channels is None:
        return None
    try:
        raw = zlib.decompress(b"".join(idat))
    except zlib.error:
        return None
    stride = width * channels
    if len(raw) < height * (stride + 1):
        return None
    raw = np.frombuffer(raw, np.uint8)[: height * (stride + 1)].reshape(
        height, stride + 1
    )
    bpp = channels  # bytes per pixel at 8-bit depth
    recon = np.zeros((height, stride), dtype=np.int64)
    for y in range(height):
        f, line = raw[y, 0], raw[y, 1:].astype(np.int64)
        prev = recon[y - 1] if y else np.zeros(stride, np.int64)
        if f == 0:  # None
            out = line
        elif f == 2:  # Up — vectorized across the row
            out = (line + prev) & 0xFF
        elif f in (1, 3, 4):  # Sub/Average/Paeth: sequential in x
            out = line
            for x in range(stride):
                a = out[x - bpp] if x >= bpp else 0
                if f == 1:
                    pred = a
                elif f == 3:
                    pred = (a + prev[x]) >> 1
                else:
                    b, c = prev[x], prev[x - bpp] if x >= bpp else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                out[x] = (out[x] + pred) & 0xFF
        else:
            return None
        recon[y] = out
    arr = recon.astype(np.uint8).reshape(height, width, channels)
    if color_type == 3:  # palette lookup
        if plte is None:
            return None
        return plte[arr[:, :, 0]]
    if channels == 1:
        return np.repeat(arr, 3, axis=2)
    if channels == 2:  # gray+alpha: drop alpha
        return np.repeat(arr[:, :, :1], 3, axis=2)
    if channels == 4:  # RGBA: drop alpha
        return arr[:, :, :3]
    return arr


def encode_png(arr: "np.ndarray") -> bytes:
    """Minimal RGB PNG writer (filter 0 scanlines, one zlib stream) —
    round-trips through decode_png; used by resize_media so resized PNGs
    stay PNGs."""
    import zlib

    h, w = arr.shape[:2]

    def chunk(ctype: bytes, body: bytes) -> bytes:
        return (
            len(body).to_bytes(4, "big")
            + ctype
            + body
            + zlib.crc32(ctype + body).to_bytes(4, "big")
        )

    ihdr = (
        w.to_bytes(4, "big") + h.to_bytes(4, "big") + bytes([8, 2, 0, 0, 0])
    )
    lines = np.concatenate(
        [
            np.zeros((h, 1), np.uint8),  # filter byte 0 per scanline
            arr.astype(np.uint8).reshape(h, w * 3),
        ],
        axis=1,
    )
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(lines.tobytes()))
        + chunk(b"IEND", b"")
    )


# --- real codec: WAV 16-bit PCM (RIFF parsing, no libraries needed) ----


def decode_wav(blob: bytes) -> "tuple[int, np.ndarray] | None":
    """Parse a RIFF/WAVE blob with 16-bit PCM samples into
    (sample_rate, mono float array in [-1,1]), or None if not such a
    WAV. Walks the chunk list properly (fmt may not be first)."""
    if blob is None or len(blob) < 44 or blob[:4] != b"RIFF" or blob[8:12] != b"WAVE":
        return None
    pos, rate, channels, bits, data = 12, None, None, None, None
    while pos + 8 <= len(blob):
        cid = blob[pos : pos + 4]
        size = int.from_bytes(blob[pos + 4 : pos + 8], "little")
        body = blob[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt = int.from_bytes(body[0:2], "little")
            channels = int.from_bytes(body[2:4], "little")
            rate = int.from_bytes(body[4:8], "little")
            bits = int.from_bytes(body[14:16], "little")
            if fmt != 1 or bits != 16:
                return None  # compressed or non-16-bit: out of scope
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if rate is None or data is None:
        return None
    samples = np.frombuffer(data, dtype="<i2").astype(np.float64) / 32768.0
    if channels and channels > 1:
        samples = samples[: len(samples) // channels * channels]
        samples = samples.reshape(-1, channels).mean(axis=1)
    return rate, samples


def _audio_features(rate: int, samples: "np.ndarray", n_features: int = 8) -> list[float]:
    """Real audio features: duration, RMS energy, zero-crossing rate,
    peak, then an energy histogram over equal time slices."""
    dur = len(samples) / rate if rate else 0.0
    rms = float(np.sqrt(np.mean(samples**2))) if len(samples) else 0.0
    zcr = (
        float(np.mean(np.abs(np.diff(np.sign(samples))) > 0))
        if len(samples) > 1
        else 0.0
    )
    peak = float(np.max(np.abs(samples))) if len(samples) else 0.0
    out = [dur, rms, zcr, peak]
    n_hist = max(0, n_features - len(out))
    if n_hist and len(samples):
        slices = np.array_split(samples, n_hist)
        out += [float(np.sqrt(np.mean(s**2))) if len(s) else 0.0 for s in slices]
    return [float(round(x, 6)) for x in out[:n_features]]


# --- real parser: MP3 sync-frame walk (metadata, no sample decode) -----
#
# Frame header layout from the PUBLIC spec (ISO/IEC 11172-3 §2.4.1.3 /
# 13818-3 for MPEG-2, widely documented): 11 sync bits, 2 version bits,
# 2 layer bits, protection, 4 bitrate-index, 2 samplerate-index,
# padding, private, 2 channel-mode, ... Full audio decode needs the
# polyphase filterbank — out of scope in-sandbox — but duration /
# bitrate / VBR metadata come straight from walking the frame headers,
# which is what media cataloging needs first.

_MP3_BITRATE = {  # kbps by (mpeg1?, layer) -> index table; 0 = free
    (True, 1): [0, 32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352, 384, 416, 448],
    (True, 2): [0, 32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 384],
    (True, 3): [0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320],
    (False, 1): [0, 32, 48, 56, 64, 80, 96, 112, 128, 144, 160, 176, 192, 224, 256],
    (False, 2): [0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160],
    (False, 3): [0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160],
}
_MP3_RATES = {  # Hz by version bits (00=2.5, 10=2, 11=1)
    3: [44100, 48000, 32000],
    2: [22050, 24000, 16000],
    0: [11025, 12000, 8000],
}


def parse_mp3(blob: bytes) -> "dict | None":
    """Walk the sync frames of an MPEG audio stream; returns
    {version, layer, sample_rate, n_frames, duration_s, bitrate_kbps,
    vbr, mode} or None if no coherent frame sequence is found. Skips a
    leading ID3v2 tag (10-byte header + syncsafe size); resyncs past
    garbage between frames."""
    if blob is None or len(blob) < 4:
        return None
    i = 0
    if blob[:3] == b"ID3" and len(blob) >= 10:
        sz = (
            (blob[6] & 0x7F) << 21
            | (blob[7] & 0x7F) << 14
            | (blob[8] & 0x7F) << 7
            | (blob[9] & 0x7F)
        )
        i = 10 + sz
    n_frames = 0
    duration = 0.0
    bitrates: set[int] = set()
    first: dict | None = None
    while i + 4 <= len(blob):
        if not (blob[i] == 0xFF and (blob[i + 1] & 0xE0) == 0xE0):
            if n_frames:  # trailing tag/garbage after a valid stream
                break
            i += 1  # resync before the first frame
            continue
        h1, h2, h3 = blob[i + 1], blob[i + 2], blob[i + 3]
        ver_bits = (h1 >> 3) & 0x3
        layer_bits = (h1 >> 1) & 0x3
        br_idx = (h2 >> 4) & 0xF
        sr_idx = (h2 >> 2) & 0x3
        padding = (h2 >> 1) & 0x1
        mode = (h3 >> 6) & 0x3
        if ver_bits == 1 or layer_bits == 0 or br_idx in (0, 15) or sr_idx == 3:
            if n_frames:
                break
            i += 1
            continue
        mpeg1 = ver_bits == 3
        layer = 4 - layer_bits  # bits 11=I, 10=II, 01=III
        kbps = _MP3_BITRATE[(mpeg1, layer)][br_idx]
        rate = _MP3_RATES[ver_bits][sr_idx]
        if layer == 1:
            samples, flen = 384, (12 * kbps * 1000 // rate + padding) * 4
        else:
            samples = 1152 if (mpeg1 or layer == 2) else 576
            coef = samples // 8
            flen = coef * kbps * 1000 // rate + padding
        if flen <= 4:
            break
        if first is None:
            first = {
                "version": "1" if mpeg1 else ("2" if ver_bits == 2 else "2.5"),
                "layer": layer,
                "sample_rate": rate,
                "mode": ["stereo", "joint_stereo", "dual_channel", "mono"][mode],
            }
        n_frames += 1
        duration += samples / rate
        bitrates.add(kbps)
        i += flen
    if not n_frames or first is None:
        return None
    vbr = len(bitrates) > 1
    return {
        **first,
        "n_frames": n_frames,
        "duration_s": round(duration, 3),
        "bitrate_kbps": round(sum(bitrates) / len(bitrates))
        if vbr
        else next(iter(bitrates)),
        "vbr": vbr,
    }


METADATA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("sample_rate", T.IntegerType(), True),
        T.StructField("duration_s", T.DoubleType(), True),
        T.StructField("bitrate_kbps", T.IntegerType(), True),
    ]
)


def _meta_one(b):
    """Per-blob format sniff + metadata tuple (kind, width, height,
    sample_rate, duration_s, bitrate_kbps) — the media_metadata codec
    path, hoisted so the fused verification pass exercises the SAME
    function."""
    if b is None:
        return ("unknown", None, None, None, None, None)
    arr = _decode_image(b)
    if arr is not None:
        kind = (
            "ppm" if b[:2] == b"P6"
            else "png" if b[:8] == b"\x89PNG\r\n\x1a\n"
            else "jpeg"
        )
        return (kind, int(arr.shape[1]), int(arr.shape[0]), None, None, None)
    if b[:4] == b"RIFF" and b[8:12] == b"AVI ":
        from crux_spark.operators.avi import parse_avi

        avi = parse_avi(b)
        if avi is not None:
            return ("avi", avi.get("width"), avi.get("height"), None,
                    round(avi["duration_ms"] / 1000.0, 3)
                    if avi.get("duration_ms") is not None else None,
                    None)
    wav = decode_wav(b)
    if wav is not None:
        rate, samples = wav
        return ("wav", None, None, int(rate),
                round(len(samples) / rate, 3), None)
    mp3 = parse_mp3(b)
    if mp3 is not None:
        return ("mp3", None, None, int(mp3["sample_rate"]),
                mp3["duration_s"], int(mp3["bitrate_kbps"]))
    return ("unknown", None, None, None, None, None)


def media_metadata(media: DataFrame) -> DataFrame:
    """Per-blob format sniff + metadata: real parses for PPM/PNG/JPEG
    (dimensions), WAV (rate/duration) and MP3 (frame-walk duration /
    bitrate); 'unknown' otherwise. Arrow-batched, partition-preserving
    — the cataloging pass a media pipeline runs before deciding what to
    decode where."""
    meta = _meta_one

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ms = pdf["blob"].map(meta)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": ms.map(lambda m: m[0]),
                    "width": ms.map(lambda m: m[1]),
                    "height": ms.map(lambda m: m[2]),
                    "sample_rate": ms.map(lambda m: m[3]),
                    "duration_s": ms.map(lambda m: m[4]),
                    "bitrate_kbps": ms.map(lambda m: m[5]),
                }
            )

    return media.select("media_id", "blob").mapInPandas(run, METADATA_SCHEMA)


def _decode_image(b: bytes) -> "np.ndarray | None":
    """Try every REAL image codec: PPM P6, PNG, baseline JPEG."""
    arr = decode_ppm(b)
    if arr is None:
        arr = decode_png(b)
    if arr is None:
        from crux_spark.operators.jpeg import decode_jpeg

        arr = decode_jpeg(b)
    return arr


def _fake_decode(blob: bytes, n_features: int = 8) -> list[float]:
    """STUB decode: deterministic per-byte-histogram 'features'.

    A real deployment replaces this with PIL/libvips (images) or
    ffmpeg/torchaudio (audio/video). NotImplementedError would also be
    acceptable here; the deterministic fake lets the batch plumbing be
    asserted end-to-end in tests.
    """
    if blob is None:
        return [0.0] * n_features
    buckets = [0] * n_features
    for by in blob:
        buckets[by % n_features] += 1
    total = max(1, len(blob))
    return [b / total for b in buckets]


def _features_one(b, n_features: int = 8):
    """Per-blob decoded feature vector — the extract_features codec
    path, hoisted so the fused verification pass exercises the SAME
    function."""
    arr = _decode_image(b)
    if arr is not None:  # real decode for P6 / PNG / baseline JPEG
        return _image_features(arr, n_features)
    if b is not None and bytes(b[:4]) == b"RIFF" and bytes(b[8:12]) == b"AVI ":
        # real video features for MJPEG AVI: middle frame's pixels
        from crux_spark.operators.avi import avi_frames

        fr = avi_frames(bytes(b))
        if fr:
            mid = _decode_image(fr[len(fr) // 2])
            if mid is not None:
                return _image_features(mid, n_features)
    wav = decode_wav(b)
    if wav is not None:  # real decode for 16-bit PCM WAV
        return _audio_features(*wav, n_features)
    if b is not None and len(b) > 4 and (
        b[:3] == b"ID3" or (b[0] == 0xFF and (b[1] & 0xE0) == 0xE0)
    ):
        # real sample decode for MPEG-1 Layer I (PQMF synthesis,
        # mpeg_audio.py); Layer II/III raise there (labeled stub:
        # their allocation/huffman tables are numeric spec tables)
        # and fall through to the byte-histogram fake
        try:
            from crux_spark.operators.mpeg_audio import decode_layer1

            dec = decode_layer1(b)
            if dec is not None:
                return _audio_features(*dec, n_features)
        except NotImplementedError:
            pass
    return _fake_decode(b, n_features)


def extract_features(media: DataFrame, n_features: int = 8) -> DataFrame:
    """Arrow-batched feature extraction over binary blobs.

    mapInPandas streams record batches through Python once — no per-row
    pickling; partitioning of the input is preserved (no shuffle).
    """

    def feats(b):
        return _features_one(b, n_features)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "byte_len": pdf["blob"].map(lambda b: 0 if b is None else len(b)),
                    "features": pdf["blob"].map(feats),
                }
            )

    return media.select("media_id", "blob").mapInPandas(run, FEATURE_SCHEMA)


def documents_as_media(docs: DataFrame) -> DataFrame:
    """Adapter: treat the documents table's text as utf-8 blobs so the
    binary pipeline can be exercised against driver testdata."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode("text", "utf-8").alias("blob"),
        F.struct(
            F.lit("text/plain").alias("mime"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("long").alias("duration_ms"),
        ).alias("meta"),
    )


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("blob", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("mime", T.StringType()),
                    T.StructField("width", T.IntegerType()),
                    T.StructField("height", T.IntegerType()),
                    T.StructField("duration_ms", T.LongType()),
                ]
            ),
        ),
    ]
)


def _fake_resize(blob: bytes, w: int, h: int) -> bytes:
    """STUB resize: deterministic byte resampling to w*h bytes (nearest-
    neighbor over the input byte stream). Replace with PIL/libvips
    `thumbnail`; the batch plumbing stays identical."""
    if blob is None:
        return None
    n = max(1, w * h)
    if not blob:
        return bytes(n)
    return bytes(blob[(i * len(blob)) // n] for i in range(n))


def resize_media(media: DataFrame, width: int, height: int) -> DataFrame:
    """Arrow-batched resize over binary blobs: partition-preserving
    mapInPandas (no shuffle), meta struct rewritten with the new
    dimensions; mime and duration carry through."""

    def do_resize(b):
        arr = decode_ppm(b)
        if arr is not None:  # real nearest-neighbor resample for P6
            return encode_ppm(_resize_nn(arr, width, height))
        arr = decode_png(b)
        if arr is not None:  # real resample for PNG, re-encoded as PNG
            return encode_png(_resize_nn(arr, width, height))
        if b is not None and b[:2] == b"\xff\xd8":
            from crux_spark.operators.jpeg import decode_jpeg, encode_jpeg

            arr = decode_jpeg(b)
            if arr is not None:  # real resample for baseline JPEG
                return encode_jpeg(_resize_nn(arr, width, height))
        return _fake_resize(b, width, height)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            meta = pd.DataFrame(
                {
                    "mime": pdf["meta"].map(lambda m: m["mime"] if m else None),
                    "width": width,
                    "height": height,
                    "duration_ms": pdf["meta"].map(
                        lambda m: m["duration_ms"] if m else None
                    ),
                }
            )
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "blob": pdf["blob"].map(do_resize),
                    "meta": meta.to_dict("records"),
                }
            )

    return media.select("media_id", "blob", "meta").mapInPandas(run, RESIZED_SCHEMA)


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("frame_idx", T.IntegerType(), False),
        T.StructField("ts_ms", T.LongType(), False),
        T.StructField("frame", T.BinaryType(), True),
    ]
)


def sample_frames(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Frame sampling for video/audio blobs: the frame-timestamp fan-out is
    a JVM-side `sequence`+`explode` over meta.duration_ms (NOT a Python
    UDF — at 100 TB the fan-out multiplies row counts and must stay in
    codegen); only the per-frame decode crosses into an Arrow-batched
    pandas UDF, and it is stubbed like the other codecs.
    """
    with_ts = media.filter(F.col("meta.duration_ms").isNotNull()).select(
        "media_id",
        "blob",
        F.posexplode(
            F.sequence(
                F.lit(0).cast("long"),
                (F.col("meta.duration_ms") - 1).cast("long"),
                F.lit(int(every_ms)).cast("long"),
            )
        ).alias("frame_idx", "ts_ms"),
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # REAL frame extraction for MJPEG-in-AVI (RIFF walk ->
            # per-frame standalone JPEG, operators/avi.py); other
            # containers fall back to the 16-byte STUB slice (replace
            # with an ffmpeg seek+decode on a cluster with codecs)
            def frame_of(row):
                b, ts = row["blob"], row["ts_ms"]
                if b is None or not len(b):
                    return None
                if bytes(b[:4]) == b"RIFF" and bytes(b[8:12]) == b"AVI ":
                    from crux_spark.operators.avi import decode_avi_frame

                    jpg = decode_avi_frame(bytes(b), int(ts))
                    if jpg is not None:
                        return jpg
                off = int(ts) % max(1, len(b))
                return bytes(b[off : off + 16])

            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "frame_idx": pdf["frame_idx"].astype("int32"),
                    "ts_ms": pdf["ts_ms"],
                    "frame": pdf.apply(frame_of, axis=1) if len(pdf) else pdf["blob"],
                }
            )

    return with_ts.mapInPandas(run, FRAME_SCHEMA)


def encode_wav(samples_i16: "np.ndarray", rate: int = 8000) -> bytes:
    """Minimal RIFF/WAVE writer: 16-bit PCM mono — the encode twin of
    decode_wav, used by the synthetic verification harness and tests."""
    data = np.asarray(samples_i16, dtype="<i2").tobytes()
    return (
        b"RIFF" + (36 + len(data)).to_bytes(4, "little") + b"WAVE"
        + b"fmt " + (16).to_bytes(4, "little")
        + (1).to_bytes(2, "little")            # PCM
        + (1).to_bytes(2, "little")            # mono
        + rate.to_bytes(4, "little")
        + (rate * 2).to_bytes(4, "little")     # byte rate
        + (2).to_bytes(2, "little")            # block align
        + (16).to_bytes(2, "little")           # bits
        + b"data" + len(data).to_bytes(4, "little") + data
    )


def synthetic_verification_media(docs: DataFrame) -> "tuple[DataFrame, DataFrame]":
    """Deterministic PPM + WAV blobs derived from doc_id, whose DECODED
    features have exact closed forms — the driver-oracle harness for the
    real codecs (r9 verdict: the multimodal gate oracled byte_len only;
    this one lets DuckDB value-check decoded pixels and samples).

    Per doc d:
    - P6 image, width w = 3 + d%13, height h = 2 + d%7; pixel (x,y) is
      (r,g,b) = ((x+y)%256, (2x+y)%256, 255-(x+y)%256). With w<=15,
      h<=8 no modulus wraps, so the channel means are exactly
      ((w-1)+(h-1))/2, (2(w-1)+(h-1))/2 and 255-((w-1)+(h-1))/2.
    - 16-bit mono PCM WAV at 8000 Hz, n = 9*(1+d%5) samples,
      s_i = ((i%9)-4) * (1000+500*(d%4)). n is a whole number of the
      period-9 pattern, so mean(s^2) = 60*amp^2/9 exactly (the per-term
      squares and their sum are exact dyadic doubles), giving
      rms = sqrt(60/9)*amp/32768 and peak = 4*amp/32768.

    Returns (images, wavs) media frames; blobs build in one Arrow pass
    each (map-only, partition-preserving)."""

    def build(batches, make):
        for pdf in batches:
            ids = pdf["doc_id"].astype("int64")
            yield pd.DataFrame(
                {"media_id": ids, "blob": [make(int(d)) for d in ids]}
            )

    base = docs.select("doc_id")
    schema = "media_id long, blob binary"
    images = base.mapInPandas(lambda it: build(it, _make_verification_ppm), schema)
    wavs = base.mapInPandas(lambda it: build(it, _make_verification_wav), schema)
    return images, wavs


def _make_verification_ppm(d: int) -> bytes:
    w, h = 3 + d % 13, 2 + d % 7
    x = np.arange(w)[None, :]
    y = np.arange(h)[:, None]
    arr = np.stack(
        [(x + y) % 256, (2 * x + y) % 256, 255 - (x + y) % 256], axis=2
    )
    return encode_ppm(np.broadcast_to(arr, (h, w, 3)))


def _make_verification_wav(d: int) -> bytes:
    amp, n = 1000 + 500 * (d % 4), 9 * (1 + d % 5)
    i = np.arange(n)
    return encode_wav((i % 9 - 4) * amp, rate=8000)


def decode_verification_media(docs: DataFrame) -> DataFrame:
    """ONE Arrow pass for the multimodal verification harness (guide
    §4: the gate previously ran FOUR mapInPandas passes — each of which
    re-synthesized its blobs — and re-joined them on media_id three
    times). Per doc: synthesize the PPM + WAV blobs and push each
    through the SAME per-blob codec functions the batch operators run
    (_meta_one = media_metadata's parser, _features_one =
    extract_features' decoder), emitting every decoded value in one
    row. Raw doubles come back untouched so the caller applies the
    identical rounding expressions the four-pass form used.

    The doc_id list is spread to the session's parallelism before the
    pass (guide §2.4): the per-row codec work is CPU-bound and the id
    column is 8 bytes/row, while the source corpus often arrives as a
    single scan split — without the spread the fused pass runs in ONE
    task (the four-pass form at least overlapped four 1-task stages).
    `_spread` skips the exchange whenever the scan already fills the
    cores, so at scale this is a no-op."""
    from crux_spark._conf import _spread
    schema = (
        "media_id long, width long, height long, f0 double, f1 double, "
        "f2 double, sample_rate long, rms double, peak double"
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k: [] for k in (
                "media_id", "width", "height", "f0", "f1", "f2",
                "sample_rate", "rms", "peak",
            )}
            for d in pdf["doc_id"].astype("int64"):
                d = int(d)
                img = _make_verification_ppm(d)
                wav = _make_verification_wav(d)
                m_img = _meta_one(img)
                m_wav = _meta_one(wav)
                f_img = _features_one(img)
                f_wav = _features_one(wav)
                rows["media_id"].append(d)
                rows["width"].append(m_img[1])
                rows["height"].append(m_img[2])
                rows["f0"].append(f_img[0])
                rows["f1"].append(f_img[1])
                rows["f2"].append(f_img[2])
                rows["sample_rate"].append(m_wav[3])
                rows["rms"].append(f_wav[1])
                rows["peak"].append(f_wav[3])
            yield pd.DataFrame(rows)

    return _spread(docs.select("doc_id")).mapInPandas(run, schema)
