"""Multimodal column operators (north-star extension).

Images/audio/video ride through the engine as opaque ``binary`` columns
with a typed metadata struct — the pattern a 100 TB training-data
pipeline needs: the bytes never leave the executor, Python touches them
only in Arrow-batched ``mapInPandas`` stages, and every stage is a
narrow transformation (no shuffle).

The actual codec work (JPEG decode, resampling, frame extraction) needs
image/audio libraries that are NOT in this container, so the decode
kernels are STUBBED behind ``DecoderUnavailable`` with a deterministic
fake implementation used by default — the Spark-side plumbing (schema,
batch iteration, UDF signatures, partitioning) is real and tested.
"""

from __future__ import annotations

import hashlib
import struct
import zlib
from collections.abc import Iterator
from typing import Callable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# schema of the typed metadata carried beside the raw bytes
MEDIA_META_SCHEMA = T.StructType(
    [
        T.StructField("media_type", T.StringType()),  # image|audio|video
        T.StructField("format", T.StringType()),  # jpeg|png|wav|mp4|...
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_channels", T.IntegerType()),
        T.StructField("duration_ms", T.LongType()),
    ]
)


class DecoderUnavailable(NotImplementedError):
    """Raised by the real-codec path: decode libs aren't in this image."""


_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}  # gray, rgb, gray+a, rgba


def decode_png(data: bytes) -> tuple[int, int, int, bytes]:
    """REAL PNG decode, pure stdlib (zlib inflate + scanline
    de-filtering, all five filter types), no Pillow required: returns
    ``(width, height, n_channels, pixel_bytes)`` with pixels in
    row-major interleaved order. Supports the common subset — 8-bit
    depth, gray/RGB/gray+alpha/RGBA, non-interlaced — and raises
    ``DecoderUnavailable`` outside it.

    The per-byte Python de-filter loop is test/fixture-speed, not
    production-speed; at scale swap the kernel for Pillow/opencv via
    ``extract_features(kernel=...)`` — the Spark-side plumbing is
    identical either way.
    """
    if data is None or data[:8] != _PNG_MAGIC:
        raise DecoderUnavailable("not a PNG byte stream")
    pos, idat, hdr = 8, b"", None
    # corrupt-but-magic'd streams (truncated IHDR, garbage IDAT) must
    # surface as DecoderUnavailable like every other unsupported input —
    # the contract decode_wav already keeps ("DecoderUnavailable, not
    # struct.error"): callers with a fallback path (perceptual_hash63)
    # rely on catching ONE exception type, and one poisoned blob in a
    # crawl must not kill the whole job
    try:
        while pos + 8 <= len(data):
            (ln,), typ = struct.unpack(">I", data[pos : pos + 4]), data[pos + 4 : pos + 8]
            chunk = data[pos + 8 : pos + 8 + ln]
            pos += 12 + ln  # length + type + data + CRC
            if typ == b"IHDR":
                hdr = struct.unpack(">IIBBBBB", chunk)
            elif typ == b"IDAT":
                idat += chunk
            elif typ == b"IEND":
                break
    except struct.error as exc:
        raise DecoderUnavailable(f"corrupt PNG chunk structure: {exc}") from exc
    if hdr is None:
        raise DecoderUnavailable("PNG missing IHDR")
    w, h, depth, ctype, _comp, _filt, interlace = hdr
    if depth != 8 or ctype not in _PNG_CHANNELS or interlace != 0:
        raise DecoderUnavailable(
            f"unsupported PNG variant (depth={depth} colortype={ctype} interlace={interlace})"
        )
    ch = _PNG_CHANNELS[ctype]
    stride = w * ch
    try:
        raw = zlib.decompress(idat)
    except zlib.error as exc:
        raise DecoderUnavailable(f"corrupt PNG IDAT payload: {exc}") from exc
    if len(raw) != h * (stride + 1):
        raise DecoderUnavailable("PNG scanline payload has wrong size")
    out = bytearray()
    prev = bytearray(stride)
    i = 0
    for _y in range(h):
        f = raw[i]
        line = bytearray(raw[i + 1 : i + 1 + stride])
        i += 1 + stride
        if f == 1:  # Sub
            for x in range(ch, stride):
                line[x] = (line[x] + line[x - ch]) & 0xFF
        elif f == 2:  # Up
            for x in range(stride):
                line[x] = (line[x] + prev[x]) & 0xFF
        elif f == 3:  # Average
            for x in range(stride):
                a = line[x - ch] if x >= ch else 0
                line[x] = (line[x] + ((a + prev[x]) >> 1)) & 0xFF
        elif f == 4:  # Paeth
            for x in range(stride):
                a = line[x - ch] if x >= ch else 0
                b = prev[x]
                c = prev[x - ch] if x >= ch else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                line[x] = (line[x] + pred) & 0xFF
        elif f != 0:
            raise DecoderUnavailable(f"unknown PNG filter type {f}")
        out += line
        prev = line
    return w, h, ch, bytes(out)


_WAV_MAGIC = b"RIFF"


def decode_wav(data: bytes) -> tuple[int, int, int, int, bytes]:
    """REAL WAV (RIFF/PCM) decode, pure stdlib struct parsing: returns
    ``(sample_rate, n_channels, bits_per_sample, n_frames, pcm_bytes)``.
    Supports integer PCM (format tag 1) at 8/16 bits — the training-
    audio interchange subset; compressed variants (float, ADPCM, ...)
    raise ``DecoderUnavailable`` the same way non-PNG images do.

    Like ``decode_png`` this is the fixture-speed reference kernel
    proving the mapInPandas plumbing end-to-end; production swaps in
    soundfile/ffmpeg via the pluggable kernel argument.
    """
    if data is None or data[:4] != _WAV_MAGIC or data[8:12] != b"WAVE":
        raise DecoderUnavailable("not a RIFF/WAVE byte stream")
    pos, fmt, pcm = 12, None, None
    while pos + 8 <= len(data):
        cid, ln = data[pos : pos + 4], struct.unpack("<I", data[pos + 4 : pos + 8])[0]
        body = data[pos + 8 : pos + 8 + ln]
        pos += 8 + ln + (ln & 1)  # chunks are word-aligned
        if cid == b"fmt ":
            if len(body) < 16:  # truncated chunk: contract is DecoderUnavailable, not struct.error
                raise DecoderUnavailable("WAV fmt chunk truncated")
            fmt = struct.unpack("<HHIIHH", body[:16])
        elif cid == b"data":
            pcm = body
    if fmt is None or pcm is None:
        raise DecoderUnavailable("WAV missing fmt/data chunk")
    tag, ch, rate, _byterate, block, bits = fmt
    if tag != 1 or bits not in (8, 16) or ch == 0 or block != ch * (bits // 8):
        raise DecoderUnavailable(f"unsupported WAV variant (tag={tag} bits={bits})")
    n_frames = len(pcm) // block
    # drop a trailing partial frame (truncated data chunk) so sample
    # unpacking downstream never sees a ragged buffer
    return rate, ch, bits, n_frames, pcm[: n_frames * block]


def real_audio_features(data: bytes, n_features: int = 8) -> list[float]:
    """REAL decode→featurize kernel (WAV path): 8 floats in [0, 1] —
    sample_rate/48000, channels/4, duration_s/60 (capped), per-channel
    mean abs amplitude (up to 2, zero-padded), RMS, zero-crossing rate
    of channel 0. Same contract as ``real_image_features``."""
    if n_features != 8:
        raise ValueError("real_audio_features emits exactly 8 features")
    rate, ch, bits, n_frames, pcm = decode_wav(data)
    if bits == 16:
        samples = list(struct.unpack(f"<{len(pcm) // 2}h", pcm))
        scale = 32768.0
    else:  # 8-bit WAV is unsigned, centered at 128
        samples = [b - 128 for b in pcm]
        scale = 128.0
    chans = [samples[c::ch] for c in range(ch)]
    means = [
        (sum(abs(s) for s in chans[c]) / len(chans[c]) / scale) if c < ch and chans[c] else 0.0
        for c in range(2)
    ]
    flat_n = len(samples)
    rms = (sum(s * s for s in samples) / flat_n) ** 0.5 / scale if flat_n else 0.0
    c0 = chans[0]
    zc = (
        sum(1 for a, b in zip(c0, c0[1:]) if (a >= 0) != (b >= 0)) / (len(c0) - 1)
        if len(c0) > 1
        else 0.0
    )
    dur = min(n_frames / rate, 60.0) / 60.0 if rate else 0.0
    # every feature capped to [0, 1] — ch included (8-channel surround
    # WAVs are valid PCM and must not emit 2.0)
    return [min(rate / 48000.0, 1.0), min(ch / 4.0, 1.0), dur, *means, min(rms, 1.0), zc, bits / 16.0]


def real_decode_media_features(data: bytes, n_features: int = 8) -> list[float]:
    """Magic-byte-routed REAL kernel: PNG → image features, WAV → audio
    features; everything else raises ``DecoderUnavailable``. This is the
    per-format decode stage ``attach_media_metadata`` routes to."""
    if data is not None and data[:8] == _PNG_MAGIC:
        return real_image_features(data, n_features)
    if data is not None and data[:4] == _WAV_MAGIC:
        return real_audio_features(data, n_features)
    raise DecoderUnavailable("no real codec for this byte stream in this environment")


def real_decode_image(data: bytes) -> tuple[int, int, int, bytes]:
    """Real image decode. PNG decodes natively (``decode_png``); JPEG
    and everything else still needs Pillow/opencv, which are not in
    this container → ``DecoderUnavailable``."""
    if data is not None and data[:8] == _PNG_MAGIC:
        return decode_png(data)
    raise DecoderUnavailable("non-PNG codecs (Pillow/opencv) not available in this environment")


def real_image_features(data: bytes, n_features: int = 8) -> list[float]:
    """REAL decode→featurize kernel (PNG path): 8 floats in [0, 1] —
    width/4096, height/4096, channels/4, per-channel means (up to 4,
    zero-padded) /255, and overall pixel std /255. Plug into
    ``extract_features(kernel=real_image_features)`` — same mapInPandas
    plumbing as the deterministic fake."""
    if n_features != 8:
        raise ValueError("real_image_features emits exactly 8 features")
    w, h, ch, px = real_decode_image(data)
    n = len(px)
    means = []
    for c in range(4):
        vals = px[c::ch] if c < ch else b""
        means.append((sum(vals) / len(vals) / 255.0) if vals else 0.0)
    mean_all = sum(px) / n
    var = sum((b - mean_all) ** 2 for b in px) / n
    return [w / 4096.0, h / 4096.0, ch / 4.0, *means, (var**0.5) / 255.0]


def fake_decode_features(data: bytes, n_features: int = 8) -> list[float]:
    """Deterministic stand-in for a decode→feature-extract kernel: derives
    ``n_features`` floats in [0,1) from the byte content. Deterministic per
    byte-content ⇒ partitioning-invariant, testable end-to-end.

    The chain runs over lowercase-hex strings rather than raw digest
    bytes so an external SQL engine without blob hashing (DuckDB's
    ``md5`` is VARCHAR-only) can reproduce it exactly:
    ``h0 = md5(hex(data)); h_{i+1} = md5(h_i + '%02x' % i)``;
    feature_i = first 4 bytes of h_{i+1} as uint32 / 2^32."""
    if data is None:
        return [0.0] * n_features
    h = hashlib.md5(data.hex().encode()).hexdigest()
    out = []
    for i in range(n_features):
        h = hashlib.md5((h + format(i, "02x")).encode()).hexdigest()
        out.append(int(h[:8], 16) / 2**32)
    return out


def perceptual_hash63(data: bytes | None, n_segments: int = 64) -> int:
    """dHash-style 63-bit perceptual fingerprint of a media blob.

    Real-decode path: a PNG in the supported subset decodes to its
    interleaved pixel bytes (``decode_png``) and the hash runs over
    PIXELS — the classic dHash "adjacent cells compared" construction.
    Everything else (JPEG/WAV/MP4/opaque, where the codec libs aren't in
    this container) falls back to the RAW CONTENT BYTES as the cell
    sequence — deterministic per byte-content, and replayable by an
    external SQL engine (the DuckDB twin parses hex pairs), which is
    what keeps the registry entry hash-checkable end-to-end.

    Construction: cell of byte ``i`` (0-based, ``n`` bytes) is
    ``i * n_segments // n`` — contiguous cells, SQL-trivial; bit ``j``
    is set iff ``mean(cell j) > mean(cell j+1)``, compared in exact
    integer cross-multiplication (``sum_j * cnt_{j+1} > sum_{j+1} *
    cnt_j``) so numpy and SQL can never disagree on a float boundary.
    Bits where either cell is empty (n < n_segments) stay 0, matching
    the oracle's inner join on adjacent present cells. 64 cells → 63
    comparisons → non-negative BIGINT, same range contract as
    ``simhash64``.

    A small byte edit moves one cell mean slightly → flips at most the
    comparisons touching that cell → small hamming distance; unrelated
    content diverges to ~n_segments/2 bits (measured ≥9 across the test
    corpus) — exactly the separation a near-dup banding needs.

    MISSING media (None) returns None — a missing blob has no
    fingerprint, so NULL-media rows never pair with (or dedup against)
    each other; downstream NULLs drop out of every hamming comparison.
    EMPTY and constant-byte content hashes to 0: all cell means equal →
    every comparison false — blank blobs ARE mutually indistinguishable
    to a perceptual hash, so grouping them is the desired direction for
    a dedup signal (documented with the periodic-content aliasing note
    in SCALE.md §8h)."""
    import numpy as np

    if data is None:
        return None
    if len(data) == 0:
        return 0
    try:
        _w, _h, _ch, px = real_decode_image(bytes(data))
        arr = np.frombuffer(px, dtype=np.uint8)
    except DecoderUnavailable:
        arr = np.frombuffer(bytes(data), dtype=np.uint8)
    n = arr.shape[0]
    seg = (np.arange(n, dtype=np.int64) * n_segments) // n
    sums = np.bincount(seg, weights=arr, minlength=n_segments).astype(np.int64)
    cnts = np.bincount(seg, minlength=n_segments).astype(np.int64)
    present = cnts > 0
    bits = (
        (sums[:-1] * cnts[1:] > sums[1:] * cnts[:-1])
        & present[:-1]
        & present[1:]
    )
    return int(sum(1 << j for j in np.nonzero(bits)[0]))


def attach_perceptual_hash(df: DataFrame, binary_col: str = "media") -> DataFrame:
    """Arrow-batched ``mapInPandas`` stage adding ``phash bigint`` —
    the decode→fingerprint step of media near-dup detection. Narrow
    transformation (no shuffle); the numpy kernel is per-row ``bincount``
    over the cell index, O(bytes) with no Python inner loop. NULL media
    → NULL phash (``na_action='ignore'`` — missing blobs carry no
    fingerprint and drop out of every downstream hamming comparison)."""
    out_schema = T.StructType(df.schema.fields + [T.StructField("phash", T.LongType())])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()
            # nullable Int64 extension array, NOT .map(): a batch mixing
            # None with ints would make pandas infer float64 and
            # silently round every 63-bit fingerprint to 53-bit mantissa
            # precision (caught by the cut-invariance property test)
            pdf["phash"] = pd.array(
                [perceptual_hash63(v) for v in pdf[binary_col]], dtype="Int64"
            )
            yield pdf

    return df.mapInPandas(run, schema=out_schema)


def attach_media_metadata(df: DataFrame, binary_col: str = "media") -> DataFrame:
    """Sniff container format from magic bytes — pure expressions, no UDF.

    At scale this is the cheap pre-pass that routes rows to per-format
    decode stages (partition by format, decode per partition).
    """
    b = F.col(binary_col)
    head = F.hex(F.substring(b, 1, 4))
    fmt = (
        F.when(head.startswith("FFD8"), F.lit("jpeg"))
        .when(head.startswith("89504E47"), F.lit("png"))
        .when(head.startswith("52494646"), F.lit("wav"))
        .when(head.startswith("00000018") | head.startswith("00000020"), F.lit("mp4"))
        .otherwise(F.lit("unknown"))
    )
    media_type = (
        F.when(fmt.isin("jpeg", "png"), F.lit("image"))
        .when(fmt == "wav", F.lit("audio"))
        .when(fmt == "mp4", F.lit("video"))
        .otherwise(F.lit("unknown"))
    )
    return df.withColumn("media_size", F.length(b)).withColumn("media_format", fmt).withColumn("media_type", media_type)


def extract_features(
    df: DataFrame,
    binary_col: str = "media",
    n_features: int = 8,
    kernel: Callable[[bytes, int], list[float]] = fake_decode_features,
    batch_note: str = "decode+featurize",
) -> DataFrame:
    """Decode → feature-extract as an Arrow-batched ``mapInPandas`` stage.

    Narrow transformation: each partition's rows stream through Python in
    Arrow batches; output schema = input + ``features array<double>``
    (double, not float32: the kernel computes exact doubles and the
    DuckDB oracle averages exact doubles — a float32 truncation here
    injects ~3e-8 per element that can flip a 4-dp rounding boundary
    downstream). The kernel is pluggable — swap ``fake_decode_features``
    for a real Pillow/torchvision kernel where the libs exist.
    """
    out_schema = T.StructType(df.schema.fields + [T.StructField("features", T.ArrayType(T.DoubleType()))])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()
            pdf["features"] = pdf[binary_col].map(lambda d: kernel(d, n_features))
            yield pdf

    return df.mapInPandas(run, schema=out_schema)


def default_frame_digest(data: bytes, i: int) -> bytes:
    """Raw-byte frame digest (fast path when no SQL twin is needed)."""
    return hashlib.md5(data + bytes([i])).digest()


def hex_chain_frame_digest(data: bytes, i: int) -> bytes:
    """Frame digest over lowercase-hex strings — same trick as
    ``fake_decode_features``: DuckDB's md5 is VARCHAR-only, so hashing
    ``hex(bytes) + '%02x' % i`` keeps the digest reproducible by an
    external SQL oracle. Returns the ascii hexdigest as bytes (the
    frame column stays binary)."""
    return hashlib.md5((data.hex() + format(i, "02x")).encode()).hexdigest().encode()


def frame_sample_stub(
    df: DataFrame,
    binary_col: str = "media",
    every_ms: int = 1000,
    digest_fn: Callable[[bytes, int], bytes] = default_frame_digest,
) -> DataFrame:
    """Frame-sampling plumbing for video: one input row → N frame rows
    (explode shape). The stub emits deterministic frame digests; a real
    kernel would demux with pyav/ffmpeg per batch."""
    out_schema = T.StructType(
        [
            T.StructField("frame_index", T.IntegerType()),
            T.StructField("frame_ts_ms", T.LongType()),
            T.StructField("frame", T.BinaryType()),
        ]
        + df.schema.fields
    )
    # capture plain values only — the closure ships to executors and must
    # not reference the DataFrame (would drag the SparkContext along)
    in_cols = [f.name for f in df.schema.fields]
    out_cols = [f.name for f in out_schema.fields]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _, row in pdf.iterrows():
                data = row[binary_col] or b""
                n_frames = 1 + len(data) % 4  # deterministic fake frame count
                for i in range(n_frames):
                    rows.append(
                        {
                            "frame_index": i,
                            "frame_ts_ms": i * every_ms,
                            "frame": digest_fn(data, i),
                            **{c: row[c] for c in in_cols},
                        }
                    )
            yield pd.DataFrame(rows, columns=out_cols)

    return df.mapInPandas(run, schema=out_schema)
