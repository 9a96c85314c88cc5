"""Multimodal columns: opaque binary payloads, typed metadata, and REAL
no-codec decodes for image (P6 PPM), audio (RIFF/WAV PCM), and video
(multi-frame raw P6 stream) — parsed byte-by-byte with numpy inside
Arrow-batched ``mapInPandas``, each hash-checked against a byte-level
SQL twin. On top of the decodes: resize, patchify, frame energy,
perceptual hashes, and banded near-dup pair mining for both images and
audio.

``_read_p6`` and ``_read_pcm16`` are the only format code: every decode
worker reads its payload through one of them, so all workers accept
and reject the same inputs (a malformed payload raises ``ValueError``).
``_per_payload`` turns a per-payload row function into the
``mapInPandas`` worker. The two remaining arithmetic fakes
(frame_sample, feature_extract) stand in for codec calls while
exercising the real Arrow plumbing.

The fixture corpus has no binary column, so payloads are synthesized
deterministically from ``documents.text`` (UTF-8 bytes) — which also makes
the whole path oracle-checkable in SQL.

Scale notes: binary payloads dominate row size; ``mapInPandas`` streams
Arrow batches so peak memory is one batch per core, and
``spark.sql.files.maxPartitionBytes`` keeps scan partitions bounded no
matter how large the blobs are. Decode parallelism == partition count.
"""

from __future__ import annotations

import functools
import hashlib
import math
import re
import struct
from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..io import fan_out, load_table


def _with_payload(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", F.encode(F.col("text"), "utf-8").alias("payload"), "source"
    )


def multimodal_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed metadata over a binary column: size, content digest, and the
    deterministic fake decode's width/height (pure column arithmetic —
    stays in codegen, no Python)."""
    df = _with_payload(spark, sf_dir)
    n_bytes = F.length(F.col("payload")).cast("bigint")
    return df.select(
        "doc_id",
        n_bytes.alias("n_bytes"),
        F.md5(F.col("payload")).alias("digest"),
        (64 + n_bytes % 512).alias("width"),
        (64 + (n_bytes * 7) % 512).alias("height"),
        "source",
    ).orderBy("doc_id")


# Output schema of the frame-sampling stub: one row per sampled frame.
_FRAMES_SCHEMA = "doc_id bigint, frame_idx int, frame_offset bigint, frame_bytes int"


def _sample_frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas worker: deterministic fake frame sampler.

    Emits ``n_bytes % 3 + 1`` frames per payload at 1024-byte strides —
    stand-in for a video keyframe extractor; the Arrow batch iteration,
    bytes handling, and 1:N output shape are the real plumbing a codec
    UDF needs.
    """
    for pdf in batches:
        n = pdf["payload"].str.len().astype("int64")
        n_frames = (n % 3 + 1).to_numpy()
        out = pd.DataFrame(
            {
                "doc_id": pdf["doc_id"].to_numpy().repeat(n_frames),
                "frame_idx": [i for k in n_frames for i in range(k)],
                "frame_bytes": n.to_numpy().repeat(n_frames).astype("int32"),
            }
        )
        out["frame_offset"] = (out["frame_idx"] * 1024).astype("int64")
        out["frame_idx"] = out["frame_idx"].astype("int32")
        yield out[["doc_id", "frame_idx", "frame_offset", "frame_bytes"]]


def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling through mapInPandas over binary payloads (real Arrow
    path, deterministic fake decode — oracle-checkable)."""
    df = _with_payload(spark, sf_dir)
    return df.mapInPandas(_sample_frames, schema=_FRAMES_SCHEMA).orderBy("doc_id", "frame_idx")


# Feature extraction: 4 deterministic per-payload features, computed with
# batch numpy inside mapInPandas (the real shape of an encoder UDF: Arrow
# in, dense matrix math, scalar columns out). Emitted as SCALAR columns,
# not an array — array cells break downstream pandas canonicalizers.
_FEATURES_SCHEMA = "doc_id bigint, f0 double, f1 double, f2 double, f3 double"
_FEATURE_PRIMES = (31, 131, 523, 1031)


def _extract_features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        n = pdf["payload"].str.len().astype("int64").to_numpy()
        d = pdf["doc_id"].astype("int64").to_numpy()
        out = {"doc_id": d}
        for j, p in enumerate(_FEATURE_PRIMES):
            out[f"f{j}"] = ((n * p + d * (j + 1)) % 1000).astype("float64") / 1000.0
        yield pd.DataFrame(out)


def multimodal_feature_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature extraction over binary payloads via mapInPandas: the
    encoder is a deterministic arithmetic fake (container has no model
    runtime); the Arrow batching, numpy matrix path, and output schema are
    the real plumbing."""
    df = _with_payload(spark, sf_dir)
    return df.mapInPandas(_extract_features, schema=_FEATURES_SCHEMA).orderBy("doc_id")


def multimodal_resize_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Letterbox-resize geometry for every payload's (fake-decoded)
    dimensions: fit into 224x224 preserving aspect. Pure integer-exact
    arithmetic (floor of a double ratio — IEEE-identical cross-engine), so
    the whole op stays in codegen; the actual pixel resample would slot in
    as a mapInPandas stage exactly like ``_extract_features``."""
    meta = multimodal_metadata(spark, sf_dir)
    longest = F.greatest(F.col("width"), F.col("height"))
    return meta.select(
        "doc_id",
        "width",
        "height",
        F.floor(F.col("width") * 224 / longest).cast("bigint").alias("out_w"),
        F.floor(F.col("height") * 224 / longest).cast("bigint").alias("out_h"),
    ).orderBy("doc_id")


# A REAL decode path needing no codec library: payloads are genuine PPM
# (P6) images — "P6\n<w> <h>\n255\n" header + w*h*3 raw pixel bytes —
# synthesized by tiling each document's UTF-8 bytes to fill the pixel
# buffer. The decoder below parses the header generically and reads the
# raster with numpy, so swapping in camera PPMs (or any uncompressed
# format) touches nothing but the payload source.
PPM_W, PPM_H = 16, 16
_PPM_PIXELS = PPM_W * PPM_H * 3


# Pixel/sample bytes come from the PRINTABLE-ASCII projection of the
# text: for non-ASCII text, UTF-8 bytes and Unicode code points diverge
# (multi-byte sequences), which would silently break the byte-level
# oracle parity — so both engines strip to \x20-\x7E first, where
# byte == code point by construction.
_ASCII_RE = "[^\\x20-\\x7E]"
# The oracle-side twin of _ascii_docs — keep in lockstep with _ASCII_RE.
_ASCII_DOCS_SQL = """(SELECT doc_id,
                         regexp_replace(text, '[^\\x20-\\x7E]', '', 'g') AS text
                  FROM documents)"""


def _ascii_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents restricted to the printable-ASCII projection of text —
    the single definition both payload builders (and, via
    ``_ASCII_DOCS_SQL``, both oracles) derive from."""
    return (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", F.regexp_replace("text", _ASCII_RE, "").alias("text"))
        .filter(F.length("text") > 0)
    )


def _ppm_payloads(
    spark: SparkSession, sf_dir: str, fan: bool = False
) -> DataFrame:
    # fan=True (round 14, guide §2.5): payload synthesis (repeat +
    # substring + encode to ~48 KB/row) and the consumer's Arrow decode
    # fuse into the documents SCAN stage, which carries row-group
    # parallelism (1 task at sf0.1, ~6 at sf1) — the sf1 noop probes
    # read 7.9-9.6s for the HEAVY image passes (sobel conv, SSIM
    # windows, patchify) with 26+ cores idle; fan_out moved those to
    # 2.0-2.9s (-74%). The shuffle carries only the NARROW source text
    # (the payload does not exist yet) — the cheap-proxy side of the
    # guide-§8 rule; identity on production-sized inputs. It is OPT-IN
    # per consumer because the cheap decodes measurably LOSE with it at
    # fixture scale (interleaved sf0.1 A/B, 3/3 pairs: decode_ppm
    # 0.46 -> 0.72s, image_phash 0.55 -> 0.64s, image_neardup
    # 0.90 -> 1.19s — the extra exchange + lost scan fusion outweigh
    # their light per-image work), the same win condition io.fan_out
    # documents.
    docs = _ascii_docs(spark, sf_dir)
    if fan:
        docs = fan_out(docs, "doc_id")
    tiled = F.expr(
        f"substring(repeat(text, CAST(ceil({_PPM_PIXELS} / CAST(length(text) AS DOUBLE)) AS INT)), 1, {_PPM_PIXELS})"
    )
    header = F.lit(f"P6\n{PPM_W} {PPM_H}\n255\n")
    return docs.select(
        "doc_id", F.encode(F.concat(header, tiled), "utf-8").alias("payload")
    )


# The two payload formats, each parsed in exactly one place. A P6 header
# is the magic, width, height and maxval, whitespace-delimited, then one
# whitespace byte before the raster.
_P6_HEADER = re.compile(rb"\s*(\S+)\s+(\d+)\s+(\d+)\s+(\d+)\s")


def _read_p6(buf: bytes, pos: int = 0) -> tuple[np.ndarray, int]:
    """Read the P6 image that starts at ``buf[pos]``: an ``(h, w, 3)``
    uint8 raster and the offset just past it. Raises ``ValueError`` on
    another magic, a short header or raster, or samples wider than one
    byte (maxval > 255)."""
    m = _P6_HEADER.match(buf, pos)
    if m is None:
        raise ValueError("truncated or malformed PPM header")
    magic, w, h, maxval = m.groups()
    if magic != b"P6":
        raise ValueError(f"not a P6 PPM: {magic!r}")
    w, h, maxval = int(w), int(h), int(maxval)
    if not (w and h and 0 < maxval <= 255):
        raise ValueError(f"unsupported PPM: {w}x{h}, maxval {maxval}")
    img = np.frombuffer(buf, dtype=np.uint8, count=w * h * 3, offset=m.end())
    return img.reshape(h, w, 3), m.end() + w * h * 3


def _read_gray(buf: bytes) -> np.ndarray:
    """The ``(h, w)`` int64 gray image of a P6 payload: the channel sum
    r + g + b (0..765), the convention every gray feature here uses."""
    return _read_p6(buf)[0].astype(np.int64).sum(axis=2)


def _read_pcm16(buf: bytes) -> tuple[int, np.ndarray]:
    """Read a RIFF/WAVE file of 16-bit mono PCM: walk its chunks (an
    odd-size chunk is padded to even), check ``fmt `` and return the
    sample rate and the ``data`` chunk as little-endian int16. Raises
    ``ValueError`` on anything else."""
    if buf[:4] != b"RIFF" or buf[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    pos, fmt, samples = 12, None, None
    while pos + 8 <= len(buf):
        cid = buf[pos : pos + 4]
        (size,) = struct.unpack("<I", buf[pos + 4 : pos + 8])
        body = buf[pos + 8 : pos + 8 + size]
        if len(body) < size:
            raise ValueError(f"truncated {cid!r} chunk")
        if cid == b"fmt ":
            if size < 16:
                raise ValueError("short fmt chunk")
            fmt = struct.unpack("<HHIIHH", body[:16])
        elif cid == b"data":
            samples = np.frombuffer(body, dtype="<i2")
        pos += 8 + size + (size & 1)
    if fmt is None:
        raise ValueError("missing fmt chunk")
    if samples is None or not samples.size:
        raise ValueError("missing or empty data chunk")
    code, channels, rate, _, _, bits = fmt
    if (code, channels, bits) != (1, 1, 16):
        raise ValueError(
            f"not 16-bit mono PCM: format {code}, {channels} channels, {bits} bits"
        )
    return rate, samples


def _pack_bits(bits) -> int:
    """Bit k of the result is ``bits[k]``."""
    return sum(1 << k for k, b in enumerate(bits) if b)


def _pandas_batch(schema: str, rows) -> pd.DataFrame:
    """One output batch: the row tuples gathered column by column under
    the names of a ``mapInPandas`` schema string."""
    cols = [field.split()[0] for field in schema.split(",")]
    recs: dict[str, list] = {k: [] for k in cols}
    for row in rows:
        for k, v in zip(cols, row, strict=True):
            recs[k].append(v)
    return pd.DataFrame(recs)


def _per_payload(schema: str):
    """Decorator: turn ``rows(doc_id, buf)``, which yields the output
    tuples of one payload, into the ``mapInPandas`` worker over
    ``(doc_id, payload)`` batches that emits ``schema``."""

    def wrap(rows: Callable[[int, bytes], Iterator[tuple]]):
        # The worker takes the row function's module-level name, so Spark
        # pickles it by reference and tests import it by that name.
        @functools.wraps(rows)
        def worker(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                yield _pandas_batch(
                    schema,
                    (
                        row
                        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"])
                        for row in rows(int(doc_id), bytes(payload))
                    ),
                )

        return worker

    return wrap


_DECODE_SCHEMA = (
    "doc_id bigint, width int, height int, mean_r double, mean_g double, mean_b double"
)


@_per_payload(_DECODE_SCHEMA)
def _decode_ppm(doc_id: int, buf: bytes) -> Iterator[tuple]:
    """mapInPandas worker: per-channel pixel means of the P6 image.
    Integer channel sums divide once in double — exact and order-free."""
    img, _ = _read_p6(buf)
    h, w, _ = img.shape
    sums = img.reshape(-1, 3).astype(np.int64).sum(axis=0)
    yield (doc_id, w, h, *(float(v) / (w * h) for v in sums))


# Nearest-neighbor resize target: 16x16 -> 8x8 (stride 2, top-left
# convention dst[r,c] = src[floor(r*sh), floor(c*sw)]).
RESIZE_OUT = 8

_RESIZE_SCHEMA = (
    "doc_id bigint, out_w int, out_h int, digest string, "
    "mean_r double, mean_g double, mean_b double"
)


@_per_payload(_RESIZE_SCHEMA)
def _resize_ppm(doc_id: int, buf: bytes) -> Iterator[tuple]:
    """mapInPandas worker: nearest-neighbor downsample of the P6 raster
    by pure integer strides — the real pixel operation
    ``multimodal_resize_plan`` only planned. Emits the resized raster's
    md5 (byte-exact evidence) plus per-channel means of the RESIZED
    image (integer sums, one double division)."""
    img, _ = _read_p6(buf)
    h, w, _ = img.shape
    small = img[:: h // RESIZE_OUT, :: w // RESIZE_OUT, :]
    sums = small.reshape(-1, 3).astype(np.int64).sum(axis=0)
    digest = hashlib.md5(small.tobytes()).hexdigest()
    n = RESIZE_OUT * RESIZE_OUT
    yield (doc_id, RESIZE_OUT, RESIZE_OUT, digest, *(float(v) / n for v in sums))


def multimodal_resize_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL nearest-neighbor image resize, no codec library: P6 PPM
    payloads decoded and stride-downsampled 16x16 -> 8x8 by numpy inside
    mapInPandas. The resized raster's md5 and channel means are
    recomputed by the oracle straight from the tiled text bytes (the
    selected pixels are printable-ASCII chars, so SQL reassembles the
    raster string and md5s it) — the full decode -> resample -> digest
    path is hash-checked byte-for-byte."""
    return (
        _ppm_payloads(spark, sf_dir)
        .mapInPandas(_resize_ppm, schema=_RESIZE_SCHEMA)
        .orderBy("doc_id")
    )


def multimodal_decode_ppm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode, no codec library: genuine P6 PPM payloads parsed
    header-and-raster by numpy inside mapInPandas, emitting per-channel
    means. The oracle recomputes the same means straight from the tiled
    text bytes, so the whole decode path is hash-checked."""
    return (
        _ppm_payloads(spark, sf_dir)
        .mapInPandas(_decode_ppm, schema=_DECODE_SCHEMA)
        .orderBy("doc_id")
    )


# Audio twin of the PPM path: payloads are genuine RIFF/WAV files — a
# 44-byte canonical PCM header plus 16-bit little-endian mono samples
# (tiled from document bytes) — and the decoder is a generic RIFF chunk
# walker + numpy int16 read. Fixed sample count keeps the header a pure
# literal so synthesis stays in codegen.
WAV_SAMPLES = 256
WAV_RATE = 8000
_WAV_DATA_BYTES = WAV_SAMPLES * 2


def _wav_header() -> bytes:
    return (
        b"RIFF"
        + struct.pack("<I", 36 + _WAV_DATA_BYTES)
        + b"WAVE"
        + b"fmt "
        + struct.pack("<IHHIIHH", 16, 1, 1, WAV_RATE, WAV_RATE * 2, 2, 16)
        + b"data"
        + struct.pack("<I", _WAV_DATA_BYTES)
    )


def _wav_payloads(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _ascii_docs(spark, sf_dir)
    tiled = F.expr(
        f"substring(repeat(text, CAST(ceil({_WAV_DATA_BYTES} / CAST(length(text) AS DOUBLE)) AS INT)), 1, {_WAV_DATA_BYTES})"
    )
    return docs.select(
        "doc_id",
        F.concat(F.lit(bytearray(_wav_header())), F.encode(tiled, "utf-8")).alias(
            "payload"
        ),
    )


_WAV_SCHEMA = (
    "doc_id bigint, sample_rate int, n_samples long, duration_sec double, "
    "mean_amp double, rms double"
)


@_per_payload(_WAV_SCHEMA)
def _decode_wav(doc_id: int, buf: bytes) -> Iterator[tuple]:
    """mapInPandas worker: rate/duration/mean/RMS of the WAV's int16
    PCM. Integer sample sums divide once in double; sqrt is IEEE-exact."""
    rate, samples = _read_pcm16(buf)
    s = samples.astype(np.int64)
    n = len(s)
    # math.sqrt, NOT ** 0.5: pow(x, 0.5) differs from the IEEE
    # sqrt by 1 ulp on some inputs, which breaks oracle parity.
    rms = math.sqrt(float((s * s).sum()) / n)
    yield doc_id, rate, n, float(n) / rate, float(s.sum()) / n, rms


def multimodal_decode_wav(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode, no codec library: genuine RIFF/WAV PCM payloads
    chunk-walked and sample-read by numpy inside mapInPandas. The oracle
    recomputes rate/duration/mean/RMS from the little-endian sample bytes
    of the same tiled text, hash-checking the whole decode path."""
    return (
        _wav_payloads(spark, sf_dir)
        .mapInPandas(_decode_wav, schema=_WAV_SCHEMA)
        .orderBy("doc_id")
    )


# Audio framing: FRAME_LEN-sample windows (no overlap) — the first step
# of every audio feature pipeline (spectrograms, VAD, loudness).
FRAME_LEN = 64
_N_FRAMES = WAV_SAMPLES // FRAME_LEN

_ENERGY_SCHEMA = (
    "doc_id bigint, frame_id int, n_samples int, sum_sq bigint, rms double"
)


@_per_payload(_ENERGY_SCHEMA)
def _frame_energy(doc_id: int, buf: bytes) -> Iterator[tuple]:
    """mapInPandas worker: reshape the WAV's samples into FRAME_LEN
    windows, emit per-frame exact sum-of-squares and RMS."""
    _, samples = _read_pcm16(buf)
    frames = samples.astype(np.int64)[: _N_FRAMES * FRAME_LEN].reshape(
        _N_FRAMES, FRAME_LEN
    )
    for fid, sq in enumerate((frames * frames).sum(axis=1)):
        yield doc_id, fid, FRAME_LEN, int(sq), math.sqrt(float(sq) / FRAME_LEN)


def multimodal_audio_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-frame audio energy: real WAV payloads framed into
    FRAME_LEN-sample windows with exact integer sum-of-squares and IEEE
    RMS per frame.

    Same Arrow-batched mapInPandas shape as the decode — at 100 TB the
    payload column never leaves the executor, frames multiply row count
    by a constant, and the exact bigint energy means the surface has no
    float accumulation to drift.
    """
    return (
        _wav_payloads(spark, sf_dir)
        .mapInPandas(_frame_energy, schema=_ENERGY_SCHEMA)
        .orderBy("doc_id", "frame_id")
    )


# ViT-style patchify: PATCH x PATCH pixel tiles, per-tile channel means.
PATCH = 4
_PATCH_GRID = PPM_W // PATCH

_PATCH_SCHEMA = (
    "doc_id bigint, patch_r int, patch_c int, "
    "mean_r double, mean_g double, mean_b double"
)


@_per_payload(_PATCH_SCHEMA)
def _patchify(doc_id: int, buf: bytes) -> Iterator[tuple]:
    """mapInPandas worker: block the (H, W, 3) raster into PATCH x PATCH
    tiles, emit per-tile channel means (exact integer sums divided once
    in double)."""
    img, _ = _read_p6(buf)
    tiles = img.astype(np.int64).reshape(
        _PATCH_GRID, PATCH, _PATCH_GRID, PATCH, 3
    ).sum(axis=(1, 3))
    for pr in range(_PATCH_GRID):
        for pc in range(_PATCH_GRID):
            yield (doc_id, pr, pc, *(float(v) / (PATCH * PATCH) for v in tiles[pr, pc]))


def multimodal_patchify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ViT-preprocessing patchify: the 16x16 P6 images tiled into 4x4
    patches with per-patch channel means — the layout a vision
    tokenizer consumes. Byte-level oracle twin addresses each source
    pixel by raster index, so the whole reshape path is hash-checked.
    """
    return (
        _ppm_payloads(spark, sf_dir, fan=True)
        .mapInPandas(_patchify, schema=_PATCH_SCHEMA)
        .orderBy("doc_id", "patch_r", "patch_c")
    )


# Average-hash (aHash): threshold each patch's gray mass against the
# image mean, pack the bits — the classic perceptual near-dup key for
# images (two visually-similar images differ in a few bits; exact dup
# detection on the hash is a plain groupBy). All integer: the threshold
# compares patch_gray * n_patches > total_gray, no division anywhere.
_AHASH_SCHEMA = "doc_id bigint, ahash bigint, n_ones int"


@_per_payload(_AHASH_SCHEMA)
def _ahash(doc_id: int, buf: bytes) -> Iterator[tuple]:
    blocks = _read_gray(buf).reshape(
        _PATCH_GRID, PATCH, _PATCH_GRID, PATCH
    ).sum(axis=(1, 3))
    bits = (blocks.reshape(-1) * (_PATCH_GRID * _PATCH_GRID)) > int(blocks.sum())
    yield doc_id, _pack_bits(bits), int(bits.sum())


def multimodal_image_ahash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual average-hash per image: 16 patch-gray bits thresholded
    on the image mean, packed into a bigint — the join/groupBy key for
    image near-duplicate detection. Byte-level oracle twin packs the
    same bits in SQL, so the whole decode->threshold->pack path is
    hash-checked."""
    return (
        _ppm_payloads(spark, sf_dir)
        .mapInPandas(_ahash, schema=_AHASH_SCHEMA)
        .orderBy("doc_id")
    )


# 64-bit average-hash for near-dup blocking: 8x8 grid of 2x2-pixel
# blocks. The hash ships as two 32-bit halves so no engine ever shifts
# into the sign bit; Hamming distance = popcount(xor) summed over the
# halves. Candidate generation is the banding trick every LSH operator
# here uses: 4 bands of 16 bits — two near-dup images (Hamming <= 6)
# agree on at least one full band unless all differing bits straddle
# every band, and buckets are budget-capped (_cap_buckets discipline)
# exactly as in the oracle, so the op stays HASH-checkable.
_AH64_BLOCK = 2
_AH64_GRID = PPM_W // _AH64_BLOCK  # 8 -> 64 bits
NEARDUP_HAM_MAX = 6
NEARDUP_MAX_BUCKET = 64

_AH64_SCHEMA = "doc_id bigint, h_hi bigint, h_lo bigint"


@_per_payload(_AH64_SCHEMA)
def _ahash64(doc_id: int, buf: bytes) -> Iterator[tuple]:
    blocks = _read_gray(buf).reshape(
        _AH64_GRID, _AH64_BLOCK, _AH64_GRID, _AH64_BLOCK
    ).sum(axis=(1, 3)).reshape(-1)
    bits = (blocks * (_AH64_GRID * _AH64_GRID)) > int(blocks.sum())
    yield doc_id, _pack_bits(bits[32:]), _pack_bits(bits[:32])


def multimodal_image_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate image pairs by 64-bit average-hash: banded
    candidate generation (4 x 16-bit bands, budget-capped buckets) and
    an exact Hamming filter — deterministic end-to-end, so unlike the
    text LSH family this ships with a full value-hash oracle.

    Scale: hashes are 2 longs/image; band join fan-out is bounded by
    the bucket cap; the Hamming check is row-local bit math. The decode
    runs once in the same Arrow pass as the hash.
    """
    from .dedup import _cap_buckets

    hashes = (
        _ppm_payloads(spark, sf_dir)
        .mapInPandas(_ahash64, schema=_AH64_SCHEMA)
        .localCheckpoint()  # feeds the band explode AND both join sides
    )
    bands = hashes.select(
        "doc_id",
        "h_hi",
        "h_lo",
        F.explode(
            F.array(
                F.struct(F.lit(0).alias("k"), F.expr("shiftright(h_hi, 16) & 65535").alias("band_val")),
                F.struct(F.lit(1).alias("k"), F.expr("h_hi & 65535").alias("band_val")),
                F.struct(F.lit(2).alias("k"), F.expr("shiftright(h_lo, 16) & 65535").alias("band_val")),
                F.struct(F.lit(3).alias("k"), F.expr("h_lo & 65535").alias("band_val")),
            )
        ).alias("b"),
    ).select("doc_id", "h_hi", "h_lo", F.col("b.k").alias("k"), F.col("b.band_val").alias("band_val"))
    bands = _cap_buckets(bands, ["k", "band_val"], NEARDUP_MAX_BUCKET)
    a = bands.select(
        F.col("doc_id").alias("d1"),
        F.col("h_hi").alias("hi1"),
        F.col("h_lo").alias("lo1"),
        "k",
        "band_val",
    )
    b = bands.select(
        F.col("doc_id").alias("d2"),
        F.col("h_hi").alias("hi2"),
        F.col("h_lo").alias("lo2"),
        "k",
        "band_val",
    )
    hamming = F.expr("bit_count(hi1 ^ hi2) + bit_count(lo1 ^ lo2)")
    return (
        a.join(b, ["k", "band_val"])
        .filter(F.col("d1") < F.col("d2"))
        .select("d1", "d2", "hi1", "lo1", "hi2", "lo2")
        .distinct()
        .select("d1", "d2", hamming.alias("hamming"))
        .filter(F.col("hamming") <= NEARDUP_HAM_MAX)
        .orderBy("d1", "d2")
    )


# "Video" payloads: a genuine multi-frame raw stream — VID_FRAMES
# concatenated P6 images (each with its own header), every frame tiling
# a DIFFERENT rotation of the document text so consecutive frames
# genuinely differ. The decoder below walks the stream header-by-header
# (a real demuxer shape); the oracle recomputes each frame's bytes from
# the same construction. Scene-cut rule: a frame whose total gray mass
# moves more than 10% vs the previous frame (integer cross-multiply,
# no division).
VID_FRAMES = 4
VID_W = VID_H = 8
_VID_PIXELS = VID_W * VID_H * 3
_VID_SHIFT = 7  # chars of text rotation per frame

_VID_SCHEMA = (
    "doc_id bigint, frame_id int, gray_sum bigint, delta_gray bigint, "
    "is_cut boolean"
)


def _video_payloads(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _ascii_docs(spark, sf_dir)
    header = f"P6\n{VID_W} {VID_H}\n255\n"
    frames = []
    for f in range(VID_FRAMES):
        tiled = F.expr(
            f"substring(repeat(concat(substring(text, {f * _VID_SHIFT} % length(text) + 1),"
            f" substring(text, 1, {f * _VID_SHIFT} % length(text))),"
            f" CAST(ceil({_VID_PIXELS} / CAST(length(text) AS DOUBLE)) AS INT)),"
            f" 1, {_VID_PIXELS})"
        )
        frames.append(F.concat(F.lit(header), tiled))
    return docs.select(
        "doc_id", F.encode(F.concat(*frames), "utf-8").alias("payload")
    )


@_per_payload(_VID_SCHEMA)
def _decode_video(doc_id: int, buf: bytes) -> Iterator[tuple]:
    """mapInPandas worker: demux the concatenated-P6 stream frame by
    frame (each frame starts where ``_read_p6`` says the last one
    ended), emit per-frame gray mass, deltas, and integer-exact
    scene-cut flags."""
    grays, pos = [], 0
    while pos < len(buf):
        img, pos = _read_p6(buf, pos)
        grays.append(int(img.astype(np.int64).sum()))
    for fid, g in enumerate(grays):
        if fid == 0:
            yield doc_id, fid, g, None, False
        else:
            prev = grays[fid - 1]
            yield doc_id, fid, g, g - prev, abs(g - prev) * 10 > prev


def multimodal_video_scenes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL multi-frame video-stream decode: demux VID_FRAMES
    concatenated P6 frames, per-frame gray mass, frame deltas, and
    10%-threshold scene-cut flags — the keyframe/scene-detection shape
    every video ingestion pipeline starts with, byte-level
    oracle-twinned like the other real decodes."""
    return (
        _video_payloads(spark, sf_dir)
        .mapInPandas(_decode_video, schema=_VID_SCHEMA)
        .orderBy("doc_id", "frame_id")
    )


# Audio fingerprint: sign of successive frame-energy deltas (the
# classic energy-contour fingerprint) — 32 frames of 8 samples -> 31
# bits in one bigint, banded 16+15 for near-dup candidate generation.
_FP_FRAME = 8
_FP_NFRAMES = WAV_SAMPLES // _FP_FRAME  # 32 -> 31 delta bits
FP_HAM_MAX = 4
FP_MAX_BUCKET = 64

_FP_SCHEMA = "doc_id bigint, fp bigint"


@_per_payload(_FP_SCHEMA)
def _audio_fp(doc_id: int, buf: bytes) -> Iterator[tuple]:
    _, samples = _read_pcm16(buf)
    s = samples.astype(np.int64)[: _FP_NFRAMES * _FP_FRAME]
    energy = (s * s).reshape(_FP_NFRAMES, _FP_FRAME).sum(axis=1)
    yield doc_id, _pack_bits(energy[1:] > energy[:-1])


def multimodal_audio_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate audio pairs by energy-contour fingerprint: the
    31-bit rising/falling pattern of 32 frame energies, banded 16+15
    bits with capped buckets, exact Hamming filter — deterministic
    end-to-end, full value-hash oracle (the audio sibling of
    ``multimodal_image_neardup``)."""
    from .dedup import _cap_buckets

    fps = (
        _wav_payloads(spark, sf_dir)
        .mapInPandas(_audio_fp, schema=_FP_SCHEMA)
        .localCheckpoint()
    )
    bands = fps.select(
        "doc_id",
        "fp",
        F.explode(
            F.array(
                F.struct(F.lit(0).alias("k"), F.expr("fp & 65535").alias("band_val")),
                F.struct(F.lit(1).alias("k"), F.expr("shiftright(fp, 16) & 32767").alias("band_val")),
            )
        ).alias("b"),
    ).select("doc_id", "fp", F.col("b.k").alias("k"), F.col("b.band_val").alias("band_val"))
    bands = _cap_buckets(bands, ["k", "band_val"], FP_MAX_BUCKET)
    a = bands.select(F.col("doc_id").alias("d1"), F.col("fp").alias("fp1"), "k", "band_val")
    b = bands.select(F.col("doc_id").alias("d2"), F.col("fp").alias("fp2"), "k", "band_val")
    return (
        a.join(b, ["k", "band_val"])
        .filter(F.col("d1") < F.col("d2"))
        .select("d1", "d2", "fp1", "fp2")
        .distinct()
        .select("d1", "d2", F.expr("bit_count(fp1 ^ fp2)").alias("hamming"))
        .filter(F.col("hamming") <= FP_HAM_MAX)
        .orderBy("d1", "d2")
    )


def multimodal_audio_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Activity segmentation over decoded audio (the VAD shape): frames
    whose energy exceeds the clip's mean frame energy are 'active';
    consecutive active frames merge into segments via the
    gaps-and-islands pattern (island key = frame_id - rank among active
    frames). Output: per segment, its start frame, length, and exact
    integer energy.

    Plan: the Arrow decode pass (shared `_frame_energy`), one clip-keyed
    window for the mean threshold and the island rank, one
    segment-keyed aggregation — all bounded by the constant frame count
    per clip.
    """
    from pyspark.sql.window import Window as W

    frames = _wav_payloads(spark, sf_dir).mapInPandas(
        _frame_energy, schema=_ENERGY_SCHEMA
    )
    wdoc = W.partitionBy("doc_id")
    flagged = frames.select(
        "doc_id",
        "frame_id",
        "sum_sq",
        # active: frame energy * n_frames > total (mean compare, no div)
        (
            F.col("sum_sq") * _N_FRAMES
            > F.sum("sum_sq").over(wdoc)
        ).alias("active"),
    )
    act = flagged.filter(F.col("active")).select(
        "doc_id",
        "frame_id",
        "sum_sq",
        (
            F.col("frame_id")
            - F.row_number().over(W.partitionBy("doc_id").orderBy("frame_id"))
        ).alias("island"),
    )
    return (
        act.groupBy("doc_id", "island")
        .agg(
            F.min("frame_id").alias("seg_start_frame"),
            F.count(F.lit(1)).cast("int").alias("seg_len"),
            F.sum("sum_sq").cast("bigint").alias("seg_energy"),
        )
        .select("doc_id", "seg_start_frame", "seg_len", "seg_energy")
        .orderBy("doc_id", "seg_start_frame")
    )


# Per-channel normalization stats (round 8): the mean/std source a
# vision pipeline computes before training (transforms.Normalize).
# Exact integers end-to-end: per (image, channel) the pixel count, sum,
# sum of squares, min, max — variance/std derive downstream from the
# integral stats without any float summation order. Byte-level oracle
# via the same ascii(substr(...)) raster addressing as patchify.
_CHSTATS_SCHEMA = (
    "doc_id bigint, ch int, n_px int, sum_val bigint, sum_sq bigint,"
    " min_val int, max_val int"
)


@_per_payload(_CHSTATS_SCHEMA)
def _channel_stats(doc_id: int, buf: bytes) -> Iterator[tuple]:
    img, _ = _read_p6(buf)
    px = img.reshape(-1, 3).astype(np.int64)
    for ch in range(3):
        col = px[:, ch]
        yield (
            doc_id, ch, int(col.size), int(col.sum()), int((col * col).sum()),
            int(col.min()), int(col.max()),
        )


def multimodal_channel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-(image, channel) integral stats for normalization:
    count, sum, sum of squares, min, max (module note above)."""
    return (
        _ppm_payloads(spark, sf_dir)
        .mapInPandas(_channel_stats, schema=_CHSTATS_SCHEMA)
        .orderBy("doc_id", "ch")
    )


# Perceptual DCT hash (pHash): 2-D DCT-II of the 8x8 block-gray matrix,
# 63 AC coefficients thresholded on their exact type-1 median. The DCT
# basis is quantized ONCE at module load to integer 2^20-scale literals
# (the repo contract for irrational constants: both engines consume the
# same integers, neither calls cos() in-plan); with |C_int| <= 2^19 and
# block gray <= 3060, |D| <= 8^2 * 2^38 * 3060 < 2^63 — the whole
# transform runs in exact int64/BIGINT matmuls. Unlike aHash (mean
# threshold, brightness-sensitive), the median-of-AC rule sets AT MOST
# 31 bits (strictly-greater-than the lower median; AC coefficients that
# TIE the median — flat or synthetic images — set fewer, identically in
# both engines since the twin uses the same strict comparison) — the
# classic robustness argument for pHash.
_PHASH_SCALE = 1 << 20


def _phash_basis() -> list[tuple[int, int, int]]:
    rows = []
    for u in range(8):
        s = math.sqrt(0.125) if u == 0 else 0.5
        for x in range(8):
            rows.append(
                (
                    u,
                    x,
                    round(
                        s
                        * math.cos(math.pi * (2 * x + 1) * u / 16)
                        * _PHASH_SCALE
                    ),
                )
            )
    return rows


_PHASH_C = _phash_basis()
_PHASH_M = np.array([c for _, _, c in _PHASH_C], dtype=np.int64).reshape(8, 8)
_PHASH_SCHEMA = "doc_id bigint, ph_hi bigint, ph_lo bigint, n_ones int"


@_per_payload(_PHASH_SCHEMA)
def _phash(doc_id: int, buf: bytes) -> Iterator[tuple]:
    blocks = _read_gray(buf).reshape(
        _AH64_GRID, _AH64_BLOCK, _AH64_GRID, _AH64_BLOCK
    ).sum(axis=(1, 3))
    d = _PHASH_M @ blocks @ _PHASH_M.T  # exact int64 (bounds in header note)
    ac = d.reshape(-1)[1:]  # drop DC (k = 0)
    med = int(np.partition(ac, 31)[31])  # 32nd smallest
    bits = np.concatenate(([False], ac > med))
    yield doc_id, _pack_bits(bits[32:]), _pack_bits(bits[:32]), int(bits.sum())


def multimodal_image_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual DCT hash per image (real pHash): exact integer 8x8
    DCT-II of the block-gray matrix, 63 AC bits thresholded on their
    exact median, packed as two 32-bit halves (no sign-bit shifts).

    The byte-level DuckDB twin replays the identical integer pipeline
    (same quantized basis literals, same matmuls, same rank-32
    median), so the full decode->DCT->threshold->pack path is
    value-hash-checked. One Arrow pass per image; output 3 ints/image.
    """
    return (
        _ppm_payloads(spark, sf_dir)
        .mapInPandas(_phash, schema=_PHASH_SCHEMA)
        .orderBy("doc_id")
    )


QUERIES = {
    "multimodal_channel_stats": multimodal_channel_stats,
    "multimodal_image_phash": multimodal_image_phash,
    "multimodal_metadata": multimodal_metadata,
    "multimodal_frame_sample": multimodal_frame_sample,
    "multimodal_feature_extract": multimodal_feature_extract,
    "multimodal_resize_plan": multimodal_resize_plan,
    "multimodal_resize_real": multimodal_resize_real,
    "multimodal_decode_ppm": multimodal_decode_ppm,
    "multimodal_decode_wav": multimodal_decode_wav,
    "multimodal_audio_frames": multimodal_audio_frames,
    "multimodal_patchify": multimodal_patchify,
    "multimodal_image_ahash": multimodal_image_ahash,
    "multimodal_image_neardup": multimodal_image_neardup,
    "multimodal_audio_neardup": multimodal_audio_neardup,
    "multimodal_video_scenes": multimodal_video_scenes,
    "multimodal_audio_segments": multimodal_audio_segments,
}

ORACLES = {
    "multimodal_channel_stats": f"""
        WITH t AS (
            SELECT doc_id,
                   substr(repeat(text,
                                 CAST(ceil({_PPM_PIXELS} / CAST(length(text) AS DOUBLE)) AS INT)),
                          1, {_PPM_PIXELS}) AS px
            FROM {_ASCII_DOCS_SQL}
            WHERE length(text) > 0),
        cells AS (
            SELECT doc_id, CAST(ch AS INTEGER) AS ch,
                   ascii(substr(px, p * 3 + ch + 1, 1)) AS b
            FROM t,
                 generate_series(0, {PPM_W * PPM_H - 1}) AS gp(p),
                 generate_series(0, 2) AS gch(ch))
        SELECT doc_id, ch,
               CAST(COUNT(*) AS INTEGER) AS n_px,
               CAST(SUM(b) AS BIGINT) AS sum_val,
               CAST(SUM(b * b) AS BIGINT) AS sum_sq,
               CAST(MIN(b) AS INTEGER) AS min_val,
               CAST(MAX(b) AS INTEGER) AS max_val
        FROM cells
        GROUP BY doc_id, ch
        ORDER BY doc_id, ch
    """,
    "multimodal_resize_real": f"""
        WITH t AS (
            SELECT doc_id,
                   substr(repeat(text,
                                 CAST(ceil({_PPM_PIXELS} / CAST(length(text) AS DOUBLE)) AS INT)),
                          1, {_PPM_PIXELS}) AS px
            FROM {_ASCII_DOCS_SQL}
            WHERE length(text) > 0),
        sel AS (
            -- dst pixel (r, c) channel ch reads source byte
            -- ((2r)*{PPM_W} + 2c)*3 + ch (0-based raster index)
            SELECT doc_id,
                   (r * {RESIZE_OUT} + c) * 3 + ch AS idx,
                   substr(px, ((2 * r * {PPM_W} + 2 * c) * 3 + ch) + 1, 1) AS s
            FROM t,
                 generate_series(0, {RESIZE_OUT - 1}) AS gr(r),
                 generate_series(0, {RESIZE_OUT - 1}) AS gc(c),
                 generate_series(0, 2) AS gch(ch))
        SELECT doc_id,
               {RESIZE_OUT} AS out_w, {RESIZE_OUT} AS out_h,
               md5(string_agg(s, '' ORDER BY idx)) AS digest,
               CAST(SUM(CASE WHEN idx % 3 = 0 THEN ascii(s) END) AS DOUBLE)
                   / {RESIZE_OUT * RESIZE_OUT} AS mean_r,
               CAST(SUM(CASE WHEN idx % 3 = 1 THEN ascii(s) END) AS DOUBLE)
                   / {RESIZE_OUT * RESIZE_OUT} AS mean_g,
               CAST(SUM(CASE WHEN idx % 3 = 2 THEN ascii(s) END) AS DOUBLE)
                   / {RESIZE_OUT * RESIZE_OUT} AS mean_b
        FROM sel
        GROUP BY doc_id
        ORDER BY doc_id
    """,
    "multimodal_decode_wav": f"""
        WITH t AS (
            SELECT doc_id,
                   substr(repeat(text,
                                 CAST(ceil({_WAV_DATA_BYTES} / CAST(length(text) AS DOUBLE)) AS INT)),
                          1, {_WAV_DATA_BYTES}) AS px
            FROM {_ASCII_DOCS_SQL}
            WHERE length(text) > 0),
        u AS (
            SELECT doc_id,
                   ascii(substr(px, 2 * i - 1, 1))
                       + 256 * ascii(substr(px, 2 * i, 1)) AS raw
            FROM t, generate_series(1, {WAV_SAMPLES}) AS g(i)),
        s AS (
            SELECT doc_id,
                   CASE WHEN raw >= 32768 THEN raw - 65536 ELSE raw END AS v
            FROM u)
        SELECT doc_id,
               {WAV_RATE} AS sample_rate,
               CAST({WAV_SAMPLES} AS BIGINT) AS n_samples,
               CAST({WAV_SAMPLES} AS DOUBLE) / {WAV_RATE} AS duration_sec,
               CAST(SUM(v) AS DOUBLE) / {WAV_SAMPLES} AS mean_amp,
               sqrt(CAST(SUM(v * v) AS DOUBLE) / {WAV_SAMPLES}) AS rms
        FROM s
        GROUP BY doc_id
        ORDER BY doc_id
    """,
    "multimodal_decode_ppm": f"""
        WITH t AS (
            SELECT doc_id,
                   substr(repeat(text,
                                 CAST(ceil({_PPM_PIXELS} / CAST(length(text) AS DOUBLE)) AS INT)),
                          1, {_PPM_PIXELS}) AS px
            FROM {_ASCII_DOCS_SQL}
            WHERE length(text) > 0),
        u AS (
            SELECT doc_id, i, ascii(substr(px, i, 1)) AS b
            FROM t, generate_series(1, {_PPM_PIXELS}) AS g(i))
        SELECT doc_id,
               {PPM_W} AS width, {PPM_H} AS height,
               CAST(SUM(CASE WHEN (i - 1) % 3 = 0 THEN b END) AS DOUBLE)
                   / {PPM_W * PPM_H} AS mean_r,
               CAST(SUM(CASE WHEN (i - 1) % 3 = 1 THEN b END) AS DOUBLE)
                   / {PPM_W * PPM_H} AS mean_g,
               CAST(SUM(CASE WHEN (i - 1) % 3 = 2 THEN b END) AS DOUBLE)
                   / {PPM_W * PPM_H} AS mean_b
        FROM u
        GROUP BY doc_id
        ORDER BY doc_id
    """,
    "multimodal_metadata": """
        SELECT doc_id,
               octet_length(encode(text)) AS n_bytes,
               md5(text) AS digest,
               64 + octet_length(encode(text)) % 512 AS width,
               64 + (octet_length(encode(text)) * 7) % 512 AS height,
               source
        FROM documents
        ORDER BY doc_id
    """,
    "multimodal_frame_sample": """
        SELECT doc_id,
               CAST(unnest(range(octet_length(encode(text)) % 3 + 1)) AS INT) AS frame_idx,
               unnest(range(octet_length(encode(text)) % 3 + 1)) * 1024 AS frame_offset,
               CAST(octet_length(encode(text)) AS INT) AS frame_bytes
        FROM documents
        ORDER BY doc_id, frame_idx
    """,
    "multimodal_feature_extract": """
        SELECT doc_id,
               ((octet_length(encode(text)) * 31 + doc_id * 1) % 1000) / 1000.0 AS f0,
               ((octet_length(encode(text)) * 131 + doc_id * 2) % 1000) / 1000.0 AS f1,
               ((octet_length(encode(text)) * 523 + doc_id * 3) % 1000) / 1000.0 AS f2,
               ((octet_length(encode(text)) * 1031 + doc_id * 4) % 1000) / 1000.0 AS f3
        FROM documents
        ORDER BY doc_id
    """,
    "multimodal_resize_plan": """
        WITH meta AS (
            SELECT doc_id,
                   64 + octet_length(encode(text)) % 512 AS width,
                   64 + (octet_length(encode(text)) * 7) % 512 AS height
            FROM documents)
        SELECT doc_id, width, height,
               CAST(FLOOR(width * 224 / GREATEST(width, height)) AS BIGINT) AS out_w,
               CAST(FLOOR(height * 224 / GREATEST(height, width)) AS BIGINT) AS out_h
        FROM meta
        ORDER BY doc_id
    """,
    "multimodal_audio_frames": f"""
        WITH t AS (
            SELECT doc_id,
                   substr(repeat(text,
                                 CAST(ceil({_WAV_DATA_BYTES} / CAST(length(text) AS DOUBLE)) AS INT)),
                          1, {_WAV_DATA_BYTES}) AS px
            FROM {_ASCII_DOCS_SQL}
            WHERE length(text) > 0),
        u AS (
            SELECT doc_id,
                   CAST((i - 1) // {FRAME_LEN} AS INTEGER) AS frame_id,
                   ascii(substr(px, 2 * i - 1, 1))
                       + 256 * ascii(substr(px, 2 * i, 1)) AS raw
            FROM t, generate_series(1, {WAV_SAMPLES}) AS g(i)),
        s AS (
            SELECT doc_id, frame_id,
                   CASE WHEN raw >= 32768 THEN raw - 65536 ELSE raw END AS v
            FROM u)
        SELECT doc_id, frame_id,
               {FRAME_LEN} AS n_samples,
               CAST(SUM(v * v) AS BIGINT) AS sum_sq,
               sqrt(CAST(SUM(v * v) AS DOUBLE) / {FRAME_LEN}) AS rms
        FROM s
        GROUP BY doc_id, frame_id
        ORDER BY doc_id, frame_id
    """,
    "multimodal_patchify": f"""
        WITH t AS (
            SELECT doc_id,
                   substr(repeat(text,
                                 CAST(ceil({_PPM_PIXELS} / CAST(length(text) AS DOUBLE)) AS INT)),
                          1, {_PPM_PIXELS}) AS px
            FROM {_ASCII_DOCS_SQL}
            WHERE length(text) > 0),
        cells AS (
            SELECT doc_id,
                   CAST(r // {PATCH} AS INTEGER) AS patch_r,
                   CAST(c // {PATCH} AS INTEGER) AS patch_c,
                   ch,
                   ascii(substr(px, (r * {PPM_W} + c) * 3 + ch + 1, 1)) AS b
            FROM t,
                 generate_series(0, {PPM_H - 1}) AS gr(r),
                 generate_series(0, {PPM_W - 1}) AS gc(c),
                 generate_series(0, 2) AS gch(ch))
        SELECT doc_id, patch_r, patch_c,
               CAST(SUM(CASE WHEN ch = 0 THEN b END) AS DOUBLE)
                   / {PATCH * PATCH} AS mean_r,
               CAST(SUM(CASE WHEN ch = 1 THEN b END) AS DOUBLE)
                   / {PATCH * PATCH} AS mean_g,
               CAST(SUM(CASE WHEN ch = 2 THEN b END) AS DOUBLE)
                   / {PATCH * PATCH} AS mean_b
        FROM cells
        GROUP BY doc_id, patch_r, patch_c
        ORDER BY doc_id, patch_r, patch_c
    """,
    "multimodal_image_ahash": f"""
        WITH t AS (
            SELECT doc_id,
                   substr(repeat(text,
                                 CAST(ceil({_PPM_PIXELS} / CAST(length(text) AS DOUBLE)) AS INT)),
                          1, {_PPM_PIXELS}) AS px
            FROM {_ASCII_DOCS_SQL}
            WHERE length(text) > 0),
        cells AS (
            SELECT doc_id,
                   (r // {PATCH}) * {_PATCH_GRID} + (c // {PATCH}) AS k,
                   ascii(substr(px, (r * {PPM_W} + c) * 3 + 1, 1))
                   + ascii(substr(px, (r * {PPM_W} + c) * 3 + 2, 1))
                   + ascii(substr(px, (r * {PPM_W} + c) * 3 + 3, 1)) AS g
            FROM t,
                 generate_series(0, {PPM_H - 1}) AS gr(r),
                 generate_series(0, {PPM_W - 1}) AS gc(c)),
        blocks AS (
            SELECT doc_id, k, SUM(g) AS block_gray
            FROM cells GROUP BY doc_id, k),
        tot AS (
            SELECT doc_id, SUM(block_gray) AS total_gray
            FROM blocks GROUP BY doc_id)
        SELECT b.doc_id,
               CAST(SUM(CASE WHEN b.block_gray * {_PATCH_GRID * _PATCH_GRID}
                             > t.total_gray
                             THEN CAST(1 AS BIGINT) << CAST(b.k AS INTEGER)
                             ELSE 0 END) AS BIGINT) AS ahash,
               CAST(COUNT(*) FILTER (
                   b.block_gray * {_PATCH_GRID * _PATCH_GRID} > t.total_gray)
                   AS INTEGER) AS n_ones
        FROM blocks b JOIN tot t ON t.doc_id = b.doc_id
        GROUP BY b.doc_id
        ORDER BY b.doc_id
    """,
    "multimodal_audio_segments": f"""
        WITH t AS (
            SELECT doc_id,
                   substr(repeat(text,
                                 CAST(ceil({_WAV_DATA_BYTES} / CAST(length(text) AS DOUBLE)) AS INT)),
                          1, {_WAV_DATA_BYTES}) AS px
            FROM {_ASCII_DOCS_SQL}
            WHERE length(text) > 0),
        u AS (
            SELECT doc_id,
                   CAST((i - 1) // {FRAME_LEN} AS INTEGER) AS frame_id,
                   ascii(substr(px, 2 * i - 1, 1))
                       + 256 * ascii(substr(px, 2 * i, 1)) AS raw
            FROM t, generate_series(1, {WAV_SAMPLES}) AS g(i)),
        s AS (
            SELECT doc_id, frame_id,
                   CASE WHEN raw >= 32768 THEN raw - 65536 ELSE raw END AS v
            FROM u),
        frames AS (
            SELECT doc_id, frame_id, SUM(v * v) AS sum_sq
            FROM s GROUP BY doc_id, frame_id),
        flagged AS (
            SELECT doc_id, frame_id, sum_sq,
                   sum_sq * {_N_FRAMES}
                       > SUM(sum_sq) OVER (PARTITION BY doc_id) AS active
            FROM frames),
        act AS (
            SELECT doc_id, frame_id, sum_sq,
                   frame_id - ROW_NUMBER() OVER (
                       PARTITION BY doc_id ORDER BY frame_id) AS island
            FROM flagged WHERE active)
        SELECT doc_id,
               CAST(MIN(frame_id) AS INTEGER) AS seg_start_frame,
               CAST(COUNT(*) AS INTEGER) AS seg_len,
               CAST(SUM(sum_sq) AS BIGINT) AS seg_energy
        FROM act
        GROUP BY doc_id, island
        ORDER BY doc_id, seg_start_frame
    """,
    "multimodal_video_scenes": f"""
        WITH fr AS (
            SELECT doc_id, text, u.f,
                   concat(substring(text, ({_VID_SHIFT} * u.f) % length(text) + 1),
                          substring(text, 1, ({_VID_SHIFT} * u.f) % length(text)))
                       AS rot
            FROM {_ASCII_DOCS_SQL},
                 (SELECT unnest([0, 1, 2, 3]) AS f) u
            WHERE length(text) > 0),
        tiled AS (
            SELECT doc_id, f,
                   substr(repeat(rot,
                                 CAST(ceil({_VID_PIXELS} / CAST(length(rot) AS DOUBLE)) AS INT)),
                          1, {_VID_PIXELS}) AS px
            FROM fr),
        gray AS (
            SELECT doc_id, f,
                   SUM(ascii(substr(px, CAST(i AS INTEGER), 1))) AS g
            FROM tiled, generate_series(1, {_VID_PIXELS}) AS s(i)
            GROUP BY doc_id, f),
        d AS (
            SELECT doc_id, CAST(f AS INTEGER) AS frame_id,
                   CAST(g AS BIGINT) AS gray_sum,
                   CAST(g - LAG(g) OVER (PARTITION BY doc_id ORDER BY f)
                        AS BIGINT) AS delta_gray,
                   LAG(g) OVER (PARTITION BY doc_id ORDER BY f) AS g_prev
            FROM gray)
        SELECT doc_id, frame_id, gray_sum, delta_gray,
               CASE WHEN delta_gray IS NULL THEN FALSE
                    ELSE ABS(delta_gray) * 10 > g_prev END AS is_cut
        FROM d
        ORDER BY doc_id, frame_id
    """,
    "multimodal_audio_neardup": f"""
        WITH t AS (
            SELECT doc_id,
                   substr(repeat(text,
                                 CAST(ceil({_WAV_DATA_BYTES} / CAST(length(text) AS DOUBLE)) AS INT)),
                          1, {_WAV_DATA_BYTES}) AS px
            FROM {_ASCII_DOCS_SQL}
            WHERE length(text) > 0),
        u AS (
            SELECT doc_id,
                   CAST((i - 1) // {_FP_FRAME} AS INTEGER) AS f,
                   ascii(substr(px, 2 * i - 1, 1))
                       + 256 * ascii(substr(px, 2 * i, 1)) AS raw
            FROM t, generate_series(1, {WAV_SAMPLES}) AS g(i)),
        s AS (
            SELECT doc_id, f,
                   CASE WHEN raw >= 32768 THEN raw - 65536 ELSE raw END AS v
            FROM u),
        energy AS (
            SELECT doc_id, f, SUM(v * v) AS e FROM s GROUP BY doc_id, f),
        deltas AS (
            SELECT doc_id, f,
                   e > LAG(e) OVER (PARTITION BY doc_id ORDER BY f) AS up
            FROM energy),
        fps AS (
            SELECT doc_id,
                   CAST(SUM(CASE WHEN up
                             THEN CAST(1 AS BIGINT) << CAST(f - 1 AS INTEGER)
                             ELSE 0 END) AS BIGINT) AS fp
            FROM deltas WHERE f >= 1
            GROUP BY doc_id),
        bands AS (
            SELECT doc_id, fp, u.k,
                   CASE u.k WHEN 0 THEN fp & 65535
                            ELSE (fp >> 16) & 32767 END AS band_val
            FROM fps, (SELECT unnest([0, 1]) AS k) u),
        kept AS (
            SELECT * FROM bands
            QUALIFY COUNT(*) OVER (PARTITION BY k, band_val)
                    <= {FP_MAX_BUCKET}),
        cand AS (
            SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
                   a.fp AS fp1, b.fp AS fp2
            FROM kept a JOIN kept b
              ON a.k = b.k AND a.band_val = b.band_val
             AND a.doc_id < b.doc_id)
        SELECT d1, d2,
               CAST(bit_count(CAST(xor(fp1, fp2) AS BIGINT)) AS INTEGER)
                   AS hamming
        FROM cand
        WHERE bit_count(CAST(xor(fp1, fp2) AS BIGINT)) <= {FP_HAM_MAX}
        ORDER BY d1, d2
    """,
    "multimodal_image_neardup": f"""
        WITH t AS (
            SELECT doc_id,
                   substr(repeat(text,
                                 CAST(ceil({_PPM_PIXELS} / CAST(length(text) AS DOUBLE)) AS INT)),
                          1, {_PPM_PIXELS}) AS px
            FROM {_ASCII_DOCS_SQL}
            WHERE length(text) > 0),
        cells AS (
            SELECT doc_id,
                   (r // {_AH64_BLOCK}) * {_AH64_GRID} + (c // {_AH64_BLOCK})
                       AS k,
                   ascii(substr(px, (r * {PPM_W} + c) * 3 + 1, 1))
                   + ascii(substr(px, (r * {PPM_W} + c) * 3 + 2, 1))
                   + ascii(substr(px, (r * {PPM_W} + c) * 3 + 3, 1)) AS g
            FROM t,
                 generate_series(0, {PPM_H - 1}) AS gr(r),
                 generate_series(0, {PPM_W - 1}) AS gc(c)),
        blocks AS (
            SELECT doc_id, k, SUM(g) AS bg FROM cells GROUP BY doc_id, k),
        tot AS (
            SELECT doc_id, SUM(bg) AS total FROM blocks GROUP BY doc_id),
        hashes AS (
            SELECT b.doc_id,
                   CAST(SUM(CASE WHEN b.k >= 32
                                  AND b.bg * {_AH64_GRID * _AH64_GRID} > t.total
                             THEN CAST(1 AS BIGINT)
                                  << CAST(b.k - 32 AS INTEGER)
                             ELSE 0 END) AS BIGINT) AS h_hi,
                   CAST(SUM(CASE WHEN b.k < 32
                                  AND b.bg * {_AH64_GRID * _AH64_GRID} > t.total
                             THEN CAST(1 AS BIGINT) << CAST(b.k AS INTEGER)
                             ELSE 0 END) AS BIGINT) AS h_lo
            FROM blocks b JOIN tot t ON t.doc_id = b.doc_id
            GROUP BY b.doc_id),
        bands AS (
            SELECT doc_id, h_hi, h_lo, u.k,
                   CASE u.k WHEN 0 THEN (h_hi >> 16) & 65535
                            WHEN 1 THEN h_hi & 65535
                            WHEN 2 THEN (h_lo >> 16) & 65535
                            ELSE h_lo & 65535 END AS band_val
            FROM hashes, (SELECT unnest([0, 1, 2, 3]) AS k) u),
        kept AS (
            SELECT * FROM bands
            QUALIFY COUNT(*) OVER (PARTITION BY k, band_val)
                    <= {NEARDUP_MAX_BUCKET}),
        cand AS (
            SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
                   a.h_hi AS hi1, a.h_lo AS lo1,
                   b.h_hi AS hi2, b.h_lo AS lo2
            FROM kept a JOIN kept b
              ON a.k = b.k AND a.band_val = b.band_val
             AND a.doc_id < b.doc_id)
        SELECT d1, d2,
               CAST(bit_count(CAST(xor(hi1, hi2) AS BIGINT))
                    + bit_count(CAST(xor(lo1, lo2) AS BIGINT)) AS INTEGER)
                   AS hamming
        FROM cand
        WHERE bit_count(CAST(xor(hi1, hi2) AS BIGINT))
              + bit_count(CAST(xor(lo1, lo2) AS BIGINT))
              <= {NEARDUP_HAM_MAX}
        ORDER BY d1, d2
    """,
}

# pHash twin: identical integer pipeline in SQL — the basis VALUES list
# is generated from the SAME _PHASH_C literals the numpy side consumes.
_PHASH_BASIS_VALUES = ", ".join(f"({u}, {x}, {c})" for u, x, c in _PHASH_C)

ORACLES["multimodal_image_phash"] = f"""
        WITH t AS (
            SELECT doc_id,
                   substr(repeat(text,
                                 CAST(ceil({_PPM_PIXELS} / CAST(length(text) AS DOUBLE)) AS INT)),
                          1, {_PPM_PIXELS}) AS px
            FROM {_ASCII_DOCS_SQL}
            WHERE length(text) > 0),
        basis(u, x, c) AS (VALUES {_PHASH_BASIS_VALUES}),
        blocks AS (
            SELECT doc_id, by_, bx,
                   CAST(SUM(ascii(substr(px,
                        ((2 * by_ + dr) * {PPM_W} + (2 * bx + dc)) * 3
                            + ch + 1, 1))) AS BIGINT) AS g
            FROM t,
                 generate_series(0, 7) AS gby(by_),
                 generate_series(0, 7) AS gbx(bx),
                 generate_series(0, 1) AS gdr(dr),
                 generate_series(0, 1) AS gdc(dc),
                 generate_series(0, 2) AS gch(ch)
            GROUP BY 1, 2, 3),
        t1 AS (
            SELECT b.doc_id, cb.u AS u, b.bx AS v,
                   CAST(SUM(cb.c * b.g) AS BIGINT) AS tv
            FROM blocks b JOIN basis cb ON cb.x = b.by_
            GROUP BY 1, 2, 3),
        d AS (
            SELECT t1.doc_id, t1.u AS u, cb2.u AS v2,
                   CAST(SUM(t1.tv * cb2.c) AS BIGINT) AS dval
            FROM t1 JOIN basis cb2 ON cb2.x = t1.v
            GROUP BY 1, 2, 3),
        ranked AS (
            SELECT doc_id, dval,
                   ROW_NUMBER() OVER (PARTITION BY doc_id
                                      ORDER BY dval, u, v2) AS rk
            FROM d WHERE NOT (u = 0 AND v2 = 0)),
        med AS (
            SELECT doc_id, dval AS medv FROM ranked WHERE rk = 32),
        bits AS (
            SELECT d.doc_id, d.u * 8 + d.v2 AS k,
                   CASE WHEN d.dval > m.medv THEN 1 ELSE 0 END AS bit
            FROM d JOIN med m ON m.doc_id = d.doc_id
            WHERE NOT (d.u = 0 AND d.v2 = 0))
        SELECT doc_id,
               CAST(SUM(CASE WHEN k >= 32
                             THEN bit * (CAST(1 AS BIGINT) << (k - 32))
                             ELSE 0 END) AS BIGINT) AS ph_hi,
               CAST(SUM(CASE WHEN k < 32
                             THEN bit * (CAST(1 AS BIGINT) << k)
                             ELSE 0 END) AS BIGINT) AS ph_lo,
               CAST(SUM(bit) AS INTEGER) AS n_ones
        FROM bits
        GROUP BY doc_id
        ORDER BY doc_id
    """


# Zero-crossing rate: the classic no-FFT spectral proxy (high ZCR ~
# noisy/fricative content, low ZCR ~ tonal) — pure integer counting,
# so the full decode+feature path value-hash-checks. A crossing is a
# STRICT sign flip (v[i-1] * v[i] < 0, zeros never cross) between
# consecutive samples INSIDE a frame — frame-boundary pairs belong to
# neither frame, keeping frames independent units on both engines.
_ZCR_SCHEMA = "doc_id bigint, frame_id int, n_zc bigint"


@_per_payload(_ZCR_SCHEMA)
def _frame_zcr(doc_id: int, buf: bytes) -> Iterator[tuple]:
    """mapInPandas worker: count strict sign flips per FRAME_LEN window
    of the WAV's samples (vectorized int64 product test)."""
    _, samples = _read_pcm16(buf)
    frames = samples.astype(np.int64)[: _N_FRAMES * FRAME_LEN].reshape(
        _N_FRAMES, FRAME_LEN
    )
    zc = ((frames[:, :-1] * frames[:, 1:]) < 0).sum(axis=1)
    for fid in range(_N_FRAMES):
        yield doc_id, fid, int(zc[fid])


def multimodal_audio_zcr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-frame zero-crossing counts over the real WAV payloads —
    the energy sibling's spectral-proxy counterpart (module comment).
    Same Arrow-batched mapInPandas shape as the decode: payloads never
    leave the executor, output rows are frames x docs."""
    return (
        _wav_payloads(spark, sf_dir)
        .mapInPandas(_frame_zcr, schema=_ZCR_SCHEMA)
        .orderBy("doc_id", "frame_id")
    )


QUERIES["multimodal_audio_zcr"] = multimodal_audio_zcr

ORACLES["multimodal_audio_zcr"] = f"""
    WITH t AS (
        SELECT doc_id,
               substr(repeat(text,
                             CAST(ceil({_WAV_DATA_BYTES} / CAST(length(text) AS DOUBLE)) AS INT)),
                      1, {_WAV_DATA_BYTES}) AS px
        FROM {_ASCII_DOCS_SQL}
        WHERE length(text) > 0),
    u AS (
        SELECT doc_id,
               CAST((i - 1) // {FRAME_LEN} AS INTEGER) AS frame_id,
               CAST(i - 1 AS INTEGER) AS idx,
               ascii(substr(px, 2 * i - 1, 1))
                   + 256 * ascii(substr(px, 2 * i, 1)) AS raw
        FROM t, generate_series(1, {WAV_SAMPLES}) AS g(i)),
    s AS (
        SELECT doc_id, frame_id, idx,
               CASE WHEN raw >= 32768 THEN raw - 65536 ELSE raw END AS v
        FROM u),
    lagged AS (
        SELECT doc_id, frame_id, v,
               LAG(v) OVER (PARTITION BY doc_id, frame_id
                            ORDER BY idx) AS pv
        FROM s)
    SELECT doc_id, frame_id,
           CAST(COUNT(*) FILTER (pv IS NOT NULL AND pv * v < 0)
                AS BIGINT) AS n_zc
    FROM lagged
    GROUP BY doc_id, frame_id
    ORDER BY doc_id, frame_id
"""


# Sobel edge energy: the classic 3x3 gradient operator on the summed-
# channel gray image (r+g+b, the aHash convention — range 0..765).
# All-integer: gx/gy are small weighted sums, the per-pixel gradient
# magnitude is kept SQUARED (gx^2 + gy^2, no sqrt), so the whole
# decode+convolve+aggregate path value-hash-checks. Border pixels have
# no full 3x3 neighborhood and are excluded (interior-only, the
# "valid" convolution mode) — identical on both engines by
# construction. Kernel weights factor as wx = dc * (2 - |dr|),
# wy = dr * (2 - |dc|).
STRONG_GRAD2 = 500_000  # per-pixel gx^2+gy^2 above this = strong edge

_SOBEL_SCHEMA = (
    "doc_id bigint, edge_energy bigint, max_grad2 bigint, n_strong bigint"
)


@_per_payload(_SOBEL_SCHEMA)
def _sobel_energy(doc_id: int, buf: bytes) -> Iterator[tuple]:
    """mapInPandas worker: valid-mode integer Sobel on the gray image via
    shifted-slice accumulation, per-image totals."""
    gray = _read_gray(buf)
    h, w = gray.shape
    gx = np.zeros((h - 2, w - 2), dtype=np.int64)
    gy = np.zeros((h - 2, w - 2), dtype=np.int64)
    for dr in (-1, 0, 1):
        for dc in (-1, 0, 1):
            wx = dc * (2 - abs(dr))
            wy = dr * (2 - abs(dc))
            if wx == 0 and wy == 0:
                continue
            sl = gray[1 + dr : h - 1 + dr, 1 + dc : w - 1 + dc]
            if wx:
                gx += wx * sl
            if wy:
                gy += wy * sl
    grad2 = gx * gx + gy * gy
    yield doc_id, int(grad2.sum()), int(grad2.max()), int((grad2 > STRONG_GRAD2).sum())


def multimodal_image_sobel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-image integer Sobel edge profile: total squared-gradient
    energy, the sharpest pixel's squared magnitude, and the count of
    strong-edge pixels (module comment). Same Arrow-batched
    mapInPandas shape as the other image ops."""
    return (
        _ppm_payloads(spark, sf_dir, fan=True)
        .mapInPandas(_sobel_energy, schema=_SOBEL_SCHEMA)
        .orderBy("doc_id")
    )


QUERIES["multimodal_image_sobel"] = multimodal_image_sobel

ORACLES["multimodal_image_sobel"] = f"""
    WITH t AS (
        SELECT doc_id,
               substr(repeat(text,
                             CAST(ceil({_PPM_PIXELS} / CAST(length(text) AS DOUBLE)) AS INT)),
                      1, {_PPM_PIXELS}) AS px
        FROM {_ASCII_DOCS_SQL}
        WHERE length(text) > 0),
    gray AS (
        SELECT doc_id,
               CAST((i - 1) // {PPM_W} AS INTEGER) AS r,
               CAST((i - 1) % {PPM_W} AS INTEGER) AS c,
               ascii(substr(px, (i - 1) * 3 + 1, 1))
                   + ascii(substr(px, (i - 1) * 3 + 2, 1))
                   + ascii(substr(px, (i - 1) * 3 + 3, 1)) AS g
        FROM t, generate_series(1, {PPM_W * PPM_H}) AS gs(i)),
    kernel(dr, dc, wx, wy) AS (
        SELECT dr, dc, dc * (2 - abs(dr)), dr * (2 - abs(dc))
        FROM (SELECT unnest([-1, 0, 1]) AS dr),
             (SELECT unnest([-1, 0, 1]) AS dc)
        WHERE NOT (dr = 0 AND dc = 0)),
    grads AS (
        SELECT ctr.doc_id, ctr.r, ctr.c,
               SUM(k.wx * nb.g) AS gx,
               SUM(k.wy * nb.g) AS gy
        FROM gray ctr
        JOIN kernel k ON TRUE
        JOIN gray nb ON nb.doc_id = ctr.doc_id
                    AND nb.r = ctr.r + k.dr AND nb.c = ctr.c + k.dc
        WHERE ctr.r BETWEEN 1 AND {PPM_H - 2}
          AND ctr.c BETWEEN 1 AND {PPM_W - 2}
        GROUP BY 1, 2, 3),
    g2 AS (
        SELECT doc_id, gx * gx + gy * gy AS grad2 FROM grads)
    SELECT doc_id,
           CAST(SUM(grad2) AS BIGINT) AS edge_energy,
           CAST(MAX(grad2) AS BIGINT) AS max_grad2,
           CAST(COUNT(*) FILTER (grad2 > {STRONG_GRAD2}) AS BIGINT)
               AS n_strong
    FROM g2
    GROUP BY doc_id
    ORDER BY doc_id
"""


# Luminance histogram: the exposure/contrast profile every image QA
# pass starts with. Bins are the summed-channel gray (0..765) cut into
# HIST_BINS equal-width buckets — pure integer binning, so the
# decode+bin path value-hash-checks end-to-end.
HIST_BINS = 8
_HIST_BIN_W = 768 // HIST_BINS  # 96 gray levels per bin

_HISTO_SCHEMA = "doc_id bigint, bin int, n_px bigint"


@_per_payload(_HISTO_SCHEMA)
def _lum_histogram(doc_id: int, buf: bytes) -> Iterator[tuple]:
    """mapInPandas worker: fixed-width bincount of the gray image."""
    counts = np.bincount(
        _read_gray(buf).reshape(-1) // _HIST_BIN_W, minlength=HIST_BINS
    )
    for b in range(HIST_BINS):
        yield doc_id, b, int(counts[b])


def multimodal_image_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-image 8-bin luminance histogram (module comment) — every
    image emits all HIST_BINS rows (zeros included) so downstream
    contrast metrics never need an existence join."""
    return (
        _ppm_payloads(spark, sf_dir)
        .mapInPandas(_lum_histogram, schema=_HISTO_SCHEMA)
        .orderBy("doc_id", "bin")
    )


QUERIES["multimodal_image_histogram"] = multimodal_image_histogram

ORACLES["multimodal_image_histogram"] = f"""
    WITH t AS (
        SELECT doc_id,
               substr(repeat(text,
                             CAST(ceil({_PPM_PIXELS} / CAST(length(text) AS DOUBLE)) AS INT)),
                      1, {_PPM_PIXELS}) AS px
        FROM {_ASCII_DOCS_SQL}
        WHERE length(text) > 0),
    gray AS (
        SELECT doc_id,
               (ascii(substr(px, (i - 1) * 3 + 1, 1))
                + ascii(substr(px, (i - 1) * 3 + 2, 1))
                + ascii(substr(px, (i - 1) * 3 + 3, 1)))
                   // {_HIST_BIN_W} AS bin
        FROM t, generate_series(1, {PPM_W * PPM_H}) AS g(i)),
    bins AS (
        SELECT DISTINCT doc_id, unnest(generate_series(0,
                   {HIST_BINS - 1})) AS bin
        FROM t)
    SELECT b.doc_id, CAST(b.bin AS INTEGER) AS bin,
           CAST(COALESCE(c.n, 0) AS BIGINT) AS n_px
    FROM bins b
    LEFT JOIN (SELECT doc_id, bin, COUNT(*) AS n
               FROM gray GROUP BY 1, 2) c
      ON c.doc_id = b.doc_id AND c.bin = b.bin
    ORDER BY b.doc_id, b.bin
"""


# Raw image moments m00/m10/m01 (gray mass and its row/column first
# moments) — the centroid-of-brightness feature (orientation, framing
# drift). All-integer numerators; centroids surface in milli-pixels
# via the truncating-div contract.
_MOMENTS_SCHEMA = (
    "doc_id bigint, m00 bigint, m10 bigint, m01 bigint,"
    " centroid_r_milli bigint, centroid_c_milli bigint"
)


@_per_payload(_MOMENTS_SCHEMA)
def _image_moments(doc_id: int, buf: bytes) -> Iterator[tuple]:
    """mapInPandas worker: vectorized raw moments of the gray image +
    milli centroids."""
    gray = _read_gray(buf)
    h, w = gray.shape
    m00 = int(gray.sum())
    m10 = int((np.arange(h, dtype=np.int64)[:, None] * gray).sum())
    m01 = int((np.arange(w, dtype=np.int64)[None, :] * gray).sum())
    yield (
        doc_id, m00, m10, m01,
        m10 * 1000 // m00 if m00 else 0,
        m01 * 1000 // m00 if m00 else 0,
    )


def multimodal_image_moments(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-image raw brightness moments and milli-pixel centroid
    (module comment) — the same Arrow-batched decode shape as the
    other image features."""
    return (
        _ppm_payloads(spark, sf_dir)
        .mapInPandas(_image_moments, schema=_MOMENTS_SCHEMA)
        .orderBy("doc_id")
    )


QUERIES["multimodal_image_moments"] = multimodal_image_moments

ORACLES["multimodal_image_moments"] = f"""
    WITH t AS (
        SELECT doc_id,
               substr(repeat(text,
                             CAST(ceil({_PPM_PIXELS} / CAST(length(text) AS DOUBLE)) AS INT)),
                      1, {_PPM_PIXELS}) AS px
        FROM {_ASCII_DOCS_SQL}
        WHERE length(text) > 0),
    gray AS (
        SELECT doc_id,
               (i - 1) // {PPM_W} AS r,
               (i - 1) % {PPM_W} AS c,
               ascii(substr(px, (i - 1) * 3 + 1, 1))
                   + ascii(substr(px, (i - 1) * 3 + 2, 1))
                   + ascii(substr(px, (i - 1) * 3 + 3, 1)) AS g
        FROM t, generate_series(1, {PPM_W * PPM_H}) AS gs(i)),
    mom AS (
        SELECT doc_id,
               CAST(SUM(g) AS BIGINT) AS m00,
               CAST(SUM(r * g) AS BIGINT) AS m10,
               CAST(SUM(c * g) AS BIGINT) AS m01
        FROM gray GROUP BY doc_id)
    SELECT doc_id, m00, m10, m01,
           CAST(CASE WHEN m00 = 0 THEN 0
                ELSE m10 * 1000 // m00 END AS BIGINT) AS centroid_r_milli,
           CAST(CASE WHEN m00 = 0 THEN 0
                ELSE m01 * 1000 // m00 END AS BIGINT) AS centroid_c_milli
    FROM mom
    ORDER BY doc_id
"""


# Horizontal-mirror symmetry: sum of |gray(r,c) - gray(r, W-1-c)| over
# the left half — 0 means perfectly mirror-symmetric. Normalized
# against total gray mass in ppm (truncating div).
_SYMMETRY_SCHEMA = (
    "doc_id bigint, asym_sum bigint, gray_mass bigint, asym_ppm bigint"
)


@_per_payload(_SYMMETRY_SCHEMA)
def _image_symmetry(doc_id: int, buf: bytes) -> Iterator[tuple]:
    """mapInPandas worker: vectorized mirror-difference accumulation on
    the gray image."""
    gray = _read_gray(buf)
    half = gray.shape[1] // 2
    asym = int(np.abs(gray[:, :half] - gray[:, ::-1][:, :half]).sum())
    mass = int(gray.sum())
    yield doc_id, asym, mass, asym * 1_000_000 // mass if mass else 0


def multimodal_image_symmetry(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-image horizontal-mirror asymmetry (module comment): exact
    integer mirror-difference mass and its ppm share of total gray —
    the composition/framing feature; same Arrow-batched decode
    shape."""
    return (
        _ppm_payloads(spark, sf_dir)
        .mapInPandas(_image_symmetry, schema=_SYMMETRY_SCHEMA)
        .orderBy("doc_id")
    )


QUERIES["multimodal_image_symmetry"] = multimodal_image_symmetry

ORACLES["multimodal_image_symmetry"] = f"""
    WITH t AS (
        SELECT doc_id,
               substr(repeat(text,
                             CAST(ceil({_PPM_PIXELS} / CAST(length(text) AS DOUBLE)) AS INT)),
                      1, {_PPM_PIXELS}) AS px
        FROM {_ASCII_DOCS_SQL}
        WHERE length(text) > 0),
    gray AS (
        SELECT doc_id,
               (i - 1) // {PPM_W} AS r,
               (i - 1) % {PPM_W} AS c,
               ascii(substr(px, (i - 1) * 3 + 1, 1))
                   + ascii(substr(px, (i - 1) * 3 + 2, 1))
                   + ascii(substr(px, (i - 1) * 3 + 3, 1)) AS g
        FROM t, generate_series(1, {PPM_W * PPM_H}) AS gs(i)),
    asym AS (
        SELECT a.doc_id,
               CAST(SUM(ABS(a.g - b.g)) AS BIGINT) AS asym_sum
        FROM gray a
        JOIN gray b ON b.doc_id = a.doc_id AND b.r = a.r
                   AND b.c = {PPM_W - 1} - a.c
        WHERE a.c < {PPM_W // 2}
        GROUP BY a.doc_id),
    mass AS (
        SELECT doc_id, CAST(SUM(g) AS BIGINT) AS gray_mass
        FROM gray GROUP BY doc_id)
    SELECT m.doc_id, COALESCE(a.asym_sum, 0) AS asym_sum, m.gray_mass,
           CAST(CASE WHEN m.gray_mass = 0 THEN 0
                ELSE COALESCE(a.asym_sum, 0) * 1000000 // m.gray_mass END
                AS BIGINT) AS asym_ppm
    FROM mass m LEFT JOIN asym a ON a.doc_id = m.doc_id
    ORDER BY m.doc_id
"""


# Global SSIM between ADJACENT-id images: the structural-similarity
# screen a vision-dedup pass runs before pixel hashing. Constants are
# the standard (k*L)^2 with L = 765 (three-channel gray), floored to
# pinned integers so the whole metric is exact.
SSIM_C1 = 58   # floor((0.01 * 765)^2)
SSIM_C2 = 526  # floor((0.03 * 765)^2)
_SSIM_N = PPM_W * PPM_H

_SSIM_SCHEMA = (
    "doc_a bigint, doc_b bigint, s1a bigint, s1b bigint,"
    " s2a bigint, s2b bigint, s12 bigint"
)


def _ssim_sums(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
    """mapInPandas worker: decode both P6 payloads of a pair, emit the
    five exact integer pixel sums the SSIM algebra needs."""
    for pdf in batches:
        rows = []
        for doc_a, doc_b, pa, pb in zip(
            pdf["doc_a"], pdf["doc_b"], pdf["pa"], pdf["pb"]
        ):
            ga = _read_gray(bytes(pa)).reshape(-1)
            gb = _read_gray(bytes(pb)).reshape(-1)
            rows.append((
                int(doc_a), int(doc_b), int(ga.sum()), int(gb.sum()),
                int((ga * ga).sum()), int((gb * gb).sum()), int((ga * gb).sum()),
            ))
        yield _pandas_batch(_SSIM_SCHEMA, rows)


def multimodal_image_ssim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact global SSIM (ppm, sign split) between adjacent-id images:
    Arrow-batched decode emits integer pixel sums; the SSIM algebra —
    luminance and contrast/structure factors scaled by n^2, pinned
    integer constants — runs JVM-side so the DuckDB twin mirrors it
    literally. The covariance term can be negative, so the surfaced
    value is sign(num) * (|num| * 1e6 div den) (den > 0 always —
    variances and constants are non-negative).

    Scale shape (100 TB): one payload self-join keyed doc_id+1 (the
    BLEU pairing shape), one Arrow pass per pair, constant-size
    algebra per row. No window, no explode."""
    pl = _ppm_payloads(spark, sf_dir, fan=True)
    pairs = (
        pl.alias("a")
        .join(
            pl.alias("b"),
            F.col("b.doc_id") == F.col("a.doc_id") + 1,
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.payload").alias("pa"),
            F.col("b.payload").alias("pb"),
        )
    )
    sums = pairs.mapInPandas(_ssim_sums, schema=_SSIM_SCHEMA)
    n = _SSIM_N
    return (
        sums.select(
            "doc_a",
            "doc_b",
            "s12",
            F.expr(
                f"CAST(2 * CAST(s1a AS DECIMAL(38,0)) * s1b"
                f" + {SSIM_C1} * {n * n} AS DECIMAL(38,0))"
            ).alias("_lnum"),
            F.expr(
                f"CAST(CAST(s1a AS DECIMAL(38,0)) * s1a"
                f" + CAST(s1b AS DECIMAL(38,0)) * s1b"
                f" + {SSIM_C1} * {n * n} AS DECIMAL(38,0))"
            ).alias("_lden"),
            F.expr(
                f"CAST(2 * ({n} * CAST(s12 AS DECIMAL(38,0))"
                f" - CAST(s1a AS DECIMAL(38,0)) * s1b)"
                f" + {SSIM_C2} * {n * n} AS DECIMAL(38,0))"
            ).alias("_csnum"),
            F.expr(
                f"CAST(({n} * CAST(s2a AS DECIMAL(38,0))"
                f" - CAST(s1a AS DECIMAL(38,0)) * s1a)"
                f" + ({n} * CAST(s2b AS DECIMAL(38,0))"
                f" - CAST(s1b AS DECIMAL(38,0)) * s1b)"
                f" + {SSIM_C2} * {n * n} AS DECIMAL(38,0))"
            ).alias("_csden"),
        )
        .select(
            "doc_a",
            "doc_b",
            "s12",
            F.expr(
                "CAST(CASE WHEN _lnum * _csnum < 0 THEN -1 ELSE 1 END"
                " * (ABS(_lnum * _csnum) * 1000000"
                "    div (_lden * _csden)) AS BIGINT)"
            ).alias("ssim_ppm"),
        )
        .orderBy("doc_a")
    )


QUERIES["multimodal_image_ssim"] = multimodal_image_ssim

ORACLES["multimodal_image_ssim"] = f"""
    WITH t AS (
        SELECT doc_id,
               substr(repeat(text,
                             CAST(ceil({_PPM_PIXELS} / CAST(length(text) AS DOUBLE)) AS INT)),
                      1, {_PPM_PIXELS}) AS px
        FROM {_ASCII_DOCS_SQL}
        WHERE length(text) > 0),
    gray AS (
        SELECT doc_id, i,
               ascii(substr(px, (i - 1) * 3 + 1, 1))
                   + ascii(substr(px, (i - 1) * 3 + 2, 1))
                   + ascii(substr(px, (i - 1) * 3 + 3, 1)) AS g
        FROM t, generate_series(1, {PPM_W * PPM_H}) AS gs(i)),
    sums AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(SUM(a.g) AS BIGINT) AS s1a,
               CAST(SUM(b.g) AS BIGINT) AS s1b,
               SUM(CAST(a.g AS HUGEINT) * a.g) AS s2a,
               SUM(CAST(b.g AS HUGEINT) * b.g) AS s2b,
               CAST(SUM(CAST(a.g AS HUGEINT) * b.g) AS BIGINT) AS s12
        FROM gray a
        JOIN gray b ON b.doc_id = a.doc_id + 1 AND b.i = a.i
        GROUP BY 1, 2),
    alg AS (
        SELECT doc_a, doc_b, s12,
               2 * CAST(s1a AS HUGEINT) * s1b
                   + {SSIM_C1} * {_SSIM_N * _SSIM_N} AS lnum,
               CAST(s1a AS HUGEINT) * s1a + CAST(s1b AS HUGEINT) * s1b
                   + {SSIM_C1} * {_SSIM_N * _SSIM_N} AS lden,
               2 * ({_SSIM_N} * CAST(s12 AS HUGEINT)
                    - CAST(s1a AS HUGEINT) * s1b)
                   + {SSIM_C2} * {_SSIM_N * _SSIM_N} AS csnum,
               ({_SSIM_N} * s2a - CAST(s1a AS HUGEINT) * s1a)
                   + ({_SSIM_N} * s2b - CAST(s1b AS HUGEINT) * s1b)
                   + {SSIM_C2} * {_SSIM_N * _SSIM_N} AS csden
        FROM sums)
    SELECT doc_a, doc_b, s12,
           CAST(CASE WHEN lnum * csnum < 0 THEN -1 ELSE 1 END
                * (ABS(lnum * csnum) * 1000000 // (lden * csden))
                AS BIGINT) AS ssim_ppm
    FROM alg
    ORDER BY doc_a
"""
