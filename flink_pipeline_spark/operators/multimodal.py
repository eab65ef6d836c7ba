"""Multimodal columns (SURVEY.md L4): opaque binary payloads + typed
metadata, with decode/feature-extraction as Arrow-batched pandas UDFs.

The codecs use no image/audio library: the PCM decode is a
self-contained struct-unpack codec — payload bytes are parsed as
little-endian unsigned 16-bit samples (the 16-bit PCM layout) and
summarized into deterministic sample-domain statistics — a genuine
decode step (bytes -> typed samples -> features) with no external
deps, replayable byte-for-byte by the DuckDB oracle via read_blob hex
arithmetic.

Scale notes: payloads ride as parquet binary; mapInPandas streams
Arrow record batches so a partition never fully materializes in
Python; feature extraction parallelism is just partition parallelism
(repartition upstream to size batches for codec memory).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..caching import stage
from .llm import capped_bucket_pairs, topk_cut

MULTIMODAL_SCHEMA = (
    "doc_id BIGINT, payload BINARY, "
    "meta STRUCT<byte_len: BIGINT, content_hash: STRING, mime: STRING>"
)


def to_multimodal(docs: DataFrame) -> DataFrame:
    """documents -> (doc_id, payload: binary, meta: struct). Models an
    image/audio table: payload is an opaque blob, metadata is typed."""
    payload = F.encode(F.col("text"), "UTF-8")
    return docs.select(
        "doc_id",
        payload.alias("payload"),
        F.struct(
            F.octet_length(payload).cast("bigint").alias("byte_len"),
            F.substring(F.md5(F.col("text")), 1, 8).alias("content_hash"),
            F.lit("application/octet-stream").alias("mime"),
        ).alias("meta"),
    )


PCM16_SCHEMA = (
    "file STRING, n_samples BIGINT, peak BIGINT, energy BIGINT, mean_ampl DOUBLE"
)


def decode_pcm16(files: DataFrame) -> DataFrame:
    """Per-file PCM16 decode: (file, content: binary) -> sample stats.

    The codec parses each payload as little-endian unsigned 16-bit
    samples and emits exact-integer sample statistics plus the
    floor-rounded mean — every output is engine-portable, so the
    DuckDB oracle replays the decode from read_blob hex arithmetic.
    """

    def dec(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import math

        import numpy as np

        for pdf in batches:
            rows = []
            for file, content in zip(pdf["file"], pdf["content"]):
                b = bytes(content)
                v = np.frombuffer(b[: len(b) // 2 * 2], dtype="<u2").astype("int64")
                n = int(v.size)
                if n == 0:
                    rows.append((file, 0, 0, 0, 0.0))
                    continue
                mean = float(int(v.sum())) / n
                rows.append(
                    (
                        file,
                        n,
                        int(v.max()),
                        int((v * v).sum()),
                        math.floor(mean * 10_000 + 0.5) / 10_000,
                    )
                )
            yield pd.DataFrame(
                rows, columns=["file", "n_samples", "peak", "energy", "mean_ampl"]
            )

    return files.select("file", "content").mapInPandas(dec, schema=PCM16_SCHEMA)


PPM_SCHEMA = (
    "file STRING, width BIGINT, height BIGINT, n_pixels BIGINT, "
    "mean_r DOUBLE, mean_g DOUBLE, mean_b DOUBLE, peak BIGINT, pixel_fp BIGINT"
)

_P31 = 2_147_483_647  # Mersenne prime 2^31-1 (the fingerprint modulus)


def decode_ppm(files: DataFrame) -> DataFrame:
    """Per-file binary-PPM (P6) image decode: (file, content: binary)
    -> raster stats. A genuine image codec with no external libraries:
    tokenize the ASCII header (magic, dimensions, maxval), reinterpret
    the payload as a height x width x 3 uint8 RGB plane, and emit
    per-channel means (floor-rounded ten-thousandths), the peak byte,
    and an order-sensitive position-weighted pixel fingerprint
    (sum((i+1) * byte_i) mod 2^31-1 — the q_text_fingerprint
    convention) so the full decoded plane is gated, not just its
    moments. Raises on a non-P6 magic or a pixel plane whose length
    disagrees with the header — a truncated image must fail loudly,
    not produce plausible stats.

    Scale: identical plumbing to decode_pcm16 — one row per file from
    the binaryFile scan, Arrow-batched mapInPandas, per-file outputs;
    no shuffle at all until a downstream aggregate."""

    def dec(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import math
        import re

        import numpy as np

        # Pinned to the exact newline-delimited layout the DuckDB
        # oracle tokenizes ("P6\n<w> <h>\n<maxval>\n" — what
        # scripts/make_image_fixtures.py emits): the PPM spec allows
        # arbitrary whitespace separators, but a codec more lenient
        # than its oracle would decode headers the oracle mis-parses
        # (ADVICE r7). Both engines now accept the same byte grammar
        # and fail identically on anything else.
        hdr_re = re.compile(rb"^P6\n(\d+) (\d+)\n(\d+)\n")
        for pdf in batches:
            rows = []
            for file, content in zip(pdf["file"], pdf["content"]):
                b = bytes(content)
                m = hdr_re.match(b)
                if m is None:
                    raise ValueError(
                        f"{file}: not a newline-delimited binary PPM "
                        "(P6) header (codec pins the oracle's grammar: "
                        "'P6\\n<w> <h>\\n<maxval>\\n')"
                    )
                w, h, maxval = (int(g) for g in m.groups())
                if maxval != 255:
                    raise ValueError(f"{file}: only 8-bit PPM supported")
                px = np.frombuffer(b, dtype=np.uint8, offset=m.end()).astype(
                    np.int64
                )
                if px.size != w * h * 3:
                    raise ValueError(
                        f"{file}: pixel plane {px.size} != {w}x{h}x3"
                    )
                plane = px.reshape(h, w, 3)
                means = [
                    math.floor(float(plane[:, :, c].mean()) * 10_000 + 0.5)
                    / 10_000
                    for c in range(3)
                ]
                fp = int(
                    ((np.arange(1, px.size + 1, dtype=np.int64) * px) % _P31)
                    .sum()
                    % _P31
                )
                rows.append(
                    (file, w, h, w * h, *means, int(px.max()), fp)
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "file", "width", "height", "n_pixels",
                    "mean_r", "mean_g", "mean_b", "peak", "pixel_fp",
                ],
            )

    return files.select("file", "content").mapInPandas(dec, schema=PPM_SCHEMA)


WAV_SCHEMA = (
    "file STRING, channels BIGINT, sample_rate BIGINT, n_frames BIGINT, "
    "peak_abs BIGINT, mean_ampl DOUBLE, rms DOUBLE, sample_fp BIGINT"
)


def decode_wav(files: DataFrame) -> DataFrame:
    """Per-file WAV (RIFF/PCM16LE) container decode: (file, content:
    binary) -> audio stats. A genuine CONTAINER parser with no
    external libraries — the third modality format after raw PCM16
    and binary PPM: validate the RIFF/WAVE/fmt/data chunk layout
    (canonical 44-byte header), extract the little-endian typed fields
    (channels, sample rate, bit depth), reinterpret the data chunk as
    SIGNED little-endian 16-bit samples, and emit per-file frame
    count, peak |amplitude|, exact-integer-backed mean and RMS
    (floor-rounded ten-thousandths), and the order-sensitive
    position-weighted sample fingerprint (mod 2^31-1, offset to
    non-negative per the portable-% convention). Every header
    deviation — bad magic, non-PCM format, non-16-bit depth, a data
    chunk whose length disagrees with its size field, samples not
    dividing evenly into channels — raises loudly; the DuckDB oracle
    replays the identical guards from read_blob hex arithmetic.

    Scale: identical plumbing to decode_ppm — one row per file from
    the binaryFile scan, Arrow-batched mapInPandas, no shuffle."""

    def dec(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import math
        import struct

        import numpy as np

        for pdf in batches:
            rows = []
            for file, content in zip(pdf["file"], pdf["content"]):
                b = bytes(content)
                if len(b) < 44 or b[0:4] != b"RIFF" or b[8:12] != b"WAVE":
                    raise ValueError(f"{file}: not a RIFF/WAVE container")
                if b[12:16] != b"fmt " or struct.unpack("<I", b[16:20])[0] != 16:
                    raise ValueError(f"{file}: non-canonical fmt chunk")
                fmt, channels, rate = struct.unpack("<HHI", b[20:28])
                bits = struct.unpack("<H", b[34:36])[0]
                if fmt != 1 or bits != 16:
                    raise ValueError(
                        f"{file}: only PCM16 supported (fmt={fmt}, bits={bits})"
                    )
                if b[36:40] != b"data":
                    raise ValueError(f"{file}: missing data chunk")
                data_size = struct.unpack("<I", b[40:44])[0]
                if len(b) != 44 + data_size or data_size % 2 != 0:
                    raise ValueError(
                        f"{file}: data chunk {data_size} disagrees with "
                        f"payload {len(b) - 44}"
                    )
                s = np.frombuffer(b, dtype="<i2", offset=44).astype(np.int64)
                n = int(s.size)
                if channels == 0 or n % channels != 0:
                    raise ValueError(
                        f"{file}: {n} samples not divisible into "
                        f"{channels} channels"
                    )
                mean = float(int(s.sum())) / n
                rms = math.sqrt(float(int((s * s).sum())) / n)
                fp = int(
                    (
                        (np.arange(1, n + 1, dtype=np.int64) * (s + 32768))
                        % _P31
                    ).sum()
                    % _P31
                )
                rows.append(
                    (
                        file,
                        int(channels),
                        int(rate),
                        n // int(channels),
                        int(np.abs(s).max()),
                        math.floor(mean * 10_000 + 0.5) / 10_000,
                        math.floor(rms * 10_000 + 0.5) / 10_000,
                        fp,
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "file", "channels", "sample_rate", "n_frames",
                    "peak_abs", "mean_ampl", "rms", "sample_fp",
                ],
            )

    return files.select("file", "content").mapInPandas(dec, schema=WAV_SCHEMA)


FRAME_BYTES = 64
FRAME_STRIDE = 4
FRAMES_SCHEMA = "doc_id BIGINT, frame_idx BIGINT, frame_len BIGINT, frame_hash STRING"


def sample_frames(
    mm: DataFrame, frame_bytes: int = FRAME_BYTES, stride: int = FRAME_STRIDE
) -> DataFrame:
    """Frame sampling over binary payloads: treat each payload as a
    sequence of fixed-size frames (``frame_bytes``, the last frame may
    be short) and keep every ``stride``-th frame — the
    every-kth-video-frame extraction pattern. One input row fans out to
    ~frames/stride output rows; the row explosion happens INSIDE the
    pandas iterator, so Arrow batch shape in and out differ (the
    mapInPandas contract a real video sampler needs). Emits per-frame
    index, length and an md5-prefix fingerprint — scalar cells, so the
    whole sampled set is oracle-replayable.

    Scale: pure partition-parallel map, no shuffle; output size is
    input/stride. A real codec drops in by replacing the frame slicing
    with decoder calls — the plumbing (schema, batching, fan-out) is
    what this operator pins down."""

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in batches:
            out: dict[str, list] = {
                "doc_id": [], "frame_idx": [], "frame_len": [], "frame_hash": []
            }
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(payload)
                nframes = (len(b) + frame_bytes - 1) // frame_bytes
                for k in range(0, nframes, stride):
                    fr = b[k * frame_bytes : (k + 1) * frame_bytes]
                    out["doc_id"].append(doc_id)
                    out["frame_idx"].append(k)
                    out["frame_len"].append(len(fr))
                    out["frame_hash"].append(hashlib.md5(fr).hexdigest()[:8])
            yield pd.DataFrame(out)

    return mm.select("doc_id", "payload").mapInPandas(sample, schema=FRAMES_SCHEMA)


RESIZE_SCHEMA = "doc_id BIGINT, orig_len BIGINT, out_len BIGINT, out_hash STRING"


def resize_payload(mm: DataFrame, factor: int = 2) -> DataFrame:
    """Payload resize (downsample by ``factor``): keeps every
    ``factor``-th byte — the stand-in for an image/audio resample, with
    the binary-in / summary-out mapInPandas plumbing a real resizer
    uses. Emits original/output lengths and the md5-prefix of the
    resized payload so the transformation is hash-gated end-to-end."""

    def rz(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(payload)
                out = b[::factor]
                rows.append(
                    (doc_id, len(b), len(out), hashlib.md5(out).hexdigest()[:8])
                )
            yield pd.DataFrame(
                rows, columns=["doc_id", "orig_len", "out_len", "out_hash"]
            )

    return mm.select("doc_id", "payload").mapInPandas(rz, schema=RESIZE_SCHEMA)


# ---------------------------------------------------------------------------
# Perceptual hashing (image near-dup support)
# ---------------------------------------------------------------------------

AHASH_GRID = 8  # 8x8 cells = 64 hash bits
AHASH_BANDS = 4  # pigeonhole bands of 16 bits (lossless to hamming 3)
MAX_HAMMING = 3  # near-dup radius: AHASH_BANDS x 16 bits block LOSSLESSLY to it
MAX_BUCKET = 1024  # hot-bucket cap of band/fingerprint blocking, as in simhash_pairs
LUMA_WEIGHTS = (299, 587, 114)  # integer ITU-R 601 luma x1000

AHASH_SCHEMA = "file STRING, blk BIGINT, key BIGINT"


def _parse_p6(file: str, b: bytes):
    """Shared strict P6 parse (the decode_ppm grammar): returns
    (w, h, pixel ndarray int64 of length w*h*3) or raises loudly."""
    import re

    import numpy as np

    m = re.compile(rb"^P6\n(\d+) (\d+)\n(\d+)\n").match(b)
    if m is None:
        raise ValueError(
            f"{file}: not a newline-delimited binary PPM (P6) header"
        )
    w, h, maxval = (int(g) for g in m.groups())
    if maxval != 255:
        raise ValueError(f"{file}: only 8-bit PPM supported")
    px = np.frombuffer(b, dtype=np.uint8, offset=m.end()).astype(np.int64)
    if px.size != w * h * 3:
        raise ValueError(f"{file}: pixel plane {px.size} != {w}x{h}x3")
    return w, h, px


def ahash_bands(files: DataFrame) -> DataFrame:
    """Per-image 64-bit average hash (aHash), emitted as 4 pigeonhole
    band keys: (file, blk 0..3, key 0..65535), 4 rows per image.

    The hash is integer-exact end-to-end: gray = 299R + 587G + 114B
    (x1000 luma, no division), the image is partitioned into an 8x8
    grid of equal pixel blocks (width/height must divide by 8 — a real
    pipeline resizes first; the committed phash fixtures are 16x16),
    and bit c is 1 iff cell_sum * 64 > total_sum (strict). Because
    each cell is compared to the global mean, a clip-free uniform
    brightness shift moves both sides identically — aHash is exactly
    brightness-invariant, which the fixture corpus demonstrates.

    Band layout: cell c (row-major) contributes bit (c % 16) of band
    c // 16. Two hashes within Hamming distance 3 MUST agree exactly
    on at least one of the 4 bands (pigeonhole), so near-dup blocking
    is a plain equi-join on (blk, key) — the simhash_pairs discipline.

    Scale: one Arrow batch pass per partition, 4 fixed-size rows per
    image out, no shuffle; 16-bit band keys give 65536 buckets/band,
    so bucket occupancy grows ~n/65536 per band. For web-scale image
    corpora widen the hash (pHash-DCT at 256 bits) before the 16-bit
    bands saturate — same curve as SIMHASH_BITS vs the calib width."""

    def enc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        g8 = AHASH_GRID
        for pdf in batches:
            rows = []
            for file, content in zip(pdf["file"], pdf["content"]):
                w, h, px = _parse_p6(file, bytes(content))
                if w % g8 or h % g8:
                    raise ValueError(
                        f"{file}: {w}x{h} not divisible into an "
                        f"{g8}x{g8} aHash grid — resize first"
                    )
                rgb = px.reshape(h, w, 3)
                gray = (
                    rgb[:, :, 0] * LUMA_WEIGHTS[0]
                    + rgb[:, :, 1] * LUMA_WEIGHTS[1]
                    + rgb[:, :, 2] * LUMA_WEIGHTS[2]
                )
                bh, bw = h // g8, w // g8
                cells = gray.reshape(g8, bh, g8, bw).sum(axis=(1, 3))
                bits = (cells.ravel() * (g8 * g8) > gray.sum()).astype(
                    np.int64
                )
                for blk in range(AHASH_BANDS):
                    seg = bits[blk * 16 : (blk + 1) * 16]
                    key = int((seg << np.arange(16, dtype=np.int64)).sum())
                    rows.append((file, blk, key))
            yield pd.DataFrame(rows, columns=["file", "blk", "key"])

    return files.select("file", "content").mapInPandas(enc, schema=AHASH_SCHEMA)


def dhash_bands(files: DataFrame) -> DataFrame:
    """Per-image 64-bit difference hash (dHash), emitted as 4
    pigeonhole band keys — ahash_bands' gradient sibling (the other
    classic perceptual hash family): over the SAME integer-exact 8x8
    cell-sum grid, bit (r, c) is 1 iff cell[r][c] > cell[r][(c+1) % 8]
    (row-wise horizontal gradient with wraparound, which keeps the
    hash at exactly 64 bits without the classic 9-column resample —
    the wraparound bit compares last to first column). Cell c
    (row-major) contributes bit (c % 16) of band c // 16, the ahash
    band layout, so the blocking/verify machinery is shared verbatim.

    Gradients see what means do not: a local perturbation that leaves
    the global mean almost unchanged (aHash's blind spot — the
    fixture's moderate-noise variant flips 5 aHash bits) moves few
    cell ORDER relations, so dHash keeps such pairs inside the
    lossless blocking radius; conversely dHash is exactly invariant
    to clip-free brightness shift AND positive contrast scaling
    (order relations survive both). Scale shape identical to
    ahash_bands: one Arrow pass, 4 fixed rows per image, no
    shuffle."""

    def enc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        g8 = AHASH_GRID
        for pdf in batches:
            rows = []
            for file, content in zip(pdf["file"], pdf["content"]):
                w, h, px = _parse_p6(file, bytes(content))
                if w % g8 or h % g8:
                    raise ValueError(
                        f"{file}: {w}x{h} not divisible into an "
                        f"{g8}x{g8} dHash grid — resize first"
                    )
                rgb = px.reshape(h, w, 3)
                gray = (
                    rgb[:, :, 0] * LUMA_WEIGHTS[0]
                    + rgb[:, :, 1] * LUMA_WEIGHTS[1]
                    + rgb[:, :, 2] * LUMA_WEIGHTS[2]
                )
                bh, bw = h // g8, w // g8
                cells = gray.reshape(g8, bh, g8, bw).sum(axis=(1, 3))
                bits = (cells > np.roll(cells, -1, axis=1)).astype(
                    np.int64
                ).ravel()
                for blk in range(AHASH_BANDS):
                    seg = bits[blk * 16 : (blk + 1) * 16]
                    key = int((seg << np.arange(16, dtype=np.int64)).sum())
                    rows.append((file, blk, key))
            yield pd.DataFrame(rows, columns=["file", "blk", "key"])

    return files.select("file", "content").mapInPandas(enc, schema=AHASH_SCHEMA)


def band_pairs(bands: DataFrame) -> DataFrame:
    """(file_a, file_b, hamming): every pair of files whose 64-bit
    hashes, given as (file, blk, key) band rows, lie within
    MAX_HAMMING bits. Candidates are capped_bucket_pairs over exact
    (blk, key) agreement (pigeonhole: lossless to MAX_HAMMING), then
    the exact bit_count(xor) verify is summed over the bands. Shared
    by the aHash, dHash and audio fingerprint pair queries; the Spark
    twin of plans/image_dedup._pairs_sql. The band rows are read three
    times (the buckets and both verify sides), so they are staged once
    and the caller's codec runs once."""
    bands = stage(bands)
    cand = capped_bucket_pairs(
        bands.select(F.col("file").alias("doc_id"), "blk", "key"),
        ["blk", "key"],
        MAX_BUCKET,
    ).select(F.col("doc_a").alias("file_a"), F.col("doc_b").alias("file_b"))
    ka = bands.select(
        F.col("file").alias("file_a"), "blk", F.col("key").alias("key_a")
    )
    kb = bands.select(
        F.col("file").alias("file_b"), "blk", F.col("key").alias("key_b")
    )
    return (
        cand.join(ka, "file_a")
        .join(kb, ["file_b", "blk"])
        .groupBy("file_a", "file_b")
        .agg(
            F.sum(F.expr("bit_count(key_a ^ key_b)"))
            .cast("long")
            .alias("hamming")
        )
        .filter(F.col("hamming") <= MAX_HAMMING)
    )


def band_probe(probe: DataFrame, store: DataFrame) -> DataFrame:
    """(file, dup_of, hamming): each ``probe`` file's best ``store``
    match within MAX_HAMMING, ties to the smaller store file; files
    with no match are absent. Both inputs are (file, blk, key) band
    frames. The one image batch-vs-store probe, shared by
    q_dedup_image_phash_incremental and the streaming
    ImageDedupIngest (the text twin is operators/llm.neardup_probe).

    Work stays bounded by the probe, not the store: the store is
    first semi-joined down to the (blk, key) buckets the probe hits,
    and candidates are the equi-join on those buckets. The verify
    needs each candidate's FULL band signature, while the probed rows
    hold only the matching bands (Hamming over them reads 0 by
    construction), so the store is read again, bounded to the
    candidate files."""
    probed = store.join(
        probe.select("blk", "key").distinct(), ["blk", "key"], "left_semi"
    )
    cand = (
        probe.join(
            probed.select(F.col("file").alias("store_file"), "blk", "key"),
            ["blk", "key"],
        )
        .select("file", "store_file")
        .distinct()
    )
    pk = probe.select("file", "blk", F.col("key").alias("pkey"))
    sk = store.join(
        cand.select(F.col("store_file").alias("file")).distinct(),
        "file",
        "left_semi",
    ).select(F.col("file").alias("store_file"), "blk", F.col("key").alias("skey"))
    ham = (
        cand.join(pk, "file")
        .join(sk, ["store_file", "blk"])
        .groupBy("file", "store_file")
        .agg(
            F.sum(F.expr("bit_count(pkey ^ skey)")).cast("long").alias("hamming")
        )
        .filter(F.col("hamming") <= MAX_HAMMING)
    )
    return topk_cut(ham, "file", "hamming", "store_file", 1).select(
        "file", F.col("store_file").alias("dup_of"), "hamming"
    )


GRAY_SCHEMA = "file STRING, width BIGINT, height BIGINT, p BIGINT, g BIGINT"


def gray_pixels(files: DataFrame) -> DataFrame:
    """Long-format integer luma plane: (file, width, height, p, g) with
    p the row-major pixel index and g = 299R + 587G + 114B. This is
    the AUDIT path (exact per-pixel distance ground truth for the
    perceptual-hash recall query): it explodes pixels into rows, so it
    is priced for fixture-scale truth computation, not for the corpus
    path — the scale path is ahash_bands' 4 rows per image."""

    def enc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            frames = []
            for file, content in zip(pdf["file"], pdf["content"]):
                w, h, px = _parse_p6(file, bytes(content))
                rgb = px.reshape(-1, 3)
                g = (
                    rgb[:, 0] * LUMA_WEIGHTS[0]
                    + rgb[:, 1] * LUMA_WEIGHTS[1]
                    + rgb[:, 2] * LUMA_WEIGHTS[2]
                )
                frames.append(
                    pd.DataFrame(
                        {
                            "file": file,
                            "width": w,
                            "height": h,
                            "p": range(len(g)),
                            "g": g,
                        }
                    )
                )
            yield pd.concat(frames) if frames else pd.DataFrame(
                columns=["file", "width", "height", "p", "g"]
            )

    return files.select("file", "content").mapInPandas(enc, schema=GRAY_SCHEMA)


# ---------------------------------------------------------------------------
# Audio fingerprint (energy-gradient) — the third modality's dedup codec
# ---------------------------------------------------------------------------

AFP_WINDOWS = 64  # energy windows = hash bits (4 pigeonhole bands of 16)


def _parse_wav_mono(file: str, b: bytes):
    """Canonical-header WAV parse for the fingerprint path: the SAME
    container guards as decode_wav, plus the fingerprint contract —
    mono, and sample count divisible into the 64 energy windows.
    Returns the int64 sample array."""
    import struct

    import numpy as np

    if len(b) < 44 or b[0:4] != b"RIFF" or b[8:12] != b"WAVE":
        raise ValueError(f"{file}: not a RIFF/WAVE container")
    if b[12:16] != b"fmt " or struct.unpack("<I", b[16:20])[0] != 16:
        raise ValueError(f"{file}: non-canonical fmt chunk")
    fmt, channels, _rate = struct.unpack("<HHI", b[20:28])
    bits = struct.unpack("<H", b[34:36])[0]
    if fmt != 1 or bits != 16:
        raise ValueError(
            f"{file}: only PCM16 supported (fmt={fmt}, bits={bits})"
        )
    if b[36:40] != b"data":
        raise ValueError(f"{file}: missing data chunk")
    data_size = struct.unpack("<I", b[40:44])[0]
    if len(b) != 44 + data_size or data_size % 2 != 0:
        raise ValueError(
            f"{file}: data chunk {data_size} disagrees with "
            f"payload {len(b) - 44}"
        )
    if channels != 1:
        raise ValueError(
            f"{file}: fingerprint path requires mono (got {channels} ch)"
        )
    s = np.frombuffer(b, dtype="<i2", offset=44).astype(np.int64)
    if s.size == 0 or s.size % AFP_WINDOWS != 0:
        raise ValueError(
            f"{file}: {s.size} samples not divisible into "
            f"{AFP_WINDOWS} fingerprint windows"
        )
    return s


def audio_fp_bands(files: DataFrame) -> DataFrame:
    """Per-clip 64-bit audio fingerprint, emitted as 4 pigeonhole band
    keys — ahash_bands/dhash_bands' sibling for the AUDIO modality
    (the r10 verdict's missing family: the WAV codec existed with no
    fingerprint dedup over it). Split the mono PCM16 stream into
    {AFP_WINDOWS} equal windows; window energy = exact integer sum of
    |sample|; bit w = 1 iff e[w] > e[(w+1) % 64] — the dHash gradient
    rule applied on the TIME axis with wraparound, which is exactly
    invariant to uniform positive gain (all energies scale together,
    order relations survive) the way dHash is invariant to
    brightness/contrast. Bit w contributes bit (w % 16) of band
    w // 16 — the ahash band layout, so image_dedup's blocking, cap,
    and bit_count verify machinery is shared verbatim.

    Duration-normalized by construction (64 windows regardless of
    clip length), so clips of different lengths remain comparable —
    the standard fingerprint property (Shazam-family fingerprints
    normalize the same way before peak pairing).

    Scale: one Arrow batch pass per partition, 4 fixed-size rows per
    clip, no shuffle — identical shape to ahash_bands; the candidate
    join downstream is the (blk, key) equi-join."""

    def enc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            rows = []
            for file, content in zip(pdf["file"], pdf["content"]):
                s = _parse_wav_mono(file, bytes(content))
                e = np.abs(s).reshape(AFP_WINDOWS, -1).sum(axis=1)
                bits = (e > np.roll(e, -1)).astype(np.int64)
                for blk in range(AHASH_BANDS):
                    seg = bits[blk * 16 : (blk + 1) * 16]
                    key = int((seg << np.arange(16, dtype=np.int64)).sum())
                    rows.append((file, blk, key))
            yield pd.DataFrame(rows, columns=["file", "blk", "key"])

    return files.select("file", "content").mapInPandas(
        enc, schema=AHASH_SCHEMA
    )


audio_fp_bands.__doc__ = audio_fp_bands.__doc__.format(
    AFP_WINDOWS=AFP_WINDOWS
)

PCM_STREAM_SCHEMA = "file STRING, n BIGINT, k BIGINT, s BIGINT"


def pcm_stream(files: DataFrame) -> DataFrame:
    """Long-format signed sample stream: (file, n, k, s) with k the
    sample index and n the clip's total sample count. The AUDIT path
    (exact per-sample distance ground truth for the audio fingerprint
    recall query — gray_pixels' audio twin): it explodes samples into
    rows, priced for fixture-scale truth computation; the scale path
    is audio_fp_bands' 4 rows per clip."""

    def enc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            frames = []
            for file, content in zip(pdf["file"], pdf["content"]):
                s = _parse_wav_mono(file, bytes(content))
                frames.append(
                    pd.DataFrame(
                        {
                            "file": file,
                            "n": int(s.size),
                            "k": range(len(s)),
                            "s": s,
                        }
                    )
                )
            yield pd.concat(frames) if frames else pd.DataFrame(
                columns=["file", "n", "k", "s"]
            )

    return files.select("file", "content").mapInPandas(
        enc, schema=PCM_STREAM_SCHEMA
    )


# ---------------------------------------------------------------------------
# Video keyframes (fourth-modality dedup support)
# ---------------------------------------------------------------------------

# FVID: the minimal deterministic video container the fixture corpus
# uses — a FIXED-WIDTH ASCII header "FV01 0016 0016 NNNN\n" (magic,
# width, height, frame count, 20 bytes total) followed by frame_count
# concatenated raw RGB frames of width*height*3 bytes each. Fixed
# width keeps the byte-level DuckDB oracle a pure offset computation
# (the WAV-canonical-header discipline); a real demuxer drops into
# video_keyframes without touching anything downstream.
FVID_MAGIC = b"FV01 "
FVID_HDR_LEN = 20
VID_KEY_STRIDE = 2  # keyframe sampling: every 2nd frame


def _parse_fvid(file: str, b: bytes):
    """Strict FVID parse: returns (w, h, nf, frame byte arrays)."""
    import numpy as np

    if len(b) < FVID_HDR_LEN or b[:5] != FVID_MAGIC or b[19:20] != b"\n":
        raise ValueError(f"{file}: not an FVID container")
    try:
        w, h, nf = int(b[5:9]), int(b[10:14]), int(b[15:19])
    except ValueError as exc:
        raise ValueError(f"{file}: malformed FVID header") from exc
    fsz = w * h * 3
    if len(b) != FVID_HDR_LEN + nf * fsz or nf == 0:
        raise ValueError(
            f"{file}: payload {len(b) - FVID_HDR_LEN} disagrees with "
            f"{nf} frames of {fsz} bytes"
        )
    px = np.frombuffer(b, dtype=np.uint8, offset=FVID_HDR_LEN)
    return w, h, nf, px.reshape(nf, fsz)


VKF_SCHEMA = "file STRING, frame_idx BIGINT, content BINARY"


def video_keyframes(files: DataFrame, every_k: int = VID_KEY_STRIDE) -> DataFrame:
    """Keyframe extraction: (file, frame_idx, content) with content a
    standalone binary-PPM (P6) payload per sampled frame — every
    ``every_k``-th frame of each FVID container re-wrapped with a P6
    header. Emitting FRAMES AS IMAGES is the operator's point: the
    keyframe stream feeds the image modality's hash codecs
    (ahash_bands / dhash_bands) and pixel-truth path (gray_pixels)
    UNCHANGED, so video near-dup composes the existing machinery on
    the frame dimension with zero new hash code (the audio family's
    one-L2-machinery convention, fourth modality).

    Scale: one Arrow pass per partition; output rows =
    ceil(nf / every_k) per asset with fixed-size payloads — the
    keyframe stride is the knob that bounds per-asset cost for long
    videos (production samples on shot boundaries; the stride is the
    deterministic stand-in)."""

    def enc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for file, content in zip(pdf["file"], pdf["content"]):
                w, h, nf, frames = _parse_fvid(file, bytes(content))
                hdr = f"P6\n{w} {h}\n255\n".encode("ascii")
                for i in range(0, nf, every_k):
                    rows.append((file, i, hdr + frames[i].tobytes()))
            yield pd.DataFrame(
                rows, columns=["file", "frame_idx", "content"]
            )

    return files.select("file", "content").mapInPandas(
        enc, schema=VKF_SCHEMA
    )
