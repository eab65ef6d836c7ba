"""Source/scan operators (SURVEY.md §2.1 SRC rows).

The reference's sources are directory listings, FS walks with
metadata, gzipped text, and header-skipped subprocess tables; here
they are declarative scans: the listing fixture, Spark's hidden
``_metadata`` columns on file sources, ``spark.read.text`` over
gzip (codec auto-detected), and ordered offset.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.fixtures import (
    _HEXDIGITS,
    _b,
    fixture_df,
    fixture_files,
    fixture_values_sql,
)
from .registry import register

# The gzipped log fixture is committed in-repo (generated from the same
# LOG_LINES literal as the VALUES fixture; see fixtures/ and
# sources/fixtures.py).
LOG_GZ = os.path.join(os.path.dirname(__file__), "..", "..", "fixtures", "session_log.txt.gz")
LOG_GZ = os.path.abspath(LOG_GZ)

# Committed deterministic binary fixtures (see fixtures/blobs/): the
# opaque-payload source the multimodal layer reads at scale.
BLOB_DIR = os.path.abspath(
    os.path.join(os.path.dirname(__file__), "..", "..", "fixtures", "blobs")
)

# Committed deterministic binary-PPM image fixtures (see
# scripts/make_image_fixtures.py) — the image-modality payload source.
IMG_DIR = os.path.abspath(
    os.path.join(os.path.dirname(__file__), "..", "..", "fixtures", "images")
)

# Committed deterministic WAV (RIFF/PCM16LE) fixtures (see
# scripts/make_audio_fixtures.py) — the audio-CONTAINER payload source.
AUDIO_DIR = os.path.abspath(
    os.path.join(os.path.dirname(__file__), "..", "..", "fixtures", "audio")
)

# Oracle SQL that must read the scale-factor parquet embeds the
# {SF_DIR} placeholder; registry.oracle_sqls() resolves it per run
# (driver default sf0.01, local mirror whatever SF it tests), keeping
# both sides of the compare on the same input at any SF.


@register(
    "q_scan_listing",
    oracle=f"""
    SELECT regexp_extract(name, '([^/]+)$', 1) AS entry, kind
    FROM {fixture_values_sql('file_listing')}
    WHERE regexp_replace(name, '/[^/]+$', '') = 'hdfs://nn/out'
    """,
)
def q_scan_listing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directory-listing scan with kind metadata — ``phdfs.lsl``
    (reference workflow.py:403-405)."""
    fl = fixture_df(spark, "file_listing")
    return fl.filter(
        F.regexp_replace("name", r"/[^/]+$", "") == "hdfs://nn/out"
    ).select(F.regexp_extract("name", r"([^/]+)$", 1).alias("entry"), "kind")


@register(
    "q_scan_file_metadata",
    oracle=f"""
    SELECT regexp_extract(filename, '([^/]+)$', 1) AS file, count(*) AS n
    FROM read_parquet('{{SF_DIR}}/lineitem.parquet', filename=true)
    GROUP BY 1
    """,
)
def q_scan_file_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-metadata scan: rows per physical file via the hidden
    ``_metadata`` column — the FS-walk-with-metadata analog (reference
    workflow.py:364-371)."""
    df = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    return (
        df.select(F.col("_metadata.file_path").alias("fp"))
        .select(F.regexp_extract("fp", r"([^/]+)$", 1).alias("file"))
        .groupBy("file")
        .agg(F.count("*").alias("n"))
    )


@register(
    "q_scan_text",
    oracle=f"""
    SELECT line, length(line) AS len
    FROM read_csv('{LOG_GZ}', delim=chr(1), header=false, quote='',
                  columns={{'line': 'VARCHAR'}})
    WHERE line LIKE 'Seconds for %'
    """,
)
def q_scan_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gzip-compressed text source (codec auto-detected) — the
    ``gunzip -c`` process-substitution source (reference
    baseline_workflow.py:143-144)."""
    df = spark.read.text(LOG_GZ)
    return (
        df.filter(F.col("value").startswith("Seconds for "))
        .select(F.col("value").alias("line"), F.length("value").alias("len"))
    )


@register(
    "q_scan_binary",
    oracle=f"""
    SELECT regexp_extract(filename, '([^/]+)$', 1) AS file,
           octet_length(content) AS n_bytes,
           hex(content)[1:16] AS head_hex
    FROM read_blob('{BLOB_DIR}/*.bin')
    """,
)
def q_scan_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary file source (SURVEY.md §2.1 SRC4 — the reference
    moves opaque payload files it never parses, workflow.py:251):
    the binaryFile source (sources/fixtures.fixture_files) yields
    (file, content) per file; downstream multimodal decode consumes
    the same shape. At scale each file is one row/partition-slice —
    the pattern for image/audio payload ingestion."""
    return fixture_files(spark, BLOB_DIR, "*.bin").select(
        "file",
        F.length("content").cast("bigint").alias("n_bytes"),
        F.substring(F.hex("content"), 1, 16).alias("head_hex"),
    )


@register(
    "q_tsv_header_skip",
    oracle=f"""
    SELECT string_split(line, chr(9))[1] AS first_field
    FROM {fixture_values_sql('log_lines')}
    WHERE lineno > 2 AND lineno <= 6
    """,
)
def q_tsv_header_skip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subprocess-output table: skip the 2 header lines, project the
    first tab-separated field — ``check_output(...).split('\\n')[2:]``
    then ``split('\\t', 1)[0]`` (reference workflow.py:325-329,
    416-420, util.py:43-47)."""
    ll = fixture_df(spark, "log_lines")
    return ll.filter((F.col("lineno") > 2) & (F.col("lineno") <= 6)).select(
        F.split(F.col("line"), "\t").getItem(0).alias("first_field")
    )



@register(
    "q_multimodal_decode",
    oracle=f"""
    WITH b AS (
        SELECT regexp_extract(filename, '([^/]+)$', 1) AS file,
               hex(content) AS h,
               octet_length(content) AS n
        FROM read_blob('{BLOB_DIR}/*.bin')
    ), idx AS (
        SELECT file, h, unnest(range(1, n // 2 + 1)) AS j FROM b
    ), samples AS (
        -- sample j = byte(2j-1) + 256 * byte(2j), little-endian;
        -- byte k is hex chars [2k-1, 2k], decoded via strpos
        SELECT file,
               (strpos('{_HEXDIGITS}', h[4*j-3:4*j-3]) - 1) * 16
             + (strpos('{_HEXDIGITS}', h[4*j-2:4*j-2]) - 1)
             + ((strpos('{_HEXDIGITS}', h[4*j-1:4*j-1]) - 1) * 16
              + (strpos('{_HEXDIGITS}', h[4*j:4*j]) - 1)) * 256 AS v
        FROM idx
    )
    SELECT file,
           CAST(count(*) AS BIGINT) AS n_samples,
           CAST(max(v) AS BIGINT) AS peak,
           CAST(sum(v * v) AS BIGINT) AS energy,
           floor(avg(v) * 10000 + 0.5) / 10000 AS mean_ampl
    FROM samples
    GROUP BY file
    """,
)
def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary decode end-to-end (SURVEY.md L4; reference moves opaque
    payloads it never parses, workflow.py:251 — the north-star layer
    DOES parse them): binaryFile scan -> PCM16 struct-unpack codec in
    an Arrow-batched mapInPandas -> per-file sample statistics. The
    DuckDB oracle replays the decode with read_blob hex arithmetic, so
    the codec itself is hash-gated, not just the plumbing.

    Scale: one row per file from the scan, codec work is per-partition
    Python over Arrow batches; the aggregate is per-file (keys =
    files), so no wide shuffle — the pattern for audio feature
    extraction over a payload lake."""
    from ..operators.multimodal import decode_pcm16

    return decode_pcm16(fixture_files(spark, BLOB_DIR, "*.bin"))


@register(
    "q_multimodal_image",
    oracle=f"""
    WITH b AS (
        SELECT regexp_extract(filename, '([^/]+)$', 1) AS file,
               hex(content) AS h,
               octet_length(content) AS n
        FROM read_blob('{IMG_DIR}/*.ppm')
    ), magic AS (
        SELECT file, CASE WHEN h[1:4] = '5036' THEN 1
                          ELSE CAST(error('not a P6 ppm: ' || file) AS INT)
                     END AS ok
        FROM b
    ), bv AS (
        SELECT file, j AS k,
               (strpos('{_HEXDIGITS}', h[2*j-1:2*j-1]) - 1) * 16
             + (strpos('{_HEXDIGITS}', h[2*j:2*j]) - 1) AS v
        FROM (SELECT file, h, unnest(range(1, n + 1)) AS j FROM b) t
    ), nl AS (
        SELECT file, k, row_number() OVER (PARTITION BY file ORDER BY k) AS i
        FROM bv WHERE v = 10
    ), hdr AS (
        SELECT file,
               max(CASE WHEN i = 1 THEN k END) AS nl1,
               max(CASE WHEN i = 2 THEN k END) AS nl2,
               max(CASE WHEN i = 3 THEN k END) AS nl3
        FROM nl WHERE i <= 3 GROUP BY file
    ), dims AS (
        SELECT bv.file,
               CAST(string_split(string_agg(chr(CAST(v AS INT)), '' ORDER BY k), ' ')[1]
                    AS BIGINT) AS width,
               CAST(string_split(string_agg(chr(CAST(v AS INT)), '' ORDER BY k), ' ')[2]
                    AS BIGINT) AS height
        FROM bv JOIN hdr USING (file)
        WHERE k > nl1 AND k < nl2
        GROUP BY bv.file
    ), maxv AS (
        -- the codec rejects maxval <> 255 (16-bit planes); the oracle
        -- must fail the same input identically instead of silently
        -- averaging a misinterpreted byte plane (ADVICE r7)
        SELECT bv.file,
               CASE WHEN string_agg(chr(CAST(v AS INT)), '' ORDER BY k) = '255'
                    THEN 1
                    ELSE CAST(error('ppm maxval <> 255: ' || bv.file) AS INT)
               END AS ok
        FROM bv JOIN hdr USING (file)
        WHERE k > nl2 AND k < nl3
        GROUP BY bv.file
    ), px AS (
        SELECT bv.file, k - nl3 AS pk, v
        FROM bv JOIN hdr USING (file) WHERE k > nl3
    ), stats AS (
        SELECT file,
               CAST(count(*) AS BIGINT) AS n_bytes,
               floor(avg(v) FILTER ((pk - 1) % 3 = 0) * 10000 + 0.5) / 10000
                   AS mean_r,
               floor(avg(v) FILTER ((pk - 1) % 3 = 1) * 10000 + 0.5) / 10000
                   AS mean_g,
               floor(avg(v) FILTER ((pk - 1) % 3 = 2) * 10000 + 0.5) / 10000
                   AS mean_b,
               CAST(max(v) AS BIGINT) AS peak,
               CAST(sum(pk * v) % 2147483647 AS BIGINT) AS pixel_fp
        FROM px GROUP BY file
    )
    SELECT d.file, d.width, d.height,
           -- exact byte-count check (NOT a floored //3, which would
           -- bless 1-2 stray trailing bytes the Python codec rejects)
           CASE WHEN s.n_bytes = d.width * d.height * 3
                THEN CAST(s.n_bytes // 3 AS BIGINT)
                ELSE CAST(error('ppm pixel plane truncated: ' || d.file)
                          AS BIGINT)
           END AS n_pixels,
           s.mean_r, s.mean_g, s.mean_b, s.peak, s.pixel_fp
    FROM dims d
    JOIN stats s USING (file)
    JOIN magic m USING (file)
    JOIN maxv x USING (file)
    WHERE m.ok = 1 AND x.ok = 1
    """,
)
def q_multimodal_image(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IMAGE-modality decode end-to-end (SURVEY.md L4 — the second
    modality; audio/PCM16 is q_multimodal_decode): binaryFile scan over
    committed binary-PPM (P6) fixtures -> header tokenize + RGB plane
    reinterpret in an Arrow-batched mapInPandas codec
    (operators/multimodal.py decode_ppm) -> per-image dimensions,
    per-channel means, peak, and an order-sensitive position-weighted
    pixel fingerprint. The DuckDB oracle replays the ENTIRE parse —
    magic check, newline-delimited header tokenization, channel
    striding, fingerprint — from read_blob hex arithmetic, so the
    codec is hash-gated end-to-end, including its loud-failure guards
    (non-P6 magic and truncated pixel planes error in BOTH engines
    instead of yielding plausible stats).

    Scale: identical shape to the audio path — one row per file, codec
    work partition-parallel over Arrow batches, no shuffle. A libjpeg/
    libpng codec drops into the same mapInPandas slot; PPM keeps the
    committed fixtures dependency-free and byte-replayable."""
    from ..operators.multimodal import decode_ppm

    return decode_ppm(fixture_files(spark, IMG_DIR, "*.ppm"))


# Hex arithmetic for the WAV oracle: little-endian u16/u32 fields
# compose from _b(j), the byte value at 1-based byte index j.
_WAV_U16_23 = f"({_b('23')} + 256 * {_b('24')})"
_WAV_U32_25 = (
    f"({_b('25')} + 256 * {_b('26')}"
    f" + 65536 * {_b('27')} + 16777216 * {_b('28')})"
)
_WAV_U32_41 = (
    f"({_b('41')} + 256 * {_b('42')}"
    f" + 65536 * {_b('43')} + 16777216 * {_b('44')})"
)


@register(
    "q_multimodal_wav",
    oracle=f"""
    WITH b AS (
        SELECT regexp_extract(filename, '([^/]+)$', 1) AS file,
               hex(content) AS h,
               octet_length(content) AS n
        FROM read_blob('{AUDIO_DIR}/*.wav')
    ), magic AS (
        SELECT file, h, n,
               CASE WHEN n >= 44
                     AND h[1:8] = '52494646' AND h[17:24] = '57415645'
                     AND h[25:32] = '666D7420' AND h[33:40] = '10000000'
                     AND h[41:44] = '0100' AND h[69:72] = '1000'
                     AND h[73:80] = '64617461'
                    THEN 1
                    ELSE CAST(error('not a canonical PCM16 wav: ' || file)
                              AS INT)
               END AS ok
        FROM b
    ), fields AS (
        SELECT file, h, n,
               {_WAV_U16_23} AS channels,
               {_WAV_U32_25} AS sample_rate,
               {_WAV_U32_41} AS data_size
        FROM magic
    ), guard AS (
        SELECT file, h, channels, sample_rate, data_size,
               CASE WHEN n = 44 + data_size AND data_size % 2 = 0
                     AND channels > 0
                     AND (data_size // 2) % channels = 0 THEN 1
                    ELSE CAST(error('wav payload disagrees with header: '
                                    || file) AS INT)
               END AS ok
        FROM fields
    ), sm AS (
        SELECT file, channels, sample_rate, t,
               CASE WHEN u >= 32768 THEN u - 65536 ELSE u END AS s
        FROM (
            SELECT file, channels, sample_rate, t,
                   {_b('45 + 2*t')} + 256 * {_b('46 + 2*t')} AS u
            FROM (SELECT file, h, channels, sample_rate,
                         unnest(range(0, data_size // 2)) AS t
                  FROM guard)
        )
    )
    SELECT file,
           CAST(any_value(channels) AS BIGINT) AS channels,
           CAST(any_value(sample_rate) AS BIGINT) AS sample_rate,
           CAST(count(*) // any_value(channels) AS BIGINT) AS n_frames,
           CAST(max(abs(s)) AS BIGINT) AS peak_abs,
           floor(sum(s)::DOUBLE / count(*) * 10000 + 0.5) / 10000
               AS mean_ampl,
           floor(sqrt(sum(s * s)::DOUBLE / count(*)) * 10000 + 0.5) / 10000
               AS rms,
           CAST(sum(((t + 1) * (s + 32768)) % 2147483647) % 2147483647
                AS BIGINT) AS sample_fp
    FROM sm GROUP BY file
    """,
)
def q_multimodal_wav(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AUDIO-CONTAINER decode end-to-end (SURVEY.md L4 — the third
    modality format; raw PCM16 is q_multimodal_decode, binary PPM is
    q_multimodal_image): binaryFile scan over committed WAV
    (RIFF/PCM16LE) fixtures -> chunk-layout validation + little-endian
    field extraction + signed 16-bit sample reinterpretation in an
    Arrow-batched mapInPandas codec (operators/multimodal.py
    decode_wav) -> per-file channels / sample rate / frame count, peak
    |amplitude|, exact-integer-backed mean and RMS, and the
    position-weighted sample fingerprint. The DuckDB oracle replays
    the ENTIRE parse — every magic/field/size guard and the signed
    conversion — from read_blob hex arithmetic, so a malformed
    container fails identically in both engines instead of producing
    plausible stats.

    Scale: one row per file, codec work partition-parallel over Arrow
    batches, no shuffle — a libsndfile/ffmpeg codec drops into the
    same mapInPandas slot; the canonical-header WAV keeps the
    committed fixtures dependency-free and byte-replayable."""
    from ..operators.multimodal import decode_wav

    return decode_wav(fixture_files(spark, AUDIO_DIR, "*.wav"))
