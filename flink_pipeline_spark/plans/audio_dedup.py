"""Audio fingerprint near-dup (SURVEY.md L2 x L4 — the THIRD
modality's dedup story, r10 verdict Missing #2): 64-bit energy-
gradient fingerprint over decoded PCM16 windows, the SAME pigeonhole
band blocking / hot-bucket cap / exact Hamming verify as the image
family (operators/multimodal.band_pairs, whose candidates come from
the one blocked-dedup rule, operators/llm.capped_bucket_pairs), and a
recall/precision audit against exact per-sample distance ground
truth. The WAV bytes are read by sources/fixtures.fixture_files and,
on the oracle side, decoded with its _b hex-byte helper.

Reference contract: U2's record-level wide transform
(workflow.py:241-277) moves opaque payloads; operators/multimodal.py
PARSES them (decode_wav), and this layer connects the decoded PCM
stream to the L2 pair machinery — multimodal corpora dedupe audio as
routinely as text and images.

The fixture corpus (scripts/make_afp_fixtures.py) is engineered so
the readings are honest — the image corpus' story transposed to
audio: an exact 2x gain is fingerprint-IDENTICAL but outside sample
truth (precision < 1 — gain invariance is the point of an audio
fingerprint), small boundary noise flips 2 bits (detected), moderate
noise flips 5 (MISSED at the lossless-3 threshold: recall < 1), and
replacing half the clip is far in both metrics.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.multimodal import (
    AFP_WINDOWS,
    MAX_HAMMING,
    audio_fp_bands,
    band_pairs,
    pcm_stream,
)
from ..sources.fixtures import _b, fixture_files
from .image_dedup import _pairs_sql
from .recall_rollup import recall_rollup, recall_rollup_sql
from .registry import register

AFP_DIR = os.path.abspath(
    os.path.join(
        os.path.dirname(__file__), "..", "..", "fixtures", "audio_fp"
    )
)

TRUTH_SUM_AFP = 200_000  # near-dup truth: sum |a_k - b_k| <= this
# (keep in sync with scripts/make_afp_fixtures.py)

_HDR = 44  # canonical RIFF/PCM16 header bytes


def _hx(b: bytes) -> str:
    return b.hex().upper()


# Shared oracle prefix: read_blob -> strict canonical-header guard
# (RIFF/WAVE/fmt/data magics, PCM fmt=1, 16-bit, MONO, data size
# consistent with the payload and divisible into the 64 fingerprint
# windows) -> signed sample stream s(file, ns, k, sv) -> window
# energies -> gradient bits -> band keys abands(file, blk, key).
# Every stage is the byte-level replay of
# operators/multimodal.audio_fp_bands / _parse_wav_mono.
_AFP_CTE = f"""braw AS (
        SELECT regexp_extract(filename, '([^/]+)$', 1) AS file,
               hex(content) AS h,
               octet_length(content) AS n
        FROM read_blob('{AFP_DIR}/*.wav')
    ), aguard AS (
        SELECT file, h, (n - {_HDR}) // 2 AS ns,
               CASE WHEN n >= {_HDR}
                     AND h[1:8] = '{_hx(b"RIFF")}'
                     AND h[17:24] = '{_hx(b"WAVE")}'
                     AND h[25:32] = '{_hx(b"fmt ")}'
                     AND h[33:40] = '10000000'
                     AND h[41:44] = '0100'
                     AND h[45:48] = '0100'
                     AND h[69:72] = '1000'
                     AND h[73:80] = '{_hx(b"data")}'
                     AND {_b('41')} + 256 * {_b('42')}
                         + 65536 * {_b('43')}
                         + 16777216 * {_b('44')} = n - {_HDR}
                     AND (n - {_HDR}) % 2 = 0
                     AND ((n - {_HDR}) // 2) % {AFP_WINDOWS} = 0
                     AND (n - {_HDR}) // 2 > 0
                    THEN 1
                    ELSE CAST(error('afp fixture is not a canonical '
                                    || 'mono PCM16 wav: ' || file) AS INT)
               END AS ok
        FROM braw
    ), s AS (
        SELECT file, ns, k,
               CASE WHEN v >= 32768 THEN v - 65536 ELSE v END AS sv
        FROM (SELECT file, ns, k,
                     {_b(f'{_HDR} + 1 + 2*k')}
                       + 256 * {_b(f'{_HDR} + 2 + 2*k')} AS v
              FROM (SELECT file, h, ns, unnest(range(0, ns)) AS k
                    FROM aguard WHERE ok = 1) t0) t1
    ), e AS (
        SELECT file, k // (ns // {AFP_WINDOWS}) AS w,
               CAST(sum(abs(sv)) AS BIGINT) AS e
        FROM s GROUP BY 1, 2
    ), abits AS (
        SELECT a.file, a.w,
               CASE WHEN a.e > b.e THEN 1 ELSE 0 END AS bit
        FROM e a JOIN e b
          ON b.file = a.file AND b.w = (a.w + 1) % {AFP_WINDOWS}
    ), abands AS (
        SELECT file, w // 16 AS blk,
               CAST(sum(bit << (w % 16)) AS BIGINT) AS key
        FROM abits GROUP BY 1, 2
    )"""


@register(
    "q_dedup_audio_fp",
    oracle=f"WITH {_AFP_CTE}, {_pairs_sql('abands', 'af')}",
)
def q_dedup_audio_fp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio fingerprint near-dup pairs: binaryFile scan over the
    committed WAV corpus -> integer-exact 64-bit energy-gradient
    fingerprint as 4 band keys (Arrow-batched mapInPandas,
    operators/multimodal.audio_fp_bands: window energy = sum |sample|,
    bit w = e[w] > e[(w+1) % 64]) -> pigeonhole blocking on exact
    band agreement (any pair within Hamming {mh} shares >= 1 of the
    4 16-bit bands, so candidates are an equi-join; all-pairs never
    materializes) -> exact bit_count(xor) verify per band, summed.
    Blocking, cap, and verify are the image family's
    (operators/multimodal.band_pairs, oracle
    plans/image_dedup._pairs_sql) — one L2 machinery, three
    modalities. The DuckDB oracle replays the ENTIRE path from
    read_blob hex bytes: container guards, signed sample
    reinterpretation, window energies, gradient bits, band packing,
    blocking, cap, verify.

    Fixture readings this corpus pins: the exact-2x-gain variant at
    hamming 0 (energies scale together, order relations survive —
    the fingerprint's invariance is the point), boundary noise at
    hamming 2 (detected), moderate noise at 5 (above the lossless-3
    radius), half-replacement at 18.

    Scale: 4 fixed-size rows per clip out of the codec; blocking
    shuffles on (blk, key) with the simhash_pairs hot-bucket cap;
    verify joins touch 4-row slices per candidate. 65536 keys/band
    holds bucket occupancy sub-linear to ~10^6 clips/band-key — past
    that, widen to a spectral fingerprint (constant-Q peaks, 256
    bits) exactly as SIMHASH_BITS replaced the calib width."""
    return band_pairs(audio_fp_bands(fixture_files(spark, AFP_DIR, "*.wav")))


q_dedup_audio_fp.__doc__ = q_dedup_audio_fp.__doc__.format(mh=MAX_HAMMING)


@register(
    "q_dedup_audio_fp_recall",
    oracle=f"""
    WITH {_AFP_CTE}, afp_m AS (
        WITH {_pairs_sql("abands", "af")}
    ), co AS (
        SELECT a.file AS file_a, b.file AS file_b,
               CAST(sum(abs(a.sv - b.sv)) AS BIGINT) AS dist
        FROM s a JOIN s b
          ON a.ns = b.ns AND a.k = b.k AND a.file < b.file
        GROUP BY 1, 2
    ), truth AS (
        SELECT file_a, file_b FROM co WHERE dist <= {TRUTH_SUM_AFP}
    ), {recall_rollup_sql({'afp': 'afp_m'}, ('file_a', 'file_b'))}
    SELECT * FROM rollup
    """,
)
def q_dedup_audio_fp_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall/precision audit of the audio fingerprint against EXACT
    per-sample distance ground truth (the image family's
    q_dedup_image_phash_recall transposed to audio): truth pairs are
    equal-length clips with sum |a_k - b_k| <= {ts}; the method is
    the registered q_dedup_audio_fp pair set.

    The corpus pins the same instructive split as the image rows:
    recall 0.5 (the moderate-noise variant flips 5 gradient bits —
    outside the lossless-3 blocking radius — while staying inside
    sample truth), precision 0.3333 (the exact-gain pair is
    fingerprint-IDENTICAL while ~2M sample-distance from truth, and
    its TRANSITIVE companion — gain vs noise variant, hamming 2 —
    is likewise outside raw-distance truth: perceptual invariance
    and raw distance deliberately disagree, twice). These are the
    numbers an operator reads before trusting the fingerprint's
    threshold at corpus scale.

    Scale: the truth side explodes samples into rows (pcm_stream) and
    equi-joins on sample index + length — the audit path, priced for
    fixtures; the method side stays on the 4-rows-per-clip scale
    path. The 1-row denominator broadcast is the vetted gate."""
    st = pcm_stream(fixture_files(spark, AFP_DIR, "*.wav"))
    a = st.select(
        F.col("file").alias("file_a"), "n", "k", F.col("s").alias("sa")
    )
    b = st.select(
        F.col("file").alias("file_b"), "n", "k", F.col("s").alias("sb")
    )
    truth = (
        a.join(b, ["n", "k"])
        .filter(F.col("file_a") < F.col("file_b"))
        .groupBy("file_a", "file_b")
        .agg(F.sum(F.abs(F.col("sa") - F.col("sb"))).alias("dist"))
        .filter(F.col("dist") <= TRUTH_SUM_AFP)
        .select("file_a", "file_b")
    )
    return recall_rollup(
        spark, truth, {"afp": q_dedup_audio_fp(spark, sf_dir)}
    )


q_dedup_audio_fp_recall.__doc__ = q_dedup_audio_fp_recall.__doc__.format(
    ts=TRUTH_SUM_AFP
)
