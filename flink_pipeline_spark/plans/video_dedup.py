"""Video multi-frame near-dup (SURVEY.md L2 x L4 — the FOURTH
modality, completing the text/image/audio matrix with zero new hash
machinery): keyframes are extracted from the FVID container
(operators/multimodal.video_keyframes) and re-wrapped as standalone
PPM images, per-keyframe 64-bit dHash comes from the image modality's
OWN codec (dhash_bands, byte-identical rule), each asset becomes its
SET of keyframe fingerprints, and assets pair by fingerprint-set
CONTAINMENT — the q_dedup_containment rule on the frame dimension,
because a clip embedded in a longer video scores low on
union-normalized Jaccard but high on containment.

Reference contract: workflow.py's record-level wide transform (U2)
moves opaque payloads; this layer demuxes them and connects decoded
frames to the L2 pair machinery.

The fixture corpus (scripts/make_video_fixtures.py) is engineered so
the readings are honest: brightness-shifted frames are fp-IDENTICAL
but outside pixel truth (precision < 1 — gradient-hash invariance on
the frame dimension), a re-cut clip shares 3 of 4 keyframes
(containment 0.75, detected), a keyframe-parity rotation has an
IDENTICAL fp set (set semantics make re-ordering free), and a
jittered variant flips >= 1 dHash bit on every keyframe (exact-fp
matching misses it: recall < 1 — the price of trading the image
family's hamming tolerance for set-join scalability).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..caching import stage
from ..functions.portable import round_agg, round_sql
from ..operators.llm import capped_bucket_pairs
from ..operators.multimodal import (
    MAX_BUCKET,
    VID_KEY_STRIDE,
    dhash_bands,
    gray_pixels,
    video_keyframes,
)
from ..sources.fixtures import _b, fixture_files
from .recall_rollup import recall_rollup, recall_rollup_sql
from .registry import register

VIDEO_DIR = os.path.abspath(
    os.path.join(os.path.dirname(__file__), "..", "..", "fixtures", "video")
)

VID_SIDE = 16  # fixture corpus is pinned 16x16 (generator asserts)
FRAME_TRUTH = 2_000_000  # per-frame truth: sum |gray_a - gray_b| <= this
# containment decision: 2 * |A∩B| >= min(|A|, |B|)  (the 0.5 gate as an
# EXACT integer compare — no float threshold anywhere in the decision)
# (keep these in sync with scripts/make_video_fixtures.py)

_HDR_LEN = 20
_FRAME_BYTES = VID_SIDE * VID_SIDE * 3
_HDR_PREFIX_HEX = "FV01 0016 0016 ".encode("ascii").hex().upper()


# Shared oracle prefix: read_blob -> fixed-width FVID header guard +
# frame-count parse -> keyframe pixel explode -> integer luma ->
# per-(file, frame) dHash cell grid/bits/bands -> per-keyframe
# fingerprint string -> per-asset distinct fp sets with sizes. Every
# stage is the byte-level replay of video_keyframes + dhash_bands.
_VID_CTE = f"""b AS (
        SELECT regexp_extract(filename, '([^/]+)$', 1) AS file,
               hex(content) AS h,
               octet_length(content) AS n
        FROM read_blob('{VIDEO_DIR}/*.fvid')
    ), hdr AS (
        SELECT file, h, n,
               ({_b('16')} - 48) * 1000 + ({_b('17')} - 48) * 100
               + ({_b('18')} - 48) * 10 + ({_b('19')} - 48) AS nf
        FROM b
    ), guard AS (
        SELECT file, h, nf,
               CASE WHEN h[1:{2 * 15}] = '{_HDR_PREFIX_HEX}'
                     AND {_b('20')} = 10
                     AND n = {_HDR_LEN} + nf * {_FRAME_BYTES}
                     AND nf > 0
                    THEN 1
                    ELSE CAST(error('video fixture is not a 16x16 '
                                    || 'FVID container: ' || file) AS INT)
               END AS ok
        FROM hdr
    ), px AS (
        SELECT file, f,
               (j - 1) // 3 AS p,
               (j - 1) % 3 AS ch,
               {_b(f"{_HDR_LEN} + f * {_FRAME_BYTES} + j")} AS v
        FROM (SELECT file, h,
                     unnest(range(0, nf, {VID_KEY_STRIDE})) AS f
              FROM guard WHERE ok = 1) t,
             range(1, {_FRAME_BYTES + 1}) r(j)
    ), g AS (
        SELECT file, f, p,
               CAST(sum(v * CASE ch WHEN 0 THEN 299
                                    WHEN 1 THEN 587
                                    ELSE 114 END) AS BIGINT) AS g
        FROM px GROUP BY file, f, p
    ), cell AS (
        SELECT file, f,
               ((p // {VID_SIDE}) * 8 // {VID_SIDE}) * 8
                 + ((p % {VID_SIDE}) * 8 // {VID_SIDE}) AS c,
               CAST(sum(g) AS BIGINT) AS s
        FROM g GROUP BY 1, 2, 3
    ), dbits AS (
        SELECT a.file, a.f, a.c,
               CASE WHEN a.s > b2.s THEN 1 ELSE 0 END AS bit
        FROM cell a JOIN cell b2
          ON b2.file = a.file AND b2.f = a.f
         AND b2.c = (a.c // 8) * 8 + ((a.c % 8) + 1) % 8
    ), dbands AS (
        SELECT file, f, c // 16 AS blk,
               CAST(sum(bit << (c % 16)) AS BIGINT) AS key
        FROM dbits GROUP BY 1, 2, 3
    ), fps AS (
        SELECT file, f,
               string_agg(CAST(key AS VARCHAR), '|' ORDER BY blk) AS fp
        FROM dbands GROUP BY file, f
    ), sets AS (
        SELECT DISTINCT file, fp FROM fps
    ), sizes AS (
        SELECT file, CAST(count(*) AS BIGINT) AS nfp FROM sets GROUP BY file
    )"""

# pair generation: hot-capped fp-bucket equi-join + containment
_VID_PAIRS_SQL = f"""bucket AS (
        SELECT fp FROM sets GROUP BY fp
        HAVING count(*) BETWEEN 2 AND {MAX_BUCKET}
    ), inter AS (
        SELECT a.file AS file_a, b.file AS file_b,
               CAST(count(*) AS BIGINT) AS n_shared
        FROM sets a
        JOIN sets b ON a.fp = b.fp AND a.file < b.file
        JOIN bucket k ON k.fp = a.fp
        GROUP BY 1, 2
    ), scored AS (
        SELECT i.file_a, i.file_b, sa.nfp AS n_a, sb.nfp AS n_b,
               i.n_shared,
               {round_sql('i.n_shared::DOUBLE / least(sa.nfp, sb.nfp)')}
                 AS containment
        FROM inter i
        JOIN sizes sa ON sa.file = i.file_a
        JOIN sizes sb ON sb.file = i.file_b
        WHERE 2 * i.n_shared >= least(sa.nfp, sb.nfp)
    )"""


def _frame_fp_sets(spark: SparkSession) -> DataFrame:
    """(file, fp) distinct keyframe-fingerprint set per asset: FVID
    demux -> per-keyframe PPM -> the image modality's dhash_bands on a
    composite file#frame key -> 4 band keys packed into one ordered
    fingerprint string per keyframe."""
    kf = video_keyframes(fixture_files(spark, VIDEO_DIR, "*.fvid"))
    # the composite file#frame key splits back on '#' below — a file
    # name containing '#' would corrupt the split silently, so the key
    # build guards it in-plan (the generator controls names today;
    # raise_error keeps the check JVM-side and free)
    safe_file = F.expr(
        "CASE WHEN file LIKE '%#%' THEN "
        "CAST(raise_error('video fp: file name contains the # key "
        "separator') AS STRING) ELSE file END"
    )
    bands = dhash_bands(
        kf.select(
            F.concat_ws("#", safe_file, "frame_idx").alias("file"), "content"
        )
    )
    fp = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct("blk", "key"))),
            lambda s: s.getField("key").cast("string"),
        ),
        "|",
    )
    return (
        bands.select(
            F.substring_index("file", "#", 1).alias("file"),
            F.substring_index("file", "#", -1).cast("long").alias("f"),
            "blk",
            "key",
        )
        .groupBy("file", "f")
        .agg(fp.alias("fp"))
        .select("file", "fp")
        .distinct()
    )


def _vid_pairs(sets: DataFrame) -> DataFrame:
    """Containment pairs over a (file, fp) set frame — the Spark twin
    of _VID_PAIRS_SQL: capped_bucket_pairs over the fingerprint
    buckets (``n_shared`` counts the shared fingerprints outside hot
    buckets), then the exact 2*n_shared >= min(|A|, |B|) gate."""
    sizes = sets.groupBy("file").agg(F.count("*").cast("long").alias("nfp"))
    inter = capped_bucket_pairs(
        sets.select(F.col("file").alias("doc_id"), "fp"), ["fp"], MAX_BUCKET
    ).select(
        F.col("doc_a").alias("file_a"),
        F.col("doc_b").alias("file_b"),
        "n_shared",
    )
    sa = sizes.select(F.col("file").alias("file_a"), F.col("nfp").alias("n_a"))
    sb = sizes.select(F.col("file").alias("file_b"), F.col("nfp").alias("n_b"))
    return (
        inter.join(sa, "file_a")
        .join(sb, "file_b")
        .filter(2 * F.col("n_shared") >= F.least("n_a", "n_b"))
        .select(
            "file_a",
            "file_b",
            "n_a",
            "n_b",
            "n_shared",
            round_agg(
                F.col("n_shared").cast("double") / F.least("n_a", "n_b")
            ).alias("containment"),
        )
    )


@register(
    "q_dedup_video_fp",
    oracle=f"""
    WITH {_VID_CTE}, {_VID_PAIRS_SQL}
    SELECT file_a, file_b, n_a, n_b, n_shared, containment FROM scored
    """,
)
def q_dedup_video_fp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video multi-frame near-dup pairs: binaryFile scan over the
    committed FVID corpus -> keyframe demux at stride
    {stride} (video_keyframes) -> per-keyframe 64-bit dHash via the
    IMAGE modality's own codec (dhash_bands — one hash rule across
    both visual modalities) -> per-asset distinct fingerprint SET ->
    hot-capped fp equi-join -> containment decision as the EXACT
    integer compare 2*|A∩B| >= min(|A|,|B|) (the q_dedup_containment
    rule on the frame dimension, no float in the gate). The DuckDB
    oracle replays the entire path from read_blob hex bytes: header
    guard, keyframe offsets, luma, cell grid, gradient bits, band
    packing, fingerprint strings, blocking, cap, containment.

    Fixture readings this corpus pins: the brightness variant at
    containment 1.0 (dHash gradient invariance, per frame), the
    re-cut clip at 0.75 (3 of 4 keyframes shared — the case
    union-normalized Jaccard under-scores), the keyframe-parity
    rotation at 1.0 (SET semantics make re-ordering free), and the
    jittered/heavy variants correctly absent.

    Scale: ceil(nf/{stride}) fixed-size rows per asset out of the
    demux, 4 band rows per keyframe out of the codec; the pairs are
    capped_bucket_pairs over exact fingerprints, the one candidate
    rule of every blocked family — never assets x assets, never
    frames x frames. Long videos bound per-asset cost with the
    stride (production: shot-boundary sampling); web-scale corpora
    widen the per-frame hash before fp buckets saturate, exactly the
    image family's curve."""
    return _vid_pairs(_frame_fp_sets(spark))


q_dedup_video_fp.__doc__ = q_dedup_video_fp.__doc__.format(
    stride=VID_KEY_STRIDE
)


@register(
    "q_dedup_video_fp_recall",
    oracle=f"""
    WITH {_VID_CTE}, {_VID_PAIRS_SQL}, fdist AS (
        SELECT a.file AS file_a, a.f AS fa, b.file AS file_b, b.f AS fb,
               CAST(sum(abs(a.g - b.g)) AS BIGINT) AS dist
        FROM g a JOIN g b ON a.p = b.p AND a.file < b.file
        GROUP BY 1, 2, 3, 4
    ), fmatch AS (
        SELECT file_a, file_b,
               CAST(count(DISTINCT fa) AS BIGINT) AS m_ab,
               CAST(count(DISTINCT fb) AS BIGINT) AS m_ba
        FROM fdist WHERE dist <= {FRAME_TRUTH}
        GROUP BY 1, 2
    ), truth AS (
        SELECT m.file_a, m.file_b
        FROM fmatch m
        JOIN sizes sa ON sa.file = m.file_a
        JOIN sizes sb ON sb.file = m.file_b
        WHERE 2 * m.m_ab >= sa.nfp OR 2 * m.m_ba >= sb.nfp
    ), {recall_rollup_sql({'fp': 'scored'}, ('file_a', 'file_b'))}
    SELECT * EXCLUDE (method) FROM rollup
    """,
)
def q_dedup_video_fp_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall/precision audit of the video frame-fingerprint method
    against EXACT per-pixel frame truth (the audio/image recall
    convention on the fourth modality): a truth pair exists when at
    least half of either asset's keyframes have a pixel-close match
    (per-frame gray distance <= {ts}) among the other's keyframes —
    the same integer 2*matched >= n compare as the method gate, on
    pixel truth instead of fingerprints.

    The corpus pins recall {rec} / precision {prec}: the jittered
    variant (>= 1 dHash bit flipped per keyframe, still pixel-close)
    is BOTH misses — its truth pairs with vd_b and with vd_b_rot are
    invisible to exact-fp set matching, which gave up the image
    family's hamming tolerance to get equi-join scalability; this row
    prices that trade. The brightness pairs are the FALSE POSITIVES —
    gradient-hash invariance is the point of the hash and pixel truth
    deliberately disagrees (the image family's precision story,
    inherited per frame).

    Scale: the truth stage explodes keyframe pixels and equi-joins on
    pixel index — the audit path, priced for fixture-scale truth;
    the method side stays on the fingerprint-set scale path. The
    1-row denominator broadcast is the vetted audit convention."""
    sets = stage(_frame_fp_sets(spark))
    method = _vid_pairs(sets).select("file_a", "file_b")
    sizes = sets.groupBy("file").agg(F.count("*").cast("long").alias("nfp"))

    kf = video_keyframes(fixture_files(spark, VIDEO_DIR, "*.fvid"))
    gp = gray_pixels(
        kf.select(
            F.concat_ws("#", "file", "frame_idx").alias("file"), "content"
        )
    ).select(
        F.substring_index("file", "#", 1).alias("file"),
        F.substring_index("file", "#", -1).cast("long").alias("f"),
        "p",
        "g",
    )
    a = gp.select(
        F.col("file").alias("file_a"),
        F.col("f").alias("fa"),
        "p",
        F.col("g").alias("ga"),
    )
    b = gp.select(
        F.col("file").alias("file_b"),
        F.col("f").alias("fb"),
        "p",
        F.col("g").alias("gb"),
    )
    fdist = (
        a.join(b, "p")
        .filter(F.col("file_a") < F.col("file_b"))
        .groupBy("file_a", "fa", "file_b", "fb")
        .agg(F.sum(F.abs(F.col("ga") - F.col("gb"))).alias("dist"))
    )
    fmatch = (
        fdist.filter(F.col("dist") <= FRAME_TRUTH)
        .groupBy("file_a", "file_b")
        .agg(
            F.countDistinct("fa").cast("long").alias("m_ab"),
            F.countDistinct("fb").cast("long").alias("m_ba"),
        )
    )
    sa = sizes.select(F.col("file").alias("file_a"), F.col("nfp").alias("na"))
    sb = sizes.select(F.col("file").alias("file_b"), F.col("nfp").alias("nb"))
    truth = (
        fmatch.join(sa, "file_a")
        .join(sb, "file_b")
        .filter(
            (2 * F.col("m_ab") >= F.col("na"))
            | (2 * F.col("m_ba") >= F.col("nb"))
        )
        .select("file_a", "file_b")
        .transform(stage)
    )
    return recall_rollup(spark, truth, {"fp": method}).drop("method")


q_dedup_video_fp_recall.__doc__ = q_dedup_video_fp_recall.__doc__.format(
    ts=FRAME_TRUTH, rec="0.67", prec="0.57"
)
