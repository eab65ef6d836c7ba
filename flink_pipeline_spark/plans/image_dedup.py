"""Image perceptual near-dup (SURVEY.md L2 x L4 — the dedup modality
the engine lacked through r8): 64-bit aHash over decoded PPM planes,
pigeonhole band blocking (the simhash_pairs discipline), exact
Hamming verify, and a recall/precision audit against exact per-pixel
gray distance ground truth.

Reference contract: U2's record-level wide transform
(workflow.py:241-277) moves opaque payloads; this layer PARSES them
(operators/multimodal.py) and connects the decoded planes to the L2
pair machinery — multimodal corpora dedupe images as routinely as
text.

The fixture corpus (scripts/make_phash_fixtures.py) is engineered so
the readings are honest: a clip-free uniform brightness shift is
hash-IDENTICAL but outside pixel truth (precision < 1 — perceptual
invariance is the point of the hash), small boundary noise flips <= 3
bits (detected), moderate noise flips ~5 (MISSED at the lossless-3
threshold: recall < 1), and heavy corruption is far in both metrics.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..caching import stage
from ..operators.multimodal import (
    MAX_BUCKET,
    MAX_HAMMING,
    ahash_bands,
    band_pairs,
    band_probe,
    dhash_bands,
    gray_pixels,
)
from ..sources.fixtures import _b, fixture_files
from .recall_rollup import recall_rollup, recall_rollup_sql
from .registry import register

PHASH_DIR = os.path.abspath(
    os.path.join(
        os.path.dirname(__file__), "..", "..", "fixtures", "images_phash"
    )
)

PHASH_SIDE = 16  # fixture corpus is pinned 16x16 (generator asserts)
TRUTH_SUM = 2_000_000  # exact truth: sum |gray_a - gray_b| <= this
# (keep PHASH_SIDE/TRUTH_SUM in sync with scripts/make_phash_fixtures.py)

_HDR_HEX = "P6\n16 16\n255\n".encode("ascii").hex().upper()
_HDR_LEN = 13
_N_PX_BYTES = PHASH_SIDE * PHASH_SIDE * 3


# Shared oracle prefix: read_blob -> strict 16x16 P6 guard -> integer
# luma plane g(file, p, g) -> aHash cells/bits -> band keys
# bands(file, blk, key). Every stage is the byte-level replay of the
# operators/multimodal.py codecs (ahash_bands / gray_pixels).
_PHASH_CTE = f"""b AS (
        SELECT regexp_extract(filename, '([^/]+)$', 1) AS file,
               hex(content) AS h,
               octet_length(content) AS n
        FROM read_blob('{PHASH_DIR}/*.ppm')
    ), guard AS (
        SELECT file, h,
               CASE WHEN n = {_HDR_LEN + _N_PX_BYTES}
                     AND h[1:{2 * _HDR_LEN}] = '{_HDR_HEX}'
                    THEN 1
                    ELSE CAST(error('phash fixture is not a 16x16 '
                                    || 'P6/255 ppm: ' || file) AS INT)
               END AS ok
        FROM b
    ), px AS (
        SELECT file,
               (j - {_HDR_LEN + 1}) // 3 AS p,
               (j - {_HDR_LEN + 1}) % 3 AS ch,
               {_b('j')} AS v
        FROM (SELECT file, h,
                     unnest(range({_HDR_LEN + 1},
                                  {_HDR_LEN + 1 + _N_PX_BYTES})) AS j
              FROM guard WHERE ok = 1) t
    ), g AS (
        SELECT file, p,
               CAST(sum(v * CASE ch WHEN 0 THEN 299
                                    WHEN 1 THEN 587
                                    ELSE 114 END) AS BIGINT) AS g
        FROM px GROUP BY file, p
    ), cell AS (
        SELECT file,
               ((p // {PHASH_SIDE}) * 8 // {PHASH_SIDE}) * 8
                 + ((p % {PHASH_SIDE}) * 8 // {PHASH_SIDE}) AS c,
               CAST(sum(g) AS BIGINT) AS s
        FROM g GROUP BY 1, 2
    ), tot AS (
        SELECT file, CAST(sum(s) AS BIGINT) AS t FROM cell GROUP BY file
    ), bits AS (
        SELECT cell.file, c,
               CASE WHEN s * 64 > t THEN 1 ELSE 0 END AS bit
        FROM cell JOIN tot USING (file)
    ), bands AS (
        SELECT file, c // 16 AS blk,
               CAST(sum(bit << (c % 16)) AS BIGINT) AS key
        FROM bits GROUP BY 1, 2
    )"""

def _pairs_sql(bands: str = "bands", p: str = "") -> str:
    """Band-blocked pair generation + exact Hamming verify over a
    named band CTE — parameterized so the aHash and dHash methods
    replay through IDENTICAL blocking/cap/verify text (``p`` prefixes
    the intermediate CTE names to keep a multi-method oracle's
    namespace disjoint)."""
    return f"""{p}bucket AS (
        SELECT blk, key FROM {bands} GROUP BY blk, key
        HAVING count(*) BETWEEN 2 AND {MAX_BUCKET}
    ), {p}cand AS (
        SELECT DISTINCT a.file AS file_a, b.file AS file_b
        FROM {bands} a
        JOIN {bands} b ON a.blk = b.blk AND a.key = b.key
                    AND a.file < b.file
        JOIN {p}bucket k ON a.blk = k.blk AND a.key = k.key
    ), {p}ham AS (
        SELECT c.file_a, c.file_b,
               CAST(sum(bit_count(xor(ka.key, kb.key))) AS BIGINT)
                 AS hamming
        FROM {p}cand c
        JOIN {bands} ka ON ka.file = c.file_a
        JOIN {bands} kb ON kb.file = c.file_b AND kb.blk = ka.blk
        GROUP BY 1, 2
    )
    SELECT file_a, file_b, hamming FROM {p}ham WHERE hamming <= {MAX_HAMMING}"""


_PAIRS_SQL = _pairs_sql()

# dHash band CTEs chained onto _PHASH_CTE's cell grid: row-wise
# horizontal gradient with wraparound (bit c = 1 iff cell c beats its
# right neighbour in the same row), the byte-level replay of
# operators/multimodal.dhash_bands
_DHASH_CTE = """dbits AS (
        SELECT a.file, a.c,
               CASE WHEN a.s > b.s THEN 1 ELSE 0 END AS bit
        FROM cell a JOIN cell b
          ON b.file = a.file
         AND b.c = (a.c // 8) * 8 + ((a.c % 8) + 1) % 8
    ), dbands AS (
        SELECT file, c // 16 AS blk,
               CAST(sum(bit << (c % 16)) AS BIGINT) AS key
        FROM dbits GROUP BY 1, 2
    )"""


@register(
    "q_dedup_image_phash",
    oracle=f"WITH {_PHASH_CTE}, {_PAIRS_SQL}",
)
def q_dedup_image_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image perceptual near-dup pairs: binaryFile scan over the
    committed phash corpus -> integer-exact 64-bit aHash as 4 band
    keys (Arrow-batched mapInPandas, operators/multimodal.py
    ahash_bands) -> pigeonhole blocking on exact band agreement (any
    pair within Hamming {mh} shares >= 1 of the 4 16-bit bands, so
    candidates are an equi-join; all-pairs never materializes) ->
    exact bit_count(xor) verify per band, summed. The DuckDB oracle
    replays the ENTIRE path from read_blob hex bytes: luma, cell sums,
    mean comparison, band packing, blocking, cap, verify.

    Fixture readings this corpus pins: the +16-brightness variant at
    hamming 0 (aHash's global-mean comparison makes a clip-free
    uniform shift cancel EXACTLY), boundary noise at hamming 2, and
    the moderate/heavy variants correctly above threshold.

    Scale: 4 fixed-size rows per image out of the codec; blocking
    shuffles on (blk, key) with the same hot-bucket cap as
    simhash_pairs; verify joins touch 4-row slices per candidate.
    65536 keys/band holds bucket occupancy sub-linear until ~10^6
    images/band-key — past that, widen the hash (pHash-DCT, 256 bits)
    exactly as SIMHASH_BITS replaced the calib width."""
    return band_pairs(ahash_bands(fixture_files(spark, PHASH_DIR, "*.ppm")))


q_dedup_image_phash.__doc__ = q_dedup_image_phash.__doc__.format(
    mh=MAX_HAMMING
)


@register(
    "q_dedup_image_dhash",
    oracle=f"WITH {_PHASH_CTE}, {_DHASH_CTE}, {_pairs_sql('dbands', 'd')}",
)
def q_dedup_image_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup pairs under the GRADIENT hash (dHash,
    operators/multimodal.dhash_bands): same integer-exact cell grid,
    same pigeonhole blocking, cap, and bit_count verify as
    q_dedup_image_phash — only the bit rule changes (cell beats its
    right neighbour, wraparound, vs cell beats the global mean).

    What the second method buys, pinned by the fixture corpus: the
    moderate-noise variant that flips 5 aHash bits (MISSED at the
    lossless-3 radius) flips only 1 dHash bit — local perturbations
    barely move cell ORDER relations even when they move cell-vs-mean
    comparisons — so dHash emits (ph_b, ph_b_noise) at hamming 1
    while remaining exactly invariant to the clip-free brightness
    shift (hamming 0). The per-method rows in
    q_dedup_image_phash_recall price the difference against the same
    pixel truth, mirroring how the text audit compares
    MinHash/SimHash.

    Scale: identical to the aHash path — 4 fixed rows per image,
    (blk, key) equi-join blocking, capped buckets."""
    return band_pairs(dhash_bands(fixture_files(spark, PHASH_DIR, "*.ppm")))


@register(
    "q_dedup_image_phash_recall",
    oracle=f"""
    WITH {_PHASH_CTE}, {_DHASH_CTE}, a_m AS (
        WITH {_pairs_sql("bands", "")}
    ), d_m AS (
        WITH {_pairs_sql("dbands", "d")}
    ), co AS (
        SELECT a.file AS file_a, b.file AS file_b,
               CAST(sum(abs(a.g - b.g)) AS BIGINT) AS dist
        FROM g a JOIN g b ON a.p = b.p AND a.file < b.file
        GROUP BY 1, 2
    ), truth AS (
        SELECT file_a, file_b FROM co WHERE dist <= {TRUTH_SUM}
    ), {recall_rollup_sql(
        {'ahash': 'a_m', 'dhash': 'd_m'}, ('file_a', 'file_b'))}
    SELECT * FROM rollup
    """,
)
def q_dedup_image_phash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-METHOD recall/precision audit of the image perceptual
    near-dup family (aHash mean-hash vs dHash gradient-hash) against
    EXACT per-pixel gray distance ground truth (the q_dedup_recall
    convention extended to the image modality, one row per method the
    way the text audit compares MinHash/SimHash): truth pairs are
    those with sum |gray_a - gray_b| <= {ts} over aligned pixels; the
    methods are the registered q_dedup_image_phash and
    q_dedup_image_dhash pair sets.

    The corpus pins an instructive split. ahash: recall 0.5 (the
    moderate-noise variant flips 5 mean-bits — outside the lossless-3
    blocking radius — while staying inside pixel truth), precision
    0.33 (the brightness shift is hash-IDENTICAL while 16 gray levels
    from truth — perceptual invariance and pixel distance
    deliberately disagree). dhash: recall 1.0 (the same perturbation
    flips only ONE gradient bit — cell order relations barely move),
    precision 0.5 (it still emits the brightness pair, sharing
    aHash's deliberate truth disagreement). The method delta is the
    audit's finding: gradients dominate means on local noise at
    identical cost.

    Scale: the truth side explodes pixels into rows (gray_pixels) and
    equi-joins on pixel index + dims — the audit path, priced for
    fixtures; both method sides stay on the 4-rows-per-image scale
    path. The 1-row denominator broadcast is the vetted source-mix
    gate."""
    gp = gray_pixels(fixture_files(spark, PHASH_DIR, "*.ppm"))
    a = gp.select(
        F.col("file").alias("file_a"), "width", "height", "p",
        F.col("g").alias("ga"),
    )
    b = gp.select(
        F.col("file").alias("file_b"), "width", "height", "p",
        F.col("g").alias("gb"),
    )
    truth = (
        a.join(b, ["width", "height", "p"])
        .filter(F.col("file_a") < F.col("file_b"))
        .groupBy("file_a", "file_b")
        .agg(F.sum(F.abs(F.col("ga") - F.col("gb"))).alias("dist"))
        .filter(F.col("dist") <= TRUTH_SUM)
        .select("file_a", "file_b")
    )
    return recall_rollup(
        spark,
        truth,
        {
            "ahash": q_dedup_image_phash(spark, sf_dir),
            "dhash": q_dedup_image_dhash(spark, sf_dir),
        },
    )


q_dedup_image_phash_recall.__doc__ = q_dedup_image_phash_recall.__doc__.format(
    ts=TRUTH_SUM
)


# The "new batch" of the incremental scenario: the engineered variants
# arrive against a store holding the bases + fillers.
PROBE_FILES = (
    "ph_a_bright.ppm",
    "ph_a_noise.ppm",
    "ph_b_noise.ppm",
    "ph_c_heavy.ppm",
)
_PROBE_IN = ", ".join(f"'{f}'" for f in PROBE_FILES)


@register(
    "q_dedup_image_phash_incremental",
    oracle=f"""
    WITH {_PHASH_CTE}, store AS (
        SELECT file, blk, key FROM bands WHERE file NOT IN ({_PROBE_IN})
    ), probe AS (
        SELECT file, blk, key FROM bands WHERE file IN ({_PROBE_IN})
    ), cand AS (
        SELECT DISTINCT p.file AS file, s.file AS store_file
        FROM probe p JOIN store s ON s.blk = p.blk AND s.key = p.key
    ), ham AS (
        SELECT c.file, c.store_file,
               CAST(sum(bit_count(xor(pk.key, sk.key))) AS BIGINT)
                 AS hamming
        FROM cand c
        JOIN probe pk ON pk.file = c.file
        JOIN store sk ON sk.file = c.store_file AND sk.blk = pk.blk
        GROUP BY 1, 2
    ), best AS (
        SELECT file, store_file, hamming
        FROM (SELECT *, row_number() OVER (
                  PARTITION BY file
                  ORDER BY hamming, store_file) AS rn
              FROM ham WHERE hamming <= {MAX_HAMMING}) t
        WHERE rn = 1
    )
    SELECT p.file, b.store_file AS dup_of, b.hamming,
           b.store_file IS NOT NULL AS is_dup
    FROM (SELECT DISTINCT file FROM probe) p
    LEFT JOIN best b ON b.file = p.file
    """,
)
def q_dedup_image_phash_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """INCREMENTAL image near-dup — the arriving-batch form of
    q_dedup_image_phash (the q_dedup_incremental pattern applied to
    the image modality): a new batch of images probes an existing
    signature STORE (band keys only, 4 rows per stored image — the
    state a streaming deployment persists); each probe reports its
    best in-threshold store match (keep/drop decision) or NULL when
    it is genuinely new. The batch side never joins itself — dup
    pairs WITHIN an arriving batch are the batch-local
    q_dedup_image_phash run, exactly as the text incremental splits
    the work.

    Fixture readings: the brightness variant resolves to its base at
    hamming 0, the boundary-noise variant at hamming 2; the moderate
    (5 bits) and heavy (13 bits) variants correctly probe as NEW at
    the lossless-3 threshold.

    The probe is operators/multimodal.band_probe, the same call the
    streaming ImageDedupIngest makes per micro-batch, so batch and
    stream decide through one code path.

    Scale: the probe side is batch-sized; the store is semi-joined
    down to the probed (blk, key) buckets before the equi-join, and
    re-read only for the candidates' full signatures — the candidate
    set is bucket-collision-bounded, never store x batch."""
    # one codec run feeds both sides: band_probe reads the probe three
    # times and the store twice, and the lazy frame would re-run the
    # codec per read (9 Python evaluations against 1)
    bands = stage(ahash_bands(fixture_files(spark, PHASH_DIR, "*.ppm")))
    is_probe = F.col("file").isin(*PROBE_FILES)
    probe = bands.filter(is_probe)
    best = band_probe(probe, bands.filter(~is_probe))
    return (
        probe.select("file")
        .distinct()
        .join(best, "file", "left")
        .select(
            "file",
            "dup_of",
            "hamming",
            F.col("dup_of").isNotNull().alias("is_dup"),
        )
    )


@register(
    "q_dedup_image_apply",
    oracle=f"""
    WITH RECURSIVE {_PHASH_CTE}, {_PAIRS_SQL.replace(
        f"SELECT file_a, file_b, hamming FROM ham WHERE hamming <= {MAX_HAMMING}",
        f", prs AS (SELECT file_a, file_b FROM ham"
        f" WHERE hamming <= {MAX_HAMMING})",
    )}, edges AS (
        SELECT file_a AS src, file_b AS dst FROM prs
        UNION ALL
        SELECT file_b, file_a FROM prs
    ), nodes AS (
        SELECT DISTINCT src AS id FROM edges
    ), reach(id, r) AS (
        SELECT id, id FROM nodes
        UNION
        SELECT e.dst, reach.r FROM reach JOIN edges e ON reach.id = e.src
    ), clust AS (
        SELECT id AS file, min(r) AS keeper FROM reach GROUP BY id
    )
    SELECT b.file, coalesce(c.keeper, b.file) AS keeper,
           coalesce(c.keeper, b.file) <> b.file AS is_dup
    FROM (SELECT DISTINCT file FROM bands) b
    LEFT JOIN clust c ON c.file = b.file
    """,
)
def q_dedup_image_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image dedup APPLIED end-to-end — pairs -> connected components
    -> keeper, the same shipped shape as the text family's
    q_dedup_apply: perceptual pair graph (q_dedup_image_phash) ->
    cluster via the SAME hybrid connected_components operator text
    dedup uses (min-label + star hand-off; lexicographic min filename
    is the deterministic keeper) -> every image stamped with its
    keeper and a drop decision. Fixture reading: the a-family
    (base/bright/noise) collapses onto ph_a.ppm; everything else
    keeps itself.

    Scale: the pair graph is band-blocked (never all-pairs), the CC
    operator is the O(log n)-round hybrid probed to 100k-link chains
    (SCALING.md), and the keeper join is component-sized — identical
    cost profile to the text apply. Under the local-execution gate
    the string keys stay local: connected_components ranks them in
    UTF-8 byte order on the driver. Above it, a web-scale image corpus
    would map file ids to BIGINT first (the PageRank lesson,
    SCALING.md r8j). The stamped
    file list is the fixture listing itself: the pair query hashes
    every file, and ahash_bands raises on any it cannot hash, so the
    listing is exactly the hashed set without a second codec pass."""
    from ..operators.llm import connected_components

    pairs = q_dedup_image_phash(spark, sf_dir).select(
        F.col("file_a").alias("doc_a"), F.col("file_b").alias("doc_b")
    )
    clusters = connected_components(pairs).select(
        F.col("doc_id").alias("file"), F.col("cluster_id").alias("keeper")
    )
    files = fixture_files(spark, PHASH_DIR, "*.ppm").select("file")
    return files.join(clusters, "file", "left").select(
        "file",
        F.coalesce("keeper", "file").alias("keeper"),
        (F.coalesce("keeper", "file") != F.col("file")).alias("is_dup"),
    )
