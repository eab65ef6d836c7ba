"""Reference-shaped literal fixtures (FIXTURES.md §B).

Each fixture is a single Python literal list; the Spark DataFrame and
the DuckDB ``VALUES`` clause are both generated from it, so the two
engines are guaranteed to see identical input — oracle parity for the
filename-grammar / FS-listing / log-scrape operators comes for free.

Shapes mirror the reference's implicit record schemas:
  * READ_FILES  — FASTQ filename grammar (reference
    baseline_workflow.py:109-117, example name at :108)
  * FILE_LISTING — FS-walk metadata rows (reference workflow.py:364-371)
  * LOG_LINES   — benchmark/session log scrape (reference
    experiment.py:42-61, workflow.py:161-170, 325-329)
  * ATTEMPTS    — benchmark results rows (reference experiment.py:259-281)
  * JOB_EVENTS  — YARN job-state stream (reference workflow.py:124-192)
  * READ_PAIRS  — PRQ read-pair records (reference workflow.py:35,487)

The committed binary fixtures (images, audio, video, raw blobs) are
read by ``fixture_files``; their DuckDB oracles read the same bytes
with ``read_blob`` and decode them with the ``_b`` hex-byte helper.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Literal data
# ---------------------------------------------------------------------------

READ_FILES_COLS = ("filename",)
READ_FILES = [
    ("DNA16-0084-R0001_S13_L003_R1_001.fastq.gz",),
    ("DNA16-0084-R0001_S13_L003_R2_001.fastq.gz",),
    ("DNA16-0084-R0001_S13_L003_R1_002.fastq.gz",),
    ("DNA16-0084-R0001_S13_L003_R2_002.fastq.gz",),
    ("DNA16-0084-R0001_S13_L004_R1_001.fastq.gz",),
    ("DNA16-0084-R0001_S13_L004_R2_001.fastq.gz",),
    ("DNA16-0085-R0002_S14_L003_R1_001.fastq.gz",),
    ("DNA16-0085-R0002_S14_L003_R2_001.fastq.gz",),
    ("DNA16-0086-R0003_S15_L001_R1_001.fastq.gz",),
    ("DNA16-0086-R0003_S15_L001_R2_001.fastq.gz",),
    ("DNA16-0086-R0003_S15_L001_R1_002.fastq.gz",),
    ("DNA16-0086-R0003_S15_L001_R2_002.fastq.gz",),
    ("Undetermined_S0_L003_R1_001.fastq.gz",),
    ("Undetermined_S0_L003_R2_001.fastq.gz",),
    ("notes_about_run.txt",),
    ("SampleSheet.csv",),
]

FILE_LISTING_COLS = ("name", "kind", "size")
FILE_LISTING = [
    ("hdfs://nn/out/DNA16-0084-R0001", "directory", 0),
    ("hdfs://nn/out/DNA16-0085-R0002", "directory", 0),
    ("hdfs://nn/out/DNA16-0086-R0003", "directory", 0),
    ("hdfs://nn/out/Undetermined", "directory", 0),
    ("hdfs://nn/out/_temporary", "directory", 0),
    ("hdfs://nn/out/_SUCCESS", "file", 0),
    ("hdfs://nn/out/unknown_barcodes", "directory", 0),
    ("hdfs://nn/out/DNA16-0084-R0001/part-0001.gz", "file", 20),
    ("hdfs://nn/out/DNA16-0084-R0001/part-0002.gz", "file", 1048576),
    ("hdfs://nn/out/DNA16-0085-R0002/part-0001.gz", "file", 29),
    ("hdfs://nn/out/DNA16-0085-R0002/part-0002.gz", "file", 524288),
    ("hdfs://nn/out/DNA16-0086-R0003/part-0001.gz", "file", 30),
    ("hdfs://nn/out/DNA16-0086-R0003/part-0002.gz", "file", 2097152),
    ("hdfs://nn/out/Undetermined/part-0001.gz", "file", 8388608),
    ("/local/scratch/readme.txt", "file", 512),
]

LOG_LINES_COLS = ("lineno", "line")
LOG_LINES = [
    (1, "Total number of applications (application-types: [] and states: [RUNNING]):2"),
    (2, "                Application-Id\t    Application-Name\t    Application-Type"),
    (3, "application_1465386216906_0001\tFlink session with 8 TaskManagers\tApache Flink"),
    (4, "application_1465386216906_0002\tseqal_DNA16-0084-R0001\tMAPREDUCE"),
    (5, "application_1465386216906_0003\tseqal_DNA16-0085-R0002\tMAPREDUCE"),
    (6, "not-an-app-row free text here"),
    (7, "yarn application -kill application_1465386216906_0001"),
    (8, "Seconds for bcl conversion: 123.45"),
    (9, "Seconds for alignment: 678.90"),
    (10, "INFO some other log line without metrics"),
]

ATTEMPTS_COLS = (
    "repeat_num",
    "attempt_num",
    "retcode",
    "log_file",
    "total_secs",
    "bcl_secs",
    "align_secs",
)
ATTEMPTS = [
    (1, 1, 1, "rep_1_attempt_1.log", 900.5, 300.2, 600.3),
    (1, 2, 0, "rep_1_attempt_2.log", 850.0, 280.0, 570.0),
    (2, 1, 0, "rep_2_attempt_1.log", 870.25, 290.1, 580.15),
    (3, 1, 1, "rep_3_attempt_1.log", 910.0, 305.0, 605.0),
    (3, 2, 1, "rep_3_attempt_2.log", 905.5, 300.5, 605.0),
    (3, 3, 0, "rep_3_attempt_3.log", 880.75, 295.25, 585.5),
]

JOB_EVENTS_COLS = ("job_id", "tick", "state", "retcode")
JOB_EVENTS = [
    ("DNA16-0084-R0001", 0, "SUBMITTED", None),
    ("DNA16-0084-R0001", 2, "ACCEPTED", None),
    ("DNA16-0084-R0001", 4, "RUNNING", None),
    ("DNA16-0084-R0001", 10, "FINISHED", 0),
    ("DNA16-0085-R0002", 0, "SUBMITTED", None),
    ("DNA16-0085-R0002", 2, "ACCEPTED", None),
    ("DNA16-0085-R0002", 6, "RUNNING", None),
    ("DNA16-0085-R0002", 12, "FAILED", 1),
    ("DNA16-0086-R0003", 4, "SUBMITTED", None),
    ("DNA16-0086-R0003", 6, "RUNNING", None),
    ("DNA16-0086-R0003", 8, "KILLED", 143),
]

READ_PAIRS_COLS = ("sample", "read_id", "seq1", "qual1", "seq2", "qual2")
READ_PAIRS = [
    ("DNA16-0084-R0001", "r001", "ACGTACGT", "IIIIIIII", "TGCATGCA", "IIIIHHHH"),
    ("DNA16-0084-R0001", "r002", "GGGGCCCC", "HHHHIIII", "AAAATTTT", "IIIIIIII"),
    ("DNA16-0084-R0001", "r003", "ACACACAC", "IIIIIIII", "GTGTGTGT", "HHHHHHHH"),
    ("DNA16-0085-R0002", "r004", "TTTTACGT", "IIIIIIII", "ACGTAAAA", "IIIIIIII"),
    ("DNA16-0085-R0002", "r005", "CCCCACGT", "GGGGIIII", "ACGTGGGG", "IIIIGGGG"),
    ("DNA16-0086-R0003", "r006", "ACGTCCCC", "IIIIIIII", "GGGGACGT", "HHHHIIII"),
    # pruning targets for the pipeline facade (ST5): undetermined sample
    # and an empty-payload record
    ("Undetermined", "r090", "NNNNNNNN", "!!!!!!!!", "NNNNNNNN", "!!!!!!!!"),
    ("DNA16-0084-R0001", "r091", "", "", "", ""),
]

# Planted-PII lines for the redaction operator (north-star training
# layer; the parquet documents are clean word soup, so redaction needs
# its own fixture with known email/phone/IPv4 placements).
PII_LINES_COLS = ("rec_id", "text")
PII_LINES = [
    (1, "contact jane.doe@example.com or bob_smith+spam@mail.example.org today"),
    (2, "call 555-867-5309 after 5pm, backup line 415-555-0199"),
    (3, "server at 192.168.1.77 proxied via 10.0.0.1 and 8.8.8.8"),
    (4, "mixed: root@box.example.net from 172.16.254.3 dials 650-555-1234"),
    (5, "clean line with no personal identifiers at all"),
    (6, "edge: not-an-email@ and 12-34-5678 and 999.999 stay untouched"),
]

_SCHEMAS = {
    "read_files": (READ_FILES_COLS, READ_FILES, "filename STRING"),
    "pii_lines": (PII_LINES_COLS, PII_LINES, "rec_id INT, text STRING"),
    "file_listing": (FILE_LISTING_COLS, FILE_LISTING, "name STRING, kind STRING, size BIGINT"),
    "log_lines": (LOG_LINES_COLS, LOG_LINES, "lineno INT, line STRING"),
    "attempts": (
        ATTEMPTS_COLS,
        ATTEMPTS,
        "repeat_num INT, attempt_num INT, retcode INT, log_file STRING, "
        "total_secs DOUBLE, bcl_secs DOUBLE, align_secs DOUBLE",
    ),
    "job_events": (JOB_EVENTS_COLS, JOB_EVENTS, "job_id STRING, tick INT, state STRING, retcode INT"),
    "read_pairs": (
        READ_PAIRS_COLS,
        READ_PAIRS,
        "sample STRING, read_id STRING, seq1 STRING, qual1 STRING, seq2 STRING, qual2 STRING",
    ),
}


def fixture_df(spark: SparkSession, name: str) -> DataFrame:
    """Build the fixture as a Spark DataFrame (explicit DDL schema)."""
    from ..catalog import _ensure_session_conf

    _ensure_session_conf(spark)
    cols, rows, ddl = _SCHEMAS[name]
    return spark.createDataFrame(rows, schema=ddl)


def fixture_files(spark: SparkSession, directory: str, glob: str) -> DataFrame:
    """(file, content): one row per committed binary fixture matching
    ``glob`` in ``directory``, keyed by base file name — the one
    binaryFile read of every codec query. It self-heals the session
    confs and ships the package first: these queries read fixtures,
    not sf tables, so load_table's hook never runs, and a bare driver
    session running a codec query first would otherwise hit
    ModuleNotFoundError in the mapInPandas workers."""
    from ..catalog import _ensure_session_conf

    _ensure_session_conf(spark)
    df = spark.read.format("binaryFile").load(os.path.join(directory, glob))
    return df.select(
        F.regexp_extract("path", r"([^/]+)$", 1).alias("file"), "content"
    )


_HEXDIGITS = "0123456789ABCDEF"


def _b(j: str) -> str:
    """DuckDB hex arithmetic: byte value at 1-based byte index j of the
    upper-case hex string ``h`` (``hex(content)`` of a read_blob row)."""
    return (
        f"((strpos('{_HEXDIGITS}', h[2*({j})-1:2*({j})-1]) - 1) * 16"
        f" + (strpos('{_HEXDIGITS}', h[2*({j}):2*({j})]) - 1))"
    )


def _sql_lit(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, (int, float)):
        return repr(v)
    return "'" + str(v).replace("'", "''") + "'"


def fixture_values_sql(name: str, alias: str | None = None) -> str:
    """The same fixture as a DuckDB/ANSI ``(VALUES ...) AS t(cols)``
    derived table, for embedding in oracle SQL."""
    cols, rows, _ = _SCHEMAS[name]
    alias = alias or name
    body = ",\n    ".join("(" + ", ".join(_sql_lit(v) for v in row) + ")" for row in rows)
    return f"(VALUES\n    {body}\n) AS {alias}({', '.join(cols)})"
