"""SparkSession construction with fail-fast config validation.

Mirrors the reference's up-front environment validation (verify_conf,
reference workflow.py:102-121) as engine-config validation: bad values
fail at session build time, not mid-query.

Scale notes (100 TB / 1000-executor design point):
  - AQE is always on: runtime partition coalescing, skew-join splitting
    and dynamic join-strategy demotion are what keep a static plan
    honest at 1000x the calibration data volume.
  - ``shuffle_partitions`` defaults to the local core count; on a real
    cluster set it ~2-3x total cores (or leave AQE's coalescing to trim
    an intentionally high value).
  - Timezone is pinned to UTC so timestamp semantics match the DuckDB
    oracle and are cluster-location-independent.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """Half the machine's physical memory, capped at 48g: a heap cap
    above the machine lets the JVM grow past what the host can give
    before it collects."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(48, phys // 2**31))}g"


@dataclass(frozen=True)
class EngineConf:
    """Validated engine configuration (GlobalConf analog,
    reference workflow.py:21-38)."""

    app_name: str = "flink_pipeline_spark"
    master: str = field(
        default_factory=lambda: f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]"
    )
    shuffle_partitions: int = field(
        default_factory=lambda: int(
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", os.cpu_count() or 8)
        )
    )
    # AQE coalescing floor (r14): partition BYTES are AQE's only proxy
    # for work, and the engine's hottest stages fold 64-float arrays
    # through interpreted higher-order functions (~3-5 us/row), so a
    # lower floor widens those CPU-dense stages (measured:
    # q_dedup_embed_cosine 4.27 -> 1.93 s at 64k). But the same floor
    # multiplies the task count of every SMALL shuffle, and the
    # iterative/graph tail pays more than the fold stages save
    # (q_graph_pagerank 2.95 -> 4.40 s at 64k, min-of-3 A/B; the full
    # 152-query bench read net-flat). Default therefore stays Spark's
    # 1m; the knob is exposed because the right value is workload- and
    # scale-dependent (at production scale post-shuffle partitions are
    # far above either floor and the setting is inert).
    aqe_min_partition_size: str = field(
        default_factory=lambda: os.environ.get(
            "SPARK_GRAFT_AQE_MIN_PARTITION_SIZE", "1m"
        )
    )
    driver_memory: str = field(default_factory=_default_driver_memory)
    timezone: str = "UTC"
    adaptive: bool = True
    arrow: bool = True
    ui_enabled: bool = False
    extra: dict[str, str] = field(default_factory=dict)

    def validate(self) -> None:
        """Fail fast on nonsense config (verify_conf analog)."""
        if self.shuffle_partitions <= 0:
            raise ValueError(
                f"shuffle_partitions must be > 0, got {self.shuffle_partitions}"
            )
        if not self.driver_memory[:-1].isdigit() or self.driver_memory[-1] not in "gmk":
            raise ValueError(f"bad driver_memory: {self.driver_memory!r}")
        if not (self.master.startswith("local") or "://" in self.master or
                self.master in ("yarn", "k8s")):
            raise ValueError(f"bad master: {self.master!r}")


def get_session(conf: EngineConf | None = None) -> SparkSession:
    """Build (or reuse) the engine SparkSession.

    One session serves all queries — the Spark analog of the reference's
    session-reuse optimization (one long-lived Flink/YARN session for
    many job submissions, workflow.py:195-239).
    """
    conf = conf or EngineConf()
    conf.validate()
    builder = (
        SparkSession.builder.master(conf.master)
        .appName(conf.app_name)
        .config("spark.sql.shuffle.partitions", str(conf.shuffle_partitions))
        .config("spark.sql.adaptive.enabled", str(conf.adaptive).lower())
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
            conf.aqe_min_partition_size,
        )
        .config("spark.driver.memory", conf.driver_memory)
        .config("spark.sql.session.timeZone", conf.timezone)
        .config("spark.sql.execution.arrow.pyspark.enabled", str(conf.arrow).lower())
        .config("spark.ui.enabled", str(conf.ui_enabled).lower())
        .config("spark.sql.shuffle.spill.compress", "true")
        # events.parquet carries TIMESTAMP(NANOS) which Spark 4 refuses by
        # default; read as long and convert in the catalog (ns -> us).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # GC-clean reliable-checkpoint files (caching.eager_checkpoint)
        # once their frames are unreachable — a long-lived session must
        # not accrete checkpoint dirs any more than cached blocks
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
    )
    for k, v in conf.extra.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
