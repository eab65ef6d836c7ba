"""The benchmark's workloads and their operations.

An operation has a build phase (construct the DataFrame, including every
eager Spark job the engine runs while constructing it) and an action
phase (force it).  Query operations force with the ``noop`` sink; the
pipeline operation is one ``Pipeline.run``.  Each operation can also
check its own output against a reference computed from the generated
input without Spark.
"""

from __future__ import annotations

import hashlib
import os
import shutil
from dataclasses import dataclass

import gen

PIPELINE_OP = "pipeline_run"  # one Pipeline.run over the seeded read pairs
WORKLOADS = {
    # the beam family: a two-layer HNSW built per pass (the two layer
    # graphs on parallel_frames threads, per-hop eager checkpoints) and
    # searched, next to a search served from a persisted store, which
    # is built and published during set-up
    "ann_beam": ["q_sim_hnsw_topk", "q_sim_maxsim_search"],
    # corpus dedup: an incremental minhash pass (shingles through
    # caching.materialize, an eager checkpoint of the near-duplicate
    # probe) and an embedding dedup (cosine pairs, connected components),
    # next to the two-stage demux/align pipeline, which writes; none of
    # them touches the beam operator
    "dedup_demux": ["q_dedup_incremental", "q_dedup_embed_apply", PIPELINE_OP],
}


PER_LAYER = [
    "session.get_session_s",
    "plans.build_s",
    "plans.build_jobs",
    "plans.build_stages",
    "plans.build_tasks",
    "plans.build_idle_s",
    "exec.action_s",
    "exec.jobs",
    "exec.stages",
    "exec.tasks",
    "exec.task_s",
    "exec.failed_tasks",
    "exec.shuffle_read_bytes",
    "exec.shuffle_write_bytes",
    "catalog.load_table_calls",
    "catalog.load_table_s",
    "catalog.load_table_jobs",
    "caching.materialize_calls",
    "caching.materialize_s",
    "caching.parallel_frames_calls",
    "caching.parallel_frames_s",
    "caching.eager_checkpoint_calls",
    "caching.eager_checkpoint_s",
    "caching.local_checkpoint_calls",
    "operators.nsw_beam_calls",
    "operators.nsw_beam_s",
    "operators.cosine_pairs_s",
    "operators.minhash_signatures_s",
    "operators.connected_components_s",
    "streaming.publish_store_calls",
    "streaming.publish_store_s",
    "streaming.publish_store_setup_calls",
    "pipeline.convert_s",
    "pipeline.align_s",
    "pipeline.convert_jobs",
    "pipeline.align_jobs",
    "pipeline.output_bytes",
    "trace.pass_s",
    "trace.pass_jobs",
    "mem.peak_rss_mb",
]


def layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "B"
    if name.endswith("_mb"):
        return "MB"
    return "count"


def _digest(cols, rows) -> str:
    """Order-insensitive digest of canonicalized result rows."""
    body = repr((cols, sorted(repr(r) for r in rows)))
    return hashlib.sha256(body.encode()).hexdigest()


@dataclass
class QueryOp:
    name: str
    fn: object
    data_dir: str
    expected: str  # digest of the DuckDB oracle's rows

    def build(self, spark):
        return self.fn(spark, self.data_dir)

    def act(self, df) -> bool:
        df.write.format("noop").mode("overwrite").save()
        return True

    def check(self, spark) -> bool:
        from tests.parity import rows_from_spark

        return _digest(*rows_from_spark(self.build(spark))) == self.expected


@dataclass
class PipelineOp:
    name: str
    pairs_path: str
    out_root: str
    expected: dict
    runs: int = 0

    def build(self, spark):
        from flink_pipeline_spark.pipeline import Pipeline, PipelineConf

        self.runs += 1
        out = os.path.join(self.out_root, f"run{self.runs}")
        return spark.read.parquet(self.pairs_path), Pipeline(spark, PipelineConf(output_dir=out))

    def act(self, built) -> bool:
        pairs, pipe = built
        res = pipe.run(pairs)
        return res.samples == self.expected["samples"] and res.sam_rows == self.expected["sam_rows"]

    def output_bytes(self) -> int:
        out = os.path.join(self.out_root, f"run{self.runs}")
        return sum(
            os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(out) for f in fs
        )

    def cleanup(self) -> None:
        shutil.rmtree(self.out_root, ignore_errors=True)

    def check(self, spark) -> bool:
        try:
            return self.act(self.build(spark))
        finally:
            self.cleanup()


def oracle_digests(names: list[str], data_dir: str) -> dict[str, str]:
    """Digest of each query's DuckDB oracle rows over the generated tables."""
    import duckdb

    from flink_pipeline_spark.plans import oracle_sqls
    from tests.parity import rows_from_duckdb

    sqls = oracle_sqls(data_dir)
    con = duckdb.connect()
    try:
        for t in gen.MAKERS:
            path = os.path.join(data_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        return {n: _digest(*rows_from_duckdb(con, sqls[n])) for n in names}
    finally:
        con.close()


def make_ops(workload: str, seed: int, work: str) -> tuple[list, dict]:
    """The workload's operations over inputs generated from ``seed``,
    and a description of those inputs."""
    from flink_pipeline_spark.plans import query_fns

    names = WORKLOADS[workload]
    queries = [n for n in names if n != PIPELINE_OP]
    ops, inputs = [], {}
    if queries:
        data_dir = os.path.join(work, "data", f"tables-{seed}")
        inputs["rows"] = gen.write_tables(seed, data_dir)
        expected = oracle_digests(queries, data_dir)
        fns = query_fns()
        ops += [QueryOp(n, fns[n], data_dir, expected[n]) for n in queries]
    if PIPELINE_OP in names:
        path = os.path.join(work, "data", f"pairs-{seed}.parquet")
        info = gen.write_read_pairs(seed, path)
        ops.append(PipelineOp(PIPELINE_OP, path, os.path.join(work, "pipe"), info))
        inputs |= {k: v for k, v in info.items() if k != "samples"}
        inputs["samples_surviving"] = len(info["samples"])
    return ops, inputs
