"""Persisted ANN index store: build the two-layer HNSW graph ONCE,
persist the scored adjacency + indexed vectors as parquet, then SERVE
searches from the store and fold arriving vectors in per micro-batch —
the serving deployment form of the q_sim_nsw_topk / q_sim_hnsw_topk
family (r10 verdict's top ask: every ANN query rebuilt its index per
run; an index-serving deployment builds once and persists), and the
TENTH streaming deployment form.

Store layout (the streaming/merge.py snapshot + streaming/
image_dedup.py append-log conventions, one store each):

* ``adj/batch_id=N`` — the FULL scored adjacency snapshot after batch
  N, columns (layer, src, dst, dist_q): layer 0 = base graph over
  every indexed vector, layer 1 = the sparse upper layer (the
  deterministic hash56 % HNSW_L1_MOD == 0 sample of
  operators/llm.hnsw_layer1 — HNSW's geometric level assignment, one
  level deep). Snapshot semantics because an insert
  REWRITES touched nodes' edge lists (the 2*deg re-prune); the
  copy-on-write trade is the CDC-merge one: at 100 TB the adjacency
  would be bucketed by src and only dirty buckets rewritten —
  identical read semantics, documented not implemented here.
* ``vecs/batch_id=N`` — append-only log of indexed vectors
  (vec_id, embedding); batch N's arrivals land in their own
  partition. Never rewritten, never pruned: it IS the index's vector
  storage (a serving node memory-maps exactly this).
* ``tombs/batch_id=N`` — append-only log of DELETED vec_ids; batch
  N's deletions land in their own partition. The vector log is never
  rewritten — tombstones MASK it (reads anti-join the tombstone set),
  the production delete convention (FreshDiskANN): the id is dead
  forever (re-inserting a tombstoned id is unsupported), the bytes
  are reclaimed only by an offline log rewrite.

Replay idempotence follows streaming/merge.py exactly: the seed
snapshot from ``init`` lives at the sentinel ``batch_id=-1``; every
batch reads STRICTLY BEFORE its own id — the adjacency through
heavy.read_latest, the vector and tombstone logs through heavy.read_log
— and overwrites its own partitions, so a crashed batch re-derives
byte-identical state. Reading an uninitialized or pruned-past store
raises loudly (the r9-ADVICE contract); only the tombstone log may be
absent (no delete has run yet).

Insert rule per micro-batch (operators/llm.nsw_insert — the SAME
operator the batch query q_sim_nsw_insert registers and the DuckDB
oracle replays): every arrival beam-searches the current layer-0
graph, links to its beam's NSW_DEG nearest, hands back reverse edges,
touched lists re-prune to 2*deg; arrivals passing the hash rule
additionally insert into layer 1 the same way. Per-trigger work is
O(|batch| * beam * deg * hops) beam probes plus one per-src window
over index + new edges — never a rebuild, never all-pairs.

Delete rule per micro-batch (operators/llm.nsw_delete — the SAME
operator the batch query q_sim_nsw_delete registers and its oracle
replays): a batch frame carrying an ``op`` column splits into
deletions (op='delete': vec_ids to unindex) and arrivals
(op='insert'); deletions apply FIRST — both layer adjacencies
compact (drop dead lists, bridge-repair + re-prune touched
survivors), tombstones append to the log — then arrivals fold into
the COMPACTED graphs, beaming over the surviving corpus only. A
frame without ``op`` is all arrivals (the pre-delete API,
unchanged). Searches exclude tombstoned ids from the final beam
(operators/llm.nsw_search's mask — on a compacted adjacency a
no-op enforcing the contract) and read vectors through the
tombstone mask, so a deleted vector can never be served.

The build and search constants are the registry's (NSW_DEG, NSW_BEAM,
NSW_HOPS, HNSW_L1_MOD and plans/llm_ops.NSW_GRAPH_KW), so a store built
here serves exactly the graph the batch queries build.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.llm import (
    NSW_DEG,
    hnsw_filtered_search,
    hnsw_layer1,
    hnsw_search,
    hnsw_visited,
    nsw_delete,
    nsw_graph,
    nsw_insert,
)
from ..plans.llm_ops import NSW_GRAPH_KW  # one source of truth
from .heavy import (
    _part,
    read_latest,
    read_log,
    split_ops,
    write_latest,
    write_log,
)

_ADJ_SCHEMA = "layer INT, src BIGINT, dst BIGINT, dist_q BIGINT"


class ANNIndexMonitor:
    """foreachBatch sink: maintain the persisted two-layer HNSW index
    under ``store_dir``; serve searches from any committed snapshot."""

    def __init__(self, store_dir: str) -> None:
        self.store_dir = store_dir

    def _path(self, kind: str) -> str:
        return os.path.join(self.store_dir, kind)

    # -- store I/O ---------------------------------------------------

    def init(self, emb: DataFrame, centroids: DataFrame) -> None:
        """Seed the store: build BOTH layer graphs over ``emb`` (the
        one full build a serving deployment ever pays) and write the
        sentinel ``batch_id=-1`` snapshot. ``centroids`` is the coarse
        quantizer seed set driving build-time candidate generation —
        a corpus property; inserts never need it (they probe the
        graph itself), so it is not persisted."""
        vecs = emb.select("vec_id", "embedding")
        l0 = nsw_graph(vecs, centroids, keep_dist=True, **NSW_GRAPH_KW)
        l1 = nsw_graph(
            hnsw_layer1(vecs), centroids, keep_dist=True, **NSW_GRAPH_KW
        )
        adj = l0.select(F.lit(0).alias("layer"), "src", "dst", "dist_q")
        adj = adj.unionByName(
            l1.select(F.lit(1).alias("layer"), "src", "dst", "dist_q")
        )
        write_log(adj, self._path("adj"), -1)
        write_log(vecs, self._path("vecs"), -1)

    def copy_base(self, dst: str) -> "ANNIndexMonitor":
        """Copy the ``init`` snapshot (both layers' adjacency and the
        vector log at ``batch_id=-1``) into a fresh store at ``dst``
        and return its monitor — the start of a store derived from
        this one by folding batches in."""
        for kind in ("adj", "vecs"):
            shutil.copytree(
                _part(self._path(kind), -1), _part(os.path.join(dst, kind), -1)
            )
        return ANNIndexMonitor(dst)

    def adjacency(self, spark, after_batch_id: int) -> DataFrame:
        """(layer, src, dst, dist_q): the adjacency snapshot as of
        after ``after_batch_id``. Uninitialized or pruned-past stores
        raise (streaming/merge.py contract: probing a missing graph
        would silently index nothing)."""
        return read_latest(
            spark, self._path("adj"), _ADJ_SCHEMA, after_batch_id + 1,
            "adjacency snapshot of the ann index", required=True,
        )

    def tombs(self, spark, after_batch_id: int) -> DataFrame:
        """(vec_id): every id tombstoned as of after ``after_batch_id``.
        Unlike adj/vecs, an absent tombstone log is a VALID state (no
        delete has ever run) — it reads as the empty mask."""
        return read_log(
            spark, self._path("tombs"), "vec_id BIGINT", after_batch_id + 1,
            "ann index tombstones",
        )

    def _state(self, spark, batch_id: int):
        """(vecs, adj0, adj1, tombs) strictly BEFORE ``batch_id``: the
        indexed vectors read through the tombstone mask, the scored
        (src, dst, dist_q) adjacency of layer 0 and layer 1, and the
        tombstoned ids — the one store read every fold and every
        search starts from."""
        adj = self.adjacency(spark, batch_id - 1)
        tombs = self.tombs(spark, batch_id - 1)
        vecs = read_log(
            spark, self._path("vecs"), None, batch_id,
            "vector partitions of the ann index", required=True,
        ).select("vec_id", "embedding").join(tombs, "vec_id", "left_anti")
        adj0 = adj.filter(F.col("layer") == 0).drop("layer")
        adj1 = adj.filter(F.col("layer") == 1).drop("layer")
        return vecs, adj0, adj1, tombs

    # -- the foreachBatch fold ----------------------------------------

    def __call__(self, batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        vecs, adj0, adj1, tombs = self._state(spark, batch_id)
        dels, arrivals = split_ops(batch)
        # re-inserting a previously tombstoned vec_id is UNSUPPORTED
        # (the id is dead forever — tombs() masks it on every
        # read): folding such an arrival in would create dangling
        # adjacency edges to a vector that can never be served, so the
        # unsupported state is refused loudly instead of silently
        # created (ADVICE r12). The guard covers BOTH tombstone
        # sources: prior batches' logs AND this batch's own dels —
        # a single batch carrying op='delete' and op='insert' for the
        # same vec_id would otherwise write the id to the tombstone
        # log while also inserting its adjacency rows, the exact
        # dead-but-indexed state the guard refuses (ADVICE r13).
        # One tiny existence probe per batch.
        if not arrivals.join(
            tombs.unionByName(dels), "vec_id", "semi"
        ).isEmpty():
            raise ValueError(
                "ann index: batch re-inserts previously tombstoned "
                "vec_id(s) — unsupported (tombstoned ids are dead "
                "forever; index under a fresh vec_id instead)"
            )
        # deletes FIRST: compact both layers, then arrivals beam over
        # the compacted graphs and the surviving corpus
        adj0 = nsw_delete(vecs, adj0, dels, deg=NSW_DEG)
        adj1 = nsw_delete(vecs, adj1, dels, deg=NSW_DEG)
        live = vecs.join(dels, "vec_id", "left_anti")
        new0 = nsw_insert(live, adj0, arrivals, deg=NSW_DEG)
        new1 = nsw_insert(
            hnsw_layer1(live), adj1, hnsw_layer1(arrivals), deg=NSW_DEG
        )
        nadj = new0.select(
            F.lit(0).alias("layer"), "src", "dst", "dist_q"
        ).unionByName(
            new1.select(F.lit(1).alias("layer"), "src", "dst", "dist_q")
        )
        # adjacency is a snapshot; the vecs and tombstone logs are
        # never pruned — together they are the index's vector storage
        write_latest(nadj, self._path("adj"), batch_id)
        write_log(arrivals, self._path("vecs"), batch_id)
        write_log(dels, self._path("tombs"), batch_id)

    # -- the serving path ----------------------------------------------

    def search(
        self, spark, queries: DataFrame, after_batch_id: int, k: int = 3
    ) -> DataFrame:
        """(query_id, neighbor_id, rank, dist_q): two-layer HNSW
        search SERVED FROM THE STORE as of after ``after_batch_id`` —
        zero build cost; reads are the adjacency snapshot plus the
        vector log, both bounded by what the beams touch once filters
        push down. The SAME hnsw_search the batch audit query runs,
        so serving results cannot fork from the benchmarked form; its
        layer-1 beam runs over hnsw_layer1 of the live vectors, which
        hold every endpoint of the stored layer-1 graph (``init``
        builds it over hnsw_layer1, inserts add only layer-1
        arrivals, delete bridges link surviving members).
        Vectors are read through the tombstone mask and tombstoned
        ids are excluded from the final beam, so a deleted vector is
        never served."""
        vecs, adj0, adj1, tombs = self._state(spark, after_batch_id + 1)
        return hnsw_search(vecs, queries, adj0, adj1, k=k, exclude=tombs)

    def search_radius(
        self,
        spark,
        queries: DataFrame,
        after_batch_id: int,
        radius_q: int,
    ) -> DataFrame:
        """(query_id, neighbor_id, dist_q): RADIUS search served from
        the store — every node the standard two-layer search VISITS
        that lies within quantized squared L2 ``radius_q`` of the
        query. The beam traversal is byte-identical to ``search``
        (same derived layer-1 descent, same hand-off, same
        footprint); only the
        result rule changes: instead of truncating the final beam to
        k, the full visited set (which the search already paid to
        score — the hnsw_filtered_search insight) is thresholded.
        Recall is bounded by what the beam visits (widen the beam to
        raise it); tombstoned ids are excluded as in ``search``."""
        vecs, adj0, adj1, tombs = self._state(spark, after_batch_id + 1)
        vis = hnsw_visited(vecs, queries, adj0, adj1)
        return (
            vis.filter(F.col("node") != F.col("query_id"))
            .join(
                tombs.withColumnRenamed("vec_id", "node"),
                "node",
                "left_anti",
            )
            .filter(F.col("dist_q") <= radius_q)
            .select(
                "query_id",
                F.col("node").alias("neighbor_id"),
                "dist_q",
            )
        )

    def search_filtered(
        self,
        spark,
        queries: DataFrame,
        after_batch_id: int,
        filt_ids: DataFrame,
        k: int = 3,
    ) -> DataFrame:
        """Predicate-constrained serving from the store: the same
        stored graph and the same traversal (layer-1 members derived
        from the live vectors) as ``search``, with the
        final ranking over the search's full visited set restricted
        to ``filt_ids`` (a vec_id frame from corpus metadata — the
        store itself holds only vectors, so the predicate arrives as
        an id set, the vector-store filter-pushdown convention).
        Tombstones are excluded as in ``search``."""
        vecs, adj0, adj1, tombs = self._state(spark, after_batch_id + 1)
        return hnsw_filtered_search(
            vecs, queries, adj0, adj1, filt_ids=filt_ids, k=k, exclude=tombs
        )
