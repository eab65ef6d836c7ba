"""Property tests for the round-8 session-4 operators (the completed
TPC-H shape family + corpus ops) — the invariants oracle parity cannot
see: parity proves both engines agree; these prove the semantics are
the published query's / algorithm's."""

from __future__ import annotations

import re

import pyspark.sql.functions as F

from flink_pipeline_spark.catalog import load_table
from flink_pipeline_spark.plans import query_fns
from flink_pipeline_spark.plans.corpus_ops import PR_ITERS, PR_SCALE
from flink_pipeline_spark.plans.joins import SALT_BUCKETS

from .conftest import SF_DIR


QUERIES = query_fns()  # one registry build: each call re-fingerprints


def _q(spark, name):
    return QUERIES[name](spark, SF_DIR)


# ---------------------------------------------------------------------------
# TPC-H shape semantics
# ---------------------------------------------------------------------------


def test_min_cost_supplier_is_groupwise_min(spark):
    """Every emitted (part, supplier) pair must carry the exact minimum
    cent-quantized price among EUROPE-region suppliers of that part,
    recomputed brute-force."""
    rows = _q(spark, "q_min_cost_supplier").collect()
    assert rows, "probe returned nothing"
    li = load_table(spark, SF_DIR, "lineitem")
    s = load_table(spark, SF_DIR, "supplier")
    n = load_table(spark, SF_DIR, "nation")
    r = load_table(spark, SF_DIR, "region").filter(F.col("r_name") == "EUROPE")
    eur = s.join(n, s.s_nationkey == n.n_nationkey).join(
        r, n.n_regionkey == r.r_regionkey
    )
    best = {
        row["l_partkey"]: row["m"]
        for row in (
            li.join(eur.select("s_suppkey"), li.l_suppkey == F.col("s_suppkey"))
            .groupBy("l_partkey")
            .agg(
                F.min(
                    F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast(
                        "long"
                    )
                ).alias("m")
            )
            .collect()
        )
    }
    for row in rows:
        assert round(row["supply_cost"] * 100) == best[row["p_partkey"]]
    # rank must be ordered by balance descending
    by_rank = sorted(rows, key=lambda r: r["rank"])
    bals = [r["s_acctbal"] for r in by_rank]
    assert bals == sorted(bals, reverse=True) or all(
        bals[i] >= bals[i + 1] for i in range(len(bals) - 1)
    )


def test_order_priority_check_counts_qualifying_orders(spark):
    """The per-priority counts must sum to the number of distinct
    orders in the window having >= 1 late line (brute-force)."""
    got = {r["o_orderpriority"]: r["order_count"] for r in
           _q(spark, "q_order_priority_check").collect()}
    o = load_table(spark, SF_DIR, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01 00:00:00").cast("timestamp"))
    )
    li = load_table(spark, SF_DIR, "lineitem")
    qual = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .filter(
            F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")
        )
        .select("o_orderkey")
        .distinct()
        .count()
    )
    assert sum(got.values()) == qual
    assert set(got) <= {
        "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW",
    }


def test_market_share_is_a_share(spark):
    rows = _q(spark, "q_market_share").collect()
    assert rows
    for r in rows:
        assert 0.0 <= r["mkt_share"] <= 1.0
        assert r["nation_revenue"] <= r["total_revenue"]
        # the rounded ratio must match the emitted revenue pair
        assert abs(
            r["mkt_share"] - r["nation_revenue"] / r["total_revenue"]
        ) < 1e-3


def test_important_parts_threshold_is_exact(spark):
    """Returned set == {parts with value > 1.5x mean}, both directions,
    recomputed brute-force from the fact table."""
    got = {r["l_partkey"] for r in _q(spark, "q_important_parts").collect()}
    li = load_table(spark, SF_DIR, "lineitem")
    pv = (
        li.select(
            "l_partkey",
            F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
            .cast("long")
            .alias("c"),
        )
        .groupBy("l_partkey")
        .agg(F.sum("c").alias("v"))
        .collect()
    )
    tot = sum(r["v"] for r in pv)
    cnt = len(pv)
    want = {r["l_partkey"] for r in pv if r["v"] * cnt * 2 > 3 * tot}
    assert got == want and got


def test_late_shipments_counts_partition(spark):
    """high + low must equal the total late-line count (the two CASE
    branches partition every joined row)."""
    rows = _q(spark, "q_late_shipments").collect()
    o = load_table(spark, SF_DIR, "orders")
    li = load_table(spark, SF_DIR, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    total = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(
            F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
        )
        .count()
    )
    assert sum(r["high_line_count"] + r["low_line_count"] for r in rows) == total


def test_top_supplier_is_argmax(spark):
    rows = _q(spark, "q_top_supplier").collect()
    assert rows
    li = load_table(spark, SF_DIR, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-07-01 00:00:00").cast("timestamp"))
    )
    per = (
        li.select(
            "l_suppkey",
            F.floor(
                F.expr("l_extendedprice * (1 - l_discount)") * 100 + F.lit(0.5)
            )
            .cast("long")
            .alias("c"),
        )
        .groupBy("l_suppkey")
        .agg(F.sum("c").alias("t"))
        .collect()
    )
    m = max(r["t"] for r in per)
    winners = {r["l_suppkey"] for r in per if r["t"] == m}
    assert {r["s_suppkey"] for r in rows} == winners
    for r in rows:
        assert round(r["total_revenue"] * 100) == m


def test_supplier_part_count_excludes_blacklist(spark):
    """No count may include a blacklisted supplier: recompute one grid
    cell brute-force including the exclusions."""
    rows = _q(spark, "q_supplier_part_count").collect()
    assert rows
    probe = max(rows, key=lambda r: r["supplier_cnt"])
    li = load_table(spark, SF_DIR, "lineitem")
    p = load_table(spark, SF_DIR, "part").filter(
        (F.col("p_brand") == probe["p_brand"])
        & (F.col("p_type") == probe["p_type"])
        & (F.col("p_size") == probe["p_size"])
    )
    bad = load_table(spark, SF_DIR, "supplier").filter(
        F.col("s_name").like("%7")
    ).select("s_suppkey")
    want = (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(bad, li.l_suppkey == bad.s_suppkey, "left_anti")
        .select("l_suppkey")
        .distinct()
        .count()
    )
    assert probe["supplier_cnt"] == want


def test_dominant_suppliers_majority_holds(spark):
    """For the supplier with the most dominated parts, re-verify one
    dominance claim brute-force: its shipped quantity for some
    prefixed part in the window must exceed half the part total."""
    rows = _q(spark, "q_dominant_suppliers").collect()
    assert rows
    top = max(rows, key=lambda r: r["n_dominated"])
    li = load_table(spark, SF_DIR, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    pp = load_table(spark, SF_DIR, "part").filter(
        F.col("p_name").startswith("small")
    ).select("p_partkey")
    q100 = F.floor(F.col("l_quantity") * 100 + F.lit(0.5)).cast("long")
    ps = (
        li.join(pp, li.l_partkey == pp.p_partkey)
        .select("l_partkey", "l_suppkey", q100.alias("q"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("q").alias("sq"))
    )
    pt = ps.groupBy("l_partkey").agg(F.sum("sq").alias("tq"))
    n_dom = (
        ps.join(pt, "l_partkey")
        .filter(
            (F.col("l_suppkey") == top["s_suppkey"])
            & (F.col("sq") * 2 > F.col("tq"))
        )
        .count()
    )
    assert n_dom == top["n_dominated"] > 0


# ---------------------------------------------------------------------------
# Salted join: same answer as the plain join, salted plan shape
# ---------------------------------------------------------------------------


def test_skew_salted_join_equals_plain_join(spark):
    got = {
        r["c_mktsegment"]: (r["total_value"], r["n_orders"])
        for r in _q(spark, "q_join_skew_salted").collect()
    }
    o = load_table(spark, SF_DIR, "orders")
    c = load_table(spark, SF_DIR, "customer")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    plain = {
        r["c_mktsegment"]: (r["t"], r["n"])
        for r in (
            o.join(c, o.o_custkey == c.c_custkey)
            .groupBy("c_mktsegment")
            .agg(
                (F.sum(cents) / F.lit(100.0)).alias("t"),
                F.count("*").cast("long").alias("n"),
            )
            .collect()
        )
    }
    assert got == plain
    # the fact side must actually join on the composite (key, salt):
    # every salt bucket receives rows (replication really happened)
    o2 = load_table(spark, SF_DIR, "orders").select(
        F.pmod(F.col("o_orderkey"), F.lit(SALT_BUCKETS)).alias("salt")
    )
    n_buckets = o2.distinct().count()
    assert n_buckets == SALT_BUCKETS


# ---------------------------------------------------------------------------
# PageRank: fixed-point mass conservation + determinism
# ---------------------------------------------------------------------------


def test_pagerank_mass_conserved_and_bounded(spark):
    rows = _q(spark, "q_graph_pagerank").collect()
    assert len(rows) == 20
    for r in rows:
        assert 0 <= r["rank_q"] <= PR_SCALE
        assert 0.0 <= r["score"] <= 1.0
    # ranks ordered by (rank_q desc, id asc) along the rnk column
    ordered = sorted(rows, key=lambda r: r["rnk"])
    for a, b in zip(ordered, ordered[1:]):
        assert a["rank_q"] > b["rank_q"] or (
            a["rank_q"] == b["rank_q"] and a["id"] < b["id"]
        )


def test_pagerank_total_mass_within_truncation_bound(spark):
    """Fixed-point PageRank only ever TRUNCATES mass (every div rounds
    down), so total mass must stay in (SCALE - bound, SCALE]. The
    bound is loose: one unit per edge per iteration plus one per node
    per iteration plus the init remainder."""
    li = load_table(spark, SF_DIR, "lineitem").select("l_orderkey", "l_suppkey")
    o = load_table(spark, SF_DIR, "orders").select("o_orderkey", "o_custkey")
    pair = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_custkey", "l_suppkey")
        .count()
    )
    n_edges = 2 * pair.count()
    n_nodes = (
        pair.select(F.col("o_custkey").alias("k")).distinct().count()
        + pair.select(F.col("l_suppkey").alias("k")).distinct().count()
    )
    top = _q(spark, "q_graph_pagerank").collect()
    # the top-20 alone can't exceed the total mass, which truncation
    # keeps at <= SCALE; and the max rank must be >= the mean of the
    # full vector, whose total is >= SCALE - the truncation bound
    slack = PR_ITERS * (n_edges + n_nodes) + n_nodes
    assert sum(r["rank_q"] for r in top) <= PR_SCALE
    assert max(r["rank_q"] for r in top) >= (PR_SCALE - slack) // n_nodes


def test_pagerank_bit_identical_across_runs(spark):
    a = [(r["id"], r["rank_q"]) for r in _q(spark, "q_graph_pagerank").collect()]
    b = [(r["id"], r["rank_q"]) for r in _q(spark, "q_graph_pagerank").collect()]
    assert a == b


def test_pagerank_broadcast_gate_falls_back_to_copartitioned_edges(
    spark, monkeypatch
):
    """Under the node gate both per-iteration joins broadcast; above it
    neither does (the edges are co-partitioned once and the rank /
    incoming joins sort-merge) and the ranks are the same integers."""
    from flink_pipeline_spark.plans import corpus_ops

    def run():
        df = _q(spark, "q_graph_pagerank")
        plan = df._jdf.queryExecution().executedPlan().toString()
        return plan, [tuple(r) for r in df.collect()]

    plan, rows = run()
    assert plan.count("BroadcastHashJoin") == 2 * PR_ITERS, plan
    monkeypatch.setattr(corpus_ops, "PR_BROADCAST_MAX_NODES", 0)
    fplan, frows = run()
    assert "BroadcastHashJoin" not in fplan, fplan
    assert fplan.count("SortMergeJoin") == 2 * PR_ITERS, fplan
    # the edges shuffle once (into the cache), never per iteration
    assert "REPARTITION_BY_NUM" in fplan, fplan
    assert not re.search(
        r"hashpartitioning\(src, \d+\), ENSURE_REQUIREMENTS", fplan
    ), fplan
    assert frows == rows


# ---------------------------------------------------------------------------
# Soft dedup: weights are a proper reweighting
# ---------------------------------------------------------------------------


def test_dedup_soft_weights(spark):
    rows = _q(spark, "q_dedup_soft").collect()
    n_docs = load_table(spark, SF_DIR, "documents").count()
    assert len(rows) == n_docs
    clusters = {}
    for r in rows:
        assert 0.0 < r["weight"] <= 1.0
        assert r["n_copies"] >= 1
        if r["n_copies"] == 1:
            assert r["weight"] == 1.0
        clusters.setdefault(r["n_copies"], []).append(r["weight"])
    # every member of an n-cluster carries the same 1/n weight,
    # and the cluster's total mass is ~1 document-equivalent
    for n, ws in clusters.items():
        assert all(w == ws[0] for w in ws)
        assert abs(ws[0] * n - 1.0) <= n * 5e-5  # rounding slack
    # soft dedup must shrink effective size iff duplicates exist
    eff = sum(r["weight"] for r in rows)
    has_dups = any(r["n_copies"] > 1 for r in rows)
    assert (eff < n_docs) == has_dups


# ---------------------------------------------------------------------------
# Zipf: slope sign and rank budget
# ---------------------------------------------------------------------------


def test_zipf_slope_negative(spark):
    row = _q(spark, "q_text_zipf").collect()[0]
    assert row["n_ranks"] >= 2
    assert row["n_ranks"] <= 100
    assert row["zipf_slope"] < 0.0


# ---------------------------------------------------------------------------
# PCA covariance fit: PSD-implied bounds on the emitted triangle
# ---------------------------------------------------------------------------


def test_pca_cov_triangle_bounds(spark):
    rows = _q(spark, "q_embed_pca_cov").collect()
    assert len(rows) == 64 * 65 // 2
    n_sample = (
        load_table(spark, SF_DIR, "embeddings")
        .filter(F.col("vec_id") % 8 == 0)
        .count()
    )
    var = {}
    for r in rows:
        assert r["n"] == n_sample
        if r["d_i"] == r["d_j"]:
            assert r["cov"] >= 0.0  # variance
            var[r["d_i"]] = r["cov"]
    # Cauchy-Schwarz with rounding slack on every off-diagonal cell
    for r in rows:
        if r["d_i"] != r["d_j"]:
            bound = (var[r["d_i"]] * var[r["d_j"]]) ** 0.5
            assert abs(r["cov"]) <= bound + 1e-6


# ---------------------------------------------------------------------------
# Rendezvous sharding: census conservation + the HRW migration law
# ---------------------------------------------------------------------------


def test_rendezvous_hrw_property(spark):
    rows = _q(spark, "q_shard_rendezvous").collect()
    n_docs = load_table(spark, SF_DIR, "documents").count()
    assert sum(r["n_docs"] for r in rows) == n_docs
    moved = 0
    for r in rows:
        assert 0 <= r["shard"] < 16
        # THE rendezvous property: every migrating doc goes to the
        # new shard, none shuffles between existing shards
        assert r["n_moved"] == r["n_moved_to_new"]
        moved += r["n_moved"]
    # expected migration is n/(S+1); allow a generous band but demand
    # it is nonzero and nowhere near the (S-1)/S of modulo sharding
    assert 0 < moved < n_docs * 3 / 17
    assert moved < n_docs / 2


def test_rendezvous_deterministic(spark):
    a = sorted(map(tuple, _q(spark, "q_shard_rendezvous").collect()))
    b = sorted(map(tuple, _q(spark, "q_shard_rendezvous").collect()))
    assert a == b


# ---------------------------------------------------------------------------
# Token entropy: Shannon bounds
# ---------------------------------------------------------------------------


def test_entropy_bounds(spark):
    import math

    rows = _q(spark, "q_text_entropy").collect()
    n_docs = load_table(spark, SF_DIR, "documents").count()
    assert len(rows) == n_docs
    for r in rows:
        assert r["n_distinct"] <= r["n_tokens"]
        # 0 <= H <= ln(n_distinct), with quantization slack
        assert -1e-4 <= r["entropy"] <= math.log(r["n_distinct"]) + 1e-3
        if r["n_distinct"] == 1:
            assert r["entropy"] == 0.0


# ---------------------------------------------------------------------------
# RFM segmentation: quintile balance and code composition
# ---------------------------------------------------------------------------


def test_rfm_quintiles_balanced_and_composed(spark):
    rows = _q(spark, "q_rfm_segments").collect()
    n_cust = (
        load_table(spark, SF_DIR, "orders")
        .select("o_custkey")
        .distinct()
        .count()
    )
    assert len(rows) == n_cust
    from collections import Counter

    for metric in ("r_score", "f_score", "m_score"):
        c = Counter(r[metric] for r in rows)
        assert set(c) == {1, 2, 3, 4, 5}
        # ntile(5) bucket sizes differ by at most 1
        assert max(c.values()) - min(c.values()) <= 1
    for r in rows:
        assert r["segment"] == r["r_score"] * 100 + r["f_score"] * 10 + r["m_score"]
        assert r["recency_days"] >= 0
        assert r["frequency"] >= 1
        assert r["monetary"] > 0


def test_rfm_scores_monotone_in_metric(spark):
    """A customer with strictly larger spend can never hold a lower
    m_score (ntile is monotone in its order key)."""
    rows = _q(spark, "q_rfm_segments").collect()
    by_m = sorted(rows, key=lambda r: (r["monetary"], r["c_custkey"]))
    scores = [r["m_score"] for r in by_m]
    assert scores == sorted(scores)


# ---------------------------------------------------------------------------
# Farthest-point seeding: traversal semantics
# ---------------------------------------------------------------------------


def test_seed_farthest_semantics(spark):
    rows = sorted(
        _q(spark, "q_sim_seed_farthest").collect(),
        key=lambda r: r["seed_idx"],
    )
    assert [r["seed_idx"] for r in rows] == [1, 2, 3, 4]
    # seed 1 is the lowest vec_id, radius 0 by convention
    min_vid = (
        load_table(spark, SF_DIR, "embeddings")
        .agg(F.min("vec_id").alias("m"))
        .collect()[0]["m"]
    )
    assert rows[0]["vec_id"] == min_vid and rows[0]["dist_q"] == 0
    # seeds are distinct vectors
    assert len({r["vec_id"] for r in rows}) == 4
    # the coverage radius is non-increasing: each pick was the global
    # max of a pointwise-min sequence that only ever shrinks
    assert rows[1]["dist_q"] >= rows[2]["dist_q"] >= rows[3]["dist_q"] > 0


def test_seed_farthest_second_pick_is_true_argmax(spark):
    """Brute-force the second seed: it must be the vector with the
    exact maximum quantized squared L2 from seed 1 (ties by vec_id)."""
    rows = {r["seed_idx"]: r for r in _q(spark, "q_sim_seed_farthest").collect()}
    emb = load_table(spark, SF_DIR, "embeddings")
    eq = emb.select(
        "vec_id",
        F.transform(
            "embedding", lambda x: F.floor(x * 10000 + F.lit(0.5)).cast("long")
        ).alias("q"),
    )
    s1 = eq.filter(F.col("vec_id") == rows[1]["vec_id"]).select(
        F.col("q").alias("sq")
    )
    d = eq.crossJoin(F.broadcast(s1)).select(
        "vec_id",
        F.aggregate(
            F.zip_with(F.col("q"), F.col("sq"), lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        ).alias("dist"),
    )
    best = d.orderBy(F.col("dist").desc(), "vec_id").limit(1).collect()[0]
    assert (best["vec_id"], best["dist"]) == (
        rows[2]["vec_id"],
        rows[2]["dist_q"],
    )


# ---------------------------------------------------------------------------
# MAD outlier screen, Markov transitions, packing audit
# ---------------------------------------------------------------------------


def test_mad_flags_match_bruteforce(spark):
    """Recompute median/MAD/flag count in Python for every event type
    (same linear-interpolated quantile both engines use)."""
    import statistics

    rows = {r["event_type"]: r for r in _q(spark, "q_anomaly_mad").collect()}
    vals = {}
    for r in (
        load_table(spark, SF_DIR, "events")
        .select("event_type", "value")
        .collect()
    ):
        vals.setdefault(r["event_type"], []).append(r["value"])
    for et, xs in vals.items():
        med = statistics.quantiles(sorted(xs), n=2, method="inclusive")[0]
        mad = statistics.quantiles(
            sorted(abs(x - med) for x in xs), n=2, method="inclusive"
        )[0]
        n_out = sum(1 for x in xs if abs(x - med) > 5.1891 * mad)
        got = rows[et]
        assert got["n"] == len(xs)
        assert got["n_outliers"] == n_out
        assert abs(got["med"] - med) < 1e-3
        assert abs(got["mad"] - mad) < 1e-3
        assert got["n_outliers"] <= got["n"]


def test_markov_rows_normalize(spark):
    rows = _q(spark, "q_events_markov").collect()
    by_src = {}
    for r in rows:
        by_src.setdefault(r["src"], []).append(r)
    for src, rs in by_src.items():
        total = sum(r["n"] for r in rs)
        p_sum = sum(r["p"] for r in rs)
        # each p is an exactly-rounded rational; row sums to 1 within
        # the per-cell rounding slack
        assert abs(p_sum - 1.0) <= len(rs) * 5e-5
        for r in rs:
            assert abs(r["p"] - r["n"] / total) <= 1e-4
    # transition count conservation: every user contributes
    # (events - 1) transitions
    e = load_table(spark, SF_DIR, "events")
    per_user = e.groupBy("user_id").count().collect()
    want = sum(r["count"] - 1 for r in per_user if r["count"] > 0)
    assert sum(r["n"] for r in rows) == want


def test_pack_efficiency_consistent_with_chunks(spark):
    from flink_pipeline_spark.plans.training import PACK_BUDGET

    eff = {
        (r["lang"], r["source"]): r
        for r in _q(spark, "q_pack_efficiency").collect()
    }
    chunks = _q(spark, "q_pack_sequences").collect()
    agg = {}
    for c in chunks:
        k = (c["lang"], c["source"])
        a = agg.setdefault(k, [0, 0, 0])
        a[0] += 1
        a[1] += c["n_docs"]
        a[2] += c["chunk_tokens"]
    assert set(eff) == set(agg)
    for k, (nc, nd, tt) in agg.items():
        r = eff[k]
        assert (r["n_chunks"], r["n_docs"], r["total_tokens"]) == (nc, nd, tt)
        assert r["slack_tokens"] == nc * PACK_BUDGET - tt
        assert abs(r["utilization"] - tt / (nc * PACK_BUDGET)) <= 1e-4


# ---------------------------------------------------------------------------
# DAU/WAU stickiness and funnel latency
# ---------------------------------------------------------------------------


def test_active_users_wau_dominates_dau(spark):
    rows = _q(spark, "q_active_users").collect()
    assert rows
    days = sorted(r["day"] for r in rows)
    # every active day appears exactly once, stickiness in (0, 1]
    assert len(days) == len(set(days))
    for r in rows:
        assert r["wau"] >= r["dau"] > 0
        assert 0.0 < r["stickiness"] <= 1.0
    # brute-force one day: WAU == distinct users over [day-6, day]
    probe = rows[len(rows) // 2]
    e = load_table(spark, SF_DIR, "events").select(
        "user_id",
        F.expr("CAST(floor(unix_timestamp(ts)) AS BIGINT) div 86400").alias(
            "day"
        ),
    )
    want = (
        e.filter(
            (F.col("day") >= probe["day"] - 6) & (F.col("day") <= probe["day"])
        )
        .select("user_id")
        .distinct()
        .count()
    )
    assert probe["wau"] == want


def test_funnel_latency_bounds(spark):
    r = _q(spark, "q_funnel_latency").collect()[0]
    assert r["n_converted"] > 0
    assert 0 <= r["min_s"] <= r["p50_s"] <= r["p90_s"] <= r["max_s"]
    # converted users can never exceed users with any purchase
    buyers = (
        load_table(spark, SF_DIR, "events")
        .filter(F.col("event_type") == "purchase")
        .select("user_id")
        .distinct()
        .count()
    )
    assert r["n_converted"] <= buyers


# ---------------------------------------------------------------------------
# Degree census, p-chart, cohort LTV
# ---------------------------------------------------------------------------


def test_degree_census_conserves_edges(spark):
    rows = _q(spark, "q_graph_degree_stats").collect()
    li = load_table(spark, SF_DIR, "lineitem").select("l_orderkey", "l_suppkey")
    o = load_table(spark, SF_DIR, "orders").select("o_orderkey", "o_custkey")
    n_pairs = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select("o_custkey", "l_suppkey")
        .distinct()
        .count()
    )
    for side in ("customer", "supplier"):
        # sum(deg * n_nodes) over a side == total distinct pairs
        tot = sum(r["deg"] * r["n_nodes"] for r in rows if r["side"] == side)
        assert tot == n_pairs


def test_error_rate_control_limits(spark):
    rows = _q(spark, "q_error_rate_control").collect()
    assert rows
    se = sum(r["errs"] for r in rows)
    sn = sum(r["n"] for r in rows)
    p_bar = se / sn
    for r in rows:
        assert 0 <= r["errs"] <= r["n"]
        want = abs(r["errs"] / r["n"] - p_bar) > 3 * (
            p_bar * (1 - p_bar) / r["n"]
        ) ** 0.5
        assert r["out_of_control"] == want


def test_cohort_ltv_cumulative_monotone(spark):
    rows = _q(spark, "q_cohort_ltv").collect()
    by_cohort = {}
    for r in rows:
        by_cohort.setdefault(r["cohort_month"], []).append(r)
    for cohort, rs in by_cohort.items():
        rs.sort(key=lambda r: r["age_months"])
        # age 0 always exists (the first order defines the cohort)
        assert rs[0]["age_months"] == 0
        run = 0.0
        prev = -1.0
        for r in rs:
            run += r["revenue"]
            assert abs(r["cum_revenue"] - run) < 1e-6
            assert r["cum_revenue"] >= prev
            prev = r["cum_revenue"]
    # revenue conservation against the fact table (exact cents)
    o = load_table(spark, SF_DIR, "orders")
    cents = (
        o.select(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
            .cast("long")
            .alias("c")
        )
        .agg(F.sum("c").alias("t"))
        .collect()[0]["t"]
    )
    assert abs(sum(r["revenue"] for r in rows) - cents / 100.0) < 1e-4
