"""Evidence-ledger tests: the driver-window ordering must put the
weakest correctness evidence first (never-checked, then rewritten-
since-verification, then stalest round)."""

from __future__ import annotations

import json

from flink_pipeline_spark.plans import evidence, registry


def test_ledger_matches_registry():
    registry._load_all()
    ledger = evidence.load_ledger()
    # every registered query with a driver row from a SYNCED round has a
    # ledger entry; rows from a round the start-of-round sync hasn't seen
    # yet are tolerated (the suite must stay green between a new
    # CORRECTNESS file landing and `python -m ...plans.evidence` running)
    synced = set(ledger["synced_rounds"])
    latest = evidence.correctness_rows()
    for name in registry.QUERIES:
        if name in latest and latest[name] in synced:
            assert name in ledger["queries"], f"{name} checked but not in ledger"


def test_order_classes():
    registry._load_all()
    order = evidence.verification_order(registry.QUERIES, registry.ORACLES)
    assert set(order) == set(registry.QUERIES)
    latest = evidence.correctness_rows()
    ledger = evidence.load_ledger()["queries"]

    def klass(name):
        if name not in latest:
            return 0
        rec = ledger.get(name)
        # mirror verification_order: compare under the fingerprint
        # version the entry was RECORDED with (pre-v2 rows are
        # grandfathered under v1 so an algorithm change doesn't flood
        # every query to 'stale')
        if rec is None or rec["fp"] != evidence.fingerprint(
            registry.QUERIES[name],
            registry.ORACLES.get(name),
            version=rec.get("v", 1),
        ):
            return 1
        return 2

    ks = [klass(n) for n in order]
    assert ks == sorted(ks), "order must be non-decreasing evidence class"
    # within class 2, stalest round first
    rounds = [latest[n] for n, k in zip(order, ks) if k == 2]
    assert rounds == sorted(rounds)


def test_fingerprint_tracks_source_change():
    def fn_a(spark, sf_dir):
        return 1

    def fn_b(spark, sf_dir):
        return 2

    assert evidence.fingerprint(fn_a, "SELECT 1") != evidence.fingerprint(
        fn_b, "SELECT 1"
    )
    assert evidence.fingerprint(fn_a, "SELECT 1") != evidence.fingerprint(
        fn_a, "SELECT 2"
    )
    assert evidence.fingerprint(fn_a, "SELECT 1") == evidence.fingerprint(
        fn_a, "SELECT 1"
    )


def test_fingerprint_v2_includes_operator_deps():
    """v2 closes the r6 blind spot: an operator rewrite (e.g.
    connected_components) must change the fingerprint of queries that
    call it, even when the registered source and oracle are
    untouched."""
    registry._load_all()
    fn = registry.QUERIES["q_dedup_clusters"]
    deps = evidence._dep_sources(fn)
    assert any("def connected_components" in s for s in deps), [
        s.splitlines()[0] for s in deps
    ]
    assert evidence.fingerprint(fn, None, version=1) != evidence.fingerprint(
        fn, None, version=2
    )


def test_registry_exposes_evidence_order():
    fns = registry.query_fns()
    sqls = registry.oracle_sqls()
    order = evidence.verification_order(registry.QUERIES, registry.ORACLES)
    assert list(fns) == order
    # oracles keep the same relative order (subset: rows-only queries absent)
    pos = {n: i for i, n in enumerate(order)}
    idx = [pos[n] for n in sqls]
    assert idx == sorted(idx)


def test_sync_is_idempotent(tmp_path, monkeypatch):
    monkeypatch.setattr(evidence, "LEDGER_PATH", tmp_path / "ledger.json")
    registry._load_all()
    first = evidence.sync(registry.QUERIES, registry.ORACLES)
    assert first  # seeds every checked query
    again = evidence.sync(registry.QUERIES, registry.ORACLES)
    assert again == []  # already-synced rounds are not re-recorded
    d = json.loads((tmp_path / "ledger.json").read_text())
    assert set(d["synced_rounds"]) == set(evidence.correctness_rows().values())


def test_row_passed_requires_affirmative_flag():
    """A malformed driver row (no error, but no match flag at all) must
    NOT count as passing evidence — it would push a never-actually-
    verified query to the back of the weakest-first window (ADVICE r6)."""
    assert not evidence._row_passed({})
    assert not evidence._row_passed({"err": None})
    assert not evidence._row_passed("not a dict")
    assert not evidence._row_passed(
        {"rows_match": None, "schema_match": None, "hash_match": None, "err": None}
    )
    # errored rows never bless, even with True flags recorded
    assert not evidence._row_passed(
        {"rows_match": True, "hash_match": True, "err": "boom"}
    )
    # a failing flag vetoes
    assert not evidence._row_passed(
        {"rows_match": True, "schema_match": True, "hash_match": False, "err": None}
    )
    # full pass and rows-only pass both bless
    assert evidence._row_passed(
        {"rows_match": True, "schema_match": True, "hash_match": True, "err": None}
    )
    assert evidence._row_passed(
        {"rows_match": True, "schema_match": None, "hash_match": None, "err": None}
    )


def test_registry_fingerprints_once_per_process(monkeypatch):
    """query_fns()/oracle_sqls() order by evidence on every call, but
    the order is computed once per process: fingerprinting every query
    takes ~1 s, so a second call must add no fingerprint."""
    calls = []
    real = evidence.fingerprint

    def counting(*a, **kw):
        calls.append(a)
        return real(*a, **kw)

    monkeypatch.setattr(evidence, "fingerprint", counting)
    registry._evidence_rank.cache_clear()
    first = registry.query_fns()
    n_first = len(calls)
    assert n_first > 0
    assert registry.query_fns() == first
    registry.oracle_sqls()
    assert len(calls) == n_first
