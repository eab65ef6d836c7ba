"""The code identity of every persisted index store (heavy.store_key
over heavy.package_digest), checked without a Spark session: an edit
to ANY code a store builder reaches — directly, through another
module, or through an attribute — must rotate the key, and moving a
cache root must not."""

from __future__ import annotations

import ast
import os
import shutil

import pytest

from flink_pipeline_spark.streaming import heavy
from flink_pipeline_spark.streaming.heavy import PACKAGE_ROOT, package_digest

from .conftest import SF_DIR


@pytest.fixture(scope="module")
def pkg_copy(tmp_path_factory):
    dst = tmp_path_factory.mktemp("pkg") / "flink_pipeline_spark"
    shutil.copytree(
        PACKAGE_ROOT, dst, ignore=shutil.ignore_patterns("__pycache__")
    )
    return str(dst)


def _digest(root: str) -> str:
    return package_digest.__wrapped__(root)  # bypass the per-process cache


def test_unedited_copy_digests_like_the_package(pkg_copy):
    assert _digest(pkg_copy) == package_digest()


# code no constant list of the old keys named: builder helpers reached
# by module attribute (hash56 through ann_delete's delete slice), the
# drop rule behind the unindex stores, the drift gate and refresh fold
# behind the refreshed stores, and a compressed-store builder
EDITS = [
    ("plans/ann_delete.py", "hash_slice_deletes"),
    ("plans/unindex.py", "dedup_drop_batch"),
    ("functions/portable.py", "hash56"),
    ("plans/refresh_serve.py", "_assert_gate_fired"),
    ("plans/refresh_serve.py", "REFRESH_FOLD_MOD"),
    ("plans/index_refresh.py", "drift_gate_frame"),
    ("plans/pq_serve.py", "pq_delete_store_for"),
]


@pytest.mark.parametrize("rel,name", EDITS, ids=[n for _, n in EDITS])
def test_editing_builder_code_rotates_the_digest(pkg_copy, rel, name):
    path = os.path.join(pkg_copy, rel)
    with open(path) as f:
        text = f.read()
    node = next(
        n
        for n in ast.walk(ast.parse(text))
        if getattr(n, "name", None) == name
        or any(getattr(t, "id", None) == name for t in getattr(n, "targets", ()))
    )
    lines = text.splitlines(keepends=True)
    last = node.end_lineno - 1
    lines[last] = lines[last].rstrip("\n") + "  # edited\n"
    try:
        with open(path, "w") as f:
            f.write("".join(lines))
        assert _digest(pkg_copy) != package_digest()
    finally:
        with open(path, "w") as f:
            f.write(text)
    assert _digest(pkg_copy) == package_digest()


def _store_paths(monkeypatch, root: str) -> dict[str, str]:
    """Every persisted store's path relative to its cache root, with
    the roots under ``root``; build_once is replaced by a recorder, so
    nothing is built and no session is needed."""
    from flink_pipeline_spark.plans import (
        ann_delete,
        llm_ops,
        maxsim,
        pq_serve,
        refresh_serve,
        unindex,
    )

    roots = {
        (llm_ops, "HNSW_INDEX_CACHE"): os.path.join(root, "hnsw"),
        (pq_serve, "PQ_INDEX_CACHE"): os.path.join(root, "pq"),
        (maxsim, "MAXSIM_INDEX_CACHE"): os.path.join(root, "maxsim"),
    }
    for (mod, const), path in roots.items():
        monkeypatch.setattr(mod, const, path)

    def record(store, build, monitor):
        return os.path.relpath(store, root)

    for mod in (heavy, ann_delete, pq_serve, refresh_serve, unindex):
        if hasattr(mod, "build_once"):
            monkeypatch.setattr(mod, "build_once", record)
    return {
        "hnsw": llm_ops.hnsw_store_for(None, SF_DIR),
        "hnsw-del": ann_delete.hnsw_delete_store_for(None, SF_DIR),
        "hnsw-unx": unindex.hnsw_unindex_store_for(None, SF_DIR),
        "hnsw-refresh": refresh_serve.ann_refresh_store_for(None, SF_DIR),
        "pq": pq_serve.pq_store_for(None, SF_DIR),
        "pq-del-8-3": pq_serve.pq_delete_store_for(None, SF_DIR, 8, 3),
        "pq-del-2-1": pq_serve.pq_delete_store_for(None, SF_DIR, 2, 1),
        "pq-rw-8-3": pq_serve.pq_rewrite_store_for(None, SF_DIR, 8, 3),
        "pq-unx": unindex.pq_unindex_store_for(None, SF_DIR),
        "pq-refresh": refresh_serve.pq_refresh_store_for(None, SF_DIR),
        "maxsim": maxsim.maxsim_store_for(None, SF_DIR),
    }


def test_redirecting_a_cache_root_keeps_every_key(monkeypatch, tmp_path):
    first = _store_paths(monkeypatch, str(tmp_path / "a"))
    second = _store_paths(monkeypatch, str(tmp_path / "elsewhere" / "b"))
    assert first == second
    # one distinct entry per store: no two stores share a path
    assert len(set(first.values())) == len(first)
