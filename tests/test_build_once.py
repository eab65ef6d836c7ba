"""The build-once-and-publish rule every persisted index store shares
(streaming/heavy.build_once), checked without Spark: a fake build
writes a marker file into the private dir it is handed."""

from __future__ import annotations

import os

import pytest

from flink_pipeline_spark.streaming import heavy
from flink_pipeline_spark.streaming.heavy import build_once


class _Build:
    def __init__(self, fail: bool = False) -> None:
        self.calls: list[str] = []
        self.fail = fail

    def __call__(self, tmp: str) -> None:
        self.calls.append(tmp)
        os.makedirs(tmp)
        with open(os.path.join(tmp, "artifact"), "w") as f:
            f.write(f"build {len(self.calls)}")
        if self.fail:
            raise RuntimeError("build crashed")


@pytest.fixture
def publishes(monkeypatch):
    calls = []
    real = heavy.publish_store

    def counting(tmp, store):
        calls.append((tmp, store))
        real(tmp, store)

    monkeypatch.setattr(heavy, "publish_store", counting)
    return calls


def _read(store):
    with open(os.path.join(store, "artifact")) as f:
        return f.read()


def test_two_calls_build_and_publish_once(tmp_path, publishes):
    store = str(tmp_path / "root" / "key")
    build = _Build()
    first = build_once(store, build, lambda d: ("mon", d))
    second = build_once(store, build, lambda d: ("mon", d))
    assert first == second == ("mon", store)
    assert build.calls == [f"{store}.build.{os.getpid()}"]
    assert len(publishes) == 1
    assert _read(store) == "build 1"
    assert os.listdir(tmp_path / "root") == ["key"]


def test_published_store_is_served_without_building(tmp_path, publishes):
    store = tmp_path / "key"
    store.mkdir()
    (store / "artifact").write_text("published")
    build = _Build()
    assert build_once(str(store), build, str) == str(store)
    assert build.calls == [] and publishes == []
    assert _read(str(store)) == "published"


def test_crashed_build_leftover_is_never_served(tmp_path, publishes):
    store = str(tmp_path / "key")
    for pid in (os.getpid(), os.getpid() + 1):
        left = f"{store}.build.{pid}"
        os.makedirs(left)
        with open(os.path.join(left, "artifact"), "w") as f:
            f.write("half-written")
    build = _Build()
    assert build_once(store, build, str) == store
    assert len(build.calls) == 1 and len(publishes) == 1
    assert _read(store) == "build 1"
    assert os.listdir(store) == ["artifact"]
    assert not os.path.exists(f"{store}.build.{os.getpid()}")


def test_failed_build_publishes_nothing_and_is_retried(tmp_path, publishes):
    root = tmp_path / "root"
    root.mkdir()
    store = str(root / "key")
    failing = _Build(fail=True)
    with pytest.raises(RuntimeError, match="build crashed"):
        build_once(store, failing, str)
    assert publishes == [] and os.listdir(root) == []
    build = _Build()
    assert build_once(store, build, str) == store
    assert len(build.calls) == 1 and len(publishes) == 1
    assert _read(store) == "build 1"
