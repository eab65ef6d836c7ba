"""Per-layer ledger for the traced benchmark run.

The ledger observes the engine from outside:

* **Spans.** ``Ledger.span`` records name, start, end and parent of a
  region the benchmark times: each pass, each operation, its build and
  action phases, and every call into a wrapped engine function
  (``WRAPPED``: public layer functions and the pipeline's two stages).
  A layer's self time is its span minus the union of its children's
  spans.
* **Spark work by job-id range.** Each phase notes the DAG scheduler's
  next job id and next stage id at its start and end.  Every job and
  stage created in between belongs to the phase, whichever driver thread
  submitted it, so jobs launched from ``caching.parallel_frames`` pool
  threads are counted (job groups are per thread and would miss them).
  Only stages that were actually submitted count; a skipped stage
  re-listed by a later job ran earlier and is counted there.
* **Per-layer job counts** come from job tags: while a wrapped call runs,
  its thread carries the tag ``perfbench.<layer>``, and the tag follows
  thunks into ``parallel_frames`` pool threads.
* Stage metrics (executor run time, shuffle bytes) and job times are
  read from Spark's REST API after each pass, so the reads cost nothing
  inside a timed operation.

Operator timings cover only the eager work done during the call (plans
are lazy; the rest of an operator's cost lands in the action phase).
"""

from __future__ import annotations

import datetime as dt
import functools
import json
import sys
import threading
import time
import urllib.request
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

TAG_PREFIX = "perfbench."

# (module, attribute path, layer) of every engine function the traced run wraps.
WRAPPED = [
    ("flink_pipeline_spark.catalog", "load_table", "catalog.load_table"),
    ("flink_pipeline_spark.caching", "materialize", "caching.materialize"),
    ("flink_pipeline_spark.caching", "parallel_frames", "caching.parallel_frames"),
    ("flink_pipeline_spark.caching", "eager_checkpoint", "caching.eager_checkpoint"),
    ("flink_pipeline_spark.operators.llm", "nsw_beam", "operators.nsw_beam"),
    ("flink_pipeline_spark.operators.llm", "cosine_pairs", "operators.cosine_pairs"),
    ("flink_pipeline_spark.operators.llm", "cosine_pairs_ivf", "operators.cosine_pairs"),
    ("flink_pipeline_spark.operators.llm", "minhash_wide", "operators.minhash_signatures"),
    ("flink_pipeline_spark.operators.llm", "minhash_signatures", "operators.minhash_signatures"),
    ("flink_pipeline_spark.operators.llm", "connected_components", "operators.connected_components"),
    ("flink_pipeline_spark.streaming.heavy", "publish_store", "streaming.publish_store"),
    ("flink_pipeline_spark.pipeline", "Pipeline._convert", "pipeline.convert"),
    ("flink_pipeline_spark.pipeline", "Pipeline._align", "pipeline.align"),
]


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0


@dataclass
class Phase:
    """A build or action phase: its span and the job/stage id ranges."""

    kind: str
    span: Span
    jobs: tuple[int, int] = (0, 0)
    stages: tuple[int, int] = (0, 0)


@dataclass
class PassRecord:
    span: Span
    phases: list[Phase] = field(default_factory=list)
    jobs: tuple[int, int] = (0, 0)
    local_checkpoints: int = 0


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _rest_time(s: str | None) -> float | None:
    """Spark REST timestamps look like 2024-01-01T00:00:00.123GMT."""
    if not s:
        return None
    t = dt.datetime.strptime(s.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return t.replace(tzinfo=dt.timezone.utc).timestamp()


class Ledger:
    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._local = threading.local()
        self.spans: list[Span] = []
        self.passes: list[PassRecord] = []
        self._patched: list[tuple[object, str, object]] = []
        self.local_checkpoint_calls = 0

    def bind(self, spark) -> None:
        """Follow ``spark``'s context (the benchmark restarts it between
        set-ups)."""
        self.sc = spark.sparkContext
        self._dag = self.sc._jsc.sc().dagScheduler()
        self._bus = self.sc._jsc.sc().listenerBus()
        self._ui = self.sc.uiWebUrl
        if not self._ui:
            raise RuntimeError("the traced run needs spark.ui.enabled=true")
        self._app = self.sc.applicationId

    def calls(self, layer: str) -> int:
        return sum(1 for sp in self.spans if sp.name == layer)

    # -- spans -------------------------------------------------------------
    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _tags(self) -> list[str]:
        if not hasattr(self._local, "tags"):
            self._local.tags = []
        return self._local.tags

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        with self._lock:
            sp = Span(len(self.spans), name, stack[-1].sid if stack else None, time.time())
            self.spans.append(sp)
        stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            stack.pop()

    def ids(self) -> tuple[int, int]:
        # py4j hands the AtomicInteger counters over as plain ints
        return self._dag.nextJobId(), self._dag.nextStageId()

    @contextmanager
    def pass_(self):
        j0, lc0 = self.ids()[0], self.local_checkpoint_calls
        with self.span("pass") as sp:
            rec = PassRecord(sp)
            self.passes.append(rec)
            yield rec
        rec.jobs = (j0, self.ids()[0])
        rec.local_checkpoints = self.local_checkpoint_calls - lc0

    @contextmanager
    def phase(self, kind: str):
        j0, s0 = self.ids()
        with self.span(kind) as sp:
            ph = Phase(kind, sp)
            self.passes[-1].phases.append(ph)
            yield ph
        j1, s1 = self.ids()
        ph.jobs, ph.stages = (j0, j1), (s0, s1)

    # -- wrapping engine functions -------------------------------------------
    def _wrap(self, fn, layer: str):
        ledger = self
        tag = TAG_PREFIX + layer

        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            tags = ledger._tags()
            if tag not in tags:
                ledger.sc.addJobTag(tag)
            tags.append(tag)
            try:
                with ledger.span(layer):
                    if layer == "caching.parallel_frames":
                        args = tuple(ledger._carry(t) for t in args)
                    return fn(*args, **kwargs)
            finally:
                tags.pop()
                if tag not in tags:
                    ledger.sc.removeJobTag(tag)

        return wrapped

    def _carry(self, thunk):
        """Run ``thunk`` under the caller's span and job tags, also when
        it runs on a pool thread."""
        caller = threading.get_ident()
        parent = self._stack()[-1]
        tags = sorted(set(self._tags()))

        def run():
            if threading.get_ident() == caller:
                return thunk()
            stack, own = self._stack(), self._tags()
            stack.append(parent)
            for t in tags:
                self.sc.addJobTag(t)
            own.extend(tags)
            try:
                return thunk()
            finally:
                for t in tags:
                    self.sc.removeJobTag(t)
                    own.remove(t)
                stack.pop()

        return run

    def instrument(self) -> None:
        """Wrap every function in ``WRAPPED``, replacing each module global
        that names it, so ``from x import f`` copies are wrapped too."""
        import importlib

        for module, path, layer in WRAPPED:
            owner = importlib.import_module(module)
            *outer, attr = path.split(".")
            for part in outer:
                owner = getattr(owner, part)
            original = getattr(owner, attr)
            wrapped = self._wrap(original, layer)
            for mod in list(sys.modules.values()):
                if not getattr(mod, "__name__", "").startswith("flink_pipeline_spark"):
                    continue
                for name, val in list(vars(mod).items()):
                    if val is original:
                        self._patched.append((mod, name, val))
                        setattr(mod, name, wrapped)
            if getattr(owner, attr) is original:
                self._patched.append((owner, attr, original))
                setattr(owner, attr, wrapped)

        try:  # PySpark 4 splits the classic DataFrame from the abstract one
            from pyspark.sql.classic.dataframe import DataFrame
        except ImportError:
            from pyspark.sql import DataFrame

        original_lc = DataFrame.localCheckpoint
        ledger = self

        @functools.wraps(original_lc)
        def local_checkpoint(df, *a, **k):
            with ledger._lock:
                ledger.local_checkpoint_calls += 1
            return original_lc(df, *a, **k)

        self._patched.append((DataFrame, "localCheckpoint", original_lc))
        DataFrame.localCheckpoint = local_checkpoint

    def uninstrument(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()

    # -- Spark status ------------------------------------------------------
    def _get(self, path: str):
        url = f"{self._ui}/api/v1/applications/{self._app}/{path}"
        with urllib.request.urlopen(url, timeout=60) as r:
            return json.load(r)

    def spark_status(self) -> tuple[dict[int, dict], dict[int, dict]]:
        """(jobs by id, last stage attempt by id) from the status store,
        once every queued listener event has been applied."""
        self._bus.waitUntilEmpty()
        jobs = {j["jobId"]: j for j in self._get("jobs")}
        stages: dict[int, dict] = {}
        for s in self._get("stages"):
            if s["stageId"] not in stages or s["attemptId"] > stages[s["stageId"]]["attemptId"]:
                stages[s["stageId"]] = s
        return jobs, stages

    # -- per-pass layer metrics ----------------------------------------------
    def self_times(self, spans: list[Span]) -> dict[str, float]:
        """Self time per span name: its duration minus the union of its
        children's intervals (children on pool threads included)."""
        children: dict[int, list[Span]] = defaultdict(list)
        for sp in spans:
            if sp.parent is not None:
                children[sp.parent].append(sp)
        out: dict[str, float] = defaultdict(float)
        for sp in spans:
            kids = [(max(c.start, sp.start), min(c.end, sp.end)) for c in children[sp.sid]]
            out[sp.name] += (sp.end - sp.start) - _union([k for k in kids if k[1] > k[0]])
        return out

    def pass_metrics(self, rec: PassRecord, jobs: dict, stages: dict) -> dict[str, float]:
        """Layer metrics of one pass."""
        m: dict[str, float] = defaultdict(float)
        for ph in rec.phases:
            build = ph.kind == "build"
            pre = "plans.build_" if build else "exec."
            dur = ph.span.end - ph.span.start
            m["plans.build_s" if build else "exec.action_s"] += dur
            ph_jobs = [jobs[j] for j in range(*ph.jobs) if j in jobs]
            ph_stages = [
                stages[s]
                for s in range(*ph.stages)
                if s in stages and stages[s].get("submissionTime")
            ]
            m[pre + "jobs"] += len(ph_jobs)
            m[pre + "stages"] += len(ph_stages)
            m[pre + "tasks"] += sum(
                s["numCompleteTasks"] + s["numFailedTasks"] for s in ph_stages
            )
            if build:
                busy = []
                for j in ph_jobs:
                    s0 = _rest_time(j.get("submissionTime"))
                    s1 = _rest_time(j.get("completionTime"))
                    if s0 is not None and s1 is not None:
                        busy.append((max(s0, ph.span.start), min(s1, ph.span.end)))
                m["plans.build_idle_s"] += dur - _union([b for b in busy if b[1] > b[0]])
            else:
                m["exec.task_s"] += sum(s["executorRunTime"] for s in ph_stages) / 1000.0
                m["exec.failed_tasks"] += sum(s["numFailedTasks"] for s in ph_stages)
                m["exec.shuffle_read_bytes"] += sum(s["shuffleReadBytes"] for s in ph_stages)
                m["exec.shuffle_write_bytes"] += sum(s["shuffleWriteBytes"] for s in ph_stages)
        in_pass = [sp for sp in self.spans if sp.start >= rec.span.start and sp.end <= rec.span.end]
        selfs = self.self_times(in_pass)
        calls: dict[str, int] = defaultdict(int)
        for sp in in_pass:
            calls[sp.name] += 1
        for layer in {w[2] for w in WRAPPED}:
            m[f"{layer}_calls"] = calls.get(layer, 0)
            m[f"{layer}_s"] = selfs.get(layer, 0.0)
            tag = TAG_PREFIX + layer
            m[f"{layer}_jobs"] = sum(
                1 for j in range(*rec.jobs) if j in jobs and tag in jobs[j].get("jobTags", [])
            )
        m["caching.local_checkpoint_calls"] = rec.local_checkpoints
        m["trace.pass_jobs"] = sum(1 for j in range(*rec.jobs) if j in jobs)
        return dict(m)
