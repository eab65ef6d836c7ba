"""Streaming query lifecycle (SURVEY.md ST1/ST3/ST6/ST7/ST9).

The reference hand-rolls a service lifecycle around YARN: start a
session, poll state, retry failed runs <=3 times, kill everything on
failure (workflow.py:195-239, 422-475; experiment.py:305-357).
Structured Streaming subsumes each piece:

  reference                      -> here
  2 s polling loop (ST1)         -> trigger(processingTime=...)
  session start/teardown (ST3)   -> query.start()/stop(), one SparkSession
  log-scrape progress (ST6)      -> StreamingQueryListener.onQueryProgress
  manual retry <=3 (ST7)         -> run_with_restarts + checkpointLocation
                                    (state recovery replaces re-running)
  kill-all on failure (ST9)      -> stop_all_queries(spark)

Every store monitor and ingest under streaming/ deploys the same way:
``start_sink`` wires a stream into it through foreachBatch, and the
sink's own replay idempotence (streaming/heavy.py's write rules) makes
the checkpointed restart exactly-once.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQueryListener


@dataclass
class ProgressMetrics:
    """Facts the reference scraped from logs (experiment.py:42-61),
    observed natively."""

    batches: int = 0
    rows: int = 0
    last_batch_rows: int = 0
    events: list = field(default_factory=list)


class MetricsListener(StreamingQueryListener):
    """ST6: periodic progress side-output, the declarative replacement
    for 'log counts every 8 s' (workflow.py:456-460)."""

    def __init__(self) -> None:
        self.metrics = ProgressMetrics()

    def onQueryStarted(self, event) -> None:
        self.metrics.events.append(("started", event.id))

    def onQueryProgress(self, event) -> None:
        p = event.progress
        self.metrics.batches += 1
        n = int(p.numInputRows or 0)
        self.metrics.rows += n
        self.metrics.last_batch_rows = n

    def onQueryTerminated(self, event) -> None:
        self.metrics.events.append(("terminated", event.id))

    def onQueryIdle(self, event) -> None:  # Spark 3.4+
        self.metrics.events.append(("idle", event.id))


def start_sink(stream: DataFrame, sink, **opts):
    """Start ``stream`` into the foreachBatch ``sink`` (any
    ``sink(batch, batch_id)`` callable), passing ``opts`` to
    writeStream (e.g. ``checkpointLocation``) — the one deployment
    form of every streaming monitor and ingest."""
    return (
        stream.writeStream.foreachBatch(sink)
        .outputMode("update")
        .options(**opts)
        .start()
    )


def stop_all_queries(spark: SparkSession) -> int:
    """ST9: cancel-all — 'kill every YARN app when any job fails'
    (workflow.py:422-433, 464-471)."""
    n = 0
    for q in spark.streams.active:
        q.stop()
        n += 1
    return n


def run_with_restarts(
    start_query,
    max_retries: int = 3,
    sleep_between: float = 0.0,
):
    """ST7: restart policy around a streaming query, mirroring the
    reference's <=3 attempts per repeat (experiment.py:345-357). The
    query factory must pass a stable checkpointLocation so each restart
    resumes from committed state instead of recomputing."""
    last_exc: Exception | None = None
    for attempt in range(1, max_retries + 1):
        query = start_query()
        try:
            query.processAllAvailable()
            query.stop()
            query.awaitTermination()
            return attempt
        except Exception as exc:  # noqa: BLE001 — retry semantics
            last_exc = exc
            try:
                query.stop()
            except Exception:  # noqa: BLE001
                pass
            if sleep_between:
                time.sleep(sleep_between)
    raise RuntimeError(
        f"query failed after {max_retries} attempts (experiment.py-style give-up)"
    ) from last_exc
