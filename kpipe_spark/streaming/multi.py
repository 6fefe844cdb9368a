"""Heterogeneous multi-topic routing (SURVEY §2.1 S7).

kpipe's MultiBuilder: ONE consumer / one group / one offset manager
with per-topic typed pipelines; records on unrouted topics are dropped
at WARNING with their offsets still committed (MultiBuilder.java:209-346,
docs/API.md:118-119, RecordProcessor.java:239-249). Spark mapping: one
Kafka source subscribed to every routed topic, one checkpoint; inside
foreachBatch each route filters its topic and runs its own pipeline +
terminals. Offsets for unrouted rows advance automatically — the batch
commit covers the whole offset range.

Departure from the reference (docs/API.md:117: consumer-wide CB): there
is no consumer-wide circuit breaker. Each route's StreamRunner carries
its own (when set) and gates only that route's branch.
"""

from __future__ import annotations

import logging
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kpipe_spark.streaming.runner import Metrics, StreamRunner, start_foreach_batch

log = logging.getLogger(__name__)


@dataclass
class MultiRunner:
    """Route map topic -> StreamRunner. Each route keeps its own
    pipeline/sink/DLQ, counters and circuit breaker; the source and the
    checkpoint are shared, and ``totals()`` gathers the counters."""

    routes: dict[str, StreamRunner]
    topic_col: str = "topic"
    metrics: Metrics = field(default_factory=Metrics)
    _warned_topics: set = field(default_factory=set)

    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        batch.persist()
        try:
            # unrouted topics: drop at WARNING, offsets still commit
            # (they're inside the batch's offset range regardless)
            unrouted = (
                batch.filter(~F.col(self.topic_col).isin(*self.routes))
                .groupBy(self.topic_col)
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            )
            for r in unrouted:
                t = r[self.topic_col]
                if t not in self._warned_topics:
                    log.warning("no route for topic %r — %d records dropped", t, r["n"])
                    self._warned_topics.add(t)

            # route metrics stay per-route; totals() aggregates on read
            for topic, runner in self.routes.items():
                branch = batch.filter(F.col(self.topic_col) == topic)
                runner.process_batch(branch, batch_id)
            # counted once all routes returned, as in StreamRunner
            self.metrics.add("records.dropped.unrouted", sum(r["n"] for r in unrouted))
            self.metrics.add("batches.completed")
        finally:
            batch.unpersist()

    def totals(self) -> dict[str, int]:
        out = dict(self.metrics.counters)
        for name, runner in self.routes.items():
            for k, v in runner.metrics.counters.items():
                out[f"route.{name}.{k}"] = v
        return out

    def start(self, stream_df: DataFrame, checkpoint_dir: str,
              query_name: str = "kpipe-multi"):
        return start_foreach_batch(
            stream_df, self.process_batch, checkpoint_dir, query_name, self.metrics
        )
