"""OpenTelemetry exporter bridges (SURVEY §2.5 R9/R10 exporters).

Mirrors kpipe's opt-in OTel modules: the engine core has NO
OpenTelemetry dependency (exactly like ``kpipe-metrics`` shipping
interfaces only — lib/kpipe-metrics-otel/.../module-info.java); this
module binds the runner's ``Metrics`` counters and batch lifecycle to
the OTel API *when the caller brings one*. Everything is duck-typed
against the ``opentelemetry.metrics``/``trace`` surface
(``get_meter``/``create_counter``/``add`` …), so it works with the real
SDK and with test fakes, and imports nothing at module load.

Instrument names and attributes follow the reference bridge
(OtelConsumerMetrics.java:28-100): ``kpipe.consumer.messages.received``
/ ``.processed`` / ``.errors``, ``kpipe.consumer.processing.duration``
(ms histogram), ``kpipe.consumer.backpressure.pauses``,
``kpipe.consumer.circuit_breaker.trips``, with an optional ``pipeline``
attribute on every instrument.

Spark placement note: kpipe updates OTel per record on the consumer
thread; in Spark the runner's counters live on the DRIVER and advance
per micro-batch, so the bridge exports counter DELTAS per batch/scrape
— same instruments, batch granularity. Per-record spans become
per-batch CONSUMER spans (a 10k-row batch as 10k spans is exporter
abuse, not observability).
"""

from __future__ import annotations

import contextlib
from typing import Any

from kpipe_spark.streaming.runner import Metrics

INSTRUMENTATION_NAME = "io.github.eschizoid.kpipe.consumer"
SPAN_NAME = "kpipe.consumer.process"

#: runner counter -> (instrument name, unit, description)
_COUNTER_MAP: dict[str, tuple[str, str, str]] = {
    "records.received": (
        "kpipe.consumer.messages.received",
        "{message}",
        "Number of messages received",
    ),
    "pipeline.processed.passed": (
        "kpipe.consumer.messages.processed",
        "{message}",
        "Number of messages successfully processed",
    ),
    "pipeline.processed.failed": (
        "kpipe.consumer.messages.errors",
        "{message}",
        "Number of messages that failed processing",
    ),
    "dlq.sent": (
        "kpipe.consumer.dlq.sent",
        "{message}",
        "Number of messages parked to the DLQ",
    ),
    "circuitbreaker.trips": (
        "kpipe.consumer.circuit_breaker.trips",
        "{trip}",
        "Number of times the circuit breaker tripped",
    ),
    "backpressure.pauses": (
        "kpipe.consumer.backpressure.pauses",
        "{pause}",
        "Number of times backpressure shrank admission",
    ),
}


class OtelConsumerMetrics:
    """Export runner ``Metrics`` counter deltas through an OTel meter.

    ``opentelemetry`` here is anything exposing ``get_meter(name)``
    (the ``opentelemetry.metrics`` entry point, a ``MeterProvider``,
    or a test fake). When OTel isn't configured, simply don't
    construct this — the core never imports it (the reference's
    "prefer ConsumerMetrics#noop" guidance).
    """

    def __init__(
        self,
        opentelemetry: Any,
        pipeline_name: str | None = None,
        in_flight_supplier: Any | None = None,
    ) -> None:
        meter = opentelemetry.get_meter(INSTRUMENTATION_NAME)
        self._attributes = {"pipeline": pipeline_name} if pipeline_name else {}
        self._instruments = {
            counter_key: meter.create_counter(name, unit=unit, description=desc)
            for counter_key, (name, unit, desc) in _COUNTER_MAP.items()
        }
        self._duration = meter.create_histogram(
            "kpipe.consumer.processing.duration",
            unit="ms",
            description="Trigger execution time per micro-batch",
        )
        if in_flight_supplier is not None and hasattr(
            meter, "create_observable_gauge"
        ):
            # OTel async gauge: callbacks return observations; adapt the
            # plain supplier with a late import so the core stays
            # otel-free when the gauge is unused.
            def _cb(_options=None):
                from opentelemetry.metrics import Observation

                return [Observation(int(in_flight_supplier()), self._attributes)]

            self._in_flight = meter.create_observable_gauge(
                "kpipe.consumer.in_flight",
                callbacks=[_cb],
                description="Current source lag (records behind head)",
            )
        self._last: dict[str, int] = {}

    def export(self, metrics: Metrics) -> dict[str, int]:
        """Push counter deltas since the previous export; returns the
        deltas (useful for assertions/logging). Call per batch or per
        scrape — deltas make the cadence irrelevant."""
        deltas: dict[str, int] = {}
        for key, instrument in self._instruments.items():
            now = metrics.counters.get(key, 0)
            delta = now - self._last.get(key, 0)
            if delta > 0:
                instrument.add(delta, self._attributes)
                deltas[key] = delta
            self._last[key] = now
        return deltas

    def record_batch_duration(self, millis: float) -> None:
        self._duration.record(millis, self._attributes)


class OtelBatchTracer:
    """Per-micro-batch CONSUMER spans (OtelTracer.java:43-120 adapted
    to batch granularity) with the reference's messaging attributes."""

    def __init__(self, opentelemetry: Any, instrumentation_name: str = INSTRUMENTATION_NAME) -> None:
        self._tracer = opentelemetry.get_tracer(instrumentation_name)

    @contextlib.contextmanager
    def batch_span(
        self,
        topic: str | None,
        batch_id: int,
        n_records: int,
        traceparent: str | None = None,
    ):
        """Context manager around one micro-batch. ``traceparent`` (the
        columnar ``tracing.extract_traceparent`` value of the batch's
        first record) links the span to the upstream producer trace
        when the real OTel propagators are importable; without them the
        span is still emitted, just unparented — same degradation as
        the reference's extract-failure path (OtelTracer.java:84-90)."""
        context = None
        if traceparent is not None:
            try:
                from opentelemetry.propagate import extract

                context = extract({"traceparent": traceparent})
            except Exception:  # noqa: BLE001 — degrade to unparented span
                context = None
        attributes = {
            "messaging.system": "kafka",
            "messaging.operation": "process",
            "messaging.kafka.topic": topic or "",
            "kpipe.batch.id": batch_id,
            "kpipe.batch.records": n_records,
        }
        kwargs: dict[str, Any] = {"attributes": attributes}
        if context is not None:
            kwargs["context"] = context
        span = self._tracer.start_span(SPAN_NAME, **kwargs)
        try:
            yield span
        except Exception as exc:
            if hasattr(span, "record_exception"):
                span.record_exception(exc)
            if hasattr(span, "set_status"):
                with contextlib.suppress(Exception):
                    from opentelemetry.trace import Status, StatusCode

                    span.set_status(Status(StatusCode.ERROR))
            raise
        finally:
            span.end()
