"""Terminals: console, custom, fan-out, DLQ envelope.

The DLQ contract (KPipeProducer.java:170-216, docs/GUARANTEES.md:39-58):
a terminally-failed record is parked on the dead-letter topic carrying
its ORIGINAL key/value/headers plus an x-dlq-* envelope describing the
failure and provenance; the offset only advances once the park succeeds.
In Spark, `dlq_frame` builds the envelope columns and the streaming
runner (kpipe_spark.streaming.runner) writes it inside foreachBatch
BEFORE the checkpoint commit — a DLQ write failure fails the batch, so
the batch replays: the same at-least-once guarantee.
"""

from __future__ import annotations

import logging
from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kpipe_spark.pipeline.result import ERROR_COL, FAILED, STATUS_COL

log = logging.getLogger(__name__)

# Source-provenance columns expected on Kafka-shaped frames (FIXTURES.md F1)
_KAFKA_COLS = ("key", "value", "topic", "partition", "offset", "timestamp", "headers")


def dlq_frame(applied: DataFrame, error_class: str = "ProcessingException") -> DataFrame:
    """Failed rows shaped per the DLQ record contract (FIXTURES.md F5,
    KPipeProducer.java:178-196): original key/value/headers + x-dlq-*
    headers appended (duplicates allowed; consumers read last occurrence).
    """
    failed = applied.filter(F.col(STATUS_COL) == FAILED)
    cols = failed.columns

    def have(c: str) -> bool:
        return c in cols

    def hdr(k: str, v):
        return F.struct(F.lit(k).alias("key"), v.cast("binary").alias("value"))

    dlq_headers = F.array(
        hdr("x-dlq-exception-class", F.lit(error_class)),
        # empty string when the message is null (KPipeProducer.java:183)
        hdr("x-dlq-exception-message", F.coalesce(F.col(ERROR_COL), F.lit(""))),
        hdr(
            "x-dlq-source-topic",
            F.col("topic") if have("topic") else F.lit(""),
        ),
        hdr(
            "x-dlq-source-partition",
            (F.col("partition") if have("partition") else F.lit(-1)).cast("string"),
        ),
        hdr(
            "x-dlq-source-offset",
            (F.col("offset") if have("offset") else F.lit(-1)).cast("string"),
        ),
        hdr(
            "x-dlq-source-timestamp",
            (
                _epoch_seconds(failed) if have("timestamp") else F.lit(-1)
            ).cast("string"),
        ),
    )
    original_headers = (
        F.col("headers")
        if have("headers")
        else F.array().cast("array<struct<key:string,value:binary>>")
    )
    out = failed.withColumn(
        "headers", F.concat(F.coalesce(original_headers, F.array()), dlq_headers)
    )
    keep = [c for c in ("key", "value", "topic", "partition", "offset", "timestamp") if have(c)]
    if "value" not in keep:
        # non-Kafka frame (e.g. batch-sink outcomes over arbitrary
        # rows): there is no original serialized form — the payload
        # columns ARE the record, so they all park; the contract's
        # "original key/value/headers" degrades to "original columns"
        keep = [c for c in cols if c not in (STATUS_COL, ERROR_COL, "headers")]
    return out.select(*keep, "headers", F.col(ERROR_COL).alias("error"))


def _epoch_seconds(frame: DataFrame) -> Column:
    """Whole epoch seconds of the frame's ``timestamp`` column. Spark
    refuses to cast TIMESTAMP_NTZ to BIGINT, so a zone-less wall clock
    is read as a TIMESTAMP first; the session zone is UTC (session.py),
    which gives both types the same header."""
    ts = F.col("timestamp")
    if dict(frame.dtypes)["timestamp"] == "timestamp_ntz":
        ts = ts.cast("timestamp")
    return ts.cast("long")


class IdempotentDlqParquet:
    """Durable DLQ park that REPLAYS idempotently (SURVEY §7 risk
    register: "dedup on batchId or source offset").

    The delivery contract is at-least-once: a crash after the DLQ park
    but before the checkpoint commit replays the whole micro-batch, and
    a plain append sink would park every failed record twice. Keying
    the write on the micro-batch id closes that hole: each batch's
    parks land in a ``batch_id=<id>`` partition written with DYNAMIC
    partition overwrite, and Structured Streaming replays a failed
    batch under the SAME batch id (the documented foreachBatch
    idempotency hook — the checkpoint pins the batch's offset range),
    so the replay REPLACES its own previous parks instead of appending.
    (batch_id, topic, partition, offset) is thereby unique in the
    parked table without any read-side dedup.

    The reference never duplicates DLQ parks within one process
    lifetime (send-then-commit per record, KPipeProducer.java:170-216);
    this gives the Spark runner the same property across restarts.
    Partition count = number of batches — bounded by batch cadence, and
    prunable by batch_id on read.

    The write targets the partition DIRECTORY (path/batch_id=<id>)
    with a wholesale overwrite rather than partitionBy + dynamic
    overwrite: dynamic mode only replaces partitions PRESENT in the
    written data, so a replay that parks ZERO rows (the failures were
    transient and succeeded second time) would leave the pre-crash
    attempt's parks stranded. A directory overwrite replaces the
    batch's parks unconditionally — which is also why the StreamRunner
    invokes the DLQ writer on EVERY batch when one is configured, empty
    or not: the empty write is the tombstone that clears a stale park.
    """

    def __init__(self, path: str) -> None:
        self.path = path

    def __call__(self, dlq_df: DataFrame, batch_id: int) -> None:
        dlq_df.write.mode("overwrite").parquet(
            f"{self.path}/batch_id={int(batch_id)}"
        )

    def read(self, spark) -> DataFrame:
        return spark.read.parquet(self.path)


def kafka_producer_frame(
    df: DataFrame,
    topic: str,
    value: Column | str = "value",
    key: Column | str | None = "key",
    propagate_trace: bool = True,
) -> DataFrame:
    """Shape processed rows for the Kafka producer sink
    (KafkaMessageSink.java:28-76): serialized ``value``/``key`` cast to
    binary, a literal ``topic`` column, and — matching inject-on-produce
    (KPipeProducer.java:199-204) — the consumed traceparent re-injected
    into the outbound headers when present.

    The result matches the Kafka writer's expected schema, so the
    terminal is just ``.writeStream.format("kafka")`` (or batch
    ``.write``); serialization itself is whatever expression the caller
    passes as ``value`` (to_json/to_avro/to_protobuf output, or an
    already-binary column).
    """
    from kpipe_spark.streaming.tracing import extract_traceparent, inject_traceparent

    v = (F.col(value) if isinstance(value, str) else value).cast("binary")
    out = df
    if propagate_trace and "headers" in df.columns:
        out = inject_traceparent(out, extract_traceparent())
    cols = [F.lit(topic).alias("topic"), v.alias("value")]
    if key is not None:
        k = F.col(key) if isinstance(key, str) else key
        cols.insert(1, k.cast("binary").alias("key"))
    if "headers" in out.columns:
        cols.append(F.col("headers"))
    return out.select(*cols)


def to_console(df: DataFrame, n: int = 20, truncate: bool = True) -> None:
    """Console sink (Stream.toConsole, Stream.java:312-323)."""
    df.show(n=n, truncate=truncate)


def to_multi(df: DataFrame, *sinks: Callable[[DataFrame], None]) -> None:
    """Best-effort fan-out (CompositeMessageSink.java:11-33): every sink
    sees the frame; a throwing sink is logged and suppressed; the record
    still counts processed and the DLQ is NOT invoked
    (docs/GUARANTEES.md:56). Persist so N sinks don't recompute lineage."""
    df.persist()
    try:
        for i, sink in enumerate(sinks):
            try:
                sink(df)
            except Exception:  # noqa: BLE001 — best-effort contract
                log.exception("multi-sink #%d failed — suppressed", i)
    finally:
        df.unpersist()
