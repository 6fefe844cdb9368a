"""kpipe pipeline-contract tests (SURVEY §5 rebuilt in pytest):
outcome semantics, short-circuit order, field surgery, registry
missing-key contract, multi-sink best-effort, formats/skip_bytes,
pandas-UDF per-row failure capture."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from kpipe_spark.pipeline import (
    FAILED,
    FILTERED,
    PASSED,
    Pipeline,
    PipelineRegistry,
    outcome_counts,
)
from kpipe_spark.pipeline import operators as ops
from kpipe_spark.pipeline.formats import (
    confluent_payload,
    confluent_schema_id,
    decode_json,
    encode_json,
    skip_bytes,
)
from kpipe_spark.pipeline.sinks import dlq_frame, to_multi


@pytest.fixture
def df(spark):
    return spark.createDataFrame(
        [
            (1, "active", 75.0, "alice"),
            (2, "active", 10.0, "bob"),
            (3, "deleted", 99.0, "carol"),
            (4, None, 80.0, "dave"),
            (5, "active", 60.0, None),
        ],
        "id int, status string, total double, user string",
    )


def test_result_three_way_outcome(spark, df):
    """Passed/Filtered/Failed are disjoint and exhaustive (Result.java:31-103)."""
    p = (
        Pipeline()
        .fail_when(F.col("status").isNull(), "NullStatusException")
        .filter(F.col("status") == "active")
        .filter(F.col("total") > 50)
    )
    counts = outcome_counts(p.apply(df))
    assert counts == {PASSED: 2, FILTERED: 2, FAILED: 1}


def test_short_circuit_first_transition_wins(spark, df):
    """A failed row is not re-marked filtered by later operators and
    vice versa (TypedPipelineBuilder.java:150-162)."""
    p = (
        Pipeline()
        .filter(F.col("total") > 50)  # id=2 filtered first
        .fail_when(F.col("id") == 2, "ShouldNeverFire")
        .fail_when(F.col("id") == 3, "Fires")
        .filter(F.col("id") != 3)  # must NOT re-mark the failed row
    )
    applied = p.apply(df)
    rows = {r["id"]: (r["_status"], r["_error"]) for r in applied.collect()}
    assert rows[2] == (FILTERED, None)
    assert rows[3] == (FAILED, "Fires")


def test_null_predicate_is_filtered(spark, df):
    """kpipe: null payload field in a predicate ⇒ Filtered, not error."""
    p = Pipeline().filter(F.col("user").startswith("a"))
    counts = outcome_counts(p.apply(df))
    assert counts[FILTERED] == 4  # bob,carol,dave + null user
    assert counts[FAILED] == 0


def test_when_requires_both_branches(spark, df):
    p = Pipeline().when(F.col("total") > 50, "tier", F.lit("high"), F.lit("low"))
    got = {r["id"]: r["tier"] for r in p.apply(df).collect()}
    assert got == {1: "high", 2: "low", 3: "high", 4: "high", 5: "high"}


def test_field_surgery_and_passthrough_rename(spark, df):
    p = (
        Pipeline()
        .rename("user", "user_name")
        .rename("missing_col", "whatever")  # absent ⇒ passthrough (Operators.java:147-153)
        .remove_fields("status", "not_there")
        .add_field("source", "pipeline")
    )
    out = p.apply(df)
    assert "user_name" in out.columns and "user" not in out.columns
    assert "status" not in out.columns
    assert out.select("source").distinct().collect()[0][0] == "pipeline"


def test_require_field_missing_column_filters_all(spark, df):
    p = Pipeline().require_field("nonexistent")
    counts = outcome_counts(p.apply(df))
    assert counts[FILTERED] == 5


def test_safe_operator_keeps_original_on_null(spark, df):
    frag = ops.safe("user", F.when(F.col("user") != "alice", F.col("user")))
    out = frag.apply(df)
    users = {r["id"]: r["user"] for r in out.collect()}
    assert users[1] == "alice"  # attempted expr nulled, original kept
    assert users[2] == "bob"


def test_compose_chains_fragments(spark, df):
    frag = ops.compose(
        ops.filter_(F.col("total") > 50),
        ops.add_field("stage", "x"),
        ops.rename("id", "record_id"),
    )
    out = frag.apply(df)
    assert "record_id" in out.columns
    assert outcome_counts(out)[FILTERED] == 1


def test_registry_missing_key_warn_once_identity(spark, df, caplog):
    reg = PipelineRegistry()
    reg.register_operator("tag", ops.add_field("tagged", True))
    p = reg.pipeline("tag", "nope", "nope")
    out = p.apply(df)
    assert out.filter(F.col("tagged")).count() == 5  # identity for missing
    warnings = [r for r in caplog.records if "nope" in r.getMessage()]
    assert len(warnings) == 1  # warn-once (MessageProcessorRegistry.java:169-182)


def test_registry_composite_sink_best_effort(spark, df):
    reg = PipelineRegistry()
    got: list[int] = []
    reg.register_sink("good", lambda d: got.append(d.count()))

    def bad(d):
        raise RuntimeError("sink down")

    reg.register_sink("bad", bad)
    write = reg.composite_sink("bad", "good")
    write(df)  # throwing sink suppressed, good sink still runs
    assert got == [5]


def test_to_multi_best_effort(spark, df):
    got: list[int] = []

    def bad(d):
        raise RuntimeError("down")

    to_multi(df, bad, lambda d: got.append(d.count()))
    assert got == [5]


def test_pipe_pandas_per_row_failure(spark, df):
    """One poison record fails alone; healthy rows of the same Arrow
    batch pass (the Failed-as-data discipline, SURVEY §7 risk 1)."""

    def risky(totals):
        if (totals <= 0).any():
            raise ValueError("nonpositive")
        return totals * 2

    neg = spark.createDataFrame(
        [(10, "active", -5.0, "eve")], "id int, status string, total double, user string"
    )
    p = Pipeline().pipe_pandas("total2", risky, ["total"], "double")
    applied = p.apply(df.union(neg))
    rows = {r["id"]: r for r in applied.collect()}
    assert rows[10]["_status"] == FAILED
    assert "ValueError" in rows[10]["_error"]
    assert rows[1]["_status"] == PASSED
    assert rows[1]["total2"] == 150.0


def test_dlq_envelope_headers(spark):
    """DLQ record carries original key/value/headers + x-dlq-* set
    (KPipeProducer.java:178-196, FIXTURES.md F5). The source timestamp
    header is whole epoch seconds for both Spark timestamp types (a
    file or memory source may hand over TIMESTAMP_NTZ, which Spark will
    not cast to BIGINT directly)."""
    kafka_df = spark.createDataFrame(
        [
            (
                b"k1",
                b"payload",
                "orders",
                3,
                42,
                [("traceparent", b"00-abc")],
            )
        ],
        "key binary, value binary, topic string, partition int, offset bigint, "
        "headers array<struct<key: string, value: binary>>",
    )
    p = Pipeline().fail_when(F.lit(True), "DecodeError")
    for ts_type in ("timestamp", "timestamp_ntz"):
        src = kafka_df.withColumn(
            "timestamp", F.lit("2026-01-01 00:00:01.234").cast(ts_type)
        )
        dlq = dlq_frame(p.apply(src)).collect()
        assert len(dlq) == 1
        row = dlq[0]
        assert bytes(row["key"]) == b"k1"
        assert bytes(row["value"]) == b"payload"
        hdrs = {h["key"]: bytes(h["value"]) for h in row["headers"]}
        assert hdrs["traceparent"] == b"00-abc"  # original headers preserved
        assert hdrs["x-dlq-exception-message"] == b"DecodeError"
        assert hdrs["x-dlq-source-topic"] == b"orders"
        assert hdrs["x-dlq-source-partition"] == b"3"
        assert hdrs["x-dlq-source-offset"] == b"42"
        assert hdrs["x-dlq-source-timestamp"] == b"1767225601", ts_type


def test_skip_bytes_and_confluent_envelope(spark):
    """skipBytes slices a fixed prefix (Stream.java:269-282); the
    Confluent envelope is magic 0x00 + big-endian int32 schema id
    (ConfluentEnvelope.java:10-40)."""
    schema_id = 1234567
    envelope = b"\x00" + schema_id.to_bytes(4, "big") + b'{"a":1}'
    df = spark.createDataFrame([(envelope,)], "value binary")
    row = df.select(
        skip_bytes("value", 5).alias("payload"),
        confluent_schema_id("value").alias("sid"),
        confluent_payload("value").alias("cp"),
    ).collect()[0]
    assert bytes(row["payload"]) == b'{"a":1}'
    assert row["sid"] == schema_id
    assert bytes(row["cp"]) == b'{"a":1}'
    # edge: skip more bytes than the value has ⇒ empty, not error
    short = spark.createDataFrame([(b"ab",)], "value binary")
    assert bytes(short.select(skip_bytes("value", 5).alias("p")).collect()[0]["p"]) == b""


def test_json_roundtrip_and_decode_failure(spark):
    """Malformed JSON ⇒ Failed record, not a silent null-field struct
    (docs/GUARANTEES.md:45: deserialize failure is an error outcome)."""
    df = spark.createDataFrame(
        [(b'{"id": 7, "name": "x"}',), (b"not json",)], "value binary"
    )
    decoded = decode_json(df, "id int, name string")
    p = Pipeline().fail_when(
        F.col("payload_error").isNotNull(), "DeserializationException"
    )
    rows = sorted(p.apply(decoded).collect(), key=lambda r: r["_status"])
    failed, passed = rows[0], rows[1]
    assert passed["payload"]["id"] == 7 and passed["_status"] == PASSED
    assert failed["_status"] == FAILED and failed["_error"] == "DeserializationException"
    ok = decoded.filter(F.col("payload_error").isNull())
    out = encode_json(ok, "payload")
    assert b'"id":7' in bytes(out.collect()[0]["value"])


def test_peek_observes_without_changing_plan(spark, df):
    """peek (Stream.java:64-71): side-channel metrics, value untouched."""
    from pyspark.sql import Observation

    from kpipe_spark.pipeline import Pipeline

    obs = Observation("peeked")
    p = Pipeline().filter(F.col("total") > 10).peek(
        obs,
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.when(F.col("_status") == "filtered", 1).otherwise(0)).alias(
            "filtered"
        ),
    )
    applied = p.apply(df)
    n_total = applied.count()  # action fires the observation
    assert obs.get["rows"] == n_total  # every row still present
    assert obs.get["filtered"] == df.filter(F.col("total") <= 10).count()


def test_kafka_producer_frame_schema_and_trace(spark):
    """K5 (KafkaMessageSink.java:28-76): producer-ready frame — binary
    key/value, literal topic, traceparent re-injected on produce."""
    from kpipe_spark.pipeline.sinks import kafka_producer_frame

    tp = b"00-0af7651916cd43dd8448eb211c80319c-b7ad6b7169203331-01"
    rows = [
        (b"k1", '{"a": 1}', [("traceparent", tp), ("other", b"x")]),
        (b"k2", '{"a": 2}', None),
    ]
    df = spark.createDataFrame(
        rows,
        "key binary, payload string, "
        "headers array<struct<key: string, value: binary>>",
    )
    out = kafka_producer_frame(df, "out-topic", value=F.col("payload"))
    assert [f.name for f in out.schema.fields] == ["topic", "key", "value", "headers"]
    assert out.schema["value"].dataType.simpleString() == "binary"
    got = {bytes(r["key"]): r for r in out.collect()}
    assert got[b"k1"]["topic"] == "out-topic"
    assert json.loads(bytes(got[b"k1"]["value"])) == {"a": 1}
    # trace context re-injected as the LAST traceparent occurrence
    hdrs = [(h["key"], bytes(h["value"])) for h in got[b"k1"]["headers"]]
    assert hdrs[-1] == ("traceparent", tp)
    assert ("other", b"x") in hdrs
    # no inbound trace -> headers stay empty, row still produced
    assert got[b"k2"]["headers"] == []


def test_pipeline_from_config(spark, df, monkeypatch):
    """Config-driven pipelines (docs/ESCAPE-HATCHES.md:193-199):
    PROCESSOR_PIPELINE=names assembles registered fragments; unknown
    names degrade to warn-once identity."""
    reg = PipelineRegistry()
    reg.register_operators(
        {
            "TAG": ops.add_field("tagged", True),
            "KEEP_BIG": ops.filter_(F.col("total") > 50),
        }
    )
    monkeypatch.setenv("PROCESSOR_PIPELINE", "TAG, KEEP_BIG, MISSING")
    out = reg.pipeline_from_config().apply(df)
    assert outcome_counts(out)[FILTERED] == 1
    assert out.filter(F.col("tagged")).count() == 5


def test_safe_cast_fails_poison_row_only(spark):
    """ANSI mode makes a plain CAST throw the whole task on one poison
    value; safe_cast keeps kpipe's contract — exception ⇒ Failed(that
    record) (MessagePipeline.java:8-19)."""
    df = spark.createDataFrame(
        [(1, "42"), (2, "not-a-number"), (3, None)], "id int, raw string"
    )
    p = Pipeline().safe_cast("parsed", F.col("raw"), "int")
    rows = {r["id"]: r for r in p.apply(df).collect()}
    assert rows[1]["_status"] == PASSED and rows[1]["parsed"] == 42
    assert rows[2]["_status"] == FAILED
    assert "not-a-number" in rows[2]["_error"]
    # null input is NOT a cast failure (kpipe: null handling is the
    # filter/require_field contract, not an error)
    assert rows[3]["_status"] == PASSED and rows[3]["parsed"] is None


def test_safe_cast_preserves_value_on_short_circuited_rows(spark):
    """pipe()'s preserve rule applies to safe_cast too (round-10
    review): a row already Filtered/Failed keeps its pre-step value —
    an in-place overwrite must not NULL the column a DLQ park or
    filtered-split consumer reads."""
    df = spark.createDataFrame(
        [(1, "10"), (2, "20"), (3, "boom")], "id int, raw string"
    )
    p = (
        Pipeline()
        .fail_when(F.col("id") == 2, "poisoned upstream")
        .safe_cast("raw", F.col("raw"), "int")  # in-place overwrite
    )
    rows = {r["id"]: r for r in p.apply(df).collect()}
    assert rows[1]["_status"] == PASSED and rows[1]["raw"] == 10
    # the upstream-failed row kept its value (typed: try_cast to the
    # target type — representable values survive the overwrite)
    assert rows[2]["_status"] == FAILED and rows[2]["raw"] == 20
    # the row failed BY the cast has no representable value: NULL
    assert rows[3]["_status"] == FAILED and rows[3]["raw"] is None


def test_require_field_resolves_nested_paths(spark):
    """require_field('payload.id') must null-check the nested field,
    not filter every row because the dotted path isn't a top-level
    column name (round-10 review)."""
    df = spark.createDataFrame(
        [(1, {"id": "a"}), (2, {"id": None}), (3, None)],
        "k int, payload struct<id: string>",
    )
    out = Pipeline().require_field("payload.id").apply(df)
    rows = {r["k"]: r["_status"] for r in out.collect()}
    assert rows[1] == PASSED
    assert rows[2] == FILTERED  # nested null
    assert rows[3] == FILTERED  # whole struct null
    # genuinely unresolvable path still filters everything
    counts = outcome_counts(
        Pipeline().require_field("payload.nope").apply(df)
    )
    assert counts[FILTERED] == 3
