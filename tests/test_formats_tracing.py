"""Schema-Registry decode, multimodal plumbing, trace propagation."""

from __future__ import annotations

import pytest

import json

from pyspark.sql import functions as F

from kpipe_spark.functions.multimodal import (
    extract_features,
    sample_frames,
    size_class_partitioned,
)
from kpipe_spark.pipeline.schema_registry import decode_avro_sr, make_dict_resolver
from kpipe_spark.streaming.tracing import (
    child_traceparent,
    extract_traceparent,
    inject_traceparent,
)


def _envelope(schema_id: int, body: bytes) -> bytes:
    return b"\x00" + schema_id.to_bytes(4, "big") + body


@pytest.mark.slow  # r14 tiering: multi-minute — slow tier
def test_sr_decode_per_record_schema(spark):
    """Two schema ids interleaved in one frame decode independently;
    bad envelopes become errors, not task failures."""
    rows = [
        (_envelope(1, json.dumps({"id": 1, "name": "a"}).encode()),),
        (_envelope(2, json.dumps({"sku": "x", "qty": 3}).encode()),),
        (_envelope(99, b"{}"),),  # unknown schema id
        (b"\x01garbage",),  # wrong magic byte
    ]
    df = spark.createDataFrame(rows, "value binary")

    def factory():
        return make_dict_resolver({1: '{"type":"record"}', 2: '{"type":"record"}'})

    out = decode_avro_sr(df, factory).collect()
    by_sid = {r["payload_schema_id"]: r for r in out if r["payload_schema_id"]}
    assert json.loads(by_sid[1]["payload"])["name"] == "a"
    assert json.loads(by_sid[2]["payload"])["qty"] == 3
    errors = [r["payload_error"] for r in out if r["payload_error"]]
    assert len(errors) == 2
    assert any("unknown schema id 99" in e for e in errors)
    assert any("magic byte" in e for e in errors)


def _wire_fixtures():
    import os

    with open(os.path.join(os.path.dirname(__file__), "fixtures", "confluent_wire.json")) as f:
        return json.load(f)


def test_confluent_zigzag_varint_golden_bytes():
    """read_zigzag_varint against golden (value, bytes) pairs from the
    protobuf varint spec — the encoding Confluent's protobuf envelope
    uses for the message-index list."""
    from kpipe_spark.pipeline.schema_registry import read_zigzag_varint

    for case in _wire_fixtures()["zigzag_varint_golden"]:
        value, pos = read_zigzag_varint(bytes.fromhex(case["hex"]), 0)
        assert value == case["value"], case
        assert pos == len(case["hex"]) // 2, case


def test_confluent_protobuf_wire_golden_fixtures(spark):
    """decode_protobuf_sr over checked-in Confluent-layout byte strings
    (mirrors ProtobufConfluentWireCompatTest.java): schema id, message-
    index path (incl. the 0x00 shorthand and multi-byte varints) and
    the EXACT body bytes must round out of the envelope; malformed
    envelopes become error rows, never task failures."""
    from kpipe_spark.pipeline.schema_registry import decode_protobuf_sr

    fx = _wire_fixtures()
    rows = [(c["name"], bytes.fromhex(c["hex"])) for c in fx["protobuf"]]
    rows += [(c["name"], bytes.fromhex(c["hex"])) for c in fx["protobuf_invalid"]]
    df = spark.createDataFrame(rows, "name string, value binary")
    out = {r["name"]: r for r in decode_protobuf_sr(df).collect()}
    for c in fx["protobuf"]:
        r = out[c["name"]]
        assert r["payload_error"] is None, (c["name"], r["payload_error"])
        assert r["payload_schema_id"] == c["schema_id"]
        assert list(r["payload_message_index"]) == c["indexes"]
        assert bytes(r["payload"]).hex() == c["body_hex"]
    for c in fx["protobuf_invalid"]:
        r = out[c["name"]]
        assert r["payload_error"] is not None
        assert r["payload"] is None


def test_confluent_avro_wire_golden_fixtures(spark):
    """decode_avro_sr over checked-in Confluent-layout byte strings:
    the 5-byte header slice (magic + BE schema id) is pinned exactly.
    Body decode asserts full values when fastavro is importable; in
    this sandbox (no fastavro) the JSON-fallback fixture pins the
    header slicing and the avro-binary fixture must fail as DATA."""
    from kpipe_spark.pipeline.schema_registry import decode_avro_sr, make_dict_resolver

    try:
        import fastavro  # noqa: F401

        has_fastavro = True
    except ImportError:
        has_fastavro = False

    fx = _wire_fixtures()
    cases = {c["name"]: c for c in fx["avro"]}
    schemas = {
        c["schema_id"]: json.dumps(c.get("writer_schema", {"type": "record"}))
        for c in fx["avro"]
    }
    rows = [(c["name"], bytes.fromhex(c["hex"])) for c in fx["avro"]]
    df = spark.createDataFrame(rows, "name string, value binary")
    out = {
        r["name"]: r
        for r in decode_avro_sr(df, lambda: make_dict_resolver(schemas)).collect()
    }
    jf = out["json_fallback_body"]
    av, avc = out["avro_binary_user_record"], cases["avro_binary_user_record"]
    if has_fastavro:
        # the real-avro path: the golden binary body decodes to exact
        # values; the json fixture's placeholder schema is invalid avro,
        # so that row degrades to an error row (as data, not a failure)
        assert av["payload_schema_id"] == avc["schema_id"]
        assert json.loads(av["payload"]) == avc["decoded"]
        assert jf["payload_error"] is not None
    else:
        # sandbox (no fastavro): the JSON fallback pins the 5-byte
        # header slice exactly; the avro-binary body must fail AS DATA
        assert jf["payload_schema_id"] == cases["json_fallback_body"]["schema_id"]
        assert json.loads(jf["payload"]) == cases["json_fallback_body"]["json_body"]
        assert av["payload_error"] is not None


def test_multimodal_feature_extraction(spark):
    from kpipe_spark.functions.multimodal import png_bytes, wav_bytes

    media = spark.createDataFrame(
        [
            (1, "image", png_bytes(16, 16, seed=5), None, (16, 16, 1, None, "image/png")),
            (2, "image", b"", None, (0, 0, 0, None, "image/png")),  # empty ⇒ error
            (3, "audio", wav_bytes(64, 44100, seed=0), None, (None, None, None, 44100, "audio/wav")),
            (4, "audio", b"\x00" * 64, None, (None, None, None, 44100, "audio/wav")),  # not RIFF ⇒ error
        ],
        "media_id bigint, kind string, content binary, media_ref string, "
        "meta struct<width: int, height: int, frames: int, sample_rate: int, mime: string>",
    )
    out = {r["media_id"]: r for r in extract_features(media).collect()}
    assert (out[1]["width"], out[1]["height"], out[1]["n_units"]) == (16, 16, 256)
    assert out[1]["value_sum"] == sum((i * 7 + 5) % 256 for i in range(256))
    assert out[2]["value_sum"] is None and "empty media" in out[2]["decode_error"]
    assert (out[3]["sample_rate"], out[3]["n_units"]) == (44100, 64)
    assert "RIFF" in out[4]["decode_error"]  # real header validation
    # partitioning helper keeps schema
    assert size_class_partitioned(media).columns == media.columns


def test_video_frame_sampling(spark):
    media = spark.createDataFrame(
        [
            (1, "video", b"x", None, (None, None, 25, None, "video/fake")),
            (2, "image", b"x", None, (None, None, None, None, "image/fake")),
        ],
        "media_id bigint, kind string, content binary, media_ref string, "
        "meta struct<width: int, height: int, frames: int, sample_rate: int, mime: string>",
    )
    frames = sample_frames(media, every_n=10).collect()
    got = sorted((r["media_id"], r["frame_index"]) for r in frames)
    assert got == [(1, 0), (1, 10), (1, 20)]  # video only, every 10th


def test_trace_propagation_roundtrip(spark):
    tp = "00-0af7651916cd43dd8448eb211c80319c-b7ad6b7169203331-01"
    df = spark.createDataFrame(
        [
            (1, [("traceparent", tp.encode()), ("other", b"v")]),
            (2, [("traceparent", b"00-dead-beef-01"), ("traceparent", tp.encode())]),
            (3, [("other", b"v")]),
        ],
        "id int, headers array<struct<key: string, value: binary>>",
    )
    parents = {
        r["id"]: r["tp"]
        for r in df.select("id", extract_traceparent().alias("tp")).collect()
    }
    assert parents[1] == tp
    assert parents[2] == tp  # duplicates: last occurrence wins
    assert parents[3] is None

    out = df.withColumn("tp", extract_traceparent())
    out = out.withColumn("child", child_traceparent(F.col("tp"), F.col("id")))
    child = {r["id"]: r["child"] for r in out.collect()}
    assert child[1].split("-")[1] == tp.split("-")[1]  # trace id preserved
    assert child[1].split("-")[2] != tp.split("-")[2]  # fresh span id
    assert len(child[1].split("-")[2]) == 16

    injected = inject_traceparent(out, F.col("child"))
    hdrs = {
        r["id"]: {h["key"]: bytes(h["value"]) for h in r["headers"]}
        for r in injected.collect()
    }
    assert hdrs[1]["traceparent"].decode() == child[1]
    assert hdrs[1]["other"] == b"v"  # non-trace headers preserved


# -- Protobuf SR envelope (ProtobufFormat.java:159-220 semantics) -----------


def _zigzag_varint(n: int) -> bytes:
    z = (n << 1) ^ (n >> 63)
    out = bytearray()
    while True:
        b = z & 0x7F
        z >>= 7
        if z:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def test_protobuf_envelope_parse_shorthand_and_multi():
    from kpipe_spark.pipeline.schema_registry import parse_protobuf_envelope

    # single 0x00 byte = shorthand for index path [0]
    sid, idx, body = parse_protobuf_envelope(_envelope(7, b"\x00payload"))
    assert (sid, idx, body) == (7, [0], b"payload")
    # explicit path [1, 2]: count then each index, zig-zag varints
    wire = _zigzag_varint(2) + _zigzag_varint(1) + _zigzag_varint(2)
    sid, idx, body = parse_protobuf_envelope(_envelope(300, wire + b"xyz"))
    assert (sid, idx, body) == (300, [1, 2], b"xyz")
    # multi-byte varint index (values >= 64 need 2 bytes zig-zagged)
    wire = _zigzag_varint(1) + _zigzag_varint(200)
    sid, idx, body = parse_protobuf_envelope(_envelope(1, wire + b"b"))
    assert (sid, idx, body) == (1, [200], b"b")


def test_protobuf_envelope_rejects_garbage():
    import pytest

    from kpipe_spark.pipeline.schema_registry import parse_protobuf_envelope

    with pytest.raises(ValueError, match="magic"):
        parse_protobuf_envelope(b"\x01\x00\x00\x00\x07\x00")
    with pytest.raises(ValueError, match="truncated"):
        parse_protobuf_envelope(b"\x00\x00\x00\x00\x07" + b"\x80")


def test_protobuf_sr_decode_routes_and_isolates_errors(spark):
    from kpipe_spark.pipeline.schema_registry import decode_protobuf_sr

    rows = [
        (1, _envelope(7, b"\x00" + b"alpha")),
        (2, _envelope(9, _zigzag_varint(1) + _zigzag_varint(3) + b"beta")),
        (3, b"\xffnot-an-envelope"),
    ]
    df = spark.createDataFrame(rows, "id bigint, value binary")
    out = {r["id"]: r for r in decode_protobuf_sr(df).collect()}
    assert out[1]["payload_schema_id"] == 7
    assert out[1]["payload_message_index"] == [0]
    assert bytes(out[1]["payload"]) == b"alpha"
    assert out[2]["payload_schema_id"] == 9
    assert out[2]["payload_message_index"] == [3]
    assert bytes(out[2]["payload"]) == b"beta"
    # bad envelope fails THAT ROW as data, never the task
    assert out[3]["payload"] is None
    assert "magic" in out[3]["payload_error"]


def test_sr_resolver_constructed_once_per_worker_not_per_batch(spark, tmp_path):
    """Round-10 review: the pandas_udf body runs once per ARROW BATCH;
    resolver_factory/schema cache must live at worker lifetime or a
    real HTTP resolver re-fetches every schema id thousands of times
    per backfill. Factory invocations are counted via a spill file
    (executor workers are separate processes); with one partition and
    many forced Arrow batches, the count must stay at the worker
    count (1), not the batch count."""
    import os

    marker_dir = str(tmp_path / "factory_calls")
    os.makedirs(marker_dir)
    rows = [
        (_envelope(1, json.dumps({"id": i}).encode()),) for i in range(12)
    ]
    df = spark.createDataFrame(rows, "value binary").coalesce(1)

    def counting_factory():
        import os
        import uuid as _uuid

        open(os.path.join(marker_dir, _uuid.uuid4().hex), "w").close()
        return make_dict_resolver({1: '{"type":"record"}'})

    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", None)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "2")
    try:
        out = decode_avro_sr(df, counting_factory).collect()
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
        else:
            spark.conf.set(
                "spark.sql.execution.arrow.maxRecordsPerBatch", prev
            )
    assert len(out) == 12 and all(r["payload_error"] is None for r in out)
    n_factory_calls = len(os.listdir(marker_dir))
    assert n_factory_calls == 1, (
        f"resolver_factory ran {n_factory_calls}x for 6 Arrow batches "
        "in one worker — worker-lifetime caching regressed to per-batch"
    )


def test_sr_resolver_cache_is_process_lifetime_across_tasks(tmp_path):
    """Round-10 ADVICE: the closure dict alone is TASK-lifetime (every
    task deserializes the UDF with a fresh empty dict). The module-
    level cache keys by the factory's serialized bytes, so two
    DIFFERENT deserialized copies of the same factory — what two tasks
    in one reused worker process actually hold — must resolve to ONE
    shared entry (the second lookup never re-runs the factory), while
    a genuinely different factory gets its own. Factory runs are
    counted via marker files because cloudpickle copies closures BY
    VALUE (an in-memory counter in the closure would not observe the
    deserialized copies' calls)."""
    import os

    from pyspark import cloudpickle

    from kpipe_spark.pipeline.schema_registry import (
        _PROCESS_RESOLVERS,
        _process_resolver_entry,
        make_dict_resolver,
    )

    marker_dir = str(tmp_path / "calls")
    os.makedirs(marker_dir)
    schemas = {1: '{"type":"record"}'}

    def factory():
        import os as _os
        import uuid as _uuid

        open(_os.path.join(marker_dir, _uuid.uuid4().hex), "w").close()
        return make_dict_resolver(schemas)

    blob = cloudpickle.dumps(factory)
    copy_task1 = cloudpickle.loads(blob)
    copy_task2 = cloudpickle.loads(blob)
    before = len(_PROCESS_RESOLVERS)
    e1 = _process_resolver_entry(copy_task1)
    e2 = _process_resolver_entry(copy_task2)
    assert e1 is e2, "same factory value must share one process entry"
    assert len(os.listdir(marker_dir)) == 1, (
        "factory must run once per process, not per task"
    )
    assert len(_PROCESS_RESOLVERS) == before + 1

    other_schemas = {2: '{"type":"record"}'}

    def other_factory():
        import os as _os
        import uuid as _uuid

        open(_os.path.join(marker_dir, _uuid.uuid4().hex), "w").close()
        return make_dict_resolver(other_schemas)

    e3 = _process_resolver_entry(
        cloudpickle.loads(cloudpickle.dumps(other_factory))
    )
    assert e3 is not e1 and len(os.listdir(marker_dir)) == 2
