"""Streaming state & time semantics: watermarked tumbling/session
windows with late-data drop, dropDuplicatesWithinWatermark,
stream-stream interval join, and a custom stateful per-key operator —
the capabilities kpipe points users to Kafka Streams for
(reference README.md:203-208); in this engine they are native
Structured Streaming (SURVEY §2.4 "Streaming windows" / "Stateful ops").

All tests drive file sources batch-by-batch through
``processAllAvailable`` (the deterministic flush, like the reference's
TestStream.flush) into memory sinks.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

import pytest

# Round-14 suite tiering: this module is in the SLOW tier (excluded from
# the driver's default `pytest tests/ -q` run by addopts; run with -m slow).
# See pyproject.toml [tool.pytest.ini_options] for the rationale.
pytestmark = pytest.mark.slow


SCHEMA = "event_id bigint, key string, ts timestamp, value double"


def write_batch_file(path: str, rows: list[dict], name: str) -> None:
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, name), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def stream(spark, src):
    return (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )


def run_to_memory(df, name, ckpt, output_mode="append"):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.processAllAvailable()
    return q


def ev(i, key, ts, value=1.0):
    return {"event_id": i, "key": key, "ts": ts, "value": value}


def test_tumbling_window_with_watermark_drops_late_data(spark, tmp_path):
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    # batch 1: events in minute 0 and minute 1; watermark = max_ts - 30s
    write_batch_file(
        src,
        [
            ev(0, "a", "2024-01-01 00:00:05"),
            ev(1, "a", "2024-01-01 00:00:20"),
            ev(2, "b", "2024-01-01 00:01:10"),
        ],
        "b1.json",
    )

    agg = (
        stream(spark, src)
        .withWatermark("ts", "30 seconds")
        .groupBy(F.window("ts", "1 minute").alias("w"), "key")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").cast("string").alias("start"), "key", "n")
    )
    q = run_to_memory(agg, "tumbling", ckpt)
    try:
        # batch 2 advances event time to 00:05 (watermark 00:04:30); the
        # flush between writes pins batch order — THEN batch 3 delivers a
        # LATE event for the already-finalized minute 0
        write_batch_file(src, [ev(3, "a", "2024-01-01 00:05:00")], "b2.json")
        q.processAllAvailable()
        write_batch_file(src, [ev(4, "a", "2024-01-01 00:00:30")], "b3.json")
        q.processAllAvailable()
        rows = {
            (r["start"], r["key"]): r["n"]
            for r in spark.sql("SELECT * FROM tumbling").collect()
        }
        # minute-0 window finalized with the 2 on-time events; the late
        # event_id=4 (behind the watermark) was DROPPED, not re-emitted
        assert rows[("2024-01-01 00:00:00", "a")] == 2
        assert rows[("2024-01-01 00:01:00", "b")] == 1
        assert all(n <= 2 for n in rows.values())
    finally:
        q.stop()


def test_session_window_merges_gaps(spark, tmp_path):
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    write_batch_file(
        src,
        [
            # key a: two bursts separated by > 1 min gap -> 2 sessions
            ev(0, "a", "2024-01-01 00:00:00"),
            ev(1, "a", "2024-01-01 00:00:30"),
            ev(2, "a", "2024-01-01 00:05:00"),
        ],
        "b1.json",
    )

    agg = (
        stream(spark, src)
        .withWatermark("ts", "10 seconds")
        .groupBy(F.session_window("ts", "1 minute").alias("w"), "key")
        .agg(F.count(F.lit(1)).alias("n"))
        .select("key", "n")
    )
    q = run_to_memory(agg, "sessions", ckpt)
    try:
        # the watermark-advancing batch is written only AFTER b1 is
        # processed — pre-writing both races file ordering, and a
        # first-processed b2 would mark every b1 event late
        write_batch_file(src, [ev(3, "z", "2024-01-01 01:00:00")], "b2.json")
        q.processAllAvailable()
        per_key = {}
        for r in spark.sql("SELECT * FROM sessions").collect():
            per_key.setdefault(r["key"], []).append(r["n"])
        assert sorted(per_key["a"]) == [1, 2]  # burst of 2, then lone event
    finally:
        q.stop()


def test_drop_duplicates_within_watermark(spark, tmp_path):
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    write_batch_file(
        src,
        [
            ev(0, "a", "2024-01-01 00:00:00"),
            ev(0, "a", "2024-01-01 00:00:01"),  # dup id inside watermark
            ev(1, "b", "2024-01-01 00:00:02"),
        ],
        "b1.json",
    )
    write_batch_file(
        src,
        [
            ev(0, "a", "2024-01-01 00:00:03"),  # dup again, same window
            ev(2, "c", "2024-01-01 00:00:04"),
        ],
        "b2.json",
    )
    dedup = (
        stream(spark, src)
        .withWatermark("ts", "1 minute")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "key")
    )
    q = run_to_memory(dedup, "dedup", ckpt)
    try:
        ids = [r["event_id"] for r in spark.sql("SELECT * FROM dedup").collect()]
        assert sorted(ids) == [0, 1, 2]  # each id exactly once
    finally:
        q.stop()


def test_stream_stream_interval_join(spark, tmp_path):
    left_src = str(tmp_path / "left")
    right_src = str(tmp_path / "right")
    ckpt = str(tmp_path / "ckpt")
    write_batch_file(
        left_src,
        [ev(0, "a", "2024-01-01 00:00:00"), ev(1, "b", "2024-01-01 00:00:10")],
        "l1.json",
    )
    write_batch_file(
        right_src,
        [
            ev(100, "a", "2024-01-01 00:00:05"),  # within 30s of left a
            ev(101, "b", "2024-01-01 00:10:00"),  # too far from left b
        ],
        "r1.json",
    )
    left = (
        stream(spark, left_src)
        .withWatermark("ts", "1 minute")
        .select(
            F.col("key").alias("l_key"),
            F.col("event_id").alias("l_id"),
            F.col("ts").alias("l_ts"),
        )
    )
    right = (
        stream(spark, right_src)
        .withWatermark("ts", "1 minute")
        .select(
            F.col("key").alias("r_key"),
            F.col("event_id").alias("r_id"),
            F.col("ts").alias("r_ts"),
        )
    )
    joined = left.join(
        right,
        F.expr(
            "l_key = r_key AND r_ts BETWEEN l_ts AND l_ts + INTERVAL 30 SECONDS"
        ),
    ).select("l_id", "r_id")
    q = run_to_memory(joined, "ssjoin", ckpt)
    try:
        pairs = {
            (r["l_id"], r["r_id"])
            for r in spark.sql("SELECT * FROM ssjoin").collect()
        }
        assert pairs == {(0, 100)}
    finally:
        q.stop()


def test_custom_stateful_running_max_per_key(spark, tmp_path):
    """Per-key custom state via applyInPandasWithState: running max of
    value per key across micro-batches — the transformWithState-family
    escape hatch for operators the built-ins can't express."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    write_batch_file(
        src,
        [ev(0, "a", "2024-01-01 00:00:00", 10.0), ev(1, "b", "2024-01-01 00:00:01", 5.0)],
        "b1.json",
    )
    write_batch_file(
        src,
        [ev(2, "a", "2024-01-01 00:00:02", 3.0), ev(3, "b", "2024-01-01 00:00:03", 50.0)],
        "b2.json",
    )

    def running_max(key, pdfs, state):
        mx = state.get[0] if state.exists else float("-inf")
        for pdf in pdfs:
            mx = max(mx, float(pdf["value"].max()))
        state.update((mx,))
        yield pd.DataFrame({"key": [key[0]], "running_max": [mx]})

    out = (
        stream(spark, src)
        .groupBy("key")
        .applyInPandasWithState(
            running_max,
            outputStructType="key string, running_max double",
            stateStructType="mx double",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    q = run_to_memory(out, "runmax", ckpt, output_mode="update")
    try:
        latest = {}
        # update-mode memory sink appends one row per key per batch;
        # the running max is the max over emissions
        for r in spark.sql("SELECT * FROM runmax").collect():
            latest[r["key"]] = max(latest.get(r["key"], float("-inf")), r["running_max"])
        assert latest == {"a": 10.0, "b": 50.0}
    finally:
        q.stop()


def test_stream_static_enrich_join(spark, tmp_path):
    """Stream-static join (SURVEY §2.4): per-batch broadcast-enrich of a
    stream against a static dimension — no state store involved."""
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    write_batch_file(
        src,
        [ev(0, "a", "2024-01-01 00:00:00"), ev(1, "zz", "2024-01-01 00:00:01")],
        "b1.json",
    )
    dim = spark.createDataFrame(
        [("a", "Alpha"), ("b", "Beta")], "key string, label string"
    )
    enriched = stream(spark, src).join(F.broadcast(dim), "key", "left").select(
        "event_id", "key", "label"
    )
    q = run_to_memory(enriched, "enriched", ckpt)
    try:
        got = {r["event_id"]: r["label"] for r in spark.sql("SELECT * FROM enriched").collect()}
        assert got == {0: "Alpha", 1: None}  # unmatched key survives (left)
    finally:
        q.stop()


def test_streaming_content_dedup(spark, tmp_path):
    """Streaming exact dedup on the content fingerprint: duplicate TEXT
    arriving in later micro-batches is suppressed within the watermark
    — the streaming face of d01 (batch exact dedup)."""
    from kpipe_spark.functions.text import fingerprint

    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    write_batch_file(
        src,
        [
            {"event_id": 0, "key": "Hello   World", "ts": "2024-01-01 00:00:00", "value": 1.0},
            {"event_id": 1, "key": "fresh text", "ts": "2024-01-01 00:00:01", "value": 1.0},
        ],
        "b1.json",
    )
    write_batch_file(
        src,
        [
            # same content modulo whitespace/case -> same fingerprint
            {"event_id": 2, "key": "hello world", "ts": "2024-01-01 00:00:02", "value": 1.0},
            {"event_id": 3, "key": "brand new", "ts": "2024-01-01 00:00:03", "value": 1.0},
        ],
        "b2.json",
    )
    deduped = (
        stream(spark, src)
        .withColumn("fp", fingerprint("key"))
        .withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark(["fp"])
        .select("event_id")
    )
    q = run_to_memory(deduped, "contentdedup", ckpt)
    try:
        ids = sorted(
            r["event_id"] for r in spark.sql("SELECT * FROM contentdedup").collect()
        )
        # one survivor per fingerprint; the near-identical text (id 2)
        # was suppressed even though it arrived in a later batch
        assert 2 not in ids
        assert len(ids) == 3
    finally:
        q.stop()


def test_transform_with_state_running_count(spark, tmp_path):
    """Per-key state via the Spark 4 transformWithStateInPandas API
    (ValueState + StatefulProcessor): running event count per key
    across micro-batches. Requires the RocksDB state store provider —
    the provider a production deployment should run anyway (changelog
    checkpointing, bounded memory). The state-server protocol needs the
    google.protobuf python package — absent in this container, so the
    test documents the path and skips; applyInPandasWithState above is
    the exercised stateful API here."""
    import pytest

    pytest.importorskip("google.protobuf.descriptor")
    import pandas as pd
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

    class RunningCount(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._count = handle.getValueState("count", "cnt bigint")

        def handleInputRows(self, key, rows, timerValues):
            n = self._count.get()[0] if self._count.exists() else 0
            for pdf in rows:
                n += len(pdf)
            self._count.update((n,))
            yield pd.DataFrame({"key": [key[0]], "n": [n]})

        def close(self) -> None:
            pass

    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    write_batch_file(
        src,
        [ev(0, "a", "2024-01-01 00:00:00"), ev(1, "b", "2024-01-01 00:00:01")],
        "b1.json",
    )
    write_batch_file(
        src,
        [ev(2, "a", "2024-01-01 00:00:02"), ev(3, "a", "2024-01-01 00:00:03")],
        "b2.json",
    )
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        out = (
            stream(spark, src)
            .groupBy("key")
            .transformWithStateInPandas(
                statefulProcessor=RunningCount(),
                outputStructType="key string, n bigint",
                outputMode="Update",
                timeMode="None",
            )
        )
        q = run_to_memory(out, "twscount", ckpt, output_mode="update")
        try:
            latest = {}
            for r in spark.sql("SELECT * FROM twscount").collect():
                latest[r["key"]] = max(latest.get(r["key"], 0), r["n"])
            assert latest == {"a": 3, "b": 1}
        finally:
            q.stop()
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)


def test_streaming_incremental_neardup_admission(spark, tmp_path):
    """d54's production shape as an ACTUAL stream: the corpus MinHash
    band index is a static frame; arriving documents compute their own
    signatures in-stream (stateless narrow ops) and stream-static join
    into the index — a batch admission never re-scans the corpus. A
    near-dup of an indexed doc must collide; fresh content must not."""
    from kpipe_spark.functions import dedup as D

    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    corpus = spark.createDataFrame(
        [
            (100, "alpha beta gamma delta epsilon zeta eta theta"),
            (101, "totally different corpus content sits right here now"),
        ],
        "doc_id bigint, text string",
    )
    index = D.minhash_bands_df(D.minhash_signature_df(corpus)).withColumnRenamed(
        "doc_id", "corpus_id"
    )
    write_batch_file(
        src,
        [
            ev(1, "alpha beta gamma delta epsilon zeta eta theta",
               "2024-01-01 00:00:00"),
            ev(2, "nothing here resembles anything indexed so far at all",
               "2024-01-01 00:00:01"),
        ],
        "b1.json",
    )
    sig = D.minhash_signature_df(stream(spark, src), text_col="key",
                                 id_col="event_id")
    hits = (
        D.minhash_bands_df(sig, id_col="event_id")
        .join(index, ["band", "bucket"])
        .select("event_id", "corpus_id")
    )
    q = run_to_memory(hits, "incremadmit", ckpt)
    try:
        pairs = {
            (r["event_id"], r["corpus_id"])
            for r in spark.sql("SELECT * FROM incremadmit").collect()
        }
        assert pairs == {(1, 100)}
    finally:
        q.stop()
