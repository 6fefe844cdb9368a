"""Property-based tests (hypothesis) for the pure-Python invariants —
the analogue of the reference's jqwik layer (SURVEY §5.2:
OffsetInvariantPropertyTest, CircuitBreakerPropertyTest, ...). These
run without a Spark session, so they explore hundreds of cases in
milliseconds."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from kpipe_spark.pipeline.schema_registry import (
    parse_protobuf_envelope,
    read_zigzag_varint,
)
from kpipe_spark.streaming.runner import CircuitBreaker

import pytest

# Round-14 suite tiering: this module is in the SLOW tier (excluded from
# the driver's default `pytest tests/ -q` run by addopts; run with -m slow).
# See pyproject.toml [tool.pytest.ini_options] for the rationale.
pytestmark = pytest.mark.slow



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


@given(st.integers(min_value=-(2**31), max_value=2**31 - 1))
def test_zigzag_varint_roundtrip(n):
    value, pos = read_zigzag_varint(_zigzag_varint(n), 0)
    assert value == n
    assert pos == len(_zigzag_varint(n))


@given(
    st.integers(min_value=0, max_value=2**31 - 1),
    st.lists(st.integers(min_value=0, max_value=1000), min_size=1, max_size=8),
    st.binary(max_size=64),
)
def test_protobuf_envelope_roundtrip(schema_id, indexes, body):
    wire = _zigzag_varint(len(indexes)) + b"".join(
        _zigzag_varint(i) for i in indexes
    )
    raw = b"\x00" + schema_id.to_bytes(4, "big") + wire + body
    sid, idx, out_body = parse_protobuf_envelope(raw)
    assert sid == schema_id
    assert idx == indexes
    assert out_body == body


@given(st.binary(max_size=64))
def test_protobuf_envelope_shorthand_zero(body):
    raw = b"\x00" + (42).to_bytes(4, "big") + b"\x00" + body
    sid, idx, out_body = parse_protobuf_envelope(raw)
    assert (sid, idx, out_body) == (42, [0], body)


def _per_record_breaker(batches, threshold, window):
    """Reference breaker: one window entry per record, trimmed after
    each batch. Yields (window contents, state, trips) after each
    batch."""
    outcomes: list[int] = []
    state, trips = "CLOSED", 0
    for passed, filtered, failed in batches:
        if state == "OPEN":
            state = "HALF_OPEN"
        for _ in range(passed + filtered):
            outcomes.append(0)
        for _ in range(failed):
            outcomes.append(1)
        outcomes = outcomes[-window:]
        if state == "HALF_OPEN":
            if failed > 0:
                state, trips = "OPEN", trips + 1
            else:
                state, outcomes = "CLOSED", []
        elif state == "CLOSED" and len(outcomes) >= window:
            if sum(outcomes) / len(outcomes) >= threshold:
                state, trips = "OPEN", trips + 1
        yield list(outcomes), state, trips


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=50),  # passed
            st.integers(min_value=0, max_value=50),  # filtered
            st.integers(min_value=0, max_value=50),  # failed
        ),
        min_size=1,
        max_size=50,
    )
)
@settings(deadline=None)
def test_circuit_breaker_invariants(batches):
    """State-machine invariants under arbitrary outcome sequences
    (CircuitBreakerPropertyTest analogue):
    - state is always one of CLOSED/OPEN/HALF_OPEN,
    - window contents, state and trips equal the per-record reference
      after every batch (batches run past the window, so the capped
      appends are exercised),
    - an all-success history never trips."""
    cb = CircuitBreaker(failure_threshold=0.5, window=30, open_duration_s=0.0)
    reference = _per_record_breaker(batches, threshold=0.5, window=30)
    for (passed, filtered, failed), expected in zip(batches, reference):
        if cb.state == "OPEN":
            cb.gate()  # open_duration 0 -> immediate HALF_OPEN probe
        cb.record(passed, filtered, failed)
        assert cb.state in ("CLOSED", "OPEN", "HALF_OPEN")
        assert (list(cb._outcomes), cb.state, cb.trips) == expected

    clean = CircuitBreaker(failure_threshold=0.5, window=10)
    for passed, filtered, _ in batches:
        clean.record(passed, filtered, 0)
    assert clean.state == "CLOSED" and clean.trips == 0


@given(
    st.lists(st.integers(min_value=0, max_value=1_000_000), min_size=1, max_size=100)
)
@settings(deadline=None)
def test_backpressure_governor_invariants(lags):
    """Governor invariants under arbitrary lag traces (the jqwik-style
    analogue for BackpressureController semantics):
    - admission always within [min_admission, max_admission],
    - admission never shrinks while lag is at/below the low watermark,
    - a resume (lag <= low while paused) always restores max_admission,
    - paused implies some earlier sample reached the high watermark."""
    from kpipe_spark.streaming.backpressure import BackpressureGovernor

    g = BackpressureGovernor(
        high_watermark=10_000,
        low_watermark=7_000,
        max_admission=64_000,
        min_admission=500,
    )
    ever_high = False
    for lag in lags:
        before_paused = g.paused
        adm = g.observe(lag)
        ever_high = ever_high or lag >= g.high_watermark
        assert g.min_admission <= adm <= g.max_admission
        if before_paused and lag <= g.low_watermark:
            assert adm == g.max_admission and not g.paused
        if g.paused:
            assert ever_high


@given(st.integers(min_value=0, max_value=1 << 40), st.integers(min_value=0, max_value=1 << 40))
@settings(deadline=None)
def test_kafka_lag_clamped_and_additive(end, latest):
    """Per-partition lag is max(0, latest - end) — never negative, and
    partitions sum (calculateTotalLag, BackpressureController.java:164-186)."""
    from kpipe_spark.streaming.backpressure import kafka_lag

    progress = {
        "sources": [
            {
                "endOffset": {"t": {"0": end, "1": 10}},
                "latestOffset": {"t": {"0": latest, "1": 10}},
            }
        ]
    }
    assert kafka_lag(progress) == max(0, latest - end)


@given(st.text(max_size=40))
@settings(deadline=None)
def test_md5_hash60_matches_duckdb(s):
    """The cross-engine hash bridge: Python's hashlib agrees with
    DuckDB's md5 on arbitrary unicode, so the Spark expression
    (conv(substr(md5(x),1,15),16,10)) is checkable from pure Python."""
    import hashlib

    import duckdb

    py = int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)
    duck = duckdb.sql(
        "SELECT CAST(concat('0x', substr(md5(?), 1, 15)) AS BIGINT)", params=[s]
    ).fetchone()[0]
    assert py == duck


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=15),
            st.integers(min_value=0, max_value=15),
        ),
        min_size=1,
        max_size=12,
    )
)
@settings(deadline=None, max_examples=15)
def test_connected_components_matches_union_find(spark, pairs):
    """Spark's iterative min-label propagation agrees with a pure-Python
    union-find on arbitrary small graphs (cluster id = min node id of
    the component) — the invariant d24/d47/d52 build on."""
    from kpipe_spark.functions.dedup import connected_components

    pairs = [(a, b) for a, b in pairs if a != b]
    if not pairs:
        return

    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in pairs:
        union(a, b)
    expected = {n: find(n) for n in parent}

    df = spark.createDataFrame(pairs, "id_a int, id_b int")
    got = {
        r["id"]: r["cluster_id"] for r in connected_components(df).collect()
    }
    assert got == expected


# -- multimodal codec invariants (pure Python, no Spark) ----------------------


@given(
    st.integers(min_value=1, max_value=40),
    st.integers(min_value=1, max_value=30),
    st.integers(min_value=0, max_value=2**40),
)
@settings(deadline=None)
def test_png_encode_decode_roundtrip(w, h, seed):
    """decode_png(png_bytes(...)) recovers geometry and the exact pixel
    sum for ARBITRARY dims/seeds, and the byte size matches the closed
    form the m01 oracle predicts (68 + h*(w+1), stored-mode zlib)."""
    from kpipe_spark.functions.multimodal import decode_png, png_bytes

    b = png_bytes(w, h, seed)
    assert len(b) == 68 + h * (w + 1)
    W, H, n, s = decode_png(b)
    assert (W, H, n) == (w, h, w * h)
    assert s == sum((i * 7 + seed) % 256 for i in range(w * h))


@given(
    st.integers(min_value=1, max_value=500),
    st.sampled_from([8000, 16000, 44100]),
    st.integers(min_value=0, max_value=2**40),
)
@settings(deadline=None)
def test_wav_encode_decode_roundtrip(n, rate, seed):
    from kpipe_spark.functions.multimodal import decode_wav, wav_bytes

    b = wav_bytes(n, rate, seed)
    assert len(b) == 44 + 2 * n
    r, n_out, s = decode_wav(b)
    assert (r, n_out) == (rate, n)
    assert s == sum(abs(((i * 13 + seed) % 201) - 100) for i in range(n))


@given(
    st.integers(min_value=1, max_value=8),
    st.integers(min_value=1, max_value=16),
    st.integers(min_value=1, max_value=12),
    st.integers(min_value=0, max_value=2**40),
)
@settings(deadline=None)
def test_video_container_roundtrip(frames, w, h, seed):
    from kpipe_spark.functions.multimodal import decode_video, video_bytes

    b = video_bytes(frames, w, h, seed)
    assert len(b) == frames * (72 + h * (w + 1))
    W, H, fr, n, s = decode_video(b)
    assert (W, H, fr, n) == (w, h, frames, frames * w * h)


@given(st.binary(max_size=200))
def test_decoders_reject_garbage_as_value_errors(raw):
    """Arbitrary bytes must raise ValueError (the outcome-discipline
    error class), never IndexError/struct.error/zlib.error leaking out
    as something the mapInPandas featurizer's contract doesn't name."""
    import pytest

    from kpipe_spark.functions.multimodal import decode_png, decode_video, decode_wav

    for dec in (decode_png, decode_wav, decode_video):
        try:
            dec(raw)
        except ValueError:
            pass
        except Exception as exc:  # noqa: BLE001
            pytest.fail(f"{dec.__name__} leaked {type(exc).__name__}: {exc}")


@given(
    st.integers(min_value=1, max_value=20),
    st.integers(min_value=1, max_value=120),
)
@settings(deadline=None, max_examples=30)
def test_truncated_png_raises_value_error(w, cut):
    """Truncating a VALID PNG anywhere must raise ValueError, never
    struct.error — random garbage almost never carries the signature,
    so this adversarial case needs its own property."""
    import pytest

    from kpipe_spark.functions.multimodal import decode_png, png_bytes

    b = png_bytes(w, 4, seed=1)
    cut = min(cut, len(b) - 1)
    try:
        decode_png(b[:cut])
    except ValueError:
        pass
    except Exception as exc:  # noqa: BLE001
        pytest.fail(f"decode_png leaked {type(exc).__name__}: {exc}")
