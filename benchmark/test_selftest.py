"""Self-tests of the benchmark's own machinery (no Spark needed).

    python3 -m pytest benchmark/test_selftest.py -q
"""

from __future__ import annotations

import hashlib
import json
import os
import statistics
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402
import verify  # noqa: E402
from spans import Tracer, quantile, self_times  # noqa: E402


def _digests(d: str) -> dict[str, str]:
    return {
        n: hashlib.sha256(open(os.path.join(d, n), "rb").read()).hexdigest()
        for n in sorted(os.listdir(d))
    }


def test_same_seed_same_stream_files_and_manifest(tmp_path):
    a = gen.stream_files(7, str(tmp_path / "a"), [300, 200], "f")
    b = gen.stream_files(7, str(tmp_path / "b"), [300, 200], "f")
    assert a == b
    assert _digests(str(tmp_path / "a")) == _digests(str(tmp_path / "b"))
    c = gen.stream_files(8, str(tmp_path / "c"), [300, 200], "f")
    assert c["files"][0]["truth"] != a["files"][0]["truth"]


def test_same_seed_same_tables(tmp_path):
    ra = gen.relational_tables(3, str(tmp_path / "a"), 0.001)
    rb = gen.relational_tables(3, str(tmp_path / "b"), 0.001)
    assert ra == rb
    assert _digests(str(tmp_path / "a")) == _digests(str(tmp_path / "b"))
    # TPC-H row counts at the scale factor
    assert (ra["orders"], ra["lineitem"], ra["customer"]) == (1500, 6000, 150)


def test_stream_files_shape(tmp_path):
    m = gen.stream_files(1, str(tmp_path), [4000, 4000], "f")
    t = pq.read_table(os.path.join(str(tmp_path), m["files"][0]["name"]))
    assert t.schema.equals(gen.KAFKA_ARROW_SCHEMA, check_metadata=False)
    # offsets contiguous per partition across files
    offs: dict[int, list[int]] = {}
    for f in m["files"]:
        for p, o in f["truth"]:
            offs.setdefault(p, []).append(o)
    for p, os_ in offs.items():
        assert sorted(os_) == list(range(len(os_)))
    tot = gen.outcome_totals(m["files"])
    n = sum(tot.values())
    assert 0.04 < tot["failed"] / n < 0.08
    assert 0.42 < tot["filtered"] / n < 0.52
    keys = t.column("key").to_pylist()
    assert 0.005 < sum(k is None for k in keys) / len(keys) < 0.04


def _park(path, rows):
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.Table.from_pylist(rows), os.path.join(path, "part-0.parquet"))


def _dlq_row(p, o, headers=None):
    hdr = headers if headers is not None else [
        {"key": "traceparent", "value": b"00"},
        *[{"key": k, "value": b"x"} for k in verify.DLQ_HEADERS[:3]],
        {"key": "x-dlq-source-partition", "value": str(p).encode()},
        {"key": "x-dlq-source-offset", "value": str(o).encode()},
        {"key": "x-dlq-source-timestamp", "value": b"0"},
    ]
    return {"partition": p, "offset": o, "headers": hdr}


TRUTH = {(0, 0): "passed", (0, 1): "passed", (1, 0): "failed", (1, 1): "filtered"}


def test_verifier_accepts_exact_delivery(tmp_path):
    _park(str(tmp_path / "sink"), [{"partition": 0, "offset": 0}, {"partition": 0, "offset": 1}])
    _park(str(tmp_path / "dlq"), [_dlq_row(1, 0)])
    rep = verify.check_stream(TRUTH, str(tmp_path / "sink"), str(tmp_path / "dlq"))
    assert all(v == 0 for k, v in rep.items() if k not in ("sink_rows", "dlq_rows"))


def test_verifier_catches_dropped_and_duplicated(tmp_path):
    # (0, 1) dropped, (0, 0) delivered twice
    _park(str(tmp_path / "sink"), [{"partition": 0, "offset": 0}, {"partition": 0, "offset": 0}])
    _park(str(tmp_path / "dlq"), [_dlq_row(1, 0), _dlq_row(1, 0)])
    rep = verify.check_stream(TRUTH, str(tmp_path / "sink"), str(tmp_path / "dlq"))
    assert rep["sink_missing"] == 1
    assert rep["sink_duplicated"] == 1
    assert rep["dlq_duplicated"] == 1
    assert rep["dlq_missing"] == 0


def test_verifier_catches_misrouted_and_bad_envelope(tmp_path):
    # the filtered record reached the sink; the DLQ row names another offset
    _park(str(tmp_path / "sink"), [
        {"partition": 0, "offset": 0}, {"partition": 0, "offset": 1}, {"partition": 1, "offset": 1},
    ])
    row = _dlq_row(1, 0)
    row["headers"][5] = {"key": "x-dlq-source-offset", "value": b"9"}
    _park(str(tmp_path / "dlq"), [row])
    rep = verify.check_stream(TRUTH, str(tmp_path / "sink"), str(tmp_path / "dlq"))
    assert rep["sink_unexpected"] == 1
    assert rep["dlq_bad_envelope"] == 1


def test_check_query_tolerates_float_order_only():
    import pandas as pd

    a = pd.DataFrame({"k": ["x", "y"], "v": [1.0, 2.0000000001]})
    b = pd.DataFrame({"v": [2.0, 1.0], "k": ["y", "x"]})
    assert verify.check_query(a, b) is None
    c = pd.DataFrame({"k": ["x", "y"], "v": [1.0, 2.5]})
    assert verify.check_query(c, b) is not None
    assert verify.check_query(a.iloc[:1], b) is not None


def test_self_time_arithmetic():
    spans = [
        {"name": "run", "layer": "workload", "start": 0.0, "end": 10.0, "parent": None},
        {"name": "batch", "layer": "streaming", "start": 1.0, "end": 7.0, "parent": 0},
        {"name": "counts", "layer": "pipeline", "start": 1.5, "end": 3.0, "parent": 1},
        {"name": "sink", "layer": "pipeline", "start": 3.0, "end": 5.0, "parent": 1},
        {"name": "build", "layer": "queries", "start": 8.0, "end": 9.0, "parent": 0},
    ]
    st = self_times(spans)
    assert st == pytest.approx({"workload": 3.0, "streaming": 2.5, "pipeline": 3.5, "queries": 1.0})
    # self times partition the root's wall time
    assert sum(st.values()) == pytest.approx(10.0)


def test_tracer_nesting_and_disabled():
    tr = Tracer(True)
    with tr.span("a", "workload"):
        with tr.span("b", "pipeline"):
            pass
    assert [s["parent"] for s in tr.spans] == [None, 0]
    # an untraced block is one span with nothing recorded inside
    with tr.untraced():
        with tr.span("c", "queries"):
            pass
    assert [(s["name"], s["parent"]) for s in tr.spans[2:]] == [("untraced", None)]
    assert tr.enabled
    off = Tracer(False)
    with off.span("a", "workload"):
        pass
    assert off.spans == []


def test_quantile_matches_statistics():
    v = [5.0, 1.0, 4.0, 2.0, 3.0, 9.0]
    assert quantile(v, 0.5) == pytest.approx(statistics.median(v))
    assert quantile(v, 0.9) == pytest.approx(statistics.quantiles(v, n=10, method="inclusive")[-1])
    assert quantile([], 0.9) == 0.0


def test_benchmark_json_matches_runner():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == run.WORKLOADS
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == run.END_TO_END
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == run.PER_LAYER
    assert spec["paths"] == ["benchmark"]


def test_missing_engine_fails_fast(tmp_path, monkeypatch):
    monkeypatch.setattr(run, "ROOT", str(tmp_path))
    rc = run.main(["--workload", run.WORKLOADS[0], "--seed", "1", "--seconds", "1"])
    assert rc != 0
