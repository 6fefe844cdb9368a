"""Correctness checks, independent of Spark.

- ``check_stream``: the sink and DLQ output (read back with pyarrow)
  against the generator's ground truth. Every consumed record must land
  exactly once: passed records in the sink, failed ones in the DLQ with
  the ``x-dlq-*`` envelope describing their own source coordinates.
  Filtered records land nowhere. Records routed to the DLQ by design are
  not failures; a missing, duplicated or misrouted record is.
- ``check_query``: one query result against its registry DuckDB oracle,
  order-insensitive, columns matched by sorted name.
"""

from __future__ import annotations

import glob
import math
import os
from collections import Counter

import pyarrow.parquet as pq

DLQ_HEADERS = (
    "x-dlq-exception-class",
    "x-dlq-exception-message",
    "x-dlq-source-topic",
    "x-dlq-source-partition",
    "x-dlq-source-offset",
    "x-dlq-source-timestamp",
)


def read_rows(path: str, columns: list[str]) -> list[dict]:
    """All rows of every parquet part under ``path`` (recursive)."""
    rows: list[dict] = []
    for f in sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)):
        rows.extend(pq.read_table(f, columns=columns).to_pylist())
    return rows


def check_delivery(truth: dict, sink_keys: list, dlq_keys: list) -> dict:
    """Compare delivered (partition, offset) lists with the truth map
    (key -> passed/filtered/failed). Returns counts of each defect."""
    want_sink = {k for k, oc in truth.items() if oc == "passed"}
    want_dlq = {k for k, oc in truth.items() if oc == "failed"}
    out = {}
    for label, got, want in (("sink", sink_keys, want_sink), ("dlq", dlq_keys, want_dlq)):
        c = Counter(got)
        out[f"{label}_duplicated"] = sum(n - 1 for n in c.values() if n > 1)
        out[f"{label}_missing"] = len(want - c.keys())
        out[f"{label}_unexpected"] = len(c.keys() - want)
    return out


def dlq_envelope_errors(dlq_rows: list[dict]) -> int:
    """DLQ rows whose x-dlq-* headers are absent or name other coordinates."""
    bad = 0
    for r in dlq_rows:
        hdr = {h["key"]: h["value"] for h in (r["headers"] or [])}
        if any(k not in hdr for k in DLQ_HEADERS) or "traceparent" not in hdr:
            bad += 1
            continue
        if (
            hdr["x-dlq-source-partition"] != str(r["partition"]).encode()
            or hdr["x-dlq-source-offset"] != str(r["offset"]).encode()
        ):
            bad += 1
    return bad


def check_stream(truth: dict, sink_dir: str, dlq_dir: str) -> dict:
    sink = read_rows(sink_dir, ["partition", "offset"])
    dlq = read_rows(dlq_dir, ["partition", "offset", "headers"])
    report = check_delivery(
        truth,
        [(r["partition"], r["offset"]) for r in sink],
        [(r["partition"], r["offset"]) for r in dlq],
    )
    report["dlq_bad_envelope"] = dlq_envelope_errors(dlq)
    report["sink_rows"] = len(sink)
    report["dlq_rows"] = len(dlq)
    return report


def _norm(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    if hasattr(v, "item"):  # numpy scalar
        return _norm(v.item())
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def _close(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        # engines sum doubles in different orders: allow the last-bit
        # drift plus one unit of a round(x, 2) that lands on a half cent
        return abs(a - b) <= 0.0100001 + 1e-9 * max(abs(a), abs(b))
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return float(a) == float(b)
    return a == b


def check_query(spark_pdf, oracle_pdf) -> str | None:
    """None when the results agree, else a one-line reason."""
    sc, oc = sorted(spark_pdf.columns), sorted(oracle_pdf.columns)
    if sc != oc:
        return f"columns differ: {sc} vs {oc}"

    def order(t):
        # exact columns first (the group keys), so a float that differs
        # in its last bits cannot reorder rows between the two engines
        exact = tuple(x for x in t if not isinstance(x, float))
        approx = tuple(round(x, 1) for x in t if isinstance(x, float))
        return repr(exact), approx

    def rows(pdf):
        return sorted(
            (tuple(_norm(v) for v in r) for r in pdf[sc].itertuples(index=False)),
            key=order,
        )

    s, o = rows(spark_pdf), rows(oracle_pdf)
    if len(s) != len(o):
        return f"row count {len(s)} vs oracle {len(o)}"
    for a, b in zip(s, o):
        if len(a) != len(b) or not all(_close(x, y) for x, y in zip(a, b)):
            return f"value mismatch: {a} vs {b}"
    return None
