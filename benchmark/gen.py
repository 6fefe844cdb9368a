"""Seeded input generators for the benchmark.

Everything the engine reads in a run is made here from ``--seed``:

- ``stream_files``: Kafka-shaped records (the ``sources.KAFKA_SCHEMA``
  envelope, FIXTURES.md F1) split into parquet files, with the ground
  truth outcome of every record. The payload is JSON; the outcome mix is
  about 1% malformed bytes, 5% error flag, 47% filtered and 47% passed.
  Keys are Zipf-skewed over a fixed key space with about 2% null keys;
  offsets are contiguous per partition across all files of a stream.
- ``relational_tables``: the TPC-H-shaped star schema plus ``events``
  in the shape of the engine's sf0.1 test tables (column names, parquet
  types, key ranges and value distributions), so the registry queries
  and their DuckDB oracles run unchanged.

Only numpy/pyarrow are used (no Spark), so generation stays outside the
engine's timings and the same seed gives byte-identical files.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TOPIC = "orders"
N_PARTITIONS = 8
N_KEYS = 2000
ZIPF_A = 1.3
NULL_KEY_SHARE = 0.02

# outcome mix (cumulative thresholds over one uniform draw per record)
MALFORMED_SHARE = 0.01
ERROR_SHARE = 0.05
FILTERED_SHARE = 0.47

PASSED, FILTERED, FAILED = "passed", "filtered", "failed"

# 2026-01-01T00:00:00Z in microseconds; event times advance 1 ms/offset
BASE_TS_US = 1_767_225_600_000_000

KAFKA_ARROW_SCHEMA = pa.schema(
    [
        ("key", pa.binary()),
        ("value", pa.binary()),
        ("topic", pa.string()),
        ("partition", pa.int32()),
        ("offset", pa.int64()),
        # UTC TIMESTAMP (isAdjustedToUTC=true), what the real Kafka
        # source yields; an NTZ column would not match KAFKA_SCHEMA
        ("timestamp", pa.timestamp("us", tz="UTC")),
        ("timestampType", pa.int32()),
        (
            "headers",
            pa.list_(pa.struct([("key", pa.string()), ("value", pa.binary())])),
        ),
    ]
)

# the JSON payload the pipeline decodes (decode_json's schema argument)
PAYLOAD_SCHEMA = "id string, customerId string, status string, total double, kind string, note string"


def _payloads(rng: np.random.Generator, n: int, part, offs):
    """JSON payload bytes + ground-truth outcome for n records."""
    u = rng.random(n)
    # filtered records fail exactly one of the three filter rules
    filt_rule = rng.integers(0, 3, n)
    totals = np.round(rng.uniform(1.0, 500.0, n), 2)
    cust = rng.integers(1, 100_000, n)
    note_len = rng.integers(16, 96, n)
    alphabet = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz0123456789 ", dtype="S1")
    note_chars = rng.choice(alphabet, int(note_len.sum()))
    note_blob = note_chars.tobytes().decode()
    values: list[bytes] = []
    outcomes: list[str] = []
    pos = 0
    for i in range(n):
        note = note_blob[pos : pos + note_len[i]]
        pos += note_len[i]
        rid = f"o-{part[i]}-{offs[i]}"
        if u[i] < MALFORMED_SHARE:
            # truncated JSON: the deserialize-failure path
            values.append(f'{{"id": "{rid}", "total": {totals[i]}, "note": "{note}'.encode())
            outcomes.append(FAILED)
            continue
        doc = {
            "id": rid,
            "customerId": f"c{cust[i]}",
            "status": "active",
            "total": float(totals[i]),
            "kind": "ok",
            "note": note,
        }
        if u[i] < MALFORMED_SHARE + ERROR_SHARE:
            doc["kind"] = "error"
            outcome = FAILED
        elif u[i] < MALFORMED_SHARE + ERROR_SHARE + FILTERED_SHARE:
            rule = filt_rule[i]
            if rule == 0:
                doc["customerId"] = None
            elif rule == 1:
                doc["status"] = "inactive"
            else:
                doc["total"] = -float(totals[i])
            outcome = FILTERED
        else:
            outcome = PASSED
        values.append(json.dumps(doc, separators=(",", ":")).encode())
        outcomes.append(outcome)
    return values, outcomes


def _keys(rng: np.random.Generator, n: int) -> list[bytes | None]:
    ranks = rng.zipf(ZIPF_A, n)
    ranks = np.where(ranks > N_KEYS, rng.integers(1, N_KEYS + 1, n), ranks)
    null = rng.random(n) < NULL_KEY_SHARE
    return [None if null[i] else b"user-%d" % ranks[i] for i in range(n)]


def stream_files(seed: int, out_dir: str, sizes: list[int], prefix: str,
                 first_offsets: list[int] | None = None) -> dict:
    """Write ``len(sizes)`` parquet files of Kafka-shaped records.

    Records are dealt round-robin-by-draw over ``N_PARTITIONS``
    partitions with contiguous offsets per partition (continuing from
    ``first_offsets``). Returns the manifest: per file its name, record
    count and the (partition, offset) -> outcome truth, plus the next
    free offset per partition so a second stream can continue it.
    """
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    next_off = list(first_offsets or [0] * N_PARTITIONS)
    files = []
    for idx, n in enumerate(sizes):
        part = rng.integers(0, N_PARTITIONS, n).astype(np.int32)
        offs = np.empty(n, dtype=np.int64)
        for p in range(N_PARTITIONS):
            sel = np.nonzero(part == p)[0]
            offs[sel] = np.arange(next_off[p], next_off[p] + len(sel))
            next_off[p] += len(sel)
        values, outcomes = _payloads(rng, n, part, offs)
        keys = _keys(rng, n)
        ts = BASE_TS_US + offs * 1000 + part.astype(np.int64)
        trace = [
            [{"key": "traceparent", "value": b"00-%032x-%016x-01" % (seed, i)}]
            for i in range(n)
        ]
        table = pa.table(
            {
                "key": pa.array(keys, pa.binary()),
                "value": pa.array(values, pa.binary()),
                "topic": pa.array([TOPIC] * n, pa.string()),
                "partition": pa.array(part, pa.int32()),
                "offset": pa.array(offs, pa.int64()),
                "timestamp": pa.array(ts, pa.timestamp("us", tz="UTC")),
                "timestampType": pa.array(np.zeros(n, np.int32), pa.int32()),
                "headers": pa.array(trace, KAFKA_ARROW_SCHEMA.field("headers").type),
            },
            schema=KAFKA_ARROW_SCHEMA,
        )
        name = f"{prefix}-{idx:05d}.parquet"
        pq.write_table(table, os.path.join(out_dir, name))
        files.append(
            {
                "name": name,
                "records": n,
                "truth": {
                    (int(p), int(o)): oc for p, o, oc in zip(part, offs, outcomes)
                },
            }
        )
    return {"files": files, "next_offsets": next_off}


def outcome_totals(files: list[dict]) -> dict[str, int]:
    tot = {PASSED: 0, FILTERED: 0, FAILED: 0}
    for f in files:
        for oc in f["truth"].values():
            tot[oc] += 1
    return tot


# -- relational tables ------------------------------------------------------
# Shape of the engine's sf0.1 test tables (TESTDATA.md), profiled column by
# column: the same names and parquet types (timestamps are microsecond
# TIMESTAMP without time zone), 0-based keys, and independent uniform
# columns, except events.value (exponential, mean 50) and events.ts (sorted
# by event_id). Row counts scale with ``sf`` as in TPC-H: sf 0.1 gives the
# fixture's 15 000 customers, 1 000 suppliers, 150 000 orders, 600 000
# lineitems and 100 000 events.

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]

# days since epoch: order dates 1995-01-01 .. 2001-08-01, ship dates
# 1995-01-02 .. 2001-11-04 (both inclusive)
_ORDER_DAYS = (9131, 11535)
_SHIP_DAYS = (9132, 11630)
# events span 30 days from 2024-01-01
_EVENTS_T0_US = 1_704_067_200_000_000
_US_PER_DAY = 86_400_000_000


def _ntz(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype(np.int64), pa.timestamp("us"))


def _days(rng: np.random.Generator, span: tuple[int, int], n: int) -> pa.Array:
    return _ntz(rng.integers(span[0], span[1] + 1, n) * _US_PER_DAY)


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)], pa.string())


def relational_tables(seed: int, out_dir: str, sf: float) -> dict[str, int]:
    """Write region, nation, customer, supplier, orders, lineitem and
    events at scale factor ``sf``, one parquet file per table (snappy,
    one row group, like the fixture); returns the row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_orders = int(1_500_000 * sf)
    n_li = int(6_000_000 * sf)
    n_events = int(1_000_000 * sf)
    n_users = int(15_000 * sf)
    n_parts = int(200_000 * sf)
    tables: dict[str, pa.Table] = {}

    tables["region"] = pa.table(
        {
            "r_regionkey": pa.array(np.arange(5), pa.int32()),
            "r_name": pa.array(_REGIONS, pa.string()),
        }
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
            "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
        }
    )
    ck = np.arange(n_cust)
    tables["customer"] = pa.table(
        {
            "c_custkey": pa.array(ck, pa.int64()),
            "c_name": pa.array([f"Customer#{k:09d}" for k in ck], pa.string()),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": pa.array(_cents(rng, -999.99, 9999.99, n_cust), pa.float64()),
            "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
        }
    )
    sk = np.arange(n_supp)
    tables["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(sk, pa.int64()),
            "s_name": pa.array([f"Supplier#{k:09d}" for k in sk], pa.string()),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": pa.array(_cents(rng, -999.99, 9999.99, n_supp), pa.float64()),
        }
    )
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_orders),
            "o_totalprice": pa.array(_cents(rng, 1000.0, 500_000.0, n_orders), pa.float64()),
            "o_orderdate": _days(rng, _ORDER_DAYS, n_orders),
            "o_orderpriority": _pick(rng, _PRIORITIES, n_orders),
        }
    )
    # lines draw their order uniformly (about 1.8% of orders get none)
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_orders, n_li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_parts, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64), pa.float64()),
            "l_extendedprice": pa.array(_cents(rng, 900.0, 105_000.0, n_li), pa.float64()),
            "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0, pa.float64()),
            "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0, pa.float64()),
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
            "l_linestatus": _pick(rng, ["F", "O"], n_li),
            "l_shipdate": _days(rng, _SHIP_DAYS, n_li),
        }
    )
    ev_ts = np.sort(rng.integers(_EVENTS_T0_US, _EVENTS_T0_US + 30 * _US_PER_DAY, n_events))
    tables["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_events), pa.int64()),
            "ts": _ntz(ev_ts),
            "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
            "event_type": _pick(rng, _EVENT_TYPES, n_events),
            "value": pa.array(np.round(rng.exponential(50.0, n_events), 2), pa.float64()),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)], pa.string()
            ),
        }
    )
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"), row_group_size=n_li)
    return {name: t.num_rows for name, t in tables.items()}
