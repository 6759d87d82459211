"""Seeded input generator.

Events follow the distribution of the sf0.1 fixture's ``events`` table
(the one ``tools/gen_sf1_probe.gen_events`` reproduces at other scales):
100,000 time-ordered events over a 30-day span, 1,500 users, five
uniform event types, ``value ~ Exp(mean 50)`` rounded to cents and
``props = {"k": 0..99}``. ``event_id`` is the row number in time order,
so it stays far below the app-chain ord-packing modulus (2^31).

The dimension tables the workloads join (``nation``, ``region``) are
the fixture's fixed domains and do not depend on the seed.

The same seed gives byte-identical files; nothing here reads outside
the directory it is asked to write.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

N_EVENTS = 100_000  # sf0.1 density
N_USERS = 1_500
SPAN_DAYS = 30
EVENT_TYPES = ("error", "signup", "view", "click", "purchase")
START = np.datetime64("2024-01-01T00:00:00", "us")
ORD_MODULUS = 1 << 31  # app_chains packs event_id under this modulus


def events(seed: int, n: int = N_EVENTS) -> pa.Table:
    """The ODS events table for ``seed``: ``ts`` as timestamp[us],
    sorted, with ``event_id`` increasing in time order."""
    if n >= ORD_MODULUS:
        raise ValueError(f"{n} events would overflow the ord-packing modulus")
    rng = np.random.default_rng(seed)
    span_us = SPAN_DAYS * 86_400 * 1_000_000
    ts = START + np.sort(rng.integers(0, span_us, size=n)).astype(
        "timedelta64[us]"
    )
    types = np.array(EVENT_TYPES)
    return pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, N_USERS, size=n), pa.int64()),
            "event_type": pa.array(
                types[rng.integers(0, len(types), size=n)], pa.string()
            ),
            "value": pa.array(
                np.round(rng.exponential(50.0, size=n), 2), pa.float64()
            ),
            "props": pa.array(
                [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, size=n)],
                pa.string(),
            ),
        }
    )


def nation() -> pa.Table:
    keys = np.arange(25)
    return pa.table(
        {
            "n_nationkey": pa.array(keys, pa.int32()),
            "n_name": pa.array([f"NATION_{k}" for k in keys], pa.string()),
            "n_regionkey": pa.array(keys % 5, pa.int32()),
        }
    )


def region() -> pa.Table:
    names = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    return pa.table(
        {
            "r_regionkey": pa.array(np.arange(5), pa.int32()),
            "r_name": pa.array(names, pa.string()),
        }
    )


def write_dataset(out: str, ev: pa.Table) -> None:
    """Write a dataset dir in the fixture layout (one parquet file per
    table) holding ``ev`` and the dims."""
    os.makedirs(out, exist_ok=True)
    for name, tbl in (("events", ev), ("nation", nation()), ("region", region())):
        pq.write_table(tbl, os.path.join(out, f"{name}.parquet"))


def ods_files(ev: pa.Table, rows_per_file: int) -> list[pa.Table]:
    """Split time-ordered events into consecutive ODS files in the wire
    schema the streaming source reads (``ts`` as int64 nanoseconds)."""
    wire = ev.set_column(
        ev.schema.get_field_index("ts"),
        "ts",
        pc.multiply(ev["ts"].cast(pa.int64()), 1000),
    )
    return [
        wire.slice(i, rows_per_file)
        for i in range(0, wire.num_rows, rows_per_file)
    ]
