"""Tests for the benchmark's own code (no Spark session needed).

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import re
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import gen, oracle, summarize  # noqa: E402
from perfbench.trace import Span, layer_self_times, self_times  # noqa: E402
from perfbench.workloads import (  # noqa: E402
    E2E_METRICS,
    PER_LAYER_UNITS,
    WORKLOADS,
    dws_oracle,
    tail,
)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NAME = re.compile(r"[A-Za-z0-9_.-]+")


def _dataset_bytes(path: str) -> dict[str, bytes]:
    return {f: open(os.path.join(path, f), "rb").read() for f in sorted(os.listdir(path))}


def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path):
    for name, seed in (("a", 7), ("b", 7), ("c", 8)):
        gen.write_dataset(str(tmp_path / name), gen.events(seed, n=2_000))
    a, b, c = (_dataset_bytes(str(tmp_path / n)) for n in "abc")
    assert a == b
    assert a["events.parquet"] != c["events.parquet"]
    assert a["nation.parquet"] == c["nation.parquet"]  # dims are seed-free


def test_events_follow_the_fixture_shape():
    ev = gen.events(3)
    assert ev.num_rows == gen.N_EVENTS
    con = duckdb.connect()
    con.register("ev", ev)
    users, types, lo, hi, ordered = con.execute(
        "SELECT COUNT(DISTINCT user_id), COUNT(DISTINCT event_type), "
        "MIN(ts), MAX(ts), bool_and(event_id = rn) FROM "
        "(SELECT *, row_number() OVER (ORDER BY ts, event_id) - 1 AS rn FROM ev)"
    ).fetchone()
    assert users == gen.N_USERS and types == len(gen.EVENT_TYPES)
    assert (hi - lo).days < gen.SPAN_DAYS and ordered
    assert con.execute("SELECT MAX(event_id) FROM ev").fetchone()[0] < gen.ORD_MODULUS


def test_ods_files_cover_the_events_in_wire_units():
    ev = gen.events(5, n=1_050)
    files = gen.ods_files(ev, 500)
    assert [f.num_rows for f in files] == [500, 500, 50]
    assert files[0]["ts"][0].as_py() == ev["ts"][0].value * 1000


def test_metric_names_and_benchmark_json_agree():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert e2e == E2E_METRICS
    assert layer == PER_LAYER_UNITS
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
    for name in [*e2e, *layer, *WORKLOADS]:
        assert NAME.fullmatch(name) and len(name) <= 64, name


def test_oracle_check_flags_a_planted_wrong_answer():
    con = duckdb.connect()
    con.register("ev", gen.events(11, n=3_000))
    sql = dws_oracle(2_000)
    right = con.execute(sql).fetchdf()
    assert oracle.check(right, con, sql) is None
    wrong = right.copy()
    wrong.loc[wrong.index[5], "order_amount"] += 0.01
    assert oracle.check(wrong, con, sql) is not None
    assert oracle.check(right.iloc[1:], con, sql) is not None  # a lost row


def _span(i, start, end, parent=None, layer="x"):
    return Span(f"s{i}", f"n{i}", layer, start, end, parent, None)


def test_self_time_subtracts_the_union_of_children():
    spans = [
        _span(0, 0.0, 10.0, layer="bench"),
        _span(1, 1.0, 4.0, "s0", "streaming"),
        _span(2, 3.0, 5.0, "s0", "serving"),  # overlaps s1: union is 1..5
        _span(3, 8.0, 12.0, "s0", "check"),  # runs past the parent: clipped
        _span(4, 1.5, 2.0, "s1", "serving"),
    ]
    st = self_times(spans)
    assert st["s0"] == pytest.approx(10.0 - 4.0 - 2.0)
    assert st["s1"] == pytest.approx(3.0 - 0.5)
    assert st["s4"] == pytest.approx(0.5)
    by_layer = layer_self_times(spans)
    assert by_layer["serving"] == pytest.approx(2.0 + 0.5)
    # the root's 10 s, plus s3's 2 s outside it, plus the 1 s s1 and s2 share
    assert sum(by_layer.values()) == pytest.approx(13.0)


def test_tail_has_ten_samples_beyond_it():
    xs = list(range(1, 101))
    value, pct, n = tail(xs)
    assert (pct, n) == (90.0, 100)
    assert sum(x > value for x in xs) == 10
    assert tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)


def test_agree_flags_a_worse_median():
    bench = {"end_to_end": [{"name": "latency_ms", "better": "lower", "bound": 0.1}]}
    a = {("w", 0): {"latency_ms": [10.0, 10.1, 9.9, 10.0]}}
    same = {("w", 0): {"latency_ms": [10.05, 10.0, 9.95, 10.1]}}
    slow = {("w", 0): {"latency_ms": [12.0, 12.1, 11.9, 12.0]}}
    assert summarize.agree(a, same, bench) == []
    assert summarize.agree(a, slow, bench)
