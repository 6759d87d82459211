#!/usr/bin/env python
"""One-decade scale probe of the REAL-streaming artifact rows.

The round-9 sf1 probe covered batch operators only; this measures the
COLD builds of the streaming/artifact rows — the actual
readStream → stateful chain → writeStream executions — at sf0.1 (the
bench scale) and at the 10x sf1 probe dataset (tools/gen_sf1_probe.py;
dim tables customer/nation/region and the batch fact tables are
symlinked from sf0.1 into the probe dir — dims stay fixed while the
stream grows, which is the realistic decade).

Method: the shared sliced-source artifacts are pre-built UNTIMED, so
each row's number is its own streaming execution (state build + sink
write), not source prep. Reported per row and scale:

- build wall seconds (cold: its artifact evicted first)
- sink rows
- max state rows across batches (from the build's progress.jsonl,
  where the build records one — j13/app1s/app2s do)

A watermark/range-bounded stateful operator should scale ≈ linearly in
wall time (ratio ≈≤10 on 10x data) with state bounded by rate × range,
NOT by stream length.

    python tools/stream_scale_probe.py [sf1_dir] [row_name ...]

Optional trailing row names restrict the probe (re-measuring only the
rows added or changed in a round instead of paying the full ~20 min
sweep — d9x alone is ~10 min at sf1).
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF01 = "/root/testdata/sf0.1"

# row name → the artifact kinds its build owns (evicted for a cold
# measurement; shared sources are pre-built untimed and NOT evicted)
ROWS: list[tuple[str, tuple[str, ...]]] = [
    ("w12_session_window_stream_readback", ("w12",)),
    ("w13_sliding_window_stream_readback", ("w13",)),
    ("j15_dim_join_stream_readback", ("j15",)),
    ("x1s_log_split_stream_readback", ("x1s",)),
    ("d7x_dedup_gate_stream_readback", ("d7x",)),
    ("d9x_semantic_gate_stream_readback", ("d9x",)),
    ("app1s_order_detail_stream_chain", ("app1s",)),
    ("app2s_province_order_stream_chain", ("app2s",)),
    # round-11 additions (app1s re-measured too: its topology grew to
    # the full four-stream / 7-operator chain this round)
    ("app3s_sku_order_stream_chain", ("app3s",)),
    ("app4s_dim_app_stream_chain", ("app4s",)),
    ("app5s_base_log_stream_chain", ("app5s",)),
    ("app6s_traffic_page_view_stream_chain", ("app6s",)),
    ("app7s_user_login_stream_chain", ("app7s",)),
    ("app8s_keyword_window_stream_chain", ("app8s",)),
    ("app9s_pay_detail_stream_chain", ("app9s",)),
    ("app9x_pay_detail_crash_restart", ("app9x",)),
    ("app10s_cart_add_uu_stream_chain", ("app10s",)),
    ("app11s_order_cancel_stream_chain", ("app11s",)),
    ("app12s_cart_add_stream_chain", ("app12s",)),
    ("app13s_comment_info_stream_chain", ("app13s",)),
    ("app14s_base_db_stream_chain", ("app14s",)),
    ("app15s_order_refund_stream_chain", ("app15s",)),
    ("app16s_home_detail_stream_chain", ("app16s",)),
    ("app17s_refund_pay_suc_stream_chain", ("app17s",)),
    # round-12 additions: the keyed-Python-state crash restart and the
    # two mid-stream dim-refresh rows (update + delete paths)
    ("app7x_user_login_crash_restart", ("app7x",)),
    ("j16_dim_refresh_stream_readback", ("j16",)),
    ("j16b_dim_delete_stream_readback", ("j16b",)),
]


def _max_state_rows(spark, sf_dir: str, kind: str) -> int | None:
    from real_time_data_warehouse_spark import artifacts

    entry = artifacts._STORE.get(artifacts.key(spark, sf_dir, kind))
    if entry is None:
        return None
    path = os.path.join(entry.value, "progress.jsonl")
    if not os.path.exists(path):
        return None
    mx = 0
    with open(path) as f:
        for line in f:
            r = json.loads(line)
            mx = max(
                mx,
                sum(
                    s.get("numRowsTotal", 0)
                    for s in r.get("stateOperators", [])
                ),
            )
    return mx


def _evict_kinds(spark, sf_dir: str, kinds: tuple[str, ...]) -> None:
    from real_time_data_warehouse_spark import artifacts

    for kind in kinds:
        artifacts.evict(artifacts.key(spark, sf_dir, kind))


def main() -> int:
    sf1 = sys.argv[1] if len(sys.argv) > 1 else "/tmp/rtdw_sf1_probe"
    if not os.path.isdir(sf1):
        print(f"sf1 probe dir {sf1} missing — run tools/gen_sf1_probe.py")
        return 1
    only = set(sys.argv[2:])
    rows = [r for r in ROWS if not only or r[0] in only]

    from real_time_data_warehouse_spark.operators.app_chains import (
        _app5_source,
        _app_source,
    )
    from real_time_data_warehouse_spark.operators.streaming_exec import (
        _SRC_FILES,
        _sliced_source,
    )
    from real_time_data_warehouse_spark.registry import ordered_registry
    from real_time_data_warehouse_spark.session import get_spark

    spark = get_spark("stream-scale-probe", cpus=32)
    reg = ordered_registry()
    results: dict[str, dict[str, dict]] = {}

    for sf_label, sf_dir in (("sf0.1", SF01), ("sf1", sf1)):
        # shared sources pre-built untimed (the per-row numbers then
        # price the streaming execution, not source prep)
        _sliced_source(spark, sf_dir, _SRC_FILES)
        _app_source(spark, sf_dir)
        _app5_source(spark, sf_dir)
        # the gate rows slice documents/embeddings their own way —
        # their sources are small; leave inside the timed build (same
        # treatment both scales, so the ratio is still apples-to-apples)
        for name, kinds in rows:
            _evict_kinds(spark, sf_dir, kinds)
            t0 = time.time()
            n = reg[name].fn(spark, sf_dir).count()
            dt = time.time() - t0
            state = _max_state_rows(spark, sf_dir, kinds[0])
            results.setdefault(name, {})[sf_label] = {
                "sec": round(dt, 3),
                "rows": n,
                "max_state_rows": state,
            }
            print(
                f"{sf_label:6s} {name:44s} {dt:8.3f}s rows={n:<8d} "
                f"state={state}"
            )

    print("\n| query | sf0.1 s | state | sf1 s | state | time ratio |")
    print("|---|---|---|---|---|---|")
    for name, r in results.items():
        a, b = r["sf0.1"], r["sf1"]
        ratio = b["sec"] / a["sec"] if a["sec"] else float("nan")
        print(
            f"| {name} | {a['sec']} | {a['max_state_rows']} | "
            f"{b['sec']} | {b['max_state_rows']} | {ratio:.2f} |"
        )
    with open("/tmp/stream_scale_probe.json", "w") as f:
        json.dump(results, f, indent=2)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
