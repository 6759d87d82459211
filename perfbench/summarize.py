#!/usr/bin/env python3
"""Summarize benchmark runs and compare two sets of them.

A set is a JSONL file with one line per run:
``{"workload": "...", "seed": 1, "trace": 0, "result": <run.py's last line>}``.

    python3 perfbench/summarize.py A.jsonl            # medians, quartiles, spread
    python3 perfbench/summarize.py A.jsonl B.jsonl    # ... and does B agree with A?

For every workload and metric it prints the sample count, median, first
and third quartile (``statistics.quantiles(n=4)``) and the spread
(quartile distance over median). Traced runs add the tracing overhead:
``traced.<metric>`` over the untraced median of ``<metric>``, minus one.
With two sets it checks, for each end-to-end metric in BENCHMARK.json,
that the spread of each set is within the metric's bound (``setup_s``
excepted) and that B's median is not worse than A's by more than the
bound. Exits 1 when a check fails.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))


def load(path: str) -> dict[tuple[str, int], dict[str, list[float]]]:
    """{(workload, trace): {metric: [values]}} plus error counts under
    the pseudo-metrics ``attempted`` and ``failed``."""
    out: dict = defaultdict(lambda: defaultdict(list))
    with open(path) as f:
        for line in f:
            if not line.strip():
                continue
            run = json.loads(line)
            res, key = run["result"], (run["workload"], int(run.get("trace", 0)))
            for name, m in res["metrics"].items():
                out[key][name].append(float(m["value"]))
            out[key]["attempted"].append(float(res["attempted"]))
            out[key]["failed"].append(float(res["failed"]))
    return out


def stats(values: list[float]) -> dict[str, float]:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    return {"n": len(values), "median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / abs(med) if med else 0.0}


def summarize(runs) -> list[str]:
    lines = []
    for (workload, trace), metrics in sorted(runs.items()):
        lines.append(f"{workload} (trace={trace})")
        for name, vals in sorted(metrics.items()):
            s = stats(vals)
            lines.append(f"  {name:40s} n={s['n']:3d} median={s['median']:.6g} "
                         f"q1={s['q1']:.6g} q3={s['q3']:.6g} spread={s['spread']:.3f}")
        plain = runs.get((workload, 0), {})
        if trace:
            for name, vals in sorted(metrics.items()):
                base = name.removeprefix("traced.")
                if name.startswith("traced.") and plain.get(base):
                    over = statistics.median(vals) / statistics.median(plain[base]) - 1
                    lines.append(f"  tracing overhead on {base}: {over:+.1%}")
    return lines


def agree(a, b, bench: dict) -> list[str]:
    """Findings where set B disagrees with set A beyond the bounds."""
    problems = []
    workloads = sorted({w for w, t in a if t == 0} | {w for w, t in b if t == 0})
    for w in workloads:
        for m in bench["end_to_end"]:
            name, bound = m["name"], m["bound"]
            va, vb = a.get((w, 0), {}).get(name), b.get((w, 0), {}).get(name)
            if not va or not vb:
                problems.append(f"{w}/{name}: missing in one set")
                continue
            sa, sb = stats(va), stats(vb)
            if name != "setup_s":
                for tag, s in (("A", sa), ("B", sb)):
                    if s["spread"] > bound:
                        problems.append(f"{w}/{name}: spread {s['spread']:.3f} of set {tag} > {bound}")
            change = sb["median"] / sa["median"] - 1
            worse = change if m["better"] == "lower" else -change
            if worse > bound:
                problems.append(f"{w}/{name}: B is {worse:.1%} worse than A (bound {bound:.0%})")
    return problems


def main(argv: list[str]) -> int:
    if not 1 <= len(argv) <= 2:
        print(__doc__, file=sys.stderr)
        return 2
    sets = [load(p) for p in argv]
    for path, runs in zip(argv, sets):
        print(f"== {path}")
        print("\n".join(summarize(runs)))
    if len(sets) == 1:
        return 0
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    problems = agree(sets[0], sets[1], bench)
    print("\n".join(problems) if problems else "the two sets agree within the bounds")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
