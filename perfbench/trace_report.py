"""Summarize a trace file written by ``run.py --trace 1``.

    python3 perfbench/trace_report.py perfbench/.work/traces/<workload>-seed<n>.json \\
        [--untraced <file holding the result line of a --trace 0 run>]

Prints the self time of every span name in the timed region and in
set-up (they add up to each region's wall time; the region's own self
time is the unattributed part), every per-layer number, and with
``--untraced`` the tracing overhead: how far each end-to-end metric of
the traced run lies from the untraced run of the same workload and seed.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import tracer as T  # noqa: E402


def _flat(d: dict, prefix: str = "") -> dict:
    out = {}
    for k, v in d.items():
        if isinstance(v, dict):
            out.update(_flat(v, f"{prefix}{k}."))
        else:
            out[f"{prefix}{k}"] = v
    return out


def _self_table(spans: list[dict], root_name: str) -> None:
    root = next(s for s in spans if s["name"] == root_name and s["parent"] is None)
    wall = root["end"] - root["start"]
    selfs = sorted(T.self_by_name(spans, root["id"]).items(), key=lambda kv: -kv[1])
    print(f"\n{root_name}: {wall:.3f} s wall")
    for name, v in selfs:
        label = "(unattributed)" if name == root_name else name
        print(f"  {label:24s} {v:9.3f} s  {100 * v / wall:5.1f} %")
    print(f"  {'sum of self times':24s} {sum(v for _, v in selfs):9.3f} s")


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("trace")
    ap.add_argument("--untraced", help="file whose last line is an untraced run's result")
    args = ap.parse_args(argv)
    with open(args.trace) as fh:
        doc = json.load(fh)

    print(f"{doc['workload']} seed {doc['seed']} ({doc['run']})")
    _self_table(doc["spans"], "timed")
    _self_table(doc["spans"], "setup")
    print("\nper-layer numbers")
    for k, v in sorted(_flat(doc["layers"]).items()):
        print(f"  {k:40s} {v}")
    if args.untraced:
        with open(args.untraced) as fh:
            untraced = json.loads(fh.read().strip().splitlines()[-1])["metrics"]
        print("\ntracing overhead (traced vs untraced, same workload and seed)")
        print(f"  tracer bookkeeping: {doc['layers']['tracing_overhead_ms']:.3f} ms")
        for name, m in doc["metrics"].items():
            base = untraced[name]["value"]
            diff = m[0] - base
            print(f"  {name:24s} {m[0]:12.3f} vs {base:12.3f} {m[1]:5s} "
                  f"({100 * diff / base:+.1f} %)")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
