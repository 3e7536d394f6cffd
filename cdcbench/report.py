"""Layer report: self time per layer and tracing overhead, one row per workload.

    python3 cdcbench/report.py [--workloads tail,compact,backfill] [--seed 1] [--seconds N]

For each workload it makes one untraced and one traced run with the same
seed. The traced run's spans give each layer's self time per micro-batch
(a span's duration minus the part its children cover). The overhead is the
traced run's end-to-end metrics against the untraced run's.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from cdcbench.run import execute  # noqa: E402

LAYERS = ("vstream.call", "latestOffset", "queryPlanning", "walCommit", "addBatch",
          "commitOffsets", "batch")


def self_times(spans: list[dict]) -> dict[str, float]:
    """Mean self time per measured batch, in ms, of each layer span."""
    per: dict[str, float] = defaultdict(float)
    batches = {s["trace"] for s in spans if s["name"] == "batch" and s["trace"] != 0}
    for b in batches:
        mine = [s for s in spans if s["trace"] == b]
        dur = {s["name"]: s["end"] - s["start"] for s in mine if s["name"] != "vstream.call"}
        calls = sum(s["end"] - s["start"] for s in mine if s["name"] == "vstream.call")
        per["vstream.call"] += calls
        per["latestOffset"] += dur.get("latestOffset", 0.0) - calls
        for k in LAYERS[2:-1]:
            per[k] += dur.get(k, 0.0)
        per["batch"] += dur["batch"] - sum(dur.get(k, 0.0) for k in LAYERS[1:-1])
    return {k: per[k] * 1e3 / max(1, len(batches)) for k in LAYERS}


def main(argv=None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=bench["run_seconds"])
    a = ap.parse_args(argv)
    head = ("| workload | " + " | ".join(f"{k} ms" for k in LAYERS)
            + " | events/s untraced → traced | lag p50 ms untraced → traced | overhead |")
    rows = [head, "|" + "---|" * (len(LAYERS) + 4)]
    for w in a.workloads.split(","):
        plain = execute(w, a.seed, a.seconds, trace=False)
        traced = execute(w, a.seed, a.seconds, trace=True)
        st = self_times(traced["spans"])
        d_rate = traced["events_per_s"] / plain["events_per_s"] - 1
        d_lag = traced["lag_p50_ms"] / plain["lag_p50_ms"] - 1
        rows.append(
            f"| {w} | " + " | ".join(f"{st[k]:.0f}" for k in LAYERS)
            + f" | {plain['events_per_s']:.0f} → {traced['events_per_s']:.0f}"
            + f" | {plain['lag_p50_ms']:.0f} → {traced['lag_p50_ms']:.0f}"
            + f" | {d_rate:+.1%} events/s, {d_lag:+.1%} lag p50 |"
        )
    print("\n".join(rows))
    return 0


if __name__ == "__main__":
    sys.exit(main())
