"""Steadiness self-check: two sets of runs of one workload, compared.

    python3 cdcbench/steady.py --workload tail --runs 5 [--seed0 1] [--seconds N]

Runs ``run.py`` ``2 × runs`` times, one after another: set A with seeds
``seed0 .. seed0+runs-1``, set B with the next ``runs`` seeds. Every run is a
fresh process tree (fresh JVM) that starts from clean checkpoint and output
directories, and ``run.py`` returns only after all its processes have ended.
For each end-to-end metric it prints each set's median and quartile spread
(the distance between the first and third quartile as a share of the
median), the spread over all runs, and whether the sets agree within the
bounds fixed in BENCHMARK.json: each set's spread within the bound (except
``setup_s``), and set B's median not worse than set A's by more than it.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spread(values: list[float]) -> float:
    q1, _q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def one_run(workload: str, seed: int, seconds: float) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=400,
    )
    if proc.returncode != 0:
        raise RuntimeError(f"seed {seed} failed:\n{proc.stderr[-3000:]}")
    lines = proc.stdout.strip().splitlines()
    print("  " + next(x for x in lines if x.startswith("workload=")), flush=True)
    record = json.loads(lines[-1])
    if not record["correct"]:
        raise RuntimeError(f"seed {seed}: output incorrect: {record}")
    return {k: m["value"] for k, m in record["metrics"].items()}


def main(argv=None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=5)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=bench["run_seconds"])
    a = ap.parse_args(argv)
    metrics = bench["end_to_end"]
    sets: list[list[dict]] = [[], []]
    for i in range(2 * a.runs):
        seed = a.seed0 + i
        values = one_run(a.workload, seed, a.seconds)
        sets[i // a.runs].append(values)
        print(f"set {'AB'[i // a.runs]} seed {seed}: " + " ".join(
            f"{m['name']}={values[m['name']]:.4g}" for m in metrics), flush=True)
    summary = {}
    agree = True
    print(f"\n{'metric':20} {'median A':>11} {'spread A':>9} {'median B':>11} "
          f"{'spread B':>9} {'spread all':>10} {'B vs A':>8} {'bound':>6}  ok")
    for m in metrics:
        name, bound = m["name"], m["bound"]
        a_vals = [r[name] for r in sets[0]]
        b_vals = [r[name] for r in sets[1]]
        med_a, med_b = statistics.median(a_vals), statistics.median(b_vals)
        worse = (med_b - med_a) / med_a * (1 if m["better"] == "lower" else -1)
        s_a, s_b, s_all = spread(a_vals), spread(b_vals), spread(a_vals + b_vals)
        ok = worse <= bound and (name == "setup_s" or max(s_a, s_b) <= bound)
        agree &= ok
        summary[name] = {"median_a": med_a, "median_b": med_b, "spread_a": s_a,
                         "spread_b": s_b, "spread_all": s_all, "worse": worse,
                         "bound": bound, "ok": ok}
        print(f"{name:20} {med_a:11.4g} {s_a:9.3f} {med_b:11.4g} {s_b:9.3f} "
              f"{s_all:10.3f} {worse:+8.3f} {bound:6.2f}  {'yes' if ok else 'NO'}")
    print(json.dumps({"workload": a.workload, "agree": agree, "metrics": summary}))
    return 0 if agree else 1


if __name__ == "__main__":
    sys.exit(main())
