"""CDC pipeline benchmark: one run of one workload.

    python3 cdcbench/run.py --workload tail --seed 1 --seconds 15 --trace 0

Runs from the root of a checkout of this repository. The run itself
(``pipeline.py``) executes in a child process in a new session, so it gets a
fresh JVM and every process it starts can be found, measured and stopped.
This parent samples the resident memory of that session while the run
measures (from the first micro-batch's commit to the last), stops whatever is
left of it, waits until every process has ended, and prints each metric by
name with its unit, then one JSON record as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a separate traced run and writes its spans to
``.cdcbench/spans-<workload>-<seed>.jsonl``. See README.md in this directory
for every metric's definition.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".cdcbench")
TIMEOUT_S = 170
SAMPLE_S = 0.25
DRIVER_MEMORY = "1g"

END_TO_END = (
    ("setup_s", "s"),
    ("events_per_s", "events/s"),
    ("lag_p50_ms", "ms"),
    ("lag_p95_ms", "ms"),
    ("peak_rss_mb", "MB"),
)

PER_LAYER_UNITS = {
    "session.start_s": "s", "engine.build_s": "s", "stream.first_batch_s": "s",
    "source.read_ms_p50": "ms", "source.read_ms_p95": "ms",
    "source.connects_per_batch": "count", "source.rows_per_batch": "count",
    "source.bytes": "bytes", "source.fill_wait_ms": "ms",
    "wire.decode_events_per_s": "events/s",
    "stream.batches": "count", "stream.planning_ms": "ms", "stream.wal_ms": "ms",
    "stream.commit_ms": "ms", "stream.trigger_ms_p50": "ms", "stream.trigger_ms_p95": "ms",
    "exec.add_batch_ms": "ms", "exec.scan_amplification": "ratio",
    "exec.jobs_per_batch": "count", "exec.task_run_ms": "ms", "exec.task_cpu_ms": "ms",
    "decode.rows_per_s": "rows/s",
    "sink.files_per_batch": "count", "sink.bytes_per_batch": "bytes",
    "state.rows_total": "count", "state.rows_updated": "count",
    "state.memory_bytes": "bytes", "state.update_ms": "ms", "state.commit_ms": "ms",
    "proc.cpu_ms_per_kevent": "ms", "rss.jvm_mb": "MB", "rss.python_mb": "MB",
    "gen.late_ms_p99": "ms",
    "gen.backlog_growth_tx": "count",
}


def _fail(msg: str) -> int:
    print(f"cdcbench: {msg}", file=sys.stderr)
    return 2


def _child_env(run_dir: str) -> dict:
    env = dict(os.environ)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    env.update(
        PYTHONPATH=ROOT,
        PYSPARK_PYTHON=sys.executable,
        SPARK_GRAFT_CPUS=str(os.cpu_count() or 1),
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
        # keep every JVM's temporary files in the run directory; perf data
        # would go to /tmp whatever java.io.tmpdir says
        SPARK_SUBMIT_OPTS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        SPARK_LAUNCHER_OPTS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        TMPDIR=tmp,
    )
    env.pop("PYSPARK_DRIVER_PYTHON", None)
    return env


def _stop_session(sid: int) -> None:
    """Kill what is left of the run's session and wait until it is gone."""
    from cdcbench import procs

    deadline = time.time() + 20
    while time.time() < deadline:
        left = procs.session_pids(sid)
        if not left:
            return
        for pid, _comm, _f in left:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.05)
    raise RuntimeError(f"processes of session {sid} did not exit")


def execute(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    from cdcbench import procs

    run_dir = os.path.join(OUT, f"run-{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    log_path = os.path.join(run_dir, "child.log")
    cmd = [
        sys.executable, "-m", "cdcbench.pipeline", "--workload", workload,
        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(int(trace)),
        "--run-dir", run_dir,
    ]
    peak = (0.0, 0.0, 0.0)  # total, jvm, python at the total's peak
    with open(log_path, "wb") as log:
        child = subprocess.Popen(
            cmd, cwd=ROOT, env=_child_env(run_dir), stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        try:
            deadline = time.time() + TIMEOUT_S
            setup_done = os.path.join(run_dir, "setup_done")
            measured = os.path.join(run_dir, "measured")
            while child.poll() is None:
                if time.time() > deadline:
                    raise TimeoutError(f"run exceeded {TIMEOUT_S}s")
                # the measured window: from the first commit to the last
                if os.path.exists(setup_done) and not os.path.exists(measured):
                    jvm, py = procs.memory_mb(child.pid)
                    if jvm + py > peak[0]:
                        peak = (jvm + py, jvm, py)
                time.sleep(SAMPLE_S)
        finally:
            if child.poll() is None:
                child.kill()
            child.wait()
            _stop_session(child.pid)
    result_path = os.path.join(run_dir, "result.json")
    if child.returncode != 0 or not os.path.exists(result_path):
        with open(log_path, errors="replace") as fh:
            tail = fh.read()[-4000:]
        raise RuntimeError(f"run failed (exit {child.returncode}):\n{tail}")
    with open(result_path) as fh:
        result = json.load(fh)
    result["peak_rss_mb"], result["rss_jvm_mb"], result["rss_python_mb"] = peak
    shutil.rmtree(run_dir)
    return result


def report(result: dict, trace: bool) -> dict:
    if trace:
        layers = result["layers"]
        layers["proc.cpu_ms_per_kevent"] = result["cpu_ms_per_kevent"]
        layers["rss.jvm_mb"] = result["rss_jvm_mb"]
        layers["rss.python_mb"] = result["rss_python_mb"]
        backlog = result["backlog_tx"]
        layers["gen.backlog_growth_tx"] = backlog[-1] - backlog[1] if len(backlog) > 2 else 0
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER_UNITS.items()}
    else:
        metrics = {k: {"value": result[k], "unit": u} for k, u in END_TO_END}
    return {
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": metrics,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "debezium_connector_vitess_spark", "engine.py")):
        return _fail(f"no debezium_connector_vitess_spark package under {ROOT}: "
                     "run from the root of a checkout of the repository")
    sys.path.insert(0, ROOT)
    from cdcbench import gen

    if a.workload not in gen.WORKLOADS:
        return _fail(f"unknown workload {a.workload!r}; one of {sorted(gen.WORKLOADS)}")
    result = execute(a.workload, a.seed, a.seconds, bool(a.trace))
    record = report(result, bool(a.trace))
    if a.trace:
        os.makedirs(OUT, exist_ok=True)
        path = os.path.join(OUT, f"spans-{a.workload}-{a.seed}.jsonl")
        with open(path, "w") as fh:
            for span in result["spans"]:
                fh.write(json.dumps(span) + "\n")
        print(f"spans: {path}")
        # each batch's layer sum beside its triggerExecution
        spans = result["spans"]
        for b in sorted({x["trace"] for x in spans if x["name"] == "batch"}):
            mine = [x for x in spans if x["trace"] == b]
            total = next(x for x in mine if x["name"] == "batch")
            parts = sum(x["end"] - x["start"] for x in mine if x["parent"] == "batch")
            print(f"batch {b}: layers {parts * 1e3:.0f} ms, "
                  f"triggerExecution {(total['end'] - total['start']) * 1e3:.0f} ms")
    print(f"workload={a.workload} seed={a.seed} medium={result['medium']} "
          f"batches={result['batches']} "
          f"events={result['events']} lag_events={result['lag_events']} "
          f"backlog_tx={result['backlog_tx']} "
          f"rss_jvm_mb={result['rss_jvm_mb']:.0f} rss_python_mb={result['rss_python_mb']:.0f} "
          f"error_frac={result['failed'] / max(1, result['attempted']):.6f}")
    for name, m in record["metrics"].items():
        print(f"{name} = {m['value']:.6g} {m['unit']}")
    print(json.dumps(record))
    return 0


if __name__ == "__main__":
    sys.exit(main())
