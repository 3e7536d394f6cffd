"""One benchmark run in its own process: generate, set up, measure, check.

``run.py`` starts this module as a child process in a fresh session (so a
fresh JVM, and a session id that names every process of the run) and reads
the record it writes to ``result.json`` in the run directory.

The pipeline is built from the package's public calls only:
``session.get_spark`` → ``VitessCdcEngine(...)`` → ``.raw_stream`` (the live
``vitess-cdc`` source over the emulated VTGate) → ``.schema_from_field_event``
→ ``.envelope`` → ``.topics`` → ``sinks.write_parquet_stream`` for the
``parquet`` workloads, or ``.envelope`` → ``materialize.materialize_stream``
→ a ``foreachBatch`` upsert sink for the ``upsert`` ones (``gen.WORKLOADS``).
"""

from __future__ import annotations

import argparse
import bisect
import glob
import json
import os
import re
import statistics
import sys
import time
from collections import Counter
from datetime import datetime

from cdcbench import gen, procs

POLL_S = 0.02
# where checkpoint and sink live: a fixed property of every workload
MEDIUM = "local-fs"
_SEQ = re.compile(r"(\d+)$")


def _seq(gtid: str) -> int:
    m = _SEQ.search(gtid or "")
    return int(m.group(1)) if m else 0


def _pct(values, q: float) -> float:
    """Nearest-rank percentile of a non-empty sequence."""
    s = sorted(values)
    return s[min(len(s) - 1, max(0, int(round(q * len(s) + 0.5)) - 1))]


def _iso_epoch(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


class Checkpoint:
    """Reads the streaming checkpoint from outside the query: batch ids,
    the end VGTID of each planned batch and the commit time of each batch."""

    def __init__(self, path: str) -> None:
        self.path = path

    def _ids(self, sub: str) -> list[int]:
        d = os.path.join(self.path, sub)
        if not os.path.isdir(d):
            return []
        return sorted(int(n) for n in os.listdir(d) if n.isdigit())

    def commits(self) -> list[int]:
        return self._ids("commits")

    def offsets(self) -> list[int]:
        return self._ids("offsets")

    def commit_time(self, batch: int) -> float:
        return os.stat(os.path.join(self.path, "commits", str(batch))).st_mtime

    def end_position(self, batch: int) -> dict[str, int]:
        """Per-shard GTID sequence the batch's end offset reached."""
        with open(os.path.join(self.path, "offsets", str(batch))) as fh:
            source_offset = json.loads(fh.read().splitlines()[-1])
        vgtid = json.loads(source_offset["vgtid"])
        return {sg["shard"]: _seq(sg["gtid"]) for sg in vgtid}


def read_gate_log(run_dir: str) -> list[dict]:
    path = os.path.join(run_dir, "gate.jsonl")
    if not os.path.exists(path):
        return []
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


# ---------------------------------------------------------------------------
# Pipeline construction (public calls only)
# ---------------------------------------------------------------------------


def build_query(spark, workload: str, run_dir: str):
    from debezium_connector_vitess_spark.engine import VitessCdcEngine
    from debezium_connector_vitess_spark.sources import live

    live.register(spark)
    spec = gen.WORKLOADS[workload]
    engine = VitessCdcEngine(spark, {
        "vitess.keyspace": gen.KEYSPACE,
        "vitess.shard": ",".join(gen.SHARDS),
        "snapshot.mode": "never",
        "max.batch.size": str(spec["max_batch_size"]),
        "topic.prefix": "bench",
    })
    raw = engine.raw_stream(
        channelfactory="cdcbench.vtgate:channel_factory", benchdir=run_dir
    )
    fields = [
        {"name": n, "type": t, "column_type": c, "flags": f} for n, t, c, f in gen.FIELDS
    ]
    schemas = [
        engine.schema_from_field_event(gen.KEYSPACE, gen.SHARDS[0], t, fields)
        for t in spec["tables"]
    ]
    env = engine.envelope(raw, schemas)
    out = os.path.join(run_dir, "sink")
    ckpt = os.path.join(run_dir, "checkpoint")
    if spec["sink"] == "upsert":
        from debezium_connector_vitess_spark.materialize import materialize_stream

        def upsert(batch_df, batch_id):
            # one compacted image (or tombstone) per touched key, written as
            # the batch's idempotent upsert set; readers take each key's row
            # from the highest batch
            batch_df.write.mode("overwrite").parquet(
                os.path.join(out, f"batch={batch_id:06d}")
            )

        query = (
            materialize_stream(env).writeStream.outputMode("update")
            .foreachBatch(upsert).option("checkpointLocation", ckpt).start()
        )
    else:
        from debezium_connector_vitess_spark.sinks import write_parquet_stream

        query = write_parquet_stream(engine.topics(env), out, ckpt)
    return engine, schemas, query, out, Checkpoint(ckpt)


def batch_visible_time(sink: str, out: str, batch: int) -> float:
    """When the batch's output became visible in the sink: the file sink's
    metadata-log entry, or the upsert set's _SUCCESS marker."""
    if sink == "upsert":
        return os.stat(os.path.join(out, f"batch={batch:06d}", "_SUCCESS")).st_mtime
    log = os.path.join(out, "_spark_metadata", str(batch))
    if not os.path.exists(log):
        log += ".compact"
    return os.stat(log).st_mtime


# ---------------------------------------------------------------------------
# Correctness oracles
# ---------------------------------------------------------------------------


def _fingerprint(img) -> tuple:
    """Generator image → the decoded values the sink must carry."""
    key, score, cents, name, created_us, status, attrs = img
    return (
        key, score, f"{cents // 100}.{cents % 100:02d}", name,
        created_us // 1000 * 1000, gen.STATUS[status - 1], attrs,
    )


def _sink_fingerprint(d: dict) -> tuple:
    # the JSON writer renders TIMESTAMP_NTZ at millisecond precision
    created = datetime.fromisoformat(d["created"]).replace(tzinfo=None)
    epoch = datetime(1970, 1, 1)
    delta = created - epoch
    created_us = (delta.days * 86400 + delta.seconds) * 1_000_000 + delta.microseconds
    return (
        int(d["id"]), float(d["score"]), d["amount"], d["name"],
        created_us, d["status"], d["attrs"],
    )


def file_sink_entries(out: str, only: str | None = None) -> dict[str, int]:
    """Path → size of every file the parquet sink committed, from its
    ``_spark_metadata`` log (a ``<n>.compact`` log repeats earlier entries),
    or of one batch's log only."""
    entries: dict[str, int] = {}
    for log in glob.glob(os.path.join(out, "_spark_metadata", only or "*")):
        if not os.path.basename(log).split(".")[0].isdigit():
            continue
        with open(log) as fh:
            for line in fh.read().splitlines()[1:]:
                entry = json.loads(line)
                entries[entry["path"].removeprefix("file:")] = entry["size"]
    return entries


def _committed(txs, position: dict[str, int]):
    return [tx for tx in txs if tx.seq <= position.get(tx.shard, 0)]


def _read_parquet(paths: list[str], columns: list[str]) -> list[dict]:
    import pyarrow.parquet as pq

    rows: list[dict] = []
    for p in paths:
        rows.extend(pq.read_table(p, columns=columns).to_pylist())
    return rows


def check_events(txs, position, out: str, tables) -> tuple[int, int]:
    """Parquet-sink oracle: the exactly-once multiset of (table, key, op,
    GTID), each with the decoded image it must carry. Returns (attempted,
    failed): failed counts events missing, duplicated or wrong."""
    expected: Counter = Counter()
    for tx in _committed(txs, position):
        for c in tx.changes:
            if c.table in tables:
                img = c.after if c.after is not None else c.before
                expected[(c.table, c.key, c.op, tx.gtid, _fingerprint(img))] += 1
    files = sorted(file_sink_entries(out))
    actual: Counter = Counter()
    for row in _read_parquet(files, ["value"]):
        v = json.loads(row["value"])
        img = v["after"] if v["op"] != "d" else v["before"]
        actual[(v["source"]["table"], int(img["id"]), v["op"], v["gtid"],
                _sink_fingerprint(img))] += 1
    n_expected = sum(expected.values())
    matched = sum(min(n, actual[k]) for k, n in expected.items())
    surplus = sum(actual.values()) - matched
    return n_expected, (n_expected - matched) + surplus


def check_upserts(txs, position, out: str, table: str) -> tuple[int, int]:
    """Upsert-sink oracle: the last image per key from the generator's own fold
    against each key's row in the highest batch of the upsert sink. Returns
    (keys checked, keys whose final image differs or is missing/extra)."""
    final: dict[int, tuple | None] = {}
    for tx in _committed(txs, position):
        for c in tx.changes:
            if c.table == table:
                final[c.key] = c.after
    latest: dict[int, tuple[int, dict]] = {}
    for d in sorted(glob.glob(os.path.join(out, "batch=*"))):
        batch = int(d.rsplit("=", 1)[1])
        for row in _read_parquet([d], ["table_name", "key", "op", "after_json"]):
            if row["table_name"] != table:
                continue
            key = json.loads(row["key"])["id"]
            if key not in latest or latest[key][0] <= batch:
                latest[key] = (batch, row)
    failed = 0
    for key, img in final.items():
        got = latest.pop(key, (None, None))[1]
        if got is None:
            failed += 1
        elif img is None:
            failed += not (got["op"] == "d" and got["after_json"] is None)
        else:
            ok = got["after_json"] is not None and (
                _sink_fingerprint(json.loads(got["after_json"])) == _fingerprint(img)
            )
            failed += not ok
    return len(final), failed + len(latest)


# ---------------------------------------------------------------------------
# Stage metrics from the in-process status store (no UI needed)
# ---------------------------------------------------------------------------


def stage_totals(spark, after_job: int) -> dict:
    """Jobs with id > ``after_job`` and the run/CPU time of their stages."""
    sc = spark.sparkContext
    jvm = sc._jvm
    store = sc._jsc.sc().statusStore()
    jobs = store.jobsList(jvm.java.util.ArrayList())
    job_ids, stage_ids = [], set()
    for i in range(jobs.size()):
        j = jobs.apply(i)
        if j.jobId() > after_job:
            job_ids.append(j.jobId())
            ids = j.stageIds()
            for k in range(ids.size()):
                stage_ids.add(ids.apply(k))
    stages = store.stageList(
        jvm.java.util.ArrayList(), False, False,
        sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
    )
    run_ms = cpu_ns = 0
    for i in range(stages.size()):
        s = stages.apply(i)
        if s.stageId() in stage_ids:
            run_ms += s.executorRunTime()
            cpu_ns += s.executorCpuTime()
    return {"jobs": len(job_ids), "max_job": max(job_ids, default=after_job),
            "task_run_ms": run_ms, "task_cpu_ms": cpu_ns / 1e6}


def max_job_id(spark) -> int:
    return stage_totals(spark, -1)["max_job"]


# ---------------------------------------------------------------------------
# The run
# ---------------------------------------------------------------------------


def wait_for(cond, timeout_s: float, what: str):
    deadline = time.time() + timeout_s
    while time.time() < deadline:
        v = cond()
        if v:
            return v
        time.sleep(POLL_S)
    raise TimeoutError(f"timed out after {timeout_s:.0f}s waiting for {what}")


def run(workload: str, seed: int, seconds: float, trace: bool, run_dir: str) -> dict:
    spec = gen.WORKLOADS[workload]
    g = gen.Generator()
    warm = gen.warmup(g)
    txs = gen.body(g, workload, seed, seconds)
    gen.write_frames(run_dir, warm, txs, gen.TABLES)
    all_txs = warm + txs
    final_pos = {s: g.seq[s] for s in gen.SHARDS}
    sid = os.getsid(0)
    spans: list[dict] = []

    # ---- set-up: first call into the program until batch 0 commits -------
    t_start = time.time()
    from debezium_connector_vitess_spark.session import get_spark

    spark = get_spark("cdcbench")
    t_session = time.time()
    listener = None
    if trace:
        listener = _progress_listener(spark)
    engine, schemas, query, out, ckpt = build_query(spark, workload, run_dir)
    t_started = time.time()
    wait_for(lambda: 0 in ckpt.commits(), 150, "the first micro-batch to commit")
    setup_end = ckpt.commit_time(0)
    cpu0 = procs.cpu_s(sid)
    open(os.path.join(run_dir, "setup_done"), "w").close()  # run.py samples RSS from here
    jobs0 = max_job_id(spark) if trace else -1

    # ---- measurement: until the backlog drains or the time is up --------
    # CPU of the process tree is read when each commit appears (the poll is
    # far shorter than a batch), so every batch gets its own CPU cost
    cpu_at = {0: cpu0}

    def note_cpu(done: list[int]) -> None:
        if done and done[-1] not in cpu_at:
            cpu_at[done[-1]] = procs.cpu_s(sid)

    deadline = setup_end + seconds
    stop_file = os.path.join(run_dir, "stop")
    while True:
        done = ckpt.commits()
        note_cpu(done)
        drained = done and ckpt.end_position(done[-1]) == final_pos
        if drained or time.time() >= deadline:
            break
        if query.exception() is not None:
            raise RuntimeError(f"query failed: {query.exception()}")
        time.sleep(POLL_S)
    open(stop_file, "w").close()  # the emulated VTGate serves nothing more

    def settled():
        if query.exception() is not None:
            raise RuntimeError(f"query failed: {query.exception()}")
        log = read_gate_log(run_dir)
        if not any(c.get("stopped") for c in log):
            return False
        offs, done = ckpt.offsets(), ckpt.commits()
        note_cpu(done)
        return bool(done) and offs[-1] == done[-1]

    wait_for(settled, 60, "the last micro-batch to commit")
    last = ckpt.commits()[-1]
    open(os.path.join(run_dir, "measured"), "w").close()

    if listener:
        wait_for(lambda: any(p["batchId"] == last for p in listener.events),
                 30, "the listener to see the last batch")
        progress = list(listener.events)
        spark.streams.removeListener(listener)
    else:
        progress = [json.loads(p.json) for p in query.recentProgress]
    progress = {p["batchId"]: p for p in progress if p.get("numInputRows") or p["batchId"] == 0}
    stages = stage_totals(spark, jobs0) if trace else None
    query.stop()

    # ---- per-batch accounting from the checkpoint, sink and gate log -----
    batches = [b for b in ckpt.commits() if b >= 1]
    ends = {b: ckpt.end_position(b) for b in [0, *batches]}
    visible = {b: batch_visible_time(spec["sink"], out, b) for b in [0, *batches]}
    gate = read_gate_log(run_dir)
    released_at = next((c["released_at"] for c in gate if c.get("released_at")), setup_end)

    body_txs = _committed(txs, ends[last])
    events = sum(len(tx.changes) for tx in body_txs)
    # per shard, the batch whose end position first covers each GTID seq
    shard_bounds = {
        s: [ends[b].get(s, 0) for b in batches] for s in gen.SHARDS
    }
    batch_events = Counter()
    lag_ms = []
    for tx in body_txs:
        b = batches[bisect.bisect_left(shard_bounds[tx.shard], tx.seq)]
        batch_events[b] += len(tx.changes)
        if spec["rate_tx_s"]:
            available = released_at + tx.due_s  # scheduled commit time
        else:
            # backlog: available from the start of the batch's trigger
            available = _iso_epoch(progress[b]["timestamp"]) if b in progress else released_at
        lag_ms.extend([(visible[b] - available) * 1e3] * len(tx.changes))

    # open loop: transactions due but not yet served when each batch's
    # VStream call started. The first batch starts at the release with an
    # empty queue; later ones find what came due while the previous batch
    # ran, so growth from the second batch on means the rate is too high.
    backlog = []
    calls = {c["call"]: c for c in gate if not c.get("stopped")}
    if spec["rate_tx_s"]:
        for b in batches:
            if b not in calls:
                continue
            due_by = calls[b]["start"] - released_at
            backlog.append(sum(
                1 for tx in txs
                if tx.due_s <= due_by and tx.seq > ends[b - 1].get(tx.shard, 0)
            ))

    # per batch: events over the time since the previous commit, and CPU
    # per 1000 events; the run reports the median batch
    commit_at = {b: ckpt.commit_time(b) for b in [0, *batches]}
    rates, costs = [], []
    for b in batches:
        if batch_events[b]:
            rates.append(batch_events[b] / (commit_at[b] - commit_at[b - 1]))
            if b in cpu_at and b - 1 in cpu_at:
                costs.append((cpu_at[b] - cpu_at[b - 1]) * 1e6 / batch_events[b])

    result = {
        "workload": workload, "seed": seed, "medium": MEDIUM, "batches": len(batches),
        "events": events, "setup_s": setup_end - t_start,
        "events_per_s": statistics.median(rates),
        "lag_p50_ms": _pct(lag_ms, 0.50), "lag_p95_ms": _pct(lag_ms, 0.95),
        "lag_events": len(lag_ms),
        "cpu_ms_per_kevent": statistics.median(costs),
        "backlog_tx": backlog,
    }
    if trace:
        result["layers"], offline_spans = _layers(
            workload, spark, engine, schemas, run_dir, progress, batches, gate,
            stages, t_start, t_session, t_started, setup_end, out, events,
        )
        spans = _spans(progress, gate, offline_spans)
    spark.stop()

    # ---- correctness ------------------------------------------------------
    if spec["sink"] == "upsert":
        attempted, failed = check_upserts(all_txs, ends[last], out, spec["tables"][0])
    else:
        attempted, failed = check_events(all_txs, ends[last], out, set(spec["tables"]))
    result.update(attempted=attempted, failed=failed)
    if trace:
        result["spans"] = spans
    return result


# ---------------------------------------------------------------------------
# Traced run: listener, layer metrics, offline baselines, spans
# ---------------------------------------------------------------------------


def _progress_listener(spark):
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressListener(StreamingQueryListener):
        def __init__(self):
            self.events: list[dict] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            self.events.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = ProgressListener()
    spark.streams.addListener(listener)
    return listener


DECODE_SAMPLE = 4000
DURATION_KEYS = ("latestOffset", "queryPlanning", "walCommit", "addBatch", "commitOffsets")


def _layers(workload, spark, engine, schemas, run_dir, progress, batches, gate,
            stages, t_start, t_session, t_started, setup_end, out, events):
    """Per-layer metrics of a traced run, and the spans of its offline calls."""
    spec = gen.WORKLOADS[workload]
    prog = [progress[b] for b in batches if b in progress]
    dur = lambda k: [p["durationMs"].get(k, 0) for p in prog]  # noqa: E731
    nb = max(1, len(batches))
    body_calls = [c for c in gate if c["call"] >= 1 and not c.get("stopped")]
    raw_rows = sum(c["raw"] for c in body_calls)
    late = [x for c in gate for x in c["late_ms"]]
    layers = {
        "session.start_s": t_session - t_start,
        "engine.build_s": t_started - t_session,
        "stream.first_batch_s": setup_end - t_started,
        "source.read_ms_p50": _pct(dur("latestOffset"), 0.5),
        "source.read_ms_p95": _pct(dur("latestOffset"), 0.95),
        "source.connects_per_batch": len(body_calls) / nb,
        "source.rows_per_batch": events / nb,
        "source.bytes": sum(c["bytes"] for c in body_calls),
        "source.fill_wait_ms": sum(c["wait_s"] for c in body_calls) * 1e3 / nb,
        "stream.batches": len(batches),
        "stream.planning_ms": statistics.median(dur("queryPlanning")),
        "stream.wal_ms": statistics.median(dur("walCommit")),
        "stream.commit_ms": statistics.median(dur("commitOffsets")),
        "stream.trigger_ms_p50": _pct(dur("triggerExecution"), 0.5),
        "stream.trigger_ms_p95": _pct(dur("triggerExecution"), 0.95),
        "exec.add_batch_ms": statistics.median(dur("addBatch")),
        "exec.scan_amplification": sum(p["numInputRows"] for p in prog) / max(1, raw_rows),
        "exec.jobs_per_batch": stages["jobs"] / nb,
        "exec.task_run_ms": stages["task_run_ms"] / nb,
        "exec.task_cpu_ms": stages["task_cpu_ms"] / nb,
        "gen.late_ms_p99": _pct(late, 0.99) if late else 0.0,
    }
    files, size = _sink_files(spec["sink"], out, batches)
    layers["sink.files_per_batch"] = files / nb
    layers["sink.bytes_per_batch"] = size / nb
    state = [p["stateOperators"][0] for p in prog if p.get("stateOperators")]
    layers["state.rows_total"] = state[-1]["numRowsTotal"] if state else 0
    layers["state.rows_updated"] = sum(s["numRowsUpdated"] for s in state) / nb
    layers["state.memory_bytes"] = state[-1]["memoryUsedBytes"] if state else 0
    layers["state.update_ms"] = sum(s["allUpdatesTimeMs"] for s in state) / nb
    layers["state.commit_ms"] = sum(s["commitTimeMs"] for s in state) / nb

    offline_spans: list[dict] = []
    layers["wire.decode_events_per_s"] = _offline_wire(run_dir, offline_spans)
    layers["decode.rows_per_s"] = _offline_decode(
        spark, engine, schemas, run_dir, spec, offline_spans
    )
    return layers, offline_spans


def _sink_files(sink: str, out: str, batches) -> tuple[int, int]:
    """Files and bytes the sink wrote for the measured batches."""
    if sink == "upsert":
        paths = [p for b in batches
                 for p in glob.glob(os.path.join(out, f"batch={b:06d}", "*.parquet"))]
        return len(paths), sum(os.path.getsize(p) for p in paths)
    entries = file_sink_entries(out)
    warmup = file_sink_entries(out, only="0")  # batch 0 closed set-up
    return len(entries) - len(warmup), sum(entries.values()) - sum(warmup.values())


def _offline_flushes(run_dir: str):
    """The workload's frames through the production gRPC adapter and
    transport, single thread, with no schedule: the warm-up call, then one
    call for the rest."""
    from debezium_connector_vitess_spark.sources.grpc_adapter import GrpcVStreamChannel
    from debezium_connector_vitess_spark.sources.vstream import VStreamConfig
    from debezium_connector_vitess_spark.sources.wire import VStreamTransport

    from cdcbench.vtgate import EmulatedVtgate

    cfg = VStreamConfig(keyspace=gen.KEYSPACE, shards=list(gen.SHARDS))
    channel = GrpcVStreamChannel(cfg, grpc_channel=EmulatedVtgate(run_dir, live=False))
    for _ in range(2):
        yield from VStreamTransport(channel, cfg).flushes()


def _offline_wire(run_dir: str, spans: list) -> float:
    t0 = time.time()
    n = 0
    for rows, _vgtid in _offline_flushes(run_dir):
        n += sum(len(r["row_changes"]) for r in rows if r["kind"] == "ROW")
    t1 = time.time()
    spans.append({"name": "offline.wire_decode", "start": t0, "end": t1, "events": n})
    return n / (t1 - t0)


def _offline_decode(spark, engine, schemas, run_dir, spec, spans: list) -> float:
    """Batch ``engine.envelope`` over a fixed prefix of the workload's raw
    events (the warm-up and about ``DECODE_SAMPLE`` row events), one task,
    into the noop sink; the second of two passes is timed."""
    from debezium_connector_vitess_spark.decode import RAW_EVENT_SCHEMA
    from debezium_connector_vitess_spark.sources.wire import raw_event_tuple

    rows = []
    events = 0
    for flush, _vgtid in _offline_flushes(run_dir):
        rows.extend(raw_event_tuple(d) for d in flush)
        events += sum(len(d["row_changes"]) for d in flush if d["kind"] == "ROW")
        if events >= DECODE_SAMPLE:
            break
    n = sum(len(r[8]) for r in rows if r[0] == "ROW" and r[3] in spec["tables"])
    env = engine.envelope(spark.createDataFrame(rows, RAW_EVENT_SCHEMA).coalesce(1), schemas)
    for _ in range(2):
        t0 = time.time()
        env.write.format("noop").mode("overwrite").save()
        t1 = time.time()
    spans.append({"name": "offline.envelope_noop", "start": t0, "end": t1, "rows": n})
    return n / (t1 - t0)


def _spans(progress: dict, gate: list, offline: list) -> list[dict]:
    """Benchmark-side spans: one trace per batch (trace id = batch id) with a
    child per durationMs component laid end to end in execution order, the
    VStream calls of the emulated VTGate under the batch whose latestOffset
    they served, and the offline layer calls."""
    spans = []
    for b, p in sorted(progress.items()):
        start = _iso_epoch(p["timestamp"])
        total = p["durationMs"].get("triggerExecution", 0)
        spans.append({"trace": b, "name": "batch", "parent": None, "start": start,
                      "end": start + total / 1e3, "numInputRows": p["numInputRows"]})
        t = start
        for k in DURATION_KEYS:
            ms = p["durationMs"].get(k, 0)
            spans.append({"trace": b, "name": k, "parent": "batch", "start": t,
                          "end": t + ms / 1e3})
            t += ms / 1e3
    for c in gate:
        if c.get("stopped"):
            continue
        owner = next(
            (b for b, p in sorted(progress.items())
             if _iso_epoch(p["timestamp"]) <= c["start"] + 1e-3
             and c["end"] <= _iso_epoch(p["timestamp"]) + p["durationMs"].get("triggerExecution", 0) / 1e3 + 1e-3),
            None,
        )
        spans.append({"trace": owner, "name": "vstream.call", "parent": "latestOffset",
                      "start": c["start"], "end": c["end"], "frames": c["frames"],
                      "wait_s": c["wait_s"]})
    for s in offline:
        spans.append({"trace": "offline", "parent": None, **s})
    return spans


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(gen.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--run-dir", required=True)
    a = ap.parse_args(argv)
    result = run(a.workload, a.seed, a.seconds, bool(a.trace), a.run_dir)
    with open(os.path.join(a.run_dir, "result.json"), "w") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
