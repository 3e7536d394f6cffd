"""Emulated VTGate for the CDC pipeline benchmark.

It stands where a real ``grpc.Channel`` to VTGate would: the production
``sources.grpc_adapter.GrpcVStreamChannel`` is built over it, so every call
serializes the ``VStreamRequest`` with the package's codec, and every frame is
handed back through the adapter's ``response_deserializer``. The frames are
protobuf ``VStreamResponse`` bytes written by ``gen.write_frames`` before the
run's clock started. The emulation adds only what a VTGate does with them:

- it serves each call from the request's VGTID, exclusive of that position;
- it re-sends the FIELD events at the start of every call, inside the first
  transaction of each shard, as a new VStream does;
- the first call serves the warm-up prefix and then ends, so the first
  micro-batch is the same in every workload. The workload's own frames are
  released at the second call, which the simple reader makes only after the
  first batch has committed;
- a frame with a schedule is not served before ``release + due_s``: the call
  sleeps until then, which is the time the reader is blocked on the source.

It runs inside the source-runner process that Spark spawns, opens no thread
or connection, and appends one line per call to ``gate.jsonl`` in the run
directory (call span, frames, rows, bytes, time slept and wake-up lateness).
"""

from __future__ import annotations

import json
import os
import re
import time

from debezium_connector_vitess_spark.sources.grpc_adapter import (
    VSTREAM_METHOD,
    GrpcVStreamChannel,
)
from debezium_connector_vitess_spark.sources.proto import decode_vstream_request
from debezium_connector_vitess_spark.sources.vstream import VStreamConfig

_SEQ = re.compile(r"(\d+)$")


class EmulatedVtgate:
    """``grpc.Channel``-shaped server over pre-encoded frames."""

    def __init__(self, run_dir: str, *, live: bool = True) -> None:
        """``live=False`` serves every frame at once, ignores the stop file
        and writes no call log: the offline single-thread baselines."""
        self.run_dir = run_dir
        self.live = live
        with open(os.path.join(run_dir, "frames.json")) as fh:
            meta = json.load(fh)
        with open(os.path.join(run_dir, "frames.bin"), "rb") as fh:
            blob = fh.read()
        self.n_warmup = meta["n_warmup"]
        self.fields = {s: bytes.fromhex(h) for s, h in meta["fields"].items()}
        self.n_fields = meta["n_fields"]
        self.frames = []  # (shard, seq, due_s, begin, rest, rows, raw)
        self.by_shard: dict[str, list[int]] = {}  # shard -> frame index by seq-1
        off = 0
        for i, (shard, seq, due_s, nb, nr, rows, raw) in enumerate(meta["frames"]):
            begin = blob[off : off + nb]
            rest = blob[off + nb : off + nb + nr]
            off += nb + nr
            self.frames.append((shard, seq, due_s, begin, rest, rows, raw))
            idx = self.by_shard.setdefault(shard, [])
            if seq != len(idx) + 1:
                raise ValueError(f"frames of shard {shard} are not in GTID order")
            idx.append(i)
        self.released_at: float | None = None
        self.calls = 0

    def unary_stream(self, method, request_serializer, response_deserializer):
        if method != VSTREAM_METHOD:
            raise ValueError(f"unsupported method {method}")

        def call(request, metadata=None):
            return self._serve(request_serializer(request), response_deserializer)

        return call

    def _serve(self, request_bytes: bytes, deserialize):
        start = time.time()
        call_no = self.calls
        self.calls += 1
        request = decode_vstream_request(request_bytes)
        # exclusive-start resume; 'current' is the start of the recording
        resume = {}
        for sg in request["shard_gtids"]:
            m = _SEQ.search(sg.gtid or "")
            resume[sg.shard] = int(m.group(1)) if m else 0
        stats = {"frames": 0, "rows": 0, "raw": 0, "bytes": 0, "wait_s": 0.0, "late_ms": []}
        if call_no == 0:
            end = self.n_warmup
        elif self.live and os.path.exists(os.path.join(self.run_dir, "stop")):
            # the run is over: serve nothing, as an idle VTGate would
            self._log(call_no, start, {**stats, "stopped": True})
            return
        else:
            end = len(self.frames)
            if self.released_at is None:
                self.released_at = start
        first = end
        for shard, idx in self.by_shard.items():
            pos = resume.get(shard, 0)
            if pos < len(idx):
                first = min(first, idx[pos])
        primed: set[str] = set()
        try:
            for i in range(first, end):
                shard, seq, due_s, begin, rest, rows, raw = self.frames[i]
                if seq <= resume.get(shard, 0):
                    continue
                if due_s and self.live:
                    due = self.released_at + due_s
                    now = time.time()
                    if now < due:
                        time.sleep(due - now)
                        woke = time.time()
                        stats["wait_s"] += woke - now
                        stats["late_ms"].append(round((woke - due) * 1e3, 3))
                if shard in primed:
                    frame = begin + rest
                else:
                    primed.add(shard)
                    frame = begin + self.fields[shard] + rest
                    raw += self.n_fields
                response = deserialize(frame)
                stats["frames"] += 1
                stats["rows"] += rows
                stats["raw"] += raw
                stats["bytes"] += len(frame)
                yield response
        finally:
            self._log(call_no, start, stats)

    def _log(self, call_no: int, start: float, stats: dict) -> None:
        if not self.live:
            return
        line = {
            "call": call_no,
            "start": start,
            "end": time.time(),
            "released_at": self.released_at,
            **stats,
        }
        with open(os.path.join(self.run_dir, "gate.jsonl"), "a") as fh:
            fh.write(json.dumps(line) + "\n")


# One emulated server per run directory for the life of the source-runner
# process: the live source opens a new channel on every micro-batch, and the
# server's release time and call count must survive across them.
_GATES: dict[str, EmulatedVtgate] = {}


def channel_factory(options: dict) -> GrpcVStreamChannel:
    """``channelFactory`` target (``cdcbench.vtgate:channel_factory``): the
    production gRPC adapter over the emulated VTGate of ``benchdir``."""
    run_dir = options["benchdir"]
    gate = _GATES.get(run_dir)
    if gate is None:
        gate = _GATES[run_dir] = EmulatedVtgate(run_dir)
    return GrpcVStreamChannel(
        VStreamConfig(keyspace=options.get("keyspace", "")), grpc_channel=gate
    )
