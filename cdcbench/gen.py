"""Seeded change generator and wire encoder for the CDC pipeline benchmark.

One generator drives every workload. It produces transactions on 4 shards of
one keyspace, keeps the live image of every key so updates and deletes carry
correct before images, and records everything the correctness oracles need.
``write_frames`` turns the transactions into protobuf ``VStreamResponse``
bytes with the package's own codec, before any clock starts; the emulated
VTGate (``vtgate.py``) only slices and serves those bytes.
"""

from __future__ import annotations

import json
import os
import random
import time
from dataclasses import dataclass, field

KEYSPACE = "bench"
SHARDS = ("-40", "40-80", "80-c0", "c0-")
TABLES = tuple(f"t{i}" for i in range(8))
HOST = "3e11fa47-71ca-11e1-9e33-c80aa9429562"

# (name, Query.Type, MySQL column type, flags): NOT_NULL|PRI_KEY on the id
FIELDS = (
    ("id", "INT64", "bigint(20)", 3),
    ("score", "FLOAT64", "double", 0),
    ("amount", "DECIMAL", "decimal(12,2)", 0),
    ("name", "VARCHAR", "varchar(64)", 0),
    ("created", "DATETIME", "datetime(6)", 0),
    ("status", "ENUM", "enum('new','paid','shipped','void')", 0),
    ("attrs", "JSON", "json", 0),
)
STATUS = ("new", "paid", "shipped", "void")

WARMUP_SEED = 20240601
WARMUP_TXS_PER_SHARD = 4
WARMUP_ROWS_PER_TX = 16

# Workload definitions. Rates and sizes are absolute and fixed: a later
# change to the program must be measured against the same offered load.
# ``sink`` picks the pipeline: ``parquet`` is envelope → topics → parquet
# file sink, ``upsert`` is envelope → materialize_stream → foreachBatch
# upsert sink. ``rate_tx_s`` makes an open loop; without it the workload is
# a backlog available at the release.
WORKLOADS = {
    # Throughput-bound backlog: inserts dominate, transactions of tens of
    # rows, max.batch.size raised so fixed per-batch costs are amortized.
    "backfill": dict(
        sink="parquet", tables=TABLES, n_tx=4000, rows=(10, 40), tables_per_tx=(1, 3),
        ops=(("c", 0.85), ("u", 0.10), ("d", 0.05)),
        max_batch_size=4096, rate_tx_s=None,
    ),
    # Latency-bound open loop at one fixed absolute rate, OLTP-sized
    # transactions, default max.batch.size.
    "tail": dict(
        sink="parquet", tables=TABLES, rows=(1, 5), tables_per_tx=(1, 2),
        ops=(("c", 0.50), ("u", 0.35), ("d", 0.15)),
        max_batch_size=2048, rate_tx_s=200.0,
    ),
    # Update-heavy backlog on a small hot key set of one table, compacted by
    # the state store.
    "compact": dict(
        sink="upsert", tables=("t0",), n_tx=6000, rows=(5, 15), tables_per_tx=(1, 1),
        ops=(("u", 0.96), ("d", 0.04)), hot_keys=1024,
        max_batch_size=2048, rate_tx_s=None,
    ),
    # compact's pipeline under tail's load shape: an open loop at a fixed
    # rate, OLTP-sized update transactions on 256 hot keys (about eight
    # changes per key per batch). The rate leaves the stateful pipeline's
    # larger fixed cost per batch (about 3 s) well under the fill time of a
    # 2048-record batch (about 5.7 s), also when the host runs slow. The state-store path is measured by
    # lag and CPU cost, which stay steadier than a CPU-bound drain rate on a
    # host whose speed varies from run to run.
    "compact_tail": dict(
        sink="upsert", tables=("t0",), rows=(1, 5), tables_per_tx=(1, 1),
        ops=(("u", 0.96), ("d", 0.04)), hot_keys=256,
        max_batch_size=2048, rate_tx_s=120.0,
    ),
}


@dataclass
class Change:
    table: str
    op: str  # c | u | d
    key: int
    before: tuple | None
    after: tuple | None


@dataclass
class Tx:
    shard: str
    seq: int  # per-shard GTID sequence; the VGTID is MySQL56/<host>:1-<seq>
    due_s: float  # scheduled commit, seconds after the release (0 = backlog)
    changes: list[Change] = field(default_factory=list)

    @property
    def gtid(self) -> str:
        return f"MySQL56/{HOST}:1-{self.seq}"


def _image(rng: random.Random, key: int) -> tuple:
    n = rng.randint(6, 24)
    name = "".join(rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(n))
    attrs = json.dumps(
        {"k": rng.randint(0, 999), "tag": rng.choice(("x", "y", "z"))},
        separators=(",", ":"),
    )
    return (
        key,
        round(rng.uniform(0, 1000), 3),
        rng.randint(0, 10_000_000),  # amount in cents
        name,
        1_700_000_000_000_000 + rng.randint(0, 10**13),  # created, epoch us
        rng.randint(1, len(STATUS)),  # enum index (1-based, as on the wire)
        attrs,
    )


class Generator:
    """Key state shared by the warm-up prefix and one workload body."""

    def __init__(self) -> None:
        self.seq = {s: 0 for s in SHARDS}
        self.next_key = {(t, s): i + 1 for t in TABLES for i, s in enumerate(SHARDS)}
        self.live: dict[tuple[str, int], tuple] = {}  # (table, key) -> image
        self.live_keys: dict[tuple[str, str], list[int]] = {
            (t, s): [] for t in TABLES for s in SHARDS
        }

    def _new_key(self, table: str, shard: str) -> int:
        k = self.next_key[(table, shard)]
        self.next_key[(table, shard)] = k + len(SHARDS)  # key % 4 = shard
        return k

    def change(self, rng: random.Random, table: str, shard: str, op: str,
               key: int | None = None) -> Change:
        keys = self.live_keys[(table, shard)]
        if op != "c" and key is None:
            if not keys:
                op = "c"
            else:
                key = keys[rng.randrange(len(keys))]
        if op == "c":
            key = self._new_key(table, shard) if key is None else key
            img = _image(rng, key)
            self.live[(table, key)] = img
            keys.append(key)
            return Change(table, "c", key, None, img)
        before = self.live[(table, key)]
        if op == "u":
            after = _image(rng, key)
            self.live[(table, key)] = after
            return Change(table, "u", key, before, after)
        del self.live[(table, key)]
        keys.remove(key)
        return Change(table, "d", key, before, None)

    def tx(self, shard: str, due_s: float) -> Tx:
        self.seq[shard] += 1
        return Tx(shard, self.seq[shard], due_s)


def _pick(rng: random.Random, weighted) -> str:
    r = rng.random()
    for op, p in weighted:
        r -= p
        if r < 0:
            return op
    return weighted[-1][0]


def warmup(gen: Generator) -> list[Tx]:
    """The fixed prefix every workload starts with: inserts into all eight
    tables, independent of the workload and its seed."""
    rng = random.Random(WARMUP_SEED)
    txs = []
    for _ in range(WARMUP_TXS_PER_SHARD):
        for shard in SHARDS:
            tx = gen.tx(shard, 0.0)
            for i in range(WARMUP_ROWS_PER_TX):
                tx.changes.append(gen.change(rng, TABLES[i % len(TABLES)], shard, "c"))
            txs.append(tx)
    return txs


def body(gen: Generator, name: str, seed: int, seconds: float) -> list[Tx]:
    spec = WORKLOADS[name]
    rng = random.Random(f"{name}:{seed}")
    if spec["rate_tx_s"]:
        # open loop: enough scheduled transactions to outlast the run
        n_tx = int(spec["rate_tx_s"] * (seconds + 3))
    else:
        n_tx = spec["n_tx"]
    hot: dict[str, list[int]] = {}
    if spec.get("hot_keys"):
        per_shard = spec["hot_keys"] // len(SHARDS)
        hot = {s: [gen._new_key(spec["tables"][0], s) for _ in range(per_shard)]
               for s in SHARDS}
    txs = []
    for i in range(n_tx):
        shard = SHARDS[rng.randrange(len(SHARDS))]
        due = i / spec["rate_tx_s"] if spec["rate_tx_s"] else 0.0
        tx = gen.tx(shard, due)
        n_rows = rng.randint(*spec["rows"])
        tables = rng.sample(spec["tables"], rng.randint(*spec["tables_per_tx"]))
        for r in range(n_rows):
            table = tables[r * len(tables) // n_rows]  # rows grouped per table
            if hot:
                key = hot[shard][rng.randrange(len(hot[shard]))]
                op = _pick(rng, spec["ops"]) if (table, key) in gen.live else "c"
                tx.changes.append(gen.change(rng, table, shard, op, key))
            else:
                tx.changes.append(gen.change(rng, table, shard, _pick(rng, spec["ops"])))
        txs.append(tx)
    return txs


# ---------------------------------------------------------------------------
# Wire encoding
# ---------------------------------------------------------------------------


def cells(img: tuple) -> list[bytes]:
    key, score, cents, name, created_us, status, attrs = img
    secs, us = divmod(created_us, 1_000_000)
    created = time.strftime("%Y-%m-%d %H:%M:%S", time.gmtime(secs)) + f".{us:06d}"
    return [
        str(key).encode(),
        repr(score).encode(),
        f"{cents // 100}.{cents % 100:02d}".encode(),
        name.encode(),
        created.encode(),
        str(status).encode(),
        attrs.encode(),
    ]


def field_events(shard: str, tables) -> list:
    from debezium_connector_vitess_spark.sources.wire import (
        WireField,
        WireFieldEvent,
        WireVEvent,
    )

    fields = tuple(WireField(n, t, c, f) for n, t, c, f in FIELDS)
    return [
        WireVEvent(
            "FIELD",
            field_event=WireFieldEvent(
                table_name=f"{KEYSPACE}.{t}", fields=fields, keyspace=KEYSPACE, shard=shard
            ),
        )
        for t in tables
    ]


def encode_tx(tx: Tx, commit_ns: int) -> tuple[bytes, bytes]:
    """One transaction → (BEGIN part, rest) of a VStreamResponse frame.

    ``VStreamResponse`` is ``repeated VEvent events = 1``, so encoded parts
    concatenate into one valid frame: the emulated VTGate splices the FIELD
    events between the two parts when it starts a new call."""
    from debezium_connector_vitess_spark.sources.proto import encode_vstream_response
    from debezium_connector_vitess_spark.sources.wire import (
        VStreamResponse,
        WireRowChange,
        WireRowEvent,
        WireVEvent,
        WireVgtid,
        pack_row,
    )
    from debezium_connector_vitess_spark.vgtid import ShardGtid

    events = []
    i = 0
    while i < len(tx.changes):  # one ROW event per run of same-table changes
        j = i
        while j < len(tx.changes) and tx.changes[j].table == tx.changes[i].table:
            j += 1
        events.append(WireVEvent(
            "ROW",
            current_time=commit_ns,
            row_event=WireRowEvent(
                table_name=f"{KEYSPACE}.{tx.changes[i].table}",
                row_changes=tuple(
                    WireRowChange(
                        before=pack_row(cells(c.before)) if c.before else None,
                        after=pack_row(cells(c.after)) if c.after else None,
                    )
                    for c in tx.changes[i:j]
                ),
                keyspace=KEYSPACE,
                shard=tx.shard,
            ),
        ))
        i = j
    events.append(WireVEvent(
        "VGTID",
        vgtid=WireVgtid(shard_gtids=(ShardGtid(KEYSPACE, tx.shard, tx.gtid),)),
    ))
    events.append(WireVEvent("COMMIT", current_time=commit_ns, keyspace=KEYSPACE, shard=tx.shard))
    begin = WireVEvent("BEGIN", current_time=commit_ns, keyspace=KEYSPACE, shard=tx.shard)
    return (
        encode_vstream_response(VStreamResponse(events=(begin,))),
        encode_vstream_response(VStreamResponse(events=tuple(events))),
    )


# Commit timestamps on the wire are a fixed epoch plus the scheduled offset:
# frames are encoded before the release time is known, and lag is computed
# from the schedule, not from the event timestamp.
WIRE_EPOCH_NS = 1_700_000_000 * 10**9


def write_frames(out_dir: str, warm: list[Tx], txs: list[Tx], tables) -> dict:
    """Encode every transaction and write ``frames.bin`` plus its index
    ``frames.json``: per frame (shard, seq, due_s, begin bytes, rest bytes,
    row events), warm-up frames first, then the body in serving order."""
    from debezium_connector_vitess_spark.sources.proto import encode_vstream_response
    from debezium_connector_vitess_spark.sources.wire import VStreamResponse

    os.makedirs(out_dir, exist_ok=True)
    index = []
    with open(os.path.join(out_dir, "frames.bin"), "wb") as fh:
        for tx in warm + txs:
            begin, rest = encode_tx(tx, WIRE_EPOCH_NS + int(tx.due_s * 1e9))
            fh.write(begin)
            fh.write(rest)
            row_events = sum(
                1 for i, c in enumerate(tx.changes)
                if i == 0 or tx.changes[i - 1].table != c.table
            )
            # raw source rows of the frame: BEGIN, one per ROW event, COMMIT
            index.append([tx.shard, tx.seq, tx.due_s, len(begin), len(rest),
                          len(tx.changes), row_events + 2])
    fields = {
        s: encode_vstream_response(VStreamResponse(events=tuple(field_events(s, tables))))
        .hex()
        for s in SHARDS
    }
    meta = {"n_warmup": len(warm), "n_fields": len(tables), "frames": index, "fields": fields}
    with open(os.path.join(out_dir, "frames.json"), "w") as fh:
        json.dump(meta, fh)
    return meta
