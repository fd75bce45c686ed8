"""Custom streaming connectors via the Python DataSource API (Spark 4).

The reference's long tail of push-style inputs — MQTT, WebSocket, NATS,
Pulsar, Redis pub/sub, HTTP webhook (input/{mqtt,websocket,nats,pulsar,
redis,http}.rs) — all reduce to the same connector shape: an external feed
appends messages; the source tracks a monotonically increasing offset,
serves (start, end] ranges, and commits consumed offsets.

``SpoolDirDataSource`` implements that shape end-to-end against a local
append-only spool (one file per message, named by sequence number) — the
durable landing zone an HTTP/MQTT bridge writes into. Its one stream
reader, :class:`SpoolDirStreamReader`, serves the ``spooldir`` input, the
``http`` server input and every broker input (``sources/brokers.py``
subclasses it to add a subscriber pump).

The reader is a ``SimpleDataSourceStreamReader``, meant for light push
feeds of small messages (a batch is held in the driver's runner):

* **Driver-side prefetch.** Spark asks for the latest offset in the
  driver's streaming runner; ``read(start)`` lists and reads the pending
  messages right there and Spark ships them to the JVM as Arrow with the
  batch plan. No executor-side Python worker runs on the per-batch path.
* **Bounded batches.** One ``read`` returns at most :data:`MAX_BATCH`
  (8192, the reference's ``DEFAULT_RECORD_BATCH``, lib.rs:53) messages
  that exist, so a compacted range costs no empty batches; the rest is
  served by the next batches. The cap bounds the batch's message count,
  and its driver memory only as far as the messages are small. Spark 4.1
  fixes an ``availableNow`` run's end offset with a single ``read``, so
  such a run takes at most one cap; the engine's once mode reruns on the
  same checkpoint while a run's read reached the cap (:func:`hit_cap`).
* **Executor reads only on replay.** After a restart Spark re-runs an
  uncommitted batch through ``readBetweenOffsets`` in an executor worker,
  re-reading the same range from the spool.
* ``commit`` compacts (opt-in ``compact_on_commit``): the ``.hwm`` high-water
  mark is persisted, then messages up to the committed offset are deleted.
* Stopping the query stops the reader (a broker reader closes its client).

Batch reads are supported too (``reader``), so the same `format("spooldir")`
works for backfill.

Output schema matches the reference's raw-batch convention:
``__value__ BINARY, __meta_source STRING, __meta_offset BIGINT,
__meta_timestamp TIMESTAMP``.
"""

from __future__ import annotations

import datetime
import json
import os
import signal
import time
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)
from pyspark.sql.datasource_internal import _SimpleStreamReaderWrapper
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

SCHEMA = StructType(
    [
        StructField("__value__", BinaryType(), False),
        StructField("__meta_source", StringType(), True),
        StructField("__meta_offset", LongType(), False),
        StructField("__meta_timestamp", TimestampType(), True),
    ]
)

# messages per read: the reference's DEFAULT_RECORD_BATCH (lib.rs:53)
MAX_BATCH = 8192
# an unpublished claim this old was left by a writer that died mid-write
_CLAIM_TIMEOUT_S = 30.0


def _read_hwm(spool_dir: str) -> int:
    """Compaction high-water mark: offsets stay monotonic even after
    consumed .msg files are deleted."""
    try:
        with open(os.path.join(spool_dir, ".hwm")) as fh:
            return int(fh.read().strip() or -1)
    except (FileNotFoundError, ValueError):
        return -1


def spool_write(spool_dir: str, payload: bytes) -> int:
    """Producer helper: append one message, return its offset. What an
    HTTP endpoint / MQTT callback calls per message.

    Concurrency-safe across threads AND processes: the sequence number is
    claimed by an O_EXCL create of ``{seq}.claim`` (atomic on POSIX), so
    two simultaneous writers — e.g. parallel webhook POSTs into the
    threaded ingest server — can never overwrite each other's message;
    the loser recomputes and claims the next free slot. The payload still
    lands via tmp-write + rename, so readers only ever see complete
    messages; the claim marker is removed after publication.
    """
    os.makedirs(spool_dir, exist_ok=True)
    while True:
        names = os.listdir(spool_dir)
        used = [
            int(f.split(".")[0])
            for f in names
            if f.endswith((".msg", ".claim"))
        ]
        seq = max(max(used, default=-1), _read_hwm(spool_dir)) + 1
        claim = os.path.join(spool_dir, f"{seq}.claim")
        try:
            fd = os.open(claim, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            continue  # lost the race for this slot; rescan
        os.close(fd)
        if os.path.exists(os.path.join(spool_dir, f"{seq}.msg")):
            # stale winner: the slot was claimed, published, and released
            # between our listdir and our claim — never overwrite it
            os.unlink(claim)
            continue
        try:
            tmp = os.path.join(spool_dir, f".{seq}.tmp")
            with open(tmp, "wb") as fh:
                fh.write(payload)
            os.replace(tmp, os.path.join(spool_dir, f"{seq}.msg"))
        finally:
            try:
                os.unlink(claim)
            except FileNotFoundError:
                pass
        return seq


def _scan(path: str) -> tuple[list[int], int]:
    """The published offsets in order, and the highest offset that is safe
    to read: the newest published message, floored by the compaction
    high-water mark, and capped below the lowest slot a writer has claimed
    but not yet published (a reader that skipped that slot would lose the
    message). A claim older than :data:`_CLAIM_TIMEOUT_S` belongs to a dead
    writer and is ignored."""
    try:
        names = os.listdir(path)
    except FileNotFoundError:
        return [], -1
    msgs = {int(f.split(".")[0]) for f in names if f.endswith(".msg")}
    # the hwm floor keeps offsets monotonic across compaction
    ready = max(max(msgs, default=-1), _read_hwm(path))
    now = time.time()
    for f in names:
        if not f.endswith(".claim"):
            continue
        seq = int(f.split(".")[0])
        if seq in msgs or seq > ready:
            continue
        try:
            if now - os.path.getmtime(os.path.join(path, f)) < _CLAIM_TIMEOUT_S:
                ready = seq - 1
        except FileNotFoundError:
            pass  # published and released meanwhile
    return sorted(msgs), ready


def _pending(path: str, lo: int, hi: int) -> list[int]:
    """Published offsets in (lo, hi]."""
    return [s for s in _scan(path)[0] if lo < s <= hi]


def _read_rows(path: str, source_name: str, seqs: list[int]) -> list[tuple]:
    """Rows for the given offsets; messages compacted meanwhile are
    skipped."""
    rows = []
    for seq in seqs:
        p = os.path.join(path, f"{seq}.msg")
        try:
            with open(p, "rb") as fh:
                payload = fh.read()
            ts = datetime.datetime.utcfromtimestamp(os.path.getmtime(p))
        except FileNotFoundError:
            continue
        rows.append((payload, source_name, seq, ts))
    return rows


def hit_cap(source_progress) -> bool:
    """Whether a micro-batch's spool read may have stopped at
    :data:`MAX_BATCH` with more messages pending, judged from the source's
    ``SourceProgress``: its offset span reaches the cap. Other sources'
    offsets never do. A span over compacted offsets can say yes wrongly;
    that costs one more, empty, read."""
    p = json.loads(source_progress.json)

    def seq(offset) -> int:
        # null before the first batch; other sources' offsets have no seq
        return offset["seq"] if isinstance(offset, dict) and "seq" in offset else -1

    return seq(p["endOffset"]) - seq(p["startOffset"]) >= MAX_BATCH


class SpoolDirStreamReader(SimpleDataSourceStreamReader):
    def __init__(self, options: dict):
        self.path = options["path"]
        self.source_name = options.get("source_name", "spooldir")
        # opt-in retention: delete messages once their offset range is
        # durably committed (Spark calls commit() only after the batch is
        # checkpointed, so compacted files are never needed for replay)
        self.compact_on_commit = (
            str(options.get("compact_on_commit", "false")).lower() == "true"
        )

    def initialOffset(self) -> dict:
        return {"seq": -1}

    def read(self, start: dict):
        lo = start["seq"]
        published, ready = _scan(self.path)
        # the cap counts messages that exist, so a compacted range is
        # skipped in one step
        seqs = [s for s in published if lo < s <= ready]
        if len(seqs) > MAX_BATCH:
            seqs = seqs[:MAX_BATCH]
            hi = seqs[-1]
        else:
            hi = max(lo, ready)
        rows = _read_rows(self.path, self.source_name, seqs)
        # a list iterator: Spark's prefetch cache copy.copy()s it
        return iter(rows), {"seq": hi}

    def readBetweenOffsets(self, start: dict, end: dict):
        seqs = _pending(self.path, start["seq"], end["seq"])
        return iter(_read_rows(self.path, self.source_name, seqs))

    def commit(self, end: dict) -> None:
        # ack contract (reference input/mod.rs:43-52): consumed messages may
        # be compacted once the engine has durably processed them
        if not self.compact_on_commit:
            return
        committed = end["seq"]
        try:
            names = os.listdir(self.path)
        except FileNotFoundError:
            return
        # persist the high-water mark FIRST so offsets never regress even
        # if we crash mid-compaction (spool_write consults it)
        if committed > _read_hwm(self.path):
            tmp = os.path.join(self.path, ".hwm.tmp")
            with open(tmp, "w") as fh:
                fh.write(str(committed))
            os.replace(tmp, os.path.join(self.path, ".hwm"))
        for f in names:
            if f.endswith(".msg") and int(f.split(".")[0]) <= committed:
                try:
                    os.unlink(os.path.join(self.path, f))
                except FileNotFoundError:
                    pass  # concurrent compaction

    def stop(self) -> None:
        pass  # nothing held open; a broker reader closes its client here


class _StreamReader(_SimpleStreamReaderWrapper):
    """pyspark's prefetch wrapper for simple readers, which drops
    ``stop()``. Spark also ends its streaming runner with SIGTERM when the
    query stops, before the runner's own ``reader.stop()`` can run. This
    wrapper stops the reader on that signal, so a stopped query closes
    what the reader opened (a broker client)."""

    def latestOffset(self) -> dict:
        # only the runner asks for offsets; it does so in its main thread
        if signal.getsignal(signal.SIGTERM) != self._on_sigterm:
            signal.signal(signal.SIGTERM, self._on_sigterm)
        return super().latestOffset()

    def _on_sigterm(self, signum, frame) -> None:
        self.stop()
        os._exit(0)

    def stop(self) -> None:
        self.simple_reader.stop()


@dataclass
class _RangePartition(InputPartition):
    start: int  # exclusive
    end: int  # inclusive


class SpoolDirBatchReader(DataSourceReader):
    """Backfill: the whole spool, one partition per :data:`MAX_BATCH`
    messages, read in executor workers."""

    def __init__(self, options: dict):
        self.path = options["path"]
        self.source_name = options.get("source_name", "spooldir")

    def partitions(self):
        published, ready = _scan(self.path)
        seqs = [s for s in published if s <= ready]
        bounds = [-1] + seqs[MAX_BATCH - 1 :: MAX_BATCH]
        if not seqs or bounds[-1] != seqs[-1]:
            bounds.append(seqs[-1] if seqs else -1)
        return [_RangePartition(lo, hi) for lo, hi in zip(bounds, bounds[1:])]

    def read(self, partition: _RangePartition):
        seqs = _pending(self.path, partition.start, partition.end)
        return iter(_read_rows(self.path, self.source_name, seqs))


class SpoolDirDataSource(DataSource):
    """spark.readStream.format("spooldir").option("path", dir).load()"""

    @classmethod
    def name(cls) -> str:
        return "spooldir"

    def schema(self) -> StructType:
        return SCHEMA

    def simpleStreamReader(self, schema) -> SpoolDirStreamReader:
        return SpoolDirStreamReader(self.options)

    def streamReader(self, schema) -> _StreamReader:
        return _StreamReader(self.simpleStreamReader(schema))

    def reader(self, schema) -> SpoolDirBatchReader:
        return SpoolDirBatchReader(self.options)


def register(spark) -> None:
    spark.dataSource.register(SpoolDirDataSource)
