"""Custom Python DataSource tests: spool-dir connector, batch + streaming,
including incremental offset tracking across micro-batches."""

from __future__ import annotations

import json
import os
import sys
import time

import pytest
from pyspark.sql import functions as F

from arkflow_spark.sources import push_source
from arkflow_spark.sources.push_source import (
    SpoolDirStreamReader,
    _scan,
    register,
    spool_write,
)


def test_spooldir_batch_read(spark, tmp_path):
    spool = str(tmp_path / "spool")
    for i in range(5):
        spool_write(spool, json.dumps({"i": i}).encode())
    register(spark)
    df = spark.read.format("spooldir").option("path", spool).load()
    rows = df.orderBy("__meta_offset").collect()
    assert len(rows) == 5
    assert [r["__meta_offset"] for r in rows] == [0, 1, 2, 3, 4]
    assert json.loads(bytes(rows[3]["__value__"]))["i"] == 3
    assert rows[0]["__meta_source"] == "spooldir"


def test_spooldir_streaming_incremental(spark, tmp_path):
    """Messages appended between micro-batches are picked up exactly once
    (the offset-range contract every push connector inherits)."""
    spool = str(tmp_path / "spool2")
    ckpt = str(tmp_path / "ckpt")
    for i in range(3):
        spool_write(spool, json.dumps({"i": i}).encode())
    register(spark)
    seen: list[int] = []
    q = (
        spark.readStream.format("spooldir")
        .option("path", spool)
        .load()
        .writeStream.foreachBatch(
            lambda df, eid: seen.extend(
                r["__meta_offset"] for r in df.collect()
            )
        )
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
        assert sorted(seen) == [0, 1, 2]
        for i in range(3, 6):
            spool_write(spool, json.dumps({"i": i}).encode())
        q.processAllAvailable()
        assert sorted(seen) == [0, 1, 2, 3, 4, 5]  # no re-delivery, no loss
    finally:
        q.stop()


def test_spooldir_through_engine_pipeline(spark, tmp_path):
    """Spool source -> json_to_arrow -> sql, through the engine's processor
    chain (raw ``__value__`` convention end-to-end)."""
    from arkflow_spark.registry import PROCESSORS, load_all

    load_all()
    spool = str(tmp_path / "spool3")
    for i in range(4):
        spool_write(spool, json.dumps({"i": i, "v": i * 10}).encode())
    register(spark)
    df = spark.read.format("spooldir").option("path", spool).load()
    parsed = PROCESSORS.build({"type": "json_to_arrow"}).process(spark, df)
    out = PROCESSORS.build(
        {"type": "sql", "query": "SELECT sum(v) AS total, count(*) AS n FROM flow"}
    ).process(spark, parsed)
    r = out.collect()[0]
    assert r["total"] == 60 and r["n"] == 4


def test_compact_on_commit_keeps_offsets_monotonic(tmp_path):
    """Opt-in retention (reference input/mod.rs:43-52 ack contract):
    committed messages are deleted, yet offsets never regress — new writes
    continue above the persisted high-water mark."""
    spool = str(tmp_path / "spool")
    for i in range(3):
        assert spool_write(spool, f"m{i}".encode()) == i
    reader = SpoolDirStreamReader({"path": spool, "compact_on_commit": "true"})
    rows, end = reader.read(reader.initialOffset())
    assert end == {"seq": 2}
    assert [bytes(r[0]) for r in rows] == [b"m0", b"m1", b"m2"]
    reader.commit(end)

    assert [f for f in os.listdir(spool) if f.endswith(".msg")] == []
    # offsets continue past the compacted range, never reset
    assert _scan(spool)[1] == 2
    assert spool_write(spool, b"next") == 3
    rows, end2 = reader.read(end)
    assert end2 == {"seq": 3}
    assert [bytes(r[0]) for r in rows] == [b"next"]
    assert [bytes(r[0]) for r in reader.readBetweenOffsets(end, end2)] == [b"next"]


def test_commit_without_compaction_is_noop(tmp_path):
    spool = str(tmp_path / "spool")
    spool_write(spool, b"keep")
    reader = SpoolDirStreamReader({"path": spool})
    reader.commit(reader.read(reader.initialOffset())[1])

    assert [f for f in os.listdir(spool) if f.endswith(".msg")] == ["0.msg"]


def test_read_cap_through_spark_prefetch_wrapper(tmp_path, monkeypatch):
    """Driven the way Spark drives a simple reader (its prefetch wrapper):
    each latestOffset reads at most MAX_BATCH messages, the batch is served
    from the prefetch cache (which copy.copy()s the read iterator), and an
    idle poll neither advances the offset nor caches anything."""
    from pyspark.sql.datasource_internal import _SimpleStreamReaderWrapper

    monkeypatch.setattr(push_source, "MAX_BATCH", 2)
    spool = str(tmp_path / "spool")
    for i in range(5):
        spool_write(spool, f"m{i}".encode())
    wrapper = _SimpleStreamReaderWrapper(SpoolDirStreamReader({"path": spool}))
    start = wrapper.initialOffset()
    batches = []
    while True:
        end = wrapper.latestOffset()
        if end == start:
            break
        assert len(wrapper.partitions(start, end)) == 1
        batches.append([bytes(r[0]) for r in wrapper.getCache(start, end)])
        # the cached iterator survives its first consumer
        assert [bytes(r[0]) for r in wrapper.getCache(start, end)] == batches[-1]
        wrapper.commit(end)
        start = end
    assert batches == [[b"m0", b"m1"], [b"m2", b"m3"], [b"m4"]]
    assert start == {"seq": 4} and wrapper.cache[-1].end == start
    assert wrapper.latestOffset() == start and len(wrapper.cache) == 1


def test_in_flight_claim_holds_back_the_end_offset(tmp_path):
    """A slot claimed but not yet published by a concurrent writer stops
    the read before it, so a prefetch racing a writer never skips it; a
    claim left by a dead writer stops holding after the timeout."""
    spool = tmp_path / "spool"
    for i in range(2):
        spool_write(str(spool), f"m{i}".encode())
    (spool / "2.claim").touch()
    (spool / "3.msg").write_bytes(b"m3")
    assert _scan(str(spool))[1] == 1
    (spool / "2.msg").write_bytes(b"m2")  # published, claim not yet released
    assert _scan(str(spool))[1] == 3
    (spool / "2.msg").unlink()
    stale = time.time() - push_source._CLAIM_TIMEOUT_S - 1
    os.utime(spool / "2.claim", (stale, stale))
    assert _scan(str(spool))[1] == 3


def test_fresh_reader_skips_a_compacted_range_in_one_read(tmp_path, monkeypatch):
    """The cap counts messages that exist: a reader starting from the
    initial offset over a compacted spool reaches the live messages in its
    first read instead of walking the compacted offsets cap by cap."""
    monkeypatch.setattr(push_source, "MAX_BATCH", 2)
    spool = str(tmp_path / "spool")
    first = SpoolDirStreamReader({"path": spool, "compact_on_commit": "true"})
    for i in range(5):
        spool_write(spool, f"m{i}".encode())
    end = {"seq": -1}
    while True:  # drain and compact, cap by cap
        _, nxt = first.read(end)
        if nxt == end:
            break
        first.commit(end := nxt)
    assert end == {"seq": 4} and _scan(spool) == ([], 4)
    for i in range(5, 8):
        spool_write(spool, f"m{i}".encode())

    fresh = SpoolDirStreamReader({"path": spool})
    rows, end = fresh.read(fresh.initialOffset())
    assert end == {"seq": 6}
    assert [(r[2], bytes(r[0])) for r in rows] == [(5, b"m5"), (6, b"m6")]
    assert [r[2] for r in fresh.readBetweenOffsets({"seq": -1}, end)] == [5, 6]
    rows, end = fresh.read(end)
    assert end == {"seq": 7} and [r[2] for r in rows] == [7]


def test_hit_cap_judges_only_spool_offsets(monkeypatch):
    """The once-mode rerun test reads spool offset spans only; other
    sources' offsets (numbers, objects without ``seq``) never count."""
    from pyspark.sql.streaming.listener import SourceProgress

    def capped(start, end) -> bool:
        return push_source.hit_cap(SourceProgress.fromJson({
            "description": "s", "startOffset": start, "endOffset": end,
            "latestOffset": None, "numInputRows": 0,
            "inputRowsPerSecond": 0.0, "processedRowsPerSecond": 0.0,
        }))

    monkeypatch.setattr(push_source, "MAX_BATCH", 4)
    assert capped(None, {"seq": 3})
    assert capped({"seq": 3}, {"seq": 7})
    assert not capped({"seq": 3}, {"seq": 6})
    assert not capped(None, 9)
    assert not capped(None, {"logOffset": 9})


def _backlog(tmp_path, n: int) -> str:
    spool = tmp_path / "spool"
    spool.mkdir()
    for i in range(n):  # bulk-written backlog, as a bridge would leave it
        (spool / f"{i}.msg").write_bytes(b"x")
    return str(spool)


def test_once_mode_drains_a_backlog_over_the_cap(spark, tmp_path):
    """The engine's once mode (availableNow) drains a backlog one message
    over the cap: Spark fixes an availableNow run's end with one capped
    read, so the engine reruns on the same checkpoint until a read is not
    cut. Two batches, each at most MAX_BATCH rows, every offset once."""
    from arkflow_spark.config import EngineConfig
    from arkflow_spark.engine import Engine

    n = push_source.MAX_BATCH + 3
    spool = _backlog(tmp_path, n)
    eng = Engine(spark, EngineConfig.from_dict({"streams": [{
        "input": {"type": "spooldir", "path": spool},
        "pipeline": {"processors": [{"type": "sql", "query":
            "SELECT count(*) AS n, count(DISTINCT __meta_offset) AS d, "
            "min(__meta_offset) AS lo, max(__meta_offset) AS hi FROM flow"}]},
        "output": {"type": "memory"},
    }]}))
    q = eng.streams[0].start(str(tmp_path / "ckpt"), once=True)
    assert not q.isActive and q.exception() is None
    got = [tuple(b[0]) for b in eng.streams[0].output.batches if b[0]["n"]]
    assert got == [
        (push_source.MAX_BATCH, push_source.MAX_BATCH, 0, push_source.MAX_BATCH - 1),
        (3, 3, push_source.MAX_BATCH, n - 1),
    ]


def test_backlog_drains_in_capped_batches(spark, tmp_path):
    """Under the default trigger, a backlog one message over the cap drains
    in two micro-batches, each at most MAX_BATCH rows, every offset exactly
    once."""
    n = push_source.MAX_BATCH + 3
    spool = _backlog(tmp_path, n)
    register(spark)
    sizes: list[int] = []
    offsets: list[tuple] = []

    def handle(df, eid):
        r = df.agg(
            F.count("*").alias("n"),
            F.countDistinct("__meta_offset").alias("d"),
            F.min("__meta_offset").alias("lo"),
            F.max("__meta_offset").alias("hi"),
        ).collect()[0]
        sizes.append(r["n"])
        offsets.append((r["d"], r["lo"], r["hi"]))

    q = (
        spark.readStream.format("spooldir")
        .option("path", spool)
        .load()
        .writeStream.foreachBatch(handle)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    sizes = [s for s in sizes if s]
    assert sizes == [push_source.MAX_BATCH, 3]
    assert [o for o in offsets if o[0]] == [
        (push_source.MAX_BATCH, 0, push_source.MAX_BATCH - 1),
        (3, push_source.MAX_BATCH, n - 1),
    ]


class _ReplaySpyReader(SpoolDirStreamReader):
    """Records every replay read as ``<start>_<end>`` in ``<spool>.replays``."""

    def readBetweenOffsets(self, start, end):
        marks = self.path + ".replays"
        os.makedirs(marks, exist_ok=True)
        open(os.path.join(marks, f"{start['seq']}_{end['seq']}"), "w").close()
        return super().readBetweenOffsets(start, end)


class _ReplaySpySource(push_source.SpoolDirDataSource):
    @classmethod
    def name(cls) -> str:
        return "spooldir_replay_spy"

    def simpleStreamReader(self, schema):
        return _ReplaySpyReader(self.options)


def test_failed_batch_replays_exactly_once_with_compaction(spark, tmp_path):
    """Fault injection on the replay path: the first attempt fails inside
    foreachBatch after the batch's offsets are logged, so the query stops
    with the batch uncommitted. The restart on the same checkpoint re-reads
    that batch through readBetweenOffsets (an executor-side read: the
    prefetch cache died with the first query), every message lands exactly
    once, and compaction never deletes a message before its batch commits."""
    from pyspark import cloudpickle
    from pyspark.errors import StreamingQueryException

    # the spy classes live in this test module, which Spark's Python
    # workers cannot import: ship them by value
    cloudpickle.register_pickle_by_value(sys.modules[__name__])
    try:
        spark.dataSource.register(_ReplaySpySource)
    finally:
        cloudpickle.unregister_pickle_by_value(sys.modules[__name__])
    spool, ckpt = str(tmp_path / "spool"), str(tmp_path / "ckpt")
    for i in range(5):
        spool_write(spool, f"a{i}".encode())
    landed: list[tuple[int, bytes]] = []
    missing: list[int] = []

    def start(fail: bool):
        def handle(df, eid):
            rows = [(r["__meta_offset"], bytes(r["__value__"])) for r in df.collect()]
            # compaction must not have run ahead of this batch's commit
            missing.extend(
                seq for seq, _ in rows
                if not os.path.exists(os.path.join(spool, f"{seq}.msg"))
            )
            if fail:
                raise RuntimeError("injected sink failure")
            landed.extend(rows)

        return (
            spark.readStream.format("spooldir_replay_spy")
            .option("path", spool)
            .option("compact_on_commit", "true")
            .load()
            .writeStream.foreachBatch(handle)
            .option("checkpointLocation", ckpt)
            .start()
        )

    q = start(fail=True)
    with pytest.raises(StreamingQueryException, match="injected sink failure"):
        q.awaitTermination(120)
    assert os.path.exists(os.path.join(ckpt, "offsets", "0"))
    assert not os.path.exists(os.path.join(ckpt, "commits", "0"))
    assert sorted(f for f in os.listdir(spool) if f.endswith(".msg")) == [
        f"{i}.msg" for i in range(5)
    ]

    q = start(fail=False)
    try:
        q.processAllAvailable()
        assert os.listdir(spool + ".replays") == ["-1_4"]
        for i in range(5, 8):
            spool_write(spool, f"b{i}".encode())
        q.processAllAvailable()
    finally:
        q.stop()
    assert missing == []
    assert sorted(landed) == [(i, f"a{i}".encode()) for i in range(5)] + [
        (i, f"b{i}".encode()) for i in range(5, 8)
    ]
    # the second batch's offsets committed the replayed one: compacted;
    # its own messages wait for the next commit
    assert sorted(f for f in os.listdir(spool) if f.endswith(".msg")) == [
        "5.msg", "6.msg", "7.msg"
    ]
    assert os.listdir(spool + ".replays") == ["-1_4"]
