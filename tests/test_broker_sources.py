"""Broker push sources: subscribe -> spool -> incremental offsets, per broker.

Parity target: crates/arkflow-plugin/src/input/{mqtt,websocket,nats,pulsar,
redis,modbus}.rs — here exercised through the shared BrokerStreamReader
with the deterministic fake client (the broker libraries are absent by
design; the default adapters are import-gated)."""

from __future__ import annotations

import os
import sys
import time

import pytest

from arkflow_spark.sources.brokers import (
    ALL_BROKER_SOURCES,
    BrokerStreamReader,
    FakeBrokerClient,
    http_poll_client,
    mqtt_client,
    modbus_client,
    nats_client,
    pulsar_client,
    redis_client,
    websocket_client,
)
from arkflow_spark.sources.push_source import SCHEMA, spool_write

# gated on absent client libraries
GATED_FACTORIES = {
    "mqtt_broker": mqtt_client,
    "websocket": websocket_client,
    "nats": nats_client,
    "pulsar": pulsar_client,
    "redis_sub": redis_client,
    "modbus": modbus_client,
}
# http_poll is stdlib-backed — never gated
FACTORIES = {**GATED_FACTORIES, "http_poll": http_poll_client}


@pytest.mark.parametrize("source_cls", ALL_BROKER_SOURCES)
def test_subscribe_spool_offsets_per_broker(source_cls, tmp_path):
    """Fake-client pump: messages land in the spool, offsets advance
    incrementally, ranges replay the exact payloads."""
    name = source_cls.name()
    spool = str(tmp_path / name)
    reader = BrokerStreamReader(
        {"path": spool, "client": "fake", "fake_count": "4",
         "fake_prefix": name, "source_name": name},
        FACTORIES[name],
    )
    assert reader.initialOffset() == {"seq": -1}
    it, end = reader.read({"seq": -1})  # starts the pump (synchronous fake)
    assert end == {"seq": 3}

    rows = list(it)
    assert list(reader.readBetweenOffsets({"seq": -1}, end)) == rows
    assert [bytes(r[0]) for r in rows] == [
        f"{name}-{i}".encode() for i in range(4)
    ]
    assert [r[2] for r in rows] == [0, 1, 2, 3]  # __meta_offset
    assert all(r[1] == name for r in rows)  # __meta_source

    # late external append (bridge write) -> offset advances incrementally
    spool_write(spool, b"late")
    it2, end2 = reader.read(end)
    assert end2 == {"seq": 4}
    assert [bytes(r[0]) for r in it2] == [b"late"]
    reader.stop()


@pytest.mark.parametrize("name,factory", sorted(GATED_FACTORIES.items()))
def test_default_adapter_is_import_gated(name, factory, tmp_path):
    """Without the client library, the default adapter raises an
    actionable NotImplementedError at construction."""
    with pytest.raises(NotImplementedError, match="pip install"):
        BrokerStreamReader({"path": str(tmp_path)}, factory)


def test_injectable_factory_by_module_path(tmp_path):
    """client=module:callable injection (options are strings, so clients
    inject by reference)."""
    reader = BrokerStreamReader(
        {
            "path": str(tmp_path / "s"),
            "client": "arkflow_spark.sources.brokers:FakeBrokerClient",
            "fake_count": "2",
        },
        mqtt_client,
    )
    assert isinstance(reader._client, FakeBrokerClient)
    assert reader.read(reader.initialOffset())[1] == {"seq": 1}


def test_streaming_end_to_end_fake_broker(spark, tmp_path):
    """One Spark-level pass: readStream over a fake-fed broker source
    lands every message with the raw-batch schema."""
    from arkflow_spark.sources.brokers import register

    register(spark)
    spool = str(tmp_path / "spool")
    out_dir = str(tmp_path / "out")
    q = (
        spark.readStream.format("nats")
        .option("path", spool)
        .option("client", "fake")
        .option("fake_count", "5")
        .load()
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.schema(SCHEMA).parquet(out_dir)
    vals = sorted(bytes(r["__value__"]).decode() for r in got.collect())
    assert vals == [f"msg-{i}" for i in range(5)]


def test_batch_read_pumps_synchronous_clients(spark, tmp_path):
    """spark.read over a fake-fed broker source drains the synchronous
    client inline — batch mode is no longer silently empty."""
    from arkflow_spark.sources.brokers import register

    register(spark)
    df = (
        spark.read.format("nats")
        .option("path", str(tmp_path / "spool"))
        .option("client", "fake")
        .option("fake_count", "3")
        .load()
    )
    vals = sorted(bytes(r["__value__"]).decode() for r in df.collect())
    assert vals == ["msg-0", "msg-1", "msg-2"]


class _ClosingClient(FakeBrokerClient):
    """Fake feed that marks its close in ``<path>.closed``."""

    def __init__(self, options: dict):
        super().__init__(options)
        self.marker = options["path"] + ".closed"

    def close(self) -> None:
        open(self.marker, "w").close()


def test_stopping_a_query_closes_the_broker_client(spark, tmp_path):
    """Stopping a streaming query stops the reader in Spark's streaming
    runner, which closes the broker client (a clean disconnect)."""
    from pyspark import cloudpickle

    from arkflow_spark.sources.brokers import _broker_source

    # the client lives in this test module, which Spark's Python workers
    # cannot import: ship it by value
    cloudpickle.register_pickle_by_value(sys.modules[__name__])
    try:
        spark.dataSource.register(_broker_source("close_spy", _ClosingClient))
    finally:
        cloudpickle.unregister_pickle_by_value(sys.modules[__name__])
    spool = str(tmp_path / "spool")
    q = (
        spark.readStream.format("close_spy")
        .option("path", spool)
        .load()
        .writeStream.format("noop")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        assert sum(p.numInputRows for p in q.recentProgress) == 3
        assert not os.path.exists(spool + ".closed")
    finally:
        q.stop()
    deadline = time.time() + 30
    while not os.path.exists(spool + ".closed") and time.time() < deadline:
        time.sleep(0.2)
    assert os.path.exists(spool + ".closed")
