"""Lookup ("temporary") tables: stream-side enrichment joins.

Reference: trait Temporary::get(keys) (crates/arkflow-core/src/temporary/
mod.rs:40-44) + the SQL processor's fetch-register-join flow
(processor/sql.rs:148-183) with key expressions evaluated against the batch
(crates/arkflow-plugin/src/expr/mod.rs). The redis implementation
(temporary/redis.rs) is a keyed KV fetch.

Spark-first mapping: the lookup is a DataFrame (inline rows, file, or JDBC),
optionally key-filtered by a SQL expression over the batch (a semi join —
the distributed analog of MGET on the batch's keys), registered as a temp
view for the user's join SQL, and broadcast when small.

Lookups built on the driver (``static`` rows, ``redis`` hits) become
``pyarrow`` tables, so their DataFrames plan as a JVM-local
``LocalRelation``: registering and broadcasting them per batch runs no
Python worker.

Interface: ``register(session, batch_df) -> None``.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from arkflow_spark.registry import TEMPORARIES


def _local_table(rows: list, schema: str) -> pa.Table:
    """Driver-side rows (tuples, in DDL ``schema`` order) as an Arrow table;
    ``createDataFrame`` of it is a LocalRelation. Naive datetimes are taken
    as UTC."""
    struct = StructType.fromDDL(schema)
    for r in rows:
        if len(r) != len(struct.names):
            raise ValueError(
                f"row {r!r} has {len(r)} values, schema {schema!r} "
                f"has {len(struct.names)} columns"
            )
    return pa.Table.from_pylist(
        [dict(zip(struct.names, r)) for r in rows], schema=to_arrow_schema(struct)
    )


class _BaseTemporary:
    def __init__(self, conf: dict):
        self.name = conf["name"]
        # key expression evaluated against the batch (expr/mod.rs parity);
        # key_column names the lookup-side column holding the same key
        self.key_expr = conf.get("key_expr")
        self.key_column = conf.get("key_column")
        self.broadcast = bool(conf.get("broadcast", True))

    def _load(self, session: SparkSession) -> DataFrame:
        raise NotImplementedError

    def register(self, session: SparkSession, batch_df: DataFrame) -> None:
        lookup = self._load(session)
        if self.key_expr and self.key_column:
            keys = batch_df.select(
                F.expr(self.key_expr).alias("__key__")
            ).distinct()
            lookup = lookup.join(
                F.broadcast(keys),
                lookup[self.key_column] == keys["__key__"],
                "left_semi",
            )
        if self.broadcast:
            lookup = F.broadcast(lookup)
        lookup.createOrReplaceTempView(self.name)


@TEMPORARIES.register("static")
class StaticTemporary(_BaseTemporary):
    """Inline rows: ``rows`` (list of dicts) + ``schema`` (DDL), converted
    to Arrow once."""

    def __init__(self, conf: dict):
        super().__init__(conf)
        self.table = _local_table(
            [tuple(r.values()) if isinstance(r, dict) else tuple(r) for r in conf["rows"]],
            conf["schema"],
        )

    def _load(self, session: SparkSession) -> DataFrame:
        return session.createDataFrame(self.table)


@TEMPORARIES.register("file")
class FileTemporary(_BaseTemporary):
    """File-backed lookup (parquet/csv/json) refreshed per batch —
    the replacement for the reference's redis KV table."""

    def __init__(self, conf: dict):
        super().__init__(conf)
        self.path = conf["path"]
        self.format = conf.get("format", "parquet")
        self.options = dict(conf.get("options", {}))

    def _load(self, session: SparkSession) -> DataFrame:
        r = session.read.format(self.format)
        for k, v in self.options.items():
            r = r.option(k, v)
        return r.load(self.path)


@TEMPORARIES.register("jdbc")
class JdbcTemporary(_BaseTemporary):
    """JDBC-backed lookup (needs driver jar on classpath)."""

    def __init__(self, conf: dict):
        super().__init__(conf)
        self.url = conf["url"]
        self.table = conf["table"]

    def _load(self, session: SparkSession) -> DataFrame:
        return (
            session.read.format("jdbc")
            .option("url", self.url)
            .option("dbtable", self.table)
            .load()
        )


@TEMPORARIES.register("redis")
class RedisTemporary(_BaseTemporary):
    """Redis KV lookup — direct parity with the reference's only temporary
    impl (temporary/redis.rs:177; keyed GET/MGET fetch :59-122).

    Per batch: evaluate ``key_expr`` over the batch, MGET the distinct keys
    (driver-side, exactly the reference's fetch shape — lookup keys per
    micro-batch are bounded, unlike the data itself), register the hits as
    a broadcast temp view ``name`` with columns (``key_column``, value).

    At 100 TB batch sizes prefer FileTemporary/JdbcTemporary (distributed
    semi join) or a mapInPandas client pool; this type is for genuinely
    small per-batch key sets. ``client`` conf injects any object with
    ``mget(keys) -> list[bytes|None]`` (redis-py compatible) for tests;
    otherwise redis-py is constructed from ``url`` (import-gated).
    """

    def __init__(self, conf: dict):
        super().__init__(conf)
        self.key_column = self.key_column or "key"
        self.value_column = conf.get("value_column", "value")
        self.url = conf.get("url", "redis://localhost:6379")
        self.client = conf.get("client")

    def _get_client(self):
        if self.client is not None:
            return self.client
        try:  # pragma: no cover - redis-py absent in container
            import redis
        except ImportError as e:
            raise NotImplementedError(
                "redis temporary needs redis-py (or inject 'client')"
            ) from e
        return redis.Redis.from_url(self.url)  # pragma: no cover

    def register(self, session: SparkSession, batch_df: DataFrame) -> None:
        if not self.key_expr:
            raise ValueError("redis temporary requires key_expr")
        keys = [
            r[0]
            for r in batch_df.select(F.expr(self.key_expr).alias("k"))
            .distinct()
            .collect()
            if r[0] is not None
        ]
        client = self._get_client()
        vals = client.mget([str(k) for k in keys]) if keys else []
        rows = [
            (str(k), v.decode() if isinstance(v, (bytes, bytearray)) else str(v))
            for k, v in zip(keys, vals)
            if v is not None
        ]
        schema = f"{self.key_column} string, {self.value_column} string"
        lookup = session.createDataFrame(_local_table(rows, schema))
        F.broadcast(lookup).createOrReplaceTempView(self.name)
