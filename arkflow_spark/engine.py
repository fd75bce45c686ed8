"""Engine: YAML config -> running streams.

Maps the reference's runtime (Engine::run -> RuntimeManager ->
Stream::run, crates/arkflow-core/src/{engine/mod.rs,runtime.rs,
stream/mod.rs}) onto Spark:

- a Stream wires input -> [buffer] -> processors -> output;
- batch mode runs the chain once (one DataFrame = one MessageBatch);
- streaming mode runs it under foreachBatch with Spark checkpointing
  replacing the reference's WAL/ack machinery (stream/mod.rs:190-219
  replay == checkpoint recovery);
- error_output is the per-stream dead-letter route (stream/mod.rs:485-516):
  a failing batch is diverted raw to the DLQ sink and the stream continues.

Ordering note: the reference reorders writes by per-message sequence
(stream/mod.rs:446-483); micro-batches are ordered by construction, so no
reordering machinery exists here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from arkflow_spark import registry
from arkflow_spark.config import EngineConfig, StreamConfig, parse_duration_ms
from arkflow_spark.registry import (
    BUFFERS,
    INPUTS,
    OUTPUTS,
    PROCESSORS,
    TEMPORARIES,
)
from arkflow_spark.sources.push_source import hit_cap


class Stream:
    def __init__(self, spark: SparkSession, conf: StreamConfig):
        registry.load_all()
        self.spark = spark
        self.conf = conf
        self.name = conf.name
        self.input = INPUTS.build(conf.input)
        self.buffer = BUFFERS.build(conf.buffer) if conf.buffer else None
        self.processors = [PROCESSORS.build(p) for p in conf.processors]
        self.output = OUTPUTS.build(conf.output)
        self.error_output = (
            OUTPUTS.build(conf.error_output) if conf.error_output else None
        )
        # stream-level lookup tables (reference: temporary section of the
        # stream YAML, resolved by name from SQL processors —
        # processor/sql.rs:148-183); refreshed against every batch
        self.temporaries = [TEMPORARIES.build(t) for t in conf.temporaries]

    # -- shared transform chain ------------------------------------------
    def _transform(self, df: DataFrame) -> DataFrame:
        # under foreachBatch the batch lives in a cloned session, where the
        # sql processor looks its views up
        for t in self.temporaries:
            t.register(df.sparkSession, df)
        if self.buffer is not None:
            df = self.buffer.apply(self.spark, df)
        for p in self.processors:
            df = p.process(self.spark, df)
        return df

    # -- batch mode -------------------------------------------------------
    def run_batch(self) -> DataFrame:
        """One-shot: read -> transform -> write; returns the result frame."""
        df = self.input.read_batch(self.spark)
        try:
            out = self._transform(df)
            self.output.write_batch(out, 0)
            return out
        except Exception:
            if self.error_output is not None:
                self.error_output.write_batch(df, 0)
                return df.limit(0)
            raise

    # -- streaming mode ---------------------------------------------------
    def start(
        self,
        checkpoint_dir: str,
        trigger_ms: int | None = None,
        once: bool = False,
    ):
        """Start the stream: readStream -> foreachBatch(transform+write).

        foreachBatch (not a native sink) because the reference's per-batch
        SQL/table-registration model (processor/sql.rs:117-119) needs a
        concrete DataFrame per micro-batch.

        ``once=True`` uses the availableNow trigger: process everything
        currently available (respecting per-trigger ingest caps), then stop
        — the drain-and-exit mode for backfills and bounded demo runs. It
        blocks until drained and returns the last, terminated, query: a
        spool backlog over the read cap takes one run per cap.

        A stream-level ``durability:`` block (reference:
        examples/durability_example.yaml) overrides the checkpoint
        location with its ``path`` — the checkpoint log IS the WAL
        here: offsets commit only after foreachBatch returns, so a
        crash between read and output replays the batch
        (at-least-once, same contract as the reference's WAL).
        """
        if self.conf.durability_path:
            checkpoint_dir = self.conf.durability_path
        sdf = self.input.read_stream(self.spark)

        def handle(batch_df: DataFrame, epoch_id: int) -> None:
            try:
                out = self._transform(batch_df)
                self.output.write_batch(out, epoch_id)
            except Exception:
                if self.error_output is None:
                    raise
                # dead-letter the raw batch, keep the stream alive
                self.error_output.write_batch(batch_df, epoch_id)

        writer = (
            sdf.writeStream.foreachBatch(handle)
            .option("checkpointLocation", checkpoint_dir)
            .queryName(self.name or "arkflow-stream")
        )
        if once:
            # Spark fixes an availableNow run's end offset with one read of
            # a Python source, and a spool read stops at MAX_BATCH messages:
            # rerun on the same checkpoint until no read was cut there
            writer = writer.trigger(availableNow=True)
            while True:
                q = writer.start()
                q.awaitTermination()
                if not any(
                    hit_cap(s) for p in q.recentProgress for s in p.sources
                ):
                    return q
        interval = trigger_ms
        if interval is None and self.buffer is not None:
            interval = getattr(self.buffer, "timeout_ms", None) or getattr(
                self.buffer, "interval_ms", None
            )
        if interval:
            writer = writer.trigger(processingTime=f"{interval} milliseconds")
        return writer.start()


class Engine:
    """All configured streams (reference: RuntimeManager, runtime.rs:351,544)."""

    def __init__(self, spark: SparkSession, config: EngineConfig):
        self.spark = spark
        self.streams = [Stream(spark, s) for s in config.streams]

    @classmethod
    def from_file(cls, spark: SparkSession, path: str) -> "Engine":
        return cls(spark, EngineConfig.from_file(path))

    def run_batch_all(self) -> list[DataFrame]:
        return [s.run_batch() for s in self.streams]

    def start_all(self, checkpoint_root: str, once: bool = False) -> list:
        return [
            s.start(f"{checkpoint_root}/{i}_{s.name}", once=once)
            for i, s in enumerate(self.streams)
        ]


def main() -> None:  # pragma: no cover
    """CLI: python -m arkflow_spark.engine <config.yaml> [--stream [--once]]

    ``--stream`` runs Structured Streaming; add ``--once`` to drain what
    is currently available (availableNow trigger) and exit.
    """
    import sys

    from arkflow_spark.session import get_spark

    path = sys.argv[1]
    streaming = "--stream" in sys.argv
    once = "--once" in sys.argv
    spark = get_spark("arkflow-engine")
    eng = Engine.from_file(spark, path)
    if streaming:
        import tempfile

        queries = eng.start_all(
            tempfile.mkdtemp(prefix="arkflow-ckpt-"), once=once
        )
        for q in queries:
            q.awaitTermination()
    else:
        eng.run_batch_all()


if __name__ == "__main__":  # pragma: no cover
    main()
