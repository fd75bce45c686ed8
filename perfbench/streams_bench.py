"""Stream workloads: ``arkflow_spark.engine.Engine`` built from YAML.

Set-up starts the session, parses the config, builds the engine, starts
the stream and waits until it has settled: ``workloads.SETTLED_BATCHES``
consecutive non-empty batches past the cold start and its backlog. The
commit of the last of them opens the timed window. Events due in the
window are timed from their due time to the end (commit included) of the
micro-batch that emitted them. After the window the offered load stops,
the stream drains, and the outputs are checked: every offered event must
be emitted exactly once.
"""

from __future__ import annotations

import ast
import datetime
import glob
import json
import os
import subprocess
import sys
import threading
import time

import numpy as np
import yaml

import workloads as W
from tracing import (
    EXEC_UNITS,
    PYTHON_UNITS,
    as_layers,
    exec_counters,
    geomean,
    median,
    pct,
    read_eventlog,
)

HERE = os.path.dirname(os.path.abspath(__file__))


def _epoch(ts: str) -> float:
    return (
        datetime.datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ")
        .replace(tzinfo=datetime.timezone.utc)
        .timestamp()
    )


def _offset(progress, key: str) -> int:
    """The spool sequence (push) or rate-source second (ingest) a
    progress record's source range starts or ends at."""
    raw = getattr(progress.sources[0], key)
    # the rate source reports a number, a Python data source the repr of
    # its offset dict ("{'seq': 4}"), and a first batch "None"
    val = ast.literal_eval(raw) if isinstance(raw, str) else raw
    if val is None:
        return -1
    return int(val["seq"] if isinstance(val, dict) else val)


class Batches:
    """Committed micro-batches by id. A ``StreamingQueryListener`` receives
    each progress record once; polling ``recentProgress`` instead converts
    every retained record through py4j on each call."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        by_id: dict[int, object] = {}
        lock = threading.Lock()

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                with lock:
                    if p.numInputRows > 0 or p.batchId not in by_id:
                        by_id[p.batchId] = p

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._by_id, self._lock = by_id, lock
        self.listener = Listener()
        spark.streams.addListener(self.listener)

    def poll(self) -> dict:
        with self._lock:
            return dict(self._by_id)

    @staticmethod
    def end(p) -> float:
        return _epoch(p.timestamp) + p.durationMs.get("triggerExecution", 0) / 1e3


class Instruments:
    """Wraps the built stream's components, from outside the program.

    Every run: on stream_ingest the output frame carries one
    ``DataFrame.observe`` (row count and due-time range of each batch) so
    emitted counts can be checked against a ``drop`` sink. Traced runs add
    spans around ``_transform``, each processor's ``process``, each
    processor-level temporary's ``register`` and the sink's ``write_batch``,
    plus per-processor output row counts, also through ``observe``."""

    def __init__(self, ctx, stream, observe_output: bool, spool_dir: str | None):
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        self.out_obs: dict[int, dict] = {}
        self.rows_out: dict[str, list[int]] = {}
        self.write_s: list[float] = []
        self.register_s: list[float] = []
        self.spool_files: list[int] = []
        tracer = ctx.tracer
        state = {"n": 0, "sid": None, "t0": 0.0, "obs": []}

        if ctx.trace:
            transform = stream._transform

            def traced_transform(df):
                state["n"] += 1
                state["sid"] = sid = f"b{state['n']}"
                state["t0"] = time.time()
                state["obs"] = []
                tracer.push(sid, "engine.batch")
                if spool_dir:
                    self.spool_files.append(
                        len(glob.glob(os.path.join(spool_dir, "*.msg")))
                    )
                return transform(df)

            stream._transform = traced_transform

            for conf, proc in zip(stream.conf.processors, stream.processors):
                kind = conf["type"]

                def traced_process(spark, df, _orig=proc.process, _kind=kind):
                    with tracer.span(state["sid"], f"operators.{_kind}.process"):
                        out = _orig(spark, df)
                    ob = Observation(f"rows_{_kind}_{state['n']}")
                    state["obs"].append((_kind, ob))
                    return out.observe(ob, F.count(F.lit(1)).alias("rows"))

                proc.process = traced_process
                for tmp in getattr(proc, "temporaries", []):

                    def traced_register(session, df, _orig=tmp.register):
                        t0 = time.perf_counter()
                        with tracer.span(state["sid"], "temporary.register"):
                            _orig(session, df)
                        self.register_s.append(time.perf_counter() - t0)

                    tmp.register = traced_register

        write = stream.output.write_batch

        def wrapped_write(df, epoch_id=0):
            ob = None
            if observe_output:
                ob = Observation(f"out_{epoch_id}")
                df = df.observe(
                    ob,
                    F.coalesce(F.sum("n"), F.lit(0)).alias("n"),
                    F.min(F.unix_micros("first_due")).alias("lo"),
                    F.max(F.unix_micros("last_due")).alias("hi"),
                )
            if not ctx.trace:
                write(df, epoch_id)
            else:
                sid = state["sid"]
                t0 = time.perf_counter()
                with tracer.span(sid, "sinks.write_batch"):
                    write(df, epoch_id)
                self.write_s.append(time.perf_counter() - t0)
                for kind, o in state["obs"]:
                    self.rows_out.setdefault(kind, []).append(int(o.get["rows"]))
                tracer.pop(sid, "engine.batch", state["t0"])
            if ob is not None:
                self.out_obs[epoch_id] = ob.get

        stream.output.write_batch = wrapped_write


def _count_rows(path: str, fmt: str) -> int:
    import pyarrow.dataset as ds

    files = [
        p for p in glob.glob(os.path.join(path, f"*.{fmt}")) if os.path.getsize(p) > 0
    ]
    if not files:
        return 0
    return ds.dataset(files, format=fmt).count_rows()


def run(ctx) -> dict:
    from arkflow_spark.engine import Engine
    from arkflow_spark.session import get_spark

    spark = get_spark(
        f"perfbench-{ctx.workload}", master=ctx.master, extra_conf=ctx.session_conf()
    )
    ctx.spark = spark
    push = ctx.workload == "stream_push"
    d = {k: os.path.join(ctx.root, k) for k in ("spool", "out", "dlq", "ckpt")}
    if push:
        cfg = W.push_config(ctx.seed, d["spool"], d["out"], d["dlq"])
        trigger_ms = W.PUSH_TRIGGER_MS
        slot_s = trigger_ms / 1e3
        max_rows = W.SETTLED_BACKLOG * W.PUSH_MSGS_PER_S * slot_s
    else:
        rate = W.INGEST_ROWS_PER_S_PER_CORE * spark.sparkContext.defaultParallelism
        cfg = W.ingest_config(ctx.seed, d["dlq"], rate)
        trigger_ms = W.INGEST_TRIGGER_MS
        slot_s = 1.0
        max_rows = W.SETTLED_BACKLOG * rate
    max_ms = W.SETTLED_BACKLOG * slot_s * 1e3
    yaml_path = os.path.join(ctx.root, f"{ctx.workload}.yaml")
    with open(yaml_path, "w") as fh:
        yaml.safe_dump(cfg, fh, sort_keys=False)
    engine = Engine.from_file(spark, yaml_path)
    stream = engine.streams[0]
    inst = Instruments(ctx, stream, observe_output=not push, spool_dir=d["spool"] if push else None)
    batches = Batches(spark)
    query = stream.start(d["ckpt"], trigger_ms=trigger_ms)
    ctx.stoppers.append(lambda: query.stop() if query.isActive else None)
    gen = None
    if push:
        gen_out = os.path.join(ctx.root, "pushgen.json")
        gen = subprocess.Popen(
            [
                sys.executable, os.path.join(HERE, "pushgen.py"),
                "--port", str(stream.input.port),
                "--seed", str(ctx.seed),
                "--start", repr(time.time() + 0.2),
                "--out", gen_out,
            ],
            stdin=subprocess.PIPE,
        )
        ctx.children.append(gen)

    # set-up ends at the commit of the last of SETTLED_BATCHES consecutive
    # non-empty batches past the cold start, its backlog and JIT warm-up
    deadline = time.time() + W.SETTLE_TIMEOUT_S
    w0 = None
    while w0 is None:
        if time.time() > deadline or not query.isActive:
            raise RuntimeError(f"stream did not settle: {query.exception()}")
        settled = []
        for p in sorted(batches.poll().values(), key=lambda p: p.batchId):
            ms = p.durationMs.get("triggerExecution", max_ms + 1)
            if p.numInputRows == 0:
                continue
            if p.numInputRows <= max_rows and ms <= max_ms:
                settled.append(p)
            else:
                settled = []
            if len(settled) == W.SETTLED_BATCHES:
                w0 = batches.end(p)
                break
        time.sleep(0.05)
    ctx.setup_done(at=w0)
    ctx.tracer.spans.clear()
    inst.rows_out.clear()
    inst.write_s.clear()
    inst.register_s.clear()
    inst.spool_files.clear()
    w1 = w0 + ctx.seconds
    time.sleep(max(0.0, w1 - time.time()))

    sent: list[dict] = []
    if push:
        # every message due in the window is sent, however late the sender
        gen.stdin.write(f"{w1!r}\n".encode())
        gen.stdin.close()
        gen.wait(timeout=30)
        with open(gen_out) as fh:
            sent = json.load(fh)
        accepted = [r for r in sent if r.get("status") == 200]
        last_seq = max((r["seq"] for r in accepted), default=-1)

        def drained(bs):
            return any(_offset(p, "endOffset") >= last_seq for p in bs.values())
    else:

        def drained(bs):
            return any(
                o["hi"] is not None and o["hi"] / 1e6 >= w1 - 1e-3
                for o in inst.out_obs.values()
            )

    deadline = time.time() + W.DRAIN_TIMEOUT_S
    while not drained(batches.poll()) and time.time() < deadline and query.isActive:
        time.sleep(0.05)
    undrained = not drained(batches.poll())
    if undrained:
        ctx.log("the stream did not drain the window's events in time")
    ctx.timed_done()
    query.stop()
    exc = query.exception()
    if exc is not None:
        ctx.log(f"stream failed: {exc}")
    time.sleep(0.5)  # the listener bus delivers the last progress records
    spark.streams.removeListener(batches.listener)
    by_id = batches.poll()
    dlq_rows = _count_rows(d["dlq"], "json")
    if push:
        res = _push_results(ctx, by_id, batches, sent, d["out"], w0, w1, inst, dlq_rows)
    else:
        res = _ingest_results(ctx, by_id, batches, inst, w0, w1, dlq_rows, rate)
    if exc is not None or undrained:
        res["failed"] = max(res["failed"], 1)
    return res


def _summarise(ctx, lat: np.ndarray, window_batches: list, batches: Batches,
               w0: float, w1: float, lag: list[float], dlq_rows: int, inst) -> dict:
    """Metrics shared by both stream workloads."""
    rows = sum(p.numInputRows for p in window_batches)
    busy = sum(p.durationMs.get("triggerExecution", 0) for p in window_batches) / 1e3
    finite = lat[np.isfinite(lat)]
    cap = float(finite.max()) if finite.size else 0.0

    def q(v):
        return float(min(np.percentile(lat, v), cap)) if lat.size else 0.0

    ctx.report.update(
        {
            "window_events": int(lat.size),
            "event_latency_p50_s": q(50),
            "event_latency_p95_s": q(95),
            "event_latency_p99_s": q(99),
            "rows_per_busy_s": rows / busy if busy else 0.0,
            "window_batches": len(window_batches),
        }
    )
    metrics = {
        "latency_geomean_s": (geomean(finite.tolist()) if finite.size else 0.0, "s"),
        "items_per_busy_s": (rows / busy if busy else 0.0, "1/s"),
    }
    if ctx.trace:
        L = ctx.layers
        n = len(window_batches)

        def dur(k):
            return [p.durationMs.get(k, 0) for p in window_batches]

        trig = dur("triggerExecution")
        L["engine.batches"] = (n, "count", n)
        L["engine.rows_per_batch_p50"] = (
            median([p.numInputRows for p in window_batches]), "count", n)
        L["engine.batch_ms_p50"] = (median(trig), "ms", n)
        L["engine.batch_ms_p95"] = (pct(trig, 95), "ms", n)
        span = (batches.end(window_batches[-1]) - _epoch(window_batches[0].timestamp)
                if window_batches else 0.0)
        L["engine.busy_share"] = (busy / span if span else 0.0, "ratio", n)
        L["engine.add_batch_ms_p50"] = (median(dur("addBatch")), "ms", n)
        L["engine.planning_ms_p50"] = (median(dur("queryPlanning")), "ms", n)
        L["engine.commit_ms_p50"] = (
            median([a + b for a, b in zip(dur("walCommit"), dur("commitOffsets"))]), "ms", n)
        L["engine.dlq_rows"] = (dlq_rows, "count", n)
        L["sources.latest_offset_ms_p50"] = (median(dur("latestOffset")), "ms", n)
        L["sources.get_batch_ms_p50"] = (median(dur("getBatch")), "ms", n)
        L["sources.lag_s_p95"] = (pct(lag, 95), "s", len(lag))
        for kind, counts in inst.rows_out.items():
            L[f"operators.{kind}.rows_out"] = (sum(counts), "count", len(counts))
        for kind in ("json_to_arrow", "sql"):
            ms = [x * 1e3 for x in ctx.tracer.durations(f"operators.{kind}.process")]
            L[f"operators.{kind}.process_ms"] = (median(ms), "ms", len(ms))
        reg = [x * 1e3 for x in inst.register_s]
        L["temporary.register_ms"] = (median(reg), "ms", len(reg))
        wr = [x * 1e3 for x in inst.write_s]
        L["sinks.write_ms_p50"] = (median(wr), "ms", len(wr))
        L["sinks.write_ms_p95"] = (pct(wr, 95), "ms", len(wr))
        t_lo, t_hi = w0 * 1e3, (w1 + W.DRAIN_TIMEOUT_S) * 1e3

        def in_window(e):
            return t_lo <= e.get("Submission Time", 0) <= t_hi

        ctx.after_stop = lambda: _stream_exec_layers(ctx, in_window, n)
    return metrics


def _stream_exec_layers(ctx, keep, n: int) -> None:
    ex = exec_counters(read_eventlog(ctx.root), keep)
    ctx.layers.update(as_layers(ex, EXEC_UNITS, n, prefix="exec."))
    ctx.layers.update(as_layers(ex, PYTHON_UNITS, n))


def _ingest_results(ctx, by_id, batches, inst, w0, w1, dlq_rows, rate) -> dict:
    # batches both committed (progress) and written (observed output)
    common = [b for b in sorted(inst.out_obs) if b in by_id and by_id[b].numInputRows]
    emitted = sum(int(inst.out_obs[b]["n"] or 0) for b in common)
    processed = sum(by_id[b].numInputRows for b in common)
    # every offered second read exactly once: source ranges chain from 0
    ranges = [(max(_offset(by_id[b], "startOffset"), 0), _offset(by_id[b], "endOffset"))
              for b in common]
    gaps = sum(1 for a, b in zip([(0, 0)] + ranges, ranges) if a[1] != b[0])
    offered_rows = (ranges[-1][1] if ranges else 0) * rate
    lat_parts = []
    window_batches = []
    lag = []
    for bid in common:
        p, ob = by_id[bid], inst.out_obs[bid]
        n = int(ob["n"] or 0)
        due = np.linspace(ob["lo"] / 1e6, ob["hi"] / 1e6, n)
        keep = due[(due >= w0) & (due < w1)]
        if keep.size:
            window_batches.append(p)
            lat_parts.append(batches.end(p) - keep)
            lag.append(_epoch(p.timestamp) - ob["hi"] / 1e6)
    lat = np.concatenate(lat_parts) if lat_parts else np.array([])
    failed = abs(emitted - processed) + abs(processed - offered_rows) + gaps + dlq_rows
    if failed:
        ctx.log(
            f"ingest check: offered {offered_rows} processed {processed} emitted "
            f"{emitted} range gaps {gaps} dlq {dlq_rows}"
        )
    metrics = _summarise(ctx, lat, window_batches, batches, w0, w1, lag, dlq_rows, inst)
    ctx.report["rows_offered"] = offered_rows
    ctx.report["offered_rows_per_s"] = rate
    return {"attempted": max(offered_rows, 1), "failed": int(failed), "metrics": metrics}


def _push_results(ctx, by_id, batches, sent, out_dir, w0, w1, inst, dlq_rows) -> dict:
    import pyarrow.dataset as ds

    files = glob.glob(os.path.join(out_dir, "*.parquet"))
    table = ds.dataset(files, format="parquet").to_table() if files else None
    out = table.to_pylist() if table is not None else []
    lookup = {r["key"]: r["label"] for r in W.push_lookup(ctx.seed)}
    seen: dict[int, int] = {}
    bad = 0
    by_msg = {r["id"]: r for r in sent}
    from pushgen import message

    for row in out:
        seen[row["id"]] = seen.get(row["id"], 0) + 1
        rec = by_msg.get(row["id"])
        exp = json.loads(message(ctx.seed, row["id"], rec["due"])) if rec else None
        if exp is None or (row["key"], row["value"], row["label"]) != (
            exp["key"], exp["value"], lookup[exp["key"]]
        ):
            bad += 1
    refused = sum(1 for r in sent if r.get("status") != 200)
    accepted = [r for r in sent if r.get("status") == 200]
    missing = sum(1 for r in accepted if seen.get(r["id"], 0) == 0)
    dup = sum(c - 1 for c in seen.values() if c > 1)
    failed = refused + missing + dup + bad + dlq_rows
    if failed:
        ctx.log(
            f"push check: sent {len(sent)} refused {refused} missing {missing} "
            f"duplicated {dup} wrong {bad} dlq {dlq_rows}"
        )
    # batch of each spool offset: ranges (start, end] from the progress records
    ranges = sorted(
        (_offset(p, "startOffset"), _offset(p, "endOffset"), p)
        for p in by_id.values()
        if p.numInputRows > 0
    )
    starts = np.array([r[0] for r in ranges])
    seq_of = {r["id"]: r["seq"] for r in accepted}
    lat = []
    window_ids = set()
    batch_due_max: dict[int, float] = {}
    for r in sent:
        if not (w0 <= r["due"] < w1):
            continue
        window_ids.add(r["id"])
        seq = seq_of.get(r["id"])
        if seq is None or seen.get(r["id"], 0) == 0 or not ranges:
            lat.append(np.inf)
            continue
        k = int(np.searchsorted(starts, seq, side="left")) - 1
        lo, hi, p = ranges[k]
        if not (lo < seq <= hi):
            lat.append(np.inf)
            continue
        lat.append(batches.end(p) - r["due"])
        batch_due_max[p.batchId] = max(batch_due_max.get(p.batchId, 0.0), r["due"])
    window_batches = [by_id[b] for b in sorted(batch_due_max)]
    lag = [_epoch(by_id[b].timestamp) - due for b, due in batch_due_max.items()]
    metrics = _summarise(
        ctx, np.array(lat, dtype=float), window_batches, batches, w0, w1, lag, dlq_rows, inst
    )
    win = [r for r in sent if r["id"] in window_ids]
    late = [r["sent"] - r["due"] for r in win]
    post = [(r["done"] - r["sent"]) * 1e3 for r in win]
    ctx.report.update(
        {
            "messages_sent": len(sent),
            "offered_msgs_per_s": W.PUSH_MSGS_PER_S,
            "gen_late_p95_s": pct(late, 95),
            "gen_late_p99_s": pct(late, 99),
            "gen_late_max_s": max(late, default=0.0),
            "post_ms_p50": median(post),
            "post_ms_p95": pct(post, 95),
            "post_ms_max": max(post, default=0.0),
        }
    )
    if ctx.trace:
        L = ctx.layers
        for r in win:
            ctx.tracer.add(f"m{r['id']}", "http_ingest.post", r["sent"], r["done"])
        L["http_ingest.post_ms_p50"] = (median(post), "ms", len(post))
        L["http_ingest.post_ms_p95"] = (pct(post, 95), "ms", len(post))
        L["http_ingest.refused"] = (refused, "count", len(sent))
        L["push_source.spool_files_max"] = (
            max(inst.spool_files, default=0), "count", len(inst.spool_files))
        L["gen.late_p95_s"] = (pct(late, 95), "s", len(late))
        size = sum(os.path.getsize(f) for f in files)
        L["sinks.bytes_per_row"] = (size / len(out) if out else 0.0, "bytes", len(files))
    return {"attempted": max(len(sent), 1), "failed": int(failed), "metrics": metrics}
