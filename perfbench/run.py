"""arkflow_spark benchmark: batch-query and stream workloads.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
                             [--master local[1]]

Workloads: query_mix and stream_push (the scheduled ones), query_relational,
query_pipeline and stream_ingest (see README.md). Run from the root of a checkout; the program under test is
the ``arkflow_spark`` package there. Everything a run writes lives under
``.perfbench/`` in the checkout and is removed at exit, apart from the
trace file of a traced run (``.perfbench/traces/``).

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end ones, with ``--trace 1`` the per-layer ones. Lines before it
print every metric by name with its unit, plus the workload's own figures
(``query_total_s``, ``rows_per_busy_s``, ``fail_share``, ...).
"""

from __future__ import annotations

import time

PROCESS_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.getcwd()
sys.path[:0] = [HERE, CHECKOUT]

import workloads as W  # noqa: E402
from tracing import Tracer, eventlog_conf  # noqa: E402

END_TO_END = {
    "setup_s": "s",
    "latency_geomean_s": "s",
    "items_per_busy_s": "1/s",
}

# Every per-layer metric, with its unit. A layer a workload does not run
# through reports 0.
PER_LAYER = {
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "catalyst.plan_s": "s",
    "catalyst.exchanges": "count",
    "exec.collect_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.executor_run_s": "s",
    "exec.executor_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.input_bytes": "bytes",
    "exec.result_rows": "count",
    "python.eval_s": "s",
    "python.rows": "count",
    "python.bytes_sent": "bytes",
    "python.bytes_returned": "bytes",
    "functions.index_builds": "count",
    "functions.index_reuse_ratio": "ratio",
    "engine.batches": "count",
    "engine.rows_per_batch_p50": "count",
    "engine.batch_ms_p50": "ms",
    "engine.batch_ms_p95": "ms",
    "engine.busy_share": "ratio",
    "engine.add_batch_ms_p50": "ms",
    "engine.planning_ms_p50": "ms",
    "engine.commit_ms_p50": "ms",
    "engine.dlq_rows": "count",
    "sources.latest_offset_ms_p50": "ms",
    "sources.get_batch_ms_p50": "ms",
    "sources.lag_s_p95": "s",
    "operators.json_to_arrow.process_ms": "ms",
    "operators.json_to_arrow.rows_out": "count",
    "operators.sql.process_ms": "ms",
    "operators.sql.rows_out": "count",
    "temporary.register_ms": "ms",
    "sinks.write_ms_p50": "ms",
    "sinks.write_ms_p95": "ms",
    "sinks.bytes_per_row": "bytes",
    "http_ingest.post_ms_p50": "ms",
    "http_ingest.post_ms_p95": "ms",
    "http_ingest.refused": "count",
    "push_source.spool_files_max": "count",
    "gen.late_p95_s": "s",
    "memory.peak_rss_mb": "MB",
    "traced.latency_geomean_s": "s",
    "traced.items_per_busy_s": "1/s",
}


class Context:
    """One run's settings, its isolated directories and what it measured."""

    def __init__(self, args):
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.master = args.master
        self.query_names = W.QUERY_WORKLOADS.get(args.workload, ())
        self.root = os.path.join(
            CHECKOUT, ".perfbench", f"run-{os.getpid()}-{int(PROCESS_START * 1e3)}"
        )
        self.tracer = Tracer(self.trace)
        self.report: dict = {"workload": args.workload, "seed": args.seed}
        self.layers: dict[str, tuple] = {}
        self.layer_extra: dict[str, tuple] = {}
        self.per_query_layers: list[dict] = []
        self.after_stop = None
        self.stoppers: list = []
        self.children: list = []
        self.spark = None
        self.setup_s = None
        # harness work inside set-up (making the query tables), left out of setup_s
        self.harness_s = 0.0
        self.peak_rss_mb = 0.0

    def session_conf(self) -> dict:
        conf = {"spark.ui.showConsoleProgress": "false"}
        if self.trace:
            conf.update(eventlog_conf(self.root))
        return conf

    def log(self, msg: str) -> None:
        print(f"[perfbench] {msg}", file=sys.stderr, flush=True)

    def setup_done(self, at: float | None = None) -> None:
        self.setup_s = (at or time.time()) - PROCESS_START - self.harness_s

    def timed_done(self) -> None:
        gen_pids = {c.pid for c in self.children}
        by_cmd = peak_rss_mb(os.getpid(), exclude=gen_pids)
        self.report["peak_rss_mb_by_process"] = by_cmd
        self.peak_rss_mb = sum(by_cmd.values())


def _children(pid: int) -> list[int]:
    try:
        with open(f"/proc/{pid}/task/{pid}/children") as fh:
            return [int(x) for x in fh.read().split()]
    except OSError:
        return []


def peak_rss_mb(root_pid: int, exclude: set[int]) -> dict[str, float]:
    """Peak resident memory (VmHWM) of this process and its descendants,
    by command: the driver JVM and the Python processes."""
    by_cmd: dict[str, float] = {}
    todo = [root_pid]
    while todo:
        pid = todo.pop()
        if pid in exclude:
            continue
        try:
            with open(f"/proc/{pid}/comm") as fh:
                cmd = fh.read().strip()
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        by_cmd[cmd] = by_cmd.get(cmd, 0.0) + int(line.split()[1]) / 1024
        except OSError:
            continue
        todo.extend(_children(pid))
    return by_cmd


def _isolate(root: str) -> None:
    """Point every directory the program writes at this run's root."""
    for sub in ("warehouse", "spark-local", "tmp"):
        os.makedirs(os.path.join(root, sub), exist_ok=True)
    os.environ["ARKFLOW_WAREHOUSE"] = os.path.join(root, "warehouse")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(root, "spark-local")
    os.environ["TMPDIR"] = os.path.join(root, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = "-Djava.io.tmpdir=" + os.path.join(root, "tmp")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1))


def _shutdown(ctx: Context) -> None:
    for stop in ctx.stoppers:
        try:
            stop()
        except Exception as e:  # keep tearing down the rest
            ctx.log(f"stop failed: {e}")
    for child in ctx.children:
        if child.poll() is None:
            child.terminate()
        try:
            child.wait(timeout=10)
        except Exception:
            child.kill()
            child.wait()
    if ctx.spark is not None:
        ctx.spark.stop()
        ctx.spark = None
    # the JVM exits at EOF on its stdin; close it and wait for the exit
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=W.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--master", default=None, help="Spark master, default local[nproc]")
    args = ap.parse_args()
    # a termination request unwinds through the clean-up below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ctx = Context(args)
    try:
        import arkflow_spark  # noqa: F401
    except ImportError as e:
        ctx.log(f"the program under test is missing: {e}")
        return 2
    os.makedirs(ctx.root)
    _isolate(ctx.root)
    try:
        if args.workload in W.QUERY_WORKLOADS:
            import queries_bench as bench
        else:
            import streams_bench as bench
        try:
            res = bench.run(ctx)
        finally:
            _shutdown(ctx)
        if ctx.after_stop is not None:
            ctx.after_stop()
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if ctx.trace and ctx.tracer.spans:
            ctx.tracer.write(
                os.path.join(
                    CHECKOUT, ".perfbench", "traces",
                    f"{args.workload}-seed{args.seed}.json",
                ),
                {"report": ctx.report},
            )
        shutil.rmtree(ctx.root, ignore_errors=True)

    e2e = dict(res["metrics"])
    e2e["setup_s"] = (ctx.setup_s, "s")
    attempted, failed = int(res["attempted"]), int(res["failed"])
    ctx.report["fail_share"] = failed / attempted
    ctx.report["setup_s"] = ctx.setup_s
    ctx.report["peak_rss_mb"] = ctx.peak_rss_mb
    if ctx.trace:
        layers = {k: (0.0, u, 0) for k, u in PER_LAYER.items()}
        layers.update(ctx.layers)
        layers["memory.peak_rss_mb"] = (ctx.peak_rss_mb, "MB", 1)
        layers["traced.latency_geomean_s"] = (e2e["latency_geomean_s"][0], "s", 1)
        layers["traced.items_per_busy_s"] = (e2e["items_per_busy_s"][0], "1/s", 1)
        for name, (value, unit, n) in sorted(layers.items()):
            print(f"layer {name} = {value:.6g} {unit} (n={n})")
        metrics = {k: {"value": layers[k][0], "unit": u} for k, u in PER_LAYER.items()}
    else:
        for name in END_TO_END:
            print(f"metric {name} = {e2e[name][0]:.6g} {e2e[name][1]}")
        metrics = {k: {"value": e2e[k][0], "unit": u} for k, u in END_TO_END.items()}
    print("report " + json.dumps(ctx.report, default=str, sort_keys=True))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
