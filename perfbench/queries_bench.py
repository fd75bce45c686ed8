"""Query workloads: named queries from ``arkflow_spark.queries.QUERIES``.

Set-up makes the tables, starts the session and runs one cold pass over
every query (codegen, materialized-index builds). Making the tables is the
benchmark's own work: its time is reported as ``tables_s`` and left out of
``setup_s``. The timed region then runs warm passes in seed-shuffled
orders, ``clearCache()`` before every query, starting passes until
``--seconds`` have gone by. A query's warm time
(build + plan + collect) is its minimum over passes. Every timed
result is hashed and checked against ``references.json`` after its pass,
outside the timed region.
"""

from __future__ import annotations

import os
import random
import time

import data
import references
from tracing import (
    EXEC_UNITS,
    PYTHON_UNITS,
    as_layers,
    exec_counters,
    geomean,
    median,
    read_eventlog,
)


class IndexCounter:
    """Counts materialized-index lookups that found a fresh index
    (``functions.indexes.bucketed_fresh`` True) and builds
    (``materialize_bucketed``), by wrapping those two public functions
    wherever a loaded module bound them."""

    def __init__(self):
        import sys

        from arkflow_spark.functions import indexes

        self.hits = 0
        self.builds = 0
        self.counting = False
        fresh, build = indexes.bucketed_fresh, indexes.materialize_bucketed

        def counted_fresh(*a, **k):
            ok = fresh(*a, **k)
            if self.counting and ok:
                self.hits += 1
            return ok

        def counted_build(*a, **k):
            if self.counting:
                self.builds += 1
            return build(*a, **k)

        for mod in list(sys.modules.values()):
            if not getattr(mod, "__name__", "").startswith("arkflow_spark"):
                continue
            for attr, val in list(vars(mod).items()):
                if val is fresh:
                    setattr(mod, attr, counted_fresh)
                elif val is build:
                    setattr(mod, attr, counted_build)


def _index_dirs(warehouse: str) -> set[str]:
    from arkflow_spark.functions.index_gc import INDEX_PREFIXES

    try:
        return {d for d in os.listdir(warehouse) if d.startswith(INDEX_PREFIXES)}
    except FileNotFoundError:
        return set()


def run(ctx) -> dict:
    from arkflow_spark.queries import QUERIES
    from arkflow_spark.session import get_spark

    names = list(ctx.query_names)
    refs = references.load()["hashes"]
    t0 = time.time()
    sf_dir = data.write(os.path.join(ctx.root, "tables"))
    ctx.harness_s = time.time() - t0
    ctx.report["tables_s"] = ctx.harness_s
    spark = get_spark(
        f"perfbench-{ctx.workload}", master=ctx.master, extra_conf=ctx.session_conf()
    )
    ctx.spark = spark
    sc = spark.sparkContext
    counter = IndexCounter() if ctx.trace else None
    rng = random.Random(ctx.seed)

    def run_query(name: str, qid: str) -> tuple[list, list, float]:
        spark.catalog.clearCache()
        if not ctx.trace:
            t0 = time.perf_counter()
            df = QUERIES[name](spark, sf_dir)
            rows = df.collect()
            return list(df.columns), rows, time.perf_counter() - t0
        t0 = time.perf_counter()
        with ctx.tracer.span(qid, "query"):
            sc.setJobGroup(f"{qid}|build", name)
            with ctx.tracer.span(qid, "queries.build"):
                df = QUERIES[name](spark, sf_dir)
            sc.setJobGroup(f"{qid}|plan", name)
            with ctx.tracer.span(qid, "catalyst.plan"):
                plan = df._jdf.queryExecution().executedPlan().toString()
            sc.setJobGroup(f"{qid}|exec", name)
            with ctx.tracer.span(qid, "exec.collect"):
                rows = df.collect()
        wall = time.perf_counter() - t0
        ctx.per_query_layers.append(
            {
                "qid": qid,
                "query": name,
                "build_jobs": len(sc.statusTracker().getJobIdsForGroup(f"{qid}|build")),
                "exchanges": sum(
                    1 for line in plan.splitlines() if "Exchange " in line
                ),
                "result_rows": len(rows),
                "wall_s": wall,
            }
        )
        return list(df.columns), rows, wall

    # set-up: one cold pass over every query
    cold = {}
    for i, name in enumerate(rng.sample(names, len(names))):
        cold[name] = run_query(name, f"cold{i}")[2]
    ctx.report["cold_s"] = cold
    ctx.per_query_layers.clear()
    ctx.tracer.spans.clear()
    ctx.setup_done()

    warehouse = os.environ["ARKFLOW_WAREHOUSE"]
    dirs_before = _index_dirs(warehouse)
    if counter:
        counter.counting = True
    warm: dict[str, list[float]] = {n: [] for n in names}
    failed = attempted = 0
    t_start = time.perf_counter()
    passes = 0
    while time.perf_counter() - t_start < ctx.seconds:
        results = []
        for i, name in enumerate(rng.sample(names, len(names))):
            attempted += 1
            try:
                cols, rows, wall = run_query(name, f"p{passes}q{i}")
            except Exception as e:  # a failing query is a counted failure
                ctx.log(f"query {name} failed: {type(e).__name__}: {e}")
                failed += 1
                continue
            warm[name].append(wall)
            results.append((name, cols, rows))
        passes += 1
        for name, cols, rows in results:  # checks stay outside the timed region
            if references.result_hash(cols, rows) != refs.get(name):
                ctx.log(f"query {name}: result does not match its reference")
                failed += 1
    if counter:
        counter.counting = False
    ctx.timed_done()

    per_query = {n: min(v) for n, v in warm.items() if v}
    lat = list(per_query.values())
    total = sum(lat)
    ctx.report.update(
        {
            "passes": passes,
            "queries": len(names),
            "query_total_s": total,
            "query_geomean_s": geomean(lat),
            "query_p50_s": median(lat),
            "query_max_s": max(lat, default=0.0),
            "per_query_s": per_query,
        }
    )
    metrics = {
        "latency_geomean_s": (geomean(lat), "s"),
        "items_per_busy_s": (len(lat) / total if total else 0.0, "1/s"),
    }
    if ctx.trace:
        new_dirs = _index_dirs(warehouse) - dirs_before
        builds = max(len(new_dirs), counter.builds)
        served = counter.hits + builds
        ctx.layer_extra = {
            "functions.index_builds": (builds, "count", passes),
            "functions.index_reuse_ratio": (
                counter.hits / served if served else 0.0, "ratio", served
            ),
        }
        ctx.after_stop = lambda: _query_layers(ctx, passes)
    return {"attempted": attempted, "failed": failed, "metrics": metrics}


def _query_layers(ctx, passes: int) -> None:
    """Per-layer numbers of the traced timed passes, per pass."""
    events = read_eventlog(ctx.root)

    def group_of(e):
        return (e.get("Properties") or {}).get("spark.jobGroup.id", "") or ""

    def timed(phase):
        return lambda e: group_of(e).startswith("p") and group_of(e).endswith(phase)

    ex = exec_counters(events, timed("|exec"))
    py = exec_counters(events, lambda e: group_of(e).startswith("p"))
    rows = ctx.per_query_layers
    n = len(rows)
    per = float(max(passes, 1))
    tr = ctx.tracer
    L = ctx.layers
    L["queries.build_s"] = (sum(tr.durations("queries.build")) / per, "s", n)
    L["queries.build_jobs"] = (sum(r["build_jobs"] for r in rows) / per, "count", n)
    L["catalyst.plan_s"] = (sum(tr.durations("catalyst.plan")) / per, "s", n)
    L["catalyst.exchanges"] = (sum(r["exchanges"] for r in rows) / per, "count", n)
    L["exec.collect_s"] = (sum(tr.durations("exec.collect")) / per, "s", n)
    L.update(as_layers(ex, EXEC_UNITS, n, per, prefix="exec."))
    L["exec.result_rows"] = (sum(r["result_rows"] for r in rows) / per, "count", n)
    L.update(as_layers(py, PYTHON_UNITS, n, per))
    L.update(ctx.layer_extra)
    wall = sum(r["wall_s"] for r in rows)
    layered = sum(
        sum(tr.durations(k)) for k in ("queries.build", "catalyst.plan", "exec.collect")
    )
    ctx.report["traced_query_total_s"] = wall / per
    ctx.report["layer_cover"] = layered / wall if wall else 0.0
    ctx.report["per_query_layers"] = rows
