"""Workload definitions: query lists, stream configs and offered rates.

Why each workload exists and which layers it loads is in README.md.
"""

from __future__ import annotations

import json
import random

# The relational and pipeline query lists. Both run whole as workloads of
# their own; query_mix times the first few of each, so that one run (JVM
# start, cold pass, warm passes, checks) fits the per-run budget of the
# benchmark's scheduled runs. Every name here has a committed reference hash.
RELATIONAL = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q13_order_count_distribution",
    "window_ranking",
    "q6_forecast_revenue",
    "q18_large_volume_customers",
    "events_session_window",
    "q5_region_revenue",
    "q9_product_profit",
    "q21_waiting_suppliers",
    "agg_stats_family",
    "lineitem_price_index",
    "events_tumbling_window",
)
PIPELINE = (
    "dedup_exact",
    "ann_ivf_search",
    "events_session_capped",
    "customer_rfm_segments",
    "text_quality_score",
    "documents_dedup_quality_survivorship",
    "dedup_cluster_canonical",
    "dedup_minhash_lsh",
    "dedup_prefix_filter",
    "text_tfidf",
    "text_bm25_search",
    "ann_cosine_topk",
    "ann_knn_reciprocity",
    "graph_pagerank_bipartite",
    "graph_triangle_count",
    "events_theil_sen_trend",
    "lineitem_abc_xyz_matrix",
)
QUERY_WORKLOADS = {
    "query_mix": RELATIONAL[:4] + PIPELINE[:4],
    "query_relational": RELATIONAL,
    "query_pipeline": PIPELINE,
}

STREAM_WORKLOADS = ("stream_ingest", "stream_push")
WORKLOADS = tuple(QUERY_WORKLOADS) + STREAM_WORKLOADS

# stream_ingest: rows/s offered by the rate source per Spark core (about
# half the measured capacity), and its trigger. The rate source releases one
# second of rows at a time; a short trigger picks each second up within
# 100 ms, so the phase between trigger and source clock moves latency by at
# most that much.
INGEST_ROWS_PER_S_PER_CORE = 10_000
INGEST_TRIGGER_MS = 100
INGEST_FIELDS = 24

# stream_push: messages/s POSTed by the generator, sender threads, trigger.
PUSH_MSGS_PER_S = 100
PUSH_SENDERS = 4
PUSH_TRIGGER_MS = 1500
PUSH_KEYS = 64
PUSH_PATH = "/ingest"

# A stream's set-up ends when SETTLED_BATCHES consecutive non-empty batches
# have each held at most SETTLED_BACKLOG slots of offered rows and taken at
# most SETTLED_BACKLOG slots (a slot is one second on stream_ingest, one
# trigger on stream_push): the cold start, its backlog and the slow batches
# of JIT warm-up are then behind. A run whose stream never settles fails.
SETTLED_BACKLOG = 1.5
SETTLED_BATCHES = 3
SETTLE_TIMEOUT_S = 60.0
DRAIN_TIMEOUT_S = 20.0


def ingest_payload(seed: int) -> tuple[str, str]:
    """The ~1 KB JSON message the generate input offers, and its DDL."""
    rng = random.Random(seed)
    fields = {
        f"s{i:02d}": "".join(rng.choice("abcdefghij") for _ in range(32))
        for i in range(INGEST_FIELDS)
    }
    fields["amount"] = rng.randint(1, 1000)
    fields["price"] = round(rng.uniform(1, 100), 2)
    ddl = ", ".join(
        [f"s{i:02d} STRING" for i in range(INGEST_FIELDS)]
        + ["amount BIGINT", "price DOUBLE"]
    )
    return json.dumps(fields), ddl


def ingest_config(seed: int, dlq_dir: str, rows_per_s: int) -> dict:
    context, ddl = ingest_payload(seed)
    return {
        "streams": [
            {
                "name": "stream_ingest",
                "input": {
                    "type": "generate",
                    "context": context,
                    "interval": "1s",
                    "batch_size": rows_per_s,
                },
                "pipeline": {
                    "processors": [
                        {"type": "json_to_arrow", "schema": ddl},
                        {
                            "type": "sql",
                            "query": (
                                "SELECT __meta_offset % 64 AS k, count(*) AS n, "
                                "sum(amount) AS amount, max(length(s00)) AS w, "
                                "min(__meta_timestamp) AS first_due, "
                                "max(__meta_timestamp) AS last_due "
                                "FROM flow GROUP BY __meta_offset % 64"
                            ),
                        },
                    ]
                },
                "output": {"type": "drop"},
                "error_output": {"type": "file", "path": dlq_dir, "format": "json"},
            }
        ]
    }


def push_lookup(seed: int) -> list[dict]:
    rng = random.Random(seed * 7 + 1)
    return [
        {"key": f"k{i:03d}", "label": rng.choice(["gold", "silver", "bronze"])}
        for i in range(PUSH_KEYS)
    ]


def push_config(seed: int, spool_dir: str, out_dir: str, dlq_dir: str) -> dict:
    return {
        "streams": [
            {
                "name": "stream_push",
                "input": {
                    "type": "http",
                    "address": "127.0.0.1:0",
                    "http_path": PUSH_PATH,
                    "path": spool_dir,
                    "compact_on_commit": True,
                },
                "pipeline": {
                    "processors": [
                        {
                            "type": "json_to_arrow",
                            "schema": "id BIGINT, key STRING, value DOUBLE, due DOUBLE",
                        },
                        {
                            "type": "sql",
                            "query": (
                                "SELECT f.id, f.key, f.value, f.due, l.label, "
                                "f.__meta_offset AS seq "
                                "FROM flow f JOIN lookup l ON f.key = l.key"
                            ),
                            "temporary": [
                                {
                                    "type": "static",
                                    "name": "lookup",
                                    "schema": "key STRING, label STRING",
                                    "rows": push_lookup(seed),
                                }
                            ],
                        },
                    ]
                },
                "output": {"type": "file", "path": out_dir, "format": "parquet"},
                "error_output": {"type": "file", "path": dlq_dir, "format": "json"},
            }
        ]
    }
