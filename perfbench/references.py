"""Reference result hashes for the query workloads.

Each timed query result is checked against a hash derived from the query's
DuckDB oracle (``arkflow_spark.queries.ORACLE``) over the generated tables
of ``data.py``, compared in the oracle's strict mode
(``arkflow_spark.plans.oracle.canonicalize(strict=True)``).

The hashes are committed in ``references.json``. Regenerate them after a
change to ``data.py`` or to an oracle:

    python3 perfbench/references.py
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
PATH = os.path.join(HERE, "references.json")


def result_hash(cols: list[str], rows: list[tuple]) -> str:
    from arkflow_spark.plans.oracle import canonicalize

    h = hashlib.sha256()
    h.update(json.dumps(sorted(cols)).encode())
    for row in canonicalize(cols, rows, strict=True):
        h.update(json.dumps(row).encode())
    return f"{len(rows)}:{h.hexdigest()}"


def oracle_hash(sf_dir: str, sql: str) -> str:
    from arkflow_spark.plans.oracle import duckdb_connect

    con = duckdb_connect(sf_dir)
    try:
        res = con.execute(sql)
        cols = [d[0] for d in res.description]
        tbl = res.arrow()
        data = [tbl.column(i).to_pylist() for i in range(tbl.num_columns)]
        return result_hash(cols, list(zip(*data)) if data else [])
    finally:
        con.close()


def load() -> dict:
    with open(PATH) as fh:
        return json.load(fh)


def main() -> int:
    sys.path.insert(0, os.getcwd())
    sys.path.insert(0, HERE)
    import data
    from workloads import QUERY_WORKLOADS

    from arkflow_spark.queries import ORACLE

    names = sorted({n for qs in QUERY_WORKLOADS.values() for n in qs})
    with tempfile.TemporaryDirectory() as tmp:
        sf_dir = data.write(os.path.join(tmp, "tables"))
        refs = {
            "data_seed": data.DATA_SEED,
            "sf": data.SF,
            "hashes": {n: oracle_hash(sf_dir, ORACLE[n]) for n in names},
        }
    with open(PATH, "w") as fh:
        json.dump(refs, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"wrote {len(names)} reference hashes to {PATH}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
