"""Open-loop webhook load generator for the stream_push workload.

One process. Message ``i`` is due at ``start + i / workloads.PUSH_MSGS_PER_S``
and is POSTed when due, whether or not earlier POSTs have returned:
``workloads.PUSH_SENDERS`` threads (no more than ``nproc``) each take every
n-th message. Keys and values come from ``--seed``. The first line on stdin is an epoch time T:
every message due before T is still sent, however late, and none after.
Then it writes one JSON record per message to ``--out``: due and send
times, POST time, HTTP status and the spool offset the server assigned.

    python3 perfbench/pushgen.py --port P --seed 1 --start T --out F
"""

from __future__ import annotations

import argparse
import http.client
import json
import os
import random
import sys
import threading
import time

import workloads as W


def message(seed: int, i: int, due: float) -> bytes:
    rng = random.Random(seed * 1_000_003 + i)
    return json.dumps(
        {
            "id": i,
            "key": f"k{rng.randrange(W.PUSH_KEYS):03d}",
            "value": round(rng.uniform(0, 1000), 3),
            "due": due,
        }
    ).encode()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--port", type=int, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--start", type=float, required=True, help="epoch seconds")
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    senders = max(1, min(W.PUSH_SENDERS, os.cpu_count() or 1))
    stop = threading.Event()
    until = [float("inf")]
    records: list[list[dict]] = [[] for _ in range(senders)]

    def send(k: int) -> None:
        i = k
        while True:
            due = a.start + i / W.PUSH_MSGS_PER_S
            if stop.wait(max(0.0, due - time.time())):
                if due >= until[0]:
                    return
                time.sleep(max(0.0, due - time.time()))
            body = message(a.seed, i, due)
            sent = time.time()
            rec = {"id": i, "due": due, "sent": sent}
            try:
                conn = http.client.HTTPConnection("127.0.0.1", a.port, timeout=10)
                conn.request(
                    "POST", W.PUSH_PATH, body, {"Content-Type": "application/json"}
                )
                resp = conn.getresponse()
                payload = resp.read()
                conn.close()
                rec["status"] = resp.status
                if resp.status == 200:
                    rec["seq"] = json.loads(payload)["offset"]
            except (OSError, http.client.HTTPException, ValueError) as e:
                rec["status"] = 0
                rec["error"] = f"{type(e).__name__}: {e}"
            rec["done"] = time.time()
            records[k].append(rec)
            i += senders

    threads = [threading.Thread(target=send, args=(k,)) for k in range(senders)]
    for t in threads:
        t.start()
    line = sys.stdin.readline().strip()
    until[0] = float(line) if line else time.time()
    stop.set()
    for t in threads:
        t.join()
    with open(a.out, "w") as fh:
        json.dump(sorted((r for rs in records for r in rs), key=lambda r: r["id"]), fh)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
