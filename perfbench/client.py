"""Closed-loop /records load: 4 client threads (stdlib urllib), each
sending its next request only after the previous response arrived, for
a fixed window. Runs as its own process so the load generator does not
share the server's interpreter lock.

    python3 perfbench/client.py --port P --schedule S.json --seconds 10 --out RESULT.json

The schedule is a JSON list of query dicts, taken in order (cycling) by
whichever client is free. The result holds one entry per completed
request: schedule index, status, latency in ms, the raw body, the
client that sent it and its completion time in seconds from the start.
"""

from __future__ import annotations

import argparse
import itertools
import json
import threading
import time
import urllib.error
import urllib.request
from urllib.parse import urlencode

CLIENTS = 4


def fetch(port: int, query: dict, timeout: float = 120.0) -> tuple[int, bytes]:
    url = f"http://127.0.0.1:{port}/records?{urlencode(query)}"
    try:
        with urllib.request.urlopen(url, timeout=timeout) as resp:
            return resp.status, resp.read()
    except urllib.error.HTTPError as err:
        return err.code, err.read()


def closed_loop(port: int, schedule: list[dict], seconds: float) -> dict:
    counter = itertools.count()
    lock = threading.Lock()
    done: list[tuple[int, int, float, str, int, float]] = []
    start = time.perf_counter()
    deadline = start + seconds

    def client(c: int) -> None:
        while time.perf_counter() < deadline:
            with lock:
                idx = next(counter)
            t0 = time.perf_counter()
            status, body = fetch(port, schedule[idx % len(schedule)])
            t1 = time.perf_counter()
            with lock:
                done.append((idx, status, (t1 - t0) * 1000, body.decode(), c, t1 - start))

    threads = [threading.Thread(target=client, args=(c,)) for c in range(CLIENTS)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return {"elapsed_s": time.perf_counter() - start, "requests": sorted(done)}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--port", type=int, required=True)
    ap.add_argument("--schedule", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    with open(args.schedule) as fh:
        schedule = json.load(fh)
    result = closed_loop(args.port, schedule, args.seconds)
    with open(args.out, "w") as fh:
        json.dump(result, fh)


if __name__ == "__main__":
    main()
