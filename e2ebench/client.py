"""Closed-loop HTTP client for the serving phase, run as its own process.

Reads a JSON spec on stdin, runs ``connections`` closed-loop workers over
the request mix, and prints one JSON object: the warm-up median, the
timed phase's latencies and per-sweep walls, and attempted/failed
counts. Every reply is
checked (``checks.check_reply``).

Warm-up is ``warmup_sweeps`` passes over the mix: a fixed request
count, so every run is timed from the same point of the server's
warm-up curve. The timed phase lasts ``seconds`` and at least until
``min_replies`` replies (never beyond ``max_seconds``), then finishes
the sweep in progress.
"""

from __future__ import annotations

import http.client
import json
import sys
import threading
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from statistics import median  # noqa: E402

from checks import check_reply  # noqa: E402


class Load:
    """Workers take request numbers from one shared counter; request i is
    ``mix[i % len(mix)]``. The first ``warmup_sweeps`` sweeps warm up;
    the timed phase is whole sweeps, so every run times each (table,
    limit) pair equally often."""

    def __init__(self, spec: dict):
        self.spec = spec
        self.mix = [tuple(x) for x in spec["mix"]]
        self.first_timed = len(self.mix) * spec["warmup_sweeps"]
        self.next = 0
        self.stop_at: int | None = None
        self.timed_start: float | None = None
        self.timed_wall_start: float | None = None
        self.records: list[tuple] = []  # (number, start, end, latency_ms or None)
        self.errors: list[str] = []
        self.lock = threading.Lock()

    def request(self, table: str, limit: int) -> tuple[float, str | None]:
        """One POST /get_data: its latency and the reply's check."""
        body = json.dumps({"table": table, "limit": limit})
        conn = http.client.HTTPConnection(self.spec["host"], self.spec["port"], timeout=60)
        try:
            t0 = time.perf_counter()
            conn.request("POST", "/get_data", body, {"Content-Type": "application/json"})
            resp = conn.getresponse()
            data = resp.read()
            latency_ms = (time.perf_counter() - t0) * 1000.0
        finally:
            conn.close()
        try:
            payload = json.loads(data)
        except ValueError:
            payload = None
        err = check_reply(
            resp.status, payload, table, limit,
            self.spec["rows"][table], self.spec["columns"][table],
        )
        return latency_ms, err

    def worker(self) -> None:
        while True:
            with self.lock:
                i = self.next
                if self.stop_at is not None and i >= self.stop_at:
                    return
                self.next += 1
                if i == self.first_timed:
                    self.timed_start = time.perf_counter()
                    self.timed_wall_start = time.time()
            table, limit = self.mix[i % len(self.mix)]
            start = time.perf_counter()
            try:
                latency_ms, err = self.request(table, limit)
            except Exception as e:  # noqa: BLE001 - any transport failure is a failed request
                latency_ms, err = None, f"{table}/{limit}: {type(e).__name__}: {e}"
            with self.lock:
                self.records.append((i, start, time.perf_counter(), latency_ms))
                if err:
                    self.errors.append(err)

    def timed(self) -> list[tuple]:
        with self.lock:
            return [r for r in self.records if r[0] >= self.first_timed]

    def run(self) -> dict:
        spec, sweep = self.spec, len(self.mix)
        threads = [threading.Thread(target=self.worker, daemon=True) for _ in range(spec["connections"])]
        for t in threads:
            t.start()
        while self.timed_start is None:
            time.sleep(0.01)
        while True:
            time.sleep(0.02)
            elapsed = time.perf_counter() - self.timed_start
            n = len(self.timed())
            if elapsed >= spec["max_seconds"] or (elapsed >= spec["seconds"] and n >= spec["min_replies"]):
                break
        with self.lock:  # finish the sweep in progress
            self.stop_at = -(-self.next // sweep) * sweep
        for t in threads:
            t.join()
        wall_t1 = time.time()
        timed = self.timed()
        warm = [r[3] for r in self.records if r[0] < self.first_timed and r[3] is not None]
        sweeps: dict[int, list[tuple]] = {}
        for r in timed:
            sweeps.setdefault(r[0] // sweep, []).append(r)
        return {
            "warmup_replies": len(warm),
            "warmup_p50_ms": median(warm) if warm else None,
            "timed_window": [self.timed_wall_start, wall_t1],
            "timed_s": max(r[2] for r in timed) - self.timed_start,
            "sweeps_s": [max(r[2] for r in rs) - min(r[1] for r in rs) for _, rs in sorted(sweeps.items())],
            "latencies_ms": [r[3] for r in timed if r[3] is not None],
            "attempted": len(self.records),
            "failed": len(self.errors),
            "errors": self.errors[:5],
        }


def main() -> int:
    spec = json.loads(sys.stdin.read())
    print(json.dumps(Load(spec).run()))
    return 0


if __name__ == "__main__":
    sys.exit(main())
