"""Measurement plumbing shared by the workloads: spans, the open-loop HTTP
client, process-tree memory, step deadlines and small statistics.

Nothing here imports the engine; ``workloads.py`` wires these pieces
around the engine's public calls.
"""

from __future__ import annotations

import http.client
import os
import statistics
import threading
import time
from contextlib import contextmanager


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def percentile(xs, q: float) -> float:
    """Nearest-rank percentile (q in [0, 100])."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    rank = max(1, -(-len(xs) * q // 100))
    return float(xs[int(rank) - 1])


def cpu_probe_ms(n: int = 2_000_000) -> float:
    """Time of a fixed pure-Python loop: a gauge of how fast the host ran
    this run, to tell host weather from a code change."""
    t = time.perf_counter()
    acc = 0
    for i in range(n):
        acc += i * i
    return (time.perf_counter() - t) * 1e3


class StepFailed(Exception):
    """A benchmark step failed; carries the step name for the exit report."""

    def __init__(self, step: str, detail: str):
        super().__init__(f"{step}: {detail}")
        self.step = step


# -- tracing ----------------------------------------------------------------


class Tracer:
    """In-memory spans: name, start, end, parent, run id. ``enabled=False``
    keeps the same call sites at the cost of one attribute test."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._local = threading.local()

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": stack[-1]["id"] if stack else None,
            "run": self.run_id,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        stack.append(rec)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, minus the time its children cover."""
        child_cover: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                p = s["parent"]
                child_cover[p] = child_cover.get(p, 0.0) + (s["end"] - s["start"])
        out: dict[str, float] = {}
        for s in self.spans:
            if s["end"] is None:
                continue
            own = (s["end"] - s["start"]) - child_cover.get(s["id"], 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + max(0.0, own)
        return out


# -- open-loop HTTP client --------------------------------------------------


class OpenLoopClient:
    """One thread issuing GETs on a fixed schedule across ``paths``.

    Each request is timed from its scheduled send time, so a stall in the
    server also charges the requests queued behind it; ``late_ms_max`` is
    how far the generator itself fell behind its schedule. A failed
    request is recorded at the client timeout, above any latency limit."""

    TIMEOUT_S = 10.0

    def __init__(self, port: int, paths: list[str], rate_per_s: float, tracer: Tracer):
        self.port, self.paths, self.rate = port, paths, rate_per_s
        self.tracer = tracer
        self.latencies_ms: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.late_ms_max = 0.0
        self.bytes: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="perfbench-http", daemon=True)

    def start(self) -> "OpenLoopClient":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    def _get(self, path: str) -> int:
        conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=self.TIMEOUT_S)
        try:
            conn.request("GET", path)
            resp = conn.getresponse()
            body = resp.read()
            if resp.status != 200:
                raise OSError(f"HTTP {resp.status}")
            return len(body)
        finally:
            conn.close()

    def _run(self) -> None:
        t0 = time.perf_counter()
        k = 0
        while not self._stop.is_set():
            due = t0 + k / self.rate
            wait = due - time.perf_counter()
            if wait > 0 and self._stop.wait(wait):
                break
            path = self.paths[k % len(self.paths)]
            k += 1
            self.late_ms_max = max(self.late_ms_max, (time.perf_counter() - due) * 1e3)
            self.attempted += 1
            try:
                with self.tracer.span("http", path=path):
                    n = self._get(path)
                self.bytes[path] = n
                self.latencies_ms.append((time.perf_counter() - due) * 1e3)
            except (OSError, http.client.HTTPException):
                self.failed += 1
                self.latencies_ms.append(self.TIMEOUT_S * 1e3)


# -- process-tree memory ----------------------------------------------------


def _children(pid: int) -> list[int]:
    try:
        with open(f"/proc/{pid}/task/{pid}/children") as f:
            return [int(x) for x in f.read().split()]
    except OSError:
        return []


def process_tree(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(_children(p))
    return out


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak resident memory of this process plus its descendants (the JVM
    and any Python workers), sampled every ``interval_s``."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="perfbench-rss", daemon=True)

    def sample(self) -> None:
        kb = sum(_status_kb(p, "VmRSS") for p in process_tree(os.getpid()))
        self.peak_kb = max(self.peak_kb, kb)

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()


# -- deadlines ----------------------------------------------------------------


class Deadline:
    """Arms a timer around one blocking step. On expiry it calls
    ``on_expire`` (which must unblock the step, e.g. by stopping the
    streaming queries) and the step is reported as failed."""

    def __init__(self, on_expire):
        self.on_expire = on_expire
        self.expired: str | None = None

    @contextmanager
    def within(self, step: str, seconds: float):
        def fire():
            self.expired = step
            self.on_expire()

        timer = threading.Timer(seconds, fire)
        timer.daemon = True
        timer.start()
        try:
            yield
        except Exception as e:
            if self.expired == step:
                raise StepFailed(step, f"exceeded its {seconds:.0f} s deadline") from e
            raise
        finally:
            timer.cancel()
        if self.expired == step:
            raise StepFailed(step, f"exceeded its {seconds:.0f} s deadline")
