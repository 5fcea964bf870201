"""Tests of the benchmark itself: seeded inputs, and that every exit path
leaves no process and no temp dir behind.

    python3 -m pytest perfbench/test_perfbench.py -q

The hygiene tests start Spark in a subprocess (about a minute each).
"""

from __future__ import annotations

import dataclasses
import os
import shutil
import signal
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, CHECKOUT)

import gen  # noqa: E402
import workloads  # noqa: E402

TMP_PARENT = os.path.join(CHECKOUT, ".perfbench-tmp")


def _spool(seed: int, directory: str) -> str:
    from real_time_mobility_heatmap_spark.producers.mobility_producer import JsonFileSink

    polls = gen.ping_polls(seed, workloads.trickle_shape(3))
    run = workloads.Run("test", seed, 3, directory, 1, workloads.Tracer("t", False))
    sink = workloads.TimedSink(JsonFileSink(directory), run.flush_ms)
    workloads.spool_polls(run, polls, sink)
    return gen.spool_fingerprint(directory)


def test_same_seed_same_spool_bytes(tmp_path):
    a = _spool(7, str(tmp_path / "a"))
    b = _spool(7, str(tmp_path / "b"))
    c = _spool(8, str(tmp_path / "c"))
    assert a == b
    assert a != c


def test_same_seed_same_tables(tmp_path):
    shape = gen.TableShape(events=500, users=20, documents=40, near_dup_share=0.2, embeddings=30, labels=3)
    for name, seed in (("a", 3), ("b", 3), ("c", 4)):
        gen.write_tables(seed, shape, str(tmp_path / name))
    fp = {n: gen.spool_fingerprint(str(tmp_path / n)) for n in "abc"}
    assert fp["a"] == fp["b"]
    assert fp["a"] != fp["c"]


@pytest.mark.parametrize("shape", [workloads.bulk_shape(12), workloads.trickle_shape(12)])
def test_no_ping_is_ambiguous_under_the_watermark(shape):
    """Every ping's window either ends above the newest candidate
    watermark or at/below the oldest one, so the reference's drops do not
    depend on which micro-batch lag Spark applies."""
    small = dataclasses.replace(shape, pings_per_file=3000, vehicles=min(shape.vehicles, 2000))
    maxima: list[int] = []
    dropped = 0
    for k, poll in enumerate(gen.ping_polls(5, small)):
        ts = [gen.parse_iso(r["ts"]) for r in poll if r["lat"] is not None]
        hi = maxima[k - 1] - gen.WATERMARK_S if k >= 1 else None
        lo = maxima[k - 2] - gen.WATERMARK_S if k >= 2 else None
        for t in ts:
            end = gen.window_end(t)
            if lo is not None and end <= lo:
                dropped += 1
            else:
                assert hi is None or end > hi, (k, t, lo, hi)
        maxima.append(max([*ts, maxima[-1] if maxima else 0]))
    assert dropped > 0


# -- hygiene ------------------------------------------------------------------


def _tagged(pid: int) -> list[int]:
    """Live processes carrying the run's temp-root tag (the JVM's
    -Dperfbench.run=run-<pid>-... and anything launched under that root)."""
    needle = f"run-{pid}-".encode()
    out = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/cmdline", "rb") as f:
                if needle in f.read():
                    out.append(int(entry))
        except OSError:
            pass
    return out


def _leftover_roots(pid: int) -> list[str]:
    if not os.path.isdir(TMP_PARENT):
        return []
    return [d for d in os.listdir(TMP_PARENT) if d.startswith(f"run-{pid}-")]


def _assert_clean(pid: int) -> None:
    deadline = time.time() + 10
    while _tagged(pid) and time.time() < deadline:
        time.sleep(0.2)
    assert _tagged(pid) == []
    assert _leftover_roots(pid) == []


def _bench(*extra: str, env: dict | None = None, pre: str = "pass") -> subprocess.Popen:
    """Start run.py in a subprocess; ``pre`` is Python run before it, in
    the same interpreter (used to inject failures)."""
    code = (
        f"import runpy, sys; sys.path.insert(0, {HERE!r}); {pre}; "
        f"sys.argv = ['run.py', *{list(extra)!r}]; "
        f"runpy.run_path({os.path.join(HERE, 'run.py')!r}, run_name='__main__')"
    )
    return subprocess.Popen(
        [sys.executable, "-c", code],
        cwd=CHECKOUT,
        stdout=subprocess.PIPE,
        stderr=subprocess.PIPE,
        text=True,
        env={**os.environ, **(env or {})},
    )


TINY = ("--workload", "live_trickle", "--seed", "1", "--seconds", "1", "--trace", "0")


def test_tiny_run_leaves_nothing_behind():
    p = _bench(*TINY)
    out, err = p.communicate(timeout=180)
    assert p.returncode == 0, err[-3000:]
    assert '"correct": true' in out.strip().splitlines()[-1]
    _assert_clean(p.pid)


# the second refresh is live_trickle's first round (the first is set-up's),
# so both streaming queries are running when it fails
INJECT = """
import workloads
_orig = workloads.refresh
_n = [0]
def _boom(*a, **k):
    _n[0] += 1
    if _n[0] == 2:
        raise RuntimeError("injected failure")
    return _orig(*a, **k)
workloads.refresh = _boom
"""


def test_injected_failure_exits_nonzero_and_cleans_up():
    p = _bench(*TINY, pre=f"exec({INJECT!r})")
    out, err = p.communicate(timeout=180)
    assert p.returncode != 0
    assert "live_trickle failed at step" in err and "injected failure" in err
    assert '"correct": false' in out.strip().splitlines()[-1]
    _assert_clean(p.pid)


def test_sigterm_mid_run_cleans_up():
    p = _bench(*TINY)
    deadline = time.time() + 120
    while not _tagged(p.pid) and time.time() < deadline:  # wait for the JVM
        time.sleep(0.2)
    time.sleep(3)
    p.send_signal(signal.SIGTERM)
    out, err = p.communicate(timeout=60)
    assert p.returncode != 0
    assert "interrupted by SIGTERM" in err
    _assert_clean(p.pid)


def test_bad_cpu_env_is_a_clear_error():
    p = _bench(*TINY, env={"SPARK_GRAFT_CPUS": "four"})
    out, err = p.communicate(timeout=60)
    assert p.returncode != 0
    assert "SPARK_GRAFT_CPUS must be a whole number" in err
    assert out.strip() == ""


def test_without_the_engine_it_fails_without_a_result(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", *TINY],
        cwd=tmp_path,
        capture_output=True,
        text=True,
        timeout=60,
    )
    assert p.returncode != 0
    assert p.stdout.strip() == ""
