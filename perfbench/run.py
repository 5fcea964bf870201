#!/usr/bin/env python3
"""Product-path benchmark for the mobility engine.

    python3 perfbench/run.py --workload ingest_bulk --seed 1 --seconds 20 --trace 0

Runs one workload (see ``workloads.py``) from a checkout of the repository,
checks its outputs against a reference, and prints as the last stdout line
one JSON object: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones of ``BENCHMARK.json``;
with ``--trace 1`` they are the per-layer ones, and the run's spans are
written to ``.perfbench-out/`` in the checkout.

Resources are owned by the run: every store, checkpoint, spool, generated
table and Spark/JVM temp file lives under one temp root inside the
checkout (``.perfbench-tmp/run-<pid>-*``), which is removed on every exit
path, and the Spark JVM is stopped and reaped before the process returns.
Environment: ``SPARK_GRAFT_CPUS`` (Spark cores, default ``nproc``); the
session is otherwise built with ``get_spark``'s own defaults.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)
TMP_PARENT = os.path.join(CHECKOUT, ".perfbench-tmp")
OUT_DIR = os.path.join(CHECKOUT, ".perfbench-out")
HARD_DEADLINE_S = 170.0  # the whole run, set-up and teardown included


def process_age_s() -> float:
    """Seconds since this process started (from /proc)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return max(0.0, uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


T_PROC_START = time.perf_counter() - process_age_s()


class Interrupted(BaseException):
    """Raised in the main thread on SIGTERM/SIGINT so cleanup runs."""


def positive_int(name: str, raw: str, hi: int | None = None) -> int:
    try:
        v = int(raw)
    except ValueError:
        raise SystemExit(f"perfbench: {name} must be a whole number, got {raw!r}") from None
    if v < 1 or (hi is not None and v > hi):
        bound = f"1..{hi}" if hi else ">= 1"
        raise SystemExit(f"perfbench: {name} must be in {bound}, got {v}")
    return v


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", required=True)
    ap.add_argument("--seconds", default="20")
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    a = ap.parse_args(argv)
    try:
        a.seed = int(a.seed)
    except ValueError:
        raise SystemExit(f"perfbench: --seed must be an integer, got {a.seed!r}") from None
    if a.seed < 0:
        raise SystemExit(f"perfbench: --seed must be >= 0, got {a.seed}")
    a.seconds = positive_int("--seconds", a.seconds, 60)
    a.trace = a.trace == "1"
    return a


def spark_cpus() -> int:
    nproc = len(os.sched_getaffinity(0))
    raw = os.environ.get("SPARK_GRAFT_CPUS", "").strip()
    return positive_int("SPARK_GRAFT_CPUS", raw, nproc) if raw else nproc


def sweep_stale_roots() -> None:
    """Remove temp roots of earlier runs whose process is gone (a run
    killed with SIGKILL cannot clean up after itself)."""
    if not os.path.isdir(TMP_PARENT):
        return
    for entry in os.listdir(TMP_PARENT):
        parts = entry.split("-")
        if len(parts) >= 2 and parts[0] == "run" and parts[1].isdigit():
            if not os.path.exists(f"/proc/{parts[1]}"):
                shutil.rmtree(os.path.join(TMP_PARENT, entry), ignore_errors=True)


def make_root() -> str:
    os.makedirs(TMP_PARENT, exist_ok=True)
    root = tempfile.mkdtemp(prefix=f"run-{os.getpid()}-", dir=TMP_PARENT)
    for sub in ("tmp", "spark-local", "jvm-tmp"):
        os.makedirs(os.path.join(root, sub))
    return root


def point_temp_space_at(root: str, tag: str) -> None:
    """Route Python, Spark and JVM temp files into ``root``."""
    os.environ["TMPDIR"] = os.path.join(root, "tmp")
    tempfile.tempdir = os.environ["TMPDIR"]
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(root, "spark-local")
    java_opts = f"-Djava.io.tmpdir={root}/jvm-tmp -Dperfbench.run={tag}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '{java_opts}' --conf spark.ui.showConsoleProgress=false pyspark-shell"
    )


def stop_spark() -> None:
    """Stop active queries and the session, then shut the gateway and reap
    the JVM so no ``pyspark-shell`` child outlives the run."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is not None:
        try:
            from pyspark.sql import SparkSession

            spark = SparkSession.getActiveSession()
            if spark is not None:
                for q in spark.streams.active:
                    q.stop()
        except Exception as e:  # noqa: BLE001 - keep tearing down
            print(f"perfbench: stopping queries: {e}", file=sys.stderr)
        try:
            sc.stop()
        except Exception as e:  # noqa: BLE001
            print(f"perfbench: stopping session: {e}", file=sys.stderr)
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        # the gateway JVM exits when its stdin closes; its py4j sockets
        # (and the foreachBatch callback threads on them) close with it
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=15)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    SparkContext._gateway = None
    SparkContext._jvm = None


def kill_jvm_now() -> None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None and proc.poll() is None:
        proc.kill()


def arm_hard_deadline(root: str, seconds: float, what: list[str]):
    """Last-resort exit: if the run is still going at ``seconds`` after
    process start, kill the JVM, remove the temp root and exit 3."""

    def fire():
        print(f"perfbench: hard deadline {seconds:.0f} s hit during {what[0]}", file=sys.stderr)
        kill_jvm_now()
        shutil.rmtree(root, ignore_errors=True)
        os._exit(3)

    t = threading.Timer(max(1.0, seconds - (time.perf_counter() - T_PROC_START)), fire)
    t.daemon = True
    t.start()
    return t


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    cpus = spark_cpus()
    sys.path.insert(0, CHECKOUT)
    try:
        import real_time_mobility_heatmap_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine package is not importable from {CHECKOUT}: {e}", file=sys.stderr)
        return 2

    import workloads
    from harness import Deadline, RssSampler, StepFailed, Tracer, cpu_probe_ms

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    sweep_stale_roots()
    root = make_root()
    tag = os.path.basename(root)
    point_temp_space_at(root, tag)
    os.chdir(root)  # spark-warehouse/, derby.log and friends land in the temp root
    step = ["setup"]
    hard = arm_hard_deadline(root, HARD_DEADLINE_S, step)

    def on_signal(signum, _frame):
        # cleanup must finish even if a py4j call hangs on the way out
        arm_hard_deadline(root, time.perf_counter() - T_PROC_START + 30, step)
        raise Interrupted(signal.Signals(signum).name)

    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGINT, on_signal)

    tracer = Tracer(tag, args.trace)
    run = workloads.Run(args.workload, args.seed, args.seconds, root, cpus, tracer)
    rss = RssSampler().start() if args.trace else None
    code, result, interrupted = 1, None, None
    try:
        deadline = Deadline(lambda: abort_spark(run))
        get_spark_s = setup(run, workloads, deadline)
        step[0] = args.workload
        with tracer.span("run", workload=args.workload):
            workloads.WORKLOADS[args.workload](run, deadline)
        if args.trace:
            rss.stop()
            run.layers["process.peak_rss_mb"] = rss.peak_kb / 1024.0
            run.layers["host.cpu_probe_ms"] = cpu_probe_ms()
            if args.workload in workloads.HEAVY_PASS_IN:
                step[0] = "heavy_pass"
                workloads.heavy_pass(run, deadline)
        result = report(run, get_spark_s)
        code = 0 if run.failed == 0 else 1
    except Interrupted as e:
        interrupted = str(e)
    except StepFailed as e:
        run.failed += 1
        print(f"perfbench: {args.workload} failed at step {e.step}: {e}", file=sys.stderr, flush=True)
    except Exception as e:  # noqa: BLE001 - any failure is reported by workload and step
        run.failed += 1
        traceback.print_exc()
        print(f"perfbench: {args.workload} failed at step {step[0]}: {type(e).__name__}: {e}", file=sys.stderr, flush=True)
    finally:
        # a second signal must not cut the teardown short; the hard
        # deadline still bounds it
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        signal.signal(signal.SIGINT, signal.SIG_IGN)
        if run.client is not None:
            run.client.stop()
        if run.server is not None:
            run.server.stop()
        stop_spark()
        if args.trace:
            rss.stop()
            write_trace(run)
        shutil.rmtree(root, ignore_errors=True)
        os.chdir(CHECKOUT)
    if interrupted:
        print(f"perfbench: {args.workload} interrupted by {interrupted} at step {step[0]}", file=sys.stderr)
        return 130
    hard.cancel()
    for p in run.problems:
        print(f"perfbench: check failed: {p}", file=sys.stderr)
    if result is None:
        result = {"correct": False, "attempted": max(1, run.attempted), "failed": max(1, run.failed), "metrics": {}}
    share = result["failed"] / result["attempted"]
    print(f"perfbench: {args.workload} seed={args.seed} attempted={result['attempted']} "
          f"failed={result['failed']} failed_share={share:.6f}")
    print(json.dumps(result))
    return code


def abort_spark(run) -> None:
    """Deadline action: unblock whatever Spark call the main thread waits on."""
    for q in run.spark.streams.active:
        q.stop()
    run.spark.sparkContext.cancelAllJobs()


SETUPS = 3  # set-ups per run; setup_s is their median


def setup(run, workloads, deadline) -> float:
    """Set the session up ``SETUPS`` times; ``setup_s`` is the median.

    The first set-up is cold and timed from process start: ``get_spark``
    (which launches the JVM) plus one tiny availableNow drain of both
    queries, so first-use codegen and class loading stay out of the
    measured phase. Each later set-up is a restart, as after a redeploy:
    it stops the session, calls ``get_spark`` again in the same JVM and
    restarts both queries from the warm-up checkpoint, which has nothing
    new to read. The last session is the one the workload uses. Returns
    the cold ``get_spark`` seconds."""
    from harness import median
    from real_time_mobility_heatmap_spark.serving.http_api import TileApiServer
    from real_time_mobility_heatmap_spark.session import get_spark

    run.server = TileApiServer(port=0).start()
    times, t, get_spark_s = [], T_PROC_START, 0.0
    for k in range(SETUPS):
        with run.tracer.span("setup", k=k):
            if run.spark is not None:
                run.spark.stop()
            tg = time.perf_counter()
            with run.tracer.span("get_spark"):
                run.spark = get_spark("perfbench", cpus=run.cpus)
            if k == 0:
                get_spark_s = time.perf_counter() - tg
            run.spark.sparkContext.setLogLevel("ERROR")
            with run.tracer.span("warmup"):
                if k == 0:
                    staged = workloads.stage_stream(run, "warmup", workloads.WARMUP_SHAPE, run.seed)
                warm = workloads.drain_available_now(run, staged, deadline, serve=False)
            for q in warm["res"]["queries"]:
                q.stop()
        times.append(time.perf_counter() - t)
        t = time.perf_counter()
    run.e2e["setup_s"] = median(times)
    run.layers["setup.cold_s"] = times[0]
    run.refresh_ms.clear()
    run.poll_s.clear()
    run.flush_ms.clear()
    run.poll_records = 0
    return get_spark_s


def report(run, get_spark_s: float) -> dict:
    from harness import percentile

    lat = run.client.latencies_ms
    run.attempted += run.client.attempted
    run.failed += run.client.failed
    e2e = dict(run.e2e)
    e2e["http_p50_ms"] = percentile(lat, 50)
    e2e["http_p99_ms"] = percentile(lat, 99)
    units = {
        "setup_s": "s",
        "ingest_pings_per_s": "pings/s",
        "freshness_p50_s": "s",
        "http_p50_ms": "ms",
        "http_p99_ms": "ms",
    }
    if not run.tracer.enabled:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in units.items()}
    else:
        metrics = layer_metrics(run, e2e, get_spark_s, units)
    return {"correct": run.failed == 0, "attempted": max(1, run.attempted), "failed": run.failed, "metrics": metrics}


def layer_metrics(run, e2e: dict, get_spark_s: float, units: dict) -> dict:
    import workloads
    from harness import median

    L = run.layers
    L["session.get_spark_s"] = get_spark_s
    L["producers.records_per_s"] = run.poll_records / sum(run.poll_s) if run.poll_s else 0.0
    L["producers.spool_ms_p50"] = median(run.flush_ms)
    res, queries = run.stream
    epoch_offset = time.time() - time.perf_counter()
    workloads.progress_layers(run, queries, epoch_offset)
    workloads.sink_layers(run, res)
    L["pipeline.refresh_ms_p50"] = median(run.refresh_ms)
    for path, name in workloads.ENDPOINTS.items():
        L[f"serving.payload_bytes.{name}"] = run.client.bytes.get(path, 0)
    L["serving.http_requests"] = run.client.attempted
    L["serving.generator_late_ms_max"] = run.client.late_ms_max
    L["operators.suite_s"] = sum(q["s"] for q in run.queries.values())
    for name in workloads.HEAVY_QUERIES:
        q = run.queries.get(name, {"s": 0.0, "jobs": 0, "tasks": 0})
        L[f"query.{name}_s"] = q["s"]
        L[f"query.{name}.jobs"] = q["jobs"]
        L[f"query.{name}.tasks"] = q["tasks"]
    selft = run.tracer.self_times()
    for layer in workloads.SPAN_LAYERS:
        L[f"self.{layer}_s"] = selft.get(layer, 0.0)
    L["failed_share"] = run.failed / max(1, run.attempted)
    metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in sorted(L.items())}
    for k, u in units.items():
        metrics[f"traced.{k}"] = {"value": e2e[k], "unit": u}
    return metrics


def layer_unit(name: str) -> str:
    for suffix, unit in (("per_s", "1/s"), ("_ms_p50", "ms"), ("_ms_max", "ms"), ("_ms", "ms"), ("_s", "s"), ("_mb", "MB")):
        if name.endswith(suffix):
            return unit
    if "bytes" in name:
        return "bytes"
    return "ratio" if name == "failed_share" else "count"


def write_trace(run) -> None:
    os.makedirs(OUT_DIR, exist_ok=True)
    path = os.path.join(OUT_DIR, f"trace-{run.workload}-seed{run.seed}-{os.getpid()}.json")
    with open(path, "w") as f:
        json.dump({"run": run.tracer.run_id, "workload": run.workload, "spans": run.tracer.spans}, f)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
