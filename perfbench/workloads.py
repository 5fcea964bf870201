"""The benchmark workloads, driven only through the engine's public calls
(``run_producer`` + ``JsonFileSink``, ``json_ping_stream``,
``run_pipeline``, ``refresh_server_from_stores``, ``TileApiServer`` and
``__spark_entry__.queries()``).

Both workloads run the product path: ping files land, both streaming
queries drain them into the keyed stores, the HTTP snapshot is refreshed
and confirmed over HTTP, while an open-loop HTTP client runs beside it.
What varies is the traffic, chosen so each workload stresses a different
layer:

* ``ingest_bulk``  - few large micro-batches: the data-proportional cost
  (JSON decode, validate/snap, aggregate, argmax, bytes rewritten) on top
  of the per-trigger fixed cost, which is still the larger part;
* ``live_trickle`` - live processingTime queries fed one small poll per
  closed-loop round: fixed per-trigger and per-merge cost plus refresh.

Traced live_trickle runs add ``heavy_pass``: ten registry queries over
seeded fixture tables, each checked against its DuckDB oracle.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field

import gen
from gen import StreamShape, TableShape
from harness import OpenLoopClient, StepFailed, Tracer, median
from reference import Reference, position_mismatches, tile_row_mismatches

from real_time_mobility_heatmap_spark.config import DEFAULT as CFG
from real_time_mobility_heatmap_spark.pipeline import refresh_server_from_stores, run_pipeline
from real_time_mobility_heatmap_spark.producers.mobility_producer import JsonFileSink, run_producer
from real_time_mobility_heatmap_spark.serving.http_api import FEATURE_CAP, TileApiServer
from real_time_mobility_heatmap_spark.streaming.sinks import KeyedParquetStore
from real_time_mobility_heatmap_spark.streaming.sources import json_ping_stream

ENDPOINTS = {
    "/api/tiles/latest": "tiles_latest",
    "/api/positions/latest": "positions_latest",
    "/api/tiles/range": "tiles_range",
}
HTTP_RATE = 80.0  # open-loop GETs per second, round-robin over ENDPOINTS
HEAVY_QUERIES = (
    "streaming_neardup",
    "streaming_encounters",
    "embedding_neardup",
    "convoy_clusters",
    "triangle_count",
    "vband_geometry_report",
    "mobility_tiles",
    "latest_positions",
    "tile_feature_collection",
    "recent_tiles_merged",
)
PHASES = ("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets", "triggerExecution")
SPAN_LAYERS = ("setup", "get_spark", "producer", "drain", "round", "trigger", "merge", "refresh", "http", "query", "check")


def bulk_shape(seconds: int) -> StreamShape:
    return StreamShape(
        files=max(3, seconds // 4),  # the third file is the first that can hold beyond-watermark pings
        pings_per_file=100_000,
        vehicles=50_000,
        zipf_s=1.1,
        span_s=300,
        out_of_order=0.03,
        beyond_watermark=0.005,
        no_coords=0.002,
    )


def trickle_shape(seconds: int) -> StreamShape:
    return StreamShape(
        files=max(3, seconds // 4),
        pings_per_file=1_500,
        vehicles=400,
        zipf_s=0.8,
        span_s=60,
        out_of_order=0.03,
        beyond_watermark=0.005,
        no_coords=0.002,
    )


# The heavy registry pass runs each query twice (timed, then for the oracle
# check), which costs about 50 s; it rides on the traced runs of the
# shorter workload only so every run stays inside the hard deadline.
HEAVY_PASS_IN = ("live_trickle",)
# fixture tables for the heavy registry pass (half the sf0.01 fixture)
HEAVY_TABLES = TableShape(events=5_000, users=200, documents=250, near_dup_share=0.1, embeddings=250, labels=10)

WARMUP_SHAPE = StreamShape(
    files=1, pings_per_file=200, vehicles=50, zipf_s=0.8, span_s=300,
    out_of_order=0.0, beyond_watermark=0.0, no_coords=0.0,
)


# -- producer plumbing --------------------------------------------------------


class ReplayTransport:
    """Upstream transport that replays pre-generated polls in order."""

    def __init__(self, polls: list[list[dict]]):
        self._polls = iter(polls)

    def fetch(self):
        return next(self._polls)


class TimedSink:
    """Wraps the engine's ``JsonFileSink``: times each spool flush into
    ``flush_ms`` and records the files each flush lands, in order."""

    def __init__(self, sink: JsonFileSink, flush_ms: list[float]):
        self.sink = sink
        self.flush_ms = flush_ms
        self.paths: list[str] = []

    def send(self, key: str, value: dict) -> None:
        self.sink.send(key, value)

    def flush(self) -> None:
        before = set(os.listdir(self.sink.directory)) if os.path.isdir(self.sink.directory) else set()
        t = time.perf_counter()
        self.sink.flush()
        self.flush_ms.append((time.perf_counter() - t) * 1e3)
        landed = sorted(set(os.listdir(self.sink.directory)) - before)
        self.paths.extend(os.path.join(self.sink.directory, f) for f in landed)


# -- per-run state --------------------------------------------------------------


@dataclass
class Run:
    workload: str
    seed: int
    seconds: int
    root: str  # benchmark-owned temp root
    cpus: int
    tracer: Tracer
    spark: object = None
    server: TileApiServer | None = None
    client: OpenLoopClient | None = None
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    e2e: dict[str, float] = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=dict)
    refresh_ms: list[float] = field(default_factory=list)
    poll_s: list[float] = field(default_factory=list)
    poll_records: int = 0
    flush_ms: list[float] = field(default_factory=list)
    merges: list[dict] = field(default_factory=list)
    queries: dict[str, dict] = field(default_factory=dict)
    stream: tuple | None = None  # (pipeline result, {"tiles": q, "positions": q})

    def dir(self, *parts: str) -> str:
        p = os.path.join(self.root, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    def check(self, what: str, problems: list[str]) -> None:
        """One correctness check: counted as attempted, failed if any problem."""
        self.attempted += 1
        if problems:
            self.failed += 1
            self.problems.extend(f"{what}: {p}" for p in problems)


# -- merge instrumentation (traced runs only) ----------------------------------


def _du(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except OSError:
                pass
    return total


def _manifest(path: str) -> dict:
    try:
        with open(os.path.join(path, "MANIFEST.json")) as f:
            return json.load(f)
    except OSError:
        return {"version": 0, "buckets": {}}


def install_merge_probe(run: Run, store_root: str):
    """Wrap ``KeyedParquetStore.merge`` for stores under ``store_root``:
    per merge, its time, touched buckets (manifest diff) and the bytes of
    the new ``data-*`` dir. Returns a callable that restores the method."""
    orig = KeyedParquetStore.merge

    def listing(path: str) -> set[str]:
        return set(os.listdir(path)) if os.path.isdir(path) else set()

    def merge(self, batch_df, epoch_id=None):
        if not self.path.startswith(store_root):
            return orig(self, batch_df, epoch_id)
        name = os.path.basename(self.path)
        before_dirs = listing(self.path)
        before = _manifest(self.path)["buckets"]
        t = time.perf_counter()
        with run.tracer.span("merge", store=name, epoch=epoch_id):
            orig(self, batch_df, epoch_id)
        ms = (time.perf_counter() - t) * 1e3
        after = _manifest(self.path)["buckets"]
        new_dirs = listing(self.path) - before_dirs
        run.merges.append(
            {
                "store": name,
                "epoch": epoch_id,
                "ms": ms,
                "touched": sum(1 for b, d in after.items() if before.get(b) != d),
                "bytes": sum(_du(os.path.join(self.path, d)) for d in new_dirs if d.startswith("data-")),
            }
        )

    KeyedParquetStore.merge = merge
    return lambda: setattr(KeyedParquetStore, "merge", orig)


# -- the product path ---------------------------------------------------------


def spool_polls(run: Run, polls: list[list[dict]], sink: TimedSink) -> list[str]:
    """Replay ``polls`` through the engine's producer into the spool; one
    file per poll. Returns the new file paths in landing order."""
    first = len(sink.paths)
    for poll in polls:
        t = time.perf_counter()
        with run.tracer.span("producer"):
            stats = run_producer(
                ReplayTransport([poll]), sink, "mbta", poll_interval_s=0, max_polls=1, sleep=lambda _s: None
            )
        run.poll_s.append(time.perf_counter() - t)
        run.poll_records += stats["sent"] + stats["skipped"]
        if stats["errors"]:
            raise StepFailed(f"{run.workload}/producer", f"{stats['errors']} poll errors")
    return sink.paths[first:]


def source_factory(spark, spool: str):
    return lambda: json_ping_stream(spark, spool, max_files_per_trigger=1)


def refresh(run: Run, tiles, positions) -> None:
    t = time.perf_counter()
    with run.tracer.span("refresh"):
        refresh_server_from_stores(run.server, run.spark, tiles, positions, CFG)
    run.refresh_ms.append((time.perf_counter() - t) * 1e3)


def served_newest_ts(run: Run) -> str | None:
    """The ``ts`` of the first served position (the newest, by the shim's
    recency order), read over HTTP like any client."""
    import http.client

    conn = http.client.HTTPConnection("127.0.0.1", run.server.port, timeout=10)
    try:
        conn.request("GET", "/api/positions/latest")
        body = conn.getresponse().read().decode()
    finally:
        conn.close()
    i = body.find('"ts":"')
    return body[i + 6 : i + 26] if i >= 0 else None


def confirm_served(run: Run, expected_ts: str, step: str, deadline_s: float = 5.0) -> None:
    until = time.perf_counter() + deadline_s
    while True:
        got = served_newest_ts(run)
        if got == expected_ts:
            return
        if time.perf_counter() > until:
            raise StepFailed(step, f"served newest ts {got!r}, expected {expected_ts!r}")
        time.sleep(0.005)


def stage_in_order(paths: list[str]) -> None:
    """Give pre-staged files strictly increasing mtimes so the file
    source's mtime order equals landing order."""
    now = time.time()
    for k, path in enumerate(paths):
        os.utime(path, (now - len(paths) + k, now - len(paths) + k))


def stage_stream(run: Run, name: str, shape: StreamShape, seed: int) -> dict:
    """Generate ``shape``'s polls, replay them through the producer into a
    spool with landing-ordered mtimes, and compute the reference. Runs
    before the HTTP client starts, so its Python work does not contend
    with serving."""
    spool = run.dir(name, "in")
    sink = TimedSink(JsonFileSink(spool), run.flush_ms)
    paths = spool_polls(run, gen.ping_polls(seed, shape), sink)
    stage_in_order(paths)
    ref = Reference(CFG.city, CFG.grid_name)
    for p in paths:
        ref.add_file(p)
    return {"name": name, "spool": spool, "ref": ref, "newest": gen.iso(ref.max_ts)}


def drain_available_now(run: Run, staged: dict, deadline, serve: bool = True) -> dict:
    """Drain a staged spool with availableNow, one file per trigger, then
    (with ``serve``) refresh and confirm the served snapshot. Adds timings
    and the pipeline result to ``staged``."""
    name = staged["name"]
    t0 = time.perf_counter()
    with deadline.within(f"{run.workload}/{name}/drain", 120), run.tracer.span("drain", phase=name):
        res = run_pipeline(
            run.spark,
            run.dir(name, "store"),
            run.dir(name, "ckpt"),
            CFG,
            {"availableNow": True},
            source_factory(run.spark, staged["spool"]),
        )
    staged["drain_s"] = time.perf_counter() - t0
    staged["res"] = res
    for q in res["queries"]:
        if q.exception() is not None:
            raise StepFailed(f"{run.workload}/{name}/drain", str(q.exception()))
    if serve:
        refresh(run, res["tiles"], res["positions"])
        confirm_served(run, staged["newest"], f"{run.workload}/{name}/confirm")
        staged["served_s"] = time.perf_counter() - t0
    return staged


# -- correctness --------------------------------------------------------------


def store_rows(run: Run, res: dict) -> tuple[dict, dict]:
    tiles = res["tiles"].read(run.spark)
    positions = res["positions"].read(run.spark)
    got_t = {}
    if tiles is not None:
        for r in tiles.collect():
            got_t[r["tile_id"]] = (
                r["cell_id"],
                int(r["window_start"].timestamp()),
                r["ping_count"],
                r["avg_speed_kmh"],
                r["centroid_lon"],
                r["centroid_lat"],
                r["sum_speed_cents"],
                r["n_speed"],
            )
    got_p = {}
    if positions is not None:
        for r in positions.collect():
            got_p[r["position_id"]] = (
                r["provider"],
                r["vehicleId"],
                int(r["event_ts"].timestamp()),
                r["loc_lon"],
                r["loc_lat"],
            )
    return got_t, got_p


def _payload(run: Run, path: str) -> list[dict]:
    import http.client

    conn = http.client.HTTPConnection("127.0.0.1", run.server.port, timeout=10)
    try:
        conn.request("GET", path)
        return json.loads(conn.getresponse().read())["features"]
    finally:
        conn.close()


def check_stream(run: Run, name: str, res: dict, ref: Reference) -> None:
    with run.tracer.span("check", phase=name):
        got_t, got_p = store_rows(run, res)
        run.check(f"{name} tile store", tile_row_mismatches(ref.tile_rows(), got_t))
        run.check(f"{name} positions store", position_mismatches(ref.position_rows(), got_p))
        tl = [(f["id"], f["properties"]["ping_count"]) for f in _payload(run, "/api/tiles/latest")]
        run.check(f"{name} /api/tiles/latest", [] if tl == ref.tiles_latest(FEATURE_CAP) else ["top-N differs"])
        pl = [(f["id"], f["properties"]["ts"]) for f in _payload(run, "/api/positions/latest")]
        run.check(f"{name} /api/positions/latest", [] if pl == ref.positions_latest(FEATURE_CAP) else ["top-N differs"])
        tr = [
            (f["id"], f["properties"]["ping_count"], f["properties"]["avg_speed_kmh"])
            for f in _payload(run, "/api/tiles/range")
        ]
        run.check(f"{name} /api/tiles/range", [] if tr == ref.tiles_range(FEATURE_CAP) else ["top-N differs"])


# -- progress -----------------------------------------------------------------


def progress_layers(run: Run, queries: dict, epoch_offset: float) -> None:
    """Per-query trigger phases from Spark's ``recentProgress``; adds one
    ``trigger`` span per progress entry to the trace."""
    merge_ms = {(m["store"], m["epoch"]): m["ms"] for m in run.merges}
    for qname, q in queries.items():
        prog = q.recentProgress
        run.layers[f"streaming.{qname}.trigger_count"] = len(prog)
        run.layers[f"streaming.{qname}.input_rows"] = sum(p.numInputRows for p in prog)
        for ph in PHASES:
            run.layers[f"streaming.{qname}.{ph}_ms_p50"] = median(
                p.durationMs[ph] for p in prog if ph in p.durationMs
            )
        compute = [
            p.durationMs["addBatch"] - merge_ms[(qname, p.batchId)]
            for p in prog
            if "addBatch" in p.durationMs and (qname, p.batchId) in merge_ms
        ]
        run.layers[f"streaming.{qname}.compute_ms_p50"] = median(compute)
        if qname == "tiles":
            ops = [p.stateOperators[0] for p in prog if p.stateOperators]
            run.layers["streaming.tiles.state_rows"] = ops[-1].numRowsTotal if ops else 0
            run.layers["streaming.tiles.state_bytes"] = ops[-1].memoryUsedBytes if ops else 0
            run.layers["streaming.tiles.rows_dropped_by_watermark"] = sum(o.numRowsDroppedByWatermark for o in ops)
        if run.tracer.enabled:
            for p in prog:
                if "triggerExecution" not in p.durationMs:
                    continue
                start = _iso_epoch(p.timestamp) - epoch_offset
                run.tracer.spans.append(
                    {
                        "id": len(run.tracer.spans),
                        "name": "trigger",
                        "parent": None,
                        "run": run.tracer.run_id,
                        "start": start,
                        "end": start + p.durationMs["triggerExecution"] / 1e3,
                        "query": qname,
                        "batch": p.batchId,
                    }
                )


def _iso_epoch(ts: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def count_stream_ops(run: Run, res: dict) -> None:
    """Triggers and merges as attempted operations; a query that died
    counts as one failed operation."""
    for q in res["queries"]:
        run.attempted += len(q.recentProgress)
        if q.exception() is not None:
            run.failed += 1
    for store in (res["tiles"], res["positions"]):
        run.attempted += _manifest(store.path)["version"]


def sink_layers(run: Run, res: dict) -> None:
    for name, store in (("tiles", res["tiles"]), ("positions", res["positions"])):
        ms = [m for m in run.merges if m["store"] == name]
        run.layers[f"sinks.{name}.merge_ms_p50"] = median(m["ms"] for m in ms)
        run.layers[f"sinks.{name}.merge_count"] = len(ms)
        run.layers[f"sinks.{name}.touched_buckets"] = sum(m["touched"] for m in ms)
        run.layers[f"sinks.{name}.bytes_rewritten"] = sum(m["bytes"] for m in ms)
        run.layers[f"sinks.{name}.store_bytes"] = _du(store.path)
        run.layers[f"sinks.{name}.versions"] = _manifest(store.path)["version"]


# -- workloads ----------------------------------------------------------------


def start_client(run: Run) -> None:
    run.client = OpenLoopClient(run.server.port, list(ENDPOINTS), HTTP_RATE, run.tracer).start()


def ingest_bulk(run: Run, deadline) -> None:
    """Stage large files, drain them availableNow one file per trigger,
    refresh once; the HTTP client runs throughout."""
    shape = bulk_shape(run.seconds)
    staged = stage_stream(run, "bulk", shape, run.seed)
    restore = install_merge_probe(run, run.root) if run.tracer.enabled else None
    start_client(run)
    try:
        d = drain_available_now(run, staged, deadline)
    finally:
        run.client.stop()
        if restore:
            restore()
    res = d["res"]
    run.e2e["ingest_pings_per_s"] = d["ref"].pings / d["drain_s"]
    run.e2e["freshness_p50_s"] = d["served_s"]
    run.stream = (res, dict(zip(("tiles", "positions"), res["queries"])))
    count_stream_ops(run, res)
    check_stream(run, "ingest_bulk", res, d["ref"])


def live_trickle(run: Run, deadline) -> None:
    shape = trickle_shape(run.seconds)
    polls = gen.ping_polls(run.seed, shape)
    spool = run.dir("live", "in")
    sink = TimedSink(JsonFileSink(spool), run.flush_ms)
    restore = install_merge_probe(run, run.root) if run.tracer.enabled else None
    res = run_pipeline(
        run.spark,
        run.dir("live", "store"),
        run.dir("live", "ckpt"),
        CFG,
        {"processingTime": "100 milliseconds"},
        source_factory(run.spark, spool),
    )
    ref = Reference(CFG.city, CFG.grid_name)
    start_client(run)
    ingest_rate, fresh_s, paths, newest = [], [], [], ""
    try:
        for k, poll in enumerate(polls):
            # expected newest served ts, computed before the round's clock starts
            newest = max(newest, max(r["ts"] for r in poll if r["lat"] is not None))
            t0 = time.perf_counter()
            with run.tracer.span("round", k=k):
                (path,) = spool_polls(run, [poll], sink)
                with deadline.within(f"live_trickle/round{k}/processAllAvailable", 60):
                    for q in res["queries"]:
                        q.processAllAvailable()
                t_ingest = time.perf_counter() - t0
                refresh(run, res["tiles"], res["positions"])
                confirm_served(run, newest, f"live_trickle/round{k}/confirm")
            fresh_s.append(time.perf_counter() - t0)
            ingest_rate.append(sum(1 for r in poll if r["lat"] is not None) / t_ingest)
            paths.append(path)
    finally:
        run.client.stop()
        with deadline.within("live_trickle/stop", 60):
            for q in res["queries"]:
                q.stop()
        if restore:
            restore()
    for path in paths:
        ref.add_file(path)
    run.e2e["ingest_pings_per_s"] = median(ingest_rate)
    run.e2e["freshness_p50_s"] = median(fresh_s)
    count_stream_ops(run, res)
    check_stream(run, "live_trickle", res, ref)
    run.stream = (res, dict(zip(("tiles", "positions"), res["queries"])))


def _load_check_oracles():
    """tools/check_oracles.py's comparison helpers, imported (not copied)."""
    import importlib.util

    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools", "check_oracles.py")
    spec = importlib.util.spec_from_file_location("check_oracles", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def heavy_pass(run: Run, deadline) -> None:
    """Traced runs of HEAVY_PASS_IN only: one pass over HEAVY_QUERIES on
    seeded fixture tables, each checked against its oracle afterwards."""
    import __spark_entry__ as entry

    sf_dir = run.dir("sf")
    gen.write_tables(run.seed, HEAVY_TABLES, sf_dir)
    frames = query_pass(run, entry.queries(), sf_dir, deadline)
    check_queries(run, frames, sf_dir, deadline)


def query_pass(run: Run, registry: dict, sf_dir: str, deadline) -> dict:
    """One pass over HEAVY_QUERIES. The timed part is each query written
    to the noop sink; the oracle check runs the query again afterwards,
    outside the timed part. Returns the query frames by name."""
    sc = run.spark.sparkContext
    frames = {}
    for name in HEAVY_QUERIES:
        run.attempted += 1
        sc.setJobGroup(name, f"perfbench {name}")
        t = time.perf_counter()
        try:
            with deadline.within(f"{run.workload}/{name}", 90), run.tracer.span("query", query=name):
                df = registry[name](run.spark, sf_dir)
                df.write.format("noop").mode("overwrite").save()
        except StepFailed:
            raise
        except Exception as e:  # noqa: BLE001 - one failed query is counted, the pass goes on
            run.failed += 1
            run.problems.append(f"query {name}: {type(e).__name__}: {str(e)[:200]}")
            continue
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        elapsed = time.perf_counter() - t
        tracker = sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(name)
        stages = [s for j in jobs if (ji := tracker.getJobInfo(j)) for s in ji.stageIds]
        tasks = sum(si.numTasks for s in stages if (si := tracker.getStageInfo(s)))
        run.queries[name] = {"s": elapsed, "jobs": len(jobs), "tasks": tasks}
        frames[name] = df
    return frames


def check_queries(run: Run, frames: dict, sf_dir: str, deadline) -> None:
    """Each pass result against its ``oracle_sql()`` twin on DuckDB, with
    the row/column/value comparison of tools/check_oracles.py."""
    import duckdb

    import __spark_entry__ as entry

    co = _load_check_oracles()
    oracles = entry.oracle_sql()
    con = duckdb.connect()
    try:
        for t in ("events", "documents", "embeddings"):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        for name, df in frames.items():
            with run.tracer.span("check", query=name):
                try:
                    with deadline.within(f"{run.workload}/{name}/oracle", 90):
                        sdf = co.spark_to_pandas(df)
                    odf = con.sql(oracles[name]).df()
                except Exception as e:  # noqa: BLE001 - reported as a failed check
                    run.check(f"oracle {name}", [f"{type(e).__name__}: {str(e)[:200]}"])
                    continue
                if len(sdf) != len(odf):
                    bad = [f"rowcount spark={len(sdf)} duckdb={len(odf)}"]
                elif sorted(sdf.columns) != sorted(odf.columns):
                    bad = [f"columns spark={sorted(sdf.columns)} duckdb={sorted(odf.columns)}"]
                else:
                    bad = [] if co._canon(sdf) == co._canon(odf) else ["values differ"]
                run.check(f"oracle {name}", bad)
    finally:
        con.close()


WORKLOADS = {"ingest_bulk": ingest_bulk, "live_trickle": live_trickle}
