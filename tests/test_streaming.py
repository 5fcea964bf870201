from __future__ import annotations

import importlib.util
import json
import os

import pytest
from pyspark.sql import functions as F

from real_time_mobility_heatmap_spark.operators.tiles import tile_aggregate
from real_time_mobility_heatmap_spark.schema import PING_SCHEMA
from real_time_mobility_heatmap_spark.streaming.assembly import (
    start_positions_query,
    start_tiles_query,
)
from real_time_mobility_heatmap_spark.streaming.sinks import positions_store, tile_store
from real_time_mobility_heatmap_spark.streaming.sources import json_ping_stream


def _write_json(dir_path: str, name: str, rows: list[dict]) -> None:
    os.makedirs(dir_path, exist_ok=True)
    with open(os.path.join(dir_path, name), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def _wire(vid: str, ts: str, lat=42.35, lon=-71.06, speed=10.0, provider="mbta") -> dict:
    return {
        "provider": provider,
        "vehicleId": vid,
        "lat": lat,
        "lon": lon,
        "speedKmh": speed,
        "bearing": None,
        "accuracyM": None,
        "ts": ts,
    }


def _run_tiles(spark, input_dir, store, checkpoint):
    q = start_tiles_query(json_ping_stream(spark, input_dir), store, checkpoint)
    q.awaitTermination()


def _run_positions(spark, input_dir, store, checkpoint):
    q = start_positions_query(json_ping_stream(spark, input_dir), store, checkpoint)
    q.awaitTermination()


@pytest.fixture()
def dirs(tmp_path):
    return {
        "in": str(tmp_path / "in"),
        "store": str(tmp_path / "store"),
        "ckpt": str(tmp_path / "ckpt"),
        "ckpt2": str(tmp_path / "ckpt2"),
    }


ROWS = [
    _wire("v1", "2024-01-01T10:02:00Z", speed=10.0),
    _wire("v1", "2024-01-01T10:04:00Z", speed=30.0),
    _wire("v2", "2024-01-01T10:03:00Z", lat=42.36, speed=20.0),
    _wire("v2", "2024-01-01T10:07:00Z", lat=42.36, speed=40.0),
    _wire("bad", "2024-01-01T10:03:00Z", lat=99.0),  # invalid -> dropped
]


def test_tiles_stream_matches_batch_twin(spark, dirs):
    _write_json(dirs["in"], "b1.json", ROWS)
    store = tile_store(dirs["store"])
    _run_tiles(spark, dirs["in"], store, dirs["ckpt"])

    got = {
        r["tile_id"]: r
        for r in store.read(spark).withColumn("avg_speed_kmh", F.round("avg_speed_kmh", 6)).collect()
    }

    # batch twin over the same rows
    batch_pings = spark.createDataFrame(
        [
            (r["provider"], r["vehicleId"],
             __import__("datetime").datetime.fromisoformat(r["ts"].replace("Z", "")),
             r["lat"], r["lon"], r["speedKmh"], 0, None)
            for r in ROWS
        ],
        PING_SCHEMA,
    )
    want = {r["tile_id"]: r for r in tile_aggregate(batch_pings).collect()}

    assert set(got) == set(want)
    for k in want:
        assert got[k]["ping_count"] == want[k]["ping_count"]
        assert got[k]["avg_speed_kmh"] == want[k]["avg_speed_kmh"]


def test_tiles_replay_is_idempotent(spark, dirs):
    _write_json(dirs["in"], "b1.json", ROWS)
    store = tile_store(dirs["store"])
    _run_tiles(spark, dirs["in"], store, dirs["ckpt"])
    first = sorted(store.read(spark).collect(), key=lambda r: r["tile_id"])

    # replay the whole input with a FRESH checkpoint into the same store
    _run_tiles(spark, dirs["in"], store, dirs["ckpt2"])
    second = sorted(store.read(spark).collect(), key=lambda r: r["tile_id"])
    assert first == second


def test_positions_conditional_upsert_out_of_order(spark, dirs):
    store = positions_store(dirs["store"])
    _write_json(dirs["in"], "b1.json", [_wire("v1", "2024-01-01T10:10:00Z", lat=42.50)])
    _run_positions(spark, dirs["in"], store, dirs["ckpt"])

    # second batch arrives LATE with an older position for v1 + a new v3
    _write_json(dirs["in"], "b2.json", [
        _wire("v1", "2024-01-01T10:05:00Z", lat=41.00),
        _wire("v3", "2024-01-01T10:01:00Z", lat=42.70),
    ])
    _run_positions(spark, dirs["in"], store, dirs["ckpt"])

    got = {r["vehicleId"]: r for r in store.read(spark).collect()}
    assert got["v1"]["loc_lat"] == 42.50  # older update was a no-op (S5 guard)
    assert got["v3"]["loc_lat"] == 42.70  # new key inserted
    assert len(got) == 2


def test_cross_micro_batch_equal_ts_tie_stored_wins_both_arrival_orders(
    spark, tmp_path
):
    """The r13 --ties axis ran on single-file batches, so the documented
    stored-wins-on-equal-ts guard (KeyedParquetStore.merge orders by
    (desc(newer_col), desc(__stored)) — the stored row outranks an
    incoming EQUAL-ts row, reference parity with the Mongo upsert's ts
    guard) had never seen a tie SPLIT across micro-batches. Two
    single-row files with the same (vehicle, eventTs) and different
    payloads, run in BOTH arrival orders: the FIRST-arrived payload must
    win each time. The same-batch twin (both rows in one file) must pick
    the content-key winner (positions_batch's struct ordering) in a way
    independent of in-file row order."""
    P = _wire("v1", "2024-01-01T10:10:00Z", lat=42.50)
    Q = _wire("v1", "2024-01-01T10:10:00Z", lat=41.00)

    def run_sequence(label: str, rows_by_file: list[list[dict]]):
        ind = str(tmp_path / f"in-{label}")
        store = positions_store(str(tmp_path / f"store-{label}"))
        for i, rows in enumerate(rows_by_file):
            _write_json(ind, f"b{i}.json", rows)
            _run_positions(spark, ind, store, str(tmp_path / f"ckpt-{label}"))
        got = store.read(spark).collect()
        assert len(got) == 1
        return got[0]

    # the tied pair straddles the micro-batch boundary, both orders
    first_p = run_sequence("pq", [[P], [Q]])
    assert first_p["loc_lat"] == 42.50  # P arrived first -> stored wins tie
    first_q = run_sequence("qp", [[Q], [P]])
    assert first_q["loc_lat"] == 41.00  # Q arrived first -> stored wins tie

    # same-batch twin: the content key decides, not arrival order
    one_pq = run_sequence("one-pq", [[P, Q]])
    one_qp = run_sequence("one-qp", [[Q, P]])
    assert one_pq["loc_lat"] == one_qp["loc_lat"] == 42.50


def test_watermark_drops_very_late_rows(spark, dirs):
    store = tile_store(dirs["store"])
    # run 1: event at T and T+20min -> watermark advances to T+10
    _write_json(dirs["in"], "b1.json", [
        _wire("v1", "2024-01-01T10:00:00Z"),
        _wire("v1", "2024-01-01T10:20:00Z"),
    ])
    _run_tiles(spark, dirs["in"], store, dirs["ckpt"])

    # run 2 (same checkpoint): a row landing in the already-closed 10:00
    # window — beyond the restored watermark, must be dropped (ST3)
    _write_json(dirs["in"], "b2.json", [_wire("v2", "2024-01-01T10:01:00Z")])
    _run_tiles(spark, dirs["in"], store, dirs["ckpt"])

    tiles = {r["window_start"].isoformat(): r["ping_count"] for r in store.read(spark).collect()}
    assert tiles["2024-01-01T10:00:00"] == 1  # late row did NOT increment
    assert tiles["2024-01-01T10:20:00"] == 1


def _bucket_files(store) -> dict[str, dict[str, tuple[float, int]]]:
    """manifest bucket -> {file: (mtime, size)} for rewrite detection."""
    out = {}
    manifest = store._load_manifest()["buckets"]
    for b, rel in manifest.items():
        d = os.path.join(store.path, rel)
        out[b] = {
            f: (os.path.getmtime(os.path.join(d, f)), os.path.getsize(os.path.join(d, f)))
            for f in sorted(os.listdir(d))
            if f.endswith(".parquet")
        }
    return out


def test_merge_rewrites_only_touched_buckets(spark, tmp_path):
    from real_time_mobility_heatmap_spark.streaming.sinks import KeyedParquetStore

    store = KeyedParquetStore(str(tmp_path / "s"), key_cols=["k"], n_buckets=8)
    base = spark.createDataFrame([(f"k{i}", i) for i in range(40)], "k string, v int")
    store.merge(base, epoch_id=0)
    before = _bucket_files(store)
    assert len(before) > 1  # keys spread over several buckets

    # merge a single-key batch: exactly one bucket may change
    one = spark.createDataFrame([("k3", 99)], "k string, v int")
    touched_bucket = str(
        one.select(store._bucket_col().alias("b")).collect()[0]["b"]
    )
    store.merge(one, epoch_id=1)
    after = _bucket_files(store)

    assert set(after) == set(before)
    for b in before:
        if b == touched_bucket:
            assert after[b] != before[b]  # rewritten with the upsert
        else:
            # untouched buckets: same files, same bytes, not rewritten
            assert after[b] == before[b]

    got = {r["k"]: r["v"] for r in store.read(spark).collect()}
    assert got["k3"] == 99 and len(got) == 40


def test_merge_replay_is_idempotent_and_manifest_swap_is_atomic(spark, tmp_path):
    from real_time_mobility_heatmap_spark.streaming.sinks import KeyedParquetStore

    store = KeyedParquetStore(str(tmp_path / "s"), key_cols=["k"], n_buckets=4)
    batch = spark.createDataFrame([("a", 1), ("b", 2)], "k string, v int")
    store.merge(batch, epoch_id=0)
    first = sorted(store.read(spark).collect())

    # replaying the identical batch (at-least-once delivery) converges
    store.merge(batch, epoch_id=0)
    assert sorted(store.read(spark).collect()) == first

    # every referenced bucket dir exists and no tmp manifest is left behind
    # (the manifest is replaced with a single atomic os.replace)
    for d in store._bucket_dirs():
        assert os.path.isdir(d)
    leftovers = [f for f in os.listdir(store.path) if f.startswith("MANIFEST.json.tmp")]
    assert leftovers == []


def test_session_window_stream_merges_state_across_batches(spark, dirs):
    """F.session_window (append mode — the only mode Spark supports for
    streaming session aggs): an event inside the gap MERGES into the open
    session in state; a session is emitted exactly once, when the
    watermark passes its end (SURVEY.md §2.5)."""
    from real_time_mobility_heatmap_spark.streaming.assembly import (
        windowed_sessions_stream,
    )
    from real_time_mobility_heatmap_spark.streaming.sources import json_ping_stream

    emitted: list[list] = []

    def _run():
        q = (
            windowed_sessions_stream(json_ping_stream(spark, dirs["in"]))
            .writeStream.outputMode("append")
            .option("checkpointLocation", dirs["ckpt"])
            .foreachBatch(lambda df, _eid: emitted.append(df.collect()))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    def _sessions():
        return {
            (r["vehicleId"], r["session_start"].isoformat()): r["n_pings"]
            for batch in emitted
            for r in batch
        }

    # run 1: two pings 10 min apart -> ONE open session [10:00, 10:40);
    # watermark only reaches 10:00, so nothing is finalized yet
    _write_json(dirs["in"], "b1.json", [
        _wire("v1", "2024-01-01T10:00:00Z"),
        _wire("v1", "2024-01-01T10:10:00Z"),
    ])
    _run()
    assert _sessions() == {}

    # run 2 (same checkpoint): 10:20 is inside the 30-min gap -> MERGES the
    # open session to [10:00, 10:50) n=3; 12:00 opens a new session and
    # pushes the watermark to 11:50 > 10:50, closing+emitting the merged one
    emitted.clear()
    _write_json(dirs["in"], "b2.json", [
        _wire("v1", "2024-01-01T10:20:00Z"),
        _wire("v1", "2024-01-01T12:00:00Z"),
    ])
    _run()
    assert _sessions() == {("v1", "2024-01-01T10:00:00"): 3}

    # run 3: a far-future ping closes and emits the 12:00 session (n=1)
    emitted.clear()
    _write_json(dirs["in"], "b3.json", [_wire("v1", "2024-01-01T14:00:00Z")])
    _run()
    assert _sessions() == {("v1", "2024-01-01T12:00:00"): 1}


def test_stateful_trip_detector_across_batches_and_timeout(spark, dirs):
    """applyInPandasWithState trip detection (ST4 custom state): an open
    trip survives micro-batches, closes on a revealed gap, and a DANGLING
    trip is finalized by event-time timeout when the watermark passes."""
    from real_time_mobility_heatmap_spark.streaming.sources import json_ping_stream
    from real_time_mobility_heatmap_spark.streaming.stateful import (
        vehicle_trips_stream,
    )

    emitted: list[list] = []

    def _run():
        q = (
            vehicle_trips_stream(json_ping_stream(spark, dirs["in"]))
            .writeStream.outputMode("append")
            .option("checkpointLocation", dirs["ckpt"])
            .foreachBatch(lambda df, _eid: emitted.append(df.collect()))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    def _trips():
        return sorted(
            (r["vehicleId"], r["trip_start"].isoformat(), r["trip_end"].isoformat(), r["n_pings"])
            for batch in emitted
            for r in batch
        )

    # run 1: one open trip for v1 -> nothing emitted yet
    _write_json(dirs["in"], "b1.json", [
        _wire("v1", "2024-01-01T10:00:00Z"),
        _wire("v1", "2024-01-01T10:10:00Z"),
    ])
    _run()
    assert _trips() == []

    # run 2: 12:00 reveals a >30min gap -> trip [10:00,10:10] n=2 closes;
    # the 12:00 ping opens a new trip held in state
    emitted.clear()
    _write_json(dirs["in"], "b2.json", [_wire("v1", "2024-01-01T12:00:00Z")])
    _run()
    assert _trips() == [("v1", "2024-01-01T10:00:00", "2024-01-01T10:10:00", 2)]

    # run 3: only OTHER-vehicle data far in the future; v1's dangling
    # 12:00 trip must be finalized by the event-time TIMEOUT path
    emitted.clear()
    _write_json(dirs["in"], "b3.json", [_wire("v2", "2024-01-01T15:00:00Z")])
    _run()
    assert ("v1", "2024-01-01T12:00:00", "2024-01-01T12:00:00", 1) in _trips()


def test_stream_stream_join_within_horizon(spark, dirs):
    """Watermarked stream-stream join: clicks pair with purchases of the
    same key within the 60-min horizon, across micro-batches; state is
    evictable because both sides are watermarked and the condition is
    interval-bounded (SURVEY.md §2.9)."""
    from real_time_mobility_heatmap_spark.streaming.assembly import (
        stream_stream_conversions,
    )
    from real_time_mobility_heatmap_spark.streaming.sources import json_ping_stream

    emitted: list[list] = []

    def _run():
        q = (
            stream_stream_conversions(json_ping_stream(spark, dirs["in"]))
            .writeStream.outputMode("append")
            .option("checkpointLocation", dirs["ckpt"])
            .foreachBatch(lambda df, _eid: emitted.append(df.collect()))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # run 1: one purchase for key u1
    _write_json(dirs["in"], "b1.json", [
        _wire("u1", "2024-01-01T10:00:00Z", provider="purchase"),
    ])
    _run()

    # run 2: clicks arriving in a LATER micro-batch still join against the
    # buffered purchase: 10:30 inside the horizon, 12:00 outside; u2 has
    # no matching purchase
    _write_json(dirs["in"], "b2.json", [
        _wire("u1", "2024-01-01T10:30:00Z", provider="click"),
        _wire("u1", "2024-01-01T12:00:00Z", provider="click"),
        _wire("u2", "2024-01-01T10:30:00Z", provider="click"),
    ])
    _run()

    pairs = sorted(
        (r["p_key"], r["p_ts"].isoformat(), r["c_ts"].isoformat())
        for batch in emitted
        for r in batch
    )
    assert pairs == [("u1", "2024-01-01T10:00:00", "2024-01-01T10:30:00")]


def test_vacuum_removes_only_orphan_data_dirs(spark, tmp_path):
    """A data dir written by a crashed merge (no manifest reference) is
    reclaimed by vacuum; referenced dirs are untouched."""
    from real_time_mobility_heatmap_spark.streaming.sinks import KeyedParquetStore

    store = KeyedParquetStore(str(tmp_path / "s"), key_cols=["k"], n_buckets=4)
    store.merge(spark.createDataFrame([("a", 1), ("b", 2)], "k string, v int"))
    before = sorted(store.read(spark).collect())

    orphan = os.path.join(store.path, "data-deadbeef")
    os.makedirs(os.path.join(orphan, "__bucket=0"))
    with open(os.path.join(orphan, "__bucket=0", "junk.parquet"), "w") as f:
        f.write("not really parquet")

    removed = store.vacuum()
    assert removed == ["data-deadbeef"]
    assert not os.path.exists(orphan)
    assert sorted(store.read(spark).collect()) == before
    assert store.vacuum() == []  # idempotent


def test_positions_query_evaluates_each_micro_batch_once(spark, dirs):
    """The merge persists the bucket-tagged batch, so the touched-bucket
    collect and the write share one evaluation: the source reports each
    pinged row once, not once per action."""
    valid = ROWS[:4]
    _write_json(dirs["in"], "b1.json", valid)
    q = start_positions_query(
        json_ping_stream(spark, dirs["in"]), positions_store(dirs["store"]), dirs["ckpt"]
    )
    q.awaitTermination()
    assert sum(p["numInputRows"] for p in q.recentProgress) == len(valid)


def test_merge_writes_files_sized_by_data_not_per_bucket(spark, tmp_path):
    """A merge touching every bucket lands in ONE data dir with at most one
    file per shuffle partition (the old layout wrote one per bucket)."""
    from real_time_mobility_heatmap_spark.streaming.sinks import KeyedParquetStore

    store = KeyedParquetStore(str(tmp_path / "s"), key_cols=["k"], n_buckets=32)
    store.merge(spark.createDataFrame([(f"k{i}", i) for i in range(1000)], "k string, v int"))
    buckets = store._load_manifest()["buckets"]
    assert len(buckets) == 32 and len(set(buckets.values())) == 1
    (data_dir,) = store._bucket_dirs()
    files = [f for f in os.listdir(data_dir) if f.endswith(".parquet")]
    assert 1 <= len(files) <= int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert store.read(spark).count() == 1000


def test_merge_plan_has_one_exchange_above_the_union(spark, tmp_path):
    """repartition(__bucket) already clusters every key, so the per-key
    window plans no second exchange."""
    from real_time_mobility_heatmap_spark.streaming.sinks import KeyedParquetStore

    store = KeyedParquetStore(str(tmp_path / "s"), key_cols=["k"], n_buckets=8)
    store.merge(spark.createDataFrame([(f"k{i}", i) for i in range(40)], "k string, v int"))
    incoming = spark.createDataFrame([("k3", 99), ("new", 1)], "k string, v int").withColumn(
        "__bucket", store._bucket_col()
    )
    merged = store._merged(incoming, store._load_manifest(), store._buckets_of(incoming))
    plan = merged._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    assert plan.index("Exchange") < plan.index("Union"), plan


def test_old_layout_manifest_fails_naming_the_store(spark, tmp_path):
    """A manifest from the per-bucket-dir layout is refused with an error
    that names the store, on read and on merge alike."""
    import re

    from real_time_mobility_heatmap_spark.streaming.sinks import KeyedParquetStore

    store = KeyedParquetStore(str(tmp_path / "s"), key_cols=["k"], n_buckets=4)
    os.makedirs(store.path)
    with open(os.path.join(store.path, "MANIFEST.json"), "w") as f:
        json.dump({"version": 1, "buckets": {"0": "data-abc/__bucket=0"}}, f)
    with pytest.raises(ValueError, match=re.escape(store.path)):
        store.read(spark)
    with pytest.raises(ValueError, match="old per-bucket-dir layout"):
        store.merge(spark.createDataFrame([("a", 1)], "k string, v int"))


def _rows_on_disk(spark, store) -> list:
    """Every row in every data dir, live or dead, read straight from disk."""
    dirs = [os.path.join(store.path, d) for d in os.listdir(store.path) if d.startswith("data-")]
    return spark.read.parquet(*dirs).collect()


def test_delete_removes_the_rows_from_disk(spark, tmp_path):
    """delete() folds every dir holding a touched bucket into its new dir,
    so with retain_versions=1 the deleted row is gone from every file;
    a dir holding no touched bucket keeps its files."""
    from real_time_mobility_heatmap_spark.streaming.sinks import KeyedParquetStore

    store = KeyedParquetStore(str(tmp_path / "s"), key_cols=["k"], n_buckets=32)
    store.merge(spark.createDataFrame([(f"k{i}", i) for i in range(200)], "k string, v int"))
    bucket_of = {
        r["k"]: r["b"]
        for r in store.read(spark).select("k", store._bucket_col().alias("b")).collect()
    }
    other = next(k for k in bucket_of if bucket_of[k] != bucket_of["k7"])
    store.merge(spark.createDataFrame([(other, -1)], "k string, v int"))
    kept_dir = store._load_manifest()["buckets"][str(bucket_of[other])]
    kept_files = _bucket_files(store)[str(bucket_of[other])]

    assert store.delete(spark.createDataFrame([("k7",)], "k string")) == 1
    on_disk = _rows_on_disk(spark, store)
    assert "k7" not in {r["k"] for r in on_disk}
    assert len(on_disk) == 199  # no dead copy of any row is left either
    assert store._load_manifest()["buckets"][str(bucket_of[other])] == kept_dir
    assert _bucket_files(store)[str(bucket_of[other])] == kept_files
    assert len({r["k"] for r in store.read(spark).collect()}) == 199


def test_partial_merges_keep_dead_rows_below_live_rows(spark, tmp_path):
    """Merges that each touch one bucket leave its old rows dead in the
    shared dir until that dir's live share would drop below half; then
    its remaining buckets are folded into the new dir and the old dir
    leaves the disk."""
    from real_time_mobility_heatmap_spark.streaming.sinks import KeyedParquetStore

    store = KeyedParquetStore(str(tmp_path / "s"), key_cols=["k"], n_buckets=8)
    store.merge(spark.createDataFrame([(f"k{i}", i) for i in range(80)], "k string, v int"))
    (first,) = set(store._load_manifest()["buckets"].values())
    one_per_bucket = {}
    for r in store.read(spark).select("k", store._bucket_col().alias("b")).collect():
        one_per_bucket.setdefault(r["b"], r["k"])
    for n, b in enumerate(sorted(one_per_bucket)[:5], start=1):
        store.merge(spark.createDataFrame([(one_per_bucket[b], -b)], "k string, v int"))
        manifest = store._load_manifest()
        for rel, written in manifest["dirs"].items():
            live = sum(1 for d in manifest["buckets"].values() if d == rel)
            assert 2 * live >= written, (n, rel, live, written)
        assert (first in manifest["buckets"].values()) == (n < 5)
        assert len(_rows_on_disk(spark, store)) < 2 * 80
    assert os.path.isdir(os.path.join(store.path, first)) is False
    assert len(_rows_on_disk(spark, store)) == 80
    got = {r["k"]: r["v"] for r in store.read(spark).collect()}
    assert len(got) == 80
    assert all(got[one_per_bucket[b]] == -b for b in sorted(one_per_bucket)[:5])


def test_stream_static_broadcast_enrichment(spark, dirs):
    """Stream-static join: each micro-batch is enriched from a broadcast
    static dim with NO streaming state; unmatched keys keep null dims."""
    from real_time_mobility_heatmap_spark.streaming.assembly import (
        enrich_with_static_dim,
    )
    from real_time_mobility_heatmap_spark.streaming.sources import json_ping_stream

    dim = spark.createDataFrame(
        [("mbta", "Greater Boston"), ("bus", "Metro")], "provider string, region string"
    )
    got: list = []
    _write_json(dirs["in"], "b1.json", [
        _wire("v1", "2024-01-01T10:00:00Z", provider="mbta"),
        _wire("v2", "2024-01-01T10:00:00Z", provider="unknown-prov"),
    ])
    q = (
        enrich_with_static_dim(json_ping_stream(spark, dirs["in"]), dim)
        .writeStream.outputMode("append")
        .option("checkpointLocation", dirs["ckpt"])
        .foreachBatch(lambda df, _eid: got.extend(df.collect()))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    by_v = {r["vehicleId"]: r["region"] for r in got}
    assert by_v == {"v1": "Greater Boston", "v2": None}


def test_mongo_adapter_is_import_gated():
    """The Mongo sink adapter (reference S4/S5 parity surface) raises a
    clear ImportError without pymongo instead of failing at merge time."""
    import pytest as _pytest

    from real_time_mobility_heatmap_spark.streaming.mongo import MongoKeyedStore

    with _pytest.raises(ImportError, match="pymongo not installed"):
        MongoKeyedStore("mongodb://localhost", "mobility", "tiles", ["tile_id"])


def test_multiple_micro_batches_in_one_run_accumulate_correctly(spark, dirs):
    """maxFilesPerTrigger=1 forces one micro-batch per input file within a
    SINGLE availableNow run: update-mode emissions must accumulate in the
    store across batches exactly like a one-shot batch aggregate."""
    from real_time_mobility_heatmap_spark.streaming.assembly import start_tiles_query
    from real_time_mobility_heatmap_spark.streaming.sources import json_ping_stream

    # same cell+window split over three files
    for i, speed in enumerate((10.0, 20.0, 60.0)):
        _write_json(dirs["in"], f"b{i}.json", [
            _wire("v1", "2024-01-01T10:01:00Z", speed=speed),
        ])
    store = tile_store(dirs["store"])
    q = start_tiles_query(
        json_ping_stream(spark, dirs["in"], max_files_per_trigger=1),
        store,
        dirs["ckpt"],
    )
    q.awaitTermination()

    rows = store.read(spark).collect()
    assert len(rows) == 1
    assert rows[0]["ping_count"] == 3          # all three batches merged
    assert abs(rows[0]["avg_speed_kmh"] - 30.0) < 1e-9  # running avg, not last


def test_trip_sink_replay_is_idempotent(spark, dirs):
    """Closed-trip rows merged into a keyed store survive a micro-batch
    REPLAY unchanged (foreachBatch redelivery after a crash): the trip key
    (provider, vehicleId, trip_start) makes the merge idempotent."""
    from real_time_mobility_heatmap_spark.streaming.sinks import KeyedParquetStore
    from real_time_mobility_heatmap_spark.streaming.sources import json_ping_stream
    from real_time_mobility_heatmap_spark.streaming.stateful import (
        vehicle_trips_stream,
    )

    store = KeyedParquetStore(
        dirs["store"] + "/trips",
        key_cols=["provider", "vehicleId", "trip_start"],
    )
    batches: list = []

    def _sink(df, eid):
        batches.append(df)
        store.merge(df, eid)

    def _run():
        q = (
            vehicle_trips_stream(json_ping_stream(spark, dirs["in"]))
            .writeStream.outputMode("append")
            .option("checkpointLocation", dirs["ckpt"])
            .foreachBatch(_sink)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    _write_json(dirs["in"], "b1.json", [
        _wire("v1", "2024-01-01T10:00:00Z"),
        _wire("v1", "2024-01-01T10:10:00Z"),
    ])
    _run()
    # reveal the gap -> closes [10:00, 10:10]; timeout path closes nothing yet
    _write_json(dirs["in"], "b2.json", [_wire("v1", "2024-01-01T12:00:00Z")])
    _run()

    def _snapshot():
        df = store.read(spark)
        return sorted(
            (r["provider"], r["vehicleId"], r["trip_start"].isoformat(),
             r["trip_end"].isoformat(), r["n_pings"])
            for r in df.collect()
        )

    first = _snapshot()
    assert first == [("mbta", "v1", "2024-01-01T10:00:00", "2024-01-01T10:10:00", 2)]

    # replay every delivered non-empty batch twice more: store must not change
    for df in batches:
        store.merge(df, epoch_id=None)
        store.merge(df, epoch_id=None)
    assert _snapshot() == first


def test_detect_trips_all_null_timestamps_no_state_crash():
    """Regression (r3 advice): an invocation delivering only null-eventTs
    rows for a key with NO prior state must be a no-op, not a
    state.update(None) crash inside the operator."""
    import pandas as pd

    from real_time_mobility_heatmap_spark.streaming.stateful import detect_trips

    class _StubState:
        def __init__(self):
            self.exists = False
            self.hasTimedOut = False
            self.updated = None

        @property
        def get(self):
            raise AssertionError("get on empty state")

        def update(self, v):
            assert v is not None, "state.update(None) is invalid"
            self.updated = v

        def remove(self):
            pass

        def setTimeoutTimestamp(self, ts):
            pass

    pdf = pd.DataFrame({"eventTs": pd.to_datetime([None, None])})
    state = _StubState()
    out = list(detect_trips(("mbta", "v9"), iter([pdf]), state))
    assert out == [] and state.updated is None


class _StubValueState:
    def __init__(self):
        self.value = None

    def exists(self):
        return self.value is not None

    def get(self):
        return self.value

    def update(self, v):
        assert v is not None
        self.value = tuple(v)

    def clear(self):
        self.value = None


class _StubHandle:
    def __init__(self):
        self.state = _StubValueState()
        self.timers: list[int] = []

    def getValueState(self, name, schema, ttlDurationMs=None):
        return self.state

    def listTimers(self):
        return list(self.timers)

    def registerTimer(self, ts_ms):
        self.timers.append(ts_ms)

    def deleteTimer(self, ts_ms):
        self.timers.remove(ts_ms)


def test_trip_processor_state_machine_with_stub_handle():
    """TripProcessor (the transformWithStateInPandas twin of detect_trips)
    must run the same state machine: gap-close in-batch, open trip carried
    across invocations with the timer RE-ARMED at the new horizon (exactly
    one live timer), and the expired timer emitting + clearing the
    dangling trip. Driven through a stub handle because the live API needs
    google.protobuf, absent in this sandbox (see SCALE.md blockers)."""
    import pandas as pd

    from real_time_mobility_heatmap_spark.streaming.stateful import (
        TRIP_GAP_MIN,
        TripProcessor,
    )

    proc = TripProcessor()
    handle = _StubHandle()
    proc.init(handle)

    key = ("mbta", "v1")
    # batch 1: two close pings + one past the gap -> first trip closes
    b1 = pd.DataFrame(
        {"eventTs": pd.to_datetime(["2024-01-01 10:00", "2024-01-01 10:10", "2024-01-01 12:00"])}
    )
    out1 = list(proc.handleInputRows(key, iter([b1]), None))
    assert len(out1) == 1 and len(out1[0]) == 1
    assert out1[0]["n_pings"].tolist() == [2]
    assert handle.state.exists() and handle.state.get()[2] == 1  # 12:00 trip open
    assert len(handle.timers) == 1

    # batch 2: ping within the gap extends the open trip; old timer replaced
    b2 = pd.DataFrame({"eventTs": pd.to_datetime(["2024-01-01 12:20"])})
    old_timer = handle.timers[0]
    out2 = list(proc.handleInputRows(key, iter([b2]), None))
    assert out2 == [] and handle.state.get()[2] == 2
    assert len(handle.timers) == 1 and handle.timers[0] > old_timer

    # the expected horizon: trip_end + gap, in epoch ms
    end_us = handle.state.get()[1]
    assert handle.timers[0] == end_us // 1000 + TRIP_GAP_MIN * 60 * 1000

    # timer fires: dangling trip emitted once, state cleared
    out3 = list(proc.handleExpiredTimer(key, None, None))
    assert len(out3) == 1 and out3[0]["n_pings"].tolist() == [2]
    assert not handle.state.exists()
    assert list(proc.handleExpiredTimer(key, None, None)) == []

    # all-null-eventTs invocation with no prior state: no-op, no
    # state.update(None), no timer armed (same regression class the
    # detect_trips stub test pins)
    nulls = pd.DataFrame({"eventTs": pd.to_datetime([None, None])})
    timers_before = list(handle.timers)
    out4 = list(proc.handleInputRows(("mbta", "v2"), iter([nulls]), None))
    assert out4 == [] and not handle.state.exists()
    assert handle.timers == timers_before  # no new timer armed


twstate_available = pytest.mark.skipif(
    importlib.util.find_spec("google") is None
    or importlib.util.find_spec("google.protobuf") is None,
    reason="transformWithStateInPandas needs the protobuf package (its "
    "state-API client speaks protobuf to the JVM state server); not "
    "installed here and uninstallable offline — blocker in SCALE.md",
)


@twstate_available
def test_transform_with_state_trips_match_batch(spark):
    """Live transformWithStateInPandas trip run == batch gaps-and-islands
    (same assertion the applyInPandasWithState test makes)."""
    from real_time_mobility_heatmap_spark.operators.windows import q_vehicle_trips
    from real_time_mobility_heatmap_spark.streaming.assembly import (
        run_streaming_trips_tws,
    )

    sf = "/root/testdata/sf0.001"
    got = sorted(
        (r["provider"], r["vehicleId"], r["trip_no"], r["trip_start"], r["trip_end"], r["n_pings"])
        for r in run_streaming_trips_tws(spark, sf).collect()
    )
    want = sorted(
        (r["provider"], r["vehicleId"], r["trip_no"], r["trip_start"], r["trip_end"], r["n_pings"])
        for r in q_vehicle_trips(spark, sf).collect()
    )
    assert got == want and len(want) > 0


def test_store_time_travel_and_retention(spark, tmp_path):
    """Versioned snapshots: every merge commits MANIFEST-{v}; read(version=v)
    time-travels while retained; GC keeps retain_versions snapshots and
    deletes bucket dirs no retained snapshot references."""
    import os

    import pytest

    from real_time_mobility_heatmap_spark.streaming.sinks import KeyedParquetStore

    store = KeyedParquetStore(
        str(tmp_path / "kv"), key_cols=["k"], newer_col=None,
        n_buckets=4, retain_versions=2,
    )

    def batch(rows):
        return spark.createDataFrame(rows, "k string, v long")

    store.merge(batch([("a", 1), ("b", 1)]))
    store.merge(batch([("a", 2)]))          # updates a, leaves b
    store.merge(batch([("b", 3), ("c", 3)]))

    assert store.versions() == [2, 3]  # retain_versions=2 of [1,2,3]

    def snap(version=None):
        return {r["k"]: r["v"] for r in store.read(spark, version=version).collect()}

    assert snap() == {"a": 2, "b": 3, "c": 3}
    assert snap(version=3) == snap()
    assert snap(version=2) == {"a": 2, "b": 1}      # time travel
    with pytest.raises(FileNotFoundError):
        store.read(spark, version=1)                 # GC'd

    # every dir referenced by retained snapshots must still exist
    for v in store.versions():
        for d in store._bucket_dirs(version=v):
            assert os.path.isdir(d), d
    # vacuum must not remove anything a retained snapshot references
    assert store.vacuum() == []
    assert snap(version=2) == {"a": 2, "b": 1}

    # default retention (1) degenerates to latest-only
    latest_only = KeyedParquetStore(
        str(tmp_path / "kv1"), key_cols=["k"], newer_col=None, n_buckets=4
    )
    latest_only.merge(batch([("x", 1)]))
    latest_only.merge(batch([("x", 2)]))
    assert latest_only.versions() == [2]
    assert {r["k"]: r["v"] for r in latest_only.read(spark).collect()} == {"x": 2}


def test_stateful_trip_detector_matches_batch_twin(spark, dirs):
    """The applyInPandasWithState detector's closed trips must equal the
    oracle-checked batch twin (operators/windows.vehicle_trips) over the
    same pings — the bridge that makes the non-SQL stateful operator's
    semantics hash-verifiable. A far-future sentinel vehicle pushes the
    watermark past every horizon so all real trips close."""
    import datetime as dt

    from real_time_mobility_heatmap_spark.operators.windows import vehicle_trips
    from real_time_mobility_heatmap_spark.schema import PING_SCHEMA
    from real_time_mobility_heatmap_spark.streaming.sources import json_ping_stream
    from real_time_mobility_heatmap_spark.streaming.stateful import (
        vehicle_trips_stream,
    )

    real = [
        _wire("v1", "2024-01-01T10:00:00Z"),
        _wire("v1", "2024-01-01T10:10:00Z"),
        _wire("v1", "2024-01-01T12:00:00Z"),   # >30min gap -> second trip
        _wire("v2", "2024-01-01T10:05:00Z"),
        _wire("v2", "2024-01-01T10:06:00Z"),
    ]
    sentinel = _wire("zz", "2024-01-02T10:00:00Z")
    _write_json(dirs["in"], "b1.json", real)
    _write_json(dirs["in"], "b2.json", [sentinel])

    emitted: list[list] = []
    q = (
        vehicle_trips_stream(json_ping_stream(spark, dirs["in"]))
        .writeStream.outputMode("append")
        .option("checkpointLocation", dirs["ckpt"])
        .foreachBatch(lambda df, _eid: emitted.append(df.collect()))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(
        (r["provider"], r["vehicleId"], r["trip_start"], r["trip_end"], r["n_pings"])
        for batch in emitted for r in batch if r["vehicleId"] != "zz"
    )

    batch_pings = spark.createDataFrame(
        [
            (r["provider"], r["vehicleId"],
             dt.datetime.fromisoformat(r["ts"].replace("Z", "")),
             r["lat"], r["lon"], r["speedKmh"], i, None)
            for i, r in enumerate(real)
        ],
        PING_SCHEMA,
    )
    want = sorted(
        (r["provider"], r["vehicleId"], r["trip_start"], r["trip_end"], r["n_pings"])
        for r in vehicle_trips(batch_pings).collect()
    )
    assert got == want and len(want) == 3


def test_streaming_neardup_invariants_and_determinism(spark):
    from real_time_mobility_heatmap_spark.streaming.neardup import (
        run_streaming_neardup,
    )

    sf = "/root/testdata/sf0.001"
    a = sorted(map(tuple, run_streaming_neardup(spark, sf).collect()))
    assert a, "fixture corpus must contain near-duplicates"
    for new_doc, dup_of, n_matches, best_j in a:
        assert dup_of < new_doc  # keeper is always the earlier doc
        assert n_matches >= 1
        assert 0.5 <= best_j <= 1.0
    # one report row per later document
    assert len({r[0] for r in a}) == len(a)
    # a second full run (fresh temp dirs, fresh stream) is bit-identical —
    # the ingest loop has no hidden arrival-order or scheduling dependence
    b = sorted(map(tuple, run_streaming_neardup(spark, sf).collect()))
    assert a == b


def test_streaming_enriched_matches_batch_totals(spark):
    """Live stream-static enrichment: the tier dimension re-resolves per
    micro-batch and the update-mode aggregate must account for every
    ping exactly once (no join state to leak or drop)."""
    from real_time_mobility_heatmap_spark.sources.tables import pings_from_events
    from real_time_mobility_heatmap_spark.streaming.assembly import (
        run_streaming_enriched,
    )

    sf_dir = "/root/testdata/sf0.001"
    out = run_streaming_enriched(spark, sf_dir).collect()
    assert {r["tier"] for r in out} == {"heavy", "light"}
    n_stream = sum(r["ping_count"] for r in out)
    n_batch = pings_from_events(spark, sf_dir).count()
    assert n_stream == n_batch
    for r in out:
        # fleet_weight aggregates a per-provider constant: divisible
        # consistency — every row's weight >= its ping count (fleet >= 1)
        assert r["fleet_weight"] >= r["ping_count"]


def test_crash_between_external_commit_and_checkpoint_commit(spark, dirs, tmp_path):
    """ST6 failure injection (r8 verdict item #7): the idempotent-sink
    contract exists precisely for the crash window AFTER the external
    store committed a micro-batch and BEFORE Spark committed that
    batch's offsets to the checkpoint. Inject exactly that: the
    foreachBatch writer completes store.merge for epoch 1, then dies.
    On restart from the same checkpoint Spark replays epoch 1, the
    store merges the same batch a second time, and the final keyed
    store must be identical to an uninterrupted run's — row for row,
    version-manifest key count included."""
    from pyspark.sql.streaming import StreamingQueryException

    from real_time_mobility_heatmap_spark.streaming.assembly import (
        windowed_tiles_stream,
    )

    for name, batch in (
        ("b1.json", [_wire("v1", "2024-01-01T10:02:00Z", speed=10.0),
                     _wire("v2", "2024-01-01T10:03:00Z", lat=42.36, speed=20.0)]),
        ("b2.json", [_wire("v1", "2024-01-01T10:04:00Z", speed=30.0),
                     _wire("v3", "2024-01-01T10:06:00Z", lat=42.40, speed=40.0)]),
    ):
        _write_json(dirs["in"], name, batch)

    def run(store, checkpoint, merge_fn):
        pings = json_ping_stream(spark, dirs["in"], max_files_per_trigger=1)
        q = (
            windowed_tiles_stream(pings)
            .writeStream.outputMode("update")
            .option("checkpointLocation", checkpoint)
            .foreachBatch(merge_fn)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # uninterrupted reference run (one file per micro-batch)
    ref_store = tile_store(dirs["store"])
    run(ref_store, dirs["ckpt"], lambda df, eid: ref_store.merge(df, eid))
    want = sorted(map(tuple, ref_store.read(spark).collect()))
    assert want, "reference run produced no state"

    # failure run: crash AFTER epoch 1's external commit, BEFORE Spark
    # records epoch 1 in the checkpoint
    crash_store = tile_store(str(tmp_path / "store_crash"))
    ckpt_crash = str(tmp_path / "ckpt_crash")
    seen: list[int] = []

    def crashing_merge(batch_df, epoch_id):
        crash_store.merge(batch_df, epoch_id)
        seen.append(epoch_id)
        if epoch_id >= 1:
            raise RuntimeError("injected crash post-commit")

    with pytest.raises(StreamingQueryException):
        run(crash_store, ckpt_crash, crashing_merge)
    assert max(seen) >= 1, "crash must happen after at least two epochs"

    # restart from the same checkpoint: epoch 1 replays into the store
    replayed: list[int] = []

    def counting_merge(batch_df, epoch_id):
        crash_store.merge(batch_df, epoch_id)
        replayed.append(epoch_id)

    run(crash_store, ckpt_crash, counting_merge)
    assert replayed, "restart must replay the uncommitted epoch"

    got = sorted(map(tuple, crash_store.read(spark).collect()))
    assert got == want


# ---------------------------------------------------------------------------
# streaming encounters (streaming/encounters.py)
# ---------------------------------------------------------------------------


def _write_events(spark, tmp_path, rows):
    """rows: (event_id, iso_ts, user_id) -> an events.parquet fixture dir."""
    import datetime as dt

    df = spark.createDataFrame(
        [
            (eid, dt.datetime.fromisoformat(ts), uid, "bus", 20.0, None)
            for eid, ts, uid in rows
        ],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    out = str(tmp_path / "events")
    os.makedirs(out, exist_ok=True)
    df.coalesce(1).write.mode("overwrite").parquet(os.path.join(out, "events.parquet"))
    return out


def test_streaming_encounters_recurring_triple_is_not_repaired(spark, tmp_path):
    """Exactly-once across batches: v1 pings the SAME (cell, window) in
    batch 0 and AGAIN in batch 2, after v2 co-located in batch 1. The
    recurring triple must anti-join away — without it, v1's re-ping
    would re-pair against the indexed v2 and inflate n_encounters."""
    from real_time_mobility_heatmap_spark.streaming.encounters import (
        run_streaming_encounters,
    )

    # full range 10:00:00-10:07:00 -> 3 time-split batches of ~141 s;
    # the [10:00, 10:05) window spans all three
    sf_dir = _write_events(
        spark,
        tmp_path,
        [
            (100, "2024-01-01T10:00:30", 1),  # batch 0: v1 first
            (100, "2024-01-01T10:03:00", 2),  # batch 1: v2 -> pair emitted
            (100, "2024-01-01T10:04:30", 1),  # batch 2: v1 AGAIN, same window
            (100, "2024-01-01T10:07:00", 3),  # far vehicle, later window
        ],
    )
    out = run_streaming_encounters(spark, sf_dir)
    rows = {(r["vehicle_a"], r["vehicle_b"]): r for r in out.collect()}
    assert set(rows) == {("1", "2")}
    assert rows[("1", "2")]["n_encounters"] == 1


def test_streaming_encounters_matches_uncapped_batch_twin(spark, tmp_path):
    """The streamed report over the sf0.001 fixture must equal the
    UNCAPPED batch formulation computed directly in Spark."""
    from real_time_mobility_heatmap_spark.operators.flows import ENC_WINDOW_MIN
    from real_time_mobility_heatmap_spark.operators.tiles import snap_pings
    from real_time_mobility_heatmap_spark.sources.tables import pings_from_events
    from real_time_mobility_heatmap_spark.streaming.encounters import (
        run_streaming_encounters,
    )

    streamed = {
        (r["vehicle_a"], r["vehicle_b"]): (r["n_encounters"], r["n_cells"], r["first_seen"])
        for r in run_streaming_encounters(spark, "/root/testdata/sf0.001").collect()
    }
    tri = (
        snap_pings(pings_from_events(spark, "/root/testdata/sf0.001"))
        .select(
            "cell_id",
            F.window("eventTs", f"{ENC_WINDOW_MIN} minutes").start.alias("w_start"),
            "vehicleId",
        )
        .distinct()
    )
    a = tri.select("cell_id", "w_start", F.col("vehicleId").alias("v1"))
    b = tri.select("cell_id", "w_start", F.col("vehicleId").alias("v2"))
    batch = {
        (r["vehicle_a"], r["vehicle_b"]): (r["n_encounters"], r["n_cells"], r["first_seen"])
        for r in (
            a.join(b, ["cell_id", "w_start"])
            .filter(F.col("v1") < F.col("v2"))
            .select(
                F.col("v1").alias("vehicle_a"),
                F.col("v2").alias("vehicle_b"),
                "cell_id",
                "w_start",
            )
            .groupBy("vehicle_a", "vehicle_b")
            .agg(
                F.count(F.lit(1)).alias("n_encounters"),
                F.count_distinct("cell_id").alias("n_cells"),
                F.min("w_start").alias("first_seen"),
            )
            .collect()
        )
    }
    assert streamed == batch


def test_streaming_encounters_eviction_preserves_result(spark, tmp_path):
    """With retention far smaller than the event span, old index DAY
    partitions are evicted between batches — but 5-minute co-location
    windows never span days, so the report is unchanged."""
    from real_time_mobility_heatmap_spark.streaming.encounters import (
        run_streaming_encounters,
    )

    sf_dir = _write_events(
        spark,
        tmp_path,
        [
            (100, "2024-01-01T10:00:00", 1),
            (100, "2024-01-01T10:02:00", 2),  # day-1 pair
            (100, "2024-01-10T10:00:00", 3),
            (100, "2024-01-10T10:02:00", 4),  # day-10 pair, after eviction
        ],
    )
    out = run_streaming_encounters(spark, sf_dir, retention_days=1)
    pairs = {(r["vehicle_a"], r["vehicle_b"]) for r in out.collect()}
    assert pairs == {("1", "2"), ("3", "4")}


def test_streaming_encounters_crash_between_appends_replay_is_absorbed(spark, tmp_path):
    """Crash injected BETWEEN the pairs append and the index append,
    then the batch replays in full (what the checkpoint would do): the
    duplicated pair rows must be absorbed by the final distinct, and
    the replayed index append must not double-pair anything later."""
    import datetime as dt

    from pyspark.sql import functions as SF

    from real_time_mobility_heatmap_spark.operators.flows import ENC_WINDOW_MIN
    from real_time_mobility_heatmap_spark.schema import PING_SCHEMA
    from real_time_mobility_heatmap_spark.streaming.encounters import (
        ingest_encounter_batch,
    )

    def ping(vid, ts, eid):
        from pyspark.sql import Row

        return Row(
            provider="bus", vehicleId=vid, eventTs=dt.datetime.fromisoformat(ts),
            lat=42.35, lon=-71.06, speedKmh=20.0, event_id=eid, props=None,
        )

    idx = str(tmp_path / "idx")
    out = str(tmp_path / "out")
    b1 = spark.createDataFrame(
        [ping("v1", "2024-01-01T10:00:00", 1), ping("v2", "2024-01-01T10:02:00", 2)],
        PING_SCHEMA,
    )
    b2 = spark.createDataFrame(
        [ping("v3", "2024-01-01T10:03:00", 3)], PING_SCHEMA
    )
    ingest_encounter_batch(b1, idx, out)
    with pytest.raises(RuntimeError, match="injected crash"):
        ingest_encounter_batch(b2, idx, out, crash_before_index_append=True)
    ingest_encounter_batch(b2, idx, out)  # checkpoint replay after restart
    report = (
        spark.read.parquet(out)
        .distinct()
        .groupBy("vehicle_a", "vehicle_b")
        .agg(SF.count(SF.lit(1)).alias("n_encounters"))
    )
    got = {(r["vehicle_a"], r["vehicle_b"]): r["n_encounters"] for r in report.collect()}
    assert got == {("v1", "v2"): 1, ("v1", "v3"): 1, ("v2", "v3"): 1}


def test_streaming_encounters_crash_at_deletion_boundary(spark, tmp_path):
    """Crash at the retention-DELETION boundary (r10 verdict item #4):
    a batch commits fully — pairs append, index append, horizon write,
    and the retention partition DELETE — but the process dies before
    the streaming checkpoint records the batch, so on restart the SAME
    batch replays against the post-deletion index. Exactly-once must
    survive: the replayed triples are already indexed (anti-join
    empties, so the RAW pair log — no distinct — stays single-copy),
    and a later too-late ping inside the evicted window is dropped by
    the horizon filter instead of re-creating the deleted partition.
    Reference sink contract ST6 (heatmap_stream.py:219-228)."""
    import datetime as dt

    from pyspark.sql import Row
    from pyspark.sql import functions as SF

    from real_time_mobility_heatmap_spark.schema import PING_SCHEMA
    from real_time_mobility_heatmap_spark.streaming.encounters import (
        ingest_encounter_batch,
    )

    def ping(vid, ts, eid):
        return Row(
            provider="bus", vehicleId=vid, eventTs=dt.datetime.fromisoformat(ts),
            lat=42.35, lon=-71.06, speedKmh=20.0, event_id=eid, props=None,
        )

    idx = str(tmp_path / "idx")
    out = str(tmp_path / "out")
    b1 = spark.createDataFrame(
        [ping("v1", "2024-01-01T10:00:00", 1), ping("v2", "2024-01-01T10:02:00", 2)],
        PING_SCHEMA,
    )
    b2 = spark.createDataFrame(
        [ping("v3", "2024-01-10T10:00:00", 3), ping("v4", "2024-01-10T10:02:00", 4)],
        PING_SCHEMA,
    )
    ingest_encounter_batch(b1, idx, out, retention_days=1)
    # b2 commits IN FULL: its ingest advances the horizon to day 10 and
    # evicts b1's day-01 partition (retention 1 day)...
    ingest_encounter_batch(b2, idx, out, retention_days=1)
    assert not (tmp_path / "idx" / "day=2024-01-01").exists()
    # ...then the checkpoint is lost and the batch replays verbatim
    ingest_encounter_batch(b2, idx, out, retention_days=1)
    # a straggler inside the evicted window arrives after the restart
    late = spark.createDataFrame(
        [ping("v9", "2024-01-01T10:01:00", 5)], PING_SCHEMA
    )
    ingest_encounter_batch(late, idx, out, retention_days=1)
    assert not (tmp_path / "idx" / "day=2024-01-01").exists()

    raw = (
        spark.read.parquet(out)  # no distinct: the log itself must be 1-copy
        .groupBy("vehicle_a", "vehicle_b")
        .agg(SF.count(SF.lit(1)).alias("n"))
    )
    got = {(r["vehicle_a"], r["vehicle_b"]): r["n"] for r in raw.collect()}
    assert got == {("v1", "v2"): 1, ("v3", "v4"): 1}


def test_live_store_k_window_merge_matches_batch_recent_tiles(spark):
    """README-roadmap live path: run the real streaming tile pipeline to
    a store, then serve the k-window merged heatmap FROM THE STORE's
    int64-cent partials — and require it to hash-equal the batch
    ``recent_tiles_merged`` over the same events. Exactness comes from
    merging exact integer partials, never re-weighting rounded
    per-window averages (the round-2 drift class)."""
    from real_time_mobility_heatmap_spark.operators.latest import (
        MERGE_WINDOWS,
        recent_tiles_merged,
    )
    from real_time_mobility_heatmap_spark.sources.tables import pings_from_events
    from real_time_mobility_heatmap_spark.streaming.assembly import (
        run_streaming_tiles_merged,
    )

    sf = "/root/testdata/sf0.001"
    live = {
        r["cell_id"]: r
        for r in run_streaming_tiles_merged(spark, sf, k=MERGE_WINDOWS).collect()
    }
    batch = {
        r["cell_id"]: r
        for r in recent_tiles_merged(pings_from_events(spark, sf)).collect()
    }
    assert live and set(live) == set(batch)
    for c in batch:
        for col in ("ping_count", "avg_speed_kmh", "n_windows",
                    "merge_start", "merge_end"):
            assert live[c][col] == batch[c][col], (c, col, live[c], batch[c])


def test_store_k_window_merge_of_empty_snapshot_is_empty(spark):
    """Totality: merging an EMPTY tile-store snapshot returns an empty
    relation with the merge schema (no null-bound crash — the max() over
    the empty snap is NULL and the >= filter drops everything)."""
    from real_time_mobility_heatmap_spark.streaming.assembly import (
        merge_recent_store_tiles,
        windowed_tiles_stream,
    )
    from real_time_mobility_heatmap_spark.streaming.sources import (
        pings_stream_from_events,
    )

    schema = windowed_tiles_stream(
        pings_stream_from_events(spark, "/root/testdata/sf0.001")
    ).schema
    empty = spark.createDataFrame([], schema)
    out = merge_recent_store_tiles(empty)
    assert out.count() == 0
    assert {"cell_id", "ping_count", "avg_speed_kmh", "n_windows",
            "merge_start", "merge_end"} <= set(out.columns)
