from __future__ import annotations

import os

import pytest

from real_time_mobility_heatmap_spark.producers.mobility_producer import (
    CollectingSink,
    JsonFileSink,
    normalize_record,
    run_producer,
)


class FakeTransport:
    def __init__(self, batches):
        self.batches = list(batches)
        self.calls = 0

    def fetch(self):
        batch = self.batches[self.calls % len(self.batches)]
        self.calls += 1
        if batch == "error":
            raise ConnectionError("upstream down")
        return batch


RAW_OK = {"id": "v1", "label": "BUS_7", "lat": 42.3, "lon": -71.1,
          "speed_mps": 10.0, "bearing": 90, "ts": "2024-01-01T10:00:00Z"}


def test_normalize_parity_rules():
    msg = normalize_record(RAW_OK, "mbta")
    assert msg["vehicleId"] == "BUS_7"            # label wins over id
    assert msg["speedKmh"] == 36.0                # m/s -> km/h
    assert msg["ts"] == "2024-01-01T10:00:00Z"

    assert normalize_record({"id": "x", "lat": None, "lon": -71.0}, "m") is None  # no coords

    # id fallback chain + ts fallback to now-UTC when not Z-suffixed
    msg2 = normalize_record(
        {"id": "v9", "lat": 1.0, "lon": 2.0, "ts": "not-a-ts"},
        "mbta",
        now_iso=lambda: "2024-02-02T00:00:00Z",
    )
    assert msg2["vehicleId"] == "v9" and msg2["ts"] == "2024-02-02T00:00:00Z"
    assert msg2["speedKmh"] is None

    msg3 = normalize_record({"lat": 1.0, "lon": 2.0}, "mbta", now_iso=lambda: "2024-01-01T00:00:00Z")
    assert msg3["vehicleId"] == "unknown"


def test_producer_loop_survives_transport_errors():
    transport = FakeTransport([[RAW_OK], "error", [RAW_OK, {"id": "n", "lat": None, "lon": None}]])
    sink = CollectingSink()
    sleeps = []
    stats = run_producer(
        transport, sink, "mbta", poll_interval_s=3.0, max_polls=3, sleep=sleeps.append
    )
    assert stats == {"polls": 3, "sent": 2, "skipped": 1, "errors": 1}
    assert sink.flushes == 2                      # no flush on the failed poll
    assert all(k == "BUS_7" for k, _ in sink.messages)
    assert 5.0 in sleeps                          # backoff after the error


def test_producer_to_streaming_engine_end_to_end(spark, tmp_path):
    """Producer spool -> JSON file topic -> streaming tiles query: the full
    ingest path without a broker."""
    from real_time_mobility_heatmap_spark.streaming.assembly import start_tiles_query
    from real_time_mobility_heatmap_spark.streaming.sinks import tile_store
    from real_time_mobility_heatmap_spark.streaming.sources import json_ping_stream

    spool = str(tmp_path / "topic")
    transport = FakeTransport([[RAW_OK, dict(RAW_OK, label="BUS_8", speed_mps=20.0)]])
    run_producer(transport, JsonFileSink(spool), "mbta", max_polls=1, sleep=lambda s: None)

    store = tile_store(str(tmp_path / "store"))
    q = start_tiles_query(json_ping_stream(spark, spool), store, str(tmp_path / "ckpt"))
    q.awaitTermination()
    tiles = store.read(spark).collect()
    assert len(tiles) == 1
    assert tiles[0]["ping_count"] == 2
    assert tiles[0]["avg_speed_kmh"] == 54.0      # (36 + 72) / 2


def test_spool_leftover_temp_file_is_never_read(spark, tmp_path, monkeypatch):
    """A crash between the spool write and its rename leaves a temp file;
    its name is hidden, so the stream drains without error and without
    its rows."""
    from real_time_mobility_heatmap_spark.streaming.assembly import start_tiles_query
    from real_time_mobility_heatmap_spark.streaming.sinks import tile_store
    from real_time_mobility_heatmap_spark.streaming.sources import json_ping_stream

    spool = str(tmp_path / "topic")
    sink = JsonFileSink(spool)
    run_producer(FakeTransport([[RAW_OK]]), sink, "mbta", max_polls=1, sleep=lambda s: None)

    def crash(src, dst):
        raise OSError("crashed before rename")

    with monkeypatch.context() as m:
        m.setattr(os, "rename", crash)
        sink.send("BUS_8", normalize_record(dict(RAW_OK, label="BUS_8"), "mbta"))
        with pytest.raises(OSError):
            sink.flush()
    assert sorted(os.listdir(spool)) == [".batch-000001.json.tmp", "batch-000000.json"]

    store = tile_store(str(tmp_path / "store"))
    q = start_tiles_query(json_ping_stream(spark, spool), store, str(tmp_path / "ckpt"))
    q.awaitTermination()
    assert [r["ping_count"] for r in store.read(spark).collect()] == [1]
