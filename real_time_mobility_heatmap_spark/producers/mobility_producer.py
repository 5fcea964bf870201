"""Ingest producer: poll an upstream positions API, normalize, publish
keyed JSON (reference S2/S3: mbta_to_kafka.py — poll/retry/normalize/send).

Engine-side redesign: transport and sink are protocols, so the same loop
serves MBTA, OpenSky (the reference documents both against one message
contract, README.md:111-117) or a replay file, and publishes to Kafka, a
file spool, or an in-memory list in tests. Heavy deps (requests, kafka)
are import-gated — the producer is deliberately outside Spark (the stream
engine consumes whatever lands on the topic).

Normalization parity with mbta_to_kafka.py:60-74:
  - records without coordinates are skipped;
  - speed arrives in m/s and is published in km/h;
  - vehicle id falls back label -> id -> "unknown";
  - timestamps not ending in 'Z' are replaced with poll-time UTC.
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Callable, Iterable
from dataclasses import dataclass, field
from datetime import datetime, timezone
from typing import Protocol


class Transport(Protocol):
    def fetch(self) -> Iterable[dict]: ...


class Sink(Protocol):
    def send(self, key: str, value: dict) -> None: ...
    def flush(self) -> None: ...


def _utcnow_iso() -> str:
    return datetime.now(timezone.utc).strftime("%Y-%m-%dT%H:%M:%SZ")


def normalize_record(raw: dict, provider: str, now_iso: Callable[[], str] = _utcnow_iso) -> dict | None:
    """One upstream record -> wire message (schema.WIRE_SCHEMA) or None."""
    lat, lon = raw.get("lat"), raw.get("lon")
    if lat is None or lon is None:
        return None
    speed_mps = raw.get("speed_mps")
    ts = raw.get("ts")
    return {
        "provider": provider,
        "vehicleId": str(raw.get("label") or raw.get("id") or "unknown"),
        "lat": float(lat),
        "lon": float(lon),
        "speedKmh": round(speed_mps * 3.6, 6) if speed_mps is not None else None,
        "bearing": raw.get("bearing"),
        "accuracyM": raw.get("accuracy_m"),
        "ts": ts if isinstance(ts, str) and ts.endswith("Z") else now_iso(),
    }


@dataclass
class CollectingSink:
    """Test sink: keeps (key, value) pairs in memory."""

    messages: list[tuple[str, dict]] = field(default_factory=list)
    flushes: int = 0

    def send(self, key: str, value: dict) -> None:
        self.messages.append((key, value))

    def flush(self) -> None:
        self.flushes += 1


@dataclass
class JsonFileSink:
    """Spools wire messages as JSON-lines files — one file per flush — in
    the exact format streaming/sources.json_ping_stream consumes, closing
    the loop producer -> file topic -> streaming engine without a broker."""

    directory: str
    _buffer: list = field(default_factory=list)
    _n: int = 0

    def send(self, key: str, value: dict) -> None:
        self._buffer.append(value)

    def flush(self) -> None:
        if not self._buffer:
            return
        os.makedirs(self.directory, exist_ok=True)
        name = f"batch-{self._n:06d}.json"
        # the temp name is hidden ('.'-prefixed): Spark's file source lists
        # the spool while we write and skips only '.'/'_' names
        tmp = os.path.join(self.directory, f".{name}.tmp")
        with open(tmp, "w") as f:
            for v in self._buffer:
                f.write(json.dumps(v) + "\n")
        os.rename(tmp, os.path.join(self.directory, name))  # files appear atomically to the stream
        self._buffer.clear()
        self._n += 1


def kafka_sink(bootstrap_servers: str):  # pragma: no cover - needs a broker
    """Kafka producer sink (reference mbta_to_kafka.py:33-39): JSON value,
    UTF-8 vehicleId key for per-vehicle partition ordering."""
    try:
        from kafka import KafkaProducer
    except ImportError as e:
        raise ImportError("kafka-python not installed; use JsonFileSink") from e

    producer = KafkaProducer(
        bootstrap_servers=bootstrap_servers,
        key_serializer=lambda k: k.encode("utf-8"),
        value_serializer=lambda v: json.dumps(v).encode("utf-8"),
    )

    class _KafkaSink:
        def __init__(self, topic: str):
            self.topic = topic

        def send(self, key: str, value: dict) -> None:
            producer.send(self.topic, key=key, value=value)

        def flush(self) -> None:
            producer.flush()

    return _KafkaSink


def http_polling_transport(url: str, params: dict | None = None):  # pragma: no cover
    """HTTP GET transport with bounded retry/backoff on 429/5xx
    (reference mbta_to_kafka.py:22-27, 41-48)."""
    try:
        import requests
        from requests.adapters import HTTPAdapter
        from urllib3.util.retry import Retry
    except ImportError as e:
        raise ImportError("requests not installed; supply a custom Transport") from e

    session = requests.Session()
    retry = Retry(total=3, backoff_factor=0.5, status_forcelist=(429, 500, 502, 503, 504))
    session.mount("https://", HTTPAdapter(max_retries=retry))
    session.mount("http://", HTTPAdapter(max_retries=retry))

    class _HttpTransport:
        def fetch(self) -> Iterable[dict]:
            resp = session.get(url, params=params or {}, timeout=10)
            resp.raise_for_status()
            return resp.json().get("data", [])

    return _HttpTransport()


def run_producer(
    transport: Transport,
    sink: Sink,
    provider: str,
    poll_interval_s: float = 3.0,
    max_polls: int | None = None,
    sleep: Callable[[float], None] = time.sleep,
    backoff_s: float = 5.0,
) -> dict:
    """Poll -> normalize -> publish loop with an error ladder: transport
    errors back off and continue; the loop never dies on a bad poll
    (reference mbta_to_kafka.py:84-97). Returns counters for observability
    (the reference logs 'Fetched N / Sent N' heartbeats)."""
    polls = sent = skipped = errors = 0
    while max_polls is None or polls < max_polls:
        polls += 1
        try:
            records = list(transport.fetch())
        except Exception:
            errors += 1
            sleep(backoff_s)
            continue
        for raw in records:
            msg = normalize_record(raw, provider)
            if msg is None:
                skipped += 1
                continue
            sink.send(msg["vehicleId"], msg)
            sent += 1
        sink.flush()
        if max_polls is None or polls < max_polls:
            sleep(poll_interval_s)
    return {"polls": polls, "sent": sent, "skipped": skipped, "errors": errors}
