"""Seeded input generator for the product-path benchmark.

Everything the engine sees is produced here from one integer seed, in this
one process:

* raw MBTA-shaped vehicle records, grouped into producer polls, which the
  benchmark replays through ``producers.mobility_producer.run_producer``
  into a ``JsonFileSink`` spool (one JSON-lines file per poll);
* the three fixture tables (``events``, ``documents``, ``embeddings``) the
  heavy registry queries read, written as parquet in the fixture schema.

Event time is chosen so that no ping is ambiguous under the tiles query's
10-minute watermark. Whatever micro-batch lag Spark applies to the
watermark, a ping either survives under every candidate watermark or is
dropped under every one, so the plain-Python reference in ``reference.py``
reproduces the drops exactly.
"""

from __future__ import annotations

import calendar
import functools
import json
import os
import time
from dataclasses import dataclass

import numpy as np

WATERMARK_S = 600  # EngineConfig.watermark ("10 minutes")
WINDOW_S = 300  # EngineConfig.tile_minutes
BASE_EPOCH = calendar.timegm((2025, 1, 6, 7, 0, 0))

# metro-sized bounding box: ~30 x 30 grid cells at the engine's 1/20 degree
LAT0, LAT1 = 41.6, 43.1
LON0, LON1 = -72.1, -70.6


@dataclass(frozen=True)
class StreamShape:
    """Traffic dimensions of one generated ping stream."""

    files: int
    pings_per_file: int
    vehicles: int
    zipf_s: float  # vehicle-key skew (Zipf exponent)
    span_s: int  # event-time seconds one file covers
    out_of_order: float  # share shifted back, still inside the watermark
    beyond_watermark: float  # share so late every watermark drops them
    no_coords: float  # raw records without coordinates (producer skips)


@functools.lru_cache(maxsize=None)
def iso(epoch_s: int) -> str:
    return time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime(epoch_s))


def _zipf_keys(rng: np.random.Generator, n: int, vehicles: int, s: float) -> np.ndarray:
    ranks = np.arange(1, vehicles + 1, dtype=np.float64)
    p = ranks ** (-s)
    p /= p.sum()
    return rng.choice(vehicles, size=n, p=p)


def window_end(ts: int) -> int:
    return ts - ts % WINDOW_S + WINDOW_S


def ping_polls(seed: int, shape: StreamShape) -> list[list[dict]]:
    """Raw upstream records, one list per producer poll.

    File ``k`` covers event time ``[start_k, start_k + span_s)``. Its late
    pings are placed against the two candidate watermarks Spark may apply
    to that file: ``hi`` (max event time through file k-1, minus 10 min)
    and ``lo`` (the same through file k-2). Out-of-order pings keep their
    window end above ``hi``; beyond-watermark pings put it at or below
    ``lo``. A file with no ``lo`` yet (k < 2) gets no beyond pings.
    """
    rng = np.random.default_rng(seed)
    home_lat = rng.uniform(LAT0, LAT1, shape.vehicles)
    home_lon = rng.uniform(LON0, LON1, shape.vehicles)
    polls: list[list[dict]] = []
    max_through: list[int] = []  # max event time through file k
    for k in range(shape.files):
        start = BASE_EPOCH + k * shape.span_s
        n = shape.pings_per_file
        veh = _zipf_keys(rng, n, shape.vehicles, shape.zipf_s)
        ts = start + rng.integers(0, shape.span_s, n)
        kind = rng.random(n)
        late = kind < shape.out_of_order
        beyond = (kind >= shape.out_of_order) & (
            kind < shape.out_of_order + shape.beyond_watermark
        )
        hi = max_through[k - 1] - WATERMARK_S if k >= 1 else None
        lo = max_through[k - 2] - WATERMARK_S if k >= 2 else None
        if hi is not None:
            # out of order but inside the watermark: window end > hi
            floor_ts = hi - hi % WINDOW_S + WINDOW_S  # first ts whose window ends > hi
            ts = np.where(late, start - 1 - rng.integers(0, start - floor_ts, n), ts)
        if lo is not None:
            # beyond the watermark: window end <= lo
            last_ok = lo - lo % WINDOW_S - 1  # newest ts whose window ends <= lo
            ts = np.where(beyond, last_ok - rng.integers(0, 1800, n), ts)
        lat = np.round(home_lat[veh] + rng.normal(0, 0.01, n), 5)
        lon = np.round(home_lon[veh] + rng.normal(0, 0.01, n), 5)
        speed = np.round(rng.gamma(2.0, 4.0, n), 2)
        bearing = rng.integers(0, 360, n)
        drop = rng.random(n) < shape.no_coords
        records = []
        for i in range(n):
            v = int(veh[i])
            rec = {
                "id": f"y{v:06d}",
                "label": str(1000 + v),
                "lat": None if drop[i] else float(lat[i]),
                "lon": None if drop[i] else float(lon[i]),
                "speed_mps": float(speed[i]),
                "bearing": int(bearing[i]),
                "ts": iso(int(ts[i])),
            }
            records.append(rec)
        kept = ts[~drop]
        prev = max_through[-1] if max_through else 0
        max_through.append(max(prev, int(kept.max())) if len(kept) else prev)
        polls.append(records)
    return polls


# --- fixture tables for the registry queries --------------------------------

VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch line "
    "sort window spark order data column join small big customer query filter "
    "group vector stream"
).split()
LANGS = ("en", "de", "fr", "es", "zh")
LANG_P = (0.45, 0.15, 0.13, 0.14, 0.13)
EVENT_TYPES = ("signup", "click", "error", "view", "purchase")


@dataclass(frozen=True)
class TableShape:
    events: int
    users: int
    documents: int
    near_dup_share: float
    embeddings: int
    labels: int
    dim: int = 64


def write_tables(seed: int, shape: TableShape, out_dir: str) -> None:
    """Write events/documents/embeddings parquet in the fixture schema."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed + 1)
    os.makedirs(out_dir, exist_ok=True)

    n = shape.events
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86400 * 1_000_000
    offs = np.sort(rng.integers(0, span_us, n))
    events = pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(t0 + offs.astype("timedelta64[us]"), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, shape.users, n).astype(np.int64)),
            "event_type": pa.array(
                [EVENT_TYPES[i] for i in rng.integers(0, len(EVENT_TYPES), n)]
            ),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array([f'{{"k": {int(k)}}}' for k in rng.integers(0, 100, n)]),
        }
    )
    pq.write_table(events, os.path.join(out_dir, "events.parquet"))

    texts: list[str] = []
    for i in range(shape.documents):
        if texts and rng.random() < shape.near_dup_share:
            words = texts[int(rng.integers(0, len(texts)))].split()
            for _ in range(int(rng.integers(1, 4))):
                words[int(rng.integers(0, len(words)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        else:
            words = [VOCAB[j] for j in rng.integers(0, len(VOCAB), int(rng.integers(8, 90)))]
        texts.append(" ".join(words))
    documents = pa.table(
        {
            "doc_id": pa.array(np.arange(shape.documents, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array([LANGS[i] for i in rng.choice(len(LANGS), shape.documents, p=LANG_P)]),
            "source": pa.array([f"src{int(s)}" for s in rng.integers(0, 20, shape.documents)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )
    pq.write_table(documents, os.path.join(out_dir, "documents.parquet"))

    centers = rng.normal(0, 1, (shape.labels, shape.dim))
    labels = rng.integers(0, shape.labels, shape.embeddings)
    vecs = centers[labels] + rng.normal(0, 0.6, (shape.embeddings, shape.dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    embeddings = pa.table(
        {
            "vec_id": pa.array(np.arange(shape.embeddings, dtype=np.int64)),
            "embedding": pa.array(
                [row.astype(np.float32) for row in vecs], pa.list_(pa.float32())
            ),
            "label": pa.array(labels.astype(np.int32)),
        }
    )
    pq.write_table(embeddings, os.path.join(out_dir, "embeddings.parquet"))


def spool_fingerprint(directory: str) -> str:
    """sha256 over the spool's file names and bytes (determinism checks)."""
    import hashlib

    h = hashlib.sha256()
    for name in sorted(os.listdir(directory)):
        h.update(name.encode())
        with open(os.path.join(directory, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def read_spool(path: str) -> list[dict]:
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


@functools.lru_cache(maxsize=None)  # a file holds few distinct timestamps
def parse_iso(s: str) -> int:
    return calendar.timegm(time.strptime(s, "%Y-%m-%dT%H:%M:%SZ"))

