"""Plain-Python reference for the product path's outputs.

Recomputes, from the spooled JSON-lines files alone, what the engine must
hold after draining them one file per micro-batch:

* the tile store: per (5-minute window, grid cell) exact int64 cent sums,
  with the 10-minute watermark applied file by file;
* the positions store: per-batch argmax on (eventTs, lat, lon, speedKmh),
  merged across batches with the store's stored-row-wins-on-ties rule;
* the three capped GeoJSON payloads the HTTP shim serves.

Arithmetic follows the engine's fixed-point fragments operation for
operation (IEEE doubles on both sides), so values compare exactly.
"""

from __future__ import annotations

import math

from gen import WATERMARK_S, WINDOW_S, iso, parse_iso, read_spool

CELL_SCALE = 20
MERGE_WINDOWS = 3


def _units(x: float | None, scale: float) -> int | None:
    if x is None:
        return None
    u = x * scale + 0.5
    return math.floor(u) if abs(u) < 9.2e18 else None


def _cell(lat: float, lon: float) -> str:
    return f"{math.floor(lat * CELL_SCALE)}:{math.floor(lon * CELL_SCALE)}"


def _valid(p: dict) -> bool:
    return (
        p.get("provider") is not None
        and p.get("vehicleId") is not None
        and p.get("ts") is not None
        and p.get("lat") is not None
        and p.get("lon") is not None
        and -90 <= p["lat"] <= 90
        and -180 <= p["lon"] <= 180
    )


class Reference:
    """Feed files in arrival order; read the expected stores at any point."""

    def __init__(self, city: str, grid_name: str):
        self.city, self.grid = city, grid_name
        self.tiles: dict[tuple[int, str], list] = {}
        self.positions: dict[str, tuple] = {}
        self.max_ts: int | None = None
        self.pings = 0
        self.dropped_late = 0

    def add_file(self, path: str) -> None:
        rows = [p for p in read_spool(path) if _valid(p)]
        self.pings += len(rows)
        wm = None if self.max_ts is None else self.max_ts - WATERMARK_S
        batch_max: dict[str, tuple] = {}
        file_max = self.max_ts
        for p in rows:
            ts = parse_iso(p["ts"])
            file_max = ts if file_max is None else max(file_max, ts)
            key = (ts, p["lat"], p["lon"], p["speedKmh"])
            pid = f"{p['provider']}|{p['vehicleId']}"
            if pid not in batch_max or key > batch_max[pid][0]:
                batch_max[pid] = (key, p["provider"], p["vehicleId"])
            ws = ts - ts % WINDOW_S
            if wm is not None and ws + WINDOW_S <= wm:
                self.dropped_late += 1
                continue
            agg = self.tiles.setdefault((ws, _cell(p["lat"], p["lon"])), [0, 0, 0, 0, 0, 0, 0])
            agg[0] += 1
            for i, (col, scale) in enumerate((("speedKmh", 100.0), ("lon", 100.0), ("lat", 100.0))):
                u = _units(p[col], scale)
                if u is not None:
                    agg[1 + 2 * i] += u
                if p[col] is not None:
                    agg[2 + 2 * i] += 1
        self.max_ts = file_max
        for pid, (key, provider, vehicle) in batch_max.items():
            stored = self.positions.get(pid)
            if stored is None or key[0] > stored[2]:
                self.positions[pid] = (provider, vehicle, key[0], key[2], key[1])

    # -- expected stores ------------------------------------------------------

    def tile_rows(self) -> dict[str, tuple]:
        out = {}
        for (ws, cell), a in self.tiles.items():
            tid = f"{self.city}|{self.grid}|{cell}|{iso(ws)}"
            out[tid] = (
                cell,
                ws,
                a[0],
                float(a[1]) / 100 / a[2] if a[2] else None,
                float(a[3]) / 100 / a[4] if a[4] else None,
                float(a[5]) / 100 / a[6] if a[6] else None,
                a[1],
                a[2],
            )
        return out

    def position_rows(self) -> dict[str, tuple]:
        return dict(self.positions)

    # -- expected payloads ----------------------------------------------------

    def tiles_latest(self, cap: int) -> list[tuple[str, int]]:
        rows = self.tile_rows()
        newest = max(r[1] for r in rows.values())
        top = [(-r[2], tid) for tid, r in rows.items() if r[1] == newest]
        return [(tid, -neg) for neg, tid in sorted(top)[:cap]]

    def positions_latest(self, cap: int) -> list[tuple[str, str]]:
        top = sorted((-ts, pid) for pid, (_, _, ts, _, _) in self.positions.items())
        return [(pid, iso(-neg)) for neg, pid in top[:cap]]

    def tiles_range(self, cap: int) -> list[tuple[str, int, float | None]]:
        newest = max(ws for ws, _ in self.tiles)
        bound = newest - (MERGE_WINDOWS - 1) * WINDOW_S
        merged: dict[str, list[int]] = {}
        for (ws, cell), a in self.tiles.items():
            if ws >= bound:
                m = merged.setdefault(cell, [0, 0, 0])
                m[0] += a[0]
                m[1] += a[1]
                m[2] += a[2]
        out = []
        for cell, (count, cents, n_speed) in merged.items():
            avg = None
            if n_speed:
                x = float(cents * 10000) / 1e6 / n_speed
                u = x * 1e6 + 0.5
                avg = math.floor(u) / 1e6 if abs(u) < 9.2e18 else x
            out.append((-count, cell, avg))
        return [(cell, -neg, avg) for neg, cell, avg in sorted(out)[:cap]]


def tile_row_mismatches(expected: dict, got: dict, limit: int = 3) -> list[str]:
    bad = [f"tile count expected={len(expected)} got={len(got)}"] if len(expected) != len(got) else []
    for tid, row in expected.items():
        if got.get(tid) != row:
            bad.append(f"tile {tid}: expected {row} got {got.get(tid)}")
            if len(bad) >= limit:
                break
    return bad


def position_mismatches(expected: dict, got: dict, limit: int = 3) -> list[str]:
    bad = [f"position count expected={len(expected)} got={len(got)}"] if len(expected) != len(got) else []
    for pid, row in expected.items():
        if got.get(pid) != row:
            bad.append(f"position {pid}: expected {row} got {got.get(pid)}")
            if len(bad) >= limit:
                break
    return bad
