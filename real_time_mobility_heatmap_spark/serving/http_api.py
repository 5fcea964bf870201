"""Minimal HTTP serving shim over the terminal projections (reference
app.py:45-88).

The reference serves MongoDB documents through Flask. The engine's
analog keeps serving OUT of the Spark hot path: the streaming job
materializes tiles/positions into a keyed store (streaming/sinks.py), a
read-side job shapes them with the terminal projections
(serving/geojson.py), and this shim serves the resulting GeoJSON from an
in-memory snapshot — the same two endpoints as the reference:

  GET /api/tiles/latest      -> FeatureCollection of hex tiles of the
                                newest window (two-phase latest snapshot,
                                app.py:45-69)
  GET /api/positions/latest  -> FeatureCollection of vehicle Points
                                (app.py:71-88)
  GET /api/tiles/range       -> FeatureCollection of the last-k-windows
                                MERGED heatmap (reference roadmap
                                README.md:228, ?minutes honored at
                                refresh time; exact int64-partial merge
                                via recent_tiles_merged)

Plus the reference's single-file Leaflet UI (app.py:92-189):

  GET /                      -> HTML map page that polls both endpoints
                                on a fixed cadence and renders tiles
                                colored by the same count ramp as the
                                color-bucketing operator (app.py:137-144)

stdlib ``http.server`` only (Flask is not available in this container,
and a serving layer should not add engine dependencies). The snapshot is
refreshed by calling ``refresh()`` — in production a scheduler would do
this at the streaming trigger cadence; requests never touch Spark.
"""

from __future__ import annotations

import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import DEFAULT, EngineConfig
from .geojson import tile_feature_collection
from ..functions.grid import cell_ring
from ..operators.latest import MERGE_WINDOWS, latest_positions, recent_tiles_merged
from ..operators.wire import COLOR_RAMP
from ..functions.keys import iso_ts

# Deterministic envelope cap: at continent scale the latest window holds
# millions of cells, far more than one GeoJSON payload should carry. The
# shim serves the top-N by the endpoint's salience order (tiles: ping
# density; positions: recency) with id tie-breaks, so the served set is
# stable run to run and the refresh path is bounded regardless of grid
# size. Raise per deployment; the envelope is ~200 bytes per feature.
FEATURE_CAP = 10_000

# UI poll cadence (reference app.py:13 REFRESH_MS, default 5000 ms). The
# page refreshes both endpoints together at this interval.
REFRESH_MS = 5000


def _ramp_js() -> str:
    """The count->color ramp as a JS expression, generated from the SAME
    ``COLOR_RAMP`` constant the ``tile_colors`` operator buckets with, so
    the served page and the server-side styling can never drift
    (reference computes this ramp in-browser, app.py:135-142)."""
    chain = " ".join(f"c > {th} ? '{hx}' :" for th, hx in COLOR_RAMP[:-1])
    return f"c => {chain} '{COLOR_RAMP[-1][1]}'"


def map_page(refresh_ms: int = REFRESH_MS) -> str:
    """The single-file Leaflet UI (reference app.py:92-189).

    Same behavior as the reference page: an OpenStreetMap base layer, a
    GeoJSON layer of the latest tiles filled by the count ramp, circle
    markers for latest vehicle positions with provider/vehicleId/ts
    popups, auto-fit to the tile bounds, a "waiting for data" toast when
    both collections are empty, and a fixed-cadence poll of both API
    endpoints. Styling keys off ``properties.ping_count`` — this engine's
    tile property name (serving/geojson.py) — and the ramp is generated
    from ``COLOR_RAMP`` rather than hand-maintained.
    """
    return f"""<!doctype html>
<html>
<head>
  <meta charset="utf-8"/>
  <title>Real-Time Mobility Heatmap</title>
  <meta name="viewport" content="width=device-width,initial-scale=1"/>
  <link rel="stylesheet" href="https://unpkg.com/leaflet@1.9.4/dist/leaflet.css"/>
  <style>
    html, body, #map {{ height: 100%; margin: 0; }}
    #toast {{
      position: absolute; top: 10px; left: 50%; transform: translateX(-50%);
      background: rgba(0,0,0,0.7); color: #fff; padding: 6px 10px;
      border-radius: 6px; font: 12px sans-serif; z-index: 9999; display: none;
    }}
  </style>
</head>
<body>
<div id="map"></div>
<div id="toast">Waiting for data…</div>
<script src="https://unpkg.com/leaflet@1.9.4/dist/leaflet.js"></script>
<script>
  const REFRESH_MS = {refresh_ms};
  const colorByCount = {_ramp_js()};

  const map = L.map('map').setView([42.3601, -71.0589], 12);
  L.tileLayer('https://{{s}}.tile.openstreetmap.org/{{z}}/{{x}}/{{y}}.png', {{
    maxZoom: 19, attribution: '&copy; OpenStreetMap'
  }}).addTo(map);

  const tilesLayer = L.geoJSON(null, {{
    style: f => ({{
      color: '#555', weight: 1, fillOpacity: 0.6,
      fillColor: colorByCount(f.properties.ping_count)
    }})
  }}).addTo(map);
  const positionsLayer = L.layerGroup().addTo(map);

  function toast(msg) {{
    const t = document.getElementById('toast');
    t.textContent = msg;
    t.style.display = 'block';
    setTimeout(() => t.style.display = 'none', 1500);
  }}

  async function refresh() {{
    try {{
      const [tilesRes, ptsRes] = await Promise.all([
        fetch('/api/tiles/latest'), fetch('/api/positions/latest')
      ]);
      const tiles = await tilesRes.json();
      const pts = await ptsRes.json();

      tilesLayer.clearLayers();
      if (tiles.features && tiles.features.length) {{
        tilesLayer.addData(tiles);
        const b = tilesLayer.getBounds();
        if (b.isValid()) map.fitBounds(b, {{ maxZoom: 14 }});
      }}

      positionsLayer.clearLayers();
      (pts.features || []).forEach(f => {{
        const [lng, lat] = f.geometry.coordinates;
        const m = L.circleMarker([lat, lng], {{ radius: 5 }});
        m.bindPopup(
          `<b>${{f.properties.provider}}</b><br/>` +
          `${{f.properties.vehicleId}}<br/>${{f.properties.ts}}`);
        positionsLayer.addLayer(m);
      }});

      if (!(tiles.features || []).length && !(pts.features || []).length) {{
        toast('Waiting for data…');
      }}
    }} catch (e) {{
      console.error(e);
      toast('Error fetching data.');
    }}
  }}

  refresh();
  setInterval(refresh, REFRESH_MS);
</script>
</body>
</html>"""


def latest_window_features(pings: DataFrame, cfg: EngineConfig = DEFAULT) -> DataFrame:
    """Nested GeoJSON features of the NEWEST window only (app.py:45-69:
    max windowStart, then all tiles at that window)."""
    fc = tile_feature_collection(pings, cfg)
    newest = fc.agg(F.max("properties.windowStart").alias("ws"))
    return fc.join(
        F.broadcast(newest), fc["properties.windowStart"] == newest["ws"]
    ).drop("ws")


def merged_range_features(
    pings: DataFrame, cfg: EngineConfig = DEFAULT, k: int = MERGE_WINDOWS
) -> DataFrame:
    """Nested GeoJSON features of the last-``k``-windows MERGED heatmap
    (reference roadmap README.md:228 — ``/api/tiles/range?minutes=15``):
    one Polygon per cell whose properties carry the exactly-merged
    counts/means from ``recent_tiles_merged`` (int64-partial merge, not
    re-weighted rounded averages). ``k`` = minutes / cfg.tile_minutes."""
    return merged_tiles_to_features(recent_tiles_merged(pings, cfg, k), cfg)


def merged_tiles_to_features(m: DataFrame, cfg: EngineConfig = DEFAULT) -> DataFrame:
    """Merged-tile rows (``recent_tiles_merged`` / the store-snapshot twin
    ``streaming.assembly.merge_recent_store_tiles``) -> GeoJSON Polygon
    Feature rows. Shared by the batch range endpoint and the store-backed
    live pipeline so both serving paths emit the identical envelope."""
    ring = cell_ring(F.col("cell_id"), cfg.grid_scale)
    return m.select(
        F.lit("Feature").alias("type"),
        F.col("cell_id").alias("id"),
        F.struct(
            F.lit("Polygon").alias("type"),
            F.array(ring).alias("coordinates"),
        ).alias("geometry"),
        F.struct(
            F.col("cell_id"),
            F.col("ping_count"),
            F.col("avg_speed_kmh"),
            F.col("n_windows"),
            iso_ts(F.col("merge_start")).alias("mergeStart"),
            iso_ts(F.col("merge_end")).alias("mergeEnd"),
        ).alias("properties"),
    )


def position_point_features(pings: DataFrame) -> DataFrame:
    """Vehicle Point features (app.py:71-88) as nested structs."""
    p = latest_positions(pings)
    return p.select(
        F.lit("Feature").alias("type"),
        F.col("position_id").alias("id"),
        F.struct(
            F.lit("Point").alias("type"),
            F.array(F.col("loc_lon"), F.col("loc_lat")).alias("coordinates"),
        ).alias("geometry"),
        F.struct(
            F.col("provider"),
            F.col("vehicleId"),
            iso_ts(F.col("event_ts")).alias("ts"),
        ).alias("properties"),
    )


def _feature_collection_json(df: DataFrame, order_by, cap: int = FEATURE_CAP) -> bytes:
    """Serialize a Feature DataFrame to one UTF-8 FeatureCollection payload.

    Scale posture: the selection is a deterministic top-``cap`` under
    ``order_by`` (Spark plans TakeOrderedAndProject — per-partition
    partial top-N, never a full global sort) and per-row JSON is rendered
    executor-side with ``to_json``, so the ``collect()`` brings the driver
    only the capped payload it is about to serve. An uncapped
    ``collect()`` here was round 2's one serving-path scale flag."""
    capped = df.orderBy(*order_by).limit(cap)
    rows = capped.select(
        F.to_json(F.struct(*df.columns), {"ignoreNullFields": "false"}).alias("j")
    ).collect()
    features = ",".join(r["j"] for r in rows)
    return ('{"type":"FeatureCollection","features":[' + features + "]}").encode("utf-8")


class TileApiServer:
    """Snapshot-serving HTTP server for the two reference endpoints."""

    def __init__(
        self,
        host: str = "127.0.0.1",
        port: int = 0,
        feature_cap: int = FEATURE_CAP,
        refresh_ms: int = REFRESH_MS,
    ):
        self._feature_cap = feature_cap
        # payloads are stored pre-encoded: a GET writes bytes, never re-encodes
        empty = b'{"type":"FeatureCollection","features":[]}'
        self._payloads = {
            "/": (map_page(refresh_ms).encode("utf-8"), "text/html; charset=utf-8"),
            "/api/tiles/latest": (empty, "application/geo+json"),
            "/api/tiles/range": (empty, "application/geo+json"),
            "/api/positions/latest": (empty, "application/geo+json"),
        }
        payloads = self._payloads

        class Handler(BaseHTTPRequestHandler):
            def do_GET(self):  # noqa: N802 (stdlib API name)
                # query strings (e.g. /api/tiles/range?minutes=15) select
                # the precomputed snapshot; the minutes knob is honored at
                # refresh time (requests never touch Spark — the shim's
                # core contract)
                entry = payloads.get(self.path.split("?", 1)[0])
                if entry is None:
                    self.send_error(404)
                    return
                data, content_type = entry
                self.send_response(200)
                self.send_header("Content-Type", content_type)
                self.send_header("Content-Length", str(len(data)))
                self.end_headers()
                self.wfile.write(data)

            def log_message(self, *args):  # quiet test output
                pass

        self._httpd = ThreadingHTTPServer((host, port), Handler)
        self._thread = threading.Thread(target=self._httpd.serve_forever, daemon=True)

    @property
    def port(self) -> int:
        return self._httpd.server_address[1]

    def refresh(self, pings: DataFrame, cfg: EngineConfig = DEFAULT) -> None:
        """Recompute both endpoint payloads from the current pings relation.

        Both envelopes are deterministic top-``feature_cap`` selections:
        tiles by ping density (the heatmap's salience), positions by
        recency — id tie-broken, so a capped snapshot is stable."""
        self.refresh_features(
            latest_window_features(pings, cfg),
            position_point_features(pings),
            merged_range_features(pings, cfg),
        )

    def refresh_features(
        self,
        tile_features: DataFrame,
        position_features: DataFrame,
        range_features: DataFrame | None = None,
    ) -> None:
        """Swap in payloads from PREBUILT Feature relations — the hook the
        store-backed pipeline uses (features shaped from the keyed store
        snapshot rather than re-aggregating raw pings)."""
        self._payloads["/api/tiles/latest"] = (
            _feature_collection_json(
                tile_features,
                [F.desc("properties.ping_count"), F.asc("id")],
                self._feature_cap,
            ),
            "application/geo+json",
        )
        self._payloads["/api/positions/latest"] = (
            _feature_collection_json(
                position_features,
                [F.desc("properties.ts"), F.asc("id")],
                self._feature_cap,
            ),
            "application/geo+json",
        )
        if range_features is not None:
            self._payloads["/api/tiles/range"] = (
                _feature_collection_json(
                    range_features,
                    [F.desc("properties.ping_count"), F.asc("id")],
                    self._feature_cap,
                ),
                "application/geo+json",
            )

    def start(self) -> "TileApiServer":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._httpd.shutdown()
        self._httpd.server_close()
