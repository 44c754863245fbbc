"""Tile-serving layer (SURVEY.md §2.1 S18): color-map rendering +
indexed point lookup — the engine-side half of the reference's
spray/akka tile server (ServeLayerAsMap.scala:97-124).

The reference serves ``GET /{zoom}/{x}/{y}`` by an indexed single-tile
read (HadoopValueReader, ServeLayerAsMap.scala:33,111), renders with a
10-quantile color map (:88-94), and returns PNG bytes. Here:

- class breaks: exact percentiles via the quantile_breaks query (A3)
  or ``approx_breaks`` (percentile_approx) for the 100 TB path;
- ``color_map_expr``: value → RGBA via a CASE-WHEN bucket chain —
  pure Catalyst, codegen'd, usable over whole layers (bulk render),
  not just per-request;
- ``render_tile_png``: grayscale/paletted PNG bytes per tile via a
  stdlib-only encoder (zlib + struct — no image libraries needed)
  inside ``mapInPandas``;
- ``lookup_tile``: the ms-latency point read. Spark is the wrong tool
  for per-request reads (SURVEY.md §1.3) — this reads the layer's
  committed snapshot with filters on the Z-order key range, which is
  exactly what the store's sorted layout indexes;
  an HTTP frontend would cache these.
"""

from __future__ import annotations

import logging
import struct
import threading
import zlib
from typing import Iterator, Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

log = logging.getLogger(__name__)

# tile-server requests answered 500 in this process
SERVER_ERRORS = 0
_ERRORS_LOCK = threading.Lock()


def _server_error(path: str, exc: Exception) -> None:
    """Log (with the traceback) and count a request the tile server
    answers with 500."""
    global SERVER_ERRORS
    with _ERRORS_LOCK:
        SERVER_ERRORS += 1
    log.error(
        "tile server: GET %s failed (%s: %s)",
        path, type(exc).__name__, exc, exc_info=exc,
    )


# default 10-class color ramp (hex RGBA), analog of the reference's
# ColorRamps usage in ServeLayerAsMap.scala:88-94
DEFAULT_PALETTE = (
    0x30123BFF, 0x4458CBFF, 0x3E9BFEFF, 0x18D6CBFF, 0x46F884FF,
    0xA2FC3CFF, 0xE1DD37FF, 0xFDA531FF, 0xEF5A11FF, 0x7A0403FF,
)


def approx_breaks(
    df: DataFrame, value_col: str, n_classes: int = 10, rel_err: float = 0.001
) -> list[float]:
    """Class breaks via approxQuantile — single pass, mergeable sketch,
    the scale path for layer-wide statistics (vs the exact
    percentile_disc of the quantile_breaks oracle query)."""
    qs = [i / n_classes for i in range(1, n_classes)]
    return df.approxQuantile(value_col, qs, rel_err)


def color_map_expr(
    value: Column | str,
    breaks: Sequence[float],
    palette: Sequence[int] = DEFAULT_PALETTE,
) -> Column:
    """value → 32-bit RGBA by class bucket (NULL value → transparent 0).

    A CASE-WHEN chain over sorted breaks: len(breaks) = len(palette)-1.
    Pure Catalyst expression — bulk-renders whole layers in codegen;
    the reference could only render per-request on the server.
    """
    assert len(palette) == len(breaks) + 1, "palette must be breaks+1"
    col = F.col(value) if isinstance(value, str) else value
    expr = F.lit(int(palette[-1]))
    # build from the last class backwards: value <= breaks[i] → palette[i]
    for b, rgba in zip(reversed(breaks), reversed(palette[:-1])):
        expr = F.when(col <= F.lit(float(b)), F.lit(int(rgba))).otherwise(expr)
    return F.when(col.isNull(), F.lit(0)).otherwise(expr).cast("long")


def _png_chunk(tag: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + tag
        + payload
        + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
    )


def encode_png_rgba(width: int, height: int, rgba_rows: bytes) -> bytes:
    """Minimal RGBA8 PNG encoder — stdlib only (zlib/struct).

    ``rgba_rows`` is height*width*4 bytes, row-major. Each scanline is
    prefixed with filter byte 0 (None) before deflate.
    """
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 6, 0, 0, 0)
    raw = b"".join(
        b"\x00" + rgba_rows[y * width * 4 : (y + 1) * width * 4]
        for y in range(height)
    )
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raw, 6))
        + _png_chunk(b"IEND", b"")
    )


RENDERED_SCHEMA = StructType(
    [
        StructField("tile_col", IntegerType()),
        StructField("tile_row", IntegerType()),
        StructField("png", BinaryType()),
        StructField("png_bytes", IntegerType()),
        StructField("checksum", LongType()),
    ]
)


def render_tiles_png(
    tiles: DataFrame,
    breaks: Sequence[float],
    palette: Sequence[int] = DEFAULT_PALETTE,
    tile_struct: str = "tile",
    band: int = 0,
) -> DataFrame:
    """Bulk tile → PNG render: color-map JVM-side, then PNG-encode the
    RGBA ints in an Arrow-batched mapInPandas (stdlib zlib only).

    The expensive classification work (bucket search per pixel) stays
    in codegen via ``color_map_expr`` applied with ``transform``; the
    Python stage only packs bytes + deflates.
    """
    from biggis_landuse_spark.shipping import ensure_package_shipped

    ensure_package_shipped(tiles.sparkSession)
    t = F.col(tile_struct)
    colored = tiles.select(
        "tile_col",
        "tile_row",
        t["cols"].alias("cols"),
        t["rows"].alias("rows"),
        F.transform(
            F.element_at(t["bands"], band + 1),
            lambda v: color_map_expr(v, breaks, palette),
        ).alias("rgba"),
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                "tile_col": [],
                "tile_row": [],
                "png": [],
                "png_bytes": [],
                "checksum": [],
            }
            for r in pdf.itertuples(index=False):
                w, h = int(r.cols), int(r.rows)
                buf = b"".join(
                    struct.pack(">I", int(v) & 0xFFFFFFFF) for v in r.rgba
                )
                png = encode_png_rgba(w, h, buf)
                out["tile_col"].append(int(r.tile_col))
                out["tile_row"].append(int(r.tile_row))
                out["png"].append(png)
                out["png_bytes"].append(len(png))
                out["checksum"].append(zlib.crc32(png))
            yield pd.DataFrame(out)

    return colored.mapInPandas(run, RENDERED_SCHEMA)


def lookup_tile(
    catalog, layer: str, zoom: int, x: int, y: int
) -> DataFrame:
    """Indexed point read for ``GET /{zoom}/{x}/{y}``.

    One (layer, zoom) snapshot read + min/max row-group pruning on
    the Z-ordered (tile_col, tile_row) sort — the catalog's analog of
    the reference's SFC value reader (ServeLayerAsMap.scala:33).
    """
    return catalog.read_layer(layer, zoom).where(
        (F.col("tile_col") == x) & (F.col("tile_row") == y)
    )


MAP_CLIENT_HTML = """<!DOCTYPE html>
<html>
<head>
<meta charset="utf-8"/>
<meta name="viewport" content="width=device-width, initial-scale=1.0"/>
<title>{layer} — tile map</title>
<style>
html, body {{ margin: 0; height: 100%; overflow: hidden;
              background: #1b1b1b; font-family: sans-serif; }}
#map {{ position: absolute; inset: 0; cursor: grab; }}
#map.drag {{ cursor: grabbing; }}
#map img {{ position: absolute; width: 256px; height: 256px;
            image-rendering: pixelated; user-select: none;
            -webkit-user-drag: none; }}
#hud {{ position: absolute; top: 10px; left: 10px; z-index: 10;
        color: #eee; background: rgba(0,0,0,.6); padding: 6px 10px;
        border-radius: 4px; }}
#hud button {{ width: 28px; height: 28px; font-size: 16px; }}
</style>
</head>
<body>
<div id="hud">
  <b>{layer}</b> &nbsp; zoom <span id="z">?</span>
  <button id="zin">+</button><button id="zout">&minus;</button>
</div>
<div id="map"></div>
<script>
// Minimal self-contained slippy viewer over the tile route
// "/{{z}}/{{x}}/{{y}}" (the reference ships a Leaflet page wired to
// the same template, static/index.html:21). No external assets.
(async function () {{
  const meta = await (await fetch('/meta')).json();
  const TS = 256, map = document.getElementById('map');
  const zspan = document.getElementById('z');
  let zoom = meta.bounds.zoom;
  // center (in tile units at current zoom) on the layer's extent
  let cx = (meta.bounds.col_min + meta.bounds.col_max + 1) / 2;
  let cy = (meta.bounds.row_min + meta.bounds.row_max + 1) / 2;
  const zmin = Math.min.apply(null, meta.zooms);
  const zmax = Math.max.apply(null, meta.zooms);
  let tiles = {{}};
  function render() {{
    zspan.textContent = zoom;
    const W = map.clientWidth, H = map.clientHeight;
    const x0 = Math.floor(cx - W / 2 / TS), x1 = Math.ceil(cx + W / 2 / TS);
    const y0 = Math.floor(cy - H / 2 / TS), y1 = Math.ceil(cy + H / 2 / TS);
    const keep = {{}};
    for (let ty = y0; ty <= y1; ty++) for (let tx = x0; tx <= x1; tx++) {{
      if (tx < 0 || ty < 0 || tx >= (1 << zoom) || ty >= (1 << zoom)) continue;
      const k = zoom + '/' + tx + '/' + ty;
      let img = tiles[k];
      if (!img) {{
        img = document.createElement('img');
        img.src = '/' + k;
        img.onerror = function () {{ img.style.display = 'none'; }};
        map.appendChild(img);
        tiles[k] = img;
      }}
      img.style.left = Math.round(W / 2 + (tx - cx) * TS) + 'px';
      img.style.top = Math.round(H / 2 + (ty - cy) * TS) + 'px';
      keep[k] = true;
    }}
    for (const k in tiles) if (!keep[k]) {{ tiles[k].remove(); delete tiles[k]; }}
  }}
  function setZoom(nz) {{
    nz = Math.max(zmin, Math.min(zmax, nz));
    if (nz === zoom) return;
    const f = Math.pow(2, nz - zoom);
    cx *= f; cy *= f; zoom = nz;
    for (const k in tiles) {{ tiles[k].remove(); delete tiles[k]; }}
    render();
  }}
  document.getElementById('zin').onclick = () => setZoom(zoom + 1);
  document.getElementById('zout').onclick = () => setZoom(zoom - 1);
  map.addEventListener('wheel', e => {{
    e.preventDefault(); setZoom(zoom + (e.deltaY < 0 ? 1 : -1));
  }});
  let drag = null;
  map.addEventListener('mousedown', e => {{
    drag = [e.clientX, e.clientY]; map.classList.add('drag');
  }});
  window.addEventListener('mousemove', e => {{
    if (!drag) return;
    cx -= (e.clientX - drag[0]) / TS; cy -= (e.clientY - drag[1]) / TS;
    drag = [e.clientX, e.clientY]; render();
  }});
  window.addEventListener('mouseup', () => {{
    drag = null; map.classList.remove('drag');
  }});
  window.addEventListener('resize', render);
  render();
}})();
</script>
</body>
</html>
"""


class TileServer:
    """HTTP tile server: ``GET /{zoom}/{x}/{y}`` → rendered PNG —
    functional parity with the reference's spray/akka actor route
    (ServeLayerAsMap.scala:97-124), stdlib-only. ``GET /`` serves a
    self-contained slippy-map client (the reference's Leaflet demo
    payoff, static/index.html:21 / GettingStarted.html:22 — here
    inline vanilla JS, no CDN or vendored library) and ``GET /meta``
    the layer's zooms + tile bounds the client centers on.

    Per SURVEY.md §1.3, Spark is the wrong engine for per-request
    ms-latency reads, so the server renders the requested zoom ONCE in
    bulk (one Spark job over the layer's snapshot read, PNG
    encoding executor-side via render_tiles_png) and serves from an
    in-process dict — the 'small in-process cache over the same
    Parquet' design. Unrendered zooms are rendered on first request.
    A size guard refuses zooms whose tile count exceeds
    ``max_cached_tiles`` (driver-OOM posture: the reference's stitch
    paths crash there, LayerToGeotiff.scala:73-78).
    """

    def __init__(
        self,
        catalog,
        layer: str,
        breaks: Sequence[float],
        palette: Sequence[int] = DEFAULT_PALETTE,
        max_cached_tiles: int = 65536,
    ):
        self.catalog = catalog
        self.layer = layer
        self.breaks = list(breaks)
        self.palette = list(palette)
        self.max_cached_tiles = max_cached_tiles
        self._cache: dict[tuple[int, int, int], bytes] = {}
        self._zooms_loaded: set[int] = set()
        self._httpd = None
        import threading

        self._render_lock = threading.Lock()

    def _ensure_zoom(self, zoom: int) -> None:
        # double-checked under a lock: concurrent first requests for a
        # zoom must run the bulk Spark render exactly once, not once
        # per request thread (ThreadingHTTPServer serves concurrently)
        if zoom in self._zooms_loaded:
            return
        with self._render_lock:
            if zoom in self._zooms_loaded:
                return
            self._render_zoom(zoom)

    def _render_zoom(self, zoom: int) -> None:
        tiles = self.catalog.read_layer(self.layer, zoom)
        n = tiles.count()
        if n > self.max_cached_tiles:
            raise MemoryError(
                f"zoom {zoom} has {n} tiles > cache bound "
                f"{self.max_cached_tiles}; raise the bound or serve "
                "from a KV sink"
            )
        rendered = render_tiles_png(tiles, self.breaks, self.palette)
        for r in rendered.select("tile_col", "tile_row", "png").collect():
            self._cache[(zoom, r["tile_col"], r["tile_row"])] = bytes(
                r["png"]
            )
        self._zooms_loaded.add(zoom)

    def lookup(self, zoom: int, x: int, y: int) -> bytes | None:
        self._ensure_zoom(zoom)
        return self._cache.get((zoom, x, y))

    def meta(self) -> dict:
        """Layer zooms + coarsest-level tile bounds for the map client,
        from the catalog's metadata records (no Spark job)."""
        if getattr(self, "_meta", None) is None:
            zooms = sorted(
                z for (l, z) in self.catalog.layer_ids() if l == self.layer
            )
            if not zooms:
                raise KeyError(f"layer not found: {self.layer}")
            m = self.catalog.layer_meta(self.layer, zooms[0])
            self._meta = {
                "layer": self.layer,
                "zooms": zooms,
                "bounds": {
                    "zoom": zooms[0],
                    "col_min": m["key_col_min"],
                    "col_max": m["key_col_max"],
                    "row_min": m["key_row_min"],
                    "row_max": m["key_row_max"],
                },
            }
        return self._meta

    def start(self, port: int = 0) -> int:
        """Start serving on ``port`` (0 → ephemeral); returns the
        bound port. Route: ``GET /{zoom}/{x}/{y}`` → image/png."""
        import http.server
        import re
        import threading

        server = self

        class Handler(http.server.BaseHTTPRequestHandler):
            def log_message(self, *args):  # quiet test runs
                pass

            def _send(self, body: bytes, ctype: str) -> None:
                self.send_response(200)
                self.send_header("Content-Type", ctype)
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def do_GET(self):
                if self.path in ("/", "/index.html"):
                    html = MAP_CLIENT_HTML.format(layer=server.layer)
                    self._send(html.encode(), "text/html; charset=utf-8")
                    return
                if self.path == "/meta":
                    import json

                    try:
                        body = json.dumps(server.meta()).encode()
                    except Exception as exc:  # noqa: BLE001
                        _server_error(self.path, exc)
                        self.send_error(500, str(exc)[:100])
                        return
                    self._send(body, "application/json")
                    return
                m = re.fullmatch(r"/(\d+)/(\d+)/(\d+)", self.path)
                if not m:
                    self.send_error(400, "expected /{zoom}/{x}/{y}")
                    return
                try:
                    png = server.lookup(*(int(g) for g in m.groups()))
                except Exception as exc:  # noqa: BLE001 — surface as 500
                    _server_error(self.path, exc)
                    self.send_error(500, str(exc)[:100])
                    return
                if png is None:
                    self.send_error(404, "no tile")
                    return
                self.send_response(200)
                self.send_header("Content-Type", "image/png")
                self.send_header("Content-Length", str(len(png)))
                self.end_headers()
                self.wfile.write(png)

        self._httpd = http.server.ThreadingHTTPServer(
            ("127.0.0.1", port), Handler
        )
        threading.Thread(
            target=self._httpd.serve_forever, daemon=True
        ).start()
        return self._httpd.server_address[1]

    def stop(self) -> None:
        if self._httpd is not None:
            self._httpd.shutdown()
            self._httpd.server_close()
            self._httpd = None
