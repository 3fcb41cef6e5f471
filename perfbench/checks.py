"""Output checks that do not depend on tile byte layout.

Every build is checked outside the timed window (``check_build``):

* per-zoom tile counts and summed ``n_features`` of the tiles the
  pipeline returned, against an independent numpy reimplementation of
  the geocode and tile math (points_city) or against
  reference_counts.json (osm_city);
* the number of tiles the archive addresses.

The last build of a run is also checked end to end (``check_archive``):

* the archive read back with ``sinks.read_pmtiles``: the same per-zoom
  counts, and a seeded sample of tiles decoded with ``mvt.decode_tile``
  whose layer names and geometry coordinates must lie in the expected
  set and inside the tile extent plus the engine's clip buffer.

Ring rotation, feature order or gzip bytes may change freely; what a
map renders may not.
"""

from __future__ import annotations

import gzip
import json
import os
import numpy as np

import workloads

REFERENCE_FILE = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                              "reference_counts.json")
SAMPLE_TILES = 32

# Text of every make_pages row is three md5 hex digests joined by
# spaces (98 characters), which the pages profile maps to min_zoom 10.
PAGES_MIN_ZOOM = 10


def points_expected(seed: int, basezoom: int = 14) -> dict:
    """{z: (tiles, features)} for points_city, recomputed with numpy
    from the geocoder's published hash constants."""
    from tilemaker_spark.operators import geocode as g

    ids = np.arange(workloads.POINTS_PAGES, dtype=np.int64) \
        + workloads.points_offset(seed)
    hot = ids % g.HOT_MOD == 0
    lon = np.where(
        hot,
        g.HOT_LON_CENTER + (ids * g.HOT_MUL_X + g.HOT_ADD_X) % g.HOT_SPAN
        / 1_000_000.0 - 0.1,
        (ids * g.LON_MUL + g.LON_ADD) % g.LON_MOD / 1_000_000.0 - 180.0)
    lat = np.where(
        hot,
        g.HOT_LAT_CENTER + (ids * g.HOT_MUL_Y + g.HOT_ADD_Y) % g.HOT_SPAN
        / 1_000_000.0 - 0.1,
        (ids * g.LAT_MUL + g.LAT_ADD) % g.LAT_MOD / 1_000_000.0 - 85.0)
    lat = np.clip(lat, -85.06, 85.06)
    latp = np.degrees(np.log(np.tan(np.radians(lat + 90.0) / 2.0)))
    scale = float(1 << basezoom)
    x = np.floor((lon + 180.0) / 360.0 * scale).astype(np.int64)
    y = np.floor((180.0 - latp) / 360.0 * scale).astype(np.int64)
    out = {}
    for z in range(PAGES_MIN_ZOOM, basezoom + 1):
        key = ((x >> (basezoom - z)) << 32) | (y >> (basezoom - z))
        out[z] = (int(len(np.unique(key))), int(len(ids)))
    return out


def load_reference() -> dict:
    if not os.path.exists(REFERENCE_FILE):
        return {}
    with open(REFERENCE_FILE) as f:
        return json.load(f)


def expected_per_zoom(name: str, seed: int) -> dict | None:
    """{z: (tiles, features)} the build must produce, or None when the
    reference file has no entry for this input."""
    if name == "points_city":
        return points_expected(seed)
    entry = load_reference().get(name, {}).get(str(workloads.variant(seed)))
    if entry is None:
        return None
    return {int(z): tuple(v) for z, v in entry.items()}


def per_zoom(tiles) -> dict:
    """{z: (tiles, features, bytes)} of a tiles DataFrame."""
    from pyspark.sql import functions as F

    rows = tiles.groupBy("z").agg(F.count("*").alias("n"),
                                  F.sum("n_features").alias("f"),
                                  F.sum("n_bytes").alias("b")).collect()
    return {int(r.z): (int(r.n), int(r.f), int(r.b)) for r in rows}


def _compare(errors: list, what: str, got: dict, want: dict) -> None:
    if got != want:
        diff = {z: (got.get(z), want.get(z))
                for z in sorted(set(got) | set(want))
                if got.get(z) != want.get(z)}
        errors.append(f"{what}: per-zoom (got, want) differs at {diff}")


def _coord_bounds(geom_type: int, extent: int) -> tuple:
    """Inclusive coordinate range of a decoded feature in tile units.

    Points are clipped to the tile, polygons to the 0.5% clip margin
    and lines to the extended box that reaches two tile widths out
    (functions.coords.TileBbox)."""
    if geom_type == 1:
        return 0, extent
    if geom_type == 3:
        pad = extent // 200 + 1
        return -pad, extent + pad
    return -2 * extent - 1, 2 * extent + 1


def check_archive(spark, name: str, seed: int, path: str, extent: int,
                  compressed: bool, want_zoom: dict, errors: list) -> None:
    """Read the archive back and check counts and a decoded sample."""
    from pyspark.sql import functions as F
    from tilemaker_spark import sinks
    from tilemaker_spark.functions import mvt

    # one pass over the archive: per-zoom counts, and about SAMPLE_TILES
    # tiles picked by a seeded hash of the tile key
    step = max(1, sum(want_zoom.values()) // SAMPLE_TILES)
    picked = F.pmod(F.xxhash64("z", "x", "y", F.lit(seed)), F.lit(step)) == 0
    rows = sinks.read_pmtiles(spark, path).groupBy("z").agg(
        F.count("*").alias("n"),
        F.collect_list(F.when(picked, F.struct("x", "y", "tile"))).alias("s"),
    ).collect()
    _compare(errors, "archive tiles", {int(r.z): int(r.n) for r in rows},
             want_zoom)
    sample = sorted((r.z, t.x, t.y, t.tile) for r in rows for t in r.s)
    if not sample:
        errors.append("archive check sampled no tiles")
    allowed = workloads.LAYERS[name]
    for z, x, y, tile in sample:
        blob = bytes(tile)
        if compressed:
            blob = gzip.decompress(blob)
        layers = mvt.decode_tile(blob)
        where = f"tile {z}/{x}/{y}"
        if not layers:
            errors.append(f"{where}: no layers")
        for lname, layer in layers.items():
            if lname not in allowed:
                errors.append(f"{where}: unexpected layer {lname!r}")
            if layer.get("extent") != extent:
                errors.append(f"{where}: extent {layer.get('extent')}")
            if not layer["features"]:
                errors.append(f"{where}: empty layer {lname!r}")
            for feat in layer["features"]:
                lo, hi = _coord_bounds(feat["type"], extent)
                for part in feat["geom"]:
                    pts = np.asarray(part, dtype=np.int64).reshape(-1, 2)
                    if len(pts) and (pts.min() < lo or pts.max() > hi):
                        errors.append(f"{where}: {lname} geometry outside "
                                      f"[{lo}, {hi}]")
                        break


def check_build(name: str, seed: int, tiles, addressed: int) -> tuple:
    """Check one build's tiles against the expected per-zoom counts.
    Returns (errors, per-zoom stats of the tiles)."""
    errors: list = []
    stats = per_zoom(tiles)
    got = {z: (n, f) for z, (n, f, _b) in stats.items()}
    want = expected_per_zoom(name, seed)
    if want is None:
        errors.append(f"no reference counts for {name} variant "
                      f"{workloads.variant(seed)}")
    else:
        _compare(errors, "pipeline tiles", got, want)
    n_tiles = sum(n for n, _f in got.values())
    if addressed != n_tiles:
        errors.append(f"archive addresses {addressed} tiles, pipeline "
                      f"returned {n_tiles}")
    return errors, stats
