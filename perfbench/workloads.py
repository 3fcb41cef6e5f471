"""The benchmark's workloads: seeded inputs, engine config and the
layer names a correct archive may contain.

Every generator is a pure function of the seed. Inputs are written to
parquet during set-up, so a timed build starts from a table on disk
the way a CLI build does.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# points_city: pages per build. Every page is one point at z10-z14
# (its 98-character text gives min_zoom 10), so the tile count is
# about 4x this.
POINTS_PAGES = 24_000
# doc_id offset per seed: the position hash is valid for ids < ~3e9
POINTS_OFFSET_SEEDS = 10_000

# osm_city is checked against per-zoom counts stored in
# reference_counts.json, so its seed picks one of this many input
# variants.
REFERENCE_VARIANTS = 16

# The city covers exactly OSM_TILES x OSM_TILES z14 tiles; each
# variant moves the block by whole blocks. Feature counts are per
# 8 x 8 z14 tiles and scale with the block's area.
OSM_TILES = 24
OSM_ORIGIN = (8160, 5448)  # z14 tile of the north-west corner
OSM_NODES_PER_TILE = 12.5  # grid nodes along one z14 tile side
OSM_ROADS = 30
OSM_BUILDINGS = 200
OSM_WATER = 8
OSM_RELATIONS = 4

NAMES = ("points_city", "osm_city")


def variant(seed: int) -> int:
    return seed % REFERENCE_VARIANTS


# ------------------------------------------------------------ configs

def config_for(name: str):
    """The engine config each workload builds with."""
    from tilemaker_spark.config import default_config

    cfg = default_config()
    if name == "points_city":
        # the default hot-tile threshold is sized for make_pages(100_000);
        # scale it with the page count so the city tiles are still salted
        cfg.hot_tile_threshold = \
            cfg.hot_tile_threshold * POINTS_PAGES // 100_000
    return cfg


# Output layer names a decoded tile of each workload may hold.
LAYERS = {
    "points_city": {"pages"},
    "osm_city": {"roads", "buildings", "water", "landcover"},
}


# ------------------------------------------------------------- inputs

def points_offset(seed: int) -> int:
    return (seed % POINTS_OFFSET_SEEDS) * POINTS_PAGES


def make_inputs(spark, name: str, seed: int, workdir: str) -> dict:
    """Generate the workload's inputs, write them as parquet under ``workdir`` and return
    ``TilePipeline.run`` keyword arguments that read them back."""
    from tilemaker_spark.fixtures import make_pages

    if name == "points_city":
        from pyspark.sql import functions as F
        # make_pages has no seed: shift doc_id, which the geocoder
        # hashes into a position, so each seed places the pages anew
        pages = make_pages(spark, POINTS_PAGES).withColumn(
            "doc_id", F.col("doc_id") + F.lit(points_offset(seed)))
        pages.write.mode("overwrite").parquet(f"{workdir}/pages")
        return {"pages": spark.read.parquet(f"{workdir}/pages")}

    if name == "osm_city":
        nodes, ways, rels = _osm_frames(variant(seed))
        return {"pages": make_pages(spark, 0),
                "nodes": _write(spark, nodes, NODES, f"{workdir}/nodes"),
                "ways": _write(spark, ways, WAYS, f"{workdir}/ways"),
                "relations": _write(spark, rels, RELATIONS,
                                    f"{workdir}/relations")}
    raise ValueError(f"unknown workload {name!r}")


# Arrow schemas of the generated tables; Spark reads them back as the
# types the profile expects (map<string,string>, array<long>, ...).
_TAGS = pa.map_(pa.string(), pa.string())
NODES = pa.schema([("id", pa.int64()), ("lat", pa.float64()),
                   ("lon", pa.float64()), ("tags", _TAGS)])
WAYS = pa.schema([("id", pa.int64()), ("refs", pa.list_(pa.int64())),
                  ("tags", _TAGS)])
RELATIONS = pa.schema([
    ("id", pa.int64()),
    ("members", pa.list_(pa.struct([("mtype", pa.string()),
                                    ("ref", pa.int64()),
                                    ("role", pa.string())]))),
    ("tags", _TAGS)])


def _write(spark, pdf: pd.DataFrame, schema: pa.Schema, path: str):
    """Write a generated table as one parquet file with pyarrow (no
    Spark job) and open it with Spark."""
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    pq.write_table(pa.Table.from_pandas(pdf, schema=schema,
                                        preserve_index=False),
                   os.path.join(path, "part-0.parquet"))
    return spark.read.parquet(path)


def _osm_frames(v: int):
    """A synthetic city extract over OSM_TILES x OSM_TILES z14 tiles: a
    jittered node grid, road polylines along grid rows and columns,
    building and water closed ways, and multipolygon relations whose
    outer ring is split over two open ways around a closed inner hole.
    Grid rows run south to north, as in fixtures.make_nodes_ways, so
    closed ways keep its winding."""
    rng = np.random.default_rng(2000 + v)
    tiles = OSM_TILES
    gw = gh = int(OSM_NODES_PER_TILE * tiles)
    per_block = tiles * tiles / 64
    # each variant moves the block by whole blocks around OSM_ORIGIN
    tx = OSM_ORIGIN[0] + tiles * (v % 4)
    ty = OSM_ORIGIN[1] + tiles * (v // 4)
    n = gw * gh
    gy, gx = np.divmod(np.arange(n), gw)
    step = (tiles - 0.2) / (gw - 1)  # in z14 tile widths
    jitter = rng.uniform(-0.2, 0.2, size=(n, 2)) * step
    fx = tx + 0.1 + gx * step + jitter[:, 0]
    fy = ty + tiles - 0.1 - gy * step + jitter[:, 1]
    lons = fx / (1 << 14) * 360.0 - 180.0
    latp = 180.0 - fy / (1 << 14) * 360.0
    lats = np.degrees(2.0 * np.arctan(np.exp(np.radians(latp)))) - 90.0
    node_id = np.arange(n, dtype=np.int64) + 1
    nodes = pd.DataFrame({"id": node_id, "lat": lats, "lon": lons,
                          "tags": [{} for _ in range(n)]})

    def nid(cx, cy):
        return int(node_id[cy * gw + cx])

    def rect(x0, y0, w, h):
        corners = [(x0, y0), (x0 + w, y0), (x0 + w, y0 + h), (x0, y0 + h)]
        return [nid(x, y) for x, y in corners]

    ways, rels = [], []
    wid = 1_000_000
    # fixed way sizes, random places: every variant carries the same
    # amount of geometry, so archive size barely moves with the seed
    for k in range(round(OSM_ROADS * per_block)):
        a, b = int(rng.integers(0, gw)), int(rng.integers(0, gw - 40))
        cells = [(c, a) if k % 2 else (a, c) for c in range(b, b + 40)]
        wid += 1
        cls = "primary" if k % 5 == 0 else "residential"
        ways.append((wid, [nid(x, y) for x, y in cells],
                     {"highway": cls, "name": f"road{k}"}))
    for k in range(round(OSM_BUILDINGS * per_block)):
        w, h = int(rng.integers(1, 3)), int(rng.integers(1, 3))
        x0, y0 = int(rng.integers(0, gw - w)), int(rng.integers(0, gh - h))
        refs = rect(x0, y0, w, h)
        wid += 1
        ways.append((wid, refs + refs[:1], {"building": "yes"}))
    for k in range(round(OSM_WATER * per_block)):
        x0, y0 = int(rng.integers(0, gw - 6)), int(rng.integers(0, gh - 5))
        refs = rect(x0, y0, 6, 5)
        wid += 1
        ways.append((wid, refs + refs[:1], {"natural": "water",
                                             "name": f"pond{k}"}))
    for k in range(round(OSM_RELATIONS * per_block)):
        w, h = 14, 10
        x0, y0 = int(rng.integers(0, gw - w)), int(rng.integers(0, gh - h))
        # outer ring as two open ways sharing the corners (x0, y0) and
        # (x0 + w, y0 + h); the second is stored reversed
        top = ([nid(x, y0) for x in range(x0, x0 + w + 1)]
               + [nid(x0 + w, y) for y in range(y0 + 1, y0 + h + 1)])
        bottom = ([nid(x, y0 + h) for x in range(x0 + w, x0 - 1, -1)]
                  + [nid(x0, y) for y in range(y0 + h - 1, y0 - 1, -1)])
        hole = rect(x0 + 3, y0 + 3, 4, 3)
        members = []
        for refs, role in ((top, "outer"), (bottom[::-1], "outer"),
                           (hole + hole[:1], "inner")):
            wid += 1
            ways.append((wid, refs, {}))
            members.append({"mtype": "way", "ref": wid, "role": role})
        tags = ({"type": "multipolygon", "natural": "water"} if k % 2
                else {"type": "multipolygon", "landuse": "forest"})
        rels.append((5_000_000 + k, members, dict(tags, name=f"area{k}")))
    return (nodes, pd.DataFrame(ways, columns=["id", "refs", "tags"]),
            pd.DataFrame(rels, columns=["id", "members", "tags"]))
