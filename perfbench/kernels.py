"""In-process kernel timings on fixed, seeded samples: the stream
assembler and gzip tile compression on the workload's own assembly
input, the geomnp clip functions on a synthetic sample. Each kernel is
run REPEATS times and the median kept.
"""

from __future__ import annotations

import copy
import statistics
import time

import numpy as np

REPEATS = 3
ASSEMBLY_SAMPLE_ROWS = 4000   # feature rows, whole tiles at a time
CLIP_SIZES = 24   # parts per geometry type
CLIP_SEED = 0
ARROW_BATCH = 10_000  # spark.sql.execution.arrow.maxRecordsPerBatch


def _median_time(fn) -> float:
    times = []
    for _ in range(REPEATS):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def _tile_sample(ft, n_rows: int, seed: int):
    """About ASSEMBLY_SAMPLE_ROWS rows of ``ft``, whole tiles picked by
    a seeded hash of the tile key, sorted the way assembly receives
    them."""
    from pyspark.sql import functions as F

    step = max(1, n_rows // ASSEMBLY_SAMPLE_ROWS)
    cols = ["z", "x", "y", "feature_id", "layer", "geom_type", "z_order",
            "attrs", "geom"]
    cols += [c for c in ("attr_minzoom", "attrs_num", "attrs_bool")
             if c in ft.columns]
    pdf = ft.where(F.pmod(F.xxhash64("z", "x", "y", F.lit(seed)),
                          F.lit(step)) == 0).select(*cols).toPandas()
    return pdf.sort_values(["z", "x", "y"], kind="mergesort",
                           ignore_index=True)


def assembly_kernels(ft, cfg, n_rows: int, seed: int) -> dict:
    """us per tile of make_stream_assembler(cfg) and of compress_tile
    on the raw tiles it encodes, over a seeded sample of ``ft``, which
    has ``n_rows`` rows."""
    from tilemaker_spark.functions import mvt
    from tilemaker_spark.operators.tile_assembly import make_stream_assembler

    pdf = _tile_sample(ft, n_rows, seed)
    batches = [pdf.iloc[i:i + ARROW_BATCH]
               for i in range(0, len(pdf), ARROW_BATCH)]

    def assemble(config):
        return list(make_stream_assembler(config)(iter(batches)))

    out = assemble(cfg)
    tiles = sum(len(o) for o in out)
    if not tiles:
        return {"kernel_us_per_tile": 0.0, "compress_us_per_tile": 0.0,
                "sample_tiles": 0}
    t_asm = _median_time(lambda: assemble(cfg))
    raw_cfg = copy.deepcopy(cfg)
    raw_cfg.compress = "none"
    raw = [bytes(t) for o in assemble(raw_cfg) for t in o["tile"]]
    t_gz = _median_time(lambda: [mvt.compress_tile(t, "gzip") for t in raw])
    return {"kernel_us_per_tile": t_asm / tiles * 1e6,
            "compress_us_per_tile": t_gz / len(raw) * 1e6,
            "sample_tiles": tiles}


def clip_kernel() -> dict:
    """ns per input vertex of clip_polygon_to_box / clip_line_to_box on
    one fixed seeded sample, the same for every workload: wavy rings
    and random-walk lines of log-spaced sizes from 5 to 5000 vertices,
    each clipped to the middle quarter of its bounding box."""
    from tilemaker_spark.functions import geomnp as G

    rng = np.random.default_rng(CLIP_SEED)
    jobs, vertices = [], 0
    for n in np.geomspace(5, 5000, CLIP_SIZES).astype(int):
        ang = np.sort(rng.uniform(0, 2 * np.pi, n))
        rad = 1.0 + 0.3 * rng.random(n)
        ring = np.column_stack([rad * np.cos(ang), rad * np.sin(ang)])
        line = np.cumsum(rng.normal(size=(n, 2)), axis=0)
        for gt, part in ((G.GEOM_POLYGON, ring), (G.GEOM_LINE, line)):
            (x0, y0), (x1, y1) = part.min(axis=0), part.max(axis=0)
            dx, dy = (x1 - x0) / 4, (y1 - y0) / 4
            jobs.append((gt, part, (x0 + dx, y0 + dy, x1 - dx, y1 - dy)))
            vertices += n

    def run():
        for gt, part, box in jobs:
            if gt == G.GEOM_LINE:
                G.clip_line_to_box(part, box)
            else:
                G.clip_polygon_to_box([part], box)

    return {"clip_ns_per_vertex": _median_time(run) / vertices * 1e9,
            "clip_vertices": vertices}
