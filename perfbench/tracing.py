"""Traced build: one span per call into a layer's public entry points,
with Spark stage metrics attributed to each span by job group.

Spark is lazy, so each span forces its layer's result: the profile,
cover, clip and assembly outputs are written as parquet (the same
checkpoints TilePipeline.run writes), the rolled-up feature_tiles are
persisted and counted, and the sink span is the archive write itself.
Spans are kept in memory and written out by the caller when the run
ends.
"""

from __future__ import annotations

import json
import os
import time
import urllib.parse
import urllib.request
from contextlib import contextmanager

# layer -> span names whose stages and walls belong to it
LAYER_SPANS = {
    "profile": ("profile",),
    "tiling": ("tiling.cover", "tiling.clip", "tiling.rollup"),
    "assembly": ("assembly",),
    "sink": ("sink",),
}
ROOT_SPAN = "build"


class Tracer:
    """Spans (name, start, end, parent) sharing one run id. Entering a
    span sets the Spark job group to the span id, so every job the span
    triggers can be found again in the UI REST API."""

    def __init__(self, sc, run_id: str):
        self.sc = sc
        self.run_id = run_id
        self.spans: list = []
        self._stack: list = []

    @contextmanager
    def span(self, name: str):
        rec = {"id": f"{self.run_id}.{len(self.spans)}", "name": name,
               "parent": self._stack[-1]["id"] if self._stack else None,
               "run_id": self.run_id, "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["id"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self._stack[-1]["id"],
                                    self._stack[-1]["name"])
            else:
                self.sc.setJobGroup(f"{self.run_id}.harness", "harness")

    def wall(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name)


def traced_build(spark, cfg, inputs: dict, workdir: str, archive: str,
                 tracer: Tracer) -> dict:
    """Run the pipeline's layers one public call at a time, in pipeline
    order, inside spans. Returns the handles the caller needs for counts
    and kernels; the caller unpersists ``ft``."""
    from pyspark import StorageLevel
    from pyspark.sql import functions as F
    from tilemaker_spark import sinks
    from tilemaker_spark.operators.profile import (features_from_pages,
                                                   features_from_ways)
    from tilemaker_spark.operators.relations import features_from_relations
    from tilemaker_spark.operators.tile_assembly import (assemble_tiles,
                                                         assemble_tiles_salted)
    from tilemaker_spark.operators.tiling import (ancestor_rollup,
                                                  apply_feature_limits,
                                                  bbox_tile_filter,
                                                  cover_clip_explode,
                                                  cover_explode, zoom_gates)

    def force(df, name):
        path = os.path.join(workdir, name)
        df.write.mode("overwrite").parquet(path)
        return spark.read.parquet(path)

    nodes, ways = inputs.get("nodes"), inputs.get("ways")
    relations, extra = inputs.get("relations"), inputs.get("extra_features")
    has_geom = (nodes is not None and ways is not None) or extra is not None
    out = {}
    with tracer.span(ROOT_SPAN):
        with tracer.span("profile"):
            feats = features_from_pages(inputs["pages"]).drop("url", "text")
            if nodes is not None and ways is not None:
                feats = feats.unionByName(features_from_ways(nodes, ways))
                if relations is not None:
                    feats = feats.unionByName(
                        features_from_relations(relations, ways, nodes))
            if extra is not None:
                feats = feats.unionByName(extra, allowMissingColumns=True)
            out["features"] = feats = force(feats, "features")
        is_pt = F.col("geom_type") == 1
        hier = cfg.hierarchical_clip and has_geom
        with tracer.span("tiling.cover"):
            ftp = force(cover_explode(feats.filter(is_pt) if hier else feats,
                                      cfg.basezoom), "feature_tiles")
        if hier:
            with tracer.span("tiling.clip"):
                out["pieces"] = force(
                    cover_clip_explode(feats.filter(~is_pt), cfg.minzoom,
                                       cfg.basezoom,
                                       hires=cfg.high_resolution),
                    "feature_tiles_geom")
        with tracer.span("tiling.rollup"):
            if hier:
                ft = ancestor_rollup(ftp.filter(is_pt), cfg.minzoom,
                                     cfg.basezoom).unionByName(out["pieces"])
            else:
                ft = ancestor_rollup(ftp, cfg.minzoom, cfg.basezoom)
            ft = zoom_gates(ft, {n: (lc.minzoom, lc.maxzoom)
                                 for n, lc in cfg.layers.items()})
            ft = bbox_tile_filter(ft, cfg.bounding_box)
            ft = apply_feature_limits(ft, cfg)
            out["ft"] = ft = ft.persist(StorageLevel.MEMORY_AND_DISK)
            out["ft_rows"] = ft.count()
        with tracer.span("assembly"):
            lazy = (assemble_tiles_salted(ft, cfg) if cfg.hot_tile_salt > 1
                    else assemble_tiles(ft, cfg))
            out["tiles"] = tiles = force(lazy, "tiles")
            for df in getattr(lazy, "_internal_persists", []):
                df.unpersist()
        with tracer.span("sink"):
            out["addressed"] = sinks.write_pmtiles(tiles, archive)
    return out


# ------------------------------------------------ Spark UI REST scrape
# Same endpoints and fields as tools/profile_stage.py, filtered by job
# group instead of by submission time.

_NO_PROXY = urllib.request.build_opener(urllib.request.ProxyHandler({}))


def _get(url: str):
    with _NO_PROXY.open(url, timeout=10) as r:
        return json.loads(r.read().decode())


def _api_base(sc) -> str:
    port = urllib.parse.urlparse(sc.uiWebUrl).port
    return f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"


def stage_metrics(sc, tracer: Tracer, settle_s: float = 10.0) -> dict:
    """{span name: summed stage metrics} for every traced span.

    The UI learns of finished jobs through an asynchronous listener bus,
    so wait until every traced job group shows only finished jobs."""
    base = _api_base(sc)
    groups = {s["id"]: s["name"] for s in tracer.spans}
    deadline = time.time() + settle_s
    while True:
        jobs = [j for j in _get(f"{base}/jobs") if j.get("jobGroup") in groups]
        if all(j["status"] in ("SUCCEEDED", "FAILED") for j in jobs) \
                or time.time() > deadline:
            break
        time.sleep(0.2)
    stage_ids: dict = {}
    for j in jobs:
        stage_ids.setdefault(groups[j["jobGroup"]], set()).update(j["stageIds"])
    stages = {}
    for st in _get(f"{base}/stages?status=complete"):
        stages.setdefault(st["stageId"], []).append(st)
    out = {}
    for name, ids in stage_ids.items():
        agg = {"run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0, "shuffle_read_mb": 0.0,
               "shuffle_write_mb": 0.0, "spill_mb": 0.0, "tasks": 0,
               "task_max_over_median": 0.0}
        heaviest = None
        for sid in ids:
            for st in stages.get(sid, []):
                agg["run_s"] += st["executorRunTime"] / 1e3
                agg["cpu_s"] += st["executorCpuTime"] / 1e9
                agg["gc_s"] += st["jvmGcTime"] / 1e3
                agg["shuffle_read_mb"] += st["shuffleReadBytes"] / 1e6
                agg["shuffle_write_mb"] += st["shuffleWriteBytes"] / 1e6
                agg["spill_mb"] += st["diskBytesSpilled"] / 1e6
                agg["tasks"] += st["numCompleteTasks"]
                if heaviest is None or \
                        st["executorRunTime"] > heaviest["executorRunTime"]:
                    heaviest = st
        if heaviest is not None and heaviest["numCompleteTasks"] > 1:
            q = _get(f"{base}/stages/{heaviest['stageId']}/"
                     f"{heaviest['attemptId']}/taskSummary"
                     "?quantiles=0.5,1.0")
            med, mx = q["duration"]
            agg["task_max_over_median"] = mx / med if med else 0.0
        out[name] = agg
    return out
