"""Tile-build benchmark: one workload per process, closed loop.

    python3 perfbench/run.py --workload points_city --seed 1 --seconds 10 --trace 0

Run from the repository root. One Python process sets up a Spark
session on local[nproc], generates the workload's inputs from --seed,
makes one discarded warm-up build of the full input and then builds
back to back until --seconds of build time have been measured. A
build is what the CLI does: ``TilePipeline.run(...)`` followed by
``sinks.write_pmtiles(...)``. Every build's output is checked outside
the timed window.

--trace 0 prints the end-to-end metrics (medians over the timed
builds). --trace 1 makes, after the warm-up, an untraced build and
then a traced build whose spans wrap each layer's public entry points,
and prints the per-layer metrics. The last line of stdout is one JSON
object: {"correct", "attempted", "failed", "metrics"}. Scratch files live in
.perfbench/ under the repository root; a record of each run, with its
spans, is kept in .perfbench/runs/.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")

END_TO_END = {
    "tiles_per_s": "tiles/s",
    "build_s": "s",
    "setup_s": "s",
    "archive_mb": "MB",
    "success_frac": "ratio",
}

PER_LAYER = {
    "pipeline.features_s": "s",
    "pipeline.feature_tiles_s": "s",
    "pipeline.tiles_s": "s",
    "pipeline.unattributed_s": "s",
    "pipeline.checkpoint_mb": "MB",
    "profile.busy_s": "s",
    "profile.wall_s": "s",
    "profile.rows_out": "count",
    "profile.shuffle_mb": "MB",
    "tiling.busy_s": "s",
    "tiling.wall_s": "s",
    "tiling.rows_out": "count",
    "tiling.vertices_in": "count",
    "tiling.vertices_out": "count",
    "tiling.task_max_over_median": "ratio",
    "tiling.slot_busy_frac": "ratio",
    "assembly.busy_s": "s",
    "assembly.wall_s": "s",
    "assembly.tiles_out": "count",
    "assembly.features_in": "count",
    "assembly.hot_tiles": "count",
    "assembly.shuffle_mb": "MB",
    "assembly.spill_mb": "MB",
    "assembly.task_max_over_median": "ratio",
    "assembly.kernel_us_per_tile": "us",
    "mvt.compress_us_per_tile": "us",
    "mvt.bytes_per_tile": "bytes",
    "geomnp.clip_ns_per_vertex": "ns",
    "sink.write_s": "s",
    "sink.tiles_addressed": "count",
    "sink.unique_frac": "ratio",
    "spark.gc_s": "s",
    "spark.slot_busy_frac": "ratio",
    "spark.shuffle_mb": "MB",
    "spark.spill_mb": "MB",
    "host.nproc": "count",
    "host.load1_start": "load",
    "host.load1_end": "load",
    "host.cpu_probe_rate": "1/s",
    "host.peak_rss_mb": "MB",
    "warmup.first_build_s": "s",
    "trace.overhead_frac": "ratio",
    "trace.span_sum_frac": "ratio",
}

RUN_CAP_S = 150     # stop timing new builds after this much wall time


def _process_start() -> float:
    """Wall-clock time this process started, from /proc."""
    with open("/proc/self/stat") as f:
        ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - (uptime - ticks / os.sysconf("SC_CLK_TCK"))


def _load1() -> float:
    return os.getloadavg()[0]


def cpu_probe(seconds: float = 0.3) -> float:
    """Fixed pure-Python work units per second: the per-core speed the
    host gives this process right now."""
    n = 0
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < seconds:
        acc = 0
        for i in range(10_000):
            acc += i * i % 7
        n += 1
    return n / (time.perf_counter() - t0)


def _configure_env(nproc: int) -> tuple:
    """Point every scratch file Spark, the JVM and Python write at a
    directory of this process under .perfbench/tmp and keep Spark's
    progress bars off the console. Must run before pyspark starts the
    JVM. Returns (master, scratch directory)."""
    tmp = os.path.join(STATE, "tmp", str(os.getpid()))
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--driver-java-options '-XX:-UsePerfData -Djava.io.tmpdir={tmp}' "
        "pyspark-shell")
    return f"local[{nproc}]", tmp


def _peak_rss_mb(jvm_pid: int | None) -> float:
    """Sum of per-process peak RSS (VmHWM) over this process, the JVM
    and the JVM's descendants (the pandas-UDF Python workers)."""
    pids = [os.getpid()]
    if jvm_pid:
        pids.append(jvm_pid)
        children = {}
        for p in os.listdir("/proc"):
            if not p.isdigit():
                continue
            try:
                with open(f"/proc/{p}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
            children.setdefault(ppid, []).append(int(p))
        todo = [jvm_pid]
        while todo:
            kids = children.get(todo.pop(), [])
            pids.extend(kids)
            todo.extend(kids)
    total_kb = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024


def _dir_mb(path: str) -> float:
    total = 0
    for d, _sub, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total / 1e6


class Bench:
    """One workload's run: set-up, builds, checks and metrics."""

    def __init__(self, workload: str, seed: int, seconds: float,
                 nproc: int, master: str, t_start: float):
        import workloads

        self.workload, self.seed = workload, seed
        self.seconds = seconds
        self.nproc, self.master = nproc, master
        self.t_start = t_start
        self.cfg = workloads.config_for(workload)
        self.workdir = os.path.join(STATE, "work",
                                    f"{workload}-{os.getpid()}")
        self.archive = os.path.join(self.workdir, "out.pmtiles")
        self.spark = None
        self.inputs: dict = {}
        self.setup_s = 0.0
        self.attempted = 0
        self.passed = 0
        self.errors: list = []
        self.last_ok = False
        self.last_stats: dict = {}

    # ------------------------------------------------------- set-up
    def setup(self) -> None:
        """Process start to a ready Spark session with the inputs
        generated: interpreter start, imports, the JVM launch, session
        configuration and input generation."""
        from tilemaker_spark.session import get_spark
        import workloads

        self.spark = get_spark(f"perfbench-{self.workload}",
                               master=self.master,
                               shuffle_partitions=2 * self.nproc)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.inputs = workloads.make_inputs(
            self.spark, self.workload, self.seed,
            os.path.join(self.workdir, "inputs"))
        self.setup_s = time.time() - self.t_start

    # ------------------------------------------------------- builds
    def build(self) -> dict | None:
        """One untraced build plus its output check (untimed)."""
        from tilemaker_spark import sinks
        from tilemaker_spark.plans.pipeline import TilePipeline

        bdir = os.path.join(self.workdir, "build")
        shutil.rmtree(bdir, ignore_errors=True)
        self.attempted += 1
        self.last_ok = False
        try:
            pipe = TilePipeline(self.spark, self.cfg, workdir=bdir)
            t0 = time.perf_counter()
            tiles = pipe.run(**self.inputs, force=True)
            t1 = time.perf_counter()
            addressed = sinks.write_pmtiles(tiles, self.archive)
            t2 = time.perf_counter()
            b = {"pipeline_s": t1 - t0, "build_s": t2 - t0,
                 "sink_s": t2 - t1, "tiles": pipe.metrics["tiles"],
                 "addressed": addressed,
                 "archive_bytes": os.path.getsize(self.archive),
                 "stages": {k: v.get("seconds", 0.0) for k, v in
                            pipe.metrics["stages"].items()},
                 "pipeline_total_s": pipe.metrics["total_seconds"],
                 "checkpoint_mb": _dir_mb(bdir)}
            if not self._check(tiles, addressed):
                return None
        except Exception as e:  # a failed build counts against success_frac
            self.errors.append(f"build raised {type(e).__name__}: {e}")
            return None
        return b

    def _check(self, tiles, addressed: int) -> bool:
        import checks

        errors, self.last_stats = checks.check_build(
            self.workload, self.seed, tiles, addressed)
        self.errors.extend(errors)
        self.last_ok = not errors
        self.passed += self.last_ok
        return self.last_ok

    def check_archive(self) -> None:
        """Read back the last build's archive; a failure there fails
        that build."""
        import checks

        if not self.last_ok:
            return
        errors: list = []
        try:
            checks.check_archive(
                self.spark, self.workload, self.seed, self.archive,
                self.cfg.extent, self.cfg.compress == "gzip",
                {z: n for z, (n, _f, _b) in self.last_stats.items()},
                errors)
        except Exception as e:  # an unreadable archive fails the build
            errors.append(f"archive check raised {type(e).__name__}: {e}")
        self.errors.extend(errors)
        self.passed -= bool(errors)

    def timed_builds(self) -> list:
        timed: list = []
        while sum(b["build_s"] for b in timed) < self.seconds \
                and time.time() - self.t_start < RUN_CAP_S:
            b = self.build()
            if b is not None:
                timed.append(b)
        return timed

    # ------------------------------------------------------- results
    def end_to_end(self, timed: list) -> dict:
        med = statistics.median
        return {
            "tiles_per_s": med(b["tiles"] / b["pipeline_s"] for b in timed),
            "build_s": med(b["build_s"] for b in timed),
            "setup_s": self.setup_s,
            "archive_mb": med(b["archive_bytes"] for b in timed) / 1e6,
            "success_frac": 1.0 - self.failed / self.attempted,
        }

    @property
    def failed(self) -> int:
        return self.attempted - self.passed

    def traced(self) -> dict:
        """The traced build, its check, and the counts and kernel
        timings taken from its intermediate results (outside any span).
        """
        import kernels
        import tracing
        from pyspark.sql import functions as F

        tracer = tracing.Tracer(self.spark.sparkContext, uuid.uuid4().hex[:12])
        bdir = os.path.join(self.workdir, "traced")
        shutil.rmtree(bdir, ignore_errors=True)
        self.attempted += 1
        self.last_ok = False
        out = tracing.traced_build(self.spark, self.cfg, self.inputs, bdir,
                                   self.archive, tracer)
        self._check(out["tiles"], out["addressed"])

        def vertices(df):
            if df is None:
                return 0
            v = df.where(F.col("geom_type") != 1).select(
                F.sum(F.size(F.flatten("geom"))).alias("v")).first().v
            return int(v or 0) // 2

        ft = out["ft"]
        n_tiles = sum(n for n, _f, _b in self.last_stats.values())
        try:
            hot = 0
            if self.cfg.hot_tile_salt > 1:
                hot = ft.groupBy("z", "x", "y").count().where(
                    F.col("count") > self.cfg.hot_tile_threshold).count()
            kern = kernels.assembly_kernels(ft, self.cfg, out["ft_rows"],
                                            self.seed)
        finally:
            ft.unpersist()
        return {"tracer": tracer, "out": out, "stats": self.last_stats,
                "n_tiles": n_tiles, "hot": hot,
                "kernels": {**kern, **kernels.clip_kernel()},
                "profile_rows": out["features"].count(),
                "vertices_in": vertices(out["features"]),
                "vertices_out": vertices(out.get("pieces")),
                "unique": _unique_tiles(self.archive)}

    def per_layer(self, t: dict, untraced: list, warmup: dict | None,
                  record: dict) -> dict:
        """Per-layer metrics of the traced build ``t``, against the
        untraced build made just before it."""
        import tracing

        tracer, out, stats = t["tracer"], t["out"], t["stats"]
        kern, n_tiles = t["kernels"], t["n_tiles"]
        stages = tracing.stage_metrics(self.spark.sparkContext, tracer)
        record["stage_metrics"] = stages
        root = next(s for s in tracer.spans if s["name"] == tracing.ROOT_SPAN)
        root_wall = root["end"] - root["start"]

        def layer(name, key):
            return sum(stages.get(s, {}).get(key, 0.0)
                       for s in tracing.LAYER_SPANS[name])

        def layer_wall(name):
            return sum(tracer.wall(s) for s in tracing.LAYER_SPANS[name])

        def skew(name):
            return max((stages.get(s, {}).get("task_max_over_median", 0.0)
                        for s in tracing.LAYER_SPANS[name]), default=0.0)

        med = statistics.median
        stage_med = {k: med(b["stages"].get(k, 0.0) for b in untraced)
                     for k in ("features", "tiles")}
        untraced_build = med(b["build_s"] for b in untraced)
        every = list(stages.values())
        span_sum = sum(layer_wall(n) for n in tracing.LAYER_SPANS)
        tiling_wall = layer_wall("tiling")
        return {
            "pipeline.features_s": stage_med["features"],
            # Stage 2: the point cover plus, where lines or polygons
            # exist, the clipped pieces (feature_tiles_geom)
            "pipeline.feature_tiles_s": med(
                b["stages"]["feature_tiles"]
                + b["stages"].get("feature_tiles_geom", 0.0)
                for b in untraced),
            "pipeline.tiles_s": stage_med["tiles"],
            "pipeline.unattributed_s": med(
                b["pipeline_total_s"] - sum(b["stages"].values())
                for b in untraced),
            "pipeline.checkpoint_mb": med(b["checkpoint_mb"]
                                          for b in untraced),
            "profile.busy_s": layer("profile", "run_s"),
            "profile.wall_s": layer_wall("profile"),
            "profile.rows_out": t["profile_rows"],
            "profile.shuffle_mb": layer("profile", "shuffle_write_mb"),
            "tiling.busy_s": layer("tiling", "run_s"),
            "tiling.wall_s": tiling_wall,
            "tiling.rows_out": out["ft_rows"],
            "tiling.vertices_in": t["vertices_in"],
            "tiling.vertices_out": t["vertices_out"],
            "tiling.task_max_over_median": skew("tiling"),
            "tiling.slot_busy_frac": layer("tiling", "run_s")
            / (tiling_wall * self.nproc),
            "assembly.busy_s": layer("assembly", "run_s"),
            "assembly.wall_s": layer_wall("assembly"),
            "assembly.tiles_out": n_tiles,
            "assembly.features_in": out["ft_rows"],
            "assembly.hot_tiles": t["hot"],
            "assembly.shuffle_mb": layer("assembly", "shuffle_write_mb"),
            "assembly.spill_mb": layer("assembly", "spill_mb"),
            "assembly.task_max_over_median": skew("assembly"),
            "assembly.kernel_us_per_tile": kern["kernel_us_per_tile"],
            "mvt.compress_us_per_tile": kern["compress_us_per_tile"],
            "mvt.bytes_per_tile": sum(b for _n, _f, b in stats.values())
            / max(n_tiles, 1),
            "geomnp.clip_ns_per_vertex": kern["clip_ns_per_vertex"],
            "sink.write_s": layer_wall("sink"),
            "sink.tiles_addressed": out["addressed"],
            "sink.unique_frac": t["unique"] / max(out["addressed"], 1),
            "spark.gc_s": sum(v["gc_s"] for v in every),
            "spark.slot_busy_frac": sum(v["run_s"] for v in every)
            / (root_wall * self.nproc),
            "spark.shuffle_mb": sum(v["shuffle_write_mb"] for v in every),
            "spark.spill_mb": sum(v["spill_mb"] for v in every),
            "host.nproc": self.nproc,
            "host.load1_start": record["load1_start"],
            "host.cpu_probe_rate": record["cpu_probe_rate"],
            "host.peak_rss_mb": _peak_rss_mb(_jvm_pid(self.spark)),
            "warmup.first_build_s": warmup["build_s"],
            "trace.overhead_frac": root_wall / untraced_build - 1.0,
            "trace.span_sum_frac": span_sum / untraced_build,
        }

    def close(self) -> None:
        if self.spark is not None:
            jvm = getattr(self.spark.sparkContext._gateway, "proc", None)
            self.spark.stop()
            self.spark.sparkContext._gateway.shutdown()
            if jvm is not None:
                jvm.stdin.close()
                try:
                    jvm.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    jvm.kill()
                    jvm.wait()
        shutil.rmtree(self.workdir, ignore_errors=True)


def _jvm_pid(spark) -> int | None:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def _unique_tiles(path: str) -> int:
    """Unique tile contents stored in a PMTiles v3 archive (header
    field tile_contents_count)."""
    import struct
    with open(path, "rb") as f:
        header = f.read(127)
    return struct.unpack_from("<Q", header, 88)[0]


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    t_start = _process_start()

    sys.path.insert(0, HERE)
    import workloads

    if args.workload not in workloads.NAMES:
        print(f"unknown workload {args.workload!r}; choose from "
              f"{', '.join(workloads.NAMES)}", file=sys.stderr)
        return 2
    if not os.path.isdir(os.path.join(ROOT, "tilemaker_spark")):
        print("tilemaker_spark/ not found next to perfbench/: run from a "
              "full checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    nproc = len(os.sched_getaffinity(0))
    master, tmp = _configure_env(nproc)
    record = {"workload": args.workload, "seed": args.seed,
              "trace": args.trace, "master": master, "nproc": nproc,
              "load1_start": _load1()}
    bench = Bench(args.workload, args.seed, args.seconds, nproc, master,
                  t_start)
    metrics: dict = {}
    try:
        bench.setup()
        record["cpu_probe_rate"] = cpu_probe()
        t0 = time.time()
        # the process's first build loads classes, generates code and
        # starts the Python workers; the next builds run near steady
        # speed
        warmup = bench.build()
        record["warmup_with_check_s"] = time.time() - t0
        if args.trace:
            # the untraced build to compare with is the process's second,
            # like the timed build of an untraced run
            base = bench.build()
            try:
                traced = bench.traced()
            except Exception as e:  # reported as an incorrect run
                bench.errors.append(
                    f"traced build raised {type(e).__name__}: {e}")
                traced = None
            untraced = [base] if base else []
            if traced and untraced and warmup:
                record.update(spans=traced["tracer"].spans,
                              kernels=traced["kernels"])
                try:
                    metrics = bench.per_layer(traced, untraced, warmup,
                                              record)
                except Exception as e:  # e.g. the Spark UI did not answer
                    bench.errors.append(
                        f"per-layer metrics raised {type(e).__name__}: {e}")
        else:
            timed = bench.timed_builds()
            if timed:
                metrics = bench.end_to_end(timed)
                record["builds"] = timed
        t0 = time.time()
        bench.check_archive()
        record["archive_check_s"] = time.time() - t0
        record["load1_end"] = _load1()
        if args.trace:
            metrics["host.load1_end"] = record["load1_end"]
    finally:
        bench.close()
        shutil.rmtree(tmp, ignore_errors=True)
    record.update(setup_s=bench.setup_s, attempted=bench.attempted,
                  failed=bench.failed, errors=bench.errors)
    os.makedirs(os.path.join(STATE, "runs"), exist_ok=True)
    rec_path = os.path.join(
        STATE, "runs",
        f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}.json")
    with open(rec_path, "w") as f:
        json.dump(record, f, indent=1, default=str)
    for e in bench.errors:
        print(f"check failed: {e}", file=sys.stderr)

    wanted = PER_LAYER if args.trace else END_TO_END
    correct = not bench.errors and all(k in metrics for k in wanted)
    print(json.dumps({"master": master, "nproc": nproc,
                      "load1_start": record["load1_start"],
                      "load1_end": record.get("load1_end"),
                      "cpu_probe_rate": record.get("cpu_probe_rate"),
                      "record": os.path.relpath(rec_path, ROOT)}))
    print(json.dumps({
        "correct": correct, "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": unit}
                    for k, unit in wanted.items() if k in metrics}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
