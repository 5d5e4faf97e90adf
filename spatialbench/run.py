#!/usr/bin/env python3
"""Benchmark of esri_dump_spark's spatial-join, tiling and extraction
jobs, each timed with its full result materialized.

Usage (from the repository root):

    python3 spatialbench/run.py --workload pip_blobs --seed 1 \
        --seconds 10 --trace 0

``--workload`` is one of pip_blobs, pip_parcels, extract_polygons, or
``all`` (the three in turn, in one process and one Spark session).
Each workload is a closed loop with one client: the next job starts
when the previous one has returned. Inputs are generated from
``--seed``; the program only receives the generated tables. Every
iteration's output is checked against a reference computed by
``reference.py``, which does not use the package under test, and
against the job's own SQL metrics (the materialization guard).

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` is the
separate traced run: it alternates untraced and traced iterations (the
difference of their medians is the tracing overhead), then runs the
layer prefix jobs and the kernel microbenchmarks, and reports the
per-layer metrics. Spans are kept in memory and written with the full
record under ``.benchwork/records/``.

The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; the line before it
names every metric with its unit and gives the record's path.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import importlib.util  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402
from datetime import datetime, timezone  # noqa: E402
from pathlib import Path  # noqa: E402
from types import SimpleNamespace  # noqa: E402

import numpy as np  # noqa: E402

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
WORK_ROOT = ROOT / ".benchwork"
sys.path.insert(0, str(BENCH_DIR))

import reference as ref  # noqa: E402
from sqlmetrics import SqlMetricsReader  # noqa: E402

WORKLOADS = ("pip_blobs", "pip_parcels", "extract_polygons")
# input sizes at --scale 1; see README.md for why each was chosen
BLOB_POINTS = 2_000_000
# few enough files to write quickly, as many as still pack the scan
# into ~5 tasks (the default 128 files pack the same way)
BLOB_FILES = 16
PARCEL_POINTS = 100_000
EXTRACT_FEATURES = 25_000
PAGE_SIZE = 1000
# pages of the extraction probe in traced runs of the pip workloads
PROBE_PAGES = 3
IMAGE_FILES = 8
TILE_Z = 13
# the JVM and the Python workers reach steady speed only after a few
# jobs: the first is 2-3x slower, the second and third ~1.3x and ~1.1x.
# One warm-up keeps a run within the time budget; the median of the
# timed jobs then sits near the third job of the process.
WARMUP_ITERS = 1
MIN_TIMED = 3
MIN_TRACED = 4
# scripts/job_spatial_tiles.py joins and tiles at these settings; the
# parcel prefix jobs must use the same ones to add up to the job
JOB_RES = 11


# ---------------------------------------------------------------- host

def host_facts() -> dict:
    import pyarrow
    import pyspark
    mem_kb = None
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    commit = None
    head = ROOT / ".git" / "HEAD"
    if head.is_file():
        text = head.read_text().strip()
        if text.startswith("ref: "):
            ref_file = ROOT / ".git" / text[5:]
            commit = ref_file.read_text().strip() if ref_file.is_file() \
                else None
        else:
            commit = text
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_mb": round(mem_kb / 1024) if mem_kb else None,
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "numpy": np.__version__,
        "pyarrow": pyarrow.__version__,
        "git_commit": commit,
        "platform": platform.platform(),
    }


class RssSampler:
    """Peak resident memory of this process's descendants (the Spark
    JVM and its Python workers), sampled from /proc: of all of them
    together, and of the Python workers alone."""

    def __init__(self, interval: float = 0.2):
        self._interval = interval
        self._stop = threading.Event()
        self._lock = threading.Lock()
        self._peak = (0, 0)
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def descendants(self) -> list[int]:
        children: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            ppid = int(stat.rsplit(")", 1)[1].split()[1])
            children.setdefault(ppid, []).append(int(d))
        out, stack = [], list(children.get(os.getpid(), []))
        while stack:
            p = stack.pop()
            out.append(p)
            stack.extend(children.get(p, []))
        return out

    def sample(self) -> tuple[int, int]:
        """(bytes resident in all descendants, in the Python ones)."""
        total = python = 0
        for pid in self.descendants():
            try:
                with open(f"/proc/{pid}/statm") as f:
                    rss = int(f.read().split()[1]) * self._page
                with open(f"/proc/{pid}/comm") as f:
                    is_python = f.read().startswith("python")
            except OSError:
                continue
            total += rss
            python += rss if is_python else 0
        return total, python

    def _run(self):
        while not self._stop.is_set():
            rss = self.sample()
            with self._lock:
                self._peak = tuple(map(max, self._peak, rss))
            self._stop.wait(self._interval)

    def take_peak_mb(self) -> tuple[float, float]:
        """Peaks since the previous call, in MiB; restarts them."""
        with self._lock:
            peak, self._peak = self._peak, (0, 0)
        return tuple(v / (1 << 20) for v in map(max, peak, self.sample()))


class Tracer:
    """Spans (name, start, end, parent) kept in memory; ``enabled``
    switches recording off for the untraced iterations."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter() - T_START, "end": None}
        rec.update(attrs)
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - T_START


# ------------------------------------------------------------- session

def start_session(work: Path, cores: int):
    from esri_dump_spark.session import get_spark
    local = work / "spark-local"
    local.mkdir(parents=True, exist_ok=True)
    return get_spark(
        app_name="spatialbench", cores=cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": str(local),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.driver.extraJavaOptions": f"-Dderby.system.home={work}",
        })


def stop_session(spark, sampler: RssSampler) -> None:
    """Stop Spark, then the JVM, and wait until every process the
    session started has exited."""
    from py4j.protocol import Py4JError
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        with contextlib.suppress(Py4JError):
            gateway.shutdown()
    if proc is not None:
        # the gateway JVM exits when its stdin closes
        with contextlib.suppress(OSError):
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while sampler.descendants() and time.monotonic() < deadline:
        time.sleep(0.1)


def noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def tile_rollup(joined):
    import pyspark.sql.functions as F
    from esri_dump_spark.operators.tiles import assign_tiles
    return assign_tiles(joined, z=TILE_Z).groupBy("poly_id", "tile_id") \
        .agg(F.count(F.lit(1)).alias("n"))


def load_job_module():
    spec = importlib.util.spec_from_file_location(
        "job_spatial_tiles", ROOT / "scripts" / "job_spatial_tiles.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


# ------------------------------------------------------------- counters

PY_RUN = "time to run Python workers"
AGGREGATES = ("HashAggregate", "SortAggregate", "ObjectHashAggregate")


def job_counters(plans) -> dict:
    """Layer counters of one job from the SQL executions it ran."""
    c = {"join.points_in": 0, "join.candidates": 0, "join.matched": 0,
         "arrow.rows_to_python": 0, "arrow.bytes_to_python": 0.0,
         "arrow.bytes_from_python": 0.0, "python.run_s": 0.0,
         "python.init_s": 0.0, "tiles.groups": 0,
         "spark.shuffle_bytes": 0.0, "extract.pages": 0,
         "extract.tasks": 0, "extract.rows_out": 0,
         "sink.files": 0, "sink.bytes": 0.0}
    for plan in plans:
        for n in plan.nodes.values():
            if n.name == "Exchange":
                c["spark.shuffle_bytes"] += n.get("shuffle bytes written")
            if "number of written files" in n.metrics:
                c["sink.files"] += int(n.get("number of written files"))
                c["sink.bytes"] += n.get("written output")
            if PY_RUN not in n.metrics:
                continue
            c["python.run_s"] += n.get(PY_RUN)
            c["python.init_s"] += n.get("time to initialize Python workers")
            c["arrow.bytes_to_python"] += n.get("data sent to Python workers")
            c["arrow.bytes_from_python"] += \
                n.get("data returned from Python workers")
        for ev in plan.find(lambda n: n.name in ("ArrowEvalPython",
                                                 "BatchEvalPython")):
            # a scalar UDF returns one row per row it is sent
            c["arrow.rows_to_python"] += int(ev.get("number of output rows"))
            joins = plan.descend(ev, lambda n: "Join" in n.name)
            if joins:
                join = joins[0]
                c["join.candidates"] += int(join.get("number of output rows"))
                # the point table is normally the larger input of the
                # join, whichever side the planner broadcasts
                c["scan_rows"] = sorted(
                    int(s.get("number of output rows")) for s in
                    plan.descend(join, lambda n: n.name.startswith("Scan")))
                c["join.points_in"] += max(c["scan_rows"], default=0)
            up = ev.parent
            final_agg = None
            while up is not None:
                node = plan.nodes[up]
                if node.name == "Filter" and c["join.matched"] == 0:
                    c["join.matched"] += int(node.get("number of output rows"))
                if node.name in AGGREGATES:
                    final_agg = node
                up = node.parent
            if final_agg is not None:
                c["tiles.groups"] += int(final_agg.get("number of output rows"))
    return c


def extract_counters(plans, c: dict) -> None:
    """Pages, tasks and decoded rows of the page-decode node."""
    for plan in plans:
        for mip in plan.find(lambda n: n.name == "MapInPandas"):
            c["extract.rows_out"] += int(mip.get("number of output rows"))
            ex = plan.descend(mip, lambda n: n.name == "Exchange")
            if ex:
                c["extract.tasks"] += int(ex[0].get("number of partitions"))
                c["extract.pages"] += int(ex[0].get("records read"))


# ------------------------------------------------------------ workloads

class Workload:
    name = ""
    rows = 0

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.work = ctx.work / self.name

    def out_dir(self, k) -> str:
        return str(self.work / "out" / f"iter{k}")


class PipBlobs(Workload):
    """North-star job as a user calls it: default resolution, the
    polygon dimension built inside the call, a noop sink."""
    name = "pip_blobs"

    def setup(self):
        from esri_dump_spark.sources.fixtures import (
            bench_polygons_pdf, ensure_points_parquet)
        self.rows = int(BLOB_POINTS * self.ctx.scale)
        self.path = ensure_points_parquet(self.spark, self.rows,
                                          seed=self.ctx.seed,
                                          n_files=BLOB_FILES)
        self.polys = bench_polygons_pdf()
        self.scan_tasks = self.spark.read.parquet(self.path) \
            .rdd.getNumPartitions()

    def reference(self):
        import pyarrow.parquet as pq
        t = pq.read_table(self.path, columns=["lon", "lat"])
        polys = [(int(r.poly_id), json.loads(r.rings_json))
                 for r in self.polys.itertuples(index=False)]
        pid, tid, n = ref.pip_tile_counts(
            t.column("lon").to_numpy(), t.column("lat").to_numpy(),
            polys, TILE_Z)
        self.expected = {"groups": len(n), "matched": int(n.sum()),
                         "checksum": ref.group_checksum(pid, tid, n)}

    def run(self, k):
        import pyspark.sql.functions as F
        from pyspark.sql import Observation
        from esri_dump_spark.operators.spatial_join import \
            point_in_polygon_join
        obs = Observation(f"blobs{k}")
        out = tile_rollup(point_in_polygon_join(
            self.spark.read.parquet(self.path), self.polys))
        key = (F.col("poly_id") * 1_000_003 + F.col("tile_id")) \
            % 2_147_483_647
        noop_write(out.observe(
            obs, F.count(F.lit(1)).alias("groups"),
            F.sum("n").alias("matched"),
            F.sum(key * F.col("n")).alias("checksum")))
        return obs

    def check(self, k, obs, c) -> list[str]:
        got = obs.get
        errs = [f"{key}: got {got.get(key)} want {want}"
                for key, want in self.expected.items()
                if got.get(key) != want]
        return errs + pip_guard(c, self.rows)

    def prefix_jobs(self):
        return blob_chain(self.spark,
                          lambda: self.spark.read.parquet(self.path),
                          self.polys)


def blob_chain(spark, pts, polys):
    """Prefix jobs of ``point_in_polygon_join`` over the points ``pts()``
    returns: scan, +cell id, +broadcast cover join, +ray-cast refine,
    +tiles and rollup."""
    import pyspark.sql.functions as F
    from esri_dump_spark.operators.spatial_join import (
        attach_cell, point_in_polygon_join, polygon_cell_index)
    return [
        ("scan", pts),
        ("cell", lambda: attach_cell(pts())),
        ("join", lambda: attach_cell(pts()).join(
            F.broadcast(polygon_cell_index(spark, polys)), "cell")),
        ("refine", lambda: point_in_polygon_join(pts(), polys)),
        ("tiles_rollup", lambda: tile_rollup(
            point_in_polygon_join(pts(), polys))),
    ]


def pip_guard(c: dict, rows: int) -> list[str]:
    """The timed job really scanned every point and sent every
    candidate through the Python refine."""
    errs = []
    if rows not in c.get("scan_rows", ()):
        errs.append(f"no scan of all {rows} input points under the join: "
                    f"{c.get('scan_rows')}")
    if c["join.candidates"] <= 0 \
            or c["arrow.rows_to_python"] != c["join.candidates"]:
        errs.append(f"rows to Python {c['arrow.rows_to_python']} != "
                    f"candidates {c['join.candidates']}")
    return errs


class PipParcels(Workload):
    """The spark-submit job over a many-polygon parquet dimension:
    executor-side cover, distributed join, tiles, and the resumable
    parquet sink with lineage rows and a commit marker."""
    name = "pip_parcels"

    def setup(self):
        import pandas as pd
        import pyarrow as pa
        import pyarrow.parquet as pq
        from esri_dump_spark.sources.fixtures import ensure_points_parquet
        self.rows = int(PARCEL_POINTS * self.ctx.scale)
        src = ensure_points_parquet(self.spark, self.rows,
                                    seed=self.ctx.seed, n_files=IMAGE_FILES)
        # the job's resume unit is the input file: write the image
        # table as IMAGE_FILES parts, ids formatted like images_pdf's
        self.images = str(self.work / "images.parquet")
        pts = pq.read_table(src, columns=["id", "lon", "lat"]) \
            .sort_by("id")
        image_id = np.char.add("img", np.char.zfill(
            pts.column("id").to_numpy().astype(str), 12))
        table = pa.table({"image_id": image_id,
                          "lon": pts.column("lon"),
                          "lat": pts.column("lat")})
        os.makedirs(self.images)
        step = math.ceil(len(table) / IMAGE_FILES)
        for i in range(IMAGE_FILES):
            pq.write_table(table.slice(i * step, step),
                           f"{self.images}/part-{i:03d}.parquet")
        self.parcels = ref.parcels(self.ctx.seed)
        self.parcels_path = str(self.work / "parcels.parquet")
        pd.DataFrame(self.parcels, columns=["poly_id", "rings_json"]) \
            .to_parquet(self.parcels_path, index=False)
        self.scan_tasks = self.spark.read.parquet(self.images) \
            .rdd.getNumPartitions()
        self.job = load_job_module()

    def reference(self):
        import pyarrow.parquet as pq
        t = pq.read_table(self.images, columns=["lon", "lat"])
        polys = [(pid, json.loads(rj)) for pid, rj in self.parcels]
        self.expected = ref.pip_tile_counts(
            t.column("lon").to_numpy(), t.column("lat").to_numpy(),
            polys, TILE_Z)

    def run(self, k):
        return self.job.run(self.spark, self.images, self.out_dir(k),
                            f"bench{k}", self.parcels_path)

    def check(self, k, result, c) -> list[str]:
        import pyarrow.parquet as pq
        out = Path(self.out_dir(k))
        errs = pip_guard(c, self.rows)
        if not list((out / "_lineage").glob(f"committed-bench{k}-*.marker")):
            errs.append("no commit marker")
        t = pq.read_table(str(out / "assignments")).to_pandas() \
            .sort_values(["poly_id", "tile_id"])
        pid, tid, n = self.expected
        if not (len(t) == len(n)
                and np.array_equal(t["poly_id"].to_numpy(), pid)
                and np.array_equal(t["tile_id"].to_numpy(), tid)
                and np.array_equal(t["n"].to_numpy(), n)):
            errs.append(f"assignments differ: {len(t)} groups, "
                        f"want {len(n)}")
        if result["metrics"].get("n_rows") != len(n):
            errs.append(f"job reported {result['metrics']} groups")
        shutil.rmtree(out, ignore_errors=True)
        return errs

    def prefix_jobs(self):
        from esri_dump_spark.operators.spatial_join import (
            attach_cell, point_in_polygon_join_dist, polygon_cover_df)
        imgs = lambda: self.spark.read.parquet(self.images)  # noqa: E731
        polys = lambda: self.spark.read.parquet(self.parcels_path)  # noqa: E731
        refine = lambda: point_in_polygon_join_dist(  # noqa: E731
            imgs(), polys(), res=JOB_RES, id_col="image_id")
        return [
            ("scan", imgs),
            ("cell", lambda: attach_cell(imgs(), res=JOB_RES)),
            ("join", lambda: attach_cell(imgs(), res=JOB_RES).join(
                polygon_cover_df(polys(), JOB_RES), "cell")),
            ("refine", refine),
            ("tiles_rollup", lambda: tile_rollup(refine())),
        ]


class ExtractPolygons(Workload):
    """The reference's pipeline: paged scan of a synthetic polygon
    FeatureServer, per-feature decode and rewind, JSONL sink."""
    name = "extract_polygons"

    def setup(self):
        from esri_dump_spark.sources.feature_server import \
            SyntheticFeatureServer
        self.rows = int(EXTRACT_FEATURES * self.ctx.scale)
        self.server = SyntheticFeatureServer(
            n_features=self.rows, geometry_type="esriGeometryPolygon",
            max_record_count=PAGE_SIZE, seed=self.ctx.seed)
        self.scan_tasks = math.ceil(self.rows / PAGE_SIZE)

    def reference(self):
        self.expected_ids, self.expected_rings = \
            ref.extract_expected(self.rows)

    def run(self, k):
        from esri_dump_spark.operators.extract import extract
        from esri_dump_spark.operators.sinks import write_jsonl
        write_jsonl(extract(self.spark, self.server, approach="iter"),
                    self.out_dir(k))

    def check(self, k, result, c) -> list[str]:
        out = Path(self.out_dir(k))
        errs = []
        pages = math.ceil(self.rows / PAGE_SIZE)
        if c["extract.pages"] != pages:
            errs.append(f"pages decoded {c['extract.pages']} != {pages}")
        if c["extract.rows_out"] != len(self.expected_ids):
            errs.append(f"decoded rows {c['extract.rows_out']} != "
                        f"{len(self.expected_ids)}")
        ids, nrings, bad = [], [], 0
        for part in sorted(out.glob("part-*")):
            with open(part) as f:
                for line in f:
                    doc = json.loads(line)
                    geom = doc.get("geometry") or {}
                    if doc.get("type") != "Feature" \
                            or geom.get("type") != "Polygon":
                        bad += 1
                    ids.append(doc.get("id"))
                    nrings.append(len(geom.get("coordinates") or []))
        order = np.argsort(np.asarray(ids, dtype=np.int64))
        if bad or not (
                np.array_equal(np.asarray(ids, np.int64)[order],
                               self.expected_ids)
                and np.array_equal(np.asarray(nrings)[order],
                                   self.expected_rings)):
            errs.append(f"features differ: {len(ids)} lines, {bad} "
                        f"malformed, want {len(self.expected_ids)}")
        shutil.rmtree(out, ignore_errors=True)
        return errs

    def prefix_jobs(self):
        # extract's own layers cannot be separated through its public
        # call; the north-star chain runs over the extracted features'
        # representative points instead (documented in README.md)
        from esri_dump_spark.operators.extract import extract
        from esri_dump_spark.sources.fixtures import bench_polygons_pdf
        path = str(self.work / "extract_points.parquet")
        source = ("source", lambda: extract(self.spark, self.server)
                  .select("id", "lon", "lat"), path)
        return [source] + blob_chain(
            self.spark, lambda: self.spark.read.parquet(path),
            bench_polygons_pdf())


WORKLOAD_CLASSES = {w.name: w for w in (PipBlobs, PipParcels,
                                        ExtractPolygons)}


# --------------------------------------------------------- measurement

def quartiles(xs: list[float]) -> dict:
    xs = sorted(xs)
    if len(xs) >= 2:
        q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    else:
        q1 = med = q3 = xs[0]
    return {"median": med, "q1": q1, "q3": q3, "n": len(xs),
            "min": xs[0], "max": xs[-1]}


def timed_iteration(ctx, wl, k: int, traced: bool) -> dict:
    """One job, timed from building its DataFrame to the sink's
    return; checked afterwards, outside the timed region."""
    tracer = ctx.tracer
    tracer.enabled = traced
    rec = {"k": k, "traced": traced, "ok": False, "errors": []}
    tasks0, busy0 = ctx.sql.task_totals()
    ctx.sql.new_plans()
    with tracer.span("job", workload=wl.name, k=k) as span:
        t0 = time.perf_counter()
        try:
            result = wl.run(k)
        except Exception:
            rec["errors"].append(traceback.format_exc(limit=3))
        rec["job_s"] = time.perf_counter() - t0
        with tracer.span("sql_metrics_read"):
            plans = ctx.sql.new_plans()
            tasks1, busy1 = ctx.sql.task_totals()
    tracer.enabled = ctx.trace
    c = job_counters(plans)
    if wl.name == "extract_polygons":
        extract_counters(plans, c)
    c["spark.tasks"] = tasks1 - tasks0
    c["spark.core_busy_frac"] = (busy1 - busy0) / (rec["job_s"] * ctx.cores)
    rec["counters"] = c
    if span is not None:
        span["counts"] = {key: c[key] for key in (
            "join.points_in", "join.candidates", "arrow.rows_to_python",
            "join.matched", "tiles.groups", "extract.pages",
            "extract.rows_out", "spark.tasks")}
    if not rec["errors"]:
        try:
            rec["errors"] += wl.check(k, result, c)
        except Exception:
            rec["errors"].append(traceback.format_exc(limit=3))
    rec["ok"] = not rec["errors"]
    return rec


def run_prefix_jobs(ctx, wl) -> dict:
    """Each prefix job adds one layer to the one before it, and the last
    step is the whole job; a layer's time is what it adds. Each step
    runs once, to keep a traced run well inside its time limit, so a
    small layer can read negative."""
    times: dict[str, float] = {}
    for step in wl.prefix_jobs() + [("job", None)]:
        name = step[0]
        with ctx.tracer.span(f"prefix.{name}"):
            t0 = time.perf_counter()
            if name == "job":
                wl.run("prefix")
            elif len(step) == 3:
                step[1]().write.mode("overwrite").parquet(step[2])
            else:
                noop_write(step[1]())
            times[name] = time.perf_counter() - t0
        ctx.sql.new_plans()
    return times


def kernel_microbench(ctx) -> dict:
    from esri_dump_spark.kernels.cells import polygon_cover
    from esri_dump_spark.kernels.rewind import rewind
    from esri_dump_spark.kernels.rings import (
        points_in_polygon, points_in_ring, rings_to_geojson)
    from esri_dump_spark.operators.spatial_join import DEFAULT_RES
    from esri_dump_spark.sources.feature_server import SyntheticFeatureServer
    from esri_dump_spark.sources.fixtures import bench_polygons_pdf
    rng = np.random.default_rng(ctx.seed)
    blobs = [np.asarray(json.loads(rj)[0], np.float64)
             for rj in bench_polygons_pdf()["rings_json"]]
    out = {}

    def median_time(fn, reps):
        ts = []
        for _ in range(reps):
            t0 = time.perf_counter()
            fn()
            ts.append(time.perf_counter() - t0)
        return statistics.median(ts)

    with ctx.tracer.span("micro.rings"):
        ring = blobs[0]
        lo, hi = ring.min(axis=0), ring.max(axis=0)
        pts = lo + (hi - lo) * rng.random((65_536, 2))
        edges = ring.shape[0] - 1
        t = median_time(lambda: points_in_ring(pts, ring), 5)
        out["rings.ns_per_point_edge"] = t / (65_536 * edges) * 1e9
        sq = np.array([[0, 0], [0, 1], [0.5, 1.2], [1, 1], [1, 0],
                       [0.6, -0.2], [0.3, 0.1], [0.1, -0.1], [0, 0]],
                      np.float64)
        few = rng.random((26, 2))
        calls = 200
        t = median_time(lambda: [points_in_polygon(few, [sq])
                             for _ in range(calls)], 5)
        out["rings.us_per_call"] = t / calls * 1e6

    server = SyntheticFeatureServer(n_features=3 * PAGE_SIZE,
                                    geometry_type="esriGeometryPolygon",
                                    max_record_count=PAGE_SIZE,
                                    seed=ctx.seed)
    with ctx.tracer.span("micro.feature_server"):
        page_us, geo_us = [], []
        for off in range(0, 3 * PAGE_SIZE, PAGE_SIZE):
            t0 = time.perf_counter()
            feats = server.query_page(off)
            page_us.append((time.perf_counter() - t0) / len(feats) * 1e6)
            geoms = [f for f in feats if f["geometry"]]
            t0 = time.perf_counter()
            for f in geoms:
                rewind({"type": "Feature", "properties": {},
                        "geometry": rings_to_geojson(f["geometry"]["rings"])})
            geo_us.append((time.perf_counter() - t0) / len(geoms) * 1e6)
        out["feature_server.page_us_per_feature"] = statistics.median(page_us)
        out["rings.geojson_us_per_feature"] = statistics.median(geo_us)

    with ctx.tracer.span("micro.cells_cover"):
        t0 = time.perf_counter()
        cells = sum(polygon_cover([b], DEFAULT_RES).size for b in blobs)
        out["cells.cover_s"] = time.perf_counter() - t0
        out["cells.cover_cells"] = cells
    return out


def extract_probe(ctx, wl) -> dict:
    """operators.extract counters from a small paged extraction, for
    the workloads whose own job runs no extraction."""
    from esri_dump_spark.operators.extract import extract
    from esri_dump_spark.operators.sinks import write_jsonl
    from esri_dump_spark.sources.feature_server import SyntheticFeatureServer
    server = SyntheticFeatureServer(n_features=PROBE_PAGES * PAGE_SIZE,
                                    geometry_type="esriGeometryPolygon",
                                    max_record_count=PAGE_SIZE,
                                    seed=ctx.seed)
    with ctx.tracer.span("probe.extract"):
        ctx.sql.new_plans()
        write_jsonl(extract(ctx.spark, server), wl.out_dir("probe"))
        c = {k: 0 for k in ("extract.pages", "extract.tasks",
                            "extract.rows_out")}
        extract_counters(ctx.sql.new_plans(), c)
    return c


def run_workload(ctx, name: str) -> dict:
    tracer = ctx.tracer
    wl = WORKLOAD_CLASSES[name](ctx)
    wl.work.mkdir(parents=True, exist_ok=True)
    ctx.sampler.take_peak_mb()
    t_setup = time.perf_counter()
    with tracer.span("input_gen", workload=name):
        wl.setup()
    input_gen_s = time.perf_counter() - t_setup
    with tracer.span("reference", workload=name):
        t0 = time.perf_counter()
        wl.reference()
        reference_s = time.perf_counter() - t0
    with tracer.span("warmup", workload=name):
        warm = [timed_iteration(ctx, wl, -k, ctx.trace)
                for k in range(WARMUP_ITERS, 0, -1)]
    # set-up: process start to a started session, then this
    # workload's start to its first timed job, less the benchmark's
    # own reference computation
    setup_s = ctx.session_ready - ctx.t0 \
        + time.perf_counter() - t_setup - reference_s
    iters = []
    t_loop = time.perf_counter()
    k = 1
    # a median needs a few jobs even when one outlasts the window;
    # the traced run alternates untraced and traced jobs
    min_iters = MIN_TRACED if ctx.trace else MIN_TIMED
    while len(iters) < min_iters \
            or time.perf_counter() - t_loop < ctx.seconds:
        traced = ctx.trace and k % 2 == 0
        iters.append(timed_iteration(ctx, wl, k, traced))
        k += 1
    loop_s = time.perf_counter() - t_loop
    peak_mb, python_mb = ctx.sampler.take_peak_mb()

    failed = sum(not it["ok"] for it in iters)
    job = quartiles([it["job_s"] for it in iters])
    e2e = {
        "job_s": job["median"],
        "rows_per_s": wl.rows / job["median"],
        "setup_s": setup_s,
        "peak_rss_mb": peak_mb,
        "python_rss_mb": python_mb,
        "fail_frac": failed / len(iters),
    }
    rec = {
        "workload": name, "rows": wl.rows, "warmup": warm,
        "setup": {"session_start_s": ctx.session_start_s,
                  "input_gen_s": input_gen_s, "reference_s": reference_s,
                  "warmup_s": [w["job_s"] for w in warm],
                  "setup_s": setup_s},
        "loop_s": loop_s, "job_s": job, "end_to_end": e2e,
        "attempted": len(iters), "failed": failed,
        "iterations": iters,
    }
    rec["failed"] += sum(not w["ok"] for w in warm)
    rec["attempted"] += len(warm)
    if ctx.trace:
        rec["per_layer"] = per_layer(ctx, wl, iters, input_gen_s)
        rec["per_layer"]["mem.peak_rss_mb"] = peak_mb
        rec["per_layer"]["mem.python_rss_mb"] = python_mb
    shutil.rmtree(wl.work, ignore_errors=True)
    return rec


def per_layer(ctx, wl, iters, input_gen_s) -> dict:
    traced = [it for it in iters if it["traced"]]
    untraced = [it for it in iters if not it["traced"]]
    last = traced[-1]["counters"]
    pl = {"session.start_s": ctx.session_start_s,
          "sources.input_gen_s": input_gen_s}
    pl.update(kernel_microbench(ctx))
    pl.update((k, v) for k, v in last.items() if "." in k)
    for key in ("python.run_s", "python.init_s", "spark.core_busy_frac"):
        pl[key] = statistics.median(it["counters"][key] for it in traced)
    pl["join.amplification"] = (last["join.candidates"]
                                / last["join.points_in"]
                                if last["join.points_in"] else 0.0)
    pl["join.selectivity"] = (last["join.matched"] / last["join.candidates"]
                              if last["join.candidates"] else 0.0)
    pl["spark.scan_tasks"] = wl.scan_tasks
    if not last["extract.pages"]:
        pl.update(extract_probe(ctx, wl))
    prefix = run_prefix_jobs(ctx, wl)
    chain = ["scan", "cell", "join", "refine", "tiles_rollup"]
    prev = 0.0
    for name in chain:
        pl[f"layer.{name}_s"] = prefix[name] - prev
        prev = prefix[name]
    # the sink layer is what the whole job adds to its last prefix
    pl["layer.sink_s"] = prefix["job"] - prefix.get(
        "source", prefix["tiles_rollup"])
    job_traced = statistics.median(it["job_s"] for it in traced)
    job_untraced = statistics.median(it["job_s"] for it in untraced)
    pl["trace.job_s"] = job_traced
    pl["trace.overhead_s"] = job_traced - job_untraced
    return pl


# ---------------------------------------------------------------- main

def load_spec() -> dict:
    with open(ROOT / "BENCHMARK.json") as f:
        return json.load(f)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size multiplier (smoke tests use < 1)")
    args = ap.parse_args(argv)

    spec = load_spec()
    units = {m["name"]: m["unit"]
             for m in spec["end_to_end"] + spec["per_layer"]}
    wanted = [m["name"] for m in
              (spec["per_layer"] if args.trace else spec["end_to_end"])]

    stamp = datetime.now(timezone.utc).strftime("%Y%m%dT%H%M%S")
    work = WORK_ROOT / f"run-{stamp}-{os.getpid()}"
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    # everything the program writes stays inside this checkout
    os.environ["SPARK_GRAFT_FIXTURE_CACHE"] = str(work / "fixtures")
    os.environ["TMPDIR"] = str(work / "tmp")
    # no JVM the run starts (the spark-submit launcher included) may
    # write its temp or perf-counter files outside the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData",
                    f"-Djava.io.tmpdir={work / 'tmp'}") if p)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, str(ROOT))
    try:
        import esri_dump_spark  # noqa: F401
    except ImportError as e:
        shutil.rmtree(work, ignore_errors=True)
        print(f"spatialbench: cannot import the program: {e}",
              file=sys.stderr)
        return 2

    ctx = SimpleNamespace()
    ctx.seed, ctx.seconds, ctx.scale = args.seed, args.seconds, args.scale
    ctx.trace = bool(args.trace)
    ctx.t0 = T_START
    ctx.work = work
    ctx.cores = len(os.sched_getaffinity(0))
    ctx.tracer = Tracer(ctx.trace)
    names = WORKLOADS if args.workload == "all" else (args.workload,)
    records = []
    try:
        with RssSampler() as sampler:
            ctx.sampler = sampler
            with ctx.tracer.span("session_start"):
                t0 = time.perf_counter()
                spark = start_session(work, ctx.cores)
                ctx.session_ready = time.perf_counter()
                ctx.session_start_s = ctx.session_ready - t0
            ctx.spark = spark
            try:
                ctx.sql = SqlMetricsReader(spark)
                for name in names:
                    with ctx.tracer.span("workload", workload=name):
                        records.append(run_workload(ctx, name))
            finally:
                stop_session(spark, sampler)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    full = {"host": host_facts(), "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace,
            "scale": args.scale, "cores": ctx.cores,
            "workloads": records, "spans": ctx.tracer.spans}
    rec_dir = WORK_ROOT / "records"
    rec_dir.mkdir(parents=True, exist_ok=True)
    rec_path = rec_dir / f"{args.workload}-seed{args.seed}-trace" \
                         f"{args.trace}-{stamp}-{os.getpid()}.json"
    rec_path.write_text(json.dumps(full, indent=1, default=float))

    metrics, summary = {}, []
    for r in records:
        source = r["per_layer"] if args.trace else r["end_to_end"]
        prefix = f"{r['workload']}." if len(records) > 1 else ""
        for m in wanted:
            metrics[prefix + m] = {"value": float(source[m]),
                                   "unit": units[m]}
        e = r["end_to_end"]
        summary.append(
            f"{r['workload']}: job_s={e['job_s']:.4f} s "
            f"(q1 {r['job_s']['q1']:.4f}, q3 {r['job_s']['q3']:.4f}, "
            f"n={r['job_s']['n']}) rows_per_s={e['rows_per_s']:.1f} 1/s "
            f"setup_s={e['setup_s']:.3f} s "
            f"peak_rss_mb={e['peak_rss_mb']:.1f} MB "
            f"fail_frac={e['fail_frac']:.3f}")
    attempted = sum(r["attempted"] for r in records)
    failed = sum(r["failed"] for r in records)
    print("; ".join(summary) + f"; record={rec_path.relative_to(ROOT)}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
