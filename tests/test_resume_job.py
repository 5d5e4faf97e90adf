"""File-granularity checkpoint-resume of the north-star job
(scripts/job_spatial_tiles.py): completed input files are certified by
per-partition lineage and skipped on restart; appended partial rollups
sum to the single-shot result.
"""

from __future__ import annotations

import importlib.util
import os

import pyspark.sql.functions as F

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

spec = importlib.util.spec_from_file_location(
    "job_spatial_tiles", os.path.join(REPO, "scripts", "job_spatial_tiles.py"))
job = importlib.util.module_from_spec(spec)
spec.loader.exec_module(job)


def _write_points(spark, path, start, n, n_files):
    from esri_dump_spark.sources.feature_server import DEFAULT_EXTENT
    xmin, ymin, xmax, ymax = DEFAULT_EXTENT
    (spark.range(start, start + n, 1, n_files).selectExpr(
        "concat('img', id) AS image_id",
        f"{xmin} + {xmax - xmin} * ((cast(xxhash64(id, 7) as double) "
        "/ 9.223372036854776e18 + 1.0) / 2.0) AS lon",
        f"{ymin} + {ymax - ymin} * ((cast(xxhash64(id, 8) as double) "
        "/ 9.223372036854776e18 + 1.0) / 2.0) AS lat",
    ).write.mode("append").parquet(path))


def _totals(spark, out_dir):
    df = (spark.read.parquet(f"{out_dir}/assignments")
          .groupBy("poly_id", "tile_id").agg(F.sum("n").alias("n")))
    return sorted(tuple(r) for r in df.collect())


def test_job_resumes_from_file_lineage(spark, tmp_path):
    inp = str(tmp_path / "points")
    out = str(tmp_path / "out")
    ref_out = str(tmp_path / "ref_out")

    _write_points(spark, inp, 0, 4000, 4)
    r1 = job.run(spark, inp, out, run_id="r")
    assert r1["resumed_skipping_files"] == 0

    # new files arrive; restart must skip the 4 completed ones
    _write_points(spark, inp, 4000, 4000, 4)
    r2 = job.run(spark, inp, out, run_id="r")
    assert r2["resumed_skipping_files"] == 4

    # a third restart with nothing new processes zero rows
    r3 = job.run(spark, inp, out, run_id="r")
    assert r3["resumed_skipping_files"] == 8
    assert r3["metrics"]["n_rows"] == 0

    # summed partial rollups == single-shot run over everything
    ref = job.run(spark, inp, ref_out, run_id="fresh")
    assert ref["resumed_skipping_files"] == 0
    assert _totals(spark, out) == _totals(spark, ref_out)


def test_job_dist_polygon_dim_matches_driver_dim(spark, tmp_path):
    """The spark-submit job with a parquet polygon table (executor-
    built cover in point_in_polygon_join) must produce the same
    summed rollup as the driver-dim path, and resume identically."""
    from esri_dump_spark.sources.fixtures import polygons_pdf

    inp = str(tmp_path / "points")
    out_d = str(tmp_path / "out_driver")
    out_x = str(tmp_path / "out_dist")
    _write_points(spark, inp, 0, 3000, 3)

    ppdf = polygons_pdf()
    polys_path = str(tmp_path / "polys")
    spark.createDataFrame(ppdf).write.parquet(polys_path)

    r_driver = job.run(spark, inp, out_d, run_id="d")
    r_dist = job.run(spark, inp, out_x, run_id="x",
                     polygons_path=polys_path)
    assert _totals(spark, out_d) == _totals(spark, out_x)
    assert r_dist["resumed_skipping_files"] == 0
    # resume on the dist path: nothing new -> all files skipped
    r_again = job.run(spark, inp, out_x, run_id="x",
                      polygons_path=polys_path)
    assert r_again["resumed_skipping_files"] == 3
    assert r_again["metrics"]["n_rows"] == 0


def test_crash_before_sink_write_does_not_certify_files(spark, tmp_path):
    """Lineage rows land during the shuffle MAP stage; if the job dies
    before the sink write commits, those rows must NOT mark files done
    (no output exists for them). Simulated by materializing the lineage-
    wrapped pipeline without ever writing the sink / committing."""
    from esri_dump_spark.operators.lineage import (completed_keys,
                                                   new_attempt_id,
                                                   read_lineage,
                                                   with_lineage)
    from esri_dump_spark.operators.spatial_join import point_in_polygon_join
    from esri_dump_spark.operators.tiles import assign_tiles
    from esri_dump_spark.sources.fixtures import polygons_pdf
    import pyspark.sql.functions as F

    inp = str(tmp_path / "points")
    out = str(tmp_path / "out")
    lineage_dir = f"{out}/_lineage"
    _write_points(spark, inp, 0, 2000, 2)

    # crashed attempt: map stage (and its lineage rows) completes, the
    # reduce/sink write never happens -> no commit marker
    imgs = (spark.read.parquet(inp).select("image_id", "lon", "lat")
            .withColumn("work_key", F.input_file_name()))
    tiled = assign_tiles(point_in_polygon_join(imgs, polygons_pdf(),
                                               res=11), z=13)
    wrapped = with_lineage(tiled, "r", lineage_dir,
                           work_key_col="work_key", collect_keys=True,
                           attempt_id=new_attempt_id())
    wrapped.count()  # durable lineage rows exist now...
    assert read_lineage(spark, lineage_dir).count() > 0
    # ...but without a commit marker they certify nothing
    assert completed_keys(spark, lineage_dir, "r").count() == 0

    # the restarted run reprocesses everything and matches a fresh run
    r = job.run(spark, inp, out, run_id="r")
    assert r["resumed_skipping_files"] == 0
    ref_out = str(tmp_path / "ref_out")
    job.run(spark, inp, ref_out, run_id="fresh")
    assert _totals(spark, out) == _totals(spark, ref_out)


def test_resume_with_comma_in_file_path(spark, tmp_path):
    """Work keys are file paths and may contain commas; they are stored
    as an array<string> column, so resume must not fragment them."""
    inp = str(tmp_path / "pts,v=1,final")
    out = str(tmp_path / "out")
    _write_points(spark, inp, 0, 1000, 2)

    r1 = job.run(spark, inp, out, run_id="c")
    assert r1["resumed_skipping_files"] == 0
    r2 = job.run(spark, inp, out, run_id="c")
    assert r2["resumed_skipping_files"] == 2
    assert r2["metrics"]["n_rows"] == 0


def test_no_match_files_certified_and_converge(spark, tmp_path):
    """A file whose points all miss every polygon contributes zero sink
    rows but IS complete once scanned+committed — resume must skip it,
    not re-scan it forever (lineage wraps the scan side, pre-join)."""
    inp = str(tmp_path / "points")
    out = str(tmp_path / "out")
    # 2 files inside the fixture polygon extent, 2 files far away
    _write_points(spark, inp, 0, 2000, 2)
    (spark.range(0, 1000, 1, 2).selectExpr(
        "concat('far', id) AS image_id",
        "CAST(120.0 + (id % 7) * 0.01 AS DOUBLE) AS lon",
        "CAST(-40.0 + (id % 5) * 0.01 AS DOUBLE) AS lat",
    ).write.mode("append").parquet(inp))
    r1 = job.run(spark, inp, out, run_id="n")
    assert r1["resumed_skipping_files"] == 0
    # restart: ALL 4 files are certified, including the two no-match ones
    r2 = job.run(spark, inp, out, run_id="n")
    assert r2["resumed_skipping_files"] == 4
    assert r2["metrics"]["n_rows"] == 0
