"""Point-in-polygon spatial join (J2) — broadcast cell join + exact
ray-cast refine.

Physical plan (SURVEY.md §2.5, §4):

  polygons (small)  --driver--> cover cells per polygon (kernels.cells)
                                -> tiny (cell, poly_id) DataFrame
  points (huge)     --JVM-----> cell id attached via a pure SQL
                                expression (whole-stage codegen;
                                no Python in the hot path)
  coarse:           points JOIN broadcast(cells) ON cell  (equi-join,
                    no shuffle of the big side)
  refine:           Arrow-batched pandas UDF running the exact
                    reference ray-cast (even-odd, half-open edge rule)
                    against the candidate polygon's rings

At 10^12 rows the coarse phase is the only data movement and it is
broadcast-shaped; the refine is embarrassingly parallel. Skewed hot
cells don't hurt a broadcast join (no shuffle by key), but per-cell
*aggregations* downstream do — those use operators.skew.

The refine predicate is exactly `coordinatesContainPoint`
(/root/reference/lib/rings2geojson.ts:54-64) extended to multi-ring
even-odd, vectorized over the Arrow batch.
"""

from __future__ import annotations

import json

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..kernels import cells as C
from ..kernels.rings import points_in_polygon, close_ring

__all__ = ["attach_cell", "polygon_cell_index", "build_polygon_dim",
           "point_in_polygon_join", "polygon_cover_df",
           "point_in_polygon_join_dist", "polygon_intersects_join",
           "DEFAULT_RES"]

DEFAULT_RES = 12


def attach_cell(df: DataFrame, lon_col: str = "lon", lat_col: str = "lat",
                res: int = DEFAULT_RES, out: str = "cell") -> DataFrame:
    """Cell id as a JVM-side expression (codegen; identical results to
    kernels.cells.latlng_to_cell and to the DuckDB oracle SQL)."""
    return df.withColumn(out, F.expr(C.cell_sql_expr(lon_col, lat_col, res)))


def _parse_rings(rings_json: str) -> list[np.ndarray]:
    return [close_ring(np.asarray(r, dtype=np.float64))
            for r in json.loads(rings_json)]


def polygon_cell_index(spark: SparkSession, polygons: pd.DataFrame,
                       res: int = DEFAULT_RES) -> DataFrame:
    """(cell, poly_id) cover table. ``polygons`` is the small dimension
    side as pandas: columns (poly_id, rings_json). Computed driver-side
    — right for polygon counts in the thousands; for larger polygon
    sets use ``polygon_cover_df`` / ``point_in_polygon_join_dist``,
    which run the same kernel executor-side in mapInPandas."""
    cover_pdf, _ = build_polygon_dim(polygons, res)
    return spark.createDataFrame(cover_pdf)


def build_polygon_dim(polygons: pd.DataFrame, res: int = DEFAULT_RES):
    """Precompute the static polygon dimension: (cell-cover pdf,
    rings-by-poly-id dict). At scale this is built once per polygon
    set and reused across every query/run against it."""
    cells, pids, rings_by_pid = [], [], {}
    for rec in polygons.itertuples(index=False):
        rings = _parse_rings(rec.rings_json)
        cover = C.polygon_cover(rings, res, exact=True)
        cells.append(cover)
        pids.append(np.full(cover.shape, rec.poly_id, dtype=np.int64))
        rings_by_pid[int(rec.poly_id)] = [a.tolist() for a in rings]
    cover_pdf = pd.DataFrame({
        "cell": np.concatenate(cells) if cells else np.array([], np.int64),
        "poly_id": np.concatenate(pids) if pids else np.array([], np.int64),
    })
    return cover_pdf, rings_by_pid


def polygon_cover_df(polygons: DataFrame, res: int = DEFAULT_RES,
                     keep_cols: tuple[str, ...] = (),
                     with_rings: bool = True) -> DataFrame:
    """Distributed polygon dimension: the exact cell-cover kernel
    (``kernels.cells.polygon_cover``, unchanged) run EXECUTOR-side in
    ``mapInPandas`` over a polygon DataFrame — the scale path for
    polygon sets beyond driver memory (millions of parcels), where
    ``build_polygon_dim``'s driver loop stops being a 'small static
    dim' and becomes the bottleneck.

    Input: (poly_id long, rings_json string [, keep_cols...]).
    Output: one row per (cell, polygon): (cell, poly_id [, rings_json]
    [, keep_cols...]) — with ``with_rings=True`` (default) the rings
    ride the cover table so the downstream candidate join needs NO
    second join to fetch geometry for the refine; callers that
    re-attach geometry by id after pair dedup (the polygon x polygon
    join) pass ``with_rings=False`` so the geometry string is never
    replicated per cover cell across the Arrow boundary. Never
    materializes on the driver."""
    import pyspark.sql.types as T
    fields = [T.StructField("cell", T.LongType()),
              T.StructField("poly_id", T.LongType())]
    if with_rings:
        fields.append(T.StructField("rings_json", T.StringType()))
    in_schema = dict(zip(polygons.schema.names, polygons.schema.fields))
    for c in keep_cols:
        fields.append(T.StructField(c, in_schema[c].dataType))
    schema = T.StructType(fields)

    def run(batches):
        for b in batches:
            out = []
            for rec in b.itertuples(index=False):
                rings = _parse_rings(rec.rings_json)
                cover = C.polygon_cover(rings, res, exact=True)
                row = {"cell": cover,
                       "poly_id": np.full(cover.shape, rec.poly_id,
                                          dtype=np.int64)}
                if with_rings:
                    row["rings_json"] = rec.rings_json
                for c in keep_cols:
                    row[c] = getattr(rec, c)
                out.append(pd.DataFrame(row))
            yield (pd.concat(out, ignore_index=True) if out
                   else pd.DataFrame(columns=[f.name for f in fields]))

    cols = ["poly_id", "rings_json", *keep_cols]
    return polygons.select(*cols).mapInPandas(run, schema=schema)


def _pip_refine_json():
    """Refine predicate for the distributed path: rings arrive as the
    joined ``rings_json`` column (no driver-held dict). Batches group
    by distinct polygon so the ray-cast kernel runs vectorized per
    polygon; JSON parse cost is per (batch x distinct polygon)."""

    @pandas_udf("boolean")
    def refine(lon: pd.Series, lat: pd.Series,
               rings_json: pd.Series) -> pd.Series:
        out = np.zeros(len(lon), dtype=bool)
        pts = np.column_stack([lon.to_numpy(np.float64),
                               lat.to_numpy(np.float64)])
        codes, uniques = pd.factorize(rings_json)
        for u, rj in enumerate(uniques):
            mask = codes == u
            rings = _parse_rings(rj)
            out[mask] = points_in_polygon(pts[mask], rings)
        return pd.Series(out)

    return refine


def point_in_polygon_join_dist(points: DataFrame, polygons: DataFrame,
                               lon_col: str = "lon", lat_col: str = "lat",
                               res: int = DEFAULT_RES,
                               how: str = "inner",
                               id_col: str | None = None,
                               broadcast_cover: bool | None = None
                               ) -> DataFrame:
    """J2 at polygon-table scale: same semantics as
    ``point_in_polygon_join`` but the polygon side is a DataFrame and
    the cover dimension is built executor-side (``polygon_cover_df``)
    — nothing polygon-sized ever touches the driver.

    Join strategy: ``broadcast_cover=True`` forces the broadcast
    coarse join (right for cover tables under the broadcast
    threshold); ``False`` forces the shuffle path (points shuffle on
    cell — at 10^12 rows pair this with cell-bucketed storage so the
    exchange is a no-op); ``None`` (default) lets AQE decide from the
    cover's runtime size."""
    keep = ("name",) if "name" in polygons.columns else ()
    cover = polygon_cover_df(polygons, res, keep_cols=keep)
    if "name" in cover.columns:
        # rename BEFORE the join: a points table with its own `name`
        # column would otherwise be ambiguous (left_semi's
        # select(*points.columns) raises) or double-renamed in inner
        # mode — same poly_name contract as point_in_polygon_join
        cover = cover.withColumnRenamed("name", "poly_name")
    if broadcast_cover is True:
        cover = F.broadcast(cover)
    elif broadcast_cover is False:
        cover = cover.hint("shuffle_hash")

    pts = attach_cell(points, lon_col, lat_col, res)
    refine = _pip_refine_json()
    cand = pts.join(cover, "cell", "inner")
    matched = cand.filter(refine(F.col(lon_col), F.col(lat_col),
                                 F.col("rings_json")))

    if how == "inner":
        return matched.drop("cell", "rings_json")
    key = id_col if id_col is not None else points.columns[0]
    if key not in points.columns:
        raise ValueError(f"id_col {key!r} not in points columns")
    if how == "left_semi":
        return matched.select(*points.columns).dropDuplicates([key])
    if how == "left_anti":
        matched_ids = matched.select(key).distinct()
        return points.join(matched_ids, key, "left_anti")
    raise ValueError(f"unknown how={how!r}")


def _poly_intersect_refine():
    """Pair refine for the polygon x polygon join: exact
    ``kernels.rings.polygons_intersect`` over the two joined
    ``rings_json`` columns, Arrow-batched. Geometry parses are memoized
    per batch (each polygon typically appears in many candidate
    pairs)."""
    from ..kernels.rings import polygons_intersect

    @pandas_udf("boolean")
    def refine(a: pd.Series, b: pd.Series) -> pd.Series:
        cache: dict = {}

        def parsed(s):
            r = cache.get(s)
            if r is None:
                r = cache[s] = _parse_rings(s)
            return r

        out = np.fromiter(
            (polygons_intersect(parsed(x), parsed(y))
             for x, y in zip(a, b)), dtype=bool, count=len(a))
        return pd.Series(out)

    return refine


def polygon_intersects_join(left: DataFrame, right: DataFrame,
                            res: int = DEFAULT_RES,
                            how: str = "inner") -> DataFrame:
    """Polygon x polygon intersects join (EXT J6) — both sides are
    DataFrames of (poly_id long, rings_json string).

    Plan: cell-cover BOTH sides executor-side (``polygon_cover_df``,
    the exact cover kernel in mapInPandas), equi-join the two slim
    (cell, id) cover tables, dedup candidate id pairs, then re-attach
    geometry BY ID for the surviving pairs and refine with the exact
    even-odd ``polygons_intersect`` predicate (edge crossing or
    either-vertex containment).

    Shuffle-width discipline: geometry never rides the candidate
    exchange — the cover join carries (cell, id) only, and rings join
    back output-bounded (one lookup per surviving pair), the same
    re-attach posture as the minhash band join. Candidate volume in a
    hot cell is |left-in-cell| x |right-in-cell|; pick ``res`` fine
    enough that covers separate the sets (AQE skew-join splits any
    residual hot cell).

    how='inner'      -> (id_a, id_b) distinct intersecting pairs
    how='left_semi'  -> left rows intersecting >= 1 right polygon
    how='left_anti'  -> left rows intersecting none
    """
    cov_l = polygon_cover_df(left, res, with_rings=False).select(
        "cell", F.col("poly_id").alias("id_a"))
    cov_r = polygon_cover_df(right, res, with_rings=False).select(
        "cell", F.col("poly_id").alias("id_b"))
    cand = (cov_l.join(cov_r, "cell")
            .select("id_a", "id_b").dropDuplicates())

    ga = left.select(F.col("poly_id").alias("id_a"),
                     F.col("rings_json").alias("_rings_a"))
    gb = right.select(F.col("poly_id").alias("id_b"),
                      F.col("rings_json").alias("_rings_b"))
    refine = _poly_intersect_refine()
    matched = (cand.join(ga, "id_a").join(gb, "id_b")
               .filter(refine(F.col("_rings_a"), F.col("_rings_b")))
               .select("id_a", "id_b"))
    if how == "inner":
        return matched
    if how == "left_semi":
        return left.join(matched.select(F.col("id_a").alias("poly_id"))
                         .distinct(), "poly_id", "left_semi")
    if how == "left_anti":
        return left.join(matched.select(F.col("id_a").alias("poly_id"))
                         .distinct(), "poly_id", "left_anti")
    raise ValueError(f"unknown how={how!r}")


def point_in_polygon_join(points: DataFrame, polygons: pd.DataFrame,
                          lon_col: str = "lon", lat_col: str = "lat",
                          res: int = DEFAULT_RES,
                          how: str = "inner", dim=None,
                          id_col: str | None = None) -> DataFrame:
    """Spatial join of a big point table against a small polygon table.

    how='inner'      -> point rows x matching poly_id (+name)
    how='left_semi'  -> point rows inside >= 1 polygon (deduped)
    how='left_anti'  -> point rows inside none

    ``id_col`` — the point-identity column the semi/anti variants key
    on; defaults to the first column of ``points`` (the historical
    convention), but callers whose id is not leftmost must pass it —
    keying on position silently breaks under column reorder.

    ``dim`` — optional precomputed ``build_polygon_dim`` result so the
    static dimension isn't rebuilt per query.
    """
    spark = points.sparkSession
    cover_pdf, rings_by_pid = dim if dim is not None \
        else build_polygon_dim(polygons, res)
    cell_index = spark.createDataFrame(cover_pdf)

    @pandas_udf("boolean")
    def pip_refine(lon: pd.Series, lat: pd.Series,
                   poly_id: pd.Series) -> pd.Series:
        out = np.zeros(len(lon), dtype=bool)
        pts = np.column_stack([lon.to_numpy(np.float64),
                               lat.to_numpy(np.float64)])
        for pid in poly_id.unique():
            mask = (poly_id == pid).to_numpy()
            rings = [np.asarray(r, np.float64) for r in rings_by_pid[int(pid)]]
            out[mask] = points_in_polygon(pts[mask], rings)
        return pd.Series(out)

    pts = attach_cell(points, lon_col, lat_col, res)
    cand = pts.join(F.broadcast(cell_index), "cell", "inner")
    matched = cand.filter(pip_refine(F.col(lon_col), F.col(lat_col),
                                     F.col("poly_id")))

    if how == "inner":
        if "name" in polygons.columns:
            names = spark.createDataFrame(polygons[["poly_id", "name"]]) \
                .withColumnRenamed("name", "poly_name")
            matched = matched.join(F.broadcast(names), "poly_id", "left")
        return matched.drop("cell")
    key = id_col if id_col is not None else points.columns[0]
    if key not in points.columns:
        raise ValueError(f"id_col {key!r} not in points columns")
    if how == "left_semi":
        return matched.select(*points.columns).dropDuplicates([key])
    if how == "left_anti":
        matched_ids = matched.select(key).distinct()
        return points.join(matched_ids, key, "left_anti")
    raise ValueError(f"unknown how={how!r}")
