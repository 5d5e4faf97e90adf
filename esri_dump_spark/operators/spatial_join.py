"""Point-in-polygon spatial join (J2) — cell equi-join + exact
ray-cast refine.

Physical plan (SURVEY.md §2.5, §4):

  polygons          --> exact cover cells per polygon (kernels.cells)
                        -> (cell, poly_id [, poly_name]) cover table
  points (huge)     --JVM--> cell id attached via a pure SQL
                        expression (whole-stage codegen;
                        no Python in the hot path)
  coarse:           points JOIN cover ON cell  (equi-join)
  refine:           Arrow-batched pandas UDF running the exact
                    reference ray-cast (even-odd, half-open edge rule)
                    against the candidate polygon's rings

``point_in_polygon_join`` is the one join; the polygon input decides
where the cover is built and where the refine finds geometry:

- a pandas frame is a few polygons held by the driver: the cover is
  built there and broadcast, and the refine looks the parsed rings up
  by ``poly_id`` in a dict shipped once with the UDF — only
  (lon, lat, poly_id) cross the Arrow boundary per candidate;
- a DataFrame may be millions of parcels: the cover is built on the
  executors (``polygon_cover_df``) and ``rings_json`` rides every cover
  row, so nothing polygon-sized reaches the driver. The planner / AQE
  picks broadcast or shuffle from the cover's size.

At 10^12 rows the coarse phase is the only data movement; the refine is
embarrassingly parallel. Skewed hot cells don't hurt a broadcast join
(no shuffle by key), but per-cell *aggregations* downstream do — those
use operators.skew.

The refine predicate is exactly the reference's `coordinatesContainPoint`
(lib/rings2geojson.ts) extended to multi-ring even-odd, vectorized over
the Arrow batch.
"""

from __future__ import annotations

import json

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from ..kernels import cells as C
from ..kernels.rings import points_in_polygon, close_ring

__all__ = ["attach_cell", "polygon_cell_index", "point_in_polygon_join",
           "polygon_cover_df", "point_in_polygon_join_dist",
           "polygon_intersects_join", "DEFAULT_RES"]

DEFAULT_RES = 12


def attach_cell(df: DataFrame, lon_col: str = "lon", lat_col: str = "lat",
                res: int = DEFAULT_RES, out: str = "cell") -> DataFrame:
    """Cell id as a JVM-side expression (codegen; identical results to
    kernels.cells.latlng_to_cell and to the DuckDB oracle SQL)."""
    return df.withColumn(out, F.expr(C.cell_sql_expr(lon_col, lat_col, res)))


def _parse_rings(rings_json: str) -> list[np.ndarray]:
    return [close_ring(np.asarray(r, dtype=np.float64))
            for r in json.loads(rings_json)]


def _cover_schema(extra: list[T.StructField]) -> T.StructType:
    """Explicit cover schema: (cell, poly_id, *extra). Stated, never
    inferred, so an empty polygon table still yields a typed table."""
    return T.StructType([T.StructField("cell", T.LongType()),
                         T.StructField("poly_id", T.LongType()), *extra])


def _cover_frame(polygons: pd.DataFrame, res: int,
                 cols: tuple[str, ...] = ()) -> pd.DataFrame:
    """One (cell, poly_id, *cols) row per cell of each polygon's exact
    cover (``kernels.cells.polygon_cover``)."""
    covers = [C.polygon_cover(_parse_rings(rj), res, exact=True)
              for rj in polygons["rings_json"]]
    rows = np.repeat(np.arange(len(covers)),
                     np.array([len(c) for c in covers], dtype=np.int64))
    out = polygons[["poly_id", *cols]].iloc[rows].reset_index(drop=True)
    out.insert(0, "cell", np.concatenate([np.empty(0, np.int64), *covers]))
    return out


def polygon_cell_index(spark: SparkSession, polygons: pd.DataFrame,
                       res: int = DEFAULT_RES) -> DataFrame:
    """(cell, poly_id) cover table of a pandas polygon table
    (poly_id, rings_json), computed on the driver."""
    return spark.createDataFrame(_cover_frame(polygons, res),
                                 _cover_schema([]))


def polygon_cover_df(polygons: DataFrame, res: int = DEFAULT_RES,
                     keep_cols: tuple[str, ...] = (),
                     with_rings: bool = True) -> DataFrame:
    """Distributed polygon dimension: the exact cell-cover kernel
    (``kernels.cells.polygon_cover``, unchanged) run EXECUTOR-side in
    ``mapInPandas`` over a polygon DataFrame — the scale path for
    polygon sets beyond driver memory (millions of parcels).

    Input: (poly_id long, rings_json string [, keep_cols...]).
    Output: one row per (cell, polygon): (cell, poly_id [, rings_json]
    [, keep_cols...]) — with ``with_rings=True`` (default) the rings
    ride the cover table so the downstream candidate join needs NO
    second join to fetch geometry for the refine; callers that
    re-attach geometry by id after pair dedup (the polygon x polygon
    join) pass ``with_rings=False`` so the geometry string is never
    replicated per cover cell across the Arrow boundary. Never
    materializes on the driver."""
    cols = (("rings_json",) if with_rings else ()) + tuple(keep_cols)
    schema = _cover_schema([polygons.schema[c] for c in cols])

    def run(batches):
        for b in batches:
            yield _cover_frame(b, res, cols)

    return polygons.select("poly_id", "rings_json", *keep_cols) \
        .mapInPandas(run, schema=schema)


def _pip_refine(rings_of):
    """Exact point-in-polygon refine over Arrow batches of (lon, lat,
    key): ``rings_of(key)`` gives the key's parsed rings. The batch is
    factorized on the key, so each distinct polygon is looked up once
    and ray-cast vectorized over its points."""

    @pandas_udf("boolean")
    def refine(lon: pd.Series, lat: pd.Series, key: pd.Series) -> pd.Series:
        out = np.zeros(len(lon), dtype=bool)
        pts = np.column_stack([lon.to_numpy(np.float64),
                               lat.to_numpy(np.float64)])
        codes, uniques = pd.factorize(key)
        for u, k in enumerate(uniques):
            mask = codes == u
            out[mask] = points_in_polygon(pts[mask], rings_of(k))
        return pd.Series(out)

    return refine


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


def point_in_polygon_join(points: DataFrame,
                          polygons: pd.DataFrame | DataFrame,
                          lon_col: str = "lon", lat_col: str = "lat",
                          res: int = DEFAULT_RES, how: str = "inner",
                          id_col: str | None = None) -> DataFrame:
    """Spatial join of a big point table against a polygon table of
    (poly_id long, rings_json string [, name string]).

    how='inner'      -> point rows + matching poly_id (+ poly_name)
    how='left_semi'  -> point rows inside >= 1 polygon (deduped)
    how='left_anti'  -> point rows inside none

    ``polygons`` as pandas: the cover is built on the driver and
    broadcast, and the refine reads rings from a closed-over dict keyed
    by poly_id — geometry never rides the candidate rows. As a
    DataFrame: the cover is built on the executors with ``rings_json``
    on every cover row (nothing polygon-sized touches the driver), and
    the planner / AQE chooses the join from the cover's size.

    ``id_col`` — the point-identity column the semi/anti variants key
    on; defaults to the first column of ``points`` (the historical
    convention), but callers whose id is not leftmost must pass it —
    keying on position silently breaks under column reorder.
    """
    keep = ("name",) if "name" in polygons.columns else ()
    if isinstance(polygons, pd.DataFrame):
        rings = {int(pid): _parse_rings(rj) for pid, rj in
                 zip(polygons["poly_id"], polygons["rings_json"])}
        cover = F.broadcast(points.sparkSession.createDataFrame(
            _cover_frame(polygons, res, keep),
            _cover_schema([T.StructField(c, T.StringType()) for c in keep])))
        refine, geom = _pip_refine(lambda pid: rings[pid]), "poly_id"
    else:
        cover = polygon_cover_df(polygons, res, keep_cols=keep)
        refine, geom = _pip_refine(_parse_rings), "rings_json"
    # rename BEFORE the join: a points table with its own `name` column
    # would otherwise be ambiguous (left_semi's select(*points.columns)
    # raises) or double-renamed in inner mode
    cover = cover.withColumnRenamed("name", "poly_name")

    pts = attach_cell(points, lon_col, lat_col, res)
    matched = pts.join(cover, "cell").filter(
        refine(F.col(lon_col), F.col(lat_col), F.col(geom)))

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


# second name, still imported by spatialbench's parcel prefix jobs
point_in_polygon_join_dist = point_in_polygon_join
