"""Per-ring vector measures: shoelace area, perimeter, centroid.

The measurement leg of the vector family (pip/bbox/segment joins find
relationships; this computes the standard scalar descriptors a region
table carries — ST_Area / ST_Perimeter / ST_Centroid analogs). Planar
(equirectangular degree-space) semantics, matching the repo's h3lite
grid convention; callers needing meters scale by cos(lat) upstream.

Spark-first shape: the ring's vertex array stays one row — area,
perimeter, and centroid are higher-order-function folds over the edge
list (``slice`` + ``arrays_zip`` + ``aggregate``), i.e. whole-stage
codegen with ZERO exchanges: measuring 10^9 rings is a map-only scan.
No UDF, no explode-regroup round trip (the naive posexplode → window
→ groupBy plan would shuffle every vertex twice).

Signed area keeps ring orientation (CCW > 0), ``area`` is absolute;
centroid is the area-weighted vertex formula, NULL for zero-area
(degenerate) rings where it is undefined. Reference parity: none
(north-rule extension); the fold-over-array discipline mirrors the
reference's single-pass per-volume checksum accumulators
(SURVEY.md §2 A4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _edges(vert_col: str) -> str:
    """SQL fragment: array of (p, q) consecutive-vertex structs."""
    return (
        f"arrays_zip(slice({vert_col}, 1, size({vert_col}) - 1),"
        f" slice({vert_col}, 2, size({vert_col}) - 1))"
    )


def ring_metrics(
    df: DataFrame,
    vert_col: str = "vertices",
    round_to: int | None = None,
) -> DataFrame:
    """Append ``signed_area``, ``area``, ``perimeter``, ``centroid_lon``,
    ``centroid_lat`` to a frame of rings.

    ``vert_col``: ``array<struct<lon double, lat double>>``, closed
    (first vertex repeated last) — the fixture convention shared with
    pip_join. Open rings are closed implicitly by appending the first
    vertex. ``round_to`` rounds the measures (gate entries pass 6 so
    Spark's and DuckDB's float summation order can't straddle the
    compare).
    """
    closed = (
        f"case when size({vert_col}) > 1 and "
        f"({vert_col}[0].lon != element_at({vert_col}, -1).lon or "
        f" {vert_col}[0].lat != element_at({vert_col}, -1).lat) "
        f"then concat({vert_col}, array({vert_col}[0])) else {vert_col} end"
    )
    e = _edges("__cl")
    cross = "(e['0'].lon * e['1'].lat - e['1'].lon * e['0'].lat)"
    out = (
        df.withColumn("__cl", F.expr(closed))
        .withColumn("__e", F.expr(e))
        .withColumn(
            "__cross2",
            F.expr(f"aggregate(__e, cast(0 as double), (acc, e) -> acc + {cross})"),
        )
        .withColumn(
            "perimeter",
            F.expr(
                "aggregate(__e, cast(0 as double), (acc, e) -> acc + "
                "sqrt((e['1'].lon - e['0'].lon) * (e['1'].lon - e['0'].lon) + "
                "(e['1'].lat - e['0'].lat) * (e['1'].lat - e['0'].lat)))"
            ),
        )
        .withColumn("signed_area", F.col("__cross2") / 2.0)
        .withColumn("area", F.abs(F.col("signed_area")))
        .withColumn(
            "centroid_lon",
            F.expr(
                f"case when __cross2 != 0 then aggregate(__e, cast(0 as double),"
                f" (acc, e) -> acc + (e['0'].lon + e['1'].lon) * {cross})"
                f" / (3 * __cross2) end"
            ),
        )
        .withColumn(
            "centroid_lat",
            F.expr(
                f"case when __cross2 != 0 then aggregate(__e, cast(0 as double),"
                f" (acc, e) -> acc + (e['0'].lat + e['1'].lat) * {cross})"
                f" / (3 * __cross2) end"
            ),
        )
        .drop("__cl", "__e", "__cross2")
    )
    if round_to is not None:
        # + 0.0 turns a rounded -0.0 into +0.0 (IEEE: -0.0 + 0.0 = +0.0)
        # so both dialects print the same zero
        for c in ("signed_area", "area", "perimeter", "centroid_lon", "centroid_lat"):
            out = out.withColumn(c, F.round(c, round_to) + F.lit(0.0))
    return out


def ring_metrics_oracle_sql(ring_values: str, round_to: int = 6) -> str:
    """DuckDB twin over a ``(poly_id, ring_idx, pt_idx, lon, lat)``
    VALUES relation named by ``ring_values`` (closed rings, pt_idx
    0-based in vertex order): lead() over pt_idx builds the same edge
    list; sums are per-(poly_id, ring_idx)."""
    return f"""
    with v as (select * from {ring_values}),
    e as (
      select poly_id, ring_idx, lon as x0, lat as y0,
             lead(lon) over w as x1, lead(lat) over w as y1
      from v window w as (partition by poly_id, ring_idx order by pt_idx)
    ),
    m as (
      select poly_id, ring_idx,
             sum(x0 * y1 - x1 * y0) as cross2,
             sum(sqrt((x1 - x0) * (x1 - x0) + (y1 - y0) * (y1 - y0))) as perim,
             sum((x0 + x1) * (x0 * y1 - x1 * y0)) as cxs,
             sum((y0 + y1) * (x0 * y1 - x1 * y0)) as cys
      from e where x1 is not null
      group by 1, 2
    )
    select poly_id, ring_idx,
           round(cross2 / 2, {round_to}) + 0.0 as signed_area,
           round(abs(cross2 / 2), {round_to}) + 0.0 as area,
           round(perim, {round_to}) + 0.0 as perimeter,
           round(case when cross2 != 0 then cxs / (3 * cross2) end, {round_to}) + 0.0
             as centroid_lon,
           round(case when cross2 != 0 then cys / (3 * cross2) end, {round_to}) + 0.0
             as centroid_lat
    from m order by poly_id, ring_idx
    """
