"""ring_metrics: known-value measures, orientation sign, auto-close,
degenerate handling, and the zero-exchange plan claim."""

from __future__ import annotations

import math

from htrc_ingester_spark.operators.ringstats import ring_metrics

_SCHEMA = "poly_id string, vertices array<struct<lon: double, lat: double>>"


def _one(spark, verts):
    df = spark.createDataFrame([("p", verts)], _SCHEMA)
    return ring_metrics(df).collect()[0]


class TestRingMetrics:
    def test_unit_square_ccw(self, spark):
        r = _one(spark, [(0.0, 0.0), (2.0, 0.0), (2.0, 2.0), (0.0, 2.0), (0.0, 0.0)])
        assert r.signed_area == 4.0 and r.area == 4.0
        assert r.perimeter == 8.0
        assert (r.centroid_lon, r.centroid_lat) == (1.0, 1.0)

    def test_cw_flips_sign_only(self, spark):
        r = _one(spark, [(0.0, 0.0), (0.0, 2.0), (2.0, 2.0), (2.0, 0.0), (0.0, 0.0)])
        assert r.signed_area == -4.0 and r.area == 4.0
        assert (r.centroid_lon, r.centroid_lat) == (1.0, 1.0)

    def test_open_ring_auto_closed(self, spark):
        r = _one(spark, [(0.0, 0.0), (2.0, 0.0), (2.0, 2.0), (0.0, 2.0)])
        assert r.area == 4.0 and r.perimeter == 8.0

    def test_triangle_centroid(self, spark):
        r = _one(spark, [(0.0, 0.0), (3.0, 0.0), (0.0, 3.0), (0.0, 0.0)])
        assert r.area == 4.5
        assert math.isclose(r.centroid_lon, 1.0) and math.isclose(r.centroid_lat, 1.0)
        assert math.isclose(r.perimeter, 6.0 + 3.0 * math.sqrt(2.0))

    def test_degenerate_zero_area_null_centroid(self, spark):
        r = _one(spark, [(1.0, 1.0), (2.0, 1.0), (3.0, 1.0), (1.0, 1.0)])
        assert r.area == 0.0 and r.centroid_lon is None and r.centroid_lat is None

    def test_zero_exchange_plan(self, spark):
        """The whole point of the HOF formulation: measuring rings is a
        map-only scan — no Exchange in the optimized plan."""
        df = spark.createDataFrame(
            [("p", [(0.0, 0.0), (1.0, 0.0), (1.0, 1.0), (0.0, 0.0)])], _SCHEMA
        )
        plan = ring_metrics(df)._jdf.queryExecution().optimizedPlan().toString()
        assert "Exchange" not in plan and "exchange" not in plan

    def test_rounded_zeros_are_positive_in_both_dialects(self, spark):
        """DuckDB's round() kept the sign of a tiny negative measure
        (Spark's does not): a clockwise sliver (signed area -5e-9) and a
        ring centred just below the origin (centroid -1e-7) printed -0.0
        in the oracle and 0.0 in Spark, which a bit-level value hash
        tells apart. Both dialects normalise zeros after rounding."""
        import duckdb

        from htrc_ingester_spark.operators.ringstats import ring_metrics_oracle_sql

        a, b = -1.0000001, 1.9999999
        rings = [
            ("sliver", [(0.0, 0.0), (0.0, 1e-4), (1e-4, 0.0), (0.0, 0.0)]),
            ("near_origin", [(a, a), (a, b), (b, a), (a, a)]),
        ]
        cols = "poly_id, signed_area, area, perimeter, centroid_lon, centroid_lat"
        got = ring_metrics(spark.createDataFrame(rings, _SCHEMA), round_to=6)
        vals = ", ".join(
            f"('{p}', 0, {i}, {x!r}::double, {y!r}::double)"
            for p, verts in rings
            for i, (x, y) in enumerate(verts)
        )
        rel = f"(select * from (values {vals}) t(poly_id, ring_idx, pt_idx, lon, lat))"
        want = duckdb.sql(f"select {cols} from ({ring_metrics_oracle_sql(rel, 6)})")
        got_r = sorted(tuple(r) for r in got.selectExpr(*cols.split(", ")).collect())
        want_r = sorted(want.fetchall())
        assert repr(got_r) == repr(want_r)  # repr tells -0.0 from 0.0
        assert sum(v == 0.0 for r in got_r for v in r[1:]) == 4
