"""The applyInPandas Holland kernel must agree with the oracle-checked
expression path elementwise — same formulas, two physical strategies
(SURVEY §2.9 K1; numpy vs whole-stage codegen)."""

from __future__ import annotations

import pytest

from ibf_typhoon_data_pipeline_spark.plans.typhoon import (
    gen_centroids,
    gen_tracks,
)
from ibf_typhoon_data_pipeline_spark.operators.windfield import (
    windfield_expr,
    windfield_kernel,
)


def test_kernel_matches_expr(spark):
    tracks = gen_tracks(spark).filter("ens_id < 6")  # subset: speed
    cents = gen_centroids(spark).select("centroid_id", "lat", "lon")
    expr_rows = {
        (r.ens_id, r.step, r.centroid_id): r.wind_ms
        for r in windfield_expr(tracks, cents).collect()
    }
    kern_rows = {
        (r.ens_id, r.step, r.centroid_id): r.wind_ms
        for r in windfield_kernel(tracks, cents).collect()
    }
    assert set(expr_rows) == set(kern_rows)
    worst = max(
        abs(expr_rows[k] - kern_rows[k]) for k in expr_rows
    )
    assert worst < 1e-6, f"kernel diverges from expr path by {worst}"


def test_intensity_reduce_is_max_per_member_centroid(spark):
    from pyspark.sql import functions as F

    from ibf_typhoon_data_pipeline_spark.operators.windfield import (
        intensity_reduce,
    )

    tracks = gen_tracks(spark).filter("ens_id < 3")
    cents = gen_centroids(spark).select("centroid_id", "lat", "lon")
    wf = windfield_expr(tracks, cents)
    reduced = intensity_reduce(wf)
    direct = wf.groupBy("ens_id", "centroid_id").agg(
        F.max("wind_ms").alias("intensity_ms")
    )
    assert reduced.exceptAll(direct).count() == 0
    assert direct.exceptAll(reduced).count() == 0


@pytest.mark.parametrize("metric", ["geosphere", "equirect"])
def test_expr_matches_inline_fence_exactly(spark, metric):
    """windfield_expr computes the Holland tree in a projection below
    the generator fence (so codegen subexpression elimination shares
    its repeated terms) instead of inside the fence. The operations
    and their order are unchanged, so every value must be EQUAL to
    the inline-fence form — no float reassociation, no tolerance.
    The grid prune drops only sub-threshold pairs, so the same tree
    over the unpruned bbox join must give the same rows too."""
    from pyspark.sql import functions as F

    from ibf_typhoon_data_pipeline_spark.functions.geo import haversine_km
    from ibf_typhoon_data_pipeline_spark.operators.windfield import (
        V_THRESHOLD_MS,
        _extent_col,
        _wind_extent_kernel,
        bbox_pairs,
        equirect_km,
        grid_prune_pairs,
        holland_wind_ms,
        track_point_params,
    )

    tracks = gen_tracks(spark)
    cents = gen_centroids(spark).select("centroid_id", "lat", "lon")
    t = track_point_params(tracks).select(
        "ens_id", "step",
        F.col("lat").alias("t_lat"), F.col("lon").alias("t_lon"),
        "pcen", "penv", "v_trans_ms", "rmw_km", "b_s",
    )
    pairs = grid_prune_pairs(
        cents, t,
        _extent_col(
            _wind_extent_kernel,
            "rmw_km", "b_s", "penv", "pcen", "v_trans_ms", "t_lat",
        ),
    )
    dist_fn = haversine_km if metric == "geosphere" else equirect_km
    wind = holland_wind_ms(
        dist_fn(F.col("c_lat"), F.col("c_lon"), F.col("t_lat"), F.col("t_lon")),
        F.col("rmw_km"), F.col("b_s"),
        F.col("penv"), F.col("pcen"), F.col("t_lat"), F.col("v_trans_ms"),
    )

    def inline(p):
        return p.select(
            "ens_id", "step", "centroid_id",
            F.explode(F.array(wind)).alias("wind_ms"),
        ).filter(F.col("wind_ms") > V_THRESHOLD_MS)

    def rows(df):
        return {
            (r.ens_id, r.step, r.centroid_id): r.wind_ms for r in df.collect()
        }

    fenced = rows(windfield_expr(tracks, cents, metric=metric))
    assert fenced
    assert fenced == rows(inline(pairs))
    assert fenced == rows(inline(bbox_pairs(cents, t)))
