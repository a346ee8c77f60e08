"""zscore_outliers and group_corr goldens."""

import pytest

from cadastre_pg_spark.operators.held import skipped
from cadastre_pg_spark.operators.stats import group_corr, zscore_outliers


def test_zscore_flags_the_outlier(spark):
    vals = [10.0] * 9 + [100.0]
    df = spark.createDataFrame(
        [(i, "a", v) for i, v in enumerate(vals)],
        "event_id long, event_type string, value double",
    )
    out = zscore_outliers(df, "event_type", "value", "event_id", threshold=2.0)
    rows = out.collect()
    assert len(rows) == 1 and rows[0].event_id == 9
    assert rows[0].z == pytest.approx(3.0, abs=1e-9)  # 9-low-1-high layout


def test_zscore_constant_group_emits_nothing(spark):
    df = spark.createDataFrame(
        [(i, "c", 5.0) for i in range(10)],
        "event_id long, event_type string, value double",
    )
    assert zscore_outliers(df, "event_type", "value", "event_id").count() == 0


def test_corr_perfect_and_inverse(spark):
    rows = [("up", float(i), float(2 * i + 1)) for i in range(10)]
    rows += [("down", float(i), float(-3 * i)) for i in range(10)]
    rows += [("flat", float(i), 7.0) for i in range(10)]
    df = spark.createDataFrame(rows, "grp string, x double, y double")
    out = {r.grp: r.corr for r in group_corr(df, "grp", "x", "y").collect()}
    assert out["up"] == pytest.approx(1.0, abs=1e-6)
    assert out["down"] == pytest.approx(-1.0, abs=1e-6)
    assert out["flat"] is None


def test_profile_counts_nulls_and_distincts(spark):
    from cadastre_pg_spark.operators.stats import profile_table

    df = spark.createDataFrame(
        [(1, 2.0, "x"), (2, None, "x"), (3, 2.0, None), (4, 9.0, "y")],
        "id long, v double, s string",
    )
    rows = {r.col_name: r for r in profile_table(
        df, numeric_cols=("id", "v"), other_cols=("s",)
    ).collect()}
    assert rows["id"].n == 4 and rows["id"].n_null == 0
    assert rows["id"].n_distinct == 4
    assert (rows["id"].min_num, rows["id"].max_num) == (1.0, 4.0)
    assert rows["v"].n_null == 1 and rows["v"].n_distinct == 2
    assert (rows["v"].min_num, rows["v"].max_num) == (2.0, 9.0)
    assert rows["s"].n_null == 1 and rows["s"].n_distinct == 2
    assert rows["s"].min_num is None and rows["s"].max_num is None


def test_cell_pyramid_levels_nest(spark):
    """Every fine-level count must roll up exactly into its parent."""
    import __spark_entry__ as E
    from conftest import SF_UNIT

    rows = E.queries()["cell_pyramid"](spark, SF_UNIT).collect()
    by_level = {}
    for r in rows:
        by_level.setdefault(r.level, {})[r.cell] = r.n
    levels = sorted(by_level)
    for lo, hi in zip(levels, levels[1:]):
        d = hi - lo
        rolled = {}
        for cell, n in by_level[hi].items():
            ix, iy = divmod(cell, 1 << hi)
            parent = (ix >> d) * (1 << lo) + (iy >> d)
            rolled[parent] = rolled.get(parent, 0) + n
        assert rolled == by_level[lo]
    # total conserved per level
    totals = {lv: sum(c.values()) for lv, c in by_level.items()}
    assert len(set(totals.values())) == 1


def test_mad_outliers_robust_to_single_spike(spark):
    from cadastre_pg_spark.operators.stats import mad_outliers

    # 20 well-behaved values + one enormous spike: the spike must be
    # the ONLY outlier (a mean/std zscore would inflate sigma and
    # potentially flag nothing, or shift the center)
    rows = [(1, "a", float(v)) for v in range(20)] + [(99, "a", 1e9)]
    df = spark.createDataFrame(rows, "event_id long, event_type string, value double")
    r = mad_outliers(df, "event_type", "value", k=3.0).collect()[0]
    assert r.med == 10.0 and r.n == 21 and r.n_outliers == 1


def test_mad_zero_mad_group(spark):
    from cadastre_pg_spark.operators.stats import mad_outliers

    # constant group: mad 0 -> any deviation is an outlier, none here
    rows = [(i, "c", 5.0) for i in range(4)]
    df = spark.createDataFrame(rows, "event_id long, event_type string, value double")
    r = mad_outliers(df, "event_type", "value").collect()[0]
    assert (r.med, r.mad, r.n_outliers) == (5.0, 0.0, 0)


# --------------------------------------------------- theil_sen / benford


def _ts_events(spark, series):
    from datetime import datetime, timedelta

    t0 = datetime(2024, 1, 1)
    rows = [
        (g, t0 + timedelta(minutes=i), float(v))
        for g, vs in series.items()
        for i, v in enumerate(vs)
    ]
    return spark.createDataFrame(rows, "user_id long, ts timestamp, value double")


def test_theil_sen_ignores_single_outlier(spark):
    from cadastre_pg_spark.operators.stats import theil_sen

    # perfect slope 1 cent/min with one wild value: median slope stays 1
    vs = [1.00, 1.01, 1.02, 1.03, 99.0, 1.05, 1.06, 1.07, 1.08]
    out = {r.grp: r for r in theil_sen(_ts_events(spark, {1: vs})).collect()}
    assert out[1].n == 9
    assert abs(out[1].ts_slope - 1.0) < 1e-9  # cents per minute


def test_theil_sen_matches_numpy_median_of_slopes(spark):
    import numpy as np
    from cadastre_pg_spark.operators.stats import theil_sen

    vs = [3.0, 1.5, 4.25, 2.0, 5.5, 0.75, 6.0]
    out = theil_sen(_ts_events(spark, {7: vs})).collect()[0]
    y = [int(np.floor(v * 100 + 0.5)) for v in vs]
    slopes = [
        (y[j] - y[i]) / (j - i)
        for i in range(len(y))
        for j in range(i + 1, len(y))
    ]
    assert out.n_pairs == len(slopes)
    assert abs(out.ts_slope - float(np.median(slopes))) < 1e-12


def test_theil_sen_max_group_skips_hot_group_loudly(spark):
    from cadastre_pg_spark.operators.stats import theil_sen

    # group 1: hot (50 obs, over the cap) — excluded, reported;
    # group 2: small — returned with the exact uncapped estimate
    series = {1: [float(i) for i in range(50)], 2: [1.0, 2.0, 3.0]}
    out = theil_sen(_ts_events(spark, series), max_group=10)
    rows = {r.grp: r for r in out.collect()}
    assert set(rows) == {2}
    assert abs(rows[2].ts_slope - 100.0) < 1e-9  # 1.0/min in cents
    sk = {(r.grp, r.n) for r in skipped(out).collect()}
    assert sk == {(1, 50)}


def test_theil_sen_sample_cap_bounds_pairs_exact_below_cap(spark):
    import numpy as np
    from cadastre_pg_spark.operators.stats import theil_sen

    # hot group 1 (60 obs) gets subsampled to 12 -> at most C(12,2)=66
    # pairs (sub-quadratic in the group size); small group 7 must be
    # BITWISE the exact estimator's output
    vs_small = [3.0, 1.5, 4.25, 2.0, 5.5, 0.75, 6.0]
    series = {1: [float((i * 37) % 101) for i in range(60)], 7: vs_small}
    out = {
        r.grp: r
        for r in theil_sen(_ts_events(spark, series), sample_cap=12).collect()
    }
    assert out[1].n == 60  # full size stays visible
    assert 0 < out[1].n_pairs <= 66
    exact = {
        r.grp: r
        for r in theil_sen(_ts_events(spark, {7: vs_small})).collect()
    }
    assert out[7].n_pairs == exact[7].n_pairs
    assert out[7].ts_slope == exact[7].ts_slope
    # the sampled estimate still lands near the robust slope of the
    # underlying linear-ish series (determinism: same call, same rows)
    out2 = {
        r.grp: r
        for r in theil_sen(_ts_events(spark, series), sample_cap=12).collect()
    }
    assert out2[1].ts_slope == out[1].ts_slope


def test_theil_sen_constant_time_bucket_null(spark):
    from datetime import datetime
    from cadastre_pg_spark.operators.stats import theil_sen

    t0 = datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [(1, t0, 2.0), (1, t0, 5.0)], "user_id long, ts timestamp, value double"
    )
    out = theil_sen(df).collect()[0]
    assert out.n_pairs == 0 and out.ts_slope is None


def test_benford_digit_ladder_and_chi2(spark):
    import math
    from cadastre_pg_spark.operators.stats import benford, BENFORD_P

    vals = [1234.0, 150.0, 19.5, 2.0, 0.31, 0.042, 9999.49, 0.0099, -5.0]
    df = spark.createDataFrame(
        [("g", v) for v in vals], "event_type string, value double"
    )
    out = benford(df).collect()[0]
    # digits: 1,1,1,2,3,4,9 in range; 0.0099 and -5.0 out of band
    assert out.n == 7 and out.n_oob == 2
    assert (out.n1, out.n2, out.n3, out.n4, out.n9) == (3, 1, 1, 1, 1)
    obs = [out[f"n{k}"] for k in range(1, 10)]
    chi2 = 0.0
    for k in range(9):
        e = 7 * BENFORD_P[k]
        chi2 += (obs[k] - e) ** 2 / e
    assert math.isclose(out.chi2, chi2, rel_tol=1e-12)


def test_benford_uniform_digits_reject(spark):
    from cadastre_pg_spark.operators.stats import benford

    # every digit equally often: chi2 far above the 15.5 (8 dof, 5%)
    df = spark.createDataFrame(
        [("u", float(d) * 10 + 1) for d in range(1, 10) for _ in range(30)],
        "event_type string, value double",
    )
    out = benford(df).collect()[0]
    assert out.n == 270 and out.chi2 > 15.5


def test_collocations_counts_and_marginals(spark):
    from cadastre_pg_spark.operators.textanalysis import collocations

    docs = spark.createDataFrame(
        [
            (1, "new york is big"),
            (2, "new york new jersey"),
            (3, "big apple"),
        ],
        "doc_id long, text string",
    )
    out = {(r.a, r.b): r for r in collocations(docs, min_count=2).collect()}
    assert set(out) == {("new", "york")}
    r = out[("new", "york")]
    # bigrams: (new,york)x2, (york,is), (is,big), (york,new), (new,jersey), (big,apple)
    assert r.n_ab == 2 and r.n_a == 3 and r.n_b == 2
