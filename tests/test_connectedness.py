"""Connectedness convergence/self-consistency tests
(notebooks/connectedness_testing.R:25-44)."""

import pytest

from hexscape_spark import geo
from hexscape_spark.connectedness import generate_connectedness
from hexscape_spark.tiling import generate_patches


@pytest.fixture(scope="module")
def patch_df(spark):
    land = geo.rect_wkb(0, 0, 20, 20)
    return generate_patches(spark, land, hex_width=5.0,
                            reference_point=(0, 0), keep_geometry=True)


def _make_kernel():
    # defined as a closure so cloudpickle ships it by value to executors
    # (a test-module-level def is not importable on Spark workers)
    return lambda d: 0.5 / d


kernel = _make_kernel()


def test_connectedness_basic(spark, patch_df):
    conn = generate_connectedness(patch_df, kernel, max_distance=5.0,
                                  grid_resolution=10).toPandas()
    assert len(conn) > 0
    assert (conn.Connectedness > 0).all()
    # nearer pairs are more connected on a symmetric landscape: compare the
    # mean for adjacent vs distant pairs using hex distance
    p = patch_df.select("Index", "q", "r").toPandas().set_index("Index")
    conn["hexd"] = [
        (abs(p.q[s] - p.q[t]) + abs(p.r[s] - p.r[t]) +
         abs(p.q[s] - p.q[t] + p.r[s] - p.r[t])) // 2
        for s, t in zip(conn.Source, conn.Target)]
    m = conn.groupby("hexd").Connectedness.mean()
    assert m.loc[1] > m.loc[m.index.max()]


def test_connectedness_kernel_sum_symmetric(spark, patch_df):
    """C(s,t)*n_s == C(t,s)*n_t exactly — the underlying kernel double sum
    is symmetric; the mean-over-source normalisation is what breaks raw
    symmetry (the reference notes the same: `plot(rvd, t(rvd))`,
    R/generate_connectedness.R:263)."""
    from hexscape_spark.connectedness import patch_grid_points
    conn = generate_connectedness(patch_df, kernel, max_distance=5.0,
                                  grid_resolution=10).toPandas()
    counts = (patch_grid_points(patch_df, 0.5).groupBy("Index").count()
              .toPandas().set_index("Index")["count"])
    piv = conn.set_index(["Source", "Target"]).Connectedness
    checked = 0
    for (s, t), v in piv.items():
        if (t, s) in piv.index:
            assert v * counts[s] == pytest.approx(piv[(t, s)] * counts[t],
                                                  rel=1e-9)
            checked += 1
    assert checked > 0


def test_connectedness_grid_convergence(spark, patch_df):
    """grid_resolution 10 vs 20 agree within tolerance
    (notebooks/connectedness_testing.R:25-39)."""
    c10 = generate_connectedness(patch_df, kernel, max_distance=5.0,
                                 grid_resolution=10).toPandas()
    c20 = generate_connectedness(patch_df, kernel, max_distance=5.0,
                                 grid_resolution=20).toPandas()
    j = c10.merge(c20, on=["Source", "Target"], suffixes=("_10", "_20"))
    rel = (j.Connectedness_10 - j.Connectedness_20).abs() / j.Connectedness_20
    assert rel.median() < 0.15


def test_connectedness_wide_marginals_match_long(spark):
    """Dense pivot (R/generate_connectedness.R:249-260): row sums of the
    zero-filled matrix equal the long form's per-Source sums, and absent
    pairs are genuine zeros."""
    rows = [(1, 2, 0.5), (1, 3, 0.25), (2, 1, 0.5), (3, 1, 0.2)]
    conn = spark.createDataFrame(
        rows, "Source LONG, Target LONG, Connectedness DOUBLE")
    from hexscape_spark.connectedness import connectedness_wide
    wide = connectedness_wide(conn).toPandas() \
        .sort_values("Source").reset_index(drop=True)
    assert list(wide.columns) == ["Source", "1", "2", "3"]
    long = conn.toPandas()
    for _, row in wide.iterrows():
        want = long[long.Source == row.Source].Connectedness.sum()
        assert row[["1", "2", "3"]].sum() == pytest.approx(want)
    # zero fill: (2,3) and (3,2) absent in long form
    assert wide.loc[wide.Source == 2, "3"].iloc[0] == 0.0
    assert wide.loc[wide.Source == 3, "2"].iloc[0] == 0.0
    # column marginals too
    for t in ("1", "2", "3"):
        want = long[long.Target == int(t)].Connectedness.sum()
        assert wide[t].sum() == pytest.approx(want)
