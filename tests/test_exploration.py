"""Tests for ml.exploration statistics: the scipy-free F-distribution
survival function and the always-present ANOVA p-value."""

from __future__ import annotations

import math

import pytest

from sf_datalake_spark.ml.exploration import f_sf, one_way_anova, reg_inc_beta


# ---------------------------------------------------------------------------
# f_sf / reg_inc_beta — checked against closed forms, not scipy
# ---------------------------------------------------------------------------

def test_f_sf_d1_equals_2_closed_form():
    # d1 = 2 -> b = 1 -> I_x(a, 1) = x^a -> p = (d2/(d2+2f))^(d2/2)
    for f in (0.1, 1.0, 2.5, 10.0):
        for d2 in (1.0, 4.0, 30.0, 200.0):
            expected = (d2 / (d2 + 2.0 * f)) ** (d2 / 2.0)
            assert f_sf(f, 2.0, d2) == pytest.approx(expected, rel=1e-12)


def test_f_sf_1_1_closed_form():
    # F(1,1) is the ratio of two chi2_1: P(F > f) = 1 - (2/pi) atan(sqrt(f))
    for f in (0.2, 1.0, 3.0, 25.0):
        expected = 1.0 - (2.0 / math.pi) * math.atan(math.sqrt(f))
        assert f_sf(f, 1.0, 1.0) == pytest.approx(expected, rel=1e-12)


def test_f_sf_2_2_closed_form():
    # I_x(1,1) = x -> p = 1/(1+f)
    for f in (0.5, 1.0, 4.0):
        assert f_sf(f, 2.0, 2.0) == pytest.approx(1.0 / (1.0 + f), rel=1e-12)


def test_f_sf_d1_4_even_closed_form():
    # b = 2 -> I_x(a,2) = x^a (a + 1 - a x) — the form the anova_f
    # query/oracle pair computes in SQL; must agree with the continued
    # fraction to full precision.
    for f in (0.3, 1.0, 2.2):
        for d2 in (10.0, 99.0, 5000.0):
            x = d2 / (d2 + 4.0 * f)
            a = d2 / 2.0
            expected = x**a * (a + 1.0 - a * x)
            assert f_sf(f, 4.0, d2) == pytest.approx(expected, rel=1e-10)


def test_f_sf_reciprocal_symmetry():
    # 1/F(d1,d2) ~ F(d2,d1): P(F > f) = 1 - sf(1/f; d2, d1)
    for f in (0.4, 1.7, 6.0):
        for d1, d2 in ((3.0, 7.0), (5.0, 2.0), (11.0, 23.0)):
            assert f_sf(f, d1, d2) == pytest.approx(
                1.0 - f_sf(1.0 / f, d2, d1), abs=1e-12
            )


def test_f_sf_bounds_and_monotonicity():
    assert f_sf(0.0, 3.0, 10.0) == 1.0
    assert f_sf(-1.0, 3.0, 10.0) == 1.0
    prev = 1.0
    for f in (0.01, 0.1, 1.0, 10.0, 100.0, 1e4):
        p = f_sf(f, 3.0, 10.0)
        assert 0.0 <= p < prev
        prev = p
    assert prev < 1e-6


def test_reg_inc_beta_complement():
    for a, b in ((0.5, 0.5), (2.0, 3.0), (40.0, 7.0)):
        for x in (0.1, 0.5, 0.9):
            assert reg_inc_beta(a, b, x) == pytest.approx(
                1.0 - reg_inc_beta(b, a, 1.0 - x), abs=1e-12
            )


def test_reg_inc_beta_half_half_is_arcsine():
    # I_x(1/2, 1/2) = (2/pi) asin(sqrt(x))
    for x in (0.05, 0.3, 0.73, 0.99):
        assert reg_inc_beta(0.5, 0.5, x) == pytest.approx(
            (2.0 / math.pi) * math.asin(math.sqrt(x)), rel=1e-10
        )


# ---------------------------------------------------------------------------
# one_way_anova emits p_value without scipy
# ---------------------------------------------------------------------------

def test_one_way_anova_always_emits_p_value(spark):
    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("a", 3.0),
         ("b", 6.0), ("b", 7.0), ("b", 8.0),
         ("c", 1.5), ("c", 2.5), ("c", 3.5)],
        "g string, v double",
    )
    out = one_way_anova(df, "g", "v")
    assert set(out) == {"f_stat", "df_between", "df_within", "p_value"}
    assert out["df_between"] == 2.0 and out["df_within"] == 6.0
    # hand check: group means 2, 7, 2.5; grand mean 23/6
    # ss_between = 3[(2-23/6)^2 + (7-23/6)^2 + (2.5-23/6)^2] = 46.75... compute:
    gm = 23.0 / 6.0
    ssb = 3 * ((2 - gm) ** 2 + (7 - gm) ** 2 + (2.5 - gm) ** 2)
    ssw = 6.0  # each group has var_samp 1.0 -> (3-1)*1 per group
    f_expected = (ssb / 2.0) / (ssw / 6.0)
    assert out["f_stat"] == pytest.approx(f_expected, rel=1e-12)
    assert out["p_value"] == pytest.approx(f_sf(f_expected, 2.0, 6.0), rel=1e-12)
    assert 0.0 < out["p_value"] < 0.05  # clearly separated groups


# ---------------------------------------------------------------------------
# quantile_summary keeps every (column, quantile) row, as F.percentile did
# ---------------------------------------------------------------------------

def _percentile_rows(df, cols, qs):
    from pyspark.sql import functions as F

    ref = df.select(*[F.percentile(c, list(qs)).alias(c) for c in cols]).first()
    return {
        (c, q): (ref[c][i] if ref[c] is not None else None)
        for c in cols for i, q in enumerate(qs)
    }


def test_quantile_summary_all_null_column_and_empty_input(spark):
    from sf_datalake_spark.ml.exploration import quantile_summary

    qs = (0.05, 0.5, 0.95)
    df = spark.createDataFrame(
        [(1.0, None), (4.0, None), (2.5, None), (None, None), (7.0, None)],
        "x double, z double",
    )
    for frame in (df, df.limit(0)):
        rows = quantile_summary(frame, ["x", "z"], qs).collect()
        got = {(r["column"], r["quantile"]): r["value"] for r in rows}
        assert len(rows) == 6
        assert got == _percentile_rows(frame, ["x", "z"], qs)
        assert all(got[("z", q)] is None for q in qs)


# ---------------------------------------------------------------------------
# PCA trajectories: one basis (first period), all periods projected
# ---------------------------------------------------------------------------

def test_pca_trajectories_fixed_basis(spark):
    import datetime

    from sf_datalake_spark.ml.exploration import pca_trajectories

    # period 1: points along the x-axis -> first PC is the x direction.
    # period 2: the same entities moved; projections must use the
    # PERIOD-1 basis, not refit.
    d1, d2 = datetime.date(2020, 1, 1), datetime.date(2020, 2, 1)
    rows = [
        ("a", d1, 0.0, 0.0), ("b", d1, 2.0, 0.1), ("c", d1, 4.0, -0.1),
        ("d", d1, 6.0, 0.0),
        ("a", d2, 0.0, 5.0), ("b", d2, 2.0, 5.0), ("c", d2, 4.0, 5.0),
        ("d", d2, 6.0, 5.0),
    ]
    df = spark.createDataFrame(rows, "siren string, `période` date, x double, y double")
    out = pca_trajectories(df, ["x", "y"], "2020-01-01", "2020-03-01", k=2)
    got = {(r["siren"], str(r["période"])): (r["cp1"], r["cp2"]) for r in out.collect()}
    assert len(got) == 8  # every (entity, period) row, single pass

    # Basis from period 1 is ~axis-aligned: cp1 tracks x (up to sign).
    import numpy as np

    p1 = [got[(s, "2020-01-01")] for s in "abcd"]
    cp1 = np.array([p[0] for p in p1])
    xs = np.array([0.0, 2.0, 4.0, 6.0])
    corr = np.corrcoef(cp1, xs)[0, 1]
    assert abs(corr) > 0.999

    # Spark's PCA transform is linear: cp1 = a·x + b·y.  Solve (a, b)
    # from two period-1 rows, then period-2 rows MUST satisfy the same
    # coefficients — proving the period-1 basis was applied unchanged
    # (a refit on period 2, where all x-variance vanished into constant
    # y=5, would produce entirely different loadings).
    A = np.array([[2.0, 0.1], [4.0, -0.1]])
    rhs = np.array([got[("b", "2020-01-01")][0], got[("c", "2020-01-01")][0]])
    a_coef, b_coef = np.linalg.solve(A, rhs)
    for s, x in zip("abcd", [0.0, 2.0, 4.0, 6.0]):
        expected = a_coef * x + b_coef * 5.0
        assert got[(s, "2020-02-01")][0] == pytest.approx(expected, abs=1e-6)


def test_pca_trajectories_empty_window_raises(spark):
    import datetime

    from sf_datalake_spark.ml.exploration import pca_trajectories

    df = spark.createDataFrame(
        [("a", datetime.date(2020, 1, 1), 1.0, 2.0)],
        "siren string, `période` date, x double, y double",
    )
    with pytest.raises(ValueError, match="no rows"):
        pca_trajectories(df, ["x", "y"], "2021-01-01", "2021-02-01")


def test_pca_top2_ppm_matches_duckdb_exactly(spark):
    """The fixed-point power iteration and its DuckDB recursive-CTE
    replay (shared fragments, div vs //) must agree on every projected
    integer — the guard behind the pca_projection oracle."""
    import duckdb
    import numpy as np
    import pandas as pd

    from sf_datalake_spark.ml.exploration import pca_top2_ppm, pca_top2_ppm_sql

    rng = np.random.RandomState(13)
    # anisotropic data so the top components are well separated
    basis = rng.normal(size=(4, 4))
    X = rng.normal(size=(150, 4)) * np.array([3.0, 1.5, 0.5, 0.1]) @ basis
    pdf = pd.DataFrame(X, columns=[f"e{i}" for i in range(4)])
    pdf.insert(0, "rid", range(150))

    got = {
        r["rid"]: (r["pc1_ppm"], r["pc2_ppm"])
        for r in pca_top2_ppm(
            spark.createDataFrame(pdf), "rid", [f"e{i}" for i in range(4)],
            n_iter=10,
        ).collect()
    }
    con = duckdb.connect()
    con.register("t", pdf)
    src = "SELECT rid, " + ", ".join(
        f"CAST(round(CAST(e{i} AS DOUBLE) * 1000000.0) AS BIGINT) AS x{i}"
        for i in range(4)
    ) + " FROM t"
    want = {
        r[0]: (r[1], r[2])
        for r in con.execute(
            pca_top2_ppm_sql(4, 10, src, id_cols=("rid",))
        ).fetchall()
    }
    assert got == want


def test_pca_power_iter_early_exit_is_oracle_invisible(spark):
    """Round-10 trim: the Spark power iteration breaks out as soon as
    the integer component vector hits an exact fixed point (v' == v ⇒
    every later round replays the same v in both engines), while the
    DuckDB oracle always runs the full ``n_iter`` recursion.  On
    well-separated data the exit must actually trigger (< n_iter
    rounds) AND the projections must still equal the full replay —
    i.e. the trim is invisible to the hash oracle by construction."""
    import duckdb
    import numpy as np
    import pandas as pd

    import sf_datalake_spark.ml.exploration as ex

    rng = np.random.RandomState(7)
    # one dominant direction → the ppm vector pins down in a few rounds
    X = rng.normal(size=(200, 3)) * np.array([10.0, 0.5, 0.05])
    pdf = pd.DataFrame(X, columns=["e0", "e1", "e2"])
    pdf.insert(0, "rid", range(200))

    got = {
        r["rid"]: (r["pc1_ppm"], r["pc2_ppm"])
        for r in ex.pca_top2_ppm(
            spark.createDataFrame(pdf), "rid", ["e0", "e1", "e2"], n_iter=10
        ).collect()
    }
    # _LAST_POWER_ROUNDS reflects the PC2 iteration (the last call);
    # with this spectrum both components stabilize well before 10
    assert ex._LAST_POWER_ROUNDS < 10, (
        "early exit never fired on a spectrally trivial input — the "
        f"trim is dead code (ran {ex._LAST_POWER_ROUNDS} rounds)"
    )
    con = duckdb.connect()
    con.register("t", pdf)
    src = "SELECT rid, " + ", ".join(
        f"CAST(round(CAST(e{i} AS DOUBLE) * 1000000.0) AS BIGINT) AS x{i}"
        for i in range(3)
    ) + " FROM t"
    want = {
        r[0]: (r[1], r[2])
        for r in con.execute(
            ex.pca_top2_ppm_sql(3, 10, src, id_cols=("rid",))
        ).fetchall()
    }
    assert got == want


def test_pca_top2_ppm_aligns_with_mllib(spark):
    """Quality pin: the fixed-point PC1/PC2 coordinates correlate with
    MLlib's exact PCA projection at |r| > 0.99 (up to sign — power
    iteration's sign follows the start vector, MLlib's is
    implementation-defined) and the two components are near-orthogonal
    in coordinate space."""
    import numpy as np
    import pandas as pd

    from sf_datalake_spark.ml.exploration import pca_project, pca_top2_ppm

    rng = np.random.RandomState(7)
    basis = rng.normal(size=(5, 5))
    X = rng.normal(size=(300, 5)) * np.array([4.0, 2.0, 0.7, 0.2, 0.1]) @ basis
    pdf = pd.DataFrame(X, columns=[f"e{i}" for i in range(5)])
    pdf.insert(0, "rid", range(300))
    df = spark.createDataFrame(pdf)

    ppm = pca_top2_ppm(df, "rid", [f"e{i}" for i in range(5)], n_iter=10)
    ppm_pd = ppm.toPandas().sort_values("rid")
    from pyspark.ml.functions import vector_to_array
    from pyspark.sql import functions as F

    proj, _ = pca_project(df, [f"e{i}" for i in range(5)], k=2)
    arr = vector_to_array("pca_features")
    ml = proj.select(
        "rid", F.element_at(arr, 1).alias("p1"), F.element_at(arr, 2).alias("p2")
    ).toPandas().sort_values("rid")

    for a, b in (("pc1_ppm", "p1"), ("pc2_ppm", "p2")):
        r = np.corrcoef(ppm_pd[a].to_numpy(float), ml[b].to_numpy(float))[0, 1]
        assert abs(r) > 0.99, (a, b, r)


def test_pca_fixed_basis_fit_slice_semantics(spark):
    """pca_top2_fixed_basis_ppm must fit means + components on the
    fit_expr slice ONLY and project every row through that one basis —
    so out-of-slice rows change NOTHING about in-slice coordinates,
    and a slice-shifted point projects through the slice's basis, not
    its own."""
    import numpy as np
    import pandas as pd

    from sf_datalake_spark.ml.exploration import pca_top2_fixed_basis_ppm

    rng = np.random.RandomState(21)
    fit = rng.normal(size=(80, 3)) * np.array([3.0, 1.0, 0.2])
    rest = rng.normal(size=(40, 3)) * np.array([0.1, 5.0, 9.0]) + 7.0
    pdf = pd.DataFrame(
        np.vstack([fit, rest]), columns=["e0", "e1", "e2"]
    )
    pdf.insert(0, "rid", range(120))
    pdf.insert(1, "grp", ["fit"] * 80 + ["rest"] * 40)
    df = spark.createDataFrame(pdf)

    both = pca_top2_fixed_basis_ppm(
        df, ["rid"], ["e0", "e1", "e2"], fit_expr="grp = 'fit'", n_iter=10
    ).toPandas().set_index("rid").sort_index()
    only_fit = pca_top2_fixed_basis_ppm(
        df.filter("grp = 'fit'"), ["rid"], ["e0", "e1", "e2"],
        fit_expr=None, n_iter=10,
    ).toPandas().set_index("rid").sort_index()
    # in-slice coordinates identical whether or not out-of-slice rows
    # ride along (the basis ignores them)
    assert (both.loc[:79] == only_fit).all().all()
    # and the out-of-slice rows are projected (present, non-trivial)
    assert len(both) == 120
    assert both.loc[80:, "pc1_ppm"].abs().max() > 0
