"""Cleaning + transform parity vs a tiny pandas reference implementation
(SURVEY §5.2.2 — exact reference semantics as in-test oracle)."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from kgfarm_spark.functions.cleaning import (
    bfill,
    ffill,
    fill_nulls,
    interpolate_linear,
    normalize_null_tokens,
    null_scan,
)
from kgfarm_spark.functions.selection import (
    anova_f_scores,
    pearson_corr_matrix,
    prune_correlated,
)
from kgfarm_spark.functions.transforms import (
    apply_standard_scaler,
    fit_ordinal_encoder,
    apply_ordinal_encoder,
    fit_standard_scaler,
    log_transform,
)


def test_interpolate_matches_pandas(spark):
    """pandas df.interpolate() then ffill then bfill — the reference
    cleaning chain (interface/apis.py:211-216)."""
    vals = [None, 1.0, None, None, 7.0, None, 4.0, None]
    pdf = pd.DataFrame({"i": range(len(vals)), "x": vals})
    expected = pdf["x"].interpolate().ffill().bfill().tolist()

    df = spark.createDataFrame(pdf.astype({"i": "int64"}), "i long, x double")
    out = interpolate_linear(df, ["x"], key=None, order="i").orderBy("i").collect()
    got = [r["x"] for r in out]
    assert np.allclose(got, expected), (got, expected)


def test_interpolate_leading_trailing(spark):
    vals = [None, None, 2.0, 4.0, None, None]
    pdf = pd.DataFrame({"i": range(len(vals)), "x": vals})
    expected = pdf["x"].interpolate().ffill().bfill().tolist()
    df = spark.createDataFrame(pdf.astype({"i": "int64"}), "i long, x double")
    got = [r["x"] for r in interpolate_linear(df, ["x"], key=None, order="i").orderBy("i").collect()]
    assert np.allclose(got, expected)


def test_ffill_bfill_per_key(spark):
    df = spark.createDataFrame(
        [("a", 0, None), ("a", 1, 5.0), ("a", 2, None), ("b", 0, None)],
        "k string, i int, x double",
    )
    f = {(r["k"], r["i"]): r["x"] for r in ffill(df, ["x"], "k", "i").collect()}
    assert f[("a", 2)] == 5.0 and f[("a", 0)] is None and f[("b", 0)] is None
    b = {(r["k"], r["i"]): r["x"] for r in bfill(df, ["x"], "k", "i").collect()}
    assert b[("a", 0)] == 5.0 and b[("a", 2)] is None


def test_normalize_and_null_scan(spark):
    df = spark.createDataFrame(
        [("NA", 1.0), ("ok", None), (" ", 2.0), ("NoNe", 3.0), ("val", 4.0)],
        "s string, x double",
    )
    norm = normalize_null_tokens(df)
    scan = {r["column_name"]: r["missing_count"] for r in null_scan(norm).collect()}
    assert scan == {"s": 3, "x": 1}


def test_fill_nulls_mean_and_mode(spark):
    df = spark.createDataFrame(
        [(1.0, "a"), (3.0, None), (None, "b"), (None, "a")],
        "x double, c string",
    )
    out = fill_nulls(df).collect()
    xs = sorted(r["x"] for r in out)
    assert xs == [1.0, 2.0, 2.0, 3.0]
    cs = [r["c"] for r in out]
    assert cs.count("a") == 3  # mode fill, smallest-mode tie-break


def test_fill_stats_typed_mode_for_numeric_categoricals(spark):
    """Advisor r05: the melted one-pass mode path cast every categorical
    to string — a numeric categorical got a str mode (breaking the
    downstream coalesce) and a LEXICOGRAPHIC tie-break ('10' < '2').
    Non-string categoricals must return a native-typed mode with the
    numeric value-asc tie-break, pandas Series.mode()[0] parity."""
    from kgfarm_spark.functions.cleaning import fill_stats

    df = spark.createDataFrame(
        [(10, "a"), (10, "a"), (2, "b"), (2, None), (7, "b")],
        "code int, c string",
    )
    stats = fill_stats(df, [], ["code", "c"])
    # 10 and 2 tie at count 2 -> numeric asc picks 2 (str asc would pick '10')
    assert stats["code__mode"] == 2 and isinstance(stats["code__mode"], int)
    assert stats["c__mode"] in ("a", "b")  # both count 2; value asc -> 'a'
    assert stats["c__mode"] == "a"


def test_standard_scaler_matches_sklearn_formula(spark):
    data = [float(v) for v in [1, 2, 3, 4, 100]]
    df = spark.createDataFrame([(v,) for v in data], "x double")
    params = fit_standard_scaler(df, ["x"])
    out = sorted(r["x"] for r in apply_standard_scaler(df, params).collect())
    mean = np.mean(data)
    std = np.std(data)  # ddof=0, sklearn StandardScaler
    assert np.allclose(out, sorted((np.array(data) - mean) / std))


def test_log_transform_reference_shape(spark):
    """log(x + |min| + 1e-4) with min over the column (apis.py:63-71)."""
    data = [-2.0, 0.0, 5.0]
    df = spark.createDataFrame([(v,) for v in data], "x double")
    out = sorted(r["x"] for r in log_transform(df, ["x"]).collect())
    expected = sorted(math.log(v + 2.0 + 1e-4) for v in data)
    assert np.allclose(out, expected)


def test_ordinal_encoder_fit_transform_leakproof(spark):
    train = spark.createDataFrame([("b",), ("a",), ("c",)], "c string")
    test = spark.createDataFrame([("a",), ("zz",)], "c string")
    params = fit_ordinal_encoder(train, ["c"])
    out = {r["c"] for r in apply_ordinal_encoder(test, params).collect()}
    assert out == {0, None}  # unseen 'zz' → null, not a new code


def test_anova_f_matches_numpy(spark):
    rng = np.random.RandomState(7)
    y = rng.randint(0, 3, 300)
    x1 = y * 2.0 + rng.randn(300)          # informative
    x2 = rng.randn(300)                    # noise
    pdf = pd.DataFrame({"y": y, "x1": x1, "x2": x2})
    df = spark.createDataFrame(pdf)
    scores = anova_f_scores(df, ["x1", "x2"], "y")

    def f_classif_one(x, y):
        classes = np.unique(y)
        n, k = len(x), len(classes)
        grand = x.mean()
        ssb = sum(len(x[y == c]) * (x[y == c].mean() - grand) ** 2 for c in classes)
        ssw = sum(((x[y == c] - x[y == c].mean()) ** 2).sum() for c in classes)
        return (ssb / (k - 1)) / (ssw / (n - k))

    assert np.isclose(scores["x1"], f_classif_one(x1, y), rtol=1e-8)
    assert np.isclose(scores["x2"], f_classif_one(x2, y), rtol=1e-8)
    assert scores["x1"] > scores["x2"]


def test_corr_prune_keeps_higher_scored(spark):
    rng = np.random.RandomState(3)
    a = rng.randn(200)
    pdf = pd.DataFrame({"a": a, "b": a * 1.001 + 1e-6 * rng.randn(200), "c": rng.randn(200)})
    df = spark.createDataFrame(pdf)
    corr = pearson_corr_matrix(df, ["a", "b", "c"])
    assert corr[("a", "b")] > 0.99
    kept = prune_correlated({"a": 2.0, "b": 1.0, "c": 0.5}, corr)
    assert kept == ["a", "c"]


def test_quantile_transformer_fit_apply_leakfree(spark):
    import numpy as np

    from kgfarm_spark.functions.transforms import (
        apply_quantile_transformer,
        fit_quantile_transformer,
    )

    train = spark.range(1000).select((F.col("id").cast("double")).alias("v"))
    test = spark.createDataFrame(
        [(-50.0,), (0.0,), (499.5,), (999.0,), (2000.0,)], "v double"
    )
    params = fit_quantile_transformer(train, ["v"], n_quantiles=101)
    got = [r["v"] for r in apply_quantile_transformer(test, params).collect()]
    expected = np.interp(
        [-50.0, 0.0, 499.5, 999.0, 2000.0],
        np.asarray(params["v"]),
        np.linspace(0, 1, 101),
    )
    np.testing.assert_allclose(got, expected, rtol=1e-9)
    assert got[0] == 0.0 and got[-1] == 1.0  # clipping outside train range
    assert abs(got[2] - 0.5) < 0.02  # median of train maps near 0.5


def test_power_transformer_yeo_johnson(spark):
    import numpy as np

    from kgfarm_spark.functions.transforms import (
        _yeo_johnson_np,
        apply_power_transformer,
        fit_power_transformer,
    )

    # heavily right-skewed data → λ well below 1 (log-like correction)
    rng = np.random.default_rng(3)
    x = np.exp(rng.normal(0, 1, 800))
    df = spark.createDataFrame([(float(v),) for v in x], "v double")
    params = fit_power_transformer(df, ["v"])
    lam = params["v"]
    assert lam < 0.5

    # Spark expression equals the numpy twin at the fitted λ
    got = np.array(
        [r["v"] for r in apply_power_transformer(df, params).orderBy("v").collect()]
    )
    expected = np.sort(_yeo_johnson_np(np.asarray(x, dtype=np.float64), lam))
    np.testing.assert_allclose(got, expected, rtol=1e-9)

    # the transform reduces skewness toward symmetry
    def skew(a):
        a = (a - a.mean()) / a.std()
        return float((a**3).mean())

    assert abs(skew(expected)) < abs(skew(x)) / 5


def test_power_transformer_identity_on_symmetric(spark):
    import numpy as np

    from kgfarm_spark.functions.transforms import fit_power_transformer

    rng = np.random.default_rng(4)
    x = rng.normal(0, 1, 800)
    df = spark.createDataFrame([(float(v),) for v in x], "v double")
    lam = fit_power_transformer(df, ["v"])["v"]
    assert 0.7 < lam < 1.3  # near-identity for already-normal data


def test_quantile_rank_distributed_matches_global_window(spark):
    """The range-bucketed distributed percent_rank must equal the single-task
    global-window percent_rank exactly — including ties and nulls (nulls sort
    first under Spark ASC)."""
    from pyspark.sql import Window

    from kgfarm_spark.functions.transforms import quantile_rank_transform

    rng = np.random.default_rng(11)
    vals = [float(v) for v in rng.integers(0, 40, 500)]  # heavy ties
    vals[17] = None
    vals[400] = None
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "i long, x double"
    ).repartition(8)

    got = {
        r["i"]: r["x"]
        for r in quantile_rank_transform(df, ["x"], n_buckets=6).collect()
    }
    w = Window.partitionBy().orderBy(F.col("x").asc())
    expected = {
        r["i"]: r["pr"]
        for r in df.select("i", F.percent_rank().over(w).alias("pr")).collect()
    }
    assert got.keys() == expected.keys()
    for i in expected:
        assert abs(got[i] - expected[i]) < 1e-12, (i, got[i], expected[i])


def test_quantile_rank_plan_has_no_global_window(spark):
    """Regression for VERDICT r01 'What's wrong' #2: the window must be
    partitioned (by bucket), never empty-partitionBy."""
    from kgfarm_spark.functions.transforms import quantile_rank_transform

    df = spark.range(100).select(F.col("id").cast("double").alias("x"))
    plan = quantile_rank_transform(df, ["x"], n_buckets=4)._jdf.queryExecution().executedPlan().toString()
    import re

    for m in re.finditer(r"Window \[.*?\]", plan):
        assert "partitionBy" not in m.group(0) or "__qb" in m.group(0)
    # the physical Window must partition by the bucket column
    assert "__qb" in plan


def test_quantile_grid_allnull_and_constant(spark):
    from kgfarm_spark.functions.transforms import (
        apply_quantile_transformer,
        fit_quantile_transformer,
    )

    df = spark.createDataFrame(
        [(None, 5.0, 1.0), (None, 5.0, 2.0), (None, 5.0, 3.0)],
        "a double, b double, c double",
    )
    params = fit_quantile_transformer(df, ["a", "b", "c"], n_quantiles=10)
    assert params["a"] is None  # all-null → no grid, column passes through
    out = apply_quantile_transformer(df, params).collect()
    assert all(r["a"] is None for r in out)
    # constant column: equal → 0.5, and probe below/above on a test frame
    assert all(r["b"] == 0.5 for r in out)
    test = spark.createDataFrame([(4.0,), (5.0,), (6.0,)], "b double")
    probe = sorted(
        r["b"] for r in apply_quantile_transformer(test, {"b": params["b"]}).collect()
    )
    assert probe == [0.0, 0.5, 1.0]
    # normal column still interpolates to [0, 1]
    cs = sorted(r["c"] for r in out)
    assert cs[0] == 0.0 and cs[-1] == 1.0


def test_ordinal_encoder_large_dictionary_distributed(spark):
    """VERDICT r01 'Next round' #4: above the collect threshold the
    dictionary stays a DataFrame (sorted + zipWithIndex) and transform is a
    join — a 50k-category column must never become a 50k-branch CASE."""
    from pyspark.sql import DataFrame as SDF

    from kgfarm_spark.functions.transforms import (
        apply_ordinal_encoder,
        fit_ordinal_encoder,
    )

    n = 50_000
    train = spark.range(n).select(
        F.format_string("cat_%08d", F.col("id")).alias("c")
    )
    params = fit_ordinal_encoder(train, ["c"], max_collect=1000)
    assert isinstance(params["c"], SDF)

    test = spark.createDataFrame(
        [("cat_00000000",), ("cat_00000007",), ("cat_00049999",), ("unseen",)],
        "c string",
    )
    got = sorted(
        (r["c"] is None, r["c"]) for r in apply_ordinal_encoder(test, params).collect()
    )
    codes = [c for isnull, c in got if not isnull]
    assert codes == [0, 7, n - 1]
    assert sum(1 for isnull, _ in got if isnull) == 1  # unseen → null


def test_ordinal_encoder_small_and_large_paths_agree(spark):
    from kgfarm_spark.functions.transforms import (
        apply_ordinal_encoder,
        fit_ordinal_encoder,
    )

    train = spark.createDataFrame(
        [(f"v{i:03d}",) for i in range(40)], "c string"
    )
    test = spark.createDataFrame([(f"v{i:03d}",) for i in range(0, 40, 7)], "c string")
    small = fit_ordinal_encoder(train, ["c"], max_collect=1000)
    large = fit_ordinal_encoder(train, ["c"], max_collect=10)
    out_small = sorted(r["c"] for r in apply_ordinal_encoder(test, small).collect())
    out_large = sorted(r["c"] for r in apply_ordinal_encoder(test, large).collect())
    assert out_small == out_large


# ---------------------------------------------------------------------------
# M9/M10 completion: LOF + KNN imputation kernels (VERDICT r01 missing #3/#4)
# ---------------------------------------------------------------------------


def _lof_reference_loops(X, k):
    """Independent O(n²) loop implementation of LOF (published formulae),
    used as the in-test oracle for the vectorized kernel."""
    n = len(X)
    k = min(k, n - 1)
    D = [[math.dist(X[i], X[j]) if i != j else float("inf") for j in range(n)] for i in range(n)]
    neigh = [sorted(range(n), key=lambda j: (D[i][j], j))[:k] for i in range(n)]
    kdist = [D[i][neigh[i][-1]] for i in range(n)]
    def lrd(i):
        reach = [max(kdist[j], D[i][j]) for j in neigh[i]]
        return 1.0 / (sum(reach) / k + 1e-10)
    lrds = [lrd(i) for i in range(n)]
    return [sum(lrds[j] for j in neigh[i]) / k / lrds[i] for i in range(n)]


def test_lof_kernel_matches_loop_reference():
    from kgfarm_spark.functions.cleaning import _lof_scores_np

    rng = np.random.RandomState(21)
    X = np.vstack([rng.randn(60, 2), [[8.0, 8.0], [-9.0, 7.5]]])  # 2 clear outliers
    got = _lof_scores_np(X, 10)
    exp = _lof_reference_loops(X.tolist(), 10)
    # gemm-identity distances (sklearn's euclidean_distances path) agree
    # with the loop reference to float-cancellation precision, not 1e-9
    assert np.allclose(got, exp, rtol=1e-6)
    # the two planted outliers carry the top scores
    assert set(np.argsort(got)[-2:]) == {60, 61}


def test_lof_mask_flags_contamination_fraction(spark):
    from kgfarm_spark.functions.cleaning import lof_mask

    rng = np.random.RandomState(5)
    rows = [("g1", float(i), float(v)) for i, v in enumerate(rng.randn(100))]
    rows += [("g1", 100.0, 50.0), ("g1", 101.0, -60.0)]  # planted outliers
    df = spark.createDataFrame(rows, "k string, id double, x double")
    out = lof_mask(df, ["x"], n_neighbors=10, contamination=0.05, key="k")
    flagged = {r["id"] for r in out.filter("is_outlier").collect()}
    assert {100.0, 101.0} <= flagged
    n_flagged = out.filter("is_outlier").count()
    assert n_flagged <= int(0.05 * 102) + 1  # strict-> cut keeps ~contamination


def test_lof_mask_unkeyed_size_guard(spark):
    from kgfarm_spark.functions.cleaning import lof_mask

    df = spark.range(100).select(F.col("id").cast("double").alias("x"))
    with pytest.raises(ValueError, match="max_group_rows"):
        lof_mask(df, ["x"], key=None, max_group_rows=10)


def _knn_impute_reference_loops(X, k):
    """Independent loop twin of sklearn KNNImputer (uniform weights,
    nan-euclidean distances, column-mean fallback)."""
    import math as _m

    n, d = len(X), len(X[0])
    out = [row[:] for row in X]
    for j in range(d):
        observed = [v[j] for v in X if v[j] == v[j]]  # not-NaN
        col_mean = sum(observed) / len(observed) if observed else float("nan")
        donors = [i for i in range(n) if X[i][j] == X[i][j]]
        for i in range(n):
            if X[i][j] == X[i][j]:
                continue
            cands = []
            for di in donors:
                sq, cnt = 0.0, 0
                for jj in range(d):
                    a, b = X[i][jj], X[di][jj]
                    if a == a and b == b:
                        sq += (a - b) ** 2
                        cnt += 1
                if cnt:
                    cands.append((_m.sqrt(d / cnt * sq), di))
            if not cands:
                out[i][j] = col_mean
                continue
            cands.sort(key=lambda t: (t[0], t[1]))
            near = [X[di][j] for _, di in cands[:k]]
            out[i][j] = sum(near) / len(near)
    return out


def test_knn_impute_matches_loop_reference(spark):
    from kgfarm_spark.functions.cleaning import knn_impute

    rng = np.random.RandomState(9)
    X = rng.randn(40, 3)
    X[rng.rand(40, 3) < 0.2] = np.nan
    X[5] = [np.nan, np.nan, np.nan]  # fully-missing row → column means
    rows = [("g", i, *[None if v != v else float(v) for v in X[i]]) for i in range(40)]
    df = spark.createDataFrame(rows, "k string, id long, a double, b double, c double")
    got = {
        r["id"]: (r["a"], r["b"], r["c"])
        for r in knn_impute(df, ["a", "b", "c"], n_neighbors=5, key="k").collect()
    }
    exp = _knn_impute_reference_loops(X.tolist(), 5)
    for i in range(40):
        assert np.allclose(got[i], exp[i], rtol=1e-9, equal_nan=True), i


def test_knn_impute_1d_degenerates_to_mean(spark):
    """Reference usage (apis.py:218-224) imputes ONE column: every NaN row
    has no observed features, so the result must equal mean imputation."""
    from kgfarm_spark.functions.cleaning import knn_impute

    df = spark.createDataFrame(
        [(1, 10.0), (2, None), (3, 20.0), (4, None), (5, 60.0)], "id long, x double"
    )
    got = {r["id"]: r["x"] for r in knn_impute(df, ["x"], key=None).collect()}
    assert got[2] == got[4] == 30.0
    assert got[1] == 10.0 and got[5] == 60.0


def test_knn_impute_unkeyed_size_guard(spark):
    from kgfarm_spark.functions.cleaning import knn_impute

    df = spark.range(50).select(F.col("id").cast("double").alias("x"))
    with pytest.raises(ValueError, match="max_group_rows"):
        knn_impute(df, ["x"], key=None, max_group_rows=10)


def test_unkeyed_fills_match_global_window_across_buckets(spark):
    """VERDICT r01 #2 (tail): unkeyed ffill/bfill/interpolate must not use
    a single-task global window. The distributed range-bucket + carry path
    must equal the global-window result on a frame large enough to span
    many buckets, including long null runs crossing bucket boundaries."""
    from pyspark.sql import Window

    from kgfarm_spark.functions.cleaning import bfill, ffill, interpolate_linear

    rng = np.random.RandomState(3)
    n = 4000
    vals = rng.randn(n)
    mask = rng.rand(n) < 0.4
    vals_list = [None if m else float(v) for v, m in zip(vals, mask)]
    # long null run crossing bucket boundaries + null head and tail
    vals_list[:30] = [None] * 30
    vals_list[1800:2300] = [None] * 500
    vals_list[-25:] = [None] * 25
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals_list)], "i long, x double"
    ).repartition(16)

    w_fwd = Window.partitionBy().orderBy("i").rowsBetween(Window.unboundedPreceding, 0)
    w_bwd = Window.partitionBy().orderBy("i").rowsBetween(0, Window.unboundedFollowing)
    exp_f = {r["i"]: r["e"] for r in df.select("i", F.last("x", ignorenulls=True).over(w_fwd).alias("e")).collect()}
    exp_b = {r["i"]: r["e"] for r in df.select("i", F.first("x", ignorenulls=True).over(w_bwd).alias("e")).collect()}

    got_f = {r["i"]: r["x"] for r in ffill(df, ["x"], key=None, order="i").collect()}
    got_b = {r["i"]: r["x"] for r in bfill(df, ["x"], key=None, order="i").collect()}
    assert got_f == exp_f
    assert got_b == exp_b

    # interpolation equals the pandas chain on the same frame
    pdf = pd.DataFrame({"x": vals_list}, dtype="float64")
    exp_i = pdf["x"].interpolate().ffill().bfill().tolist()
    got_i = interpolate_linear(df, ["x"], key=None, order="i")
    got_i = [r["x"] for r in got_i.orderBy("i").collect()]
    assert np.allclose(got_i, exp_i, equal_nan=True)


def test_unkeyed_fill_plan_has_no_global_window(spark):
    from kgfarm_spark.functions.cleaning import ffill, interpolate_linear

    df = spark.range(500).select(
        F.col("id").alias("i"),
        F.when(F.col("id") % 3 == 0, None).otherwise(F.col("id").cast("double")).alias("x"),
    )
    for out in (
        ffill(df, ["x"], key=None, order="i"),
        interpolate_linear(df, ["x"], key=None, order="i"),
    ):
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "__ob" in plan  # windows partition by the order bucket


def test_transforms_review_regressions(spark):
    """Round-5 self-review findings on transforms.py."""
    from kgfarm_spark.functions.transforms import (
        apply_minmax_scaler,
        apply_ordinal_encoder,
        apply_robust_scaler,
        fit_minmax_scaler,
        fit_ordinal_encoder,
        fit_robust_scaler,
        one_hot_encode,
    )

    # all-null column: fit succeeds, apply yields nulls (no TypeError)
    df = spark.createDataFrame(
        [(1, None), (2, None)], "id long, x double"
    )
    p = fit_minmax_scaler(df, ["x"])
    assert apply_minmax_scaler(df, p).collect()[0]["x"] is None
    pr = fit_robust_scaler(df, ["x"])
    assert apply_robust_scaler(df, pr).collect()[0]["x"] is None

    # OHE: apply mode never re-fits an over-cardinality column; nulls -> 0;
    # caller's dict not mutated
    train = spark.createDataFrame(
        [(i, "a" if i % 2 else "b", f"v{i}") for i in range(10)],
        "id long, lo string, hi string",
    )
    _, cats = one_hot_encode(train, ["lo", "hi"], max_distinct=5)
    assert "hi" in train.columns and "hi" not in cats
    before = dict(cats)
    test = spark.createDataFrame(
        [(1, None, "v1"), (2, "a", "v2")], "id long, lo string, hi string"
    )
    out, cats2 = one_hot_encode(test, ["lo", "hi"], categories=cats)
    assert cats == before                      # no in-place mutation
    assert "hi" in out.columns                 # never re-fit on apply
    rows = {r["id"]: r for r in out.collect()}
    assert rows[1]["lo_a"] == 0 and rows[1]["lo_b"] == 0   # null -> zeros

    # ordinal codes are long on both paths
    odf = spark.createDataFrame([(1, "a"), (2, "b")], "id long, c string")
    enc = apply_ordinal_encoder(odf, fit_ordinal_encoder(odf, ["c"]))
    assert dict(enc.dtypes)["c"] == "bigint"


def test_bucket_args_validated_everywhere(spark):
    from kgfarm_spark.functions.transforms import quantile_rank_transform

    df = spark.createDataFrame([(1, 2.0)], "id long, x double")
    with pytest.raises(ValueError, match="n_buckets"):
        quantile_rank_transform(df, ["x"], n_buckets=0)
    clash = df.withColumn("__qb", F.lit(1))
    with pytest.raises(ValueError, match="__qb"):
        quantile_rank_transform(clash, ["x"])


@pytest.mark.parametrize("exact", [True, False], ids=["percentile", "percentile_approx"])
def test_robust_scaler_backtick_column_name(spark, exact):
    """A backtick in a column name used to be spliced into SQL text
    (ParseException); the fit must equal a plain-named copy's."""
    from kgfarm_spark.functions.transforms import fit_robust_scaler

    df = spark.createDataFrame(
        [(float(i), float(i)) for i in [1, 2, 3, 5, 8, 13, 21]], "`a``b` double, plain double"
    )
    got = fit_robust_scaler(df, ["a`b"], exact=exact)["a`b"]
    assert got == fit_robust_scaler(df, ["plain"], exact=exact)["plain"]
    assert got["median"] == 5.0


def _cleaning():
    from kgfarm_spark.functions import cleaning

    return cleaning


def _transforms():
    from kgfarm_spark.functions import transforms

    return transforms


def _fit_apply(df, name, cols, **fit_kw):
    """``apply_<name>(df, fit_<name>(df, cols))``."""
    t = _transforms()
    return getattr(t, f"apply_{name}")(df, getattr(t, f"fit_{name}")(df, cols, **fit_kw))


def _one_hot(df, cols, **kw):
    """``one_hot_encode`` rows and categories, compared by value: the
    indicator columns are named after the encoded column."""
    out, cats = _transforms().one_hot_encode(df, cols, **kw)
    return sorted(map(tuple, out.collect()), key=repr) + list(cats.values())


def _ordinal(df, cols, **fit_kw):
    """``apply_ordinal_encoder(df, fit_ordinal_encoder(df, cols))``."""
    t = _transforms()
    return t.apply_ordinal_encoder(df, t.fit_ordinal_encoder(df, cols, **fit_kw))


@pytest.mark.parametrize(
    "run",
    [
        lambda c, df: _cleaning().fill_stats(df, [c.v], [c.o, c.s], exact=True),
        lambda c, df: _cleaning().fill_nulls(df, "median", [c.v], [c.s], exact=True),
        lambda c, df: ffill(df, [c.v, c.s], None, c.o),
        lambda c, df: bfill(df, [c.v, c.s], None, c.o),
        lambda c, df: ffill(df, [c.v, c.s], c.k, c.o),
        lambda c, df: interpolate_linear(df, [c.v], None, c.o),
        lambda c, df: interpolate_linear(df, [c.v], c.k, c.o),
        lambda c, df: normalize_null_tokens(df, [c.s]),
        lambda c, df: [r["missing_count"] for r in null_scan(df).collect()],
        lambda c, df: _cleaning().drop_outlier_rows_iqr(df, [c.v], exact=True),
        lambda c, df: _transforms().quantile_rank_transform(df, [c.v, c.o]),
        lambda c, df: _transforms().fit_quantile_transformer(df, [c.v], n_quantiles=5),
        lambda c, df: _transforms().fit_standard_scaler(df, [c.v, c.o]),
        lambda c, df: _fit_apply(df, "standard_scaler", [c.v, c.o]),
        lambda c, df: _transforms().fit_minmax_scaler(df, [c.v, c.o]),
        lambda c, df: _fit_apply(df, "minmax_scaler", [c.v, c.o]),
        lambda c, df: _fit_apply(df, "robust_scaler", [c.v], exact=True),
        lambda c, df: _fit_apply(df, "quantile_transformer", [c.v], n_quantiles=5),
        lambda c, df: _fit_apply(df, "power_transformer", [c.v]),
        lambda c, df: _transforms().log_transform(df, [c.v, c.o]),
        lambda c, df: _transforms().sqrt_transform(df, [c.v, c.o]),
        lambda c, df: _transforms().square_transform(df, [c.v, c.o]),
        lambda c, df: _one_hot(df, [c.s, c.k]),
        lambda c, df: _one_hot(df, [c.s], categories={c.s: ["s0", "s2", "s9"]}),
        lambda c, df: _transforms().fit_ordinal_encoder(df, [c.s, c.v]),
        lambda c, df: _ordinal(df, [c.s, c.v]),
        lambda c, df: _ordinal(df, [c.s, c.v], max_collect=1),
    ],
    ids=[
        "fill_stats",
        "fill_nulls",
        "ffill",
        "bfill",
        "ffill-keyed",
        "interpolate_linear",
        "interpolate_linear-keyed",
        "normalize_null_tokens",
        "null_scan",
        "drop_outlier_rows_iqr",
        "quantile_rank_transform",
        "fit_quantile_transformer",
        "fit_standard_scaler",
        "standard_scaler",
        "fit_minmax_scaler",
        "minmax_scaler",
        "robust_scaler",
        "quantile_transformer",
        "power_transformer",
        "log_transform",
        "sqrt_transform",
        "square_transform",
        "one_hot_encode",
        "one_hot_encode-categories",
        "fit_ordinal_encoder",
        "ordinal_encoder",
        "ordinal_encoder-distributed",
    ],
)
def test_backtick_column_names(spark, run):
    """Column names holding a backtick pass through every cleaning,
    scaler, quantile, unary-transform and encoder entry point (they used
    to be spliced into SQL text between bare backticks, or parsed by
    ``F.col``) and give the answer of a plain-named copy."""
    import types

    vals = [1, None, 3, 5, None, 8, 13, 21, None, 400]
    plain = spark.createDataFrame(
        [(i, None if v is None else float(v), None if v is None else f"s{v % 3}", i % 2)
         for i, v in enumerate(vals)],
        "o long, v double, s string, k int",
    )
    odd = plain.toDF("o`rd", "a`b", "s``t`", "k`")

    def result(df):
        c = types.SimpleNamespace(**dict(zip("ovsk", df.columns)))
        out = run(c, df)
        if isinstance(out, dict):
            return list(out.values())
        if isinstance(out, list):
            return out
        assert out.columns == df.columns
        return sorted(map(tuple, out.collect()), key=repr)

    assert result(odd) == result(plain)


def test_group_split_no_leakage(spark):
    from kgfarm_spark.functions.sampling import group_split

    rows = [(f"c{i}", j) for i in range(200) for j in range(3)]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int")
    out = group_split(df, "conv_id")
    # every turn of a conversation gets the SAME split
    per_conv = (
        out.groupBy("conv_id")
        .agg(F.count_distinct("split").alias("n"))
        .collect()
    )
    assert all(r["n"] == 1 for r in per_conv)
    # rough proportions at 200 groups (train 0.9 -> expect the majority)
    counts = {
        r["split"]: r["n"]
        for r in out.select("conv_id", "split").distinct()
        .groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert counts.get("train", 0) > 150
    assert set(counts) <= {"train", "val", "test"}
    # deterministic across partitioning; redrawn under another seed
    again = {r["conv_id"]: r["split"]
             for r in group_split(df.repartition(7), "conv_id")
             .select("conv_id", "split").distinct().collect()}
    first = {r["conv_id"]: r["split"]
             for r in out.select("conv_id", "split").distinct().collect()}
    assert again == first
    other = {r["conv_id"]: r["split"]
             for r in group_split(df, "conv_id", seed="different")
             .select("conv_id", "split").distinct().collect()}
    assert other != first
    with pytest.raises(ValueError):
        group_split(df, "conv_id", {"train": 0.5, "val": 0.1})


def test_group_split_null_group_key(spark):
    from kgfarm_spark.functions.sampling import group_split

    rows = [(None, 0), (None, 1), ("c1", 0)]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int")
    out = group_split(df, "conv_id").collect()
    null_splits = {r["split"] for r in out if r["conv_id"] is None}
    # all NULL-group rows land together, in a hash-chosen (not
    # fall-through-default) split
    assert len(null_splits) == 1
    with pytest.raises(ValueError):
        group_split(df, "conv_id", {})
