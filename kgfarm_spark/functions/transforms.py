"""Transformation operators: scalers, encoders, unary transforms — the
reference's M16/F4-F6 appliers (interface/apis.py:40-100, 363-418;
operations/api.py:400-447) as aggregate-stat expressions.

Fit/transform discipline: ``fit_*`` computes statistics on one DataFrame
(train) and returns a params dict; ``apply_*`` applies them to any
DataFrame (test) — fixing the reference's fit-on-test OHE quirk
(apis.py:333-345; north_rule demands zero leakage).

Scale notes: every scaler is ONE aggregate pass (fit) + a codegen'd
column expression (transform) — no shuffle in the transform. Quantile
transform at scale is a percent_rank window (ties share mass); encoders
build a dictionary DataFrame and broadcast-join it.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from kgfarm_spark.functions.cleaning import _col

EPS = 1e-4  # the reference's unary-transform epsilon (interface/apis.py:63-84)


# ---------------------------------------------------------------------------
# Scalers (fit → params dict → apply)
# ---------------------------------------------------------------------------


def fit_standard_scaler(df: DataFrame, cols: list[str]) -> dict:
    """(x - mean) / std, population std (sklearn StandardScaler ddof=0)."""
    aggs = []
    for c in cols:
        aggs.append(F.avg(_col(c)).alias(f"{c}__mean"))
        aggs.append(F.stddev_pop(_col(c)).alias(f"{c}__std"))
    row = df.agg(*aggs).first()
    return {c: {"mean": row[f"{c}__mean"], "std": row[f"{c}__std"]} for c in cols}


def apply_standard_scaler(df: DataFrame, params: dict) -> DataFrame:
    out = df
    for c, p in params.items():
        std = p["std"] if p["std"] else 1.0  # sklearn: zero-variance → 1
        out = out.withColumn(c, (_col(c) - F.lit(p["mean"])) / F.lit(std))
    return out


def fit_minmax_scaler(df: DataFrame, cols: list[str]) -> dict:
    aggs = []
    for c in cols:
        aggs.append(F.min(_col(c)).alias(f"{c}__min"))
        aggs.append(F.max(_col(c)).alias(f"{c}__max"))
    row = df.agg(*aggs).first()
    return {c: {"min": row[f"{c}__min"], "max": row[f"{c}__max"]} for c in cols}


def apply_minmax_scaler(df: DataFrame, params: dict) -> DataFrame:
    out = df
    for c, p in params.items():
        if p["min"] is None:  # column was all-null at fit: output stays null
            out = out.withColumn(c, F.lit(None).cast("double"))
            continue
        rng = (p["max"] - p["min"]) or 1.0
        out = out.withColumn(c, (_col(c) - F.lit(p["min"])) / F.lit(rng))
    return out


def fit_robust_scaler(df: DataFrame, cols: list[str], exact: bool = False) -> dict:
    """(x - median) / IQR (sklearn RobustScaler). percentile_approx by
    default (one-pass at scale); exact percentiles for parity tests."""
    fn = F.percentile if exact else F.percentile_approx
    aggs = []
    for c in cols:
        x = _col(c)
        aggs.append(fn(x, 0.5).alias(f"{c}__med"))
        aggs.append(fn(x, 0.25).alias(f"{c}__q1"))
        aggs.append(fn(x, 0.75).alias(f"{c}__q3"))
    row = df.agg(*aggs).first()
    return {
        c: {
            "median": row[f"{c}__med"],
            # all-null column: percentiles are NULL — record iqr None
            # (apply leaves the column null) instead of None - None
            "iqr": (
                row[f"{c}__q3"] - row[f"{c}__q1"]
                if row[f"{c}__q1"] is not None
                else None
            ),
        }
        for c in cols
    }


def apply_robust_scaler(df: DataFrame, params: dict) -> DataFrame:
    out = df
    for c, p in params.items():
        if p["median"] is None:  # all-null at fit
            out = out.withColumn(c, F.lit(None).cast("double"))
            continue
        iqr = p["iqr"] or 1.0
        out = out.withColumn(c, (_col(c) - F.lit(p["median"])) / F.lit(iqr))
    return out


def _range_bucket_expr(col, boundaries: list):
    """Monotone bucket id = number of boundaries strictly below the value.
    Pure function of the value (deterministic across jobs; ties and equal
    values always share a bucket). NULL compares to 0 everywhere → bucket 0,
    matching Spark's ASC nulls-first window ordering."""
    if not boundaries:
        return F.lit(0)
    arr = F.array(*[F.lit(b) for b in boundaries])
    return F.aggregate(
        arr, F.lit(0), lambda acc, b: acc + F.when(col > b, 1).otherwise(0)
    )


def quantile_rank_transform(
    df: DataFrame, cols: list[str], n_buckets: int | None = None
) -> DataFrame:
    """Exact distributed percent_rank (M16 QuantileTransformer rank path).

    percent_rank(v) = (min_rank(v) - 1) / (n - 1). Instead of a global
    (partitionBy-less) window — which funnels every row through ONE task —
    we range-bucket by value (percentile_approx boundaries), count rows
    per bucket (tiny collect), and compute the in-bucket rank with a
    window PARTITIONED by bucket plus the bucket's cumulative offset.
    Same answer as percent_rank() OVER (ORDER BY c), parallel across
    buckets — the shape that survives 100 TB. Nulls sort first (Spark ASC
    default), identical to the old global window.

    The FIT is batched across columns (VERDICT r02 wrong #4): ONE
    aggregate computes every column's boundaries and ONE melted groupBy
    counts every column's buckets — driver actions stay at two no matter
    how many columns are transformed (a 100-column frame used to pay 200
    sequential tiny jobs). The per-column rank windows chain lazily into
    a single plan."""
    if n_buckets is not None and n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    reserved = {"__qb", "__qoff"} & set(df.columns)
    if reserved:
        raise ValueError(
            f"input columns {sorted(reserved)} collide with "
            f"quantile_rank_transform's internal names — rename them"
        )
    spark = df.sparkSession
    P = n_buckets or int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    qs = [i / P for i in range(1, P)]
    col = {c: _col(c) for c in cols}

    # action 1: all columns' boundaries in one aggregate pass
    bounds_row = df.agg(
        *[F.percentile_approx(col[c], qs, 10000).alias(c) for c in cols]
    ).first()
    uniq = {
        c: sorted(set(b for b in (bounds_row[c] or []) if b is not None))
        for c in cols
    }
    buckets = {c: _range_bucket_expr(col[c], uniq[c]) for c in cols}

    # action 2: all columns' bucket counts via one melted groupBy
    melted = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(c).alias("name"), buckets[c].alias("b"))
                    for c in cols
                ]
            )
        ).alias("s")
    ).select("s.name", "s.b")
    count_rows = melted.groupBy("name", "b").agg(F.count(F.lit(1)).alias("cnt")).collect()
    counts: dict[str, dict[int, int]] = {c: {} for c in cols}
    for r in count_rows:
        counts[r["name"]][r["b"]] = r["cnt"]

    out = df
    for c in cols:
        n = sum(counts[c].values())
        offsets, acc = [], 0
        for b in sorted(counts[c]):
            offsets.append((b, acc))
            acc += counts[c][b]
        off_df = spark.createDataFrame(offsets, "__qb INT, __qoff BIGINT")
        w = Window.partitionBy("__qb").orderBy(col[c].asc())
        out = (
            out.withColumn("__qb", buckets[c])
            .join(F.broadcast(off_df), "__qb")
            .withColumn(
                c,
                (F.col("__qoff") + F.rank().over(w) - F.lit(1))
                / F.lit(float(max(n - 1, 1))),
            )
            .drop("__qb", "__qoff")
        )
    return out


def fit_quantile_transformer(
    df: DataFrame, cols: list[str], n_quantiles: int = 100
) -> dict:
    """Leakage-free QuantileTransformer (M16, sklearn shape): FIT learns an
    n_quantiles reference grid per column on the train frame (one
    percentile_approx pass for all columns); APPLY maps any frame's values
    to [0,1] by piecewise-linear interpolation against that grid — test
    rows never influence the mapping (north_rule zero-leakage; fixes the
    reference's fit-on-concat quirks, apis.py:328-331)."""
    qs = [i / (n_quantiles - 1) for i in range(n_quantiles)]
    aggs = [F.percentile_approx(_col(c), qs, 10000).alias(c) for c in cols]
    row = df.agg(*aggs).first()
    # All-null column → percentile_approx returns NULL → grid None (apply
    # leaves the column unchanged). Constant column → degenerate one-point
    # grid, handled explicitly in apply.
    return {
        c: ([float(v) for v in row[c]] if row[c] is not None else None)
        for c in cols
    }


def apply_quantile_transformer(df: DataFrame, params: dict) -> DataFrame:
    """np.interp against the fitted grid inside an Arrow-batched pandas
    UDF (vectorized; grids are tiny literals closed over per column)."""
    from pyspark.sql.functions import pandas_udf

    def make_udf(grid):
        g0 = np.asarray(grid, dtype=np.float64)
        pos0 = np.linspace(0.0, 1.0, len(g0))
        # np.interp needs strictly increasing x: collapse duplicate grid
        # points (constant stretches) to their first position, then pin the
        # endpoints so fit-min → 0.0 and fit-max → 1.0 exactly (the
        # QuantileTransformer invariant; duplicates otherwise leave the top
        # grid point below 1).
        g, idx = np.unique(g0, return_index=True)
        pos = pos0[idx].copy()
        pos[0], pos[-1] = 0.0, 1.0
        degenerate = len(g) == 1
        g_lo = float(g[0])

        @pandas_udf("double")
        def q_map(s: pd.Series) -> pd.Series:
            x = s.to_numpy(dtype=np.float64)
            if degenerate:
                # Constant fit column: below → 0, equal → 0.5, above → 1
                # (sklearn's two-sided interp average at the single point).
                y = np.where(x < g_lo, 0.0, np.where(x > g_lo, 1.0, 0.5))
                y = np.where(np.isnan(x), np.nan, y)
                return pd.Series(y)
            return pd.Series(np.interp(x, g, pos))

        return q_map

    out = df
    for c, grid in params.items():
        if grid is None:  # all-null fit column — nothing to map
            continue
        out = out.withColumn(c, make_udf(grid)(_col(c).cast("double")))
    return out


def _yeo_johnson_np(x, lam: float):
    """numpy Yeo-Johnson ψ(x, λ) — used for the fit and as the test twin."""
    import numpy as np

    pos = x >= 0
    out = np.empty_like(x, dtype=np.float64)
    if abs(lam) > 1e-12:
        out[pos] = ((x[pos] + 1.0) ** lam - 1.0) / lam
    else:
        out[pos] = np.log1p(x[pos])
    if abs(lam - 2.0) > 1e-12:
        out[~pos] = -(((-x[~pos] + 1.0) ** (2.0 - lam)) - 1.0) / (2.0 - lam)
    else:
        out[~pos] = -np.log1p(-x[~pos])
    return out


def fit_power_transformer(
    df: DataFrame, cols: list[str], sample_limit: int = 100_000
) -> dict:
    """PowerTransformer (Yeo-Johnson) λ fit — M16's last member. λ is a
    1-D MLE, not distributable exactly; per SURVEY §7 'what's hard' #2 the
    fit runs driver-side on a deterministic hash-ordered sample capped at
    ``sample_limit`` rows (the reference also samples before recommending,
    operations/api.py:309-313). Golden-section search maximizes the
    Yeo-Johnson profile log-likelihood LL(λ) = −n/2·log σ²(ψ) +
    (λ−1)·Σ sign(x)·log(|x|+1). The APPLY side is a pure column
    expression — no Python at transform time."""
    import numpy as np

    params = {}
    for c in cols:
        vals_df = df.select(_col(c).cast("double").alias("v")).filter(
            F.col("v").isNotNull()
        )
        sampled = (
            vals_df.withColumn("__h", F.md5(F.col("v").cast("string")))
            .orderBy("__h")
            .limit(sample_limit)
            .select("v")  # drop the 32-char hash before the driver collect
        )
        x = np.array([r["v"] for r in sampled.collect()], dtype=np.float64)
        if len(x) < 2:
            params[c] = 1.0
            continue

        const = np.sum(np.sign(x) * np.log1p(np.abs(x)))

        def nll(lam):
            t = _yeo_johnson_np(x, lam)
            var = t.var()
            if var <= 0 or not np.isfinite(var):
                return np.inf
            return 0.5 * len(x) * np.log(var) - (lam - 1.0) * const

        lo, hi = -5.0, 5.0
        phi = (np.sqrt(5.0) - 1.0) / 2.0
        a, b = lo, hi
        c1, c2 = b - phi * (b - a), a + phi * (b - a)
        f1, f2 = nll(c1), nll(c2)
        for _ in range(80):
            if f1 < f2:
                b, c2, f2 = c2, c1, f1
                c1 = b - phi * (b - a)
                f1 = nll(c1)
            else:
                a, c1, f1 = c1, c2, f2
                c2 = a + phi * (b - a)
                f2 = nll(c2)
        params[c] = round(float((a + b) / 2.0), 6)
    return params


def apply_power_transformer(df: DataFrame, params: dict) -> DataFrame:
    """Yeo-Johnson with fitted λ as a codegen'd column expression."""
    out = df
    for c, lam in params.items():
        x = _col(c).cast("double")
        if abs(lam) > 1e-12:
            pos_expr = (F.pow(x + 1.0, F.lit(lam)) - 1.0) / F.lit(lam)
        else:
            pos_expr = F.log1p(x)
        if abs(lam - 2.0) > 1e-12:
            neg_expr = -(F.pow(-x + 1.0, F.lit(2.0 - lam)) - 1.0) / F.lit(2.0 - lam)
        else:
            neg_expr = -F.log1p(-x)
        out = out.withColumn(c, F.when(x >= 0, pos_expr).otherwise(neg_expr))
    return out


# ---------------------------------------------------------------------------
# Unary transforms (F4-F6; exact reference shape incl. epsilon and
# column-min shift — interface/apis.py:63-84)
# ---------------------------------------------------------------------------


def _col_mins(df: DataFrame, cols: list[str]) -> dict:
    row = df.agg(*[F.min(_col(c)).alias(c) for c in cols]).first()
    return {c: row[c] for c in cols}


def log_transform(df: DataFrame, cols: list[str]) -> DataFrame:
    """log(x + |min(x)| + 1e-4) — min over the COLUMN (apis.py:63-71)."""
    mins = _col_mins(df, cols)
    out = df
    for c in cols:
        out = out.withColumn(c, F.log(_col(c) + abs(mins[c]) + EPS))
    return out


def sqrt_transform(df: DataFrame, cols: list[str]) -> DataFrame:
    """sqrt(x + |min(x)| + 1e-4) (apis.py:73-81)."""
    mins = _col_mins(df, cols)
    out = df
    for c in cols:
        out = out.withColumn(c, F.sqrt(_col(c) + abs(mins[c]) + EPS))
    return out


def square_transform(df: DataFrame, cols: list[str]) -> DataFrame:
    """np.square (apis.py:82-84)."""
    out = df
    for c in cols:
        out = out.withColumn(c, F.pow(_col(c), 2))
    return out


# ---------------------------------------------------------------------------
# Encoders
# ---------------------------------------------------------------------------


ORDINAL_COLLECT_MAX = 1000  # above this, the dictionary stays distributed


def _sorted_codes_df(df: DataFrame, c: str) -> DataFrame:
    """Distributed dictionary (value, code) with code = dense ascending index
    0..k-1. orderBy gives a range-partitioned parallel total sort;
    zipWithIndex adds the global index with one lightweight count job — no
    single-task global window, no driver collect. The canonical shape for a
    multi-million-category column."""
    spark = df.sparkSession
    # df is already the distinct non-null value frame (fit passes it in);
    # a raw column frame also works — distinct() dedups idempotently
    vals = df.select(_col(c)).filter(_col(c).isNotNull()).distinct().orderBy(_col(c))
    value_type = vals.schema[0].dataType
    rdd = vals.rdd.map(lambda r: r[0]).zipWithIndex()
    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType(
        [StructField("value", value_type), StructField("code", LongType())]
    )
    return spark.createDataFrame(rdd, schema)


def fit_ordinal_encoder(
    df: DataFrame, cols: list[str], max_collect: int = ORDINAL_COLLECT_MAX
) -> dict:
    """sklearn OrdinalEncoder parity: categories sorted ascending get codes
    0..k-1. Small dictionaries (≤ max_collect distinct) are collected into a
    literal map (codegen'd CASE chain, zero joins at transform time). Larger
    ones stay DISTRIBUTED as a (value, code) DataFrame built with a parallel
    sort + zipWithIndex — a 1M-category column never touches the driver and
    never builds a 1M-branch expression tree."""
    params = {}
    for c in cols:
        distinct_df = df.select(_col(c)).filter(_col(c).isNotNull()).distinct()
        k = distinct_df.limit(max_collect + 1).count()
        if k <= max_collect:
            vals = [r[c] for r in distinct_df.orderBy(_col(c)).collect()]
            params[c] = {v: i for i, v in enumerate(vals)}
        else:
            # reuse the distinct frame — recomputing it inside
            # _sorted_codes_df doubled the distinct scan (review finding)
            params[c] = _sorted_codes_df(distinct_df, c)
    return params


def apply_ordinal_encoder(df: DataFrame, params: dict) -> DataFrame:
    """Literal-map dictionaries become a CASE expression; DataFrame
    dictionaries become an equi-join (AQE broadcasts it when it fits,
    shuffle-joins otherwise — either way no driver materialization)."""
    out = df
    for c, mapping in params.items():
        if isinstance(mapping, DataFrame):
            vcol, ccol = f"__ord_v_{c}", f"__ord_c_{c}"
            dict_df = mapping.select(
                F.col("value").alias(vcol), F.col("code").alias(ccol)
            )
            out = (
                out.join(dict_df, _col(c) == _col(vcol), "left")
                .withColumn(c, _col(ccol).cast("long"))
                .drop(vcol, ccol)
            )
            continue
        expr = None
        for v, code in mapping.items():
            cond = _col(c) == F.lit(v)
            expr = F.when(cond, code) if expr is None else expr.when(cond, code)
        # long on BOTH paths — the distributed dictionary emits long, and
        # a schema that flips int/long at the ORDINAL_COLLECT_MAX boundary
        # breaks unioned frames and schema parity (review finding)
        out = out.withColumn(c, expr.otherwise(F.lit(None)).cast("long") if expr is not None else F.lit(None).cast("long"))
    return out


def one_hot_encode(
    df: DataFrame, cols: list[str], max_distinct: int = 5, categories: dict | None = None
) -> tuple[DataFrame, dict]:
    """OHE with the reference's cardinality guard (≤5 distinct,
    operations/api.py:296-305): emits <col>_<value> 0/1 columns, drops the
    original. ``categories`` (from a fit frame) makes transform leakage-free
    (handle_unknown='ignore': unseen values → all zeros, apis.py:340)."""
    fitted = categories is not None
    cats = dict(categories) if categories else {}  # never mutate the caller's
    todo = [] if fitted else [c for c in cols if c not in cats]
    # a column absent from a PASSED fitted dict was over-cardinality at
    # fit time and stays raw — re-fitting here would fit on the APPLY
    # frame (test-data leakage + train/test schema divergence; review
    # finding)
    if todo:
        # batched fit: ONE cardinality probe for every column, then ONE
        # melted distinct-collect per dtype group for the passing ones
        # (was a count job + a collect job per column — guide §1.2).
        # count_distinct excludes NULLs like the old per-column filter;
        # collected values are sorted ascending in Python, which matches
        # the old orderBy for every orderable Spark type (UTF-8 byte
        # order is code-point order).
        row = df.agg(
            *[F.count_distinct(_col(c)).alias(c) for c in todo]
        ).first()
        ok = [c for c in todo if row[c] <= max_distinct]
        by_dtype: dict[str, list[str]] = {}
        dts = dict(df.dtypes)
        for c in ok:
            by_dtype.setdefault(dts[c], []).append(c)
        for grp in by_dtype.values():
            pairs = (
                df.select(
                    F.explode(
                        F.array(
                            *[
                                F.struct(F.lit(c).alias("__c"), _col(c).alias("__v"))
                                for c in grp
                            ]
                        )
                    ).alias("__p")
                )
                .select("__p.__c", "__p.__v")
                .filter(F.col("__v").isNotNull())
                .distinct()
                .collect()
            )
            def _skey(v):
                # Spark's orderBy puts float NaN last; Python sorted()
                # with NaN is undefined — pin the same order
                return (1, 0.0) if isinstance(v, float) and v != v else (0, v)

            for c in grp:
                cats[c] = sorted(
                    (r["__v"] for r in pairs if r["__c"] == c), key=_skey
                )
    out = df
    for c in cols:
        if c not in cats:
            continue
        for v in cats[c]:
            # null/unseen -> 0 (not NULL): pd.get_dummies semantics and
            # exactly what the DuckDB oracle's CASE already emits
            out = out.withColumn(
                f"{c}_{v}", F.when(_col(c) == F.lit(v), 1).otherwise(0)
            )
        out = out.drop(c)
    return out, cats
