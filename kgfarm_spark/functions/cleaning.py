"""Cleaning operators: null-token normalization, null scan, fills,
ffill/bfill, linear interpolation — reference parity per SURVEY §2.2/§2.4/§2.5.

Reference semantics reproduced:
- null tokens {'none','n/a','na','nan','missing','?','',' '} → null
  (interface/apis.py:103-108 anchored word tokens, literal specials)
- per-column null scan sorted desc (operations/api.py:685-699)
- mean/median/mode fills (operations/api.py:943-960)
- pandas ``interpolate()`` chain: linear over row order, then ffill, then
  bfill (interface/apis.py:211-216) — reimplemented as window expressions
  (interior gaps linear, trailing nulls carry last value, leading nulls
  back-filled), no per-row Python.

Scale notes: fills compute their statistics in ONE aggregate pass and
apply them as literal expressions (no second shuffle); interpolation is a
single window spec per key — one shuffle, reused across all columns.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from kgfarm_spark.operators.asof import _ident

#: interface/apis.py:103-108
NULL_WORD_TOKENS = ("none", "n/a", "na", "nan", "missing")
NULL_LITERAL_TOKENS = ("?", "", " ")


def _col(name: str) -> Column:
    """The column named ``name``, whatever characters it holds (``F.col``
    alone parses dots and rejects a backtick)."""
    return F.col(_ident(name))


def normalize_null_tokens(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """Replace the reference's null-token set with real nulls on string
    columns (P5). Case-insensitive whole-string match for word tokens,
    literal match for '?', '', ' '. ``cols=None`` means every string
    column; an explicit ``[]`` is a no-op (review finding: the falsy-or
    form rewrote ALL string columns when a dynamically built list came
    out empty)."""
    if cols is None:
        cols = [c for c, t in df.dtypes if t == "string"]
    out = df
    for c in cols:
        is_nullish = F.lower(_col(c)).isin(*NULL_WORD_TOKENS) | _col(c).isin(
            *NULL_LITERAL_TOKENS
        )
        out = out.withColumn(c, F.when(is_nullish, F.lit(None)).otherwise(_col(c)))
    return out


def null_scan(df: DataFrame) -> DataFrame:
    """Per-column missing counts, columns with missing>0, sorted desc —
    reference A1 (operations/api.py:685-699). One aggregate pass."""
    row = df.agg(
        *[F.sum(_col(c).isNull().cast("long")).alias(c) for c in df.columns]
    )
    pairs = F.array(
        *[
            F.struct(F.lit(c).alias("column_name"), _col(c).alias("missing_count"))
            for c in df.columns
        ]
    )
    return (
        row.select(F.explode(pairs).alias("p"))
        .select("p.*")
        .filter(F.col("missing_count") > 0)
        .orderBy(F.col("missing_count").desc(), F.col("column_name"))
    )


def fill_stats(
    df: DataFrame,
    numeric_cols: list[str],
    categorical_cols: list[str],
    exact: bool = False,
) -> dict:
    """Mean/median for numeric, mode for categorical, in minimal passes
    (reference A4/A5: df.mean()/df.median()/Series.mode()[0]). ``exact``
    uses interpolated exact percentiles (pandas median parity) instead of
    the one-pass sketch — parity tests only; the sketch is the scale path."""
    pctl = F.percentile if exact else F.percentile_approx
    stats: dict[str, float | str] = {}
    if numeric_cols:
        aggs = []
        for c in numeric_cols:
            aggs.append(F.avg(_col(c)).alias(f"{c}__mean"))
            aggs.append(pctl(_col(c), 0.5).alias(f"{c}__median"))
        row = df.agg(*aggs).first()
        for c in numeric_cols:
            stats[f"{c}__mean"] = row[f"{c}__mean"]
            stats[f"{c}__median"] = row[f"{c}__median"]
    # the melted one-pass mode path is STRING-ONLY: melting casts every
    # value to string, which would (a) return a str mode for a typed
    # column — fill_nulls would then coalesce a numeric column with a
    # string literal — and (b) make the value-asc tie-break lexicographic
    # ('10' < '2'), diverging from pandas Series.mode()[0] on numeric
    # categoricals (advisor finding, r05). Non-string categoricals take
    # a typed per-column groupBy instead.
    string_cats = [c for c, t in df.dtypes if c in (categorical_cols or []) and t == "string"]
    other_cats = [c for c in (categorical_cols or []) if c not in string_cats]
    for c in other_cats:
        top = (
            df.filter(_col(c).isNotNull())
            .groupBy(_col(c))
            .agg(F.count(F.lit(1)).alias("__n"))
            .orderBy(F.col("__n").desc(), _col(c).asc())
            .first()
        )
        stats[f"{c}__mode"] = top[c] if top is not None else None
    if string_cats:
        categorical_cols = string_cats
        # ALL string-column modes in ONE melted pass (review finding: the
        # per-column groupBy loop ran N full scans for N string columns).
        # Tie-break stays pandas Series.mode()[0]: count desc, value asc.
        melted = df.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(c).alias("__col"),
                            _col(c).cast("string").alias("__val"),
                        )
                        for c in categorical_cols
                    ]
                )
            ).alias("__cv")
        ).select("__cv.__col", "__cv.__val")
        counts = (
            melted.filter(F.col("__val").isNotNull())
            .groupBy("__col", "__val")
            .agg(F.count(F.lit(1)).alias("__n"))
        )
        best = (
            counts.groupBy("__col")
            .agg(
                F.max(
                    F.struct(
                        F.col("__n"),
                        # value asc on ties -> invert for struct-max via a
                        # second max over equal-count candidates below
                        F.col("__val"),
                    )
                ).alias("__top")
            )
        )
        # struct-max picks (max count, max value); re-resolve value-asc
        # tie-break exactly with one more tiny join over the counts
        top_n = best.select("__col", F.col("__top.__n").alias("__n"))
        modes = (
            counts.join(top_n, ["__col", "__n"])
            .groupBy("__col")
            .agg(F.min("__val").alias("__mode"))
            .collect()
        )
        found = {r["__col"]: r["__mode"] for r in modes}
        for c in categorical_cols:
            stats[f"{c}__mode"] = found.get(c)
    return stats


def fill_nulls(
    df: DataFrame,
    numeric_strategy: str = "mean",
    numeric_cols: list[str] | None = None,
    categorical_cols: list[str] | None = None,
    exact: bool = False,
) -> DataFrame:
    """SimpleImputer parity (M10): numeric mean/median, categorical mode."""
    if numeric_strategy not in ("mean", "median"):
        raise ValueError(
            f"numeric_strategy must be 'mean' or 'median', got "
            f"{numeric_strategy!r} (a typo here used to silently median-fill)"
        )
    num_types = {"int", "bigint", "double", "float", "smallint", "tinyint"}
    if numeric_cols is None:
        numeric_cols = [c for c, t in df.dtypes if t in num_types]
    if categorical_cols is None:
        categorical_cols = [c for c, t in df.dtypes if t == "string"]
    stats = fill_stats(df, numeric_cols, categorical_cols, exact=exact)
    out = df
    for c in numeric_cols:
        v = stats[f"{c}__{'mean' if numeric_strategy == 'mean' else 'median'}"]
        if v is not None:
            out = out.withColumn(c, F.coalesce(_col(c), F.lit(v)))
    for c in categorical_cols:
        v = stats[f"{c}__mode"]
        if v is not None:
            out = out.withColumn(c, F.coalesce(_col(c), F.lit(v)))
    return out


def _order_window(key: str | None, order: str):
    if key:
        return Window.partitionBy(_col(key)).orderBy(_col(order))
    return Window.partitionBy().orderBy(_col(order))


def _order_buckets(df: DataFrame, order: str, n_buckets: int | None = None):
    """Range-bucket rows by the order column (percentile_approx boundaries;
    pure function of the value, so deterministic across jobs). Returns
    the tagged DataFrame with an ``__ob`` bucket column. The scale device that
    replaces every unkeyed global window in this module: per-bucket windows
    run in parallel, cross-bucket state is a ≤n_buckets-row driver scan."""
    from kgfarm_spark.functions.transforms import _range_bucket_expr

    if n_buckets is not None and n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    if "__ob" in df.columns:
        raise ValueError(
            "input column '__ob' collides with the bucket decomposition's "
            "internal name — rename it (it would be overwritten and dropped)"
        )
    spark = df.sparkSession
    P = n_buckets or int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    qs = [i / P for i in range(1, P)]
    bounds = df.agg(F.percentile_approx(_col(order), qs, 10000).alias("b")).first()["b"]
    uniq = sorted(set(b for b in (bounds or []) if b is not None))
    return df.withColumn("__ob", _range_bucket_expr(_col(order), uniq))


def _unkeyed_fill(df: DataFrame, cols: list[str], order: str, forward: bool) -> DataFrame:
    """Distributed whole-frame ffill/bfill (VERDICT r01: the unkeyed
    `Window.partitionBy()` funnels the frame through one task). Shape:
    per-ORDER-RANGE-bucket window fill (parallel) + a tiny per-bucket
    carry aggregate; the carry-in for bucket b is the last (first) non-null
    across all preceding (following) buckets, resolved driver-side from
    ≤n_buckets rows and broadcast back. Identical to the global window
    when order values are unique."""
    spark = df.sparkSession
    tagged = _order_buckets(df, order)
    agg_fn = "max_by" if forward else "min_by"
    carry_rows = (
        tagged.groupBy("__ob")
        .agg(
            *[
                F.expr(
                    f"{agg_fn}({_ident(c)}, {_ident(order)}) "
                    f"FILTER (WHERE {_ident(c)} IS NOT NULL)"
                ).alias(c)
                for c in cols
            ]
        )
        .collect()
    )
    by_bucket = {r["__ob"]: r for r in sorted(carry_rows, key=lambda r: r["__ob"])}
    buckets = sorted(by_bucket)
    order_iter = buckets if forward else list(reversed(buckets))
    carry_in: dict[int, list] = {}
    state = [None] * len(cols)
    for b in order_iter:
        carry_in[b] = list(state)
        for i, c in enumerate(cols):
            v = by_bucket[b][c]
            if v is not None:
                state[i] = v
    fields = ", ".join(
        f"{_ident('__carry_' + c)} {dict(df.dtypes)[c]}" for c in cols
    )
    carry_df = spark.createDataFrame(
        [(b, *carry_in[b]) for b in buckets], f"__ob int, {fields}"
    )
    w = Window.partitionBy("__ob").orderBy(_col(order))
    w = (
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        if forward
        else w.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    out = tagged.join(F.broadcast(carry_df), "__ob")
    in_bucket = F.last if forward else F.first
    out = out.select(
        *[_col(c) for c in df.columns if c not in cols],
        *[
            F.coalesce(
                in_bucket(_col(c), ignorenulls=True).over(w), _col(f"__carry_{c}")
            ).alias(c)
            for c in cols
        ],
    )
    return out.select(*map(_col, df.columns))


def ffill(df: DataFrame, cols: list[str], key: str | None, order: str) -> DataFrame:
    """W2: last(ignorenulls) over unbounded-preceding frame. Keyed frames
    use one partitioned window; unkeyed frames use the distributed
    range-bucket + carry path (no single-task global window)."""
    if key is None:
        return _unkeyed_fill(df, cols, order, forward=True)
    w = _order_window(key, order).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    out = df
    for c in cols:
        out = out.withColumn(c, F.last(_col(c), ignorenulls=True).over(w))
    return out


def bfill(df: DataFrame, cols: list[str], key: str | None, order: str) -> DataFrame:
    """W2 symmetric: first(ignorenulls) over unbounded-following frame;
    unkeyed frames take the distributed carry path like ffill."""
    if key is None:
        return _unkeyed_fill(df, cols, order, forward=False)
    w = _order_window(key, order).rowsBetween(Window.currentRow, Window.unboundedFollowing)
    out = df
    for c in cols:
        out = out.withColumn(c, F.first(_col(c), ignorenulls=True).over(w))
    return out


def interpolate_linear(
    df: DataFrame,
    cols: list[str],
    key: str | None = None,
    order: str = "__row_order",
    then_ffill_bfill: bool = True,
) -> DataFrame:
    """pandas ``df.interpolate()`` parity (W1, interface/apis.py:211-216):
    linear over row order for interior gaps; trailing nulls carry the last
    value (pandas limit_direction='forward'); leading nulls stay null
    unless ``then_ffill_bfill`` (the reference chains ffill+bfill after).

    Window algebra: for each null row locate (prev value, prev position)
    and (next value, next position) via last/first(ignorenulls) over
    one-sided frames, then blend linearly on position distance.

    Unkeyed frames route through the distributed range-bucket + carry
    path (_unkeyed_interpolate) instead of a single-task global window.
    """
    if "__pos" in df.columns:
        raise ValueError(
            "input column '__pos' collides with interpolate_linear's "
            "internal name — rename it"
        )
    if key is None:
        return _unkeyed_interpolate(df, cols, order, then_ffill_bfill)
    wb = _order_window(key, order).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wf = _order_window(key, order).rowsBetween(Window.currentRow, Window.unboundedFollowing)
    wn = _order_window(key, order)
    out = df.withColumn("__pos", F.row_number().over(wn).cast("double"))

    for c in cols:
        val = _col(c).cast("double")
        prev_v = F.last(val, ignorenulls=True).over(wb)
        prev_p = F.last(F.when(val.isNotNull(), F.col("__pos")), ignorenulls=True).over(wb)
        next_v = F.first(val, ignorenulls=True).over(wf)
        next_p = F.first(F.when(val.isNotNull(), F.col("__pos")), ignorenulls=True).over(wf)
        interior = prev_v + (next_v - prev_v) * (F.col("__pos") - prev_p) / (next_p - prev_p)
        filled = (
            F.when(val.isNotNull(), val)
            .when(prev_v.isNotNull() & next_v.isNotNull(), interior)
            .when(prev_v.isNotNull(), prev_v)  # trailing → ffill (pandas default)
        )
        if then_ffill_bfill:
            filled = F.coalesce(filled, next_v)  # leading → bfill (apis.py:216)
        out = out.withColumn(c, filled)
    return out.drop("__pos")


def _unkeyed_interpolate(
    df: DataFrame, cols: list[str], order: str, then_ffill_bfill: bool = True
) -> DataFrame:
    """Distributed whole-frame linear interpolation: the keyed algorithm's
    window algebra per ORDER-RANGE bucket (parallel), with cross-bucket
    (prev/next value, GLOBAL position) carried via a ≤n_buckets-row
    aggregate resolved driver-side and broadcast back. Global positions =
    in-bucket row_number + bucket count offsets. Identical to the global
    window result when order values are unique."""
    spark = df.sparkSession
    tagged = _order_buckets(df, order)
    w_in = Window.partitionBy("__ob").orderBy(_col(order))
    pos_df = tagged.withColumn("__ipos", F.row_number().over(w_in).cast("double"))

    aggs = [F.count(F.lit(1)).alias("__cnt")]
    for c in cols:
        q = _ident(c)
        nn = f"FILTER (WHERE {q} IS NOT NULL)"
        aggs.append(F.expr(f"max_by(CAST({q} AS DOUBLE), __ipos) {nn}").alias(f"lv_{c}"))
        aggs.append(F.expr(f"max_by(__ipos, __ipos) {nn}").alias(f"lp_{c}"))
        aggs.append(F.expr(f"min_by(CAST({q} AS DOUBLE), __ipos) {nn}").alias(f"fv_{c}"))
        aggs.append(F.expr(f"min_by(__ipos, __ipos) {nn}").alias(f"fp_{c}"))
    rows = {r["__ob"]: r for r in pos_df.groupBy("__ob").agg(*aggs).collect()}
    buckets = sorted(rows)

    offsets, acc = {}, 0.0
    for b in buckets:
        offsets[b] = acc
        acc += rows[b]["__cnt"]

    # carry-in (value, global pos) per column, forward and backward
    carry = {b: {} for b in buckets}
    state = {c: (None, None) for c in cols}
    for b in buckets:
        for c in cols:
            carry[b][f"pv_{c}"], carry[b][f"pp_{c}"] = state[c]
        for c in cols:
            if rows[b][f"lv_{c}"] is not None:
                state[c] = (rows[b][f"lv_{c}"], rows[b][f"lp_{c}"] + offsets[b])
    state = {c: (None, None) for c in cols}
    for b in reversed(buckets):
        for c in cols:
            carry[b][f"nv_{c}"], carry[b][f"np_{c}"] = state[c]
        for c in cols:
            if rows[b][f"fv_{c}"] is not None:
                state[c] = (rows[b][f"fv_{c}"], rows[b][f"fp_{c}"] + offsets[b])

    carry_cols = []
    for c in cols:
        carry_cols += [f"pv_{c}", f"pp_{c}", f"nv_{c}", f"np_{c}"]
    carry_df = spark.createDataFrame(
        [
            (b, float(offsets[b]), *[carry[b][k] for k in carry_cols])
            for b in buckets
        ],
        "__ob int, __off double, " + ", ".join(f"{_ident('__' + k)} double" for k in carry_cols),
    )

    wb = w_in.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wf = w_in.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    out = pos_df.join(F.broadcast(carry_df), "__ob").withColumn(
        "__gpos", F.col("__ipos") + F.col("__off")
    )
    for c in cols:
        val = _col(c).cast("double")
        prev_v = F.coalesce(F.last(val, ignorenulls=True).over(wb), _col(f"__pv_{c}"))
        prev_p = F.coalesce(
            F.last(F.when(val.isNotNull(), F.col("__gpos")), ignorenulls=True).over(wb),
            _col(f"__pp_{c}"),
        )
        next_v = F.coalesce(F.first(val, ignorenulls=True).over(wf), _col(f"__nv_{c}"))
        next_p = F.coalesce(
            F.first(F.when(val.isNotNull(), F.col("__gpos")), ignorenulls=True).over(wf),
            _col(f"__np_{c}"),
        )
        interior = prev_v + (next_v - prev_v) * (F.col("__gpos") - prev_p) / (next_p - prev_p)
        filled = (
            F.when(val.isNotNull(), val)
            .when(prev_v.isNotNull() & next_v.isNotNull(), interior)
            .when(prev_v.isNotNull(), prev_v)
        )
        if then_ffill_bfill:
            filled = F.coalesce(filled, next_v)
        out = out.withColumn(c, filled)
    drop = ["__ipos", "__off", "__gpos", "__ob"] + [f"__{k}" for k in carry_cols]
    return out.drop(*drop).select(*map(_col, df.columns))


def drop_outlier_rows_iqr(
    df: DataFrame, cols: list[str], k: float = 1.5, exact: bool = False
) -> DataFrame:
    """Distributed stand-in for the reference's LocalOutlierFactor masking
    (M9, interface/apis.py:187-192 — LOF is not exactly distributable;
    SURVEY §7 'what's hard' #2): Tukey-fence outlier filter using
    percentile bounds computed in one pass (``exact`` uses interpolated
    exact percentiles for parity tests; the sketch is the scale path).
    Exact LOF semantics live in ``cleaning.lof_mask`` below (grouped
    pandas-UDF kernel, size-guarded)."""
    pctl = F.percentile if exact else F.percentile_approx
    aggs = []
    for c in cols:
        aggs.append(pctl(_col(c), 0.25).alias(f"{c}__q1"))
        aggs.append(pctl(_col(c), 0.75).alias(f"{c}__q3"))
    row = df.agg(*aggs).first()
    cond = F.lit(True)
    for c in cols:
        q1, q3 = row[f"{c}__q1"], row[f"{c}__q3"]
        if q1 is None or q3 is None:
            continue
        iqr = q3 - q1
        cond = cond & (
            _col(c).isNull()
            | _col(c).between(q1 - k * iqr, q3 + k * iqr)
        )
    return df.filter(cond)


# ---------------------------------------------------------------------------
# M9 completion: LOF outlier masking (reference interface/apis.py:187-192,
# LocalOutlierFactor(contamination=0.05).fit_predict on numeric features)
# ---------------------------------------------------------------------------


def _lof_scores_np(X, k: int):
    """Vectorized LOF scores (numpy; sklearn formulae): k-distance →
    reachability → local reachability density lrd = 1/(mean reach + 1e-10)
    → LOF = mean(lrd of neighbors)/lrd. Returns scores ≥ ~1 (higher =
    more outlying)."""
    import numpy as np

    n = len(X)
    if n < 2:
        return np.ones(n)
    k = min(k, n - 1)
    # gemm identity ||x-y||^2 = ||x||^2 + ||y||^2 - 2 x.y — same O(n^2 d)
    # flops but only n x n intermediates (the broadcast (X[:,None]-X[None])
    # form allocated an n x n x d temporary: ~d x the unavoidable distance
    # matrix, an executor-OOM hazard at the 50k max_group_rows cap —
    # review finding). This is sklearn's euclidean_distances path, with
    # the same clip-to-zero guard for cancellation.
    sq = np.einsum("ij,ij->i", X, X)
    D2 = sq[:, None] + sq[None, :] - 2.0 * (X @ X.T)
    np.maximum(D2, 0.0, out=D2)
    D = np.sqrt(D2)
    np.fill_diagonal(D, np.inf)
    idx = np.argsort(D, axis=1, kind="stable")[:, :k]
    rows = np.arange(n)[:, None]
    kdist = D[np.arange(n), idx[:, -1]]
    reach = np.maximum(kdist[idx], D[rows, idx])
    lrd = 1.0 / (reach.mean(axis=1) + 1e-10)
    return lrd[idx].mean(axis=1) / lrd


def lof_mask(
    df: DataFrame,
    cols: list[str],
    n_neighbors: int = 20,
    contamination: float = 0.05,
    key: str | None = None,
    max_group_rows: int = 5000,
) -> DataFrame:
    """M9 at reference fidelity: Local Outlier Factor over the numeric
    columns, flagging the top ``contamination`` fraction as outliers
    (reference: LocalOutlierFactor(contamination=0.05).fit_predict,
    interface/apis.py:187-192; sklearn has no container build here, so the
    kernel is a from-scratch numpy LOF following the published formulae,
    pytest-twinned against an independent loop implementation).

    Scale contract: LOF is O(n²) in group size and NOT exactly
    distributable (SURVEY §7 'what's hard' #2) — supply ``key`` so each
    group fits ``max_group_rows`` (an Arrow-batched applyInPandas kernel
    per group, groups run in parallel); unkeyed frames are size-guarded
    with a hard error rather than a silent driver blowup. Adds
    ``lof_score`` (double) and ``is_outlier`` (boolean); rows with nulls
    in ``cols`` get score null / is_outlier false."""
    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T

    if key is None:
        n = df.count()
        if n > max_group_rows:
            raise ValueError(
                f"lof_mask without a key computes one O(n²) group; input has "
                f"{n} rows > max_group_rows={max_group_rows}. Pass key= to "
                "bound group size, or raise max_group_rows explicitly."
            )

    out_schema = T.StructType(
        list(df.schema.fields)
        + [
            T.StructField("lof_score", T.DoubleType()),
            T.StructField("is_outlier", T.BooleanType()),
        ]
    )
    in_cols = list(df.columns)

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) > max_group_rows:
            raise ValueError(
                f"lof_mask group exceeds max_group_rows={max_group_rows} "
                f"({len(pdf)} rows); use more/finer keys"
            )
        pdf = pdf.sort_values(in_cols, kind="mergesort").reset_index(drop=True)
        X = pdf[cols].to_numpy(dtype=np.float64)
        valid = ~np.isnan(X).any(axis=1)
        scores = np.full(len(pdf), np.nan)
        if valid.sum() >= 2:
            scores[valid] = _lof_scores_np(X[valid], n_neighbors)
        pdf["lof_score"] = scores
        v = scores[valid]
        if len(v):
            # sklearn: offset_ = percentile(negative_outlier_factor_,
            # 100*contamination) → outlier iff score > that cut (sign-flipped)
            cut = float(np.percentile(v, 100.0 * (1.0 - contamination)))
            pdf["is_outlier"] = (scores > cut) & valid
        else:
            pdf["is_outlier"] = False
        pdf["is_outlier"] = pdf["is_outlier"].fillna(False).astype(bool)
        return pdf

    grouped = df.groupBy(key) if key else df.groupBy(F.lit(1).alias("__g"))
    out = grouped.applyInPandas(kernel, out_schema)
    return out


# ---------------------------------------------------------------------------
# M10 completion: KNN imputation (reference interface/apis.py:218-224,
# KNNImputer().fit_transform per feature)
# ---------------------------------------------------------------------------


def _knn_impute_np(X, k: int):
    """numpy twin of sklearn KNNImputer (uniform weights, nan-euclidean
    distance d(x,y) = sqrt(n_features/|overlap| · Σ_overlap (x−y)²)).
    Donors for column j are rows with j observed; a receiver with no
    valid donor distance falls back to the column mean — which makes the
    reference's single-column usage (apis.py:218-224: every NaN row has
    zero observed features) EXACTLY mean imputation. Ties broken by donor
    position (deterministic after the caller's canonical sort)."""
    import numpy as np

    X = X.astype(np.float64, copy=True)
    mask = np.isnan(X)
    n, d = X.shape
    with np.errstate(all="ignore"):
        col_means = np.nanmean(X, axis=0)
    out = X.copy()
    for j in range(d):
        miss = np.flatnonzero(mask[:, j])
        if not len(miss):
            continue
        donors = np.flatnonzero(~mask[:, j])
        if not len(donors):
            continue  # nothing observed in this column at all
        Xd = X[donors]
        donor_nan = np.isnan(Xd)
        for i in miss:
            xi = X[i]
            xi_nan = np.isnan(xi)
            overlap = ~(xi_nan[None, :] | donor_nan)
            cnt = overlap.sum(axis=1)
            diff = np.where(overlap, Xd - xi[None, :], 0.0)
            with np.errstate(all="ignore"):
                dist = np.sqrt(d / np.maximum(cnt, 1) * (diff**2).sum(axis=1))
            valid = cnt > 0
            if not valid.any():
                if np.isfinite(col_means[j]):
                    out[i, j] = col_means[j]
                continue
            order = np.lexsort((np.arange(len(donors)), np.where(valid, dist, np.inf)))
            nearest = order[: min(k, int(valid.sum()))]
            out[i, j] = X[donors[nearest], j].mean()
    return out


def knn_impute(
    df: DataFrame,
    cols: list[str],
    n_neighbors: int = 5,
    key: str | None = None,
    max_group_rows: int = 20000,
) -> DataFrame:
    """M10 completion: KNN imputation of numeric columns (reference
    interface/apis.py:218-224). Same scale contract as lof_mask: kNN is
    O(n_missing·n) per group, so supply ``key`` to cap group size (groups
    impute in parallel via applyInPandas); unkeyed inputs are size-guarded.
    Imputed columns come back as double (sklearn returns float arrays)."""
    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T

    if key is None:
        n = df.count()
        if n > max_group_rows:
            raise ValueError(
                f"knn_impute without a key runs as one group; input has "
                f"{n} rows > max_group_rows={max_group_rows}. Pass key= to "
                "bound group size, or raise max_group_rows explicitly."
            )

    fields = [
        T.StructField(f.name, T.DoubleType()) if f.name in cols else f
        for f in df.schema.fields
    ]
    out_schema = T.StructType(fields)
    in_cols = list(df.columns)

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) > max_group_rows:
            raise ValueError(
                f"knn_impute group exceeds max_group_rows={max_group_rows} "
                f"({len(pdf)} rows); use more/finer keys"
            )
        pdf = pdf.sort_values(in_cols, kind="mergesort").reset_index(drop=True)
        X = pdf[cols].to_numpy(dtype=np.float64)
        filled = _knn_impute_np(X, n_neighbors)
        for jj, c in enumerate(cols):
            pdf[c] = filled[:, jj]
        return pdf

    grouped = df.groupBy(key) if key else df.groupBy(F.lit(1).alias("__g"))
    return grouped.applyInPandas(kernel, out_schema)
