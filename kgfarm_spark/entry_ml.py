"""Queries for the learned-operator family (SURVEY §2.9 M1-M8/M11) and
the engineer_features e2e pipeline (§3.1).

These kernels (seeded MLP / MinHash / softmax heads) are genuinely not
ANSI-SQL-expressible, so per the driver contract they register WITHOUT
oracle SQL — the driver records the weaker rows-only check; pytest
(tests/test_embeddings.py) carries the exact-parity checks (numpy twin,
cross-parallelism determinism) instead.

Registered into kgfarm_spark.entry_queries.QUERIES/ORACLES at import.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kgfarm_spark.entry_queries import register
from kgfarm_spark.functions.embeddings import (
    feature_selection_scores,
    melt_numeric,
    melt_strings,
    minhash_column_embeddings,
    numeric_column_embeddings,
    recommend_categorical,
    recommend_cleaning,
    recommend_scaling,
    recommend_unary,
)
from kgfarm_spark.pipeline import engineer_features
from kgfarm_spark.sources.transcripts import load_table

_NUM_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
_STR_COLS = ["o_orderstatus", "o_orderpriority"]


def _numeric_long(spark: SparkSession, sf: str) -> DataFrame:
    return melt_numeric(
        load_table(spark, sf, "lineitem").select(*_NUM_COLS), "lineitem", _NUM_COLS
    )


def _string_long(spark: SparkSession, sf: str) -> DataFrame:
    return melt_strings(
        load_table(spark, sf, "orders").select(*_STR_COLS), "orders", _STR_COLS
    )


@register("numeric_column_embeddings")  # rows-only: MLP kernel, no SQL oracle
def q_numeric_embeddings(spark: SparkSession, sf: str) -> DataFrame:
    out = numeric_column_embeddings(_numeric_long(spark, sf))
    # project a stable scalar view (first components) for the rows check
    return out.select(
        "table_name",
        "column_name",
        F.round(F.col("embedding")[0], 6).alias("e0"),
        F.round(F.col("embedding")[1], 6).alias("e1"),
        F.size("embedding").alias("dim"),
    )


@register("minhash_column_embeddings")  # rows-only: hash kernel, no SQL oracle
def q_minhash_embeddings(spark: SparkSession, sf: str) -> DataFrame:
    out = minhash_column_embeddings(_string_long(spark, sf))
    return out.select(
        "table_name",
        "column_name",
        F.round(F.col("embedding")[0], 6).alias("e0"),
        F.size("embedding").alias("dim"),
    )


@register("transform_recommendations")  # rows-only: learned heads
def q_transform_recs(spark: SparkSession, sf: str) -> DataFrame:
    num_emb = numeric_column_embeddings(_numeric_long(spark, sf))
    cat_emb = minhash_column_embeddings(_string_long(spark, sf))
    scaler = recommend_scaling(num_emb)
    unary = recommend_unary(num_emb).withColumn("kind", F.lit("unary"))
    cat = recommend_categorical(cat_emb).withColumn("kind", F.lit("categorical"))
    scaling_row = spark.createDataFrame(
        [(scaler, [], "scaling")],
        "recommended_transformation string, features array<string>, kind string",
    )
    return unary.unionByName(cat).unionByName(scaling_row)


@register("cleaning_recommendations")  # rows-only: learned head
def q_cleaning_recs(spark: SparkSession, sf: str) -> DataFrame:
    from kgfarm_spark.functions.embeddings import string_column_embeddings

    num_emb = numeric_column_embeddings(_numeric_long(spark, sf))
    str_emb = string_column_embeddings(_string_long(spark, sf))
    ranked = recommend_cleaning(str_emb, num_emb)
    return spark.createDataFrame(
        [(i, op) for i, op in enumerate(ranked)], "rank int, operation string"
    )


@register("feature_selection_scores")  # rows-only: learned head
def q_selection_scores(spark: SparkSession, sf: str) -> DataFrame:
    num_emb = numeric_column_embeddings(_numeric_long(spark, sf))
    target_emb = np.zeros(300, dtype=np.float32)  # deterministic target slot
    return feature_selection_scores(num_emb, target_emb)


@register("quantile_transform_fitted")  # rows-only: np.interp kernel
def q_quantile_fitted(spark: SparkSession, sf: str) -> DataFrame:
    """Leakage-free QuantileTransformer: grid fit on train (odd custkeys),
    applied to test (even custkeys) via Arrow-batched np.interp."""
    from kgfarm_spark.functions.transforms import (
        apply_quantile_transformer,
        fit_quantile_transformer,
    )

    cust = load_table(spark, sf, "customer").select("c_custkey", "c_acctbal")
    train = cust.filter(F.col("c_custkey") % 2 == 1)
    test = cust.filter(F.col("c_custkey") % 2 == 0)
    params = fit_quantile_transformer(train, ["c_acctbal"])
    out = apply_quantile_transformer(test, params)
    return out.select("c_custkey", F.round("c_acctbal", 6).alias("bal_qtile"))


@register("power_transform_yeo_johnson")  # rows-only: MLE fit kernel
def q_power_transform(spark: SparkSession, sf: str) -> DataFrame:
    """PowerTransformer (Yeo-Johnson): λ fit on a deterministic sample,
    applied as a pure column expression."""
    from kgfarm_spark.functions.transforms import (
        apply_power_transformer,
        fit_power_transformer,
    )

    li = load_table(spark, sf, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    params = fit_power_transformer(li, ["l_extendedprice"])
    out = apply_power_transformer(li, params)
    return out.select(
        "l_orderkey",
        "l_linenumber",
        F.round("l_extendedprice", 4).alias("price_yj"),
    )


# ---------------------------------------------------------------------------
# Hash-checked APPLY-side twins of the two fit kernels above (VERDICT r02
# missing #5): the fit stays rows-only (MLE / sketch kernels), but the
# lifecycle's apply side is closed-form, so it gets a full DuckDB oracle
# with PINNED fitted params — exactly how a frozen transformer ships.
# ---------------------------------------------------------------------------

_YJ_LAMBDA = 0.3  # pinned fitted λ; 2-λ = 1.7 exercises the negative branch

#: pinned QuantileTransformer grid (strictly increasing, non-uniform so the
#: interpolation is actually exercised); positions are np.linspace(0,1,11)
_QT_GRID = [-1000.0, -500.0, 0.0, 800.0, 1600.0, 2700.0, 4000.0, 5500.0,
            7000.0, 8500.0, 10000.0]


def _qt_oracle_sql(grid: list[float]) -> str:
    """Piecewise-linear interp as a CASE chain, generated from the SAME
    grid/positions numpy uses (exact float reprs embedded) so the oracle
    arithmetic mirrors np.interp's fp[i] + (x-xp[i]) * slope form."""
    pos = np.linspace(0.0, 1.0, len(grid))
    parts = [f"WHEN c_acctbal <= {grid[0]!r} THEN 0.0"]
    for i in range(len(grid) - 1):
        g0, g1, p0, p1 = grid[i], grid[i + 1], pos[i], pos[i + 1]
        parts.append(
            f"WHEN c_acctbal <= {g1!r} THEN {p0!r} + "
            f"(c_acctbal - {g0!r}) * {(p1 - p0) / (g1 - g0)!r}"
        )
    parts.append("ELSE 1.0")
    return (
        "SELECT c_custkey, round(CASE "
        + " ".join(parts)
        + " END, 4) AS bal_qtile FROM customer"
    )


@register(
    "power_transform_yj_apply",
    f"""
SELECT c_custkey,
       round(CASE WHEN c_acctbal >= 0
                  THEN (pow(c_acctbal + 1.0, {_YJ_LAMBDA}) - 1.0) / {_YJ_LAMBDA}
                  ELSE -(pow(-c_acctbal + 1.0, {2.0 - _YJ_LAMBDA}) - 1.0) / {2.0 - _YJ_LAMBDA}
             END, 4) AS bal_yj
FROM customer
""",
)
def q_power_transform_apply(spark: SparkSession, sf: str) -> DataFrame:
    """Yeo-Johnson APPLY with a pinned fitted λ — the frozen-transformer
    lifecycle's transform side as a pure column expression (c_acctbal has
    negatives, so both ψ branches are exercised and hash-checked)."""
    from kgfarm_spark.functions.transforms import apply_power_transformer

    cust = load_table(spark, sf, "customer").select("c_custkey", "c_acctbal")
    out = apply_power_transformer(cust, {"c_acctbal": _YJ_LAMBDA})
    return out.select("c_custkey", F.round("c_acctbal", 4).alias("bal_yj"))


@register("quantile_transform_apply", _qt_oracle_sql(_QT_GRID))
def q_quantile_transform_apply(spark: SparkSession, sf: str) -> DataFrame:
    """QuantileTransformer APPLY against a pinned fitted grid — the
    Arrow-batched np.interp kernel hash-checked against a DuckDB CASE
    chain generated from the same grid."""
    from kgfarm_spark.functions.transforms import apply_quantile_transformer

    cust = load_table(spark, sf, "customer").select("c_custkey", "c_acctbal")
    out = apply_quantile_transformer(cust, {"c_acctbal": _QT_GRID})
    return out.select("c_custkey", F.round("c_acctbal", 4).alias("bal_qtile"))


_E2E_ORACLE = """
WITH frame AS (
  SELECT o.o_orderkey, o.o_totalprice, c.c_acctbal, o.o_orderstatus,
         o.o_orderpriority, c.c_mktsegment
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
),
train AS (SELECT * FROM frame WHERE o_orderkey % 2 = 1),
test  AS (SELECT * FROM frame WHERE o_orderkey % 2 = 0),
fit AS (
  SELECT avg(o_orderkey)         AS mk, stddev_pop(o_orderkey)   AS sk,
         avg(o_totalprice)       AS mp, stddev_pop(o_totalprice) AS sp,
         avg(c_acctbal)          AS mb, stddev_pop(c_acctbal)    AS sb
  FROM train
)
SELECT round((t.o_orderkey  - f.mk) / f.sk, 4) AS o_orderkey,
       round((t.o_totalprice - f.mp) / f.sp, 4) AS o_totalprice,
       round((t.c_acctbal   - f.mb) / f.sb, 4) AS c_acctbal,
       t.o_orderstatus,
       (t.o_orderpriority = '1-URGENT')::INTEGER        AS "o_orderpriority_1-URGENT",
       (t.o_orderpriority = '2-HIGH')::INTEGER          AS "o_orderpriority_2-HIGH",
       (t.o_orderpriority = '3-MEDIUM')::INTEGER        AS "o_orderpriority_3-MEDIUM",
       (t.o_orderpriority = '4-NOT SPECIFIED')::INTEGER AS "o_orderpriority_4-NOT SPECIFIED",
       (t.o_orderpriority = '5-LOW')::INTEGER           AS "o_orderpriority_5-LOW",
       (t.c_mktsegment = 'AUTOMOBILE')::INTEGER AS "c_mktsegment_AUTOMOBILE",
       (t.c_mktsegment = 'BUILDING')::INTEGER   AS "c_mktsegment_BUILDING",
       (t.c_mktsegment = 'FURNITURE')::INTEGER  AS "c_mktsegment_FURNITURE",
       (t.c_mktsegment = 'HOUSEHOLD')::INTEGER  AS "c_mktsegment_HOUSEHOLD",
       (t.c_mktsegment = 'MACHINERY')::INTEGER  AS "c_mktsegment_MACHINERY"
FROM test t, fit f
"""


@register("engineer_features_e2e", _E2E_ORACLE)
def q_engineer_features(spark: SparkSession, sf: str) -> DataFrame:
    """Full §3.1 lifecycle on (orders ⋈ customer): importance → corr-prune
    → OHE/ordinal → standard-scale, fit on 'train' (odd keys), applied to
    'test' (even keys); returns the transformed test frame.

    Oracled since round 5 (VERDICT r04 #8): the SQL twin replays the
    chain's PINNED decisions on this data — all three numerics survive
    both pruning stages, both categoricals pass the ≤5-distinct OHE gate
    with the full TPC-H vocabularies in train — and recomputes the
    train-fitted population-std scaling + one-hot columns exactly. The
    engine's decision MAKING stays covered by pytest (golden e2e,
    pipeline tests); this oracle hash-checks the decisions' arithmetic."""
    orders = load_table(spark, sf, "orders")
    cust = load_table(spark, sf, "customer")
    frame = orders.join(
        F.broadcast(cust.select("c_custkey", "c_acctbal", "c_mktsegment")),
        orders["o_custkey"] == cust["c_custkey"],
    ).select(
        "o_orderkey", "o_totalprice", "c_acctbal", "o_orderstatus",
        "o_orderpriority", "c_mktsegment",
    )
    train = frame.filter(F.col("o_orderkey") % 2 == 1)
    test = frame.filter(F.col("o_orderkey") % 2 == 0)
    _, test_out, _ = engineer_features(train, test, target="o_orderstatus")
    return test_out.select(
        *[
            F.round(F.col(c), 4).alias(c) if dict(test_out.dtypes)[c] == "double" else F.col(c)
            for c in test_out.columns
        ],
    )


@register("auto_pipeline_model_eval")  # rows-only: pyspark.ml fit (non-SQL)
def q_auto_pipeline_model_eval(spark: SparkSession, sf: str) -> DataFrame:
    """§3.3 tail parity (reference pipeline_generator.py:152-191): the
    full automation chain with ``fit_model=True`` on the north-rule
    tables — probes enriched point-in-time from the transcript view →
    clean → deterministic split → engineer → LogisticRegression fit on
    train → f1/accuracy on the held-out split. The label — "does this
    conversation make another TOOL call after the probe instant?" — is a
    genuine point-in-time prediction target: deterministic, mixed (early
    probes mostly 1, late probes 0), and partially learnable from the
    enriched features (turn_idx / ts at probe time), so the pinned f1
    sits between chance and 1.0 — evidence the fit stage actually fits
    (pinned in test_golden_e2e). Returns one row per manifest stage plus
    one per metric — a fixed 9-row shape whose count is stable across
    partitionings (the rows-only driver check)."""
    from kgfarm_spark.pipeline import run_auto_pipeline
    from kgfarm_spark.sources.transcripts import probes, transcripts

    t = transcripts(spark, sf)
    view = t.select(
        "conv_id", "ts", "turn_idx",
        F.length("text").alias("text_len"), "role", "tool",
    )
    last_tool = (
        t.filter(F.col("tool").isNotNull())
        .groupBy("conv_id")
        .agg(F.max("ts").alias("__last_tool_ts"))
    )
    entity = (
        probes(spark, sf)
        .join(last_tool, "conv_id", "left")
        .withColumn(
            "label",
            F.coalesce(F.col("__last_tool_ts") > F.col("query_ts"), F.lit(False)).cast("int"),
        )
        .drop("__last_tool_ts")
    )
    _, _, manifest = run_auto_pipeline(
        entity, view, target="label", on="conv_id",
        entity_ts="query_ts", view_ts="ts", freshness_days=10000,
        id_cols=["probe_id"], fit_model=True,
    )
    rows = [
        (s["stage"], float(s.get("rows", -1)))
        for s in manifest["stages"]
    ]
    rows += [
        (f"metric:{k}", float(v))
        for k, v in sorted(manifest["report"]["model"]["metrics"].items())
    ]
    return spark.createDataFrame(rows, "stage string, value double").orderBy("stage")


@register("pkfk_classified")  # rows-only: trained classifier head (M12)
def q_pkfk_classified(spark: SparkSession, sf: str) -> DataFrame:
    """Join discovery gated on the TRAINED PK-FK head (reference
    lifecycle: primary_key_foreign_key_classifier.py) — predicted FK
    relations over the TPC-H tables with classifier probability."""
    from kgfarm_spark.functions.pkfk_model import discover_joins_classified
    from kgfarm_spark.sources.transcripts import load_table

    tables = {
        t: load_table(spark, sf, t)
        for t in ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"]
    }
    return discover_joins_classified(spark, tables)
