"""Exact-parity + determinism tests for the learned-operator family
(SURVEY §2.9 M1-M8/M11) and the engineer_features pipeline (§3.1) —
these ops are rows-only in the driver gate, so the hard checks live here:
a pure-numpy twin must match the distributed Arrow-UDF result bit-for-bit
(allclose), and results must be invariant to partitioning.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from kgfarm_spark.functions.embeddings import (
    EMB_DIM,
    MINHASH_PERMS,
    _bit_decompose,
    _crc_hashes,
    _minhash_params,
    _mlp_forward,
    _mlp_weights,
    melt_numeric,
    minhash_column_embeddings,
    numeric_column_embeddings,
    recommend_cleaning,
    recommend_scaling,
    recommend_unary,
    _MERSENNE,
)
from kgfarm_spark.pipeline import engineer_features


@pytest.fixture(scope="module")
def num_long(spark):
    rows = [("t", "a", float(i)) for i in range(50)] + [
        ("t", "b", float(i) * -2.5) for i in range(50)
    ]
    return spark.createDataFrame(rows, "table_name string, column_name string, value double")


class TestNumericEmbedding:
    def test_matches_numpy_twin(self, spark, num_long):
        out = {
            r["column_name"]: np.asarray(r["embedding"])
            for r in numeric_column_embeddings(num_long, seed=42).collect()
        }
        ws = _mlp_weights(42, 32)
        for col, vals in (
            ("a", np.arange(50, dtype=np.float32)),
            ("b", np.arange(50, dtype=np.float32) * -2.5),
        ):
            expected = _mlp_forward(_bit_decompose(vals), ws).mean(axis=0)
            assert out[col].shape == (EMB_DIM,)
            np.testing.assert_allclose(out[col], expected, rtol=1e-4, atol=1e-6)

    def test_partitioning_invariant(self, spark, num_long):
        e1 = numeric_column_embeddings(num_long.repartition(1)).collect()
        e16 = numeric_column_embeddings(num_long.repartition(16)).collect()
        d1 = {r["column_name"]: r["embedding"] for r in e1}
        d16 = {r["column_name"]: r["embedding"] for r in e16}
        for c in d1:
            np.testing.assert_allclose(d1[c], d16[c], rtol=1e-6)

    def test_bit_decompose_ieee754(self):
        bits = _bit_decompose(np.array([1.0], dtype=np.float32))[0]
        # IEEE-754 float32 of 1.0 = 0x3F800000
        assert "".join(str(int(b)) for b in bits) == format(0x3F800000, "032b")


class TestMinhashEmbedding:
    def test_matches_numpy_twin(self, spark):
        vals = [f"val_{i}" for i in range(40)]
        long_df = spark.createDataFrame(
            [("t", "c", v) for v in vals],
            "table_name string, column_name string, value string",
        )
        got = np.asarray(
            minhash_column_embeddings(long_df, seed=42).collect()[0]["embedding"]
        )
        a, b = _minhash_params(42)
        h = _crc_hashes(np.array(vals, dtype=object))
        sig = ((h[:, None] * a + b) % _MERSENNE).min(axis=0).astype(np.float64)
        np.testing.assert_allclose(got, (sig / float(_MERSENNE)), rtol=1e-6)
        assert got.shape == (MINHASH_PERMS,)

    def test_case_insensitive_and_duplicate_invariant(self, spark):
        base = [("t", "c", v) for v in ("Alpha", "beta", "GAMMA")]
        dup = base + [("t", "c", "alpha"), ("t", "c", "BETA")]
        schema = "table_name string, column_name string, value string"
        e1 = minhash_column_embeddings(spark.createDataFrame(base, schema)).collect()
        e2 = minhash_column_embeddings(spark.createDataFrame(dup, schema)).collect()
        np.testing.assert_allclose(e1[0]["embedding"], e2[0]["embedding"])


class TestStringEmbedding:
    def test_shape_and_partition_invariance(self, spark):
        rows = [("t", "c", f"word {i} mixedCase!") for i in range(30)]
        schema = "table_name string, column_name string, value string"
        df = spark.createDataFrame(rows, schema)
        from kgfarm_spark.functions.embeddings import string_column_embeddings

        e1 = string_column_embeddings(df.repartition(1)).collect()[0]["embedding"]
        e8 = string_column_embeddings(df.repartition(8)).collect()[0]["embedding"]
        assert len(e1) == EMB_DIM
        np.testing.assert_allclose(e1, e8, rtol=1e-6)


class TestRecommenders:
    def test_deterministic_labels(self, spark, num_long):
        emb = numeric_column_embeddings(num_long)
        assert recommend_scaling(emb) == recommend_scaling(emb)
        u1 = recommend_unary(emb).collect()
        u2 = recommend_unary(emb).collect()
        assert sorted(map(str, u1)) == sorted(map(str, u2))

    def test_cleaning_rank_is_permutation(self, spark, num_long):
        from kgfarm_spark.functions.embeddings import string_column_embeddings

        num_emb = numeric_column_embeddings(num_long)
        str_long = spark.createDataFrame(
            [("t", "s", f"tok_{i % 9}") for i in range(50)],
            "table_name string, column_name string, value string",
        )
        str_emb = string_column_embeddings(str_long)
        ranked = recommend_cleaning(str_emb, num_emb)
        assert sorted(ranked) == ["Fill", "Impute", "Interpolate"]
        assert ranked == recommend_cleaning(str_emb, num_emb)  # frozen head


class TestEngineerFeatures:
    @pytest.fixture(scope="class")
    def frames(self, spark):
        rows = [
            (i, float(i % 100), float(i % 100) * 2.0 + 0.001 * i, float(i % 7),
             ["x", "y", "z"][i % 3], f"cat_{i % 20}")
            for i in range(400)
        ]
        schema = (
            "id bigint, f_base double, f_corr double, f_indep double, "
            "label string, wide string"
        )
        df = spark.createDataFrame(rows, schema)
        return df.filter(F.col("id") % 2 == 1), df.filter(F.col("id") % 2 == 0)

    def test_correlated_feature_dropped(self, spark, frames):
        train, test = frames
        tr, te, report = engineer_features(train.drop("id"), test.drop("id"), "label")
        # f_corr ≈ 2*f_base (r > 0.99) → exactly one of the pair survives
        assert ("f_base" in report["kept_numeric"]) ^ ("f_corr" in report["kept_numeric"])
        assert report["task"] == "multiclass"

    def test_fit_on_train_only_no_leakage(self, spark, frames):
        train, test = frames
        tr, te, report = engineer_features(train.drop("id"), test.drop("id"), "label")
        kept = report["kept_numeric"]
        # train standardized → mean ~0; test transformed with TRAIN stats
        tr_means = tr.agg(*[F.avg(c).alias(c) for c in kept]).first()
        for c in kept:
            assert abs(tr_means[c]) < 1e-9
        # OHE columns exist on both sides with identical names
        ohe_cols = {c for c in tr.columns if c.startswith("label_") or c.startswith("wide")}
        assert ohe_cols == {c for c in te.columns if c.startswith("label_") or c.startswith("wide")}

    def test_high_cardinality_goes_ordinal(self, spark, frames):
        train, test = frames
        tr, te, report = engineer_features(train.drop("id"), test.drop("id"), "label")
        # 'wide' has 20 distinct > 5 → ordinal-encoded in place, not OHE'd
        assert "wide" in tr.columns
        # long on both ordinal paths (schema no longer flips int/long at
        # the ORDINAL_COLLECT_MAX boundary — round-5 review fix)
        assert dict(tr.dtypes)["wide"] == "bigint"
        assert "ordinal" in report["fitted"]


class TestOutlierFlagAndLabelJoin:
    def test_outlier_flag_deterministic_bool(self, spark, num_long):
        from kgfarm_spark.functions.embeddings import (
            detect_outliers_flag,
            numeric_column_embeddings,
        )

        emb = numeric_column_embeddings(num_long)
        f1 = detect_outliers_flag(emb)
        f2 = detect_outliers_flag(emb)
        assert isinstance(f1, bool) and f1 == f2

    def test_label_pkfk_candidates(self, spark):
        from kgfarm_spark.functions.profiling import label_pkfk_candidates

        cands = spark.createDataFrame(
            [
                ("nation", "n_nationkey", "customer", "c_nationkey", 1.0),
                ("nation", "n_nationkey", "region", "r_regionkey", 1.0),
            ],
            "pk_table string, pk_col string, fk_table string, fk_col string, joinability double",
        )
        gt = spark.createDataFrame(
            [("nation", "n_nationkey", "customer", "c_nationkey")],
            "pk_table string, pk_col string, fk_table string, fk_col string",
        )
        out = {
            (r["fk_table"]): r["has_pkfk"]
            for r in label_pkfk_candidates(cands, gt).collect()
        }
        assert out == {"customer": 1, "region": 0}


class TestSelectionExactness:
    def test_f_regression_matches_formula(self, spark):
        import numpy as np

        from kgfarm_spark.functions.selection import f_regression_scores

        rng = np.random.default_rng(5)
        x = rng.normal(size=200)
        noise = rng.normal(size=200)
        y = 3.0 * x + noise
        z = rng.normal(size=200)  # unrelated
        df = spark.createDataFrame(
            [(float(a), float(b), float(c)) for a, b, c in zip(x, z, y)],
            "x double, z double, y double",
        )
        got = f_regression_scores(df, ["x", "z"], "y")
        # sklearn f_regression: F = r^2 (n-2) / (1 - r^2)
        for c, v in zip(["x", "z"], [x, z]):
            r = np.corrcoef(v, y)[0, 1]
            expected = r * r * (200 - 2) / (1 - r * r)
            assert abs(got[c] - expected) < 1e-6 * max(1.0, expected)
        assert got["x"] > 100 > got["z"]

    def test_engineer_features_regression_branch(self, spark):
        import numpy as np

        from kgfarm_spark.pipeline import engineer_features

        rng = np.random.default_rng(8)
        rows = []
        for i in range(300):
            x1 = float(rng.normal())
            x2 = float(rng.normal())
            w = float(rng.normal())  # pure noise, F ~ 0 < theta1+5
            rows.append((x1, x2, w, 2.0 * x1 + x2 + float(rng.normal(0, 0.1))))
        df = spark.createDataFrame(rows, "x1 double, x2 double, w double, y double")
        train = df.limit(200)
        test = df.subtract(train)
        tr, te, report = engineer_features(train, test, "y")
        assert report["task"] == "regression"
        # w scores below theta1+5 → pruned; 2 of 3 survive (no fallback:
        # the reference keeps all only when < 10% survive or ≤ 1 survives)
        assert sorted(report["kept_numeric"]) == ["x1", "x2"]
        assert report["dropped_numeric"] == ["w"]


def test_ann_query_collect_guard(spark):
    """VERDICT r01 #6: the driver-side query collect in the ANN paths must
    fail loudly above the cap, not OOM the driver silently."""
    import pytest

    from kgfarm_spark.operators import similarity as sim

    corpus = spark.range(20).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.rand(seed=1) for _ in range(4)]).alias("embedding"),
    )
    queries = spark.range(50).select(
        F.col("id").alias("query_id"),
        F.array(*[F.lit(0.1)] * 4).alias("embedding"),
    )
    old = sim.MAX_DRIVER_QUERIES
    sim.MAX_DRIVER_QUERIES = 10
    try:
        with pytest.raises(ValueError, match="driver-side cap"):
            sim.cosine_topk_twophase(corpus, queries, k=2).collect()
    finally:
        sim.MAX_DRIVER_QUERIES = old


def test_melt_quote_in_column_name(spark):
    """A quote in a column name used to be spliced into the stack() SQL
    (ParseException); the melt must equal a plain-named copy's."""
    from kgfarm_spark.functions.embeddings import melt_strings

    df = spark.createDataFrame([(1.5, "x"), (None, "y")], "`o'b` double, `s'q` string")
    plain = df.toDF("ob", "sq")
    for melt, odd, name in ((melt_numeric, "o'b", "ob"), (melt_strings, "s'q", "sq")):
        got = [tuple(r) for r in melt(df, "t", [odd]).collect()]
        want = [("t", odd, r["value"]) for r in melt(plain, "t", [name]).collect()]
        assert sorted(got, key=repr) == sorted(want, key=repr)
        assert len(got) == 2
