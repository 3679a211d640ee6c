"""Column-embedding operators + embedding-driven recommenders — the
reference's "learned relational operators" (SURVEY §2.9, M1–M8/M11)
re-expressed as broadcast-model + Arrow-vectorized pandas UDFs.

Reference semantics:
- M1 numeric column embedding (DDE): each float32 value → its 32-bit
  IEEE-754 bit vector → MLP(32→300→300→300, tanh) → mean-pool over the
  column (inference_manager/column_embeddings.py:7-23,
  inference_manager/inference.py:61-74; bit decomposition at
  inference.py:65-66).
- M2 categorical column embedding: MinHash signature over the column's
  lowercased utf-8 values (inference.py:76-81; datasketch num_perm=512 —
  here the same 512 perms via the universal-hash construction).
- M4-M8 recommenders: sklearn heads over the aggregated embedding with
  probability thresholds 0.60 (unary/categorical) and 0.50 (numerical)
  (inference.py:46-48,169-212,223-255).
- M11 feature-selection scorer: concat(feature emb, target emb) →
  P(select), max-normalized (inference.py:257-310, A8 normalization).

The reference ships ~20 pickled proprietary-trained models
(inference_manager/inference.py:17-43). This repo does NOT copy them:
the EMBEDDING networks are deterministic seeded stand-ins with the
reference's shapes, and the recommendation HEADS are tiny logistic
regressions trained by tools/train_heads.py on a seeded synthetic
column corpus (public data only) and frozen to head_weights.json — the
same train → freeze → load → predict lifecycle as the reference, so
recommendations are stable, asserted ranked lists, not random argmaxes.
The distributed pattern matches the reference's split: driver loads
weights once → sparkContext.broadcast → executors run kernels inside
Arrow-batched pandas UDFs → driver-side single-row predict on the
aggregated embedding.

Scale notes: embeddings are computed by ``applyInPandas`` grouped on
(table, column) — one shuffle on the column key; each group's kernel is
pure numpy (no per-row Python). Columns with billions of rows should be
sampled upstream (the reference samples too — operations/api.py:309-313);
use functions.sampling.deterministic_sample for partition-invariant
results.
"""

from __future__ import annotations

import json
import os
import zlib

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kgfarm_spark.operators.asof import _ident

EMB_DIM = 300  # column_embeddings.py:4
BIT_DIM = 32  # float32 bit decomposition (inference.py:65-66)
MINHASH_PERMS = 512  # reference fidelity (inference.py:22); chunked kernel bounds memory
_MERSENNE = (1 << 61) - 1

#: recommendation label spaces (inference.py:169-173,196-212,223-247)
SCALERS = ["StandardScaler", "MinMaxScaler", "RobustScaler", "QuantileTransformer", "PowerTransformer"]
UNARY = ["Log", "Sqrt", "Square", "NoTransform"]
CATEGORICAL = ["OrdinalEncoder", "OneHotEncoder"]
CLEANING = ["Fill", "Interpolate", "Impute"]

#: probability thresholds (inference.py:46-48)
THETA_UNARY = 0.60
THETA_CATEGORICAL = 0.60
THETA_NUMERICAL = 0.50


# ---------------------------------------------------------------------------
# Deterministic model weights (seeded stand-ins, reference shapes)
# ---------------------------------------------------------------------------


def _mlp_weights(seed: int, in_dim: int, hidden: int = EMB_DIM, layers: int = 3) -> list:
    """MLP(in→300→300→300, tanh) weight stack — the DDE architecture
    (column_embeddings.py:7-23)."""
    rng = np.random.default_rng(seed)
    ws, d = [], in_dim
    for _ in range(layers):
        ws.append(
            (
                rng.normal(0, 1.0 / np.sqrt(d), size=(d, hidden)).astype(np.float32),
                rng.normal(0, 0.01, size=(hidden,)).astype(np.float32),
            )
        )
        d = hidden
    return ws


_HEADS_FILE = os.path.join(os.path.dirname(__file__), "head_weights.json")
_HEADS_CACHE: dict | None = None


def _trained_heads() -> dict:
    """Load the frozen recommendation heads (tools/train_heads.py writes
    them). The reference ships ~20 proprietary-trained pickles
    (inference.py:17-43) which must not be copied; these heads are tiny
    multinomial logistic regressions TRAINED on the repo's own seeded
    synthetic column corpus — same lifecycle as the reference
    (train → freeze → load → predict), public data only. Retrain with
    ``python tools/train_heads.py`` (fully deterministic)."""
    global _HEADS_CACHE
    if _HEADS_CACHE is None:
        if not os.path.exists(_HEADS_FILE):
            raise FileNotFoundError(
                f"{_HEADS_FILE} missing — run `python tools/train_heads.py` "
                "to (re)train the recommendation heads"
            )
        with open(_HEADS_FILE) as f:
            raw = json.load(f)
        def _load(h):
            out = {
                "kind": h.get("kind", "linear"),
                "mu": np.asarray(h["mu"], dtype=np.float64),
                "sd": np.asarray(h["sd"], dtype=np.float64),
                "labels": list(h["labels"]),
            }
            if out["kind"] == "mlp":
                for k in ("W1", "b1", "W2", "b2"):
                    out[k] = np.asarray(h[k], dtype=np.float64)
            else:
                out["W"] = np.asarray(h["W"], dtype=np.float64)
                out["b"] = np.asarray(h["b"], dtype=np.float64)
            return out

        _HEADS_CACHE = {name: _load(h) for name, h in raw["heads"].items()}
    return _HEADS_CACHE


def _head_probs(name: str, emb: np.ndarray) -> np.ndarray:
    """Probability vector from a frozen trained head (features are
    standardized with the mu/sd frozen at train time; the head is either
    the linear softmax or a one-hidden-layer tanh MLP — whichever
    generalized better on the held-out corpus, recorded as 'kind')."""
    h = _trained_heads()[name]
    x = (np.asarray(emb, dtype=np.float64) - h["mu"]) / h["sd"]
    if h["kind"] == "mlp":
        hid = np.tanh(x @ h["W1"] + h["b1"])
        return _softmax(hid @ h["W2"] + h["b2"])
    return _softmax(x @ h["W"] + h["b"])


def _predict_head(name: str, emb: np.ndarray):
    """(top_label, top_prob, full prob vector) from a frozen trained head."""
    p = _head_probs(name, emb)
    i = int(np.argmax(p))
    return _trained_heads()[name]["labels"][i], float(p[i]), p


def _minhash_params(seed: int, k: int = MINHASH_PERMS) -> tuple:
    rng = np.random.default_rng(seed)
    a = rng.integers(1, _MERSENNE, size=k, dtype=np.int64)
    b = rng.integers(0, _MERSENNE, size=k, dtype=np.int64)
    return a, b


def _mlp_forward(x: np.ndarray, ws: list) -> np.ndarray:
    h = x
    for w, b in ws:
        h = np.tanh(h @ w + b)
    return h


def _softmax(z: np.ndarray) -> np.ndarray:
    e = np.exp(z - z.max())
    return e / e.sum()


def _bit_decompose(vals: np.ndarray) -> np.ndarray:
    """float32 → (n, 32) 0/1 matrix, MSB first — the reference's IEEE-754
    binary-string decomposition (inference.py:65-66) vectorized."""
    u = vals.astype(np.float32).view(np.uint32)
    return ((u[:, None] >> np.arange(BIT_DIM - 1, -1, -1, dtype=np.uint32)) & 1).astype(
        np.float32
    )


def _crc_hashes(values) -> np.ndarray:
    """Deterministic 32-bit hash per lowercased utf-8 value
    (inference.py:78-81 lowercases + encodes before hashing)."""
    return np.fromiter(
        (zlib.crc32(str(v).lower().encode("utf8")) for v in values),
        dtype=np.int64,
        count=len(values),
    )


# ---------------------------------------------------------------------------
# Pure-numpy embedding twins — shared by the Spark kernels below AND by
# tools/train_heads.py (the offline head trainer), so training and serving
# use bit-identical featurization.
# ---------------------------------------------------------------------------


def numeric_embed_np(vals: np.ndarray, weights: list) -> np.ndarray:
    """DDE column embedding: sort (partition invariance) → bit-decompose →
    MLP → float64 mean-pool."""
    vals = np.sort(np.asarray(vals, dtype=np.float32))
    if len(vals) == 0:
        return np.zeros(EMB_DIM, dtype=np.float64)
    return _mlp_forward(_bit_decompose(vals), weights).astype(np.float64).mean(axis=0)


def minhash_embed_np(values, a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """MinHash signature over unique values, scaled to [0,1] float64."""
    values = np.asarray(values)
    if len(values) == 0:
        return np.full(MINHASH_PERMS, 1.0, dtype=np.float64)
    h = _crc_hashes(values)
    sig = np.full(MINHASH_PERMS, np.iinfo(np.int64).max, dtype=np.int64)
    for i in range(0, len(h), 65536):
        hh = h[i : i + 65536, None]
        sig = np.minimum(sig, ((hh * a + b) % _MERSENNE).min(axis=0))
    return sig.astype(np.float64) / float(_MERSENNE)


def char_featurize_np(vals) -> np.ndarray:
    """Deterministic 50-bin hashed character histogram (chars2vec
    stand-in — the real model is proprietary-trained)."""
    out = np.zeros((len(vals), CHAR_DIM), dtype=np.float32)
    for i, v in enumerate(vals):
        s = str(v).lower()
        if not s:
            continue
        for ch in s:
            out[i, ord(ch) % CHAR_DIM] += 1.0
        out[i] /= len(s)
    return out


def string_embed_np(vals, weights: list) -> np.ndarray:
    """String-cleaning embedding: sorted unique values → char features →
    MLP → float64 mean-pool."""
    vals = np.sort(np.asarray(vals))
    if len(vals) == 0:
        return np.zeros(EMB_DIM, dtype=np.float64)
    return _mlp_forward(char_featurize_np(vals), weights).astype(np.float64).mean(axis=0)


# ---------------------------------------------------------------------------
# M1/M2/M3: distributed column embeddings (applyInPandas, broadcast weights)
# ---------------------------------------------------------------------------

_EMB_SCHEMA = "table_name string, column_name string, embedding array<float>"


def numeric_column_embeddings(
    long_df: DataFrame, value_col: str = "value", seed: int = 42
) -> DataFrame:
    """M1 (DDE): long-format (table_name, column_name, value) → one
    300-dim embedding row per column. Kernel = bit-decompose → seeded MLP
    → mean-pool, all numpy inside Arrow batches; weights broadcast once."""
    sc = long_df.sparkSession.sparkContext
    bc = sc.broadcast(_mlp_weights(seed, BIT_DIM))

    def kernel(pdf):
        import pandas as pd

        # twin sorts + pools in float64 → result invariant to partitioning /
        # arrival order (test_partitioning_invariant)
        emb = numeric_embed_np(pdf[value_col].dropna().to_numpy(dtype=np.float32), bc.value)
        return pd.DataFrame(
            [[pdf["table_name"].iloc[0], pdf["column_name"].iloc[0],
              emb.astype(float).tolist()]],
            columns=["table_name", "column_name", "embedding"],
        )

    return long_df.groupBy("table_name", "column_name").applyInPandas(
        kernel, _EMB_SCHEMA
    )


def minhash_column_embeddings(
    long_df: DataFrame, value_col: str = "value", seed: int = 42
) -> DataFrame:
    """M2: long-format string column → MinHash signature (k perms,
    universal hashing (a·h + b) mod p — same construction datasketch
    uses). Signature is scaled to [0,1] floats so downstream heads can
    consume it like any embedding."""
    sc = long_df.sparkSession.sparkContext
    a, b = _minhash_params(seed)
    bc = sc.broadcast((a, b))

    def kernel(pdf):
        import pandas as pd

        aa, bb = bc.value
        emb = minhash_embed_np(pdf[value_col].dropna().unique(), aa, bb).astype(
            np.float32
        )
        return pd.DataFrame(
            [[pdf["table_name"].iloc[0], pdf["column_name"].iloc[0],
              emb.astype(float).tolist()]],
            columns=["table_name", "column_name", "embedding"],
        )

    return long_df.groupBy("table_name", "column_name").applyInPandas(
        kernel, _EMB_SCHEMA
    )


CHAR_DIM = 50  # chars2vec('eng_50') per-value dim (column_embeddings.py:26-43)


def string_column_embeddings(
    long_df: DataFrame, value_col: str = "value", seed: int = 43
) -> DataFrame:
    """M3 (string-cleaning embedding): each value → 50-dim char-level
    feature vector → MLP(50→300→300→300, tanh) → mean-pool per column
    (reference: chars2vec('eng_50') per value then the same MLP —
    inference.py:143-148, column_embeddings.py:26-43). The chars2vec
    model is proprietary-trained; the stand-in char featurizer is a
    deterministic 50-bin hashed character histogram (same shape, same
    distributed pattern)."""
    sc = long_df.sparkSession.sparkContext
    bc = sc.broadcast(_mlp_weights(seed, CHAR_DIM))

    def kernel(pdf):
        import pandas as pd

        emb = string_embed_np(pdf[value_col].dropna().unique(), bc.value)
        return pd.DataFrame(
            [[pdf["table_name"].iloc[0], pdf["column_name"].iloc[0],
              emb.astype(float).tolist()]],
            columns=["table_name", "column_name", "embedding"],
        )

    return long_df.groupBy("table_name", "column_name").applyInPandas(
        kernel, _EMB_SCHEMA
    )


def melt_numeric(df: DataFrame, table_name: str, cols: list[str]) -> DataFrame:
    """Wide → long (table_name, column_name, value:double) for embedding.
    Column pruning keeps the scan narrow; the stack() is zero-shuffle."""
    return _melt(df, table_name, cols, "double")


def melt_strings(df: DataFrame, table_name: str, cols: list[str]) -> DataFrame:
    return _melt(df, table_name, cols, "string")


def _melt(df: DataFrame, table_name: str, cols: list[str], value_type: str) -> DataFrame:
    """``stack`` built with the Column API: no column name is spliced
    into SQL text."""
    pairs = [e for c in cols for e in (F.lit(c), F.col(_ident(c)).cast(value_type))]
    return df.select(
        F.lit(table_name).alias("table_name"),
        F.stack(F.lit(len(cols)), *pairs).alias("column_name", "value"),
    )


# ---------------------------------------------------------------------------
# M4-M8/M11: recommenders — driver-side heads on aggregated embeddings
# (the reference also predicts driver-side on the pooled embedding)
# ---------------------------------------------------------------------------


def recommend_scaling(embeddings: DataFrame, seed: int = 7) -> str:
    """M4: average numeric embedding → one scaler for the whole frame
    (inference.py:169-173). ``seed`` kept for API compatibility; heads
    are frozen trained weights now (see _trained_heads)."""
    rows = embeddings.select("embedding").collect()
    avg = np.mean([r["embedding"] for r in rows], axis=0)
    label, _, _ = _predict_head("scaling", avg)
    return label


def recommend_unary(embeddings: DataFrame, seed: int = 1) -> DataFrame:
    """M5: per-feature embedding → unary transform with prob ≥ 0.60,
    grouped per recommendation (A6 groupBy-collect shape,
    inference.py:176-190)."""
    spark = embeddings.sparkSession
    recs = []
    for r in embeddings.collect():
        label, p, _ = _predict_head("unary", np.asarray(r["embedding"]))
        if p >= THETA_UNARY and label != "NoTransform":
            recs.append((label, r["column_name"], round(p, 4)))
    out = spark.createDataFrame(
        recs or [], "recommended_transformation string, feature string, probability double"
    )
    return out.groupBy("recommended_transformation").agg(
        F.sort_array(F.collect_list("feature")).alias("features")
    )


def recommend_categorical(embeddings: DataFrame, seed: int = 1) -> DataFrame:
    """M6: MinHash embedding → Ordinal vs OneHot with prob ≥ 0.60
    (inference.py:196-212)."""
    spark = embeddings.sparkSession
    recs = []
    for r in embeddings.collect():
        label, p, _ = _predict_head("categorical", np.asarray(r["embedding"]))
        if p >= THETA_CATEGORICAL:
            recs.append((label, r["column_name"], round(p, 4)))
    out = spark.createDataFrame(
        recs or [], "recommended_transformation string, feature string, probability double"
    )
    return out.groupBy("recommended_transformation").agg(
        F.sort_array(F.collect_list("feature")).alias("features")
    )


def recommend_cleaning(
    string_emb: DataFrame, numeric_emb: DataFrame, seed: int = 10
) -> list[str]:
    """M7: concat(avg string emb, avg numeric emb) → ranked cleaning ops
    (inference.py:223-247; the reference CI expects a ranked list —
    tests/test_apis.py:16-24). Deterministic: frozen head + argsort with
    index tiebreak."""
    s_rows = [r["embedding"] for r in string_emb.select("embedding").collect()]
    n_rows = [r["embedding"] for r in numeric_emb.select("embedding").collect()]
    # reference inference.py:230-238: both sides default to zeros(300);
    # string side is the M3 string-cleaning embedding (not MinHash)
    s_avg = np.mean(s_rows, axis=0) if s_rows else np.zeros(EMB_DIM)
    n_avg = np.mean(n_rows, axis=0) if n_rows else np.zeros(EMB_DIM)
    emb = np.concatenate([s_avg, n_avg])
    _, _, p = _predict_head("cleaning", emb)
    labels = _trained_heads()["cleaning"]["labels"]
    return [labels[i] for i in np.argsort(-p, kind="stable")]


def detect_outliers_flag(numeric_emb: DataFrame, seed: int = 11) -> bool:
    """M8: avg numeric embedding → should-clean-outliers binary flag
    (inference.py:249-255)."""
    rows = [r["embedding"] for r in numeric_emb.select("embedding").collect()]
    if not rows:
        return False
    avg = np.mean(rows, axis=0)
    label, _, _ = _predict_head("outlier", avg)
    return label == "clean"


def feature_selection_scores(
    feature_emb: DataFrame, target_emb: np.ndarray, seed: int = 12
) -> DataFrame:
    """M11: per-feature P(select) from concat(feature emb, target emb),
    max-normalized (inference.py:257-310 + A8). Returns
    (feature, score) rows sorted desc."""
    spark = feature_emb.sparkSession
    sel_idx = _trained_heads()["selection"]["labels"].index("select")
    scored = []
    for r in feature_emb.collect():
        emb = np.concatenate([np.asarray(r["embedding"]), target_emb])
        p = _head_probs("selection", emb)[sel_idx]
        scored.append((r["column_name"], float(p)))
    mx = max((s for _, s in scored), default=1.0) or 1.0
    return spark.createDataFrame(
        [(c, round(s / mx, 6)) for c, s in scored], "feature string, score double"
    ).orderBy(F.col("score").desc(), "feature")
