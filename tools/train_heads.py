"""Offline, fully deterministic trainer for the recommendation heads.

The reference ships ~20 proprietary-trained pickled models
(/root/reference/inference_manager/inference.py:17-43) that must NOT be
copied. This script reproduces the reference's model LIFECYCLE with
public knowledge only: synthesize a seeded corpus of columns whose
correct recommendation is known by construction, featurize each column
with the engine's own embedding kernels (the pure-numpy twins in
kgfarm_spark.functions.embeddings — bit-identical to the Spark
applyInPandas path), train one tiny multinomial logistic regression per
head, and freeze the weights to
kgfarm_spark/functions/head_weights.json (committed; loaded at predict
time by embeddings._trained_heads).

Label semantics per head (the public-textbook rules the reference's
papers describe for each recommender):

- unary (M5):      Log ← strongly right-skewed (lognormal);
                   Sqrt ← mildly right-skewed (gamma/counts);
                   Square ← left-skewed; NoTransform ← symmetric.
- scaling (M4):    StandardScaler ← gaussian; MinMaxScaler ← bounded
                   uniform; RobustScaler ← gaussian + heavy outliers;
                   PowerTransformer ← heavy-tailed; QuantileTransformer
                   ← multi-peaked.
- categorical (M6): OneHotEncoder ← low-cardinality token columns (the
                   reference's ≤5-distinct OHE guard);
                   OrdinalEncoder ← higher-cardinality columns.
- cleaning (M7):   Fill ← iid numeric + token strings with random
                   missingness; Interpolate ← smooth series-like
                   columns; Impute ← clustered/multi-peaked columns
                   (kNN-friendly structure).
- outlier (M8):    clean ← columns with planted extreme outliers;
                   keep ← clean columns.
- selection (M11): select ← feature distributed like an affine copy of
                   the target (shared shape); drop ← unrelated family.

Everything is seeded; rerunning the script reproduces the JSON bit-for-bit.
Usage: python tools/train_heads.py
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kgfarm_spark.functions.embeddings import (  # noqa: E402
    BIT_DIM,
    CHAR_DIM,
    CLEANING,
    EMB_DIM,
    MINHASH_PERMS,
    SCALERS,
    UNARY,
    _minhash_params,
    _mlp_weights,
    minhash_embed_np,
    numeric_embed_np,
    string_embed_np,
)

OUT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "kgfarm_spark", "functions", "head_weights.json",
)

N_PER_CLASS = 200
COL_LEN = 400

_DDE_W = _mlp_weights(42, BIT_DIM)          # same seed as numeric_column_embeddings
_MH_A, _MH_B = _minhash_params(42)          # same seed as minhash_column_embeddings
_STR_W = _mlp_weights(43, CHAR_DIM)         # same seed as string_column_embeddings

_WORDS = [
    "alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf", "hotel",
    "india", "juliet", "kilo", "lima", "mike", "november", "oscar", "papa",
    "quebec", "romeo", "sierra", "tango", "uniform", "victor", "whiskey",
    "xray", "yankee", "zulu",
]


def _num_emb(vals: np.ndarray) -> np.ndarray:
    return numeric_embed_np(vals, _DDE_W)


def _cat_emb(tokens) -> np.ndarray:
    return minhash_embed_np(np.unique(np.asarray(tokens, dtype=object)), _MH_A, _MH_B)


def _str_emb(tokens) -> np.ndarray:
    return string_embed_np(np.unique(np.asarray(tokens, dtype=object)), _STR_W)


def _tokens(rng, n_distinct: int, n: int):
    vocab = [
        f"{_WORDS[rng.integers(len(_WORDS))]}_{rng.integers(10_000)}"
        for _ in range(n_distinct)
    ]
    return [vocab[rng.integers(n_distinct)] for _ in range(n)]


# ---------------------------------------------------------------------------
# Column synthesizers per head/label
# ---------------------------------------------------------------------------


def gen_unary(rng):
    X, y = [], []
    for i in range(N_PER_CLASS):
        mu, sg = rng.uniform(-1, 2), rng.uniform(0.8, 1.6)
        X.append(_num_emb(rng.lognormal(mu, sg, COL_LEN)))
        y.append("Log")
        X.append(_num_emb(rng.gamma(rng.uniform(1.0, 3.0), rng.uniform(1, 5), COL_LEN)))
        y.append("Sqrt")
        X.append(_num_emb(rng.uniform(5, 20) - rng.lognormal(mu, sg, COL_LEN)))
        y.append("Square")
        sym = (
            rng.normal(rng.uniform(-5, 5), rng.uniform(0.5, 3), COL_LEN)
            if i % 2
            else rng.uniform(-rng.uniform(1, 10), rng.uniform(1, 10), COL_LEN)
        )
        X.append(_num_emb(sym))
        y.append("NoTransform")
    return np.array(X), y


def gen_scaling(rng):
    X, y = [], []
    for _ in range(N_PER_CLASS):
        X.append(_num_emb(rng.normal(rng.uniform(-5, 5), rng.uniform(0.5, 3), COL_LEN)))
        y.append("StandardScaler")
        lo = rng.uniform(-10, 0)
        X.append(_num_emb(rng.uniform(lo, lo + rng.uniform(1, 20), COL_LEN)))
        y.append("MinMaxScaler")
        base = rng.normal(0, 1, COL_LEN)
        out_idx = rng.integers(0, COL_LEN, COL_LEN // 20)
        base[out_idx] *= rng.uniform(20, 50)
        X.append(_num_emb(base))
        y.append("RobustScaler")
        # strongly right-skewed heavy tail (archetypal PowerTransformer case)
        X.append(_num_emb(rng.lognormal(rng.uniform(0, 1), rng.uniform(1.2, 2.0), COL_LEN)))
        y.append("PowerTransformer")
        m1, m2 = rng.uniform(-10, -2), rng.uniform(2, 10)
        bim = np.concatenate(
            [rng.normal(m1, 0.5, COL_LEN // 2), rng.normal(m2, 0.5, COL_LEN // 2)]
        )
        X.append(_num_emb(bim))
        y.append("QuantileTransformer")
    return np.array(X), y


def gen_categorical(rng):
    X, y = [], []
    for _ in range(N_PER_CLASS * 2):
        X.append(_cat_emb(_tokens(rng, int(rng.integers(2, 6)), COL_LEN)))
        y.append("OneHotEncoder")
        X.append(_cat_emb(_tokens(rng, int(rng.integers(8, 120)), COL_LEN)))
        y.append("OrdinalEncoder")
    return np.array(X), y


def _frame_emb(rng, kind: str) -> np.ndarray:
    """concat(avg string-cleaning emb over 2 string cols, avg DDE emb over
    2 numeric cols) — exactly the recommend_cleaning input shape
    (reference inference.py:223-240: both sides 300-dim)."""
    if kind == "Fill":
        # iid frames of varied marginal shapes (normal / skewed / uniform /
        # counts) — the archetype must cover skewed real-world columns
        # (fares, incomes), not just gaussians
        makers = [
            lambda: rng.normal(rng.uniform(-3, 3), rng.uniform(0.5, 2), COL_LEN),
            lambda: rng.lognormal(rng.uniform(0, 2), rng.uniform(0.6, 1.4), COL_LEN),
            lambda: rng.uniform(0, rng.uniform(5, 100), COL_LEN),
            lambda: rng.poisson(rng.uniform(1, 6), COL_LEN).astype(float),
        ]
        picks = rng.choice(len(makers), 2, replace=False)
        nums = [makers[i]() for i in picks]
        cats = [_tokens(rng, int(rng.integers(2, 30)), COL_LEN) for _ in range(2)]
    elif kind == "Interpolate":
        nums = [np.cumsum(rng.normal(0, rng.uniform(0.05, 0.3), COL_LEN)) for _ in range(2)]
        cats = [_tokens(rng, int(rng.integers(2, 8)), COL_LEN) for _ in range(2)]
    else:  # Impute — clustered structure that kNN exploits
        nums = []
        for _ in range(2):
            k = int(rng.integers(3, 6))
            centers = rng.uniform(-20, 20, k)
            nums.append(centers[rng.integers(0, k, COL_LEN)] + rng.normal(0, 0.3, COL_LEN))
        cats = [_tokens(rng, int(rng.integers(30, 200)), COL_LEN) for _ in range(2)]
    # random missingness (dropna upstream: just drop here)
    nums = [v[rng.random(COL_LEN) > 0.1] for v in nums]
    n_avg = np.mean([_num_emb(v) for v in nums], axis=0)
    s_avg = np.mean([_str_emb(c) for c in cats], axis=0)
    return np.concatenate([s_avg, n_avg])


def gen_cleaning(rng):
    X, y = [], []
    for _ in range(N_PER_CLASS):
        for kind in CLEANING:
            X.append(_frame_emb(rng, kind))
            y.append(kind)
    return np.array(X), y


def gen_outlier(rng):
    X, y = [], []
    for _ in range(N_PER_CLASS * 2):
        clean = rng.normal(rng.uniform(-5, 5), rng.uniform(0.5, 3), COL_LEN)
        X.append(_num_emb(clean))
        y.append("keep")
        dirty = clean.copy()
        idx = rng.integers(0, COL_LEN, max(2, COL_LEN // 25))
        dirty[idx] += rng.choice([-1, 1], len(idx)) * rng.uniform(20, 60, len(idx)) * dirty.std()
        X.append(_num_emb(dirty))
        y.append("clean")
    return np.array(X), y


def gen_selection(rng):
    X, y = [], []
    for _ in range(N_PER_CLASS * 2):
        target = rng.lognormal(rng.uniform(0, 1), 1.0, COL_LEN) if rng.random() < 0.5 \
            else rng.normal(rng.uniform(-3, 3), rng.uniform(0.5, 2), COL_LEN)
        t_emb = _num_emb(target)
        informative = target * rng.uniform(0.5, 2.0) + rng.normal(0, 0.05 * target.std(), COL_LEN)
        X.append(np.concatenate([_num_emb(informative), t_emb]))
        y.append("select")
        noise = rng.uniform(-50, 50, COL_LEN) if rng.random() < 0.5 \
            else rng.standard_t(2, COL_LEN) * 10
        X.append(np.concatenate([_num_emb(noise), t_emb]))
        y.append("drop")
    return np.array(X), y


# ---------------------------------------------------------------------------
# Multinomial logistic regression (numpy, deterministic full-batch GD)
# ---------------------------------------------------------------------------


def train_mlp(X, y, labels, hidden=32, lr=0.3, iters=6000, l2=1e-3, seed=99):
    """One-hidden-layer tanh MLP head (seeded, deterministic full-batch GD)
    for the heads whose classes are not linearly separable in the
    embedding space (unary/scaling). Returns (params_dict, mu, sd, acc)."""
    rng = np.random.default_rng(seed)
    X = np.asarray(X, dtype=np.float64)
    mu = X.mean(axis=0)
    sd = X.std(axis=0) + 1e-9
    Xs = (X - mu) / sd
    n, d = Xs.shape
    k = len(labels)
    Y = np.zeros((n, k))
    for i, lab in enumerate(y):
        Y[i, labels.index(lab)] = 1.0
    W1 = rng.normal(0, 1.0 / np.sqrt(d), (d, hidden))
    b1 = np.zeros(hidden)
    W2 = rng.normal(0, 1.0 / np.sqrt(hidden), (hidden, k))
    b2 = np.zeros(k)
    for _ in range(iters):
        H = np.tanh(Xs @ W1 + b1)
        z = H @ W2 + b2
        z -= z.max(axis=1, keepdims=True)
        P = np.exp(z)
        P /= P.sum(axis=1, keepdims=True)
        G = (P - Y) / n
        gW2 = H.T @ G + l2 * W2
        gH = G @ W2.T * (1 - H * H)
        gW1 = Xs.T @ gH + l2 * W1
        W2 -= lr * gW2
        b2 -= lr * G.sum(axis=0)
        W1 -= lr * gW1
        b1 -= lr * gH.sum(axis=0)
    H = np.tanh(Xs @ W1 + b1)
    acc = float((np.argmax(H @ W2 + b2, axis=1) == np.argmax(Y, axis=1)).mean())
    return {"W1": W1, "b1": b1, "W2": W2, "b2": b2}, mu, sd, acc


def mlp_predict(params, mu, sd, X):
    Xs = (np.asarray(X, dtype=np.float64) - mu) / sd
    H = np.tanh(Xs @ np.asarray(params["W1"]) + np.asarray(params["b1"]))
    return H @ np.asarray(params["W2"]) + np.asarray(params["b2"])


def train_logreg(X: np.ndarray, y: list[str], labels: list[str],
                 lr: float = 1.0, iters: int = 6000, l2: float = 3e-4):
    X = np.asarray(X, dtype=np.float64)
    # per-feature standardization: the class signal is a small direction in
    # a mean-pooled embedding; GD on raw features stalls (outlier head sat
    # at chance without this). mu/sd are frozen with the weights.
    mu = X.mean(axis=0)
    sd = X.std(axis=0) + 1e-9
    X = (X - mu) / sd
    n, d = X.shape
    k = len(labels)
    Y = np.zeros((n, k))
    for i, lab in enumerate(y):
        Y[i, labels.index(lab)] = 1.0
    W = np.zeros((d, k))
    b = np.zeros(k)
    for _ in range(iters):
        z = X @ W + b
        z -= z.max(axis=1, keepdims=True)
        p = np.exp(z)
        p /= p.sum(axis=1, keepdims=True)
        g = (p - Y) / n
        W -= lr * (X.T @ g + l2 * W)
        b -= lr * g.sum(axis=0)
    acc = float((np.argmax(X @ W + b, axis=1) == np.argmax(Y, axis=1)).mean())
    return W, b, mu, sd, acc


def main():
    heads = {}
    specs = [
        ("unary", gen_unary, UNARY),
        ("scaling", gen_scaling, SCALERS),
        ("categorical", gen_categorical, ["OrdinalEncoder", "OneHotEncoder"]),
        ("cleaning", gen_cleaning, CLEANING),
        ("outlier", gen_outlier, ["keep", "clean"]),
        ("selection", gen_selection, ["drop", "select"]),
    ]
    def _r(a):
        a = np.asarray(a, dtype=np.float64)
        if a.ndim == 1:
            return [round(float(v), 8) for v in a]
        return [[round(float(v), 8) for v in row] for row in a]

    for name, gen, labels in specs:
        # per-head deterministic seeds derived from the head name; the
        # held-out split is generated with a DIFFERENT seed so val_acc
        # measures generalization to unseen synthetic columns, not memorization
        X, y = gen(np.random.default_rng(sum(ord(c) for c in name) * 1000 + 7))
        Xv, yv = gen(np.random.default_rng(sum(ord(c) for c in name) * 1000 + 7919))
        truth = np.array([labels.index(l) for l in yv])

        # train BOTH architectures, freeze whichever generalizes better
        W, b, mu, sd, lin_acc = train_logreg(X, y, labels)
        Xvs = (np.asarray(Xv, dtype=np.float64) - mu) / sd
        lin_val = float((np.argmax(Xvs @ W + b, axis=1) == truth).mean())

        mparams, mmu, msd, mlp_acc = train_mlp(X, y, labels)
        mlp_val = float(
            (np.argmax(mlp_predict(mparams, mmu, msd, Xv), axis=1) == truth).mean()
        )

        if mlp_val > lin_val:
            kind, acc, val_acc = "mlp", mlp_acc, mlp_val
            rec = {
                "kind": "mlp",
                "W1": _r(mparams["W1"]), "b1": _r(mparams["b1"]),
                "W2": _r(mparams["W2"]), "b2": _r(mparams["b2"]),
                "mu": _r(mmu), "sd": _r(msd),
            }
        else:
            kind, acc, val_acc = "linear", lin_acc, lin_val
            rec = {"kind": "linear", "W": _r(W), "b": _r(b), "mu": _r(mu), "sd": _r(sd)}
        print(
            f"{name}: n={len(y)} dim={X.shape[1]} classes={len(labels)} kind={kind} "
            f"train_acc={acc:.3f} val_acc={val_acc:.3f} "
            f"(linear val {lin_val:.3f} / mlp val {mlp_val:.3f})"
        )
        rec.update(
            labels=labels, train_acc=round(acc, 4), val_acc=round(val_acc, 4),
            n_train=len(y),
        )
        heads[name] = rec
    meta = {
        "note": (
            "Tiny multinomial logistic-regression heads trained on a seeded "
            "synthetic column corpus (tools/train_heads.py) — public-data "
            "stand-ins for the reference's proprietary pickled models "
            "(inference.py:17-43), same train->freeze->load->predict lifecycle."
        ),
        "minhash_perms": MINHASH_PERMS,
        "emb_dim": EMB_DIM,
        "heads": heads,
    }
    with open(OUT, "w") as f:
        json.dump(meta, f)
    print(f"wrote {OUT} ({os.path.getsize(OUT)//1024} KiB)")


if __name__ == "__main__":
    main()
