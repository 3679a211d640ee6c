"""Discriminative quality-classifier filtering (the GPT-3 / LLaMA recipe).

The canonical web-corpus curation stacks filter CommonCrawl with a
*trained classifier*, not just hand rules: GPT-3 (Brown et al. 2020,
Appendix A) trains a logistic regression on hashed bag-of-words features
to separate a high-quality reference corpus from raw crawl, scores every
document, and keeps a document iff

    np.random.pareto(alpha) > 1 - document_score      (alpha = 9)

so low-scoring documents still enter the corpus occasionally (the
Pareto tail keeps diversity). LLaMA / CCNet use the same shape with a
fastText classifier. This module is that recipe, Spark-native and
deterministic:

- ``quality_classifier_fit``   — full-batch gradient descent for a
  logistic regression over L1-normalized hashed bag-of-words features
  (fastText's linear core: a mean of hashed one-hot embeddings fed to a
  linear head IS a linear model on mean bag-of-words). Driver holds only
  the dim-sized weight vector; each iteration is two linear shuffles
  (doc-keyed margin, bucket-keyed gradient) over a checkpointed feature
  frame. Full-batch GD (not SGD) so the fit is DETERMINISTIC: a pure
  function of the corpus, reproducible across runs/partitionings — the
  property every oracle in this repo leans on.
- ``quality_classifier_score`` — broadcast the (model-sized) weight
  table, one bucket-keyed join + one doc-keyed aggregate; documents with
  no tokens score sigmoid(bias).
- ``pareto_select``            — the GPT-3 acceptance rule with
  deterministic md5-derived Pareto noise (house ``_md5_uniform`` recipe,
  same as ``dsir_resample``'s Gumbel keys), so the sample is a pure
  function of the corpus.

Features hash words with the first 8 hex chars of md5 (mod ``dim``) —
NOT xxhash64 — because md5 is computable bit-identically in DuckDB,
letting the oracle replay fit AND apply end-to-end in SQL (collisions
included: both engines collide identically). Production would swap in
xxhash64 for speed; the math is hash-agnostic.

Scale shape at 100 TB: the feature build is explode → (doc, bucket)
groupBy — the unigram-census shape, linear shuffles only. Each GD
iteration shuffles the feature frame twice; iterations are O(10), and
the gradient collect is dim-sized (model-sized), never corpus-sized.
Scoring is one broadcast join + one doc aggregate.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kgfarm_spark.operators.textstats import _words


def _bucket(word: Column, dim: int) -> Column:
    """md5-prefix hash bucket in [0, dim) — bit-identical in DuckDB via
    CAST('0x' || substring(md5(w),1,8) AS BIGINT) % dim."""
    return (
        F.conv(F.substring(F.md5(word), 1, 8), 16, 10).cast("bigint") % F.lit(dim)
    )


def _features(
    df: DataFrame, id_col: str, text_col: str, dim: int, label: Column | None
) -> DataFrame:
    """L1-normalized hashed bag-of-words: one row per (doc, bucket) with
    x = count(bucket)/n_words. Docs with zero tokens produce no rows."""
    cols = [F.col(id_col).alias("__did")]
    if label is not None:
        cols.append(label.cast("int").alias("__y"))
    occ = df.select(
        *cols,
        F.explode(_words(F.coalesce(F.col(text_col), F.lit("")))).alias("__w"),
    ).withColumn("__b", _bucket(F.col("__w"), dim))
    keys = ["__did"] + (["__y"] if label is not None else [])
    cnt = occ.groupBy(*keys, "__b").agg(F.count(F.lit(1)).alias("__c"))
    nd = occ.groupBy("__did").agg(F.count(F.lit(1)).alias("__n"))
    return cnt.join(nd, "__did").select(
        *keys, "__b", (F.col("__c") / F.col("__n")).alias("__x")
    )


def quality_classifier_fit(
    df: DataFrame,
    target: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = 65536,
    iters: int = 10,
    lr: float = 2.0,
) -> dict:
    """Fit the logistic quality head: ``target`` (boolean Column over
    ``df``, e.g. ``F.col("source") == "curated"``) is the high-quality
    label; features are L1-normalized md5-hashed bag-of-words.

    Full-batch GD from w = 0, bias = 0:

        p_d    = sigmoid(bias + Σ_b w[b]·x_{d,b})
        grad   = Σ_d (p_d − y_d)·x_d / n_docs ;  update w −= lr·grad

    Documents with zero tokens are excluded from the fit (they carry no
    features; scoring gives them sigmoid(bias)). ``target`` should be
    non-NULL per document: a NULL label NULLs that document's residual,
    so it counts toward n_docs (diluting the step size) without
    contributing gradient — coalesce the label upstream if the source
    column can be NULL. Returns a JSON-serializable model
    ``{dim, lr, iters, bias, weights}`` with ``weights`` a sparse
    {bucket: w} dict — model-sized, broadcastable.
    """
    if dim < 1:
        raise ValueError(f"dim must be >= 1, got {dim}")
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    spark = df.sparkSession
    # NOTE on a tempting non-optimization: pre-repartitioning fx on
    # __did would let the per-iteration margin aggregate and residual
    # join reuse one exchange — but shuffling THEN checkpointing the
    # corpus-sized feature frame doubled peak heap and OOM'd the 5M-doc
    # bench box; the checkpoint-as-produced shape below is the measured
    # safe one (the gradient groupBy shuffles per iteration either way)
    fx = _features(df, id_col, text_col, dim, target).localCheckpoint(eager=True)
    n_docs = fx.select("__did").distinct().count()
    if n_docs == 0:
        raise ValueError("no documents with tokens to fit on")

    w = np.zeros(dim, dtype=np.float64)
    bias = 0.0
    for _ in range(iters):
        wdf = spark.createDataFrame(
            [(int(b), float(w[b])) for b in np.nonzero(w)[0]] or [(-1, 0.0)],
            "__b bigint, __w double",
        )
        resid = (
            fx.join(F.broadcast(wdf), "__b", "left")
            .groupBy("__did", "__y")
            .agg(
                (
                    F.lit(bias)
                    + F.sum(F.coalesce(F.col("__w"), F.lit(0.0)) * F.col("__x"))
                ).alias("__m")
            )
            .select(
                "__did",
                (F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("__m"))) - F.col("__y")).alias(
                    "__r"
                ),
            )
            .localCheckpoint(eager=True)
        )
        grows = (
            fx.join(resid, "__did")
            .groupBy("__b")
            .agg(F.sum(F.col("__r") * F.col("__x")).alias("__g"))
            .collect()
        )
        gbias = resid.agg(F.avg("__r")).first()[0]
        for r in grows:
            w[r["__b"]] -= lr * r["__g"] / n_docs
        bias -= lr * gbias
    return {
        "dim": dim,
        "lr": lr,
        "iters": iters,
        "bias": float(bias),
        "weights": {int(b): float(w[b]) for b in np.nonzero(w)[0]},
    }


def quality_classifier_score(
    df: DataFrame,
    model: dict,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Score every document with a fitted model: (id, n_words,
    quality_score) with quality_score = sigmoid(bias + w·x) rounded to
    6 decimals; token-less documents score sigmoid(bias).

    One broadcast join (model-sized weight table) + one doc-keyed
    aggregate — zero driver work, the streaming-safe apply shape."""
    spark = df.sparkSession
    fx = _features(df, id_col, text_col, model["dim"], None)
    wdf = spark.createDataFrame(
        [(int(b), float(v)) for b, v in model["weights"].items()] or [(-1, 0.0)],
        "__b bigint, __w double",
    )
    empty_score = 1.0 / (1.0 + math.exp(-model["bias"]))
    per = (
        fx.join(F.broadcast(wdf), "__b", "left")
        .groupBy("__did")
        .agg(
            (
                F.lit(model["bias"])
                + F.sum(F.coalesce(F.col("__w"), F.lit(0.0)) * F.col("__x"))
            ).alias("__m"),
        )
        .select(
            "__did",
            (F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("__m")))).alias("__s"),
        )
    )
    nw = df.select(
        F.col(id_col).alias("__did"),
        F.size(_words(F.coalesce(F.col(text_col), F.lit("")))).alias("n_words"),
    )
    return (
        nw.join(per, "__did", "left")
        .select(
            F.col("__did").alias(id_col),
            F.col("n_words").cast("bigint").alias("n_words"),
            F.round(F.coalesce(F.col("__s"), F.lit(empty_score)), 6).alias(
                "quality_score"
            ),
        )
    )


def pareto_select(
    scored: DataFrame,
    alpha: float = 9.0,
    id_col: str = "doc_id",
    score_col: str = "quality_score",
) -> DataFrame:
    """The GPT-3 acceptance rule: keep a document iff

        pareto(alpha) > 1 - score

    with pareto(alpha) = u^(-1/alpha) - 1 (the numpy.random.pareto
    transform) and u the deterministic md5 uniform of the doc id —
    reproducible across runs, engines, and partitionings. High scores
    (score ≈ 1) always pass; low scores pass with probability
    ≈ (1 - score)^(-alpha)-tail mass — rare but nonzero, preserving
    corpus diversity. Adds (pareto_key, keep) and filters to keepers."""
    if alpha <= 0:
        raise ValueError(f"alpha must be > 0, got {alpha}")
    u = (
        F.conv(
            F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10
        ).cast("bigint").cast("double")
        + F.lit(0.5)
    ) / F.lit(float(2**32))
    key = F.round(F.pow(u, F.lit(-1.0 / alpha)) - F.lit(1.0), 6)
    return (
        scored.withColumn("pareto_key", key)
        .filter(F.col("pareto_key") > F.lit(1.0) - F.col(score_col))
    )
