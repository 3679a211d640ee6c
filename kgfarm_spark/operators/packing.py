"""Sequence packing + source-weighted corpus mixing — the two layout
operators a pretraining-data pipeline runs after filtering/dedup.

``pack_sequences`` lays documents end-to-end in a deterministic global
order and assigns each to the fixed-token-budget training sequence its
first token lands in (the standard "concat-and-chunk" packing of GPT-
style pretraining; a doc straddling a sequence boundary is flagged so
the materializer knows it must split or truncate). The global-order
running token sum is the whole problem at scale: a naive
``sum() OVER (ORDER BY id)`` is a partitionBy-less window that funnels
the corpus through ONE task. We re-express it with the same range-bucket
+ broadcast-offset decomposition as the distributed quantile rank
(functions/transforms.py:quantile_rank_transform): bucket by id range,
ONE tiny per-bucket aggregate for exclusive prefix offsets, then a
window PARTITIONED by bucket — identical answer, parallel across
buckets, the shape that survives 100 TB.

``stratified_mix_sample`` hits a target source-mix (DoReMi / The Pile
style corpus weights) by per-source deterministic hash sampling: one
tiny per-source token aggregate fixes each source's keep rate
``min(1, weight·budget / source_tokens)``, and membership is a pure
function of the row key (md5-derived uniform), so the sample is
partition-invariant, resumable, and expressible in ANSI SQL for the
oracle. No driver-side materialization beyond the |sources|-row
aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from kgfarm_spark.functions.transforms import _range_bucket_expr


def pack_sequences(
    df: DataFrame,
    id_col: str = "doc_id",
    token_col: str = "n_tokens",
    budget: int = 2048,
    n_buckets: int | None = None,
) -> DataFrame:
    """Assign every document to its training-sequence id under
    concat-and-chunk packing with ``budget`` tokens per sequence.

    Documents are laid out in ascending ``id_col`` order (ids must be
    unique — they define the deterministic corpus order). Returns one
    row per document:
      (id, n_tokens, tokens_before, seq_id, offset_in_seq,
       crosses_boundary)
    where ``tokens_before`` is the exclusive global running sum,
    ``seq_id = tokens_before // budget``, ``offset_in_seq =
    tokens_before % budget`` and ``crosses_boundary`` marks documents
    that spill into the next sequence (split/truncate decision is the
    materializer's, not the planner's).

    Scale shape: percentile_approx boundaries on the id (ONE aggregate),
    per-bucket token sums (ONE tiny collect, |buckets| rows), window
    partitioned BY BUCKET for the in-bucket prefix — no global window,
    no driver materialization of data rows.
    """
    if budget < 1:
        raise ValueError(f"budget must be >= 1, got {budget}")
    if n_buckets is not None and n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    id_type = dict(df.dtypes).get(id_col, "")
    if id_type in ("string", "binary"):
        raise ValueError(
            f"id_col {id_col!r} is {id_type}; pack_sequences needs a numeric "
            f"id (percentile_approx range-buckets the id space) — hash string "
            f"ids to a bigint first (e.g. xxhash64)"
        )
    spark = df.sparkSession
    P = n_buckets or int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    qs = [i / P for i in range(1, P)]
    qlist = "array(" + ",".join(str(q) for q in qs) + ")"
    bounds = df.agg(
        F.expr(f"percentile_approx(`{id_col}`, {qlist}, 10000)").alias("b")
    ).first()["b"]
    uniq = sorted(set(b for b in (bounds or []) if b is not None))
    # shared monotone-bucket primitive (transforms.py) — one expression
    # for every range-bucket decomposition in the engine
    bucket = _range_bucket_expr(F.col("__id"), uniq)

    base = df.select(
        F.col(id_col).alias("__id"),
        F.col(token_col).cast("bigint").alias("__tok"),
    ).withColumn("__b", bucket)
    # materialized ONCE: the offsets collect below and the returned plan
    # both read base — without storage the full upstream (often a corpus
    # tokenize) runs twice, and a nondeterministic upstream could make
    # the collected offsets inconsistent with the second evaluation.
    # localCheckpoint (not persist) so the context cleaner can free the
    # blocks once the result is superseded — a bare persist() with no
    # caller handle leaked MEMORY_AND_DISK blocks across repeated calls
    # in a long session (advisor finding, r05; same recipe as bpe_train
    # and semantic_neardup_pairs)
    base = base.localCheckpoint(eager=True)

    # exclusive prefix offset per bucket: |buckets| rows, driver-side scan
    agg = {
        r["__b"]: (r["s"], r["nulls"])
        for r in base.groupBy("__b")
        .agg(
            F.sum("__tok").alias("s"),
            F.sum(F.col("__tok").isNull().cast("int")).alias("nulls"),
        )
        .collect()
    }
    n_nulls = sum(v[1] for v in agg.values())
    if n_nulls:
        raise ValueError(
            f"token_col {token_col!r} contains {n_nulls} NULLs — packing "
            f"needs a token count for every document (fill or drop first)"
        )
    offsets, acc = [], 0
    for b in sorted(agg):
        offsets.append((b, acc))
        acc += agg[b][0]
    # broadcast-joined offsets (constant-size plan; a WHEN chain would be
    # an O(n_buckets)-deep expression — the transforms.py rule)
    off_df = spark.createDataFrame(offsets or [(0, 0)], "__b int, __off long")
    base = base.join(F.broadcast(off_df), "__b", "left").withColumn(
        "__off", F.coalesce(F.col("__off"), F.lit(0))
    )

    w = (
        Window.partitionBy("__b")
        .orderBy("__id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    before = F.coalesce(F.sum("__tok").over(w), F.lit(0)) + F.col("__off")
    out = base.withColumn("__before", before)
    return out.select(
        F.col("__id").alias(id_col),
        F.col("__tok").alias("n_tokens"),
        F.col("__before").alias("tokens_before"),
        F.floor(F.col("__before") / budget).alias("seq_id"),
        (F.col("__before") % budget).alias("offset_in_seq"),
        ((F.col("__before") % budget) + F.col("__tok") > budget).alias(
            "crosses_boundary"
        ),
    )


#: md5-derived uniform in [0, 1): first 8 hex chars as a 32-bit integer.
#: Portable — DuckDB: CAST('0x' || substr(md5(k), 1, 8) AS BIGINT); both
#: engines then divide the identical integer by 2^32 (exact IEEE ops).
def _md5_uniform(key_col):
    return F.conv(F.substring(F.md5(key_col.cast("string")), 1, 8), 16, 10).cast(
        "bigint"
    ) / F.lit(float(2**32))


def stratified_mix_sample(
    df: DataFrame,
    source_col: str = "source",
    id_col: str = "doc_id",
    token_col: str = "n_tokens",
    weights: dict[str, float] | None = None,
    token_budget: int = 1_000_000,
) -> DataFrame:
    """Deterministic source-weighted corpus sample targeting
    ``weights[s] * token_budget`` tokens from each source.

    Per-source keep rate ``min(1, weight·budget / source_tokens)``
    (a source smaller than its target keeps everything — no upsampling
    here; repetition policy is a separate epoch-level concern). A row is
    kept iff its md5-uniform < rate, so membership is a pure function of
    the row key: partition-invariant, stable under re-runs, and any two
    samples with nested rates are nested (growing the budget only ADDS
    documents — the property that makes corpus-size ablations
    comparable).

    Sources absent from ``weights`` get weight 0 (dropped). Returns kept
    rows as (id, source, n_tokens, rate).

    Scale shape: one |sources|-row aggregate broadcast-joined back, one
    codegen'd filter. Expected (not exact) token hit: sampling variance
    around the target is ~1/sqrt(docs_per_source) — the standard
    trade for a single-pass, coordination-free sample.
    """
    if not weights:
        raise ValueError("weights must be a non-empty {source: weight} dict")
    wmap = F.create_map(
        *[F.lit(x) for kv in weights.items() for x in (kv[0], float(kv[1]))]
    )
    per_src = (
        df.groupBy(source_col)
        .agg(F.sum(F.col(token_col).cast("bigint")).alias("__src_tok"))
        .withColumn("__w", F.coalesce(wmap[F.col(source_col)], F.lit(0.0)))
        .withColumn(
            # guarded: a NULL or zero token sum must mean rate 0 (drop),
            # never NULL — least() SKIPS NULLs, so an unweighted source
            # with NULL token counts previously kept ALL its rows, and a
            # zero-token source divided by zero under ANSI (review
            # findings, both reproduced)
            "__rate",
            F.when(
                F.col("__src_tok") > 0,
                F.least(
                    F.lit(1.0),
                    F.col("__w") * F.lit(float(token_budget)) / F.col("__src_tok"),
                ),
            ).otherwise(F.lit(0.0)),
        )
        .select(source_col, "__rate")
    )
    joined = df.join(F.broadcast(per_src), source_col)
    return (
        joined.filter(_md5_uniform(F.col(id_col)) < F.col("__rate"))
        .select(
            id_col,
            source_col,
            F.col(token_col).cast("bigint").alias(token_col),
            F.round("__rate", 6).alias("rate"),
        )
    )


def materialize_sequences(
    tokens_df: DataFrame,
    id_col: str = "doc_id",
    token_col: str = "tokens",
    budget: int = 2048,
    pad_token=None,
    n_buckets: int | None = None,
) -> DataFrame:
    """The packing MATERIALIZER: per-doc token arrays → actual
    fixed-length training sequences under the ``pack_sequences`` layout
    (which plans offsets only; its docstring delegates the split
    decision here). Returns one row per sequence:

      (seq_id, tokens, n_tokens, n_docs[, n_pad])

    Every sequence holds exactly ``budget`` tokens except the last
    (padded to budget with ``pad_token`` when given, recording
    ``n_pad``); a document crossing a boundary contributes its prefix to
    one sequence and the remainder to the next (long documents span as
    many sequences as they need — nothing is truncated). The exact
    invariant, pytest-pinned: concatenating all sequences in seq order
    reproduces concatenating all documents' tokens in id order.

    Scale shape: everything is codegen'd array expressions — each doc
    explodes into only the sequences it touches (⌈n_tokens/budget⌉ + 1
    worst case, 1 for the typical doc), the ONE shuffle keys on seq_id,
    and each group's state is bounded by ``budget`` tokens. No Python in
    the row path, no global window (pack_sequences' range-bucket prefix
    provides the offsets)."""
    if budget < 1:
        raise ValueError(f"budget must be >= 1, got {budget}")
    elem_type = None
    for f in tokens_df.schema.fields:
        if f.name == token_col:
            elem_type = f.dataType.elementType.simpleString()
    if elem_type is None:
        raise ValueError(f"token_col {token_col!r} not found in tokens_df")
    counts = tokens_df.select(
        id_col, F.size(F.coalesce(F.col(token_col), F.array())).alias("n_tokens")
    )
    packed = pack_sequences(counts, id_col, "n_tokens", budget, n_buckets)
    j = tokens_df.join(packed.select(id_col, "tokens_before", "seq_id"), id_col)
    pieces = (
        j.filter(F.size(F.coalesce(F.col(token_col), F.array())) > 0)
        .select(
            F.explode(
                F.expr(
                    f"""
        transform(
          sequence(seq_id,
                   (tokens_before + size(`{token_col}`) - 1) DIV {budget}),
          s -> struct(
            s AS seq_id,
            greatest(s * {budget}, tokens_before) AS gstart,
            slice(`{token_col}`,
                  CAST(greatest(s * {budget} - tokens_before, 0) + 1 AS INT),
                  CAST(least((s + 1) * {budget},
                             tokens_before + size(`{token_col}`))
                       - greatest(s * {budget}, tokens_before) AS INT)
                  ) AS piece))"""
                )
            ).alias("p")
        )
        .select("p.seq_id", "p.gstart", "p.piece")
    )
    out = (
        pieces.groupBy("seq_id")
        .agg(
            F.flatten(
                F.expr(
                    "transform(array_sort(collect_list(struct(gstart, piece))),"
                    " x -> x.piece)"
                )
            ).alias(token_col),
            F.count(F.lit(1)).alias("n_docs"),
        )
        .withColumn("n_tokens", F.size(token_col))
    )
    if pad_token is not None:
        pad = F.lit(budget) - F.col("n_tokens")
        out = out.withColumn("n_pad", pad).withColumn(
            token_col,
            F.when(
                pad > 0,
                F.concat(
                    F.col(token_col),
                    F.array_repeat(F.lit(pad_token).cast(elem_type), pad.cast("int")),
                ),
            ).otherwise(F.col(token_col)),
        )
    return out.select(
        "seq_id", token_col, "n_tokens", "n_docs",
        *(["n_pad"] if pad_token is not None else []),
    )


def pack_sequences_nosplit(
    df: DataFrame,
    id_col: str = "doc_id",
    token_col: str = "n_tokens",
    budget: int = 2048,
    n_buckets: int | None = None,
    oversize: str = "error",
) -> DataFrame:
    """Boundary-respecting sequence packing: NO document ever splits
    across training sequences (greedy close-on-overflow first-fit in
    ascending ``id_col`` order — the packing labs use when cross-document
    attention contamination matters; ``pack_sequences`` is the
    concat-and-chunk twin that splits).

    Returns one row per document:
      (id, n_tokens, seq_id, offset_in_seq)
    with the invariants (pytest-pinned vs a pure-Python sequential twin):
    per-sequence fill ≤ budget, offsets are gapless within a sequence,
    and a document never crosses a sequence boundary.

    ``oversize`` — policy for documents with n_tokens > budget, which
    cannot fit ANY sequence un-split: ``'error'`` (default, fail fast),
    ``'drop'`` (exclude them; they are absent from the output), or
    ``'own'`` (each gets a dedicated over-budget sequence of its own —
    the materializer may then truncate or shard it downstream).

    Scale shape: the corpus is range-bucketed on ``id_col``
    (percentile_approx, same primitive as ``pack_sequences``); each
    bucket packs INDEPENDENTLY (a fresh sequence starts per bucket — the
    standard distributed approximation: waste is < 1 sequence per
    bucket, measurable via the materializer's n_pad). The in-bucket
    greedy recurrence (fill' = fill+n if it fits else n) is not an
    associative scan, so it runs as an Arrow ``applyInPandas`` kernel —
    a tight numpy-backed loop over the bucket's (id-sorted) rows, O(rows)
    per task with bounded state, never a global window or driver
    materialization. Global seq ids come from an exclusive prefix over
    the |buckets|-row per-bucket sequence counts (tiny collect +
    broadcast join), exactly the ``pack_sequences`` offset recipe.
    """
    import pandas as pd

    if budget < 1:
        raise ValueError(f"budget must be >= 1, got {budget}")
    if oversize not in ("error", "drop", "own"):
        raise ValueError(
            f"oversize must be 'error', 'drop', or 'own', got {oversize!r}"
        )
    if n_buckets is not None and n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    id_type = dict(df.dtypes).get(id_col, "")
    if id_type in ("string", "binary"):
        raise ValueError(
            f"id_col {id_col!r} is {id_type}; hash string ids to a bigint "
            f"first (e.g. xxhash64) — range-bucketing needs a numeric id"
        )
    spark = df.sparkSession
    P = n_buckets or int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    qs = [i / P for i in range(1, P)]
    qlist = "array(" + ",".join(str(q) for q in qs) + ")"
    bounds = df.agg(
        F.expr(f"percentile_approx(`{id_col}`, {qlist}, 10000)").alias("b")
    ).first()["b"]
    uniq = sorted(set(b for b in (bounds or []) if b is not None))
    base = df.select(
        F.col(id_col).alias("__id"),
        F.col(token_col).cast("bigint").alias("__tok"),
    ).withColumn("__b", _range_bucket_expr(F.col("__id"), uniq))

    # NULLs are an error under EVERY oversize policy, so probe for them
    # with their own limit(1) — a combined (NULL OR oversize) filter with
    # limit(1) could surface an oversize row first and let a NULL slip
    # through to the kernel ('own') or a silent drop ('drop')
    if base.filter(F.col("__tok").isNull()).limit(1).count() > 0:
        raise ValueError(
            f"token_col {token_col!r} contains NULLs — packing needs a "
            f"token count for every document (fill or drop first)"
        )
    if oversize == "error":
        bad = base.filter(F.col("__tok") > budget).limit(1).collect()
        if bad:
            raise ValueError(
                f"documents exceed budget={budget} and cannot pack un-split "
                f"(e.g. id={bad[0]['__id']}, n_tokens={bad[0]['__tok']}); "
                f"pass oversize='drop' or oversize='own'"
            )
    if oversize == "drop":
        base = base.filter(F.col("__tok") <= budget)

    # materialized once: the per-bucket counts collect and the returned
    # plan both read base (pack_sequences recipe — localCheckpoint so the
    # context cleaner frees the blocks)
    base = base.localCheckpoint(eager=True)

    def _pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("__id").reset_index(drop=True)
        toks = pdf["__tok"].to_numpy()
        seq = [0] * len(toks)
        off = [0] * len(toks)
        s, fill = 0, 0
        for i, n in enumerate(toks):
            n = int(n)
            if n > budget:           # oversize='own': dedicated sequence
                if fill > 0:
                    s += 1
                seq[i], off[i] = s, 0
                s, fill = s + 1, 0
                continue
            if fill + n > budget:
                s, fill = s + 1, 0
            seq[i], off[i] = s, fill
            fill += n
        pdf["__local_seq"] = seq
        pdf["__off"] = off
        return pdf

    packed_local = base.groupBy("__b").applyInPandas(
        _pack, "__id " + dict(df.dtypes)[id_col] + ", __tok long, __b int, "
        "__local_seq long, __off long"
    )
    packed_local = packed_local.localCheckpoint(eager=True)
    counts = {
        r["__b"]: r["n"]
        for r in packed_local.groupBy("__b")
        .agg((F.max("__local_seq") + 1).alias("n"))
        .collect()
    }
    offsets, acc = [], 0
    for b in sorted(counts):
        offsets.append((b, acc))
        acc += counts[b]
    off_df = spark.createDataFrame(offsets or [(0, 0)], "__b int, __soff long")
    return (
        packed_local.join(F.broadcast(off_df), "__b", "left")
        .select(
            F.col("__id").alias(id_col),
            F.col("__tok").alias("n_tokens"),
            (F.col("__local_seq") + F.coalesce(F.col("__soff"), F.lit(0))).alias(
                "seq_id"
            ),
            F.col("__off").alias("offset_in_seq"),
        )
    )


def materialize_sequences_nosplit(
    tokens_df: DataFrame,
    id_col: str = "doc_id",
    token_col: str = "tokens",
    budget: int = 2048,
    pad_token=None,
    n_buckets: int | None = None,
    oversize: str = "error",
) -> DataFrame:
    """Materializer for the no-split layout: per-doc token arrays →
    training sequences where NO document crosses a sequence boundary
    (``pack_sequences_nosplit`` plans; this flattens). Returns one row
    per sequence: (seq_id, tokens, n_tokens, n_docs[, n_pad]).

    Sequences are padded to ``budget`` with ``pad_token`` when given
    (every non-full sequence pads — unlike the split materializer, ANY
    sequence can end short here; ``n_pad`` records the waste, the price
    of boundary integrity). ``oversize='own'`` sequences exceed budget
    by construction and are never padded or truncated.

    Scale shape: the ONE shuffle keys on seq_id; group state is bounded
    by budget tokens (or the single oversize doc); ordered flatten via
    array_sort on (offset, piece) structs — no Python in the row path.
    """
    if budget < 1:
        raise ValueError(f"budget must be >= 1, got {budget}")
    elem_type = None
    for f in tokens_df.schema.fields:
        if f.name == token_col:
            elem_type = f.dataType.elementType.simpleString()
    if elem_type is None:
        raise ValueError(f"token_col {token_col!r} not found in tokens_df")
    counts = tokens_df.select(
        id_col, F.size(F.coalesce(F.col(token_col), F.array())).alias("n_tokens")
    )
    plan = pack_sequences_nosplit(
        counts, id_col, "n_tokens", budget, n_buckets, oversize
    )
    out = (
        tokens_df.join(plan.select(id_col, "seq_id", "offset_in_seq"), id_col)
        .groupBy("seq_id")
        .agg(
            F.flatten(
                F.expr(
                    f"transform(array_sort(collect_list("
                    f"struct(offset_in_seq, `{token_col}` AS piece))),"
                    f" x -> x.piece)"
                )
            ).alias(token_col),
            F.count(F.lit(1)).alias("n_docs"),
        )
        .withColumn("n_tokens", F.size(token_col))
    )
    if pad_token is not None:
        pad = F.lit(budget) - F.col("n_tokens")
        out = out.withColumn(
            "n_pad", F.greatest(pad, F.lit(0))
        ).withColumn(
            token_col,
            F.when(
                pad > 0,
                F.concat(
                    F.col(token_col),
                    F.array_repeat(F.lit(pad_token).cast(elem_type), pad.cast("int")),
                ),
            ).otherwise(F.col(token_col)),
        )
    return out.select(
        "seq_id", token_col, "n_tokens", "n_docs",
        *(["n_pad"] if pad_token is not None else []),
    )


def chunk_documents(
    df: DataFrame,
    window: int = 512,
    stride: int = 256,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Sliding-window document chunking: split each document into
    whitespace words and emit overlapping chunks of ``window`` words
    every ``stride`` words —

      (id, chunk_idx, chunk_text, n_tokens)

    — the standard long-document preparation for context-bounded
    training and embedding indexing (every word appears in at least one
    chunk; consecutive chunks overlap by ``window - stride`` words so no
    span longer than the overlap is ever cut). A document with at most
    ``window`` words yields exactly one chunk; chunk ``i`` covers words
    ``[i*stride, i*stride + window)``; the last chunk is short rather
    than padded. Empty documents are dropped.

    Plan shape: tokenize → ``sequence(0, n_chunks-1)`` → explode →
    ``slice`` + ``array_join`` — every expression is JVM/codegen, zero
    Python, zero shuffle (the explode is a per-row flatMap). Output
    rows ≈ corpus_words / stride regardless of document skew: a single
    10M-word document becomes ~10M/stride independent rows, so the
    pathological long-tail doc parallelizes instead of straggling.
    """
    if not (1 <= stride <= window):
        raise ValueError(f"need 1 <= stride <= window, got {stride}/{window}")
    words = F.filter(
        F.split(F.coalesce(F.col(text_col), F.lit("")), r"\s+"),
        lambda x: F.length(x) > 0,
    )
    n = F.size("__w")
    n_chunks = F.when(n <= window, F.lit(1)).otherwise(
        F.ceil((n - F.lit(window)) / F.lit(stride)) + 1
    )
    base = (
        df.select(id_col, words.alias("__w"))
        .filter(F.size("__w") > 0)
        .select(id_col, "__w", n.alias("__n"), n_chunks.alias("__k"))
    )
    i = F.col("chunk_idx")
    return (
        base.select(
            id_col,
            "__w",
            "__n",
            F.explode(F.sequence(F.lit(0), (F.col("__k") - 1).cast("int"))).alias(
                "chunk_idx"
            ),
        )
        .select(
            id_col,
            i.cast("int").alias("chunk_idx"),
            F.array_join(
                F.slice("__w", i * stride + 1, F.lit(window)), " "
            ).alias("chunk_text"),
            F.least(F.lit(window), F.col("__n") - i * stride)
            .cast("int")
            .alias("n_tokens"),
        )
    )


def pack_sft_sequences(
    masks_df: DataFrame,
    budget: int = 2048,
    id_col: str = "conv_id",
    token_col: str = "tokens",
    mask_col: str = "loss_mask",
    pad_token=None,
    n_buckets: int | None = None,
    check_ids: bool = True,
) -> DataFrame:
    """Pack per-row (token, loss-mask) arrays into fixed-``budget``
    training sequences with the masks riding along —

      (seq_id, tokens, loss_mask, n_tokens, n_docs[, n_pad])

    — the last step before an actual training loop: a row crossing a
    sequence boundary contributes its
    prefix to one sequence and the remainder to the next, and each
    token's mask bit moves WITH it (zip → ``materialize_sequences`` on
    the zipped struct array → unzip, so the packer's concat-roundtrip
    invariant carries over verbatim). ``pad_token`` pads the short tail
    sequence; padding is always mask=False — pad must never train.

    The input contract: ``len(tokens) == len(loss_mask)`` per row
    (``arrays_zip`` would otherwise null-pad the shorter side).

    Scale shape: identical to ``materialize_sequences`` — codegen'd
    slice explode, ONE seq_id shuffle, budget-bounded group state; the
    zip/unzip are free projections.
    """
    id_type = dict(masks_df.dtypes).get(id_col)
    id_expr = (
        F.xxhash64(F.col(id_col)) if id_type == "string" else F.col(id_col)
    )  # pack_sequences range-buckets the id space, so string ids hash to
    # bigint first — sequence order is then deterministic in HASHED-id
    # order (arbitrary but stable)
    zipped = masks_df.select(
        id_expr.alias("__pid"), F.arrays_zip(token_col, mask_col).alias("__z")
    )
    if check_ids:
        # a duplicated input id OR an xxhash64 collision shares one __pid,
        # and the materializer's plan join then duplicates BOTH rows'
        # tokens into the packed output — silently wrong sequences
        # (review finding). One small fit-time aggregate catches both.
        stats = zipped.agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct("__pid").alias("nd"),
        ).first()
        if stats["n"] != stats["nd"]:
            raise ValueError(
                f"{id_col} is not collision-free after hashing: "
                f"{stats['n']:,} rows but {stats['nd']:,} distinct packed "
                f"ids — dedupe the input ids (or disable with "
                f"check_ids=False only if ids are known unique bigints)"
            )
    seqs = materialize_sequences(zipped, "__pid", "__z", budget, None, n_buckets)
    out = seqs.select(
        "seq_id",
        F.expr(f"transform(__z, x -> x.`{token_col}`)").alias(token_col),
        F.expr(f"transform(__z, x -> x.`{mask_col}`)").alias(mask_col),
        "n_tokens",
        "n_docs",
    )
    if pad_token is not None:
        pad = (F.lit(budget) - F.col("n_tokens")).cast("int")
        out = (
            out.withColumn("n_pad", F.greatest(pad, F.lit(0)))
            .withColumn(
                token_col,
                F.when(
                    pad > 0,
                    F.concat(
                        F.col(token_col),
                        F.array_repeat(F.lit(pad_token), pad),
                    ),
                ).otherwise(F.col(token_col)),
            )
            .withColumn(
                mask_col,
                F.when(
                    pad > 0,
                    F.concat(
                        F.col(mask_col),
                        F.array_repeat(F.lit(False), pad),
                    ),
                ).otherwise(F.col(mask_col)),
            )
        )
    return out
