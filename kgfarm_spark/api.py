"""FeatureFarm — the engine's user-facing facade, mirroring the
reference's verb surface so a KGFarm user can switch call-for-call
(SURVEY §3.5). Reference verbs → engine ops:

| Reference (operations/api.py + interface/apis.py) | Here |
|---|---|
| ``load_table`` (api.py:72) | ``load_table`` |
| profiles in LiDS KG | ``profile`` (computed live) |
| ``get_entities`` (api.py:79) | ``detect_entities`` / ``default_entities`` |
| ``search_enrichment_options`` (api.py:189) | ``search_enrichment_options`` |
| ``enrich(freshness=10)`` (api.py:518) | ``enrich`` (interval parity) / ``asof_enrich`` (latest) |
| ``recommend_cleaning_operations`` (apis.py:139) | ``recommend_cleaning_operations`` |
| ``clean`` (apis.py:185) | ``clean`` |
| ``recommend_transformations`` (apis.py:37) | ``recommend_transformations`` |
| ``select_features`` (api.py:592) | ``select_features`` |
| ``engineer_features`` (apis.py:238) | ``engineer_features`` |
| — (north_rule additions) | ``sessionize`` / ``backfill`` / ``asof_join`` |

Every method returns lazy DataFrames (or small driver-side dicts for
recommendations), never materialized pandas — the fundamental departure
from the reference's eager single-machine design.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from kgfarm_spark.functions import cleaning as _cleaning
from kgfarm_spark.functions import embeddings as _emb
from kgfarm_spark.functions import profiling as _prof
from kgfarm_spark.functions import selection as _sel
from kgfarm_spark.operators import windows as _win
from kgfarm_spark.operators.asof import asof_join as _asof
from kgfarm_spark.operators.backfill import backfill_asof_fused
from kgfarm_spark.pipeline import engineer_features as _engineer
from kgfarm_spark.sources.transcripts import load_table as _load


class FeatureFarm:
    """Stateless facade; ``spark`` is the only held resource."""

    def __init__(self, spark: SparkSession, data_dir: str | None = None):
        self.spark = spark
        self.data_dir = data_dir

    # ---- catalog / discovery (reference §3.2 lifecycle) -----------------
    def load_table(self, name: str, data_dir: str | None = None) -> DataFrame:
        return _load(self.spark, data_dir or self.data_dir, name)

    def profile(self, df: DataFrame, table_name: str, exact: bool = False) -> DataFrame:
        return _prof.profile_table(df, table_name, exact=exact)

    def detect_entities(self, profiles: DataFrame, uniqueness: float = 0.95) -> DataFrame:
        return _prof.detect_entities(profiles, uniqueness)

    def default_entities(self, entities: DataFrame) -> DataFrame:
        return _prof.elect_default_entities(entities)

    def search_enrichment_options(self, tables: dict[str, DataFrame]) -> DataFrame:
        return _prof.discover_joins(self.spark, tables)

    # ---- enrichment (reference enrich(), api.py:518-571) -----------------
    def enrich(
        self,
        entity_df: DataFrame,
        feature_view: DataFrame,
        on: str,
        entity_ts: str = "event_timestamp",
        view_ts: str = "event_timestamp",
        freshness_days: int = 10,
    ) -> DataFrame:
        """EXACT reference semantics: keep ALL feature rows inside the
        freshness window (interval join, ties kept)."""
        return _asof(
            entity_df, feature_view, on=on, left_ts=entity_ts, right_ts=view_ts,
            tolerance=f"{freshness_days} DAYS", mode="all_in_window",
        )

    def asof_enrich(
        self,
        entity_df: DataFrame,
        feature_view: DataFrame,
        on: str,
        entity_ts: str = "event_timestamp",
        view_ts: str = "event_timestamp",
        freshness_days: int = 10,
        direction: str = "backward",
    ) -> DataFrame:
        """Feast/north_rule semantics: latest row in the window."""
        return _asof(
            entity_df, feature_view, on=on, left_ts=entity_ts, right_ts=view_ts,
            tolerance=f"{freshness_days} DAYS", direction=direction, mode="latest",
        )

    # ---- transcript feature engineering (north_rule core) ---------------
    # ``max_turns_per_task`` engages the exact order-bucket cut of
    # operators/windows.py (module docstring) and ``hot_conv_turns`` the
    # fused backfill's time-bucket cut, both for pathologically long
    # conversations (crossover rule in BENCH.md §2c: worth it when one
    # conversation's share of rows exceeds ~1/n_cores).
    def sessionize(
        self,
        transcripts: DataFrame,
        gap: str = "30 minutes",
        max_turns_per_task: int | None = None,
    ) -> DataFrame:
        return _win.sessionize(
            transcripts, gap=gap, max_turns_per_task=max_turns_per_task
        )

    def backfill(
        self, transcripts: DataFrame, max_turns_per_task: int | None = None
    ) -> DataFrame:
        return _win.backfill_features(
            transcripts, max_turns_per_task=max_turns_per_task
        )

    def asof_join(self, left, right, **kw) -> DataFrame:
        return _asof(left, right, **kw)

    def backfill_and_resolve(
        self,
        transcripts: DataFrame,
        probes: DataFrame,
        tolerance: str = "1 DAY",
        hot_conv_turns: int | str | None = "auto",
        n_hot_buckets: int = 32,
        probe_pushdown: bool = False,
    ) -> DataFrame:
        """Facade default is ``hot_conv_turns='auto'``: the measured
        crossover rule (engage the exact bucket+carry guard iff one
        conversation holds > ~1/n_cores of the rows) means cluster users
        never hand-tune the straggler threshold. Deciding it cold usually
        costs one shuffle-free scan of the key column, which runs while
        the plan is built: a count-min sketch bound proves the guard off,
        and the exact per-key count aggregate runs only when the bound
        reaches the threshold. Warm, the verdict is reused per pair of
        input snapshots: a repeated guard-off call over unchanged frames
        runs no decision job; a new frame on either side runs the scan
        again. Pass an int to pin it, None to disable.
        ``probe_pushdown=True`` reduces the corpus to the probed
        conversations first (9.5× at 48M turns / 1% probes, BENCH.md
        §2b2) — set it when probing a small sample. A driver-local probe
        frame (e.g. ``createDataFrame`` of a pandas frame) becomes a
        ``conv_id IN (...)`` scan filter at no Spark job; a distributed
        one is broadcast-semi-joined (``asof.keyset_reduce``)."""
        return backfill_asof_fused(
            transcripts,
            probes,
            tolerance=tolerance,
            hot_conv_turns=hot_conv_turns,
            n_hot_buckets=n_hot_buckets,
            probe_pushdown=probe_pushdown,
        )

    # ---- cleaning (reference apis.py:139-226) -----------------------------
    def recommend_cleaning_operations(
        self, numeric_emb: DataFrame, string_emb: DataFrame
    ) -> list[str]:
        return _emb.recommend_cleaning(string_emb, numeric_emb)

    def clean(
        self,
        df: DataFrame,
        recommendation: str = "Fill",
        numeric_cols: list[str] | None = None,
        key: str | None = None,
        order: str | None = None,
        handle_outliers: bool = False,
    ) -> DataFrame:
        """Apply a cleaning recommendation (reference clean(),
        apis.py:185-226): Fill → mean/mode fill; Interpolate → linear +
        ffill/bfill chain (needs key/order); Impute → KNN imputation of
        numeric columns + mode fill of categoricals (the reference's
        KNNImputer/SimpleImputer split, apis.py:218-224).
        ``handle_outliers`` first nulls numeric values on LOF-flagged
        rows (reference: LocalOutlierFactor(contamination=0.05) masking,
        apis.py:187-192) so the chosen imputation refills them; pass
        ``key`` to bound the O(n²) LOF groups at scale."""
        df = _cleaning.normalize_null_tokens(df)
        num = numeric_cols or [
            c for c, t in df.dtypes if t in ("double", "float", "bigint", "int")
        ]
        if handle_outliers and num:
            from pyspark.sql import functions as F

            masked = _cleaning.lof_mask(df, num, key=key)
            for c in num:
                masked = masked.withColumn(
                    c, F.when(F.col("is_outlier"), None).otherwise(F.col(c))
                )
            df = masked.drop("lof_score", "is_outlier")
        if recommendation == "Interpolate":
            if order is None:
                raise ValueError(
                    "clean(recommendation='Interpolate') needs an explicit "
                    "order column: pandas interpolation is row-order based "
                    "and Spark has no implicit row order — falling back to "
                    "ordering by the interpolated column itself would fill "
                    "leading NULLs with the global minimum (review finding)"
                )
            return _cleaning.interpolate_linear(df, num, key=key, order=order)
        if recommendation == "Impute":
            out = _cleaning.knn_impute(df, num, key=key) if num else df
            return _cleaning.fill_nulls(out, numeric_cols=[], categorical_cols=None)
        return _cleaning.fill_nulls(df, numeric_strategy="mean", numeric_cols=numeric_cols)

    # ---- transformations / selection -------------------------------------
    def recommend_transformations(self, numeric_long: DataFrame) -> DataFrame:
        emb = _emb.numeric_column_embeddings(numeric_long)
        return _emb.recommend_unary(emb)

    def select_features(
        self, df: DataFrame, feature_cols: list[str], target: str
    ) -> list[str]:
        return _sel.select_features(df, feature_cols, target)

    def engineer_features(
        self, train: DataFrame, test: DataFrame, target: str, **kw
    ) -> tuple[DataFrame, DataFrame, dict]:
        return _engineer(train, test, target, **kw)

    # ---- similarity search (task-brief ANN family) ------------------------
    def similar(
        self,
        corpus: DataFrame,
        queries: DataFrame,
        k: int = 5,
        method: str = "ivf",
        **kw,
    ) -> DataFrame:
        """Top-k nearest neighbors per query over an embedding column.

        Default route is **IVF** (VERDICT r04 #4) — the measured 1M-vector
        tradeoff (BENCH_LLM.json / BENCH.md §5):

        | path | wall (1M × 200 q) | recall@10 |
        |---|---|---|
        | ``ivf`` (256 cells, nprobe 4)      | 2.2 fit + 3.5 s | 1.000 |
        | ``lsh`` (10 planes, 1 table)       | 23.5 s          | 0.451 |
        | ``lsh`` (10 planes × 4 tables)     | 96 s            | 0.883 |
        | ``exact`` (broadcast brute force)  | 81 s            | 1.000 |
        | ``pq`` (IVF-PQ m=32, rerank 1000)  | scan 1.7 + 5.2 s | 0.943 |

        ``pq`` is the MEMORY path — 44 B/vec codes instead of raw
        vectors (5.8×); pick it when the corpus won't fit as floats.

        IVF dominates: exact recall on clustered data at ~20x less wall
        than brute force, so single-table hyperplane LSH is demoted to an
        explicit opt-in (``method='lsh'``). ``method='exact'`` is the
        oracle-checkable brute-force path; ``'twophase'`` its partial-
        top-k scale variant (shuffles ≤ partitions·|Q|·k rows)."""
        from kgfarm_spark.operators import similarity as _sim

        if method == "ivf":
            return _sim.ivf_topk(corpus, queries, k=k, **kw)
        if method == "twophase":
            return _sim.cosine_topk_twophase(corpus, queries, k=k, **kw)
        if method == "exact":
            return _sim.cosine_topk(corpus, queries, k=k, **kw)
        if method == "lsh":
            return _sim.lsh_topk(corpus, queries, k=k, **kw)
        if method == "pq":
            # memory path (IVF-PQ): coarse quantizer + RESIDUAL codebooks
            # — flat codebooks collapse on clustered corpora (whole cells
            # encode identically; measured recall 0.006 at 1M) — then ADC
            # scan + exact rerank. Pass rerank=<R>/nprobe=<p> to trade
            # recall for work; pre-encoded corpora call pq_topk directly.
            vec_col = kw.pop("vec_col", "embedding")
            id_col = kw.pop("id_col", "vec_id")
            cents = _sim.fit_ivf_centroids(
                corpus, vec_col, n_cells=kw.pop("n_cells", 64), id_col=id_col
            )
            books = _sim.fit_pq_codebooks(
                corpus, vec_col, m=kw.pop("m", 16), ksub=kw.pop("ksub", 256),
                id_col=id_col, centroids=cents,
            )
            codes = _sim.pq_encode(corpus, books, vec_col, centroids=cents)
            rerank = kw.pop("rerank", max(4 * k, 50))
            return _sim.pq_topk(
                codes, queries, books, id_col=id_col, vec_col=vec_col,
                k=k, rerank=rerank, corpus=corpus, centroids=cents, **kw
            )
        raise ValueError(
            f"unknown similarity method {method!r}; use 'ivf' (default), "
            "'twophase', 'exact', 'lsh', or 'pq'"
        )

    # ---- corpus curation (task-brief pretraining family) ------------------
    def dedup(
        self,
        docs: DataFrame,
        method: str = "minhash",
        id_col: str = "doc_id",
        text_col: str = "text",
        resolve: str | None = None,
        score_col: str | None = None,
        **kw,
    ) -> DataFrame:
        """Near/exact-duplicate handling over a document table.

        ``method``: ``'exact'`` (hash groupBy, keeps min id) ·
        ``'minhash'`` (LSH band-bucket candidate pairs, default — the
        100 TB-safe near-dup path) · ``'simhash'`` (banded Hamming-ball
        pairs) · ``'jaccard'`` (exact n-gram pairs, small corpora) ·
        ``'embedding'`` (cosine near-dup pairs, quadratic baseline) ·
        ``'semantic'`` (SemDeDup: IVF-cell-partitioned cosine pairs —
        the embedding near-dup scale path) · ``'lines'``
        (C4-style corpus-wide line dedup, returns rewritten docs) ·
        ``'spans'`` (per-doc duplicated n-gram span stats). Pair
        methods return (id_a, id_b, …) for ``dedup_by_pairs`` /
        ``dedup_components``.

        ``resolve``: for pair methods, resolve clusters in the same call —
        ``'min'`` keeps the smallest id per near-dup component
        (``dedup_keep_component_min``), ``'best'`` keeps the max-
        ``score_col`` row per component (``dedup_keep_component_best``).
        Returns the deduplicated ``docs`` instead of pairs."""
        from kgfarm_spark.operators import dedup as _dd

        routes = {
            "exact": lambda: _dd.exact_dedup(docs, on=[text_col], order_col=id_col, **kw),
            "minhash": lambda: _dd.minhash_lsh_dedup_pairs(docs, id_col, text_col, **kw),
            "simhash": lambda: _dd.simhash_neardup_pairs(docs, id_col, text_col, **kw),
            "jaccard": lambda: _dd.jaccard_pairs(docs, id_col, text_col, **kw),
            "embedding": lambda: _dd.embedding_neardup_pairs(
                docs, id_col, **{"vec_col": "embedding", **kw}
            ),
            "semantic": lambda: _dd.semantic_neardup_pairs(docs, id_col, **kw),
            "lines": lambda: _dd.dedup_lines_corpus(docs, id_col, text_col, **kw),
            "spans": lambda: _dd.duplicate_ngram_spans(docs, id_col, text_col, **kw),
        }
        if method not in routes:
            raise ValueError(
                f"unknown dedup method {method!r}; use one of {sorted(routes)}"
            )
        result = routes[method]()
        if resolve is None:
            return result
        pair_methods = {"minhash", "simhash", "jaccard", "embedding", "semantic"}
        if method not in pair_methods:
            raise ValueError(
                f"resolve= requires a pair method ({sorted(pair_methods)}), got {method!r}"
            )
        if resolve == "min":
            return _dd.dedup_keep_component_min(docs, result, id_col)
        if resolve == "best":
            if not score_col:
                raise ValueError("resolve='best' requires score_col")
            return _dd.dedup_keep_component_best(docs, result, id_col, score_col)
        raise ValueError(f"unknown resolve {resolve!r}; use 'min' or 'best'")

    def quality(
        self,
        docs: DataFrame,
        method: str = "gate",
        id_col: str = "doc_id",
        text_col: str = "text",
        **kw,
    ) -> DataFrame:
        """Document-quality signals: ``'gate'`` (Gopher-style composite
        keep/drop with per-rule audit flags, default) · ``'features'``
        (raw length/punct/stopword stats) · ``'logprob'`` (corpus-fit
        unigram-LM mean log-prob) · ``'logprob2'`` (interpolated bigram
        LM — order-sensitive, the CCNet-grade upgrade) · ``'buckets'`` (CCNet head/middle/
        tail split by LM-score percent-rank terciles) · ``'repetition'``
        (dup-line + top-bigram fractions) · ``'langid'``
        (stopword-profile language guess) · ``'line_rules'`` (Gopher
        symbol-ratio + bullet/ellipsis line-shape rules — together with
        'gate' and 'repetition' this is the full Rae et al. Table A1
        set)."""
        from kgfarm_spark.operators import textstats as _ts

        routes = {
            "gate": lambda: _ts.quality_gate(docs, id_col, text_col, **kw),
            "features": lambda: _ts.quality_features(docs, text_col, **kw),
            "logprob": lambda: _ts.unigram_logprob(docs, id_col, text_col, **kw),
            "logprob2": lambda: _ts.bigram_logprob(docs, id_col, text_col, **kw),
            "logprob3": lambda: _ts.kn3_logprob(docs, id_col, text_col, **kw),
            "buckets": lambda: _ts.ccnet_buckets(docs, id_col, text_col, **kw),
            "repetition": lambda: _ts.repetition_signals(docs, id_col, text_col, **kw),
            "langid": lambda: _ts.lang_id(docs, text_col, **kw),
            "line_rules": lambda: _ts.gopher_line_rules(docs, id_col, text_col, **kw),
            "gopher": lambda: _ts.gopher_filter(docs, id_col, text_col, **kw),
        }
        if method not in routes:
            raise ValueError(
                f"unknown quality method {method!r}; use one of {sorted(routes)}"
            )
        return routes[method]()

    def decontaminate(
        self,
        docs: DataFrame,
        eval_set: DataFrame,
        id_col: str = "doc_id",
        text_col: str = "text",
        n: int = 13,
        **kw,
    ) -> DataFrame:
        """Flag training docs sharing word n-grams with a benchmark/eval
        set (GPT-3 appendix-C recipe; eval shingles broadcast, corpus
        probed map-side — operators/dedup.py:decontaminate). Returns
        (id, n_overlap) for contaminated docs; anti-join to drop them."""
        from kgfarm_spark.operators.dedup import decontaminate

        return decontaminate(docs, eval_set, id_col, text_col, n=n, **kw)

    def pack(
        self, docs: DataFrame, budget: int = 2048, no_split: bool = False, **kw
    ) -> DataFrame:
        """Sequence packing (operators/packing.py): concat-and-chunk by
        default; ``no_split=True`` switches to boundary-respecting greedy
        packing (no document crosses a sequence boundary — pass
        ``oversize='drop'|'own'`` for over-budget documents)."""
        from kgfarm_spark.operators.packing import (
            pack_sequences,
            pack_sequences_nosplit,
        )

        if no_split:
            return pack_sequences_nosplit(docs, budget=budget, **kw)
        return pack_sequences(docs, budget=budget, **kw)

    def curate(
        self,
        docs: DataFrame,
        eval_df: DataFrame | None = None,
        id_col: str = "doc_id",
        text_col: str = "text",
        **kw,
    ) -> tuple[DataFrame, dict]:
        """The full corpus-curation pipeline in one call
        (curation.curate): gopher_filter → exact dedup → LSH near-dedup
        keep-best → decontamination vs ``eval_df`` → CCNet/DSIR
        selection → sequence packing, with a per-stage lineage manifest.
        Returns ``(packed_df, manifest)``; every stage is toggleable —
        see ``kgfarm_spark.curation.curate`` for the knobs."""
        from kgfarm_spark.curation import curate as _curate

        return _curate(docs, id_col, text_col, eval_df, **kw)

    def novelty(self, docs: DataFrame, reference: DataFrame,
                n: int = 5, **kw) -> DataFrame:
        """Per-document n-gram novelty vs a corpus-sized reference — the
        data-freshness measure of a candidate shard against what a model
        has already seen (operators/dedup.py:ngram_novelty; shuffle-join
        sibling of `decontaminate`, whose eval side broadcasts)."""
        from kgfarm_spark.operators.dedup import ngram_novelty

        return ngram_novelty(docs, reference, n=n, **kw)

    def embed_text(self, docs: DataFrame, dim: int = 256, **kw) -> DataFrame:
        """Feature-hashing text embedding (Weinberger et al. 2009): L2-
        normalized signed hashed bag-of-words, the encoder-free bridge
        from text to the vector stack — feed the output to `similar()` /
        `dedup(method='semantic')`
        (operators/similarity.py:hashed_text_embedding)."""
        from kgfarm_spark.operators.similarity import hashed_text_embedding

        return hashed_text_embedding(docs, dim=dim, **kw)

    def pack_sft(self, masks: DataFrame, budget: int = 2048,
                 **kw) -> DataFrame:
        """Pack per-row (tokens, loss_mask) arrays into fixed-budget
        training sequences with the masks riding along; pad never trains
        (operators/packing.py:pack_sft_sequences)."""
        from kgfarm_spark.operators.packing import pack_sft_sequences

        return pack_sft_sequences(masks, budget=budget, **kw)

    def chunk(self, docs: DataFrame, window: int = 512, stride: int = 256,
              **kw) -> DataFrame:
        """Sliding-window document chunking: overlapping ``window``-word
        chunks every ``stride`` words (operators/packing.py:
        chunk_documents) — long-document preparation for context-bounded
        training and embedding indexing."""
        from kgfarm_spark.operators.packing import chunk_documents

        return chunk_documents(docs, window=window, stride=stride, **kw)

    def fit_quality_classifier(self, docs: DataFrame, target, **kw) -> dict:
        """Train the GPT-3-style discriminative quality head
        (quality_model.quality_classifier_fit): logistic regression over
        md5-hashed bag-of-words separating ``target`` (boolean Column,
        e.g. ``F.col('source') == 'curated'``) from the rest. Returns a
        JSON-serializable model dict."""
        from kgfarm_spark.operators.quality_model import quality_classifier_fit

        return quality_classifier_fit(docs, target, **kw)

    def score_quality(self, docs: DataFrame, model: dict, **kw) -> DataFrame:
        """Score documents with a fitted quality classifier — one
        broadcast join + one doc aggregate (the streaming-safe apply
        shape). Chain into ``pareto_filter`` for the GPT-3 keep rule."""
        from kgfarm_spark.operators.quality_model import quality_classifier_score

        return quality_classifier_score(docs, model, **kw)

    def pareto_filter(self, scored: DataFrame, alpha: float = 9.0, **kw) -> DataFrame:
        """GPT-3 Pareto acceptance rule: keep iff pareto(alpha) > 1 −
        score, with deterministic md5-derived noise — diversity-
        preserving classifier filtering (quality_model.pareto_select)."""
        from kgfarm_spark.operators.quality_model import pareto_select

        return pareto_select(scored, alpha=alpha, **kw)

    def mix(
        self, docs: DataFrame, weights: dict, token_budget: int, **kw
    ) -> DataFrame:
        """Source-weighted deterministic corpus sample (DoReMi/Pile-style
        mixing; operators/packing.py)."""
        from kgfarm_spark.operators.packing import stratified_mix_sample

        return stratified_mix_sample(
            docs, weights=weights, token_budget=token_budget, **kw
        )

    # ---- model tail (reference pipeline_generator.py:152-191) -------------
    def importance(
        self,
        docs: DataFrame,
        target,
        k: int | None = None,
        id_col: str = "doc_id",
        text_col: str = "text",
        **kw,
    ) -> DataFrame:
        """DSIR importance weights toward the ``target`` boolean-Column
        predicate (textstats.dsir_importance); with ``k`` set, runs the
        full selection step instead — deterministic Gumbel top-k sampling
        with probability ∝ exp(dsir_logweight)
        (textstats.dsir_resample)."""
        from kgfarm_spark.operators.textstats import dsir_importance, dsir_resample

        if k is not None:
            return dsir_resample(docs, target, k, id_col, text_col, **kw)
        return dsir_importance(docs, target, id_col, text_col, **kw)

    def train_tokenizer(
        self, docs: DataFrame, text_col: str = "text", n_merges: int = 10, **kw
    ):
        """Learn a BPE merge table over the corpus (operators.bpe.bpe_train).
        Returns (merges, segmented_census) — broadcast-join the census back
        onto the corpus as the apply step. ``pretokenize='gpt2'`` +
        ``alphabet='bytes'`` give the production byte-level-BPE shape;
        merge rounds are exact-batched by default (``max_batch``)."""
        from kgfarm_spark.operators.bpe import bpe_train

        return bpe_train(docs, text_col, n_merges, **kw)

    def train_wordpiece(
        self, docs: DataFrame, text_col: str = "text", n_merges: int = 10, **kw
    ):
        """Learn a BERT-style WordPiece vocabulary — likelihood-ratio
        merges count(ab)/(count(a)*count(b)) over '##'-marked symbols
        (operators.wordpiece.wordpiece_train). Returns (merges, vocab);
        tokenize with ``tokenize_wordpiece``."""
        from kgfarm_spark.operators.wordpiece import wordpiece_train

        return wordpiece_train(docs, text_col, n_merges, **kw)

    def tokenize_wordpiece(
        self, docs: DataFrame, vocab: DataFrame, text_col: str = "text",
        id_col: str = "doc_id", **kw
    ) -> DataFrame:
        """Max-munch tokenize with a trained WordPiece vocabulary
        (operators.wordpiece.wordpiece_apply) — broadcast vocab,
        distinct-word memo, zero shuffle."""
        from kgfarm_spark.operators.wordpiece import wordpiece_apply

        return wordpiece_apply(docs, vocab, text_col, id_col, **kw)

    def train_unigram(
        self, docs: DataFrame, text_col: str = "text",
        vocab_size: int = 2000, **kw
    ) -> DataFrame:
        """Train a SentencePiece-style unigram-LM tokenizer
        (operators.unigram.unigram_train). Returns the (piece, logprob)
        table; tokenize with ``tokenize_unigram``. ``strategy='local'``
        runs the EM in-driver over the collected census (the fast path
        whenever distinct words fit the cap)."""
        from kgfarm_spark.operators.unigram import unigram_train

        return unigram_train(docs, text_col, vocab_size, **kw)

    def tokenize_unigram(
        self, docs: DataFrame, pieces: DataFrame, text_col: str = "text",
        id_col: str = "doc_id", **kw
    ) -> DataFrame:
        """Viterbi-tokenize with a trained unigram piece table
        (operators.unigram.unigram_apply) — broadcast vocab, JVM
        pre-tokenization, zero shuffle."""
        from kgfarm_spark.operators.unigram import unigram_apply

        return unigram_apply(docs, pieces, text_col, id_col, **kw)

    def train_model(self, train: DataFrame, target: str, task: str, **kw):
        from kgfarm_spark.ml import train_model as _tm

        return _tm(train, target, task, **kw)

    def evaluate_model(self, model, test: DataFrame, target: str, task: str) -> dict:
        from kgfarm_spark.ml import evaluate_model as _em

        return _em(model, test, target, task)
