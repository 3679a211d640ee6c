"""Dedup / similarity / lineage-resume / streaming tests, plus the
corpus text-statistics, tokenizer and packing operators
(SURVEY §5.2 items 4-5 + task-brief pipeline families)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from kgfarm_spark.operators.dedup import (
    exact_dedup,
    jaccard_pairs,
    minhash_lsh_dedup_pairs,
    dedup_by_pairs,
)
from kgfarm_spark.operators.similarity import (
    cosine_topk,
    cosine_topk_twophase,
    lsh_topk,
)
from kgfarm_spark.plans.lineage import (
    feature_hash,
    read_checkpointed_output,
    read_manifest,
    run_checkpointed,
)
from tests.conftest import SF_SMOKE


def _smoke_docs(spark):
    return spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
        "doc_id", "text"
    )


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog today"),
        (1, "the quick brown fox jumps over the lazy dog today"),  # exact dup of 0
        (2, "the quick brown fox jumps over the lazy dog yesterday morning"),  # near dup
        (3, "completely different words about spark shuffles and joins here"),
        (4, "another unrelated document mentioning windows and aggregates only"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


class TestDedup:
    def test_exact(self, docs):
        out = exact_dedup(docs, on=["text"], order_col="doc_id")
        assert sorted(r["doc_id"] for r in out.collect()) == [0, 2, 3, 4]

    def test_jaccard_finds_near_dup(self, docs):
        pairs = jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.4).collect()
        got = {(r["id_a"], r["id_b"]) for r in pairs}
        assert (0, 1) in got and (2, 3) not in got
        deduped = dedup_by_pairs(docs, jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.4), "doc_id")
        assert 1 not in {r["doc_id"] for r in deduped.collect()}

    def test_minhash_lsh_agrees_with_exact_jaccard_on_dups(self, docs):
        exact = {
            (r["id_a"], r["id_b"])
            for r in jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5).collect()
        }
        lsh = {
            (r["id_a"], r["id_b"])
            for r in minhash_lsh_dedup_pairs(
                docs, "doc_id", "text", n=3, num_hashes=8, bands=4, threshold=0.5
            ).collect()
        }
        # LSH verified pairs ⊆ exact pairs; the exact duplicate must be found
        assert lsh <= exact
        assert (0, 1) in lsh

    def test_simhash_neardup_banded_equals_bruteforce(self, spark):
        """The banded candidate generation is pigeonhole-COMPLETE: for any
        pair within the Hamming budget at least one band agrees exactly,
        so the banded pairs must equal the all-pairs bit_count answer."""
        from pyspark.sql import functions as F

        from kgfarm_spark.operators.dedup import simhash64, simhash_neardup_pairs

        base = "the quick brown fox jumps over the lazy dog again and again"
        rows = [(0, base), (1, base), (2, base + " extra"), (3, base + " word salad"),
                (4, "completely different text about spark window operators"),
                (5, "completely different text about spark window operators"),
                (6, "unrelated gibberish tokens zeta eta theta iota kappa")]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        # mh=2 → 3 bands of width 21 covering 63 of 64 bits: the
        # non-divisor case (ADVICE r04) — the uncovered high bit never
        # RELAXES a band match, so pigeonhole completeness still holds
        for mh in (0, 2, 3):
            got = {
                (r["id_a"], r["id_b"], r["hamming"])
                for r in simhash_neardup_pairs(docs, "doc_id", "text", max_hamming=mh).collect()
            }
            fp = simhash64(docs, "doc_id", "text")
            a = fp.select(F.col("doc_id").alias("id_a"), F.col("simhash").alias("fa"))
            b = fp.select(F.col("doc_id").alias("id_b"), F.col("simhash").alias("fb"))
            brute = {
                (r["id_a"], r["id_b"], r["h"])
                for r in a.crossJoin(b)
                .filter(F.col("id_a") < F.col("id_b"))
                .withColumn("h", F.bit_count(F.col("fa").bitwiseXOR(F.col("fb"))))
                .filter(F.col("h") <= mh)
                .collect()
            }
            assert got == brute
        # identical docs must always pair at hamming 0
        assert any(p[:2] == (0, 1) for p in got) or (0, 1) in {(x[0], x[1]) for x in brute}


class TestSimilarity:
    @pytest.fixture(scope="class")
    def emb(self, spark):
        rng = np.random.RandomState(11)
        rows = [(i, rng.randn(16).astype("float32").tolist()) for i in range(100)]
        return spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    def test_twophase_equals_bruteforce(self, emb):
        q = emb.filter(F.col("vec_id") % 20 == 0).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        a = cosine_topk(emb, q, k=5).collect()
        b = cosine_topk_twophase(emb, q, k=5).collect()
        ka = {(r["query_id"], r["rank"]): r["neighbor_id"] for r in a}
        kb = {(r["query_id"], r["rank"]): r["neighbor_id"] for r in b}
        assert ka == kb

    def test_twophase_ties_partition_invariant(self, spark):
        """ADVICE r03: >k exact-cosine ties (duplicate vectors) must break
        by neighbor_id asc INSIDE the per-partition partial top-k too —
        otherwise the output depends on the partition layout."""
        vec = [1.0, 0.0, 2.0, -1.0]
        rows = [(i, vec) for i in range(20)]  # 20 identical vectors
        rows += [(100 + i, [-v for v in vec]) for i in range(5)]
        base = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        q = spark.createDataFrame(
            [(999, vec)], "query_id long, embedding array<float>"
        )
        expected = list(range(5))  # smallest ids among the 20 tied at cos=1
        for nparts in (1, 3, 13):
            got = [
                r["neighbor_id"]
                for r in cosine_topk_twophase(base.repartition(nparts), q, k=5)
                .orderBy("rank")
                .collect()
            ]
            assert got == expected, f"nondeterministic ties at {nparts} partitions"

    def test_topk_zero_norm_vectors_nan_safe(self, spark):
        """ADVICE r04: a zero-norm corpus vector yields NaN cosine; with
        >= k NaNs in one Arrow batch np.partition put NaN at the kth slot
        and the >= mask dropped EVERY candidate in the batch. The kernels
        must still return the k best finite neighbors."""
        from kgfarm_spark.operators.similarity import ivf_topk

        rng = np.random.RandomState(3)
        rows = [(i, rng.randn(8).astype("float64").tolist()) for i in range(10)]
        # 20 zero-norm vectors — far more than k, forced into every batch
        rows += [(100 + i, [0.0] * 8) for i in range(20)]
        corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        q = corpus.filter(F.col("vec_id") == 0).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        exact = {(r["rank"], r["neighbor_id"]) for r in cosine_topk(corpus, q, k=3).collect()}
        for nparts in (1, 4):
            c = corpus.repartition(nparts)
            two = {(r["rank"], r["neighbor_id"]) for r in cosine_topk_twophase(c, q, k=3).collect()}
            assert two == exact, f"twophase dropped finite candidates at {nparts} parts"
            ivf = {(r["rank"], r["neighbor_id"]) for r in ivf_topk(c, q, k=3, n_cells=2, nprobe=2).collect()}
            assert ivf == exact, f"ivf dropped finite candidates at {nparts} parts"

    def test_topk_all_zero_norm_corpus_returns_empty(self, spark):
        """If every candidate is NaN the kernel returns nothing rather
        than NaN neighbors."""
        rows = [(i, [0.0] * 4) for i in range(8)]
        corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        q = spark.createDataFrame(
            [(0, [1.0, 0.0, 0.0, 0.0])], "query_id long, embedding array<double>"
        )
        assert cosine_topk_twophase(corpus, q, k=3).count() == 0

    def test_topk_string_ids(self, spark):
        """ADVICE r03: the partial-top-k out_schema must derive id types
        from the inputs — string ids used to fail/miscast vs the
        hardcoded long."""
        from kgfarm_spark.operators.similarity import ivf_topk

        rng = np.random.RandomState(7)
        rows = [(f"doc_{i:03d}", rng.randn(8).astype("float64").tolist()) for i in range(60)]
        corpus = spark.createDataFrame(rows, "vec_id string, embedding array<double>")
        q = corpus.filter(F.col("vec_id").isin("doc_000", "doc_030")).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        exact = cosine_topk(corpus, q, k=3).collect()
        two = cosine_topk_twophase(corpus, q, k=3).collect()
        assert {(r["query_id"], r["rank"], r["neighbor_id"]) for r in exact} == {
            (r["query_id"], r["rank"], r["neighbor_id"]) for r in two
        }
        ivf = ivf_topk(corpus, q, k=3, n_cells=4, nprobe=4).collect()
        assert len(ivf) == 6
        assert all(isinstance(r["neighbor_id"], str) for r in ivf)
        assert {(r["query_id"], r["rank"], r["neighbor_id"]) for r in ivf} == {
            (r["query_id"], r["rank"], r["neighbor_id"]) for r in exact
        }, "nprobe=n_cells probes every cell → IVF must equal brute force"

    def test_lsh_recall_reasonable(self, emb):
        q = emb.filter(F.col("vec_id") % 10 == 0).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        exact = cosine_topk(emb, q, k=5).collect()
        approx = lsh_topk(emb, q, k=5, n_planes=4).collect()
        e = {(r["query_id"], r["neighbor_id"]) for r in exact}
        a = {(r["query_id"], r["neighbor_id"]) for r in approx}
        recall = len(e & a) / len(e)
        assert recall > 0.2  # 4 planes ≈ 1/16 bucket mass; sanity floor
        assert a  # buckets non-degenerate

    def test_lsh_multi_table_amplifies_recall(self, emb):
        """L independent tables union their candidates: recall must be
        monotone in n_tables (P = 1-(1-p^planes)^L), and the union must
        not produce duplicate (query, neighbor) rows or ranks."""
        q = emb.filter(F.col("vec_id") % 10 == 0).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        exact = cosine_topk(emb, q, k=5).collect()
        e = {(r["query_id"], r["neighbor_id"]) for r in exact}

        def recall(n_tables):
            rows = lsh_topk(emb, q, k=5, n_planes=4, n_tables=n_tables).collect()
            pairs = [(r["query_id"], r["neighbor_id"]) for r in rows]
            assert len(pairs) == len(set(pairs)), "duplicate candidates leaked"
            per_q: dict = {}
            for r in rows:
                per_q.setdefault(r["query_id"], []).append(r["rank"])
            for ranks in per_q.values():
                assert sorted(ranks) == list(range(1, len(ranks) + 1))
            return len(e & set(pairs)) / len(e)

        r1, r4 = recall(1), recall(4)
        assert r4 > r1  # amplification, deterministic hashes (0.28 → 0.56)
        assert r4 >= 0.5


class TestLineageResume:
    def test_resume_byte_equal(self, spark, tmp_path):
        from kgfarm_spark.operators.windows import backfill_features
        from kgfarm_spark.sources.datagen import gen_transcripts

        t = gen_transcripts(spark, n_turns=3000, n_convs=30, seed=5)

        def job(part):
            return backfill_features(part).select(
                "conv_id", "turn_idx", "ts", "turns_so_far", "tool_calls_so_far"
            )

        # single-shot reference
        ref_dir = str(tmp_path / "ref")
        run_checkpointed(job, t, "conv_id", ref_dir, n_buckets=4)
        ref = read_checkpointed_output(spark, ref_dir, 4)

        # crash after 2 buckets, then resume
        part_dir = str(tmp_path / "resumed")
        first = run_checkpointed(job, t, "conv_id", part_dir, n_buckets=4, max_buckets=2)
        assert len(first) == 2
        assert len(read_manifest(part_dir)) == 2
        second = run_checkpointed(job, t, "conv_id", part_dir, n_buckets=4)
        assert len(second) == 2  # only the pending buckets ran
        resumed = read_checkpointed_output(spark, part_dir, 4)

        assert feature_hash(ref) == feature_hash(resumed)
        assert ref.count() == resumed.count() == t.count()

    def test_manifest_records_lineage_fields(self, spark, tmp_path):
        from kgfarm_spark.sources.datagen import gen_transcripts

        t = gen_transcripts(spark, n_turns=500, n_convs=10, seed=6)
        out = str(tmp_path / "m")
        recs = run_checkpointed(lambda d: d, t, "conv_id", out, n_buckets=2, snapshot_id="snap-42")
        for r in recs:
            assert set(r) == {"bucket", "snapshot_id", "rows", "feature_hash", "wall_sec"}
            assert r["snapshot_id"] == "snap-42"
        assert sum(r["rows"] for r in recs) == 500

    def test_resume_detects_snapshot_mismatch(self, spark, tmp_path):
        """ADVICE r01: a resume against a changed input snapshot must not
        silently mix stale bucket outputs with fresh ones — it either
        recomputes the stale buckets (default) or fails fast."""
        from kgfarm_spark.sources.datagen import gen_transcripts

        t1 = gen_transcripts(spark, n_turns=400, n_convs=8, seed=7)
        t2 = gen_transcripts(spark, n_turns=600, n_convs=8, seed=8)
        out = str(tmp_path / "snap")
        run_checkpointed(lambda d: d, t1, "conv_id", out, n_buckets=2, snapshot_id="snap-A")

        with pytest.raises(RuntimeError, match="snapshot"):
            run_checkpointed(
                lambda d: d, t2, "conv_id", out, n_buckets=2,
                snapshot_id="snap-B", on_snapshot_mismatch="fail",
            )

        # default: every stale bucket recomputes against the new input
        recs = run_checkpointed(
            lambda d: d, t2, "conv_id", out, n_buckets=2, snapshot_id="snap-B"
        )
        assert len(recs) == 2 and all(r["snapshot_id"] == "snap-B" for r in recs)
        manifest = read_manifest(out)
        assert all(m["snapshot_id"] == "snap-B" for m in manifest.values())
        assert read_checkpointed_output(spark, out, 2).count() == 600

        # matching snapshot resumes as a no-op
        assert run_checkpointed(
            lambda d: d, t2, "conv_id", out, n_buckets=2, snapshot_id="snap-B"
        ) == []

    def test_default_snapshot_tracks_an_appended_input(self, spark, tmp_path):
        """With default arguments, a resume over a parquet input that
        gained a file re-runs every bucket against the new input; over an
        unchanged input it runs none."""
        from kgfarm_spark.sources.datagen import gen_transcripts

        src = str(tmp_path / "in")
        gen_transcripts(spark, n_turns=100, n_convs=10, seed=3).write.parquet(src)
        out = str(tmp_path / "view")
        assert len(run_checkpointed(lambda d: d, spark.read.parquet(src), "conv_id", out, n_buckets=2)) == 2
        assert run_checkpointed(lambda d: d, spark.read.parquet(src), "conv_id", out, n_buckets=2) == []

        gen_transcripts(spark, n_turns=50, n_convs=10, seed=4).write.mode("append").parquet(src)
        recs = run_checkpointed(lambda d: d, spark.read.parquet(src), "conv_id", out, n_buckets=2)
        assert sorted(r["bucket"] for r in recs) == [0, 1]
        assert read_checkpointed_output(spark, out, 2).count() == 150
        assert run_checkpointed(lambda d: d, spark.read.parquet(src), "conv_id", out, n_buckets=2) == []

    def test_resume_after_torn_manifest_line(self, spark, tmp_path):
        """A crash in the middle of a manifest append leaves a partial last
        line. Resume treats it as the uncommitted bucket it stands for:
        exactly that bucket re-runs, its record lands on a line of its own,
        and the manifest's xor of bucket hashes equals the single-shot
        checksum of the whole output."""
        import functools
        import os

        from kgfarm_spark.sources.datagen import gen_transcripts

        t = gen_transcripts(spark, n_turns=900, n_convs=12, seed=11)
        out = str(tmp_path / "torn")
        first = run_checkpointed(lambda d: d, t, "conv_id", out, n_buckets=3)
        path = os.path.join(out, "manifest.jsonl")
        with open(path, "rb") as f:
            data = f.read()
        last = data[: -1].rfind(b"\n") + 1
        with open(path, "wb") as f:
            f.write(data[: last + (len(data) - last) // 2])  # cut mid-line

        assert sorted(read_manifest(out)) == sorted(r["bucket"] for r in first[:-1])
        again = run_checkpointed(lambda d: d, t, "conv_id", out, n_buckets=3)
        assert [r["bucket"] for r in again] == [first[-1]["bucket"]]
        manifest = read_manifest(out)
        assert sorted(manifest) == [0, 1, 2]
        assert sum(r["rows"] for r in manifest.values()) == 900
        xor = functools.reduce(lambda a, r: a ^ r["feature_hash"], manifest.values(), 0)
        assert xor == feature_hash(read_checkpointed_output(spark, out, 3))
        with open(path, "rb") as f:
            assert len(f.read().splitlines()) == 3

    def test_corrupt_interior_manifest_line_names_file_and_line(self, tmp_path):
        """Only a final line can be a torn append; an unparseable line before
        it is corruption and must not be skipped silently."""
        import os

        path = os.path.join(str(tmp_path), "manifest.jsonl")
        with open(path, "w") as f:
            f.write('{"bucket": 0}\n{"bucket": 1\n{"bucket": 2}\n')
        with pytest.raises(ValueError, match=r"manifest\.jsonl: line 2"):
            read_manifest(str(tmp_path))


class TestStreaming:
    def test_stream_session_counts_match_batch(self, spark, tmp_path):
        from kgfarm_spark.operators.windows import sessionize
        from kgfarm_spark.sources.datagen import gen_transcripts
        from kgfarm_spark.streaming.stream import stream_session_aggregates

        t = gen_transcripts(spark, n_turns=2000, n_convs=15, seed=9)
        src = str(tmp_path / "stream_src")
        t.write.mode("overwrite").parquet(src)

        stream = spark.readStream.schema(t.schema).parquet(src)
        sessions = stream_session_aggregates(stream, gap="30 minutes", watermark="0 seconds")
        q = (
            sessions.writeStream.format("memory")
            .queryName("sess_out")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = spark.sql("select sum(n_turns) s, count(*) c from sess_out").first()

        batch_sessions = sessionize(spark.read.parquet(src), gap="30 minutes")
        expected_sessions = batch_sessions.select("conv_id", "session_id").distinct().count()
        assert got["s"] == 2000
        assert got["c"] == expected_sessions

    def test_stateful_running_features_match_batch(self, spark, tmp_path):
        """applyInPandasWithState custom operator: two ordered micro-batches
        (maxFilesPerTrigger=1) must carry state across batches and reproduce
        the batch backfill_features cumulative columns exactly."""
        import time as _time

        from pyspark.sql import functions as F

        from kgfarm_spark.operators.windows import backfill_features
        from kgfarm_spark.sources.datagen import gen_transcripts
        from kgfarm_spark.streaming.stream import stream_running_features

        t = gen_transcripts(spark, n_turns=600, n_convs=8, seed=11).cache()
        mid = 30
        src = str(tmp_path / "state_src")
        early = t.filter(F.col("turn_idx") < mid)
        late = t.filter(F.col("turn_idx") >= mid)
        early.coalesce(1).write.mode("overwrite").parquet(src + "/b1")
        _time.sleep(1.1)  # file source orders batches by mod time
        late.coalesce(1).write.mode("append").parquet(src + "/b1")

        stream = spark.readStream.schema(t.schema).option(
            "maxFilesPerTrigger", 1
        ).parquet(src + "/b1")
        q = (
            stream_running_features(stream, watermark="0 seconds")
            .writeStream.format("memory")
            .queryName("run_feat")
            .outputMode("append")
            .trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )
        q.awaitTermination(180)
        got = {
            (r["conv_id"], r["turn_idx"]): (
                r["turns_so_far"], r["tool_calls_so_far"], r["text_len_sum"]
            )
            for r in spark.sql("select * from run_feat").collect()
        }
        exp = {
            (r["conv_id"], r["turn_idx"]): (
                r["turns_so_far"], r["tool_calls_so_far"], r["text_len_sum"]
            )
            for r in backfill_features(t).select(
                "conv_id", "turn_idx", "turns_so_far",
                "tool_calls_so_far", "text_len_sum",
            ).collect()
        }
        assert len(got) == 600
        assert got == exp

    def test_bpe_apply_broadcast_streams_unchanged(self, spark, tmp_path):
        """Tokenize-at-ingest: bpe_apply(method='broadcast') is a stateless
        Arrow kernel over a broadcast census, so the identical call works on
        a readStream frame and must emit exactly the batch tokens."""
        from kgfarm_spark.operators.bpe import bpe_apply, bpe_train

        docs = _smoke_docs(spark).limit(200).localCheckpoint()
        _, seg = bpe_train(docs, "text", n_merges=8)
        seg = seg.localCheckpoint()

        src = str(tmp_path / "tok_src")
        docs.write.mode("overwrite").parquet(src)
        stream = spark.readStream.schema(docs.schema).parquet(src)
        q = (
            bpe_apply(stream, seg, "text", "doc_id")
            .writeStream.format("memory")
            .queryName("bpe_stream_out")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {
            r["doc_id"]: list(r["tokens"])
            for r in spark.sql("select * from bpe_stream_out").collect()
        }
        want = {
            r["doc_id"]: list(r["tokens"])
            for r in bpe_apply(docs, seg, "text", "doc_id").collect()
        }
        assert got == want and len(got) == 200

    def test_unigram_apply_streams_unchanged(self, spark, tmp_path):
        """The unigram tokenizer's Viterbi apply is the same stateless
        broadcast shape as bpe_apply: identical call on a readStream frame,
        identical tokens (tokenize-at-ingest for the SentencePiece-style
        model)."""
        from kgfarm_spark.operators.unigram import unigram_apply, unigram_train

        docs = _smoke_docs(spark).limit(200).localCheckpoint()
        pieces = unigram_train(docs, "text", vocab_size=300, max_piece_len=4,
                               seed_size=1000, em_iters=1,
                               strategy="local").localCheckpoint()

        src = str(tmp_path / "uni_src")
        docs.write.mode("overwrite").parquet(src)
        stream = spark.readStream.schema(docs.schema).parquet(src)
        q = (
            unigram_apply(stream, pieces, "text", "doc_id", max_piece_len=4)
            .writeStream.format("memory")
            .queryName("uni_stream_out")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {
            r["doc_id"]: list(r["tokens"])
            for r in spark.sql("select * from uni_stream_out").collect()
        }
        want = {
            r["doc_id"]: list(r["tokens"])
            for r in unigram_apply(docs, pieces, "text", "doc_id",
                                   max_piece_len=4).collect()
        }
        assert got == want and len(got) == 200

    def test_stateful_running_features_ttl_evicts_idle_state(self, spark, tmp_path):
        """ADVICE r01: with state_ttl set, per-conversation state uses an
        event-time timeout — a conversation idle past watermark+ttl is
        evicted (counters restart if it resumes); active conversations are
        unaffected."""
        import time as _time

        from kgfarm_spark.streaming.stream import stream_running_features

        base = 1_700_000_000  # epoch seconds
        def rows(conv, idxs, t0):
            return [
                (conv, i, __import__("datetime").datetime.utcfromtimestamp(t0 + i * 60),
                 "user", f"text-{conv}-{i}", None)
                for i in idxs
            ]

        schema = "conv_id string, turn_idx int, ts timestamp, role string, text string, tool string"
        b1 = spark.createDataFrame(rows("X", [0, 1, 2], base) + rows("Y", [0], base), schema)
        b2 = spark.createDataFrame(rows("Y", [1], base + 3600), schema)      # wm advances, X idle
        b3 = spark.createDataFrame(rows("Y", [2], base + 7200), schema)      # X's timeout fires
        b4 = spark.createDataFrame(rows("X", [3, 4], base + 10800) + rows("Y", [3], base + 10800), schema)

        src = str(tmp_path / "ttl_src")
        for i, b in enumerate([b1, b2, b3, b4]):
            b.coalesce(1).write.mode("append").parquet(src)
            _time.sleep(1.1)  # file source orders batches by mod time

        stream = spark.readStream.schema(b1.schema).option("maxFilesPerTrigger", 1).parquet(src)
        q = (
            stream_running_features(stream, watermark="0 seconds", state_ttl="1 minute")
            .writeStream.format("memory")
            .queryName("ttl_feat")
            .outputMode("append")
            .trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / "ttl_ckpt"))
            .start()
        )
        q.awaitTermination(180)
        got = {
            (r["conv_id"], r["turn_idx"]): r["turns_so_far"]
            for r in spark.sql("select * from ttl_feat").collect()
        }
        # X was evicted while idle → its counters restart at batch 4
        assert got[("X", 0)] == 1 and got[("X", 2)] == 3
        assert got[("X", 3)] == 1 and got[("X", 4)] == 2
        # Y stayed active every batch → counters carry across all batches
        assert got[("Y", 3)] == 4

    def test_stream_rolling_counts_match_batch(self, spark, tmp_path):
        """Sliding-window streaming counts equal the batch window() groupBy
        on the same input."""
        from kgfarm_spark.sources.datagen import gen_transcripts
        from kgfarm_spark.streaming.stream import stream_rolling_counts

        t = gen_transcripts(spark, n_turns=1500, n_convs=10, seed=13)
        src = str(tmp_path / "roll_src")
        t.write.mode("overwrite").parquet(src)

        stream = spark.readStream.schema(t.schema).parquet(src)
        q = (
            stream_rolling_counts(stream, size="10 minutes", slide="5 minutes")
            .writeStream.format("memory")
            .queryName("roll_out")
            .outputMode("append")
            .trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / "roll_ckpt"))
            .start()
        )
        q.awaitTermination(120)
        got = {
            (r["conv_id"], r["window_start"], r["window_end"]): (r["n_turns"], r["text_len_sum"])
            for r in spark.sql("select * from roll_out").collect()
        }
        batch = (
            spark.read.parquet(src)
            .groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"), "conv_id")
            .agg(F.count(F.lit(1)).alias("n"), F.sum(F.length("text")).alias("s"))
        )
        exp = {
            (r["conv_id"], r["w"]["start"], r["w"]["end"]): (r["n"], r["s"])
            for r in batch.collect()
        }
        # append mode emits a window only once the watermark passes its end;
        # windows ending within the 1h watermark delay of max(ts) stay in
        # state when the stream drains — every emitted window must match the
        # batch, and every batch window older than the final watermark must
        # have been emitted.
        import datetime

        max_ts = spark.read.parquet(src).agg(F.max("ts")).first()[0]
        wm = max_ts - datetime.timedelta(hours=1)
        assert got.items() <= exp.items()
        closed = {k: v for k, v in exp.items() if k[2] <= wm}
        assert closed.items() <= got.items()
        assert len(got) >= len(closed) > 0

    def test_stream_enrich_against_static_features(self, spark, tmp_path):
        """Stream-static point-in-time enrichment equals the batch join with
        the same freshness predicate."""
        from kgfarm_spark.sources.datagen import gen_probes, gen_transcripts
        from kgfarm_spark.streaming.stream import stream_enrich_against_features

        t = gen_transcripts(spark, n_turns=800, n_convs=8, seed=14)
        features = t.select("conv_id", "ts", F.length("text").alias("text_len"))
        probes = gen_probes(spark, t)
        src = str(tmp_path / "probe_src")
        probes.write.mode("overwrite").parquet(src)

        stream = spark.readStream.schema(probes.schema).parquet(src)
        q = (
            stream_enrich_against_features(stream, features, tolerance="1 DAY")
            .writeStream.format("memory")
            .queryName("enrich_out")
            .outputMode("append")
            .trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / "enrich_ckpt"))
            .start()
        )
        q.awaitTermination(120)
        got = spark.sql("select * from enrich_out")

        f = features.select(
            F.col("conv_id").alias("__c"), F.col("ts").alias("matched_ts"), "text_len"
        )
        cond = (
            (probes["conv_id"] == f["__c"])
            & (f["matched_ts"] <= probes["query_ts"])
            & (f["matched_ts"] >= probes["query_ts"] - F.expr("INTERVAL 1 DAY"))
        )
        exp = probes.join(f, cond, "left").drop("__c")
        key = lambda r: (r["conv_id"], r["query_ts"], r["probe_id"], r["matched_ts"], r["text_len"])
        assert sorted(map(key, got.collect())) == sorted(map(key, exp.collect()))

    def test_input_snapshot_id_tracks_files(self, spark, tmp_path):
        from kgfarm_spark.plans.lineage import input_snapshot_id
        from kgfarm_spark.sources.datagen import gen_transcripts

        t = gen_transcripts(spark, n_turns=200, n_convs=4, seed=2)
        p = str(tmp_path / "snap")
        t.write.mode("overwrite").parquet(p)
        df = spark.read.parquet(p)
        s1 = input_snapshot_id(df)
        s2 = input_snapshot_id(spark.read.parquet(p))
        assert s1 == s2 and len(s1) == 16
        # appending a file changes the snapshot id
        t.limit(10).write.mode("append").parquet(p)
        s3 = input_snapshot_id(spark.read.parquet(p))
        assert s3 != s1
        assert input_snapshot_id(t) == "in-memory"


class TestIVF:
    def test_ivf_recall_vs_bruteforce(self, spark):
        """IVF with nprobe=4/8 cells must recover most brute-force
        neighbors on clustered data (deterministic fixture + quantizer)."""
        import numpy as np

        from kgfarm_spark.operators.similarity import cosine_topk, ivf_topk

        rng = np.random.default_rng(17)
        centers = rng.normal(0, 5, (8, 16))
        rows = []
        for i in range(400):
            c = i % 8
            rows.append((i, (centers[c] + rng.normal(0, 0.3, 16)).tolist()))
        corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        queries = corpus.filter("vec_id % 40 = 0").selectExpr(
            "vec_id as query_id", "embedding"
        )
        brute = {
            (r["query_id"], r["neighbor_id"])
            for r in cosine_topk(corpus, queries, k=5).collect()
        }
        ivf = {
            (r["query_id"], r["neighbor_id"])
            for r in ivf_topk(corpus, queries, k=5, n_cells=8, nprobe=4).collect()
        }
        recall = len(brute & ivf) / len(brute)
        assert recall >= 0.8, f"recall {recall}"

    def test_ivf_deterministic(self, spark):
        import numpy as np

        from kgfarm_spark.operators.similarity import fit_ivf_centroids

        rng = np.random.default_rng(18)
        rows = [(i, rng.normal(0, 1, 8).tolist()) for i in range(200)]
        corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        c1 = fit_ivf_centroids(corpus, n_cells=4)
        c2 = fit_ivf_centroids(corpus.repartition(7), n_cells=4)
        np.testing.assert_allclose(c1, c2)


def test_discover_joins_matches_per_pair_bruteforce(spark):
    """The melted single-pass discover_joins must equal the per-pair
    pkfk_features brute force on a multi-table fixture (incl. a sub-threshold
    pair that must be excluded)."""
    from pyspark.sql import functions as F

    from kgfarm_spark.functions.profiling import (
        detect_entities,
        discover_joins,
        pkfk_features,
        profile_table,
    )

    dims = spark.createDataFrame(
        [(i, f"name{i}", i % 3) for i in range(20)],
        "d_key long, d_name string, d_region long",
    )
    facts = spark.createDataFrame(
        [(i, i % 20, float(i)) for i in range(200)],
        "f_id long, f_dkey long, f_val double",
    )
    partial = spark.createDataFrame(
        [(i,) for i in range(15, 40)], "p_dkey long"  # 5/25 contained → 0.2
    )
    tables = {"dims": dims, "facts": facts, "partial": partial}

    got = [
        (r["pk_table"], r["pk_col"], r["fk_table"], r["fk_col"], r["joinability"])
        for r in discover_joins(spark, tables, containment_threshold=0.9).collect()
    ]

    # brute force with the single-pair kernel
    ents = {
        t: {
            r["column_name"]
            for r in detect_entities(profile_table(df, t, exact=True)).collect()
        }
        for t, df in tables.items()
    }
    from kgfarm_spark.functions.profiling import _ref_type

    types = {t: {f.name: _ref_type(f.dataType) for f in df.schema.fields} for t, df in tables.items()}
    expected = []
    for pk_t, pk_df in tables.items():
        for pk_c in ents[pk_t]:
            for fk_t, fk_df in tables.items():
                if fk_t == pk_t:
                    continue
                for fk_c in fk_df.columns:
                    if types[fk_t][fk_c] != types[pk_t][pk_c]:
                        continue
                    feats = pkfk_features(fk_df, fk_c, pk_df, pk_c)
                    if feats["containment"] >= 0.9:
                        expected.append(
                            (pk_t, pk_c, fk_t, fk_c, round(feats["containment"], 6))
                        )
    assert sorted(got) == sorted(expected)
    assert ("dims", "d_key", "facts", "f_dkey", 1.0) in got
    # (pk=dims.d_key ← fk=partial.p_dkey) has containment 5/25 = 0.2 → excluded
    assert not any(
        r[0] == "dims" and r[2] == "partial" and r[3] == "p_dkey" for r in got
    )


def test_discover_joins_job_count_scales_with_tables_not_pairs(spark):
    """Regression for VERDICT r01 'What's wrong' #4: the old implementation
    launched ~4 Spark jobs per candidate pair; the melted rewrite launches a
    fixed number per TABLE (profiling) plus a constant for the final pass."""
    from kgfarm_spark.functions.profiling import discover_joins

    sc = spark.sparkContext
    # 4 tables sharing one key domain → many same-type candidate pairs
    tables = {
        f"t{i}": spark.createDataFrame(
            [(j, j + i, float(j)) for j in range(50)],
            f"k{i} long, a{i} long, v{i} double",
        )
        for i in range(4)
    }
    sc.setJobGroup("dj_jobcount", "discover_joins job-count regression")
    try:
        got = discover_joins(spark, tables, containment_threshold=0.5)
        n_pairs_possible = 0
        # candidate-pair count from metadata alone (the thing the old
        # per-pair design multiplied jobs by): every unique column is an
        # entity here, so pairs = same-type cross-table column pairs
        types = {
            t: [f.dataType.simpleString() for f in df.schema.fields]
            for t, df in tables.items()
        }
        for pk_t, pk_types in types.items():
            for fk_t, fk_types in types.items():
                if fk_t == pk_t:
                    continue
                for pt in pk_types:
                    n_pairs_possible += sum(1 for ft in fk_types if ft == pt)
        got.collect()
    finally:
        sc.setJobGroup(None, None)
    jobs = sc.statusTracker().getJobIdsForGroup("dj_jobcount")
    # The old design launched ≥4 Spark jobs PER candidate pair (~240 here).
    # The melted design's job count (profiling per table + a handful of AQE
    # stage-jobs for the single final pass) must stay below one job per pair.
    assert n_pairs_possible >= 50
    assert len(jobs) < n_pairs_possible, (len(jobs), n_pairs_possible)


def test_csv_sink_feature_export_roundtrip(spark, tmp_path):
    """S3 (CSV sink): the reference exports feature frames with to_csv
    (feature_generator.py:123-125); here df.write.csv with header —
    round-trips schema'd content exactly."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [("nation", "n_nationkey", 1.0, 0.04), ("orders", "o_orderkey", 1.0, 1.0)],
        "pk_table string, pk_col string, containment double, coverage double",
    )
    out = str(tmp_path / "features_csv")
    df.coalesce(1).write.mode("overwrite").option("header", True).csv(out)
    back = spark.read.option("header", True).csv(out).select(
        "pk_table", "pk_col",
        F.col("containment").cast("double").alias("containment"),
        F.col("coverage").cast("double").alias("coverage"),
    )
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))


def test_ivf_distributed_fit_matches_numpy_lloyd(spark):
    """fit_ivf_centroids_distributed (whole-corpus mapInPandas partials)
    must match a single-process numpy Lloyd run from the same init, and
    plug into ivf_topk with recall >= the sampled fit."""
    from kgfarm_spark.operators.similarity import (
        cosine_topk,
        fit_ivf_centroids_distributed,
        ivf_topk,
    )

    rng = np.random.RandomState(17)
    centers = rng.randn(6, 8) * 4
    rows = []
    for i in range(600):
        c = i % 6
        rows.append((i, (centers[c] + rng.randn(8) * 0.3).astype("float32").tolist()))
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>").repartition(8)

    got = fit_ivf_centroids_distributed(corpus, n_cells=6, iters=8)

    # numpy twin from the same deterministic init
    import hashlib

    ordered = sorted(rows, key=lambda r: hashlib.md5(str(r[0]).encode()).hexdigest())
    x = np.array([r[1] for r in rows], dtype=np.float64)
    cents = np.array([r[1] for r in ordered[:6]], dtype=np.float64)
    for _ in range(8):
        d = ((x[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        a = d.argmin(axis=1)
        for c in range(6):
            m = x[a == c]
            if len(m):
                cents[c] = m.mean(axis=0)
    np.testing.assert_allclose(np.sort(got, axis=0), np.sort(cents, axis=0), rtol=1e-9)

    # end-to-end: distributed centroids drive ivf_topk with high recall
    q = corpus.filter(F.col("vec_id") % 60 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {(r["query_id"], r["neighbor_id"]) for r in cosine_topk(corpus, q, k=5).collect()}
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_topk(corpus, q, k=5, centroids=got, nprobe=2).collect()
    }
    assert len(exact & approx) / len(exact) >= 0.8


def test_discover_joins_approx_profile_mode(spark):
    """exact=False (HLL distinct counts) finds the same relations on the
    TPC-H fixture with a threshold that absorbs HLL noise."""
    from kgfarm_spark.functions.profiling import discover_joins

    tables = {
        t: spark.read.parquet(f"/root/testdata/sf0.001/{t}.parquet")
        for t in ["nation", "customer", "supplier"]
    }
    exact = {
        tuple(r[:4])
        for r in discover_joins(spark, tables, containment_threshold=0.9).collect()
    }
    approx = {
        tuple(r[:4])
        for r in discover_joins(
            spark, tables, uniqueness_threshold=0.9,
            containment_threshold=0.9, exact=False,
        ).collect()
    }
    assert ("nation", "n_nationkey", "customer", "c_nationkey") in approx
    assert exact <= approx  # HLL slack may admit extra entity cols, never lose relations


def test_stream_stream_asof_interval_matches_batch(spark, tmp_path):
    """Both sides streaming: the event-time-bounded stream-stream join must
    emit exactly the batch all_in_window as-of rows."""
    from kgfarm_spark.operators.asof import asof_join
    from kgfarm_spark.sources.datagen import gen_probes, gen_transcripts
    from kgfarm_spark.streaming.stream import stream_stream_asof_interval

    t = gen_transcripts(spark, n_turns=800, n_convs=8, seed=15)
    probes = gen_probes(spark, t)
    t_src, p_src = str(tmp_path / "t_src"), str(tmp_path / "p_src")
    t.write.mode("overwrite").parquet(t_src)
    probes.write.mode("overwrite").parquet(p_src)

    st_t = spark.readStream.schema(t.schema).parquet(t_src)
    st_p = spark.readStream.schema(probes.schema).parquet(p_src)
    q = (
        stream_stream_asof_interval(st_p, st_t, tolerance="4 hours")
        .writeStream.format("memory")
        .queryName("ss_asof")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ss_ckpt"))
        .start()
    )
    q.awaitTermination(180)
    got = spark.sql("select * from ss_asof")

    exp = asof_join(
        probes, t, on="conv_id", left_ts="query_ts", right_ts="ts",
        tolerance="4 HOUR", mode="all_in_window", right_cols=["turn_idx", "role"],
    ).select(
        "probe_id", "conv_id", "query_ts", "matched_ts",
        F.col("turn_idx").alias("matched_turn_idx"),
        F.col("role").alias("matched_role"),
    )
    key = lambda r: (r["probe_id"], r["matched_ts"], r["matched_turn_idx"])
    assert sorted(map(key, got.collect())) == sorted(map(key, exp.collect()))
    assert got.count() > 0


class TestDedupComponents:
    def _union_find(self, n_ids, edges):
        parent = {i: i for i in n_ids}
        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x
        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        return {i: find(i) for i in n_ids}

    def test_components_equal_union_find(self, spark):
        """Distributed min-label propagation must match a driver-side
        union-find on a graph with chains, a star, and disjoint pairs."""
        import random

        from kgfarm_spark.operators.dedup import dedup_components

        rng = random.Random(7)
        edges = [(i, i + 1) for i in range(0, 10)]            # chain 0..10
        edges += [(100, x) for x in (101, 102, 103, 104)]     # star
        edges += [(200, 201), (300, 301)]                     # disjoint pairs
        edges += [(rng.randrange(400, 430), rng.randrange(400, 430)) for _ in range(25)]
        edges = [(a, b) if a < b else (b, a) for a, b in edges if a != b]
        pairs = spark.createDataFrame(edges, "id_a long, id_b long")
        got = {r["id"]: r["component"] for r in dedup_components(pairs).collect()}
        ids = {x for e in edges for x in e}
        want = self._union_find(ids, edges)
        assert got == want

    def test_components_nonconvergence_raises(self, spark):
        """A chain longer than max_iter must fail loudly, not return
        partially-propagated (wrong) components."""
        from kgfarm_spark.operators.dedup import dedup_components

        chain = spark.createDataFrame(
            [(i, i + 1) for i in range(8)], "id_a long, id_b long"
        )
        with pytest.raises(RuntimeError, match="did not converge"):
            dedup_components(chain, max_iter=1)
        # and converges fine when given enough rounds
        got = {r["id"]: r["component"] for r in dedup_components(chain, max_iter=10).collect()}
        assert set(got.values()) == {0}

    def test_simhash_max_hamming_range_enforced(self, spark):
        """ADVICE r04: max_hamming >= 64 degenerates to width-0 bands
        (mask 0 → full cross join) — out-of-range budgets must be
        rejected before any Spark work."""
        from kgfarm_spark.operators.dedup import simhash_neardup_pairs

        docs = spark.createDataFrame([(0, "a b c")], "doc_id long, text string")
        for bad in (-1, 16, 64, 100):
            with pytest.raises(ValueError, match="max_hamming"):
                simhash_neardup_pairs(docs, "doc_id", "text", max_hamming=bad)

    def test_components_max_iter_zero_raises_valueerror(self, spark):
        """ADVICE r04: max_iter=0 used to raise NameError from the
        unbound 'changed' in the for-else — must be a clean ValueError."""
        from kgfarm_spark.operators.dedup import dedup_components

        pairs = spark.createDataFrame([(0, 1)], "id_a long, id_b long")
        with pytest.raises(ValueError, match="max_iter"):
            dedup_components(pairs, max_iter=0)

    def test_components_deep_chain_converges_via_pointer_doubling(self, spark):
        """A 1000-deep chain must converge within the DEFAULT max_iter=20:
        the pointer-doubling shortcut halves the remaining diameter each
        round (O(log L) rounds), where plain min-propagation would need
        ~1000 rounds."""
        from kgfarm_spark.operators.dedup import dedup_components

        n = 1000
        chain = spark.createDataFrame(
            [(i, i + 1) for i in range(n)], "id_a long, id_b long"
        )
        got = dedup_components(chain)  # default max_iter=20
        comps = {r["component"] for r in got.collect()}
        assert comps == {0}
        assert got.count() == n + 1

    def test_keep_component_min_vs_greedy_chain(self, spark):
        """Chain a-b, b-c: greedy pair-drop removes b AND c; the
        component path keeps exactly one representative per cluster and
        leaves unpaired rows alone."""
        from kgfarm_spark.operators.dedup import (
            dedup_by_pairs,
            dedup_keep_component_min,
        )

        df = spark.createDataFrame(
            [(i, f"doc {i}") for i in range(6)], "doc_id long, text string"
        )
        pairs = spark.createDataFrame([(0, 1), (1, 2)], "id_a long, id_b long")
        greedy = {r["doc_id"] for r in dedup_by_pairs(df, pairs, "doc_id").collect()}
        comp = {r["doc_id"] for r in dedup_keep_component_min(df, pairs, "doc_id").collect()}
        assert greedy == {0, 3, 4, 5}
        assert comp == {0, 3, 4, 5}  # same here: 0 is the component min
        # but a chain where the min is in the middle differs:
        pairs2 = spark.createDataFrame([(1, 5), (0, 5)], "id_a long, id_b long")
        comp2 = {r["doc_id"] for r in dedup_keep_component_min(df, pairs2, "doc_id").collect()}
        greedy2 = {r["doc_id"] for r in dedup_by_pairs(df, pairs2, "doc_id").collect()}
        assert comp2 == {0, 2, 3, 4}  # component {0,1,5} keeps min 0
        assert greedy2 == {0, 1, 2, 3, 4}  # greedy only drops id_b=5, keeps BOTH 0 and 1


class TestTextAdditions:
    def test_mean_word_len_ignores_repeated_whitespace(self, spark):
        """VERDICT r04 weak #4: runs of spaces/tabs must not inflate the
        mean word length — 'ab   cd' (3 separators) and 'ab cd' must both
        measure 2.0 chars/word, so their word_len_ok gates agree."""
        from kgfarm_spark.operators.textstats import quality_features

        rows = [
            (0, "abcd efgh"),            # single spaces: 4.0
            (1, "abcd    efgh"),         # run of spaces: still 4.0
            (2, "abcd\t\t efgh"),        # tabs+space mix: still 4.0
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r["doc_id"]: r["quality_score"] for r in quality_features(df, "text").collect()}
        # identical word-length signal → identical composite score except
        # the punct/digit ratios (none here) — scores must all be equal
        assert got[0] == got[1] == got[2]

    def test_redact_pii(self, spark):
        from kgfarm_spark.operators.textstats import redact_pii

        rows = [
            (0, "mail me at a.b+c@sub.example.org please"),
            (1, "server at 10.0.255.3 responded"),
            (2, "call +1 (555) 123-4567 now"),
            (3, "no pii here at all"),
            (4, "both x@y.io and 1.2.3.4 and +44 20 7946 0958"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r["doc_id"]: r["text"] for r in redact_pii(df, "text").collect()}
        assert got[0] == "mail me at <EMAIL> please"
        assert got[1] == "server at <IP> responded"
        assert got[2] == "call <PHONE> now"
        assert got[3] == "no pii here at all"
        assert "<EMAIL>" in got[4] and "<IP>" in got[4] and "<PHONE>" in got[4]
        assert "@" not in got[4]

    def test_repetition_signals(self, spark):
        from kgfarm_spark.operators.textstats import repetition_signals

        rows = [
            (0, "a b c d e"),                       # all distinct bigrams
            (1, "spam spam spam spam spam"),        # one bigram repeated
            (2, "line one\nline one\nline two"),    # duplicate line
            (3, "solo"),                            # <2 tokens -> 0.0
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r["doc_id"]: r for r in repetition_signals(df).collect()}
        assert got[0]["top_bigram_frac"] == 0.25       # 4 distinct bigrams
        assert got[1]["top_bigram_frac"] == 1.0        # 'spam spam' x4
        assert got[1]["dup_line_frac"] == 0.0
        assert abs(got[2]["dup_line_frac"] - (1 - 2 / 3)) < 1e-6
        assert got[3]["top_bigram_frac"] == 0.0
        assert len(got) == 4                           # no doc dropped


class TestCorpusDedupAndGate:
    """Round-5 corpus-level pretraining operators: exact duplicate-span
    census (Lee et al. 2021 n-gram flavor), C4-style corpus-wide line
    dedup (Raffel et al. 2020 §2.2), Gopher-style quality gate."""

    def test_duplicate_ngram_spans_hand_computed(self, spark):
        from kgfarm_spark.operators.dedup import duplicate_ngram_spans

        rows = [
            (1, "a b c d e f"),        # spans: 'a b c d e', 'b c d e f'
            (2, "a b c d e x"),        # spans: 'a b c d e', 'b c d e x'
            (3, "z z z"),              # < n words -> zero spans
            # same span 3x WITHIN one doc: distinct-doc count is 1 -> not dup
            (4, "q r s t u q r s t u q r s t u"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r["doc_id"]: r for r in
               duplicate_ngram_spans(df, n=5, min_docs=2).collect()}
        assert len(got) == 4                       # every doc present
        assert got[1]["n_spans"] == 2 and got[1]["dup_spans"] == 1
        assert got[1]["dup_span_frac"] == 0.5
        assert got[2]["n_spans"] == 2 and got[2]["dup_spans"] == 1
        assert got[3]["n_spans"] == 0 and got[3]["dup_spans"] == 0
        assert got[3]["dup_span_frac"] == 0.0
        assert got[4]["n_spans"] == 11 and got[4]["dup_spans"] == 0

    def test_duplicate_ngram_spans_validates_args(self, spark):
        from kgfarm_spark.operators.dedup import duplicate_ngram_spans

        df = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
        with pytest.raises(ValueError):
            duplicate_ngram_spans(df, n=0)
        with pytest.raises(ValueError):
            duplicate_ngram_spans(df, min_docs=1)

    def test_dedup_lines_corpus_first_occurrence_wins(self, spark):
        from kgfarm_spark.operators.dedup import dedup_lines_corpus

        rows = [
            (1, "h\nx\ny"),
            (2, "h\nx\nz"),
            (3, "h"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r["doc_id"]: r for r in dedup_lines_corpus(df).collect()}
        assert got[1]["text"] == "h\nx\ny"          # owns every first occurrence
        assert (got[1]["n_lines"], got[1]["n_lines_kept"]) == (3, 3)
        assert got[2]["text"] == "z"                # 'h','x' were d1's
        assert (got[2]["n_lines"], got[2]["n_lines_kept"]) == (3, 1)
        assert got[3]["text"] == ""                 # fully deduplicated away
        assert (got[3]["n_lines"], got[3]["n_lines_kept"]) == (1, 0)

    def test_dedup_lines_corpus_normalized_match_keeps_original(self, spark):
        from kgfarm_spark.operators.dedup import dedup_lines_corpus

        rows = [(1, "Hello  World"), (2, "hello world\nunique")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r["doc_id"]: r for r in
               dedup_lines_corpus(df, normalize=True).collect()}
        assert got[1]["text"] == "Hello  World"     # original text preserved
        assert got[2]["text"] == "unique"           # normalized dup removed
        # without normalize the two headers differ -> both kept
        raw = {r["doc_id"]: r for r in dedup_lines_corpus(df).collect()}
        assert raw[2]["text"] == "hello world\nunique"

    def test_quality_gate_per_rule_flags(self, spark):
        from kgfarm_spark.operators.textstats import quality_gate

        good = ("the quick brown fox jumps over a lazy dog and it "
                "runs to the old barn in good time")
        rows = [
            (1, good),                                   # passes everything
            (2, "the cat"),                              # too few words
            (3, good + " 12345 67890 12345 67890 12345 67890 12345 67890"),  # digit-heavy
            (4, "a " * 20),                              # mean word len 1 < 3
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r["doc_id"]: r for r in quality_gate(df).collect()}
        assert got[1]["keep"] and all(
            got[1][c] for c in
            ("words_ok", "word_len_ok", "punct_ok", "digit_ok", "stopword_ok"))
        assert not got[2]["words_ok"] and not got[2]["keep"]
        assert not got[3]["digit_ok"] and not got[3]["keep"]
        assert not got[4]["word_len_ok"] and not got[4]["keep"]

    def test_quality_gate_mean_word_len_ignores_extra_whitespace(self, spark):
        from kgfarm_spark.operators.textstats import quality_gate

        # identical words, wildly different whitespace -> identical flags
        a = "the and of to a in is it you that words here now then"
        b = "the   and  of \t to a in is it you that  words here now then"
        df = spark.createDataFrame(
            [(1, a), (2, b)], "doc_id long, text string")
        got = {r["doc_id"]: r for r in quality_gate(df, min_words=5).collect()}
        for c in ("words_ok", "word_len_ok", "keep"):
            assert got[1][c] == got[2][c]


class TestPackingAndMixing:
    """Sequence packing, unigram-LM scoring, source-weighted mixing."""

    def test_pack_sequences_hand_computed(self, spark):
        from kgfarm_spark.operators.packing import pack_sequences

        rows = [(1, 4), (2, 6), (3, 3), (4, 8), (5, 2)]
        df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
        got = {r["doc_id"]: r for r in
               pack_sequences(df, budget=10).collect()}
        assert [got[i]["tokens_before"] for i in range(1, 6)] == [0, 4, 10, 13, 21]
        assert [got[i]["seq_id"] for i in range(1, 6)] == [0, 0, 1, 1, 2]
        assert [got[i]["offset_in_seq"] for i in range(1, 6)] == [0, 4, 0, 3, 1]
        # only doc 4 (starts at offset 3, 8 tokens) spills into seq 2
        assert [got[i]["crosses_boundary"] for i in range(1, 6)] == [
            False, False, False, True, False]

    def test_pack_sequences_bucket_invariance(self, spark):
        from kgfarm_spark.operators.packing import pack_sequences

        rows = [(i, (i * 7) % 13 + 1) for i in range(200)]
        df = spark.createDataFrame(rows, "doc_id long, n_tokens long").repartition(7)
        a = sorted(pack_sequences(df, budget=64, n_buckets=1).collect())
        b = sorted(pack_sequences(df, budget=64, n_buckets=16).collect())
        assert a == b                      # bucket decomposition is exact
        with pytest.raises(ValueError):
            pack_sequences(df, budget=0)

    def test_unigram_logprob_hand_computed(self, spark):
        import math

        from kgfarm_spark.operators.textstats import unigram_logprob

        rows = [(1, "a a b"), (2, "b c"), (3, "")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r["doc_id"]: r for r in unigram_logprob(df).collect()}
        # counts: a=2, b=2, c=1, N=5
        assert got[1]["n_words"] == 3
        assert got[1]["logprob_sum"] == pytest.approx(3 * math.log(0.4), abs=1e-5)
        assert got[2]["mean_logprob"] == pytest.approx(
            (math.log(0.4) + math.log(0.2)) / 2, abs=1e-5)
        assert got[3]["n_words"] == 0 and got[3]["logprob_sum"] == 0.0

    def test_stratified_mix_rates_and_nesting(self, spark):
        from kgfarm_spark.operators.packing import stratified_mix_sample

        rows = [(i, f"s{i % 2}", 10) for i in range(400)]
        df = spark.createDataFrame(rows, "doc_id long, source string, n_tokens long")
        # s0 has 2000 tokens; weight 1.0 * budget 5000 > 2000 -> rate 1, all kept
        # s1 weight 0 -> dropped entirely
        full = stratified_mix_sample(
            df, weights={"s0": 1.0, "s1": 0.0}, token_budget=5000).collect()
        assert {r["source"] for r in full} == {"s0"}
        assert len(full) == 200 and all(r["rate"] == 1.0 for r in full)
        # half-budget targets 1000 of s0's 2000 tokens -> rate 0.5, ~100 docs
        half = stratified_mix_sample(
            df, weights={"s0": 1.0}, token_budget=1000).collect()
        assert 0 < len(half) < 200
        # nestedness: growing the budget only ADDS documents
        small_ids = {r["doc_id"] for r in half}
        big_ids = {r["doc_id"] for r in stratified_mix_sample(
            df, weights={"s0": 1.0}, token_budget=1500).collect()}
        assert small_ids <= big_ids
        with pytest.raises(ValueError):
            stratified_mix_sample(df, weights={})


class TestSemanticDedup:
    def test_semantic_neardup_full_probe_equals_bruteforce(self, spark):
        """nprobe=n_cells puts every vector in every cell, so the
        cell-partitioned join must reproduce the exact quadratic answer;
        nprobe=1 (classic SemDeDup) must be a subset of it."""
        from kgfarm_spark.operators.dedup import (
            embedding_neardup_pairs,
            semantic_neardup_pairs,
        )

        rng = np.random.RandomState(7)
        # two tight clusters + noise, with planted near-dups
        base = []
        for i in range(30):
            c = rng.randn(8) * 0.05 + (5.0 if i % 2 else -5.0)
            base.append((i, c.tolist()))
        emb = spark.createDataFrame(base, "doc_id long, embedding array<double>")
        brute = {
            (r["id_a"], r["id_b"])
            for r in embedding_neardup_pairs(emb, "doc_id", "embedding", 0.99).collect()
        }
        assert brute  # fixture sanity: planted dups exist
        full = {
            (r["id_a"], r["id_b"])
            for r in semantic_neardup_pairs(
                emb, threshold=0.99, n_cells=4, nprobe=4).collect()
        }
        assert full == brute
        # the JVM expression kernel must emit the identical pair set
        expr_kernel = {
            (r["id_a"], r["id_b"])
            for r in semantic_neardup_pairs(
                emb, threshold=0.99, n_cells=4, nprobe=4,
                kernel="expr").collect()
        }
        assert expr_kernel == brute
        with pytest.raises(ValueError, match="kernel"):
            semantic_neardup_pairs(emb, n_cells=4, kernel="faiss").collect()
        # classic SemDeDup (nprobe=1) at the true cluster count: the two
        # clusters are IVF-separable, so every within-cluster pair lands
        # in one cell and recall is total; over-segmenting (n_cells=4)
        # must still return a subset
        semdedup = {
            (r["id_a"], r["id_b"])
            for r in semantic_neardup_pairs(
                emb, threshold=0.99, n_cells=2, nprobe=1).collect()
        }
        assert semdedup == brute
        overseg = {
            (r["id_a"], r["id_b"])
            for r in semantic_neardup_pairs(
                emb, threshold=0.99, n_cells=4, nprobe=1).collect()
        }
        assert overseg <= brute
        with pytest.raises(ValueError):
            semantic_neardup_pairs(emb, n_cells=4, nprobe=5)


def test_stream_quality_gate_matches_batch(spark, tmp_path):
    """The corpus quality/scoring projections are STATELESS single-pass
    expressions, so the identical operator call works on a readStream
    source with append output and must emit exactly the batch answer —
    the property that lets a quality gate run inline in an ingestion
    stream with zero state store."""
    from kgfarm_spark.operators.textstats import quality_gate

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    src = str(tmp_path / "docs_src")
    docs.write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(docs.schema).parquet(src)
    q = (
        quality_gate(stream)                     # same call as batch
        .writeStream.format("memory")
        .queryName("qg_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(map(repr, spark.sql("select * from qg_out").collect()))
    want = sorted(map(repr, quality_gate(docs).collect()))
    assert got == want and len(got) > 0


class TestCurationEdgeCases:
    """Round-5 review findings: tiny corpora, NULL text, string ids,
    facade embedding route."""

    def test_semantic_neardup_tiny_corpus_and_string_ids(self, spark):
        from kgfarm_spark.operators.dedup import semantic_neardup_pairs

        one = spark.createDataFrame(
            [(1, [1.0, 0.0])], "doc_id long, embedding array<double>")
        # fewer rows than nprobe: must clamp, not crash
        assert semantic_neardup_pairs(one, n_cells=4, nprobe=2).count() == 0
        # string ids and float vectors: same contract as the quadratic baseline
        s = spark.createDataFrame(
            [("a", [1.0, 0.0]), ("b", [1.0, 0.0]), ("c", [0.0, 1.0])],
            "doc_id string, embedding array<float>")
        got = {(r["id_a"], r["id_b"])
               for r in semantic_neardup_pairs(s, n_cells=2, nprobe=2).collect()}
        assert got == {("a", "b")}

    def test_dedup_lines_corpus_null_text(self, spark):
        from kgfarm_spark.operators.dedup import dedup_lines_corpus

        rows = [(1, "a\nb"), (2, None), (3, None)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r["doc_id"]: r for r in dedup_lines_corpus(df).collect()}
        # NULL text behaves as '' — ONE blank line; blank lines are
        # structural separators (review finding), so both NULL docs keep
        # theirs and counts stay non-null
        assert (got[2]["n_lines"], got[2]["n_lines_kept"]) == (1, 1)
        assert (got[3]["n_lines"], got[3]["n_lines_kept"]) == (1, 1)
        assert got[1]["text"] == "a\nb"

    def test_facade_embedding_dedup_route(self, farm_spark_pair):
        farm, spark = farm_spark_pair
        emb = spark.createDataFrame(
            [(1, [1.0, 0.0]), (2, [1.0, 0.0]), (3, [0.0, 1.0])],
            "doc_id long, embedding array<double>")
        got = {(r["id_a"], r["id_b"])
               for r in farm.dedup(emb, method="embedding").collect()}
        assert got == {(1, 2)}


@pytest.fixture
def farm_spark_pair(spark):
    from kgfarm_spark.api import FeatureFarm

    return FeatureFarm(spark), spark


class TestDecontaminate:
    """GPT-3-style benchmark decontamination (dedup.decontaminate)."""

    def _frames(self, spark):
        docs = spark.createDataFrame(
            [
                (1, "the quick brown fox jumps over the lazy dog"),
                (2, "completely unrelated words here only"),
                (3, "quick brown fox appears here and quick brown fox again"),
                (4, None),
            ],
            "doc_id int, text string",
        )
        evalb = spark.createDataFrame(
            [(100, "a quick brown fox jumps high")], "doc_id int, text string"
        )
        return docs, evalb

    def test_flags_overlapping_docs_with_distinct_counts(self, spark):
        from kgfarm_spark.operators.dedup import decontaminate

        docs, evalb = self._frames(spark)
        out = {
            r["doc_id"]: r["n_overlap"]
            for r in decontaminate(docs, evalb, n=3, min_overlap=1).collect()
        }
        # eval 3-grams: {a quick brown, quick brown fox, brown fox jumps,
        # fox jumps high}; doc1 shares 2, doc3 shares 1 (distinct per doc
        # even though 'quick brown fox' repeats), doc2/doc4 none
        assert out == {1: 2, 3: 1}

    def test_min_overlap_threshold(self, spark):
        from kgfarm_spark.operators.dedup import decontaminate

        docs, evalb = self._frames(spark)
        out = decontaminate(docs, evalb, n=3, min_overlap=2).collect()
        assert [(r["doc_id"], r["n_overlap"]) for r in out] == [(1, 2)]

    def test_eval_side_broadcasts(self, spark):
        from kgfarm_spark.operators.dedup import decontaminate

        docs, evalb = self._frames(spark)
        plan = (
            decontaminate(docs, evalb, n=3)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Broadcast" in plan, "eval shingle set must broadcast"


class TestCCNetBuckets:
    """Head/middle/tail split by unigram-LM score (textstats.ccnet_buckets)."""

    def test_fluency_order_maps_to_terciles(self, spark):
        from kgfarm_spark.operators.textstats import ccnet_buckets

        # doc i = (i+1) copies of the corpus-dominant word + one unique rare
        # word -> mean log-prob strictly increases with i (no ties), so the
        # 9 ranked docs split 3/3/3 exactly at the percent_rank tercile cuts
        rows = [(i, " ".join(["the"] * (i + 1) + [f"zz{i}"])) for i in range(9)]
        rows += [(30, "   ")]  # empty -> tail, NULL ptile
        docs = spark.createDataFrame(rows, "doc_id int, text string")
        out = {r["doc_id"]: r for r in ccnet_buckets(docs).collect()}

        assert [out[i]["bucket"] for i in range(9)] == (
            ["tail"] * 3 + ["middle"] * 3 + ["head"] * 3
        )
        # score really is monotone in fluency
        scores = [out[i]["mean_logprob"] for i in range(9)]
        assert scores == sorted(scores)
        assert out[30]["bucket"] == "tail" and out[30]["ptile"] is None
        assert out[30]["n_words"] == 0

    def test_bucket_sizes_roughly_terciles(self, spark):
        from kgfarm_spark.operators.textstats import ccnet_buckets
        from kgfarm_spark.sources.transcripts import load_table

        docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
            "doc_id", "text"
        )
        counts = {
            r["bucket"]: r["n"]
            for r in ccnet_buckets(docs).groupBy("bucket").agg(
                F.count(F.lit(1)).alias("n")
            ).collect()
        }
        n = sum(counts.values())
        # percent_rank terciles: each bucket within a loose band (ties can
        # shift mass but not collapse a bucket)
        for b in ("head", "middle", "tail"):
            assert counts.get(b, 0) > n * 0.15, counts


class TestDSIRImportance:
    """textstats.dsir_importance — hashed-ngram importance weights
    (Xie et al. 2023), add-alpha smoothing over the shared vocab."""

    def test_hand_computed_log_ratio(self, spark):
        import math

        from pyspark.sql import functions as F

        from kgfarm_spark.operators.textstats import dsir_importance

        # target docs (lang=en) say "alpha", raw corpus also has "beta"
        rows = [
            (1, "en", "alpha alpha"),
            (2, "en", "alpha"),
            (3, "xx", "beta beta beta"),
            (4, "xx", ""),
        ]
        df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
        got = {
            r["doc_id"]: r
            for r in dsir_importance(df, F.col("lang") == "en").collect()
        }
        # census: alpha ct=3 cr=3; beta ct=0 cr=3. nt=3 nr=6 v=2 alpha=.5
        lam_a = math.log(3.5 / 4.0) - math.log(3.5 / 7.0)
        lam_b = math.log(0.5 / 4.0) - math.log(3.5 / 7.0)
        assert got[1]["n_words"] == 2
        assert got[1]["dsir_logweight"] == pytest.approx(2 * lam_a, abs=1e-5)
        assert got[3]["dsir_logweight"] == pytest.approx(3 * lam_b, abs=1e-5)
        # target-typical text weighs ABOVE raw-typical text
        assert got[1]["dsir_logweight"] > 0 > got[3]["dsir_logweight"]
        assert got[4]["n_words"] == 0 and got[4]["dsir_logweight"] == 0.0

    def test_partition_invariance(self, spark):
        from pyspark.sql import functions as F

        from kgfarm_spark.operators.textstats import dsir_importance

        rows = [(i, "en" if i % 3 == 0 else "xx", f"w{i % 7} w{i % 5} common")
                for i in range(60)]
        df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
        a = dsir_importance(df.repartition(1), F.col("lang") == "en")
        b = dsir_importance(df.repartition(16), F.col("lang") == "en")
        assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


class TestGopherLineRules:
    """textstats.gopher_line_rules — the symbol-ratio / line-shape half of
    the Gopher Table A1 rule set."""

    def test_flags_hand_computed(self, spark):
        from kgfarm_spark.operators.textstats import gopher_line_rules

        rows = [
            (1, "plain prose line\nanother good line here"),
            (2, "- one\n- two\n- three\nprose..."),     # 3/4 bullets, 1/4 ellipsis-end
            (3, "# # # # tag"),                          # hash-heavy
            (4, "1 2 3 4 5"),                            # no alpha words
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r["doc_id"]: r for r in gopher_line_rules(df).collect()}
        assert got[1]["keep"] is True
        assert got[2]["bullet_line_frac"] == pytest.approx(0.75)
        assert got[2]["ellipsis_line_frac"] == pytest.approx(0.25)
        assert got[2]["bullet_ok"] is True and got[2]["ellipsis_line_ok"] is True
        # doc 3: 4 '#' / 5 words = 0.8 > 0.1 -> hash rule trips
        assert got[3]["hash_word_ratio"] == pytest.approx(0.8)
        assert got[3]["hash_ok"] is False and got[3]["keep"] is False
        # doc 4: zero alpha words
        assert got[4]["alpha_word_frac"] == 0.0
        assert got[4]["alpha_ok"] is False and got[4]["keep"] is False

    def test_unicode_ellipsis_and_bullet(self, spark):
        from kgfarm_spark.operators.textstats import gopher_line_rules

        rows = [(1, "• bullet line\nends with dots…")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        r = gopher_line_rules(df).collect()[0]
        assert r["bullet_line_frac"] == pytest.approx(0.5)
        assert r["ellipsis_line_frac"] == pytest.approx(0.5)


def _py_bpe(words: list, n_merges: int, sym_fn=list):
    """Textbook BPE reference (Sennrich et al. 2016 get_stats/merge loop)
    with the same deterministic tie-break as operators.bpe.bpe_train.
    ``sym_fn`` maps a word to its initial symbol list (chars by default;
    pass py_symbols(..., 'bytes') for the byte alphabet)."""
    from collections import Counter

    census = Counter(words)
    syms = {w: sym_fn(w) for w in census}
    merges = []
    for rank in range(n_merges):
        stats = Counter()
        for w, c in census.items():
            s = syms[w]
            for i in range(len(s) - 1):
                stats[(s[i], s[i + 1])] += c
        if not stats:
            break
        mx = max(stats.values())
        left, right = min(p for p, c in stats.items() if c == mx)
        merges.append((rank, left, right, mx))
        for w, s in syms.items():
            out = []
            for x in s:
                if out and out[-1] == left and x == right:
                    out[-1] = left + right
                else:
                    out.append(x)
            syms[w] = out
    return merges, {w: (census[w], syms[w]) for w in census}


class TestBPE:
    """operators.bpe — distributed BPE training vs the pure-Python
    textbook loop: identical merge sequence AND segmentations."""

    CORPUS = [
        (1, "low low low lower lower newest newest newest newest widest"),
        (2, "widest widest low newest the the the cat sat"),
        (3, ""),
    ]

    def test_merges_and_segmentation_match_reference(self, spark):
        from kgfarm_spark.operators.bpe import bpe_train

        df = spark.createDataFrame(self.CORPUS, "doc_id long, text string")
        merges_df, seg_df = bpe_train(df, "text", n_merges=12)
        words = " ".join(t for _, t in self.CORPUS).split()
        ref_merges, ref_seg = _py_bpe(words, 12)
        got = [(r["rank"], r["left"], r["right"], r["pair_count"])
               for r in merges_df.orderBy("rank").collect()]
        assert got == ref_merges
        got_seg = {r["word"]: (r["count"], list(r["symbols"]))
                   for r in seg_df.collect()}
        assert got_seg == ref_seg

    def test_early_stop_and_zero_merges(self, spark):
        from kgfarm_spark.operators.bpe import bpe_train

        # single-char words: no pairs ever -> early break
        df = spark.createDataFrame([(1, "a b a c")], "doc_id long, text string")
        merges, seg = bpe_train(df, "text", n_merges=5)
        assert merges.count() == 0
        assert {r["word"] for r in seg.collect()} == {"a", "b", "c"}
        merges0, _ = bpe_train(df, "text", n_merges=0)
        assert merges0.count() == 0
        with pytest.raises(ValueError):
            bpe_train(df, "text", n_merges=-1)

    def test_overlapping_pairs_greedy(self, spark):
        from kgfarm_spark.operators.bpe import bpe_train

        # 'aaaa' x3 + 'ab': (a,a) counted overlapping (9 > ...); greedy
        # left-to-right gives [aa, aa]
        df = spark.createDataFrame(
            [(1, "aaaa aaaa aaaa ab")], "doc_id long, text string")
        merges_df, seg_df = bpe_train(df, "text", n_merges=1)
        m = merges_df.collect()[0]
        assert (m["left"], m["right"], m["pair_count"]) == ("a", "a", 9)
        seg = {r["word"]: list(r["symbols"]) for r in seg_df.collect()}
        assert seg["aaaa"] == ["aa", "aa"]
        assert seg["ab"] == ["a", "b"]

    def test_bpe_apply_matches_reference_segmentation(self, spark):
        from kgfarm_spark.operators.bpe import bpe_apply, bpe_train

        df = spark.createDataFrame(self.CORPUS, "doc_id long, text string")
        _, seg = bpe_train(df, "text", n_merges=12)
        toks = {r["doc_id"]: list(r["tokens"])
                for r in bpe_apply(df, seg, "text", "doc_id").collect()}
        words = " ".join(t for _, t in self.CORPUS).split()
        _, ref_seg = _py_bpe(words, 12)
        for doc_id, text in self.CORPUS:
            expect = [s for w in text.split() for s in ref_seg[w][1]] if text else []
            assert toks[doc_id] == expect
        # unseen word falls back to character segmentation
        new = spark.createDataFrame([(9, "low zzz")], "doc_id long, text string")
        got = {r["doc_id"]: list(r["tokens"])
               for r in bpe_apply(new, seg, "text", "doc_id").collect()}
        assert got[9][-3:] == ["z", "z", "z"]

    def test_batched_equals_sequential(self, spark):
        """VERDICT r05 #2: the exact-batched rounds (max_batch>1) must
        produce the IDENTICAL merge sequence and segmentations as the
        sequential loop — batching changes round count, never output."""
        from kgfarm_spark.operators.bpe import bpe_train

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        seq_m, seq_s = bpe_train(docs, "text", n_merges=24, max_batch=1)
        bat_m, bat_s = bpe_train(docs, "text", n_merges=24, max_batch=16)
        seq = [(r["rank"], r["left"], r["right"], r["pair_count"])
               for r in seq_m.orderBy("rank").collect()]
        bat = [(r["rank"], r["left"], r["right"], r["pair_count"])
               for r in bat_m.orderBy("rank").collect()]
        assert seq == bat and len(seq) == 24
        assert sorted(map(tuple, seq_s.collect())) == sorted(map(tuple, bat_s.collect()))

    def test_select_merge_batch_unit(self):
        """The driver-side batch certifier: stop at the first overlap
        (don't skip); require each count strictly above the created-pair
        bound (first overlapping neighbor's count / collection floor)."""
        from kgfarm_spark.operators.bpe import _select_merge_batch

        def rows(*triples):
            return [{"left": l, "right": r, "pair_count": c} for l, r, c in triples]

        # overlap right after q1 -> batch is just q1
        top = rows(("a", "b", 10), ("b", "c", 9), ("d", "e", 8))
        assert len(_select_merge_batch(top, 256, 16)) == 1
        # disjoint q2 above the neighbor bound; q3 at/below it -> stop at 2
        top = rows(("a", "b", 10), ("c", "d", 10), ("e", "f", 3), ("b", "x", 4))
        assert len(_select_merge_batch(top, 256, 16)) == 2
        # truncated collection: floor = last count; q2 count == floor -> stop
        top = rows(("a", "b", 10), ("c", "d", 5), ("e", "f", 5))
        assert len(_select_merge_batch(top, 3, 16)) == 1
        # same list, collection complete (top_k > len) and no overlaps ->
        # floor 0, all three certify
        assert len(_select_merge_batch(top, 256, 16)) == 3
        # max_batch cap
        assert len(_select_merge_batch(top, 256, 2)) == 2
        assert _select_merge_batch([], 256, 16) == []

    def test_gpt2_pretokenizer_parity(self, spark):
        """VERDICT r05 #3: the Spark GPT-2 pre-tokenizer (real published
        regex, Java engine) must equal the pure-Python scanner twin on a
        unicode-heavy fixture, and tokens must reassemble the input."""
        from pyspark.sql import functions as F

        from kgfarm_spark.operators.bpe import _pretok_expr, py_pretokenize

        fixtures = [
            "Hello world, it's 2024!",
            "  leading and   multi  spaces  ",
            "tabs\there\nnewlines\r\ncrlf",
            "café naïve 日本語のテキスト 123 ١٢٣",
            "don't we'll I'm you've they're he'd can't",
            "nbsp inside und draußen",
            "punct!!! ... … #hash @at $5.99",
            "trailing spaces   ",
            "",
            "a",
            " ",
            # adversarial: contractions at boundaries / uppercase,
            # apostrophe runs, fused digit-letter words, vtab/formfeed,
            # emoji, mixed scripts inside one word, combining accents
            "'s starts with contraction",
            "ends with it's",
            "IT'S UPPER 'S",
            "''' apostrophes '''",
            "abc123def 12a34",
            "vtab\x0bhere form\x0cfeed",
            "emoji 😀😀 mix 日本abc語",
            "a'b'c'd",
            "\t\t\tx",
        ]
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(fixtures)], "i long, t string"
        )
        got = {
            r["i"]: list(r["p"])
            for r in df.select(
                "i",
                _pretok_expr(F.coalesce(F.col("t"), F.lit("")), "gpt2").alias("p"),
            ).collect()
        }
        for i, t in enumerate(fixtures):
            assert got[i] == py_pretokenize(t, "gpt2"), repr(t)
            assert "".join(got[i]) == t, repr(t)

    def test_byte_level_train_matches_python_twin(self, spark):
        """alphabet='bytes' + pretokenize='gpt2' must reproduce the
        textbook loop run over the SAME pre-tokens with per-UTF-8-byte
        (hex-coded) initial symbols — unicode-heavy fixture."""
        from kgfarm_spark.operators.bpe import bpe_train, py_pretokenize, py_symbols

        corpus = [
            (1, "the cat sat on the mat, the cat sat again"),
            (2, "café café naïve 日本語 日本語 the the"),
            (3, "it's the cat's mat — it's naïve"),
        ]
        df = spark.createDataFrame(corpus, "doc_id long, text string")
        m, s = bpe_train(df, "text", n_merges=12, pretokenize="gpt2", alphabet="bytes")
        got = [(r["rank"], r["left"], r["right"], r["pair_count"])
               for r in m.orderBy("rank").collect()]
        words = [w for _, t in corpus for w in py_pretokenize(t, "gpt2")]
        ref_m, ref_seg = _py_bpe(words, 12, sym_fn=lambda w: py_symbols(w, "bytes"))
        assert got == ref_m
        got_seg = {r["word"]: (r["count"], list(r["symbols"])) for r in s.collect()}
        assert got_seg == ref_seg

    def test_bpe_apply_modes_agree_gpt2_bytes(self, spark):
        """Broadcast and join apply paths must agree under the gpt2/bytes
        modes, including NULL text and unseen words (byte fallback)."""
        from kgfarm_spark.operators.bpe import bpe_apply, bpe_train

        corpus = [(1, "the cat sat on the mat"), (2, "café the naïve cat")]
        df = spark.createDataFrame(corpus, "doc_id long, text string")
        _, seg = bpe_train(df, "text", n_merges=8, pretokenize="gpt2", alphabet="bytes")
        probe = spark.createDataFrame(
            [(1, "the cat zzz"), (2, None), (3, "日本語 the")],
            "doc_id long, text string",
        )
        a = {r["doc_id"]: list(r["tokens"]) for r in bpe_apply(
            probe, seg, "text", "doc_id",
            method="broadcast", pretokenize="gpt2", alphabet="bytes").collect()}
        b = {r["doc_id"]: list(r["tokens"]) for r in bpe_apply(
            probe, seg, "text", "doc_id",
            method="join", pretokenize="gpt2", alphabet="bytes").collect()}
        assert a == b
        assert a[2] == []
        # unseen ' zzz' falls back to its utf-8 byte symbols
        assert a[1][-3:] == ["7A", "7A", "7A"]

    def test_bpe_train_arg_validation(self, spark):
        from kgfarm_spark.operators.bpe import bpe_train

        df = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
        with pytest.raises(ValueError, match="max_batch"):
            bpe_train(df, "text", n_merges=2, max_batch=0)
        with pytest.raises(ValueError, match="top_k"):
            bpe_train(df, "text", n_merges=2, max_batch=8, top_k=4)
        with pytest.raises(ValueError, match="alphabet"):
            bpe_train(df, "text", n_merges=2, alphabet="utf32")
        with pytest.raises(ValueError, match="pretokenize"):
            bpe_train(df, "text", n_merges=2, pretokenize="spacy")
        with pytest.raises(ValueError, match="strategy"):
            bpe_train(df, "text", n_merges=2, strategy="magic")
        with pytest.raises(ValueError, match="min_count"):
            bpe_train(df, "text", n_merges=2, min_count=0)

    def test_local_strategy_equals_distributed_and_twin(self, spark):
        """strategy='local' (census-collect + incremental pair-index
        trainer) must produce the IDENTICAL merges and segmentations as
        the distributed rounds and the textbook rescan loop — the wall
        time changes, never the output."""
        from kgfarm_spark.operators.bpe import bpe_train

        df = spark.createDataFrame(self.CORPUS, "doc_id long, text string")
        stats = {}
        loc_m, loc_s = bpe_train(df, "text", n_merges=12, strategy="local",
                                 stats=stats)
        assert stats == {"rounds": 0, "merges": 12}
        words = " ".join(t for _, t in self.CORPUS).split()
        ref_merges, ref_seg = _py_bpe(words, 12)
        got = [(r["rank"], r["left"], r["right"], r["pair_count"])
               for r in loc_m.orderBy("rank").collect()]
        assert got == ref_merges
        got_seg = {r["word"]: (r["count"], list(r["symbols"]))
                   for r in loc_s.collect()}
        assert got_seg == ref_seg
        # schema parity with the distributed return
        dist_m, dist_s = bpe_train(df, "text", n_merges=12)
        assert loc_m.schema == dist_m.schema and loc_s.schema == dist_s.schema

    def test_local_strategy_gpt2_bytes_and_corpus(self, spark):
        """Local == distributed on the sf0.001 documents corpus under the
        production gpt2/bytes modes (exercises the incremental updates on
        real many-word data, fused-symbol collisions included)."""
        from kgfarm_spark.operators.bpe import bpe_train

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        for pretok, alpha in [("whitespace", "chars"), ("gpt2", "bytes")]:
            d_m, d_s = bpe_train(docs, "text", n_merges=24,
                                 pretokenize=pretok, alphabet=alpha)
            l_m, l_s = bpe_train(docs, "text", n_merges=24, strategy="local",
                                 pretokenize=pretok, alphabet=alpha)
            assert [tuple(r) for r in d_m.orderBy("rank").collect()] == \
                   [tuple(r) for r in l_m.orderBy("rank").collect()]
            assert sorted(map(tuple, d_s.collect())) == \
                   sorted(map(tuple, l_s.collect()))

    def test_local_strategy_min_count_and_cap(self, spark):
        """min_count prunes the census identically in both strategies;
        the local census cap raises with routing advice."""
        from kgfarm_spark.operators.bpe import bpe_train

        df = spark.createDataFrame(self.CORPUS, "doc_id long, text string")
        d_m, d_s = bpe_train(df, "text", n_merges=6, min_count=2)
        l_m, l_s = bpe_train(df, "text", n_merges=6, min_count=2,
                             strategy="local")
        assert [tuple(r) for r in d_m.orderBy("rank").collect()] == \
               [tuple(r) for r in l_m.orderBy("rank").collect()]
        assert sorted(map(tuple, d_s.collect())) == \
               sorted(map(tuple, l_s.collect()))
        # rare words (count < 2) are gone from the segmented census
        assert all(r["count"] >= 2 for r in l_s.collect())
        with pytest.raises(ValueError, match="max_local_vocab"):
            bpe_train(df, "text", n_merges=2, strategy="local",
                      max_local_vocab=3)

    def test_local_merge_loop_early_stop(self, spark):
        from kgfarm_spark.operators.bpe import bpe_train

        df = spark.createDataFrame([(1, "a b a c")], "doc_id long, text string")
        merges, seg = bpe_train(df, "text", n_merges=5, strategy="local")
        assert merges.count() == 0
        assert {r["word"] for r in seg.collect()} == {"a", "b", "c"}


def test_gopher_and_dsir_null_text(spark):
    """NULL text: gopher rules coalesce to '' (well-defined flags, house
    rule); dsir gives n_words=0 / weight 0.0."""
    from pyspark.sql import functions as F

    from kgfarm_spark.operators.textstats import dsir_importance, gopher_line_rules

    df = spark.createDataFrame(
        [(1, "en", None), (2, "en", "real prose here")],
        "doc_id long, lang string, text string",
    )
    g = {r["doc_id"]: r for r in gopher_line_rules(df).collect()}
    assert g[1]["keep"] is False and g[1]["alpha_word_frac"] == 0.0
    assert g[1]["hash_word_ratio"] == 0.0
    d = {r["doc_id"]: r for r in dsir_importance(df, F.col("lang") == "en").collect()}
    assert d[1]["n_words"] == 0 and d[1]["dsir_logweight"] == 0.0


def test_dedup_keep_component_best_semantics(spark):
    """Chain a-b-c is ONE component; the best score survives, ties break
    toward the larger id; unpaired rows always survive."""
    from kgfarm_spark.operators.dedup import dedup_keep_component_best

    df = spark.createDataFrame(
        [(1, 10), (2, 30), (3, 30), (9, 1)], "doc_id long, score long"
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    kept = sorted(
        r["doc_id"]
        for r in dedup_keep_component_best(df, pairs, "doc_id", "score").collect()
    )
    # component {1,2,3}: max score 30 shared by 2 and 3 -> larger id 3 wins
    assert kept == [3, 9]


def test_stream_decontaminate_matches_batch(spark, tmp_path):
    """decontaminate streams UNCHANGED: the eval side is a static
    broadcast (stream-static join), the only state is the per-doc
    overlap count (one streaming agg, complete mode) — so an ingestion
    stream can drop contaminated docs online with state bounded by the
    number of CONTAMINATED docs, not the corpus."""
    from kgfarm_spark.operators.dedup import decontaminate

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    evalb = docs.filter((F.col("doc_id") % 11) == 0).select("text")
    src = str(tmp_path / "decon_src")
    docs.write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(docs.schema).parquet(src)
    q = (
        decontaminate(stream, evalb, "doc_id", "text", n=5, min_overlap=2)
        .writeStream.format("memory")
        .queryName("decon_out")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(map(repr, spark.sql("select * from decon_out").collect()))
    want = sorted(
        map(repr, decontaminate(docs, evalb, "doc_id", "text", n=5, min_overlap=2).collect())
    )
    assert got == want and len(got) > 0


def test_gopher_filter_is_conjunction_of_parts(spark):
    from kgfarm_spark.operators.textstats import (
        gopher_filter,
        gopher_line_rules,
        quality_gate,
        repetition_signals,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    ).limit(120)
    full = {r["doc_id"]: r for r in gopher_filter(docs).collect()}
    g = {r["doc_id"]: r["keep"] for r in quality_gate(docs).collect()}
    l = {r["doc_id"]: r["keep"] for r in gopher_line_rules(docs).collect()}
    rep = {
        r["doc_id"]: (r["dup_line_frac"] <= 0.30 and r["top_bigram_frac"] <= 0.20)
        for r in repetition_signals(docs).collect()
    }
    assert len(full) == 120
    for d, r in full.items():
        assert r["keep"] == (g[d] and l[d] and rep[d])
        assert r["gate_ok"] == g[d] and r["lines_ok"] == l[d]
        assert r["repetition_ok"] == rep[d]


def test_dsir_resample_deterministic_and_nested(spark):
    """Gumbel top-k with md5 noise: partition-invariant, and growing k
    only ADDS documents (nested samples — the ablation-comparability
    property shared with stratified_mix_sample)."""
    from kgfarm_spark.operators.textstats import dsir_resample

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "lang", "text"
    )
    tgt = F.col("lang") == "en"
    a = {r["doc_id"] for r in dsir_resample(docs.repartition(1), tgt, 40).collect()}
    b = {r["doc_id"] for r in dsir_resample(docs.repartition(16), tgt, 40).collect()}
    assert a == b and len(a) == 40
    big = {r["doc_id"] for r in dsir_resample(docs, tgt, 80).collect()}
    assert a <= big and len(big) == 80
    with pytest.raises(ValueError):
        dsir_resample(docs, tgt, 0)


@pytest.mark.parametrize("op_name", ["lang_id", "gopher_line_rules", "redact_pii"])
def test_stream_stateless_curation_ops_match_batch(spark, tmp_path, op_name):
    """Every stateless per-row curation op streams UNCHANGED with append
    output and zero state (the property proven for quality_gate, here
    pinned for the rest of the family)."""
    from kgfarm_spark.operators import textstats as ts

    ops = {
        "lang_id": lambda d: ts.lang_id(d),
        "gopher_line_rules": lambda d: ts.gopher_line_rules(d),
        "redact_pii": lambda d: ts.redact_pii(d),
    }
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    src = str(tmp_path / f"src_{op_name}")
    docs.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(docs.schema).parquet(src)
    q = (
        ops[op_name](stream)
        .writeStream.format("memory")
        .queryName(f"st_{op_name}")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(map(repr, spark.sql(f"select * from st_{op_name}").collect()))
    want = sorted(map(repr, ops[op_name](docs).collect()))
    assert got == want and len(got) > 0


def test_bpe_apply_broadcast_equals_join(spark):
    """The zero-shuffle broadcast tokenizer emits exactly the join path's
    output on the real corpus (incl. unseen-word char fallback), and
    rejects an over-cap vocabulary with a clear error."""
    from kgfarm_spark.operators import bpe as _bpe
    from kgfarm_spark.operators.bpe import bpe_apply, bpe_train

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    _, seg = bpe_train(docs.limit(200), "text", n_merges=6)
    a = bpe_apply(docs, seg, "text", "doc_id", method="broadcast")
    b = bpe_apply(docs, seg, "text", "doc_id", method="join")
    ra = sorted((r["doc_id"], tuple(r["tokens"])) for r in a.collect())
    rb = sorted((r["doc_id"], tuple(r["tokens"])) for r in b.collect())
    assert ra == rb and len(ra) == docs.count()
    # zero shuffle in the broadcast plan
    plan = a._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    old = _bpe.MAX_BROADCAST_VOCAB
    try:
        _bpe.MAX_BROADCAST_VOCAB = 1
        with pytest.raises(ValueError, match="MAX_BROADCAST_VOCAB"):
            bpe_apply(docs, seg, method="broadcast")
    finally:
        _bpe.MAX_BROADCAST_VOCAB = old
    with pytest.raises(ValueError):
        bpe_apply(docs, seg, method="nope")


def test_bigram_logprob_hand_computed(spark):
    """lam=0.7 interpolated bigram LM on a 3-doc corpus vs hand math."""
    import math

    from kgfarm_spark.operators.textstats import bigram_logprob

    rows = [(1, "a b"), (2, "a b"), (3, "a c"), (4, "")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in bigram_logprob(df, lam=0.7).collect()}
    # unigrams: a=3 b=2 c=1 N=6; bigrams: (a,b)=2 (a,c)=1
    p_a = 3 / 6
    p_b_a = 0.7 * (2 / 3) + 0.3 * (2 / 6)
    p_c_a = 0.7 * (1 / 3) + 0.3 * (1 / 6)
    assert got[1]["n_words"] == 2
    assert got[1]["logprob_sum"] == pytest.approx(
        math.log(p_a) + math.log(p_b_a), abs=1e-5)
    assert got[3]["mean_logprob"] == pytest.approx(
        (math.log(p_a) + math.log(p_c_a)) / 2, abs=1e-5)
    assert got[4]["n_words"] == 0 and got[4]["logprob_sum"] == 0.0
    # order sensitivity: bigram LM ranks the common sequence above the
    # rare one even with identical unigram content
    assert got[1]["mean_logprob"] > got[3]["mean_logprob"]


def test_ccnet_buckets_bigram_scorer(spark):
    """scorer='bigram' buckets by the bigram LM score — same machinery,
    order-sensitive ranking; bucket sizes stay tercile-shaped."""
    from kgfarm_spark.operators.textstats import bigram_logprob, ccnet_buckets

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    out = ccnet_buckets(docs, scorer="bigram").collect()
    scores = {r["doc_id"]: r["mean_logprob"] for r in bigram_logprob(docs).collect()}
    assert all(r["mean_logprob"] == scores[r["doc_id"]] for r in out)
    sizes = {}
    for r in out:
        sizes[r["bucket"]] = sizes.get(r["bucket"], 0) + 1
    n = len(out)
    assert all(abs(sizes[b] - n / 3) < n * 0.15 for b in ("head", "middle", "tail"))
    with pytest.raises(ValueError):
        ccnet_buckets(docs, scorer="kenlm")


def test_lm_scorer_arg_validation(spark):
    from pyspark.sql import functions as F

    from kgfarm_spark.operators.textstats import bigram_logprob, dsir_importance

    df = spark.createDataFrame([(1, "en", "a b")], "doc_id long, lang string, text string")
    with pytest.raises(ValueError):
        dsir_importance(df, F.col("lang") == "en", alpha=0.0)
    with pytest.raises(ValueError):
        bigram_logprob(df, lam=1.5)


def test_bpe_apply_paths_agree_on_edge_inputs(spark):
    """Review-finding regressions: the two bpe_apply paths must agree on
    unicode whitespace (U+00A0 stays IN the word — Java \\s is ASCII),
    tab-only and blank text (-> []), duplicate doc ids (per-row output),
    and NULL ids (row still tokenized)."""
    from kgfarm_spark.operators.bpe import bpe_apply, bpe_train

    train = spark.createDataFrame(
        [(1, "low low lower")], "doc_id long, text string")
    _, seg = bpe_train(train, "text", n_merges=3)
    edge = spark.createDataFrame(
        [
            (1, "foo bar low"),   # nbsp inside a word
            (2, "\tlow\t"),            # tab-wrapped
            (3, "\t \t"),              # whitespace-only
            (4, None),                 # NULL text
            (5, "low lower"),
            (5, "low low"),            # duplicate id, different rows
            (None, "lower"),           # NULL id
        ],
        "doc_id long, text string",
    )
    b = bpe_apply(edge, seg, "text", "doc_id", method="broadcast")
    j = bpe_apply(edge, seg, "text", "doc_id", method="join")
    rb = sorted(((r["doc_id"], tuple(r["tokens"])) for r in b.collect()),
                key=repr)
    rj = sorted(((r["doc_id"], tuple(r["tokens"])) for r in j.collect()),
                key=repr)
    assert rb == rj and len(rb) == 7
    by_id = {}
    for i, t in rb:
        by_id.setdefault(i, []).append(t)
    # nbsp word survives as ONE unseen word -> char fallback keeps \xa0
    assert any(" " in tok for tok in by_id[1][0])
    assert by_id[3] == [()] and by_id[4] == [()]
    assert len(by_id[5]) == 2 and by_id[5][0] != by_id[5][1]
    assert by_id[None][0] != ()


def test_gopher_review_regressions(spark):
    """Review findings: gopher_filter line-rule overrides route via
    line_kw; CRLF/tab lines are trimmed before line-shape checks; ccnet
    cuts validate."""
    from kgfarm_spark.operators.textstats import (
        ccnet_buckets,
        gopher_filter,
        gopher_line_rules,
        quality_gate,
        token_counts,
    )

    docs = spark.createDataFrame(
        [(1, "foo...\r\nbar...\r\n"), (2, "\t- item\n\t- item2\nprose")],
        "doc_id long, text string",
    )
    g = {r["doc_id"]: r for r in gopher_line_rules(docs).collect()}
    assert g[1]["ellipsis_line_frac"] == pytest.approx(1.0)   # \r no longer hides '...'
    assert g[2]["bullet_line_frac"] == pytest.approx(2 / 3)   # tab indent trimmed
    # line_kw actually reaches gopher_line_rules now
    strict = gopher_filter(
        docs,
        line_kw={"max_ellipsis_line_frac": 1.0, "max_ellipsis_word_ratio": 10.0},
    )
    assert {r["doc_id"]: r["lines_ok"] for r in strict.collect()}[1] is True
    # NULL text -> real booleans from quality_gate
    nulldoc = spark.createDataFrame([(9, None)], "doc_id long, text string")
    row = quality_gate(nulldoc).collect()[0]
    assert row["keep"] is False and row["words_ok"] is False
    # empty text counts zero tokens on both counters
    t = token_counts(spark.createDataFrame([(1, " "), (2, None)],
                     "doc_id long, text string")).collect()
    assert all(r["ws_tokens"] == 0 and r["bpe_tokens"] == 0 for r in t)
    with pytest.raises(ValueError):
        ccnet_buckets(docs, cuts=(0.7, 0.3))


class TestDedupReviewRegressions:
    """Round-5 self-review findings on the dedup module."""

    def test_zero_norm_embedding_matches_nothing(self, spark):
        from kgfarm_spark.operators.dedup import embedding_neardup_pairs

        rows = [(1, [0.0, 0.0]), (2, [1.0, 0.0]), (3, [1.0, 0.0])]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        pairs = embedding_neardup_pairs(df, "vec_id", "embedding", 0.95).collect()
        assert {(r["id_a"], r["id_b"]) for r in pairs} == {(2, 3)}

    def test_lsh_bands_validation(self, spark):
        from kgfarm_spark.operators.dedup import lsh_candidate_pairs, minhash_signatures

        df = spark.createDataFrame([(1, "a b c d e")], "doc_id long, text string")
        sigs = minhash_signatures(df, "doc_id", "text", num_hashes=8)
        with pytest.raises(ValueError, match="bands"):
            lsh_candidate_pairs(sigs, "doc_id", num_hashes=8, bands=16)
        with pytest.raises(ValueError, match="bands"):
            lsh_candidate_pairs(sigs, "doc_id", num_hashes=8, bands=3)

    def test_jaccard_sizes_unpruned(self, spark):
        from kgfarm_spark.operators.dedup import jaccard_pairs

        # hot shingle 'h1 h2 h3' in EVERY doc (freq > cap); A and B share
        # one rare shingle besides. True J = 1/3; pruned-size J was 1.0.
        rows = [(i, "h1 h2 h3") for i in range(3, 40)]
        rows += [(1, "h1 h2 h3 rare1 rare2 rare3"), (2, "h1 h2 h3 rare1 rare2 rare3")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        pairs = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in jaccard_pairs(
                df, "doc_id", "text", n=3, threshold=0.0, max_shingle_freq=10
            ).collect()
        }
        # docs 1,2: 4 shingles each, hot 'h1 h2 h3' pruned from the join
        # -> inter undercounts to 3, sizes stay 4: J = 3/(4+4-3) = 0.6
        assert pairs[(1, 2)] == pytest.approx(3 / 5)

    def test_whitespace_variant_duplicates_match(self, spark):
        from kgfarm_spark.operators.dedup import jaccard_pairs

        df = spark.createDataFrame(
            [(1, "w1 w2 w3 w4"), (2, "w1  w2 w3\tw4\n")],
            "doc_id long, text string",
        )
        pairs = jaccard_pairs(df, "doc_id", "text", n=3, threshold=0.9).collect()
        assert len(pairs) == 1 and pairs[0]["jaccard"] == pytest.approx(1.0)

    def test_blank_lines_survive_line_dedup(self, spark):
        from kgfarm_spark.operators.dedup import dedup_lines_corpus

        df = spark.createDataFrame(
            [(1, "intro\n\nbody"), (2, "other\n\nmore")],
            "doc_id long, text string",
        )
        out = {r["doc_id"]: r["text"] for r in
               dedup_lines_corpus(df, "doc_id", "text").collect()}
        assert out[1] == "intro\n\nbody" and out[2] == "other\n\nmore"

    def test_exact_dedup_tie_is_deterministic(self, spark):
        from kgfarm_spark.operators.dedup import exact_dedup

        rows = [(1, "k", "x"), (1, "k", "y"), (1, "k", "z")]
        df = spark.createDataFrame(rows, "ord long, key string, payload string")
        picks = {
            exact_dedup(df.repartition(p), ["key"], "ord").collect()[0]["payload"]
            for p in (1, 4, 16)
        }
        assert len(picks) == 1


class TestPackingReviewRegressions:
    """Round-5 self-review findings on the packing module."""

    def test_mix_null_and_zero_token_sources_drop(self, spark):
        from kgfarm_spark.operators.packing import stratified_mix_sample

        rows = [
            (1, "a", None), (2, "a", None),        # unweighted, NULL sums
            (3, "z", 0), (4, "z", 0),              # weighted, zero tokens
            (5, "b", 10), (6, "b", 10),
        ]
        df = spark.createDataFrame(rows, "doc_id long, source string, n_tokens long")
        kept = stratified_mix_sample(
            df, weights={"b": 1.0, "z": 1.0}, token_budget=100
        ).collect()
        assert {r["source"] for r in kept} == {"b"}

    def test_mix_rate_column_collision(self, spark):
        from kgfarm_spark.operators.packing import stratified_mix_sample

        df = spark.createDataFrame(
            [(1, "b", 10, 0.5)], "doc_id long, source string, n_tokens long, rate double"
        )
        out = stratified_mix_sample(df, weights={"b": 1.0}, token_budget=100)
        assert out.collect()[0]["rate"] == 1.0   # resolved, no AMBIGUOUS_REFERENCE

    def test_pack_rejects_null_tokens_and_bad_args(self, spark):
        from kgfarm_spark.operators.packing import pack_sequences

        df = spark.createDataFrame(
            [(1, 5), (2, None)], "doc_id long, n_tokens long"
        )
        with pytest.raises(ValueError, match="NULL"):
            pack_sequences(df, "doc_id", "n_tokens").collect()
        with pytest.raises(ValueError, match="n_buckets"):
            pack_sequences(df.na.fill(0), "doc_id", "n_tokens", n_buckets=-5)
        sdf = spark.createDataFrame([("a", 5)], "doc_id string, n_tokens long")
        with pytest.raises(ValueError, match="numeric"):
            pack_sequences(sdf, "doc_id", "n_tokens")


class TestAdvisorR05Regressions:
    def test_lm_family_drops_empty_tokens(self, spark):
        """Advisor r05 (medium): raw split(trim(...)) kept '' tokens for
        tab/CR/newline-adjacent text — trim strips only spaces — so a
        trailing newline inflated n_words and biased every LM score. A
        doc differing from its twin only by wrapping whitespace must now
        score IDENTICALLY, and whitespace-only docs count 0 words."""
        from kgfarm_spark.operators.textstats import (
            bigram_logprob,
            dsir_importance,
            unigram_logprob,
        )

        rows = [
            (1, "en", "the cat sat"),
            (2, "en", "\tthe cat sat\r\n"),
            (3, "en", "the cat sat\n\n"),
            (4, "de", "\n \t "),   # whitespace-only
            (5, "de", None),        # NULL text
        ]
        df = spark.createDataFrame(rows, "doc_id long, lang string, text string")

        uni = {r["doc_id"]: r for r in unigram_logprob(df).collect()}
        assert uni[1]["n_words"] == uni[2]["n_words"] == uni[3]["n_words"] == 3
        assert uni[1]["mean_logprob"] == uni[2]["mean_logprob"] == uni[3]["mean_logprob"]
        assert uni[4]["n_words"] == 0 and uni[4]["logprob_sum"] == 0.0
        assert uni[5]["n_words"] == 0

        bi = {r["doc_id"]: r for r in bigram_logprob(df).collect()}
        assert bi[1]["mean_logprob"] == bi[2]["mean_logprob"] == bi[3]["mean_logprob"]
        assert bi[4]["n_words"] == 0 and bi[5]["n_words"] == 0

        from pyspark.sql import functions as F

        ds = {
            r["doc_id"]: r
            for r in dsir_importance(df, F.col("lang") == "en").collect()
        }
        assert ds[1]["dsir_logweight"] == ds[2]["dsir_logweight"] == ds[3]["dsir_logweight"]
        assert ds[4]["n_words"] == 0 and ds[4]["dsir_logweight"] == 0.0

    def test_repetition_signals_no_phantom_bigrams(self, spark):
        """Trailing newlines must not plant "w ''" bigrams: a doc and its
        newline-wrapped twin get identical top_bigram_frac."""
        from kgfarm_spark.operators.textstats import repetition_signals

        rows = [(1, "spam spam spam ham"), (2, "spam spam spam ham\n\n")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r["doc_id"]: r for r in repetition_signals(df).collect()}
        assert got[1]["top_bigram_frac"] == got[2]["top_bigram_frac"]
        # 3 bigram occurrences, 'spam spam' twice -> 2/3
        assert got[1]["top_bigram_frac"] == pytest.approx(2 / 3, abs=1e-6)

    def test_exact_dedup_handles_map_columns(self, spark):
        """Advisor r05: xxhash64 does not support MapType — the tie-break
        hash must skip map columns instead of failing analysis."""
        from pyspark.sql import functions as F

        from kgfarm_spark.operators.dedup import exact_dedup

        df = spark.createDataFrame(
            [(1, "a", 10), (2, "a", 5), (3, "b", 7)],
            "doc_id long, k string, v long",
        ).withColumn("m", F.create_map(F.lit("x"), F.col("v")))
        kept = exact_dedup(df, on=["k"], order_col="doc_id").collect()
        assert sorted(r["doc_id"] for r in kept) == [1, 3]
        # all-map frame (only key + order + map): still works
        df2 = df.select("doc_id", "k", "m")
        kept2 = exact_dedup(df2, on=["k"], order_col="doc_id").collect()
        assert sorted(r["doc_id"] for r in kept2) == [1, 3]


class TestKN3:
    """textstats.kn3_logprob — interpolated Kneser-Ney trigram LM
    (VERDICT r05 #4: the CCNet-fidelity scorer)."""

    @staticmethod
    def _py_kn3(docs, D=0.75):
        import math
        from collections import Counter, defaultdict

        toks = {i: [w for w in (t or "").split() if w] for i, t in docs}
        tri = Counter()
        bity, vocab = set(), set()
        for ws in toks.values():
            vocab.update(ws)
            for i in range(1, len(ws)):
                bity.add((ws[i - 1], ws[i]))
            for i in range(2, len(ws)):
                tri[(ws[i - 2], ws[i - 1], ws[i])] += 1
        r1 = Counter(c for _, c in bity)
        ctx, fwd2, rev2 = Counter(), Counter(), Counter()
        per_b_types, per_b_curs = Counter(), defaultdict(set)
        for (a, b, c), ct in tri.items():
            ctx[(a, b)] += ct
            fwd2[(a, b)] += 1
            rev2[(b, c)] += 1
            per_b_types[b] += 1
            per_b_curs[b].add(c)
        V, NB = len(vocab), len(bity)

        def p1(c):
            return (r1.get(c, 0) + 1.0) / (NB + V)

        def p2(b, c):
            nm = per_b_types.get(b, 0)
            if nm == 0:
                return p1(c)
            return (max(rev2.get((b, c), 0) - D, 0.0)
                    + D * len(per_b_curs[b]) * p1(c)) / nm

        def p3(a, b, c):
            return (max(tri[(a, b, c)] - D, 0.0)
                    + D * fwd2[(a, b)] * p2(b, c)) / ctx[(a, b)]

        out = {}
        for i, _t in docs:
            ws = toks[i]
            s = 0.0
            for j, c in enumerate(ws):
                s += math.log(
                    p1(c) if j == 0 else p2(ws[j - 1], c) if j == 1
                    else p3(ws[j - 2], ws[j - 1], c)
                )
            out[i] = (len(ws), round(s, 6),
                      round(s / len(ws), 6) if ws else 0.0)
        return out

    def test_matches_python_twin(self, spark):
        from kgfarm_spark.operators.textstats import kn3_logprob

        docs = [
            (1, "the cat sat on the mat"),
            (2, "the cat sat on the hat"),
            (3, "a dog ran"),
            (4, "the cat"),
            (5, "solo"),
            (6, ""),
            (7, None),
            (8, "\tthe cat sat on the mat\r\n"),  # whitespace twin of 1
        ]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        got = {r["doc_id"]: (r["n_words"], r["logprob_sum"], r["mean_logprob"])
               for r in kn3_logprob(df).collect()}
        want = self._py_kn3(docs)
        for i in want:
            assert got[i][0] == want[i][0], i
            assert got[i][1] == pytest.approx(want[i][1], abs=2e-6), i
        assert got[6] == (0, 0.0, 0.0) and got[7] == (0, 0.0, 0.0)
        # tokenization house rule: whitespace wrapping never changes a score
        assert got[8] == got[1]
        # order sensitivity at the trigram level: the in-distribution
        # sentence scores above a rare-context one of equal unigrams
        assert got[1][2] > got[3][2]

    def test_partition_invariance_and_validation(self, spark):
        from kgfarm_spark.operators.textstats import kn3_logprob

        rows = [(i, f"w{i % 5} w{(i + 1) % 7} w{i % 3} common tail")
                for i in range(40)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        a = sorted(map(tuple, kn3_logprob(df.repartition(1)).collect()))
        b = sorted(map(tuple, kn3_logprob(df.repartition(16)).collect()))
        assert a == b
        with pytest.raises(ValueError, match="discount"):
            kn3_logprob(df, discount=1.0)
        with pytest.raises(ValueError, match="discount"):
            kn3_logprob(df, discount=0.0)

    def test_ccnet_buckets_kn3_scorer(self, spark):
        from kgfarm_spark.operators.textstats import ccnet_buckets, kn3_logprob

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
            "doc_id", "text"
        )
        out = ccnet_buckets(docs, scorer="kn3").collect()
        scores = {r["doc_id"]: r["mean_logprob"] for r in kn3_logprob(docs).collect()}
        assert all(r["mean_logprob"] == scores[r["doc_id"]] for r in out)
        sizes = {}
        for r in out:
            sizes[r["bucket"]] = sizes.get(r["bucket"], 0) + 1
        n = len(out)
        assert all(sizes.get(b, 0) > n * 0.15 for b in ("head", "middle", "tail"))


def test_stream_asof_latest_matches_batch(spark, tmp_path):
    """VERDICT r05 #6: the chained stream-stream join + per-probe max agg
    emits AS-OF (latest) semantics — every emitted probe equals the batch
    asof_join(direction='backward', mode='latest', tiebreak='turn_idx')
    row, and every probe whose window closed under the final watermark
    was emitted (house subset pattern from the rolling-counts test)."""
    import datetime

    from kgfarm_spark.operators.asof import asof_join
    from kgfarm_spark.sources.datagen import gen_probes, gen_transcripts
    from kgfarm_spark.streaming.stream import stream_asof_latest

    t = gen_transcripts(spark, n_turns=800, n_convs=8, seed=15)
    probes = gen_probes(spark, t)
    t_src, p_src = str(tmp_path / "t_src"), str(tmp_path / "p_src")
    t.write.mode("overwrite").parquet(t_src)
    probes.write.mode("overwrite").parquet(p_src)

    st_t = spark.readStream.schema(t.schema).parquet(t_src)
    st_p = spark.readStream.schema(probes.schema).parquet(p_src)
    q = (
        stream_asof_latest(st_p, st_t, tolerance="4 hours", watermark="1 hour")
        .writeStream.format("memory")
        .queryName("ss_asof_latest")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ss_latest_ckpt"))
        .start()
    )
    q.awaitTermination(180)
    got = {
        r["probe_id"]: (r["matched_ts"], r["matched_turn_idx"], r["matched_role"])
        for r in spark.sql("select * from ss_asof_latest").collect()
    }

    exp_df = asof_join(
        probes, t, on="conv_id", left_ts="query_ts", right_ts="ts",
        tolerance="4 HOUR", direction="backward", mode="latest",
        tiebreak="turn_idx", right_cols=["turn_idx", "role"],
    )
    exp = {
        r["probe_id"]: (r["matched_ts"], r["turn_idx"], r["role"])
        for r in exp_df.collect()
        if r["matched_ts"] is not None  # streaming twin is inner (documented)
    }
    # every emitted probe carries the exact batch as-of match
    assert got.items() <= exp.items()
    # completeness: every matched probe whose window closed under the
    # final DOWNSTREAM watermark must have been emitted. With chained
    # stateful operators the agg's watermark lags the global one by the
    # join's event-time interval (Spark delays it by the tolerance so
    # the join can still deliver in-window rows), hence the extra 4h.
    max_ts = max(
        spark.read.parquet(t_src).agg(F.max("ts")).first()[0],
        spark.read.parquet(p_src).agg(F.max("query_ts")).first()[0],
    )
    wm = max_ts - datetime.timedelta(hours=5)  # 1h watermark + 4h tolerance
    closed = {
        r["probe_id"]
        for r in exp_df.collect()
        if r["matched_ts"] is not None and r["query_ts"] < wm
    }
    assert closed <= set(got)
    assert len(got) >= len(closed) > 0


def test_exact_dedup_handles_nested_map_columns(spark):
    """Review finding (r06): the map exclusion must be RECURSIVE — a map
    nested in a struct or array also breaks xxhash64."""
    from pyspark.sql import functions as F

    from kgfarm_spark.operators.dedup import exact_dedup

    df = spark.createDataFrame(
        [(1, "a", 10), (2, "a", 5), (3, "b", 7)],
        "doc_id long, k string, v long",
    ).withColumn(
        "s", F.struct(F.create_map(F.lit("x"), F.col("v")).alias("m"))
    ).withColumn(
        "am", F.array(F.create_map(F.lit("y"), F.col("v")))
    )
    kept = exact_dedup(df, on=["k"], order_col="doc_id").collect()
    assert sorted(r["doc_id"] for r in kept) == [1, 3]


def _py_unigram(words, vocab_size, max_piece_len, seed_size, em_iters, shrink):
    """Independent pure-Python reference of the unigram-LM trainer spec
    (Kudo 2018 EM + expected-count pruning, the operators/unigram.py
    contract): substring-census seed, forward-backward E-step (max-trick
    logsumexp — deliberately different float expression order than the
    module's pairwise log1p), relative char floor, 6-decimal-rounded
    prune ranking."""
    import math
    from collections import Counter

    census = Counter(words)
    sub = Counter()
    for w, c in census.items():
        for ln in range(1, min(len(w), max_piece_len) + 1):
            for i in range(len(w) - ln + 1):
                sub[w[i:i + ln]] += c
    chars = {p for p in sub if len(p) == 1}
    multi = sorted((p for p in sub if len(p) > 1),
                   key=lambda p: (-sub[p], p))[:seed_size]

    def lse(terms):
        m = max(terms)
        return m + math.log(sum(math.exp(t - m) for t in terms))

    def mstep(e):
        tot = sum(e.values())
        return {p: math.log(v / tot) for p, v in e.items() if v > 0}

    def floor(e):
        tot = sum(e.values()) or 1.0
        eps = 1e-10 * tot
        for ch in chars:
            if e.get(ch, 0.0) < eps:
                e[ch] = eps
        return e

    def estep(lp):
        acc = {}
        for w, c in census.items():
            n = len(w)
            alpha = [None] * (n + 1)
            alpha[0] = 0.0
            for j in range(1, n + 1):
                terms = [alpha[i] + lp[w[i:j]]
                         for i in range(max(0, j - max_piece_len), j)
                         if alpha[i] is not None and w[i:j] in lp]
                alpha[j] = lse(terms) if terms else None
            if alpha[n] is None:
                continue
            beta = [None] * (n + 1)
            beta[n] = 0.0
            for i in range(n - 1, -1, -1):
                terms = [lp[w[i:j]] + beta[j]
                         for j in range(i + 1, min(n, i + max_piece_len) + 1)
                         if beta[j] is not None and w[i:j] in lp]
                beta[i] = lse(terms) if terms else None
            for i in range(n):
                if alpha[i] is None:
                    continue
                for j in range(i + 1, min(n, i + max_piece_len) + 1):
                    p = w[i:j]
                    if p in lp and beta[j] is not None:
                        acc[p] = acc.get(p, 0.0) + math.exp(
                            alpha[i] + lp[p] + beta[j] - alpha[n]) * c
        return acc

    logp = mstep({p: float(sub[p]) for p in chars | set(multi)})
    n_chars = len(chars)
    while True:
        for _ in range(em_iters):
            e = floor(estep(logp))
            logp = mstep(e)
        n_multi = sum(1 for p in logp if len(p) > 1)
        tgt = max(vocab_size - n_chars, 0)
        if n_multi <= tgt:
            break
        keep = max(tgt, int(n_multi * shrink))
        kept = sorted((p for p in logp if len(p) > 1),
                      key=lambda p: (-round(e.get(p, 0.0), 6), p))[:keep]
        logp = mstep({p: e.get(p, 0.0) for p in set(kept) | chars})
    return logp


class TestUnigramTokenizer:
    """operators/unigram.py — SentencePiece-style unigram-LM trainer +
    Viterbi apply, pinned against an independent pure-Python EM twin."""

    CORPUS = [
        (1, "low low low lower lower newest newest newest newest widest"),
        (2, "widest widest low newest the the the cat sat"),
        (3, ""),
    ]
    KW = dict(vocab_size=18, max_piece_len=4, seed_size=50, em_iters=2)

    def test_seed_counts_tiny(self, spark):
        from kgfarm_spark.operators.unigram import unigram_seed_counts

        df = spark.createDataFrame([(1, "ab ab b")], "doc_id long, text string")
        got = {(r["piece"], r["piece_count"])
               for r in unigram_seed_counts(df, "text", max_piece_len=2).collect()}
        assert got == {("a", 2), ("ab", 2), ("b", 3)}

    def test_train_matches_python_twin(self, spark):
        from kgfarm_spark.operators.unigram import unigram_train

        df = spark.createDataFrame(self.CORPUS, "doc_id long, text string")
        pieces = unigram_train(df, "text", **self.KW)
        got = {r["piece"]: r["logprob"] for r in pieces.collect()}
        ref = _py_unigram(
            " ".join(t for _, t in self.CORPUS).split(),
            vocab_size=18, max_piece_len=4, seed_size=50,
            em_iters=2, shrink=0.75,
        )
        assert set(got) == set(ref)
        for p in ref:
            assert abs(got[p] - ref[p]) < 1e-9, p

    def test_local_equals_distributed_and_partition_invariance(self, spark):
        from kgfarm_spark.operators.unigram import unigram_train

        df = spark.createDataFrame(self.CORPUS, "doc_id long, text string")
        a = unigram_train(df, "text", **self.KW)
        b = unigram_train(df.repartition(7), "text", **self.KW)
        c = unigram_train(df, "text", strategy="local", **self.KW)
        ra = sorted((r["piece"], round(r["logprob"], 9)) for r in a.collect())
        rb = sorted((r["piece"], round(r["logprob"], 9)) for r in b.collect())
        rc = sorted((r["piece"], round(r["logprob"], 9)) for r in c.collect())
        assert ra == rb == rc
        assert a.schema == c.schema

    def test_apply_viterbi_semantics(self, spark):
        from kgfarm_spark.operators.unigram import py_viterbi, unigram_apply

        pieces = spark.createDataFrame(
            [("ab", -1.0), ("a", -2.0), ("b", -2.0)],
            "piece string, logprob double",
        )
        df = spark.createDataFrame(
            [(1, "abab abc"), (2, None)], "doc_id long, text string"
        )
        got = {r["doc_id"]: list(r["tokens"])
               for r in unigram_apply(df, pieces, "text", "doc_id",
                                      max_piece_len=4).collect()}
        # 'abab' -> ab+ab (-2) beats a+b+a+b (-8); 'c' unseen -> OOV char
        assert got[1] == ["ab", "ab", "ab", "c"]
        assert got[2] == []
        # tie prefers the LONGER piece: ab(-2) == a(-1)+b(-1) -> 'ab'
        lp = {"ab": -2.0, "a": -1.0, "b": -1.0}
        assert py_viterbi("ab", lp, 4, -10.0) == ["ab"]

    def test_apply_reassembly_gpt2(self, spark):
        from pyspark.sql import functions as F

        from kgfarm_spark.operators.unigram import unigram_apply, unigram_train

        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet").limit(200)
        pieces = unigram_train(docs, "text", vocab_size=300, max_piece_len=4,
                               seed_size=1000, em_iters=1, strategy="local",
                               pretokenize="gpt2")
        out = unigram_apply(docs, pieces, "text", "doc_id",
                            pretokenize="gpt2", max_piece_len=4)
        bad = out.filter(
            F.concat_ws("", F.col("tokens"))
            != F.coalesce(F.col("text"), F.lit(""))
        ).count()
        assert bad == 0  # gpt2 pre-tokens reassemble the exact input

    def test_arg_validation(self, spark):
        from kgfarm_spark.operators.unigram import unigram_apply, unigram_train

        df = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
        for kw in ({"vocab_size": 0}, {"seed_size": 0}, {"em_iters": 0},
                   {"shrink": 1.0}, {"strategy": "magic"}, {"min_count": 0}):
            with pytest.raises(ValueError):
                unigram_train(df, "text", **kw)
        with pytest.raises(ValueError, match="max_local_vocab"):
            unigram_train(df, "text", strategy="local", max_local_vocab=1)
        pieces = spark.createDataFrame([("a", -1.0)], "piece string, logprob double")
        with pytest.raises(ValueError, match="out_col"):
            unigram_apply(df.withColumn("tokens", df.doc_id), pieces, "text")


class TestProductQuantization:
    """operators/similarity.py PQ family — codebook fit determinism,
    exact-reconstruction equivalence, recall pins vs brute force, and
    the ADC→exact rerank knob."""

    def _fixture(self, spark):
        emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
        queries = emb.limit(15).selectExpr("vec_id as query_id", "embedding")
        return emb, queries

    def test_exact_when_codebooks_cover_corpus(self, spark):
        """With every distinct subvector present as a codeword (tiny
        corpus, ksub >= corpus size), encoding is lossless and pq_topk
        must equal the exact brute-force ranking bit-for-bit (same
        tie-break)."""
        import numpy as np

        from kgfarm_spark.operators.similarity import (
            cosine_topk,
            fit_pq_codebooks,
            pq_encode,
            pq_topk,
        )

        rng = np.random.default_rng(5)
        vecs = [(i, [float(x) for x in rng.normal(size=8)]) for i in range(8)]
        emb = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
        queries = emb.limit(3).selectExpr("vec_id as query_id", "embedding")
        books = fit_pq_codebooks(emb, m=4, ksub=8, iters=20)
        codes = pq_encode(emb, books)
        got = pq_topk(codes, queries, books, k=3).collect()
        want = cosine_topk(emb, queries, id_col="vec_id", k=3).collect()
        gm = {(r["query_id"], r["rank"]): (r["neighbor_id"], round(r["cosine"], 9))
              for r in got}
        wm = {(r["query_id"], r["rank"]): (r["neighbor_id"], round(r["cosine"], 9))
              for r in want}
        assert gm == wm

    def test_recall_and_rerank(self, spark):
        from kgfarm_spark.operators.similarity import (
            cosine_topk_twophase,
            fit_pq_codebooks,
            pq_encode,
            pq_topk,
        )

        emb, queries = self._fixture(spark)
        exact = {(r["query_id"], r["neighbor_id"])
                 for r in cosine_topk_twophase(
                     emb, queries, id_col="vec_id", k=10).collect()}
        books = fit_pq_codebooks(emb, m=16, ksub=256)
        codes = pq_encode(emb, books).localCheckpoint()
        adc = {(r["query_id"], r["neighbor_id"])
               for r in pq_topk(codes, queries, books, k=10).collect()}
        assert len(adc & exact) / len(exact) >= 0.7  # flat ADC floor
        rr = {(r["query_id"], r["neighbor_id"])
              for r in pq_topk(codes, queries, books, k=10,
                               rerank=50, corpus=emb).collect()}
        assert len(rr & exact) / len(exact) >= 0.95  # shortlist+exact

    def test_residual_ivfpq_recall_and_cells(self, spark):
        """IVF-PQ residual mode: codes carry the cell id, recall holds
        (it collapses with flat codebooks on clustered data — the 1M
        bench corpus measured 0.006 flat vs 0.96 residual), nprobe
        restricts the scan, and rerank recovers exact recall."""
        from kgfarm_spark.operators.similarity import (
            cosine_topk_twophase,
            fit_ivf_centroids,
            fit_pq_codebooks,
            pq_encode,
            pq_topk,
        )

        emb, queries = self._fixture(spark)
        exact = {(r["query_id"], r["neighbor_id"])
                 for r in cosine_topk_twophase(
                     emb, queries, id_col="vec_id", k=10).collect()}
        cents = fit_ivf_centroids(emb, n_cells=16)
        books = fit_pq_codebooks(emb, m=16, ksub=256, centroids=cents)
        codes = pq_encode(emb, books, centroids=cents).localCheckpoint()
        row = codes.limit(1).collect()[0]
        assert 0 <= row["pq_cell"] < 16
        adc = {(r["query_id"], r["neighbor_id"])
               for r in pq_topk(codes, queries, books, k=10,
                                centroids=cents).collect()}
        assert len(adc & exact) / len(exact) >= 0.7
        rr = {(r["query_id"], r["neighbor_id"])
              for r in pq_topk(codes, queries, books, k=10, centroids=cents,
                               rerank=50, corpus=emb).collect()}
        assert len(rr & exact) / len(exact) >= 0.95
        # nprobe scans fewer cells: still a valid (possibly lossier) set
        np4 = pq_topk(codes, queries, books, k=10, centroids=cents, nprobe=4)
        assert np4.count() > 0
        with pytest.raises(ValueError, match="nprobe"):
            pq_topk(codes, queries, books, k=10, nprobe=4)

    def test_encode_shape_and_partition_invariance(self, spark):
        from kgfarm_spark.operators.similarity import (
            fit_pq_codebooks,
            pq_encode,
            pq_topk,
        )

        emb, queries = self._fixture(spark)
        books = fit_pq_codebooks(emb, m=8, ksub=16)
        codes = pq_encode(emb, books).localCheckpoint()
        row = codes.limit(1).collect()[0]
        assert len(row["pq_code"]) == 8
        assert all(0 <= c < 16 for c in row["pq_code"])
        assert row["pq_norm"] > 0
        a = sorted(map(tuple, pq_topk(codes, queries, books, k=5).collect()))
        b = sorted(map(tuple, pq_topk(
            codes.repartition(13), queries, books, k=5).collect()))
        assert a == b

    def test_validation(self, spark):
        from kgfarm_spark.operators.similarity import (
            fit_pq_codebooks,
            pq_encode,
            pq_topk,
        )

        emb, queries = self._fixture(spark)
        with pytest.raises(ValueError, match="divisible"):
            fit_pq_codebooks(emb, m=7)
        with pytest.raises(ValueError, match="ksub"):
            fit_pq_codebooks(emb, ksub=1)
        books = fit_pq_codebooks(emb, m=8, ksub=16)
        with pytest.raises(ValueError, match="already exists"):
            pq_encode(emb.withColumn("pq_code", F.lit(1)), books)
        codes = pq_encode(emb, books)
        with pytest.raises(ValueError, match="corpus"):
            pq_topk(codes, queries, books, k=5, rerank=20)
        with pytest.raises(ValueError, match="rerank"):
            pq_topk(codes, queries, books, k=5, rerank=2, corpus=emb)
        # empty query set -> empty frame with the contract schema
        out = pq_topk(codes, queries.limit(0), books, k=5)
        assert out.count() == 0
        assert set(out.columns) >= {"query_id", "neighbor_id", "cosine"}


class TestMaterializeSequences:
    """packing.materialize_sequences — the layout materializer. The
    binding invariant: concatenating all sequences in seq order equals
    concatenating all docs' tokens in id order (nothing lost, nothing
    reordered, nothing truncated)."""

    def test_hand_fixture_with_padding(self, spark):
        from kgfarm_spark.operators.packing import materialize_sequences

        rows = [(1, ["a", "b", "c"]), (2, []), (3, ["d", "e", "f", "g", "h"]),
                (4, ["i"]), (5, None)]
        df = spark.createDataFrame(rows, "doc_id long, tokens array<string>")
        out = {r["seq_id"]: r for r in materialize_sequences(
            df, budget=4, pad_token="<pad>").collect()}
        assert list(out[0]["tokens"]) == ["a", "b", "c", "d"]
        assert out[0]["n_docs"] == 2 and out[0]["n_pad"] == 0
        assert list(out[1]["tokens"]) == ["e", "f", "g", "h"]
        assert list(out[2]["tokens"]) == ["i", "<pad>", "<pad>", "<pad>"]
        assert out[2]["n_tokens"] == 1 and out[2]["n_pad"] == 3

    def test_long_doc_spans_many_sequences(self, spark):
        from kgfarm_spark.operators.packing import materialize_sequences

        toks = [f"t{i}" for i in range(23)]
        df = spark.createDataFrame(
            [(1, ["x"]), (2, toks), (3, ["y", "z"])],
            "doc_id long, tokens array<string>",
        )
        rows = materialize_sequences(df, budget=5).orderBy("seq_id").collect()
        flat = [t for r in rows for t in r["tokens"]]
        assert flat == ["x"] + toks + ["y", "z"]
        assert [r["n_tokens"] for r in rows[:-1]] == [5] * (len(rows) - 1)
        # the 23-token doc alone spans ceil(24/5)=5 sequences
        assert sum(1 for r in rows if r["n_docs"] == 1) >= 3

    def test_roundtrip_real_tokens_and_partition_invariance(self, spark):
        from kgfarm_spark.operators.bpe import bpe_apply, bpe_train
        from kgfarm_spark.operators.packing import materialize_sequences

        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet").select("doc_id", "text")
        _, seg = bpe_train(docs, "text", n_merges=12, strategy="local")
        toks = bpe_apply(docs, seg, "text", "doc_id").select("doc_id", "tokens")
        toks = toks.localCheckpoint()
        out = materialize_sequences(toks, budget=128).orderBy("seq_id")
        rows = out.collect()
        flat = [t for r in rows for t in r["tokens"]]
        want = [t for r in toks.orderBy("doc_id").collect()
                for t in r["tokens"]]
        assert flat == want
        assert all(r["n_tokens"] == 128 for r in rows[:-1])
        assert {r["seq_id"] for r in rows} == set(range(len(rows)))
        rows2 = materialize_sequences(
            toks.repartition(7), budget=128).orderBy("seq_id").collect()
        assert [list(r["tokens"]) for r in rows2] == \
               [list(r["tokens"]) for r in rows]

    def test_validation(self, spark):
        from kgfarm_spark.operators.packing import materialize_sequences

        df = spark.createDataFrame([(1, ["a"])], "doc_id long, tokens array<string>")
        with pytest.raises(ValueError, match="budget"):
            materialize_sequences(df, budget=0)
        with pytest.raises(ValueError, match="token_col"):
            materialize_sequences(df, token_col="nope")


# --- hypothesis properties for the r06 kernels -------------------------------
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as hst


@given(
    docs=hst.lists(hst.lists(hst.integers(0, 9), max_size=12), min_size=1,
                   max_size=20),
    budget=hst.integers(1, 7),
)
@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_materialize_roundtrip_property(spark, docs, budget):
    """Random corpora × random budgets: concat of sequences == concat of
    docs (id order); all but the last sequence exactly full."""
    from kgfarm_spark.operators.packing import materialize_sequences

    rows = [(i, [str(t) for t in d]) for i, d in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, tokens array<string>")
    out = materialize_sequences(df, budget=budget).orderBy("seq_id").collect()
    flat = [t for r in out for t in r["tokens"]]
    want = [t for _, d in rows for t in d]
    assert flat == want
    assert all(r["n_tokens"] == budget for r in out[:-1])


# unicode-whitespace-adjacent text: ASCII words, tabs/CR/LF/NBSP runs,
# digits-only tokens, empty and None docs — the tokenization drift surface
_lm_piece = hst.one_of(
    hst.sampled_from(["alpha", "beta", "w12", "9", "...", "#tag", "\u00e9", "\u65e5\u672c"]),
    hst.sampled_from([" ", "\t", "\n", "\r\n", "\u00a0", "  "]),
)


@given(
    texts=hst.lists(
        hst.one_of(hst.none(), hst.lists(_lm_piece, max_size=12).map("".join)),
        min_size=1,
        max_size=25,
    )
)
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_ccnet_buckets_rank_property(spark, texts):
    """For ANY corpus (unicode whitespace, NBSP-glued words, None/empty
    docs), ccnet_buckets carries unigram_logprob's scores and labels each
    non-empty doc by the tercile of its exact percent_rank, recomputed
    here in Python; empty docs are tail."""
    from kgfarm_spark.operators.textstats import ccnet_buckets, unigram_logprob

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    ).repartition(4)
    lm = {
        r["doc_id"]: (r["n_words"], r["mean_logprob"])
        for r in unigram_logprob(docs).collect()
    }
    got = {r["doc_id"]: r for r in ccnet_buckets(docs).collect()}
    assert {i: (r["n_words"], r["mean_logprob"]) for i, r in got.items()} == lm, texts

    scores = sorted(s for n, s in lm.values() if n > 0)

    def bucket(n_words, score):
        if n_words == 0:
            return "tail"
        pr = scores.index(score) / max(len(scores) - 1, 1)
        return "head" if pr >= 0.666667 else "middle" if pr >= 0.333333 else "tail"

    want = {i: bucket(*v) for i, v in lm.items()}
    assert {i: r["bucket"] for i, r in got.items()} == want, texts


class TestGopherRepetitionFull:
    """textstats.gopher_repetition_full — the complete Table A1
    repetition family, hand-computed fixture + the overlap cap."""

    def test_hand_computed(self, spark):
        from kgfarm_spark.operators.textstats import gopher_repetition_full

        docs = [
            (1, "spam spam spam spam spam spam"),
            (2, "a b c d e f g h i j"),
            (3, "line one\nline one\nline two\n\npara\n\npara"),
            (4, None),
        ]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        got = {r["doc_id"]: r.asDict()
               for r in gopher_repetition_full(df).collect()}
        # doc 1: 'spam spam' bigram count 5 x 9 chars = 45 > 29 chars ->
        # capped at 1.0; 5-gram 'spam x5' occurs twice -> dup mass 2x24=48
        # -> capped
        assert got[1]["top_2gram_char_frac"] == 1.0
        assert got[1]["dup_5gram_char_frac"] == 1.0
        assert got[1]["dup_6gram_char_frac"] == 0.0
        # doc 2: all distinct -> top bigram 'a b' (tie -> lexicographic
        # max 'i j'), count 1 x 3 chars / 19 chars
        assert got[2]["top_2gram_char_frac"] == round(3 / 19, 6)
        assert got[2]["dup_5gram_char_frac"] == 0.0
        # doc 3 lines (blank lines dropped): [line one, line one,
        # line two, para, para] -> 3 distinct of 5; duplicated chars
        # 'line one'x2 (16) + 'para'x2 (8) of 32 total
        assert got[3]["dup_line_frac"] == round(1 - 3 / 5, 6)
        assert got[3]["dup_line_char_frac"] == round(24 / 32, 6)
        # paragraphs: ['line one\nline one\nline two', 'para', 'para']
        assert got[3]["dup_para_frac"] == round(1 - 2 / 3, 6)
        assert got[3]["dup_para_char_frac"] == round(8 / 34, 6)
        # null text -> all zeros
        assert all(v == 0.0 for k, v in got[4].items() if k != "doc_id")

    def test_partition_invariance(self, spark):
        from kgfarm_spark.operators.textstats import gopher_repetition_full

        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet").select("doc_id", "text")
        a = sorted(map(tuple, gopher_repetition_full(docs).collect()))
        b = sorted(map(tuple, gopher_repetition_full(
            docs.repartition(7)).collect()))
        assert a == b


def test_gopher_repetition_verdict_and_filter(spark):
    """The published Table A1 repetition caps over the full stat family:
    per-rule flags + conjunction; gopher_filter(full_repetition=True)
    routes its repetition leg through them; unknown cap keys raise."""
    from kgfarm_spark.operators.textstats import (
        GOPHER_REPETITION_CAPS,
        gopher_filter,
        gopher_repetition_full,
        gopher_repetition_verdict,
    )

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet").select("doc_id", "text")
    v = {r["doc_id"]: r for r in gopher_repetition_verdict(docs).collect()}
    stats = {r["doc_id"]: r for r in gopher_repetition_full(docs).collect()}
    for did, r in v.items():
        for c, thr in GOPHER_REPETITION_CAPS.items():
            assert r[f"{c}_ok"] == (stats[did][c] <= thr), (did, c)
        assert r["keep"] == all(
            r[f"{c}_ok"] for c in GOPHER_REPETITION_CAPS)
    # realistic corpus: the caps bind but don't zero the corpus
    kept = sum(1 for r in v.values() if r["keep"])
    assert 0 < kept < len(v)
    f = gopher_filter(
        docs, gate_kw={"max_digit_ratio": 1.0, "min_stopword_hits": 0},
        full_repetition=True,
    )
    got = {r["doc_id"]: r["repetition_ok"] for r in f.collect()}
    assert got == {did: r["keep"] for did, r in v.items()}
    with pytest.raises(ValueError, match="unknown repetition cap"):
        gopher_repetition_verdict(docs, caps={"typo_frac": 0.5})


def test_ngram_novelty(spark):
    from kgfarm_spark.operators.dedup import ngram_novelty

    corpus = spark.createDataFrame(
        [
            (1, "a b c d e f"),        # shingles: abcde bcdef -> both seen
            (2, "a b c d e z"),        # abcde seen, bcdez novel -> 0.5
            (3, "p q r s t u"),        # all novel
            (4, "x y"),                # < n words -> no shingles
            (5, None),                 # null text
        ],
        "doc_id long, text string",
    )
    ref = spark.createDataFrame(
        [(10, "a b c d e f g")], "doc_id long, text string"
    )
    got = {r["doc_id"]: r for r in ngram_novelty(corpus, ref, n=5).collect()}
    assert set(got) == {1, 2, 3, 4, 5}
    assert (got[1]["n_shingles"], got[1]["n_novel"]) == (2, 0)
    assert got[1]["novelty"] == 0.0
    assert got[2]["novelty"] == 0.5
    assert got[3]["novelty"] == 1.0
    assert got[4]["n_shingles"] == 0 and got[4]["novelty"] is None
    assert got[5]["novelty"] is None


def test_minhash_paths_identical(spark):
    """r07 optimization guards: the single-pass candidate enumeration +
    signature materialization + optional verify pushdown must all yield
    the exact pair set of the fully lazy plan."""
    from kgfarm_spark.operators.dedup import minhash_lsh_dedup_pairs

    rows = [(i, f"w{i%7} w{(i+1)%7} w{(i+2)%7} w{(i+3)%7} w{(i+4)%5} tail{i%3}")
            for i in range(60)]
    rows += [(1000 + i, rows[i][1]) for i in range(0, 60, 5)]  # exact dups
    df = spark.createDataFrame(rows, "doc_id long, text string")
    base = {
        tuple(r)
        for r in minhash_lsh_dedup_pairs(
            df, "doc_id", "text", materialize=False
        ).collect()
    }
    assert base  # planted dups must surface
    for kw in ({"materialize": True}, {"materialize": True, "verify_pushdown": True}):
        got = {
            tuple(r)
            for r in minhash_lsh_dedup_pairs(df, "doc_id", "text", **kw).collect()
        }
        assert got == base, kw


def test_hashed_embedding_retrieval(spark):
    """The text→vector bridge: near-identical texts cosine-match far
    above unrelated ones, with no external encoder."""
    from kgfarm_spark.operators.similarity import (
        cosine_topk,
        hashed_text_embedding,
    )

    rows = [
        ("a", "the quick brown fox jumps over the lazy dog"),
        ("b", "the quick brown fox jumps over the lazy cat"),  # near-dup of a
        ("c", "spark shuffles partitions across the cluster nodes"),
        ("d", ""),        # zero words -> dropped
        ("e", None),      # null -> dropped
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    emb = hashed_text_embedding(df, dim=64)
    got = {r["doc_id"]: r for r in emb.collect()}
    assert set(got) == {"a", "b", "c"}
    # unit norm
    for r in got.values():
        assert abs(sum(x * x for x in r["emb"]) - 1.0) < 1e-9
    assert got["a"]["n_words"] == 9
    # retrieval: a's nearest non-self neighbor is b, and the a-b cosine
    # dominates a-c
    corpus = emb.select(F.col("doc_id").alias("id"), F.col("emb").alias("v"))
    q = corpus.filter(F.col("id") == "a").select(
        F.col("id").alias("qid"), F.col("v")
    )
    top = cosine_topk(
        corpus, q, id_col="id", vec_col="v", query_id_col="qid", k=2,
    ).collect()
    ranked = [r["neighbor_id"] for r in sorted(top, key=lambda r: r["rank"])]
    assert ranked == ["b", "c"]  # self excluded; near-dup first
    sims = {r["neighbor_id"]: r["cosine"] for r in top}
    assert sims["b"] > 0.7 > sims["c"]
    # partition invariance
    again = {r["doc_id"]: r["emb"]
             for r in hashed_text_embedding(df.repartition(5), dim=64).collect()}
    assert all(again[k] == got[k]["emb"] for k in got)
