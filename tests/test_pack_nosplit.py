"""pack_sequences_nosplit: exact parity vs a pure-Python sequential twin
(per range-bucket), plus structural invariants."""

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

from kgfarm_spark.operators.packing import pack_sequences_nosplit


def _twin(rows, budget, oversize="error"):
    """Sequential greedy close-on-overflow packing twin (per pre-bucketed
    group the operator packs independently — the twin packs ONE group)."""
    out = {}
    s, fill = 0, 0
    for i, n in sorted(rows):
        if n > budget:
            if oversize == "error":
                raise ValueError("oversize")
            if oversize == "drop":
                continue
            if fill > 0:
                s += 1
            out[i] = (s, 0)
            s, fill = s + 1, 0
            continue
        if fill + n > budget:
            s, fill = s + 1, 0
        out[i] = (s, fill)
        fill += n
    return out


def test_nosplit_parity_single_bucket(spark):
    rows = [(i, (i * 37) % 9 + 1) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    got = {
        r["doc_id"]: (r["seq_id"], r["offset_in_seq"])
        for r in pack_sequences_nosplit(df, budget=16, n_buckets=1).collect()
    }
    assert got == _twin(rows, 16)


def test_nosplit_invariants_multi_bucket(spark):
    rows = [(i, (i * 53) % 40 + 1) for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    out = pack_sequences_nosplit(df, budget=64, n_buckets=8).collect()
    assert len(out) == 500
    by_seq = {}
    for r in out:
        by_seq.setdefault(r["seq_id"], []).append(r)
    for seq, docs in by_seq.items():
        docs.sort(key=lambda r: r["offset_in_seq"])
        # gapless offsets, fill <= budget, no doc crosses the boundary
        fill = 0
        for d in docs:
            assert d["offset_in_seq"] == fill
            fill += d["n_tokens"]
        assert fill <= 64
    # global seq ids are 0..max contiguous
    assert sorted(by_seq) == list(range(len(by_seq)))


def test_nosplit_oversize_policies(spark):
    rows = [(1, 10), (2, 100), (3, 10)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    with pytest.raises(ValueError, match="exceed budget"):
        pack_sequences_nosplit(df, budget=32, n_buckets=1)
    dropped = pack_sequences_nosplit(df, budget=32, n_buckets=1, oversize="drop")
    assert {r["doc_id"] for r in dropped.collect()} == {1, 3}
    own = {
        r["doc_id"]: (r["seq_id"], r["offset_in_seq"])
        for r in pack_sequences_nosplit(
            df, budget=32, n_buckets=1, oversize="own"
        ).collect()
    }
    assert own == _twin(rows, 32, oversize="own")
    # the oversize doc sits alone in its own sequence
    assert own[2][1] == 0
    assert len({v[0] for v in own.values()}) == 3  # 10+10 could share? no:
    # order is 1 (seq0 fill10), 2 oversize (closes seq0 -> own seq1), 3 (seq2)


def test_nosplit_null_and_validation(spark):
    df = spark.createDataFrame([(1, None)], "doc_id long, n_tokens long")
    with pytest.raises(ValueError, match="NULL"):
        pack_sequences_nosplit(df, budget=8, n_buckets=1)
    good = spark.createDataFrame([(1, 2)], "doc_id long, n_tokens long")
    with pytest.raises(ValueError, match="budget"):
        pack_sequences_nosplit(good, budget=0)
    with pytest.raises(ValueError, match="oversize"):
        pack_sequences_nosplit(good, budget=8, oversize="what")
    sdf = spark.createDataFrame([("a", 2)], "doc_id string, n_tokens long")
    with pytest.raises(ValueError, match="numeric id"):
        pack_sequences_nosplit(sdf, budget=8)
    # a NULL must raise under EVERY oversize policy, even when an
    # oversize row also exists (regression: a combined NULL-or-oversize
    # probe with limit(1) could surface the oversize row and let the
    # NULL through to a silent drop / kernel crash)
    mixed = spark.createDataFrame(
        [(1, 99), (2, None)], "doc_id long, n_tokens long"
    )
    for policy in ("error", "drop", "own"):
        with pytest.raises(ValueError, match="NULL|budget"):
            pack_sequences_nosplit(mixed, budget=8, n_buckets=1, oversize=policy)


@pytest.mark.parametrize("seed", [3, 11])
def test_nosplit_random_parity_per_bucket(spark, seed):
    import random

    rng = random.Random(seed)
    rows = [(i, rng.randint(1, 30)) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    out = pack_sequences_nosplit(df, budget=32, n_buckets=4)
    # reconstruct each bucket's id range from the output grouping and
    # check per-sequence fill never exceeds budget and waste is < 1
    # sequence per bucket boundary
    fills = (
        out.groupBy("seq_id").agg(F.sum("n_tokens").alias("fill")).collect()
    )
    assert all(r["fill"] <= 32 for r in fills)
    n_seqs = len(fills)
    total = sum(n for _, n in rows)
    # next-fit greedy is <= 2x optimal (any two consecutive sequences
    # hold > budget tokens), plus <=1 partial sequence per bucket
    assert n_seqs <= 2 * (total // 32 + 1) + 4


def test_materialize_nosplit_roundtrip(spark):
    from kgfarm_spark.operators.packing import materialize_sequences_nosplit

    import random

    rng = random.Random(5)
    rows = [(i, [i * 100 + j for j in range(rng.randint(1, 12))]) for i in range(80)]
    df = spark.createDataFrame(rows, "doc_id long, tokens array<long>")
    seqs = materialize_sequences_nosplit(
        df, budget=16, pad_token=-1, n_buckets=4
    ).collect()
    # every doc's token run appears INTACT inside exactly one sequence
    alltoks = {}
    for s in seqs:
        assert s["n_tokens"] + s["n_pad"] == 16 or s["n_pad"] == 0
        body = [t for t in s["tokens"] if t != -1]
        assert len(body) <= 16
        alltoks[s["seq_id"]] = body
    flat_docs = {i: toks for i, toks in rows}
    for i, toks in flat_docs.items():
        hits = [
            sid for sid, body in alltoks.items()
            if any(body[k:k + len(toks)] == toks for k in range(len(body)))
        ]
        assert hits, f"doc {i} missing"
    # total non-pad tokens conserved
    assert sum(len(b) for b in alltoks.values()) == sum(len(t) for _, t in rows)


def test_materialize_nosplit_oversize_own(spark):
    from kgfarm_spark.operators.packing import materialize_sequences_nosplit

    rows = [(1, list(range(4))), (2, list(range(40))), (3, list(range(4)))]
    df = spark.createDataFrame(rows, "doc_id long, tokens array<long>")
    seqs = {r["seq_id"]: r for r in materialize_sequences_nosplit(
        df, budget=16, pad_token=-1, n_buckets=1, oversize="own"
    ).collect()}
    big = [s for s in seqs.values() if s["n_docs"] == 1 and s["n_tokens"] >= 40]
    assert len(big) == 1 and big[0]["n_pad"] == 0  # oversize seq never padded


def test_chunk_documents_semantics(spark):
    from kgfarm_spark.operators.packing import chunk_documents

    words = [f"w{i}" for i in range(10)]
    rows = [
        (1, " ".join(words)),          # 10 words, window 4 stride 2 -> 4 chunks
        (2, "a b"),                    # fits one chunk
        (3, ""),                       # empty -> dropped
        (4, None),                     # null -> dropped
        (5, "  x \t y\n z  "),         # messy whitespace -> 3 words
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = chunk_documents(df, window=4, stride=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert set(by_doc) == {1, 2, 5}
    c1 = sorted(by_doc[1], key=lambda r: r["chunk_idx"])
    # ceil((10-4)/2)+1 = 4 chunks; chunk i covers words [2i, 2i+4)
    assert [r["chunk_text"] for r in c1] == [
        "w0 w1 w2 w3", "w2 w3 w4 w5", "w4 w5 w6 w7", "w6 w7 w8 w9",
    ]
    assert [r["n_tokens"] for r in c1] == [4, 4, 4, 4]
    assert by_doc[2][0]["chunk_text"] == "a b"
    assert by_doc[2][0]["n_tokens"] == 2
    assert by_doc[5][0]["chunk_text"] == "x y z"
    # coverage invariant: every word index in [0, n) is inside >=1 chunk
    # and the reconstruction of non-overlapping stride prefixes is exact
    joined = " ".join(r["chunk_text"].split()[0] for r in c1)
    assert joined == "w0 w2 w4 w6"


def test_chunk_documents_short_tail_and_validation(spark):
    from kgfarm_spark.operators.packing import chunk_documents

    df = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(7)))], "doc_id long, text string"
    )
    out = sorted(
        chunk_documents(df, window=4, stride=3).collect(),
        key=lambda r: r["chunk_idx"],
    )
    # ceil((7-4)/3)+1 = 2 chunks; last chunk is SHORT (w3..w6 -> 4? no:
    # chunk1 covers words [3, 7) = 4 words exactly)
    assert [r["n_tokens"] for r in out] == [4, 4]
    out2 = sorted(
        chunk_documents(df, window=4, stride=4).collect(),
        key=lambda r: r["chunk_idx"],
    )
    # disjoint chunks: [0,4) and [4,7) -> short tail of 3
    assert [r["n_tokens"] for r in out2] == [4, 3]
    assert out2[1]["chunk_text"] == "w4 w5 w6"
    import pytest as _pytest

    with _pytest.raises(ValueError):
        chunk_documents(df, window=4, stride=5)
    with _pytest.raises(ValueError):
        chunk_documents(df, window=4, stride=0)


def test_pack_sft_sequences_roundtrip(spark):
    from kgfarm_spark.operators.packing import pack_sft_sequences

    rows = [
        ("c1", ["a", "b", "c", "d", "e"], [False, True, True, False, True]),
        ("c2", ["f", "g"], [True, False]),
        ("c3", ["h", "i", "j"], [False, False, True]),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, tokens array<string>, loss_mask array<boolean>"
    )
    out = sorted(
        pack_sft_sequences(df, budget=4, pad_token="[PAD]").collect(),
        key=lambda r: r["seq_id"],
    )
    # 10 tokens, budget 4 -> 3 sequences (4, 4, 2+2 pad)
    assert [r["n_tokens"] for r in out] == [4, 4, 2]
    assert out[2]["n_pad"] == 2
    # concat-roundtrip: tokens AND masks reproduce the hashed-id-order
    # concat (string ids pack in xxhash64 order — stable, not lexical)
    from pyspark.sql import functions as _F

    order = {
        r["conv_id"]: r["h"]
        for r in df.select("conv_id", _F.xxhash64("conv_id").alias("h")).collect()
    }
    rows_sorted = sorted(rows, key=lambda r: order[r[0]])
    flat_t, flat_m = [], []
    for r in out:
        flat_t.extend(r["tokens"])
        flat_m.extend(r["loss_mask"])
    want_t = [t for _, ts, _ in rows_sorted for t in ts] + ["[PAD]"] * 2
    want_m = [m for _, _, ms in rows_sorted for m in ms] + [False] * 2
    assert flat_t == want_t
    assert flat_m == want_m
    # every mask bit still sits next to its token: True positions map to
    # the same token values as in the input
    trained_in = {(t) for _, ts, ms in rows for t, m in zip(ts, ms) if m}
    trained_out = {t for t, m in zip(flat_t, flat_m) if m}
    assert trained_out == trained_in
    # pad never trains
    assert all(not m for t, m in zip(flat_t, flat_m) if t == "[PAD]")


def test_pack_sft_rejects_duplicate_ids(spark):
    from kgfarm_spark.operators.packing import pack_sft_sequences

    df = spark.createDataFrame(
        [("c1", ["a"], [True]), ("c1", ["b"], [False])],
        "conv_id string, tokens array<string>, loss_mask array<boolean>",
    )
    with pytest.raises(ValueError, match="not collision-free"):
        pack_sft_sequences(df, budget=4)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    words=st.lists(
        st.text(alphabet="abcxyz", min_size=1, max_size=4), min_size=1, max_size=40
    ),
    window=st.integers(min_value=1, max_value=8),
    stride_off=st.integers(min_value=0, max_value=7),
)
def test_chunk_documents_coverage_property(spark, words, window, stride_off):
    from kgfarm_spark.operators.packing import chunk_documents

    stride = max(1, min(window, 1 + stride_off))
    df = spark.createDataFrame([(1, " ".join(words))], "doc_id long, text string")
    out = sorted(
        chunk_documents(df, window=window, stride=stride).collect(),
        key=lambda r: r["chunk_idx"],
    )
    n = len(words)
    # chunk i is exactly words[i*stride : i*stride + window]
    for r in out:
        i = r["chunk_idx"]
        want = words[i * stride : i * stride + window]
        assert r["chunk_text"].split(" ") == want
        assert r["n_tokens"] == len(want)
    # coverage: every word index is inside at least one chunk
    covered = set()
    for r in out:
        covered.update(range(r["chunk_idx"] * stride,
                             r["chunk_idx"] * stride + r["n_tokens"]))
    assert covered == set(range(n))
    # chunk count matches the closed form
    import math
    want_k = 1 if n <= window else math.ceil((n - window) / stride) + 1
    assert len(out) == want_k
