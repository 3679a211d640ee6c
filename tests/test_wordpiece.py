"""WordPiece: incremental trainer == naive rescan twin, apply == pure
max-munch, round-0 scores distributed == local."""

import pytest

from kgfarm_spark.operators.wordpiece import (
    _fuse,
    py_wordpiece_apply,
    py_wordpiece_train,
    py_wp_symbols,
    wordpiece_apply,
    wordpiece_pair_scores,
    wordpiece_train,
)

DOCS = [
    (0, "the unhappy runner was running and rerunning"),
    (1, "unhappy unhelpful unkind people ran the run"),
    (2, "a runner runs reruns and outruns the running pack"),
    (3, "kind helpful happy people help the happy pack"),
    (4, "the the the run run runner"),
]


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def _census(rows):
    c: dict = {}
    for _, t in rows:
        for w in t.split():
            c[w] = c.get(w, 0) + 1
    return list(c), [c[w] for w in c]


@pytest.mark.parametrize("n_merges", [1, 5, 25])
def test_train_matches_rescan_twin(spark, docs_df, n_merges):
    merges_df, _ = wordpiece_train(docs_df, n_merges=n_merges)
    got = [(r["rank"], r["left"], r["right"]) for r in
           merges_df.orderBy("rank").collect()]
    words, counts = _census(DOCS)
    twin = [(rk, l, r) for rk, l, r, _ in
            py_wordpiece_train(words, counts, n_merges)]
    assert got == twin
    # scores are positive and the merge ranks are contiguous
    assert [g[0] for g in got] == list(range(len(got)))


def test_pair_scores_round0(spark, docs_df):
    rows = wordpiece_pair_scores(docs_df).collect()
    words, counts = _census(DOCS)
    # recompute round-0 stats in pure python
    pair_count: dict = {}
    sym_count: dict = {}
    for w, c in zip(words, counts):
        s = py_wp_symbols(w)
        for x in s:
            sym_count[x] = sym_count.get(x, 0) + c
        for p in zip(s, s[1:]):
            pair_count[p] = pair_count.get(p, 0) + c
    assert len(rows) == len(pair_count)
    for r in rows:
        p = (r["left"], r["right"])
        assert r["pair_count"] == pair_count[p]
        assert r["left_count"] == sym_count[p[0]]
        assert r["right_count"] == sym_count[p[1]]
        assert r["score"] == pytest.approx(
            pair_count[p] / (sym_count[p[0]] * sym_count[p[1]]), abs=1e-9
        )
    # the argmax pair of round 0 is the first trained merge
    best = max(rows, key=lambda r: (r["score"], (r["left"], r["right"])))
    twin = py_wordpiece_train(words, counts, 1)[0]
    assert (best["left"], best["right"]) == (twin[1], twin[2])


def test_apply_matches_pure_maxmunch(spark, docs_df):
    _, vocab = wordpiece_train(docs_df, n_merges=30)
    vset = {r["piece"] for r in vocab.collect()}
    out = {
        r["doc_id"]: r["tokens"]
        for r in wordpiece_apply(docs_df, vocab).collect()
    }
    for i, t in DOCS:
        expect = []
        for w in t.split():
            expect.extend(py_wordpiece_apply(w, vset))
        assert out[i] == expect
    # round trip: stripping '##' reconstructs each word
    for toks in out.values():
        assert all(t == "[UNK]" or not t.startswith("##") or len(t) > 2
                   for t in toks)


def test_apply_unknown_and_long_words(spark):
    df = spark.createDataFrame(
        [(0, "zzz aaaa " + "a" * 300)], "doc_id long, text string"
    )
    train = spark.createDataFrame([(1, "aaaa aaaa")], "doc_id long, text string")
    _, vocab = wordpiece_train(train, n_merges=3)
    toks = wordpiece_apply(df, vocab, max_word_len=200).collect()[0]["tokens"]
    assert toks[0] == "[UNK]"          # 'z' not in vocab
    assert toks[-1] == "[UNK]"         # over max_word_len
    assert "aaaa" in toks              # fully merged piece max-munches


def test_validation(spark, docs_df):
    with pytest.raises(ValueError, match="n_merges"):
        wordpiece_train(docs_df, n_merges=-1)
    with pytest.raises(ValueError, match="min_count"):
        wordpiece_train(docs_df, min_count=0)
    with pytest.raises(ValueError, match="max_local_vocab"):
        wordpiece_train(docs_df, max_local_vocab=2)
    assert _fuse("un", "##able") == "unable"
    assert _fuse("##a", "##b") == "##ab"


def test_tokenize_with_offsets(spark, docs_df):
    from kgfarm_spark.operators.wordpiece import (
        py_wordpiece_apply,
        wordpiece_tokenize_with_offsets,
    )

    _, vocab = wordpiece_train(docs_df, n_merges=20)
    vset = {r["piece"] for r in vocab.collect()}
    out = {r["doc_id"]: r for r in
           wordpiece_tokenize_with_offsets(docs_df, vocab).collect()}
    for i, t in DOCS:
        r = out[i]
        # same tokens as the plain apply path
        expect = []
        for w in t.split():
            expect.extend(py_wordpiece_apply(w, vset))
        assert r["tokens"] == expect
        # offsets reconstruct each token's surface
        for tok, s, e in zip(r["tokens"], r["starts"], r["ends"]):
            surf = t[s:e]
            if tok == "[UNK]":
                assert " " not in surf and len(surf) > 0
            elif tok.startswith("##"):
                assert surf == tok[2:]
            else:
                assert surf == tok


def test_word_initial_raw_prefix_never_matches_continuation():
    """r06 advisor finding: a literal '##ab' word must not max-munch
    into the CONTINUATION entry '##ab' at position 0 — the '##' marker
    encodes position, and a false match desyncs the offset kernel
    (which subtracts the marker length from every '##' piece)."""
    from kgfarm_spark.operators.wordpiece import (
        _word_offset_pieces,
        py_wordpiece_apply,
    )

    vocab = {"##ab", "a", "##b", "#", "###"}
    # '##ab' the literal word: the raw prefix '##ab' matches the
    # continuation entry textually but must be rejected at i==0; the
    # cover is then '#' (raw) + '###' (continuation of '#') + '##ab'
    # (continuation of 'ab' — legitimate at i==2)
    assert py_wordpiece_apply("##ab", vocab) == ["#", "###", "##ab"]
    pieces, starts, ends = _word_offset_pieces("##ab", vocab, "[UNK]", 200)
    # offsets must re-cover the word surface exactly, whatever the split
    w = "##ab"
    assert ends[-1] == len(w)
    assert all(e - s >= 1 for s, e in zip(starts, ends))
    # and a vocab where the only cover needs the continuation match at
    # i==0 now yields UNK instead of desynced offsets
    pieces2 = py_wordpiece_apply("##ab", {"##ab"}, "[UNK]")
    assert pieces2 == ["[UNK]"]
