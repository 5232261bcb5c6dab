"""BPE trainer/encoder vs a pure-Python reference implementation."""

from collections import Counter

import pytest

from graph_data_science_spark.operators.tokenizer import (
    EOW,
    bpe_encode,
    bpe_train,
)


# -- pure-Python reference BPE (Sennrich et al. 2016, word-frequency form) --

def _py_norm(t):
    return " ".join(t.lower().split())


def _py_merge_word(syms, pair):
    out, i = [], 0
    while i < len(syms):
        if i + 1 < len(syms) and (syms[i], syms[i + 1]) == pair:
            out.append(syms[i] + syms[i + 1])
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return tuple(out)


def _py_bpe_train(texts, n_merges):
    wf = Counter(w for t in texts for w in _py_norm(t).split() if w)
    vocab = {tuple(list(w) + [EOW]): c for w, c in wf.items()}
    merges = []
    for _ in range(n_merges):
        pairs = Counter()
        for syms, c in vocab.items():
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] += c
        if not pairs:
            break
        # (count desc, left asc, right asc)
        best, cnt = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        if cnt < 2:
            break
        merges.append(best)
        vocab = {_py_merge_word(s, best): c for s, c in vocab.items()}
    return merges


def _py_bpe_encode(text, merges):
    toks = []
    for w in _py_norm(text).split():
        syms = tuple(list(w) + [EOW])
        for m in merges:
            syms = _py_merge_word(syms, m)
        toks.extend(syms)
    return toks


FIXTURE = [
    (0, "low lower lowest low low"),
    (1, "newer newest new news"),
    (2, "wider wide widest low"),
    (3, "the newer the lower the wider"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(FIXTURE, "doc_id long, text string")


def test_bpe_train_matches_reference(docs):
    got = bpe_train(docs, n_merges=12)
    want = _py_bpe_train([t for _, t in FIXTURE], 12)
    assert got == want
    assert len(got) >= 8  # the fixture supports a deep merge sequence


def test_bpe_encode_matches_reference(docs):
    merges = bpe_train(docs, n_merges=10)
    enc = {r["doc_id"]: (r["n_bpe_tokens"], list(r["tokens"]))
           for r in bpe_encode(docs, merges).collect()}
    for doc_id, text in FIXTURE:
        want = _py_bpe_encode(text, merges)
        assert enc[doc_id] == (len(want), want), f"doc {doc_id}"


def test_bpe_deterministic_across_parallelism(spark, docs):
    a = bpe_train(docs, n_merges=8)
    b = bpe_train(docs.repartition(7), n_merges=8)
    assert a == b


def test_bpe_empty_and_tiny_docs(spark):
    docs = spark.createDataFrame(
        [(0, ""), (1, "   "), (2, "a"), (3, "ab ab")],
        "doc_id long, text string")
    merges = bpe_train(docs, n_merges=5)
    # "ab ab": (a,b) count 2 merges first, then (ab,</w>) count 2
    assert merges[0] == ("a", "b")
    enc = {r["doc_id"]: list(r["tokens"]) for r in bpe_encode(docs, merges).collect()}
    assert enc[0] == [] and enc[1] == []
    assert enc[3] == _py_bpe_encode("ab ab", merges)


def test_bpe_overlapping_pair_is_greedy_left_to_right(spark):
    docs = spark.createDataFrame([(0, "aaa aaa")], "doc_id long, text string")
    merges = bpe_train(docs, n_merges=1)
    assert merges == [("a", "a")]
    enc = bpe_encode(docs, merges).collect()[0]
    # "aaa" folds to [aa, a, </w>] — non-overlapping, like the reference
    assert list(enc["tokens"]) == ["aa", "a", EOW, "aa", "a", EOW]


def test_bpe_vocab_dense_lex_ids(docs):
    from graph_data_science_spark.operators.tokenizer import (
        bpe_encode, bpe_vocab)

    merges = bpe_train(docs, n_merges=8)
    v = bpe_vocab(docs, merges).collect()
    toks = sorted({t for r in bpe_encode(docs, merges).collect()
                   for t in r["tokens"]})
    assert [r["token"] for r in sorted(v, key=lambda r: r["token_id"])] \
        == toks
    assert sorted(r["token_id"] for r in v) == list(range(len(toks)))


def test_bpe_encode_ids_roundtrip(docs):
    from graph_data_science_spark.operators.tokenizer import (
        bpe_encode, bpe_encode_ids, bpe_vocab)

    merges = bpe_train(docs, n_merges=8)
    vocab = {r["token_id"]: r["token"]
             for r in bpe_vocab(docs, merges).collect()}
    toks = {r["doc_id"]: r["tokens"]
            for r in bpe_encode(docs, merges).collect()}
    for r in bpe_encode_ids(docs, merges).collect():
        assert [vocab[i] for i in r["ids"]] == toks[r["doc_id"]]
        assert r["n_bpe_tokens"] == len(r["ids"])


def test_bpe_encode_ids_frozen_vocab_oov(spark, docs):
    from graph_data_science_spark.operators.tokenizer import (
        bpe_encode_ids, bpe_vocab)

    merges = bpe_train(docs, n_merges=8)
    vocab = bpe_vocab(docs, merges)
    new = spark.createDataFrame(
        [(99, "zzz qqq")], ["doc_id", "text"])  # chars unseen in training
    out = {r["doc_id"]: r for r in
           bpe_encode_ids(new, merges, vocab=vocab).collect()}
    assert -1 in out[99]["ids"]   # OOV symbols map to -1, not dropped
    assert len(out[99]["ids"]) == out[99]["n_bpe_tokens"]


def test_bpe_encode_ids_null_text_keeps_row(spark, docs):
    """NULL text → size(NULL tokens) is NULL, matching neither the
    posexplode branch nor an == 0 filter; the doc must still get a row
    with empty ids (regression: it silently vanished)."""
    from graph_data_science_spark.operators.tokenizer import (
        bpe_encode, bpe_encode_ids)

    merges = bpe_train(docs, n_merges=4)
    mixed = spark.createDataFrame(
        [(1, "ab ab"), (2, None), (3, "")],
        "doc_id long, text string")
    enc = {r["doc_id"]: r for r in bpe_encode(mixed, merges).collect()}
    ids = {r["doc_id"]: r for r in bpe_encode_ids(mixed, merges).collect()}
    assert set(ids) == set(enc) == {1, 2, 3}
    assert ids[2]["ids"] == [] and ids[2]["n_bpe_tokens"] == 0
    assert ids[3]["ids"] == []
    assert len(ids[1]["ids"]) == ids[1]["n_bpe_tokens"] > 0


def test_bpe_train_local_equals_distributed(spark):
    """The size-gated local finish and the batched distributed loop must
    learn the IDENTICAL merge list (same greedy fold, same tie-break) —
    the louvain local-finish discipline, pinned here."""
    from graph_data_science_spark.operators.tokenizer import bpe_train
    from graph_data_science_spark.plans.loop_state import pinned_tier

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(
            ["the cat sat on the mat", "the hat and the bat",
             "a cat and a hat sat", "mats and hats and bats",
             "the the the cat cat"] * 3)],
        ["doc_id", "text"])
    local = bpe_train(docs, n_merges=15)
    with pinned_tier("memory"):
        dist = bpe_train(docs, n_merges=15)
    assert local == dist and len(local) == 15
