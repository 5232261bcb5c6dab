"""Semantic tests for the corpus-pipeline decision operators.

The DuckDB hash-equality gate lives in test_entry_oracle.py (these five ops
are fully oracled); here we pin the *semantics* on hand-built corpora:
duplicates cluster together, contamination flags fire exactly on shared
n-grams, splits are stable and exhaustive.
"""

import pytest
from pyspark.sql import functions as F

from graph_data_science_spark.operators.pipeline_ops import (
    corpus_vocabulary,
    decontaminate,
    hash_split,
    near_duplicate_clusters,
    tf_idf_top_terms,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        # 0/1: identical long docs; 2: one word changed (near-dup of 0/1)
        (0, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (2, "alpha beta gamma delta epsilon zeta eta theta iota mu"),
        # 3: unrelated
        (3, "one two three four five six seven eight nine ten"),
        # 4: unrelated, shares zero 3-grams with everything
        (4, "red green blue cyan magenta yellow black white gray pink"),
        # 20: eval-split member (doc_id % 20 == 0 handled via id 40 below)
        (40, "one two three four five sixty seventy eighty ninety hundred"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_near_duplicate_clusters_groups_near_dups(docs):
    res = near_duplicate_clusters(docs).orderBy("doc_id").collect()
    by_id = {r["doc_id"]: r for r in res}
    # every doc appears exactly once
    assert sorted(by_id) == [0, 1, 2, 3, 4, 40]
    # identical docs 0/1 share a cluster rooted at the min id
    assert by_id[1]["cluster_id"] == by_id[0]["cluster_id"] == 0
    assert not by_id[0]["is_duplicate"] and by_id[1]["is_duplicate"]
    # near-dup 2 joins the same cluster (9/10 shared words -> shared bands)
    assert by_id[2]["cluster_id"] == 0 and by_id[2]["is_duplicate"]
    # unrelated docs are singleton canonicals
    for i in (3, 4, 40):
        assert by_id[i]["cluster_id"] == i and not by_id[i]["is_duplicate"]


def test_near_duplicate_clusters_keep_filter(docs):
    kept = (near_duplicate_clusters(docs)
            .where(~F.col("is_duplicate")).select("doc_id").collect())
    assert sorted(r["doc_id"] for r in kept) == [0, 3, 4, 40]


def test_near_duplicate_clusters_wcc_cap_is_pair_count(spark, docs, monkeypatch):
    """A near-dup chain can be longer than wcc's default cap: the call caps
    WCC at the pair count + 1, a bound on any component's diameter + 1."""
    from types import SimpleNamespace

    from graph_data_science_spark.operators import pipeline_ops
    from graph_data_science_spark.operators.dedup import minhash_lsh_pairs

    caps = []

    def fake_wcc(graph, max_iterations=100):
        caps.append(max_iterations)
        return SimpleNamespace(components=spark.createDataFrame(
            [], "node_id long, component long"))

    monkeypatch.setattr(pipeline_ops, "wcc", fake_wcc)
    near_duplicate_clusters(docs)
    n_pairs = minhash_lsh_pairs(docs, num_hashes=8, bands=4).count()
    assert n_pairs > 0
    assert caps == [n_pairs + 1]


def test_corpus_vocabulary_counts(docs):
    vocab = {r["token"]: r for r in corpus_vocabulary(docs, min_df=1).collect()}
    assert vocab["alpha"]["doc_freq"] == 3 and vocab["alpha"]["term_freq"] == 3
    assert vocab["one"]["doc_freq"] == 2
    assert vocab["mu"]["doc_freq"] == 1
    # min_df prunes the long tail
    vocab2 = {r["token"] for r in corpus_vocabulary(docs, min_df=2).collect()}
    assert "alpha" in vocab2 and "mu" not in vocab2


def test_corpus_vocabulary_empty_text(spark):
    d = spark.createDataFrame([(1, ""), (2, "  "), (3, "x")], ["doc_id", "text"])
    rows = corpus_vocabulary(d).collect()
    assert len(rows) == 1 and rows[0]["token"] == "x"


def test_tfidf_rare_term_ranks_first(docs):
    top = tf_idf_top_terms(docs, k=1).collect()
    by_id = {r["doc_id"]: r for r in top}
    # doc 2's distinguishing term is 'mu' (df=1 vs df=3 for the shared words)
    assert by_id[2]["token"] == "mu"
    # rank column is 1-based and capped at k
    assert all(r["rank"] == 1 for r in top)
    # k=3 returns 3 rows per doc (every doc has >=3 distinct tokens)
    assert tf_idf_top_terms(docs, k=3).groupBy("doc_id").count() \
        .where(F.col("count") != 3).count() == 0


def test_decontaminate_flags_shared_ngrams(docs):
    # eval split = doc_id % 20 == 0 -> docs 0 and 40 are "the benchmark"
    res = {r["doc_id"]: r for r in decontaminate(docs, shingle_n=3).collect()}
    # eval docs themselves are excluded from the output
    assert 0 not in res and 40 not in res
    # doc 1 is identical to eval doc 0 -> all 8 of its 3-grams overlap
    assert res[1]["contaminated"] and res[1]["n_overlap"] == 8
    # doc 2 shares the first 7 3-grams with doc 0
    assert res[2]["contaminated"] and res[2]["n_overlap"] == 7
    # doc 3 shares 'one two three'..'four five six'? no: eval 40 has
    # 'one two three four five sixty...' -> shared 3-grams are
    # 'one two three', 'two three four', 'three four five' = 3
    assert res[3]["contaminated"] and res[3]["n_overlap"] == 3
    assert not res[4]["contaminated"] and res[4]["n_overlap"] == 0


def test_hash_split_stable_and_exhaustive(spark):
    d = spark.createDataFrame([(i,) for i in range(1000)], ["doc_id"])
    s1 = {r["doc_id"]: r["split"] for r in hash_split(d).collect()}
    s2 = {r["doc_id"]: r["split"] for r in
          hash_split(d.repartition(7)).collect()}
    assert s1 == s2  # layout-independent
    assert set(s1.values()) == {"train", "val", "test"}
    n = len(s1)
    frac_train = sum(v == "train" for v in s1.values()) / n
    frac_val = sum(v == "val" for v in s1.values()) / n
    assert 0.75 < frac_train < 0.85
    assert 0.06 < frac_val < 0.14
    # adding docs never moves existing ones (the append-stability property)
    d2 = spark.createDataFrame([(i,) for i in range(2000)], ["doc_id"])
    s3 = {r["doc_id"]: r["split"] for r in hash_split(d2).collect()}
    assert all(s3[k] == v for k, v in s1.items())


# --- property: clusters == union-find over the pair graph --------------------

from hypothesis import HealthCheck, given, settings, strategies as st

_PSETTINGS = dict(
    max_examples=5, deadline=None, derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture])

_WORDS = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta",
          "eta", "theta", "iota", "kappa", "lam", "mu"]


@st.composite
def corpora(draw):
    """Random small corpora with planted duplicate families: each doc is a
    base sequence with 0-2 word substitutions, so LSH pairs arise naturally."""
    n = draw(st.integers(min_value=3, max_value=10))
    docs = []
    for i in range(n):
        base = draw(st.integers(0, 2))           # 3 template families
        words = list(_WORDS[base: base + 8])
        for _ in range(draw(st.integers(0, 2))):  # perturb 0-2 positions
            pos = draw(st.integers(0, 7))
            words[pos] = draw(st.sampled_from(_WORDS))
        docs.append((i, " ".join(words)))
    return docs


class _DSU:
    def __init__(self, n):
        self.p = list(range(n))

    def find(self, x):
        while self.p[x] != x:
            self.p[x] = self.p[self.p[x]]
            x = self.p[x]
        return x

    def union(self, a, b):
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            self.p[max(ra, rb)] = min(ra, rb)


@given(corpora())
@settings(**_PSETTINGS)
def test_near_duplicate_clusters_equals_union_find(spark, corpus):
    """cluster_id must equal min-id union-find over the engine's OWN LSH
    pairs — an algorithmically independent reduction (path-compressed DSU
    vs iterative min-label propagation)."""
    from graph_data_science_spark.operators.dedup import minhash_lsh_pairs

    d = spark.createDataFrame(corpus, ["doc_id", "text"])
    pairs = [(r["a"], r["b"]) for r in
             minhash_lsh_pairs(d, num_hashes=8, bands=4).collect()]
    dsu = _DSU(len(corpus))
    for a, b in pairs:
        dsu.union(a, b)
    # DSU roots are min ids because union always parents the larger root
    expected = {i: dsu.find(i) for i in range(len(corpus))}
    got = {r["doc_id"]: r["cluster_id"]
           for r in near_duplicate_clusters(d, num_hashes=8, bands=4).collect()}
    assert got == expected


# -- pack_sequences -----------------------------------------------------------

@pytest.fixture(scope="module")
def pack_docs(spark):
    # token counts: 10, 10, 10, 10, 10, 10, plus an empty doc and a long one
    rows = [(i, " ".join(f"w{j}" for j in range(10))) for i in range(6)]
    rows.append((6, "   "))                                   # empty → no rows
    rows.append((7, " ".join(f"x{j}" for j in range(25))))    # straddles seqs
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_pack_sequences_conserves_tokens(pack_docs):
    from graph_data_science_spark.operators.pipeline_ops import pack_sequences

    res = pack_sequences(pack_docs, max_tokens=16, n_shards=2).collect()
    per_doc = {}
    for r in res:
        per_doc[r["doc_id"]] = per_doc.get(r["doc_id"], 0) + r["n_tokens"]
    # every token lands exactly once; the empty doc vanishes
    assert per_doc == {0: 10, 1: 10, 2: 10, 3: 10, 4: 10, 5: 10, 7: 25}


def test_pack_sequences_full_sequences_except_tail(pack_docs):
    from graph_data_science_spark.operators.pipeline_ops import pack_sequences

    res = pack_sequences(pack_docs, max_tokens=16, n_shards=2).collect()
    per_seq = {}
    for r in res:
        key = (r["shard"], r["seq_in_shard"])
        per_seq[key] = per_seq.get(key, 0) + r["n_tokens"]
    for shard in (0, 1):
        seqs = sorted(k[1] for k in per_seq if k[0] == shard)
        # sequence ids are contiguous from 0
        assert seqs == list(range(len(seqs)))
        tail = max(seqs)
        for s in seqs:
            if s < tail:
                assert per_seq[(shard, s)] == 16, (shard, s)
            else:
                assert 1 <= per_seq[(shard, tail)] <= 16


def test_pack_sequences_doc_straddles_boundary(pack_docs):
    from graph_data_science_spark.operators.pipeline_ops import pack_sequences

    # shard 1 = odd ids by insertion: docs 1,3,5 (10 each) then 7 (25):
    # offsets 0,10,20,30 → doc 7 spans seqs 1..3 of shard 1 at N=16
    res = {(r["shard"], r["seq_in_shard"]): r["n_tokens"]
           for r in pack_sequences(pack_docs, max_tokens=16, n_shards=2)
           .where(F.col("doc_id") == 7).collect()}
    assert res == {(1, 1): 2, (1, 2): 16, (1, 3): 7}


def test_pack_sequences_partition_invariant(pack_docs):
    from graph_data_science_spark.operators.pipeline_ops import pack_sequences

    a = sorted(map(tuple, pack_sequences(
        pack_docs.repartition(1), max_tokens=16, n_shards=2).collect()))
    b = sorted(map(tuple, pack_sequences(
        pack_docs.repartition(7), max_tokens=16, n_shards=2).collect()))
    assert a == b


# -- stratified_sample --------------------------------------------------------

@pytest.fixture(scope="module")
def strata_docs(spark):
    rows = [(i, f"doc {i}", ["en", "de", "fr"][i % 3]) for i in range(300)]
    return spark.createDataFrame(rows, ["doc_id", "text", "lang"])


def test_stratified_sample_rates_and_determinism(strata_docs):
    from graph_data_science_spark.operators.pipeline_ops import stratified_sample

    res = stratified_sample(
        strata_docs, fractions={"en": 0.5, "de": 0.0}, default_fraction=1.0,
        seed=7).collect()
    assert len(res) == 300
    by = {}
    for r in res:
        by.setdefault(r["stratum"], []).append(r["sampled"])
    assert not any(by["de"])            # fraction 0 keeps nothing
    assert all(by["fr"])                # default 1.0 keeps everything
    assert 0.3 < sum(by["en"]) / len(by["en"]) < 0.7
    # bit-stable across re-runs and partitionings
    again = stratified_sample(
        strata_docs.repartition(11), fractions={"en": 0.5, "de": 0.0},
        default_fraction=1.0, seed=7).collect()
    assert sorted(map(tuple, res)) == sorted(map(tuple, again))


def test_stratified_sample_strata_independent(strata_docs):
    from graph_data_science_spark.operators.pipeline_ops import stratified_sample

    base = {r["doc_id"]: r["sampled"] for r in stratified_sample(
        strata_docs, fractions={"en": 0.5}, default_fraction=0.3,
        seed=7).collect() if r["stratum"] != "en"}
    # changing ONLY en's rate must not flip any non-en decision
    moved = {r["doc_id"]: r["sampled"] for r in stratified_sample(
        strata_docs, fractions={"en": 0.9}, default_fraction=0.3,
        seed=7).collect() if r["stratum"] != "en"}
    assert base == moved


def test_stratified_sample_monotone_in_fraction(strata_docs):
    from graph_data_science_spark.operators.pipeline_ops import stratified_sample

    lo = {r["doc_id"] for r in stratified_sample(
        strata_docs, default_fraction=0.3, seed=7).collect() if r["sampled"]}
    hi = {r["doc_id"] for r in stratified_sample(
        strata_docs, default_fraction=0.8, seed=7).collect() if r["sampled"]}
    assert lo <= hi                     # raising the rate only adds docs


# -- regex_scan ---------------------------------------------------------------

def test_regex_scan_counts_and_zero_rows(spark):
    from graph_data_science_spark.operators.pipeline_ops import regex_scan

    docs = spark.createDataFrame([
        (0, "contact Bob@Example.COM or alice@test.org today"),
        (1, "server at 10.0.0.1 and 192.168.1.255 ok"),
        (2, "card 1234567890123456 checked"),
        (3, "nothing sensitive here"),
    ], ["doc_id", "text"])
    res = {(r["doc_id"], r["pattern"]): r["n_matches"]
           for r in regex_scan(docs).collect()}
    # complete decision table: every (doc, pattern) including zeros
    assert len(res) == 4 * 3
    assert res[(0, "email")] == 2 and res[(0, "ipv4")] == 0
    assert res[(1, "ipv4")] == 2 and res[(1, "email")] == 0
    assert res[(2, "digit_run")] == 1
    assert all(res[(3, p)] == 0 for p in ("email", "ipv4", "digit_run"))


def test_regex_scan_custom_patterns(spark):
    from graph_data_science_spark.operators.pipeline_ops import regex_scan

    docs = spark.createDataFrame(
        [(0, "spark spark SPARK flink")], ["doc_id", "text"])
    res = {r["pattern"]: r["n_matches"] for r in regex_scan(
        docs, patterns={"spark": r"\bspark\b", "beam": r"\bbeam\b"}).collect()}
    assert res == {"spark": 3, "beam": 0}


# -- hashed_ngram_features / quality_classifier --------------------------------

def test_hashed_features_long_dense_consistent(spark):
    from graph_data_science_spark.operators.pipeline_ops import (
        hashed_ngram_features)

    docs = spark.createDataFrame(
        [(0, "alpha beta alpha"), (1, "beta gamma"), (2, "   ")],
        ["doc_id", "text"])
    long = hashed_ngram_features(docs, dim=8).collect()
    # counts conserve occurrences: doc 0 has 3 tokens over ≤2 slots
    per_doc = {}
    for r in long:
        per_doc[r["doc_id"]] = per_doc.get(r["doc_id"], 0) + r["cnt"]
        assert 0 <= r["slot"] < 8
    assert per_doc == {0: 3, 1: 2}          # empty doc vanishes
    dense = {r["doc_id"]: r["features"] for r in hashed_ngram_features(
        docs, dim=8, long_format=False).collect()}
    for r in long:
        assert dense[r["doc_id"]][r["slot"]] == float(r["cnt"])
    assert all(len(v) == 8 for v in dense.values())
    # slots match the portable md5 top-60-bit hash exactly (content-keyed)
    import hashlib

    def _slot(tok):
        return int(hashlib.md5(tok.encode()).hexdigest()[:15], 16) % 8

    expected0 = {}
    for tok in ("alpha", "beta", "alpha"):
        expected0[_slot(tok)] = expected0.get(_slot(tok), 0) + 1
    got0 = {r["slot"]: r["cnt"] for r in long if r["doc_id"] == 0}
    assert got0 == expected0


def test_hashed_features_bigrams(spark):
    from graph_data_science_spark.operators.pipeline_ops import (
        hashed_ngram_features)

    docs = spark.createDataFrame([(0, "a b c")], ["doc_id", "text"])
    # 2 distinct bigram shingles ("a b", "b c"), each once
    rows = hashed_ngram_features(docs, dim=16, n=2).collect()
    assert sum(r["cnt"] for r in rows) == 2


def test_quality_classifier_separates_vocabularies(spark):
    from graph_data_science_spark.operators.pipeline_ops import (
        quality_classifier)

    good = "history science culture article reference encyclopedia".split()
    bad = "buy cheap click free winner casino".split()
    rows = []
    for i in range(40):
        ws = [good[(i + j) % len(good)] for j in range(10)]
        rows.append((i, " ".join(ws), 1))
    for i in range(40, 80):
        ws = [bad[(i + j) % len(bad)] for j in range(10)]
        rows.append((i, " ".join(ws), 0))
    docs = spark.createDataFrame([(r[0], r[1]) for r in rows],
                                 ["doc_id", "text"])
    labels = spark.createDataFrame([(r[0], r[2]) for r in rows],
                                   "doc_id long, y int")
    model, scored = quality_classifier(docs, labels, dim=32, iterations=30)
    got = {r["doc_id"]: r["predicted"] for r in scored.collect()}
    acc = sum(got[i] == (lbl == 1) for i, _, lbl in rows) / len(rows)
    assert acc == 1.0
    # determinism across partitionings
    _, again = quality_classifier(
        docs.repartition(7), labels.repartition(3), dim=32, iterations=30)
    assert sorted(map(tuple, scored.collect())) == \
        sorted(map(tuple, again.collect()))
