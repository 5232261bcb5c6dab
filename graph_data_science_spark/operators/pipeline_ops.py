"""Corpus-level training-data pipeline operators.

These close the loop from *signals* (dedup pairs, token stats) to the
*decisions* a 100 TB pretraining pipeline actually ships: which documents
to keep, which are benchmark-contaminated, how the corpus splits into
train/val/test, and what the tokenizer-facing vocabulary looks like.

Composition over invention: ``near_duplicate_clusters`` chains the engine's
own MinHash-LSH candidate generator (``dedup.minhash_lsh_pairs``) into its
own connected-components operator (``wcc``) — the standard fuzzy-dedup
recipe (pairs → components → keep one canonical doc per cluster) used by
every large-corpus pipeline since C4/The Pile.

Scale notes:
- every operator here is pure ``pyspark.sql.functions`` (whole-stage
  codegen) except the WCC leg, which is the engine's superstep kernel;
- the LSH pair graph is tiny relative to the corpus (candidate pairs only),
  so the components step runs on the *pair* graph, never the corpus;
- vocabulary/tf-idf are two partial-aggregatable ``groupBy``s — shuffle
  volume is #distinct tokens, not corpus size;
- decontamination semi-joins train shingles against the (much smaller)
  eval shingle set — broadcast-able when the eval benchmark fits in memory
  (the common case: benchmarks are MBs, the corpus is TBs).

Every operator has a bit-identical DuckDB oracle in ``__spark_entry__.py``
(md5-based hashing, ROUND 6dp floats, deterministic tie-breaks).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from graph_data_science_spark.graph import Graph
from graph_data_science_spark.operators.dedup import _norm, _word_shingles, minhash_lsh_pairs
from graph_data_science_spark.operators.wcc import wcc


def near_duplicate_clusters(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """Fuzzy-dedup decision table → ``(doc_id, cluster_id, is_duplicate)``.

    MinHash-LSH candidate pairs → connected components over the pair graph
    → ``cluster_id`` = min doc_id in the component; ``is_duplicate`` is true
    iff the doc is not its cluster's canonical (lowest-id) member. Docs with
    no near-dup candidate are their own singleton cluster. Downstream:
    ``WHERE NOT is_duplicate`` is the dedup filter.

    Reference analog: this is ``gds.wcc`` (wcc/Wcc.java) applied to a
    similarity graph — the reference's own suggested dedup recipe (its WCC
    docs use exactly this entity-resolution framing).
    """
    # one terminal materialization: the LSH pipeline (the expensive leg)
    # must run ONCE — endpoints, the edge mirror inside wcc, and the final
    # join all read the materialized pair table, not the lineage
    pairs = minhash_lsh_pairs(
        docs, text_col, id_col, num_hashes, bands, shingle_n
    ).localCheckpoint(eager=True)
    # WCC state = PAIR ENDPOINTS ONLY (round 4): a doc with no LSH
    # candidate is its own singleton by construction, so it never needs to
    # ride a superstep — the component table is near-dup-density-sized,
    # not corpus-sized, and the corpus-wide answer is one left join +
    # coalesce at the end. At 10^12 docs this is the difference between
    # iterating over the corpus and iterating over the (tiny) pair graph.
    endpoints = (pairs.select(F.col("a").alias("node_id"))
                 .unionByName(pairs.select(F.col("b").alias("node_id")))
                 .distinct())
    g = Graph(nodes=endpoints,
              edges=pairs.select(F.col("a").alias("src"), F.col("b").alias("dst")),
              directed=True, name="lsh-pairs")
    # a component's diameter is at most the pair count, so this cap always
    # converges (a near-dup chain can be far longer than wcc's default cap)
    comp = wcc(g, max_iterations=pairs.count() + 1).components
    return (docs.select(F.col(id_col).alias("doc_id"))
            .join(comp.select(F.col("node_id").alias("doc_id"),
                              F.col("component")), "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce("component", F.col("doc_id")).alias("cluster_id"),
                (F.col("doc_id") != F.coalesce("component", F.col("doc_id")))
                .alias("is_duplicate"),
            ))


def near_duplicate_keep(
    docs: DataFrame,
    priority_col: str = "n_chars",
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """Fuzzy dedup with a KEEP POLICY → ``(doc_id, cluster_id, kept)``.

    :func:`near_duplicate_clusters` keeps each cluster's lowest-id member;
    real pipelines usually keep the BEST member — longest document, highest
    quality score, freshest crawl. ``kept`` is true iff the doc is its
    cluster's argmax of ``priority_col`` (ties by lowest doc_id). The
    default priority ``n_chars`` ("keep the longest") uses exact integers,
    so the decision is bit-stable across engines; pass any numeric column
    (e.g. a joined :func:`~graph_data_science_spark.operators.text.quality_score`)
    for quality-priority dedup.

    Scale: the keeper election is ONE partial-aggregatable
    ``max(struct(priority, -doc_id))`` per cluster (map-side combinable —
    shuffle volume is #clusters, not #docs) joined back cluster-keyed;
    everything else is the clusters op's own plan.
    """
    clusters = near_duplicate_clusters(
        docs, text_col, id_col, num_hashes, bands, shingle_n)
    prio = docs.select(F.col(id_col).alias("doc_id"),
                       F.col(priority_col).cast("long").alias("_p"))
    d = clusters.join(prio, "doc_id")
    keeper = d.groupBy("cluster_id").agg(
        F.max(F.struct(F.col("_p"), (-F.col("doc_id")).alias("_nid")))
        .alias("_best"))
    return (
        d.join(keeper, "cluster_id")
        .select(
            "doc_id", "cluster_id",
            ((F.col("_p") == F.col("_best._p"))
             & (F.col("doc_id") == -F.col("_best._nid"))).alias("kept"),
        )
    )


def corpus_vocabulary(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_df: int = 1,
) -> DataFrame:
    """Tokenizer-facing corpus vocabulary → ``(token, doc_freq, term_freq)``.

    Whitespace tokens of the normalized text (lower + collapsed whitespace,
    the same normalization as the dedup ladder); ``doc_freq`` = #docs
    containing the token, ``term_freq`` = total occurrences. Rows with
    ``doc_freq < min_df`` are dropped (the long-tail cut every tokenizer
    build applies). Empty-text docs contribute nothing.

    Both aggregates are partial-aggregatable: the map-side combiner reduces
    per-partition to #distinct tokens before the single shuffle.
    """
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(_norm(F.col(text_col)), " ")).alias("token"),
    ).where(F.col("token") != "")
    return (
        toks.groupBy("token")
        .agg(F.countDistinct("doc_id").alias("doc_freq"),
             F.count(F.lit(1)).alias("term_freq"))
        .where(F.col("doc_freq") >= int(min_df))
    )


def tf_idf_top_terms(
    docs: DataFrame,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-``k`` TF-IDF terms per document → ``(doc_id, token, tfidf, rank)``.

    tf = occurrences / doc token count; idf = ln((N + 1)/(df + 1)) + 1
    (smoothed, sklearn-style); tfidf ROUND 6dp (the cross-engine float
    contract). Rank by (tfidf desc, token asc) — fully deterministic ties.
    Docs with no tokens produce no rows.

    Plan: two partial aggs (term counts, doc lengths) + one broadcast-sized
    df join (vocabulary is small vs corpus) + a per-doc top-k window.
    """
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(_norm(F.col(text_col)), " ")).alias("token"),
    ).where(F.col("token") != "")
    tf = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tc"))
    doclen = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    df_ = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.select(F.col(id_col)).distinct().count()
    scored = (
        tf.join(doclen, "doc_id")
        .join(F.broadcast(df_), "token")
        .select(
            "doc_id", "token",
            F.round(
                (F.col("tc") / F.col("dl"))
                * (F.log((F.lit(float(n_docs)) + 1.0) / (F.col("df") + 1.0)) + 1.0),
                6,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("token"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= int(k))
        .select("doc_id", "token", "tfidf", F.col("rank").cast("long").alias("rank"))
    )


def decontaminate(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    eval_mod: int = 20,
    threshold: int = 1,
) -> DataFrame:
    """Benchmark-contamination scan → ``(doc_id, n_overlap, contaminated)``
    for every TRAIN document.

    The held-out eval split is ``doc_id % eval_mod == 0`` (a deterministic
    stand-in for a benchmark suite); a train doc is contaminated when it
    shares ≥ ``threshold`` distinct word ``shingle_n``-grams with ANY eval
    doc. ``n_overlap`` counts the distinct overlapping shingles. Train docs
    with no overlap are kept with ``n_overlap = 0``.

    Plan: eval shingles deduped then broadcast into a semi-join-shaped
    inner join — at real scale the benchmark side is MBs against a TB
    corpus, so the scan is one broadcast pass over train shingles.
    """
    sh = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(_word_shingles(F.col(text_col), shingle_n)).alias("shingle"),
    ).distinct()
    is_eval = F.col("doc_id") % int(eval_mod) == 0
    eval_sh = sh.where(is_eval).select("shingle").distinct()
    train_sh = sh.where(~is_eval)
    hits = (
        train_sh.join(F.broadcast(eval_sh), "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    train_ids = docs.select(F.col(id_col).alias("doc_id")).where(~is_eval).distinct()
    return train_ids.join(hits, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_overlap"), F.lit(0)).cast("long").alias("n_overlap"),
        (F.coalesce(F.col("n_overlap"), F.lit(0)) >= int(threshold)).alias("contaminated"),
    )


def pack_sequences(
    docs: DataFrame,
    max_tokens: int = 64,
    n_shards: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Pack-and-chop documents into fixed-length training sequences →
    ``(doc_id, shard, seq_in_shard, n_tokens)``.

    The GPT-style pretraining packer: concatenate documents in a
    deterministic order and chop the token stream at ``max_tokens``
    boundaries, letting documents straddle sequence breaks. A document
    occupying token offsets ``[off, off+tc)`` of its shard's stream lands in
    sequences ``floor(off/N) .. floor((off+tc-1)/N)``, contributing
    ``n_tokens`` to each — so ``sum(n_tokens)`` per (shard, seq) is exactly
    ``max_tokens`` except each shard's tail. Tokens are the whitespace
    tokens of the normalized text (the corpus-wide convention); empty docs
    produce no rows.

    Scale: a single global concatenation order would serialize the window
    cumsum through one partition, so packing is SHARDED — ``shard =
    doc_id % n_shards`` and the prefix-sum window partitions by shard,
    giving ``n_shards``-way parallelism with sequences never straddling
    shards (exactly how real pipelines pack per input shard). At 100 TB,
    n_shards = O(#cores) keeps every window partition cache-sized.
    """
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(_norm(F.col(text_col)), " ")).alias("token"),
    ).where(F.col("token") != "")
    tc = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("tc"))
    n = int(max_tokens)
    w = (Window.partitionBy("shard").orderBy("doc_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    d = tc.withColumn("shard", F.pmod(F.col("doc_id"), F.lit(int(n_shards)))) \
          .withColumn("off", F.coalesce(F.sum("tc").over(w), F.lit(0)))
    spans = d.select(
        "doc_id", "shard", "tc", "off",
        F.explode(F.sequence(
            F.floor(F.col("off") / n),
            F.floor((F.col("off") + F.col("tc") - 1) / n))).alias("seq_in_shard"),
    )
    return spans.select(
        "doc_id",
        F.col("shard").cast("long").alias("shard"),
        F.col("seq_in_shard").cast("long").alias("seq_in_shard"),
        (F.least(F.col("off") + F.col("tc"), (F.col("seq_in_shard") + 1) * n)
         - F.greatest(F.col("off"), F.col("seq_in_shard") * n))
        .cast("long").alias("n_tokens"),
    )


def stratified_sample(
    docs: DataFrame,
    strata_col: str = "lang",
    fractions: dict[str, float] | None = None,
    default_fraction: float = 0.1,
    id_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """Deterministic per-stratum subsampling decision →
    ``(doc_id, stratum, sampled)``.

    The corpus-mixing knob: keep each stratum (language, source, quality
    bucket) at its own rate — ``sampled`` iff
    ``u01(doc_id, stratum, seed) < fraction(stratum)``. Hash-based like
    :func:`hash_split`, so the decision is stable under reshuffles, re-runs
    and cluster-size changes, and INDEPENDENT per stratum (changing one
    stratum's rate never flips another stratum's rows — the property
    ``df.sampleBy`` lacks across re-runs because it draws from partition
    RNG streams).

    Plan: one narrow projection, no shuffle, whole-stage codegen.
    """
    fr = {str(k): float(v) for k, v in (fractions or {}).items()}
    from graph_data_science_spark.operators.embeddings import _u01

    u = _u01(F.col(id_col), F.col(strata_col), F.lit(int(seed)))
    frac = F.lit(float(default_fraction))
    for k in sorted(fr):
        frac = F.when(F.col(strata_col) == k, F.lit(fr[k])).otherwise(frac)
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.col(strata_col).alias("stratum"),
        (u < frac).alias("sampled"),
    )


#: default regex_scan patterns: two PII detectors (the filters every corpus
#: pipeline runs; valid in both Java regex and RE2 so the DuckDB oracle is
#: bit-identical) plus a blocklist-term counter shape.
DEFAULT_SCAN_PATTERNS = {
    "email": r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    "digit_run": r"\d{9,}",
}


def regex_scan(
    docs: DataFrame,
    patterns: dict[str, str] | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document regex hit counts → ``(doc_id, pattern, n_matches)``,
    one row per (doc, pattern) including zeros.

    The PII-scrub / blocklist-filter primitive: count non-overlapping
    matches of each named pattern against the lowercased text. Long format
    so downstream pivots/filters (``WHERE pattern='email' AND n_matches>0``)
    compose; zero rows are kept so the output is a complete decision table.

    Stays JVM-side: ``regexp_extract_all`` (group 0) + ``size`` inside
    whole-stage codegen — one narrow pass over the corpus per pattern, no
    Python. Patterns must avoid Java-vs-RE2 divergent syntax (lookaround,
    backreferences) — the defaults do.
    """
    pats = patterns or DEFAULT_SCAN_PATTERNS
    lowered = F.lower(F.col(text_col))
    per = [
        F.struct(
            F.lit(name).alias("pattern"),
            F.size(F.regexp_extract_all(lowered, F.lit(rx), F.lit(0)))
            .cast("long").alias("n_matches"))
        for name, rx in sorted(pats.items())
    ]
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array(*per)).alias("m"),
    ).select("doc_id", "m.pattern", "m.n_matches")


def hash_split(
    docs: DataFrame,
    train: float = 0.8,
    val: float = 0.1,
    id_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """Deterministic train/val/test assignment → ``(doc_id, split)``.

    u = hash-uniform(doc_id, seed) ∈ [0,1) (md5 top-60-bits — the engine's
    portable ``_u01``); split = train if u < ``train``, val if
    u < ``train``+``val``, else test. Stable under reshuffles, re-runs and
    cluster-size changes — the property a corpus split must have so that
    re-ingesting new shards never migrates old documents across splits.
    """
    from graph_data_science_spark.operators.embeddings import _u01

    u = _u01(F.col(id_col), F.lit("split"), F.lit(int(seed)))
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.when(u < float(train), F.lit("train"))
        .when(u < float(train) + float(val), F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )


def hashed_ngram_features(
    docs: DataFrame,
    dim: int = 64,
    n: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
    long_format: bool = True,
) -> DataFrame:
    """Hashing-trick bag-of-n-grams → ``(doc_id, slot, count)`` (long
    format, the oracle shape) or ``(doc_id, features array<double>[dim])``.

    The fastText/CCNet feature map: token (or word n-gram) → md5 top-60-bit
    slot ``mod dim``, counts aggregated per (doc, slot). No vocabulary pass
    and no driver-side dictionary — the feature space is fixed at ``dim``
    regardless of corpus size, which is what makes the hashing trick the
    100 TB featurizer (a real vocabulary is a second shuffle and a
    broadcast that grows with the corpus). Collisions are the accepted
    trade, as in the original (Weinberger et al. 2009).

    Plan: explode → md5 slot (codegen) → one partial-aggregatable groupBy;
    shuffle rows are (doc_id, slot) pairs, bounded by min(tokens, docs·dim).
    The dense variant pivots long→array via a second small agg keyed doc_id.
    """
    grams = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(_word_shingles(F.col(text_col), int(n))).alias("gram")
        if int(n) > 1 else
        F.explode(F.split(_norm(F.col(text_col)), " ")).alias("gram"),
    ).where(F.col("gram") != "")
    slot = (F.conv(F.substring(F.md5(F.col("gram")), 1, 15), 16, 10)
            .cast("long") % int(dim)).alias("slot")
    long = (grams.select("doc_id", slot)
            .groupBy("doc_id", "slot")
            .agg(F.count(F.lit(1)).cast("long").alias("cnt")))
    if long_format:
        return long
    dense = long.groupBy("doc_id").agg(
        F.map_from_arrays(F.collect_list("slot"),
                          F.collect_list("cnt")).alias("_m"))
    idx = F.array(*[F.lit(i).cast("long") for i in range(int(dim))])
    return dense.select(
        "doc_id",
        F.transform(
            idx, lambda i: F.coalesce(F.element_at("_m", i), F.lit(0))
            .cast("double")).alias("features"))


def quality_classifier(
    docs: DataFrame,
    labels: DataFrame,
    dim: int = 64,
    iterations: int = 30,
    learning_rate: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Learned quality filter (the CCNet/fastText recipe): hashing-trick
    features → the engine's distributed logistic regression → per-doc keep
    probability. ``labels`` is (doc_id, y ∈ {0,1}) weak supervision (e.g.
    "wiki-like" vs "crawl"). Returns ``(model, scored)`` where ``scored``
    is every input doc as (doc_id, probability, predicted).

    Everything distributed: the featurizer is one agg, training is
    d+1 doubles to the driver per iteration (ml/pipelines.logreg_fit), and
    scoring is a broadcast-weight projection — the shape that holds when
    "docs" is the 100 TB crawl and "labels" is a few million rows.

    NOTE the word-salad caveat: n=1 hashed counts are a linear bag-of-words
    — the test fixtures encode separable vocabularies, as the real recipe's
    wiki-vs-crawl labels do.
    """
    from graph_data_science_spark.ml.pipelines import logreg_fit, predict_proba

    feats = hashed_ngram_features(
        docs, dim=dim, text_col=text_col, id_col=id_col, long_format=False)
    train = feats.join(
        labels.select(F.col(id_col).alias("doc_id"),
                      F.col("y").cast("double").alias("y")), "doc_id")
    model = logreg_fit(
        train.select(F.col("features").alias("x"), "y"),
        dim=int(dim), iterations=int(iterations),
        learning_rate=float(learning_rate))
    scored = predict_proba(
        feats.select("doc_id", F.col("features").alias("x")), model)
    scored = scored.select(
        "doc_id", F.round("probability", 6).alias("probability"),
        (F.col("probability") >= 0.5).alias("predicted"))
    return model, scored


def bigram_collocations(
    docs: DataFrame,
    top_k: int = 20,
    min_count: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-level collocation mining → ``(w1, w2, pair_count, lift, rank)``
    — the top-``top_k`` adjacent word pairs by pointwise-mutual-information
    lift, the standard phrase/tokenizer-merge signal (word2vec's phrase
    pass, BPE merge scoring).

    ``lift = P(w1 w2) / (P(w1) · P(w2))`` computed as
    ``(c_xy / T2) / ((c_x / T1) · (c_y / T1))`` — exp(PMI). Log-free so the
    arithmetic is pure IEEE division/multiplication on exact integer counts:
    bit-identical in Spark and DuckDB (ROUND 6dp on output). Ties rank by
    (lift desc, w1 asc, w2 asc) — fully deterministic.

    Plan: two partial-aggregatable ``groupBy`` counts (unigrams, adjacent
    bigrams via ``zip_with(slice, slice)`` — no self-join), two scalar
    totals broadcast back, then a DISTRIBUTED top-k (``orderBy ·
    limit`` → TakeOrderedAndProject: per-partition heaps merged at the
    driver, never a single-partition global sort). Shuffle volume is
    #distinct bigrams after the ``min_count`` cut, not corpus size.
    """
    base = docs.select(F.split(_norm(F.col(text_col)), " ").alias("ws"))
    uni = base.select(F.explode("ws").alias("t")).where(F.col("t") != "")
    u = uni.groupBy("t").agg(F.count(F.lit(1)).alias("c"))
    bg = (
        base.where(F.size("ws") >= 2)
        .select(F.explode(F.expr(
            "zip_with(slice(ws, 1, size(ws) - 1), slice(ws, 2, size(ws) - 1),"
            " (a, b) -> struct(a AS w1, b AS w2))")).alias("p"))
        .select("p.w1", "p.w2")
        .where((F.col("w1") != "") & (F.col("w2") != ""))
    )
    b = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("pair_count"))
    totals = (
        u.agg(F.sum("c").alias("t1"))
        .crossJoin(b.agg(F.sum("pair_count").alias("t2")))
    )
    scored = (
        b.where(F.col("pair_count") >= int(min_count))
        .join(u.select(F.col("t").alias("w1"), F.col("c").alias("cx")), "w1")
        .join(u.select(F.col("t").alias("w2"), F.col("c").alias("cy")), "w2")
        .crossJoin(F.broadcast(totals))
        .select(
            "w1", "w2", "pair_count",
            F.round(
                (F.col("pair_count").cast("double") / F.col("t2").cast("double"))
                / ((F.col("cx").cast("double") / F.col("t1").cast("double"))
                   * (F.col("cy").cast("double") / F.col("t1").cast("double"))),
                6,
            ).alias("lift"),
        )
    )
    top = scored.orderBy(F.desc("lift"), F.asc("w1"), F.asc("w2")).limit(int(top_k))
    w = Window.orderBy(F.desc("lift"), F.asc("w1"), F.asc("w2"))
    return top.withColumn("rank", F.row_number().over(w).cast("long")).select(
        "w1", "w2", "pair_count", "lift", "rank")


def bm25_topk(
    docs: DataFrame,
    query_terms: list[str],
    top_k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """BM25 retrieval → ``(doc_id, matched_terms, score, rank)`` — the
    top-``top_k`` documents for a bag-of-words query under Okapi BM25 with
    the Lucene idf (``ln(1 + (N − df + 0.5)/(df + 0.5))``). The standard
    lexical ranker for training-data selection and contamination triage
    (rank the corpus against a benchmark query, inspect/drop the head).

        score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))

    ``N`` = corpus size, ``dl`` = document token count, ``avgdl`` = Σdl/N.
    Documents matching no query term are excluded (standard). Per-term
    scores are rounded to 9dp and the final score to 6dp (the repo float
    contract); ties rank by ``doc_id`` asc — fully deterministic.

    Scale plan: the token stream is filtered to the query vocabulary
    IMMEDIATELY after the explode (a broadcast ``isin`` on a literal list),
    so tf/df aggregations shuffle only query-term hits; ``dl`` is one
    partial-aggregatable ``groupBy(doc_id)`` over the full stream; the
    corpus constants (N, avgdl) ride one broadcast crossJoin; the final
    top-k is ``orderBy · limit`` → TakeOrderedAndProject (per-partition
    heaps, no single-partition sort).
    """
    terms = sorted({t for t in query_terms if t})
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(_norm(F.col(text_col)), " ")).alias("t"),
    ).where(F.col("t") != "")
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    consts = (
        docs.agg(F.count(F.lit(1)).alias("n"))
        .crossJoin(dl.agg(F.sum("dl").alias("_tt")))
        .select("n", (F.col("_tt").cast("double") / F.col("n")).alias("avgdl"))
    )
    hits = toks.where(F.col("t").isin(terms))
    tf = hits.groupBy("doc_id", "t").agg(F.count(F.lit(1)).alias("tf"))
    df_t = tf.groupBy("t").agg(F.count(F.lit(1)).alias("df"))
    idf = df_t.crossJoin(F.broadcast(consts)).select(
        "t",
        F.log(1.0 + (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5))
        .alias("idf"),
        "avgdl",
    )
    per_term = (
        tf.join(F.broadcast(idf), "t")
        .join(dl, "doc_id")
        .select(
            "doc_id",
            F.round(
                F.col("idf") * (F.col("tf") * (float(k1) + 1.0))
                / (F.col("tf") + float(k1)
                   * (1.0 - float(b)
                      + float(b) * F.col("dl") / F.col("avgdl"))),
                9,
            ).alias("s"),
        )
    )
    scored = per_term.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("matched_terms"),
        F.round(F.sum("s"), 6).alias("score"),
    )
    top = scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(int(top_k))
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return top.withColumn("rank", F.row_number().over(w).cast("long")).select(
        "doc_id", "matched_terms", "score", "rank")


#: default regex_redact replacements: applied in sorted-name order; tokens
#: are single words with no regex metacharacters so chained replacement is
#: well-defined in both engines.
DEFAULT_REDACT_PATTERNS = {
    "email": (r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}", "<EMAIL>"),
    "ipv4": (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    "digit_run": (r"\d{9,}", "<NUM>"),
}


def regex_redact(
    docs: DataFrame,
    patterns: dict[str, tuple[str, str]] | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """PII redaction → ``(doc_id, redacted, n_redacted)``.

    The action half of :func:`regex_scan`: REPLACE every match of each
    named pattern with its placeholder token instead of merely counting.
    Patterns apply to the lowercased text sequentially in sorted-name
    order, and each pattern's match count is taken on the string state it
    actually sees (an earlier replacement can legitimately create or
    destroy later matches — the sequential contract makes the result
    well-defined and engine-portable). ``n_redacted`` is the total across
    patterns.

    Stays JVM-side: a chain of ``regexp_replace`` + ``regexp_extract_all``
    expressions inside whole-stage codegen — one narrow pass over the
    corpus, no shuffle, no Python. At 100 TB this is a map-only stage that
    pipelines into whatever sink follows. Patterns must avoid
    Java-vs-RE2 divergent syntax (lookaround, backreferences) — the
    defaults do.
    """
    pats = patterns or DEFAULT_REDACT_PATTERNS
    cur = F.lower(F.col(text_col))
    total = F.lit(0).cast("long")
    for name in sorted(pats):
        rx, tok = pats[name]
        total = total + F.size(
            F.regexp_extract_all(cur, F.lit(rx), F.lit(0))).cast("long")
        cur = F.regexp_replace(cur, rx, tok)
    return docs.select(
        F.col(id_col).alias("doc_id"),
        cur.alias("redacted"),
        total.alias("n_redacted"),
    )


def shuffle_shards(
    docs: DataFrame,
    n_shards: int = 8,
    id_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """Deterministic global shuffle + sharding → ``(doc_id, shard, pos)``.

    The training-order writer: every pretraining pipeline ends by shuffling
    the corpus into a reproducible random order and writing N shard files a
    data loader streams in sequence. Order key ``u = u01(doc_id, 'shuffle',
    seed)`` (md5 hash-uniform — stable under reshuffles, re-runs and
    cluster-size changes); ``shard = floor(u · n_shards)`` RANGE-buckets the
    key so shards are contiguous spans of the global permutation —
    concatenating shard 0..N-1, each in ``pos`` order, reproduces the exact
    global shuffle order (the property a sequential loader needs); ``pos``
    is the document's rank within its shard (ties broken by doc_id).

    Scale plan: the only wide op is the ``row_number`` window PARTITIONED
    BY shard — n_shards-way parallel, never a single global sort. At 100 TB
    set ``n_shards`` to the target file count (thousands), so each window
    partition is one write-task-sized span; hash-uniform u makes shard
    sizes even (n/N ± √n) with no skew by construction.
    """
    from graph_data_science_spark.operators.embeddings import _u01

    u = _u01(F.col(id_col), F.lit("shuffle"), F.lit(int(seed)))
    d = docs.select(
        F.col(id_col).alias("doc_id"),
        u.alias("_u"),
        F.floor(u * int(n_shards)).cast("long").alias("shard"),
    )
    w = Window.partitionBy("shard").orderBy(F.asc("_u"), F.asc("doc_id"))
    return d.select(
        "doc_id", "shard",
        F.row_number().over(w).cast("long").alias("pos"),
    )


def token_budget_sample(
    docs: DataFrame,
    budget_tokens: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 42,
    n_buckets: int = 64,
) -> DataFrame:
    """Token-budget sampling → ``(doc_id, n_tokens, kept)``.

    The "give me exactly a T-token corpus" decision: walk the documents in
    the deterministic shuffle order (``u = u01(doc_id, 'budget', seed)``,
    ties by doc_id) and keep each document iff the tokens consumed by all
    PRECEDING kept... — since the walk keeps every prefix document, iff the
    exclusive running token sum is still below ``budget_tokens``. The kept
    set is a hash-stable prefix: enlarging the budget only ever ADDS
    documents, never swaps them (monotonicity real data-mix ablations rely
    on). Tokens are the whitespace tokens of the normalized text (the
    corpus-wide convention).

    Scale plan: a single global cumulative-sum window would serialize 100 TB
    through ONE task, so the prefix sum is TWO-LEVEL — ``bucket = floor(u ·
    n_buckets)`` range-buckets the order key, per-bucket token totals
    (n_buckets rows) come to the driver, their exclusive prefix offsets
    broadcast back, and the within-bucket cumsum window partitions by
    bucket (n_buckets-way parallel). offset(bucket) + within-bucket
    exclusive cumsum = exact global exclusive cumsum.
    """
    from graph_data_science_spark.operators.embeddings import _u01
    from graph_data_science_spark.plans.partitioning import (
        bucketed_exclusive_prefix)

    u = _u01(F.col(id_col), F.lit("budget"), F.lit(int(seed)))
    toks = F.filter(F.split(_norm(F.col(text_col)), " "), lambda t: t != "")
    d = docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(toks).cast("long").alias("n_tokens"),
        u.alias("_u"),
        F.floor(u * int(n_buckets)).cast("long").alias("_b"),
    )
    d = d.localCheckpoint(eager=True)  # cut the double-scan of the prefix pass
    return bucketed_exclusive_prefix(
        d, "_b", ["_u", "doc_id"], int(n_buckets),
        value="n_tokens", out="_pre",
    ).select(
        "doc_id", "n_tokens",
        (F.col("_pre") < int(budget_tokens)).alias("kept"),
    )


def prepare_training_data(
    docs: DataFrame,
    quality_threshold: float = 0.5,
    max_tokens: int = 64,
    n_shards: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 42,
    remove_spans_k: int | None = None,
    lm_keep_buckets: int | None = None,
    lm_n_buckets: int = 3,
) -> tuple[DataFrame, dict]:
    """The composed corpus journey — what a user of this engine actually
    runs end-to-end: quality filter → fuzzy dedup (keep the best cluster
    member) → benchmark decontamination → [optional: CCNet LM bucket
    filter, exact-substring span removal] → pack into fixed-length
    training sequences → deterministic shuffle-shard the sequences.

    ``lm_keep_buckets=b`` keeps only documents in the ``b`` most
    reference-like of ``lm_n_buckets`` perplexity buckets (the CCNet
    head/middle/tail cut, self-trained on the post-dedup corpus);
    ``remove_spans_k=k`` rewrites each surviving document with
    cross-corpus duplicated k-token spans cut (keep-corpus-first), so
    boilerplate never reaches the packer. Both default OFF to keep the
    base journey's oracle-composition unchanged.

    Returns ``(sequences, manifest)``: ``sequences`` =
    ``(doc_id, shard, seq_in_shard, n_tokens, order_shard, order_pos)``
    rows for every surviving document's packed placement plus its position
    in the reproducible global training order; ``manifest`` = per-stage
    survivor counts (``input → quality → dedup → decontaminated``), the
    numbers every pipeline run reports.

    Composition only — every stage is one of the individually-tested,
    individually-oracled operators; the manifest counts ride
    ``Observation``-free aggregations (4 count jobs on lazily-chained
    filters, each a pushed-down scan of the previous stage's plan). The
    chain never materializes an intermediate corpus: filters compose into
    one Catalyst plan, so at 100 TB this is two scans of the corpus
    (dedup's shingle pass + the packer) plus the tiny decontamination
    broadcast."""
    from graph_data_science_spark.operators.text import quality_score

    manifest = {"input": docs.count()}

    q = quality_score(docs, text_col).where(
        F.col("quality") >= float(quality_threshold)).select("doc_id")
    stage1 = docs.join(q, docs[id_col] == q["doc_id"], "left_semi")
    manifest["quality"] = stage1.count()

    kept = near_duplicate_keep(stage1, text_col=text_col, id_col=id_col) \
        .where(F.col("kept")).select("doc_id")
    stage2 = stage1.join(kept, stage1[id_col] == kept["doc_id"],
                         "left_semi")
    manifest["dedup"] = stage2.count()

    clean = decontaminate(stage2, text_col=text_col, id_col=id_col) \
        .where(~F.col("contaminated")).select("doc_id")
    stage3 = stage2.join(clean, stage2[id_col] == clean["doc_id"],
                         "left_semi")
    manifest["decontaminated"] = stage3.count()

    if lm_keep_buckets is not None:
        from graph_data_science_spark.operators.lm import (
            lm_perplexity_buckets)
        head = lm_perplexity_buckets(
            stage3, n_buckets=int(lm_n_buckets), text_col=text_col,
            id_col=id_col
        ).where(F.col("bucket") <= int(lm_keep_buckets)).select("doc_id")
        stage3 = stage3.join(head, stage3[id_col] == head["doc_id"],
                             "left_semi")
        manifest["lm_filtered"] = stage3.count()

    if remove_spans_k is not None:
        from graph_data_science_spark.operators.dedup import (
            remove_duplicate_spans)
        rewritten = remove_duplicate_spans(
            stage3, k=int(remove_spans_k), text_col=text_col,
            id_col=id_col)
        manifest["span_tokens_removed"] = int(
            rewritten.agg(F.sum("tokens_removed")).first()[0] or 0)
        extra = [c for c in stage3.columns if c not in (id_col, text_col)]
        stage3 = rewritten.select(
            F.col("doc_id").alias(id_col),
            F.col("clean_text").alias(text_col),
        ).join(stage3.select(id_col, *extra), id_col) if extra else \
            rewritten.select(
                F.col("doc_id").alias(id_col),
                F.col("clean_text").alias(text_col))

    packed = pack_sequences(stage3, max_tokens=max_tokens,
                            n_shards=n_shards, text_col=text_col,
                            id_col=id_col)
    order = shuffle_shards(stage3, n_shards=n_shards, id_col=id_col,
                           seed=seed).select(
        "doc_id", F.col("shard").alias("order_shard"),
        F.col("pos").alias("order_pos"))
    out = packed.join(order, "doc_id")
    return out, manifest
