"""Distributed BPE tokenizer training + encoding.

The classic byte-pair-encoding trainer (Sennrich et al. 2016), re-expressed
Spark-first over the word-frequency table — the piece a 100 TB pretraining
pipeline runs BEFORE token counting can mean anything. Complements
``text.token_count_bpe_ish`` (the regex approximation) with the real
merge-learning loop.

Shape per merge round (the whole loop is ``n_merges`` rounds):
- adjacent symbol pairs via ``zip_with(slice, slice)`` (no self-join),
  weighted by word frequency — one partial-aggregatable ``groupBy`` whose
  shuffle volume is #distinct pairs (vocabulary-scale, not corpus-scale);
- argmax pair via a distributed top-1 (``orderBy · limit(1)`` →
  TakeOrderedAndProject), ties broken (count desc, left asc, right asc) so
  training is bit-deterministic at any parallelism;
- the merge itself is a pure ``aggregate`` fold over each word's symbol
  array — greedy left-to-right non-overlapping, the standard BPE pass —
  inside whole-stage codegen; no Python touches a row.

State (one row per DISTINCT word, not per occurrence) is truncated per
round through ``Scratch`` (plans/loop_state.py). At 100 TB the
distinct-word table is ~10⁷ rows — tiny against the corpus — so each round
is a shuffle over megabytes. When the engine's size policy
(``loop_state.tier`` of the row count the first truncate observes) puts
the word table in the ``"local"`` tier, the whole merge loop finishes on
the driver instead (:func:`bpe_train`).

Encoding applies the learned merge list as ``len(merges)`` chained folds in
ONE projection (expression tree depth = #merges, no shuffle, no UDF) — a
single codegen'd scan over the corpus.

Not SQL-expressible (the fold is inherently sequential within a word), so
the ``bpe_token_count`` entry is rows-only; correctness is golden-tested
against a pure-Python reference BPE in tests/test_tokenizer.py.

Reference analog: none in gds (graph engine) — this is part of the
training-data-pipeline surface the build brief adds on top; the operator
discipline (deterministic ties, partial aggs, loop truncation) mirrors
operators/louvain.py's argmax-move kernel.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from graph_data_science_spark.operators.dedup import _norm
from graph_data_science_spark.plans.loop_state import Scratch, tier

#: end-of-word marker (keeps merges from crossing word boundaries when the
#: learned vocab is applied to running text — the Sennrich convention)
EOW = "</w>"


def _merge_fold(syms: Column | str, left: str, right: str) -> Column:
    """One BPE merge pass over a symbol array: replace every non-overlapping
    adjacent (left, right) occurrence, greedy left-to-right — a single
    ``aggregate`` fold with a (out, pending) struct accumulator."""
    col = F.col(syms) if isinstance(syms, str) else syms
    l_lit, r_lit = F.lit(left), F.lit(right)
    return F.aggregate(
        col,
        F.struct(
            F.expr("cast(array() as array<string>)").alias("out"),
            F.lit(None).cast("string").alias("pend"),
        ),
        lambda acc, x: F.when(
            acc.pend.isNull(), F.struct(acc.out.alias("out"), x.alias("pend"))
        ).when(
            (acc.pend == l_lit) & (x == r_lit),
            F.struct(
                F.concat(acc.out, F.array(F.concat(acc.pend, x))).alias("out"),
                F.lit(None).cast("string").alias("pend"),
            ),
        ).otherwise(
            F.struct(F.concat(acc.out, F.array(acc.pend)).alias("out"),
                     x.alias("pend"))
        ),
        lambda acc: F.when(acc.pend.isNull(), acc.out).otherwise(
            F.concat(acc.out, F.array(acc.pend))),
    )


def _word_table(docs: DataFrame, text_col: str) -> DataFrame:
    """(word, freq, syms) — distinct words with corpus frequencies, each
    split into characters + the end-of-word marker."""
    words = docs.select(
        F.explode(F.split(_norm(F.col(text_col)), " ")).alias("word")
    ).where(F.col("word") != "")
    wf = words.groupBy("word").agg(F.count(F.lit(1)).alias("freq"))
    # split('', word) yields one element per character (no empties on 4.x)
    return wf.select(
        "word", "freq",
        F.concat(
            F.filter(F.split(F.col("word"), ""), lambda c: c != ""),
            F.array(F.lit(EOW)),
        ).alias("syms"),
    )


def _bpe_train_local(rows: list, n_merges: int) -> list[tuple[str, str]]:
    """Classic sequential BPE over collected (freq, syms) rows — the
    bit-exact local finish of :func:`bpe_train` (same greedy fold, same
    (count desc, l asc, r asc) tie-break, same best<2 stop)."""
    words = [(int(f), list(s)) for f, s in rows]
    merges: list[tuple[str, str]] = []
    for _ in range(int(n_merges)):
        counts: dict[tuple[str, str], int] = {}
        for f, syms in words:
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                counts[p] = counts.get(p, 0) + f
        if not counts:
            break
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        if best[1] < 2:
            break
        left, right = best[0]
        merges.append((left, right))
        for f, syms in words:
            i, out = 0, []
            while i < len(syms):
                if (i + 1 < len(syms) and syms[i] == left
                        and syms[i + 1] == right):
                    out.append(left + right)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms[:] = out
    return merges


def bpe_train(docs: DataFrame, n_merges: int = 20, text_col: str = "text",
              batch_candidates: int = 256) -> list[tuple[str, str]]:
    """Learn ``n_merges`` BPE merges from the corpus → ordered merge list.

    Stops early when no adjacent pair occurs at least twice (merging a
    hapax pair learns nothing). Deterministic: tie-break is
    (count desc, left asc, right asc).

    TWO paths, identical results (pinned by a pytest equality case):

    LOCAL FINISH (the size policy ``loop_state.tier`` of the distinct-word
    row count answers ``"local"`` — the louvain local-finish pattern): the
    merge loop's state is the distinct-word frequency table, which is
    VOCAB-scale, so the whole sequential loop runs driver-side in one
    collect with ZERO Spark jobs per merge — 2 Spark jobs total regardless
    of n_merges (the corpus-scale work, word counting, already happened
    distributed). This is also the honest production architecture:
    distributed word count, then an in-memory classic trainer over the
    bounded word table.

    DISTRIBUTED path (``"memory"`` or ``"parquet"``): BATCHED rounds,
    sequentially EXACT — one Spark round no longer buys just one merge (a
    production 32k-merge vocab = 32k sequential jobs — the round-4
    review's scale hazard); each round collects the top ``batch_candidates`` pairs and
    applies the longest prefix of the classic pick order that is
    PROVABLY what sequential BPE would have picked, so the merge list is
    bit-identical to one-merge-at-a-time training:

    - accepted pairs must be pairwise NON-INTERACTING (no shared symbol,
      no concat equal to another's symbol or concat) and their concat
      must be a genuinely NEW symbol (checked against a driver-side
      registry = base alphabet ∪ prior merge results — exact, since
      every symbol is one of those two) — then no accepted merge changes
      another accepted pair's count;
    - the batch stops at the FIRST interacting pair in sorted order
      (prefix contiguity matters: it proves every not-accepted old pair
      counts ≤ the stop count), and a STRICT-DOMINANCE cut drops
      accepted tail pairs with count ≤ the stop count — merging can only
      create pairs bounded by some interacting old pair's count, so
      everything a batch merge creates or changes stays STRICTLY below
      every accepted count, and sequential BPE provably picks the
      accepted prefix in exactly this order;
    - a round that can't batch (tie at the boundary) falls back to the
      classic single merge, which needs no proof.

    Batch sizes on character-level early rounds are small (single-letter
    symbols interact densely) — the local finish is the big lever; the
    batching bounds the distributed path (docs/SCALE_NOTES.md §33).
    """
    scratch = Scratch(docs.sparkSession)
    try:
        # unhinted: the word table's size is unknown until this truncate
        # counts it, so it lands on the scale-safe parquet side
        state = scratch.truncate(_word_table(docs, text_col), "words")
        if tier(scratch.rows("words")) == "local":
            rows = [(r["freq"], r["syms"])
                    for r in state.select("freq", "syms")
                    .orderBy("word").collect()]
            return _bpe_train_local(rows, int(n_merges))
        # exact symbol registry: base alphabet (+EOW) now, + one entry per
        # applied merge — every symbol in every word is one of the two
        symbols = {r["s"] for r in
                   state.select(F.explode("syms").alias("s")).distinct().collect()}
        merges: list[tuple[str, str]] = []
        while len(merges) < int(n_merges):
            pairs = state.where(F.size("syms") >= 2).select(
                "freq",
                F.explode(F.expr(
                    "zip_with(slice(syms, 1, size(syms) - 1),"
                    " slice(syms, 2, size(syms) - 1),"
                    " (a, b) -> struct(a AS l, b AS r))")).alias("p"),
            ).groupBy("p.l", "p.r").agg(F.sum("freq").alias("c"))
            top = pairs.orderBy(F.desc("c"), F.asc("l"), F.asc("r")) \
                .limit(int(batch_candidates)).collect()
            if not top or int(top[0]["c"]) < 2:
                break
            batch: list[tuple[str, str, int]] = []
            used: set[str] = set()
            stop_c = int(top[-1]["c"])  # conservative when nothing interacts
            for r in top:
                left, right, c = r["l"], r["r"], int(r["c"])
                if c < 2:
                    stop_c = c
                    break
                concat = left + right
                if (left in used or right in used or concat in used
                        or concat in symbols):
                    stop_c = c
                    break
                batch.append((left, right, c))
                used.update((left, right, concat))
            while batch and batch[-1][2] <= stop_c:
                batch.pop()
            if not batch:
                # boundary tie (or concat collision at the top): classic
                # single merge — always legal, always progress
                batch = [(top[0]["l"], top[0]["r"], int(top[0]["c"]))]
            col: Column = F.col("syms")
            for left, right, _ in batch[: int(n_merges) - len(merges)]:
                merges.append((left, right))
                symbols.add(left + right)
                col = _merge_fold(col, left, right)
            state = scratch.truncate(
                state.select("word", "freq", col.alias("syms")), "words")
        return merges
    finally:
        scratch.cleanup()


def bpe_encode(docs: DataFrame, merges: list[tuple[str, str]],
               text_col: str = "text",
               id_col: str = "doc_id") -> DataFrame:
    """Tokenize with a learned merge list → ``(doc_id, n_bpe_tokens,
    tokens)`` where ``tokens`` is the per-document BPE symbol sequence.

    One projection: per word, chars + EOW, then every merge applied in
    training order as chained folds; the document's token stream is the
    word streams concatenated (``flatten`` preserves word order). No
    shuffle, no UDF — the whole encode is a codegen'd scan.
    """
    words = F.filter(F.split(_norm(F.col(text_col)), " "),
                     lambda w: w != "")
    syms = F.transform(
        words,
        lambda w: F.concat(F.filter(F.split(w, ""), lambda c: c != ""),
                           F.array(F.lit(EOW))),
    )
    def _apply(left: str, right: str):
        # a 1-arg closure: pyspark binds lambda variables by parameter
        # count, so default-arg capture would miscount as a 3-arg lambda
        return lambda s: _merge_fold(s, left, right)

    enc = syms
    for left, right in merges:
        enc = F.transform(enc, _apply(left, right))
    toks = F.flatten(enc)
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(toks).cast("long").alias("n_bpe_tokens"),
        toks.alias("tokens"),
    )


def bpe_vocab(docs: DataFrame, merges: list[tuple[str, str]],
              text_col: str = "text",
              id_col: str = "doc_id") -> DataFrame:
    """Deterministic id assignment over the encoded corpus →
    ``(token_id, token)`` — distinct BPE symbols in lexicographic order,
    dense ids from 0. Given the same (corpus, merges) the table is
    identical at any partitioning; persist it as the model's companion
    artifact (the merges list + this table = the full tokenizer).

    Scale: the distinct agg is vocabulary-sized (map-side combine
    collapses each partition's repeats); the id window orders the
    vocab table only — never the corpus."""
    return _vocab_from_encoded(bpe_encode(docs, merges, text_col, id_col))


def _vocab_from_encoded(toks: DataFrame) -> DataFrame:
    """Dense lexicographic ids over an already-encoded token table."""
    from pyspark.sql.window import Window

    return (
        toks.select(F.explode("tokens").alias("token")).distinct()
        .select(
            (F.row_number().over(Window.orderBy("token")) - 1)
            .cast("int").alias("token_id"),
            "token")
    )


def bpe_encode_ids(docs: DataFrame, merges: list[tuple[str, str]],
                   vocab: DataFrame | None = None,
                   text_col: str = "text",
                   id_col: str = "doc_id") -> DataFrame:
    """Tokenize to integer ids → ``(doc_id, n_bpe_tokens, ids)`` — the
    shape a packing stage (pipeline_ops.pack_sequences) feeds a trainer.
    ``vocab=None`` derives :func:`bpe_vocab` from ``docs`` itself;
    passing a persisted vocab encodes new text against a frozen
    tokenizer, with out-of-vocabulary symbols mapped to -1 (callers
    decide whether to drop or retrain — the honest OOV contract, since
    real BPE vocabularies are frozen artifacts).

    Plan: the chained-fold encode (the pipeline's most expensive
    projection, with no shuffle for exchange reuse to cache) is
    materialized ONCE with an eager checkpoint; the self-derived vocab,
    the posexplode branch, and the zero-token union branch all read the
    cached table. Then one broadcast join against the vocabulary-sized
    id table and one groupBy(doc) re-assembly ordered by position — ids
    never ride a window over the corpus."""
    toks = bpe_encode(docs, merges, text_col, id_col).localCheckpoint(
        eager=True)
    if vocab is None:
        vocab = _vocab_from_encoded(toks)
    pos = toks.select(
        "doc_id", "n_bpe_tokens",
        F.posexplode("tokens").alias("pos", "token"))
    joined = pos.join(F.broadcast(vocab), "token", "left")
    return (
        joined.groupBy("doc_id")
        .agg(
            F.first("n_bpe_tokens").alias("n_bpe_tokens"),
            F.transform(
                F.array_sort(F.collect_list(F.struct(
                    "pos", F.coalesce("token_id", F.lit(-1)).alias("tid")))),
                lambda x: x["tid"]).alias("ids"),
        )
        .unionByName(  # docs with zero (or NULL-text → NULL-count)
            # tokens keep a row: size(NULL array) is NULL, not 0, so an
            # equality-only filter would silently drop NULL-text docs
            # that bpe_encode itself still returns.
            toks.where(F.col("n_bpe_tokens").isNull()
                       | (F.col("n_bpe_tokens") == 0)).select(
                "doc_id",
                F.coalesce("n_bpe_tokens", F.lit(0)).alias("n_bpe_tokens"),
                F.array().cast("array<int>").alias("ids")))
    )
