"""Plans: execution machinery shared by the iterative graph algorithms.

- :mod:`pregel` — the superstep driver (persist-per-step, lineage breaking,
  parquet vertex-state snapshots, per-partition lineage + convergence
  metrics, resume). Reference analog: the Pregel framework
  (pregel/src/main/java/org/neo4j/gds/beta/pregel/Pregel.java:172-210).
- :mod:`loop_state` — the one size-gated loop-state truncation. Its gate,
  not a caller argument or an env var, picks each loop's plan: in-memory
  truncation, AQE on and one superstep per block below it; parquet slots,
  AQE off and fused blocks at or above it (Louvain gates AQE and fusion on
  edge mass instead).
- :mod:`partitioning` — skew helpers: salted two-level aggregation,
  degree statistics (reference analog: PartitionUtils degree partitioning,
  core/.../partition/PartitionUtils.java:49,125).
"""
