"""Operators: the algorithm suite (the reference's procedure surface).

Core four (SURVEY §2.4): :mod:`pagerank` (+ ArticleRank, Eigenvector),
:mod:`wcc`, :mod:`label_propagation`, :mod:`triangle`.
Community: :mod:`louvain` (Louvain/Leiden/modularityOptimization),
:mod:`scc`, :mod:`kcore`, :mod:`clustering` (kmeans, k1coloring),
:mod:`cut` (maxkcut), :mod:`community_metrics`.
Paths/centrality: :mod:`paths` (BFS/DFS/Dijkstra+paths/A*/Yens/SSSP/DAG),
:mod:`centrality` (MSBFS, betweenness, closeness, harmonic,
allShortestPaths), :mod:`spanning` (Borůvka MST, Steiner), :mod:`hits`,
:mod:`degree`.
Embeddings/sampling/ML: :mod:`embeddings` (FastRP, HashGNN, node2vec,
random walks), :mod:`walking` (collapsePath, RWR/CNARW), :mod:`influence`
(CELF), :mod:`similarity`, :mod:`estimate`.
Training-data ops: :mod:`dedup`, :mod:`text`, :mod:`scale_properties`.
"""
