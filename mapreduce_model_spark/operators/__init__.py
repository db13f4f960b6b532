"""Operator library — each module implements one operator family Spark-first.

Modules cite the reference (``/root/reference/src/main.cc``) semantics they
reproduce or generalize; see SURVEY.md §2 for the inventory mapping.
"""

# The one local-finish gate. An iterative operator whose input (edges,
# vectors, documents, dictionary rows) is at most this many rows runs its
# whole loop in ONE executor task (``coalesce(1).mapInPandas``) instead of a
# distributed loop whose every round pays scheduler and exchange latency —
# the forest-contraction endgame (contract until the input fits a worker,
# then solve it there). 200k rows of a 64-double vector is ~100 MB in one
# task. Gated operators: connected_components, pagerank, bfs_depths
# (operators/graph.py), kmeans_fit_arrow (operators/similarity.py),
# quality_classifier and the BPE loop (queries_text.py). Each reads the
# value at call time through this module, so patching it here switches
# every gate (tests set it to 0 to run the distributed loops).
LOCAL_FINISH_ROWS = 200_000
