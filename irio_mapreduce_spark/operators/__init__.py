"""Relational operators the engine declares beyond 1-line PySpark delegation.

Everything trivially expressible (inner/outer/semi/anti joins, groupBy aggs,
window functions, set ops, sorts) is used directly through the DataFrame API
in the query catalog — re-wrapping those adds nothing (SURVEY.md §7 M2).
This package holds the operators that need real composition:

* :mod:`joins`      — as-of join, bucketed range join
* :mod:`aggregates` — salted (skew-resistant) aggregation, grouping-sets helpers
* :mod:`topk`       — per-group top-k, global top-k
* :mod:`graph`      — PageRank (global and personalized), one frontier-relaxation
  kernel under BFS / multi-source BFS / SSSP / connected components, peeling,
  triangles, label propagation
* :mod:`barrier`    — ``barrier``, the one materialization point (``localCheckpoint``)
  every iterative or multiply-read plan goes through, and ``free_checkpoint``
"""

from irio_mapreduce_spark.operators.joins import asof_join, range_join  # noqa: F401
from irio_mapreduce_spark.operators.aggregates import salted_agg  # noqa: F401
from irio_mapreduce_spark.operators.barrier import barrier  # noqa: F401
from irio_mapreduce_spark.operators.topk import top_k, top_k_per_group  # noqa: F401
