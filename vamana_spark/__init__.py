"""vamana_spark — a PySpark-native analytics engine with the capabilities
of the Vamana (DiskANN-style) ANN index reference, re-expressed Spark-first.

Public surface:
  - ``VamanaParams``, ``VamanaIndex`` (build / search / save / load)
  - ``exact``    — exact kNN, medoid, distance ops (the brute-force oracle path)
  - ``functions``— vector column expressions (squared L2, cosine, dot, norm)
  - ``operators``— LLM-data-pipeline operators (dedup, text stats, similarity
                   joins)

Design notes: DataFrame/SQL first; Catalyst does pushdown/pruning/join
selection; NumPy kernels enter only through Arrow-batched pandas UDFs
(`mapInPandas` / `applyInPandas`) for graph build + beam search, which are
inherently per-partition imperative (see SURVEY.md §2 R6-R8).
"""

from vamana_spark import _zipcache
from vamana_spark.params import VamanaParams
from vamana_spark.index.vamana import VamanaIndex

_zipcache.install()  # PySpark workers on Python < 3.13 only; see _zipcache

__all__ = ["VamanaParams", "VamanaIndex"]
__version__ = "0.1.0"
