from vamana_spark.index.partitioned import PartitionedVamanaIndex
from vamana_spark.index.vamana import VamanaIndex

__all__ = ["VamanaIndex", "PartitionedVamanaIndex"]
