"""Graph diagnostics over the persisted index — distributed, join-based.

``reachability`` runs a frontier BFS from the medoid as iterative
DataFrame joins (frontier ⋈ adjacency → next frontier), the standard
Pregel-without-Pregel encoding: each round is one shuffle on ordinal,
state lives in DataFrames, lineage is truncated by localCheckpoint so
50-round traversals don't build 50-deep plans. At index scale this runs
where the graph lives; nothing is collected.

Complements healthCheck (degree bounds): a node can satisfy the degree
invariant and still be unreachable from the entry point — unreachable
nodes can never be returned by greedy search, so reachable_fraction is
the real navigability invariant.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def reachability(
    graph_df: DataFrame,
    start_ordinal: int,
    max_rounds: int = 64,
) -> dict:
    """BFS from ``start_ordinal`` over (ordinal, neighbors) adjacency.

    Returns {reachable, total, reachable_fraction, rounds}.
    """
    edges = graph_df.select(
        F.col("ordinal").alias("src"), F.explode_outer("neighbors").alias("dst")
    ).where(F.col("dst").isNotNull()).cache()
    total = graph_df.select("ordinal").distinct().count()

    spark = graph_df.sparkSession
    visited = spark.createDataFrame([(int(start_ordinal),)], "ordinal long").cache()
    frontier = visited
    rounds = 0
    n_visited = 1
    for _ in range(max_rounds):
        nxt = (
            frontier.join(edges, frontier.ordinal == edges.src)
            .select(F.col("dst").alias("ordinal"))
            .distinct()
            .join(visited, "ordinal", "left_anti")
            .localCheckpoint()
        )
        rounds += 1
        c = nxt.count()
        if c == 0:
            break
        visited = visited.unionByName(nxt).localCheckpoint()
        n_visited += c
        frontier = nxt
    edges.unpersist()
    return {
        "reachable": n_visited,
        "total": total,
        "reachable_fraction": n_visited / max(total, 1),
        "rounds": rounds,
    }


def degree_histogram(graph_df: DataFrame) -> DataFrame:
    """Out-degree distribution: (out_degree, n_nodes)."""
    return (
        graph_df.select(F.size("neighbors").alias("out_degree"))
        .groupBy("out_degree")
        .agg(F.count("*").cast("long").alias("n_nodes"))
    )


def routing_concentration(index, truth: DataFrame) -> DataFrame:
    """Partitioned-tier routing diagnostic (r8): how many PRIMARY
    sub-shards (nearest-cell membership, counted in the same sub-shard
    units ``_route``'s nprobe spends) hold each query's true k-NN set?

    This number is the structural reason nprobe<S serving works or
    doesn't — measured at 1M/256 shards it reads **8.64** on uniform
    data (neighbors scatter; you need nprobe≈S/4 for 0.97) and
    **1.12** on a 256-blob clustered corpus (routing does ~all the
    work; nprobe=8 of ~300 serves recall 1.0). Run it on a ground-truth
    sample after building — or call
    ``PartitionedVamanaIndex.calibrate_nprobe`` directly, which turns
    the same structure into a persisted serving default.

    Split-cell semantics (r9, ADVICE r8): on a skew-split index the
    duplicated center rows are near-ties, so probing a split cell means
    probing ALL its sub-shards — a raw argmin over the duplicated rows
    would count cells while nprobe spends sub-shards, understating the
    probes needed. Points are therefore assigned to their primary CELL
    (argmin over the unique cell centers) and each distinct cell a
    query's k-NN set touches contributes its full split count, so
    ``n_primary_shards`` stays in nprobe's units.

    ``truth``: (query_id, vec_id) rows — exact k-NN pairs (e.g.
    ``exact.exact_knn_batch`` output). Returns one row per query,
    ``(query_id, n_primary_shards)``; ``avg(n_primary_shards)`` is the
    headline. Distributed: neighbor vectors come from the index's own
    shard table via an equi-join (overlap copies collapse through the
    min-distance primary assignment, computed per batch against the
    broadcast center matrix); nothing is collected."""
    import numpy as np
    import pandas as pd

    from vamana_spark import exact
    from vamana_spark.index.cells import _cell_layout
    from vamana_spark.index.vamana import _metric_transform

    spark = index.spark
    metric, mips_m = index.params.metric, index.params.mips_m
    base, nsplit, _ = _cell_layout(index.centers)
    bc = spark.sparkContext.broadcast(
        (index.centers.astype(np.float64)[base], nsplit)
    )

    def primary(batches):
        C, nsplit_v = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            X = _metric_transform(
                np.stack(pdf["embedding"].to_numpy()).astype(np.float32),
                metric,
                mips_m,
            ).astype(np.float64)
            d = exact._dist_matrix(X, C, "l2sq")
            cell = d.argmin(axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(dtype=np.int64),
                    "primary_cell": cell.astype(np.int32),
                    "cell_subshards": nsplit_v[cell].astype(np.int32),
                }
            )

    # no dedup shuffle: overlap copies share the embedding, so they get
    # the same primary assignment and collapse inside the distinct-cell
    # aggregation; the corpus stays at rest (broadcast semi-join on the
    # tiny truth sample BEFORE the per-batch argmin)
    nbrs = truth.select("query_id", "vec_id")
    assign = (
        index.shards_df.select("vec_id", "embedding")
        .join(F.broadcast(nbrs.select("vec_id").distinct()), "vec_id")
        .mapInPandas(
            primary,
            schema="vec_id long, primary_cell int, cell_subshards int",
        )
    )
    return (
        nbrs.join(assign, "vec_id")
        .select("query_id", "primary_cell", "cell_subshards")
        .dropDuplicates(["query_id", "primary_cell"])
        .groupBy("query_id")
        .agg(
            F.sum("cell_subshards").cast("int").alias("n_primary_shards")
        )
    )
