"""Similarity operators over embedding columns (SURVEY.md §2b X3/X4).

- ``knn_self_join``       — exact top-k per point (brute force, the
  baseline and oracle).
- ``lsh_similarity_join`` — random-hyperplane LSH bucketing for
  radius-style cosine joins.
- ``normalize_embeddings`` (X4) — L2 normalization as a plain column
  expression.
- ``hash_embed``          — feature-hashing text embedder.
- ``random_projection``   — Johnson-Lindenstrauss dimension reduction.
- ``group_centroids``, ``nearest_centroid_classify``,
  ``centroid_outliers`` — per-label centroid helpers.

Approximate kNN search is ``VamanaIndex`` / ``PartitionedVamanaIndex``
(``build(graph=False)`` is their IVF-flat form). The k-means cells that
block ``dedup.semantic_dedup`` are trained by ``index.cells``.
"""

from __future__ import annotations

from typing import Iterator, Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from vamana_spark import exact
from vamana_spark.functions.vector import l2_norm


def normalize_embeddings(
    df: DataFrame, vec_col: str = "embedding", out_col: str = "unit_vec"
) -> DataFrame:
    """L2-normalize a vector column (cosine prep, X4). Zero vectors → null."""
    norm = l2_norm(vec_col)
    return df.withColumn(
        out_col,
        F.when(
            norm > 0,
            F.transform(F.col(vec_col), lambda x: x.cast("double") / norm),
        ),
    )


def knn_self_join(
    emb: DataFrame,
    k: int = 3,
    metric: str = "l2sq",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: Optional[int] = 4,
    where=None,
) -> DataFrame:
    """Exact top-k neighbors for EVERY point (self-join kNN, X3 exact).

    Uses the two-stage partial-top-k plan when the left side is large;
    here the declarative broadcast plan (queries = the filtered set).
    """
    pts = emb
    queries = emb.where(where) if where is not None else emb
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("query_vec")
    )
    return exact.exact_knn(
        pts, q, k=k, metric=metric, id_col=id_col, vec_col=vec_col,
        round_digits=round_digits, exclude_self=True,
    )


def lsh_similarity_join(
    emb: DataFrame,
    num_planes: int = 16,
    bands: int = 4,
    max_cosine_dist: float = 0.3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Cosine radius join via random-hyperplane LSH.

    Signature: sign pattern of dot(v, r_i) for ``num_planes`` seeded
    Gaussian planes, banded for candidate generation (equi-join on band
    value), then exact cosine verification on candidates only.
    """
    rng = np.random.default_rng(seed)
    first = emb.select(F.size(vec_col).alias("d")).first()
    dim = first["d"]
    planes = rng.standard_normal((num_planes, dim))

    plane_cols = []
    for i in range(num_planes):
        expr = F.aggregate(
            F.zip_with(
                F.col(vec_col),
                F.array(*[F.lit(float(x)) for x in planes[i]]),
                lambda a, b: a.cast("double") * b,
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        plane_cols.append(F.when(expr > 0, 1).otherwise(0))

    rows_per_band = num_planes // bands
    band_vals = [
        F.concat_ws("", *[c.cast("string") for c in plane_cols[b * rows_per_band : (b + 1) * rows_per_band]])
        for b in range(bands)
    ]
    sig = emb.select(
        F.col(id_col),
        F.col(vec_col),
        F.posexplode(F.array(*band_vals)).alias("band_id", "band_val"),
    )
    a = sig.select(
        F.col(id_col).alias("a_id"), F.col(vec_col).alias("a_v"), "band_id", "band_val"
    )
    b = sig.select(
        F.col(id_col).alias("b_id"), F.col(vec_col).alias("b_v"), "band_id", "band_val"
    )
    cand = (
        a.join(b, ["band_id", "band_val"])
        .where(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id", "a_v", "b_v")
        .distinct()
    )
    from vamana_spark.functions.vector import cosine_distance

    return cand.select(
        "a_id", "b_id", F.round(cosine_distance("a_v", "b_v"), 4).alias("cos_dist")
    ).where(F.col("cos_dist") <= max_cosine_dist)


def hash_embed(
    df: DataFrame,
    dim: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """Feature-hashing ("hashing trick") text embedder: deterministic
    signed bag-of-words vectors with NO vocabulary — each token hashes
    to a bucket (blake2b), a second hash bit signs the contribution,
    and rows are L2-normalized. This is the model-UDF SLOT in the
    chunk→embed→index→serve pipeline: swap in a real encoder with the
    same (id, embedding) contract; the hashing trick keeps demos and
    gates deterministic across engines and runs.

    Map-only Arrow stage, zero shuffles; token hashes are memoized for
    the lifetime of each task (cost ~one blake2b per distinct token a
    task sees; the memo grows with the task's vocabulary — swap in a
    bounded cache if a single task must stream an unbounded one).
    """
    if dim < 1:
        raise ValueError(f"dim must be >= 1, got {dim}")

    def emb(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        memo: dict = {}

        def tok_hash(w: str) -> int:
            h = memo.get(w)
            if h is None:
                h = int.from_bytes(
                    hashlib.blake2b(
                        (str(seed) + ":" + w).encode(), digest_size=8
                    ).digest(),
                    "little",
                )
                memo[w] = h
            return h

        for pdf in batches:
            if pdf.empty:
                continue
            out = np.zeros((len(pdf), dim), dtype=np.float32)
            for i, t in enumerate(pdf[text_col].astype(str)):
                for w in t.split():
                    h = tok_hash(w)
                    out[i, h % dim] += 1.0 if (h >> 32) & 1 else -1.0
            norms = np.linalg.norm(out, axis=1, keepdims=True)
            norms[norms == 0] = 1.0
            out /= norms
            yield pd.DataFrame(
                {id_col: pdf[id_col].astype("int64"), "embedding": list(out)}
            )

    return df.select(id_col, text_col).mapInPandas(
        emb, schema=f"{id_col} long, embedding array<float>"
    )


def _jl_signs(out_dim: int, dim: int, seed: int):
    """(out_dim, dim) Rademacher ±1 sign matrix from the repo's
    engine-portable md5 scheme: sign[j][i] = +1 iff the first hex digit
    of md5("seed:j:i") >= 8. Any engine with md5 reproduces it."""
    import hashlib

    import numpy as np

    S = np.empty((out_dim, dim), dtype=np.float64)
    for j in range(out_dim):
        for i in range(dim):
            h = hashlib.md5(f"{seed}:{j}:{i}".encode()).hexdigest()
            S[j, i] = 1.0 if int(h[0], 16) >= 8 else -1.0
    return S


def random_projection(
    df: DataFrame,
    out_dim: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 7,
    arrow: bool = True,
) -> DataFrame:
    """Johnson–Lindenstrauss dimensionality reduction: project the
    embedding column onto ``out_dim`` seeded Rademacher (±1) directions,
    scaled by 1/sqrt(out_dim) (the Achlioptas sign projection — distance
    -preserving in expectation, the standard cheap prep before LSH /
    coarse ANN on very high-dim embeddings).

    Returns (id, projected array<double>). Deterministic in (dims,
    seed) and engine-portable: the sign matrix derives from md5, so a
    DuckDB oracle reproduces the values bit-for-bit against the
    ``arrow=False`` path (whose sequential fold matches SQL list_sum
    order). The default Arrow path does one NumPy matmul per batch —
    same values up to float64 summation order — map-only, zero
    shuffles at any corpus size.
    """
    first = df.select(F.size(vec_col).alias("d")).first()
    dim = int(first["d"])
    S = _jl_signs(int(out_dim), dim, seed)
    scale = 1.0 / float(out_dim) ** 0.5

    if arrow:
        import numpy as np

        spark = df.sparkSession
        bc = spark.sparkContext.broadcast(S)

        def project(batches):
            import pandas as pd

            Sv = bc.value
            for pdf in batches:
                if pdf.empty:
                    continue
                X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
                P = (X @ Sv.T) * scale
                yield pd.DataFrame(
                    {id_col: pdf[id_col].to_numpy(), "projected": list(P)}
                )

        return df.select(id_col, vec_col).mapInPandas(
            project, schema=f"{id_col} long, projected array<double>"
        )

    # pure-Catalyst fold: sequential, bit-matches SQL list_sum order
    comps = [
        (
            F.aggregate(
                F.zip_with(
                    F.col(vec_col),
                    F.array(*[F.lit(float(s)) for s in S[j]]),
                    lambda a, b: a.cast("double") * b,
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            * F.lit(scale)
        )
        for j in range(int(out_dim))
    ]
    return df.select(F.col(id_col), F.array(*comps).alias("projected"))


def group_centroids(
    df: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """Per-group mean embedding (class prototypes): (label, i, centroid,
    n_members) with components exploded — the prototype tables that
    drive nearest-class-mean classification, per-class drift monitoring,
    and cluster seeding.

    Scale shape: posexplode → groupBy(label, i) avg is the Spark-first
    element-wise array mean — partial aggregation reduces each map task
    to (#labels × dim) partial rows regardless of input size, so the
    shuffle is label-cardinality-bounded, never data-bounded.
    Components round to ``round_digits`` (engine-exact reproducibility:
    float sums are order-sensitive; rounding at 1e-6 absorbs it).
    """
    ex = df.select(
        F.col(label_col), F.posexplode(F.col(vec_col)).alias("i", "comp")
    )
    return (
        ex.groupBy(label_col, "i")
        .agg(
            F.round(F.avg(F.col("comp").cast("double")), round_digits).alias(
                "centroid"
            ),
            F.count("*").cast("long").alias("n_members"),
        )
        .select(
            F.col(label_col), F.col("i").cast("long").alias("i"),
            "centroid", "n_members",
        )
    )


def nearest_centroid_classify(
    emb: DataFrame,
    centroids: Optional[DataFrame] = None,
    label_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 4,
) -> DataFrame:
    """Nearest-class-mean classification (pseudo-labeling / Rocchio):
    assign every vector to its closest class prototype.

    ``centroids`` defaults to :func:`group_centroids` over the labeled
    input itself (self-labeling sanity / drift monitoring); pass a
    frame with the same (label, i, centroid) schema to classify against
    prototypes from another corpus.

    Returns (id, pred_label, dist) — ``pred_label`` keeps the label
    column's own type (string labels stay strings: the prototypes get
    surrogate dense ids for the kNN contract and the winning surrogate
    joins back to its label, so no label is ever cast — r5 ADVICE: the
    old ``cast('long')`` nulled every string label silently). Distance
    ties break by label sort order (ascending), deterministic for any
    orderable label type.

    Scale shape: the prototype table is label-cardinality-sized, so the
    assignment is exact kNN with k=1 against a broadcast-small points
    side — one pass over the data, no shuffle of the embedding column
    at all; the surrogate window runs on the label-cardinality table
    only.
    """
    cents = centroids if centroids is not None else group_centroids(
        emb, label_col=label_col, vec_col=vec_col
    )
    cvec = (
        cents.groupBy(label_col)
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("i"), F.col("centroid")))
            ).alias("_sc")
        )
        .select(
            F.col(label_col),
            F.transform(F.col("_sc"), lambda s: s["centroid"]).alias(
                "embedding"
            ),
        )
        .withColumn(
            "vec_id",
            F.row_number().over(Window.orderBy(F.col(label_col))).cast("long"),
        )
    )
    q = emb.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("query_vec")
    )
    res = exact.exact_knn(cvec.select("vec_id", "embedding"), q, k=1,
                          round_digits=round_digits)
    lab = cvec.select("vec_id", F.col(label_col).alias("pred_label"))
    return res.join(F.broadcast(lab), "vec_id").select(
        F.col("query_id").alias(id_col),
        F.col("pred_label"),
        F.col("dist"),
    )


def centroid_outliers(
    emb: DataFrame,
    label_col: Optional[str] = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    z_threshold: float = 3.0,
) -> DataFrame:
    """Embedding-space outlier scoring: each vector's L2 distance to its
    group centroid (global centroid when ``label_col`` is None),
    z-scored within the group — the embedding-quality pass that drops
    mis-embedded rows (truncated inputs, wrong-modality content,
    encoder failures) before they poison dedup thresholds and ANN
    training sets.

    Returns (id, label?, dist, z, outlier) — ``outlier`` is
    z > ``z_threshold``. Scale shape: centroids come from the partial-
    agg-bounded ``group_centroids``; the mean/std of the distances is a
    second grouped agg over one scalar per row; both join back by the
    group key (broadcast-small). The embedding column itself never
    shuffles.
    """
    from vamana_spark.functions.vector import pairwise_distance

    gcol = label_col
    src = emb
    if gcol is None:
        gcol = "_g"
        src = emb.withColumn("_g", F.lit(0))
    cents = group_centroids(src, label_col=gcol, vec_col=vec_col)
    cvec = (
        cents.groupBy(gcol)
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("i"), F.col("centroid")))
            ).alias("_sc")
        )
        .select(
            F.col(gcol),
            F.transform(F.col("_sc"), lambda s: s["centroid"]).alias("_cv"),
        )
    )
    d = src.join(F.broadcast(cvec), gcol).select(
        F.col(id_col),
        F.col(gcol),
        F.sqrt(pairwise_distance(vec_col, "_cv", "l2sq")).alias("dist"),
    )
    stats = d.groupBy(gcol).agg(
        F.avg("dist").alias("_mu"),
        F.coalesce(F.stddev_samp("dist"), F.lit(0.0)).alias("_sd"),
    )
    z = F.when(
        F.col("_sd") > 0, (F.col("dist") - F.col("_mu")) / F.col("_sd")
    ).otherwise(F.lit(0.0))
    out = (
        d.join(F.broadcast(stats), gcol)
        .select(
            F.col(id_col),
            F.col(gcol),
            F.round("dist", 4).alias("dist"),
            F.round(z, 4).alias("z"),
            (z > F.lit(float(z_threshold))).alias("outlier"),
        )
    )
    return out.drop("_g") if label_col is None else out
