"""Compat reader/writer for the reference's binary index file format.

Layout (little-endian, from SURVEY.md §1.3, specified by SaveIndex at
index/vamana.h:390-424 and the file constructor at vamana.h:55-96):

1. header: n:u32, dim:u32, R:u32, L:u32, alpha:f32, medoid:u32
2. n records of dim*f32 point components followed by the u32 user id
3. n adjacency records: degree:u32 + degree*u32 neighbor ordinals

The native layout is row-major and unsplittable, so this is a driver-side
utility for interchange with the reference implementation — the engine's
own persistence is the splittable Parquet directory (VamanaIndex.save).
An index up to ~10^7 x 128 f32 (~5 GB) fits driver memory; beyond that,
convert once to the Parquet layout and stay there.
"""

from __future__ import annotations

import struct
from typing import TYPE_CHECKING

import numpy as np
from pyspark.sql import SparkSession

from vamana_spark.params import VamanaParams

if TYPE_CHECKING:
    from vamana_spark.index.vamana import VamanaIndex


def save_bin(index: "VamanaIndex", path: str) -> None:
    """Serialize a VamanaIndex to the reference's .bin layout."""
    P, ids, indptr, nbrs = index._load_local()
    n, dim = P.shape
    p = index.params
    medoid = int(p.medoid or 0)
    with open(path, "wb") as f:
        f.write(struct.pack("<IIIIfI", n, dim, p.R, p.L, float(p.alpha), medoid))
        for i in range(n):
            f.write(P[i].astype("<f4").tobytes())
            f.write(struct.pack("<I", int(ids[i])))
        for i in range(n):
            adj = nbrs[indptr[i] : indptr[i + 1]].astype("<u4")
            f.write(struct.pack("<I", adj.size))
            f.write(adj.tobytes())


def load_bin(spark: SparkSession, path: str) -> "VamanaIndex":
    """Parse a reference-format .bin index into a VamanaIndex.

    Note the reference quirk (SURVEY.md §1.4): a loaded index is full
    (max_points = n), and ef_search is not persisted in the file — we
    default it to L, matching the loader's observable behavior.

    The returned index starts with its driver cache (as a fresh build
    does); its DataFrame view is built on first access.
    """
    from vamana_spark.index import kernels
    from vamana_spark.index.vamana import POINTS_SCHEMA, _local_index, _rows_df

    with open(path, "rb") as f:
        n, dim, R, L, alpha, medoid = struct.unpack("<IIIIfI", f.read(24))
        pts = np.empty((n, dim), dtype=np.float32)
        ids = np.empty(n, dtype=np.int64)
        rec = struct.Struct(f"<{dim}fI")
        for i in range(n):
            vals = rec.unpack(f.read(rec.size))
            pts[i] = vals[:dim]
            ids[i] = vals[dim]
        graph = []
        for i in range(n):
            (deg,) = struct.unpack("<I", f.read(4))
            adj = np.frombuffer(f.read(4 * deg), dtype="<u4").astype(np.int64)
            graph.append(adj)

    params = VamanaParams(
        dim=dim, max_points=n, alpha=round(float(alpha), 6), R=R, L=L,
        ef_search=L, medoid=int(medoid), n=n,
    )
    # the file holds squared-L2 points (the default metric), so they are
    # already the search-ready matrix
    indptr, nbrs = kernels._to_csr(graph, n)
    return _local_index(
        spark,
        params,
        (pts, ids, indptr, nbrs),
        lambda ord_map: _rows_df(
            spark,
            POINTS_SCHEMA,
            vec_id=ids,
            ordinal=np.arange(n),
            embedding=pts.tolist(),
        ),
    )
