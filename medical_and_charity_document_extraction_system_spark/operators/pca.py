"""Deterministic PCA projection for embedding columns.

The dimensionality-reduction / whitening step of an embedding
pipeline (pre-ANN compression, SemDeDup's preprocessing, probing
drift between embedding versions): fit principal components on a
bounded sample, project every vector onto the top-k components.

Determinism discipline (the semdedup centroid-literal playbook):

- the fit runs ONCE, driver-side, on the sample *ordered by the id
  column* and capped at ``sample_rows`` — identical bytes into numpy
  no matter how the table is partitioned; LAPACK SVD is deterministic
  for fixed input; the component-sign ambiguity is resolved by the
  standard convention (the max-|value| coordinate of each component
  is made positive, first index on ties);
- projections are STRICT LEFT FOLDS seeded at 0.0 —
  ``acc = 0.0; acc += (v[i] - mean[i]) * comp[i]`` — so the DuckDB
  twin (the same mean/component values as repr-string literals, the
  same 0.0-seeded left-assoc sum) lands on bit-identical doubles.
  No GEMM anywhere near the output values.

Scale shape: fit cost is independent of corpus size (bounded sample);
projection is embarrassingly parallel (one Arrow row stage, one
pass). At production scale swap the Python fold for einsum + exact
re-fold only where downstream consumers compare values across engines
(the embedding_near_dup_exact pattern).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..stage import map_rows


def pca_fit_np(mat: np.ndarray, k: int) -> tuple[np.ndarray, np.ndarray]:
    """(mean, components[k, dim]) from a float64 sample matrix —
    shared verbatim by the Spark operator and the oracle builder, so
    both sides hold the identical literals."""
    mean = mat.mean(axis=0)
    _, _, vt = np.linalg.svd(mat - mean, full_matrices=False)
    comps = vt[:k].copy()
    for i in range(comps.shape[0]):
        j = int(np.argmax(np.abs(comps[i])))
        if comps[i][j] < 0:
            comps[i] = -comps[i]
    return mean, comps


def pca_fit(
    df: DataFrame,
    k: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    sample_rows: int = 10000,
) -> tuple[np.ndarray, np.ndarray]:
    """Fit on the id-ordered, row-capped sample (bounded collect —
    cost independent of corpus size)."""
    rows = (
        df.orderBy(id_col)
        .limit(sample_rows)
        .select(F.col(vec_col).cast("array<double>").alias("v"))
        .collect()
    )
    if not rows:
        raise ValueError("empty sample")
    mat = np.array([r.v for r in rows], dtype=np.float64)
    if not 1 <= k <= mat.shape[1]:
        raise ValueError("k must be in 1..dim")
    return pca_fit_np(mat, k)


def pca_project(
    df: DataFrame,
    mean: np.ndarray,
    comps: np.ndarray,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(vec_id, component, value): per-vector projection onto each
    component, exact 0.0-seeded left-fold per value."""
    mean_l = [float(x) for x in mean]
    comps_l = [[float(x) for x in c] for c in comps]
    dim = len(mean_l)

    def project(vid: int, v: list) -> list[dict]:
        out = []
        for j, c in enumerate(comps_l):
            acc = 0.0
            for i in range(dim):
                acc += (v[i] - mean_l[i]) * c[i]
            out.append({"vec_id": vid, "component": j, "value": acc})
        return out

    return map_rows(
        df.select(
            F.col(id_col).cast("long").alias("vec_id"),
            F.col(vec_col).cast("array<double>").alias("v"),
        ),
        "vec_id long not null, component int not null, value double not null",
        project,
    )
