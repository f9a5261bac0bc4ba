"""SemDeDup — semantic deduplication via k-means + within-cluster cosine
pruning (SURVEY.md §2.H mandated-extension family: embedding near-dup).

Published technique (Abbas et al. 2023, "SemDeDup: Data-efficient
learning at web-scale through semantic deduplication"): cluster the
corpus embeddings with k-means, then *within each cluster* drop every
point whose cosine similarity to an already-kept cluster-mate exceeds
``tau``.  Pairwise work is confined to clusters, so total cost is
Σ c_i² ≈ n²/k instead of n² — at 100 TB, k is chosen so the expected
cluster size stays bounded (SCALE.md), and each cluster is one
``applyInPandas`` group: the corpus shuffles exactly once (by cluster
id) and no all-pairs join ever forms.

Determinism: centroids come from :func:`ivf.train_centroids` (seeded,
deterministic init); the greedy scan order inside a cluster is
(distance-to-centroid DESC, id ASC) — the paper's "keep the point
farthest from the centroid" rule with a total tie-break — so the
survivor set is a pure function of the input.

Reference parity note: the reference repo (wwoods/dask-ssh-docker) ships
no analytics operators of its own (SURVEY.md §0); this operator is part
of the mandated LLM-pipeline extension surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .ivf import _assign, train_centroids

_BLOCK = 512  # greedy screening block: GEMM-sized, far above cache-cliff floor


def _greedy_semdedup(U, order, tau):
    """Greedy keep-scan over row-normalized vectors ``U`` in ``order``.

    Returns (keep: bool[n], max_sim: float[n]) indexed like ``U``.
    Blocked for GEMM efficiency: each block is screened against the kept
    set with one matmul, and within-block decisions reuse one B @ B.T —
    the sequential part is pure-python dict lookups, no per-row BLAS.
    """
    import numpy as np

    n = len(U)
    keep = np.zeros(n, dtype=bool)
    max_sim = np.full(n, -1.0)
    # contiguous kept-vector buffer, grown in place: the per-block screen
    # is then one GEMM against a stable matrix instead of re-gathering
    # U[kept_rows] (an O(|kept|·dim) copy per block) as the set grows
    K = np.empty_like(U)
    n_kept = 0
    for s in range(0, n, _BLOCK):
        blk = order[s : s + _BLOCK]
        B = U[blk]
        if n_kept:
            prev_max = (B @ K[:n_kept].T).max(axis=1)
        else:
            prev_max = np.full(len(blk), -1.0)
        S_blk = B @ B.T  # (b, b) — within-block pairs
        kept_in_blk: list[int] = []
        for j, row in enumerate(blk):
            m = prev_max[j]
            if kept_in_blk:
                m = max(m, S_blk[j, kept_in_blk].max())
            max_sim[row] = m
            if m < tau:
                keep[row] = True
                kept_in_blk.append(j)
        for j in kept_in_blk:
            K[n_kept] = B[j]
            n_kept += 1
    return keep, max_sim


def semdedup(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 16,
    tau: float = 0.95,
    iters: int = 3,
    sample_fraction: float | None = None,
) -> DataFrame:
    """(id, cluster_id, keep, max_sim) — SemDeDup verdict per vector.

    ``keep`` marks the survivor set; survivors within a cluster are
    pairwise below ``tau`` cosine, and every dropped vector has a kept
    cluster-mate with cosine ≥ ``tau`` (``max_sim`` records it).

    Plan shape (the 100 TB story): train on a bounded sample
    (``sample_fraction``), assign every vector in ONE Arrow map pass
    closing over the k trained centroids (zero shuffle —
    :func:`ivf._assign`), then ONE shuffle by cluster id into
    ``applyInPandas`` groups.  Vector bodies move exactly once.
    """
    import numpy as np

    model = train_centroids(
        corpus, id_col, vec_col, k=k, iters=iters, sample_fraction=sample_fraction
    )
    C = model.C
    vecs = corpus.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    assigned = _assign(vecs, model, keep_vec=True)
    id_t = vecs.schema["id"].dataType.simpleString()

    def dedup_cluster(pdf):
        import pandas as pd

        cid = int(pdf["centroid_id"].iloc[0])
        X = np.asarray(list(pdf["v"]), dtype=np.float64)
        ids = pdf["id"].to_numpy()
        norms = np.linalg.norm(X, axis=1)
        U = X / np.where(norms == 0.0, 1.0, norms)[:, None]
        d2 = ((X - C[cid][None, :]) ** 2).sum(axis=1)
        order = np.lexsort((ids, -d2))  # dist DESC, id ASC
        keep, max_sim = _greedy_semdedup(U, order, tau)
        return pd.DataFrame(
            {
                "id": ids,
                "cluster_id": np.full(len(ids), cid, dtype=np.int32),
                "keep": keep,
                "max_sim": max_sim,
            }
        )

    out = assigned.groupBy("centroid_id").applyInPandas(
        dedup_cluster,
        schema=f"id {id_t}, cluster_id int, keep boolean, max_sim double",
    )
    return out.select(
        F.col("id").alias(id_col), "cluster_id", "keep", "max_sim"
    )


# This module ships closures to Python workers; make them self-contained
# (see functions/shipping.py — no package install needed on executors).
from ..functions.shipping import ship_module_by_value as _ship

_ship(__name__)
