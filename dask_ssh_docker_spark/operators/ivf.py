"""IVF (inverted-file) approximate nearest-neighbor index
(SURVEY.md §2.H similarity-search scale path, alongside the LSH variant).

Classic IVF-Flat, DataFrame-first and fully deterministic:

1. **train**: k coarse centroids by Lloyd iterations — each iteration is
   one Arrow map pass that assigns vectors and emits per-partition
   (count, sum) partials, reduced on the driver; no shuffle.  Seeded
   deterministic init (first k vectors by id).
2. **index**: every vector assigned to its nearest centroid —
   (centroid_id, vec_id, embedding) — in production this is written
   partitioned by ``centroid_id`` so a probe reads only its partitions.
3. **search**: score query→centroids (broadcast), keep ``nprobe`` nearest
   lists, exact-rank only vectors in those lists.  Scan fraction ≈
   nprobe/k of the corpus vs 1.0 for brute force.

Trained state is an :class:`IVFModel` holding the ``(k, dim)`` centroid
matrix on the driver; assignment closes over it in Arrow map passes and
search broadcasts it as a local relation.  Candidate scoring is JVM
higher-order functions (no Python in the scoring path).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.localrel import local_frame
from .pq import _nearest_rows, _rows_tensor, _sub_sq_dist, _tensor_rows
from .similarity import _cosine_topk


@dataclass(frozen=True, eq=False)
class IVFModel:
    """Trained coarse quantizer: ``C[centroid_id]`` is one centroid,
    shape ``(k, dim)``."""

    C: np.ndarray

    @classmethod
    def from_frames(cls, centroids: DataFrame) -> IVFModel:
        """One bounded collect of a ``(centroid_id, centroid)`` frame."""
        return cls(_rows_tensor(centroids.select("centroid_id", "centroid").collect()))

    def frame(self, spark: SparkSession) -> DataFrame:
        """The centroids as a ``(centroid_id, centroid)`` local relation."""
        return local_frame(
            spark, _tensor_rows(self.C), "centroid_id int, centroid array<double>"
        )


def train_centroids(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 16,
    iters: int = 3,
    sample_fraction: float | None = None,
    seed: int = 20260813,
    init_centroids=None,
) -> IVFModel:
    """k coarse centroids by Lloyd's with deterministic init (first k
    vectors by id).

    ``sample_fraction``: train on a seeded Bernoulli sample of the corpus
    instead of every row — the 100 TB path (SCALE.md): k-means quality
    depends on the *distribution*, not the row count, so a modest sample
    trains centroids as well as the full corpus while each Lloyd
    iteration scans only the sample.  The sample grows with the corpus at
    a fixed fraction — choose ``fraction ≈ target_rows / corpus_rows``
    for a size-targeted training frame.  Indexing/search still cover the
    FULL corpus; only training reads the sample.

    Reproducibility note: ``sample(seed=)`` derives per-partition streams,
    so the selected rows are stable only for a fixed partition layout —
    re-training after a re-partitioned re-read may select a different
    (equally valid) sample.  Centroids are deterministic given the same
    input layout, not across layouts.

    ``init_centroids``: the first-k-by-id init vectors, pre-collected by a
    caller that already holds them (train_ivfpq's ordered PQ training
    sample is a superset of this exact set) — skips the init's global
    top-k corpus pass; values must equal what the collect below would
    return, so the trained centroids are bit-identical either way (pinned
    in tests/test_ivfpq.py)."""
    if sample_fraction is not None:
        if not (0.0 < sample_fraction <= 1.0):
            raise ValueError("sample_fraction must be in (0, 1]")
        corpus = corpus.sample(fraction=sample_fraction, seed=seed)
        if corpus.limit(k).count() < k:
            raise ValueError(
                f"seeded sample has fewer than k={k} rows; raise "
                "sample_fraction (or train on the full corpus)"
            )
    if init_centroids is not None:
        C = np.asarray(init_centroids, dtype=np.float64)[:k]
    else:
        init = (
            corpus.orderBy(id_col)
            .limit(k)
            .select(
                F.transform(vec_col, lambda x: x.cast("double")).alias("centroid"),
            )
            .collect()
        )
        C = np.asarray([r["centroid"] for r in init], dtype=np.float64)
    vecs = corpus.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v")
    ).persist()
    try:
        for _ in range(iters):
            # ONE Arrow job per Lloyd iteration: each partition assigns its
            # vectors to the closed-over centroid matrix (chunked-GEMM,
            # pq._nearest_rows) and emits k partial (count, sum-vector)
            # rows — corpus vectors never explode into (row × dim) tuples
            # and never shuffle; only partitions×k partials come back.
            # The driver reduces the partials in sorted order, so repeat
            # runs on the same layout sum identical multisets identically
            # (the run-to-run determinism the sample-training test pins).
            rows = _partial_sums(vecs, C).collect()
            counts = np.zeros(len(C))
            sums = np.zeros_like(C)
            for r in sorted(rows, key=lambda r: (r["cid"], r["n"], r["s"])):
                counts[r["cid"]] += r["n"]
                sums[r["cid"]] += np.asarray(r["s"])
            # A centroid whose cluster went empty keeps its previous
            # position instead of silently shrinking k (which would break
            # the nprobe/k scan-fraction contract downstream).
            nonempty = counts > 0
            C = np.where(nonempty[:, None], sums / np.where(nonempty, counts, 1.0)[:, None], C)
    finally:
        vecs.unpersist()
    return IVFModel(C)


def _partial_sums(vecs: DataFrame, C) -> DataFrame:
    """(cid, n, s): per-partition per-centroid count and sum-vector
    partials for one Lloyd update — ≤ partitions×k rows total.  At 100 TB
    train on ``sample_fraction`` (bounded partitions) so the driver-side
    reduce stays small; the partials themselves are the map-side-combine
    this update needs, computed in the SAME pass as the assignment."""

    def go(batches):
        import pandas as pd

        counts = np.zeros(len(C))
        sums = np.zeros_like(C)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.asarray(list(pdf["v"]), dtype=np.float64)
            cid = _nearest_rows(x, C)
            for c in np.unique(cid):
                m = cid == c
                counts[c] += int(m.sum())
                sums[c] += x[m].sum(axis=0)
        hit = np.nonzero(counts)[0]
        if len(hit):
            yield pd.DataFrame(
                {
                    "cid": hit.astype("int32"),
                    "n": counts[hit],
                    "s": [list(sums[c]) for c in hit],
                }
            )

    return vecs.mapInPandas(go, schema="cid int, n double, s array<double>")


def _assign(vecs: DataFrame, model: IVFModel, keep_vec: bool = False) -> DataFrame:
    """(id, centroid_id[, v]): nearest centroid per vector — ONE Arrow
    map pass closing over the model's centroid matrix: zero shuffle,
    chunked-GEMM math (``pq._nearest_rows``) — the same interpreted-HOF
    →Arrow rewrite as the LSH bucket pass (PLANS.md), measured ~10× on
    the sf1 Lloyd loop.  ``keep_vec`` passes the vector through so the
    caller needs no join back."""
    C = model.C
    id_t = vecs.schema["id"].dataType.simpleString()
    v_t = vecs.schema["v"].dataType.simpleString()

    def go(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.asarray(list(pdf["v"]), dtype=np.float64)
            out = {"id": pdf["id"], "centroid_id": _nearest_rows(x, C)}
            if keep_vec:
                out["v"] = pdf["v"]
            yield pd.DataFrame(out)

    schema = f"id {id_t}, centroid_id int" + (f", v {v_t}" if keep_vec else "")
    return vecs.mapInPandas(go, schema=schema)


def build_index(
    corpus: DataFrame,
    model: IVFModel,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(centroid_id, vec_id, embedding) inverted lists.  At scale: write
    partitioned by centroid_id so probes scan only their lists."""
    vecs = corpus.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    return (
        _assign(vecs, model)
        .join(vecs, "id")
        .select("centroid_id", F.col("id").alias(id_col), F.col("v").alias(vec_col))
    )


def ivf_topk(
    queries: DataFrame,
    index: DataFrame,
    model: IVFModel,
    k: int = 10,
    nprobe: int = 4,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k cosine neighbors probing only the ``nprobe`` nearest inverted
    lists per query."""
    q = queries.select(F.col(query_id), F.col(vec_col).alias("__qvec"))
    centroids = model.frame(queries.sparkSession)
    qc = q.crossJoin(F.broadcast(centroids)).select(
        query_id,
        "__qvec",
        "centroid_id",
        _sub_sq_dist(
            F.transform("__qvec", lambda x: x.cast("double")), F.col("centroid")
        ).alias("d"),
    )
    w = Window.partitionBy(query_id).orderBy(F.asc("d"), F.asc("centroid_id"))
    probes = (
        qc.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= nprobe)
        .select(query_id, "__qvec", "centroid_id")
    )
    cands = probes.join(index, "centroid_id").select(
        query_id, "__qvec", F.col(corpus_id), F.col(vec_col).alias("__cvec")
    )
    return _cosine_topk(cands, query_id, corpus_id, k)


# This module ships closures to Python workers; make them self-contained
# (see functions/shipping.py — no package install needed on executors).
from ..functions.shipping import ship_module_by_value as _ship

_ship(__name__)
