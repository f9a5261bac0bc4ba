"""IVF-PQ (IVFADC) approximate nearest neighbor — the composed scale
path: IVF coarse routing × PQ residual compression (Jégou et al.,
"Product Quantization for Nearest Neighbor Search", TPAMI 2011 §IV;
the default billion-scale index family in public faiss).

Why the composition matters at 100 TB: IVF alone bounds the SCAN
FRACTION (nprobe/k_coarse of the corpus per query) but stores raw
vectors; PQ alone bounds MEMORY (m-byte codes, 16-32× smaller) but ADC
still scans every code.  IVF-PQ multiplies the two — each query scans
``nprobe/k_coarse`` of an already-compressed code index, and raw vectors
are touched only for the final ``k·expand`` re-rank candidates.

Residual encoding: codes quantize ``vec − coarse_centroid(vec)``, not
the raw vector — residual energy is far smaller than vector energy, so
the same ks sub-centroids quantize much more finely (the classic IVFADC
accuracy win over raw-vector PQ at equal bytes).

Shapes:

- **train**: coarse centroids via the distributed Lloyd
  (``ivf.train_centroids``); residual codebooks driver-side on a bounded
  deterministic sample (same faiss-standard posture, rationale and
  helper as ``pq.train_pq_codebooks``).  The result is one
  :class:`IVFPQModel`: both tensors, held on the driver.
- **encode**: ONE Arrow-batched ``mapInPandas`` pass — per batch numpy
  computes coarse assignment, residual, and all m sub-codes; zero
  shuffle; emits ``(centroid_id, vec_id, codes)``.  In production this
  frame is written partitioned by ``centroid_id`` so probes read only
  their inverted lists.
- **search**: probe selection + per-(query, probe) residual LUTs run
  driver-side over the bounded query frame; the LUT frame is a local
  relation broadcast-joined to the code index on ``centroid_id`` after
  an ``isin`` filter to the probed lists (a pruned scan on a
  centroid-partitioned index); ADC score is a map-side fold of each
  code array into its LUT; one final per-query rank window; optional
  exact re-rank of the ``k·expand`` shortlist against raw vectors
  fetched by id.

Determinism: seeded coarse training, sample-order codebook init, all
argmin/rank ties broken on lowest cid / vec_id.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.localrel import local_frame
from .ivf import IVFModel, train_centroids
from .pq import (
    PQModel,
    _adc_dist,
    _exact_rerank,
    _kmeans_subspaces,
    _nearest_rows,
    _pq_luts,
    _subspace_codes,
    _train_sample,
)


@dataclass(frozen=True, eq=False)
class IVFPQModel:
    """Trained IVF-PQ state: the coarse quantizer and the residual
    codebooks."""

    ivf: IVFModel
    pq: PQModel

    @classmethod
    def from_frames(cls, centroids: DataFrame, codebooks: DataFrame) -> IVFPQModel:
        """Two bounded collects: ``(centroid_id, centroid)`` and
        ``(sub, cid, centroid)``."""
        return cls(IVFModel.from_frames(centroids), PQModel.from_frames(codebooks))


def coarse_k_for(n_rows: int, floor_rows: int = 16_384, floor_k: int = 16) -> int:
    """Corpus-scaled coarse-list count: ``k = ⌈√n⌉`` above the validation
    floor — the scaling law that makes probe cost SUB-linear in the
    corpus at fixed nprobe.

    With k lists and balanced occupancy, each query's ADC pass scans
    ``nprobe · n/k`` codes.  At FIXED k the scan is linear in n — IVF
    degenerates to PQ's full scan asymptotically; at ``k = √n`` (the
    public-faiss sizing band, √n…16√n) it is ``nprobe · √n`` — the probe
    side's analog of PQ's corpus-scaled shortlist and LSH's
    corpus-scaled bits.  The fit side pays ``O(n·k·iters)`` ONCE per
    corpus (distributed Lloyd) and is amortized across every query
    batch — the fit-once/probe-many contract measured in BENCH_NOTES
    (fit 15.9 s vs 1.37 s warm probe at 200k vectors).  The
    ≤ ``floor_rows`` floor keeps every validation corpus on k=16
    (recall pins at sf0.1 use nprobe=12/16 —
    a deliberate 75% scan of isotropic noise, the adversarial corpus);
    recall at fixed nprobe on REAL clustered embeddings is the quantity
    production tunes nprobe against — this helper bounds COST, the
    nprobe knob buys recall (scan fraction nprobe/√n shrinks with n, so
    nprobe headroom GROWS with the corpus at equal cost).

    Scan-volume law pinned by tests/test_ivfpq.py::
    test_probe_scan_sublinear_in_corpus (measured scanned-row counts at
    20k vs 80k, ratio ≈ 2 = √4, not 4)."""
    import math

    if n_rows <= floor_rows:
        return floor_k
    return math.ceil(math.sqrt(n_rows))


def probe_scan_rows(
    queries: DataFrame,
    index: DataFrame,
    model: IVFModel,
    nprobe: int,
    query_id: str = "query_id",
    query_vec: str = "query_vec",
) -> int:
    """Total code rows the ADC pass scans for this query frame — the
    deterministic cost metric behind the ``coarse_k_for`` law (sum over
    queries of the probed lists' occupancies).  Driver-side probe
    selection is ``ivfpq_topk``'s own (``_probes``)."""
    C = model.C
    occupancy = {
        r["centroid_id"]: r["cnt"]
        for r in index.groupBy("centroid_id").agg(F.count("*").alias("cnt")).collect()
    }
    q = np.asarray(
        [r[0] for r in queries.select(query_vec).collect()], dtype=np.float64
    ).reshape(-1, C.shape[1])
    return sum(occupancy.get(int(cid), 0) for cid in _probes(q, C, nprobe).ravel())


def _probes(q: np.ndarray, C: np.ndarray, nprobe: int) -> np.ndarray:
    """(|Q|, ≤nprobe) ids of the coarse lists each query row of ``q``
    probes: nearest centroids by squared L2, one (|Q|, k, dim) broadcast
    (the query frame is bounded), stable argsort so ties go to the
    lowest cid."""
    d2 = ((q[:, None] - C[None]) ** 2).sum(-1)
    return np.argsort(d2, axis=1, kind="stable")[:, :nprobe]


def train_ivfpq(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k_coarse: int = 16,
    coarse_iters: int = 2,
    m: int = 8,
    ks: int = 16,
    pq_iters: int = 3,
    sample_max: int = 100_000,
    coarse_sample_fraction: float | None = None,
) -> IVFPQModel:
    """Coarse centroids + per-subspace residual codebooks.

    The ordered PQ training sample is collected first; when the coarse
    trainer sees the same corpus (no ``coarse_sample_fraction``) its head
    is exactly the first-k_coarse-by-id init set, so it seeds
    ``train_centroids`` and saves that pass's own top-k corpus job.  The
    centroids are bit-identical either way (pinned in
    tests/test_ivfpq.py)."""
    x = _train_sample(corpus, id_col, vec_col, sample_max, m)
    fuse_init = coarse_sample_fraction is None and sample_max >= k_coarse
    ivf = train_centroids(
        corpus,
        id_col,
        vec_col,
        k=k_coarse,
        iters=coarse_iters,
        sample_fraction=coarse_sample_fraction,
        init_centroids=x if fuse_init else None,
    )
    resid = x - ivf.C[_nearest_rows(x, ivf.C)]  # ties -> lowest cid (argmin contract)
    return IVFPQModel(ivf, PQModel(_kmeans_subspaces(resid, m, ks, pq_iters)))


def encode_ivfpq(
    corpus: DataFrame,
    model: IVFPQModel,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(centroid_id, vec_id, codes) — the compressed inverted lists, one
    Arrow pass, zero shuffle."""
    C, cents = model.ivf.C, model.pq.codebooks
    m, _, subdim = cents.shape
    id_type = corpus.schema[id_col].dataType.simpleString()

    def enc(batches):
        import pandas as pd

        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            x = np.asarray(list(pdf[vec_col]), dtype=np.float64)
            cid = _nearest_rows(x, C)
            r = (x - C[cid]).reshape(n, m, subdim)
            codes = _subspace_codes(r, cents)
            yield pd.DataFrame(
                {
                    "centroid_id": cid,
                    id_col: pdf[id_col],
                    "codes": list(codes),
                }
            )

    return corpus.select(id_col, vec_col).mapInPandas(
        enc, schema=f"centroid_id int, {id_col} {id_type}, codes array<int>"
    )


def ivfpq_topk(
    queries: DataFrame,
    index: DataFrame,
    model: IVFPQModel,
    corpus: DataFrame | None = None,
    k: int = 10,
    nprobe: int = 4,
    expand: int = 20,
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, vec_id, dist|approx_dist, rank) — ADC top-k over the
    ``nprobe`` probed lists; with ``corpus`` given, exact re-rank of the
    ``k·expand`` ADC shortlist (the production shape).

    Residual LUTs come from ``pq._pq_luts``, the one LUT builder: each
    cell is the left fold ``_sub_sq_dist`` uses.  Below 8 dims per
    subspace that is bit-equal to numpy's ``((r − c)**2).sum(-1)``; at
    8 or more numpy sums pairwise, so there the left fold may differ
    from it in the last ulp (pinned in tests/test_ivfpq.py)."""
    C, cents = model.ivf.C, model.pq.codebooks
    m, n_cids, subdim = cents.shape
    qid_type = queries.schema[query_id].dataType.simpleString()

    # Probe selection and per-(query, probe) LUTs run driver-side: the
    # query frame is bounded by contract, so one collect feeds the LUTs
    # and, with ``corpus``, the exact re-rank's query side.
    q_sel = queries.select(query_id, query_vec)
    q_rows = q_sel.collect()
    q = np.asarray([r[1] for r in q_rows], dtype=np.float64).reshape(-1, C.shape[1])
    probes = _probes(q, C, nprobe)  # (|Q|, nprobe)
    resid = (q[:, None, :] - C[probes]).reshape(probes.size, m, subdim)
    lut_rows = _pq_luts(resid, cents).reshape(probes.size, m * n_cids).tolist()
    qidx = np.repeat(np.arange(len(q_rows)), probes.shape[1])
    luts = local_frame(
        queries.sparkSession,
        [
            (q_rows[i][0], int(c), lut)
            for i, c, lut in zip(qidx, probes.ravel(), lut_rows)
        ],
        f"{query_id} {qid_type}, centroid_id int, lut array<double>",
    )
    # Restrict the code index to the ≤|Q|·nprobe probed lists before the
    # join: a no-op on the result (the LUT join drops unprobed lists) that
    # makes a centroid_id-partitioned index (operators/ann_index.py) read
    # only nprobe/k_coarse of its parquet partitions.
    index = index.filter(F.col("centroid_id").isin(np.unique(probes).tolist()))
    scored = index.join(F.broadcast(luts), "centroid_id").withColumn(
        "approx_dist", _adc_dist(m, n_cids)
    )
    w = Window.partitionBy(query_id).orderBy("approx_dist", id_col)
    shortlist_k = k * expand if corpus is not None else k
    adc = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= shortlist_k)
        .select(query_id, id_col, "approx_dist", "rank")
    )
    if corpus is None:
        return adc
    shortlist = adc.select(query_id, F.col(id_col).alias("cand_id")).limit(
        len(q_rows) * shortlist_k
    )
    return _exact_rerank(
        shortlist, corpus, q_rows, q_sel.schema, k, query_id, query_vec, id_col, vec_col
    )


# This module ships closures to Python workers; make them self-contained
# (see functions/shipping.py — no package install needed on executors).
from ..functions.shipping import ship_module_by_value as _ship

_ship(__name__)
