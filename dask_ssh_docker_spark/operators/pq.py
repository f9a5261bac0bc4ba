"""Product quantization (PQ) approximate nearest neighbor — the
memory-compression ANN path (Jégou et al., "Product Quantization for
Nearest Neighbor Search", TPAMI 2011), completing the similarity triad
next to LSH (``operators/similarity.py``) and IVF (``operators/ivf.py``).

The 100 TB story is **memory**, not scan fraction: a 64-dim float vector
(256 B) compresses to ``m`` sub-codes (8 bytes at m=8) — a 32× smaller
index that fits in RAM where the raw vectors cannot.  Scoring never
touches the original vectors: per query one small lookup table (LUT) of
query↔sub-centroid distances is built, and each corpus item's
approximate distance is ``Σ_sub LUT[sub, code_sub]`` — m array lookups.

Shapes:

- **train**: per-subspace Lloyd runs driver-side in numpy on a bounded
  deterministic sample and yields a :class:`PQModel` — the
  ``(m, n_cids, subdim)`` codebook tensor.  ``m``, ``dim`` and the
  trained width ``n_cids`` are read from that tensor, never restated by
  a caller.
- **encode**: one Arrow-batched map pass closing over the codebook
  tensor, zero shuffle; output is one code-array row per vector (the
  compressed index).
- **search (ADC)**: per-query lookup tables (|Q|·m·n_cids doubles) are
  built driver-side from the bounded query frame and broadcast as a
  local relation against the code index; the score is a map-side
  ``aggregate`` over the code array into the LUT array — zero shuffle
  until the final per-query top-k rank window.

Determinism: seeded/ordered init (first ks subvectors by id), ties in
assignment broken on centroid id, ties in top-k broken on vec_id.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.localrel import local_frame


def _sub_sq_dist(a, b):
    """Squared L2 distance of two array columns, folded in double as
    ``((0 + d₀²) + d₁²) + …`` — IVF probing and the exact re-rank."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x.cast("double") - y.cast("double")) ** 2),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


# --- chunked GEMM distance kernels (shared with operators/ivf{,pq}.py) ----
#
# ‖x−c‖² = ‖x‖² + ‖c‖² − 2·x·c: one small GEMM per chunk instead of the
# (n, k, dim) broadcast-subtract temporary.  Chunking keeps every
# temporary a few MB: the subtract form allocates an n×k×dim scratch per
# batch, which is both cache-hostile and catastrophically slow on
# mmap-threshold allocators (measured here: first-touch of an 80 MB
# numpy temp ~15 s vs 4 ms for 8 MB — 20-30× end-to-end on the encode
# pass; see BENCH_NOTES "R7 kernels").

_KERNEL_CHUNK = 2048


def _nearest_rows(x, C, chunk: int = _KERNEL_CHUNK):
    """(n,) argmin_c ‖x−c‖² per row; ties -> lowest centroid id."""
    C2 = (C * C).sum(axis=1)
    CT = np.ascontiguousarray(C.T)
    out = np.empty(len(x), dtype=np.int32)
    for i in range(0, len(x), chunk):
        xc = x[i : i + chunk]
        d2 = (xc * xc).sum(axis=1)[:, None] + C2[None, :] - 2.0 * (xc @ CT)
        out[i : i + chunk] = d2.argmin(axis=1)
    return out


def _subspace_codes(r, cents, chunk: int = _KERNEL_CHUNK):
    """(n, m) argmin codes per subspace for r: (n, m, subdim)."""
    m = cents.shape[0]
    c2 = (cents**2).sum(axis=-1)  # (m, n_cids)
    centsT = np.ascontiguousarray(cents.transpose(0, 2, 1))  # (m, subdim, n_cids)
    out = np.empty((len(r), m), dtype=np.int32)
    for i in range(0, len(r), chunk):
        rc = r[i : i + chunk]
        d = (rc * rc).sum(axis=-1)[..., None] + c2[None, :, :]
        for s in range(m):
            d[:, s, :] -= 2.0 * (rc[:, s, :] @ centsT[s])
        out[i : i + chunk] = d.argmin(axis=-1)
    return out


# --- trained state: tensors on the driver, frames only at the edges -------


def _rows_tensor(rows) -> np.ndarray:
    """Dense float64 tensor from ``(i₀, …, vector)`` rows: cell ``[i₀, …]``
    holds the vector.  The one rows→tensor path for every trained frame
    (centroids, codebooks).  Such rows come from storage, so a missing or
    repeated cell is rejected, not masked."""
    if not rows:
        raise ValueError("trained-state frame is empty")
    keys = np.asarray([r[:-1] for r in rows], dtype=np.int64)
    shape = tuple(int(v) + 1 for v in keys.max(axis=0))
    cells = np.unique(np.ravel_multi_index(tuple(keys.T), shape))
    if not len(rows) == len(cells) == np.prod(shape):
        raise ValueError(
            f"trained-state frame is not a dense {shape} grid: "
            f"{len(rows)} rows cover {len(cells)} distinct cells"
        )
    out = np.zeros(shape + (len(rows[0][-1]),))
    out[tuple(keys.T)] = np.asarray([r[-1] for r in rows], dtype=np.float64)
    return out


def _tensor_rows(t: np.ndarray) -> list[tuple]:
    """Inverse of :func:`_rows_tensor`: ``(i₀, …, vector)`` rows, C order."""
    return [(*ix, t[ix].tolist()) for ix in np.ndindex(t.shape[:-1])]


@dataclass(frozen=True, eq=False)
class PQModel:
    """Trained PQ codebooks: ``codebooks[sub, cid]`` is sub-centroid
    ``cid`` of subspace ``sub``.  Shape ``(m, n_cids, subdim)``; the
    trained width ``n_cids`` clamps below the nominal ks on a corpus
    smaller than ks and is the only valid LUT stride."""

    codebooks: np.ndarray

    @classmethod
    def from_frames(cls, codebooks: DataFrame) -> PQModel:
        """One bounded collect of a ``(sub, cid, centroid)`` frame."""
        return cls(_rows_tensor(codebooks.select("sub", "cid", "centroid").collect()))

    def frame(self, spark: SparkSession) -> DataFrame:
        """The codebooks as a ``(sub, cid, centroid)`` local relation."""
        schema = "sub int, cid int, centroid array<double>"
        return local_frame(spark, _tensor_rows(self.codebooks), schema)


def _train_sample(
    corpus: DataFrame, id_col: str, vec_col: str, sample_max: int, m: int
):
    """(n, dim) float64 training sample: the ``sample_max`` lowest-id
    vectors (one ``TakeOrdered`` job).  ``dim`` must split into m subspaces."""
    sample = corpus.select(id_col, vec_col).orderBy(id_col).limit(sample_max).collect()
    if not sample:
        raise ValueError("corpus is empty — no vectors to train on")
    x = np.asarray([r[1] for r in sample], dtype=np.float64)
    if x.shape[1] % m:
        raise ValueError(
            f"vector dim {x.shape[1]} does not split into m={m} subspaces"
        )
    return x


def train_pq_codebooks(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    ks: int = 16,
    iters: int = 3,
    sample_max: int = 100_000,
) -> PQModel:
    """m per-subspace codebooks of ks centroids each (clamped to the
    sample size when the corpus has fewer than ks vectors; an empty
    corpus raises ValueError).  Deterministic init: the first ks
    subvectors by vec_id in each subspace; assignment ties break on the
    lowest cid.

    Training runs DRIVER-SIDE in numpy on a bounded deterministic sample
    (the ``sample_max`` lowest-id vectors).  That is the standard PQ
    posture at scale (faiss trains codebooks on a 10⁵-10⁶ sample
    regardless of corpus size — k-means quality saturates long before
    that): the ``m·ks`` centroids are KBs of state, so distributing
    Lloyd buys nothing; ENCODING — the part that does scale with the
    corpus — stays a distributed DataFrame pass (``pq_encode``)."""
    x = _train_sample(corpus, id_col, vec_col, sample_max, m)
    return PQModel(_kmeans_subspaces(x, m, ks, iters))


def _kmeans_subspaces(x, m: int, ks: int, iters: int) -> np.ndarray:
    """(m, min(ks, n), dim/m) codebook tensor: driver-side per-subspace
    Lloyd over a bounded (n, dim) sample — shared by raw-vector PQ
    (above) and residual IVF-PQ (operators/ivfpq.py).  Deterministic:
    init = first ks subvectors in sample order, assignment ties -> lowest
    cid, empty clusters keep their centroid.  ks clamps to the sample
    size (fewer distinct centroids cannot exist anyway), so every
    (sub, cid) cell is trained."""
    subdim = x.shape[1] // m
    ks = min(ks, len(x))
    out = np.empty((m, ks, subdim))
    for sub in range(m):
        s = x[:, sub * subdim : (sub + 1) * subdim]
        cents = s[:ks].copy()
        for _ in range(iters):
            # chunked-GEMM squared distances; argmin ties -> lowest cid
            assign = _nearest_rows(s, cents)
            for cid in range(ks):
                members = s[assign == cid]
                if len(members):
                    cents[cid] = members.mean(axis=0)
        out[sub] = cents
    return out


def pq_encode(
    corpus: DataFrame,
    model: PQModel,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, codes: array<int>[m]) — the compressed index: nearest
    sub-centroid id per subspace; assignment ties break on the lowest cid
    (numpy argmin picks the first minimum).

    ONE Arrow-batched map pass, ZERO shuffle: the codebook tensor closes
    over the encode function, so each batch scores all subspaces with
    vectorized BLAS-shaped ops."""
    cents = model.codebooks
    m, _, subdim = cents.shape
    id_type = corpus.schema[id_col].dataType.simpleString()

    def enc(batches):
        import pandas as pd

        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            x = np.asarray(list(pdf[vec_col]), dtype=np.float64).reshape(
                n, m, subdim
            )
            codes = _subspace_codes(x, cents)
            yield pd.DataFrame({id_col: pdf[id_col], "codes": list(codes)})

    return corpus.select(id_col, vec_col).mapInPandas(
        enc, schema=f"{id_col} {id_type}, codes array<int>"
    )


def _pq_luts(q, codebooks) -> np.ndarray:
    """(n, m, n_cids) ADC lookup tables for query subvectors q: (n, m,
    subdim).  Each cell is the left fold ``((0 + d₀²) + d₁²) + …`` —
    the order :func:`_sub_sq_dist` folds in — so LUT doubles do not
    depend on how the table is vectorized."""
    acc = np.zeros((len(q),) + codebooks.shape[:2])
    for j in range(codebooks.shape[2]):
        d = q[:, :, None, j] - codebooks[None, :, :, j]
        acc = acc + d * d
    return acc


def _adc_dist(m: int, n_cids: int):
    """ADC distance ``Σ_sub lut[sub·n_cids + codes[sub]]`` as a map-side
    fold over the ``codes`` and ``lut`` array columns."""
    return F.aggregate(
        F.zip_with(
            F.sequence(F.lit(0), F.lit(m - 1)),
            F.col("codes"),
            lambda s, c: F.col("lut")[s * n_cids + c],
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _exact_rerank(
    shortlist: DataFrame,
    corpus: DataFrame,
    q_rows: list,
    q_schema,
    k: int,
    query_id: str,
    query_vec: str,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """(query_id, id_col, dist, rank) — exact L2 top-k over an ADC
    ``(query_id, cand_id)`` shortlist, shared by PQ and IVF-PQ.  The
    shortlist must carry a ``limit(|Q|·k·expand)``: a no-op on its rows
    that lets the planner prove the broadcast bounded without a
    materializing job.  The collected query rows broadcast as a job-free
    local relation (same schema, same float values)."""
    cand = corpus.join(
        F.broadcast(shortlist), corpus[id_col] == shortlist["cand_id"]
    ).select(query_id, "cand_id", F.col(vec_col).alias("cand_vec"))
    q_side = local_frame(corpus.sparkSession, q_rows, q_schema)
    exact = cand.join(F.broadcast(q_side), query_id).withColumn(
        "dist", _sub_sq_dist("cand_vec", query_vec)
    )
    w = Window.partitionBy(query_id).orderBy("dist", "cand_id")
    return (
        exact.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, F.col("cand_id").alias(id_col), "dist", "rank")
    )


def _pq_adc(queries, index, model: PQModel, k, query_id, query_vec):
    """(ADC top-k frame, collected query rows, their schema): one
    bounded collect of the query frame feeds both the driver-side LUTs
    and, in :func:`pq_topk_rerank`, the exact re-rank."""
    m, n_cids, subdim = model.codebooks.shape
    q_sel = queries.select(query_id, query_vec)
    q_rows = q_sel.collect()
    q = np.asarray([r[1] for r in q_rows], dtype=np.float64)
    luts = _pq_luts(q.reshape(len(q_rows), m, subdim), model.codebooks)
    luts = luts.reshape(len(q_rows), m * n_cids).tolist()
    lut_frame = local_frame(
        queries.sparkSession,
        [(r[0], lut) for r, lut in zip(q_rows, luts)],
        f"{query_id} {q_sel.schema[query_id].dataType.simpleString()}, "
        "lut array<double>",
    )
    scored = index.crossJoin(F.broadcast(lut_frame)).withColumn(
        "approx_dist", _adc_dist(m, n_cids)
    )
    w = Window.partitionBy(query_id).orderBy("approx_dist", "vec_id")
    adc = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, "vec_id", "approx_dist", "rank")
    )
    return adc, q_rows, q_sel.schema


def pq_topk(
    queries: DataFrame,
    index: DataFrame,
    model: PQModel,
    k: int = 10,
    query_id: str = "query_id",
    query_vec: str = "query_vec",
) -> DataFrame:
    """(query_id, vec_id, approx_dist, rank) — asymmetric-distance (ADC)
    top-k: LUT per query (|Q|·m·n_cids doubles, a broadcast local
    relation), score = map-side fold of the code array into the
    flattened LUT array; the only shuffle is the final per-query rank
    window."""
    return _pq_adc(queries, index, model, k, query_id, query_vec)[0]


def pq_topk_rerank(
    queries: DataFrame,
    index: DataFrame,
    model: PQModel,
    corpus: DataFrame,
    k: int = 10,
    expand: int = 5,
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, vec_id, dist, rank) — the production PQ shape: ADC
    shortlist of ``k·expand`` candidates from the compressed index, then
    EXACT re-rank of only those candidates against their raw vectors.

    At 100 TB the raw vectors never fully scan: the ADC pass touches only
    the code index (32× smaller), and the re-rank fetches ``|Q|·k·expand``
    vectors by id (broadcast semi-join).  Measured on the 64-dim testdata:
    shortlist recall@10-in-50 ≈ 0.85 vs exact L2 (pinned in
    tests/test_pq.py)."""
    adc, q_rows, q_schema = _pq_adc(
        queries, index, model, k * expand, query_id, query_vec
    )
    shortlist = adc.select(query_id, F.col("vec_id").alias("cand_id")).limit(
        len(q_rows) * k * expand
    )
    return _exact_rerank(
        shortlist, corpus, q_rows, q_schema, k, query_id, query_vec, id_col, vec_col
    )


# This module ships closures to Python workers; make them self-contained
# (see functions/shipping.py — no package install needed on executors).
from ..functions.shipping import ship_module_by_value as _ship

_ship(__name__)
