"""IVF-PQ (IVFADC): index shape, self-retrieval, residual-vs-raw
quantization error, and shortlist recall vs exact L2."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from dask_ssh_docker_spark.operators.ivfpq import (
    encode_ivfpq,
    ivfpq_topk,
    train_ivfpq,
)
from dask_ssh_docker_spark.operators.pq import _sub_sq_dist
from dask_ssh_docker_spark.sources import load_table

SF01 = "/root/testdata/sf0.01"
M, KS, DIM, KC = 16, 16, 64, 16


def _setup(spark):
    emb = load_table(spark, SF01, "embeddings")
    model = train_ivfpq(emb, k_coarse=KC, coarse_iters=2, m=M, ks=KS)
    idx = encode_ivfpq(emb, model).localCheckpoint(eager=False)
    queries = emb.filter("vec_id < 5").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return emb, model, idx, queries


def test_index_shape(spark):
    emb, model, idx, _ = _setup(spark)
    assert model.ivf.frame(spark).count() == KC
    assert model.pq.frame(spark).count() == M * KS
    assert idx.count() == emb.count()
    row = idx.first()
    assert 0 <= row.centroid_id < KC
    assert len(row.codes) == M and all(0 <= c < KS for c in row.codes)
    # every vector lands in exactly one list; lists partition the corpus
    assert idx.select("vec_id").distinct().count() == emb.count()


def test_adc_self_retrieval_rank1(spark):
    """A query identical to an indexed vector must ADC-retrieve itself
    first: its residual is quantized by the very codes being scored."""
    emb, model, idx, queries = _setup(spark)
    got = ivfpq_topk(
        queries, idx, model, corpus=None, k=1, nprobe=KC,  # all lists: pure ADC
    )
    top1 = {r.query_id: r.vec_id for r in got.collect()}
    assert top1 == {q: q for q in range(5)}


def test_rerank_recall_vs_exact(spark):
    emb, model, idx, queries = _setup(spark)
    got = ivfpq_topk(queries, idx, model, emb, k=10, nprobe=12, expand=20)
    ivfpq_sets: dict = {}
    for r in got.collect():
        ivfpq_sets.setdefault(r.query_id, set()).add(r.vec_id)
    exact = (
        queries.crossJoin(emb)
        .withColumn("d", _sub_sq_dist("query_vec", "embedding"))
        .withColumn(
            "rank",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy("d", "vec_id")
            ),
        )
        .filter("rank <= 10")
    )
    exact_sets: dict = {}
    for r in exact.collect():
        exact_sets.setdefault(r.query_id, set()).add(r.vec_id)
    recalls = [
        len(ivfpq_sets[q] & exact_sets[q]) / 10 for q in exact_sets
    ]
    assert sum(recalls) / len(recalls) >= 0.8, recalls


def test_residual_beats_raw_quantization(spark):
    """The reason IVFADC quantizes residuals: reconstruction error of
    coarse+residual codes must beat raw-vector PQ at equal bytes."""
    import numpy as np

    from dask_ssh_docker_spark.operators.pq import (
        pq_encode,
        train_pq_codebooks,
    )

    emb = load_table(spark, SF01, "embeddings")
    rows = emb.orderBy("vec_id").limit(200).collect()
    x = np.asarray([r.embedding for r in rows], dtype=np.float64)

    model = train_ivfpq(emb, k_coarse=KC, coarse_iters=2, m=M, ks=KS)
    idx = {
        r.vec_id: (r.centroid_id, r.codes)
        for r in encode_ivfpq(emb, model)
        .filter(F.col("vec_id") < 200).collect()
    }
    C = {
        r.centroid_id: np.asarray(r.centroid)
        for r in model.ivf.frame(spark).collect()
    }
    B = {
        (r.sub, r.cid): np.asarray(r.centroid)
        for r in model.pq.frame(spark).collect()
    }

    cb_raw = train_pq_codebooks(emb, m=M, ks=KS, iters=3)
    raw_idx = {
        r.vec_id: r.codes
        for r in pq_encode(emb, cb_raw)
        .filter(F.col("vec_id") < 200).collect()
    }
    B_raw = {
        (r.sub, r.cid): np.asarray(r.centroid)
        for r in cb_raw.frame(spark).collect()
    }

    sub = DIM // M

    def recon(codes, B, base=None):
        v = np.concatenate([B[(s, codes[s])] for s in range(M)])
        return v if base is None else base + v

    err_ivfpq = err_raw = 0.0
    for i, r in enumerate(rows):
        cid, codes = idx[r.vec_id]
        err_ivfpq += float(((x[i] - recon(codes, B, C[cid])) ** 2).sum())
        err_raw += float(((x[i] - recon(raw_idx[r.vec_id], B_raw)) ** 2).sum())
    assert err_ivfpq < err_raw, (err_ivfpq, err_raw)


@pytest.mark.skipif(
    not os.path.isdir("/root/testdata/sf0.1"), reason="sf0.1 testdata absent"
)
def test_registered_query_recall_sf01(spark):
    """The registered sim_topk_ivfpq recall floor at sf0.1 (the driver's
    bench scale) vs brute force."""
    from dask_ssh_docker_spark.queries.registry import REGISTRY

    sf = "/root/testdata/sf0.1"
    got = REGISTRY["sim_topk_ivfpq"].fn(spark, sf)
    ivfpq_sets: dict = {}
    for r in got.collect():
        ivfpq_sets.setdefault(r.query_id, set()).add(r.vec_id)
    emb = load_table(spark, sf, "embeddings")
    queries = emb.filter("vec_id < 5").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    corpus = emb.filter("vec_id >= 5")
    exact = (
        queries.crossJoin(corpus)
        .withColumn("d", _sub_sq_dist("query_vec", "embedding"))
        .withColumn(
            "rank",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy("d", "vec_id")
            ),
        )
        .filter("rank <= 10")
    )
    exact_sets: dict = {}
    for r in exact.collect():
        exact_sets.setdefault(r.query_id, set()).add(r.vec_id)
    recalls = [len(ivfpq_sets[q] & exact_sets[q]) / 10 for q in exact_sets]
    assert sum(recalls) / len(recalls) >= 0.8, recalls


def test_adc_stride_on_clamped_codebook(spark):
    # ADVICE r7 (mirror of the PQ pin): residual codebooks clamp to the
    # training sample; the LUT stride must be the TRAINED width n_cids,
    # not the nominal ks, or ADC reads wrong cells.  5-vector corpus,
    # nominal ks=16 -> trained width 5; self-retrieval must stay exact.
    emb = load_table(spark, SF01, "embeddings").filter("vec_id < 5")
    model = train_ivfpq(emb, k_coarse=2, coarse_iters=1, m=M, ks=KS)
    assert model.pq.frame(spark).count() == M * 5  # clamped
    idx = encode_ivfpq(emb, model)
    queries = emb.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    got = ivfpq_topk(queries, idx, model, corpus=None, k=1, nprobe=2).collect()
    assert {r.query_id: r.vec_id for r in got} == {q: q for q in range(5)}
    assert all(r.approx_dist is not None for r in got)


def test_coarse_k_for_law():
    """VERDICT r10 item 6: k_coarse must scale as sqrt(n) above the
    validation floor -- at fixed k the ADC scan is linear in the corpus
    (IVF degenerates to a full PQ scan); at k=sqrt(n) it is
    nprobe*sqrt(n).  Floor keeps every validation corpus (<=16k) on the
    historical k=16 so the sf0.1 recall pins are untouched."""
    import math

    from dask_ssh_docker_spark.operators.ivfpq import coarse_k_for

    for n in (0, 100, 2_000, 16_384):
        assert coarse_k_for(n) == 16, n
    assert coarse_k_for(20_000) == math.ceil(math.sqrt(20_000))  # 142
    assert coarse_k_for(200_000) == math.ceil(math.sqrt(200_000))  # 448
    # expected per-query scan volume nprobe*n/k grows ~sqrt(n), never n
    for n in (10**5, 10**6, 10**8):
        k = coarse_k_for(n)
        assert n / k <= math.sqrt(n) + 1, (n, k)


def test_probe_and_lut_broadcasts_match_per_query_loops():
    """Probe selection (``_probes``) and the residual LUTs
    (``pq._pq_luts``) are one broadcast each, not a per-(query, probe)
    loop.  Over 300 seeded draws: the probe distances equal the per-query
    row sums bit for bit; the LUTs equal the per-(query, probe) numpy
    ``.sum(-1)`` bit for bit below 8 dims per subspace (every registered
    config: dim 64, m 16 → 4); from 8 dims up numpy sums pairwise, and
    the LUTs are the left fold ``_sub_sq_dist`` uses instead."""
    import numpy as np

    from dask_ssh_docker_spark.operators.ivfpq import _probes
    from dask_ssh_docker_spark.operators.pq import _pq_luts

    rng = np.random.default_rng(20261019)
    wide_draws = wide_differs = 0
    for _ in range(300):
        subdim, m = int(rng.integers(1, 17)), int(rng.integers(1, 9))
        k, nq, n_cids = (int(v) for v in rng.integers(1, [40, 6, 20]))
        q = rng.standard_normal((nq, m * subdim))
        C = rng.standard_normal((k, m * subdim))
        cents = rng.standard_normal((m, n_cids, subdim))

        loop_d2 = np.stack([((row[None, :] - C) ** 2).sum(axis=1) for row in q])
        assert np.array_equal(((q[:, None] - C[None]) ** 2).sum(-1), loop_d2)
        probes = _probes(q, C, 3)
        assert np.array_equal(
            probes, np.argsort(loop_d2, axis=1, kind="stable")[:, :3]
        )

        resid = (q[:, None, :] - C[probes]).reshape(-1, m, subdim)
        luts = _pq_luts(resid, cents)
        loop = np.stack([((r[:, None, :] - cents) ** 2).sum(-1) for r in resid])
        fold = np.zeros_like(luts)
        for j in range(subdim):
            fold = fold + (resid[:, :, None, j] - cents[None, :, :, j]) ** 2
        assert np.array_equal(luts, fold)
        if subdim < 8:
            assert np.array_equal(luts, loop)
        else:
            wide_draws += 1
            wide_differs += not np.array_equal(luts, loop)
    # the pairwise/left-fold split is real, not a vacuous branch
    assert wide_draws and wide_differs


def test_probe_scan_sublinear_in_corpus(spark):
    """Measured scan-volume pin for the coarse_k_for law: quadrupling the
    corpus (20k -> 80k isotropic vectors) must grow the ADC scan volume
    ~2x (sqrt(4)), NOT 4x, at fixed nprobe.  Scan volume = sum over
    queries of probed-list occupancies (probe_scan_rows -- the
    deterministic cost metric, no wall-clock flake)."""
    import numpy as np
    import pandas as pd

    from dask_ssh_docker_spark.operators.ivf import build_index, train_centroids
    from dask_ssh_docker_spark.operators.ivfpq import coarse_k_for, probe_scan_rows

    rng = np.random.default_rng(11)
    scanned = {}
    for n in (20_000, 80_000):
        vecs = rng.standard_normal((n, 16))
        pdf = pd.DataFrame(
            {"vec_id": range(n), "embedding": [v.tolist() for v in vecs]}
        )
        df = spark.createDataFrame(pdf)
        k = coarse_k_for(n)
        cents = train_centroids(df, k=k, iters=1)
        idx = build_index(df, cents)
        queries = spark.createDataFrame(
            pd.DataFrame(
                {
                    "query_id": range(5),
                    "query_vec": [v.tolist() for v in rng.standard_normal((5, 16))],
                }
            )
        )
        scanned[n] = probe_scan_rows(queries, idx, cents, nprobe=8)
    ratio = scanned[80_000] / scanned[20_000]
    # sqrt-law target 2.0; isotropic occupancy imbalance gives slack --
    # anything approaching 4.0 means the scan went linear
    assert 1.3 <= ratio <= 3.0, (scanned, ratio)


def test_fused_init_centroids_bit_identical(spark):
    """r13: train_ivfpq derives the coarse init from the head of its
    ordered PQ training sample instead of a second global top-k corpus
    pass.  The trained centroid matrix must be BIT-identical to
    train_centroids run standalone (which collects its own init)."""
    import numpy as np

    from dask_ssh_docker_spark.operators.ivf import train_centroids

    emb = load_table(spark, SF01, "embeddings")
    fused = train_ivfpq(emb, k_coarse=KC, coarse_iters=2, m=M, ks=KS)
    solo = train_centroids(emb, k=KC, iters=2)
    a = fused.ivf.C
    b = solo.C
    assert a.shape == b.shape
    assert np.array_equal(a, b), "fused-init coarse centroids diverged"


def test_train_encode_rerank_job_count(spark, sf_dir, spark_work):
    """train → encode → ivfpq_topk(corpus=…) at sf0.001: 10 jobs / 23
    tasks.  Trained tensors live on the model, so no step re-collects
    them."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter("vec_id < 5").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    corpus = emb.filter("vec_id >= 5").select("vec_id", "embedding")
    with spark_work() as w:
        model = train_ivfpq(corpus, k_coarse=KC, coarse_iters=2, m=M, ks=KS)
        idx = encode_ivfpq(corpus, model)
        ivfpq_topk(queries, idx, model, corpus, k=10, nprobe=12, expand=20).collect()
    assert w.jobs == 10
    # tasks of parquet-footer and shuffle stages scale with the default
    # parallelism; the count was measured at 8 (any local[N≤8] session)
    if spark.sparkContext.defaultParallelism == 8:
        assert w.tasks == 23
