"""Persisted ANN index round-trip (VERDICT r11 item 4): save → load →
probe must equal the in-session pipeline ROW-FOR-ROW (everything is
seeded/deterministic and parquet round-trips doubles losslessly), the
loaded codes scan must actually prune to the probed partition
directories, and a wrong-kind/version index must fail fast."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.01"


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


@pytest.fixture(scope="module")
def emb(spark):
    from dask_ssh_docker_spark.sources import load_table

    return load_table(spark, SF, "embeddings")


def test_ivfpq_index_roundtrip_equals_in_session(spark, emb, tmp_path):
    from dask_ssh_docker_spark.operators.ann_index import (
        ivfpq_probe,
        load_ivfpq_index,
        save_ivfpq_index,
    )
    from dask_ssh_docker_spark.operators.ivfpq import (
        encode_ivfpq,
        ivfpq_topk,
        train_ivfpq,
    )

    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    corpus = emb.filter(F.col("vec_id") >= 5).select("vec_id", "embedding")
    model = train_ivfpq(corpus, k_coarse=16, coarse_iters=2, m=16, ks=16)
    index = encode_ivfpq(corpus, model)
    in_session = ivfpq_topk(queries, index, model, corpus=corpus, k=10, nprobe=12)

    path = str(tmp_path / "ivfpq_idx")
    save_ivfpq_index(path, model, index)
    idx = load_ivfpq_index(spark, path)
    assert (idx.model.pq.codebooks.shape, idx.model.ivf.C.shape, idx.id_col) == (
        (16, 16, 4),
        (16, 64),
        "vec_id",
    )
    loaded = ivfpq_probe(queries, idx, corpus=corpus, k=10, nprobe=12)

    cols = ["query_id", "vec_id", "dist", "rank"]
    assert _rows(loaded, cols) == _rows(in_session, cols)


def test_ivfpq_loaded_probe_prunes_partitions(spark, emb, tmp_path):
    """The probed scan must read ONLY the nprobe list directories: with
    nprobe=2 and 16 coarse lists, the executed scan's partition count
    equals |distinct probed cids| ≤ |Q|·nprobe, far under 16."""
    from dask_ssh_docker_spark.operators.ann_index import (
        ivfpq_probe,
        load_ivfpq_index,
        save_ivfpq_index,
    )
    from dask_ssh_docker_spark.operators.ivfpq import encode_ivfpq, train_ivfpq

    queries = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    corpus = emb.filter(F.col("vec_id") >= 2).select("vec_id", "embedding")
    model = train_ivfpq(corpus, k_coarse=16, coarse_iters=2, m=16, ks=16)
    index = encode_ivfpq(corpus, model)
    path = str(tmp_path / "ivfpq_prune")
    save_ivfpq_index(path, model, index)
    idx = load_ivfpq_index(spark, path)
    n_parts_on_disk = len(
        [d for d in os.listdir(f"{path}/codes") if d.startswith("centroid_id=")]
    )
    assert n_parts_on_disk > 4  # the prune claim is vacuous otherwise

    adc = ivfpq_probe(queries, idx, corpus=None, k=10, nprobe=2)
    plan = adc._jdf.queryExecution().executedPlan().toString()
    # the codes FileScan must carry a PartitionFilters IN-list over
    # centroid_id bounded by |Q|·nprobe = 4 — the static prune the isin
    # filter buys on the partitioned layout
    import re

    m = re.search(r"PartitionFilters: \[centroid_id#\d+ IN \(([0-9,]+)\)", plan)
    assert m, f"no centroid_id partition filter in plan:\n{plan[:2000]}"
    assert len(m.group(1).split(",")) <= 4, m.group(1)
    assert adc.count() > 0


def test_lsh_index_roundtrip_equals_in_session(spark, emb, tmp_path):
    from dask_ssh_docker_spark.operators.ann_index import (
        load_lsh_index,
        lsh_probe_topk,
        save_lsh_index,
    )
    from dask_ssh_docker_spark.operators.similarity import LSHModel, lsh_topk

    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus = emb.filter(F.col("vec_id") >= 5).select("vec_id", "embedding")
    model = LSHModel(dim=64, bits=6, tables=32, seed=42)
    in_session = lsh_topk(queries, corpus, model, k=10)

    path = str(tmp_path / "lsh_idx")
    save_lsh_index(path, corpus, model, id_col="vec_id", vec_col="embedding")
    idx = load_lsh_index(spark, path)
    assert idx.model == model
    # buckets persisted without vector payloads, partitioned by table
    assert set(idx.buckets.columns) == {"vec_id", "bucket", "table_idx"}
    loaded = lsh_probe_topk(queries, idx, corpus, k=10)

    cols = ["query_id", "vec_id", "sim", "rank"]
    assert _rows(loaded, cols) == _rows(in_session, cols)


def test_wrong_kind_and_version_fail_fast(spark, emb, tmp_path):
    from dask_ssh_docker_spark.operators import ann_index
    from dask_ssh_docker_spark.operators.ann_index import (
        load_ivfpq_index,
        load_lsh_index,
        save_lsh_index,
    )
    from dask_ssh_docker_spark.operators.similarity import LSHModel

    corpus = emb.filter(F.col("vec_id") >= 5).select("vec_id", "embedding")
    path = str(tmp_path / "lsh_kind")
    save_lsh_index(path, corpus, LSHModel(dim=64, bits=4, tables=4))
    with pytest.raises(ValueError, match="kind"):
        load_ivfpq_index(spark, path)
    # stamp a future version and expect a fast, explicit failure
    spark.createDataFrame(
        [(ann_index.FORMAT_VERSION + 1, "lsh", "{}")],
        "version int, kind string, params string",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/meta")
    with pytest.raises(ValueError, match="version"):
        load_lsh_index(spark, path)


def test_append_grows_index_and_probe_covers_new_rows(spark, emb, tmp_path):
    """Append path (VERDICT r12 item 7): fit on half, append the rest
    against the STALE centroids — the grown index must hold every row
    exactly once, appended rows must be probe-reachable, and
    refit_recommended must stay k-law-consistent (floor-pinned corpora
    never fire; ⌈√n⌉ drift past 2× k_coarse fires)."""
    from dask_ssh_docker_spark.operators.ann_index import (
        append_ivfpq_index,
        ivfpq_probe,
        load_ivfpq_index,
        refit_recommended,
        save_ivfpq_index,
    )
    from dask_ssh_docker_spark.operators.ivfpq import encode_ivfpq, train_ivfpq

    corpus = emb.filter(F.col("vec_id") >= 5).select("vec_id", "embedding")
    old = corpus.filter(F.col("vec_id") < 250)
    new = corpus.filter(F.col("vec_id") >= 250)
    model = train_ivfpq(old, k_coarse=16, coarse_iters=2, m=16, ks=16)
    path = str(tmp_path / "grown_idx")
    save_ivfpq_index(path, model, encode_ivfpq(old, model), fitted_rows=245)
    assert load_ivfpq_index(spark, path).fitted_rows == 245

    grown = append_ivfpq_index(spark, path, new)
    # every corpus row encoded exactly once (append is additive, no dupes)
    ids = [r["vec_id"] for r in grown.index.select("vec_id").collect()]
    assert sorted(ids) == sorted(r["vec_id"] for r in corpus.collect())

    # an appended vector is its own exact nearest neighbor via the index
    q = emb.filter(F.col("vec_id") == 400).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    top = ivfpq_probe(q, grown, corpus=corpus, k=1, nprobe=16).collect()
    assert top and top[0]["vec_id"] == 400 and top[0]["dist"] == 0.0

    # floor-pinned: below the 16384-row floor the k law is pinned at 16,
    # so refit NEVER fires there (growth within the floor is free)
    assert refit_recommended(grown) is False
    assert refit_recommended(grown, current_rows=16_384) is False
    # past the floor the ⌈√n⌉ law takes over: ⌈√16385⌉ = 129 > 2×16
    assert refit_recommended(grown, current_rows=16_385) is True


def test_load_probe_job_count(spark, sf_dir, spark_work, tmp_path):
    """load_ivfpq_index → ivfpq_probe(corpus=…) at sf0.001: 15 jobs / 51
    tasks.  Loading collects each trained tensor once; the probe reads
    them from the model."""
    from dask_ssh_docker_spark.operators.ann_index import (
        ivfpq_probe,
        load_ivfpq_index,
        save_ivfpq_index,
    )
    from dask_ssh_docker_spark.operators.ivfpq import encode_ivfpq, train_ivfpq
    from dask_ssh_docker_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    corpus = emb.filter(F.col("vec_id") >= 5).select("vec_id", "embedding")
    model = train_ivfpq(corpus, k_coarse=16, coarse_iters=2, m=16, ks=16)
    path = str(tmp_path / "ivfpq_jobs")
    save_ivfpq_index(path, model, encode_ivfpq(corpus, model))
    with spark_work() as w:
        idx = load_ivfpq_index(spark, path)
        ivfpq_probe(queries, idx, corpus=corpus, k=10, nprobe=12).collect()
    assert w.jobs == 15
    # tasks of parquet-footer and shuffle stages scale with the default
    # parallelism; the count was measured at 8 (any local[N≤8] session)
    if spark.sparkContext.defaultParallelism == 8:
        assert w.tasks == 51


def test_lsh_load_probe_job_count(spark, sf_dir, spark_work, tmp_path):
    """load_lsh_index → lsh_probe_topk at sf0.001: 11 jobs / 23 tasks.
    Loading reads the meta once; the probe regenerates the hyperplanes
    from the model and reads the persisted buckets."""
    from dask_ssh_docker_spark.operators.ann_index import (
        load_lsh_index,
        lsh_probe_topk,
        save_lsh_index,
    )
    from dask_ssh_docker_spark.operators.similarity import LSHModel
    from dask_ssh_docker_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus = emb.filter(F.col("vec_id") >= 5).select("vec_id", "embedding")
    path = str(tmp_path / "lsh_jobs")
    save_lsh_index(path, corpus, LSHModel(dim=64, bits=6, tables=32))
    with spark_work() as w:
        idx = load_lsh_index(spark, path)
        lsh_probe_topk(queries, idx, corpus, k=10).collect()
    assert w.jobs == 11
    # tasks of parquet-footer and shuffle stages scale with the default
    # parallelism; the count was measured at 8 (any local[N≤8] session)
    if spark.sparkContext.defaultParallelism == 8:
        assert w.tasks == 23
