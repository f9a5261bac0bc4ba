"""Analytics-surface tour: the time-series + similarity operators a
reference user would reach for, composed end-to-end (SURVEY.md §2.D/I/H).

    events    → as-of join of each 'view' to its user's latest 'click'
              → hourly rollup partials → daily re-aggregation (no raw re-scan)
    embeddings → seeded-sample IVF training → nprobe ANN top-k
              → LSH top-k cross-check (overlap reported)

Run:  PYTHONPATH=. python -m dask_ssh_docker_spark.runner \
          examples/analytics_tour.py -- [sf_dir]
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def main(argv: list[str]) -> int:
    spark = SparkSession.getActiveSession()
    sf_dir = argv[0] if argv else "/root/testdata/sf0.001"

    from dask_ssh_docker_spark.operators.asof import merge_asof
    from dask_ssh_docker_spark.operators.ivf import (
        build_index,
        ivf_topk,
        train_centroids,
    )
    from dask_ssh_docker_spark.operators.rollup_cascade import (
        reaggregate,
        rollup_hourly,
    )
    from dask_ssh_docker_spark.operators.similarity import LSHModel, lsh_topk
    from dask_ssh_docker_spark.sources import load_table

    ev = load_table(spark, sf_dir, "events")

    # 1. as-of: each view joined to the user's most recent click (1 shuffle)
    views = ev.filter("event_type = 'view'").select("user_id", "ts", "event_id")
    clicks = ev.filter("event_type = 'click'").select(
        "user_id", "ts", F.col("value").alias("click_value")
    )
    matched = merge_asof(views, clicks, on="ts", by="user_id")
    n_matched = matched.filter("click_value IS NOT NULL").count()

    # 2. rollup cascade: hourly partials once, daily answers from partials
    hourly = rollup_hourly(ev)
    daily = reaggregate(hourly, bucket="1 day")
    n_daily = daily.count()

    # 3. ANN: sample-trained IVF vs LSH, overlap vs each other
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter("vec_id < 5").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus = emb.filter("vec_id >= 5").select("vec_id", "embedding").persist()
    cents = train_centroids(corpus, k=8, iters=2, sample_fraction=0.8)
    idx = build_index(corpus, cents)
    ivf_hits = {
        (r.query_id, r.vec_id)
        for r in ivf_topk(queries, idx, cents, k=10, nprobe=4).collect()
    }
    lsh_hits = {
        (r.query_id, r.vec_id)
        for r in lsh_topk(
            queries, corpus, LSHModel(dim=64, bits=6, tables=16), k=10
        ).collect()
    }
    overlap = len(ivf_hits & lsh_hits)

    # 4. smoothing, dense resample, retention — the monitoring trio over
    #    the same events table (all single-exchange or spine-join shapes)
    from dask_ssh_docker_spark.queries.analytics_extra import (
        resample_hourly_gapfill,
        retention_cohorts_weekly,
        window_ewma_bounded,
    )

    n_smoothed = window_ewma_bounded(spark, sf_dir).count()
    n_gaps = (
        resample_hourly_gapfill(spark, sf_dir).filter("gap_filled = 1").count()
    )
    n_cohort_cells = retention_cohorts_weekly(spark, sf_dir).count()

    # 5. round-4 surface: PQ ANN (compressed codes + exact rerank),
    #    two-pass heavy hitters, PageRank + shortest paths on the same
    #    derived graph
    from dask_ssh_docker_spark.operators.graph import pagerank, shortest_paths
    from dask_ssh_docker_spark.operators.pq import (
        pq_encode,
        pq_topk_rerank,
        train_pq_codebooks,
    )
    from dask_ssh_docker_spark.operators.sketches import heavy_hitters
    from dask_ssh_docker_spark.functions.text import tokens

    emb = load_table(spark, sf_dir, "embeddings")
    pq_corpus = emb.filter("vec_id >= 5").select("vec_id", "embedding")
    pq_queries = emb.filter("vec_id < 5").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    cb = train_pq_codebooks(pq_corpus, m=16, ks=16, iters=1)
    pq_hits = pq_topk_rerank(
        pq_queries, pq_encode(pq_corpus, cb), cb, pq_corpus, k=10, expand=5
    ).count()

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(tokens("text")).alias("tok"))
    n_heavy = heavy_hitters(toks, "tok", 50).count()

    edges = (
        ev.filter("event_type in ('view', 'purchase')")
        .groupBy(
            (F.col("user_id") % 25).alias("src"), (F.col("event_id") % 25).alias("dst")
        )
        .agg(F.count(F.lit(1)).alias("w"))
    )
    pr_rows = pagerank(edges, weight="w", iters=3).count()
    sp_rows = shortest_paths(
        edges, edges.select("src").limit(1), weight="w", max_iters=3
    ).count()

    # 6. round-4 third wave: snapshot maintenance (MERGE upsert + SCD2
    #    history) and the profiling/skew audits
    from dask_ssh_docker_spark.operators.cdc import merge_upsert, scd2_from_changelog

    snap = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
    updates = snap.filter(F.col("user_id") % 2 == 0).withColumn(
        "n_events", F.col("n_events") + 1
    )
    n_merged = merge_upsert(snap, updates, ["user_id"]).count()
    hist = scd2_from_changelog(
        ev.select("user_id", "ts", "event_type"),
        key="user_id",
        ts_col="ts",
        order_extra=("event_type",),
    )
    n_current = hist.filter("is_current").count()

    # 7. round-4 fourth wave: bloom semi-join reduction, npy custom
    #    source round trip, and the incremental-MV merge primitive
    import tempfile

    from dask_ssh_docker_spark.operators.bloomjoin import bloom_semi_join
    from dask_ssh_docker_spark.sources.npy import (
        register_npy_source,
        write_npy_shards,
    )
    from dask_ssh_docker_spark.streaming.mv import combine_snapshots

    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier").filter("s_nationkey < 5")
    n_bloom = bloom_semi_join(li, supp, "l_suppkey", "s_suppkey").count()

    register_npy_source(spark)
    npy_dir = tempfile.mkdtemp(prefix="tour_npy_")
    write_npy_shards(emb.select("vec_id", "embedding"), "vec_id", "embedding", npy_dir)
    n_npy = spark.read.format("npy").load(npy_dir).count()

    halves = [
        ev.filter(F.col("event_id") % 2 == i)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        for i in (0, 1)
    ]
    n_mv_keys = combine_snapshots(
        halves[0], halves[1], ["user_id"], {"n_events": "sum"}
    ).count()

    print(
        f"TOUR asof_matched={n_matched} daily_buckets={n_daily} "
        f"ivf_hits={len(ivf_hits)} lsh_hits={len(lsh_hits)} overlap={overlap} "
        f"ewma_rows={n_smoothed} gaps_filled={n_gaps} "
        f"cohort_cells={n_cohort_cells} pq_hits={pq_hits} "
        f"heavy_tokens={n_heavy} pr_rows={pr_rows} sp_rows={sp_rows} "
        f"merged_rows={n_merged} current_versions={n_current} "
        f"bloom_rows={n_bloom} npy_rows={n_npy} mv_keys={n_mv_keys}"
    )
    return 0
