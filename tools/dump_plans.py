#!/usr/bin/env python
"""Regenerate PLANS.md: formatted physical plans of the headline queries
with the scale-relevant properties annotated.  Run after changing any
operator: `python tools/dump_plans.py`."""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

QUERIES = [
    ("q1_pricing_summary", "scan→filter→partial/final hash agg; pushdown + pruning"),
    ("q5_region_revenue", "star join: hints ONLY on fixed dims (region/nation); customer/supplier joins AQE-decided"),
    ("topk_orders", "top-k as TakeOrderedAndProject (no full sort)"),
    ("asof_backward", "as-of join: ONE exchange (the by-key shuffle)"),
    ("dedup_exact_groups", "dedup: only (hash,id) shuffles, bodies pruned"),
    ("sim_topk_bruteforce", "broadcast query set, map-side scoring, ranking window"),
    ("window_cumprod", "cumprod scan: one key shuffle, three window sums, no UDF"),
    ("map_overlap_centered_mean", "halo explode + one (key,chunk) shuffle into ArrowEvalPython-free applyInPandas"),
    ("text_gopher_quality", "explode → (doc,token) partial agg → doc agg; map-side combine both hops"),
    ("funnel_view_click_purchase", "event funnel: chained conditional-min windows over ONE user_id exchange (no self-joins)"),
    ("text_bigram_logprob", "bigram LM: (w1,w2) count shuffle + w1 re-agg; probability table un-hinted (AQE decides)"),
    ("window_ewma_bounded", "bounded EWMA: one user_id window exchange, O(frame) state, JVM fold"),
    ("pack_sequences_greedy", "sequence packing: per-source cumsum window — no global-order single partition"),
    ("heavy_hitter_tokens", "two-pass heavy hitters: MapInPandas MG candidates (map-only) → broadcast semi-join recount; distinct-key domain never shuffles"),
    ("variant_props_extract", "VARIANT: parse once, JVM path extraction — no Python eval, map-side only"),
    ("scd2_priority_history", "SCD2 build: lag change-detect + lead intervals over ONE (key,time) exchange"),
    ("cdc_merge_upsert", "MERGE upsert: full-outer SMJ on the key; no broadcast hint (CDC batch unbounded)"),
    ("bloom_semi_join_revenue", "bloom semi-join: constant-folded literal bitmap, 3 element_at bit tests in the scan codegen (zero probe-side joins) ahead of the exact semi join"),
    ("join_skew_audit", "skew audit: one key-count shuffle + 1-row total broadcast + TakeOrderedAndProject"),
    ("profile_orders_columns", "column profile: ONE scan, multi-distinct expand inside the agg, 1-row explode to long format"),
    ("window_rolling_median", "rolling exact median: ONE user window exchange, frame-list sort + selection, no UDF"),
    ("entropy_event_mix", "entropy audit: (key,type) partial agg + bounded-array fixed-order fold, all JVM"),
    ("setsim_prefix_pairs", "prefix-filter ssjoin: persisted shingles, rarity window per doc (no global sort), prefix×prefix equijoin, candidates-only verify"),
    ("regression_price_on_qty", "grouped OLS: ONE partial/final moment aggregation, closed-form doubles map-side"),
    ("attribution_last_touch", "last-touch attribution: forward-fill carry over ONE user window exchange — no touches×purchases self-join"),
    ("text_bm25_rank", "BM25: term filter BEFORE the explode shuffle; df table un-hinted (3 rows — AQE broadcasts); TakeOrderedAndProject top-k"),
    ("dq_expectations_orders", "DQ suite: ALL single-table checks in ONE conditional-count scan + one left-anti RI count"),
    ("target_encode_loo", "LOO target encoding: ONE whole-partition category window — no join, exact-decimal sums"),
    ("decayed_user_activity", "half-life decay: map-side integer 2^k weights + one user groupBy — plain-count shuffle shape"),
    ("bootstrap_ci_revenue", "Poisson bootstrap: map-side x50 explode + 50-group partial agg (q1 shape) + 50-row rank window"),
    ("cusum_changepoint_daily", "CUSUM: day-grain agg first; ordered scan + exact decimal x integer statistic over the bounded daily summary"),
    ("ks_binned_click_view", "binned KS: map-side bin + <=256-cell agg; CDF window over the bounded summary only"),
    ("dedup_incremental_bloom", "incremental dedup: literal-bitmap map-side probes (no joins); definitely-new rows shuffle-free, exact anti join on the maybe sliver only"),
    ("corpus_overlap_sources", "source overlap: codegen lead() k-grams, ONE vocabulary collect_set agg reused by both consumers (r10: checkpoint dropped), per-shingle pair explode — no self-join"),
    ("text_tfidf_top_terms", "TF-IDF: ONE (doc,len,term) tf exchange shared by df branch and scoring join (r10: cnt-referencing df agg blocks pruning divergence; checkpoint dropped)"),
    ("q15_top_supplier", "TPC-H Q15: revenue exchange reused by MAX branch and winner filter (r10: isnotnull alignment); 1-row broadcast max"),
    ("dedup_semantic_semdedup", "SemDeDup: map-side Arrow centroid assignment + ONE cluster-id exchange into the greedy prune"),
    ("text_quality_linear_score", "linear quality scorer: token explode + hash-weight map-side, one doc-keyed partial agg"),
    ("inverted_index_postings", "r10 counts-first index, single scan: shared (term,did) preagg stage reused by counts AND postings branches (tf>=1 pushdown barrier); broadcast LeftSemi; postings for 50 terms only"),
    ("interpolate_time_linear", "linear interpolation (r12 reshape): next-known scan is a DESC-order running last() — O(n) frame, no (currentRow, unboundedFollowing) per-row re-scan; ONE user_id exchange feeds both direction fills"),
]


def _explain(df) -> str:
    spark = df.sparkSession
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    return re.sub(r"file:[^,\]]+", "<path>", plan).strip()


def variant_sections(spark, sf_dir: str) -> list[str]:
    """Operator-variant plans the registry loop can't reach: the r12
    bucketed sequence-window shapes and the loaded-ANN-index probe."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from dask_ssh_docker_spark.operators.ann_index import (
        ivfpq_probe,
        load_ivfpq_index,
        save_ivfpq_index,
    )
    from dask_ssh_docker_spark.operators.asof import merge_asof
    from dask_ssh_docker_spark.operators.interpolate import interpolate_linear
    from dask_ssh_docker_spark.operators.ivfpq import encode_ivfpq, train_ivfpq
    from dask_ssh_docker_spark.sources import load_table

    out = [
        "# Operator variants (not registry queries)",
        "",
        "Bucketed sequence windows (`bucket_width=`) and the persisted-ANN",
        "probe — the r12 plan reshapes. Bit-exactness of bucketed vs global",
        "is pinned in `tests/test_seqbucket.py`; partition pruning of the",
        "loaded probe in `tests/test_ann_index.py`.",
        "",
    ]
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "value")
    quotes = ev.groupBy("user_id", "ts").agg(F.avg("value").alias("quote"))
    out.append(
        "## merge_asof bucket_width=3600 (hot-key sub-bucketing)\n\n"
        "*per-(key, hour-bucket) window fill + thin-row max_by carry\n"
        "cascade over the bucket spine, null-safe carry join — vs ONE\n"
        "whole-key window in the plain shape*\n\n"
        "```\n"
        + _explain(merge_asof(ev, quotes, on="ts", by="user_id", bucket_width=3600))
        + "\n```\n"
    )
    out.append(
        "## interpolate_linear bucket_width_s=3600\n\n"
        "*same carry-cascade pattern: per-bucket (t,value) endpoint\n"
        "max_by/min_by restored across boundaries, interpolation arithmetic\n"
        "on the identical endpoint pair → bit-identical output*\n\n"
        "```\n"
        + _explain(
            interpolate_linear(
                ev.withColumn(
                    "value", F.when(F.col("value") > 0.5, F.col("value"))
                ),
                "ts",
                "value",
                by="user_id",
                bucket_width_s=3600,
            )
        )
        + "\n```\n"
    )
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    corpus = emb.filter(F.col("vec_id") >= 3).select("vec_id", "embedding")
    model = train_ivfpq(corpus, k_coarse=8, coarse_iters=1, m=8, ks=16)
    index = encode_ivfpq(corpus, model)
    tmp = tempfile.mkdtemp(prefix="plans_ivfpq_")
    try:
        save_ivfpq_index(tmp, model, index)
        idx = load_ivfpq_index(spark, tmp)
        out.append(
            "## ivfpq_probe on a LOADED index — ADC stage (fit-once / probe-many)\n\n"
            "*the codes scan carries `PartitionFilters: [centroid_id IN (…)]`\n"
            "— a probe reads nprobe/k_coarse of the on-disk index, never all\n"
            "of it (pruning count-asserted in `tests/test_ann_index.py`);\n"
            "LUTs are a broadcast. With `corpus=` set, a second stage\n"
            "broadcast-joins the checkpointed shortlist back for exact\n"
            "rerank (that stage's plan starts at the checkpoint, so the\n"
            "pruned scan is shown here via the ADC-only probe).*\n\n"
            "```\n"
            + _explain(ivfpq_probe(queries, idx, corpus=None, k=5, nprobe=2))
            + "\n```\n"
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def main() -> None:
    from dask_ssh_docker_spark.queries import REGISTRY
    from dask_ssh_docker_spark.session import get_session

    sf_dir = "/root/testdata/sf0.001"
    spark = get_session("dump-plans")
    out = [
        "# PLANS — formatted physical plans of headline queries",
        "",
        "Regenerate with `python tools/dump_plans.py` (sf0.001 inputs; plan",
        "shape is scale-invariant).  The properties asserted in",
        "`tests/test_plans.py` are visible here: `PushedFilters` at the scan,",
        "pruned `ReadSchema`, `BroadcastHashJoin` on dims, bounded",
        "`Exchange` count, `TakeOrderedAndProject` for top-k.",
        "",
    ]
    for name, note in QUERIES:
        df = REGISTRY[name].fn(spark, sf_dir)
        out.append(f"## {name}\n\n*{note}*\n\n```\n{_explain(df)}\n```\n")
    out.extend(variant_sections(spark, sf_dir))
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("PLANS.md written")


if __name__ == "__main__":
    main()
