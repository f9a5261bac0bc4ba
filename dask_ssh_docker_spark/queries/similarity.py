"""Similarity-search queries on the embeddings table (SURVEY.md §2.H).

Exact paths (brute-force top-k, all-pairs near-dup) carry DuckDB oracles
with the identical double-precision, in-order arithmetic; LSH paths are
seeded-deterministic but Spark-only → rows-only driver check, pytest-pinned
recall vs the exact baseline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.similarity import (
    LSHModel,
    brute_force_topk,
    embedding_neardup_pairs,
    lsh_neardup_pairs,
    lsh_topk,
)
from ..sources import load_table
from ._util import validation_cap
from .registry import query

# manual double-precision dot/norm so DuckDB sums the same operands in the
# same order as Spark's aggregate()
_DOT = (
    "list_aggregate(list_transform(list_zip({a}, {b}), "
    "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), 'sum')"
)
_NORM = (
    "sqrt(list_aggregate(list_transform({a}, "
    "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))"
)


@query(
    "sim_topk_bruteforce",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < 5),
         c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 5),
    scored AS (
      SELECT q.query_id, c.vec_id,
             {_DOT.format(a='q.embedding', b='c.embedding')}
               / ({_NORM.format(a='q.embedding')} * {_NORM.format(a='c.embedding')})
               AS raw_sim
      FROM q CROSS JOIN c
    ),
    ranked AS (
      SELECT query_id, vec_id, raw_sim,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY raw_sim DESC, vec_id) AS rank
      FROM scored
    )
    SELECT query_id, vec_id, round(raw_sim, 6) AS sim, rank
    FROM ranked WHERE rank <= 10
    """,
)
def sim_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 neighbors for query vectors vec_id<5 over the
    rest of the corpus."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus = emb.filter(F.col("vec_id") >= 5).select("vec_id", "embedding")
    return brute_force_topk(queries, corpus, k=10)


@query(
    "sim_neardup_pairs",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding FROM embeddings),
    p AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             {_DOT.format(a='a.embedding', b='b.embedding')}
               / ({_NORM.format(a='a.embedding')} * {_NORM.format(a='b.embedding')})
               AS raw_sim
      FROM e a JOIN e b ON a.vec_id < b.vec_id
    )
    SELECT id_a, id_b, round(raw_sim, 6) AS sim
    FROM p WHERE raw_sim >= 0.4
    """,
    validation_capped=True,
)
def sim_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact embedding near-duplicate pairs (cosine ≥ 0.4).  Input is
    capped at validation scale (``_util.validation_cap``): this is the
    oracle for the LSH-bucketed twin, never a 100 TB product."""
    emb = validation_cap(
        load_table(spark, sf_dir, "embeddings"), "vec_id", "sim_neardup_pairs"
    )
    return embedding_neardup_pairs(emb, threshold=0.4)


@query("sim_topk_lsh", oracle=None)
def sim_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH top-10 (32 tables × 6 bits, seeded) — the
    approximate scale path; recall@10 ≥ 0.8 vs brute force pinned at
    sf0.1 in tests/test_similarity.py.  The test corpus is isotropic
    random noise — the adversarial case for hyperplane LSH, hence the
    generous table count; clustered real-world embeddings reach the same
    recall with far fewer tables (tune bits/tables per corpus)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus = emb.filter(F.col("vec_id") >= 5).select("vec_id", "embedding")
    # dim is given (testdata embeddings are 64-d, TESTDATA.md): plan
    # construction stays job-free — no first() inference round-trip.
    return lsh_topk(
        queries, corpus, LSHModel(dim=64, bits=6, tables=32), k=10
    ).orderBy("query_id", "rank")


@query("sim_neardup_lsh", oracle=None)
def sim_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed near-dup pairs (scale path for sim_neardup_pairs).

    ``bits`` scales with log2(corpus) via ``neardup_bits_for`` — fixed
    bits make the bucket join's candidate volume quadratic in the
    corpus (measured executor spill-to-disk-full at sf10, BENCH_NOTES
    "The sf10 correctness sweep") — and ``tables`` scales alongside via
    ``neardup_tables_for`` so design-band recall (sim ≥ 0.9) holds
    ~0.93 at every scale instead of collapsing with the extra bits
    (borderline 0.4-band recall still degrades with scale,
    by a documented formula, measured in
    tests/test_similarity.py::test_neardup_recall_at_scale — callers
    needing exhaustive 0.4 pairs use the exact validation-capped twin).
    The row count comes from the parquet footer (pure
    metadata, no Spark job — plan construction stays job-free per
    tests/test_similarity.py); at 100 TB the caller passes catalog
    stats the same way.  The ≥8-bit / 8-table floors keep every
    validation-scale corpus (≤16k rows) on the 8 × 8 bucketization
    the driver-gate outputs were recorded with."""
    from ..operators.similarity import neardup_bits_for, neardup_tables_for

    emb = load_table(spark, sf_dir, "embeddings")
    try:
        import pyarrow.parquet as papq

        n = papq.read_metadata(f"{sf_dir}/embeddings.parquet").num_rows
    except Exception:
        n = emb.count()  # non-local path: one metadata-cheap job
    bits = neardup_bits_for(n)
    model = LSHModel(dim=64, bits=bits, tables=neardup_tables_for(bits))
    return lsh_neardup_pairs(emb, model, threshold=0.4).orderBy("id_a", "id_b")


@query("sim_topk_ivf", oracle=None)
def sim_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-Flat top-10 (16 deterministic Lloyd centroids, nprobe=12 →
    ~75% corpus scan) — the inverted-list ANN scale path; recall@10 ≥ 0.8
    vs brute force pinned at sf0.1 in tests/test_similarity.py.  Isotropic
    noise spreads true neighbors evenly across lists, forcing a high
    nprobe/k here; clustered real embeddings get the same recall at
    nprobe/k ≈ 0.1-0.25 (the scan fraction that makes IVF pay at 100 TB)."""
    from ..operators.ivf import build_index, ivf_topk, train_centroids

    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus = emb.filter(F.col("vec_id") >= 5).select("vec_id", "embedding")
    model = train_centroids(corpus, k=16, iters=2)
    idx = build_index(corpus, model)
    return ivf_topk(queries_df, idx, model, k=10, nprobe=12).orderBy(
        "query_id", "rank"
    )


@query("sim_topk_pq", oracle=None)
def sim_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization top-10 (m=16 subspaces × 16 sub-centroids →
    16-byte codes, 16× compression) with ADC shortlist (20× expand →
    200 candidates/query) + exact re-rank — the memory-bound ANN scale
    path beside LSH (hash buckets) and IVF (scan fraction).  Recall@10
    vs ``sim_topk_bruteforce``: 0.96 measured at sf0.1, floor ≥ 0.8
    pinned in tests/test_pq.py (an expand=5 shortlist is a FIXED 50
    candidates, so recall sinks as the corpus grows — 0.58 at sf0.1;
    shortlist size is the knob that must scale with corpus, and 200
    exact re-ranks per query is still negligible at any scale).
    At 100 TB the raw vectors are touched only for the |Q|·200 re-rank
    candidates."""
    from ..operators.pq import pq_encode, pq_topk_rerank, train_pq_codebooks

    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    corpus = emb.filter(F.col("vec_id") >= 5).select("vec_id", "embedding")
    model = train_pq_codebooks(corpus, m=16, ks=16, iters=2)
    # no lineage cut: the code index has exactly ONE consumer — the ADC
    # scoring inside the shortlist broadcast (the exact re-rank joins the
    # raw corpus by id, never the codes)
    idx = pq_encode(corpus, model)
    return pq_topk_rerank(queries_df, idx, model, corpus, k=10, expand=20).orderBy(
        "query_id", "rank"
    )


@query("sim_topk_ivfpq", oracle=None)
def sim_topk_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ (IVFADC, Jégou et al. 2011 §IV) top-10 — the COMPOSED
    scale path: nprobe/k_coarse scan fraction over a 16×-compressed
    residual-code index, exact re-rank of the 200-candidate shortlist.
    IVF bounds scan, PQ bounds memory; composed they multiply — the
    billion-scale default in public faiss.  Isotropic test noise forces
    nprobe=12/16 (same rationale as sim_topk_ivf); recall@10 ≥ 0.8 vs
    brute force pinned at sf0.1 in tests/test_ivfpq.py.

    ``k_coarse`` scales as √corpus via ``coarse_k_for``: at fixed k the
    ADC pass scans nprobe·n/k codes — LINEAR in the corpus; at k=√n it
    is nprobe·√n, sub-linear, with the fit cost paid once per corpus and
    amortized over every query batch (fit/probe split measured in
    BENCH_NOTES).  The ≤16k floor keeps validation corpora on k=16, the
    configuration the recall pins hold at."""
    from ..operators.ivfpq import coarse_k_for, encode_ivfpq, ivfpq_topk, train_ivfpq

    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    corpus = emb.filter(F.col("vec_id") >= 5).select("vec_id", "embedding")
    try:
        import pyarrow.parquet as papq

        n = papq.read_metadata(f"{sf_dir}/embeddings.parquet").num_rows
    except Exception:
        n = emb.count()  # non-local path: one metadata-cheap job
    model = train_ivfpq(
        corpus, k_coarse=coarse_k_for(n), coarse_iters=2, m=16, ks=16
    )
    # no lineage cut: the code index has exactly ONE consumer — the ADC
    # scoring inside the shortlist broadcast — same rationale as
    # sim_topk_pq above
    idx = encode_ivfpq(corpus, model)
    return ivfpq_topk(
        queries_df, idx, model, corpus, k=10, nprobe=12, expand=20
    ).orderBy("query_id", "rank")


# --- MMR oracle -------------------------------------------------------------
#
# MMR is deterministic given the candidate pool: relevance is the
# 6-dp-ROUNDED brute-force cosine (so the greedy objective's lam·rel term
# is bit-reproducible cross-engine), candidate selection and the greedy
# argmax both tie-break on (score desc, id asc), and k=5 rounds unroll
# into 5 CTE stages (the same bounded-unroll pattern as the
# canonical-survivors CC oracle, BENCH_NOTES "DuckDB CTE inlining" —
# selset_r is MATERIALIZED so round r+1 does not re-inline rounds
# 1..r).  The only cross-engine float exposure is the candidate-candidate
# cosine (numpy normalizes rows then matmuls; the oracle divides the
# sequential-fold dot by the norm product) — ~1-ulp noise under a 6-dp
# round, the same tolerance the hash-matched sim_topk_bruteforce oracle
# already carries.

_MMR_K, _MMR_POOL, _MMR_LAM = 5, 20, 0.7


def _mmr_oracle_sql(k: int = _MMR_K, pool: int = _MMR_POOL,
                    lam: float = _MMR_LAM) -> str:
    rounds = []
    for r in range(2, k + 1):
        rounds.append(f"""
scored_{r} AS (
  SELECT c.query_id, c.vec_id, c.rel,
         {lam} * c.rel - {round(1 - lam, 12)} * MAX(s.s) AS score
  FROM cand c
  ANTI JOIN selset_{r - 1} x
    ON x.query_id = c.query_id AND x.vec_id = c.vec_id
  JOIN sims s ON s.query_id = c.query_id AND s.ia = c.vec_id
  JOIN selset_{r - 1} t ON t.query_id = s.query_id AND t.vec_id = s.ib
  GROUP BY c.query_id, c.vec_id, c.rel
),
sel_{r} AS (
  SELECT query_id, vec_id, rel, score, {r} AS rank FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY score DESC, vec_id) AS rn
    FROM scored_{r}
  ) WHERE rn = 1
),
selset_{r} AS MATERIALIZED (
  SELECT query_id, vec_id FROM selset_{r - 1}
  UNION ALL SELECT query_id, vec_id FROM sel_{r}
)""")
    union = "\n  UNION ALL ".join(
        f"SELECT query_id, vec_id, rel, score, rank FROM sel_{r}"
        for r in range(1, k + 1)
    )
    return f"""
WITH q AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < 3),
c0 AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 3),
pool AS (
  SELECT q.query_id, c0.vec_id, c0.embedding,
         {_DOT.format(a='q.embedding', b='c0.embedding')}
           / ({_NORM.format(a='q.embedding')} * {_NORM.format(a='c0.embedding')})
           AS raw_sim
  FROM q CROSS JOIN c0
),
cand AS MATERIALIZED (
  SELECT query_id, vec_id, embedding, round(raw_sim, 6) AS rel FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY raw_sim DESC, vec_id) AS rn
    FROM pool
  ) WHERE rn <= {pool}
),
sims AS MATERIALIZED (
  SELECT a.query_id, a.vec_id AS ia, b.vec_id AS ib,
         {_DOT.format(a='a.embedding', b='b.embedding')}
           / ({_NORM.format(a='a.embedding')} * {_NORM.format(a='b.embedding')})
           AS s
  FROM cand a JOIN cand b ON a.query_id = b.query_id AND a.vec_id <> b.vec_id
),
sel_1 AS (
  SELECT query_id, vec_id, rel, rel AS score, 1 AS rank FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY rel DESC, vec_id) AS rn
    FROM cand
  ) WHERE rn = 1
),
selset_1 AS MATERIALIZED (SELECT query_id, vec_id FROM sel_1),{",".join(rounds)}
SELECT query_id, CAST(rank AS INTEGER) AS rank, vec_id,
       round(rel, 6) AS relevance, round(score, 6) AS mmr_score
FROM ({union})
"""


@query("sim_mmr_rerank", oracle=_mmr_oracle_sql())
def sim_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR-diversified top-5 (λ=0.7) from an exact top-20 candidate pool
    per query — the diversity-aware final stage of a retrieval/RAG
    pipeline.  Greedy selection runs as one ``applyInPandas`` per
    pool-row group (parallel across queries, O(k·pool·dim) numpy per
    group); parity with a pure-Python reference implementation and the
    rank-1 = top-relevance invariant are pinned in tests/test_wave5.py;
    the output is hash-checked against the unrolled-greedy DuckDB oracle
    (_mmr_oracle_sql)."""
    from ..operators.similarity import mmr_rerank

    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus = emb.filter(F.col("vec_id") >= 3).select("vec_id", "embedding")
    return mmr_rerank(
        queries_df, corpus, k=_MMR_K, pool=_MMR_POOL, lam=_MMR_LAM
    ).orderBy("query_id", "rank")


# This module ships closures to Python workers; make them self-contained
# (see functions/shipping.py — no package install needed on executors).
from ..functions.shipping import ship_module_by_value as _ship

_ship(__name__)
