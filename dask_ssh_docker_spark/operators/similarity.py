"""Similarity search over embedding columns (SURVEY.md §2.H).

Top-k and near-dup pairs, each with an exact and a scale path:

- **brute_force_topk** — exact: broadcast the (small) query set, score every
  corpus row map-side with JVM ``zip_with``/``aggregate`` vector math, keep
  top-k per query with a salted ranking window.  Cost O(|corpus|·|Q|·dim)
  compute, shuffle of |corpus|·|Q| scored rows.  The oracle baseline.
- **lsh_topk** — approximate scale path: random-hyperplane (sign) LSH,
  T tables × b seeded hyperplane bits held by one :class:`LSHModel` (no
  fitting step); candidates share a bucket in ≥1 table, then exact
  re-rank on candidates only (``lsh_probe``, also the persisted-index
  probe).  Shuffle is |rows|·T bucket tuples; tune (b, T) for the
  recall/cost point.  Skewed buckets split by AQE.
- **embedding_neardup_pairs** — exact all-pairs near-dup (validation
  scale); **lsh_neardup_pairs** — its bucketed twin (scale path).
- **mmr_rerank** — diversity-aware re-rank of an exact top-``pool``.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vector import cosine_similarity, dot, l2_norm


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors per query row.

    ``queries`` must be small (it is broadcast); rename its id/vector
    columns to ``query_id``/``q_vec`` before the cross-score.

    Ranking runs through ``salted_topk``: the classic single
    ``Window.partitionBy(query_id)`` routes the ENTIRE scored corpus for
    one query through one task's sort — the unsplittable-window
    straggler (AQE cannot split window partitions), and for brute force
    the group size IS the corpus.  The two-round form sorts n/salt rows
    per task then re-ranks ≤ salt·k survivors; rows and ranks identical
    (deterministic total order with the corpus-id tie-break)."""
    from .partitioning import salted_topk

    q = queries.select(
        F.col(query_id), F.col(vec_col).alias("__qvec")
    )
    scored = corpus.select(
        F.col(corpus_id), F.col(vec_col).alias("__cvec")
    ).crossJoin(F.broadcast(q))
    sim = cosine_similarity("__qvec", "__cvec")
    return salted_topk(
        scored.withColumn("sim", sim),
        [query_id],
        [F.desc("sim"), F.asc(corpus_id)],
        corpus_id,
        k,
    ).select(query_id, corpus_id, F.round("sim", 6).alias("sim"), "rank")


def _cosine_topk(cands: DataFrame, query_id: str, corpus_id: str, k: int) -> DataFrame:
    """(query_id, corpus_id, sim, rank): the exact re-rank of a bounded
    candidate frame carrying ``__qvec``/``__cvec`` — cosine scored, ranked
    per query by (sim desc, corpus id asc), sim rounded to 6 places.
    The LSH and IVF top-k paths both end here; their groups are already
    shortlist-sized, so one plain ranking window suffices."""
    w = Window.partitionBy(query_id).orderBy(F.desc("sim"), F.asc(corpus_id))
    return (
        cands.withColumn("sim", cosine_similarity("__qvec", "__cvec"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, corpus_id, F.round("sim", 6).alias("sim"), "rank")
    )


@dataclass(frozen=True)
class LSHModel:
    """Random-hyperplane LSH state: ``tables × bits`` seeded hyperplanes
    over ``dim``-long vectors.

    ``dim`` has no default: the planes are drawn driver-side from it, and
    inferring it from data would launch an eager ``first()`` job at
    plan-construction time (and could not handle an empty frame at all).
    Query construction stays job-free — ``tests/test_similarity.py``
    asserts zero jobs run while building an LSH plan."""

    dim: int
    bits: int = 8
    tables: int = 8
    seed: int = 42

    def planes(self) -> np.ndarray:
        """(tables, bits, dim) hyperplanes, a pure function of the model."""
        rng = np.random.default_rng(self.seed)
        return rng.standard_normal((self.tables, self.bits, self.dim))


def _bucket_udf(planes: np.ndarray):
    """Vectorized bucket ids: ONE BLAS matmul per Arrow batch against all
    ``tables × bits`` hyperplanes, sign bits packed per table.

    Not a ``tables × bits`` forest of ``aggregate``/``zip_with`` fold
    expressions: higher-order functions are never whole-stage-codegen'd,
    so that forest evaluates ~dim element steps per plane INTERPRETED —
    and, plan-shape-dependent, sometimes re-evaluated — measured bimodal
    4-34 s at sf0.1 for what is one (n, dim)·(dim, 192) matmul.  A bit is
    set when ``d ≥ 0``; the fold form's sequential sum and numpy's
    pairwise sum agree in sign everywhere except |dot| within float
    error of zero."""
    tables_, bits_, dim_ = planes.shape
    flat = planes.reshape(tables_ * bits_, dim_).T  # (dim, tables*bits)
    weights = (1 << np.arange(bits_)).astype(np.int64)

    # no parameter annotations: under `from __future__ import annotations`
    # the stringified hints defeat pandas_udf's signature inference — the
    # returnType + PandasUDFType-free scalar form is unambiguous
    @F.pandas_udf("array<int>")
    def buckets(vecs):
        import pandas as _pd

        if not len(vecs):
            return _pd.Series([], dtype=object)
        m = np.asarray(vecs.tolist(), dtype=np.float64)  # (n, dim)
        signs = (m @ flat) >= 0.0  # (n, tables*bits)
        packed = (signs.reshape(len(m), tables_, bits_) * weights).sum(axis=2)
        return _pd.Series(packed.astype(np.int32).tolist())

    return buckets


def lsh_bucketed(
    df: DataFrame, id_col: str, vec_col: str, model: LSHModel
) -> DataFrame:
    """(id, vec, table_idx, bucket) — one row per table per input row."""
    bucket_arr = _bucket_udf(model.planes())(F.col(vec_col))
    # the UDF column materializes in its own ArrowEvalPython node, so the
    # posexplode consumes a computed attribute — no per-output-row
    # re-evaluation of the bucket computation
    return df.select(
        F.col(id_col),
        F.col(vec_col),
        F.posexplode(bucket_arr).alias("table_idx", "bucket"),
    )


def lsh_probe(
    queries: DataFrame,
    buckets: DataFrame,
    corpus: DataFrame,
    model: LSHModel,
    k: int = 10,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k of ``queries`` against a corpus bucket table ``buckets``
    (``corpus_id``, ``table_idx``, ``bucket``) built under ``model``.

    Only (query_id, corpus_id) tuples pass the bucket join and the pair
    dedup; vectors re-attach once per side afterwards, keyed by id.
    Carrying them through would multiply every payload ×tables behind a
    Python-UDF node that hides size stats (the same shape cost
    ``lsh_neardup_pairs`` 272 s vs 4.5 s at sf1).  Rows with equal ids
    carry equal vectors, so the id-pair dedup equals ``distinct()``; the
    re-attach sides dedup on id too, so duplicate input ids never let one
    corpus_id fill several top-k slots.  Each dedup reuses its join's
    hash partitioning, so it costs no extra shuffle."""
    qb = lsh_bucketed(queries, query_id, vec_col, model).select(
        query_id, "table_idx", "bucket"
    )
    cands = (
        qb.join(buckets, ["table_idx", "bucket"])
        .select(query_id, corpus_id)
        .dropDuplicates([query_id, corpus_id])
        .join(
            queries.select(query_id, F.col(vec_col).alias("__qvec"))
            .dropDuplicates([query_id]),
            query_id,
        )
        .join(
            corpus.select(corpus_id, F.col(vec_col).alias("__cvec"))
            .dropDuplicates([corpus_id]),
            corpus_id,
        )
    )
    return _cosine_topk(cands, query_id, corpus_id, k)


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    model: LSHModel,
    k: int = 10,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: bucket the corpus under ``model`` and
    ``lsh_probe`` it — exact-score only query/corpus pairs sharing a
    bucket in some table, rank per query."""
    cb = lsh_bucketed(corpus, corpus_id, vec_col, model).select(
        corpus_id, "table_idx", "bucket"
    )
    return lsh_probe(queries, cb, corpus, model, k, query_id, corpus_id, vec_col)


def _normed(df: DataFrame, id_col: str, vec_col: str, side: str) -> DataFrame:
    """(id_<side>, __v<side>, __n<side>): one side of a pair score, with
    its vector's norm computed ONCE in the projection instead of
    re-folded for every pair (cosine re-derives |a| and |b| per pair
    otherwise — 2/3 of the interpreted work at n² pairs)."""
    return df.select(
        F.col(id_col).alias(f"id_{side}"),
        F.col(vec_col).alias(f"__v{side}"),
        l2_norm(vec_col).alias(f"__n{side}"),
    )


def _pairs_over(pairs: DataFrame, threshold: float) -> DataFrame:
    """(id_a, id_b, sim) for the ``_normed`` a×b rows with cosine ≥
    ``threshold``.  The dot stays the in-order JVM fold, so the doubles
    match the DuckDB oracle's."""
    sim = dot("__va", "__vb") / F.nullif(
        F.col("__na") * F.col("__nb"), F.lit(0.0)
    )
    return (
        pairs.withColumn("sim", sim)
        .filter(F.col("sim") >= threshold)
        .select("id_a", "id_b", F.round("sim", 6).alias("sim"))
    )


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
) -> DataFrame:
    """Exact all-pairs cosine near-dup (id_a < id_b, sim ≥ threshold).
    O(n²) — validation scale; use ``lsh_neardup_pairs`` beyond that.

    Per-vector norms are hoisted into each side's projection
    (``_normed``), and the stream side is widened to the cluster before
    the nested-loop join: the corpus arrives as 1-2 parquet splits at
    validation scale, which otherwise serializes the ENTIRE n² scan onto
    one task (measured: single thread pegged 53 min at sf1)."""
    a = _normed(df, id_col, vec_col, "a")
    width = df.sparkSession.sparkContext.defaultParallelism
    if a.rdd.getNumPartitions() < width:  # gated: no-op on wide scans
        a = a.repartition(width, "id_a")
    b = _normed(df, id_col, vec_col, "b")
    return _pairs_over(
        a.crossJoin(b).filter(F.col("id_a") < F.col("id_b")), threshold
    )


def neardup_bits_for(
    n_rows: int, target_bucket_rows: int = 64, floor_bits: int = 8
) -> int:
    """Scale-appropriate hyperplane count for ``lsh_neardup_pairs``.

    At FIXED bits the candidate volume of the bucket self-join is
    ~n²·T/2^bits — quadratic in the corpus.  Measured consequence
    (BENCH_NOTES, "The sf10 correctness sweep"): at sf10 (200k isotropic
    vectors) the default
    8 bits put ~780 rows in every one of 2048 bucket cells → ~0.6B
    candidate id-pairs through the join + distinct, which spilled a
    local executor to disk-full.  Holding the expected bucket occupancy
    constant instead (``bits = log2(n / target_bucket_rows)``) makes
    candidates ~n·target·T/2 — LINEAR in n: the knob must scale with
    log2(corpus), exactly like PQ's shortlist scales with corpus
    (tests/test_pq.py).  The floor keeps small/validation corpora
    (≤ ~16k rows) on 8 bits, the bucketization every recorded
    validation-scale output was produced with.

    More bits at fixed tables lowers per-pair recall (p_bucket =
    (1−θ/π)^bits per table) — pair with ``neardup_tables_for(bits)``,
    which raises the table count alongside so design-band recall stays
    constant as the corpus grows.  The subset-of-exact
    guarantee is bits-independent (every candidate is exact-verified)."""
    import math

    if n_rows <= 0:
        return floor_bits
    return max(floor_bits, math.ceil(math.log2(max(1.0, n_rows / target_bucket_rows))))


def neardup_tables_for(
    bits: int,
    design_sim: float = 0.9,
    target_recall: float = 0.93,
    floor_tables: int = 8,
) -> int:
    """Table count holding DESIGN-BAND recall constant as ``bits`` grows.

    ``neardup_bits_for`` keeps the bucket join linear in the corpus, but
    bits alone at fixed tables collapses recall: the
    per-table bucket probability for a pair at similarity s is
    p = (1−θ/π)^bits with θ = arccos(s), and recall over T tables is
    1−(1−p)^T.  At the query's
    own 0.4 threshold, 8 tables give ~18% at 8 bits but ~3% at the 12
    bits chosen at sf10.  This helper sizes T so recall at the DESIGN
    similarity (0.9 — the band "near-duplicate" actually means) never
    degrades: T = ⌈ln(1−R)/ln(1−p(0.9)^bits)⌉, floored at 8 so
    validation-scale runs (8 bits) keep the 8 × 8 bucketization
    (T(8)=8).

    Growth law: p(0.9) = 0.8564, so T ∝ (1/0.8564)^bits = 2^(0.224·bits)
    → with bits = log2(n/64), T ∝ (n/64)^0.224 and total candidate
    volume ∝ n^1.22 — the standard LSH ρ-exponent trade, mildly
    super-linear instead of the quadratic fixed-bits path or the
    recall collapse of fixed tables.  Concrete points: bits 8 → T 8
    (recall 0.935 at sim 0.9, 0.18 at 0.4); bits 12 (sf10, 200k rows)
    → T 16 (0.93 at 0.9, 0.062 at 0.4 — degraded but 5× the fixed-T
    figure and measured, not silent:
    tests/test_similarity.py::test_neardup_recall_at_scale).
    Borderline-band (sim≈0.4) recall is NOT a design target at scale —
    66° apart is not a near-duplicate; callers needing exhaustive 0.4
    pairs use ``embedding_neardup_pairs`` (exact, validation-capped)."""
    import math

    p = (1.0 - math.acos(design_sim) / math.pi) ** bits
    if p >= 1.0:
        return floor_tables
    t = math.ceil(math.log(1.0 - target_recall) / math.log(1.0 - p))
    return max(floor_tables, t)


def lsh_neardup_pairs(
    df: DataFrame,
    model: LSHModel,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
) -> DataFrame:
    """Near-dup pairs restricted to LSH-bucket cohabitants — the scale
    path: |rows|·T bucket tuples shuffle instead of n² pairs.  Size
    ``model.bits`` with ``neardup_bits_for(corpus_rows)`` and
    ``model.tables`` with ``neardup_tables_for(bits)`` — 8 bits is the
    ≤16k-row validation bucketization and goes quadratic-candidate at
    larger corpora (see that helper's docstring for the measured sf10
    failure)."""
    bkt = lsh_bucketed(df, id_col, vec_col, model)
    a = bkt.select(F.col(id_col).alias("id_a"), "table_idx", "bucket")
    b = bkt.select(F.col(id_col).alias("id_b"), "table_idx", "bucket")
    # candidate DEDUP moves vector bodies NOWHERE: only (id_a, id_b)
    # tuples pass through the bucket join and the distinct — carrying
    # both 64-float payloads through the dedup exchange makes the scale
    # path slower than the all-pairs baseline (272 s vs 100 s at sf1;
    # this shape: 4.5 s).  Vectors re-attach once per side afterwards.
    cands = (
        a.join(b, ["table_idx", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    return _pairs_over(
        cands.join(_normed(df, id_col, vec_col, "a"), "id_a").join(
            _normed(df, id_col, vec_col, "b"), "id_b"
        ),
        threshold,
    )


def mmr_rerank(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    pool: int = 20,
    lam: float = 0.7,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein '98):
    fetch an exact top-``pool`` candidate set per query, then greedily
    pick ``k`` results maximizing ``λ·rel(c) − (1−λ)·max_{s∈S} sim(c,s)``
    — the standard diversity-aware final stage of a retrieval/RAG
    pipeline (plain top-k returns near-duplicate passages; MMR trades a
    little relevance for coverage).

    Execution shape: the candidate fetch is ``brute_force_topk`` (or any
    ANN path producing the same (query_id, vec_id, sim) contract); the
    greedy selection is inherently sequential *within* a query but
    embarrassingly parallel *across* queries, so it runs as one
    ``applyInPandas`` over ``pool``-row groups — O(k·pool·dim) numpy work
    per query, never a driver loop.

    Determinism: candidates arrive sorted by (sim desc, id); ties in the
    greedy objective break on (score desc, id asc); float64 numpy
    arithmetic on identical inputs.
    """
    import pandas as pd  # noqa: F401  (applyInPandas contract)

    cands = brute_force_topk(
        queries, corpus, k=pool, query_id=query_id,
        corpus_id=corpus_id, vec_col=vec_col,
    )
    # The greedy MMR objective needs only candidate vectors plus the
    # precomputed relevance sim — query vectors are already folded into
    # `sim` by brute_force_topk, so no query-side join is needed.
    grouped = cands.join(
        corpus.select(F.col(corpus_id), F.col(vec_col).alias("__cvec")),
        corpus_id,
    ).select(query_id, corpus_id, "sim", "__cvec")

    out_schema = (
        f"{query_id} long, rank int, {corpus_id} long, "
        "relevance double, mmr_score double"
    )

    def _mmr(pdf):
        import pandas as pd

        pdf = pdf.sort_values(
            ["sim", corpus_id], ascending=[False, True]
        ).reset_index(drop=True)
        vecs = np.array(pdf["__cvec"].tolist(), dtype=np.float64)
        norms = np.maximum(np.linalg.norm(vecs, axis=1, keepdims=True), 1e-300)
        vn = vecs / norms
        rel = pdf["sim"].to_numpy(dtype=np.float64)
        ids = pdf[corpus_id].to_numpy(dtype=np.int64)
        n = len(pdf)
        sims = vn @ vn.T  # pool×pool candidate-candidate cosine
        selected: list[int] = []
        remaining = list(range(n))
        rows = []
        for rank in range(1, min(k, n) + 1):
            if not selected:
                scores = rel.copy()
            else:
                max_sim = sims[:, selected].max(axis=1)
                scores = lam * rel - (1.0 - lam) * max_sim
            best, best_key = None, None
            for i in remaining:
                key = (-scores[i], ids[i])
                if best is None or key < best_key:
                    best, best_key = i, key
            rows.append(
                (
                    int(pdf[query_id].iloc[0]),
                    rank,
                    int(ids[best]),
                    round(float(rel[best]), 6),
                    round(float(scores[best]), 6),
                )
            )
            selected.append(best)
            remaining.remove(best)
        return pd.DataFrame(
            rows,
            columns=[query_id, "rank", corpus_id, "relevance", "mmr_score"],
        )

    from ..functions.udf import _pin_group_width

    return (
        _pin_group_width(grouped, [query_id])
        .groupBy(query_id)
        .applyInPandas(_mmr, out_schema)
    )


# This module ships closures to Python workers; make them self-contained
# (see functions/shipping.py — no package install needed on executors).
from ..functions.shipping import ship_module_by_value as _ship

_ship(__name__)
