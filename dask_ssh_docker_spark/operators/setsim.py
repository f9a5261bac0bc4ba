"""Prefix-filtered set-similarity join (PPJoin-style: prefix + length +
positional filters, array-merge verification).

The scale path for exact-threshold Jaccard pair finding: instead of the
all-pairs inverted-index self-join (quadratic in posting-list length —
``dedup.jaccard_pairs_exact``, the validation-scale baseline), each
document keeps only a short *prefix* of its shingle set under a global
rarity order, and only prefixes are joined.  The prefix-filter theorem
makes this LOSSLESS: if ``J(A,B) ≥ t`` and A's prefix holds its
``|A| − ceil(t·|A|) + 1`` rarest shingles, then A and B must share a
prefix shingle — so the candidate set is a strict superset of the true
pairs and exact verification restores equality.  The registered query's
DuckDB oracle is the all-pairs join, so the driver's value-hash check
proves the two plans produce identical output.

Candidate pruning beyond the prefix (all exact-integer, all lossless):

- **length filter** (in the join condition): ``J ≥ t`` forces
  ``t·max(|A|,|B|) ≤ min(|A|,|B|)``.
- **positional filter** (PPJoin): a match at 1-based rarity positions
  ``(i, j)`` bounds the total overlap by ``1 + min(|A|−i, |B|−j)``; a
  true pair needs overlap ``α = ceil(t·(|A|+|B|)/(1+t))``, and its
  FIRST shared prefix shingle always satisfies the bound — so keeping
  pairs with ≥1 passing match drops no true pair.

Verification joins each surviving pair to the two per-doc shingle-hash
ARRAYS and counts ``array_intersect`` — one row per pair, never the
(pair × shingles) row explosion of a posting-list verify (measured at
sf1: 62M candidates × ~50 shingles ≈ 3.3B intermediate rows; the array
verify moves 62M rows worst case).

Threshold arithmetic is kept in exact integers (``t = t_num/t_den``,
``ceil(t·n) = (t_num·n + t_den − 1) div t_den``): a float ``ceil(0.6·n)``
can round UP past the true bound and silently shrink the prefix below the
lossless minimum.

Shingles are collapsed to 64-bit xxhashes once at the source; the rarity
order is (document frequency, hash).  A hash collision would merge two
shingles' order positions and could perturb one pair's intersection
count by 1; at ~n²/2⁶⁵ odds for corpus-vocabulary n it is negligible,
and candidate generation stays conservative (a collision only ADDS
candidates).

Shape at 100 TB: one vocabulary-bounded aggregation (document
frequencies), ONE groupBy(id) building the rarity-sorted hash array per
doc (prefix extraction is then a map-side ``slice`` + ``posexplode`` —
no window, no global dictionary sort), a prefix×prefix equijoin whose
posting lists are prefix-bounded, and an array-verify join touching
candidate pairs only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .partitioning import pin_compute_width


def setsim_pairs_prefix(
    df: DataFrame,
    text_col: str,
    id_col: str,
    t_num: int,
    t_den: int,
    shingle_k: int = 3,
    broadcast_verify_max_docs: int = 200_000,
) -> DataFrame:
    """(id_a, id_b, jaccard) pairs with ``J ≥ t_num/t_den`` via prefix
    filtering + exact verify.  Output is identical to the all-pairs
    inverted-index join at the same threshold.

    ``broadcast_verify_max_docs``: when the corpus is small enough that
    the per-doc array table is broadcastable (≤ this many docs), the
    verify joins take broadcast hints — the candidate frame then never
    re-shuffles carrying array payloads.  Above the bound the verify
    stays a shuffle join (the 100 TB shape); the decision rides the doc
    count the eager array materialization returns anyway."""
    from .dedup import hashed_shingles

    # Per-doc distinct 64-bit shingle-hash arrays, persisted BEFORE the
    # explode: exploding a computed array column with no materialization
    # boundary re-evaluates the tokenize+shingle expression per OUTPUT
    # row (measured 94 s vs 5.6 s + 0.7 s at sf1) — the cache is the
    # boundary.  The exploded rows themselves are cheap to re-derive from
    # the cached arrays, so they need no persist of their own.
    harr = hashed_shingles(df, text_col, id_col, shingle_k).persist()
    sh2 = harr.select(F.col("__id").alias("id"), F.explode("__sh").alias("__h"))
    # This pipeline's stages are COMPUTE-dense per byte: the few-MB
    # prefix frame explodes to ~35M candidate pairs INSIDE the self-join
    # at sf1, which AQE (sizing by exchange INPUT bytes, under every
    # posture) would coalesce onto 1-2 tasks — measured 8× (161 s vs
    # ~20 s).  pin_compute_width pins the three hot exchanges at the
    # static session width; see its docstring for the full tradeoff.
    # global rarity order = (document frequency asc, shingle hash asc);
    # vocabulary-bounded aggregate, long-keyed join
    sh_df = sh2.groupBy("__h").agg(F.count(F.lit(1)).alias("__df"))
    # ONE shuffle keyed by doc id: the rarity-sorted hash array per doc.
    # array_sort on struct<__df,__h> orders field-lexicographically —
    # exactly the global rarity order.  Persisted: feeds the prefix
    # explode AND both verify sides.
    # NOT pinned: this exchange's input is the full shingle explode —
    # big in BYTES — so AQE sizes it correctly on its own; a static pin
    # here measured ~0.3 s pure overhead at sf0.1 and nothing at sf1
    # (r8 per-site pin A/B).  Only the exchanges whose OUTPUT explodes
    # relative to input (prefix join, pair dedup) need pinning.
    arr = (
        sh2.join(sh_df, "__h")
        .groupBy("id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__df", "__h"))),
                lambda s: s["__h"],
            ).alias("__hs")
        )
        .withColumn("n_sh", F.size("__hs"))
        .persist()
    )
    # materialize now: populates arr's cache for its three consumers,
    # releases the shingle-array cache, and returns the doc count that
    # drives the verify-join strategy
    n_docs = arr.count()
    harr.unpersist()

    # prefix size p = n − ceil(t·n) + 1, in exact integer arithmetic
    ceil_tn = F.floor(
        (F.lit(t_num) * F.col("n_sh") + F.lit(t_den - 1)) / F.lit(t_den)
    )
    p = (F.col("n_sh") - ceil_tn + F.lit(1)).cast("int")
    prefix = arr.select(
        "id",
        "n_sh",
        F.posexplode(F.slice("__hs", 1, p)).alias("__pos0", "__h"),
    ).select("id", "n_sh", (F.col("__pos0") + 1).alias("__pos"), "__h")

    # pin the prefix-join matching width (see pin_compute_width note)
    prefix = pin_compute_width(prefix, "__h")
    a, b = prefix.alias("a"), prefix.alias("b")
    na, nb = F.col("a.n_sh"), F.col("b.n_sh")
    pa, pb = F.col("a.__pos"), F.col("b.__pos")
    # required overlap α = ceil(t·(na+nb)/(1+t)) in exact integers
    alpha = F.floor(
        (F.lit(t_num) * (na + nb) + F.lit(t_num + t_den - 1))
        / F.lit(t_num + t_den)
    )
    cands = (
        a.join(
            b,
            (F.col("a.__h") == F.col("b.__h"))
            & (F.col("a.id") < F.col("b.id"))
            # length filter: t·max(n_a,n_b) ≤ min(n_a,n_b)
            & (F.lit(t_den) * F.least(na, nb) >= F.lit(t_num) * F.greatest(na, nb))
            # positional filter: this match bounds overlap by
            # 1 + min(n_a−i, n_b−j), which must reach α
            & (F.lit(1) + F.least(na - pa, nb - pb) >= alpha),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
    )
    # width-pinned dedup (always — see pin_compute_width): the
    # downstream array verify is broadcast (map-side), so it inherits
    # THIS exchange's partitioning
    cands = pin_compute_width(cands, "id_a", "id_b").dropDuplicates()

    # Exact verification: one row per candidate pair, intersection of the
    # two sorted hash arrays counted in the JVM — no row explosion.
    fa = arr.select(F.col("id").alias("id_a"), F.col("__hs").alias("__ha"))
    fb = arr.select(
        F.col("id").alias("id_b"),
        F.col("__hs").alias("__hb"),
        F.col("n_sh").alias("n_b"),
    )
    if n_docs <= broadcast_verify_max_docs:
        # limit(n_docs) is a no-op on the data (the frame has exactly
        # n_docs rows — just measured) that makes the broadcast's bound
        # visible to the planner and to the forced-broadcast audit in
        # tests/test_plans.py (same recipe as ranking._bucket_offsets)
        fa = F.broadcast(fa.limit(n_docs))
        fb = F.broadcast(fb.limit(n_docs))
    return (
        cands.join(fa, "id_a")
        .join(fb, "id_b")
        # materialize the count through a projection so the intersection
        # is evaluated once, not once per reference
        .withColumn("__nc", F.size(F.array_intersect("__ha", "__hb")))
        .withColumn(
            "__raw",
            F.col("__nc").cast("double")
            / (F.size("__ha") + F.col("n_b") - F.col("__nc")).cast("double"),
        )
        .filter(F.col("__raw") >= F.lit(t_num) / F.lit(t_den))
        .select("id_a", "id_b", F.round("__raw", 6).alias("jaccard"))
    )
