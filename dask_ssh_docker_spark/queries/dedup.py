"""Deduplication queries on the documents table (SURVEY.md §2.H).

- exact + n-gram-Jaccard paths carry full DuckDB oracles;
- MinHash-LSH and SimHash paths hash with Spark-native ``xxhash64`` (no
  DuckDB twin) → registered without oracle (driver rows-only check); their
  correctness is pytest-pinned against the exact-Jaccard baseline in
  ``tests/test_dedup.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import (
    exact_dedup_groups,
    jaccard_pairs_exact,
    minhash_dedup,
    simhash_dedup_pairs,
)
from ..sources import load_table
from ._util import validation_cap
from .registry import query

_NORM = "regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')"
_TOKS = f"string_split({_NORM}, ' ')"
# word 3-shingles, distinct; short docs fall back to whole normalized text
_SHINGLES = f"""
  CASE WHEN len(toks) >= 3
       THEN list_distinct(list_transform(generate_series(0, len(toks)-3),
              i -> concat_ws(' ', toks[i+1], toks[i+2], toks[i+3])))
       ELSE [norm] END
"""


@query(
    "dedup_exact_groups",
    # list_slice mirrors the engine's MEMBER_IDS_CAP=100 readout bound
    # (operators/dedup.py): canonical_id/n_members exact, id readout capped
    oracle=f"""
    SELECT fp,
           MIN(doc_id) AS canonical_id,
           COUNT(*)    AS n_members,
           array_to_string(list_slice(list_sort(list(doc_id)), 1, 100), '|')
             AS member_ids
    FROM (SELECT doc_id, md5({_NORM}) AS fp FROM documents)
    GROUP BY fp
    """,
)
def dedup_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup groups by content hash — only (hash, id) shuffles;
    ``member_ids`` readout bounded at MEMBER_IDS_CAP smallest ids (the
    count stays exact — VERDICT r9 item 1).  Runs the salted window
    shape (HOT_GROUP_SALT): AQE cannot split window partitions, so the
    rank guard over a bare ``fp`` would route a boilerplate group
    through one task's sort; the (fp, salt) window spreads it at ~6%
    uniform-corpus overhead with byte-identical output (VERDICT r10
    residual 1; measured in tools/skew_probe.py claim 3).

    ``member_ids`` is serialized to a '|'-joined string at the query
    boundary (driver canonicalizer cannot hash list cells)."""
    docs = load_table(spark, sf_dir, "documents")
    out = exact_dedup_groups(docs, "text", "doc_id")
    return out.withColumn(
        "member_ids",
        F.array_join(F.transform("member_ids", lambda x: x.cast("string")), "|"),
    )


@query(
    "dedup_jaccard_pairs",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, {_NORM} AS norm, {_TOKS} AS toks FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id, unnest({_SHINGLES}) AS shingle FROM base
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           round(CAST(n_common AS DOUBLE)
                 / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE), 6) AS jaccard
    FROM common
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE CAST(n_common AS DOUBLE)
          / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE) >= 0.35
    """,
    validation_capped=True,
)
def dedup_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs (threshold 0.35) — the
    correctness baseline for the approximate dedup paths.  Input is
    capped at validation scale (``_util.validation_cap``): this query is
    an oracle for the MinHash/SimHash twins, never a 100 TB product."""
    docs = validation_cap(
        load_table(spark, sf_dir, "documents"), "doc_id", "dedup_jaccard_pairs"
    )
    return jaccard_pairs_exact(docs, "text", "doc_id", threshold=0.35)


@query(
    "dedup_clusters_transitive",
    oracle=f"""
    WITH RECURSIVE base AS (
      SELECT doc_id, {_NORM} AS norm, {_TOKS} AS toks FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id, unnest({_SHINGLES}) AS shingle FROM base
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT id_a, id_b
      FROM common
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE CAST(n_common AS DOUBLE)
            / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE) >= 0.35
    ),
    edges AS (
      SELECT id_a AS x, id_b AS y FROM pairs
      UNION ALL
      SELECT id_b AS x, id_a AS y FROM pairs
    ),
    reach(x, lbl) AS (
      SELECT doc_id, doc_id FROM base
      UNION
      SELECT e.x, r.lbl FROM edges e JOIN reach r ON e.y = r.x
    )
    SELECT x AS doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY x
    """,
    validation_capped=True,
)
def dedup_clusters_transitive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive near-dup clusters over the EXACT Jaccard pair graph:
    the engine's iterated min-label connected-components loop
    (``operators/dedup.py:cluster_min_label`` — the identical machinery
    the xxhash64 MinHash path uses, there untestable by SQL) here runs on
    a deterministic edge set, so the full CC semantics — label
    propagation, convergence, singleton handling — are driver-checked
    against a DuckDB recursive-CTE fixpoint.

    Scale: the pair generation is the documented validation-scale
    baseline; the CC loop itself is the 100 TB path (one edge-shuffle per
    round, lazy localCheckpoint lineage cuts materialized by one job per
    convergence-probe block, convergence early-exit).
    ``driver_max_edges=0`` forces the DISTRIBUTED loop here — this query
    is the loop's driver-side evidence; the bounded union-find fast path
    the production pipelines take at validation scale is pytest-pinned
    equal (tests/test_dedup.py)."""
    from ..operators.dedup import cluster_min_label

    docs = validation_cap(
        load_table(spark, sf_dir, "documents"),
        "doc_id",
        "dedup_clusters_transitive",
    )
    pairs = jaccard_pairs_exact(docs, "text", "doc_id", threshold=0.35)
    ids = docs.select(F.col("doc_id").alias("id"))
    out = cluster_min_label(pairs.select("id_a", "id_b"), ids, driver_max_edges=0)
    return out.select(F.col("id").alias("doc_id"), "cluster_id")


@query("dedup_clusters_minhash_cc", oracle=None)
def dedup_clusters_minhash_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-path twin of ``dedup_clusters_transitive``: the SAME
    (doc_id, cluster_id) output, but the connected-components edge set
    comes from the PRODUCTION pipeline — MinHash bands → bucket join →
    exact-Jaccard verify on candidates only — instead of the O(n²)
    all-pairs inverted-index join.  This driver-checks (rows-only; the
    xxhash64 signatures have no DuckDB twin) the full bands → verify → CC
    composition end-to-end; ``tests/test_dedup.py`` pins its clusters
    equal to the all-pairs CC clusters on the test corpus.

    Scale: every stage is the 100 TB shape — |docs|×bands (band_hash, id)
    tuples shuffle, exact Jaccard touches candidates only, and the CC loop
    shuffles one edge set per round, its lazy lineage cuts materialized
    by one job per convergence-probe block."""
    docs = load_table(spark, sf_dir, "documents")
    out = minhash_dedup(docs, "text", "doc_id", threshold=0.35)
    return out.select(F.col("id").alias("doc_id"), "cluster_id").orderBy("doc_id")


@query("dedup_minhash_clusters", oracle=None)
def dedup_minhash_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup clusters (shingle → 32 minhashes → 8 bands →
    bucket join → exact-Jaccard verify ≥0.35 → min-label clusters).
    xxhash64-based — no SQL oracle; pytest-pinned vs the exact baseline."""
    docs = load_table(spark, sf_dir, "documents")
    return minhash_dedup(docs, "text", "doc_id", threshold=0.35).orderBy("id")


# dedup_simhash_pairs (r13: promoted rows-only → hash-checked).  Same
# promotion template as corpus_overlap_minhash (r12): the registry query
# runs the production operator with the CROSS-ENGINE md5_64 token-hash
# family (first 16 md5 hex chars as a signed int64 — Spark
# shiftleft(hi,32)|lo ≡ DuckDB HUGEINT widen + two's-complement fold;
# parity −8070080442485551184 for 'abc'), so the bit-vote signature, the
# 4×16-bit pigeonhole banding, and the exact xor+bit_count verify are
# all bit-reproducible in DuckDB.  Unlike the setsim prefix oracle there
# is no shared-lemma independence concern: with max_hamming=3 ≤ bands−1
# the banded output EQUALS the all-pairs hamming≤3 result (pigeonhole is
# exact, not approximate — pinned in tests/test_dedup.py::
# test_simhash_md5_64_banded_equals_all_pairs), and the oracle's 64
# per-bit SUM aggregates + band join recompute it from the raw text.
# The production xxhash64 default stays pytest-pinned — this query
# proves the algorithm end-to-end.  (A 60-bit/15-bit-band prototype
# halved the band space and ~doubled the zipf wall — BENCH_NOTES r13.)
_SH_BITS, _SH_BANDS, _SH_WIDTH = 64, 4, 16
_SH_MASK = (1 << _SH_WIDTH) - 1
_SH_SUMS = ",\n             ".join(
    f"SUM((h >> {b}) & 1) AS c{b}" for b in range(_SH_BITS)
)
# bit 63 cannot be built as 1<<63 in DuckDB (checked shift overflow) —
# its term is the int64 min literal; the '+' stays in range because bits
# 0..62 sum to at most 2⁶³−1
_SH_SIG_EXPR = "\n           + ".join(
    f"(CASE WHEN 2*c{b} > n THEN (1::BIGINT << {b}) ELSE 0::BIGINT END)"
    for b in range(_SH_BITS - 1)
) + f"""
           + (CASE WHEN 2*c{_SH_BITS - 1} > n
                   THEN (-9223372036854775807 - 1)::BIGINT
                   ELSE 0::BIGINT END)"""


@query(
    "dedup_simhash_pairs",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, {_NORM} AS norm FROM documents
    ),
    h AS (
      SELECT doc_id,
             CAST((CASE WHEN u >= 9223372036854775808 THEN
                          u - 18446744073709551616
                        ELSE u END) AS BIGINT) AS h
      FROM (
        SELECT doc_id,
               CAST(concat('0x', substr(md5(t), 1, 8)) AS BIGINT)::HUGEINT
                 * 4294967296
               + CAST(concat('0x', substr(md5(t), 9, 8)) AS BIGINT) AS u
        FROM (SELECT doc_id, unnest(string_split(norm, ' ')) AS t FROM base)
      )
    ),
    votes AS (
      SELECT doc_id, COUNT(*) AS n,
             {_SH_SUMS}
      FROM h GROUP BY doc_id
    ),
    sig AS (
      SELECT doc_id, {_SH_SIG_EXPR} AS sig
      FROM votes
    ),
    banded AS (
      SELECT doc_id, sig, b.band_idx,
             (sig >> (b.band_idx * {_SH_WIDTH})) & {_SH_MASK} AS band_val
      FROM sig CROSS JOIN (FROM range({_SH_BANDS})) b(band_idx)
    )
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           bit_count(xor(a.sig, b.sig)) AS hamming
    FROM banded a
    JOIN banded b
      ON a.band_idx = b.band_idx AND a.band_val = b.band_val
         AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sig, b.sig)) <= 3
    """,
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (bit-vote signature, 4-band pigeonhole,
    hamming ≤ 3).  r13: the registry variant runs the md5_64 cross-engine
    hash family (64-bit signature, 16-bit bands) so the oracle recomputes
    the identical pairs in DuckDB; the xxhash64 production default is
    pytest-pinned against this algorithm shape."""
    docs = load_table(spark, sf_dir, "documents")
    return simhash_dedup_pairs(
        docs, "text", "doc_id", bits=_SH_BITS, hash_family="md5_64"
    ).orderBy("id_a", "id_b")


@query(
    "setsim_prefix_pairs",
    # The oracle is an INDEPENDENT pure-SQL PPJoin (r11): candidate
    # generation from each doc's n − ⌈t·n⌉ + 1 rarest shingles (prefix
    # lemma holds for ANY consistent global order — DuckDB uses its own
    # (df, shingle) order, not Spark's), then EXACT verification of
    # candidates only.  The former all-pairs shingle self-join oracle is
    # Σc·(c−1)/2-quadratic on any realistic corpus head (measured
    # 3.74B join pairs at zipf-sf10, max occupancy 40,507 → OOM/disk-full
    # in the deep sweep) — the very pathology the operator exists to
    # avoid, so the oracle now avoids it the same published way.
    # Losslessness vs the true all-pairs baseline stays proven where it
    # is feasible: tests/test_setsim.py pins prefix == all-pairs on the
    # corpus AND on boundary-case frames, and dedup_jaccard_pairs keeps
    # the quadratic oracle at validation scale.  Because this oracle
    # shares the prefix LEMMA with the operator, r12 adds a structurally
    # independent sampled-pair THIRD check at zipf-sf1
    # (tests/test_setsim.py::test_sampled_pair_third_check_zipf_sf1):
    # ~20k pairs discovered by a plain Python inverted index, scored by
    # brute-force set Jaccard, swept through the threshold boundary with
    # crafted exact-J=0.35 docs — membership and values must agree with
    # BOTH engines.  Prefix length uses
    # integer arithmetic ((7n+19)//20 = ceil(0.35n)) — no float-boundary
    # membership risk at n multiples of 20.
    oracle=f"""
    WITH base AS (
      SELECT doc_id, {_NORM} AS norm, {_TOKS} AS toks FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id, unnest({_SHINGLES}) AS shingle FROM base
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    freq AS (SELECT shingle, COUNT(*) AS df FROM sh GROUP BY shingle),
    ordered AS (
      SELECT s.doc_id, s.shingle,
             ROW_NUMBER() OVER (PARTITION BY s.doc_id
                                ORDER BY f.df, s.shingle) AS pos,
             z.n_sh
      FROM sh s JOIN freq f USING (shingle) JOIN sizes z USING (doc_id)
    ),
    prefix AS (
      SELECT doc_id, shingle FROM ordered
      WHERE pos <= n_sh - ((7 * n_sh + 19) // 20) + 1
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM prefix a JOIN prefix b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    ),
    common AS (
      SELECT c.id_a, c.id_b, COUNT(*) AS n_common
      FROM cand c
      JOIN sh sa ON sa.doc_id = c.id_a
      JOIN sh sb ON sb.doc_id = c.id_b AND sb.shingle = sa.shingle
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           round(CAST(n_common AS DOUBLE)
                 / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE), 6) AS jaccard
    FROM common
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE CAST(n_common AS DOUBLE)
          / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE) >= 0.35
    """,
    # sf>=1 sweeps route this query to the realistic zipf corpus: the
    # legacy 30-word vocabulary defeats prefix filtering (~n² candidates
    # in BOTH engines — corpus artifact, BENCH_NOTES r10 §1; at sf1 the
    # unrouted PPJoin oracle's verify join spills past the gate bound,
    # ORACLE_SWEEP_SF1_r11.log)
    bench_corpus="zipf",
)
def setsim_prefix_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-filtered set-similarity join (PPJoin filter stage): the
    SCALE path for exact-threshold Jaccard pairs — each doc joins only
    its ``n − ceil(t·n) + 1`` rarest shingles, candidates are verified
    exactly.  Checked against an INDEPENDENT pure-SQL PPJoin oracle
    (r11 — DuckDB's own global order and join strategy; the former
    all-pairs oracle is Σc² -quadratic on realistic corpora, see the
    oracle comment).  Losslessness vs the true all-pairs baseline is
    proven where feasible: tests/test_setsim.py pins prefix == all-pairs
    on the corpus and on boundary-case frames.

    Scale: shuffled volume is prefix-bounded posting lists + candidate
    verification, vs the baseline's full posting-list self-join; the
    rarity order needs no global dictionary sort (per-doc window over
    (shingle document frequency, shingle)).  See ``operators/setsim.py``."""
    from ..operators.setsim import setsim_pairs_prefix

    docs = load_table(spark, sf_dir, "documents")
    return setsim_pairs_prefix(docs, "text", "doc_id", t_num=7, t_den=20)


# Connected components for the canonical-survivors oracle WITHOUT
# `WITH RECURSIVE`: DuckDB (1.0) materializes EVERY CTE in a clause that
# contains a recursive member, so the shingle/prefix/candidate
# intermediates that stream fine in the plain setsim oracle spilled the
# disk full at zipf-sf10 (measured twice in the r12 deep sweep).  Min-label
# propagation is instead UNROLLED as plain CTE rounds with pointer
# jumping — round k takes min(own, neighbors' labels, label-of-label), so
# R rounds converge for any min-label hop distance ≤ 2^R; near-dup
# components are tiny (zipf-sf10: largest 8 members, Σc² ≈ 1e5, measured),
# and non-convergence is made LOUD, not silent: a poison row (-1 ids) is
# emitted per unconverged node, failing the row-count/hash compare.
_CC_ROUNDS = 8


def _cc_rounds_sql(rounds: int = _CC_ROUNDS) -> str:
    parts = []
    for k in range(1, rounds + 1):
        p = f"l{k - 1}"
        parts.append(
            f""",
    l{k} AS MATERIALIZED (
      SELECT m.x,
             LEAST(m.lbl,
                   COALESCE(nb.minn, m.lbl),
                   COALESCE(pj.lbl, m.lbl)) AS lbl
      FROM {p} m
      LEFT JOIN (SELECT ed.x, MIN(l.lbl) AS minn
                 FROM ed JOIN {p} l ON l.x = ed.y GROUP BY ed.x) nb
        ON nb.x = m.x
      LEFT JOIN {p} pj ON pj.x = m.lbl
    )"""
        )
    return "".join(parts)


@query(
    "dedup_canonical_survivors",
    # r12 (VERDICT r11 item 6): promoted rows-only → hash-checked.  The
    # pair graph is the LOSSLESS prefix-filter join (exact J ≥ 0.35 —
    # same candidate SQL as the setsim_prefix_pairs PPJoin oracle), so
    # the cluster structure is a pure function of the data: connected
    # components by min-reachable-id (unrolled pointer-jumping rounds —
    # see _cc_rounds_sql for why not WITH RECURSIVE), then the survivor
    # rule as a ROW_NUMBER pick (longest n_chars, tie → smallest id) —
    # the same total order Spark's max_by(struct(n_chars, −id)) takes.
    # ``sh``/``sizes`` carry explicit MATERIALIZED markers: in this
    # multi-stage query DuckDB 1.0 otherwise INLINES the 26M-row shingle
    # pipeline into each of its reference sites and executes the copies
    # concurrently — their grouped hash tables together blow past the
    # memory limit and spilled >70 GB (disk-full) at zipf-sf10, where the
    # single-pass setsim oracle with the identical pipeline spills zero.
    # Materialized once: 79 s, zero spill, 0 unconverged (measured).
    oracle=f"""
    WITH base AS (
      SELECT doc_id, {_NORM} AS norm, {_TOKS} AS toks FROM documents
    ),
    sh AS MATERIALIZED (
      SELECT DISTINCT doc_id, unnest({_SHINGLES}) AS shingle FROM base
    ),
    sizes AS MATERIALIZED (
      SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id
    ),
    freq AS (SELECT shingle, COUNT(*) AS df FROM sh GROUP BY shingle),
    ordered AS (
      SELECT s.doc_id, s.shingle,
             ROW_NUMBER() OVER (PARTITION BY s.doc_id
                                ORDER BY f.df, s.shingle) AS pos,
             z.n_sh
      FROM sh s JOIN freq f USING (shingle) JOIN sizes z USING (doc_id)
    ),
    prefix AS (
      SELECT doc_id, shingle FROM ordered
      WHERE pos <= n_sh - ((7 * n_sh + 19) // 20) + 1
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM prefix a JOIN prefix b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    ),
    common AS (
      SELECT c.id_a, c.id_b, COUNT(*) AS n_common
      FROM cand c
      JOIN sh sa ON sa.doc_id = c.id_a
      JOIN sh sb ON sb.doc_id = c.id_b AND sb.shingle = sa.shingle
      GROUP BY 1, 2
    ),
    pairs AS MATERIALIZED (
      SELECT id_a, id_b FROM common
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE CAST(n_common AS DOUBLE)
            / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE) >= 0.35
    ),
    ed AS MATERIALIZED (
      SELECT id_a AS x, id_b AS y FROM pairs
      UNION ALL SELECT id_b, id_a FROM pairs
    ),
    l0 AS MATERIALIZED (SELECT doc_id AS x, doc_id AS lbl FROM documents)
    {_cc_rounds_sql()},
    labels AS (
      SELECT x AS doc_id, lbl AS cluster_id FROM l{_CC_ROUNDS}
    ),
    unconverged AS (
      SELECT a.x FROM l{_CC_ROUNDS} a
      JOIN l{_CC_ROUNDS - 1} b ON a.x = b.x AND a.lbl <> b.lbl
    ),
    ranked AS (
      SELECT l.doc_id, l.cluster_id,
             ROW_NUMBER() OVER (PARTITION BY l.cluster_id
                                ORDER BY d.n_chars DESC, l.doc_id ASC) AS rn
      FROM labels l JOIN documents d USING (doc_id)
    ),
    surv AS (SELECT cluster_id, doc_id AS survivor_doc_id FROM ranked WHERE rn = 1)
    SELECT l.doc_id, l.cluster_id, s.survivor_doc_id,
           (l.doc_id = s.survivor_doc_id) AS keep
    FROM labels l JOIN surv s USING (cluster_id)
    UNION ALL
    SELECT CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), NULL
    FROM unconverged
    """,
    # same corpus pathology as setsim_prefix_pairs: the legacy 30-word
    # vocabulary defeats prefix filtering at sf>=1 (~n² candidates in
    # both engines) — route sweeps to the realistic zipf corpus
    bench_corpus="zipf",
)
def dedup_canonical_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The step AFTER clustering that an actual dedup pipeline ships:
    pick one canonical survivor per near-dup cluster and tag every other
    member as a casualty.  Survivor rule: longest document wins
    (``n_chars`` desc), ties on smallest ``doc_id`` — deterministic under
    any partitioning.  Output: (doc_id, cluster_id, survivor_doc_id,
    keep) for every doc; singleton clusters keep their only member.

    Composition (r12): LOSSLESS prefix-filtered set-similarity join at
    J ≥ 0.35 (``operators/setsim.py`` — output identical to the
    all-pairs join, so the cluster graph is exact-threshold
    deterministic and the DuckDB oracle above reproduces it with a
    recursive-CTE connected components) → min-label connected
    components → survivor selection as a ``max_by`` AGGREGATION over
    the cluster key.  The minhash-clustered (probabilistic-recall)
    variant of this pipeline stays covered by
    ``dedup_clusters_minhash_cc`` / ``dedup_minhash_clusters``
    (rows-only by design).  ``tests/test_wave7.py`` additionally pins
    survivor-per-cluster uniqueness, rule correctness, and keep-set =
    cluster-count invariants.

    Scale: survivor selection was a cluster-keyed ranking WINDOW — the
    same one-task-per-hot-group shape the r11 skew probe measured for
    exact dedup (AQE cannot split window partitions; a boilerplate
    cluster with millions of members = one task's sort).  ``max_by(id,
    struct(n_chars, -id))`` computes the identical survivor (longest
    doc, tie → smallest id: lexicographic struct max) as a map-side-
    combinable aggregate — every map task reduces its slice of a hot
    cluster to ONE candidate row before the shuffle, so no task ever
    sees a cluster's row volume and the sort disappears entirely.  One
    tiny (cluster_id, survivor) frame joins back to the (id, n_chars)
    membership; bodies never move."""
    from ..operators.dedup import cluster_min_label
    from ..operators.setsim import setsim_pairs_prefix

    docs = load_table(spark, sf_dir, "documents")
    pairs = setsim_pairs_prefix(docs, "text", "doc_id", 7, 20)
    ids = docs.select(F.col("doc_id").alias("id"))
    clusters = cluster_min_label(pairs.select("id_a", "id_b"), ids)
    sized = clusters.join(
        docs.select(F.col("doc_id").alias("id"), "n_chars"), "id"
    )
    # survivor via max_by over struct(n_chars, -id): lexicographic max =
    # longest doc, tie -> smallest id — identical to the former ranking
    # window, but map-side combinable (no per-cluster sort task)
    surv = sized.groupBy("cluster_id").agg(
        F.max_by(
            F.col("id"), F.struct(F.col("n_chars"), (-F.col("id")).alias("nid"))
        ).alias("survivor_doc_id")
    )
    return (
        sized.join(surv, "cluster_id")
        .select(
            F.col("id").alias("doc_id"),
            "cluster_id",
            "survivor_doc_id",
            (F.col("id") == F.col("survivor_doc_id")).alias("keep"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Exact-substring duplicate spans (Lee et al. 2022 re-expressed as k-gram
# fingerprinting — operators/substring.py).  stride=1 → exact: the oracle
# regenerates every gram in SQL and must agree span-for-span.  The Spark
# side keys on a 2×xxhash64 gram fingerprint (bodies/grams never shuffle);
# the oracle groups the gram text itself — identical output unless a
# 128-bit collision occurs (~n²/2¹²⁸).
# ---------------------------------------------------------------------------

_SUBSTR_K = 40

_SUBSTR_SPANS_SQL = f"""
    WITH norm AS (
      SELECT doc_id, {_NORM} AS t FROM documents
    ),
    positions AS (
      SELECT doc_id, t,
             unnest(generate_series(1, length(t) - {_SUBSTR_K - 1}, 1)) AS pos
      FROM norm
    ),
    grams AS (
      SELECT doc_id, CAST(pos AS BIGINT) AS pos,
             substr(t, CAST(pos AS BIGINT), {_SUBSTR_K}) AS g
      FROM positions
    ),
    dup AS (SELECT g FROM grams GROUP BY g HAVING COUNT(*) > 1),
    marked AS (SELECT doc_id, pos FROM grams WHERE g IN (SELECT g FROM dup)),
    islands AS (
      SELECT doc_id, pos,
             pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
      FROM marked
    ),
    spans AS (
      SELECT doc_id,
             MIN(pos)                    AS span_start,
             MAX(pos) + {_SUBSTR_K - 1}  AS span_end,
             COUNT(*)                    AS n_grams
      FROM islands GROUP BY doc_id, grp
    )
"""


@query(
    "dedup_substring_spans",
    oracle=_SUBSTR_SPANS_SQL
    + """
    SELECT doc_id,
           CAST(span_start AS BIGINT) AS span_start,
           CAST(span_end   AS BIGINT) AS span_end,
           CAST(span_end - span_start + 1 AS BIGINT) AS span_len,
           n_grams
    FROM spans
    """,
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal duplicated character regions (k=40-gram occurs ≥2 times
    corpus-wide), merged per doc with the gaps-and-islands window."""
    from ..operators.substring import substring_duplicate_spans

    docs = load_table(spark, sf_dir, "documents")
    return substring_duplicate_spans(docs, "text", "doc_id", k=_SUBSTR_K)


@query(
    "dedup_substring_dupfrac",
    oracle=_SUBSTR_SPANS_SQL
    + f"""
    , flagged AS (
      SELECT doc_id, span_start, span_end,
             CASE WHEN MAX(span_end) OVER (
                    PARTITION BY doc_id ORDER BY span_start, span_end
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                  ) IS NULL
                  OR span_start > MAX(span_end) OVER (
                    PARTITION BY doc_id ORDER BY span_start, span_end
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                  )
             THEN 1 ELSE 0 END AS newgrp
      FROM spans
    ),
    grouped AS (
      SELECT doc_id, span_start, span_end,
             SUM(newgrp) OVER (
               PARTITION BY doc_id ORDER BY span_start, span_end
             ) AS grp
      FROM flagged
    ),
    merged AS (
      SELECT doc_id, MIN(span_start) AS s, MAX(span_end) AS e
      FROM grouped GROUP BY doc_id, grp
    ),
    cov AS (
      SELECT doc_id, SUM(e - s + 1) AS dup_chars FROM merged GROUP BY doc_id
    )
    SELECT n.doc_id,
           CAST(COALESCE(cov.dup_chars, 0) AS BIGINT) AS dup_chars,
           CAST(length(n.t) AS BIGINT)                AS n_chars,
           round(COALESCE(cov.dup_chars, 0) * 1.0 / length(n.t), 6) AS dup_frac
    FROM norm n LEFT JOIN cov ON n.doc_id = cov.doc_id
    """,
)
def dedup_substring_dupfrac(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc duplicated-character fraction for EVERY document — the
    threshold metric pipelines gate on (spans merged as intervals first,
    since adjacent islands' k−1-char tails can overlap)."""
    from ..operators.substring import substring_dup_stats

    docs = load_table(spark, sf_dir, "documents")
    return substring_dup_stats(docs, "text", "doc_id", k=_SUBSTR_K)


# --- winnow oracle (promoted rows-only → hash, r13) -----------------------
#
# The numpy hash scheme of operators/substring.py::winnow_fingerprints IS
# replicable in SQL: it is a mod-2⁶⁴ polynomial over the normalized text's
# code points, xor-shift-multiply finalized.  The oracle recomputes it
# EXACTLY in DuckDB with HUGEINT split-multiplies (a·b mod 2⁶⁴ via 32-bit
# halves — a full 64×64 product overflows INT128) and an O(n) prefix-sum
# rolling form: h(p) = (S(p+k−1) − S(p−1)) · P^(p+k−1) where
# S(m) = Σ_{i≤m} code[i]·P^(−i) mod 2⁶⁴ — P is odd, hence invertible mod
# 2⁶⁴, so the per-position k-term sum collapses to two window lookups
# (the naive 40-term form measured 36 s/family at sf1; this form ~3 s).
# Robust-winnowing selection (rightmost argmin per w-window, Schleimer
# et al. 2003 §4) uses a NEIGHBORHOOD characterization instead of
# enumerating the ≤w windows per position (which blows up to w·n rows —
# 1.2 G at zipf-sf10): p is the rightmost argmin of SOME window iff a
# window start s exists with no strictly-smaller hash in [s, p−1] and no
# ≤-hash in (p, s+w−1]; with d_left = run of ≥-hashes immediately left
# and d_right = run of >-hashes immediately right (both read from w−1
# element list-frames), that is GREATEST(1, p−w+1, p−d_left) ≤
# LEAST(p, n−w+1, p+d_right−w+1).  Fuzz-verified against the brute
# per-window argmin over 300 random tie-heavy corpora (incl. n < w).
# Detection matches on the (fp, fp2) pair, islands with gap w+k−1,
# identical to the Spark shape.
# Single-stream CTE chain (no self-joins: DuckDB inlines CTEs per
# consumer — BENCH_NOTES r12 §4); `selected` is MATERIALIZED (two
# consumers); the recursive power table is bounded by a MATERIALIZED
# max-raw-length (normalization never lengthens), or the bound subquery
# re-runs the normalize regex per recursion step (measured 402 s at sf1).

_WINNOW_W = 8
_W_P1 = 1099511628211
_W_P2 = 0x100000001B3 ^ 0xA5A5A5A5A5A5A5A4
_W_MIX1, _W_MIX2 = 0xFF51AFD7ED558CCD, 0xC4CEB9FE1A85EC53
_W_MOD = 1 << 64


def _mulmod64(a: str, b) -> str:
    """SQL: (a·b) mod 2⁶⁴ for HUGEINT operands < 2⁶⁴, split into 32-bit
    halves so no intermediate exceeds INT128.  Shift/bitand instead of
    div/mod — INT128 division is the hot op at sweep scale (measured
    38× on a 15M-row column: 3.45 s → 0.09 s, identical results;
    DuckDB bitand is two's-complement so it doubles as an exact
    non-negative mod 2⁶⁴)."""
    return (
        f"((((({a}) >> 32) * ({b}) & 4294967295) << 32)"
        f" + (({a}) & 4294967295) * ({b})) & 18446744073709551615"
    )


def _winnow_oracle_sql(k: int = _SUBSTR_K, w: int = _WINNOW_W) -> str:
    inv1, inv2 = pow(_W_P1, -1, _W_MOD), pow(_W_P2, -1, _W_MOD)
    m = _mulmod64
    return f"""
WITH RECURSIVE bound AS MATERIALIZED (
  SELECT COALESCE(MAX(length(text)), 0) + {k} AS m FROM documents
),
pows(pi, pa, ia, pb, ib) AS (
  SELECT 0, 1::HUGEINT, 1::HUGEINT, 1::HUGEINT, 1::HUGEINT
  UNION ALL
  SELECT pi + 1, {m('pa', _W_P1)}, {m('ia', inv1)},
         {m('pb', _W_P2)}, {m('ib', inv2)}
  FROM pows WHERE pi < (SELECT m FROM bound)
),
norm AS (SELECT doc_id, {_NORM} AS t FROM documents),
chars AS (
  SELECT doc_id, length(t) - {k - 1} AS n,
         unnest(generate_series(1, length(t))) AS i,
         CAST(unicode(unnest(string_split(t, ''))) AS HUGEINT) AS c
  FROM norm WHERE length(t) >= {k}
),
terms AS (
  SELECT doc_id, n, i, {m('c', 'ia')} AS ta, {m('c', 'ib')} AS tb, pa, pb
  FROM chars JOIN pows ON pows.pi = chars.i
),
prefix AS (
  SELECT doc_id, n, i AS pos, pa, pb,
         SUM(ta) OVER (PARTITION BY doc_id ORDER BY i) AS sa,
         SUM(tb) OVER (PARTITION BY doc_id ORDER BY i) AS sb
  FROM terms
),
diffs AS (
  SELECT doc_id, n, pos,
         (LEAD(sa, {k - 1}) OVER dw - COALESCE(LAG(sa, 1) OVER dw, 0))
           & 18446744073709551615 AS da,
         (LEAD(sb, {k - 1}) OVER dw - COALESCE(LAG(sb, 1) OVER dw, 0))
           & 18446744073709551615 AS db,
         LEAD(pa, {k - 1}) OVER dw AS pae,
         LEAD(pb, {k - 1}) OVER dw AS pbe
  FROM prefix
  WINDOW dw AS (PARTITION BY doc_id ORDER BY pos)
),
h0 AS (
  SELECT doc_id, n, pos,
         CAST({m('da', 'pae')} AS UBIGINT) AS ha,
         CAST({m('db', 'pbe')} AS UBIGINT) AS hb
  FROM diffs WHERE pos <= n
),
f1 AS (
  SELECT doc_id, n, pos, xor(ha, ha >> 33) AS ua, xor(hb, hb >> 33) AS ub
  FROM h0
),
f2 AS (
  SELECT doc_id, n, pos,
         CAST({m('CAST(ua AS HUGEINT)', _W_MIX1)} AS UBIGINT) AS ua2,
         CAST({m('CAST(ub AS HUGEINT)', _W_MIX2)} AS UBIGINT) AS ub2
  FROM f1
),
hashes AS (
  SELECT doc_id, n, pos,
         xor(ua2, ua2 >> 33) AS hu, xor(ub2, ub2 >> 33) AS hu2
  FROM f2
),
neigh AS (
  SELECT doc_id, pos, n, hu, hu2, LEAST({w}, n) AS we,
         list(hu) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN {w - 1} PRECEDING AND 1 PRECEDING) AS lh,
         list(hu) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN 1 FOLLOWING AND {w - 1} FOLLOWING) AS rh
  FROM hashes
),
dists AS (
  SELECT doc_id, pos, n, hu, hu2, we,
         COALESCE(NULLIF(list_position(
             list_transform(list_reverse(lh), x -> x < hu), true), 0) - 1,
           len(lh), 0) AS d_left,
         COALESCE(NULLIF(list_position(
             list_transform(rh, x -> x <= hu), true), 0) - 1,
           len(rh), 0) AS d_right
  FROM neigh
),
selected AS MATERIALIZED (
  SELECT doc_id, pos, hu, hu2
  FROM dists
  WHERE GREATEST(1, pos - we + 1, pos - d_left)
        <= LEAST(pos, n - we + 1, pos + d_right - we + 1)
),
dupkeys AS (
  SELECT hu, hu2 FROM selected GROUP BY hu, hu2 HAVING COUNT(*) >= 2
),
marked AS (
  SELECT s.doc_id, s.pos FROM selected s SEMI JOIN dupkeys d USING (hu, hu2)
),
flagged AS (
  SELECT doc_id, pos,
         CASE WHEN LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
              OR pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                 > {w + k - 1}
         THEN 1 ELSE 0 END AS newgrp
  FROM marked
),
grouped AS (
  SELECT doc_id, pos,
         SUM(newgrp) OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM flagged
)
SELECT doc_id,
       CAST(MIN(pos) AS BIGINT) AS span_start,
       CAST(MAX(pos) + {k - 1} AS BIGINT) AS span_end,
       CAST(MAX(pos) + {k - 1} - MIN(pos) + 1 AS BIGINT) AS span_len,
       COUNT(*) AS n_fps
FROM grouped GROUP BY doc_id, grp
"""


@query("dedup_winnow_spans", oracle=_winnow_oracle_sql())
def dedup_winnow_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowed (MOSS, Schleimer et al. 2003) duplicate spans — the 100 TB
    shape: ~w×-fewer fingerprints shuffle than stride-1 grams with a
    guaranteed catch of any common substring ≥ k+w−1.  Promoted to
    hash-checked in r13: the DuckDB oracle recomputes the exact numpy
    polynomial-hash pipeline via an O(n) modular-inverse prefix-sum (see
    _winnow_oracle_sql); selection density, stride-1 parity and the
    detection guarantee stay pytest-pinned (tests/test_substring.py)."""
    from ..operators.substring import winnow_duplicate_spans

    docs = load_table(spark, sf_dir, "documents")
    return winnow_duplicate_spans(
        docs, "text", "doc_id", k=_SUBSTR_K, window=_WINNOW_W
    )


@query(
    "dedup_substring_excise",
    oracle=f"""
    WITH norm AS (
      SELECT doc_id, {_NORM} AS t FROM documents
    ),
    positions AS (
      SELECT doc_id, t,
             unnest(generate_series(1, length(t) - {_SUBSTR_K - 1}, 1)) AS pos
      FROM norm
    ),
    grams AS (
      SELECT doc_id, CAST(pos AS BIGINT) AS pos,
             substr(t, CAST(pos AS BIGINT), {_SUBSTR_K}) AS g
      FROM positions
    ),
    ranked AS (
      SELECT doc_id, pos,
             ROW_NUMBER() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rn,
             COUNT(*)    OVER (PARTITION BY g)                       AS n
      FROM grams
    ),
    marked AS (SELECT doc_id, pos FROM ranked WHERE n >= 2 AND rn >= 2),
    islands AS (
      SELECT doc_id, pos,
             pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
      FROM marked
    ),
    spans AS (
      SELECT doc_id, MIN(pos) AS span_start,
             MAX(pos) + {_SUBSTR_K - 1} AS span_end
      FROM islands GROUP BY doc_id, grp
    ),
    flagged AS (
      SELECT doc_id, span_start, span_end,
             CASE WHEN MAX(span_end) OVER (
                    PARTITION BY doc_id ORDER BY span_start, span_end
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                  ) IS NULL
                  OR span_start > MAX(span_end) OVER (
                    PARTITION BY doc_id ORDER BY span_start, span_end
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                  )
             THEN 1 ELSE 0 END AS newgrp
      FROM spans
    ),
    grouped AS (
      SELECT doc_id, span_start, span_end,
             SUM(newgrp) OVER (
               PARTITION BY doc_id ORDER BY span_start, span_end
             ) AS grp
      FROM flagged
    ),
    merged AS (
      SELECT doc_id, MIN(span_start) AS s, MAX(span_end) AS e
      FROM grouped GROUP BY doc_id, grp
    ),
    keeps AS (
      SELECT doc_id,
             COALESCE(LAG(e) OVER (PARTITION BY doc_id ORDER BY s), 0) + 1 AS ks,
             s - 1 AS ke
      FROM merged
      UNION ALL
      SELECT m.doc_id, MAX(m.e) + 1 AS ks, MAX(length(n.t)) AS ke
      FROM merged m JOIN norm n ON m.doc_id = n.doc_id
      GROUP BY m.doc_id
    ),
    clean AS (
      SELECT k.doc_id,
             string_agg(
               CASE WHEN k.ke >= k.ks
                    THEN substr(n.t, CAST(k.ks AS BIGINT),
                                CAST(k.ke - k.ks + 1 AS BIGINT))
                    ELSE '' END, '' ORDER BY k.ks) AS clean_text
      FROM keeps k JOIN norm n ON k.doc_id = n.doc_id
      GROUP BY k.doc_id
    ),
    removed AS (
      SELECT doc_id, SUM(e - s + 1) AS removed_chars FROM merged GROUP BY doc_id
    )
    SELECT n.doc_id,
           COALESCE(c.clean_text, n.t) AS clean_text,
           CAST(length(n.t) AS BIGINT) AS n_chars,
           CAST(COALESCE(r.removed_chars, 0) AS BIGINT) AS removed_chars
    FROM norm n
    LEFT JOIN clean c ON n.doc_id = c.doc_id
    LEFT JOIN removed r ON n.doc_id = r.doc_id
    """,
)
def dedup_substring_excise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus cleaning: excise every duplicated k=40-gram occurrence
    except the lexicographically-first (doc_id, pos) owner per gram —
    exactly one copy of each duplicated region survives corpus-wide
    (Lee et al. 2022 'remove all but one occurrence')."""
    from ..operators.substring import substring_excise_duplicates

    docs = load_table(spark, sf_dir, "documents")
    return substring_excise_duplicates(docs, "text", "doc_id", k=_SUBSTR_K)


@query(
    "dedup_incremental_bloom",
    oracle=f"""
    WITH hist AS (
      SELECT md5({_NORM}) AS fp FROM documents WHERE doc_id % 2 = 0
    ),
    incoming AS (
      SELECT doc_id, md5({_NORM}) AS fp FROM documents WHERE doc_id % 2 = 1
    )
    SELECT doc_id, fp FROM incoming
    WHERE fp NOT IN (SELECT fp FROM hist)
    """,
)
def dedup_incremental_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup of an incoming batch against a historical corpus
    (even doc_ids = history, odd = incoming): keep incoming docs whose
    content fingerprint is NEW.

    Scale path (``operators/bloomjoin.py:bloom_anti_join``): a bloom
    bitmap of the historical fingerprints is broadcast to the incoming
    scan; rows failing any probe are definitely-new and never shuffle —
    only the maybe-duplicate sliver pays the exact anti-join exchange.
    The exact verify clears bloom false positives, so the result equals
    the plain anti join bit-for-bit (hence the full SQL oracle)."""
    from ..functions.text import md5_fingerprint
    from ..operators.bloomjoin import bloom_anti_join

    docs = load_table(spark, sf_dir, "documents")
    hist = docs.filter(F.col("doc_id") % 2 == 0).select(
        md5_fingerprint("text").alias("fp")
    )
    incoming = docs.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id", md5_fingerprint("text").alias("fp")
    )
    return bloom_anti_join(incoming, hist, "fp", "fp").select("doc_id", "fp")


@query(
    "corpus_overlap_sources",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, source, {_NORM} AS norm, {_TOKS} AS toks FROM documents
    ),
    sh AS (
      SELECT DISTINCT source, unnest({_SHINGLES}) AS shingle FROM base
    ),
    sizes AS (SELECT source, COUNT(*) AS n_sh FROM sh GROUP BY source),
    common AS (
      SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT src_a, src_b, n_common,
           round(CAST(n_common AS DOUBLE)
                 / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE), 6) AS jaccard,
           round(CAST(n_common AS DOUBLE)
                 / CAST(LEAST(sa.n_sh, sb.n_sh) AS DOUBLE), 6) AS containment
    FROM common
    JOIN sizes sa ON sa.source = src_a
    JOIN sizes sb ON sb.source = src_b
    """,
)
def corpus_overlap_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source corpus overlap: exact shingle-set Jaccard and
    containment per source pair — the "how much of source B is already
    in source A" audit that decides whether a new crawl adds anything.

    Scale shape: NO self-join — the corpus collapses to one
    vocabulary-keyed aggregate of (shingle → sorted source set), and
    every downstream quantity derives from that one frame map-side:
    pair counts explode each set's C(s,2) ordered pairs (s is bounded
    by |sources|, human-scale), per-source sizes explode the sets
    themselves.  Shingle TEXT shuffles exactly once (into the distinct);
    after that only source names move.  (The estimation-grade sibling
    is a per-source MinHash signature if even one vocabulary aggregate
    is too much.)"""
    from ..functions.text import word_shingles_exploded

    docs = load_table(spark, sf_dir, "documents")
    sh = word_shingles_exploded(
        docs, "text", "doc_id", 3, extra_cols=("source",)
    ).select("source", "shingle")
    # one row per shingle: the sorted set of sources containing it —
    # collect_set IS the distinct (no separate distinct() shuffle).  Both
    # consumers below sit on this aggregate's exchange; their subtrees
    # are canonically identical (both prune to `ss` alone), so AQE's
    # stage cache runs the tokenize→shingle→shuffle once and each branch
    # re-reads the map output (plan-pinned: ReusedExchange in the
    # executed plan).  r10: this replaced a lazy localCheckpoint — at
    # cluster scale a checkpoint of a corpus-scale frame is an extra
    # executor-local materialization AND a fault barrier (lost executor
    # = unrecoverable job, the lineage is cut), while reused shuffle
    # output recomputes; measured par at sf1 (4.6-5.8 s both shapes).
    srcs = (
        sh.groupBy("shingle")
        .agg(F.sort_array(F.collect_set("source")).alias("ss"))
        .select("ss")
    )
    sizes = (
        srcs.select(F.explode("ss").alias("source"))
        .groupBy("source")
        .agg(F.count("*").alias("n_sh"))
    )
    # all ordered pairs within each source set: (x_i, y_j) for i < j
    pair_expr = F.flatten(
        F.transform(
            "ss",
            lambda x, i: F.transform(
                F.slice("ss", i + F.lit(2), F.size("ss")),
                lambda y: F.struct(x.alias("src_a"), y.alias("src_b")),
            ),
        )
    )
    common = (
        srcs.select(F.explode(pair_expr).alias("p"))
        .groupBy(F.col("p.src_a").alias("src_a"), F.col("p.src_b").alias("src_b"))
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("source").alias("src_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("source").alias("src_b"), F.col("n_sh").alias("n_b"))
    # sizes is a GROUPED aggregate (|sources| rows) — per the repo
    # broadcast policy it is never force-hinted; AQE broadcasts it at
    # any realistic source cardinality and shuffle-joins past the
    # threshold (plan-swept by tests/test_plans.py)
    return (
        common.join(sa, "src_a")
        .join(sb, "src_b")
        .select(
            "src_a",
            "src_b",
            "n_common",
            F.round(
                F.col("n_common").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double"),
                6,
            ).alias("jaccard"),
            F.round(
                F.col("n_common").cast("double")
                / F.least("n_a", "n_b").cast("double"),
                6,
            ).alias("containment"),
        )
    )


@query("dedup_semantic_semdedup", oracle=None)
def dedup_semantic_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup semantic dedup over the embeddings table (Abbas et al.
    2023): k-means clusters (k=16, deterministic seeded Lloyd's), then a
    greedy within-cluster cosine prune at tau=0.95 — ``keep`` marks the
    survivor set, ``max_sim`` the similarity that condemned a dropped
    row.  k-means is not SQL-expressible → rows-only here; the survivor
    semantics are pytest-pinned against a pure-numpy reference and
    property-checked (survivors pairwise < tau; every drop has a kept
    cluster-mate ≥ tau) in ``tests/test_semdedup.py``."""
    from ..operators.semdedup import semdedup

    emb = load_table(spark, sf_dir, "embeddings")
    out = semdedup(emb, "vec_id", "embedding", k=16, tau=0.95, iters=3)
    return out.select(
        "vec_id", "cluster_id", "keep", F.round("max_sim", 6).alias("max_sim")
    )


# ---------------------------------------------------------------------------
# corpus_overlap_minhash (r12: promoted rows-only → hash-checked, VERDICT
# r11 item 6).  The hash family is now CROSS-ENGINE: one md5 per shingle
# (identical hex in Spark and DuckDB), its first 15 hex chars parsed to a
# 60-bit int (Spark ``conv(·,16,10)`` ≡ DuckDB ``cast('0x'||· as bigint)``,
# parity probed: 648541476951500027 for 'abc' in both), then H=128
# universal-hash mixes ``(aᵢ·(h mod P) + bᵢ) mod P`` over the Mersenne
# prime P=2³¹−1 — all int64 arithmetic both engines perform identically
# (products ≤ 2⁶² — no overflow, which DuckDB would raise on).  The
# estimate is therefore bit-identical across engines and the oracle is
# real SQL, while the operator keeps the exact minhash scale shape: ONE
# map-side-combined aggregate computes all 128 minima per source.
# Seeds are fixed literals shared by both code paths.
# ---------------------------------------------------------------------------

_MH_H = 128
_MH_P = (1 << 31) - 1  # Mersenne prime 2^31-1
# deterministic seed pairs; Knuth multiplicative constant keeps aᵢ well
# spread, +1 keeps every aᵢ nonzero mod P
_MH_AB = [
    (((2 * i + 1) * 2654435761 + 1) % _MH_P, (i * 40503 + 12345) % _MH_P)
    for i in range(_MH_H)
]

# seed table as VALUES rows — a 128-term inline expression trips DuckDB's
# binder recursion limit, so the oracle aggregates per (source, seed) row
_MH_SEED_VALUES = ", ".join(f"({i}, {a}, {b})" for i, (a, b) in enumerate(_MH_AB))


@query(
    "corpus_overlap_minhash",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, source, {_NORM} AS norm, {_TOKS} AS toks FROM documents
    ),
    sh AS (
      SELECT source, unnest({_SHINGLES}) AS shingle FROM base
    ),
    hashed AS (
      -- DISTINCT before the 128-seed expansion: MIN over the set equals
      -- MIN over the multiset, and the cross join below multiplies rows
      -- by 128 (measured 17.3 s -> this cut at sf1)
      SELECT DISTINCT source,
             CAST(concat('0x', substr(md5(shingle), 1, 15)) AS BIGINT)
               % {_MH_P} AS hm
      FROM sh
    ),
    seeds AS (SELECT * FROM (VALUES {_MH_SEED_VALUES}) t(i, a, b)),
    mins AS (
      SELECT h.source, s.i, MIN((s.a * h.hm + s.b) % {_MH_P}) AS m
      FROM hashed h CROSS JOIN seeds s
      GROUP BY h.source, s.i
    )
    SELECT a.source AS src_a, b.source AS src_b,
           round(CAST(SUM(CASE WHEN a.m = b.m THEN 1 ELSE 0 END) AS DOUBLE)
                 / {float(_MH_H)}, 6) AS jaccard_est
    FROM mins a JOIN mins b ON a.i = b.i AND a.source < b.source
    GROUP BY 1, 2
    """,
)
def corpus_overlap_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimation-grade sibling of ``corpus_overlap_sources``: per-source
    MinHash signatures (H=128 universal-hash minima over a 60-bit
    md5-derived shingle hash) → pairwise Jaccard estimate =
    matching-slot fraction.

    Scale: ONE partial-agg'd aggregate per source computes all 128
    minima map-side (the corpus never re-shuffles per hash; one md5 +
    128 int64 mixes per shingle row); the signature table is |sources|
    rows × 128 longs, so the pair scoring is a driver-scale crossJoin.
    Standard error √(J(1−J)/128) ≈ 0.04 — pinned against the exact
    query in tests/test_semdedup.py.  r12: hash family switched from
    xxhash64 (Spark-only) to md5+universal mixes that DuckDB evaluates
    bit-identically → full value-hash oracle (was rows-only)."""
    from ..functions.text import word_shingles_exploded

    docs = load_table(spark, sf_dir, "documents")
    hm = (
        F.conv(F.substring(F.md5("shingle"), 1, 15), 16, 10).cast("bigint")
        % F.lit(_MH_P)
    ).alias("hm")
    sh = word_shingles_exploded(
        docs, "text", "doc_id", 3, extra_cols=("source",)
    ).select("source", hm)
    # one parsed expr for all H minima (r13 continuation — the
    # minhash_signatures py4j-chatter rationale); literals all fit int32
    # (P = 2^31−1 exactly), so SQL literal typing matches the former
    # F.lit ints and the bigint promotion against `hm` is unchanged
    sig_expr = (
        "array("
        + ", ".join(f"min(({a} * hm + {b}) % {_MH_P})" for a, b in _MH_AB)
        + ") AS sig"
    )
    sig = sh.groupBy("source").agg(F.expr(sig_expr))
    a = sig.select(F.col("source").alias("src_a"), F.col("sig").alias("sa"))
    b = sig.select(F.col("source").alias("src_b"), F.col("sig").alias("sb"))
    matches = F.size(
        F.filter(F.zip_with("sa", "sb", lambda x, y: x == y), lambda m: m)
    )
    return (
        a.join(b, F.col("src_a") < F.col("src_b"))
        .select(
            "src_a",
            "src_b",
            F.round(matches.cast("double") / F.lit(float(_MH_H)), 6).alias(
                "jaccard_est"
            ),
        )
    )
