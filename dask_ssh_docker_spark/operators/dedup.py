"""Deduplication operators for training-data pipelines (SURVEY.md §2.H):
exact, MinHash+LSH, SimHash, and exact n-gram Jaccard.

Design for 100 TB:

- **exact**: hash-groupBy on a 128-bit content fingerprint — one shuffle of
  (hash, id); never shuffles document bodies.
- **minhash_dedup**: per-doc signature (num_hashes × 64-bit mins over
  shingle hashes, computed with higher-order functions — no Python),
  banded LSH: only (band_idx, band_hash, doc_id) tuples shuffle, candidate
  pairs verified with exact Jaccard *on the candidates only*.  This is the
  standard shingle→minhash→band→bucket-join pipeline; cost is
  O(|docs| · num_hashes) map-side + a shuffle of band keys, vs the O(n²)
  all-pairs join of the exact variant.
- **simhash_dedup**: 64-bit bit-vote signature; pigeonhole banding (k bands
  of 64/k bits ⇒ hamming distance < k guarantees a shared band) then exact
  hamming verification via xor+bit_count on candidates.
- **jaccard_pairs**: exact shingle-join baseline (quadratic in bucket size;
  the oracle for the approximate paths — run it at validation scale only).

All candidate→cluster steps keep the *minimum id per cluster* as canonical
(deterministic survivor).  Cluster closure uses iterated min-label
propagation on the candidate edge set, run to convergence under a hard
iteration cap — hitting the cap while labels still move raises (strict) or
warns, never silently splits a component.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from ..functions.localrel import local_frame
from ..functions.text import (
    md5_fingerprint,
    normalize_text,
    tokens,
)


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


#: readout bound for ``member_ids`` — the full membership of a dup-group is
#: unbounded at scale (one boilerplate document duplicated millions of times
#: makes one group's array the size of the problem), so the id readout keeps
#: only the K smallest ids; ``canonical_id`` and ``n_members`` stay exact.
#: Consumers needing FULL membership should read it as rows
#: (``exact_dedup`` keeps/drops rows; a (fp, id) frame IS the membership).
MEMBER_IDS_CAP = 100

#: default window-salt for the exact-dedup family (VERDICT r10 residual 1,
#: measured in tools/skew_probe.py claim 3): AQE cannot split window
#: partitions, so a boilerplate fingerprint holding X% of the corpus routes
#: X% of all rows through ONE task's sort.  Ranking within (fp, salt)
#: spreads the hot group's sort over ``salt`` tasks at ~6% overhead on
#: uniform corpora (2.07x faster at 2M rows / 20% hot), with outputs
#: identical for any salt — so the hot-safe shape is the default; pass
#: ``salt=1`` for the minimal single-exchange plan when group sizes are
#: known bounded.
HOT_GROUP_SALT = 16


def exact_dedup_groups(
    df: DataFrame,
    text_col: str,
    id_col: str,
    member_ids_cap: int = MEMBER_IDS_CAP,
    salt: int = HOT_GROUP_SALT,
) -> DataFrame:
    """Group identical (normalized) texts: one row per content group with
    canonical (min) id, exact member count, and the ``member_ids_cap``
    smallest member ids (ascending).

    Only ``(fingerprint, id)`` shuffles — bodies stay at the scan.

    Scale shape (VERDICT r9 item 1): the id readout is rank-filtered
    BEFORE aggregation — a window ``row_number`` over (fp, id) streams
    through a spillable sort, and ``collect_list`` only ever sees rows
    with rank ≤ cap, so no per-group aggregation buffer scales with the
    dup-group size.  At ``salt=1`` the groupBy reuses the window's
    hash(fp) partitioning and sort order (ONE exchange total;
    plan-asserted in ``tests/test_plans.py``).

    Hot-group straggler (VERDICT r10 residual 1): AQE cannot split
    window partitions, so one fingerprint holding X% of the corpus (a
    boilerplate document duplicated at web scale) routes X% of all rows
    through ONE task's sort.  ``salt > 1`` splits the window into
    ``(fp, pmod(xxhash64(id), salt))`` — the hot group's sort spreads
    over ``salt`` tasks, and the groupBy(fp) merge is combine-friendly
    (map-side partial aggregation collapses each map task's hot-group
    rows to one row, so no reduce task sees the group's row volume).
    Output is IDENTICAL for any salt: per-cell rank ≤ cap keeps every
    candidate for the global top-cap (any of the cap smallest ids is
    within the cap smallest of its own cell), the merge buffer holds
    ≤ salt×cap ids, and ``slice(sort_array(...), 1, cap)`` re-derives
    the exact global readout.  Cost: a second (tiny: one row per
    (fp,salt) cell after combine) exchange — measured in
    ``tools/skew_probe.py`` claim 3 and recorded in BENCH_NOTES r11.
    """
    fp_ids = df.select(F.col(id_col), md5_fingerprint(text_col).alias("fp"))
    if salt <= 1:
        w = Window.partitionBy("fp").orderBy(F.col(id_col))
        ranked = fp_ids.withColumn("__rn", F.row_number().over(w))
        return ranked.groupBy("fp").agg(
            F.min(id_col).alias("canonical_id"),
            F.count("*").alias("n_members"),
            # collect_list skips NULLs: the when() leaves at most cap ids
            # in the buffer; sort_array is over ≤ cap elements
            F.sort_array(
                F.collect_list(
                    F.when(F.col("__rn") <= member_ids_cap, F.col(id_col))
                )
            ).alias("member_ids"),
        )
    w = Window.partitionBy("fp", "__salt").orderBy(F.col(id_col))
    ranked = fp_ids.withColumn(
        "__salt", F.pmod(F.xxhash64(F.col(id_col)), F.lit(salt))
    ).withColumn("__rn", F.row_number().over(w))
    return ranked.groupBy("fp").agg(
        F.min(id_col).alias("canonical_id"),
        F.count("*").alias("n_members"),
        F.slice(
            F.sort_array(
                F.collect_list(
                    F.when(F.col("__rn") <= member_ids_cap, F.col(id_col))
                )
            ),
            1,
            member_ids_cap,
        ).alias("member_ids"),
    )


def exact_dedup(
    df: DataFrame, text_col: str, id_col: str, salt: int = HOT_GROUP_SALT
) -> DataFrame:
    """Keep one row (min id) per identical normalized text.

    ``salt > 1`` is the hot-group posture (same rationale as
    ``exact_dedup_groups``): round 1 ranks within ``(fp, salt_cell)`` so
    the boilerplate group's sort spreads over ``salt`` tasks; round 2
    re-ranks the ≤ ``salt`` per-cell winners within ``fp`` — a window
    over at most ``salt`` rows per group, never the group's row volume.
    Output identical for any salt (the global min-id row is the min of
    its cell, so it survives round 1)."""
    fp = md5_fingerprint(text_col)
    if salt <= 1:
        w = Window.partitionBy(fp).orderBy(F.col(id_col))
        return (
            df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
    cell = F.pmod(F.xxhash64(F.col(id_col)), F.lit(salt))
    w1 = Window.partitionBy(fp, cell).orderBy(F.col(id_col))
    winners = (
        df.withColumn("__rn", F.row_number().over(w1))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    w2 = Window.partitionBy(fp).orderBy(F.col(id_col))
    return (
        winners.withColumn("__rn", F.row_number().over(w2))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def shingle_rows(df: DataFrame, text_col: str, id_col: str, shingle_k: int = 3) -> DataFrame:
    """(id, shingle) exploded word-shingle rows for the exact-Jaccard
    baseline — the codegen path (``word_shingles_exploded``:
    posexplode + lead() windows, ~5× the interpreted HOF array path).
    NOT de-duplicated within a doc: ``jaccard_pairs_exact`` applies
    ``.distinct()`` (set semantics)."""
    from ..functions.text import word_shingles_exploded

    return word_shingles_exploded(df, text_col, id_col, shingle_k).select(
        "id", "shingle"
    )


def hashed_shingles(
    df: DataFrame, text_col: str, id_col: str, shingle_k: int = 3
) -> DataFrame:
    """(__id, __sh: array<bigint>) — each doc's distinct word shingles,
    each collapsed to its 64-bit xxhash at the source.  The one input
    frame of ``minhash_signatures`` and ``jaccard_verify`` (and of the
    prefix set-similarity join); persist it when several stages read it.

    Downstream (cache, signature minima, array_intersect verify) then
    works on 8-byte longs instead of multi-word strings.  Collision odds
    at 64 bits are ~n²/2⁶⁵, and a collision only perturbs one candidate's
    Jaccard, which the threshold absorbs — so this is the approximate
    path only; oracle-bearing exact-Jaccard queries keep string shingles
    (``shingle_rows``).

    The shingle hash is one multi-arg ``xxhash64`` over its k per-TOKEN
    hashes (equal word sequences ⇔ equal hash tuples): no per-shingle
    string allocation — measured ~35% off the shingle pass at sf1.
    Token hashes pass a projection boundary first (nested lambda
    references defeat subexpression elimination)."""
    k = shingle_k
    staged = df.select(
        F.col(id_col).alias("__id"),
        tokens(text_col).alias("__t"),
        normalize_text(text_col).alias("__norm"),
    )
    th = staged.select(
        "__id",
        F.transform("__t", lambda w: F.xxhash64(w)).alias("__th"),
        "__norm",
    )
    n = F.size("__th")
    sh = F.transform(
        F.sequence(F.lit(0), n - k),
        lambda i: F.xxhash64(
            *[F.element_at(F.col("__th"), (i + j + 1).cast("int")) for j in range(k)]
        ),
    )
    arr = F.when(n >= k, F.array_distinct(sh)).otherwise(
        F.array(F.xxhash64(F.col("__norm")))
    )
    return th.select("__id", arr.alias("__sh"))


def minhash_signatures(shingles: DataFrame, num_hashes: int = 32) -> DataFrame:
    """(id, sig: array<bigint>) — num_hashes 64-bit min-hashes per doc of
    a ``hashed_shingles`` frame.

    Computed by exploding the shingle hashes and taking ``min`` aggregates
    (hash family: multi-arg xxhash64 with an integer salt over the 64-bit
    shingle hash — all JVM-side, no per-row string allocation).
    Partial aggregation happens map-side, so the shuffle carries only
    num_hashes running minimums per doc — the idiomatic Spark shape,
    vs recomputing nested array transforms per hash function.  The
    explode reads a computed array column, so a persisted ``shingles``
    frame is its materialization boundary (PLANS.md "R6": exploding an
    unmaterialized higher-order chain re-evaluates it per output row).
    """
    sh = shingles.select(
        F.col("__id").alias("id"), F.explode("__sh").alias("shingle")
    )
    # One 64-bit base per shingle; the hash family re-hashes it with an
    # integer salt.  The signature is ONE parsed expr string: num_hashes
    # min/xxhash64 Columns built through the Python API cost ~6 py4j
    # round-trips each.  The salt stays an INT literal ({i}, not {i}L):
    # xxhash64 hashes 4- and 8-byte inputs differently.
    sh = sh.select("id", F.expr("xxhash64(shingle) AS __h0"))
    sig_expr = (
        "array("
        + ", ".join(f"min(xxhash64({i}, __h0))" for i in range(num_hashes))
        + ") AS sig"
    )
    return sh.groupBy("id").agg(F.expr(sig_expr))


def minhash_candidates(
    sig: DataFrame, num_hashes: int = 32, bands: int = 8
) -> DataFrame:
    """LSH candidate pairs (id_a < id_b) — docs of a ``minhash_signatures``
    frame sharing ≥1 band bucket.

    Shuffle volume: |docs| × bands rows of (band_hash, id).
    """
    if bands <= 0 or bands > num_hashes or num_hashes % bands != 0:
        raise ValueError(
            f"bands must divide num_hashes with 1 <= bands <= num_hashes "
            f"(got num_hashes={num_hashes}, bands={bands}); rows-per-band=0 "
            "would hash every doc into one bucket (full O(n^2) cross join), "
            "and a remainder silently drops signature values"
        )
    rows = num_hashes // bands
    # multi-arg xxhash64 over the band's longs directly — no per-row
    # string rendering of the signature slice.  One parsed expr string
    # for the whole band array (same py4j-chatter rationale as the
    # signature expr above); SQL `sig[i]` is 0-based getItem, identical
    # to the former Column[i].
    band_arr = (
        "array("
        + ", ".join(
            "xxhash64("
            + ", ".join(f"sig[{b * rows + r}]" for r in range(rows))
            + ")"
            for b in range(bands)
        )
        + ")"
    )
    banded = sig.select(
        "id",
        F.posexplode(F.expr(band_arr)).alias("band_idx", "band_hash"),
    )
    # lazy lineage cut: BOTH sides of the bucket self-join consume this
    # frame, and AQE broadcasts one side rather than reusing an exchange —
    # without the cut the whole shingle→signature aggregation (the
    # corpus-scaling map work) executes twice.  The cached frame is
    # |docs|×bands (id, band_idx, band_hash) tuples — the same volume the
    # LSH shuffle moves anyway; localCheckpoint spills to disk at scale.
    banded = banded.localCheckpoint(eager=False)
    left = banded.alias("a")
    right = banded.alias("b")
    return (
        left.join(
            right,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def jaccard_verify(
    candidates: DataFrame, shingles: DataFrame, threshold: float
) -> DataFrame:
    """Exact Jaccard of the ``hashed_shingles`` sets on ``candidates``
    pairs only → (id_a, id_b, jaccard)."""
    a = shingles.select(F.col("__id").alias("id_a"), F.col("__sh").alias("sh_a"))
    b = shingles.select(F.col("__id").alias("id_b"), F.col("__sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    return (
        candidates.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("__raw", inter / F.nullif(union, F.lit(0.0)))
        # filter on the RAW ratio, round only the output — matching the
        # SQL oracle, which filters unrounded (a 6dp-rounded filter would
        # keep boundary pairs the oracle drops)
        .filter(F.col("__raw") >= threshold)
        .select("id_a", "id_b", F.round("__raw", 6).alias("jaccard"))
    )


def cut_lineage(
    df: DataFrame, checkpoint_dir: str | None = None, eager: bool = True
) -> DataFrame:
    """Lineage cut for iterative loops.  Default: ``localCheckpoint``
    — blocks live in executor memory/disk, zero HDFS round-trip, ideal in
    local mode and for short loops.  On a REAL cluster a lost executor
    loses its localCheckpoint blocks and the (cut) lineage cannot recompute
    them — the job dies; pass ``checkpoint_dir`` (an HDFS/S3/shared path)
    to switch to reliable ``checkpoint()`` whose files survive executor
    loss (the standard durability/latency trade; results are identical,
    pytest-pinned in tests/test_dedup.py::
    test_cluster_min_label_reliable_checkpoint_matches_default).

    ``eager=False`` marks the cut but defers materialization to the
    caller's next action — that action both computes the frame and seals
    the cut, so a loop that must probe the frame anyway (convergence
    check) pays ONE job per round instead of two.  Only safe with
    ``localCheckpoint`` (persist-backed: the action's scan populates the
    blocks); a lazy reliable ``checkpoint()`` recomputes the whole frame
    a second time to write its files, so the reliable path stays eager.

    The checkpoint dir is global ``SparkContext`` state: set it once and
    leave it (re-setting per call would mutate shared state under other
    jobs).  Reliable checkpoint files are NOT auto-removed unless
    ``spark.cleaner.referenceTracking.cleanCheckpoints=true`` — on a real
    cluster either enable that conf or point ``checkpoint_dir`` at a
    per-run path and delete it after the job."""
    if checkpoint_dir:
        sc = df.sparkSession.sparkContext
        Path = sc._jvm.org.apache.hadoop.fs.Path
        want = Path(checkpoint_dir)
        want = want.getFileSystem(sc._jsc.hadoopConfiguration()).makeQualified(want)
        current = sc.getCheckpointDir()  # "<qualified dir>/<uuid>" once set
        if current is None or not Path(current).getParent().equals(want):
            sc.setCheckpointDir(checkpoint_dir)
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=eager)


def cluster_min_label(
    pairs: DataFrame,
    ids: DataFrame,
    cc_iters: int = 20,
    strict: bool = True,
    checkpoint_dir: str | None = None,
    driver_max_edges: int = 2_000_000,
) -> DataFrame:
    """(id, cluster_id): connected components of the pair graph by iterated
    min-label propagation; singletons keep their own id.  Labels advance
    one hop per round over the static edge set, so convergence needs as
    many rounds as the widest component's min-label chain; the loop runs
    TO CONVERGENCE (no label changed) with ``cc_iters`` as a hard cap.
    Near-dup clusters are dense and shallow, so the default cap is ample;
    if the cap is hit while labels are still moving, the components are
    split — ``strict=True`` (default) raises, ``strict=False`` warns and
    returns the partial labels.

    ``checkpoint_dir``: see ``cut_lineage`` — pass a shared path on a
    real cluster so iteration state survives executor loss.

    Scale shape: the loop iterates ONLY over edge-touched nodes — ids with
    no candidate pair are singletons whose label (their own id) can never
    move, so they join the result through one anti-join AFTER convergence
    instead of riding every round's three shuffles.  In a near-dup corpus
    the edge-touched set is a small fraction of |ids| (at 100 TB: the dup
    graph, not the corpus), so per-round shuffle volume is O(|edges| +
    |touched|), independent of corpus size.

    ``driver_max_edges``: when the candidate edge set fits under this
    bound (one ``limit(bound+1)`` collect of the pair frame), the closure
    runs as driver-side union-find on the collected (id_a, id_b) pairs —
    id pairs only, never document bodies; 2M edges ≈ tens of MB.  Exact
    same labels (min member id per component), no iteration cap, zero
    per-round scheduling latency.  The distributed min-label loop is the
    scale path for dup graphs past the bound; set ``driver_max_edges=0``
    to force it (the parity test pins both paths equal).
    """
    import warnings

    if driver_max_edges:
        # one job bounds the edge set and, under the bound, fetches it
        probe = pairs.select("id_a", "id_b").limit(driver_max_edges + 1).collect()
        if len(probe) <= driver_max_edges:
            return _cluster_union_find(probe, ids)

    edges = (
        pairs.select(F.col("id_a").alias("x"), F.col("id_b").alias("y"))
        .union(pairs.select(F.col("id_b").alias("x"), F.col("id_a").alias("y")))
    )
    # symmetrized edges ⇒ distinct x covers every endpoint
    nodes = edges.select("x").distinct()
    label = nodes.withColumn("lbl", F.col("x"))
    # Self-loops fold the "keep your own label" term into the neighbor
    # minimum, so each round is ONE join + ONE aggregate (two shuffles)
    # instead of join + aggregate + second join back onto the labels.
    # Pre-partitioned on the join key and persisted: the static edge side
    # never re-shuffles across rounds — only the (small) moving label
    # frame does.
    edges_plus = (
        edges.union(nodes.select("x", F.col("x").alias("y")))
        .repartition("y")
        .persist()
    )
    # Convergence is probed every PROBE_EVERY rounds: rounds in between are
    # lazily lineage-cut but not materialized, so the probing action runs
    # the whole block of rounds as ONE Spark job.  A pair/triangle-dominated
    # dup graph converges in 2 rounds = exactly one job here.  The probe's
    # aggregate rides on the scan the lineage cut must do anyway, and its
    # __chg flag refers only to the newest round, which is the correct
    # fixpoint signal.  Worst case this runs PROBE_EVERY-1 extra rounds
    # past convergence; lineage depth between cuts stays bounded at
    # PROBE_EVERY rounds, so no exponential recompute.  The reliable-
    # checkpoint path stays eager (see cut_lineage).
    PROBE_EVERY = 2
    for it in range(cc_iters):
        joined = edges_plus.join(
            label.select(F.col("x").alias("y2"), F.col("lbl").alias("ylbl")),
            F.col("y") == F.col("y2"),
        )
        new_label = joined.groupBy("x").agg(
            F.min("ylbl").alias("lbl"),
            # the self-loop row carries the node's previous label
            F.min(F.when(F.col("y2") == F.col("x"), F.col("ylbl"))).alias("__old"),
        ).select("x", "lbl", (F.col("lbl") < F.col("__old")).alias("__chg"))
        if (it + 1) % PROBE_EVERY == 0 or it == cc_iters - 1:
            new_label = cut_lineage(
                new_label, checkpoint_dir, eager=checkpoint_dir is not None
            )
            changed = (
                new_label.agg(F.sum(F.col("__chg").cast("long")).alias("c"))
                .collect()[0][0]
                or 0  # sum over an empty frame is NULL, not 0
            )
            label = new_label.drop("__chg")
            if changed == 0:  # converged — skip the remaining rounds
                break
        else:
            label = new_label.drop("__chg")
    else:
        # Cap hit with labels still moving in the final round.  That alone
        # does NOT mean the labels are wrong — convergence is only
        # observable one round after the last change — so probe whether a
        # further round WOULD change anything before declaring a split.
        would_change = (
            edges_plus.join(
                label.select(F.col("x").alias("y2"), F.col("lbl").alias("ylbl")),
                F.col("y") == F.col("y2"),
            )
            .groupBy("x")
            .agg(
                F.min("ylbl").alias("nlbl"),
                F.min(F.when(F.col("y2") == F.col("x"), F.col("ylbl"))).alias("__old"),
            )
            .filter(F.col("nlbl") < F.col("__old"))
            .limit(1)
            .count()
        )
        if would_change:
            msg = (
                f"cluster_min_label did not converge within cc_iters={cc_iters} "
                "rounds; a connected component wider than the cap is split into "
                "multiple clusters. Raise cc_iters (each round is one shuffle "
                "over the edge set)."
            )
            if strict:
                raise RuntimeError(msg)
            warnings.warn(msg, RuntimeWarning, stacklevel=2)
    # singletons (no candidate edge) keep their own id — one anti-join,
    # paid once, instead of carrying the whole corpus through the loop
    singletons = ids.join(
        label.select(F.col("x").alias("id")), "id", "left_anti"
    ).select("id", F.col("id").alias("cluster_id"))
    clustered = label.select(F.col("x").alias("id"), F.col("lbl").alias("cluster_id"))
    # label is lineage-cut (independent of the edge lineage) and the
    # singleton anti-join needs only `ids` + the cut labels — the persisted
    # edge blocks are dead weight from here; release them so long sessions
    # don't accumulate cached blocks
    edges_plus.unpersist()
    return clustered.union(singletons)


def _cluster_union_find(rows: list, ids: DataFrame) -> DataFrame:
    """Exact closure, in Python, of a bounded dup graph given as the
    (id_a, id_b) ``rows`` the caller's bound probe collected: union-find
    with path compression, re-label every root to the MINIMUM member id
    (the module-wide canonical-survivor rule), then union the distributed
    singleton anti-join — identical output contract to the min-label loop."""
    parent: dict = {}

    def find(a):
        root = a
        while parent[root] != root:
            root = parent[root]
        while parent[a] != root:  # path compression
            parent[a], a = root, parent[a]
        return root

    for r in rows:
        a, b = r[0], r[1]
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    # min member id per component
    min_of: dict = {}
    for node in parent:
        root = find(node)
        cur = min_of.get(root)
        if cur is None or node < cur:
            min_of[root] = node
    id_field = ids.schema.fields[0]
    schema = StructType(
        [
            StructField("id", id_field.dataType, id_field.nullable),
            StructField("cluster_id", id_field.dataType, id_field.nullable),
        ]
    )
    # a local relation carries size statistics, so the anti-join plans as
    # a broadcast; the frame is ≤ the collected edge bound
    labels = local_frame(
        ids.sparkSession, [(n, min_of[find(n)]) for n in parent], schema
    )
    singletons = ids.join(
        F.broadcast(labels.select("id")), "id", "left_anti"
    ).select("id", F.col("id").alias("cluster_id"))
    return labels.union(singletons)


def minhash_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.7,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 3,
) -> DataFrame:
    """Full near-dup pipeline: shingle → minhash → LSH bands → exact-Jaccard
    verify → min-label clusters.  Returns (id, cluster_id, is_canonical).

    Shingle arrays and verified pairs are persisted: both feed multiple
    downstream joins (a/b sides; CC iterations), and without persistence
    the full upstream pipeline re-executes per consumer.
    """
    shingles = hashed_shingles(df, text_col, id_col, shingle_k).persist()
    sig = minhash_signatures(shingles, num_hashes)
    cands = minhash_candidates(sig, num_hashes, bands)
    verified = jaccard_verify(cands, shingles, threshold).persist()
    ids = df.select(F.col(id_col).alias("id"))
    clusters = cluster_min_label(verified, ids)
    # cluster_min_label's labels are collected or lineage-cut, so the
    # shingle/verify caches are no longer reachable — release them.
    verified.unpersist()
    shingles.unpersist()
    return clusters.withColumn("is_canonical", F.col("id") == F.col("cluster_id"))


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash_signature(text_col: str, bits: int = 64) -> F.Column:
    """Bit-vote simhash over whitespace tokens (xxhash64 per token).

    For each bit b: +1 if set in the token hash else -1; the sign of the
    vote sum becomes bit b of the signature.  One SQL ``aggregate`` pass
    over the token array with a 64-slot vote accumulator (the PySpark
    ``shiftleft`` wrapper can't take a Column shift amount, so this lives
    in a SQL expression where ``shiftleft(1, b)`` is fine).
    """
    # backtick-quote the caller's column name — this Column builder is
    # the one simhash surface that must splice a USER name into SQL
    # (shiftleft-by-column has no PySpark wrapper), so names with
    # spaces/dots/reserved words need escaping (same class as the r7
    # bloomjoin ADVICE finding)
    quoted = "`" + text_col.replace("`", "``") + "`"
    toks = (
        f"split(regexp_replace(trim(lower({quoted})), '\\\\s+', ' '), ' ')"
    )
    return F.expr(
        f"""
        aggregate(
          zip_with(
            aggregate(
              transform({toks}, t -> xxhash64(t)),
              array_repeat(cast(0 as bigint), {bits}),
              (acc, h) -> zip_with(acc, sequence(0, {bits - 1}),
                (a, b) -> a + (case when (h & shiftleft(cast(1 as bigint), cast(b as int))) != 0
                               then 1 else -1 end))
            ),
            sequence(0, {bits - 1}),
            (v, b) -> case when v > 0
                      then shiftleft(cast(1 as bigint), cast(b as int))
                      else cast(0 as bigint) end
          ),
          cast(0 as bigint),
          (acc, x) -> acc | x
        )
        """
    )


def _token_hash(hash_family: str, bits: int) -> F.Column:
    """Per-token hash column over ``__tok`` for the simhash vote pass.

    ``xxhash64``: the production default — fastest, 64 defined bits,
    Spark-only (no cross-engine twin).
    ``md5_64``: the cross-engine family (r13, extending the md5-prefix
    identity the r12 ``corpus_overlap_minhash`` promotion proved): the
    first 16 md5 hex chars parsed as two 32-bit halves and recombined
    into a signed two's-complement int64 — Spark ``shiftleft(hi,32) |
    lo`` (bitwise, wrap-safe under ANSI) ≡ DuckDB ``hi::HUGEINT·2³² +
    lo`` folded by −2⁶⁴ when ≥ 2⁶³ (DuckDB checks shift/multiply
    overflow, so the widening is explicit there).  Parity constant:
    −8070080442485551184 for 'abc' in both.  A full 64 bits (not the
    15-hex-char 60-bit variant) keeps 16-bit bands — the 60-bit/15-bit
    prototype HALVED the band space and its Σc² join work ~doubled the
    zipf-sf1 wall (8.45 s vs the 7.0 fleet gate; BENCH_NOTES r13)."""
    if hash_family == "xxhash64":
        if bits > 64:
            raise ValueError(f"xxhash64 defines 64 bits, got bits={bits}")
        return F.xxhash64("__tok")
    if hash_family == "md5_64":
        if bits > 64:
            raise ValueError(f"md5_64 defines 64 bits, got bits={bits}")
        return F.shiftleft(
            F.conv(F.substring(F.md5("__tok"), 1, 8), 16, 10).cast("bigint"), 32
        ).bitwiseOR(
            F.conv(F.substring(F.md5("__tok"), 9, 8), 16, 10).cast("bigint")
        )
    raise ValueError(f"unknown hash_family: {hash_family!r}")


def simhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    bits: int = 64,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """(id, sig) — the frame-level simhash: explode tokens, hash each
    once, then ``bits`` codegen'd SUM aggregates (per-bit set counts)
    with map-side partial aggregation; bit b is set iff ``2·count_b >
    n_tokens`` — algebraically identical to the ±1 vote sum of
    ``simhash_signature`` (v = 2c−n), pinned bit-equal in tests.

    This is the hot path: the single-expression column form folds a
    ``bits``-slot accumulator array allocation per token through
    interpreted higher-order functions (measured 7 s at sf0.1); the
    exploded aggregate stays inside whole-stage codegen (the
    ``minhash_signatures`` shape) at ~10× less."""
    th = df.select(
        F.col(id_col).alias("id"), F.explode(tokens(text_col)).alias("__tok")
    ).select("id", _token_hash(hash_family, bits).alias("__h"))
    # Both per-bit loops are parsed expr strings (r13 continuation — the
    # minhash_signatures rationale): ``bits`` sum-aggregates plus the
    # ``bits``-way OR fold built through the Column API cost ~1k py4j
    # round-trips per construction; two parse calls build the same trees.
    # Values are bit-equal: int literals keep their former types (the
    # bigint promotions happen JVM-side either way) and `|`/`&`/CASE are
    # the exact operators the Column chain lowered to.
    cs_expr = (
        "array("
        + ", ".join(
            f"sum(shiftrightunsigned(__h, {b}) & 1)" for b in range(bits)
        )
        + ") AS __cs"
    )
    g = th.groupBy("id").agg(F.expr("count(1) AS __n"), F.expr(cs_expr))
    sig_expr = " | ".join(
        f"(CASE WHEN __cs[{b}] * 2 > __n THEN shiftleft(1L, {b}) "
        "ELSE 0L END)"
        for b in range(bits)
    )
    return g.select("id", F.expr(f"({sig_expr}) AS sig"))


def simhash_dedup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
    bands: int = 4,
    bits: int = 64,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Near-dup pairs by simhash: pigeonhole banding (hamming ≤ bands-1 ⇒
    some bits/bands-bit band equal) then exact xor+bit_count verification.
    Because the pigeonhole bound is exact, the output EQUALS the all-pairs
    hamming ≤ ``max_hamming`` result — banding only prunes candidates.

    Candidate recall is GUARANTEED only for ``max_hamming <= bands - 1``
    (pigeonhole: k differing bits can touch at most k bands); a larger
    ``max_hamming`` would silently miss qualifying pairs, and a ``bands``
    that doesn't divide ``bits`` would silently drop signature bits — both
    are rejected rather than degraded.  ``hash_family="md5_64"`` makes
    the whole computation DuckDB-reproducible — the oracle path of the
    ``dedup_simhash_pairs`` registry query."""
    if bits % bands != 0:
        raise ValueError(
            f"bands={bands} must divide the {bits}-bit signature evenly "
            "(a remainder would silently drop signature bits)"
        )
    if max_hamming > bands - 1:
        raise ValueError(
            f"max_hamming={max_hamming} exceeds the pigeonhole guarantee of "
            f"bands-1={bands - 1}; use bands >= max_hamming+1 "
            f"(e.g. bands={max_hamming + 1}) for full candidate recall"
        )
    width = bits // bands
    sig = simhash_signatures(df, text_col, id_col, bits, hash_family)
    mask = (1 << width) - 1
    band_arr = (
        "array("
        + ", ".join(
            f"(shiftrightunsigned(sig, {b * width}) & {mask})"
            for b in range(bands)
        )
        + ")"
    )
    banded = sig.select(
        "id",
        "sig",
        F.posexplode(F.expr(band_arr)).alias("band_idx", "band_val"),
    )
    # lazy lineage cut (minhash_candidates rationale): both sides of the
    # band self-join consume this frame — without the cut the whole
    # token→signature aggregation executes twice
    banded = banded.localCheckpoint(eager=False)
    a, b = banded.alias("a"), banded.alias("b")
    dist = F.bit_count(F.col("a.sig").bitwiseXOR(F.col("b.sig")))
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            dist.alias("hamming"),
        )
        # hamming filter BEFORE the pair dedup: the xor+bit_count is a
        # free map-side expression, so failing candidates never enter
        # the distinct exchange
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


# ---------------------------------------------------------------------------
# Exact n-gram Jaccard (all-pairs baseline / oracle path)
# ---------------------------------------------------------------------------


def jaccard_pairs_exact(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.5,
    shingle_k: int = 3,
) -> DataFrame:
    """All-pairs exact Jaccard via shingle inverted index: explode distinct
    shingles, self-join on shingle, count common, normalize by set sizes.
    Quadratic in shingle-bucket size — the correctness baseline the
    approximate paths are judged against (SQL-oracle-expressible)."""
    sh = shingle_rows(df, text_col, id_col, shingle_k).distinct()
    sizes = sh.groupBy("id").agg(F.count("*").alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    common = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("n_b"))
    jac_raw = F.col("n_common").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("n_common")
    ).cast("double")
    return (
        common.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("__raw", jac_raw)
        .filter(F.col("__raw") >= threshold)  # raw filter = oracle filter
        .select("id_a", "id_b", F.round("__raw", 6).alias("jaccard"))
    )
