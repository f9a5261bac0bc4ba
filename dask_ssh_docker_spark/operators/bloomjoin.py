"""Bloom-filter semi-join reduction (runtime-filter pattern as an
explicit operator).

At 100 TB the dominant cost of ``fact SEMI JOIN dim_subset`` is shuffling
the fact table; when the key subset is small-ish but too big (or too
late-bound) to broadcast as a plain hash set, engines inject a *bloom
filter*: a fixed-size bitmap of the build keys, broadcast to every
scanner, that discards most non-matching fact rows MAP-SIDE before any
exchange.  Spark's own ``InjectRuntimeFilter`` does this internally for
some shapes; this operator makes the plan explicit and composable:

1. build side → k=3 hash positions per key → ``(word, bit)`` pairs →
   ``bit_or`` per word: a bitmap frame of AT MOST ``m_bits/64`` rows
   (1024 for the default 64 Ki bits) — bounded regardless of build
   cardinality, hence always legitimately broadcastable;
2. probe side → the same 3 positions tested map-side: bitmaps up to
   ``_DENSE_MAX_WORDS`` fold into a ONE-row dense array (global
   aggregate) cross-joined as a single canonical broadcast — three
   ``element_at`` + mask tests per row, no materialization job, nothing
   in the task plan; larger bitmaps fall back to 3 broadcast inner
   joins + bit-mask tests (still zero exchanges);
3. the surviving superset (bloom false positives included) flows into
   the EXACT semi join — the final result is identical to the plain
   semi join; the bloom only cuts shuffle volume.

Hash discipline: position_i = pmod(xxhash64(key, i), m_bits) — the same
JVM xxhash64 family the dedup operators use; no Python in the path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_K = 3  # hash probes

#: r14 optimization round (VERDICT r13 items 5/7).  The r13 literal-array
#: embed was re-measured on a CLEAN window and rejected: parsing,
#: constant-folding and per-task plan serialization of the embedded
#: array grow with the bitmap — interleaved medians (2M-row probe)
#: literal vs word-joins: 1024 words 0.70/0.72 s (tie), 16 Ki words
#: 2.31/1.00, 64 Ki words 7.17/0.91, 256 Ki words 47/1.2; on the real
#: queries at the 1024-word default the literal LOST (dedup_incremental
#: _bloom 1.384 vs 1.268 s median, 6/6 interleaved pairs).  The probe
#: side is now ONE single-row broadcast: a global aggregate folds the
#: (word, bits) rows into a dense array (absent words 0 ⇒ definitely
#: absent, unchanged semantics), the probe cross-joins the one-row frame
#: (BroadcastNestedLoopJoin against one row ≈ a map-side append), and
#: membership stays three element_at + mask tests.  One canonical
#: broadcast replaces the three non-canonical per-word builds, the
#: global agg is bounded by construction (exactly one row) so the hint
#: needs NO materialization job, and nothing rides the task plan.
#: Bitmaps past this cap (256 MiB as one array row) keep the word-wise
#: broadcast joins, which move only the words actually set.
_DENSE_MAX_WORDS = 1 << 25


def _bitmap_array_frame(bitmap: DataFrame, m_bits: int) -> DataFrame:
    """ONE-row frame ``(__bm: array<bigint>)`` — the dense bitmap, folded
    from the (word, bits) rows by a global aggregate.  Absent words are 0
    (no bits set ⇒ probe misses ⇒ definitely-absent, exactly the
    inner-join-drop / left-join-NULL semantics of the join form);
    ``try_element_at`` makes that lookup NULL for an absent word
    whatever the Spark version's ANSI map-access rule (4.1 already
    returns NULL under ANSI).  A global aggregate is bounded by
    construction (exactly one row), so the broadcast hint downstream is
    legal without a materialization job (the policy sweep exempts global
    aggregates)."""
    nwords = (m_bits + 63) // 64
    m = F.map_from_entries(
        F.collect_list(F.struct(F.col("word").cast("int"), F.col("bits")))
    )
    return bitmap.agg(m.alias("__m")).select(
        F.transform(
            F.sequence(F.lit(0), F.lit(nwords - 1)),
            lambda w: F.coalesce(
                F.try_element_at(F.col("__m"), w), F.lit(0).cast("bigint")
            ),
        ).alias("__bm")
    )


def _bloom_flag_dense(probe: DataFrame, bitmap: DataFrame, key: str, m_bits: int):
    """(frame-with-__pos/__bm-columns, all-K-probes-hit condition): bloom
    membership tests against the single-row broadcast dense array — one
    BroadcastNestedLoopJoin against one row, then pure map-side
    element_at + mask tests.  Positions land in internal temp columns
    first (one xxhash64 per probe; the shiftleft expr never splices the
    caller's column name into SQL)."""
    out = probe.crossJoin(F.broadcast(_bitmap_array_frame(bitmap, m_bits)))
    hits = []
    for i in range(_K):
        p = f"__pos{i}"
        out = out.withColumn(
            p, F.pmod(F.xxhash64(F.col(key), F.lit(i)), F.lit(m_bits))
        )
        mask = F.expr(f"shiftleft(1L, cast({p} % 64 as int))")
        bits = F.element_at(F.col("__bm"), ((F.col(p) / 64) + 1).cast("int"))
        hits.append((bits.bitwiseAND(mask)) == mask)
    cond = hits[0]
    for h in hits[1:]:
        cond = cond & h
    return out, cond


def bloom_bitmap(build_keys: DataFrame, key: str, m_bits: int = 65536) -> DataFrame:
    """(word, bits): the bloom bitmap of the build side's ``key`` column
    as a ≤ ``m_bits/64``-row frame.  One partial-agg'd shuffle on word id
    (≤1024 groups)."""
    # positions land in INTERNAL columns first, so the shiftleft expr
    # never splices a user column name into SQL (backtick-needing names
    # broke parsing) and each xxhash64 is computed exactly once
    tmp = build_keys.select(
        *[
            F.pmod(F.xxhash64(F.col(key), F.lit(i)), F.lit(m_bits)).alias(
                f"__p{i}"
            )
            for i in range(_K)
        ]
    )
    pairs = [
        F.struct(
            (F.col(f"__p{i}") / 64).cast("bigint").alias("word"),
            F.expr(f"shiftleft(1L, cast(__p{i} % 64 as int))").alias("bit"),
        )
        for i in range(_K)
    ]
    return (
        tmp.select(F.explode(F.array(*pairs)).alias("p"))
        .select("p.word", "p.bit")
        .groupBy("word")
        .agg(F.bit_or("bit").alias("bits"))
    )


def bloom_prefilter(probe: DataFrame, bitmap: DataFrame, key: str, m_bits: int = 65536) -> DataFrame:
    """Map-side bloom membership prefilter: keeps a superset of the rows
    whose ``key`` is in the build set (false positives possible, false
    negatives impossible).  Three broadcast inner joins — no exchange on
    the probe side."""
    out = probe
    for i in range(_K):
        w, b, m, p = f"__w{i}", f"__bits{i}", f"__mask{i}", f"__pos{i}"
        out = (
            # internal temp column: one hash computation, and the expr
            # references only our own name (never the caller's key)
            out.withColumn(
                p, F.pmod(F.xxhash64(F.col(key), F.lit(i)), F.lit(m_bits))
            )
            .withColumn(w, (F.col(p) / 64).cast("bigint"))
            .withColumn(m, F.expr(f"shiftleft(1L, cast({p} % 64 as int))"))
            .join(
                F.broadcast(bitmap.select(F.col("word").alias(w), F.col("bits").alias(b))),
                on=w,
                how="inner",  # absent word ⇒ definitely not a member ⇒ drop
            )
            .filter((F.col(b).bitwiseAND(F.col(m))) == F.col(m))
            .drop(w, b, m, p)
        )
    return out


def bloom_maybe_flag(
    probe: DataFrame, bitmap: DataFrame, key: str, m_bits: int = 65536
) -> DataFrame:
    """``probe`` + boolean ``__bloom_maybe``: True iff all K bloom probes
    hit (key is *possibly* in the build set), False iff any probe missed
    (key is DEFINITELY absent — blooms have no false negatives).

    The complement-preserving sibling of :func:`bloom_prefilter`: three
    broadcast LEFT joins against the ≤ ``m_bits/64``-row bitmap, so no
    probe row is dropped and no exchange is added — the anti-join path
    needs both halves of the split."""
    out = probe
    hits = []
    for i in range(_K):
        w, b, p = f"__w{i}", f"__bits{i}", f"__pos{i}"
        # internal temp column: one hash computation per probe, and the
        # mask expr references only our own name (never the caller's key)
        out = (
            out.withColumn(
                p, F.pmod(F.xxhash64(F.col(key), F.lit(i)), F.lit(m_bits))
            )
            .withColumn(w, (F.col(p) / 64).cast("bigint"))
            .join(
                F.broadcast(
                    bitmap.select(F.col("word").alias(w), F.col("bits").alias(b))
                ),
                on=w,
                how="left",
            )
            .drop(w)
        )
        mask = F.expr(f"shiftleft(1L, cast({p} % 64 as int))")
        hits.append(F.col(b).isNotNull() & ((F.col(b).bitwiseAND(mask)) == mask))
    cond = hits[0]
    for h in hits[1:]:
        cond = cond & h
    return out.withColumn("__bloom_maybe", cond).drop(
        *[c for i in range(_K) for c in (f"__bits{i}", f"__pos{i}")]
    )


def bloom_anti_join(
    probe: DataFrame, build: DataFrame, probe_key: str, build_key: str,
    m_bits: int = 65536,
) -> DataFrame:
    """``probe LEFT ANTI JOIN build`` with a bloom split ahead of the
    exchange — the incremental-dedup shape: "which incoming rows are NEW
    vs the historical corpus".

    Rows failing any bloom probe are definitely new and flow through
    with ZERO shuffle; only the maybe-duplicate fraction (true dups +
    the bloom's false-positive rate of the non-dups) pays the exact
    anti-join exchange.  The result is EXACTLY the plain anti join's —
    the bloom only routes rows, it never decides membership alone."""
    keys = build.select(F.col(build_key).alias(probe_key)).distinct()
    if m_bits // 64 <= _DENSE_MAX_WORDS:
        # single-row dense-array broadcast (see _DENSE_MAX_WORDS): no
        # materialization job, one canonical broadcast, map-side tests
        pos_frame, cond = _bloom_flag_dense(
            probe, bloom_bitmap(keys, probe_key, m_bits), probe_key, m_bits
        )
        flagged = pos_frame.withColumn("__bloom_maybe", cond).drop(
            "__bm", *[f"__pos{i}" for i in range(_K)]
        )
    else:
        bitmap = bloom_bitmap(keys, probe_key, m_bits).localCheckpoint(eager=True)
        flagged = bloom_maybe_flag(probe, bitmap, probe_key, m_bits)
    definite_new = flagged.filter(~F.col("__bloom_maybe")).drop("__bloom_maybe")
    maybe = flagged.filter(F.col("__bloom_maybe")).drop("__bloom_maybe")
    verified_new = maybe.join(keys, on=probe_key, how="left_anti")
    return definite_new.unionByName(verified_new)


def bloom_semi_join(
    probe: DataFrame, build: DataFrame, probe_key: str, build_key: str,
    m_bits: int = 65536,
) -> DataFrame:
    """``probe LEFT SEMI JOIN build`` with a bloom prefilter ahead of the
    exchange.  Result rows are EXACTLY the plain semi join's (the exact
    join clears bloom false positives); only the shuffle volume differs."""
    keys = build.select(F.col(build_key).alias(probe_key)).distinct()
    if m_bits // 64 <= _DENSE_MAX_WORDS:
        # single-row dense-array broadcast (see _DENSE_MAX_WORDS)
        pos_frame, cond = _bloom_flag_dense(
            probe, bloom_bitmap(keys, probe_key, m_bits), probe_key, m_bits
        )
        pref = pos_frame.filter(cond).drop(
            "__bm", *[f"__pos{i}" for i in range(_K)]
        )
    else:
        # Materialize the bitmap before hinting (IVF/PQ precedent): it is
        # bounded by construction (≤ m_bits/64 rows) but sits behind a
        # grouped aggregate the broadcast-policy sweep rightly refuses to
        # bound on its own; localCheckpoint makes the hinted side a
        # concrete known-small RDD.
        bitmap = bloom_bitmap(keys, probe_key, m_bits).localCheckpoint(eager=True)
        pref = bloom_prefilter(probe, bitmap, probe_key, m_bits)
    return pref.join(keys, on=probe_key, how="left_semi")
