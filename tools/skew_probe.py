#!/usr/bin/env python
"""Hot-key stress probe for the two bucket-skew claims in SCALE.md
(VERDICT r9 item 4): does AQE's skew-join split actually engage on

1. the banded MinHash-LSH bucket SELF-JOIN (`operators/dedup.py:
   minhash_candidates`) when one bucket holds ~20% of all docs, and
2. the k-gram dup-mark LEFTSEMI back-join (`operators/substring.py:
   _dup_marks`) when one gram holds ~20% of all occurrences?

Method — a scaled-down proxy whose scaling knobs mirror what changes at
100 TB (full rationale in BENCH_NOTES r10):

- **byte thresholds scaled to local volume**: AQE's skew trigger is
  `size > max(skewedPartitionThresholdInBytes, factor × median)`; the
  256 MB default threshold is sized for real clusters, so the probe
  sets it to 8k.  The FACTOR condition (5× median) is scale-free and is
  what the probe genuinely exercises.
- **cluster-like partition count (512)**: at 32 local shuffle
  partitions the median partition holds 1/32 of the data and a
  20%-of-docs bucket (diluted `bands`× by banding) never reaches
  5× median; with thousands of reducers — the 100 TB reality — the
  median shrinks while the hot bucket stays one indivisible key.
- **incompressible ids**: skew detection reads COMPRESSED map-output
  sizes; sequential int64 ids LZ4-collapse and mask the skew (measured:
  a 50%-hot join showed `coalesced` only with arange ids, `skew=true`
  with random ids).  Real 100 TB doc ids are hashes/UUIDs — random
  int64 is the faithful shape.
- **broadcast disabled**: at 100 TB neither side of these joins is
  broadcastable; locally they would be, which would skip the code path
  under test.

Everything else — the operators under test — is the production code.

Usage: python tools/skew_probe.py [n_docs] [hot_frac]
Prints one evidence block per claim; exits nonzero if a skew-eligible
join did NOT get split (i.e. the SCALE.md claim would be false and the
bucket key needs salting).
"""

from __future__ import annotations

import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np
import pandas as pd


def _finalized_plan(df) -> str:
    """Execute THIS dataframe's own physical plan (AQE finalizes only the
    executed instance — a count()/noop-write builds a different plan)
    and return the final adaptive plan string."""
    qe = df._jdf.queryExecution()
    qe.executedPlan().execute().count()  # JVM-side row count, no collect
    return qe.executedPlan().toString()


def _skew_evidence(plan: str) -> tuple[bool, list[str]]:
    lines = [
        ln.strip()
        for ln in plan.splitlines()
        if re.search(r"skew=true|AQEShuffleRead.*skewed", ln)
    ]
    return bool(lines), lines


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 20_000
    hot_frac = float(sys.argv[2]) if len(sys.argv) > 2 else 0.2
    # optional claim filter (e.g. `... 100000 0.3 seq` runs ONLY claim 4 —
    # the join claims are pair-quadratic in the hot clique and cannot ride
    # a 10x corpus)
    only = sys.argv[3] if len(sys.argv) > 3 else None

    from dask_ssh_docker_spark.session import get_session

    spark = get_session()
    # --- scaled-down-proxy posture (see module docstring) ---
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.shuffle.partitions", "512")
    spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8k"
    )
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8k")

    rng = np.random.default_rng(7)
    failures: list[str] = []

    # ---------------- claim 1: banded LSH bucket self-join ----------------
    if only in (None, "joins", "lsh"):
        _claims_1_2(spark, rng, n_docs, hot_frac, failures)
    if only in (None, "dedup"):
        _claim_3(spark, rng, n_docs, hot_frac, failures)
    if only in (None, "seq"):
        _claim_4(spark, rng, n_docs, hot_frac, failures)

    if failures:
        print(f"SKEW NOT HANDLED: {failures} — salt those keys")
        raise SystemExit(1)
    print(
        "skew handled: the LSH bucket join and the gram semi-join are "
        "split by AQE at runtime; the exact-dedup window straggler and "
        "the sequence-window (class 7) stragglers are measured above "
        "with their salted/sub-bucketed mitigations (outputs identical)"
    )


def _claims_1_2(spark, rng, n_docs, hot_frac, failures):
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        ArrayType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    from dask_ssh_docker_spark.operators.dedup import minhash_candidates
    from dask_ssh_docker_spark.operators.substring import _dup_marks

    n_hot = int(n_docs * hot_frac)
    num_hashes = 32
    ids = rng.integers(0, 2**62, n_docs)  # hash-like ids (incompressible)
    sigs = rng.integers(-(2**62), 2**62, size=(n_docs, num_hashes))
    sigs[:n_hot] = sigs[0]  # one identical signature => one hot bucket/band
    sig_pdf = pd.DataFrame({"id": ids, "sig": list(sigs)})
    schema = StructType(
        [
            StructField("id", LongType()),
            StructField("sig", ArrayType(LongType())),
        ]
    )
    sig = spark.createDataFrame(sig_pdf, schema)

    cands = minhash_candidates(sig, num_hashes=num_hashes, bands=8)
    t0 = time.time()
    plan = _finalized_plan(cands)
    wall = time.time() - t0
    engaged, ev = _skew_evidence(plan)
    expect_hot_pairs = n_hot * (n_hot - 1) // 2
    print(
        f"[lsh-bucket-join] docs={n_docs} hot_bucket={n_hot} "
        f"({hot_frac:.0%}) hot-clique pairs={expect_hot_pairs} "
        f"wall={wall:.1f}s"
    )
    print(f"[lsh-bucket-join] AQE skew split engaged: {engaged}")
    for ln in ev[:6]:
        print(f"  {ln[:170]}")
    if not engaged:
        failures.append("lsh-bucket-join")

    # ---------------- claim 2: k-gram dup-mark leftsemi join --------------
    n_grams = n_docs * 50  # ~50 gram positions per doc
    n_hot_g = int(n_grams * hot_frac)
    h1 = rng.integers(-(2**62), 2**62, size=n_grams)
    h2 = rng.integers(-(2**62), 2**62, size=n_grams)
    h1[:n_hot_g] = h1[0]
    h2[:n_hot_g] = h2[0]  # one gram key holds hot_frac of all occurrences
    # a normal dup population too, so dup_keys isn't a single row
    n_dup = n_grams // 10
    h1[n_hot_g : n_hot_g + n_dup] = h1[n_hot_g + n_dup : n_hot_g + 2 * n_dup]
    h2[n_hot_g : n_hot_g + n_dup] = h2[n_hot_g + n_dup : n_hot_g + 2 * n_dup]
    grams_pdf = pd.DataFrame(
        {
            "doc_id": rng.integers(0, 2**62, n_grams),
            "pos": np.arange(n_grams, dtype=np.int32),
            "h1": h1,
            "h2": h2,
        }
    )
    gschema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("pos", IntegerType()),
            StructField("h1", LongType()),
            StructField("h2", LongType()),
        ]
    )
    grams = spark.createDataFrame(grams_pdf, gschema)
    marks = _dup_marks(grams, ["h1", "h2"], min_count=2)
    t0 = time.time()
    plan = _finalized_plan(marks)
    wall = time.time() - t0
    engaged, ev = _skew_evidence(plan)
    print(
        f"[gram-semi-join] grams={n_grams} hot_gram={n_hot_g} "
        f"({hot_frac:.0%}) wall={wall:.1f}s"
    )
    print(f"[gram-semi-join] AQE skew split engaged: {engaged}")
    for ln in ev[:6]:
        print(f"  {ln[:170]}")
    if not engaged:
        failures.append("gram-semi-join")


def _claim_3(spark, rng, n_docs, hot_frac, failures):
    # -------- claim 3: exact-dedup WINDOW straggler (VERDICT r10) ---------
    # AQE can split skewed JOIN partitions but NOT window partitions: one
    # fingerprint holding hot_frac of the corpus routes hot_frac of all
    # rows through ONE task's sort in exact_dedup_groups' rank guard.
    # Measure the straggler and the salted reshape (rank within
    # (fp, salt), combine-friendly merge) on the same corpus, plus the
    # salt's overhead on a uniform (no hot group) corpus, and pin that
    # the two shapes' outputs are identical.
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from dask_ssh_docker_spark.operators.dedup import exact_dedup_groups

    n_rows = n_docs * 100  # thin (fp,id) rows — window volume is the knob
    n_hot_r = int(n_rows * hot_frac)
    ids_r = rng.integers(0, 2**62, n_rows)
    texts = np.array([f"doc body {i}" for i in range(n_rows)], dtype=object)
    texts[:n_hot_r] = "the boilerplate body every mirror re-hosts"
    dschema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )

    def _wall(pdf, salt):
        docs = spark.createDataFrame(pdf, dschema)
        out = exact_dedup_groups(docs, "text", "doc_id", salt=salt)
        t0 = time.time()
        qe = out._jdf.queryExecution()
        qe.executedPlan().execute().count()
        return time.time() - t0, out

    hot_pdf = pd.DataFrame({"doc_id": ids_r, "text": texts})
    w_plain, out_plain = _wall(hot_pdf, 1)
    w_salt, out_salt = _wall(hot_pdf, 16)
    uni_pdf = pd.DataFrame(
        {"doc_id": ids_r, "text": [f"doc body {i}" for i in range(n_rows)]}
    )
    wu_plain, _ = _wall(uni_pdf, 1)
    wu_salt, _ = _wall(uni_pdf, 16)

    chk = [
        "sum(hash(fp, canonical_id, n_members, member_ids)) AS h",
        "count(*) AS n",
        "sum(n_members) AS m",
    ]
    h1_row = out_plain.selectExpr(*chk).first()
    h2_row = out_salt.selectExpr(*chk).first()
    same = tuple(h1_row) == tuple(h2_row)
    print(
        f"[window-straggler] rows={n_rows} hot_group={n_hot_r} "
        f"({hot_frac:.0%}): salt=1 {w_plain:.1f}s  salt=16 {w_salt:.1f}s "
        f"({w_plain / max(w_salt, 1e-9):.2f}x); uniform corpus: "
        f"salt=1 {wu_plain:.1f}s  salt=16 {wu_salt:.1f}s "
        f"(overhead {wu_salt / max(wu_plain, 1e-9):.2f}x)"
    )
    print(f"[window-straggler] salted output identical: {same} ({tuple(h1_row)})")
    if not same:
        failures.append("window-straggler-output-divergence")


def _claim_4(spark, rng, n_docs, hot_frac, failures):
    # ----- claim 4: sequence-semantics windows (SCALE.md class 7, r12) ----
    # asof / interpolate / bounded-EWMA per user_id are per-key ordered
    # folds — AQE cannot split window partitions, so a bot user holding
    # hot_frac of all events routes that volume through ONE task's sort.
    # Measure the straggler and the r12 time-range sub-bucketing reshapes
    # (operators/asof.py bucket_width, operators/interpolate.py
    # bucket_width_s, operators/seqbucket.py ghost tails) on the same
    # corpus, plus their overhead on a uniform corpus, and pin output
    # equality on the probe data (the full parity is tests/test_seqbucket).
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from dask_ssh_docker_spark.operators.asof import merge_asof
    from dask_ssh_docker_spark.operators.interpolate import interpolate_linear
    from dask_ssh_docker_spark.operators.seqbucket import subbucket_with_tail

    n_ev = n_docs * 100
    n_hot_e = int(n_ev * hot_frac)
    BW = 3_600  # 1 h sub-buckets over a 48 h axis
    ev_users = rng.integers(0, 2**62, n_ev)
    hot_users = ev_users.copy()
    hot_users[:n_hot_e] = 123_456_789
    micros = rng.integers(0, 172_800, n_ev) * 1_000_000 + rng.permutation(n_ev)
    vals = rng.normal(50.0, 10.0, n_ev)
    vals[rng.random(n_ev) < 0.3] = None

    def _ev_frame(users):
        return spark.createDataFrame(
            pd.DataFrame(
                {
                    "user_id": users,
                    "ts": pd.to_datetime(micros, unit="us"),
                    "event_id": np.arange(n_ev),
                    "value": vals,
                }
            )
        )

    n_q = n_ev // 10
    q_users = np.where(
        rng.random(n_q) < hot_frac, 123_456_789, rng.integers(0, 2**62, n_q)
    )
    quotes = spark.createDataFrame(
        pd.DataFrame(
            {
                "user_id": q_users,
                "ts": pd.to_datetime(
                    rng.integers(0, 172_800, n_q) * 1_000_000
                    + rng.permutation(n_q),
                    unit="us",
                ),
                "quote_id": np.arange(n_q),
                "px": rng.normal(100.0, 5.0, n_q).round(4),
            }
        )
    )

    def _exec_wall(df) -> tuple[float, tuple]:
        chk = df.selectExpr(
            "sum(hash(*)) AS h", "count(*) AS n"
        )
        t0 = time.time()
        row = chk.first()
        return time.time() - t0, tuple(row)

    def _ewma(src, part_cols):
        t = F.unix_micros("ts")
        x = F.coalesce(F.col("value"), F.lit(0.0))
        w = (
            Window.partitionBy(*part_cols)
            .orderBy(t, "event_id")
            .rowsBetween(-19, 0)
        )
        vals_ = F.collect_list(x).over(w)
        num = F.aggregate(vals_, F.lit(0.0), lambda a, b: a * F.lit(0.9) + b)
        return src.withColumn("ewma", num)

    for tag, users in (("hot", hot_users), ("uniform", ev_users)):
        events = _ev_frame(users)
        # asof
        w_plain, h_plain = _exec_wall(
            merge_asof(events, quotes, on="ts", by="user_id", tiebreak="quote_id")
        )
        w_bkt, h_bkt = _exec_wall(
            merge_asof(
                events, quotes, on="ts", by="user_id", tiebreak="quote_id",
                bucket_width=BW,
            )
        )
        ok = h_plain == h_bkt
        print(
            f"[seq-window/{tag}] asof: plain {w_plain:.1f}s  bucketed "
            f"{w_bkt:.1f}s ({w_plain / max(w_bkt, 1e-9):.2f}x)  "
            f"output identical: {ok}"
        )
        if not ok:
            failures.append(f"seq-asof-{tag}-divergence")
        # interpolate (column order pinned: the carry join reorders cols,
        # and hash(*) is order-sensitive)
        icols = ["event_id", "user_id", "ts", "value", "value_interp"]
        w_plain, h_plain = _exec_wall(
            interpolate_linear(events, "ts", "value", by="user_id").select(*icols)
        )
        w_bkt, h_bkt = _exec_wall(
            interpolate_linear(
                events, "ts", "value", by="user_id", bucket_width_s=BW
            ).select(*icols)
        )
        ok = h_plain == h_bkt
        print(
            f"[seq-window/{tag}] interpolate: plain {w_plain:.1f}s  bucketed "
            f"{w_bkt:.1f}s ({w_plain / max(w_bkt, 1e-9):.2f}x)  "
            f"output identical: {ok}"
        )
        if not ok:
            failures.append(f"seq-interpolate-{tag}-divergence")
        # bounded EWMA via ghost tails (dense-bucket regime by volume);
        # parity on the HOT corpus only — the hot user's 1 h buckets hold
        # ≫ 20 rows; a uniform user's sparse buckets are exactly the case
        # the helper documents as out-of-precondition (don't sub-bucket
        # uniform keys), so uniform measures WALL only.
        w_plain, h_plain = _exec_wall(
            _ewma(events, ["user_id"]).select("event_id", "ewma")
        )
        aug = subbucket_with_tail(
            events.withColumn("__t", F.unix_micros("ts")),
            ["user_id"],
            ["__t", "event_id"],
            20,
            F.floor(F.col("__t") / F.lit(BW * 1_000_000)),
        )
        w_bkt, _ = _exec_wall(
            _ewma(aug, ["user_id", "__bkt"])
            .filter(~F.col("__ghost"))
            .select("event_id", "ewma")
        )
        print(
            f"[seq-window/{tag}] ewma20: plain {w_plain:.1f}s  ghost-tail "
            f"{w_bkt:.1f}s ({w_plain / max(w_bkt, 1e-9):.2f}x)"
        )
        if tag == "hot":
            # parity is only claimed where the ghost-tail precondition
            # holds — the HOT USER's rows (its 1 h buckets hold ≫ 20
            # rows); the near-unique cold users of either corpus hold
            # 1-row buckets and are documented out-of-precondition.
            # Compare actual hashes restricted to the hot key (ADVICE
            # r12: the parity was advertised but the bucketed hash was
            # discarded, so a ghost-tail divergence could never fail).
            hot = F.col("user_id") == 123_456_789
            _, hp = _exec_wall(
                _ewma(events, ["user_id"]).filter(hot).select("event_id", "ewma")
            )
            _, hb = _exec_wall(
                _ewma(aug, ["user_id", "__bkt"])
                .filter(~F.col("__ghost"))
                .filter(hot)
                .select("event_id", "ewma")
            )
            ok = hp == hb
            print(f"[seq-window/{tag}] ewma20 hot-key parity: {ok}")
            if not ok:
                failures.append("seq-ewma-hot-divergence")


if __name__ == "__main__":
    main()
