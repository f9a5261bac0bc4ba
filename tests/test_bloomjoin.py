"""Bloom semi-join reduction (operators/bloomjoin.py): no false
negatives, bounded bitmap, exactness of the final join, and the map-side
plan shape."""

from __future__ import annotations

from pyspark.sql import functions as F

from dask_ssh_docker_spark.operators.bloomjoin import (
    bloom_bitmap,
    bloom_prefilter,
    bloom_semi_join,
)


def test_bitmap_bounded_and_prefilter_superset(spark):
    build = spark.range(0, 500).select((F.col("id") * 7).alias("k"))
    probe = spark.range(0, 5000).select(F.col("id").alias("k"))
    bm = bloom_bitmap(build, "k", m_bits=4096)
    assert bm.count() <= 4096 // 64
    kept = {r["k"] for r in bloom_prefilter(probe, bm, "k", m_bits=4096).collect()}
    members = {r["k"] for r in build.collect() if r["k"] < 5000}
    # no false negatives: every true member survives the prefilter
    assert members <= kept


def test_semi_join_exact_vs_plain(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    supp = spark.read.parquet(f"{sf_dir}/supplier.parquet").filter("s_nationkey < 5")
    got = bloom_semi_join(li, supp, "l_suppkey", "s_suppkey")
    want = li.join(
        supp.select(F.col("s_suppkey").alias("l_suppkey")).distinct(),
        "l_suppkey",
        "left_semi",
    )
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_prefilter_is_map_side(spark):
    """The bloom prefilter must add ONLY broadcast hash joins — zero
    exchanges on the probe side (that's its entire point)."""
    build = spark.range(0, 100).select(F.col("id").alias("k"))
    probe = spark.range(0, 1000).select(F.col("id").alias("k"))
    bm = bloom_bitmap(build, "k").localCheckpoint(eager=True)  # isolate probe plan
    pref = bloom_prefilter(probe, bm, "k")
    plan = pref._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") == 3
    import re

    # only broadcast exchanges allowed; no shuffle exchange in the probe path
    assert not re.search(r"Exchange (hashpartitioning|rangepartitioning)", plan)


def test_anti_join_definite_branch_is_map_side(spark):
    """bloom_maybe_flag (the anti-join split) must stay map-side like the
    prefilter: 3 broadcast LEFT joins, zero shuffle exchanges — the
    definitely-new branch of an incremental dedup never pays an
    exchange."""
    import re

    from dask_ssh_docker_spark.operators.bloomjoin import bloom_maybe_flag

    build = spark.range(0, 100).select(F.col("id").alias("k"))
    probe = spark.range(0, 1000).select(F.col("id").alias("k"))
    bm = bloom_bitmap(build, "k").localCheckpoint(eager=True)
    flagged = bloom_maybe_flag(probe, bm, "k")
    plan = flagged._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") == 3
    assert not re.search(r"Exchange (hashpartitioning|rangepartitioning)", plan)


def test_awkward_column_names(spark):
    # ADVICE r7: the mask exprs spliced the raw key name into SQL — a
    # name needing backticks (space, dot, reserved word) broke parsing.
    # Positions now land in internal temp columns first.
    from dask_ssh_docker_spark.operators.bloomjoin import (
        bloom_anti_join,
        bloom_maybe_flag,
    )

    build = spark.range(0, 80).select((F.col("id") * 3).alias("the key"))
    probe = spark.range(0, 400).select(F.col("id").alias("the key"))
    bm = bloom_bitmap(build, "the key").localCheckpoint(eager=True)
    kept = bloom_prefilter(probe, bm, "the key")
    truth = {r[0] for r in build.collect()} & {r[0] for r in probe.collect()}
    got = {r[0] for r in kept.collect()}
    assert truth <= got  # superset: no false negatives
    flagged = bloom_maybe_flag(probe, bm, "the key")
    assert flagged.filter(~F.col("__bloom_maybe")).count() == 400 - flagged.filter(
        F.col("__bloom_maybe")
    ).count()
    anti = bloom_anti_join(probe, build, "the key", "the key")
    plain = probe.join(
        build.withColumnRenamed("the key", "__k"),
        probe["the key"] == F.col("__k"),
        "left_anti",
    )
    assert {r[0] for r in anti.collect()} == {r[0] for r in plain.collect()}


def test_dense_bitmap_absent_words_zero_under_ansi(spark):
    # the dense fold reads absent words from a map; under ANSI mode that
    # lookup must still yield 0, never raise
    from dask_ssh_docker_spark.operators.bloomjoin import _bitmap_array_frame

    build = spark.range(0, 3).select((F.col("id") * 7).alias("k"))
    probe = spark.range(0, 50).select(F.col("id").alias("k"))
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        bm = bloom_bitmap(build, "k", m_bits=4096)
        words = {r["word"]: r["bits"] for r in bm.collect()}
        (dense,) = _bitmap_array_frame(bm, 4096).collect()[0]
        semi = {r["k"] for r in bloom_semi_join(probe, build, "k", "k", 4096).collect()}
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)
    assert len(dense) == 4096 // 64
    assert len(words) < len(dense)  # some words are absent
    assert dense == [words.get(w, 0) for w in range(len(dense))]
    assert semi == {0, 7, 14}
