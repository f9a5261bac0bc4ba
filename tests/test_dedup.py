"""Dedup operators: approximate paths (MinHash-LSH, SimHash) pinned
against the exact-Jaccard baseline; exact dedup pinned on literal frames."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.01"


def test_exact_dedup_literal(spark):
    from dask_ssh_docker_spark.operators.dedup import exact_dedup, exact_dedup_groups

    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3, 4],
                "text": ["Hello  World", "hello world", "other", "OTHER  "],
            }
        )
    )
    kept = exact_dedup(df, "text", "doc_id").toPandas().sort_values("doc_id")
    # normalization folds case+whitespace: {1,2} and {3,4} collapse
    assert kept["doc_id"].tolist() == [1, 3]
    groups = exact_dedup_groups(df, "text", "doc_id").toPandas()
    assert sorted(groups["n_members"].tolist()) == [2, 2]
    assert sorted(groups["canonical_id"].tolist()) == [1, 3]


def test_exact_dedup_groups_member_ids_cap_binds(spark):
    """r10 (VERDICT r9 item 1): a dup-group bigger than MEMBER_IDS_CAP
    keeps EXACT canonical_id/n_members while the id readout is the cap
    smallest ids — and the cap is enforced inside the aggregate, so the
    buffer never holds the whole group (plan-pinned in test_plans)."""
    import pandas as pd

    from dask_ssh_docker_spark.operators.dedup import (
        MEMBER_IDS_CAP,
        exact_dedup_groups,
    )

    n = MEMBER_IDS_CAP * 2 + 50
    df = spark.createDataFrame(
        pd.DataFrame(
            {"doc_id": range(n), "text": ["same boilerplate text"] * n}
        )
    )
    g = exact_dedup_groups(df, "text", "doc_id").toPandas()
    assert len(g) == 1
    row = g.iloc[0]
    assert row["n_members"] == n  # count stays exact past the cap
    assert row["canonical_id"] == 0
    assert list(row["member_ids"]) == list(range(MEMBER_IDS_CAP))
    # custom cap honored too
    g4 = exact_dedup_groups(df, "text", "doc_id", member_ids_cap=4).toPandas()
    assert list(g4.iloc[0]["member_ids"]) == [0, 1, 2, 3]
    assert g4.iloc[0]["n_members"] == n


def test_exact_dedup_salted_output_identical(spark):
    """r11 (VERDICT r10 residual 1): the salted hot-group shape must be
    OUTPUT-IDENTICAL to the single-window shape -- on real corpus data
    AND on an over-cap hot group (where the per-cell rank guard + the
    slice(sort_array(...)) merge actually have to re-derive the global
    top-cap readout)."""
    import pandas as pd

    from dask_ssh_docker_spark.operators.dedup import (
        MEMBER_IDS_CAP,
        exact_dedup,
        exact_dedup_groups,
    )
    from dask_ssh_docker_spark.sources import load_table

    docs = load_table(spark, SF, "documents")
    n = MEMBER_IDS_CAP * 3 + 7
    hot = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [10_000 + i for i in range(n)],
                "text": ["same boilerplate text"] * n,
            }
        )
    ).select("doc_id", "text")
    corpus = docs.select("doc_id", "text").unionByName(hot)

    def canon(df):
        pdf = df.toPandas()
        pdf["member_ids"] = pdf["member_ids"].map(tuple)
        return pdf.sort_values("fp").reset_index(drop=True)

    plain = canon(exact_dedup_groups(corpus, "text", "doc_id", salt=1))
    salted = canon(exact_dedup_groups(corpus, "text", "doc_id", salt=16))
    pd.testing.assert_frame_equal(plain, salted)

    kp = exact_dedup(corpus, "text", "doc_id", salt=1).toPandas()
    ks = exact_dedup(corpus, "text", "doc_id", salt=16).toPandas()
    pd.testing.assert_frame_equal(
        kp.sort_values("doc_id").reset_index(drop=True),
        ks.sort_values("doc_id").reset_index(drop=True),
    )


def test_minhash_verified_pairs_match_exact(spark):
    """LSH candidates are verified with exact Jaccard, so every surviving
    pair must appear in the all-pairs baseline; recall should be high for
    a 0.35 threshold with 32 hashes / 8 bands."""
    from dask_ssh_docker_spark.operators.dedup import (
        hashed_shingles,
        jaccard_pairs_exact,
        jaccard_verify,
        minhash_candidates,
        minhash_signatures,
    )
    from dask_ssh_docker_spark.sources import load_table

    docs = load_table(spark, SF, "documents")
    exact = {
        (r.id_a, r.id_b)
        for r in jaccard_pairs_exact(docs, "text", "doc_id", 0.35).collect()
    }
    sh = hashed_shingles(docs, "text", "doc_id").persist()
    cands = minhash_candidates(minhash_signatures(sh))
    approx = {
        (r.id_a, r.id_b) for r in jaccard_verify(cands, sh, 0.35).collect()
    }
    sh.unpersist()
    assert approx <= exact  # precision 1.0 by construction (verified)
    if exact:
        recall = len(approx) / len(exact)
        assert recall >= 0.6, f"LSH recall too low: {recall} ({len(approx)}/{len(exact)})"


def test_minhash_clusters_shape(spark):
    from dask_ssh_docker_spark.operators.dedup import minhash_dedup
    from dask_ssh_docker_spark.sources import load_table

    docs = load_table(spark, SF, "documents")
    cl = minhash_dedup(docs, "text", "doc_id", threshold=0.35).toPandas()
    assert len(cl) == docs.count()  # every doc labeled
    assert (cl["cluster_id"] <= cl["id"]).all()  # canonical = min id
    canon = set(cl[cl["is_canonical"]]["id"])
    assert set(cl["cluster_id"]) <= canon  # every cluster label is canonical


def test_simhash_identical_and_disjoint(spark):
    from dask_ssh_docker_spark.operators.dedup import simhash_dedup_pairs

    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "text": [
                    "alpha beta gamma delta epsilon zeta",
                    "alpha beta gamma delta epsilon zeta",  # identical -> hamming 0
                    "completely different words entirely here now",
                ],
            }
        )
    )
    pairs = simhash_dedup_pairs(df, "text", "doc_id").toPandas()
    assert {(r.id_a, r.id_b) for r in pairs.itertuples()} == {(1, 2)}
    assert pairs["hamming"].tolist() == [0]


def test_simhash_pairs_are_textually_similar(spark):
    """SimHash pairs on the corpus should overlap Jaccard-similar pairs
    far above chance: every simhash pair gets its exact token-set overlap
    checked to be non-trivial."""
    from dask_ssh_docker_spark.operators.dedup import simhash_dedup_pairs
    from dask_ssh_docker_spark.sources import load_table

    docs = load_table(spark, SF, "documents")
    pairs = simhash_dedup_pairs(docs, "text", "doc_id", max_hamming=3)
    texts = docs.select("doc_id", "text")
    joined = (
        pairs.join(texts.withColumnRenamed("doc_id", "id_a").withColumnRenamed("text", "ta"), "id_a")
        .join(texts.withColumnRenamed("doc_id", "id_b").withColumnRenamed("text", "tb"), "id_b")
        .withColumn(
            "tok_overlap",
            F.size(F.array_intersect(F.split("ta", " "), F.split("tb", " ")))
            / F.size(F.array_union(F.split("ta", " "), F.split("tb", " "))),
        )
    )
    rows = joined.collect()
    assert rows, "expected some simhash pairs on the corpus"
    assert all(r.tok_overlap > 0.3 for r in rows)


def test_simhash_rejects_unguaranteed_params(spark):
    """Pigeonhole guard: max_hamming > bands-1 or 64 % bands != 0 must
    raise instead of silently missing pairs / dropping bits."""
    import pytest

    from dask_ssh_docker_spark.operators.dedup import simhash_dedup_pairs

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="pigeonhole"):
        simhash_dedup_pairs(df, "text", "doc_id", max_hamming=5, bands=4)
    with pytest.raises(ValueError, match="divide"):
        simhash_dedup_pairs(df, "text", "doc_id", max_hamming=2, bands=5)
    # the suggested remedy works: bands = max_hamming + 1 (8 divides 64)
    simhash_dedup_pairs(df, "text", "doc_id", max_hamming=7, bands=8)


def test_cluster_min_label_converges_on_long_chain(spark):
    """A 10-hop path graph must collapse to ONE cluster (the old fixed
    3-iteration loop silently split it)."""
    from dask_ssh_docker_spark.operators.dedup import cluster_min_label

    n = 11
    ids = spark.createDataFrame([(i,) for i in range(n)], "id long")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    out = cluster_min_label(pairs, ids).toPandas()
    assert set(out["cluster_id"]) == {0}, out


def test_cluster_min_label_reliable_checkpoint_matches_default(spark, tmp_path):
    """The distributed loop on reliable ``checkpoint()`` cuts (the
    ``checkpoint_dir`` path for real clusters) labels the long chain
    exactly as the default path does."""
    from dask_ssh_docker_spark.operators.dedup import cluster_min_label

    n = 11
    ids = spark.createDataFrame([(i,) for i in range(n)], "id long")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    default = dict(cluster_min_label(pairs, ids).collect())
    reliable = dict(
        cluster_min_label(
            pairs, ids, driver_max_edges=0, checkpoint_dir=str(tmp_path)
        ).collect()
    )
    assert reliable == default == {i: 0 for i in range(n)}
    assert any(p.is_file() for p in tmp_path.rglob("*"))  # files written


def test_cut_lineage_reuses_its_checkpoint_dir(spark, tmp_path):
    """Spark puts a reliable checkpoint under a fresh ``<dir>/<uuid>``
    each time the dir is set, so cuts with one ``checkpoint_dir`` must set
    it once: two cuts leave exactly one subdirectory."""
    from dask_ssh_docker_spark.operators.dedup import cut_lineage

    df = spark.range(4)
    for _ in range(2):
        assert cut_lineage(df, checkpoint_dir=str(tmp_path)).count() == 4
    assert len([p for p in tmp_path.iterdir() if p.is_dir()]) == 1


def test_minhash_dedup_job_count(spark, sf_dir, spark_work):
    """minhash_dedup build + collect at sf0.001: 10 jobs / 28 tasks.  The
    bound probe's rows feed union-find directly, and its labels are a
    job-free local relation."""
    from dask_ssh_docker_spark.operators.dedup import minhash_dedup
    from dask_ssh_docker_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    with spark_work() as w:
        minhash_dedup(docs, "text", "doc_id", threshold=0.35).collect()
    assert w.jobs == 10
    # shuffle-stage task counts scale with the default parallelism; the
    # count was measured at 8
    if spark.sparkContext.defaultParallelism == 8:
        assert w.tasks == 28


def test_cluster_min_label_cap_raises_or_warns(spark):
    """Hitting the iteration cap with moving labels raises (strict) or
    warns (strict=False) — never a silent split."""
    import pytest

    from dask_ssh_docker_spark.operators.dedup import cluster_min_label

    n = 6
    ids = spark.createDataFrame([(i,) for i in range(n)], "id long")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    # the cap is a distributed-loop concept; force that path (the
    # bounded union-find fast path has no cap to hit)
    with pytest.raises(RuntimeError, match="did not converge"):
        cluster_min_label(pairs, ids, cc_iters=2, driver_max_edges=0)
    with pytest.warns(RuntimeWarning, match="did not converge"):
        out = cluster_min_label(
            pairs, ids, cc_iters=2, strict=False, driver_max_edges=0
        ).toPandas()
    assert len(out) == n


def test_cluster_min_label_exact_cap_is_not_nonconvergence(spark):
    """Labels that finish moving in the FINAL permitted round are
    converged — the cap probe must not false-positive (review fix)."""
    from dask_ssh_docker_spark.operators.dedup import cluster_min_label

    ids = spark.createDataFrame([(0,), (1,), (2,)], "id long")
    pairs = spark.createDataFrame([(0, 1), (1, 2)], "id_a long, id_b long")
    out = cluster_min_label(pairs, ids, cc_iters=2).toPandas()
    assert set(out["cluster_id"]) == {0}


def test_transitive_clusters_consistent_with_pairs(spark):
    """Every verified near-dup pair lands in one cluster, and every
    cluster label is the component's minimum member id."""
    from dask_ssh_docker_spark.queries.dedup import (
        dedup_clusters_transitive,
        dedup_jaccard_pairs,
    )

    sf = "/root/testdata/sf0.001"
    lbl = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup_clusters_transitive(spark, sf).collect()
    }
    pairs = [(r["id_a"], r["id_b"]) for r in dedup_jaccard_pairs(spark, sf).collect()]
    assert pairs, "fixture should contain near-dup pairs"
    for a, b in pairs:
        assert lbl[a] == lbl[b], (a, b)
    # label = min member id per component
    from collections import defaultdict

    members = defaultdict(list)
    for d, c in lbl.items():
        members[c].append(d)
    for c, ms in members.items():
        assert c == min(ms), (c, ms)


def test_minhash_cc_clusters_equal_allpairs_cc(spark):
    """Scale-path pin (VERDICT r3 item 2): the bands → verify → CC
    composition (``dedup_clusters_minhash_cc``) yields EXACTLY the same
    (doc_id, cluster_id) labeling as the all-pairs exact-Jaccard CC oracle
    (``dedup_clusters_transitive``) on the test corpus — i.e. at a 0.35
    verify threshold the LSH candidate stage loses no qualifying edge
    that changes any component."""
    from dask_ssh_docker_spark.queries.dedup import (
        dedup_clusters_minhash_cc,
        dedup_clusters_transitive,
    )

    sf = "/root/testdata/sf0.001"
    scale = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup_clusters_minhash_cc(spark, sf).collect()
    }
    exact = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup_clusters_transitive(spark, sf).collect()
    }
    assert scale == exact
    assert len(set(scale.values())) < len(scale)  # corpus really has dups


def test_connected_components_public_api(spark):
    """graph.connected_components: chain + triangle + isolated vertex."""
    import pandas as pd

    from dask_ssh_docker_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        pd.DataFrame({"src": [1, 2, 10, 11, 10], "dst": [2, 3, 11, 12, 12]})
    )
    nodes = spark.createDataFrame(pd.DataFrame({"id": [1, 2, 3, 10, 11, 12, 99]}))
    got = {
        r["node"]: r["component"]
        for r in connected_components(edges, nodes).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10, 99: 99}

    # nodes derived from edges when omitted (no isolated 99)
    got2 = {
        r["node"]: r["component"] for r in connected_components(edges).collect()
    }
    assert got2 == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10}


def test_cluster_union_find_matches_distributed_loop(spark):
    """The bounded driver-side union-find must produce EXACTLY the
    distributed min-label loop's labels (min member id per component)."""
    from dask_ssh_docker_spark.operators.dedup import cluster_min_label

    ids = spark.createDataFrame([(i,) for i in range(30)], "id long")
    # chain + triangle + isolated pair + singletons, shuffled order
    pairs = spark.createDataFrame(
        [(5, 3), (3, 9), (9, 7), (12, 14), (14, 12), (20, 21), (21, 22), (22, 20), (1, 2)],
        "id_a long, id_b long",
    )
    fast = {(r.id, r.cluster_id) for r in cluster_min_label(pairs, ids).collect()}
    slow = {
        (r.id, r.cluster_id)
        for r in cluster_min_label(pairs, ids, driver_max_edges=0).collect()
    }
    assert fast == slow
    assert len(fast) == 30


def test_simhash_frame_signatures_bit_equal_to_column_form(spark):
    """The codegen'd aggregate simhash (simhash_signatures) must be
    BIT-identical to the reference single-expression column form —
    same token hashes, v = 2c - n algebra."""
    from dask_ssh_docker_spark.operators.dedup import (
        simhash_signature,
        simhash_signatures,
    )
    from dask_ssh_docker_spark.sources import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").limit(200)
    ref = {
        r.id: r.sig
        for r in docs.select(
            docs.doc_id.alias("id"), simhash_signature("text").alias("sig")
        ).collect()
    }
    got = {r.id: r.sig for r in simhash_signatures(docs, "text", "doc_id").collect()}
    assert got == ref
    assert len(got) == 200


def test_simhash_signature_awkward_column_name(spark):
    # r8 audit (same class as the bloomjoin ADVICE finding): the one
    # simhash surface that splices a user column name into SQL must
    # backtick-escape it.
    from dask_ssh_docker_spark.operators.dedup import simhash_signature

    df = spark.createDataFrame([("hello world",), ("hello world",)], ["the text"])
    sigs = [r.sig for r in df.select(simhash_signature("the text").alias("sig")).collect()]
    assert sigs[0] == sigs[1] and sigs[0] != 0


def test_simhash_md5_64_banded_equals_all_pairs(spark):
    """The r13 cross-engine family: banded md5_64 output must EQUAL the
    brute-force all-pairs hamming<=3 over the same 64-bit signatures
    (pigeonhole exactness — the property that makes the DuckDB oracle a
    verifier, not an approximation of an approximation), and the
    xxhash64 default must be untouched by the new parameters."""
    from dask_ssh_docker_spark.operators.dedup import (
        simhash_dedup_pairs,
        simhash_signatures,
    )
    from dask_ssh_docker_spark.sources import load_table

    docs = load_table(spark, "/root/testdata/sf0.01", "documents")
    banded = sorted(
        tuple(r) for r in simhash_dedup_pairs(
            docs, "text", "doc_id", hash_family="md5_64"
        ).select("id_a", "id_b", "hamming").collect()
    )
    sig = simhash_signatures(docs, "text", "doc_id", 64, "md5_64")
    a = sig.selectExpr("id as id_a", "sig as sa")
    b = sig.selectExpr("id as id_b", "sig as sb")
    brute = sorted(
        tuple(r)
        for r in a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b",
            F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))).alias("hamming"),
        )
        .filter("hamming <= 3")
        .collect()
    )
    assert banded == brute and banded
    # the full 64-bit range is exercised: some signature has bit 63 set
    # (negative as int64) — the sign-bit band is where engine-parity
    # mistakes (checked shifts, arithmetic vs logical >>) would surface
    assert sig.filter(F.col("sig") < 0).count() > 0
    # cross-engine parity constant (DuckDB fold identity), 'abc' token
    one = spark.createDataFrame([(0, "abc")], "id long, t string")
    from dask_ssh_docker_spark.operators.dedup import _token_hash

    h = one.select(F.col("t").alias("__tok")).select(
        _token_hash("md5_64", 64).alias("h")
    ).head()["h"]
    assert h == -8070080442485551184
    # parameter validation
    import pytest

    with pytest.raises(ValueError, match="md5_64 defines 64 bits"):
        simhash_signatures(docs, "text", "doc_id", 65, "md5_64")
    with pytest.raises(ValueError, match="unknown hash_family"):
        simhash_signatures(docs, "text", "doc_id", 60, "sha9")
