"""Property-based checks (hypothesis): text functions total over arbitrary
unicode, as-of join vs pandas on generated data, vector-math invariants.
Examples are batched into single DataFrames so each hypothesis example
costs one Spark job, and example counts are kept low (Spark round-trips
are ~seconds, not µs)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql.functions import col as F_col
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

text_strategy = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)), max_size=200
)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(st.lists(text_strategy, min_size=1, max_size=40))
def test_text_functions_total_and_bounded(spark, texts):
    """quality ∈ [0,1], lang in domain, fingerprint respects normalization
    equality — for ANY unicode input (no crashes, no out-of-range)."""
    from dask_ssh_docker_spark.functions.text import (
        lang_id,
        md5_fingerprint,
        normalize_text,
        quality_score,
    )

    pdf = pd.DataFrame({"text": texts})
    df = spark.createDataFrame(pdf)
    rows = df.select(
        quality_score("text").alias("q"),
        lang_id("text").alias("lang"),
        md5_fingerprint("text").alias("fp"),
        normalize_text("text").alias("norm"),
    ).collect()
    langs = {"en", "es", "fr", "de", "zh", "und"}
    by_norm: dict[str, str] = {}
    for r in rows:
        assert r.q is None or 0.0 <= r.q <= 1.0
        assert r.lang in langs
        if r.norm in by_norm:
            assert by_norm[r.norm] == r.fp  # same normal form -> same fp
        by_norm[r.norm] = r.fp


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 100), st.integers(-50, 50)),
        min_size=1,
        max_size=30,
    ),
    st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 100), st.integers(-50, 50)),
        min_size=1,
        max_size=30,
    ),
)
def test_asof_backward_matches_pandas_generated(spark, lrows, rrows):
    from dask_ssh_docker_spark.operators.asof import merge_asof

    left = pd.DataFrame(lrows, columns=["k", "t", "lv"])
    right = (
        pd.DataFrame(rrows, columns=["k", "t", "rv"]).drop_duplicates(["k", "t"])
    )
    expected = pd.merge_asof(
        left.sort_values(["t", "k", "lv"]).reset_index(drop=True),
        right.sort_values(["t", "k"]).reset_index(drop=True),
        on="t",
        by="k",
        direction="backward",
    )
    got = merge_asof(
        spark.createDataFrame(left),
        spark.createDataFrame(right),
        on="t",
        by="k",
        direction="backward",
        tiebreak="rv",
    ).toPandas()
    key = ["k", "t", "lv"]
    e = expected.sort_values(key).reset_index(drop=True)["rv"].reset_index(drop=True)
    g = got.sort_values(key).reset_index(drop=True)["rv"].reset_index(drop=True)
    pd.testing.assert_series_equal(e, g, check_names=False, check_dtype=False)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(st.integers(2, 16), st.integers(0, 2**31 - 1))
def test_cosine_invariants(spark, dim, seed):
    from dask_ssh_docker_spark.functions.vector import cosine_similarity

    rng = np.random.default_rng(seed)
    a = rng.standard_normal(dim).tolist()
    b = rng.standard_normal(dim).tolist()
    df = spark.createDataFrame(pd.DataFrame({"a": [a, b], "b": [b, a]}))
    s1, s2 = [r[0] for r in df.select(cosine_similarity("a", "b")).collect()]
    assert s1 == pytest.approx(s2, abs=1e-12)  # symmetry
    assert -1.0 - 1e-9 <= s1 <= 1.0 + 1e-9


def test_minhash_identical_texts_identical_sigs(spark):
    from dask_ssh_docker_spark.operators.dedup import (
        hashed_shingles,
        minhash_signatures,
    )

    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": ["alpha beta gamma delta", "alpha  beta GAMMA delta", "other words here now"],
        }
    )
    sh = hashed_shingles(spark.createDataFrame(pdf), "text", "doc_id")
    sigs = {r.id: tuple(r.sig) for r in minhash_signatures(sh).collect()}
    assert sigs[1] == sigs[2]  # normalization folds case/whitespace
    assert sigs[1] != sigs[3]


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 1000), st.one_of(st.none(), st.floats(-100, 100))),
        min_size=2,
        max_size=40,
        unique_by=lambda r: (r[0], r[1]),
    )
)
def test_interpolation_convex_envelope(spark, rows):
    """Interpolated values never leave [min, max] of a key's observed
    non-null values; observed values pass through unchanged."""
    from dask_ssh_docker_spark.operators.interpolate import interpolate_linear

    pdf = pd.DataFrame(rows, columns=["k", "tsec", "v"])
    pdf["ts"] = pd.to_datetime(pdf["tsec"], unit="s")
    out = interpolate_linear(
        spark.createDataFrame(pdf[["k", "ts", "v"]]), "ts", "v", by="k"
    ).toPandas()
    for k, grp in out.groupby("k"):
        obs = grp["v"].dropna()
        if obs.empty:
            assert grp["v_interp"].isna().all()
            continue
        filled = grp["v_interp"].dropna()
        assert (filled >= obs.min() - 1e-9).all()
        assert (filled <= obs.max() + 1e-9).all()
        got = grp[grp["v"].notna()]
        assert (got["v_interp"] == got["v"]).all()


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(st.integers(1, 300), st.integers(5, 60), st.integers(2, 59))
def test_chunking_coverage_property(spark, n_tokens, chunk, stride):
    """Every token index is covered by >= 1 window; windows are <= chunk
    tokens; chunk starts advance by stride."""
    from dask_ssh_docker_spark.functions.text import chunk_token_windows

    stride = min(stride, chunk)  # stride > chunk would skip tokens by design
    text = " ".join(f"t{i}" for i in range(n_tokens))
    df = spark.createDataFrame(pd.DataFrame({"text": [text]}))
    from dask_ssh_docker_spark.functions.text import tokens as tok

    chunks = df.select(
        chunk_token_windows(tok("text"), chunk, stride).alias("c")
    ).first().c
    seen = set()
    for i, c in enumerate(chunks):
        toks = c.split(" ")
        assert len(toks) <= chunk
        start = i * stride
        # verify CONTENT, not just count: tokens are position-encoded, so a
        # shifted slice would fail here
        assert toks == [f"t{j}" for j in range(start, start + len(toks))]
        seen.update(range(start, start + len(toks)))
    assert seen == set(range(n_tokens))


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.one_of(
            st.none(),
            st.just(0.0),
            st.floats(min_value=-4.0, max_value=4.0, allow_nan=False).filter(
                lambda v: abs(v) > 1e-3
            ),
        ),
        min_size=1,
        max_size=25,
    )
)
def test_cumulative_product_matches_pandas(spark, vals):
    """cumprod == pandas Series.cumprod (skipna) over arbitrary mixes of
    zeros, negatives, and nulls."""
    from pyspark.sql import Window

    from dask_ssh_docker_spark.functions import cumulative_product

    pdf = pd.DataFrame({"k": 1, "i": range(len(vals)), "x": pd.array(vals, dtype="float64")})
    df = spark.createDataFrame(pdf)
    w = (
        Window.partitionBy("k")
        .orderBy("i")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    got = (
        df.select("i", cumulative_product("x", w).alias("cp"))
        .toPandas()
        .sort_values("i")["cp"]
        .to_numpy(dtype="float64", na_value=np.nan)
    )
    want = pdf["x"].astype("float64").cumprod().to_numpy(dtype="float64", na_value=np.nan)
    assert np.allclose(got, want, rtol=1e-9, atol=1e-12, equal_nan=True), (got, want)


@settings(
    max_examples=4,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.integers(min_value=1, max_value=60),
    st.integers(min_value=0, max_value=4),
    st.integers(min_value=0, max_value=4),
    st.sampled_from([5, 8, 16]),
)
def test_map_overlap_invariant_to_chunking(spark, n, before, after, chunk_rows):
    """Output of a (before, after)-bounded rolling sum is identical no
    matter how the frame is chunked — halos make chunking invisible."""
    if before >= chunk_rows or after >= chunk_rows:
        return
    from dask_ssh_docker_spark.functions.udf import map_overlap

    pdf = pd.DataFrame({"k": 0, "t": range(n), "v": np.arange(n, dtype="float64")})
    df = spark.createDataFrame(pdf)

    def roll(p: pd.DataFrame) -> pd.DataFrame:
        # NB the fn must only use rows within [t-before, t+after] per
        # output row (the declared halo contract) — no ffill/expanding
        # tricks that would reach beyond the halo.
        out = p[["k", "t"]].copy()
        s = p["v"].rolling(before + after + 1, center=False, min_periods=1).sum()
        out["r"] = s.shift(-after)
        return out

    got = (
        map_overlap(
            df, roll, before=before, after=after,
            schema="k long, t long, r double",
            order_by=["t"], by="k", chunk_rows=chunk_rows,
        )
        .toPandas()
        .sort_values("t")["r"]
        .to_numpy()
    )
    want = roll(pdf)["r"].to_numpy()
    assert np.allclose(got, want, atol=1e-12, equal_nan=True), (got, want)


_snapshot_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=15),               # key
        st.one_of(st.none(), st.integers(-1000, 1000)),       # value
    ),
    max_size=20,
).map(lambda rows: list({k: (k, v) for k, v in rows}.values()))  # unique keys


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(_snapshot_rows, _snapshot_rows)
def test_merge_diff_inverse_property(spark, old_rows, new_rows):
    """For ANY pair of snapshots: applying snapshot_diff's
    inserts+updates to `old` via merge_upsert and dropping its deletes
    reconstructs `new` exactly."""
    from dask_ssh_docker_spark.operators.cdc import merge_upsert, snapshot_diff

    schema = "k bigint, v bigint"
    old = spark.createDataFrame(old_rows, schema)
    new = spark.createDataFrame(new_rows, schema)
    diff = {r["k"]: r["change_type"] for r in snapshot_diff(old, new, ["k"]).collect()}
    upserts = [k for k, t in diff.items() if t in ("insert", "update")]
    deletes = [k for k, t in diff.items() if t == "delete"]
    rebuilt = merge_upsert(old, new.filter(F_col("k").isin(upserts)), ["k"]).filter(
        ~F_col("k").isin(deletes)
    )
    assert {tuple(r) for r in rebuilt.collect()} == {tuple(r) for r in new.collect()}


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(_snapshot_rows, _snapshot_rows, _snapshot_rows)
def test_mv_combine_order_insensitive_property(spark, a_rows, b_rows, c_rows):
    """combine_snapshots must be commutative and associative (batch
    arrival order can't change the MV) for sum merges with NULL partials."""
    from dask_ssh_docker_spark.streaming.mv import combine_snapshots

    schema = "k bigint, v bigint"
    kinds = {"v": "sum"}
    a = spark.createDataFrame(a_rows, schema)
    b = spark.createDataFrame(b_rows, schema)
    c = spark.createDataFrame(c_rows, schema)

    def rows(df):
        return {r["k"]: r["v"] for r in df.collect()}

    ab_c = rows(combine_snapshots(combine_snapshots(a, b, ["k"], kinds), c, ["k"], kinds))
    a_bc = rows(combine_snapshots(a, combine_snapshots(b, c, ["k"], kinds), ["k"], kinds))
    ba_c = rows(combine_snapshots(combine_snapshots(b, a, ["k"], kinds), c, ["k"], kinds))
    assert ab_c == a_bc == ba_c


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.tuples(
            st.floats(min_value=0.0, max_value=500.0, allow_nan=False),
            st.booleans(),
        ),
        min_size=4,
        max_size=60,
    ).filter(lambda xs: any(g for _, g in xs) and any(not g for _, g in xs))
)
def test_mannwhitney_u_complementarity_property(spark, samples):
    """U_a + U_b = n_a·n_b for ANY two samples (the rank-sum identity),
    checked by running the distinct-value-count formulation on generated
    data — validates the grouped-count algebra independent of testdata."""
    import pandas as pd
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    pdf = pd.DataFrame(
        {"value": [round(v, 2) for v, _ in samples],
         "ia": [1 if g else 0 for _, g in samples]}
    )
    df = spark.createDataFrame(pdf)
    b = df.groupBy("value").agg(
        F.sum("ia").alias("ca"), F.sum(F.lit(1) - F.col("ia")).alias("cb")
    )
    wcum = Window.orderBy("value").rowsBetween(Window.unboundedPreceding, 0)
    c = b.select(
        "ca", "cb", (F.sum("cb").over(wcum) - F.col("cb")).alias("cumb_less"),
        (F.sum("ca").over(wcum) - F.col("ca")).alias("cuma_less"),
    )
    r = c.agg(
        F.sum(2 * F.col("ca") * F.col("cumb_less") + F.col("ca") * F.col("cb")).alias("two_ua"),
        F.sum(2 * F.col("cb") * F.col("cuma_less") + F.col("ca") * F.col("cb")).alias("two_ub"),
        F.sum("ca").alias("na"), F.sum("cb").alias("nb"),
    ).collect()[0]
    assert r.two_ua + r.two_ub == 2 * r.na * r.nb


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.floats(min_value=0.01, max_value=1e6, allow_nan=False),
        min_size=2,
        max_size=50,
    )
)
def test_cusum_scaled_form_telescopes_property(spark, daily):
    """The exact scaled CUSUM ``n·cumsum − t·total`` ends at exactly 0 for
    ANY series (telescoping), and equals n·Σ(y_i − ȳ) pointwise within
    float tolerance — validates the decimal×integer identity on generated
    data."""
    import pandas as pd
    import numpy as np
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    vals = [round(v, 2) for v in daily]
    pdf = pd.DataFrame({"t": range(1, len(vals) + 1), "y": vals})
    df = spark.createDataFrame(pdf)
    wo = Window.orderBy("t")
    wall = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    k = df.select(
        "t",
        (
            F.sum(F.col("y").cast("decimal(12,2)"))
            .over(wo.rowsBetween(Window.unboundedPreceding, 0))
            .cast("decimal(18,2)")
            * F.count(F.lit(1)).over(wall).cast("decimal(6,0)")
            - F.col("t").cast("decimal(6,0)")
            * F.sum(F.col("y").cast("decimal(12,2)")).over(wall).cast("decimal(18,2)")
        ).alias("cs"),
    ).orderBy("t").collect()
    assert float(k[-1].cs) == 0.0
    n = len(vals)
    arr = np.array([round(v, 2) for v in vals])
    expect = n * (np.cumsum(arr) - np.arange(1, n + 1) * arr.mean())
    got = np.array([float(r.cs) for r in k])
    assert np.allclose(got, expect, rtol=1e-9, atol=1e-4)


@settings(
    max_examples=4,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.tuples(st.sampled_from(["a", "b", "c", "d", "e"]),
                  st.floats(min_value=1.0, max_value=1e5, allow_nan=False)),
        min_size=6,
        max_size=60,
    ).filter(lambda xs: min(
        sum(1 for k, _ in xs if k == kk) for kk in {k for k, _ in xs}
    ) >= 2)
)
def test_target_encode_loo_excludes_self_property(spark, rows):
    """LOO encoding never equals the plain category mean when the row's
    own value differs from it, and averaging (LOO_i weighted) recovers
    the category mean — the leakage-exclusion property on generated
    data."""
    import pandas as pd
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    pdf = pd.DataFrame(
        {"k": [k for k, _ in rows], "y": [round(v, 2) for _, v in rows],
         "rid": range(len(rows))}
    )
    df = spark.createDataFrame(pdf)
    w = Window.partitionBy("k")
    y = F.col("y").cast("decimal(12,2)")
    out = df.select(
        "rid", "k", "y",
        F.sum(y).over(w).alias("s"), F.count(F.lit(1)).over(w).alias("cnt"),
    ).withColumn(
        "loo",
        (F.col("s") - y).cast("double") / (F.col("cnt") - 1).cast("double"),
    ).toPandas()
    for k, grp in out.groupby("k"):
        mean = grp.y.astype(float).mean()
        for _, r in grp.iterrows():
            # identity: loo = (n*mean - y)/(n-1)
            n = len(grp)
            assert abs(r.loo - (n * mean - float(r.y)) / (n - 1)) < 1e-6


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.text(
            alphabet=st.characters(blacklist_categories=("Cs",)), max_size=120
        ),
        min_size=1,
        max_size=12,
    ),
    st.integers(5, 15),
)
def test_substring_spans_match_bruteforce_any_unicode(spark, texts, k):
    """Stride-1 substring spans equal the brute-force python reference
    for ANY unicode corpus and any k — positions char-indexed, hashes
    collision-free at property scale, short docs dropped cleanly."""
    import re as _re

    from collections import Counter

    from dask_ssh_docker_spark.operators.substring import (
        substring_duplicate_spans,
    )

    docs = {i: t for i, t in enumerate(texts)}
    df = spark.createDataFrame(
        list(docs.items()), "doc_id long, text string"
    )
    got = sorted(
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in substring_duplicate_spans(df, k=k).collect()
    )

    def norm(t):
        # mirror Spark exactly: lower → trim (SPACES only) → collapse
        # JAVA \s runs ([ \t\n\x0b\f\r] — ASCII, unlike python's
        # unicode-aware \s, which would diverge on e.g. \xa0)
        return _re.sub(r"[ \t\n\x0b\f\r]+", " ", t.lower().strip(" "))

    grams = Counter()
    for t in docs.values():
        t = norm(t)
        for i in range(len(t) - k + 1):
            grams[t[i : i + k]] += 1
    want = []
    for d, t in docs.items():
        t = norm(t)
        marks = [
            i + 1 for i in range(len(t) - k + 1) if grams[t[i : i + k]] >= 2
        ]
        if not marks:
            continue
        start = prev = marks[0]
        for p in marks[1:]:
            if p != prev + 1:
                want.append((d, start, prev + k - 1))
                start = p
            prev = p
        want.append((d, start, prev + k - 1))
    assert got == sorted(want)
