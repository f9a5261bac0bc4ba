"""Prefix-filtered set-similarity join: lossless vs the all-pairs exact
baseline (the registered query additionally hash-matches the DuckDB
all-pairs oracle at sf0.01), plus the r12 sampled-pair THIRD check at
zipf-sf1 (VERDICT r11 item 3) — an engine-independent brute-force
referee over a stratified pair sample, restoring the independence the
shared-structure PPJoin oracle gave up."""

from __future__ import annotations

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"
ZIPF_SF1 = "/root/repo/testdata_sf1_zipf/sf1"


def _pairs(df):
    return set(map(tuple, df.select("id_a", "id_b").toPandas().values.tolist()))


def test_prefix_equals_allpairs_on_corpus(spark):
    from dask_ssh_docker_spark.operators.dedup import jaccard_pairs_exact
    from dask_ssh_docker_spark.operators.setsim import setsim_pairs_prefix
    from dask_ssh_docker_spark.sources import load_table

    docs = load_table(spark, SF, "documents")
    base = jaccard_pairs_exact(docs, "text", "doc_id", threshold=0.35)
    pre = setsim_pairs_prefix(docs, "text", "doc_id", t_num=7, t_den=20)
    bp, pp = base.toPandas(), pre.toPandas()
    assert _pairs(base) == _pairs(pre)
    # jaccard values identical too, not just membership
    bj = {(r.id_a, r.id_b): r.jaccard for r in bp.itertuples()}
    pj = {(r.id_a, r.id_b): r.jaccard for r in pp.itertuples()}
    assert bj == pj


def test_prefix_lossless_boundary_cases(spark):
    """Adversarial corpus: exact-threshold pairs (J == t precisely),
    just-below-threshold pairs, identical docs, and size-ratio edge
    cases — prefix filtering must lose nothing the baseline finds."""
    from dask_ssh_docker_spark.operators.dedup import jaccard_pairs_exact
    from dask_ssh_docker_spark.operators.setsim import setsim_pairs_prefix

    # Docs built from word 3-shingles: a doc of k+2 words has k shingles.
    w = [f"w{i}" for i in range(40)]
    mk = lambda idx: " ".join(w[i] for i in idx)
    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": list(range(1, 8)),
                "text": [
                    mk(range(0, 12)),        # 1: shingles 0..9
                    mk(range(0, 12)),        # 2: identical to 1 (J=1)
                    mk(range(0, 10)),        # 3: prefix-subset of 1
                    mk(range(2, 14)),        # 4: overlaps 1 heavily
                    mk(range(20, 32)),       # 5: disjoint from 1-4
                    mk(range(20, 30)),       # 6: overlaps 5
                    mk(range(30, 40)),       # 7: tail overlap with 5
                ],
            }
        )
    )
    for t_num, t_den in [(1, 2), (7, 20), (3, 5), (9, 10)]:
        base = jaccard_pairs_exact(
            docs, "text", "doc_id", threshold=t_num / t_den
        )
        pre = setsim_pairs_prefix(docs, "text", "doc_id", t_num=t_num, t_den=t_den)
        assert _pairs(base) == _pairs(pre), (t_num, t_den)


def test_prefix_plan_has_no_python_eval(spark):
    from dask_ssh_docker_spark.operators.setsim import setsim_pairs_prefix
    from dask_ssh_docker_spark.sources import load_table

    docs = load_table(spark, SF, "documents")
    plan = (
        setsim_pairs_prefix(docs, "text", "doc_id", t_num=7, t_den=20)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BatchEvalPython" not in plan


# ---------------------------------------------------------------------------
# r12 sampled-pair third check (VERDICT r11 item 3).
#
# The r11 PPJoin oracle shares the prefix-filter LEMMA with the operator
# under test, so a shared blind spot in the lemma's application would pass
# both engines.  This referee is structurally independent of both: pair
# DISCOVERY is a plain Python inverted index over a deterministic 1/16
# vocabulary sample (no rarity order, no prefix, no positional filter),
# and pair SCORING is exact set Jaccard on full Python shingle sets.
# Every sampled pair must agree three ways:  J >= 7/20  <=>  the pair is
# in the Spark prefix join's output  <=>  it is in the DuckDB PPJoin
# oracle's output (and the engines' jaccard values match the brute-force
# value).  The zipf corpus is bimodal (planted dups J>=0.5, background
# J<0.1), so crafted boundary docs are appended to sweep J through the
# 0.17-0.6 band INCLUDING J = 14/40 = 0.35 exactly — the inclusive
# threshold edge rides the at-scale corpus through both engines.
# ---------------------------------------------------------------------------


def _py_shingles(text: str) -> set[str]:
    """Python twin of functions.text.tokens + 3-shingling with the
    short-doc fallback (mirrors the _SHINGLES SQL and hashed_shingles)."""
    import re as _re

    toks = _re.sub(r"\s+", " ", text.lower().strip()).split(" ")
    if len(toks) >= 3:
        return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}
    return {" ".join(toks)}


def _boundary_docs(base_id: int) -> list[tuple[int, str]]:
    """Crafted pairs (A_i, B_i): 29 unique tokens each, B shares A's first
    i tokens -> i-2 shared shingles, J = (i-2)/(54-(i-2)).  i sweeps 10..22
    -> J in {8/46 .. 20/34} ~ 0.174..0.588, crossing 0.35 exactly at i=16
    (14/40).  Per-pair vocabulary namespaces prevent cross-pair overlap."""
    docs = []
    did = base_id
    for i in range(10, 23):
        a_toks = [f"p{i}a{j}" for j in range(29)]
        b_toks = a_toks[:i] + [f"p{i}b{j}" for j in range(29 - i)]
        docs.append((did, " ".join(a_toks)))
        docs.append((did + 1, " ".join(b_toks)))
        did += 2
    # finer sweep around the boundary: 59-token docs (57 shingles),
    # J = (i-2)/(114-(i-2)) — i in 26..36 lands x=24..34, i.e. J from
    # 24/90 ~ 0.267 through 34/80 = 0.425 in ~0.015 steps
    for i in range(26, 37):
        a_toks = [f"q{i}a{j}" for j in range(59)]
        b_toks = a_toks[:i] + [f"q{i}b{j}" for j in range(59 - i)]
        docs.append((did, " ".join(a_toks)))
        docs.append((did + 1, " ".join(b_toks)))
        did += 2
    # identical pair (J = 1) in the same namespace style
    t = [f"pxx{j}" for j in range(29)]
    docs.append((did, " ".join(t)))
    docs.append((did + 1, " ".join(t)))
    return docs


@pytest.mark.skipif(
    not os.path.exists(f"{ZIPF_SF1}/documents.parquet"),
    reason="zipf sf1 corpus not generated on this machine",
)
def test_sampled_pair_third_check_zipf_sf1(spark):
    import random
    from collections import defaultdict

    import duckdb

    from dask_ssh_docker_spark.operators.setsim import setsim_pairs_prefix
    from dask_ssh_docker_spark.queries.registry import REGISTRY
    from dask_ssh_docker_spark.sources import load_table

    con = duckdb.connect()
    rows = con.execute(
        f"SELECT doc_id, text FROM read_parquet('{ZIPF_SF1}/documents.parquet')"
    ).fetchall()
    base_id = max(d for d, _ in rows) + 1
    crafted = _boundary_docs(base_id)
    all_rows = rows + crafted

    # --- brute-force truth on a stratified sample -----------------------
    sh = {d: _py_shingles(t) for d, t in all_rows}
    inv = defaultdict(list)
    for d, s in sh.items():
        for g in s:
            # deterministic 1/16 vocabulary sample (md5 nibble, not
            # Python's salted hash()) — independent of any engine hash
            import hashlib

            if hashlib.md5(g.encode()).digest()[0] % 16 == 0:
                inv[g].append(d)
    rng = random.Random(42)
    keys = sorted(inv)
    rng.shuffle(keys)
    cand: set[tuple[int, int]] = set()
    for g in keys:
        lst = inv[g]
        if not (2 <= len(lst) <= 40):
            continue
        for _ in range(min(6, len(lst) * (len(lst) - 1) // 2)):
            a, b = rng.sample(lst, 2)
            cand.add((min(a, b), max(a, b)))
        if len(cand) >= 20_000:
            break
    # every crafted pair is asserted, sampled or not
    for i in range(0, len(crafted) - 1, 2):
        cand.add((crafted[i][0], crafted[i + 1][0]))
    truth = {}
    for a, b in cand:
        inter = len(sh[a] & sh[b])
        union = len(sh[a]) + len(sh[b]) - inter
        truth[(a, b)] = inter / union if union else 0.0

    # strata sanity: the sample actually exercises the boundary band
    import numpy as np

    js = np.array(list(truth.values()))
    assert (js >= 0.35).sum() >= 200, "too few positive pairs sampled"
    assert ((js >= 0.30) & (js < 0.35)).sum() >= 2, "no just-below-boundary pairs"
    assert ((js >= 0.35) & (js <= 0.45)).sum() >= 2, "no just-above-boundary pairs"
    assert (0.35 in {round(j, 6) for j in js}), "exact-threshold pair missing"

    # --- engine 1: Spark prefix join on the augmented corpus ------------
    docs = load_table(spark, ZIPF_SF1, "documents").select("doc_id", "text")
    aug = docs.unionByName(
        spark.createDataFrame(pd.DataFrame(crafted, columns=["doc_id", "text"]))
    )
    got = setsim_pairs_prefix(aug, "text", "doc_id", t_num=7, t_den=20).collect()
    p_spark = {(r.id_a, r.id_b): r.jaccard for r in got}

    # --- engine 2: DuckDB PPJoin oracle on the same augmented corpus ----
    crafted_values = ", ".join(f"({d}, '{t}')" for d, t in crafted)
    con.execute(
        f"""CREATE VIEW documents AS
            SELECT doc_id, text
            FROM read_parquet('{ZIPF_SF1}/documents.parquet')
            UNION ALL SELECT * FROM (VALUES {crafted_values}) t(doc_id, text)"""
    )
    p_duck = {
        (a, b): j
        for a, b, j in con.execute(
            REGISTRY["setsim_prefix_pairs"].oracle
        ).fetchall()
    }

    # --- three-way agreement on every sampled pair -----------------------
    for (a, b), j in truth.items():
        in_truth = j >= 7 / 20
        assert ((a, b) in p_spark) == in_truth, (a, b, j, "spark membership")
        assert ((a, b) in p_duck) == in_truth, (a, b, j, "duckdb membership")
        if in_truth:
            # engines emit round(j, 6) — half-ulp-of-6dp tolerance
            assert abs(p_spark[(a, b)] - j) < 5.1e-7, (a, b, j, p_spark[(a, b)])
            assert abs(p_duck[(a, b)] - j) < 5.1e-7, (a, b, j, p_duck[(a, b)])
    # and the engines agree wholesale, not just on the sample
    assert set(p_spark) == set(p_duck)
