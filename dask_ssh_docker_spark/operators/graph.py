"""Graph utilities: connected components over an edge DataFrame.

The min-label propagation loop lives in ``operators/dedup.py``
(``cluster_min_label``) where the near-dup pipelines use it; this module
is the public, domain-neutral entry point for users who bring their own
edge list (co-occurrence graphs, entity resolution, lineage closure).

Scale shape: one edge-set shuffle per round, lazy ``localCheckpoint``
lineage cuts materialized by one job per convergence-probe block,
convergence early-exit, strict cap on rounds (components wider than the
cap raise instead of silently splitting); bounded graphs close locally
on the rows their bound probe collected.  Correctness is
driver-checked end-to-end via ``dedup_clusters_transitive`` (DuckDB
recursive-CTE fixpoint oracle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType

from ..functions.localrel import local_frame
from .dedup import cluster_min_label


def connected_components(
    edges: DataFrame,
    nodes: DataFrame | None = None,
    src: str = "src",
    dst: str = "dst",
    max_iters: int = 20,
    strict: bool = True,
) -> DataFrame:
    """(node, component): weakly connected components of the undirected
    graph, component label = minimum member id.

    ``edges`` needs columns ``src``/``dst`` (rename via the params).
    ``nodes`` (one ``id`` column) adds isolated vertices; when omitted,
    the node set is derived from the edge endpoints (isolated vertices
    cannot be known from edges alone).
    """
    pairs = edges.select(F.col(src).alias("id_a"), F.col(dst).alias("id_b"))
    if nodes is None:
        nodes = (
            pairs.select(F.col("id_a").alias("id"))
            .union(pairs.select(F.col("id_b").alias("id")))
            .distinct()
        )
    out = cluster_min_label(pairs, nodes, cc_iters=max_iters, strict=strict)
    return out.select(F.col("id").alias("node"), F.col("cluster_id").alias("component"))


def pagerank(
    edges: DataFrame,
    nodes: DataFrame | None = None,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
    iters: int = 5,
    damping: float = 0.85,
    driver_iter_max_nodes: int = 1024,
) -> DataFrame:
    """(node, rank): weighted PageRank with uniform teleport, a fixed
    iteration count, and exact dangling-mass redistribution.

    Per iteration (the textbook Spark shape — one bounded shuffle):

    - contributions ``rank(i) · w_ij / W_i`` flow along edges and are
      summed per destination (shuffle keyed on ``dst``);
    - the dangling mass (rank parked on nodes with no out-edges) is a
      1-row aggregate, broadcast back and spread uniformly;
    - ``rank'(j) = (1−d)/N + d·(in(j) + dangling/N)``.

    Lineage is cut with a lazy ``localCheckpoint`` per iteration, and
    one job after the loop materializes all rounds, so the plan never
    grows with ``iters``.  At 100 TB scale the per-iteration cost is one
    edge-sized shuffle; ranks (|V| rows) stay partitioned by node id.
    The edge ratio table is computed once and persisted across
    iterations.

    Correctness is driver-checked end-to-end by ``pagerank_nation_trade``
    (``queries/graph_analytics.py``) against a DuckDB oracle that unrolls
    the same recurrence as chained CTEs.

    ``driver_iter_max_nodes``: graphs whose node set is bounded by the
    SCHEMA rather than the data (nations, categories, segments — the
    aggregated entity graphs analytics actually ranks) iterate
    driver-side in numpy once the distributed edge aggregation has
    reduced them to ≤ this many nodes.  Same posture as PQ codebook
    training: the data-scaling stage (fact-table edge aggregation) stays
    a distributed DataFrame pass, while the iteration over a ≤1024-node
    aggregate is KBs of state where 5 rounds × 3 shuffles buys nothing
    but scheduler latency.  Set to 0 to force the distributed loop
    (tests pin both paths equal to 1e-9 before the caller's rounding).
    """
    e = edges.select(
        F.col(src).alias("src"),
        F.col(dst).alias("dst"),
        (F.col(weight) if weight else F.lit(1)).cast("double").alias("w"),
    ).filter(F.col("w").isNotNull())
    # NULL-weight edges are dropped up front: the distributed aggregates
    # (sum-ignores-null) and the numpy fast path must see the SAME edge
    # set or they diverge on dirty inputs (ADVICE r7) — e.g. a src whose
    # only edges are null-weight is dangling on both paths, not
    # "non-dangling but contributes nothing" on one of them.
    if nodes is None:
        nodes = (
            e.select(F.col("src").alias("id"))
            .union(e.select(F.col("dst").alias("id")))
            .distinct()
        )
    else:
        nodes = nodes.select(F.col(nodes.columns[0]).alias("id"))

    out_w = e.groupBy("src").agg(F.sum("w").alias("w_out"))
    ratio_plan = e.join(out_w, "src").select(
        "src", "dst", (F.col("w") / F.col("w_out")).alias("ratio")
    )
    if driver_iter_max_nodes:
        # one job bounds the node set and, under the bound, fetches it
        probe = nodes.limit(driver_iter_max_nodes + 1).collect()
        if 0 < len(probe) <= driver_iter_max_nodes:
            return _pagerank_bounded(nodes, probe, ratio_plan, iters, damping)
        # an empty probe already proves the node set empty
        n_nodes = nodes.count() if probe else 0
    else:
        n_nodes = nodes.count()
    if n_nodes == 0:
        return nodes.select(F.col("id").alias("node"), F.lit(0.0).alias("rank"))

    ratio = ratio_plan.persist()
    ratio.count()  # materialize once; reused every iteration

    ranks = nodes.select("id", F.lit(1.0 / n_nodes).alias("rank"))
    # derive the dangling-check node set from the PERSISTED ratio table,
    # not from out_w: out_w's lineage reaches back through the caller's
    # edge derivation (often a fact-table join), and this frame is
    # referenced once per iteration — off the cache that would recompute
    # the full edge build every round
    src_nodes = ratio.select(F.col("src").alias("id")).distinct()

    for _ in range(iters):
        dangling = (
            ranks.join(src_nodes, "id", "left_anti")
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dangling"))
        )
        contrib = (
            ratio.join(ranks.withColumnRenamed("id", "src"), "src")
            .groupBy("dst")
            .agg(F.sum(F.col("rank") * F.col("ratio")).alias("in_rank"))
        )
        ranks = (
            nodes.join(contrib.withColumnRenamed("dst", "id"), "id", "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "id",
                (
                    F.lit((1.0 - damping) / n_nodes)
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("in_rank"), F.lit(0.0))
                        + F.col("dangling") / n_nodes
                    )
                ).alias("rank"),
            )
            .localCheckpoint(eager=False)
        )

    # one job materializes the whole lazy chain (each round's cut bounds
    # the plan; the per-round dangling broadcasts resolve inside it)
    # BEFORE the ratio cache is released — unpersisting first would
    # recompute the ratio join once per round
    ranks.count()
    ratio.unpersist()
    return ranks.select(F.col("id").alias("node"), "rank")


def _pagerank_bounded(
    nodes: DataFrame, rows: list, ratio_plan: DataFrame, iters: int, damping: float
) -> DataFrame:
    """Driver-side iteration for schema-bounded aggregated graphs: ONE
    distributed job collects the (src, dst, ratio) aggregate (≤ n²
    rows for n ≤ ``driver_iter_max_nodes``), then numpy runs the same
    recurrence — identical up to float addition order, absorbed by the
    consumer-side rounding every registered query applies.
    ``rows``: the node rows the caller's bound probe collected."""
    import numpy as np

    ids = [r[0] for r in rows]
    n_nodes = len(ids)
    pos = {v: i for i, v in enumerate(ids)}
    has_out = np.zeros(n_nodes, dtype=bool)
    # endpoints outside the caller's node set mirror the distributed
    # path: a known src with only-unknown dsts still counts as
    # non-dangling, but its contribution is dropped; unknown srcs carry
    # no rank at all.
    src_l: list[int] = []
    dst_l: list[int] = []
    val_l: list[float] = []
    for r in ratio_plan.collect():
        si = pos.get(r["src"])
        if si is None:
            continue
        has_out[si] = True
        # NULL ratio (w_out == 0 ⇒ Spark div-by-zero yields NULL): the
        # distributed sum skips the term but the src stays non-dangling
        # via the ratio-table src set — mirror both halves here.
        if r["ratio"] is None:
            continue
        di = pos.get(r["dst"])
        if di is not None:
            src_l.append(si)
            dst_l.append(di)
            val_l.append(r["ratio"])
    src_i = np.asarray(src_l, dtype=np.int64)
    dst_i = np.asarray(dst_l, dtype=np.int64)
    ratio_v = np.asarray(val_l, dtype=np.float64)

    rank = np.full(n_nodes, 1.0 / n_nodes)
    for _ in range(iters):
        dangling = float(rank[~has_out].sum())
        in_rank = np.zeros(n_nodes)
        np.add.at(in_rank, dst_i, rank[src_i] * ratio_v)
        rank = (1.0 - damping) / n_nodes + damping * (
            in_rank + dangling / n_nodes
        )

    id_field = nodes.schema.fields[0]
    out_schema = StructType(
        [
            StructField("node", id_field.dataType, id_field.nullable),
            StructField("rank", DoubleType(), False),
        ]
    )
    return local_frame(
        nodes.sparkSession, [(v, float(rank[pos[v]])) for v in ids], out_schema
    )


def shortest_paths(
    edges: DataFrame,
    sources: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
    max_iters: int = 10,
    driver_max_edges: int = 1_000_000,
) -> DataFrame:
    """(node, dist): single-source (or multi-source) shortest path
    distances by iterative relaxation (Bellman–Ford over DataFrames),
    bounded at ``max_iters`` hops.

    ``driver_max_edges``: an aggregated entity graph whose edge list
    fits under this bound (one ``limit(bound+1)`` collect of the edge
    frame) relaxes locally instead — the identical
    synchronous Bellman–Ford recurrence on the collected (src, dst, w)
    triples, so per-path float addition order (and hence every distance)
    is bit-equal to the distributed loop (parity-pinned in
    tests/test_sketches_graph.py).  The distributed loop is the scale
    path past the bound; 0 forces it.

    Per iteration one edge-sized shuffle: tentative distances flow along
    edges (``dist(u) + w``), then ``min`` per destination merges them
    with the previous frontier.  ``min`` is order-insensitive, so unlike
    sum-based iterative algorithms the result is bit-deterministic —
    the driver oracle (``sssp_nation_trade``) matches without rounding.
    Lineage is cut lazily per round (plan stays O(1) in ``iters``) and
    convergence is certified every PROBE_EVERY rounds with one cheap
    ``(count, sum)`` aggregate: relaxation only ever DECREASES a
    distance, so any change strictly lowers the total while reaching a
    new node raises the count — an unchanged pair is a fixpoint proof
    and the remaining rounds are skipped (they could not alter the
    output).  A whole probe block runs as ONE Spark job.  Nodes farther
    than ``max_iters`` hops are absent from the output (callers
    outer-join their node frame for NULL = unreachable).

    ``sources``: one-column DataFrame of start nodes (distance 0).
    """
    e = (
        edges.select(
            F.col(src).alias("src"),
            F.col(dst).alias("dst"),
            (F.col(weight) if weight else F.lit(1)).cast("double").alias("w"),
        )
        # NULL-weight edges dropped so the distributed loop (whose min
        # ignores the NULL relaxations anyway) and the driver-side
        # Bellman–Ford (where `du + w` would raise on None) agree on
        # dirty inputs (ADVICE r7); a node reachable only via null-weight
        # edges is simply unreachable on both paths.
        .filter(F.col("w").isNotNull())
    )
    if driver_max_edges:
        # one job bounds the edge set and, under the bound, fetches it
        probe = e.limit(driver_max_edges + 1).collect()
        if len(probe) <= driver_max_edges:
            return _shortest_paths_bounded(e, probe, sources, max_iters)
    e = e.persist()
    e.count()  # materialize once; reused every iteration

    dist = sources.select(
        F.col(sources.columns[0]).alias("id"), F.lit(0.0).alias("dist")
    ).localCheckpoint(eager=True)

    PROBE_EVERY = 3
    cert: tuple | None = None
    for it in range(max_iters):
        relaxed = (
            e.join(dist.withColumnRenamed("id", "src"), "src")
            .select(F.col("dst").alias("id"), (F.col("dist") + F.col("w")).alias("dist"))
        )
        dist = (
            dist.unionByName(relaxed)
            .groupBy("id")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint(eager=False)
        )
        if (it + 1) % PROBE_EVERY == 0 or it == max_iters - 1:
            # decimal sum: exact and shuffle-order-independent, so the
            # certificate never misses a strict decrease to float
            # re-rounding (a float sum could collapse a tiny decrease)
            row = dist.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("dist").cast("decimal(38,18)")).alias("s"),
            ).collect()[0]
            new_cert = (row["n"], row["s"])
            if new_cert == cert:  # fixpoint: no reach/decrease this block
                break
            cert = new_cert

    e.unpersist()
    return dist.select(F.col("id").alias("node"), "dist")


def _shortest_paths_bounded(
    e: DataFrame, rows: list, sources: DataFrame, max_iters: int
) -> DataFrame:
    """Driver-side synchronous Bellman–Ford on the collected edge
    triples — the same hop-bounded recurrence as the distributed loop,
    with identical per-path addition order (bit-equal distances).
    ``rows``: the (src, dst, w) triples the caller's bound probe
    collected."""
    dist: dict = {
        r[0]: 0.0 for r in sources.select(sources.columns[0]).collect()
    }
    for _ in range(max_iters):
        new = dict(dist)
        changed = False
        for u, v, w in rows:
            du = dist.get(u)
            if du is None:
                continue
            nd = du + w
            if v not in new or nd < new[v]:
                new[v] = nd
                changed = True
        dist = new
        if not changed:  # fixpoint — same early exit as the certificate
            break
    src_field = e.schema["src"]
    out_schema = StructType(
        [
            StructField("node", src_field.dataType, True),
            StructField("dist", DoubleType(), False),
        ]
    )
    return local_frame(
        e.sparkSession, [(k, float(v)) for k, v in dist.items()], out_schema
    )


def label_propagation(
    edges: DataFrame,
    nodes: DataFrame | None = None,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
    iters: int = 4,
) -> DataFrame:
    """(node, label): synchronous label propagation community detection
    (Raghavan et al. 2007) with a DETERMINISTIC update rule: each
    iteration every node adopts the label carrying the maximum total
    incident edge weight among its neighbors, breaking ties on the
    smallest label id (the async/random-order variants of LPA are
    non-reproducible — useless under this repo's determinism doctrine).
    Isolated nodes keep their own id as label.

    Per iteration: one edge-sized shuffle (neighbor labels aggregate on
    ``(node, label)``), one ranking window on the aggregated frame, one
    node-keyed join back; ``localCheckpoint`` per iteration keeps the
    plan size O(1) in ``iters`` (same discipline as ``pagerank`` /
    ``cluster_min_label``).  Edges are symmetrized internally, so pass a
    directed edge list.

    Driver-checked end-to-end by ``label_propagation_communities``
    (``queries/graph_analytics.py``) against a DuckDB oracle unrolling
    the same recurrence — integer weights make the argmax exact.
    """
    e = edges.select(
        F.col(src).alias("src"),
        F.col(dst).alias("dst"),
        (F.col(weight) if weight else F.lit(1)).cast("long").alias("w"),
    )
    und = (
        e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w"))
        .filter(F.col("src") != F.col("dst"))  # self-loops don't vote
        .groupBy("src", "dst")
        .agg(F.sum("w").alias("w"))
        .persist()
    )
    und.count()  # materialize once; reused every iteration
    if nodes is None:
        nodes = und.select(F.col("src").alias("id")).distinct()
    else:
        nodes = nodes.select(F.col(nodes.columns[0]).alias("id"))

    labels = nodes.select("id", F.col("id").alias("label"))
    for _ in range(iters):
        votes = (
            und.join(
                labels.select(
                    F.col("id").alias("dst"), F.col("label").alias("nbr_label")
                ),
                "dst",
            )
            .groupBy(F.col("src").alias("id"), F.col("nbr_label"))
            .agg(F.sum("w").alias("tw"))
        )
        w_rank = Window.partitionBy("id").orderBy(
            F.desc("tw"), F.asc("nbr_label")
        )
        best = (
            votes.withColumn("rn", F.row_number().over(w_rank))
            .filter(F.col("rn") == 1)
            .select("id", F.col("nbr_label").alias("new_label"))
        )
        labels = (
            labels.join(best, "id", "left")
            .select(
                "id",
                F.coalesce(F.col("new_label"), F.col("label")).alias("label"),
            )
            # lazy cut: the plan truncates every round (O(1) in iters);
            # the whole chain materializes below as ONE job
            .localCheckpoint(eager=False)
        )
    # one job materializes all rounds WHILE the edge cache is still
    # alive; only then is the cache released (unpersisting first would
    # recompute the symmetrized edge aggregate once per round)
    labels.count()
    und.unpersist()
    return labels.select(F.col("id").alias("node"), "label")
