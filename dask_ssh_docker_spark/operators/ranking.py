"""Distributed global ordering: rank / row_number / ntile / running sums
WITHOUT a single-partition window.

The problem (VERDICT r4 "global-window quantile/ranking class"): Spark
executes ``row_number().over(Window.orderBy(x))`` — and every other
unpartitioned ordered window — by shuffling the WHOLE frame into ONE
task.  Fine at sf0.1; a guaranteed straggler/OOM on a 1000-executor
cluster where the ranked grain is billions of rows.

The fix is the classic range-partitioned rank (the same decomposition
``ORDER BY`` itself uses inside ``repartitionByRange``), expressed as a
pure lazy DataFrame composition so Catalyst/AQE still see one plan:

1. **Sketch the order key** with ``percentile_approx`` (one global
   aggregate → a 1-row broadcast of ``n_buckets − 1`` edge values).
2. **Bucketize map-side**: ``bucket(v) = #edges < v`` — a function of
   the value only, so ties never split across buckets and bucket order
   equals value order.  Sketch error moves *boundaries*, never
   correctness: any monotone bucketing yields the same final ranks.
3. **Per-bucket offsets**: aggregate each bucket's count/sum (≤
   ``n_buckets`` rows, a compile-time constant), then prefix-sum that
   tiny summary with a bounded triangular self-join (`b' < b`) — no
   driver collect, no single-partition exchange over the data grain.
4. **Rank inside buckets**: an ordinary ``Window.partitionBy(bucket)``
   — parallelism = ``n_buckets`` — plus the broadcast offset.

Global row_number / ntile / cumulative sums come out EXACT (equal to
the single-partition window bit-for-bit, pinned in
tests/test_ranking.py) while every exchange in the plan is hash- or
broadcast-shaped.  ``assign_quantile_buckets`` is the pure-sketch
sibling for when approximate quantile *membership* is enough: one
global aggregate + a map-side expression, no shuffle of the frame at
all.

Sizing at 100 TB: ``n_buckets`` bounds both the offset table and the
sort parallelism — set it to a few × the executor-core count (the
default 64 suits local[32]; 4096 suits a 1000-executor fleet).  A
single value carrying most of the mass still lands in one bucket:
ranking is a total order, so equal keys are inherently one task's
work; break such ties upstream (they are exactly the rows a tiebreak
column disambiguates).

NULL order keys are pinned to Spark's window null ordering (NULLS
FIRST ascending, NULLS LAST descending) by coalescing them to the
matching ±inf in key-double space, so bucketing and the in-bucket
window always agree.  An ANSI-SQL oracle must spell the same ordering
explicitly (DuckDB defaults to NULLS LAST for ASC).

Reference parity: the reference engine exposes global ordering only
through Dask's ``sort_values``/``set_index`` (reference
``__init__.py:307`` ships the stock dask image); this operator is the
Spark-side scale path those semantics need beyond ``orderBy``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

OrderSpec = list[tuple[str | Column, bool]]  # (column, ascending)

_KEY, _BUCKET, _EDGES = "__gr_key", "__gr_bucket", "__gr_edges"


def _probs_sql(n_buckets: int) -> str:
    """SQL array of the n_buckets-1 interior quantile probabilities as
    exact double literals (repr round-trips; one parse call instead of
    ~2 py4j round-trips per element — r13 continuation)."""
    return (
        "array("
        + ", ".join(f"{i / n_buckets!r}D" for i in range(1, n_buckets))
        + ")"
    )


def _col(c: str | Column) -> Column:
    return F.col(c) if isinstance(c, str) else c


def _sort_exprs(order: OrderSpec) -> list[Column]:
    return [(_col(c).asc() if asc else _col(c).desc()) for c, asc in order]


def with_quantile_bucket(
    df: DataFrame,
    key: str | Column,
    ascending: bool = True,
    n_buckets: int = 64,
    accuracy: int = 10000,
) -> DataFrame:
    """Adds ``__gr_bucket`` ∈ [0, n_buckets): a monotone, tie-preserving
    bucketing of ``key`` from a ``percentile_approx`` edge sketch.

    The sketch (one 1-row global aggregate, ≤ n_buckets−1 doubles) is
    collected EAGERLY and embedded as a literal array, so every consumer
    of the bucketed frame — the offset branch and the window branch of
    the rank decomposition — sees the *same* edges by construction.  The
    lazy form evaluated the sketch subtree twice and was consistent only
    while ``spark.sql.exchange.reuse`` deduplicated the two aggregates
    (percentile_approx merge order is shuffle-fetch-order-sensitive);
    with a literal there is nothing left to diverge.  Bucket assignment
    stays a map-side array scan inside codegen.

    Key dtype must order identically under the double cast the bucketing
    uses: numeric, timestamp, date, or boolean.  Strings are rejected —
    numeric-looking values ('9','10') would bucket numerically while the
    in-bucket window sorts lexicographically, silently mis-ranking.
    Float NaN (which Spark sorts greatest) is pinned to +inf before the
    descending negation so the bucket comparator agrees with the window
    comparator under both directions."""
    tmp = df.withColumn(_KEY, _key_double(df, key, ascending))
    probs = F.expr(_probs_sql(n_buckets))
    edge_vals = tmp.agg(
        F.percentile_approx(_KEY, probs, F.lit(accuracy)).alias(_EDGES)
    ).first()[0]
    return _bucket_from_edges(tmp, edge_vals)


def _key_double(df: DataFrame, key: str | Column, ascending: bool) -> Column:
    """The validated monotone double form of an order key (dtype check,
    date→timestamp hop, NaN pinned to +inf, descending negation, NULL
    pinned post-negation to the window's null ordering) — the comparator
    contract documented on ``with_quantile_bucket``."""
    from pyspark.sql.types import (
        BooleanType,
        DateType,
        DoubleType,
        FloatType,
        NumericType,
        TimestampNTZType,
        TimestampType,
    )

    dtype = df.select(_col(key).alias(_KEY)).schema[0].dataType
    if not isinstance(
        dtype,
        (NumericType, DateType, TimestampType, TimestampNTZType, BooleanType),
    ):
        raise TypeError(
            f"global-ranking order key has type {dtype.simpleString()}; only "
            "numeric/timestamp/date/boolean keys order identically under the "
            "double cast the bucketing uses (a string key would bucket "
            "numerically but window-sort lexicographically). Cast the key to "
            "a typed column first."
        )
    keyc = _col(key)
    if isinstance(dtype, DateType):
        keyc = keyc.cast("timestamp")  # date→double is not a valid cast
    keyd = keyc.cast("double")
    if isinstance(dtype, (FloatType, DoubleType)):
        keyd = F.nanvl(keyd, F.lit(float("inf")))
    if not ascending:
        keyd = -keyd
    # NULL keys must bucket where the in-bucket window will sort them:
    # Spark windows order NULLS FIRST ascending, NULLS LAST descending —
    # so in post-negation key space that is -inf (asc) / +inf (desc).
    # Without this pin a NULL survives the cast as NULL, the bucket
    # expression's `edge < NULL` filter counts 0 edges, and the row lands
    # in bucket 0 regardless of direction — under desc that ranks it
    # between buckets 0 and 1 instead of globally last.
    return F.coalesce(
        keyd, F.lit(float("-inf") if ascending else float("inf"))
    )


def _bucket_from_edges(tmp: DataFrame, edge_vals) -> DataFrame:
    """Adds ``__gr_bucket`` from an already-collected edge list (a
    map-side literal-array scan; empty edges → everything in bucket 0).

    Finite edges build as ONE parsed expr string (r13 continuation —
    element-wise ``F.lit`` arrays cost ~2 py4j round-trips per element,
    the bloom-literal lesson; ``repr`` doubles round-trip exactly through
    the SQL parser's correctly-rounded `D` literals).  Non-finite edges
    (±inf from an all-NULL/NaN-pinned key) keep the Column form — SQL has
    no inf literal."""
    import math

    if not edge_vals:
        return tmp.withColumn(_BUCKET, F.lit(0))
    vals = [float(e) for e in edge_vals]
    if all(math.isfinite(v) for v in vals):
        arr_sql = "array(" + ", ".join(f"{v!r}D" for v in vals) + ")"
        bucket = F.expr(f"size(filter({arr_sql}, e -> e < {_KEY}))")
    else:
        arr = F.array(*[F.lit(v) for v in vals])
        bucket = F.size(F.filter(arr, lambda e: e < F.col(_KEY)))
    return tmp.withColumn(_BUCKET, bucket)


def _bucket_offsets(
    bucketed: DataFrame, value: Column, out: str, n_buckets: int
) -> DataFrame:
    """(``__gr_bucket``, out): per bucket, the aggregate of ``value``
    over all STRICTLY LOWER buckets (NULL for bucket 0 — callers
    coalesce).  Runs as a triangular self-join of the ≤ n_buckets-row
    summary; the ``limit(n_buckets)`` is a no-op on the data (the frame
    is bounded by construction) that makes the bound visible to the
    planner and to the forced-broadcast audit in tests/test_plans.py."""
    summary = (
        bucketed.groupBy(_BUCKET).agg(value.alias("__gr_val")).limit(n_buckets)
    )
    lower = summary.select(
        F.col(_BUCKET).alias("__gr_lb"), F.col("__gr_val").alias("__gr_lv")
    )
    return (
        summary.join(
            F.broadcast(lower), F.col("__gr_lb") < F.col(_BUCKET), "left"
        )
        .groupBy(_BUCKET)
        .agg(F.sum("__gr_lv").alias(out))
        .limit(n_buckets)
    )


def with_global_row_number(
    df: DataFrame,
    order: OrderSpec,
    out: str = "rn",
    n_buckets: int = 64,
    accuracy: int = 10000,
) -> DataFrame:
    """Adds ``out`` = the exact global 1-based row number under
    ``order`` (first column drives the bucketing; give a unique
    tiebreak column for a deterministic total order, exactly as you
    would for the single-partition window this replaces)."""
    first, first_asc = order[0]
    b = with_quantile_bucket(df, first, first_asc, n_buckets, accuracy)
    off = _bucket_offsets(b, F.count(F.lit(1)), "__gr_off", n_buckets)
    w = Window.partitionBy(_BUCKET).orderBy(*_sort_exprs(order))
    return (
        b.join(F.broadcast(off), _BUCKET, "left")
        .withColumn(
            out,
            (
                F.row_number().over(w).cast("bigint")
                + F.coalesce(F.col("__gr_off"), F.lit(0))
            ).cast("bigint"),
        )
        .drop(_KEY, _BUCKET, "__gr_off")
    )


def with_global_running_sum(
    df: DataFrame,
    order: OrderSpec,
    value: str | Column,
    out: str = "running_sum",
    n_buckets: int = 64,
    accuracy: int = 10000,
) -> DataFrame:
    """Adds ``out`` = the exact inclusive running sum of ``value`` in
    ``order`` (decimal inputs stay in exact decimal arithmetic all the
    way through — bucket window sum + lower-bucket offset sum are both
    Spark decimal adds)."""
    first, first_asc = order[0]
    v = _col(value)
    b = with_quantile_bucket(df, first, first_asc, n_buckets, accuracy)
    off = _bucket_offsets(b, F.sum(v), "__gr_off", n_buckets)
    w = (
        Window.partitionBy(_BUCKET)
        .orderBy(*_sort_exprs(order))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    within = F.sum(v).over(w)
    return (
        b.join(F.broadcast(off), _BUCKET, "left")
        .withColumn(out, within + F.coalesce(F.col("__gr_off"), F.lit(0)))
        .drop(_KEY, _BUCKET, "__gr_off")
    )


def with_global_ntile(
    df: DataFrame,
    order: OrderSpec,
    k: int,
    out: str = "tile",
    n_buckets: int = 64,
    accuracy: int = 10000,
) -> DataFrame:
    """Adds ``out`` = exact SQL ``NTILE(k) OVER (ORDER BY order)`` — the
    first ``n mod k`` tiles get ``⌈n/k⌉`` rows, the rest ``⌊n/k⌋``."""
    return with_global_ntiles(df, [(order, out)], k, n_buckets, accuracy)


def with_global_ntiles(
    df: DataFrame,
    specs: list[tuple[OrderSpec, str]],
    k: int,
    n_buckets: int = 64,
    accuracy: int = 10000,
) -> DataFrame:
    """Adds one exact global NTILE(k) column per ``(order, out)`` spec in
    a SINGLE eager pass over ``df``: every spec's edge sketch AND the row
    count come out of one global aggregate (one job), then each spec gets
    its map-side bucketing, broadcast offsets, and per-bucket window
    inside the one final lazy plan.  A caller scoring R/F/M quintiles
    pays one sketch scan instead of three (plus three count broadcasts).

    The exact-NTILE positional arithmetic runs on the collected count as
    Python-int literals, so no count broadcast appears in the plan.

    Per-bucket offsets come from ONE bounded histogram job shared by
    every spec (posexplode of the per-spec bucket ids → (spec, bucket)
    counts, ≤ |specs|·n_buckets rows collected); each spec's offsets
    enter its plan as a LITERAL array indexed map-side, the exclusive
    prefix-sum of exact bucket counts.  The final plan keeps exactly one
    exchange per spec: the per-bucket rank window's, inherent since k
    distinct orderings need k sorts.  A per-spec offsets subplan (bucket
    groupBy, triangular broadcast self-join, broadcast join back) cost
    rfm_customer_segments 26 jobs / 53 single-task AQE stages before."""
    keyed = df
    key_cols: list[str] = []
    for i, (order, _out) in enumerate(specs):
        first, first_asc = order[0]
        kc = f"{_KEY}_{i}"
        keyed = keyed.withColumn(kc, _key_double(df, first, first_asc))
        key_cols.append(kc)
    probs = F.expr(_probs_sql(n_buckets))
    row = keyed.agg(
        *[
            F.percentile_approx(kc, probs, F.lit(accuracy)).alias(kc)
            for kc in key_cols
        ],
        F.count(F.lit(1)).alias("__gr_n"),
    ).first()
    n = int(row["__gr_n"])

    # one histogram pass for ALL specs: bucket ids per spec (map-side
    # literal-edge scans), posexploded to (spec, bucket) and counted —
    # the collect is bounded by |specs|·n_buckets, never the grain
    bucketed = keyed
    bucket_cols: list[str] = []
    for i, kc in enumerate(key_cols):
        bc = f"{_BUCKET}_{i}"
        bucketed = _bucket_from_edges(
            bucketed.withColumn(_KEY, F.col(kc)), row[kc]
        ).withColumnRenamed(_BUCKET, bc)
        bucket_cols.append(bc)
    hist = (
        bucketed.select(
            F.posexplode(F.array(*[F.col(bc) for bc in bucket_cols])).alias(
                "__gr_spec", "__gr_b"
            )
        )
        .groupBy("__gr_spec", "__gr_b")
        .agg(F.count(F.lit(1)).alias("__gr_cnt"))
        .collect()
    )
    counts = [[0] * n_buckets for _ in specs]
    for r_ in hist:
        counts[r_["__gr_spec"]][r_["__gr_b"]] += int(r_["__gr_cnt"])
    offsets: list[list[int]] = []
    for i in range(len(specs)):
        acc, offs = 0, []
        for c in counts[i]:
            offs.append(acc)
            acc += c
        offsets.append(offs)

    out_df = df
    for i, (order, out) in enumerate(specs):
        first, first_asc = order[0]
        rn_col = "__gr_rn"
        b = _bucket_from_edges(
            out_df.withColumn(_KEY, _key_double(out_df, first, first_asc)),
            row[key_cols[i]],
        )
        off_arr = F.expr(
            "array(" + ", ".join(f"{o}L" for o in offsets[i]) + ")"
        )
        w = Window.partitionBy(_BUCKET).orderBy(*_sort_exprs(order))
        ranked = b.withColumn(
            rn_col,
            (
                F.row_number().over(w).cast("bigint")
                + F.element_at(off_arr, (F.col(_BUCKET) + 1).cast("int"))
            ).cast("bigint"),
        ).drop(_KEY, _BUCKET)
        q, r = divmod(n, k)
        rn = F.col(rn_col)
        if q == 0:  # n < k: every row is in the head tiles
            tile = F.floor((rn - 1) / (q + 1)) + 1
        else:
            head = r * (q + 1)
            tile = (
                F.when(rn <= head, F.floor((rn - 1) / (q + 1)))
                .otherwise(r + F.floor((rn - head - 1) / q))
                + 1
            )
        out_df = ranked.withColumn(out, tile.cast("int")).drop(rn_col)
    return out_df


def assign_quantile_buckets(
    df: DataFrame,
    key: str | Column,
    k: int,
    out: str = "bucket",
    ascending: bool = True,
    accuracy: int = 10000,
) -> DataFrame:
    """The pure-sketch sibling: ``out`` ∈ [1, k] by *value* quantile
    membership — one global percentile_approx aggregate plus a map-side
    expression, NO shuffle or window over the frame at all.  Differs
    from exact NTILE only where the sketch error or ties move a
    boundary (tests pin ≥95 % agreement at test scale); use it when
    bucket membership, not exact position, is the requirement — the
    default posture for 100 TB score-banding."""
    return with_quantile_bucket(
        df, key, ascending, n_buckets=k, accuracy=accuracy
    ).select(
        *[F.col(c) for c in df.columns],
        (F.col(_BUCKET) + 1).cast("int").alias(out),
    )
