"""Streaming queries (SURVEY.md §2.H): a real Structured Streaming
execution (file source → watermark → windowed agg → availableNow → memory
sink) whose materialized result is oracle-checked against the same batch
SQL — proving the batch/streaming twins produce identical answers.
"""

from __future__ import annotations

import atexit
import shutil

from pyspark.sql import DataFrame, SparkSession

from pyspark.sql import functions as F

from ..streaming import (
    ohlc_bars,
    run_to_completion,
    sessionized,
    stream_events,
    stream_stream_interval_join,
    tumbling_counts,
)
from .registry import query


#: snapshot dirs that frames returned by stream_mv_user_totals read
_MV_SNAPSHOT_DIRS: list[str] = []


@atexit.register
def _remove_mv_snapshot_dirs() -> None:
    for path in _MV_SNAPSHOT_DIRS:
        shutil.rmtree(path, True)


@query(
    "stream_tumbling_counts",
    oracle="""
    SELECT
      CAST(date_trunc('hour', ts) AS TIMESTAMP) AS bucket_start,
      event_type,
      COUNT(*) AS n_events,
      CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Executes an actual streaming job (complete mode, availableNow) —
    result must equal the batch hourly rollup bit-for-bit."""
    return run_to_completion(tumbling_counts(stream_events(spark, sf_dir)))


@query(
    "stream_interval_join_pairs",
    oracle="""
    SELECT l.event_id AS click_id, r.event_id AS purchase_id,
           l.user_id, l.ts AS click_ts, r.ts AS purchase_ts
    FROM events l JOIN events r
      ON l.user_id = r.user_id
     AND r.ts >= l.ts
     AND r.ts <= l.ts + INTERVAL 30 MINUTE
    WHERE l.event_type = 'click' AND r.event_type = 'purchase'
    """,
)
def stream_interval_join_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join executed as a real streaming job
    (click→purchase attribution within 30 min, watermarks on both sides
    bounding the join state) — the materialized append-mode result must
    equal the batch interval join row-for-row."""
    clicks = (
        stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select("user_id", "ts", F.col("event_id").alias("click_id"))
    )
    purchases = (
        stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select("user_id", "ts", F.col("event_id").alias("purchase_id"))
    )
    joined = stream_stream_interval_join(
        clicks, purchases, "user_id", within="30 minutes"
    ).select(
        "click_id",
        "purchase_id",
        F.col("l.user_id").alias("user_id"),
        F.col("l.ts").alias("click_ts"),
        F.col("r.ts").alias("purchase_ts"),
    )
    return run_to_completion(joined, output_mode="append")


@query(
    "stream_hourly_ohlc",
    oracle="""
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hr,
           event_type,
           arg_min(value, ts) AS open,
           MAX(value)         AS high,
           MIN(value)         AS low,
           arg_max(value, ts) AS close,
           COUNT(*)           AS n_events
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_hourly_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC bars computed by an ACTUAL streaming job (watermarked
    tumbling window, min_by/max_by state, availableNow) — the
    materialized result must equal the batch OHLC resample
    bit-for-bit."""
    return run_to_completion(ohlc_bars(stream_events(spark, sf_dir)))


@query("stream_sessionize", oracle=None)
def stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming session windows (complete mode unsupported for session
    windows + append drops un-finalized sessions → rows-only check; batch
    twin ``sessionize_10m`` carries the full oracle)."""
    return run_to_completion(
        sessionized(stream_events(spark, sf_dir)), output_mode="append"
    )


@query(
    "stream_dedup_watermark",
    oracle="""
    SELECT DISTINCT user_id, event_type,
           CAST(date_trunc('minute', ts) AS TIMESTAMP) AS ts_min
    FROM events
    """,
)
def stream_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup via ``dropDuplicatesWithinWatermark`` (state
    evicted past the watermark → bounded memory on an unbounded stream),
    executed as a real streaming job.  Dedup key = (user_id, event_type,
    minute bucket); only key columns are emitted, so the materialized
    append-mode result must equal the batch DISTINCT exactly — the
    bounded-state streaming plan and the global batch plan agree whenever
    duplicates arrive within the watermark delay (here: single
    availableNow batch)."""
    from ..streaming import dedup_within_watermark

    stream = stream_events(spark, sf_dir).withColumn(
        "ts_min", F.date_trunc("minute", F.col("ts"))
    )
    deduped = dedup_within_watermark(
        stream, ["user_id", "event_type", "ts_min"], watermark="2 hours"
    )
    return run_to_completion(
        deduped.select("user_id", "event_type", "ts_min"), output_mode="append"
    )


@query(
    "stream_rate_cap_user",
    oracle="""
    SELECT user_id, event_id, ts FROM (
      SELECT user_id, event_id, ts,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ) WHERE rn <= 5
    """,
)
def stream_rate_cap_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user quota cap (≤ 5 events, event-time order) as a REAL
    stateful streaming job (``applyInPandasWithState``, one counter per
    key).  With the single availableNow batch the emitted set must equal
    the batch row_number() filter row-for-row — the curation primitive
    'keep at most N per key' in its bounded-state streaming form."""
    from ..streaming.stateful import rate_cap_per_key

    return run_to_completion(
        rate_cap_per_key(stream_events(spark, sf_dir), n=5), output_mode="append"
    )


def _staged_event_slices(spark: SparkSession, sf_dir: str, n_slices: int = 3) -> str:
    """Stage the events table as ``n_slices`` single-file parquet slices
    (deterministic split on event_id % n) so a file-source stream with
    ``maxFilesPerTrigger=1`` replays it as n REAL micro-batches.  The
    staging is keyed on the file's size and mtime too, so a table
    regenerated at the same path is re-staged."""
    import hashlib
    import os
    import shutil

    st = os.stat(f"{sf_dir}/events.parquet")
    src = f"{os.path.abspath(sf_dir)}|{n_slices}|{st.st_size}|{st.st_mtime_ns}"
    key = hashlib.md5(src.encode()).hexdigest()[:8]
    base = f"/tmp/spark_graft_mv_slices_{key}"
    done = os.path.join(base, "_STAGED")
    if not os.path.exists(done):
        # stage into a process-private dir, promote atomically: concurrent
        # sessions (driver + engine) race here and both must win cleanly
        shutil.rmtree(base, ignore_errors=True)  # clear any partial leftover
        work = f"{base}.tmp{os.getpid()}"
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        _stage_into(spark, sf_dir, n_slices, work)
        with open(os.path.join(work, "_STAGED"), "w") as f:
            f.write("ok")
        try:
            os.rename(work, base)  # atomic; loser of the race keeps theirs
        except OSError:
            shutil.rmtree(work, ignore_errors=True)
    return base


def _stage_into(spark: SparkSession, sf_dir: str, n_slices: int, base: str) -> None:
    import glob
    import os
    import shutil

    raw = spark.read.parquet(f"{sf_dir}/events.parquet")  # raw schema, no ts conversion
    for i in range(n_slices):
        tmp = os.path.join(base, f"tmp{i}")
        (
            raw.filter(F.col("event_id") % n_slices == i)
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(tmp)
        )
        part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        shutil.move(part, os.path.join(base, f"slice{i}.parquet"))
        shutil.rmtree(tmp)


@query(
    "stream_mv_user_totals",
    oracle="""
    SELECT user_id, COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value,
           MAX(ts) AS max_ts
    FROM events GROUP BY user_id
    """,
)
def stream_mv_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized view maintained across THREE real
    micro-batches (events split into 3 file slices, maxFilesPerTrigger=1):
    each batch's events (one partial row each: a count of 1, the exact
    decimal value, the ts) merge per user, in one aggregation with the
    current snapshot, into a versioned parquet snapshot via
    ``streaming/mv.py`` —
    the lakehouse streaming-upsert-MV pattern.  The final snapshot must
    equal the one-shot batch aggregate exactly, proving the algebraic
    merge is lossless across arbitrary batch boundaries."""
    import tempfile

    from ..streaming.mv import incremental_agg_mv, prune_mv, read_mv

    base = _staged_event_slices(spark, sf_dir, 3)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    from ..sources import parquet_footer_schema

    # footer-read driver-side (no Spark job) when possible; identical schema
    raw_schema = parquet_footer_schema(spark, f"{sf_dir}/events.parquet")
    if raw_schema is None:
        raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = (
        spark.readStream.schema(raw_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(base)
    )
    dt = dict(stream.dtypes).get("ts")
    if dt == "bigint":
        stream = stream.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    elif dt == "timestamp_ntz":
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))

    def partial(batch: DataFrame) -> DataFrame:
        # one row per event: the MV merge sums and maxes them per user in
        # the batch's one aggregation
        return batch.selectExpr(
            "user_id",
            "CAST(1 AS BIGINT) AS n_events",
            "CAST(CAST(value AS DECIMAL(12,2)) AS DECIMAL(18,2)) AS total_dec",
            "ts AS max_ts",
        )

    # the returned frame reads the snapshot dir's current version, so the
    # dir stays until exit; the superseded versions go once the query ends
    snap_dir = tempfile.mkdtemp(prefix="spark_graft_mv_snap_")
    _MV_SNAPSHOT_DIRS.append(snap_dir)
    with tempfile.TemporaryDirectory(prefix="spark_graft_mv_ckpt_") as ckpt:
        q = incremental_agg_mv(
            stream,
            partial,
            keys=["user_id"],
            kinds={"n_events": "sum", "total_dec": "sum", "max_ts": "max"},
            snapshot_dir=snap_dir,
            checkpoint=ckpt,
        )
        q.awaitTermination()
    prune_mv(snap_dir)
    return read_mv(spark, snap_dir).select(
        "user_id",
        "n_events",
        F.col("total_dec").cast("double").alias("total_value"),
        "max_ts",
    )


@query(
    "stream_static_enrich",
    oracle="""
    WITH dim AS (
      SELECT user_id,
             CASE WHEN COUNT(*) >= 67 THEN 'heavy' ELSE 'light' END AS tier
      FROM events GROUP BY user_id
    )
    SELECT CAST(date_trunc('hour', e.ts) AS TIMESTAMP) AS bucket_start,
           d.tier,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events e JOIN dim d USING (user_id)
    GROUP BY 1, 2
    """,
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join executed as a real streaming job: each event
    micro-batch is enriched with a batch-side user dimension (activity
    tier from historical counts) and rolled into watermarked hourly
    buckets per tier — the canonical "enrich the stream with a dim
    table" deployment.  The static side is a plain batch DataFrame
    (stateless join, re-snapshotted per micro-batch); result must equal
    the batch join+rollup bit-for-bit."""
    from ..sources import load_table
    from ..streaming import static_enriched_counts

    hist = load_table(spark, sf_dir, "events")
    dim = hist.groupBy("user_id").agg(
        F.when(F.count(F.lit(1)) >= 67, "heavy").otherwise("light").alias("tier")
    )
    out = static_enriched_counts(stream_events(spark, sf_dir), dim)
    return run_to_completion(out)


_PSI_NB = 10


@query(
    "stream_psi_drift",
    oracle=f"""
    WITH b AS (
      SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS bucket_start,
             GREATEST(LEAST(CAST(floor(value / 50.0) AS BIGINT),
                            {_PSI_NB - 1}), 0) AS bin,
             COUNT(*) AS c
      FROM events GROUP BY 1, 2
    ),
    base AS (SELECT bin, SUM(c) AS cb FROM b GROUP BY bin),
    tot AS (SELECT SUM(cb) AS nb FROM base),
    wtot AS (SELECT bucket_start, SUM(c) AS nw FROM b GROUP BY bucket_start),
    spine AS (
      SELECT w.bucket_start, base.bin, base.cb, w.nw
      FROM wtot w CROSS JOIN base
    ),
    terms AS (
      SELECT s.bucket_start, s.bin, s.nw,
             ((CAST(COALESCE(b.c, 0) + 1 AS DOUBLE)
                 / CAST(s.nw + {_PSI_NB} AS DOUBLE))
              - (CAST(s.cb + 1 AS DOUBLE) / CAST(nb + {_PSI_NB} AS DOUBLE)))
             * ln((CAST(COALESCE(b.c, 0) + 1 AS DOUBLE)
                     / CAST(s.nw + {_PSI_NB} AS DOUBLE))
                  / (CAST(s.cb + 1 AS DOUBLE)
                       / CAST(nb + {_PSI_NB} AS DOUBLE))) AS term
      FROM spine s
      LEFT JOIN b ON s.bucket_start = b.bucket_start AND s.bin = b.bin
      CROSS JOIN tot
    )
    SELECT bucket_start,
           CAST(MAX(nw) AS BIGINT) AS n_events,
           round(list_reduce(list(term ORDER BY bin), (a, x) -> a + x)
                 + 0.0, 6) AS psi
    FROM terms GROUP BY bucket_start
    """,
)
def stream_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming drift monitor: a real watermarked streaming job builds
    hourly binned histograms of ``value`` (``binned_window_counts`` —
    watermark-bounded state, constant bins), then each hour's
    distribution is scored against the full-corpus baseline with a
    Laplace-smoothed Population Stability Index — the deployment shape
    of `psi_price_drift` (hours with PSI spikes = drifted traffic).
    The PSI scoring runs batch-side over the materialized bounded
    summaries (windows × 10 bins), never the raw stream.

    Determinism: counts are integers off the stream; p/q are mirrored
    divisions; per-window terms fold in FIXED bin order (the
    ``entropy_event_mix`` discipline) so the 10-term double sum is
    bit-identical; round-6 absorbs the ``ln`` ulp."""
    from ..streaming import binned_window_counts

    b = run_to_completion(binned_window_counts(stream_events(spark, sf_dir)))
    base = b.groupBy("bin").agg(F.sum("c").alias("cb"))
    tot = base.agg(F.sum("cb").alias("nb"))
    wtot = b.groupBy("bucket_start").agg(F.sum("c").alias("nw"))
    spine = wtot.crossJoin(base)  # |windows| × 10 bins; base unhinted (AQE)
    j = (
        spine.join(b, ["bucket_start", "bin"], "left")
        .crossJoin(F.broadcast(tot))
        .withColumn("c0", F.coalesce(F.col("c"), F.lit(0)))
    )
    p = (F.col("c0") + 1).cast("double") / (F.col("nw") + _PSI_NB).cast(
        "double"
    )
    q = (F.col("cb") + 1).cast("double") / (F.col("nb") + _PSI_NB).cast(
        "double"
    )
    terms = j.select(
        "bucket_start",
        "bin",
        "nw",
        ((p - q) * F.log(p / q)).alias("term"),
    )
    per_w = terms.groupBy("bucket_start").agg(
        F.max("nw").cast("bigint").alias("n_events"),
        F.array_sort(
            F.collect_list(F.struct("bin", "term"))
        ).alias("arr"),
    )
    psi = F.aggregate(
        F.transform("arr", lambda x: x["term"]), F.lit(0.0), lambda a, x: a + x
    )
    return per_w.select(
        "bucket_start",
        "n_events",
        F.round(psi + F.lit(0.0), 6).alias("psi"),
    )


# This module ships closures to Python workers; make them self-contained
# (see functions/shipping.py — no package install needed on executors).
from ..functions.shipping import ship_module_by_value as _ship

_ship(__name__)
