"""Incremental materialized-view maintenance: a streaming ``foreachBatch``
loop that folds each micro-batch's *partial aggregates* into a versioned
per-key snapshot — the lakehouse "streaming upsert MV" pattern (Delta
``MERGE`` in ``foreachBatch``) built from plain parquet + an atomic
pointer file.

Per micro-batch, ONE aggregation:

1. ``partial_agg`` maps the batch to partial rows — a per-row projection
   of each metric, or per-key partials (both merge the same way);
2. the partials, unioned with the current snapshot (batch 0 has none),
   are grouped by the keys, combining mergeable metrics (sum/count →
   ``sum``, min → ``min``, max → ``max``) and cast back to the partial
   schema;
3. the merged snapshot goes to a NEW version directory and the
   ``_LATEST`` pointer swings atomically (``os.replace``).  The pointer
   also records the snapshot schema, which every version shares, so
   :func:`read_mv` reads any version without a schema-inference job.

Exactly-once: the pointer records the epoch that produced it; a replayed
epoch (crash between snapshot write and checkpoint commit) sees
``pointer_epoch >= epoch_id`` and skips — the merge is never applied
twice.  A real table format (Delta/Iceberg) replaces the pointer dance
with ACID commits; the per-batch *plan* — partial agg + key-partitioned
merge — is identical.

Scale shape (100 TB): per batch, one key-partitioned aggregate over the
batch's partials and the snapshot.  Spark's map-side partial
aggregation combines per key before the exchange, so the shuffle
carries per-key partials of the batch (bounded by its key count) and
the snapshot, never raw rows.  Snapshot size is key-cardinality, not
stream length; combine functions must be commutative+associative, so
batch arrival order can't change the result.
"""

from __future__ import annotations

import json
import os
import shutil
from collections.abc import Callable, Mapping

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

#: each mergeable kind's combining aggregate (counts add up like sums)
_MERGE = {"sum": "sum", "count": "sum", "min": "min", "max": "max"}


def _quote(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def _merge_aggs(kinds: Mapping[str, str]) -> list[Column]:
    """Each metric's combining aggregate, parsed from SQL and named after
    the metric."""
    aggs = []
    for name, kind in kinds.items():
        if kind not in _MERGE:
            raise ValueError(f"unsupported merge kind {kind!r} for {name!r}")
        aggs.append(F.expr(f"{_MERGE[kind]}({_quote(name)}) AS {_quote(name)}"))
    return aggs


def combine_snapshots(
    old: DataFrame, new: DataFrame, keys: list[str], kinds: Mapping[str, str]
) -> DataFrame:
    """Merge two per-key partial-aggregate frames (same columns, each key
    at most once per frame): one row per key, each metric combined per
    its algebraic kind.  SQL aggregates skip NULLs and ``groupBy`` puts
    NULL keys in one group, so a metric NULL on one side keeps the other
    side's value and NULL keys merge with each other."""
    return old.unionByName(new).groupBy(*keys).agg(*_merge_aggs(kinds))


def _read_pointer(snapshot_dir: str) -> tuple[int, str, StructType] | None:
    """The ``_LATEST`` pointer: ``epoch<TAB>vdir<TAB>schema json``."""
    p = os.path.join(snapshot_dir, "_LATEST")
    if not os.path.exists(p):
        return None
    with open(p) as f:
        epoch, vdir, schema = f.read().strip().split("\t")
    return int(epoch), vdir, StructType.fromJson(json.loads(schema))


def read_mv(
    spark: SparkSession, snapshot_dir: str, version: int | None = None
) -> DataFrame:
    """Load a snapshot: the current one (follows the ``_LATEST`` pointer)
    or, with ``version=``, a specific retained epoch — Delta-style time
    travel (``VERSION AS OF``); old version directories are retained, so
    any committed epoch stays readable until the caller prunes them
    (:func:`prune_mv`).
    Every version has the schema the pointer records."""
    vdir = None
    if version is not None:
        vdir = os.path.join(snapshot_dir, f"v{version}")
        if not os.path.isdir(vdir):
            raise FileNotFoundError(
                f"snapshot version {version} not found under {snapshot_dir}"
            )
    ptr = _read_pointer(snapshot_dir)
    if ptr is None:
        raise FileNotFoundError(f"no committed snapshot under {snapshot_dir}")
    return spark.read.schema(ptr[2]).parquet(vdir or ptr[1])


def prune_mv(snapshot_dir: str) -> None:
    """Remove every retained version directory but the current one: the
    current snapshot stays readable, older epochs leave time travel."""
    ptr = _read_pointer(snapshot_dir)
    if ptr is None:
        return
    current = os.path.basename(ptr[1])
    for name in os.listdir(snapshot_dir):
        if name != current and name[:1] == "v" and name[1:].isdigit():
            shutil.rmtree(os.path.join(snapshot_dir, name))


def incremental_agg_mv(
    stream: DataFrame,
    partial_agg: Callable[[DataFrame], DataFrame],
    keys: list[str],
    kinds: Mapping[str, str],
    snapshot_dir: str,
    checkpoint: str,
):
    """Start the MV-maintenance stream (availableNow trigger — processes
    everything currently available, then stops).  Returns the streaming
    query handle; read the result with :func:`read_mv`.

    ``partial_agg`` maps a batch DataFrame to partial rows — a per-row
    projection, or per-key partials — whose metric columns are each
    mergeable under ``kinds[name]``; the merge aggregates them per key
    with the snapshot, so a projection costs no second aggregation.  Metrics
    that are NOT algebraically mergeable (exact distinct, exact median)
    need a sketch column instead (HLL / quantile sketch — see
    ``operators/rollup_cascade.py``).
    """
    os.makedirs(snapshot_dir, exist_ok=True)

    def update(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        ptr = _read_pointer(snapshot_dir)
        if ptr is not None and ptr[0] >= epoch_id:
            return  # replayed epoch: snapshot already includes this batch
        part = partial_agg(batch_df)
        schema = part.schema  # pin: the merge widens decimal sums
        if ptr is not None:
            # every snapshot has the partial schema (the cast below), so
            # no schema-inference job; the batch session keeps AQE, which
            # coalesces the merge's shuffle to the snapshot's size
            part = spark.read.schema(schema).parquet(ptr[1]).unionByName(part)
        # cast back to the partial schema so every snapshot version is
        # schema-identical; callers must size decimal partials with
        # enough headroom for the running total (documented above)
        merged = part.groupBy(*keys).agg(*_merge_aggs(kinds)).selectExpr(
            *[
                _quote(f.name) if f.name in keys
                else f"CAST({_quote(f.name)} AS {f.dataType.simpleString()}) "
                f"AS {_quote(f.name)}"
                for f in schema
            ]
        )
        vdir = os.path.join(snapshot_dir, f"v{epoch_id}")
        merged.write.mode("overwrite").parquet(vdir)
        tmp = os.path.join(snapshot_dir, "_LATEST.tmp")
        with open(tmp, "w") as f:
            f.write(f"{epoch_id}\t{vdir}\t{schema.json()}")
        os.replace(tmp, os.path.join(snapshot_dir, "_LATEST"))

    return (
        stream.writeStream.foreachBatch(update)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
