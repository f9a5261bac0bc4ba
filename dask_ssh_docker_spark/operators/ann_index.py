"""Persisted ANN index: save/load for the IVF-PQ and LSH indexes so
fit-once/probe-many holds ACROSS sessions.  The fit costs an order of
magnitude more than a probe (BENCH_NOTES: fit 15.9 s vs 1.37 s warm
probe at 200k vectors); a fresh session that loads the index pays a
load of seconds, never the fit (BENCH_NOTES: 6.4 s cold load of a grown
200k-vector index).

Layout (all Spark parquet writes — works on any Hadoop-FS path: local,
HDFS, S3):

``<path>/meta``       1-row parquet: format version + index kind + the
                      hyper-parameters the probe path must reproduce.
``<path>/centroids``  IVF-PQ coarse centroids (centroid_id, centroid).
``<path>/codebooks``  IVF-PQ residual sub-codebooks (sub, cid, centroid).
``<path>/codes``      IVF-PQ inverted lists, PARTITIONED BY centroid_id —
                      a probe that filters on its nprobe list ids prunes
                      parquet partitions and reads only those lists (the
                      on-disk analog of faiss's inverted-file layout).
``<path>/buckets``    LSH bucket table (id, table_idx, bucket),
                      PARTITIONED BY table_idx.  Vectors are NOT stored:
                      LSH probing late-materializes them from the source
                      corpus by id (operators/similarity.py rationale —
                      the index holds ids, the corpus holds payloads).

Determinism: everything persisted is the exact frame the in-session path
computes (seeded training), and parquet round-trips doubles/ints
losslessly — the round-trip pytest (tests/test_ann_index.py) asserts the
loaded probe output EQUALS the in-session pipeline's output row-for-row,
not merely recall parity.

Versioning: ``FORMAT_VERSION`` is written into meta and checked on load;
an incompatible or wrong-kind index fails fast with the found/expected
pair instead of mis-probing.
"""

from __future__ import annotations

from dataclasses import asdict, dataclass, fields, replace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .ivfpq import IVFPQModel, coarse_k_for, encode_ivfpq, ivfpq_topk
from .similarity import LSHModel, lsh_bucketed, lsh_probe

FORMAT_VERSION = 1


def _write_meta(spark: SparkSession, path: str, kind: str, params: dict) -> None:
    import json

    meta = spark.createDataFrame(
        [(FORMAT_VERSION, kind, json.dumps(params, sort_keys=True))],
        "version int, kind string, params string",
    )
    meta.coalesce(1).write.mode("overwrite").parquet(f"{path}/meta")


def _read_meta(spark: SparkSession, path: str, kind: str) -> dict:
    import json

    rows = spark.read.parquet(f"{path}/meta").collect()
    if len(rows) != 1:
        raise ValueError(f"ann_index: malformed meta at {path} ({len(rows)} rows)")
    meta = rows[0]
    if meta.version != FORMAT_VERSION or meta.kind != kind:
        raise ValueError(
            f"ann_index: incompatible index at {path}: found "
            f"(version={meta.version}, kind={meta.kind!r}), expected "
            f"(version={FORMAT_VERSION}, kind={kind!r})"
        )
    return json.loads(meta.params)


# ---------------------------------------------------------------------------
# IVF-PQ
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class IvfPqIndex:
    model: IVFPQModel
    index: DataFrame  # (centroid_id, <id_col>, codes)
    id_col: str
    #: corpus size the centroids were trained on (None when meta lacks it)
    fitted_rows: int | None = None


def save_ivfpq_index(
    path: str,
    model: IVFPQModel,
    index: DataFrame,
    *,
    id_col: str = "vec_id",
    fitted_rows: int | None = None,
) -> None:
    """Persist a trained+encoded IVF-PQ index.  ``index`` is the
    ``encode_ivfpq`` output; it lands partitioned by ``centroid_id`` so
    later probes scan only their nprobe lists (partition pruning).

    ``fitted_rows``: corpus size the centroids were TRAINED on — recorded
    in meta so ``refit_recommended`` can judge staleness after appends.
    When omitted it is read back from the just-written codes parquet
    (a footer-metadata count, no data scan).  Meta still records m, dim
    and k_coarse — read from the model's tensors — so the layout stays
    at ``FORMAT_VERSION``."""
    spark = index.sparkSession
    model.ivf.frame(spark).coalesce(1).write.mode("overwrite").parquet(
        f"{path}/centroids"
    )
    model.pq.frame(spark).coalesce(1).write.mode("overwrite").parquet(
        f"{path}/codebooks"
    )
    index.write.mode("overwrite").partitionBy("centroid_id").parquet(
        f"{path}/codes"
    )
    if fitted_rows is None:
        fitted_rows = spark.read.parquet(f"{path}/codes").count()
    m, _, subdim = model.pq.codebooks.shape
    _write_meta(
        spark,
        path,
        "ivfpq",
        {
            "m": m,
            "dim": m * subdim,
            "k_coarse": len(model.ivf.C),
            "id_col": id_col,
            "fitted_rows": int(fitted_rows),
        },
    )


def load_ivfpq_index(spark: SparkSession, path: str) -> IvfPqIndex:
    """Load a persisted IVF-PQ index for probing.  The trained tensors
    cost one bounded collect each; the codes frame stays lazy and keeps
    its ``centroid_id`` partition column — an ``isin(probe_ids)`` filter
    on it prunes at the parquet-partition level, so a probe reads
    nprobe/k_coarse of the on-disk index, never all of it."""
    params = _read_meta(spark, path, "ivfpq")
    fitted = params.get("fitted_rows")
    return IvfPqIndex(
        model=IVFPQModel.from_frames(
            spark.read.parquet(f"{path}/centroids"),
            spark.read.parquet(f"{path}/codebooks"),
        ),
        index=spark.read.parquet(f"{path}/codes"),
        id_col=str(params["id_col"]),
        fitted_rows=int(fitted) if fitted is not None else None,
    )


def append_ivfpq_index(
    spark: SparkSession,
    path: str,
    new_vectors: DataFrame,
    vec_col: str = "embedding",
) -> IvfPqIndex:
    """Append new corpus vectors to a persisted IVF-PQ index WITHOUT
    refitting: the rows are encoded against the existing (now possibly
    stale) centroids/codebooks and appended to the partitioned codes
    parquet — an idempotent-per-batch, metadata-cheap ingest step, the
    100 TB append path (re-running Lloyd's on every ingest batch would
    put the O(n·k·iters) fit in the hot path).

    Staleness contract: appended vectors still land in their TRUE nearest
    stale list (encode assigns by exact distance to the existing
    centroids), so probe correctness degrades only through (a) residual
    quantization error growing as the corpus drifts from the trained
    distribution and (b) list occupancy n/k drifting past the ⌈√n⌉ cost
    law.  At 2× growth BENCH_NOTES measured no recall loss from
    (a); check ``refit_recommended`` after appends and refit when it
    fires.  Returns the grown index (same model, re-read codes)."""
    idx = load_ivfpq_index(spark, path)
    codes = encode_ivfpq(new_vectors, idx.model, id_col=idx.id_col, vec_col=vec_col)
    codes.write.mode("append").partitionBy("centroid_id").parquet(f"{path}/codes")
    return replace(idx, index=spark.read.parquet(f"{path}/codes"))


#: ``refit_recommended`` fires when ⌈√n_now⌉ exceeds this multiple of the
#: fitted k_coarse — i.e. when the corpus has grown past ~factor² × the
#: fitted size and the ⌈√n⌉ sizing law (coarse_k_for) has drifted >2×.
#: Measured basis (BENCH_NOTES, 100k→200k appends at sf10): at 2×
#: growth on stale centroids recall@10 holds (the encode step still
#: assigns true nearest lists), while ADC scan cost per probe grows
#: linearly with occupancy n/k — so the trigger is COST-driven at 4×
#: growth, before recall decay becomes the binding constraint.
REFIT_DRIFT_FACTOR = 2.0


def refit_recommended(
    idx: IvfPqIndex,
    current_rows: int | None = None,
    factor: float = REFIT_DRIFT_FACTOR,
) -> bool:
    """True when the corpus has outgrown the fitted coarse quantizer:
    ``coarse_k_for(current_rows) > factor * k_coarse``, with k_coarse
    the model's centroid count.  With the ⌈√n⌉ law this fires at
    ~factor²× the fitted corpus (4× at the default), and never fires
    below the validation floor where k is pinned.
    ``current_rows`` defaults to a count of the index frame — on a loaded
    index that is a parquet footer-metadata count, not a data scan."""
    n = current_rows if current_rows is not None else idx.index.count()
    return coarse_k_for(n) > factor * len(idx.model.ivf.C)


def ivfpq_probe(
    queries: DataFrame,
    idx: IvfPqIndex,
    corpus: DataFrame | None = None,
    k: int = 10,
    nprobe: int = 4,
    expand: int = 20,
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe a loaded index — same contract as ``ivfpq_topk`` with the
    trained artifacts supplied by ``load_ivfpq_index``."""
    return ivfpq_topk(
        queries,
        idx.index,
        idx.model,
        corpus=corpus,
        k=k,
        nprobe=nprobe,
        expand=expand,
        query_id=query_id,
        query_vec=query_vec,
        id_col=idx.id_col,
        vec_col=vec_col,
    )


# ---------------------------------------------------------------------------
# LSH
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class LshIndex:
    buckets: DataFrame  # (<id_col>, bucket, table_idx)
    model: LSHModel
    id_col: str


def save_lsh_index(
    path: str,
    corpus: DataFrame,
    model: LSHModel,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Bucket the corpus once and persist (id, table_idx, bucket),
    partitioned by ``table_idx``.  Hyperplanes are NOT stored — they are
    a pure function of the model's (dim, bits, tables, seed), all
    recorded in meta, so the probe side regenerates them bit-identically."""
    bucketed = lsh_bucketed(corpus, id_col, vec_col, model).select(
        id_col, "table_idx", "bucket"
    )
    bucketed.write.mode("overwrite").partitionBy("table_idx").parquet(
        f"{path}/buckets"
    )
    _write_meta(corpus.sparkSession, path, "lsh", {**asdict(model), "id_col": id_col})


def load_lsh_index(spark: SparkSession, path: str) -> LshIndex:
    params = _read_meta(spark, path, "lsh")
    return LshIndex(
        buckets=spark.read.parquet(f"{path}/buckets"),
        model=LSHModel(**{f.name: int(params[f.name]) for f in fields(LSHModel)}),
        id_col=str(params["id_col"]),
    )


def lsh_probe_topk(
    queries: DataFrame,
    idx: LshIndex,
    corpus: DataFrame,
    k: int = 10,
    query_id: str = "query_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k from a loaded LSH index: ``lsh_probe`` against the persisted
    corpus buckets, exact-scoring candidates against the source corpus.
    Output equals ``lsh_topk`` under the same model row-for-row — both
    are the one probe path."""
    return lsh_probe(
        queries, idx.buckets, corpus, idx.model, k, query_id, idx.id_col, vec_col
    )
