#!/usr/bin/env python
"""Layered per-query profile on the benchmark's tracer (``perfbench/spans``).

    python tools/query_profile.py [query ...] [--sf DIR ...]  # HEADLINE, sf0.1

One session runs every (query, sf).  Jobs belong to the phase whose job-id
interval issued them, streaming micro-batches (``batch = N``) included.
``wall_norm`` rescales ``wall_best`` to the run's best ``floor_probe``."""

import argparse
import json
import os
import sys
import tempfile
import time

from pyspark.sql import functions as F

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.append(os.path.join(ROOT, "perfbench"))
RUNS = 3  # builds and noop writes per (query, sf); the last is traced


def floor_probe(spark) -> float:
    """Codegen arithmetic plus a 1000-group shuffle, best of 2: fixed shapes."""
    best = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        spark.range(10_000_000).selectExpr("sum(id * 3 + (id & 7))").collect()
        (spark.range(800_000).groupBy((F.col("id") % 1000).alias("k"))
         .agg(F.sum("id").alias("s")).write.format("noop").mode("overwrite").save())
        best = min(best, time.perf_counter() - t0)
    return round(best, 4)


def _job(store, j: dict) -> dict:
    info = store.job(j["id"])
    desc = info.description()
    return {"id": j["id"], "callsite": info.name(),
            "desc": desc.get() if desc.isDefined() else None,
            "wall_s": round(j["end"] - j["start"], 3),
            "tasks": sum(st["tasks"] for st in j["stages"]), "stages": j["stages"]}


def profile(spark, names, sf_dirs) -> list[dict]:
    from dask_ssh_docker_spark.queries import REGISTRY
    from spans import Tracer, layer_metrics

    tracer = Tracer(spark, tempfile.mkdtemp(prefix="query-profile-"))
    store = spark.sparkContext._jsc.sc().statusStore()
    floor_probe(spark)  # warms the JVM and compiles the probe
    out = []
    for sf, name in [(sf, name) for sf in sf_dirs for name in names]:
        fp = floor_probe(spark)
        for i in range(RUNS):
            tracer.enabled = i == RUNS - 1
            with tracer.op(name, "spark") as rec:
                with tracer.phase("construct"):
                    df = REGISTRY[name].fn(spark, sf)
                with tracer.phase("exec"):
                    df.write.format("noop").mode("overwrite").save()
        m = layer_metrics([rec], 1, 1)
        jobs = {k: [_job(store, j) for j in s.jobs] for k, s in rec.phases.items()}
        recs = tracer.records[-RUNS:]
        walls = [round(r.wall_s, 3) for r in recs]
        out.append({
            "name": name, "sf": sf, "walls": walls, "wall_best": min(walls),
            "construct_s": round(m["queries.construct_s"], 4),
            "py4j_calls": int(m["queries.py4j_calls"]),
            "eager_jobs": jobs.get("construct", []), "exec_s": round(m["exec.s"], 4),
            "exec_jobs": jobs.get("exec", []), "python_s": round(rec.python_s, 4),
            "floor_probe": fp, "error": next((r.error for r in recs if r.error), None)})
    spark.sparkContext.setJobGroup(None, None)
    os.rmdir(tracer.tmp_dir)
    ref = min(r["floor_probe"] for r in out)
    return [{**r, "wall_norm": round(r["wall_best"] * ref / r["floor_probe"], 3)}
            for r in out]


def main() -> int:
    from bench import HEADLINE
    from dask_ssh_docker_spark.queries import REGISTRY
    from dask_ssh_docker_spark.session import get_session

    p = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    p.add_argument("names", nargs="*", default=HEADLINE)
    p.add_argument("--sf", action="append", help="sf dir, repeatable")
    args = p.parse_args()
    if unknown := [q for q in args.names if q not in REGISTRY]:
        raise SystemExit(f"unknown query names: {unknown}")
    # the tracer reads skipped stages; past 1000 the store evicts those first
    spark = get_session("spark-graft-profile", conf={"spark.ui.retainedStages": "100000"})
    records = profile(spark, args.names, args.sf or ["/root/testdata/sf0.1"])
    print("\n".join(json.dumps(r) for r in records), flush=True)
    return int(any(r["error"] for r in records))


if __name__ == "__main__":
    sys.exit(main())
