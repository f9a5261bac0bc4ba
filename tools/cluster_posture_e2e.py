#!/usr/bin/env python
"""Cluster-posture end-to-end (VERDICT r9 item 5): execute the core-15
bench queries (plus setsim_prefix_pairs, the one pinned-exchange
operator) through the REAL standalone bootstrap — `runner --hosts
localhost,localhost --launch` starts a master + worker with the Spark
distribution's own scripts — and record:

1. that the CLUSTER posture engaged (parallelismFirst=false, shuffle
   width ≥ 400, advisory 64m — `session.py:default_conf`),
2. which static width pins engaged (`pin_compute_width` repartitions at
   the session width: 400 under the cluster posture vs 32 local),
3. that every query executes green on the spark:// session, and
4. that each query's physical plan SHAPE matches the local posture's
   (node-name sequence with ids/widths/paths normalized away — posture
   must change sizing, never the plan structure).

Usage:
  python tools/cluster_posture_e2e.py [sf_dir]        # orchestrate both
  (internal) --phase run --out F [sf_dir]             # one session's pass

Env: CLUSTER_POSTURE_QUERIES=a,b,c limits the query set (the pytest
subset runs 3 queries; the full 16-query record is the
BENCH_NOTES evidence run).  CLUSTER_POSTURE_HOSTS sets the --hosts list
(default "localhost,localhost,localhost" = master + TWO worker
instances, the reference's own example layout —
/root/reference/example/custom_image/Makefile:2-6 runs 2x localhost):
two separate worker JVMs make every shuffle exercise REAL cross-executor
fetch over the network stack, the leg a single-worker run cannot cover
(VERDICT r10 item 5).  The cluster phase asserts the registered executor
count matches the worker-instance count.

The per-session pass is also the `main(argv)` the runner invokes, so the
cluster phase exercises the full reference launch contract
(`bin/dask-ssh-docker:61-78` hosts handling → bootstrap → run → teardown).
On an already running master, run the local pass, then
`runner --master spark://… tools/cluster_posture_e2e.py -- --out F [sf_dir]`,
then `compare(local_out, cluster_out)`: the pytest subset does this on
its module's standalone master.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

QUERIES = [
    "q1_pricing_summary",
    "q3_top_unshipped_orders",
    "q5_region_revenue",
    "window_cumsum",
    "resample_hourly",
    "sessionize_10m",
    "asof_backward",
    "dedup_exact_groups",
    "dedup_minhash_clusters",
    "text_quality",
    "sim_topk_bruteforce",
    "rollup_cascade_daily",
    "interpolate_time_linear",
    "text_chunk_windows",
    "text_tfidf_top_terms",
    "setsim_prefix_pairs",  # the pin_compute_width operator
]

if os.environ.get("CLUSTER_POSTURE_QUERIES"):
    QUERIES = os.environ["CLUSTER_POSTURE_QUERIES"].split(",")


def _shape(plan: str) -> list[str]:
    """Normalized node-name sequence of a physical plan string: strip
    expr ids, partition widths, plan ids, paths, stats — keep structure."""
    out = []
    for ln in plan.splitlines():
        m = re.match(r"[\s:+\-*()0-9]*([A-Za-z][A-Za-z0-9_.]*)", ln)
        if not m:
            continue
        name = m.group(1)
        if name in ("AdaptiveSparkPlan",):  # wrapper, same everywhere
            continue
        out.append(name)
    return out


def run_phase(spark, sf_dir: str, out_path: str) -> int:
    from pyspark.sql import functions as F  # noqa: F401

    from dask_ssh_docker_spark.queries import REGISTRY

    sc = spark.sparkContext
    conf = {
        "master": sc.master,
        "parallelismFirst": spark.conf.get(
            "spark.sql.adaptive.coalescePartitions.parallelismFirst"
        ),
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "advisory": spark.conf.get(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m"
        ),
        "checkpoint_manager": spark.conf.get(
            "spark.sql.streaming.checkpointFileManagerClass", None
        ),
        "file_fs": spark._jvm.org.apache.hadoop.fs.FileSystem.get(
            spark._jvm.java.net.URI("file:///"), sc._jsc.hadoopConfiguration()
        ).getClass().getName(),
    }
    rows = {}
    for name in QUERIES:
        df = REGISTRY[name].fn(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        # static pin evidence: REPARTITION_BY_NUM exchange widths
        pins = sorted(
            {
                int(w)
                for w in re.findall(
                    r"hashpartitioning\([^)]*?, (\d+)\), REPARTITION_BY_NUM",
                    plan,
                )
            }
        )
        t0 = time.time()
        n = df.count()
        rows[name] = {
            "rows": n,
            "wall": round(time.time() - t0, 2),
            "shape": _shape(plan),
            "pinned_widths": pins,
        }
        print(f"  {name}: rows={n} wall={rows[name]['wall']}s pins={pins}", flush=True)
    with open(out_path, "w") as fh:
        json.dump({"conf": conf, "queries": rows}, fh)
    print(f"phase done -> {out_path} (master={conf['master']})", flush=True)
    return 0


def main(argv: list[str]) -> int:
    """Runner entry (cluster phase): executed on the spark:// session the
    bootstrap created."""
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    assert spark is not None
    assert spark.sparkContext.master.startswith("spark://"), (
        "cluster phase must run on the standalone master"
    )
    out = argv[argv.index("--out") + 1]
    sf_dir = argv[-1] if not argv[-1].startswith("--") and argv[-1] != out else "/root/testdata/sf0.01"
    # posture assertions: the whole point of the exercise
    pf = spark.conf.get("spark.sql.adaptive.coalescePartitions.parallelismFirst")
    width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert pf == "false", f"cluster posture parallelismFirst={pf}"
    assert width >= 400, f"cluster shuffle width {width}"
    manager = spark.conf.get("spark.sql.streaming.checkpointFileManagerClass", None)
    assert manager is None, f"cluster checkpoint manager {manager}"
    file_fs = spark.conf.get("spark.hadoop.fs.file.impl", None)
    assert file_fs is None, f"cluster file: filesystem {file_fs}"
    expect = int(os.environ.get("CLUSTER_POSTURE_EXPECT_EXECUTORS", "0"))
    if expect:
        # getExecutorMemoryStatus counts the driver too; wait briefly for
        # late executor registration before asserting
        for _ in range(30):
            n_exec = spark.sparkContext._jsc.sc().getExecutorMemoryStatus().size() - 1
            if n_exec >= expect:
                break
            time.sleep(1)
        # ADVICE r11: >= not ==; a stale executor from a previous run gives
        # n_exec > expect, which is NOT a placement failure.
        assert n_exec >= expect, (
            f"expected >= {expect} executors (one per worker instance), got "
            f"{n_exec} — multi-worker placement did not engage"
        )
        print(f"cluster executors registered: {n_exec}", flush=True)
    return run_phase(spark, sf_dir, out)


def _orchestrate(sf_dir: str) -> int:
    hosts = os.environ.get(
        "CLUSTER_POSTURE_HOSTS", "localhost,localhost,localhost"
    )
    n_workers = len(hosts.split(",")) - 1
    env = {
        **os.environ,
        "PYTHONPATH": REPO,
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_WORKER_CORES": "8",
        "SPARK_WORKER_MEMORY": "8g",
        "SPARK_MASTER_WEBUI_PORT": "8985",
        "SPARK_WORKER_WEBUI_PORT": "8986",
        "CLUSTER_POSTURE_EXPECT_EXECUTORS": str(n_workers),
    }
    local_out, cluster_out = "/tmp/posture_local.json", "/tmp/posture_cluster.json"
    print("== local phase ==", flush=True)
    rc = subprocess.run(
        [sys.executable, __file__, "--phase", "run", "--out", local_out, sf_dir],
        env=env,
    ).returncode
    if rc:
        return rc
    print(
        f"== cluster phase (runner --hosts {hosts} --launch; "
        f"{n_workers} worker instances) ==",
        flush=True,
    )
    rc = subprocess.run(
        [
            sys.executable,
            "-m",
            "dask_ssh_docker_spark.runner",
            "--hosts",
            hosts,
            "--launch",
            "--conf",
            "spark.ui.enabled=false",
            __file__,
            "--",
            "--out",
            cluster_out,
            sf_dir,
        ],
        env=env,
        cwd=REPO,
    ).returncode
    if rc:
        return rc
    return compare(local_out, cluster_out)


def compare(local_out: str, cluster_out: str) -> int:
    """Print each query's rows, plan shape and pins under both postures;
    1 if any query's rows or plan shape differ, else 0."""
    with open(local_out) as fh:
        a = json.load(fh)
    with open(cluster_out) as fh:
        b = json.load(fh)
    print(f"local conf:   {a['conf']}")
    print(f"cluster conf: {b['conf']}")
    bad = []
    for name in a["queries"]:
        qa, qb = a["queries"][name], b["queries"][name]
        same_shape = qa["shape"] == qb["shape"]
        same_rows = qa["rows"] == qb["rows"]
        note = []
        if qa["pinned_widths"] or qb["pinned_widths"]:
            note.append(
                f"pins local={qa['pinned_widths']} cluster={qb['pinned_widths']}"
            )
        status = "OK " if (same_shape and same_rows) else "DIFF"
        if not same_rows:
            note.append(f"rows {qa['rows']} != {qb['rows']}")
            bad.append(name)
        if not same_shape:
            da = [x for x in qa["shape"] if x not in qb["shape"]]
            db = [x for x in qb["shape"] if x not in qa["shape"]]
            note.append(f"shape Δ local-only={da[:4]} cluster-only={db[:4]}")
            bad.append(name)
        print(f"{status} {name}: rows={qb['rows']} "
              f"wall local={qa['wall']} cluster={qb['wall']} {' '.join(note)}")
    if bad:
        print(f"\nPOSTURE MISMATCH: {sorted(set(bad))}")
        return 1
    print("\nall plans/rows match across postures; cluster pins recorded")
    return 0


if __name__ == "__main__":
    if "--phase" in sys.argv:
        out = sys.argv[sys.argv.index("--out") + 1]
        args = [a for a in sys.argv[1:] if not a.startswith("--") and a not in ("run", out)]
        sf_dir = args[0] if args else "/root/testdata/sf0.01"
        from dask_ssh_docker_spark.session import get_session

        spark = get_session("posture-local")
        raise SystemExit(run_phase(spark, sf_dir, out))
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    raise SystemExit(_orchestrate(sf))
