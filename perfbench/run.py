#!/usr/bin/env python3
"""Layered benchmark of the engine: one workload per run, closed loop, one client.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root.  A run

1. validates the workload's op names against ``REGISTRY`` (before any JVM);
2. generates the workload's tables from ``--seed`` with the unchanged
   ``tools/gen_sf.generate`` (cached in ``.perfbench_cache/``; the time is
   reported apart from set-up);
3. times its own set-up: import, ``get_session()``, first trivial action;
4. runs one op at a time: one cold pass in the workload's order, which
   also collects the noop-sink ops' outputs; then, each pass in a seeded
   order, the workload's unmeasured warm-up passes and steady passes
   until ``--seconds`` have passed and at least ``MIN_PASSES`` ran;
5. checks every op's output, outside the timed window.

The steady metrics are built from each op's median wall over the steady
passes, so one pass slowed by the host moves none of them.

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` alternates
traced and untraced steady passes and reports the per-layer metrics of
the traced ones, the tracing overhead, and ``bench.spark_floor`` before
and after the steady passes; its spans go to ``.perfbench_out/``.  Each
run gets its own ``TMPDIR``, ``SPARK_LOCAL_DIRS`` and JVM temp dir under
``.perfbench_tmp/``, removed when the run ends.  The last line of stdout
is one JSON object: ``correct``, ``attempted``, ``failed``, ``metrics``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import random
import shutil
import statistics
import sys
import tempfile
import time

import numpy as np

from checks import check_frame, duck
from engine import ROOT, import_package, jvm_peak_rss_mb, start_session, stop_jvm
from spans import LAYER_METRICS, Tracer, layer_metrics
from workloads import WORKLOADS, GraphOp, tables_dir

MIN_PASSES = 3
CACHE = os.path.join(ROOT, ".perfbench_cache")
OUT = os.path.join(ROOT, ".perfbench_out")

END_TO_END = {
    "setup_s": "s", "ops_per_s": "ops/s", "op_p50_s": "s", "op_tail_s": "s",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def op_stats(by_op: dict[str, list[float]]) -> dict[str, float]:
    """Steady metrics from each op's median wall: ``ops_per_s`` is one pass
    of the ops over the sum of their medians, ``op_p50_s`` the median of
    the medians and ``op_tail_s`` the largest, the slowest op's."""
    medians = [statistics.median(ws) for ws in by_op.values()]
    return {
        "ops_per_s": len(medians) / sum(medians),
        "op_p50_s": statistics.median(medians),
        "op_tail_s": max(medians),
    }


def generate_tables(vocab: str, sf: float, seed: int) -> tuple[str, float]:
    """Seeded tables, generated once per (vocab, sf, seed); (dir, seconds)."""
    out = tables_dir(CACHE, vocab, sf, seed)
    if os.path.isdir(out):
        return out, 0.0
    import gen_sf  # tools/, put on sys.path by import_package

    os.makedirs(CACHE, exist_ok=True)
    staging = tempfile.mkdtemp(prefix=".gen-", dir=CACHE)
    t0 = time.perf_counter()
    gen_sf.SEED = seed
    with contextlib.redirect_stdout(sys.stderr):
        gen_sf.generate(sf, staging, vocab_mode=vocab)
    os.rename(staging, out)
    return out, time.perf_counter() - t0


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the host's CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as fh:
        fields = [int(v) for v in fh.readline().split()[1:9]]
    return fields[7], sum(fields)


def isolate_temp(run_dir: str) -> dict[str, str]:
    """Point every temp dir of this process and its children into ``run_dir``."""
    dirs = {k: os.path.join(run_dir, k) for k in ("tmp", "spark-local", "jvm-tmp", "out")}
    for d in dirs.values():
        os.makedirs(d)
    os.environ["TMPDIR"] = dirs["tmp"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["spark-local"]
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={dirs['jvm-tmp']} -XX:-UsePerfData")
    tempfile.tempdir = None  # re-read TMPDIR
    return dirs


class Runner:
    """Runs one workload's ops through the tracer."""

    def __init__(self, spark, workload, data_dir, dirs, seed, tracer):
        self.spark = spark
        self.workload = workload
        self.data_dir = data_dir
        self.out_dir = dirs["out"]
        self.seed = seed
        self.tracer = tracer
        rng = np.random.default_rng(seed)
        self.graph_inputs = {op.name: op.inputs(rng) for op in workload.graph_ops}
        self.graph_expected = {
            op.name: op.expected(self.graph_inputs[op.name]) for op in workload.graph_ops
        }
        self.graph_mismatches = 0
        self.frames = {}  # collected outputs of the noop-sink ops

    def run_op(self, op, collect: bool = False):
        from dask_ssh_docker_spark.queries import REGISTRY
        from dask_ssh_docker_spark.sources import write_parquet

        t = self.tracer
        if isinstance(op, GraphOp):
            with t.op(op.name, "graph") as rec:
                with t.phase("construct"):
                    handle = op.build(self.graph_inputs[op.name], self.spark, t.span)
                with t.phase("exec"):
                    value = op.run(handle, t.span)
            if rec.error is None and value != self.graph_expected[op.name]:
                self.graph_mismatches += 1
            return rec
        with t.op(op.name, "spark", op.streaming) as rec:
            with t.phase("construct"):
                df = REGISTRY[op.name].fn(self.spark, self.data_dir)
            with t.phase("exec"):
                if op.sink == "parquet":
                    write_parquet(df, os.path.join(self.out_dir, op.name))
                elif collect:
                    self.frames[op.name] = df.toPandas()
                else:
                    df.write.format("noop").mode("overwrite").save()
        if op.sink == "parquet" and rec.traced and rec.error is None:
            rec.output_files = sum(
                f.endswith(".parquet")
                for f in os.listdir(os.path.join(self.out_dir, op.name)))
        return rec

    def run_pass(self, index: int, collect: bool = False) -> list:
        """Pass ``index`` over the ops: the cold pass (0) in the workload's
        order, so the same op pays the first-use costs in every run; later
        passes in an order drawn from the seed."""
        ops = list(self.workload.ops)
        if index:
            random.Random(f"{self.seed}:{index}").shuffle(ops)
        return [self.run_op(op, collect) for op in ops]

    def check_outputs(self) -> dict[str, str]:
        """Problems by op name for the Spark ops whose output, collected by
        the check pass or written to parquet, is wrong."""
        from dask_ssh_docker_spark.queries import REGISTRY

        if not self.workload.spark_ops:
            return {}
        problems = {}
        con = duck(self.data_dir)
        try:
            for op in self.workload.spark_ops:
                spec = REGISTRY[op.name]
                try:
                    if op.sink == "parquet":
                        path = os.path.join(self.out_dir, op.name)
                        pdf = self.spark.read.parquet(path).toPandas()
                    else:
                        pdf = self.frames[op.name]
                    problem = check_frame(pdf, spec.oracle, op.columns, con)
                except Exception as e:  # noqa: BLE001 - reported as a failed check
                    problem = f"{type(e).__name__}: {e}"[:500]
                if problem:
                    problems[op.name] = problem
        finally:
            con.close()
        return problems


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "dask_ssh_docker_spark")):
        print(f"perfbench: no dask_ssh_docker_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    workload = WORKLOADS[args.workload]
    import_s = import_package()
    from dask_ssh_docker_spark.queries import REGISTRY

    unknown = [o.name for o in workload.spark_ops if o.name not in REGISTRY]
    if unknown:
        print(f"perfbench: unknown op names (not in REGISTRY): {unknown}",
              file=sys.stderr)
        return 2
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    cores = int(os.environ["SPARK_GRAFT_CPUS"])

    os.makedirs(os.path.join(ROOT, ".perfbench_tmp"), exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-",
                               dir=os.path.join(ROOT, ".perfbench_tmp"))
    try:
        dirs = isolate_temp(run_dir)
        data_dir, gen_s = (generate_tables(*workload.dataset, args.seed)
                           if workload.dataset else (None, 0.0))
        result, info = measure(args, workload, data_dir, dirs, cores, import_s)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    info["gen_s"] = gen_s
    report(args, workload, result, info)
    return 0


def measure(args, workload, data_dir, dirs, cores, import_s):
    spark, session_times = start_session()
    setup = {"import_s": import_s, **session_times}
    try:
        tracer = Tracer(spark, dirs["tmp"])
        runner = Runner(spark, workload, data_dir, dirs, args.seed, tracer)

        t0 = time.perf_counter()
        cold = runner.run_pass(0, collect=True)
        cold_pass_s = time.perf_counter() - t0
        problems = runner.check_outputs()
        warm = [r for i in range(workload.warm_passes) for r in runner.run_pass(1 + i)]
        floors = {}
        if args.trace:
            import bench

            floors["before"] = bench.spark_floor(spark)
        passes = []  # (traced, wall_s, records)
        steal0, total0 = cpu_ticks()
        t_start = time.perf_counter()
        while True:
            traced = bool(args.trace) and len(passes) % 2 == 0
            tracer.enabled = traced
            t0 = time.perf_counter()
            recs = runner.run_pass(1 + workload.warm_passes + len(passes))
            passes.append((traced, time.perf_counter() - t0, recs))
            tracer.enabled = False
            untraced = sum(1 for t, _, _ in passes if not t)
            if (time.perf_counter() - t_start >= args.seconds
                    and untraced >= (1 if args.trace else MIN_PASSES)):
                break
        steal1, total1 = cpu_ticks()
        if args.trace:
            floors["after"] = bench.spark_floor(spark)
        rss_mb = jvm_peak_rss_mb()
    finally:
        stop_jvm(spark)

    # -- end-to-end (untraced passes) --------------------------------------
    steady = [(w, rs) for t, w, rs in passes if not t]
    all_recs = cold + warm + [r for _, _, rs in passes for r in rs]
    errors = {r.op: r.error for r in all_recs if r.error}
    failed = sum(1 for r in all_recs if r.error or r.op in problems)
    failed += runner.graph_mismatches
    by_op: dict[str, list[float]] = {}
    for _, rs in steady:
        for r in rs:
            by_op.setdefault(r.op, []).append(r.wall_s)
    e2e = {"setup_s": sum(setup.values()), **op_stats(by_op)}
    info = {
        "workload": workload.name, "seed": args.seed, "cores": cores,
        "op_walls_s": by_op,
        "cold_op_walls_s": {r.op: r.wall_s for r in cold},
        "attempted": len(all_recs), "failed": failed,
        "fail_ratio": failed / len(all_recs),
        "cold_pass_s": cold_pass_s,
        "op_tail": max(by_op, key=lambda op: statistics.median(by_op[op])),
        "steady_pass_walls_s": [w for w, _ in steady],
        # CPU time the hypervisor gave other guests during the steady
        # passes, as a share of the host's CPU time: the window control
        "steady_steal_share": (steal1 - steal0) / max(1, total1 - total0),
        "setup": setup, "steady_passes": len(steady),
        "errors": errors, "check_problems": problems,
        "graph_mismatches": runner.graph_mismatches,
    }
    result = {"e2e": e2e}
    if args.trace:
        traced_recs = [r for t, _, rs in passes if t for r in rs]
        n_traced = sum(1 for t, _, _ in passes if t)
        layers = layer_metrics(traced_recs, n_traced, cores)
        layers.update({
            "session.import_s": setup["import_s"],
            "session.jvm_start_s": setup["jvm_start_s"],
            "session.first_action_s": setup["first_action_s"],
            "session.cold_pass_s": cold_pass_s,
            "session.jvm_peak_rss_mb": rss_mb,
            "trace.overhead_s": trace_overhead(passes),
        })
        result["layers"] = {k: layers[k] for k in LAYER_METRICS}
        info["spark_floor"] = floors
        os.makedirs(OUT, exist_ok=True)
        path = os.path.join(OUT, f"{workload.name}-seed{args.seed}.jsonl")
        with open(path, "w") as fh:
            for r in traced_recs:
                fh.write(json.dumps(r.to_dict()) + "\n")
        info["spans"] = os.path.relpath(path, ROOT)
    return result, info


def trace_overhead(passes) -> float:
    """Per pass: Σ over ops of (median traced wall − median untraced wall)."""
    by_op: dict[str, dict[bool, list[float]]] = {}
    for traced, _, recs in passes:
        for r in recs:
            by_op.setdefault(r.op, {True: [], False: []})[traced].append(r.wall_s)
    return sum(
        statistics.median(w[True]) - statistics.median(w[False])
        for w in by_op.values() if w[True] and w[False]
    )


def report(args, workload, result, info) -> None:
    print(f"# {workload.name} seed={args.seed} trace={args.trace}: {workload.why}")
    print(f"{'metric':<28}{'value':>16}  unit")
    for name, unit in END_TO_END.items():
        note = ""
        if name == "op_tail_s":
            note = f"  (median of {info['op_tail']}, the slowest op)"
        print(f"{name:<28}{result['e2e'][name]:>16.4f}  {unit}{note}")
    print(f"{'cold_pass_s':<28}{info['cold_pass_s']:>16.4f}  s")
    print(f"{'fail_ratio':<28}{info['fail_ratio']:>16.4f}  ratio")
    if "layers" in result:
        for name, value in result["layers"].items():
            print(f"{name:<28}{value:>16.4f}  {LAYER_METRICS[name]}")
    print(json.dumps({"info": info}, default=str))
    if args.trace:
        metrics = {k: {"value": v, "unit": LAYER_METRICS[k]}
                   for k, v in result["layers"].items()}
    else:
        metrics = {k: {"value": result["e2e"][k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({
        "correct": info["failed"] == 0,
        "attempted": info["attempted"],
        "failed": info["failed"],
        "metrics": metrics,
    }))


if __name__ == "__main__":
    sys.exit(main())
