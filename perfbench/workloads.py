"""The benchmark's workloads: which ops run, on which inputs, into which sink.

An op runs in two phases, timed separately by the runner:

- *construct*: ``REGISTRY[name].fn(spark, data_dir)`` for a Spark op (plan
  construction plus any eager driver jobs), or building the task graph
  for a task-graph op;
- *exec*: the sink write for a Spark op (``noop``, or
  ``sources.write_parquet`` into the run's output directory), or
  ``Delayed.compute`` / ``Client.gather`` for a task-graph op.
"""

from __future__ import annotations

import functools
import operator
import os
from dataclasses import dataclass
from typing import Any, Callable

import numpy as np

#: ``delayed`` task bodies are stdlib/numpy callables: they pickle by
#: reference, so the executor's Python workers need no benchmark module
INC = functools.partial(operator.add, 1)


@dataclass(frozen=True)
class SparkOp:
    name: str
    sink: str = "noop"  # "noop" | "parquet"
    #: oracle-less ops: columns the output must carry (rows-only check)
    columns: tuple[str, ...] = ()
    streaming: bool = False


@dataclass(frozen=True)
class GraphOp:
    """A task graph over seeded inputs.

    ``inputs(rng)`` draws the inputs; ``expected(inputs)`` is the plain
    Python value; ``build(inputs, spark, span)`` returns a handle and
    ``run(handle, span)`` evaluates it through the engine.  ``span(name)``
    is the runner's layer-span context manager."""

    name: str
    inputs: Callable[[np.random.Generator], Any]
    expected: Callable[[Any], Any]
    build: Callable[..., Any]
    run: Callable[..., Any]


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    ops: tuple = ()
    #: (vocab, sf) handed to ``tools/gen_sf.generate``; None = no tables
    dataset: tuple[str, float] | None = None
    #: unmeasured passes after the cold pass, while the JIT still speeds
    #: the ops up
    warm_passes: int = 1

    @property
    def spark_ops(self) -> tuple[SparkOp, ...]:
        return tuple(o for o in self.ops if isinstance(o, SparkOp))

    @property
    def graph_ops(self) -> tuple[GraphOp, ...]:
        return tuple(o for o in self.ops if isinstance(o, GraphOp))


# -- task graphs: the reference's delayed / futures surface ------------------


def _compute(graph, span):
    with span("delayed.compute"):
        return graph.compute()


def _wide_build(xs, spark, span):
    """``delayed(inc)`` over every input, summed per group, then in total:
    three dependency layers, as many as the tree and the chain."""
    from dask_ssh_docker_spark.delayed import delayed

    incs = [delayed(INC)(x) for x in xs]
    groups = [delayed(sum)(incs[i:i + WIDE_GROUP]) for i in range(0, len(incs), WIDE_GROUP)]
    return delayed(sum)(groups)


def _tree_build(xs, spark, span):
    from dask_ssh_docker_spark.delayed import delayed

    level = [delayed(INC)(x) for x in xs]
    while len(level) > 1:
        level = [
            delayed(operator.add)(level[i], level[i + 1])
            for i in range(0, len(level), 2)
        ]
    return level[0]


def _chain_build(start_and_len, spark, span):
    from dask_ssh_docker_spark.delayed import delayed

    node, n = start_and_len
    for _ in range(n):
        node = delayed(INC)(node)
    return node


def _futures_build(chunks, spark, span):
    from dask_ssh_docker_spark.futures import Client

    client = Client(spark)
    with span("futures.scatter"):
        refs = client.scatter(list(chunks))
    return client, client.map(np.sum, refs)


def _futures_run(handle, span):
    client, futures = handle
    with span("futures.gather"):
        return [float(v) for v in client.gather(futures)]


def _ints(n: int):
    return lambda rng: [int(v) for v in rng.integers(0, 1_000_000, n)]


WIDE_TASKS = 16
WIDE_GROUP = 4
TREE_LEAVES = 4
CHAIN_LEN = 3
FUTURE_CHUNKS = 8

TASK_GRAPH_OPS = (
    GraphOp(
        "delayed_wide_map_sum",
        _ints(WIDE_TASKS),
        lambda xs: sum(x + 1 for x in xs),
        _wide_build,
        _compute,
    ),
    GraphOp(
        "delayed_add_tree",
        _ints(TREE_LEAVES),
        lambda xs: sum(x + 1 for x in xs),
        _tree_build,
        _compute,
    ),
    GraphOp(
        "delayed_chain",
        lambda rng: (int(rng.integers(0, 1_000_000)), CHAIN_LEN),
        lambda s: s[0] + s[1],
        _chain_build,
        _compute,
    ),
    GraphOp(
        "futures_map_scatter",
        lambda rng: np.array_split(rng.random(40_000), FUTURE_CHUNKS),
        lambda chunks: [float(np.sum(c)) for c in chunks],
        _futures_build,
        _futures_run,
    ),
)


# -- workloads ----------------------------------------------------------------

WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "llm_pipeline_sf001",
            "quality, minhash dedup, mapInPandas and streaming ops on a zipf sf0.01 "
            "corpus, one written to parquet: construction and eager jobs dominate",
            (
                SparkOp("text_quality"),
                SparkOp("dedup_minhash_clusters",
                        columns=("id", "cluster_id", "is_canonical")),
                SparkOp("stream_mv_user_totals", sink="parquet", streaming=True),
                # the one mapInPandas op: Python workers do its work
                SparkOp("multimodal_decode_stub",
                        columns=("doc_id", "width", "height", "decode_ok")),
            ),
            dataset=("zipf", 0.01),
            # plan construction keeps getting faster for ~10 passes
            warm_passes=3,
        ),
        Workload(
            "task_graph",
            "delayed and futures graphs checked against plain Python: the only "
            "workload on the task-graph layers, with no parquet and no shuffle",
            TASK_GRAPH_OPS,
        ),
    )
}


def tables_dir(cache_root: str, vocab: str, sf: float, seed: int) -> str:
    return os.path.join(cache_root, f"{vocab}-sf{sf:g}-seed{seed}")
