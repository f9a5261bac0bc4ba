"""``delayed`` — the reference's imperative task idiom, executed on Spark.

The reference's only demonstrated user workloads are single delayed
calls (``dask.delayed(sum)(range(1000)).compute()`` at
``/root/reference/example/test.py:23`` and
``dask.delayed(my_library.func)(range(100)).compute()`` at
``/root/reference/example/custom_image/test.py:7``).  This module gives
a migrating user that exact idiom — ``delayed(fn)(*args).compute()``,
including nested ``Delayed`` arguments and containers of them — while
running every task in Spark's Python workers, not the driver.  Each
graph runs under one of two plans:

- **levels** — nodes are fused into Spark tasks by linear fusion: a node
  whose only pending dependency has it as sole consumer runs in that
  dependency's task, so a chain is one task.  Fused tasks run level by
  level, ONE Spark job per fused level packed into at most ``slots``
  partitions, where ``slots`` is the number of tasks the cluster runs
  at once (:func:`.session.task_slots`) — a level of at most ``slots``
  tasks still runs one task per partition; a wider level's tasks are
  dealt round-robin onto the partitions, so a run of heavy neighbours
  (one dominant group's leaves) spreads across slots;
- **one task** — the whole graph runs as one fused task in one job, its
  nodes in topological order.

Either way every node's value comes back to the driver (and feeds
downstream tasks), together with the time its body took.  The executor
keeps, per SparkContext, two running averages that it measures itself
with no extra job: each callable's body time (keyed by a function's
code object, a ``functools.partial``'s wrapped function, or the
hashable callable itself; an unhashable callable stays unknown) and a
level's overhead (a job's wall minus its busiest partition's body
time).  A graph runs as one task only when every node's callable has
an estimate, it has at least two levels, and ``O + Σ bodies`` is less
than ``Σ_levels (O + the busiest partition's bodies)``, ``O`` being the
level overhead.  This rule replaces "a fused task never holds two
nodes that could have run in parallel": such nodes share a task only
when the measured costs say one task finishes sooner.  So a first
compute, any unmeasured callable, heavy bodies and a single-level wave
(``Client.map``) keep the level plan.  A wrong estimate costs at most
one compute: the run measures the true body times, and the next
compute of that shape re-plans.

Packing trades Spark's per-task load balancing for fewer task launches.
It pays while node bodies are short next to Spark's per-task launch
cost: ≈0.011 s of a slot's time per task on a 4-core VM in an engine
session on a local master (its worker daemon, over Unix sockets),
where a level's job costs ≈25–35 ms while the bodies of a small graph
take microseconds.  A session the engine did not start pays ≈0.02 s
more for loopback TCP's delayed-ACK stall and ≈0.2 s more for
PySpark's own daemon, whose workers re-read ``pyspark.zip`` and the
Spark core jar at every task (:mod:`.session`).  A level of
``n > slots`` heavy nodes of uneven cost can finish up to
``ceil(n / slots)`` times later than one partition per node would.

Deliberate scope (PARITY.md §2.A): this is a *migration on-ramp* for the
reference's demonstrated pattern, not a general graph scheduler — big
data belongs in DataFrames where Catalyst can see it.  Payloads and
results ride Spark's pickle serializer, so they must be picklable and
driver-memory-sized; a ``delayed``-heavy analytics script should become
DataFrame code, and every reference query surface has one here.

Determinism/caching: a ``Delayed`` node computes at most once per
``compute()`` call (diamond dependencies share the single result), and
repeated ``.compute()`` calls re-execute — matching ``dask.delayed``
with ``pure=False`` defaults.
"""

from __future__ import annotations

import functools
import itertools
import time
import types
import uuid
import weakref
from typing import Any, Callable

from pyspark.sql import SparkSession

_KEYS = itertools.count()


class Delayed:
    """A lazily-evaluated task node: ``fn(*args, **kwargs)`` whose
    arguments may themselves be (containers of) ``Delayed`` nodes."""

    __slots__ = ("fn", "args", "kwargs", "key")

    def __init__(self, fn: Callable, args: tuple, kwargs: dict):
        self.fn = fn
        self.args = args
        self.kwargs = kwargs
        name = getattr(fn, "__name__", "task")
        self.key = f"{name}-{next(_KEYS)}-{uuid.uuid4().hex[:8]}"

    def compute(self, spark: SparkSession | None = None) -> Any:
        """Execute this node's dependency graph on Spark and return its
        value (the reference smoke contract: ``delayed(sum)(range(1000))
        .compute() == 499500``)."""
        return compute(self, spark=spark)[0]

    def __repr__(self) -> str:  # pragma: no cover
        return f"Delayed({self.key})"


def delayed(fn: Callable) -> Callable[..., Delayed]:
    """``delayed(fn)(*args, **kwargs) -> Delayed`` — the ``dask.delayed``
    call shape for plain callables.  Passing an already-``Delayed`` value
    as an argument chains tasks."""
    if isinstance(fn, Delayed):
        raise TypeError(
            "delayed(...) wraps a callable; to defer a call on a Delayed "
            "result, wrap the downstream function instead"
        )
    if not callable(fn):
        raise TypeError(f"delayed() needs a callable, got {type(fn).__name__}")

    def _make(*args: Any, **kwargs: Any) -> Delayed:
        return Delayed(fn, args, kwargs)

    _make.__name__ = f"delayed_{getattr(fn, '__name__', 'task')}"
    return _make


def _walk_deps(obj: Any):
    """Yield Delayed nodes nested in an argument value (lists/tuples/
    sets/dicts traversed one level at a time, like dask's traversal)."""
    if isinstance(obj, Delayed):
        yield obj
    elif isinstance(obj, (list, tuple, set)):
        for v in obj:
            yield from _walk_deps(v)
    elif isinstance(obj, dict):
        for v in obj.values():
            yield from _walk_deps(v)


class ScatterRef:
    """A cluster-resident value: ``Client.scatter`` wraps the data in a
    Spark broadcast (shipped to each executor ONCE, torrent-style) and
    hands back this reference to use as a task argument.  Payload
    substitution swaps it for a marker resolved worker-side from the
    broadcast, so the data never rides per-task payloads."""

    __slots__ = ("bc", "rid")

    def __init__(self, bc):
        self.bc = bc
        self.rid = next(_KEYS)  # module-unique marker id

    def __repr__(self) -> str:  # pragma: no cover
        return f"ScatterRef({self.rid})"


# Worker-side placeholders, resolved by the task body: a scattered value
# (a Broadcast cannot be pickled as RDD *data*, only closures may carry
# it, so payloads hold ``(_BC_KEY, rid)`` and the task closure resolves
# it against the broadcast map it captured) and an in-task dependency
# (``(_DEP_KEY, i)``: the value of the i-th node run earlier in the same
# fused task).  Plain tuples are hashable, so both also work as set
# members, and keep the worker free of any import of this module.
_BC_KEY = "__dask_ssh_docker_spark_scatter__"
_DEP_KEY = "__dask_ssh_docker_spark_dep__"


def _substitute(
    obj: Any, done: dict[str, Any], local: dict[str, int], bcs: dict[int, Any]
) -> Any:
    if isinstance(obj, Delayed):
        i = local.get(obj.key)
        return done[obj.key] if i is None else (_DEP_KEY, i)
    if isinstance(obj, ScatterRef):
        bcs[obj.rid] = obj.bc
        return (_BC_KEY, obj.rid)
    if isinstance(obj, list):
        return [_substitute(v, done, local, bcs) for v in obj]
    if isinstance(obj, tuple):
        return tuple(_substitute(v, done, local, bcs) for v in obj)
    if isinstance(obj, set):
        return {_substitute(v, done, local, bcs) for v in obj}
    if isinstance(obj, dict):
        return {k: _substitute(v, done, local, bcs) for k, v in obj.items()}
    return obj


def _task_body(bmap: dict[int, Any]) -> Callable[[list], list]:
    """The Spark task for one partition: run each of its fused tasks'
    payloads in turn — the nodes in order, resolving markers — and
    return ``(values, body seconds)`` per fused task, one entry per node:
    each body time covers the ``fn(*args, **kwargs)`` call alone.  Nested, so cloudpickle
    ships it by value (no import of this package on the worker);
    ``bmap`` rides the closure, which CAN carry Broadcast handles
    (payload data cannot)."""
    bc_key, dep_key = _BC_KEY, _DEP_KEY

    def run(blobs: list) -> list:
        import pickle
        from time import perf_counter

        out = []
        for blob in blobs:
            vals: list = []

            def res(o):
                if isinstance(o, tuple):
                    if len(o) == 2 and isinstance(o[0], str):
                        if o[0] == bc_key and o[1] in bmap:
                            return bmap[o[1]].value
                        if o[0] == dep_key and isinstance(o[1], int):
                            return vals[o[1]]
                    return tuple(res(v) for v in o)
                if isinstance(o, list):
                    return [res(v) for v in o]
                if isinstance(o, set):
                    return {res(v) for v in o}
                if isinstance(o, dict):
                    return {k: res(v) for k, v in o.items()}
                return o

            durs: list = []
            for fn, args, kwargs in pickle.loads(blob):
                args, kwargs = res(args), res(kwargs)
                t = perf_counter()
                vals.append(fn(*args, **kwargs))
                durs.append(perf_counter() - t)
            out.append((vals, durs))
        return out

    return run


def _fused_levels(deps: dict[str, set[str]]) -> list[list[list[str]]]:
    """Plan a graph of pending nodes (``deps``: node → its pending
    dependencies) as levels of fused tasks, each task a chain of node
    keys in run order.  Level ``i`` depends only on levels ``< i``.

    A node runs in its dependency ``p``'s task when ``p`` is its only
    pending dependency and it is ``p``'s only consumer (linear fusion).
    Only a chain's head can depend on nodes outside the chain, so the
    head alone sets the chain's level.  Linear time: Kahn's algorithm,
    no recursion."""
    consumers: dict[str, list[str]] = {k: [] for k in deps}
    indeg = {k: len(ds) for k, ds in deps.items()}
    for k, ds in deps.items():
        for p in ds:
            consumers[p].append(k)
    order = [k for k, n in indeg.items() if not n]
    for k in order:  # grows while iterated: Kahn's queue
        for c in consumers[k]:
            indeg[c] -= 1
            if not indeg[c]:
                order.append(c)
    if len(order) < len(deps):  # impossible via the public API, but be loud
        raise ValueError(
            f"delayed graph has a cycle among: {sorted(k for k in deps if indeg[k])}"
        )

    head: dict[str, str] = {}  # node → the head of the chain that runs it
    tasks: dict[str, list[str]] = {}  # chain head → its members, in order
    level: dict[str, int] = {}  # chain head → its level
    for k in order:  # every dependency is placed before its consumers
        (p,) = deps[k] if len(deps[k]) == 1 else (None,)
        if p is not None and len(consumers[p]) == 1:
            head[k] = head[p]
            tasks[head[k]].append(k)
        else:
            head[k] = k
            tasks[k] = [k]
            level[k] = 1 + max((level[head[q]] for q in deps[k]), default=-1)
    levels: list[list[list[str]]] = [[] for _ in range(max(level.values()) + 1)]
    for h, members in tasks.items():
        levels[level[h]].append(members)
    return levels


class _Costs:
    """Running averages the executor measures for one SparkContext: each
    callable's body time (by :func:`_body_key`) and the per-job overhead
    of a level, both in seconds.  Each update halves the old value
    against the new sample, as ``distributed`` keeps its per-prefix
    ``duration_average``."""

    __slots__ = ("body", "level")

    def __init__(self) -> None:
        self.body: dict[Any, float] = {}
        self.level: float | None = None


#: per SparkContext: a ``spark://`` level costs ≈10× a local one
_COSTS: "weakref.WeakKeyDictionary[Any, _Costs]" = weakref.WeakKeyDictionary()


def _average(old: float | None, new: float) -> float:
    return new if old is None else (old + new) / 2


def _body_key(fn: Callable) -> Any:
    """The key a callable's body time is kept under: a Python function's
    code object (its closures and re-definitions share it), a
    ``functools.partial``'s wrapped function, otherwise the callable
    itself — or ``None`` (never measured) when it is unhashable."""
    while isinstance(fn, functools.partial):
        fn = fn.func
    if isinstance(fn, types.FunctionType):
        return fn.__code__
    try:
        hash(fn)
    except TypeError:
        return None
    return fn


def _fuse(
    levels: list[list[list[str]]],
    est: dict[str, float | None],
    overhead: float | None,
    slots: int,
) -> bool:
    """Whether one task running the whole graph beats one job per level.

    ``est`` maps each node to its body-time estimate and ``overhead`` is
    the per-job cost ``O``.  Fuse only when every estimate exists, the
    graph has at least two levels, and ``O + Σ bodies`` undercuts
    ``Σ_levels (O + the busiest partition's bodies)`` under the
    round-robin dealing :func:`_compute_graph` gives each level."""
    if overhead is None or len(levels) < 2 or None in est.values():
        return False
    leveled = 0.0
    for tasks in levels:
        n = min(len(tasks), slots)
        cost = [sum(est[k] for k in members) for members in tasks]
        leveled += overhead + max(sum(cost[r::n]) for r in range(n))
    return overhead + sum(est.values()) < leveled


def compute(
    *outputs: Delayed,
    spark: SparkSession | None = None,
    _precomputed: dict[str, Any] | None = None,
) -> tuple:
    """Evaluate one or more ``Delayed`` graphs; returns their values in
    order.  Nodes run on executor Python workers (tests pin worker-side
    execution via pid), one Spark job per fused level in at most
    ``slots`` partitions, or as one task when the measured costs say
    that finishes sooner (module docstring).

    ``_precomputed``: results keyed by node key that are already known
    (the futures layer's run-once cache) — such nodes and their whole
    upstream subgraphs are skipped, matching ``distributed``'s
    task-runs-once semantics for chained futures."""
    for o in outputs:
        if not isinstance(o, Delayed):
            raise TypeError(f"compute() takes Delayed inputs, got {type(o).__name__}")
    done = _compute_graph(outputs, spark, _precomputed)
    return tuple(done[o.key] for o in outputs)


def _compute_graph(
    outputs: tuple,
    spark: SparkSession | None,
    _precomputed: dict[str, Any] | None,
) -> dict[str, Any]:
    """Graph evaluation core; returns the FULL results map (every node
    computed this call plus the precomputed entries) so callers like the
    futures layer can complete dependency futures too."""
    from .session import get_session, task_slots

    if spark is None:
        spark = get_session()
    sc = spark.sparkContext

    done: dict[str, Any] = dict(_precomputed or {})

    # collect all nodes reachable from the outputs, stopping at known ones
    nodes: dict[str, Delayed] = {}
    stack = list(outputs)
    while stack:
        d = stack.pop()
        if d.key in nodes or d.key in done:
            continue
        nodes[d.key] = d
        stack.extend(_walk_deps(d.args))
        stack.extend(_walk_deps(d.kwargs))

    deps = {
        k: {p.key for p in (*_walk_deps(d.args), *_walk_deps(d.kwargs))} - done.keys()
        for k, d in nodes.items()
    }
    if not deps:
        return done
    slots = task_slots(sc)
    costs = _COSTS.setdefault(sc, _Costs())
    body_keys = {k: _body_key(nodes[k].fn) for k in deps}
    levels = _fused_levels(deps)
    est = {k: costs.body.get(b) for k, b in body_keys.items()}
    if _fuse(levels, est, costs.level, slots):
        levels = [[[k for tasks in levels for members in tasks for k in members]]]

    # cloudpickle the payloads ourselves: RDD *data* rides the plain
    # pickler, which can't carry lambdas/closures/test-local functions
    # — cloudpickle serializes any callable by value, exactly like dask
    # ships tasks to workers
    from pyspark import cloudpickle

    samples: dict[Any, list[float]] = {}  # body key → this graph's body times
    for tasks in levels:
        bcs: dict[int, Any] = {}  # broadcasts used by this level's tasks
        payloads = []
        for members in tasks:
            local = {k: i for i, k in enumerate(members)}
            payloads.append(
                cloudpickle.dumps(
                    [
                        (
                            nodes[k].fn,
                            _substitute(list(nodes[k].args), done, local, bcs),
                            _substitute(nodes[k].kwargs, done, local, bcs),
                        )
                        for k in members
                    ]
                )
            )
        # deal the tasks round-robin: partition r runs tasks r, r+n, …
        n = min(len(payloads), slots)
        t0 = time.perf_counter()
        results = (
            sc.parallelize([payloads[r::n] for r in range(n)], n)
            .map(_task_body(bcs))
            .collect()
        )
        wall = time.perf_counter() - t0
        for i, members in enumerate(tasks):
            vals, durs = results[i % n][i // n]
            done.update(zip(members, vals))
            for k, d in zip(members, durs):
                samples.setdefault(body_keys[k], []).append(d)
        busiest = max(sum(sum(durs) for _, durs in part) for part in results)
        costs.level = _average(costs.level, wall - busiest)

    for b, ds in samples.items():
        if b is not None:
            costs.body[b] = _average(costs.body.get(b), sum(ds) / len(ds))
    return done
