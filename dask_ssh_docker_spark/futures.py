"""``Client`` — the reference's distributed-futures idiom on Spark.

The reference registers a default Dask ``Client`` for every launched
cluster (``bin/dask-ssh-docker:77-78``), giving scripts the
``client.submit`` / ``client.map`` / ``client.scatter`` /
``client.gather`` vocabulary.  This module gives a migrating user those
exact call shapes, executed by the fused scheduler of :mod:`.delayed` —
every task runs in Spark's Python workers, one Spark job per fused level
in at most ``slots`` partitions, with every task's value returned.  A
gathered graph of two or more levels runs as one task instead when the
body times and level overhead the executor measured say that finishes
sooner (never on the first gather of an unmeasured callable):

- ``submit(fn, *args)`` → a :class:`Future`; arguments may be other
  ``Future``/``Delayed`` values (chaining) or scattered data.
- ``map(fn, *iterables)`` → a list of futures, one per element — the
  whole wave executes as ONE Spark job of at most ``slots`` tasks when
  gathered (a single level, so it always keeps its partitions).
- ``scatter(x)`` → ships ``x`` to the cluster ONCE as a Spark broadcast
  and returns a reference usable as a task argument (torrent-style
  distribution, never per-task payload copies).
- ``gather(futures)`` → values, computing every not-yet-done future in
  one batched graph evaluation (structure-preserving over nested
  lists/tuples/dicts, like ``distributed.Client.gather``).

Scope note (PARITY.md §2.A): like :mod:`.delayed`, this is the
migration on-ramp for driver-sized task values — it is deliberately NOT
a general task-graph scheduler.  Data-scale work belongs in DataFrames
where Catalyst/AQE can see it; each futures idiom has a documented
DataFrame twin (``submit``/``map`` → transformation + action,
``scatter`` → ``broadcast``, ``gather`` → ``collect``).

Laziness contract: ``submit`` records the task and returns immediately
(like dask's non-blocking submit); execution happens at the first
``result()``/``gather()`` touching the future.  Batching work into
``gather`` is both the dask idiom for throughput and the Spark-friendly
shape (one job per fused level instead of one per task).
"""

from __future__ import annotations

import weakref
from typing import Any, Callable, Iterable

from pyspark.sql import SparkSession

from .delayed import Delayed, ScatterRef, _compute_graph


class Future:
    """Handle to a submitted task's eventual value.

    ``result()`` computes (batched with nothing — call ``gather`` on
    many futures for one-job waves) and caches; repeated calls return
    the cached value, matching ``distributed.Future`` semantics where a
    task's result is computed once per submission.
    """

    __slots__ = ("node", "_client", "_done", "_value", "__weakref__")

    def __init__(self, node: Delayed, client: "Client"):
        self.node = node
        self._client = client
        self._done = False
        self._value = None

    @property
    def key(self) -> str:
        return self.node.key

    def done(self) -> bool:
        return self._done

    def result(self) -> Any:
        if not self._done:
            self._set(self._client._compute_nodes([self.node])[0])
        return self._value

    def _set(self, value: Any) -> None:
        self._value = value
        self._done = True
        self._client._cache[self.key] = value

    def __repr__(self) -> str:  # pragma: no cover
        state = "finished" if self._done else "pending"
        return f"<Future: {state}, key: {self.key}>"


def _unwrap(obj: Any) -> Any:
    """Futures → their Delayed nodes (done futures → their values) so the
    delayed graph walker sees plain nodes; containers traversed like
    dask's arg traversal.  ``ScatterRef`` passes through — payload
    substitution handles it."""
    if isinstance(obj, Future):
        return obj._value if obj._done else obj.node
    if isinstance(obj, list):
        return [_unwrap(v) for v in obj]
    if isinstance(obj, tuple):
        return tuple(_unwrap(v) for v in obj)
    if isinstance(obj, set):
        return {_unwrap(v) for v in obj}
    if isinstance(obj, dict):
        return {k: _unwrap(v) for k, v in obj.items()}
    return obj


class Client:
    """Spark-backed stand-in for the ``distributed.Client`` surface the
    reference exposes (`bin/dask-ssh-docker:77-78`): submit / map /
    scatter / gather over the :mod:`.delayed` executor.  Works against
    any master the session factory resolves — ``local[*]`` or the
    ``--hosts``-derived ``spark://`` URL — with identical results."""

    def __init__(self, spark: SparkSession | None = None):
        if spark is None:
            from .session import get_session

            spark = get_session()
        self.spark = spark
        # run-once cache: a computed future's value feeds later graphs
        # instead of re-executing its task (distributed.Client semantics)
        self._cache: dict[str, Any] = {}
        # issued futures by node key (weak: a dropped future frees its
        # entry) so dependency futures complete when a downstream graph
        # computes them
        self._futures: "weakref.WeakValueDictionary[str, Future]" = (
            weakref.WeakValueDictionary()
        )

    # -- task submission ---------------------------------------------------

    def submit(self, fn: Callable, *args: Any, **kwargs: Any) -> Future:
        """Schedule ``fn(*args, **kwargs)``; returns immediately with a
        :class:`Future`.  Arguments may be futures (chaining — the
        dependency runs first, its value flows in) or scattered refs."""
        if not callable(fn):
            raise TypeError(f"submit() needs a callable, got {type(fn).__name__}")
        node = Delayed(fn, tuple(_unwrap(a) for a in args), _unwrap(kwargs))
        fut = Future(node, self)
        self._futures[node.key] = fut
        return fut

    def map(self, fn: Callable, *iterables: Iterable, **kwargs: Any) -> list[Future]:
        """One future per zipped element of ``iterables`` (the
        ``client.map(func, seq)`` idiom).  Gathering the returned list
        runs the whole wave as one Spark job packed into at most
        ``slots`` partitions."""
        return [self.submit(fn, *vals, **kwargs) for vals in zip(*iterables)]

    # -- data movement -----------------------------------------------------

    def scatter(self, data: Any):
        """Ship ``data`` to the cluster once (Spark broadcast) and return
        a reference usable as a task argument.  A list scatters
        element-wise (a list of references), mirroring
        ``distributed.Client.scatter``."""
        if isinstance(data, list):
            return [self.scatter(v) for v in data]
        return ScatterRef(self.spark.sparkContext.broadcast(data))

    def gather(self, futures: Any) -> Any:
        """Values for (nested containers of) futures, computing every
        pending one in a single batched graph evaluation — one Spark job
        per fused level across ALL of them, in at most ``slots``
        partitions.  Every node's value comes back, so dependency
        futures complete too."""
        pending: list[Future] = []
        seen: set[int] = set()

        def find(o: Any) -> None:
            if isinstance(o, Future) and not o._done and id(o) not in seen:
                seen.add(id(o))
                pending.append(o)
            elif isinstance(o, (list, tuple, set)):
                for v in o:
                    find(v)
            elif isinstance(o, dict):
                for v in o.values():
                    find(v)

        find(futures)
        if pending:
            values = self._compute_nodes([f.node for f in pending])
            for f, v in zip(pending, values):
                f._set(v)

        def sub(o: Any) -> Any:
            if isinstance(o, Future):
                return o._value
            if isinstance(o, ScatterRef):
                return o.bc.value
            if isinstance(o, list):
                return [sub(v) for v in o]
            if isinstance(o, tuple):
                return tuple(sub(v) for v in o)
            if isinstance(o, set):
                return {sub(v) for v in o}
            if isinstance(o, dict):
                return {k: sub(v) for k, v in o.items()}
            return o

        return sub(futures)

    # -- internals ---------------------------------------------------------

    def _compute_nodes(self, nodes: list[Delayed]) -> tuple:
        done = _compute_graph(tuple(nodes), self.spark, self._cache)
        # every node computed in this graph completes its future (if one
        # was issued and is still alive) — dependencies included
        for key, value in done.items():
            fut = self._futures.get(key)
            if fut is not None and not fut._done:
                fut._set(value)
            else:
                self._cache.setdefault(key, value)
        return tuple(done[n.key] for n in nodes)
