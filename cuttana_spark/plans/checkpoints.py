"""One lifecycle for the caches and checkpoints a call creates.

`DataFrame.localCheckpoint(eager=True)` pins its materialized blocks in the
BlockManager until the SESSION ends — Spark exposes no DataFrame-level
unpersist for them. An iterative job that checkpoints per round therefore
LEAKS one resident copy of its state per checkpoint unless something
releases it: at 100 supersteps on a 10^9-vertex frontier that is 100 pinned
frontier copies, which first evicts useful cache, then spills, then
destabilizes run-to-run wall time (observed: back-to-back identical PageRank
runs at 14-77 s as leaked blocks accumulated — the round-2 scaling-noise
root cause).

`scope` owns every block a call creates:

    with scope() as s:
        trans = s.cache(build_transition(edges))   # released on exit
        state = s.checkpoint(state0)
        for it in range(iters):
            new_state = s.checkpoint(step(state))   # releases generation it-1
            ...convergence test may join new_state with state...
            state = new_state
        return s.keep(state)   # the one block set that outlives the scope

`checkpoint` keeps the newest TWO generations: a convergence test joins the
new state against the previous one, so the parent must survive one extra
round; anything older is unreachable — the new checkpoint cut its lineage.
A generation is named by the id of the RDD behind its `LogicalRDD` plan, so
a scope releases exactly what it checkpointed: an upstream `.cache()` whose
lazy fill runs inside a checkpoint job registers a persistent RDD too, but
it is not the checkpoint's RDD and stays untouched.

`keep(df)` un-tracks `df` when it is one of the scope's generations (no job
runs), else eagerly checkpoints it outside the scope. Everything else —
caches and generations — is released when the scope exits, on the error path
too. Release only what nothing lazy still reads: a plan over a released
generation fails at its next action (its blocks are gone and its lineage was
cut), which is why the result goes through `keep` and why a chain that feeds
another scope's result lives in a scope nested inside the consumer's.

`slot(name)` is a scope without a `with`: it lives as long as the
lazy result built from it, and the next `slot()` call of the same name
closes it (edge derivation and the shingle-based dedup operators). Slots
hold caches only: a cache keeps its lineage, so a result still read after
the next call released its slot recomputes, it does not fail.
"""

from __future__ import annotations

import contextlib

from pyspark.sql import DataFrame

# generations a scope keeps live: the newest state and the one it replaced
_LIVE_GENERATIONS = 2


class Scope:
    def __init__(self):
        self._cached: list[DataFrame] = []
        self._gens: list[tuple[DataFrame, object]] = []  # (frame, its JVM RDD)

    def cache(self, df: DataFrame) -> DataFrame:
        df = df.persist()
        self._cached.append(df)
        return df

    def checkpoint(self, df: DataFrame) -> DataFrame:
        out = df.localCheckpoint(eager=True)
        self._gens.append((out, out._jdf.queryExecution().logical().rdd()))
        while len(self._gens) > _LIVE_GENERATIONS:
            self._gens.pop(0)[1].unpersist(True)
        return out

    def keep(self, df: DataFrame) -> DataFrame:
        for i, (gen, _) in enumerate(self._gens):
            if gen is df:
                del self._gens[i]
                return df
        return df.localCheckpoint(eager=True)

    def close(self) -> None:
        while self._gens:
            self._gens.pop()[1].unpersist(True)
        while self._cached:
            self._cached.pop().unpersist(False)


@contextlib.contextmanager
def scope():
    """Yield a Scope; on exit, release all it made but what it `keep`s."""
    s = Scope()
    try:
        yield s
    finally:
        s.close()


_SLOTS: dict[str, Scope] = {}


def slot(name: str) -> Scope:
    """A fresh Scope for `name`, after closing the previous call's."""
    prev = _SLOTS.pop(name, None)
    if prev is not None:
        # the previous call's session may be gone; its blocks went with it
        with contextlib.suppress(Exception):
            prev.close()
    _SLOTS[name] = s = Scope()
    return s
