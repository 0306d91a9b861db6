"""Driver-side iteration and cache lifetime, decided once for the engine.

**The rule: a public operator returns a frame that holds no CacheManager
entry.** Inside a call, a frame with several consumers is scoped with
:func:`cached`, and a result that must be materialized is
``localCheckpoint(eager=True)``'d before the caches it reads are released.
A checkpoint lives outside the CacheManager and its blocks are freed once
the frame is garbage-collected, so the caller has nothing to release.

Every driver loop runs through :func:`iterate`, which has two modes:

* **lazy** (no ``until``): a fixed round count with nothing read on the
  driver between rounds. Every round is persisted, since a round usually
  reads its predecessor more than once, and no action runs in the loop:
  the caches fill in dependency order during the one
  ``localCheckpoint(eager=True)`` of the final state, after which every
  round cache is released.
* **eager** (``until(prev, new)``): a fixpoint read on the driver. Each
  round is a lazy ``localCheckpoint``, so the plan is cut at every round
  and its depth stays constant. ``until`` must run an action over
  ``new``; that read is the round's only action and materializes the
  round, after which the previous round's blocks are released. The final
  state is returned already materialized.

Both return ``(state, met)``, where ``met`` says whether ``until`` held
(always False in lazy mode): a caller whose fixpoint must be reached
raises on ``not met``, one with a natural bound stops there.

Two loops stay outside :func:`iterate` and say why where they run:
``graph.hits`` and ``unigram.unigram_train``. On a real cluster, reliable
``checkpoint()`` would replace ``localCheckpoint`` where fault tolerance
matters more than speed.
"""

from __future__ import annotations

from contextlib import contextmanager
from typing import Callable, Iterator

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel


@contextmanager
def cached(*dfs: DataFrame) -> Iterator:
    """Persist ``dfs`` (MEMORY_AND_DISK) for the ``with`` block and release
    them on exit, also when the block raises. Yields the one frame, or the
    tuple when given several."""
    for df in dfs:
        df.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        yield dfs[0] if len(dfs) == 1 else dfs
    finally:
        for df in dfs:
            df.unpersist()


def iterate(
    step: Callable[[DataFrame], DataFrame],
    state: DataFrame,
    rounds: int,
    until: Callable[[DataFrame, DataFrame], bool] | None = None,
) -> tuple[DataFrame, bool]:
    """Apply ``step`` to ``state`` up to ``rounds`` times → ``(state,
    met)``; see the module docstring for the two modes. The initial
    ``state`` stays the caller's: it is read, never persisted or
    released here."""
    if until is None:
        frames = []
        try:
            for _ in range(rounds):
                state = step(state).persist(StorageLevel.MEMORY_AND_DISK)
                frames.append(state)
            return state.localCheckpoint(eager=True), False
        finally:
            for df in frames:
                df.unpersist()
    for i in range(rounds):
        new = step(state).localCheckpoint(eager=False)
        met = until(state, new)
        if i:
            # a checkpointed frame is a LogicalRDD over its checkpoint RDD;
            # dropping those blocks frees the round now, not at the next GC
            state._jdf.queryExecution().analyzed().rdd().unpersist(False)
        state = new
        if met:
            return state, True
    return state, False
