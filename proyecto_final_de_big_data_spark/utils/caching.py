"""The pin contract: how a frame that a plan reads more than once is kept.

Unpinned, every reference to a shared subframe (an LSH self-join, a
pair-table fan-out, an aggregate read by both the bounds and the grid
join) recomputes it. There are two ways to pin, and this module is the
only place in the package that persists or unpersists a frame:

- ``Pins``, when the pin must not outlive one computation::

      with Pins() as pin:
          sigs = pin(signatures(df))
          ...
          return pairs.localCheckpoint(eager=True)

  ``pin(df)`` persists ``df`` at ``DataFrame.persist()``'s default
  storage level; every frame pinned in the block is released when the
  block exits, whether it returns or raises. The block must consume
  what it pinned before it exits: write the result to a sink, collect
  it, or compute a small result eagerly with
  ``localCheckpoint(eager=True)``, which also cuts the result's lineage
  to the released parents. A lazy frame returned from the block is
  still correct, but it recomputes the parents at its next action.
- A lazy ``localCheckpoint(eager=False)`` barrier, called directly, when
  the pinned frame lives as long as the plan handed back: the per-round
  lineage cut of an iterative operator, or an input that several
  branches of the returned plan read. It has no release step; its
  blocks are freed when the JVM collects the frame.

Executor loss: a local checkpoint keeps its blocks on the executors and
drops its lineage, so losing an executor fails the job instead of
recomputing the frame. That is fine in local mode and for ephemeral
query results. On a cluster, where a result must survive executor loss,
use ``checkpoint()`` with a durable checkpoint directory, or write the
result to a table.

Release blocks (``unpersist(blocking=True)``): when the block exits the
cache is gone, not merely scheduled for removal, so a long-lived session
does not accumulate pins and a test can observe the release.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


class Pins:
    """Owns the frames pinned inside one ``with`` block (see the module
    docstring); releases all of them, newest first, when it exits."""

    def __init__(self) -> None:
        self._frames: list[DataFrame] = []

    def __enter__(self) -> Pins:
        return self

    def __call__(self, df: DataFrame) -> DataFrame:
        """Persist ``df`` until the block exits; returns the pinned frame."""
        df = df.persist()
        self._frames.append(df)
        return df

    def __exit__(self, *exc_info: object) -> None:
        while self._frames:
            self._frames.pop().unpersist(blocking=True)
