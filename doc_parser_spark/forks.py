"""Owned fork points: persisted intermediates with an explicit release.

A lazy operator persists its fork points — intermediates that several
branches of one plan read — so the caller's later action derives them
once. ``fork(df)`` persists ``df`` and registers it with the innermost open
``Forks`` scope; ``Forks.release()`` unpersists all of it. With no scope
open ``fork`` is a plain ``persist()``. A driver that loops batches::

    with Forks() as forks:
        pairs = lsh_candidate_pairs(batch, "id", "text")
    pairs.write.parquet(out)
    forks.release()

A scope opened inside another is owned by it (the outer ``release()``
releases it too), and a scope left by an exception releases at once: a
plan that failed to build has no action left to wait for.
"""

from __future__ import annotations

from contextvars import ContextVar

from pyspark.sql import DataFrame

_SCOPE: ContextVar[Forks | None] = ContextVar("doc_parser_spark_forks",
                                               default=None)


def fork(df: DataFrame) -> DataFrame:
    """``df.persist()``, owned by the innermost open ``Forks`` scope."""
    df = df.persist()
    scope = _SCOPE.get()
    if scope is not None:
        scope._held.append(df)
    return df


class Forks:
    """Collects what is forked while open; ``release()`` unpersists it."""

    def __init__(self) -> None:
        self._held: list[DataFrame | Forks] = []

    def __enter__(self) -> Forks:
        outer = _SCOPE.get()
        if outer is not None:
            outer._held.append(self)
        self._token = _SCOPE.set(self)
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        _SCOPE.reset(self._token)
        if exc_type is not None:
            self.release()

    def release(self) -> None:
        held, self._held = self._held, []
        # newest first: a fork read by a later fork goes after it, so
        # releasing it never re-plans a cache that is about to go too
        for item in reversed(held):
            if isinstance(item, Forks):
                item.release()
            else:
                item.unpersist()
