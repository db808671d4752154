"""One way to pin an intermediate DataFrame.

A pin is scoped: :func:`pinned` persists the frame for the ``with``
block and releases it on exit, error or not, so no operator hands a
live cache back to its caller.  Iterative loops that must cut lineage
use ``localCheckpoint`` instead; the ContextCleaner frees those blocks.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame


@contextmanager
def pinned(df: DataFrame):
    """Persist ``df`` at the default storage level for the ``with``
    block, yield it, and unpersist it on exit."""
    df = df.persist()
    try:
        yield df
    finally:
        df.unpersist()
