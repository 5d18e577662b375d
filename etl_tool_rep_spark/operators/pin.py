"""``pin(df, name)``: the one place the package materializes a frame.

- **Eager, always.** A lazy pin is filled by whichever action reaches
  it first, and its tasks can report SQL-metric updates for a plan
  Spark has already discarded (the ``Failed to update accumulator``
  ERROR flood).
- **Durable when Spark is told to be.** Reliable ``checkpoint()`` when
  the context has a checkpoint directory (``spark.checkpoint.dir`` or
  ``setCheckpointDir``), else executor-local ``localCheckpoint()``.
  Results are the same either way.
- **Named.** The pin's job runs under ``spark.job.description`` =
  ``name``; the job group is left alone.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_DESC = "spark.job.description"


def pin(df: DataFrame, name: str) -> DataFrame:
    """Materialize ``df`` now; return it with its lineage truncated."""
    sc = df.sparkSession.sparkContext
    prev = sc.getLocalProperty(_DESC)
    sc.setLocalProperty(_DESC, name)
    try:
        if sc.getCheckpointDir():
            return df.checkpoint(eager=True)
        return df.localCheckpoint(eager=True)
    finally:
        sc.setLocalProperty(_DESC, prev)
