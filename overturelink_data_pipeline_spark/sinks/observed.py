"""Sidecar numbers taken from the write itself: the row count and the
extent of a parquet write, observed inside the write's own job (no
re-read of the written path, no separate aggregate)."""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F


def observed_write(
    df: DataFrame,
    write: Callable[[DataFrame], None],
    envelope: Column | None = None,
) -> tuple[int, list[float] | None]:
    """Run ``write`` on ``df`` under an observation; return the number
    of rows written and ``[xmin, ymin, xmax, ymax]`` over ``envelope``
    (a struct column with those fields). The extent is None without an
    envelope, or when no row has one (no rows, or all geometries null
    or empty), so a sidecar never carries a ``[null] * 4`` bbox.

    ``df`` must be exactly the frame handed to the writer, after any
    exchange: the metrics then come from the write's result tasks,
    whose updates Spark applies once per task, while shuffle-map tasks
    run again when a stage is retried and would count rows twice."""
    obs = Observation()
    metrics = [F.count(F.lit(1)).alias("n")]
    if envelope is not None:
        metrics += [
            F.min(envelope.xmin).alias("xmin"),
            F.min(envelope.ymin).alias("ymin"),
            F.max(envelope.xmax).alias("xmax"),
            F.max(envelope.ymax).alias("ymax"),
        ]
    write(df.observe(obs, *metrics))
    row = obs.get
    if envelope is None or row["xmin"] is None:
        return int(row["n"]), None
    return int(row["n"]), [float(row[k]) for k in ("xmin", "ymin", "xmax", "ymax")]
