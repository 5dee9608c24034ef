"""The one size gate behind every "solve small inputs on the driver"
decision: under the bound the operator solves on the driver and returns
its result through :func:`local_frame`; above it the distributed plan
runs, so the 100 TB path never collects a scale-sized frame. Each
decision is one DEBUG record with args ``(op, branch, observed, bound)``.
"""

from __future__ import annotations

import logging

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

log = logging.getLogger(__name__)

# True sends every gate down its distributed branch without probing;
# tests set it to pin each driver solve equal to its distributed twin.
FORCE_DISTRIBUTED = False


def on_driver(op: str, observed: int | None, bound: int) -> bool:
    """True iff ``observed`` (None: unknown or unbounded) is at most
    ``bound`` and the distributed branch is not forced."""
    driver = not FORCE_DISTRIBUTED and observed is not None and observed <= bound
    branch = "driver" if driver else "distributed"
    log.debug("%s: %s (observed %s, bound %s)", op, branch, observed, bound)
    return driver


def collect_if_small(op: str, df: DataFrame, bound: int) -> pa.Table | None:
    """``df`` as an Arrow table if it has at most ``bound`` rows, else
    None. One ``limit(bound + 1)`` job answers the gate and delivers the
    rows in no set order: a consumer whose result depends on row order
    (float sums) sorts them first.

    Over a union, the optimizer pushes the limit into every leg as a
    ``LocalLimitExec`` whose row counter Spark names
    ``_limit_counter_<n>`` from a JVM-wide sequence, so each leg's
    whole-stage code is new text the codegen cache cannot serve and every
    call compiles it again. A caller probing a union coalesces it to one
    partition first, which keeps the limit above the union
    (``hierarchy._probe``). This function does not do that for every
    gate: ``coalesce(1)`` over a heavy last stage (an aggregate or a
    join) would run that stage in one task."""
    if FORCE_DISTRIBUTED:
        on_driver(op, None, bound)
        return None
    rows = df.limit(bound + 1).toArrow()
    return rows if on_driver(op, rows.num_rows, bound) else None


def local_frame(spark: SparkSession, columns: dict, schema: str) -> DataFrame:
    """A driver-built result as a local relation from Arrow-convertible
    columns: reading it runs no Python worker and broadcasting it runs
    no job, unlike a frame built from a list of rows."""
    return spark.createDataFrame(pa.table(columns), schema)
