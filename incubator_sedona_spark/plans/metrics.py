"""Per-cell-partition metrics ledger.

Extends the reference's per-task join accumulators (buildCount / streamCount /
resultCount / candidateCount,
/root/reference/core/src/main/java/org/apache/sedona/core/spatialOperator/JoinQuery.java:538-541
and core/.../monitoring/Metric.scala:31) into a *persisted table*: one row per
cell with row counts and lineage (quadkey), queryable after the job — which is
what a 1000-executor run needs for skew diagnosis, instead of ephemeral
accumulator maps on the driver.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, functions as F

from incubator_sedona_spark.cells import Grid


def cell_metrics(
    df: DataFrame,
    grid: Grid,
    x_col: str,
    y_col: str,
    extra_aggs: dict | None = None,
) -> DataFrame:
    """Aggregate a DataFrame into a per-cell ledger: cell id, lineage quadkey,
    row count (+ caller-supplied aggregates).  One hash-aggregate shuffle."""
    cell = grid.point_cell_col(F.col(x_col), F.col(y_col)).alias("cell")
    aggs = [F.count("*").alias("row_count")]
    for name, expr in (extra_aggs or {}).items():
        aggs.append(expr.alias(name))
    out = df.groupBy(cell).agg(*aggs)
    # lineage quadkey: base-4 digits from the packed (ix, iy), pure Catalyst
    ix, iy = grid.unpack_col(F.col("cell"))
    digits = [
        (
            F.shiftrightunsigned(ix, b).bitwiseAND(F.lit(1))
            + F.shiftrightunsigned(iy, b).bitwiseAND(F.lit(1)) * 2
        ).cast("string")
        for b in range(grid.level - 1, -1, -1)
    ]
    out = out.withColumn("lineage", F.concat(*digits) if digits else F.lit(""))
    return out.withColumn("emitted_at", F.lit(int(time.time())))


def hot_cells_from_ledger(
    ledger: DataFrame,
    min_rows: int = 100_000,
    top_k: int = 64,
    cell_col: str = "cell",
    count_col: str = "row_count",
) -> dict:
    """Hot-cell dict for ``spatial_join(salt=...)`` from a persisted ledger.

    Closes the skew loop the reference leaves to its KDB partitioner
    (KDB.java:90-235): a prior run's per-cell metrics (written by
    cell_metrics + checkpointing) identify the cells worth salting, with NO
    pre-aggregate pass over the current input — the form that also works
    for streaming joins, where a count() detection pass is impossible.
    When the ledger holds several emissions per cell, the max count wins
    (salting a since-cooled cell only costs factor-way fanout of that
    cell's build rows)."""
    rows = (
        ledger.groupBy(cell_col)
        .agg(F.max(count_col).alias("__n"))
        .where(F.col("__n") >= min_rows)
        .orderBy(F.col("__n").desc())
        .limit(top_k)
        .collect()
    )
    return {int(r[cell_col]): int(r["__n"]) for r in rows}
