"""Driver-local relation builder with a bounded slice count.

``SparkSession.createDataFrame(list)`` parallelizes the rows into
``defaultParallelism`` slices regardless of size, so every action over
a small driver-born frame (a codebook, a cluster→cell map, a
partition-offset table) schedules a 32-task stage to move a few
hundred pickled rows — measured 0.37 s/action vs 0.26 s at 2 slices
for a 313-row codebook frame on local[32] (OPTIMIZATION_r13). At
cluster scale the waste is the same shape: tasks, not data. The slice
count here scales with the row count (one slice per ``rows_per_slice``
rows, capped at the session parallelism), so small frames get one or
two tasks and a large one (a whole codebook at derived k, as
``write_ivf_index`` writes it) still parallelizes its unpickling.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

_ROWS_PER_SLICE = 4096


def local_df(spark: SparkSession, rows, schema) -> DataFrame:
    """``spark.createDataFrame(rows, schema)`` with slices derived
    from ``len(rows)`` instead of ``defaultParallelism``. Rows must be
    a materialized sequence (list/tuple)."""
    rows = list(rows)
    if not rows:
        return spark.createDataFrame([], schema)
    cores = spark.sparkContext.defaultParallelism
    slices = max(1, min(cores, -(-len(rows) // _ROWS_PER_SLICE)))
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, slices), schema
    )
