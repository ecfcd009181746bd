"""Table profiling — the per-column census (row count, null count,
distinct count, min/max) a warehouse load emits after every batch
(reference analog: the manual ``SELECT count(*) ...`` sanity probes in
``inserting-data.sql``; here it is a first-class operator).

Scale shape: ONE aggregate pass over the table produces every column's
stats (a single job, map-side partial aggregation). The multiple
``count(distinct)`` aggregates are planned by Spark via a single
Expand + two-stage hash aggregate — data is replicated x#cols inside
the shuffle, the standard exact-distinct trade.

Output is long format (one row per column) so downstream quality gates
can join/filter it relationally. min/max are stringified through a
DECIMAL(18,2) cast for floating-point columns: both Spark and the
DuckDB oracle print decimals and dates identically, whereas raw
double->string formatting is engine-specific.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, FloatType


def _as_string(df: DataFrame, col: str):
    """Engine-portable stringification for min/max values."""
    if isinstance(df.schema[col].dataType, (DoubleType, FloatType)):
        return lambda c: c.cast("decimal(18,2)").cast("string")
    return lambda c: c.cast("string")


def profile_table(df: DataFrame, cols: Sequence[str] | None = None) -> DataFrame:
    """Per-column profile: ``(column_name, n_rows, n_nonnull,
    n_distinct, min_value, max_value)``, one row per profiled column,
    computed in a single aggregate pass."""
    cols = list(cols) if cols is not None else df.columns
    aggs = [F.count(F.lit(1)).alias("_n_rows")]
    for c in cols:
        s = _as_string(df, c)
        aggs += [
            F.count(F.col(c)).alias(f"_nn_{c}"),
            F.countDistinct(F.col(c)).alias(f"_nd_{c}"),
            s(F.min(F.col(c))).alias(f"_min_{c}"),
            s(F.max(F.col(c))).alias(f"_max_{c}"),
        ]
    one = df.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(c).alias("column_name"),
                F.col("_n_rows").alias("n_rows"),
                F.col(f"_nn_{c}").alias("n_nonnull"),
                F.col(f"_nd_{c}").alias("n_distinct"),
                F.col(f"_min_{c}").alias("min_value"),
                F.col(f"_max_{c}").alias("max_value"),
            )
            for c in cols
        ]
    )
    return one.select(F.explode(rows).alias("p")).select("p.*")
