"""Golden-batch CORRECTNESS queries for the SCD algebra (M1-M4).

The SCD semantics are not expressible over the driver's parquet tables
(they need a *mutation history*), so each query applies the batch
algebra in :mod:`.scd` to a handcrafted literal micro-batch chosen to
exercise every replicated quirk (SURVEY §5 test strategy #2):

- duplicate keys within one batch (last-row-wins / first-wins),
- SCD2 re-closing of already-closed history rows,
- SCD3 null-safe no-change rows (incl. ''-vs-'' and consecutive dups),
- untouched keys passing through unchanged.

The DuckDB oracle for each is the hand-computed expected table as a
``VALUES`` literal — a true golden check, independently derivable from
the reference's trigger definitions (``creating-tables.sql:196-270``,
``inserting-data.sql:94-118``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from . import scd

AS_OF = "2024-06-01"


def _spark(t: dict[str, DataFrame]) -> SparkSession:
    """The session of the input tables — not the thread's active
    session, which a plain worker thread does not have."""
    return t["orders"].sparkSession


def _df(t: dict[str, DataFrame], rows, cols_types) -> DataFrame:
    schema = StructType([StructField(n, typ, True) for n, typ in cols_types])
    return _spark(t).createDataFrame(rows, schema)


def _dated(df: DataFrame, *cols: str) -> DataFrame:
    """Cast yyyy-MM-dd string columns to DateType."""
    for c in cols:
        df = df.withColumn(c, F.col(c).cast("date"))
    return df


def _stringify_dates(df: DataFrame, *cols: str) -> DataFrame:
    """DateType -> yyyy-MM-dd strings for cross-engine hash stability."""
    for c in cols:
        df = df.withColumn(c, F.date_format(c, "yyyy-MM-dd"))
    return df


# ---------------------------------------------------------------------------
# M1 — SCD1 upsert, last-row-wins within batch


def scd1_upsert_batch(t: dict[str, DataFrame]) -> DataFrame:
    existing = _df(
        t,
        [(1, "a"), (2, "b")],
        [("key", LongType()), ("payload", StringType())],
    )
    incoming = _df(
        t,
        [(2, "b2", 1), (3, "c", 2), (3, "c2", 3)],
        [("key", LongType()), ("payload", StringType()), ("seq", LongType())],
    )
    out = scd.scd1_upsert(existing, incoming, ["key"], order_col="seq")
    return out.orderBy("key")


SCD1_UPSERT_ORACLE = """
SELECT * FROM (VALUES
  (1, 'a'),
  (2, 'b2'),
  (3, 'c2')
) AS t(key, payload) ORDER BY key
"""


# ---------------------------------------------------------------------------
# M2 — insert-if-absent, first-row-wins within batch


def insert_if_absent_batch(t: dict[str, DataFrame]) -> DataFrame:
    existing = _df(t, [(1, "a")], [("key", LongType()), ("payload", StringType())])
    incoming = _df(
        t,
        [(1, "zzz", 1), (2, "b", 2), (2, "b2", 3)],
        [("key", LongType()), ("payload", StringType()), ("seq", LongType())],
    )
    out = scd.insert_if_absent(existing, incoming, ["key"], order_col="seq")
    return out.orderBy("key")


INSERT_IF_ABSENT_ORACLE = """
SELECT * FROM (VALUES
  (1, 'a'),
  (2, 'b')
) AS t(key, payload) ORDER BY key
"""


# ---------------------------------------------------------------------------
# M3 — SCD2 versioning


def scd2_apply_batch(t: dict[str, DataFrame]) -> DataFrame:
    dim = _dated(
        _spark(t).createDataFrame(
            [
                (1, "a", "2020-01-01", "2099-12-31", True),
                (1, "a0", "2019-01-01", "2020-01-01", False),
                (2, "b", "2020-01-01", "2099-12-31", True),
            ],
            "key long, payload string, start_date string, end_date string, active boolean",
        ),
        "start_date",
        "end_date",
    )
    incoming = _spark(t).createDataFrame(
        [(1, "a1", 1), (3, "c1", 2), (3, "c2", 3)],
        "key long, payload string, seq long",
    )
    out = scd.scd2_apply(dim, incoming, ["key"], as_of=AS_OF, order_col="seq")
    return _stringify_dates(out, "start_date", "end_date").orderBy(
        "key", "start_date", "payload"
    )


SCD2_APPLY_ORACLE = """
SELECT * FROM (VALUES
  (1, 'a0', '2019-01-01', '2024-06-01', false),
  (1, 'a',  '2020-01-01', '2024-06-01', false),
  (1, 'a1', '2024-06-01', '2099-12-31', true),
  (2, 'b',  '2020-01-01', '2099-12-31', true),
  (3, 'c1', '2024-06-01', '2024-06-01', false),
  (3, 'c2', '2024-06-01', '2099-12-31', true)
) AS t(key, payload, start_date, end_date, active)
ORDER BY key, start_date, payload
"""


# ---------------------------------------------------------------------------
# M4 — SCD3 change tracking


def scd3_apply_batch(t: dict[str, DataFrame]) -> DataFrame:
    dim = _dated(
        _spark(t).createDataFrame(
            [
                (1, "n1", "Yes", "", "2020-01-01"),
                (2, "n2", "No", "", "2020-01-01"),
                (3, "n3", "", "", "2020-01-01"),
                (7, "n7", "Z", "", "2020-01-01"),
            ],
            "key long, narrative string, consent string, consent_old string,"
            " effective_date string",
        ),
        "effective_date",
    )
    incoming = _spark(t).createDataFrame(
        [
            (1, "nX", "No", 1),   # change: Yes -> No
            (2, "nY", "No", 2),   # no change (null-safe equal)
            (3, "n3x", "", 3),    # no change ('' == '')
            (4, "n4", "Yes", 4),  # fresh insert
            (5, "n5", "A", 5),    # fresh insert ...
            (5, "n5b", "B", 6),   # ... then in-batch change A -> B
            (6, "n6", "C", 7),    # fresh insert ...
            (6, "n6b", "C", 8),   # ... in-batch duplicate, no change
        ],
        "key long, narrative string, consent string, seq long",
    )
    out = scd.scd3_apply(
        dim,
        incoming,
        ["key"],
        tracked_col="consent",
        as_of=AS_OF,
        order_col="seq",
        old_col="consent_old",
        effective_col="effective_date",
    )
    return _stringify_dates(out, "effective_date").orderBy("key")


SCD3_APPLY_ORACLE = """
SELECT * FROM (VALUES
  (1, 'n1', 'No',  'Yes', '2024-06-01'),
  (2, 'n2', 'No',  '',    '2020-01-01'),
  (3, 'n3', '',    '',    '2020-01-01'),
  (4, 'n4', 'Yes', '',    '2024-06-01'),
  (5, 'n5', 'B',   'A',   '2024-06-01'),
  (6, 'n6', 'C',   '',    '2024-06-01'),
  (7, 'n7', 'Z',   '',    '2020-01-01')
) AS t(key, narrative, consent, consent_old, effective_date)
ORDER BY key
"""
