"""The benchmark's workloads: each is a list of operations plus the
check of every operation's output.

An operation runs through the program's public entry points only: the
registry's ``(spark, sf_dir)`` queries, the ``sources`` readers and
``WarehouseCatalog``, ``plans.warehouse``/``plans.scd`` and the
``streaming`` sinks. Its timed action returns what a user gets: the
collected result rows, or for the ETL steps the rows written.
Checks run after the timed region on those same results.
"""

from __future__ import annotations

import os
import random
import threading
from dataclasses import dataclass, field
from typing import Any, Callable

import pandas as pd

from data_warehouse_implementation_spark import registry, streaming
from data_warehouse_implementation_spark.plans import scd, warehouse
from data_warehouse_implementation_spark.sources import csvio, jsonio, orcio, xmlio
from data_warehouse_implementation_spark.sources.catalog import WarehouseCatalog
from tests.oracle_utils import duckdb_conn, normalize


@dataclass
class Ctx:
    """What the operations of one run share."""

    spark: Any
    tracer: Any
    data_dir: str  # the timed ten-table input
    landing: dict = field(default_factory=dict)
    catalog: WarehouseCatalog | None = None
    stream_queries: list = field(default_factory=list)
    frames: dict = field(default_factory=dict)  # op id -> collected DataFrames (traced)
    _oracle: dict = field(default_factory=dict)
    _locks: dict = field(default_factory=dict)

    def collect(self, df) -> pd.DataFrame:
        """The timed action of a query: every result row, as pandas."""
        if self.tracer.enabled:
            self.frames.setdefault(self.tracer.current_op(), []).append(df)
        with self.tracer.span("exec", "toPandas"):
            return df.toPandas()

    def oracle(self, name: str, sql: str) -> pd.DataFrame:
        """The oracle's normalized result, computed once per query even
        when checks run on two threads."""
        with self._locks.setdefault(name, threading.Lock()):
            if name not in self._oracle:
                con = duckdb_conn(self.data_dir)
                try:
                    self._oracle[name] = normalize(con.execute(sql).fetchdf())
                finally:
                    con.close()
        return self._oracle[name]


@dataclass
class Op:
    name: str
    run: Callable[[Ctx], Any]
    check: Callable[[Ctx, Any], None]


class Mismatch(AssertionError):
    pass


def compare(name: str, got: pd.DataFrame, want: pd.DataFrame) -> None:
    """The oracle comparison of ``tests/oracle_utils.py``: sorted
    columns, row count, dtypes, then order-insensitive exact values.
    ``want`` is already normalized."""
    got = normalize(got)
    if list(got.columns) != list(want.columns):
        raise Mismatch(f"{name}: columns {list(got.columns)} vs {list(want.columns)}")
    if len(got) != len(want):
        raise Mismatch(f"{name}: {len(got)} rows vs {len(want)}")
    if list(got.dtypes) != list(want.dtypes):
        raise Mismatch(f"{name}: dtypes {dict(got.dtypes)} vs {dict(want.dtypes)}")
    pd.testing.assert_frame_equal(got, want, check_exact=True, check_dtype=False, obj=name)


# ---------------------------------------------------------------------------
# registry-query operations


def registry_op(name: str) -> Op:
    query = registry.queries()[name]
    sql = registry.oracle_sql()[name]

    def run(ctx: Ctx) -> pd.DataFrame:
        with ctx.tracer.span("plans", f"registry.{name}"):
            df = query(ctx.spark, ctx.data_dir)
        return ctx.collect(df)

    def check(ctx: Ctx, got: pd.DataFrame) -> None:
        compare(name, got, ctx.oracle(name, sql))

    return Op(name, run, check)


# ---------------------------------------------------------------------------
# batch_pipeline, ETL part: landing files -> catalog -> star -> SCD2
# stream -> integrity read-back

AS_OF = "2024-06-01"
SCD_KEYS = ["c_custkey"]
SCD_BATCH_SCHEMA = "c_custkey long, c_mktsegment string, c_acctbal double, seq long"
STAGED = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"]


def ddl_schema(tables, name: str) -> str:
    """Spark DDL for the landing file of table ``name``."""
    import pyarrow as pa

    ddl = {pa.int32(): "int", pa.int64(): "long", pa.float64(): "double", pa.string(): "string"}
    return ", ".join(
        f"{f.name} {ddl.get(f.type, 'timestamp')}" for f in tables[name].schema
    )


def _batches(ctx: Ctx):
    return [
        ctx.spark.read.schema(SCD_BATCH_SCHEMA).parquet(p) for p in ctx.landing["scd_batches"]
    ]


def _land(ctx: Ctx) -> None:
    """Read every landing file through ``sources`` and stage it."""
    spark, cat, land, schemas = ctx.spark, ctx.catalog, ctx.landing["dir"], ctx.landing["schemas"]
    frames = {
        "orders": csvio.read_csv(spark, f"{land}/orders_csv", schema=schemas["orders"]),
        "customer": jsonio.read_jsonl(spark, f"{land}/customer_jsonl", schema=schemas["customer"]),
        "part": orcio.read_orc(spark, f"{land}/part_orc"),
        "supplier": xmlio.read_xml(spark, f"{land}/supplier_xml", schema=schemas["supplier"]),
        "lineitem": spark.read.parquet(f"{land}/lineitem_parquet"),
        "region": spark.read.parquet(f"{ctx.data_dir}/region.parquet"),
        "nation": spark.read.parquet(f"{ctx.data_dir}/nation.parquet"),
    }
    for name, df in frames.items():
        cat.write(f"stg_{name}", df)


def _staged(ctx: Ctx) -> dict:
    return {name: ctx.catalog.table(f"stg_{name}") for name in STAGED}


def _publish(ctx: Ctx) -> None:
    warehouse.publish_warehouse(ctx.catalog, _staged(ctx))


def _customer_dim(ctx: Ctx):
    return ctx.catalog.table("stg_customer").select("c_custkey", "c_mktsegment", "c_acctbal")


def _scd2_initial(ctx: Ctx):
    from pyspark.sql import functions as F

    return (
        _customer_dim(ctx)
        .withColumn("start_date", F.lit("2020-01-01").cast("date"))
        .withColumn("end_date", F.lit(scd.SCD2_SENTINEL).cast("date"))
        .withColumn("active", F.lit(True))
    )


def _scd2_stream(ctx: Ctx) -> None:
    """The same SCD2 batches as micro-batches through the foreachBatch
    sink, one landing file per trigger."""
    cat = ctx.catalog
    cat.write("customer_scd2_stream", _scd2_initial(ctx))
    stream = (
        ctx.spark.readStream.schema(SCD_BATCH_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.dirname(ctx.landing["scd_batches"][0]))
    )
    q = streaming.incremental_scd2_sink(
        stream, cat, "customer_scd2_stream", SCD_KEYS, "seq", AS_OF,
        checkpoint=os.path.join(cat.root, "_ckpt_scd2"),
    )
    q.awaitTermination()
    ctx.stream_queries.append(q)


def _integrity(ctx: Ctx) -> pd.DataFrame:
    return ctx.collect(warehouse.integrity_report(_staged(ctx)))


# -- references for the SCD checks: the trigger semantics replayed row by
#    row in plain Python (``plans/scd.py`` documents them)


def _batch_rows(ctx: Ctx) -> list[dict]:
    import pyarrow.parquet as pq

    rows = []
    for p in ctx.landing["scd_batches"]:
        rows += sorted(pq.read_table(p).to_pylist(), key=lambda r: r["seq"])
    return rows


def _ref_scd2(base: pd.DataFrame, rows) -> pd.DataFrame:
    import datetime as dt

    as_of, start0 = dt.date.fromisoformat(AS_OF), dt.date(2020, 1, 1)
    end0 = dt.date.fromisoformat(scd.SCD2_SENTINEL)
    versions: dict[int, list[list]] = {}
    for r in base.itertuples():
        versions[r.c_custkey] = [[r.c_custkey, r.c_mktsegment, r.c_acctbal, start0, end0, True]]
    for r in rows:
        hist = versions.setdefault(r["c_custkey"], [])
        for v in hist:  # the trigger re-closes every version of the key
            v[4], v[5] = as_of, False
        hist.append([r["c_custkey"], r["c_mktsegment"], r["c_acctbal"], as_of, end0, True])
    return pd.DataFrame(
        [v for hist in versions.values() for v in hist],
        columns=["c_custkey", "c_mktsegment", "c_acctbal", "start_date", "end_date", "active"],
    )


def _table_pdf(ctx: Ctx, name: str) -> pd.DataFrame:
    return ctx.catalog.table(name).toPandas()


def _check_scd2_stream(ctx: Ctx, _result) -> None:
    want = normalize(_ref_scd2(_customer_dim(ctx).toPandas(), _batch_rows(ctx)))
    compare("customer_scd2_stream", _table_pdf(ctx, "customer_scd2_stream"), want)


def parquet_rows(path: str) -> int:
    """Rows in the parquet part files under ``path``, read from footers."""
    import pyarrow.parquet as pq

    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            if f.startswith("part-") and f.endswith(".parquet"):
                total += pq.ParquetFile(os.path.join(d, f)).metadata.num_rows
    return total


def _check_land(ctx: Ctx, _result) -> None:
    want = ctx.landing["rows"]
    for name in STAGED:
        got = parquet_rows(ctx.catalog.path(f"stg_{name}"))
        if got != want[name]:
            raise Mismatch(f"stg_{name}: {got} rows staged vs {want[name]} landed")


def _check_publish(ctx: Ctx, _result) -> None:
    fact = _table_pdf(ctx, "lineitem_fact").drop(columns=["order_month"])
    compare("lineitem_fact", fact, ctx.oracle("warehouse_fact_build", warehouse.WAREHOUSE_FACT_BUILD_ORACLE))
    compare(
        "category_dim",
        _table_pdf(ctx, "category_dim"),
        ctx.oracle("warehouse_dim_build", warehouse.WAREHOUSE_DIM_BUILD_ORACLE),
    )


def _check_integrity(ctx: Ctx, got: pd.DataFrame) -> None:
    compare("integrity_report", got, ctx.oracle("integrity_report", warehouse.INTEGRITY_REPORT_ORACLE))


WAREHOUSE_OPS = [
    Op("land", _land, _check_land),
    Op("publish_warehouse", _publish, _check_publish),
    Op("scd2_stream", _scd2_stream, _check_scd2_stream),
    Op("integrity_report", _integrity, _check_integrity),
]


# ---------------------------------------------------------------------------
# workload table


@dataclass
class Workload:
    name: str
    ops: Callable[[], list[Op]]
    #: each client's operation indices for one pass, from (seed, ops)
    orders: Callable[[int, list[Op]], list[list[int]]]
    scale: float  # table sizes relative to sf1 (gen.sizes)
    docs: int
    vectors: int
    dup_share: float = 0.0
    #: rows per SCD change batch; a workload with batches also gets
    #: landing files and a fresh catalog root per pass
    scd_batch_rows: int = 0


def permuted(clients: int):
    """Every client runs the whole list, each in its own seeded order."""

    def orders(seed: int, ops: list[Op]) -> list[list[int]]:
        out = []
        for c in range(clients):
            order = list(range(len(ops)))
            random.Random(seed * 1000 + c).shuffle(order)
            out.append(order)
        return out

    return orders


def branches(*lists: list[str]):
    """One client per named branch, running its operations in order."""

    def orders(seed: int, ops: list[Op]) -> list[list[int]]:
        index = {op.name: i for i, op in enumerate(ops)}
        return [[index[n] for n in names] for names in lists]

    return orders


#: Star-schema queries: the head of the registry's analytics, sql_api and
#: timeseries_queries families, minus the three whose plans run for
#: seconds (drilldown_report, user_sketch_distinct, events_funnel), so
#: that every query is interactive-sized.
ANALYST = [
    "timely_rank_report",
    "multikey_category_join",
    "brand_fuzzy_match",
    "brand_median_price",
    "calendar_dim",
    "companies_of_interest",
    "disputed_rank_report",
    "late_order_exists_sql",
    "local_supplier_volume_sql",
    "market_share_sql",
    "pricing_summary_sql",
    "priority_status_sets_sql",
    "shipping_priority_sql",
    "small_qty_revenue_sql",
    "events_asof_join",
    "events_daily_delta",
    "nation_revenue_share",
    "nation_top_customer_list",
    "order_cube",
    "price_histogram",
]
#: The corpus branches of ``batch_pipeline``. Curation: exact and SimHash
#: near-dup, language and quality scoring, IVF search, BM25, a
#: file-compaction plan (the ``layout`` operators).
CURATION = [
    "exact_dedup_docs",
    "simhash_near_dup",
    "doc_language_id",
    "doc_quality_score",
    "embedding_ann_ivf",
    "doc_bm25_topk",
    "compaction_plan",
]
#: Multi-round plans: label propagation, the hashed suffix array, BPE and
#: unigram training.
ROUNDS = [
    "purchase_graph_communities",
    "doc_substring_sa_hashed",
    "bpe_merges",
    "unigram_train",
]

ETL = [op.name for op in WAREHOUSE_OPS]

WORKLOADS = {
    w.name: w
    for w in [
        Workload(
            "analyst_sql",
            lambda: [registry_op(n) for n in ANALYST],
            permuted(2), scale=0.001, docs=500, vectors=500,
        ),
        # the ETL, curation and multi-round chains share no tables they
        # write, so they run as three concurrent branches of one batch pass
        Workload(
            "batch_pipeline",
            lambda: list(WAREHOUSE_OPS) + [registry_op(n) for n in CURATION + ROUNDS],
            branches(ETL, CURATION, ROUNDS), scale=0.002, docs=300, vectors=300, dup_share=0.2,
            scd_batch_rows=300,
        ),
    ]
}
