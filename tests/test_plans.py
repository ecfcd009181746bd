"""Physical-plan assertions — the scale contract, checked in CI.

Correctness tests prove the numbers; these prove the *plans* are the
ones a 1000-executor cluster wants: dims broadcast (no shuffle of the
fact side), predicates and projections pushed into the parquet scan,
bucketed co-located joins with zero Exchange, and partition pruning on
partitioned fact tables. A regression here is invisible at sf0.01 and
fatal at 100 TB, so it's pinned by test, not by eyeball.
"""

from __future__ import annotations

import io
import os
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F

from data_warehouse_implementation_spark import registry
from data_warehouse_implementation_spark.session import load_tables
from data_warehouse_implementation_spark.sources.catalog import WarehouseCatalog

SF = "/root/testdata/sf0.001"


def plan_of(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def test_star_join_broadcasts_dims_no_sort_merge(spark):
    """Fact-to-dim star joins must be broadcast hash joins: the fact
    side never shuffles for a dim lookup (reference's b-tree fact
    indexes, re-expressed as S10 broadcast mapping)."""
    df = registry.queries()["timely_rank_report"](spark, SF)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_predicate_and_projection_pushed_to_scan(spark):
    """Date-range predicate must reach the parquet reader as
    PushedFilters, and the scan must read only referenced columns."""
    t = load_tables(spark, SF)
    df = (
        t["orders"]
        .filter(F.col("o_orderdate") >= F.lit("1997-01-01").cast("date"))
        .select("o_orderkey", "o_orderdate")
    )
    plan = plan_of(df)
    assert "PushedFilters" in plan
    assert "o_orderdate" in plan.split("PushedFilters")[1].splitlines()[0]
    read_schema = plan.split("ReadSchema")[1].splitlines()[0]
    assert "o_orderkey" in read_schema and "o_orderdate" in read_schema
    assert "o_totalprice" not in read_schema  # untouched columns pruned


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Two tables bucketed on the join key co-locate: the join runs
    with ZERO Exchange nodes — the 100 TB answer to repeated big-big
    joins on the same key (bucket once, join shuffle-free forever)."""
    t = load_tables(spark, SF)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        for name, df, key in (
            ("b_orders", t["orders"], "o_custkey"),
            ("b_customer", t["customer"], "c_custkey"),
        ):
            (
                df.write.mode("overwrite")
                .bucketBy(8, key)
                .sortBy(key)
                .option("path", os.path.join(str(tmp_path), name))
                .saveAsTable(name)
            )
        joined = spark.table("b_orders").join(
            spark.table("b_customer"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        plan = plan_of(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_customer")


def test_partitioned_fact_write_prunes_partitions(spark, tmp_path):
    """A fact table written partitionBy(year) must show PartitionFilters
    (not a full scan) when filtered on the partition column."""
    t = load_tables(spark, SF)
    cat = WarehouseCatalog(spark, str(tmp_path))
    cat.write(
        "orders_by_year",
        t["orders"].withColumn("o_year", F.year("o_orderdate")),
        partition_by=["o_year"],
    )
    df = cat.table("orders_by_year").filter(F.col("o_year") == 1995)
    plan = plan_of(df)
    assert "PartitionFilters" in plan
    part_filters = plan.split("PartitionFilters")[1].splitlines()[0]
    assert "o_year" in part_filters
    assert df.count() > 0


@pytest.mark.parametrize(
    "name",
    ["preaggregate", "salted_skew_agg", "event_user_distinct"],
)
def test_aggregations_have_partial_map_side_combine(spark, name):
    """Hash aggregations must run partial (map-side combine) before the
    shuffle — the plan shows >= 2 HashAggregate levels, so only partial
    rows cross the wire at scale."""
    df = registry.queries()[name](spark, SF)
    plan = plan_of(df)
    assert plan.count("HashAggregate") >= 2


def test_whole_stage_codegen_covers_core_query(spark):
    """The flagship ranked-ratio query must stay inside whole-stage
    codegen (no Python-UDF BatchEvalPython breaks in the hot path)."""
    df = registry.queries()["timely_rank_report"](spark, SF)
    df.collect()  # finalize the AQE plan so codegen spans are visible
    plan = plan_of(df)
    assert "isFinalPlan=true" in plan
    assert "codegen id :" in plan  # whole-stage codegen spans present
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_materialize_get_or_build_semantics(spark, tmp_path, monkeypatch):
    """The session cache's contract: builder runs ONCE per (name,
    sf_dir) with the build recorded in BUILD_LOG; a different sf_dir is
    a different entry; corpus_scale entries stage to parquet when
    SPARK_GRAFT_STAGE_DIR is set (and reread from disk, not memory)."""
    import os

    from pyspark.sql import functions as F

    from data_warehouse_implementation_spark.plans import materialize

    materialize.clear()
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.range(10).select(F.col("id").alias("v"))

    log_before = len(materialize.BUILD_LOG)
    a = materialize.get_or_build("unit_cache", "sfA", build)
    b = materialize.get_or_build("unit_cache", "sfA", build)
    assert calls["n"] == 1, "builder re-ran for a cached entry"
    assert a is b
    assert materialize.BUILD_LOG[log_before:] == ["unit_cache"]
    c = materialize.get_or_build("unit_cache", "sfB", build)
    assert calls["n"] == 2 and c is not a
    assert materialize.BUILD_LOG[log_before:] == ["unit_cache", "unit_cache"]

    # staging mode: corpus-scale entries land on disk
    stage = str(tmp_path / "stage")
    os.makedirs(stage, exist_ok=True)
    monkeypatch.setenv("SPARK_GRAFT_STAGE_DIR", stage)
    d = materialize.get_or_build("unit_stage", "sfA", build, corpus_scale=True)
    assert d.count() == 10
    staged = [p for p in os.listdir(stage) if p.startswith("unit_stage")]
    assert staged, "corpus-scale entry not staged to parquet"
    # a second session-cache call serves the same frame without rebuild
    n_before = calls["n"]
    materialize.get_or_build("unit_stage", "sfA", build, corpus_scale=True)
    assert calls["n"] == n_before
    # ADVICE r9: a staging table persisted by a PREVIOUS session is a
    # REUSE, not a build — dropping the memory entry (what a new
    # session sees) and re-opening must neither re-run the builder nor
    # append a phantom ~0s row to BUILD_LOG/BUILD_SECONDS
    materialize._CACHE.pop(("unit_stage", "sfA"), None)
    log_n, sec_n = len(materialize.BUILD_LOG), len(materialize.BUILD_SECONDS)
    reopened = materialize.get_or_build("unit_stage", "sfA", build, corpus_scale=True)
    assert reopened.count() == 10
    assert calls["n"] == n_before
    assert len(materialize.BUILD_LOG) == log_n
    assert len(materialize.BUILD_SECONDS) == sec_n
    materialize.clear()


def test_materialize_build_seconds_nesting_exclusive(spark):
    """BUILD_SECONDS is lockstep with BUILD_LOG and EXCLUSIVE of nested
    child builds — the property the bench's net-of-build per-query
    timings (and cache_build_seconds attribution) rest on: a parent
    cache whose builder sleeps 0.2s and triggers a 0.4s-sleeping child
    must be charged ~0.2s, with the 0.4s on the child's own row."""
    import time

    from pyspark.sql import functions as F

    from data_warehouse_implementation_spark.plans import materialize

    materialize.clear()

    def child():
        time.sleep(0.4)
        return spark.range(5).select(F.col("id").alias("v"))

    def parent():
        time.sleep(0.2)
        inner = materialize.get_or_build("unit_nest_child", "sfN", child)
        return inner.select((F.col("v") * 2).alias("w"))

    log_before = len(materialize.BUILD_LOG)
    t0 = time.perf_counter()
    materialize.get_or_build("unit_nest_parent", "sfN", parent)
    wall = time.perf_counter() - t0
    built = dict(
        zip(
            materialize.BUILD_LOG[log_before:],
            materialize.BUILD_SECONDS[log_before:],
        )
    )
    assert set(built) == {"unit_nest_parent", "unit_nest_child"}
    assert built["unit_nest_child"] >= 0.4
    # exclusive decomposition: the parent is charged the wall time MINUS
    # the child's inclusive time, so the child's 0.4s sleep never
    # double-counts (a small epsilon absorbs rounding to 3 decimals)
    assert built["unit_nest_parent"] >= 0.2
    assert built["unit_nest_parent"] <= wall - built["unit_nest_child"] + 0.01
    # lockstep invariant over the whole process history
    assert len(materialize.BUILD_LOG) == len(materialize.BUILD_SECONDS)
    materialize.clear()


def test_registry_queries_run_on_thread_without_active_session(spark):
    """Plan code takes its session from the input frames, never from
    the calling thread's active session: a plain worker thread (no
    active session set) must produce the same rows as the main
    thread for the queries that build literal frames or a calendar."""
    import threading

    names = [
        "calendar_dim",
        "shipments_by_quarter",
        "scd1_upsert_batch",
        "insert_if_absent_batch",
        "scd2_apply_batch",
        "scd3_apply_batch",
    ]
    got: dict[str, object] = {}

    def work() -> None:
        for name in names:
            try:
                got[name] = registry.queries()[name](spark, SF).collect()
            except Exception as exc:  # surfaced by the assert below
                got[name] = exc

    worker = threading.Thread(target=work)
    worker.start()
    worker.join()
    for name in names:
        assert not isinstance(got[name], Exception), (name, got[name])
        assert got[name] == registry.queries()[name](spark, SF).collect(), name
