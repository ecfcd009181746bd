"""Dump CHECKPOINT-STRIPPED single-round physical plans for the
iterative builds (optimization evidence — the registered queries' final
plans are checkpoint-truncated to Scan ExistingRDD leaves, so build
structure is invisible there; same supplementary-evidence pattern as
plans/r15/purchase_graph_pagerank_round_before_shape.txt).

Monkeypatches DataFrame.localCheckpoint to identity for the dump only,
then drives the REAL library code paths (suffix._dense_rank /
dedup.connected_components), so the dumped shape is the committed
code's round shape, not a hand-assembled replica.

Usage: python tools/dump_round_shapes.py <tag>   # writes plans/r16/*_<tag>.txt
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

OUT_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "r16"
)


def _formatted(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def main() -> int:
    tag = sys.argv[1]
    from data_warehouse_implementation_spark.operators import suffix
    from data_warehouse_implementation_spark.session import get_spark, load_tables

    # strip every checkpoint barrier so the full round lineage prints
    # (patch the CLASSIC class — instances override the base class's
    # method in Spark 4, so patching pyspark.sql.DataFrame is a no-op)
    import pyspark.sql.classic.dataframe as _cdf

    _real_ckpt = _cdf.DataFrame.localCheckpoint
    _cdf.DataFrame.localCheckpoint = lambda self, eager=True: self  # type: ignore
    # the real method stays reachable for eager INPUT materialization
    _cdf.DataFrame._real_localCheckpoint = _real_ckpt  # type: ignore

    spark = get_spark(app_name="round-shapes")
    spark.sparkContext.setLogLevel("ERROR")
    t = load_tables(spark, "/root/testdata/sf0.001")
    docs = t["documents"]
    os.makedirs(OUT_DIR, exist_ok=True)

    only = set(sys.argv[2:])  # optional name filter: dump just these

    def dump(name: str, header: str, df: DataFrame) -> None:
        if only and name not in only:
            return
        plan = _formatted(df)
        path = os.path.join(OUT_DIR, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(header.rstrip() + "\n\n" + plan)
        shuffles = (
            plan.count("Exchange")
            - plan.count("BroadcastExchange")
            - plan.count("ReusedExchange")
        )
        print(f"# {name}: {shuffles} shuffle exchanges -> {path}")

    # --- ONE prefix-doubling round (hashed round-0 feeds round 1),
    # over an EAGERLY checkpointed round input (Scan ExistingRDD leaf,
    # exactly what every real round consumes); the round's own internal
    # checkpoints are stripped so the full rank machinery prints — in
    # the committed code a deferred checkpoint dedupes the window
    # subtree the counts branch re-evaluates in this stripped plan.
    r0 = (
        suffix.token_positions(docs)
        .select(
            "d", "n", "p",
            (F.pmod(F.xxhash64("tok"), F.lit(suffix.HASH_P63)) + 1).alias("r"),
        )
        ._real_localCheckpoint()
    )
    from pyspark.sql import Window

    w_doc = Window.partitionBy("d").orderBy("p")
    paired = r0.select(
        "d", "n", "p", "r",
        F.coalesce(F.lead("r", 1).over(w_doc), F.lit(0)).alias("r2"),
    )
    w_hash = suffix.HASH_P63 // 65536 + 1
    try:
        round1 = suffix._dense_rank(
            paired, ["r", "r2"], "srnk",
            bucket=F.floor((F.col("r") - 1) / F.lit(w_hash)),
        )
    except TypeError:  # pre-r16 signature (no bucket forwarding)
        round1 = suffix._dense_rank(paired, ["r", "r2"], "srnk")
    dump(
        "sa_doubling_round_shape",
        "ONE prefix-doubling round (hashed mode, round 1) over an "
        "eagerly-checkpointed round input: lead-window pairing + global "
        "dense rank, internal checkpoints stripped so the full rank "
        "machinery prints (the committed code's deferred checkpoint "
        "dedupes any window subtree that appears twice here).",
        round1.select("d", "n", "p", F.col("srnk").alias("r")),
    )

    # --- round 0, rank mode: the token rank that seeds the doubling.
    # Mirrors the installed code's construction (corpus-direct before
    # r16; distinct-vocab + broadcast join-back after), selected by
    # inspecting the installed source so one script dumps an honest
    # before AND after across a stash.
    import inspect

    pos_ck = suffix.token_positions(docs)._real_localCheckpoint()
    vocab_mode = "distinct()" in inspect.getsource(suffix.suffix_dup_lengths)
    if vocab_mode:
        vocab = suffix._dense_rank(pos_ck.select("tok").distinct(), ["tok"], "r")
        r0_rank = pos_ck.join(F.broadcast(vocab), on="tok").select("d", "n", "p", "r")
    else:
        r0_rank = suffix._dense_rank(pos_ck, ["tok"], "r").select("d", "n", "p", "r")
    dump(
        "sa_round0_rank_shape",
        "Rank-mode round 0 (token rank) over the checkpointed "
        f"token-position frame (vocab mode: {vocab_mode}) — shows "
        "whether the corpus-scale frame itself shuffles on the token "
        "string or only the distinct vocabulary does, with the "
        "positions attaching by broadcast join.",
        r0_rank,
    )

    # --- ONE connected-components round, over REAL (eager) checkpoints
    # so the leaves are Scan ExistingRDD with planner-opaque stats —
    # exactly the state every real round sees; the round body below
    # mirrors dedup.connected_components verbatim (node state broadcast).
    _cdf.DataFrame.localCheckpoint = _real_ckpt  # restore the real method
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "doc_a long, doc_b long"
    )
    sym = (
        edges.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(
            edges.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
        )
        .localCheckpoint()
    )
    labels = (
        sym.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint()
    )
    neighbor_min = (
        sym.join(F.broadcast(labels), sym.dst == labels.id)
        .groupBy("src")
        .agg(F.min("label").alias("_nbr"))
    )
    parent = labels.select(F.col("id").alias("_pid"), F.col("label").alias("_plabel"))
    new_labels = (
        labels.join(F.broadcast(neighbor_min), labels.id == neighbor_min.src, "left")
        .join(F.broadcast(parent), labels.label == F.col("_pid"), "left")
        .select(
            "id",
            F.least(
                F.col("label"),
                F.coalesce(F.col("_nbr"), F.col("label")),
                F.coalesce(F.col("_plabel"), F.col("label")),
            ).alias("label"),
        )
    )
    dump(
        "cc_round_shape",
        "ONE connected-components round (min-label propagation + "
        "pointer jumping) over eagerly-checkpointed sym/labels — the "
        "Scan ExistingRDD leaves have planner-opaque stats, exactly "
        "what every real round sees; round body mirrors "
        "dedup.connected_components.",
        new_labels,
    )

    # --- ONE h-index (k-core) round over the operator's own edge-list
    # materialization — shows whether the per-round aggregate
    # re-shuffles the doubled edge list or reuses its partitioning.
    from data_warehouse_implementation_spark.operators import graph

    src = inspect.getsource(graph.core_numbers)
    copart = ".cache()" in src
    edges_big = spark.range(200_000).select(
        (F.col("id") % 5000).alias("u"), ((F.col("id") * 7) % 5000 + 5000).alias("v")
    )
    doubled = edges_big.unionAll(edges_big.select(F.col("v").alias("u"), F.col("u").alias("v")))
    if copart:
        und = doubled.repartition("u").cache()
        und.count()
    else:
        und = doubled._real_localCheckpoint()
    state = spark.createDataFrame(
        [(i, 3) for i in range(100)], "v long, val long"
    )._real_localCheckpoint()
    nb = und.join(F.broadcast(state), on="v").select("u", "val")
    kround = nb.groupBy("u").agg(F.collect_list("val").alias("_vs"))
    dump(
        "kcore_round_shape",
        "ONE h-index round's neighbor aggregate over the operator's "
        f"edge-list materialization (co-partitioned cache: {copart}) — "
        "shows whether groupBy(u) re-shuffles the doubled edge list "
        "every round or reuses the one up-front hash partitioning.",
        kround,
    )

    # --- ONE label-propagation round (adopt + argmax window) over the
    # operator's own edge-list materialization — shows whether the
    # (dst, label) mass aggregate AND the per-dst argmax window each
    # re-shuffle per round or both reuse the one up-front hash
    # partitioning on _edst.
    lpa_copart = ".cache()" in inspect.getsource(graph.label_propagation)
    e_lpa = edges_big.select(
        F.col("u").alias("_esrc"), F.col("v").alias("_edst"), F.lit(1).alias("_w")
    )
    if lpa_copart:
        e_lpa = e_lpa.repartition(F.col("_edst")).cache()
        e_lpa.count()
    else:
        e_lpa = e_lpa._real_localCheckpoint()
    lstate = spark.createDataFrame(
        [(i, i) for i in range(100)], "node long, label long"
    )._real_localCheckpoint()
    from pyspark.sql import Window as _W

    w_pick = _W.partitionBy("_edst").orderBy(F.desc("_mass"), F.asc("label"))
    adopted = (
        e_lpa.join(F.broadcast(lstate), e_lpa._esrc == lstate.node)
        .groupBy("_edst", "label")
        .agg(F.sum("_w").alias("_mass"))
        .withColumn("_rn", F.row_number().over(w_pick))
        .filter(F.col("_rn") == 1)
        .select(F.col("_edst").alias("node"), F.col("label").alias("_new"))
    )
    dump(
        "lpa_round_shape",
        "ONE label-propagation round (mass aggregate + argmax window) "
        "over the operator's edge-list materialization (co-partitioned "
        f"cache: {lpa_copart}) — shows whether the (dst, label) "
        "aggregate and the per-dst window each re-shuffle the edge "
        "list every round or both reuse one up-front _edst hash "
        "partitioning.",
        adopted,
    )
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
