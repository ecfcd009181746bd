"""Seeded input generator for the benchmark.

Writes the ten-table layout the registry queries read (one
``<table>.parquet`` per table, the schema of the repository's sf test
tables, see ``TESTDATA.md``), so
every ``registry.queries()[name](spark, sf_dir)`` runs unchanged on it.
The columns follow the same independent uniform draws as those
tables; only the sizes, the seed and two workload knobs differ:

- ``dup_share``: the share of documents that are edited copies of
  another document (near-duplicates), placed at seeded positions;
- landing files and SCD change batches for the ETL part of
  ``batch_pipeline`` (:func:`write_landing`).

Everything is a pure function of the seed: the same seed writes the same
bytes. ``manifest.json`` records the seed and every table's row count.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.orc as orc
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMBED_DIM = 64


def sizes(scale: float, docs: int, vectors: int) -> dict[str, int]:
    """Row counts at ``scale`` (1.0 = the sf1 shape)."""
    return {
        "region": 5,
        "nation": 25,
        "customer": max(50, int(150_000 * scale)),
        "supplier": max(10, int(10_000 * scale)),
        "part": max(100, int(200_000 * scale)),
        "orders": max(500, int(1_500_000 * scale)),
        "lineitem": max(2_000, int(6_000_000 * scale)),
        "events": max(500, int(1_000_000 * scale)),
        "documents": docs,
        "embeddings": vectors,
    }


def _days(rng, n, start: str, end: str) -> np.ndarray:
    lo = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - lo).astype(int)
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng, n, lo, hi) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def make_tables(seed: int, scale: float, docs: int, vectors: int, dup_share: float = 0.0):
    """Return {table: pyarrow.Table} for one seed."""
    rng = np.random.default_rng(seed)
    n = sizes(scale, docs, vectors)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), i32), "r_name": pa.array(REGIONS, s)}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": pa.array([f"NATION_{k}" for k in range(25)], s),
            "n_regionkey": pa.array([k % 5 for k in range(25)], i32),
        }
    )
    nc = n["customer"]
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc), i64),
            "c_name": pa.array([f"Customer#{k:09d}" for k in range(nc)], s),
            "c_nationkey": pa.array(rng.integers(0, 25, nc), i32),
            "c_acctbal": pa.array(_money(rng, nc, -999.99, 9999.99), f64),
            "c_mktsegment": pa.array(rng.choice(SEGMENTS, nc), s),
        }
    )
    ns = n["supplier"]
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns), i64),
            "s_name": pa.array([f"Supplier#{k:09d}" for k in range(ns)], s),
            "s_nationkey": pa.array(rng.integers(0, 25, ns), i32),
            "s_acctbal": pa.array(_money(rng, ns, -999.99, 9999.99), f64),
        }
    )
    npart = n["part"]
    names = [
        f"{a} {b}"
        for a, b in zip(rng.choice(PART_ADJ, npart), rng.choice(PART_NOUN, npart))
    ]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(npart), i64),
            "p_name": pa.array(names, s),
            "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, npart)], s),
            "p_type": pa.array(rng.choice(PART_TYPES, npart), s),
            "p_size": pa.array(rng.integers(1, 51, npart), i32),
            "p_retailprice": pa.array(
                np.round(900 + (np.arange(npart) % 1000) / 10, 1), f64
            ),
        }
    )
    no = n["orders"]
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no), i64),
            "o_custkey": pa.array(rng.integers(0, nc, no), i64),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], no), s),
            "o_totalprice": pa.array(_money(rng, no, 1000, 500_000), f64),
            "o_orderdate": pa.array(_days(rng, no, "1995-01-01", "2001-08-01"), ts),
            "o_orderpriority": pa.array(rng.choice(PRIORITIES, no), s),
        }
    )
    nl = n["lineitem"]
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, no, nl), i64),
            "l_partkey": pa.array(rng.integers(0, npart, nl), i64),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), i32),
            "l_quantity": pa.array(rng.integers(1, 51, nl).astype(float), f64),
            "l_extendedprice": pa.array(_money(rng, nl, 900, 105_000), f64),
            "l_discount": pa.array(np.round(rng.uniform(0, 0.1, nl), 2), f64),
            "l_tax": pa.array(np.round(rng.uniform(0, 0.08, nl), 2), f64),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], nl), s),
            "l_linestatus": pa.array(rng.choice(["F", "O"], nl), s),
            "l_shipdate": pa.array(_days(rng, nl, "1995-01-02", "2001-11-04"), ts),
        }
    )
    ne = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, ne))
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne), i64),
            "ts": pa.array(start + offs.astype("timedelta64[us]"), ts),
            "user_id": pa.array(rng.integers(0, max(10, ne // 67), ne), i64),
            "event_type": pa.array(rng.choice(EVENT_TYPES, ne), s),
            "value": pa.array(np.round(rng.exponential(50, ne), 2), f64),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)], s),
        }
    )
    t["documents"] = _documents(rng, n["documents"], dup_share)
    nv = n["embeddings"]
    vec = rng.standard_normal((nv, EMBED_DIM)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(nv), i64),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, nv), i32),
        }
    )
    return t


def _documents(rng, nd: int, dup_share: float) -> pa.Table:
    """Random-word documents; ``dup_share`` of them (at seeded positions)
    are copies of an earlier original with ~5% of the words edited."""
    texts: list[str] = []
    n_dups = int(round(nd * dup_share))
    dup_pos = set(rng.choice(np.arange(1, nd), n_dups, replace=False).tolist()) if n_dups else set()
    for i in range(nd):
        if i in dup_pos:
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.choice(len(words), max(1, len(words) // 20), replace=False):
                words[j] = WORDS[int(rng.integers(0, len(WORDS)))]
        else:
            words = [WORDS[k] for k in rng.integers(0, len(WORDS), int(rng.integers(10, 101)))]
            if rng.random() < 0.05:
                words.append("dup")
        texts.append(" ".join(words))
    s = pa.string()
    return pa.table(
        {
            "doc_id": pa.array(np.arange(nd), pa.int64()),
            "text": pa.array(texts, s),
            "lang": pa.array(rng.choice(LANGS, nd, p=LANG_P), s),
            "source": pa.array([f"src{i % 20}" for i in range(nd)], s),
            "n_chars": pa.array([len(x) for x in texts], pa.int64()),
        }
    )


def write_tables(out_dir: str, tables: dict[str, pa.Table], seed: int, **knobs) -> dict:
    os.makedirs(out_dir, exist_ok=True)
    for name, tab in tables.items():
        pq.write_table(tab, os.path.join(out_dir, f"{name}.parquet"))
    manifest = {
        "seed": seed,
        **knobs,
        "rows": {name: tab.num_rows for name, tab in tables.items()},
    }
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1)
    return manifest


# ---------------------------------------------------------------------------
# batch_pipeline: landing files and SCD change batches

SCD_BATCHES = 2


def write_landing(out_dir: str, tables: dict[str, pa.Table], seed: int, batch_rows: int) -> dict:
    """Write the landing zone the ETL pipeline ingests: orders as CSV,
    customers as JSONL, parts as ORC, suppliers as XML, line items as
    parquet; then ``SCD_BATCHES`` seeded customer change batches
    (``c_custkey, c_mktsegment, c_acctbal, seq``) with repeated keys
    inside a batch and a few brand-new keys, one parquet file each."""
    rng = np.random.default_rng(seed + 7919)
    os.makedirs(out_dir, exist_ok=True)
    orders = tables["orders"].to_pandas()
    orders["o_orderdate"] = orders["o_orderdate"].dt.strftime("%Y-%m-%d %H:%M:%S")
    os.makedirs(f"{out_dir}/orders_csv")
    orders.to_csv(f"{out_dir}/orders_csv/part-0.csv", index=False)
    os.makedirs(f"{out_dir}/customer_jsonl")
    tables["customer"].to_pandas().to_json(
        f"{out_dir}/customer_jsonl/part-0.json", orient="records", lines=True
    )
    os.makedirs(f"{out_dir}/part_orc")
    orc.write_table(tables["part"], f"{out_dir}/part_orc/part-0.orc")
    os.makedirs(f"{out_dir}/supplier_xml")
    with open(f"{out_dir}/supplier_xml/part-0.xml", "w") as f:
        f.write("<rows>\n")
        for r in tables["supplier"].to_pylist():
            f.write(
                f"<row><s_suppkey>{r['s_suppkey']}</s_suppkey><s_name>{r['s_name']}</s_name>"
                f"<s_nationkey>{r['s_nationkey']}</s_nationkey>"
                f"<s_acctbal>{r['s_acctbal']}</s_acctbal></row>\n"
            )
        f.write("</rows>\n")
    os.makedirs(f"{out_dir}/lineitem_parquet")
    pq.write_table(tables["lineitem"], f"{out_dir}/lineitem_parquet/part-0.parquet")

    nc = tables["customer"].num_rows
    seq = 0
    batches = []
    for b in range(SCD_BATCHES):
        keys = rng.integers(0, nc, batch_rows)
        keys[: batch_rows // 10] = nc + rng.integers(0, batch_rows, batch_rows // 10)
        seqs = np.arange(seq, seq + batch_rows)
        seq += batch_rows
        batch = pa.table(
            {
                "c_custkey": pa.array(keys, pa.int64()),
                "c_mktsegment": pa.array(rng.choice(SEGMENTS, batch_rows), pa.string()),
                "c_acctbal": pa.array(_money(rng, batch_rows, -999.99, 9999.99), pa.float64()),
                "seq": pa.array(seqs, pa.int64()),
            }
        )
        path = f"{out_dir}/scd_batches/batch-{b:03d}.parquet"
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(batch, path)
        batches.append(path)
    return {"scd_batches": batches, "scd_batch_rows": batch_rows}
