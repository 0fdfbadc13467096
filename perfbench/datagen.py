"""Seeded TPC-H-shaped input tables for the benchmark.

Writes the ten parquet tables the engine's graph view and registry
queries read (`region nation customer supplier part orders lineitem
events documents embeddings`), with the column names and arrow types of
the engine's test data, so `nebula_storage_spark.graph.tpch_graph` and
the registry queries run on them unchanged. The same `(sf, seed)` always
gives byte-identical tables; the benchmark passes only these files to
the program.

Keys are dense (`0..n-1`) and each order's line items carry line numbers
`1..k`, so `(l_orderkey, l_linenumber)` is unique and every
`ORDER BY ... LIMIT` an oracle runs has a total order. Money columns have
two decimals and `l_quantity` is integral, the properties the registry
queries' exact-arithmetic oracles rely on.

    python3 perfbench/datagen.py OUT_DIR --sf 0.1 --seed 7
"""

from __future__ import annotations

import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ADJECTIVES = ["small", "red", "blue", "hot", "old", "new", "cold", "large"]
NOUNS = ["ring", "widget", "bolt", "gear", "anvil", "rod", "plate", "gizmo"]
P_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
STATUSES = ["O", "F", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EVENT_TYPES = ["view", "click", "purchase", "error"]
WORDS = ("key agg row scan slow fast table value part hash merge batch "
         "window spark order data column join small line customer query "
         "big sort filter group stream the a").split()
LANGS = ["en", "de", "fr", "es"]
EMB_DIM = 64
ORDER_DAY0 = np.datetime64("1995-01-01", "us")


def table_sizes(sf: float) -> dict[str, int]:
    """Row counts per table at scale factor `sf` (lineitem is ~4x orders)."""
    return {
        "customer": max(int(150_000 * sf), 10),
        "supplier": max(int(10_000 * sf), 5),
        "part": max(int(200_000 * sf), 10),
        "orders": max(int(1_500_000 * sf), 10),
        "events": max(int(1_000_000 * sf), 10),
        "documents": max(int(50_000 * sf), 50),
        "embeddings": max(int(20_000 * sf), 500),
    }


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def _days(rng, n: int, span: int) -> np.ndarray:
    return ORDER_DAY0 + rng.integers(0, span, n).astype("timedelta64[D]")


def _pick(rng, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)],
                    pa.string())


def order_rows(rng, n: int, n_customers: int) -> dict[str, object]:
    """Columns of `n` orders; also the row generator the mutation
    workload uses for upsert values, so both share one distribution."""
    return {
        "o_custkey": rng.integers(0, n_customers, n),
        "o_orderstatus": np.asarray(STATUSES, dtype=object)[rng.integers(0, 3, n)],
        "o_totalprice": _money(rng, 900, 500_000, n),
        "o_orderdate": _days(rng, n, 2400),
        "o_orderpriority": np.asarray(PRIORITIES, dtype=object)[rng.integers(0, 5, n)],
    }


def build_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = table_sizes(sf)
    i32, i64, f64, ts = pa.int32(), pa.int64(), pa.float64(), pa.timestamp("us")
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": pa.array(REGIONS, pa.string())})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})

    nc = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, nc), i32),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc), f64),
        "c_mktsegment": _pick(rng, SEGMENTS, nc)})

    ns = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), i64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, ns), i32),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns), f64)})

    npart = n["part"]
    keys = np.arange(npart)
    names = np.char.add(np.char.add(
        np.asarray(ADJECTIVES)[rng.integers(0, len(ADJECTIVES), npart)], " "),
        np.asarray(NOUNS)[rng.integers(0, len(NOUNS), npart)])
    out["part"] = pa.table({
        "p_partkey": pa.array(keys, i64),
        "p_name": pa.array(names.astype(object), pa.string()),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, npart)],
                            pa.string()),
        "p_type": _pick(rng, P_TYPES, npart),
        "p_size": pa.array(rng.integers(1, 51, npart), i32),
        "p_retailprice": pa.array(np.round(900 + (keys % 1000) / 10.0, 1), f64)})

    no = n["orders"]
    o = order_rows(rng, no, nc)
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), i64),
        "o_custkey": pa.array(o["o_custkey"], i64),
        "o_orderstatus": pa.array(o["o_orderstatus"], pa.string()),
        "o_totalprice": pa.array(o["o_totalprice"], f64),
        "o_orderdate": pa.array(o["o_orderdate"], ts),
        "o_orderpriority": pa.array(o["o_orderpriority"], pa.string())})

    per_order = rng.integers(1, 8, no)
    nl = int(per_order.sum())
    starts = np.repeat(np.cumsum(per_order) - per_order, per_order)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(np.repeat(np.arange(no), per_order), i64),
        "l_partkey": pa.array(rng.integers(0, npart, nl), i64),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), i64),
        "l_linenumber": pa.array(np.arange(nl) - starts + 1, i32),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype(float), f64),
        "l_extendedprice": pa.array(_money(rng, 900, 105_000, nl), f64),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0, f64),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0, f64),
        "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
        "l_linestatus": _pick(rng, ["O", "F"], nl),
        "l_shipdate": pa.array(_days(rng, nl, 2500), ts)})

    ne = n["events"]
    gaps = rng.integers(1, 400_000_000, ne)
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), i64),
        "ts": pa.array(np.datetime64("2024-01-01", "us")
                       + np.cumsum(gaps).astype("timedelta64[us]"), ts),
        "user_id": pa.array(rng.integers(0, max(ne // 100, 10), ne), i64),
        "event_type": _pick(rng, EVENT_TYPES, ne),
        "value": pa.array(_money(rng, 0, 100, ne), f64),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
                          pa.string())})

    nd = n["documents"]
    texts: list[str] = []
    for i in range(nd):
        if i >= 10 and rng.random() < 0.1:
            # near-duplicate of an earlier document: a few words swapped,
            # so the MinHash/LSH dedup queries have pairs to find
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), 2):
                words[j] = WORDS[int(rng.integers(0, len(WORDS)))]
        else:
            words = [WORDS[k] for k in rng.integers(0, len(WORDS),
                                                    int(rng.integers(20, 80)))]
        texts.append(" ".join(words))
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(nd), i64),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, LANGS, nd),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 10, nd)],
                           pa.string()),
        "n_chars": pa.array([len(t) for t in texts], i64)})

    nv = n["embeddings"]
    centers = rng.normal(0.0, 1.0, (4, EMB_DIM))
    labels = rng.integers(0, 4, nv)
    vecs = (centers[labels] + rng.normal(0.0, 0.6, (nv, EMB_DIM))) / 8.0
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv), i64),
        "embedding": pa.array(list(vecs.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": pa.array(labels, i32)})
    return out


def write_tables(out_dir: str, sf: float, seed: int) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in build_tables(sf, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("out_dir")
    ap.add_argument("--sf", type=float, required=True)
    ap.add_argument("--seed", type=int, required=True)
    a = ap.parse_args()
    write_tables(a.out_dir, a.sf, a.seed)


if __name__ == "__main__":
    main()
