"""The benchmark's workloads: seeded request decks, set-up and output checks.

Every workload is a closed loop of one client. Its requests come in
*rounds*: a round holds every stratum (request type x size class) once,
in a seeded order, and the timed window runs whole rounds, so each run
measures the same mix and only the drawn parameters differ between seeds.

* `graph_lookups`: short reads on the sf0.1 resident TPC-H graph store.
  No request fires an `operators.analytics` builder job, so an analytics
  change should leave it unchanged.
* `bucketed_mutations`: upsert/delete batches beside point and range reads
  of sf0.1 `orders` in the `_bucket=` on-disk layout, written fresh in
  set-up; the only workload whose data lives outside the program's cache.
* `batch_analytics`: sf0.001 registry graph loops and LSH pipeline queries,
  each checked against its DuckDB oracle, with `cache.release_all()` after
  every request; the only workload that calls `operators.analytics` and
  the `pipeline` modules.
"""

from __future__ import annotations

import datetime as dt
import math
import os
import random
import struct
import time
from collections import Counter

import duckdb
import pyarrow.parquet as pq

from datagen import PRIORITIES, STATUSES, table_sizes
from tracing import Request, Sample

TPCH_TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
               "lineitem", "events", "documents", "embeddings")


# --------------------------------------------------------------------------
# result comparison (bit-exact, as the registry's oracle gate compares)
# --------------------------------------------------------------------------

def canon(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else struct.pack(">d", v)
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, list):
        return tuple(canon(x) for x in v)
    return v


def multiset(rows, cols) -> Counter:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return Counter(tuple(canon(r[i]) for i in order) for r in rows)


def spark_multiset(rows) -> Counter:
    cols = list(rows[0].__fields__) if rows else []
    return multiset(rows, cols)


def duck_multiset(con, sql: str) -> Counter:
    cur = con.execute(sql)
    return multiset(cur.fetchall(), [d[0] for d in cur.description])


def duck_connect(data_dir: str, tables, materialize: bool):
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads=2")
    kind = "TABLE" if materialize else "VIEW"
    for t in tables:
        con.execute(f"CREATE {kind} {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet')")
    return con


class Workload:
    """What run.py needs of a workload. `setup()` builds the state the
    requests read and returns its seconds; `first_pass()` holds one request
    of each type; `next_round()` one request of each stratum, in a seeded
    order; `check(samples)` returns one message per wrong result."""
    name: str
    sf: float
    warm_rounds: int
    min_rounds: int
    loads_graph = False  # set-up is the resident graph-store load

    def __init__(self, spark, data_dir: str, tmp_dir: str, seed: int):
        self.spark, self.data_dir, self.tmp_dir = spark, data_dir, tmp_dir
        self.rng = random.Random(seed)
        self.storage_after_setup: float | None = None
        # (seconds, frames released, storage MB retained over post-setup)
        self.releases: list[tuple[float, int, float]] = []

    def after_request(self, sample: Sample) -> None:
        pass


class GraphWorkload(Workload):
    """A workload whose set-up loads the TPC-H resident graph store
    through `tpch_graph` (which the registry queries share by its memo)
    and materializes its cached edge frames."""
    loads_graph = True
    g = None  # the resident store, once set up

    def setup(self) -> float:
        from nebula_storage_spark.graph import tpch_graph
        t0 = time.perf_counter()
        self.g = tpch_graph(self.spark, self.data_dir)
        for df in self.g.edges.values():
            if df.is_cached:
                df.count()
        return time.perf_counter() - t0


# --------------------------------------------------------------------------
# graph_lookups
# --------------------------------------------------------------------------

def _in_list(vids) -> str:
    return ", ".join(str(v) for v in vids)


class GraphLookups(GraphWorkload):
    name = "graph_lookups"
    sf = 0.1
    # One round: 11 strata. Request walls fall by ~25% over the first five
    # rounds after the first pass; three warm rounds take most of that off
    # the window. Five window rounds give 55 samples, a p81.8 tail.
    warm_rounds, min_rounds = 3, 5
    GO_SIZES = {"neighbors": (10, 100, 500), "go_stats": (10, 500),
                "go_limit": (100,), "fetch": (10, 500)}
    LOOKUP_RANGE = (False, True)  # a prefix hint, without or with a range hint
    SCAN_LIMITS = (100,)

    def __init__(self, spark, data_dir: str, tmp_dir: str, seed: int):
        super().__init__(spark, data_dir, tmp_dir, seed)
        self.n = table_sizes(self.sf)

    def _vids(self, n: int) -> list[int]:
        return self.rng.sample(range(self.n["customer"]), n)

    def _go(self, kind: str, size: int) -> Request:
        from nebula_storage_spark.operators import (fetch_vertices,
                                                    get_neighbors, go_stats)
        g, vids = self.g, self._vids(size)
        cols = ("o_custkey AS _vid, '+placed' AS _type, o_custkey AS _src, "
                "o_orderkey AS _dst, CAST(0 AS BIGINT) AS _rank")
        where = f"o_custkey IN ({_in_list(vids)})"
        if kind == "neighbors":
            build = lambda: get_neighbors(  # noqa: E731
                g, vids, "placed", edge_props=["o_totalprice", "o_orderstatus"])
            sql = f"SELECT {cols}, o_totalprice, o_orderstatus FROM orders WHERE {where}"
            module = "operators.go"
        elif kind == "go_stats":
            build = lambda: go_stats(g, vids, "placed", {  # noqa: E731
                "cnt": ("count", "o_totalprice"),
                "sum_price": ("dsum", "o_totalprice"),
                "min_price": ("min", "o_totalprice"),
                "max_price": ("max", "o_totalprice")})
            sql = ("SELECT o_custkey AS _vid, count(o_totalprice) AS cnt, "
                   "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) "
                   "AS sum_price, min(o_totalprice) AS min_price, "
                   f"max(o_totalprice) AS max_price FROM orders WHERE {where} "
                   "GROUP BY o_custkey")
            module = "operators.go"
        elif kind == "go_limit":
            build = lambda: get_neighbors(  # noqa: E731
                g, vids, "placed", edge_props=["o_totalprice"], limit=3)
            sql = (f"SELECT * FROM (SELECT {cols}, o_totalprice FROM orders "
                   f"WHERE {where}) QUALIFY row_number() OVER "
                   "(PARTITION BY _vid ORDER BY _dst) <= 3")
            module = "operators.go"
        else:
            # a tenth of the listed vids do not exist: fetch misses are
            # part of the contract (absent rows)
            vids = vids[: size - size // 10] + [self.n["customer"] + i
                                                for i in range(size // 10)]
            props = ["c_name", "c_acctbal", "c_mktsegment"]
            build = lambda: fetch_vertices(g, "customer", vids, props)  # noqa: E731
            sql = ("SELECT c_custkey AS _vid, c_name, c_acctbal, c_mktsegment "
                   f"FROM customer WHERE c_custkey IN ({_in_list(vids)})")
            module = "operators.fetch"
        return Request(kind, module, f"{kind}_{size}", build, sql)

    def _lookup(self, with_range: bool) -> Request:
        from nebula_storage_spark.graph import VID
        from nebula_storage_spark.operators import lookup
        from nebula_storage_spark.operators.lookup import Hint
        brand = f"Brand#{self.rng.randrange(1, 26)}"
        lo = self.rng.randrange(1, 46)
        hi = lo + self.rng.randrange(2, 6)
        hints = [Hint.prefix("p_brand", brand)]
        where = [f"p_brand = '{brand}'"]
        if with_range:
            hints.append(Hint.range("p_size", lo, hi))
            where.append(f"p_size >= {lo} AND p_size < {hi}")
        variant = "prefix_range" if with_range else "prefix"
        g = self.g
        build = lambda: lookup(g.tag_df("part"), hints,  # noqa: E731
                               yield_cols=[VID, "p_name", "p_size"], dedup_cols=[VID])
        sql = ("SELECT DISTINCT p_partkey AS _vid, p_name, p_size FROM part "
               f"WHERE {' AND '.join(where)}")
        return Request("lookup", "operators.lookup", f"lookup_{variant}", build, sql)

    def _scan(self, limit: int) -> Request:
        from nebula_storage_spark.operators import scan_edge
        cs = self.rng.randrange(0, self.n["orders"])
        g = self.g
        build = lambda: scan_edge(g, "contains", props=["l_quantity"],  # noqa: E731
                                  limit=limit, cursor=(cs, 0, 0))
        sql = ("SELECT l_orderkey AS _src, l_partkey AS _dst, "
               "CAST(l_linenumber AS BIGINT) AS _rank, l_quantity FROM lineitem "
               f"WHERE l_orderkey >= {cs} ORDER BY _src, _rank, _dst LIMIT {limit}")
        return Request("scan", "operators.scan", f"scan_{limit}", build, sql)

    def first_pass(self) -> list[Request]:
        return [self._go("neighbors", 50), self._go("go_stats", 100),
                self._go("go_limit", 100), self._go("fetch", 100),
                self._lookup(True), self._scan(100)]

    def next_round(self) -> list[Request]:
        reqs = [self._go(k, s) for k, sizes in self.GO_SIZES.items() for s in sizes]
        reqs += [self._lookup(r) for r in self.LOOKUP_RANGE]
        reqs += [self._scan(lim) for lim in self.SCAN_LIMITS]
        self.rng.shuffle(reqs)
        return reqs

    def check(self, samples: list[Sample]) -> list[str]:
        con = duck_connect(self.data_dir, ("orders", "lineitem", "customer", "part"),
                           materialize=True)
        try:
            return [f"{s.request.stratum}: rows differ from the DuckDB oracle"
                    for s in samples
                    if s.ok and spark_multiset(s.rows) != duck_multiset(con, s.request.expect)]
        finally:
            con.close()


# --------------------------------------------------------------------------
# bucketed_mutations
# --------------------------------------------------------------------------

class OrdersModel:
    """The table every operation so far should have left: the initial
    rows (from the generated file, key = row index) plus the rows each
    upsert wrote (`None` for a deleted key)."""

    def __init__(self, path: str):
        self.base = pq.read_table(path)
        self.cols = self.base.column_names
        self.n = self.base.num_rows
        self.over: dict[int, tuple | None] = {}
        self.deleted: list[int] = []

    def row(self, k: int) -> tuple | None:
        if k in self.over:
            return self.over[k]
        return tuple(self.base.column(c)[k].as_py() for c in self.cols)

    def rows(self, lo: int, hi: int) -> list[tuple]:
        return [r for r in (self.row(k) for k in range(lo, hi)) if r is not None]

    def live_rows(self) -> int:
        return self.n - len(self.deleted)


class BucketedMutations(Workload):
    name = "bucketed_mutations"
    sf = 0.1
    KEY = "o_orderkey"
    SMALL = (1, 2, 4, 8)
    LARGE_UPSERT, LARGE_DELETE = 300, 200
    RANGES = (10, 100, 1000)
    # One round: 12 reads and a delete/upsert pair, small (1-8 keys) and
    # large (hundreds of keys) in turn. The first pass runs a small pair and
    # the two warm rounds one of each; the window's three rounds hold two
    # small pairs and one large, 42 samples, a p76.2 tail.
    POINT_READS = 6
    warm_rounds, min_rounds = 2, 3

    def __init__(self, spark, data_dir: str, tmp_dir: str, seed: int):
        super().__init__(spark, data_dir, tmp_dir, seed)
        self.orders = os.path.join(data_dir, "orders.parquet")
        self.model = OrdersModel(self.orders)
        self.n_customers = table_sizes(self.sf)["customer"]
        self.path = None
        self.touched: list[int] = []  # bucket ids the last write rewrote
        self.rounds = 0

    def setup(self) -> float:
        from nebula_storage_spark.mutate.bucketed import read_bucketed, write_bucketed
        self.path = os.path.join(self.tmp_dir, "orders_bucketed")
        t0 = time.perf_counter()
        write_bucketed(self.spark.read.parquet(self.orders), self.KEY, self.path)
        took = time.perf_counter() - t0
        self.schema = read_bucketed(self.spark, self.path).schema
        return took

    # -- deck ---------------------------------------------------------------

    def _values(self, k: int) -> tuple:
        r = self.rng
        return (k, r.randrange(self.n_customers), r.choice(STATUSES),
                r.randrange(90_000, 50_000_000) / 100.0,
                dt.datetime(1995, 1, 1) + dt.timedelta(days=r.randrange(2400)),
                r.choice(PRIORITIES))

    def _live_keys(self, n: int) -> list[int]:
        keys: set[int] = set()
        while len(keys) < n:
            k = self.rng.randrange(self.model.n)
            if self.model.over.get(k, ()) is not None:
                keys.add(k)
        return sorted(keys)

    def _upsert(self, size: int, stratum: str) -> Request:
        from nebula_storage_spark.mutate.bucketed import upsert_bucketed
        m = self.model
        reinsert = m.deleted[:size]
        del m.deleted[:size]
        keys = reinsert + self._live_keys(size - len(reinsert))
        rows = [self._values(k) for k in keys]
        for row in rows:
            m.over[row[0]] = row
        set_exprs = {c: f"s.{c}" for c in m.cols if c != self.KEY}

        def build():
            batch = self.spark.createDataFrame(rows, self.schema)
            self.touched = upsert_bucketed(self.spark, self.path, batch,
                                           [self.KEY], set_exprs)
        return Request("upsert", "mutate.bucketed", stratum, build,
                       is_write=True, batch_rows=len(rows))

    def _delete(self, size: int, stratum: str) -> Request:
        from nebula_storage_spark.mutate.bucketed import delete_bucketed
        keys = self._live_keys(size)
        for k in keys:
            self.model.over[k] = None
        self.model.deleted += keys

        def build():
            kf = self.spark.createDataFrame([(k,) for k in keys], f"{self.KEY} bigint")
            self.touched = delete_bucketed(self.spark, self.path, kf, self.KEY)
        return Request("delete", "mutate.bucketed", stratum, build,
                       is_write=True, batch_rows=len(keys))

    def _read(self, lo: int, hi: int, stratum: str) -> Request:
        from pyspark.sql import functions as F
        from nebula_storage_spark.mutate.bucketed import read_bucketed

        def build():
            key = F.col(self.KEY)
            return read_bucketed(self.spark, self.path).filter((key >= lo) & (key < hi))
        return Request("read", "mutate.bucketed", stratum, build,
                       self.model.rows(lo, hi))

    def _point(self) -> Request:
        k = self.rng.randrange(self.model.n)
        return self._read(k, k + 1, "read_point")

    def _range(self, w: int) -> Request:
        lo = self.rng.randrange(self.model.n - w)
        return self._read(lo, lo + w, f"read_range_{w}")

    def first_pass(self) -> list[Request]:
        return [self._point(),
                self._upsert(self.rng.choice(self.SMALL), "upsert_small"),
                self._delete(self.rng.choice(self.SMALL), "delete_small")]

    def next_round(self) -> list[Request]:
        # Requests are generated in execution order, so each read's
        # expected rows are the replay state at its position. A round holds
        # one delete and one upsert, small (1-8 keys, few buckets) and large
        # (hundreds of keys, every bucket) in turn; the upsert re-inserts
        # the deleted keys, which keeps the table size bounded.
        large = self.rounds % 2 == 1
        self.rounds += 1
        make = [self._point] * self.POINT_READS
        make += [lambda w=w: self._range(w) for w in self.RANGES for _ in range(2)]
        if large:
            make += [lambda: self._delete(self.LARGE_DELETE, "delete_large"),
                     lambda: self._upsert(self.LARGE_UPSERT, "upsert_large")]
        else:
            make += [lambda: self._delete(self.rng.choice(self.SMALL), "delete_small"),
                     lambda: self._upsert(self.rng.choice(self.SMALL), "upsert_small")]
        self.rng.shuffle(make)
        return [m() for m in make]

    # -- per-write layout counters (traced runs) ----------------------------

    def _files(self) -> dict[str, int]:
        """Bytes of each data file of the table, by path."""
        out = {}
        for d, _, names in os.walk(self.path):
            for f in names:
                if f.endswith(".parquet"):
                    p = os.path.join(d, f)
                    out[p] = os.path.getsize(p)
        return out

    def after_request(self, sample: Sample) -> None:
        if not (sample.traced and sample.ok and sample.request.is_write):
            return
        from nebula_storage_spark.bucketed_layout import read_layout_sidecar
        n_buckets = read_layout_sidecar(self.path)["n_buckets"]
        files = self._files()
        dirs = {os.path.join(self.path, f"_bucket={b}") for b in self.touched}
        rewritten = sum(sz for p, sz in files.items() if os.path.dirname(p) in dirs)
        total = sum(files.values())
        # batch bytes at the table's mean on-disk row size
        batch = sample.request.batch_rows * total / max(self.model.live_rows(), 1)
        sample.layout = {
            "touched_bucket_frac": len(self.touched) / n_buckets,
            "rewritten_mb": rewritten / (1 << 20),
            "batch_mb": batch / (1 << 20),
            "files": len(files)}

    # -- checks -------------------------------------------------------------

    def check(self, samples: list[Sample]) -> list[str]:
        errors = []
        cols = self.model.cols
        for s in samples:
            if s.ok and not s.request.is_write:
                got = multiset([tuple(r[c] for c in cols) for r in s.rows], cols)
                if got != multiset(s.request.expect, cols):
                    errors.append(f"{s.request.stratum}: rows differ from the replay")
        errors += self._check_table()
        return errors

    def _check_table(self) -> list[str]:
        """The final table against a replay of every batch applied."""
        import numpy as np
        import pyarrow as pa
        from nebula_storage_spark.mutate.bucketed import read_bucketed
        m = self.model
        got = read_bucketed(self.spark, self.path).toArrow().select(m.cols)
        got = got.sort_by(self.KEY)
        keys = got.column(self.KEY).to_numpy()
        want = np.array([k for k in range(m.n) if m.over.get(k, ()) is not None])
        if len(keys) != len(want) or not (keys == want).all():
            return [f"final table holds {len(keys)} keys, replay holds {len(want)}"]
        touched = np.isin(keys, np.fromiter(m.over, dtype=np.int64, count=len(m.over)))
        base = m.base.take(pa.array(keys[~touched]))
        mask = pa.array(~touched)
        for c in m.cols:
            if not got.column(c).filter(mask).combine_chunks().equals(
                    base.column(c).combine_chunks().cast(got.schema.field(c).type)):
                return [f"final table column {c} differs from the replay"]
        rows = got.filter(pa.array(touched)).to_pylist()
        if multiset([tuple(r[c] for c in m.cols) for r in rows], m.cols) != \
                multiset([m.over[k] for k in keys[touched]], m.cols):
            return ["final table's rewritten rows differ from the replay"]
        return []


# --------------------------------------------------------------------------
# batch_analytics
# --------------------------------------------------------------------------

class BatchAnalytics(GraphWorkload):
    name = "batch_analytics"
    sf = 0.001
    # The fastest registry query of each layer: an iterative graph loop
    # whose time is mostly its builder's eager jobs, and the two LSH
    # pipelines (0.5-1.0 s each, warm). An even split of fast and slow
    # queries would put the median between the two clusters, where it
    # jumps from run to run; two fast to one slow keeps it inside one.
    QUERIES = {
        "connected_components_doubling": "operators.analytics",
        "knn_hyperplane_lsh": "pipeline.similarity",
        "dedup_minhash_lsh": "pipeline.dedup",
    }
    # One round: the three queries. Request walls fall by ~30% over the
    # first ten rounds after the first pass; six warm rounds take most of
    # that off the window. Eight window rounds give 24 samples, a p58.3
    # tail: the 14th of the 16 fast requests. Ten rounds would put the tail
    # (rank 20 of 30) on the boundary between the fast and slow requests.
    warm_rounds, min_rounds = 6, 8

    def __init__(self, spark, data_dir: str, tmp_dir: str, seed: int):
        from nebula_storage_spark.workload import build_queries
        super().__init__(spark, data_dir, tmp_dir, seed)
        registry = build_queries()
        self.fns = {q: registry[q] for q in self.QUERIES}

    def _request(self, q: str) -> Request:
        fn, spark, d = self.fns[q], self.spark, self.data_dir
        return Request(q, self.QUERIES[q], q, lambda: fn(spark, d), q)

    def first_pass(self) -> list[Request]:
        return [self._request(q) for q in self.QUERIES]

    def next_round(self) -> list[Request]:
        reqs = self.first_pass()
        self.rng.shuffle(reqs)
        return reqs

    def after_request(self, sample: Sample) -> None:
        """Release what the builders pinned, and measure what storage
        memory is still held against the post-set-up level."""
        from nebula_storage_spark.cache import release_all
        t0 = time.perf_counter()
        n = release_all()
        took = time.perf_counter() - t0
        if self.storage_after_setup is not None:
            retained = storage_used_mb(self.spark) - self.storage_after_setup
            self.releases.append((took, n, retained))

    def check(self, samples: list[Sample]) -> list[str]:
        from nebula_storage_spark.workload import build_oracles
        oracles = build_oracles()
        con = duck_connect(self.data_dir, TPCH_TABLES, materialize=False)
        try:
            want = {q: duck_multiset(con, oracles[q]) for q in self.QUERIES}
        finally:
            con.close()
        return [f"{s.request.kind}: rows differ from the registry oracle"
                for s in samples if s.ok and spark_multiset(s.rows) != want[s.request.kind]]


def storage_used_mb(spark) -> float:
    """Storage memory held by cached blocks, over all block managers."""
    used = 0
    it = spark.sparkContext._jsc.sc().getExecutorMemoryStatus().values().iterator()
    while it.hasNext():
        v = it.next()
        used += v._1() - v._2()
    return used / (1 << 20)


WORKLOADS = {w.name: w for w in (GraphLookups, BucketedMutations, BatchAnalytics)}
