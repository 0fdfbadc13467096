"""Per-operator golden tests over tiny synthetic frames — the reference's
unit-test taxonomy (SURVEY §5: NULL semantics, upsert conditions, dedup
keep-rule, hint validation, KV overwrite, session gaps) on cases the
TPC-H-shaped oracle queries don't isolate."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _classic_dataframe():
    """The monkeypatch target for count/localCheckpoint interceptions.
    In Spark 4 `pyspark.sql.DataFrame` is an abstract base and
    instances resolve methods on the classic subclass, so patching the
    base intercepts nothing (r13 finding). This helper pins that
    internal path in ONE place and fails loudly if a Spark bump moves
    it — rather than with a confusing patch-miss (r13 ADVICE)."""
    try:
        from pyspark.sql.classic.dataframe import DataFrame
    except ImportError as exc:  # pragma: no cover - future Spark bump
        raise ImportError(
            "pyspark.sql.classic.dataframe moved (Spark bump?): the "
            "count/localCheckpoint monkeypatch tests must re-pin the "
            "concrete DataFrame class instances resolve methods on"
        ) from exc
    return DataFrame


def test_exact_dedup_keeps_lowest_id(spark):
    from nebula_storage_spark.pipeline.dedup import exact_dedup
    docs = spark.createDataFrame(
        [(3, "same text"), (1, "same text"), (2, "other"), (9, "same text")],
        "doc_id bigint, text string")
    kept = {r.doc_id for r in exact_dedup(docs).collect()}
    assert kept == {1, 2}


def test_upsert_condition_filter_out_leaves_row(spark):
    from nebula_storage_spark.mutate import upsert
    t = spark.createDataFrame([(1, 10.0), (2, 2000.0)], "_vid bigint, bal double")
    b = spark.createDataFrame([(1,), (2,)], "_vid bigint")
    post = upsert(t, b, ["_vid"], {"bal": "t.bal + 5"},
                  condition="t.bal < 100", insertable=False)
    got = {r._vid: r.bal for r in post.collect()}
    assert got == {1: 15.0, 2: 2000.0}  # 2 filtered out (E_FILTER_OUT)


def test_upsert_not_insertable_drops_absent_keys(spark):
    from nebula_storage_spark.mutate import upsert
    t = spark.createDataFrame([(1, 10.0)], "_vid bigint, bal double")
    b = spark.createDataFrame([(1,), (99,)], "_vid bigint")
    post = upsert(t, b, ["_vid"], {"bal": "t.bal + 5"}, insertable=False)
    assert {r._vid for r in post.collect()} == {1}


def test_hint_range_must_be_last(spark):
    from nebula_storage_spark.operators.lookup import Hint, lookup
    df = spark.range(3).select(F.col("id").alias("a"), F.col("id").alias("b"))
    with pytest.raises(ValueError):
        lookup(df, [Hint.range("a", 0, 2), Hint.prefix("b", 1)])


def test_kv_put_overwrites_and_remove(spark):
    from nebula_storage_spark.operators import kv_put, kv_remove
    kv = spark.createDataFrame([("a", "1"), ("b", "2")], "key string, value string")
    batch = spark.createDataFrame([("a", "X"), ("c", "3")], "key string, value string")
    rm = spark.createDataFrame([("b",)], "key string")
    got = {r.key: r.value for r in kv_remove(kv_put(kv, batch), rm).collect()}
    assert got == {"a": "X", "c": "3"}


def test_kv_put_batch_duplicate_keys_last_write_wins(spark):
    """A write batch repeating a key must leave ONE row per key (RocksDB
    WriteBatch applies puts in order — last wins). With seq_col the
    greatest sequence wins; without, the greatest value (deterministic)."""
    from nebula_storage_spark.operators import kv_put
    kv = spark.createDataFrame([("a", "1")], "key string, value string")
    batch = spark.createDataFrame(
        [("a", "X", 1), ("a", "Y", 2), ("b", "9", 3), ("b", "7", 4)],
        "key string, value string, seq int")
    got = {r.key: r.value for r in kv_put(kv, batch, seq_col="seq").collect()}
    assert got == {"a": "Y", "b": "7"}
    got2 = {r.key: r.value
            for r in kv_put(kv, batch.drop("seq")).collect()}
    assert got2 == {"a": "Y", "b": "9"}     # max-value tiebreak


def test_multi_tag_prop_collision_rejected(spark, sf_dir):
    from nebula_storage_spark.graph import tpch_graph
    from nebula_storage_spark.operators.fetch import fetch_vertices_multi_tag
    from nebula_storage_spark.operators import get_neighbors
    g = tpch_graph(spark, sf_dir)
    with pytest.raises(ValueError, match="multi-tag"):
        fetch_vertices_multi_tag(
            g, [1], {"customer": ["c_name"], "order": ["c_name"]})
    with pytest.raises(ValueError, match="multi-tag"):
        get_neighbors(g, [1], "placed",
                      vertex_tag=[("customer", ["c_name"]),
                                  ("order", ["c_name"])])


def test_sessionize_gap_splits(spark):
    from nebula_storage_spark.operators import sessionize
    ev = spark.createDataFrame(
        [(1, 100, 0), (1, 200, 1), (1, 5000, 2), (2, 100, 3)],
        "user_id bigint, ts_epoch bigint, event_id bigint")
    out = {(r.user_id, r.session_idx): r.n_events
           for r in sessionize(ev, gap_seconds=1000).collect()}
    assert out == {(1, 1): 2, (1, 2): 1, (2, 1): 1}


def test_filter_null_drops_row(spark):
    """FilterNode NULL ⇒ row dropped (FilterNode.h:64-77)."""
    df = spark.createDataFrame([(1, 5.0), (2, None)], "_vid bigint, x double")
    assert df.filter("x > 1").count() == 1


def test_pagerank_deterministic_and_mass_bounded(spark):
    from nebula_storage_spark.operators import pagerank_fixed
    e = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 1)], "_src bigint, _dst bigint")
    r1 = {r.node: r.rank for r in pagerank_fixed(e, iterations=3).collect()}
    r2 = {r.node: r.rank for r in pagerank_fixed(e, iterations=3).collect()}
    assert r1 == r2                       # bit-identical across runs
    assert set(r1) == {1, 2, 3}
    scale = 10 ** 9
    assert all(0 < v <= 3 * scale for v in r1.values())


def test_round1_folds_remove_score_frame_joins(spark):
    """r14 round-1 constant folds: at iterations=1 the iterative loops
    must contain NO join against the (constant/identity) score frame —
    the optimized plan's only joins are setup joins. Pre-fold counts
    were pagerank 3 (deg + rank + reinstate), ccd 2 (nbr + lol),
    cc/sssp/lp 1 each; a regression that reintroduces the round-1
    join shows up as a count bump here."""
    from nebula_storage_spark.operators.analytics import (
        connected_components_doubling, connected_components_fixed,
        label_propagation_fixed, pagerank_fixed, sssp_fixed)
    e = spark.createDataFrame(
        [(1, 2, 1), (2, 3, 2)], "_src bigint, _dst bigint, w bigint")

    def joins(df):
        return df._jdf.queryExecution().optimizedPlan() \
            .toString().count("Join")

    # pagerank keeps its two setup/reinstate joins (edges x deg, nodes
    # LEFT JOIN summed); the round-1 rank join is folded away
    assert joins(pagerank_fixed(e.select("_src", "_dst"),
                                iterations=1)) == 2
    # the pure min-label round folds to union+aggregate: zero joins
    assert joins(connected_components_doubling(
        e.select("_src", "_dst"), iterations=1)) == 0
    assert joins(connected_components_fixed(
        e.select("_src", "_dst"), iterations=1)) == 0
    assert joins(label_propagation_fixed(
        e.select("_src", "_dst"), iterations=1)) == 0
    # the single-seed relax folds to a filter: zero joins
    assert joins(sssp_fixed(e, source=1, iterations=1)) == 0


def test_analytics_no_broadcast_path_matches(spark):
    """broadcast_max_nodes=0 forces the shuffled-join fallback (the 100 TB
    path where |V| exceeds broadcast range); results must be bit-identical
    to the broadcast plan and the per-round joins must not broadcast."""
    from nebula_storage_spark.operators.analytics import (
        connected_components_fixed, pagerank_fixed, personalized_pagerank)
    e = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 1), (5, 6)], "_src bigint, _dst bigint")
    saved = {k: spark.conf.get(k) for k in
             ("spark.sql.autoBroadcastJoinThreshold",
              "spark.sql.adaptive.autoBroadcastJoinThreshold")}
    for fn, kw in ((pagerank_fixed, dict(iterations=3)),
                   (personalized_pagerank, dict(seeds=[1], iterations=3)),
                   (connected_components_fixed, dict(iterations=3))):
        try:
            # tiny test frames would be auto-broadcast by Catalyst anyway;
            # disable the threshold so dropping the hint really yields the
            # shuffled plan the 100 TB case would see. Run the no-broadcast
            # variant FIRST on a clean cache: the CacheManager dedupes
            # persisted subtrees by plan, so a prior broadcast-built cache
            # entry would otherwise be reused verbatim.
            spark.catalog.clearCache()
            for k in saved:
                spark.conf.set(k, "-1")
            nobc = fn(e, broadcast_max_nodes=0, **kw)
            nobc_rows = sorted(map(tuple, nobc.collect()))
            plan = nobc._jdf.queryExecution().executedPlan().toString()
            assert "BroadcastHashJoin" not in plan, fn.__name__
            assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, \
                fn.__name__
        finally:
            for k, v in saved.items():
                spark.conf.unset(k) if v is None else spark.conf.set(k, v)
        spark.catalog.clearCache()
        bc = sorted(map(tuple, fn(e, **kw).collect()))
        assert bc == nobc_rows, fn.__name__
    spark.catalog.clearCache()


def test_knn_excludes_self(spark):
    from nebula_storage_spark.pipeline.similarity import knn_bruteforce
    emb = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(4)],
        "vec_id bigint, embedding array<float>")
    out = knn_bruteforce(emb, [0], k=3)
    assert all(r.n_id != 0 for r in out.collect())


def test_minhash_lsh_finds_planted_near_dup(spark):
    from nebula_storage_spark.pipeline.dedup import minhash_lsh_pairs
    base = " ".join(f"w{i}" for i in range(40))
    near = " ".join(f"w{i}" for i in range(39)) + " zz"
    other = " ".join(f"x{i}" for i in range(40))
    docs = spark.createDataFrame(
        [(1, base), (2, near), (3, other)], "doc_id bigint, text string")
    pairs = {(r.id_a, r.id_b) for r in minhash_lsh_pairs(docs).collect()}
    assert pairs == {(1, 2)}


def test_scan_cursor_pages_disjoint(spark, sf_dir):
    from nebula_storage_spark.graph import tpch_graph
    from nebula_storage_spark.operators import scan_vertex
    g = tpch_graph(spark, sf_dir)
    p1 = scan_vertex(g, "customer", props=["c_name"], limit=10)
    last = max(r._vid for r in p1.collect())
    p2 = scan_vertex(g, "customer", props=["c_name"], limit=10, cursor=last)
    ids2 = {r._vid for r in p2.collect()}
    assert all(v > last for v in ids2) and len(ids2) == 10

def test_catalog_ddl_alter_and_drop(spark):
    from nebula_storage_spark.catalog import (Catalog, FieldDef, TagDef,
                                              apply_read_semantics)
    import pytest as _pt
    cat = Catalog()
    cat.add_tag(TagDef("t", (FieldDef("a", "bigint"),)))
    cat.alter_add_field("t", FieldDef("b", "string", default="dflt"))
    assert cat.tags["t"].prop_names == ["a", "b"]
    with _pt.raises(ValueError):
        cat.alter_add_field("t", FieldDef("b", "string"))
    # old rows (written before ALTER) get the new field's default at read
    df = spark.createDataFrame([(1,)], "a bigint")
    out = apply_read_semantics(df, cat.tags["t"]).collect()[0]
    assert out.b == "dflt"
    cat.alter_drop_field("t", "b")
    assert cat.tags["t"].prop_names == ["a"]
    cat.drop_tag("t")
    assert "t" not in cat.tags


def test_edge_ttl_visibility(spark):
    from nebula_storage_spark.catalog import Catalog, EdgeDef, FieldDef
    from nebula_storage_spark.graph import GraphStore
    cat = Catalog()
    cat.add_edge(EdgeDef("e", (FieldDef("ts", "bigint"),),
                         ttl_col="ts", ttl_duration=100))
    g = GraphStore(catalog=cat, now=1000)
    df = spark.createDataFrame([(1, 2, 950), (1, 3, 850)],
                               "_src bigint, _dst bigint, ts bigint")
    g.add_edges_df("e", df)
    assert {r._dst for r in g.edge_df("e").collect()} == {2}


def test_store_roundtrip_preserves_ttl_and_reverse(spark, tmp_path):
    from nebula_storage_spark.catalog import Catalog, EdgeDef, FieldDef, TagDef
    from nebula_storage_spark.graph import GraphStore
    from nebula_storage_spark.store_io import load_store, save_store
    cat = Catalog()
    cat.add_tag(TagDef("ev", (FieldDef("ts", "bigint"),),
                       ttl_col="ts", ttl_duration=100))
    cat.add_edge(EdgeDef("e", ()))
    g = GraphStore(catalog=cat, now=1000)
    g.add_vertices_df("ev", spark.createDataFrame(
        [(1, 950), (2, 850)], "_vid bigint, ts bigint"))
    g.add_edges_df("e", spark.createDataFrame(
        [(1, 2)], "_src bigint, _dst bigint"))
    g.build_reverse_projection("e", num_partitions=2)
    root = str(tmp_path / "store")
    save_store(g, root, num_partitions=2)
    g2 = load_store(spark, root, resident=False)
    # TTL visibility survives the round trip (catalog.json carries it)
    assert {r._vid for r in g2.tag_df("ev").collect()} == {1}
    assert g2.now == 1000
    # reverse projection reloaded
    assert "e" in g2.reverse_edges
    assert g2.reverse_edge_df("e").count() == 1


def test_get_neighbors_rejects_bad_direction(spark, sf_dir):
    from nebula_storage_spark.graph import tpch_graph
    from nebula_storage_spark.operators import get_neighbors
    g = tpch_graph(spark, sf_dir)
    with pytest.raises(ValueError):
        get_neighbors(g, [1], "placed", direction="sideways")


def test_go_1_to_n_unions_hop_depths(spark, sf_dir):
    from nebula_storage_spark.graph import tpch_graph
    from nebula_storage_spark.operators import go_1_to_n, go_n_hops
    g = tpch_graph(spark, sf_dir)
    out = go_1_to_n(g, list(range(5)), ["placed", "contains"])
    rows = out.collect()
    hops = {r.hop for r in rows}
    assert hops <= {1, 2} and 1 in hops
    # hop-2 slice must equal the plain 2-hop composition
    two = {(r.start_vid, r.end_vid)
           for r in go_n_hops(g, list(range(5)), ["placed", "contains"]).collect()}
    assert {(r.start_vid, r.end_vid) for r in rows if r.hop == 2} == two


def test_hyperplane_lsh_subset_of_bruteforce_ranking(spark):
    from nebula_storage_spark.pipeline.similarity import (
        hyperplane_lsh_topk, knn_bruteforce)
    import math
    # 8-dim ring: neighbors at small angular offsets
    emb = spark.createDataFrame(
        [(i, [math.cos(0.15 * i), math.sin(0.15 * i)] + [0.1 * j for j in range(6)])
         for i in range(20)],
        "vec_id bigint, embedding array<float>")
    lsh = hyperplane_lsh_topk(emb, [0, 1], k=3, dim=8)
    bf = knn_bruteforce(emb, [0, 1], k=20)
    bf_cos = {(r.q_id, r.n_id): r.cos for r in bf.collect()}
    got = lsh.collect()
    assert len(got) > 0
    # every LSH answer carries the exact cosine the brute-force path computes
    for r in got:
        assert abs(bf_cos[(r.q_id, r.n_id)] - r.cos) < 1e-9


def test_hyperplanes_deterministic_pm1(spark):
    from nebula_storage_spark.pipeline.similarity import hyperplanes
    a, b = hyperplanes(8, 64), hyperplanes(8, 64)
    assert a == b
    assert all(v in (-1, 1) for row in a for v in row)
    # not degenerate: both signs present in every plane
    assert all(len(set(row)) == 2 for row in a)


def test_bfs_min_hop_expands_once(spark):
    from nebula_storage_spark.graph import GraphStore
    from nebula_storage_spark.catalog import Catalog, EdgeDef
    from nebula_storage_spark.operators import bfs_min_hop
    cat = Catalog(vid_type="bigint")
    cat.add_edge(EdgeDef("e", ()))
    g = GraphStore(catalog=cat)
    # 0 -> 1 -> 2, plus a shortcut 0 -> 2: dist(2) must be 1, not 2
    g.add_edges_df("e", spark.createDataFrame(
        [(0, 1, 0), (1, 2, 0), (0, 2, 0)],
        "_src bigint, _dst bigint, _rank bigint"))
    out = {(r.start_vid, r.end_vid): r.dist
           for r in bfs_min_hop(g, [0], ["e", "e"]).collect()}
    assert out == {(0, 1): 1, (0, 2): 1}


def test_subgraph_accumulates_hop_edges(spark, sf_dir):
    from nebula_storage_spark.graph import tpch_graph
    from nebula_storage_spark.operators import get_subgraph
    g = tpch_graph(spark, sf_dir)
    out = get_subgraph(g, [1, 2], ["placed", "contains"]).collect()
    hops = {r.hop for r in out}
    types = {r._etype for r in out}
    assert hops == {1, 2} and types == {"+placed", "+contains"}
    # hop-1 sources can only be the seeds
    assert {r._src for r in out if r.hop == 1} <= {1, 2}


def test_decontaminate_flags_exact_overlap(spark):
    from nebula_storage_spark.pipeline.text import decontaminate
    docs = spark.createDataFrame(
        [(0, "alpha beta gamma delta epsilon"),      # benchmark
         (10, "alpha beta gamma delta zeta"),        # shares 4-gram w/ 0
         (11, "one two three four five")],           # clean
        "doc_id bigint, text string")
    out = {r.doc_id: (r.contaminated_by, r.n_shared_grams)
           for r in decontaminate(docs, bench_max_id=5, n=4).collect()}
    assert out == {10: (0, 1)}


def test_repetition_stats_degenerate_doc(spark):
    from nebula_storage_spark.pipeline.text import repetition_stats
    docs = spark.createDataFrame(
        [(1, "spam spam spam spam"), (2, "a b c d")],
        "doc_id bigint, text string")
    out = {r.doc_id: r for r in repetition_stats(docs).collect()}
    assert out[1].top_ratio_x100 == 100 and out[1].distinct_ratio_x100 == 25
    assert out[2].top_ratio_x100 == 25 and out[2].distinct_ratio_x100 == 100


def test_tfidf_surrogate_prefers_rare_terms(spark):
    from nebula_storage_spark.pipeline.text import tfidf_top_terms
    docs = spark.createDataFrame(
        [(1, "common rare1 common"), (2, "common rare2"), (3, "common x")],
        "doc_id bigint, text string")
    top1 = {r.doc_id: r.term
            for r in tfidf_top_terms(docs, k=1).collect()}
    # 'common' has df=3; each doc's unique term (df=1) must outrank it
    assert top1 == {1: "rare1", 2: "rare2", 3: "x"}


def test_common_neighbors_counts_intersection(spark):
    from nebula_storage_spark.graph import GraphStore
    from nebula_storage_spark.catalog import Catalog, EdgeDef
    from nebula_storage_spark.operators import common_neighbors
    cat = Catalog(vid_type="bigint")
    cat.add_edge(EdgeDef("e", ()))
    g = GraphStore(catalog=cat)
    g.add_edges_df("e", spark.createDataFrame(
        [(1, 10, 0), (1, 11, 0), (2, 10, 0), (2, 12, 0), (3, 13, 0)],
        "_src bigint, _dst bigint, _rank bigint"))
    out = {(r.vid_a, r.vid_b): r.n_common
           for r in common_neighbors(g, [(1, 2), (1, 3)], ["e"]).collect()}
    assert out == {(1, 2): 1}  # share {10}; (1,3) empty -> omitted


def test_bucketed_join_has_no_exchange_above_scans(spark, sf_dir):
    from nebula_storage_spark.workload import build_queries
    df = build_queries()["bucketed_join"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    join_idx = plan.index("SortMergeJoin")
    # below the join (the scan side of the plan string) there must be no
    # shuffle: bucketing replaced it
    assert "Exchange" not in plan[join_idx:]
    assert plan.count("FileScan") == 2


def test_pack_sequences_offsets_contiguous(spark):
    from nebula_storage_spark.pipeline.text import pack_sequences
    docs = spark.createDataFrame(
        [(1, " ".join(["a"] * 10)), (2, " ".join(["b"] * 250)),
         (3, " ".join(["c"] * 5))],
        "doc_id bigint, text string")
    rows = {r.doc_id: r for r in pack_sequences(docs, budget=256).collect()}
    assert rows[1].start_off == 0 and rows[1].seq_first == 0
    assert rows[2].start_off == 10 and rows[2].seq_last == 1  # straddles
    assert rows[3].start_off == 260 and rows[3].seq_first == 1


def test_stratified_sample_exact_group_sizes(spark):
    from nebula_storage_spark.pipeline.text import stratified_sample
    docs = spark.createDataFrame(
        [(i, "x", "en" if i % 2 == 0 else "de") for i in range(50)],
        "doc_id bigint, text string, lang string")
    out = stratified_sample(docs, group_col="lang", n_per_group=5).collect()
    from collections import Counter
    assert Counter(r.lang for r in out) == {"en": 5, "de": 5}
    # deterministic: same sample on re-run
    again = stratified_sample(docs, group_col="lang", n_per_group=5).collect()
    assert {r.doc_id for r in out} == {r.doc_id for r in again}


def test_personalized_pagerank_mass_stays_near_seeds(spark):
    from nebula_storage_spark.operators.analytics import personalized_pagerank
    # two disconnected 2-cycles; seed only in the first
    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (10, 11), (11, 10)], "_src bigint, _dst bigint")
    out = {r.node: r.rank
           for r in personalized_pagerank(edges, [1], iterations=4).collect()}
    assert out[1] > 0 and out[2] > 0
    assert 10 not in out and 11 not in out  # unreachable from seed


def test_containment_asymmetric_subset(spark):
    from nebula_storage_spark.pipeline.dedup import containment_pairs
    big = " ".join(f"w{i}" for i in range(30))
    sub = " ".join(f"w{i}" for i in range(10))  # fully contained prefix
    docs = spark.createDataFrame(
        [(1, big), (2, sub)], "doc_id bigint, text string")
    out = {(r.id_a, r.id_b): r.containment_x10000
           for r in containment_pairs(docs, threshold_x10000=5000).collect()}
    assert out[(2, 1)] == 10000      # all of 2's shingles are in 1
    assert (1, 2) not in out         # 1 in 2 is only 8/28 — below threshold


def test_fetch_multi_tag_null_for_missing_tag(spark, sf_dir):
    from nebula_storage_spark.graph import tpch_graph
    from nebula_storage_spark.operators.fetch import fetch_vertices_multi_tag
    g = tpch_graph(spark, sf_dir)
    rows = {r._vid: r for r in fetch_vertices_multi_tag(
        g, [1, 4000000],
        {"customer": ["c_name"], "order": ["o_orderstatus"]}).collect()}
    assert rows[1].c_name is not None
    assert rows[4000000].c_name is None and rows[4000000].o_orderstatus is None


def test_traversal_empty_seed_set_returns_empty(spark, sf_dir):
    from nebula_storage_spark.graph import tpch_graph
    from nebula_storage_spark.operators import get_neighbors, go_n_hops
    g = tpch_graph(spark, sf_dir)
    assert get_neighbors(g, [], "placed").count() == 0
    assert go_n_hops(g, [], ["placed", "contains"]).count() == 0


def test_lookup_no_hints_is_full_scan(spark, sf_dir):
    from nebula_storage_spark.graph import tpch_graph
    from nebula_storage_spark.operators import lookup
    g = tpch_graph(spark, sf_dir)
    part = g.tag_df("part")
    assert lookup(part).count() == part.count()


def test_delete_nonexistent_keys_is_noop(spark, sf_dir):
    from nebula_storage_spark.graph import tpch_graph
    from nebula_storage_spark.mutate import delete_vertices
    g = tpch_graph(spark, sf_dir)
    before = g.tag_df("customer").count()
    out = delete_vertices(g, [99999999, 88888888])
    assert out.tag_df("customer").count() == before


def test_parse_real_png_jpeg_wav_fixtures():
    """The header parsers read genuine files, not just our synth streams:
    a fully valid 3x2 RGBA PNG (zlib-compressed scanlines, correct CRCs),
    a baseline JPEG marker stream, and a canonical 44-byte WAV."""
    import struct
    import zlib
    from nebula_storage_spark.pipeline.multimodal import (
        _jpeg_bytes, parse_image_header, parse_wav_header)

    # complete, decodable PNG: 3x2, RGBA8
    ihdr = struct.pack(">II", 3, 2) + bytes([8, 6, 0, 0, 0])
    raw = b"".join(b"\x00" + bytes(3 * 4) for _ in range(2))  # filter+pixels

    def chunk(typ, data):
        return (struct.pack(">I", len(data)) + typ + data
                + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF))
    png = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
           + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))
    assert parse_image_header(png) == (3, 2, 4, "png")

    # JPEG: APP0/JFIF segment before SOF0 must be skipped by the walker
    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x02\x00" + bytes(6)
    jpeg = _jpeg_bytes(640, 480, 3, b"comment")
    jpeg_with_app0 = jpeg[:2] + app0 + jpeg[2:]
    assert parse_image_header(jpeg_with_app0) == (640, 480, 3, "jpeg")

    # canonical WAV: 44100 Hz stereo 16-bit, 100 frames
    data_size = 100 * 2 * 2
    wav = (b"RIFF" + struct.pack("<I", 36 + data_size) + b"WAVE"
           + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 2, 44100,
                                   44100 * 4, 4, 16)
           + b"data" + struct.pack("<I", data_size) + bytes(data_size))
    assert parse_wav_header(wav) == (44100, 2, 16, 100)

    import pytest
    with pytest.raises(ValueError):
        parse_image_header(b"not an image at all")


def test_parse_mp4_boxes_v0_v1_and_rejects_garbage():
    """The MP4 box walker reads our muxer's v0 mvhd, a hand-built v1
    (64-bit duration) mvhd, skips preceding boxes inside moov, and
    rejects non-BMFF bytes."""
    import struct
    import pytest
    from nebula_storage_spark.pipeline.multimodal import (
        _mp4_box, _mp4_bytes, parse_mp4_header)
    assert parse_mp4_header(_mp4_bytes("mp42", 90000, 123456, b"xyz")) \
        == ("mp42", 90000, 123456)
    # version-1 mvhd: 64-bit times, timescale at +20, duration u64 at +24
    mvhd_v1 = _mp4_box(b"mvhd", bytes([1, 0, 0, 0]) + bytes(16)
                       + struct.pack(">I", 600)
                       + struct.pack(">Q", 2 ** 33) + bytes(80))
    free = _mp4_box(b"free", b"skip me")
    moov = _mp4_box(b"moov", free + mvhd_v1)
    ftyp = _mp4_box(b"ftyp", b"isom" + struct.pack(">I", 0) + b"isom")
    assert parse_mp4_header(ftyp + moov) == ("isom", 600, 2 ** 33)
    with pytest.raises(ValueError):
        parse_mp4_header(b"RIFF not an mp4 stream..")
    with pytest.raises(ValueError):
        parse_mp4_header(ftyp + _mp4_box(b"moov", free))  # no mvhd


def test_image_meta_round_trip_through_real_bytes(spark):
    """synth payload -> real header parse must reproduce the md5-derived
    parameters (the same invariant the DuckDB oracle checks at sf0.01)."""
    import hashlib
    from nebula_storage_spark.pipeline.multimodal import (
        image_meta, synth_image_payload)
    docs = spark.createDataFrame(
        [(1, "the quick brown fox"), (2, "pack my box"), (3, "x" * 2000)],
        "doc_id bigint, text string")
    out = {r.doc_id: r for r in
           image_meta(synth_image_payload(docs)).collect()}
    for doc_id, text in [(1, "the quick brown fox"), (2, "pack my box"),
                         (3, "x" * 2000)]:
        h = hashlib.md5(text.encode()).hexdigest()
        assert out[doc_id].width == int(h[0:4], 16) % 640 + 1
        assert out[doc_id].height == int(h[4:8], 16) % 480 + 1
        expected_fmt = "png" if int(h[8:10], 16) % 2 == 0 else "jpeg"
        assert out[doc_id].format == expected_fmt


def test_normalize_event_ts_both_vintages(spark):
    """events.ts arrives as LONG epoch-nanos (TIMESTAMP(NANOS) parquet under
    nanosAsLong) in older driver data and as timestamp[us] in newer data;
    both must normalize to the same (ts, ts_ns, ts_epoch) triple."""
    from nebula_storage_spark.graph import normalize_event_ts

    nanos = 1_700_000_000_123_456_000  # 2023-11-14T22:13:20.123456Z
    as_long = spark.createDataFrame(
        [(1, nanos, 7, "click", 0.5, "{}")],
        "event_id bigint, ts bigint, user_id bigint, event_type string, "
        "value double, props string")
    as_ts = spark.sql(
        f"SELECT CAST(1 AS BIGINT) event_id, "
        f"timestamp_micros({nanos // 1000}) ts, CAST(7 AS BIGINT) user_id, "
        f"'click' event_type, 0.5d value, '{{}}' props")

    rows = [normalize_event_ts(df).collect()[0] for df in (as_long, as_ts)]
    for r in rows:
        assert r.ts_ns == nanos
        assert r.ts_epoch == nanos // 1_000_000_000
        assert str(r.ts) == "2023-11-14 22:13:20.123456"
    assert rows[0].asDict() == rows[1].asDict()


def _asof_fixture(spark):
    left = spark.createDataFrame(
        [(1, 10, 100), (1, 20, 101), (2, 15, 102)],
        "k bigint, t bigint, lid bigint")
    right = spark.createDataFrame(
        [(1, 10, 7, 1.0), (1, 10, 9, 2.0), (1, 18, 3, 3.0), (2, 99, 4, 4.0)],
        "k bigint, t bigint, rid bigint, v double")
    return left, right


def test_asof_backward_inclusive_and_ties(spark):
    from nebula_storage_spark.operators.asof import asof_join
    left, right = _asof_fixture(spark)
    out = asof_join(left, right, "k", "t", "t",
                    {"m_rid": "rid", "m_v": "v"}, tiebreak="rid")
    rows = {r.lid: (r.m_rid, r.m_v) for r in out.collect()}
    # equal-t right rows ARE visible (inclusive); tie at t=10 -> max rid=9
    assert rows[100] == (9, 2.0)
    # t=20: latest right at t=18
    assert rows[101] == (3, 3.0)
    # k=2 has no right row at-or-before t=15
    assert rows[102] == (None, None)


def test_asof_strict_excludes_equal_ts(spark):
    from nebula_storage_spark.operators.asof import asof_join
    left, right = _asof_fixture(spark)
    out = asof_join(left, right, "k", "t", "t",
                    {"m_rid": "rid"}, tiebreak="rid", strict=True)
    rows = {r.lid: r.m_rid for r in out.collect()}
    assert rows[100] is None       # t=10 right rows invisible under strict <
    assert rows[101] == 3


def test_asof_forward_picks_min_tiebreak(spark):
    from nebula_storage_spark.operators.asof import asof_join
    left, right = _asof_fixture(spark)
    out = asof_join(left, right, "k", "t", "t",
                    {"m_rid": "rid"}, tiebreak="rid", direction="forward")
    rows = {r.lid: r.m_rid for r in out.collect()}
    assert rows[100] == 7          # earliest-at-or-after, min rid on the tie
    assert rows[101] is None       # nothing at-or-after t=20 for k=1
    assert rows[102] == 4


def test_asof_null_payload_is_atomic_not_torn(spark):
    """A NULL inside the matched right row's payload must stay NULL —
    it must NOT backfill from an older right row (torn attachment mixing
    two right rows); and matched-but-NULL is distinguishable from
    no-match via the other payload columns."""
    from nebula_storage_spark.operators.asof import asof_join
    left = spark.createDataFrame([(1, 30, 100)],
                                 "k bigint, t bigint, lid bigint")
    right = spark.createDataFrame(
        [(1, 10, 1, 7.0), (1, 20, 2, None)],
        "k bigint, t bigint, rid bigint, v double")
    out = asof_join(left, right, "k", "t", "t",
                    {"m_rid": "rid", "m_v": "v"}, tiebreak="rid")
    [row] = out.collect()
    # matched row is rid=2 (t=20); its v is NULL and must remain NULL,
    # not the 7.0 from the older rid=1 row
    assert row.m_rid == 2
    assert row.m_v is None


def test_asof_plan_single_shuffle_no_join(spark, sf_dir):
    from nebula_storage_spark.workload import build_queries
    df = build_queries()["asof_last_purchase"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # union-and-window: no join operator at all, exactly one hash
    # exchange (on the key) feeding the window sort
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_range_join_matches_naive_crossjoin(spark):
    from nebula_storage_spark.operators.rangejoin import interval_point_join
    points = spark.createDataFrame(
        [(1, 5, 100), (1, 17, 101), (1, 30, 102), (2, 5, 103)],
        "k bigint, t bigint, pid bigint")
    intervals = spark.createDataFrame(
        [(1, 0, 10, 200), (1, 10, 17, 201), (1, 16, 40, 202), (2, 6, 9, 203)],
        "k bigint, lo bigint, hi bigint, iid bigint")
    naive = {(r.pid, r.iid) for r in
             points.join(intervals, "k")
             .filter("t >= lo and t <= hi").collect()}
    # several bin widths, including one wider than every span and one of 1
    for w in (1, 3, 7, 100):
        got = {(r.pid, r.iid) for r in
               interval_point_join(points, intervals, "k", "t",
                                   "lo", "hi", bin_width=w).collect()}
        assert got == naive, f"bin_width={w}"
    # boundary inclusivity: t=17 meets both [10,17] and [16,40]
    assert (101, 201) in naive and (101, 202) in naive


def test_range_join_validates_inputs(spark):
    import pytest as _pytest
    from nebula_storage_spark.operators.rangejoin import interval_point_join
    p = spark.createDataFrame([(1, 5, 9)], "k bigint, t bigint, x bigint")
    i = spark.createDataFrame([(1, 0, 9, 9)],
                              "k bigint, lo bigint, hi bigint, x bigint")
    with _pytest.raises(ValueError, match="collision"):
        interval_point_join(p, i, "k", "t", "lo", "hi", bin_width=10)
    with _pytest.raises(ValueError, match="bin_width"):
        interval_point_join(p, i.drop("x"), "k", "t", "lo", "hi", bin_width=0)


def test_range_join_inverted_interval_dropped_and_span_capped(spark):
    import pytest as _pytest
    from nebula_storage_spark.operators.rangejoin import interval_point_join
    points = spark.createDataFrame([(1, 5, 100)],
                                   "k bigint, t bigint, pid bigint")
    # inverted interval (lo > hi) must match nothing — and must not
    # feed sequence() a descending range
    inv = spark.createDataFrame([(1, 9, 0, 200), (1, 0, 9, 201)],
                                "k bigint, lo bigint, hi bigint, iid bigint")
    got = {r.iid for r in interval_point_join(
        points, inv, "k", "t", "lo", "hi", bin_width=2).collect()}
    assert got == {201}
    # an interval spanning more bins than the cap raises instead of
    # silently exploding span/bin_width rows
    wide = spark.createDataFrame([(1, 0, 10_000_000, 300)],
                                 "k bigint, lo bigint, hi bigint, iid bigint")
    with _pytest.raises(Exception, match="spans"):
        interval_point_join(points, wide, "k", "t", "lo", "hi",
                            bin_width=2, max_span_bins=100).collect()


def test_range_join_plan_is_equijoin_not_nested_loop(spark, sf_dir):
    from nebula_storage_spark.workload import build_queries
    df = build_queries()["range_click_attribution"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_triangle_counts_known_graphs(spark):
    from nebula_storage_spark.operators.analytics import triangle_counts
    # K4 (4 triangles, every vertex in 3) + a star on 10..13 (none) +
    # a dangling triangle sharing vertex 3
    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    star = [(10, v) for v in (11, 12, 13)]
    extra = [(3, 20), (3, 21), (20, 21)]
    edges = spark.createDataFrame(k4 + star + extra,
                                  "_src bigint, _dst bigint")
    got = {r.node: r.n_triangles for r in triangle_counts(edges).collect()}
    assert got == {0: 3, 1: 3, 2: 3, 3: 4, 20: 1, 21: 1}


def test_triangle_counts_undirected_dedup_and_loops(spark):
    from nebula_storage_spark.operators.analytics import triangle_counts
    # duplicate edges, both orientations, and self-loops must not
    # inflate counts
    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 1), (1, 1), (2, 3)],
        "_src bigint, _dst bigint")
    got = {r.node: r.n_triangles for r in triangle_counts(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1}


def test_label_propagation_two_cliques_with_bridge(spark):
    from nebula_storage_spark.operators.analytics import \
        label_propagation_fixed
    # two K4 cliques {0..3} and {10..13} joined by one bridge edge:
    # labels collapse to each clique's minimum, the bridge doesn't flip
    # either side (one vote against three)
    c1 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    c2 = [(a, b) for a in range(10, 14) for b in range(a + 1, 14)]
    edges = spark.createDataFrame(c1 + c2 + [(3, 10)],
                                  "_src bigint, _dst bigint")
    got = {r.node: r.label
           for r in label_propagation_fixed(edges, iterations=4).collect()}
    assert {got[v] for v in (0, 1, 2, 3)} == {0}
    assert {got[v] for v in (11, 12, 13)} == {10}


def test_label_propagation_tie_breaks_to_min_label(spark):
    from nebula_storage_spark.operators.analytics import \
        label_propagation_fixed
    # node 2's neighbours 1 and 3 each vote once after round 1 keeps
    # their own labels stable — the tie must resolve to the smaller
    edges = spark.createDataFrame([(1, 2), (2, 3)],
                                  "_src bigint, _dst bigint")
    got = {r.node: r.label
           for r in label_propagation_fixed(edges, iterations=1).collect()}
    assert got[2] == 1


def test_k_core_peels_tail_into_core(spark):
    from nebula_storage_spark.operators.analytics import k_core_fixed
    # K4 core with a pendant path 3-20-21: k=2 peels 21 then 20; the
    # K4 survives with degree 3 each (vertex 3 loses its pendant edge)
    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    path = [(3, 20), (20, 21)]
    edges = spark.createDataFrame(k4 + path, "_src bigint, _dst bigint")
    got = {r.node: r.degree
           for r in k_core_fixed(edges, k=2, rounds=3).collect()}
    assert got == {0: 3, 1: 3, 2: 3, 3: 3}


def test_k_core_fixed_rounds_partial_peel(spark):
    from nebula_storage_spark.operators.analytics import k_core_fixed
    # a 5-chain needs one peel per endpoint pair; after 1 round only the
    # outermost nodes are gone
    chain = [(i, i + 1) for i in range(5)]
    edges = spark.createDataFrame(chain, "_src bigint, _dst bigint")
    one = {r.node for r in k_core_fixed(edges, k=2, rounds=1).collect()}
    assert one == {1, 2, 3, 4}
    done = k_core_fixed(edges, k=2, rounds=4).collect()
    assert done == []


def test_sssp_known_distances_and_khop_bound(spark):
    import pytest as _pytest
    from nebula_storage_spark.operators.analytics import sssp_fixed
    # 1 -2-> 2 -2-> 3 -2-> 4; shortcut 1 -7-> 3: BF must prefer 2+2
    edges = spark.createDataFrame(
        [(1, 2, 2), (2, 3, 2), (3, 4, 2), (1, 3, 7), (5, 6, 1)],
        "_src bigint, _dst bigint, w bigint")
    got = {r.node: r.dist
           for r in sssp_fixed(edges, source=1, iterations=4).collect()}
    assert got == {1: 0, 2: 2, 3: 4, 4: 6}     # 5,6 unreachable
    # K=1 sees only direct edges: 3 via the shortcut, 4 not at all
    got1 = {r.node: r.dist
            for r in sssp_fixed(edges, source=1, iterations=1).collect()}
    assert got1 == {1: 0, 2: 2, 3: 7}
    neg = spark.createDataFrame([(1, 2, -1)], "_src bigint, _dst bigint, w bigint")
    with _pytest.raises(ValueError, match="non-negative"):
        sssp_fixed(neg, source=1)


def test_kmeans_separates_known_clusters(spark):
    from nebula_storage_spark.pipeline.cluster import kmeans_fixed
    # two tight groups on a line; init picks ids 0,1 (both in group A),
    # the refit between assignment rounds must pull centroid 1 to group B
    rows = [(0, [0.0]), (1, [0.1]), (2, [10.0]), (3, [10.1])]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    got = {r.vec_id: r.cluster
           for r in kmeans_fixed(emb, k=2, iterations=2).collect()}
    assert got == {0: 0, 1: 0, 2: 1, 3: 1}


def test_kmeans_validates_params_and_is_deterministic(spark):
    import pytest as _pytest
    from nebula_storage_spark.pipeline.cluster import kmeans_fixed
    emb = spark.createDataFrame([(0, [1.0]), (1, [2.0])],
                                "vec_id bigint, embedding array<float>")
    with _pytest.raises(ValueError):
        kmeans_fixed(emb, k=0)
    with _pytest.raises(ValueError):
        kmeans_fixed(emb, k=2, iterations=0)
    a = sorted(map(tuple, kmeans_fixed(emb, k=2, iterations=3).collect()))
    b = sorted(map(tuple, kmeans_fixed(
        emb.repartition(7), k=2, iterations=3).collect()))
    assert a == b


def test_partitioned_write_prunes_partitions(spark, sf_dir):
    from nebula_storage_spark.workload import q_source_partitioned_pruning
    df = q_source_partitioned_pruning(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the status predicate must prune partition directories, not filter rows
    assert "PartitionFilters" in plan
    assert "o_orderstatus" in plan.split("PartitionFilters", 1)[1][:200]
    assert df.count() > 0
    assert {r.o_orderstatus for r in df.select("o_orderstatus")
            .distinct().collect()} == {"F"}


def test_hll_estimate_within_tolerance(spark):
    from nebula_storage_spark.operators.sketch import hll_cardinality
    import pytest as _pytest
    rows = [(("g1" if i % 2 == 0 else "g2"), i) for i in range(4000)]
    df = spark.createDataFrame(rows, "grp string, k bigint")
    got = {r.grp: (r.n_est, r.n_exact)
           for r in hll_cardinality(df, "k", ["grp"], p=8).collect()}
    for grp, (est, exact) in got.items():
        assert exact == 2000
        assert abs(est - exact) / exact < 0.10, (grp, est)
    # small-range regime goes through the linear-counting branch
    small = spark.createDataFrame([("g", i) for i in range(50)],
                                  "grp string, k bigint")
    [(est, exact)] = [(r.n_est, r.n_exact) for r in
                      hll_cardinality(small, "k", ["grp"], p=8).collect()]
    assert exact == 50 and abs(est - exact) <= 10
    with _pytest.raises(ValueError):
        hll_cardinality(df, "k", ["grp"], p=2)


def test_count_min_overestimates_only_and_exact_when_sparse(spark):
    from nebula_storage_spark.operators.sketch import count_min_estimates
    import pytest as _pytest
    # 3 items, huge sketch → no collisions: estimates are exact;
    # the operator must never under-estimate
    items = spark.createDataFrame(
        [("a",)] * 5 + [("b",)] * 3 + [("c",)], "item string")
    qs = spark.createDataFrame([("a",), ("b",), ("c",), ("zz",)],
                               "item string")
    got = {r.item: r.cnt_est
           for r in count_min_estimates(items, qs, w=4096).collect()}
    assert got["a"] == 5 and got["b"] == 3 and got["c"] == 1
    assert got["zz"] == 0      # absent item: all cells may be 0
    with _pytest.raises(ValueError):
        count_min_estimates(items, qs, d=0)


def test_bloom_no_false_negatives(spark):
    from nebula_storage_spark.operators.sketch import bloom_membership
    import pytest as _pytest
    members = spark.createDataFrame([(f"m{i}",) for i in range(50)],
                                    "item string")
    probes = spark.createDataFrame(
        [(f"m{i}",) for i in range(50)] + [(f"x{i}",) for i in range(200)],
        "item string")
    got = {r.item: r.maybe_present
           for r in bloom_membership(members, probes,
                                     k=4, m_bits=8192).collect()}
    # every true member must test positive (no false negatives)
    assert all(got[f"m{i}"] for i in range(50))
    # with m >> k*n the false-positive rate is tiny: most non-members
    # must test negative (allow a couple of collisions)
    fps = sum(1 for i in range(200) if got[f"x{i}"])
    assert fps <= 5
    with _pytest.raises(ValueError):
        bloom_membership(members, probes, k=0)


def test_sssp_parent_tree_reconstructs_path(spark):
    from nebula_storage_spark.operators.analytics import sssp_parents_fixed
    # 1 -2-> 2 -2-> 3 with shortcut 1 -7-> 3; also 1 -4-> 4 -0-> 3
    # (two equal-dist parents for 3: 2 via chain... actually chain is 4;
    # path 1->4->3 costs 4+0=4 == 1->2->3 cost 4: parent tie -> min(2,4)=2)
    edges = spark.createDataFrame(
        [(1, 2, 2), (2, 3, 2), (1, 3, 7), (1, 4, 4), (4, 3, 0)],
        "_src bigint, _dst bigint, w bigint")
    got = {r.node: (r.dist, r.parent)
           for r in sssp_parents_fixed(edges, source=1,
                                       iterations=4).collect()}
    assert got[1] == (0, 1)
    assert got[2] == (2, 1)
    assert got[4] == (4, 1)
    assert got[3] == (4, 2)     # tie between parents 2 and 4 -> min
    # walking parents from 3 reaches the source
    node, hops = 3, 0
    while node != 1 and hops < 10:
        node = got[node][1]
        hops += 1
    assert node == 1


def test_random_walks_follow_edges_and_dead_ends_stop(spark):
    from nebula_storage_spark.operators.walk import random_walks
    import pytest as _pytest
    # 1 -> {2,3}; 2 -> 4; 3,4 are sinks: every walk from 1 must follow
    # real edges and stop at a sink, path length bounded by steps+1
    edges = spark.createDataFrame([(1, 2), (1, 3), (2, 4)],
                                  "_src bigint, _dst bigint")
    seeds = spark.createDataFrame([(1,), (3,)], "node bigint")
    got = {r.walk_id: (r.end_node, r.path)
           for r in random_walks(edges, seeds, steps=5).collect()}
    adj = {1: {2, 3}, 2: {4}}
    end, path = got[1]
    hops = [int(x) for x in path.split("->")]
    assert hops[0] == 1 and end == hops[-1]
    for a, b in zip(hops, hops[1:]):
        assert b in adj.get(a, set())
    assert got[3] == (3, "3")          # seed with no out-edges stays
    # determinism across repartitioning
    again = {r.walk_id: (r.end_node, r.path)
             for r in random_walks(edges.repartition(4), seeds,
                                   steps=5).collect()}
    assert got == again
    with _pytest.raises(ValueError):
        random_walks(edges, seeds, steps=0)


def _join_left_key_lists(plan: str) -> list[list[str]]:
    """Structurally parse every equi-join node's LEFT key list out of
    an executed-plan string: find each `...Join [`, walk the bracketed
    list with a paren/bracket depth counter, split on TOP-LEVEL commas
    only. This is robust where a flat regex is not: a wrapped key like
    `cast(cur#5 as bigint)` still counts as ONE key, and a two-key
    regression whose first key is wrapped still counts as TWO."""
    out: list[list[str]] = []
    i = 0
    while True:
        j = plan.find("Join [", i)
        if j < 0:
            return out
        k = j + len("Join [")
        depth = 1
        keys: list[str] = []
        buf: list[str] = []
        while k < len(plan) and depth > 0:
            ch = plan[k]
            if ch in "([":
                depth += 1
            elif ch in ")]":
                depth -= 1
                if depth == 0:
                    break
            if ch == "," and depth == 1:
                keys.append("".join(buf).strip())
                buf = []
            else:
                buf.append(ch)
            k += 1
        keys.append("".join(buf).strip())
        out.append([s for s in keys if s])
        i = k


def test_walk_step_joins_are_single_key(spark):
    """The walk step joins must keep `cur` as the ONLY equi-key: the
    idx/common-neighbor match rides as a join condition (random) or an
    array_contains probe (node2vec). If it regresses to a second
    extracted equi-key, the join requires hash(cur, idx) /
    hash(prev, nxt) and re-exchanges the FULL cached adjacency every
    step — measured at 1.5 M edges / 500 walks / K=8: 143 MB shuffle
    vs 0.1 MB single-key (tools/walk_scaling.py; BENCH_NOTES). Every
    join node's key list is parsed structurally (top-level comma
    split, not a regex) and must hold exactly one key."""
    from nebula_storage_spark.operators.walk import (node2vec_walks,
                                                     random_walks)
    edges = spark.createDataFrame([(i, (i * 7 + 1) % 50)
                                   for i in range(200)],
                                  "_src bigint, _dst bigint")
    seeds = spark.createDataFrame([(i,) for i in range(10)], "node bigint")
    for fn, K in ((random_walks, 3), (node2vec_walks, 3)):
        plan = (fn(edges, seeds, steps=K)
                ._jdf.queryExecution().executedPlan().toString())
        key_lists = _join_left_key_lists(plan)
        assert key_lists, f"{fn.__name__}: no equi-joins found in plan"
        multi = [ks for ks in key_lists if len(ks) != 1]
        assert not multi, f"{fn.__name__}: multi-key step join {multi[:3]}"
    # parser self-check: wrapped keys count once, two-key lists count 2
    probe = ("SortMergeJoin [cast(cur#5 as bigint)], [cur#9L], Inner\n"
             "BroadcastHashJoin [coalesce(a#1, b#2), idx#3L], "
             "[c#4, d#6L], LeftOuter")
    got = _join_left_key_lists(probe)
    assert [len(ks) for ks in got] == [1, 2], got


def test_release_walk_caches(spark):
    """The walk builders persist adjacency frames the step plans
    reference lazily (random_walks: 1, node2vec_walks: 2); the package
    registry (cache.py, round 9) tracks them so long-lived callers can
    release without a global clearCache. Contract: release returns the
    count and empties the registry; release stays correctness-neutral
    (a walk built before the release still computes, recomputing the
    dropped blocks)."""
    from nebula_storage_spark import cache
    from nebula_storage_spark.operators import walk as wk
    edges = spark.createDataFrame([(1, 2), (2, 3)],
                                  "_src bigint, _dst bigint")
    seeds = spark.createDataFrame([(1,)], "node bigint")
    cache.release_all()                          # clean slate
    wk.random_walks(edges, seeds, steps=2).count()
    wk.node2vec_walks(edges, seeds, steps=2).count()
    assert wk.release_walk_caches() == 3
    assert wk.release_walk_caches() == 0
    assert cache.pinned_count() == 0


def test_pq_rerank_plan_broadcasts_candidates(spark, sf_dir):
    """knn_pq_rerank's 100 TB contract, plan-pinned: the tiny q x R
    candidate list BROADCASTS into the full-precision vector scan
    (BroadcastHashJoin on vec_id carrying the self-exclusion residual
    — the corpus side never shuffles for the rerank), both top-k cuts
    run as WindowGroupLimit with a map-side Partial, and NO
    sort-merge/shuffled-hash join appears anywhere (every equi-join in
    the composition is against a broadcast side)."""
    from nebula_storage_spark.graph import read_parquet
    from nebula_storage_spark.pipeline.pq import pq_rerank_topk
    emb = read_parquet(spark, f"{sf_dir}/embeddings.parquet")
    plan = (pq_rerank_topk(emb, n_queries=3, candidates=20, topk=5)
            ._jdf.queryExecution().executedPlan().toString())
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
    bhj = [ln.strip(" :+-*") for ln in plan.splitlines()
           if ln.strip(" :+-*").startswith("BroadcastHashJoin")]
    assert any("vec_id" in ln and "NOT (q_id" in ln for ln in bhj), bhj
    assert plan.count("WindowGroupLimit") >= 4      # 2 x Partial+Final
    assert "Partial" in plan and "Final" in plan


def test_cache_registry_spans_builder_families(spark, sf_dir):
    """release_all() covers the frames the r8 verdict flagged as
    unreleased: pq_adc_topk's pts + refit codebook and an analytics
    loop's round frames all land in ONE registry, and a released
    result frame still recollects to the same rows (release is a
    memory knob, never a semantics knob)."""
    from nebula_storage_spark import cache
    from nebula_storage_spark.graph import read_parquet
    from nebula_storage_spark.operators.analytics import pagerank_fixed
    from nebula_storage_spark.pipeline.pq import pq_adc_topk
    cache.release_all()
    emb = read_parquet(spark, f"{sf_dir}/embeddings.parquet")
    adc = pq_adc_topk(emb, n_queries=2, topk=3)
    before = sorted(map(tuple, adc.collect()))
    assert cache.pinned_count() >= 2             # pts + final cent
    edges = spark.createDataFrame([(1, 2), (2, 3), (3, 1)],
                                  "_src bigint, _dst bigint")
    pagerank_fixed(edges, iterations=2).count()
    n = cache.pinned_count()
    assert n >= 4                                # + degree/edge/rank frames
    assert cache.release_all() == n
    assert cache.pinned_count() == 0
    assert sorted(map(tuple, adc.collect())) == before


def test_multimodal_blobs_never_shuffle(spark, sf_dir):
    """'blobs never shuffled' (pipeline/multimodal.py), plan-pinned:
    the synth->parse metadata pipeline is scan -> mapInPandas ->
    mapInPandas with ZERO Exchange of the binary payload column."""
    from nebula_storage_spark.graph import read_parquet
    from nebula_storage_spark.pipeline.multimodal import (
        image_meta, synth_image_payload)
    docs = read_parquet(spark, f"{sf_dir}/documents.parquet") \
        .select("doc_id", "text")
    plan = (image_meta(synth_image_payload(docs))
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan
    assert plan.count("MapInPandas") == 2


def test_cc_doubling_covers_long_path_in_log_rounds(spark):
    from nebula_storage_spark.operators.analytics import (
        connected_components_doubling, connected_components_fixed)
    # a 9-node path has diameter 8: K doubling rounds cover 2^(K-1)
    # hops (round 1 is plain propagation, each later round doubles), so
    # 4 rounds converge where 4 plain rounds cover only 4 hops
    chain = [(i, i + 1) for i in range(8)]
    edges = spark.createDataFrame(chain, "_src bigint, _dst bigint")
    dbl = {r.node: r.label for r in
           connected_components_doubling(edges, iterations=4).collect()}
    assert set(dbl.values()) == {0}
    plain = {r.node: r.label for r in
             connected_components_fixed(edges, iterations=4).collect()}
    assert set(plain.values()) != {0}   # plain hasn't converged yet


def test_mis_independent_and_maximal_when_decided(spark):
    from nebula_storage_spark.operators.analytics import \
        maximal_independent_set
    # K5 + path + isolated-ish pair: enough rounds decide every node
    k5 = [(a, b) for a in range(5) for b in range(a + 1, 5)]
    path = [(10, 11), (11, 12), (12, 13)]
    pair = [(20, 21)]
    edges = spark.createDataFrame(k5 + path + pair,
                                  "_src bigint, _dst bigint")
    got = {r.node: r.status
           for r in maximal_independent_set(edges, rounds=6).collect()}
    assert "undecided" not in got.values()
    chosen = {v for v, s in got.items() if s == "in"}
    adj = {}
    for a, b in k5 + path + pair:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    # independence: no two chosen nodes adjacent
    for v in chosen:
        assert not (adj[v] & chosen), v
    # maximality: every excluded node has a chosen neighbour
    for v, s in got.items():
        if s == "out":
            assert adj[v] & chosen, v


def test_prefix_sum_plan_is_range_partitioned_not_global(spark):
    """global_running_sum's physical plan: a rangepartitioning exchange
    feeds a Window PARTITIONED by the partition id — never an
    unpartitioned (single-task) window — and the offsets arrive via
    broadcast."""
    from nebula_storage_spark.operators.prefix import global_running_sum
    df = spark.range(10_000).select(
        F.col("id").alias("k"), (F.col("id") % 97).alias("v"))
    out = global_running_sum(df, ["k"], "v", "cum", num_partitions=8)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" in plan
    assert "windowspecdefinition(_pid" in plan
    assert "BroadcastExchange" in plan
    # spot-check correctness at this size: cum of v=id%97 over id order
    rows = out.orderBy("k").limit(5).collect()
    run = 0
    for i, r in enumerate(rows):
        run += i % 97
        assert r.cum == run


def test_minhash_incremental_equals_full_rebuild(spark, sf_dir):
    """The LSH band law end-to-end: stored base pairs ∪ delta-banded
    pairs == full-corpus rebuild, on the real documents table."""
    from nebula_storage_spark.pipeline.dedup import (
        minhash_lsh_pairs, minhash_lsh_pairs_incremental)
    from nebula_storage_spark.workload_pipeline import _docs
    docs = _docs(spark, sf_dir)
    full = {(r.id_a, r.id_b, r.jaccard_x10000)
            for r in minhash_lsh_pairs(docs).collect()}
    incr = {(r.id_a, r.id_b, r.jaccard_x10000)
            for r in minhash_lsh_pairs_incremental(
                docs, F.col("doc_id") % 3 == 0).collect()}
    assert incr == full


def test_scc_known_graph_and_closure_fixpoint(spark):
    """Two 3-cycles joined by a ONE-WAY bridge stay separate SCCs; a
    dangling DAG node is its own singleton; the closure fixpoint check
    stops doubling early without changing the answer."""
    from nebula_storage_spark.operators.analytics import (
        scc_components, transitive_closure)
    e = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1),        # cycle A
         (4, 5), (5, 6), (6, 4),        # cycle B
         (3, 4),                        # one-way bridge A -> B
         (6, 9)],                       # DAG tail
        "_src bigint, _dst bigint")
    got = {r.node: r.scc_id for r in scc_components(e, rounds=6).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 4, 9: 9}
    tc = {(r._src, r._dst) for r in transitive_closure(e, rounds=6).collect()}
    # everything in A reaches everything in B and the tail, never back
    assert (1, 9) in tc and (3, 4) in tc
    assert (4, 1) not in tc and (9, 6) not in tc


def test_index_delta_oplog_semantics(spark, tmp_path):
    """Op-log catch-up laws: add new key, update existing key, delete
    existing key, and add+delete of the SAME key (delete logged after
    the add wins) — against a bucketed projection on disk."""
    from nebula_storage_spark.operators.index_rebuild import (
        apply_index_delta, rebuild_index_bucketed)
    path = str(tmp_path / "idx")
    base = spark.createDataFrame(
        [(10, 1, "a"), (20, 2, "b"), (30, 3, "c")],
        "k bigint, _vid bigint, payload string")
    rebuild_index_bucketed(base, ["k"], path, n_buckets=4,
                           include_cols=["_vid", "payload"])
    adds = spark.createDataFrame(
        [(40, 4, "new"), (20, 2, "b2"), (50, 5, "doomed")],
        "k bigint, _vid bigint, payload string")
    dels = spark.createDataFrame([(30, 3), (50, 5), (99, 77)],
                                 "k bigint, _vid bigint")
    out = apply_index_delta(spark, path, adds, dels, ["k"],
                            key_col="_vid", n_buckets=4)
    got = {(r.k, r._vid, r.payload) for r in out.collect()}
    assert got == {(10, 1, "a"),      # untouched
                   (20, 2, "b2"),     # updated
                   (40, 4, "new")}    # added; 3 deleted, 5 add+delete


def test_bucketed_index_retrieval_prunes_partitions(spark, tmp_path):
    """The 100 TB posture of ft_index_incremental's retrieval (workload_
    ext.py): filtering the bucketed postings projection on `_bucket`
    must reach the scan as a PARTITION filter (only the query terms'
    bucket directories are listed/read), not as a post-scan row filter
    — the plan carries it in PartitionFilters."""
    from pyspark.sql import functions as F
    from nebula_storage_spark.operators.index_rebuild import (
        rebuild_index_bucketed)
    path = str(tmp_path / "bidx")
    base = spark.createDataFrame(
        [(k, v, f"p{k}") for k, v in [(10, 1), (20, 2), (30, 3), (40, 4)]],
        "k bigint, _vid bigint, payload string")
    rebuild_index_bucketed(base, ["k"], path, n_buckets=4,
                           include_cols=["_vid", "payload"])
    scan = spark.read.parquet(path).filter(F.col("_bucket").isin([0, 2]))
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "_bucket" in plan.split("PartitionFilters", 1)[1][:200]


@pytest.mark.parametrize("off", [0, -2, -10, 1 << 31, -(1 << 40)])
def test_triangle_edge_support_counts_shared_edge(spark, off):
    """Two triangles sharing edge (1,2): support((1,2)) = 2, others 1.
    Every id is shifted by `off`: negative ids and ids of 2^31 or more
    must skip the packed-BIGINT key — ids straddling zero unpack to
    wrong (a, b) pairs (DIV and % truncate toward zero), and large
    negative ids overflow the pack."""
    from nebula_storage_spark.operators.analytics import (
        triangle_counts, triangle_edge_support)
    edges = spark.createDataFrame(
        [(a + off, b + off)
         for a, b in [(0, 1), (0, 2), (1, 2), (1, 3), (2, 3)]],
        "_src bigint, _dst bigint")
    sup = {(r.a - off, r.b - off): r.support
           for r in triangle_edge_support(edges).collect()}
    assert sup == {(0, 1): 1, (0, 2): 1, (1, 2): 2, (1, 3): 1, (2, 3): 1}
    tri = {r.node - off: r.n_triangles
           for r in triangle_counts(edges).collect()}
    assert tri == {0: 1, 1: 2, 2: 2, 3: 1}


def test_compact_small_files_reduces_files_preserves_rows(spark, tmp_path):
    import glob
    from nebula_storage_spark.store_io import compact_small_files
    src = str(tmp_path / "small")
    dst = str(tmp_path / "packed")
    df = spark.range(0, 1000).withColumnRenamed("id", "k")
    df.repartition(16).write.parquet(src)
    assert len(glob.glob(f"{src}/part-*.parquet")) == 16
    out = compact_small_files(spark, src, dst, "k", 3)
    files = glob.glob(f"{dst}/part-*.parquet")
    assert 1 <= len(files) <= 3
    assert out.count() == 1000
    assert out.agg({"k": "min"}).first()[0] == 0
    # range partitioning leaves per-file key ranges disjoint (the
    # data-skipping layout): each file's [min,max] must not overlap
    spans = sorted(
        (spark.read.parquet(f).agg({"k": "min"}).first()[0],
         spark.read.parquet(f).agg({"k": "max"}).first()[0])
        for f in files)
    for (lo1, hi1), (lo2, hi2) in zip(spans, spans[1:]):
        assert hi1 < lo2


def test_k_truss_peels_pendant_triangle_keeps_k4(spark):
    from nebula_storage_spark.operators.analytics import k_truss_fixed
    # K4 on {0,1,2,3}: every edge in 2 triangles -> survives k=4.
    # Pendant triangle {3,10,11}: support 1 each -> peeled in round 1,
    # and the recount confirms K4 is stable in round 2.
    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    pendant = [(3, 10), (3, 11), (10, 11)]
    edges = spark.createDataFrame(k4 + pendant, "_src bigint, _dst bigint")
    got = {(r.a, r.b): r.support
           for r in k_truss_fixed(edges, k=4, rounds=2).collect()}
    assert got == {(a, b): 2 for a, b in k4}


def test_retrieval_and_fuzzy_plans_are_scale_safe(spark, sf_dir):
    """Plan-shape regression guards for the round-3 retrieval/dedup
    additions: top-k must be TakeOrderedAndProject (never a global
    sort), and the blocked pair-generation joins must be equi-joins
    (never CartesianProduct / BroadcastNestedLoopJoin)."""
    from nebula_storage_spark.workload_ext import (q_bm25_topk,
                                                   q_dedup_fuzzy,
                                                   q_dedup_setsim_prefix)
    bm25 = q_bm25_topk(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in bm25
    assert "Sort [score" not in bm25          # no global sort of all docs
    for q in (q_dedup_fuzzy, q_dedup_setsim_prefix):
        plan = q(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, q.__name__
        assert "BroadcastNestedLoopJoin" not in plan, q.__name__


def test_ext4_plans_have_no_global_window_or_cartesian(spark, sf_dir):
    """Plan-shape guards for the session-3 additions: no unpartitioned
    WindowExec (the single-task scale killer) and no CartesianProduct
    anywhere; the per-group windows (walks, Markov, MAD) must carry a
    partition spec. The deliberate triangular broadcast joins
    (skyline buckets, daily cumulative users, shard offsets) are
    BroadcastNestedLoopJoin over parameter-bounded frames, so BNLJ is
    asserted only against the frames that scale with data."""
    from nebula_storage_spark.workload_ext4 import (
        q_basket_affinity, q_betweenness_2hop, q_bigram_lm_rarity,
        q_events_mad_outliers, q_events_markov_transitions,
        q_node2vec_walks, q_rfm_segments, q_source_tv_distance,
        q_store_merkle_diff)
    data_sized = (q_basket_affinity, q_betweenness_2hop,
                  q_bigram_lm_rarity, q_events_mad_outliers,
                  q_events_markov_transitions, q_node2vec_walks,
                  q_rfm_segments, q_source_tv_distance,
                  q_store_merkle_diff)
    import re
    # an UNPARTITIONED window prints its ORDER expression first inside
    # windowspecdefinition(...) — "windowspecdefinition(x ASC NULLS
    # FIRST, ..." — while a partitioned one leads with plain partition
    # columns; test_prefix_sum_plan... asserts the positive case
    unpartitioned = re.compile(
        r"windowspecdefinition\(\s*[^,()]+ (ASC|DESC)")
    for q in data_sized:
        plan = (q(spark, sf_dir)._jdf.queryExecution()
                .executedPlan().toString())
        assert "CartesianProduct" not in plan, q.__name__
        assert not unpartitioned.search(plan), q.__name__


def test_find_path_strings_are_valid_weighted_paths(spark, sf_dir):
    """Every reconstructed path must start at the source, follow real
    edges of the weighted 3-layer graph, and its weight sum must equal
    the reported shortest distance."""
    from nebula_storage_spark.graph import DST, SRC, tpch_graph
    from nebula_storage_spark.workload_ext4 import q_find_path_strings
    g = tpch_graph(spark, sf_dir)
    placed = g.edges["placed"].select(
        F.col(SRC).alias("a"), (F.col(DST) + 10_000_000).alias("b"),
        F.lit(1).cast("long").alias("w"))
    contains = g.edges["contains"].select(
        (F.col(SRC) + 10_000_000).alias("a"),
        (F.col(DST) + 20_000_000).alias("b"),
        F.col("l_quantity").cast("long").alias("w"))
    fwd = placed.unionByName(contains)
    und = fwd.unionByName(fwd.select(F.col("b").alias("a"),
                                     F.col("a").alias("b"), "w"))
    wmap = {(r.a, r.b): r.w for r in und.collect()}
    for r in q_find_path_strings(spark, sf_dir).collect():
        hops = [int(x) for x in r.path.split("->")]
        assert hops[0] == 1, r.path                  # source
        assert hops[-1] == r.target
        total = 0
        for a, b in zip(hops, hops[1:]):
            assert (a, b) in wmap, (a, b)
            total += wmap[(a, b)]
        assert total == r.dist, r.path


def test_headliner_plans_are_scale_safe(spark, sf_dir):
    """Pin the PLANS.md claims for two headliners so they cannot
    silently rot (r6 verdict #4; the third claim — pagerank's
    beyond-broadcast fallback — has its own test below):

    1. knn_hyperplane_lsh — the band probe is a BroadcastExchange
       (tiny query-side frame) joined to the corpus band index by
       (band, bkey) equi-keys, and the per-query top-k runs as a
       WindowGroupLimit; no CartesianProduct anywhere.
    2. k_core — per-round state is the O(|V|) alive set, the O(|E|)
       canonical edge frame is materialized once, and the EXECUTED
       plan's join count is CONSTANT in `rounds` (only the last
       restriction's two left-semi joins survive), with no
       CartesianProduct. Since r13 the per-round truncation mechanism
       is regime-split: at rounds <= PURE_PIN_MAX_ROUNDS the frames
       are registry-pinned persists, so the executed tree bottoms out
       in InMemoryTableScan leaves (CacheManager substitution — the
       walk below does NOT descend into cached subtrees, exactly like
       the executor) and repeat executions reuse every round's cache;
       above the bound each alive set falls back to localCheckpoint
       (ExistingRDD leaves) so the ANALYZED plan cannot grow
       exponentially in `rounds`.
    """
    from nebula_storage_spark.workload_pipeline import (
        q_knn_hyperplane_lsh)
    lsh = (q_knn_hyperplane_lsh(spark, sf_dir)._jdf.queryExecution()
           .executedPlan().toString())
    assert "BroadcastExchange" in lsh
    assert "WindowGroupLimit" in lsh
    assert "CartesianProduct" not in lsh
    assert "BroadcastNestedLoopJoin" not in lsh

    from nebula_storage_spark.graph import DST, SRC, tpch_graph
    from nebula_storage_spark.operators.analytics import (
        PURE_PIN_MAX_ROUNDS, k_core_fixed)
    e = tpch_graph(spark, sf_dir).edges["placed"].select(SRC, DST)

    def walk(node):
        """Executed-plan nodes, NOT descending into InMemoryTableScan
        (a leaf: its cached relation is read, not re-executed).
        AdaptiveSparkPlanExec hides its child behind inputPlan()."""
        yield node.nodeName()
        if node.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
            yield from walk(node.inputPlan())
            return
        ch = node.children()
        for i in range(ch.size()):
            yield from walk(ch.apply(i))

    def executed_nodes(df):
        return list(walk(df._jdf.queryExecution().executedPlan()))

    plans = [executed_nodes(k_core_fixed(e, k=2, rounds=r))
             for r in (1, 3)]
    for kc in plans:
        assert any("InMemoryTableScan" in n for n in kc)  # pinned e0
        assert not any("CartesianProduct" in n for n in kc)
        assert not any("BroadcastNestedLoopJoin" in n for n in kc)
    joins = [sum("Join" in n for n in kc) for kc in plans]
    assert joins[0] == joins[1] > 0   # executed joins constant in rounds

    # beyond the pure-pin bound the per-round alive sets must return
    # to localCheckpoint truncation (ExistingRDD leaves) — the kept
    # lineage would otherwise hold ~2^rounds analyzed subtrees
    deep = executed_nodes(
        k_core_fixed(e, k=2, rounds=PURE_PIN_MAX_ROUNDS + 1))
    assert any("ExistingRDD" in n for n in deep)
    assert sum("Join" in n for n in deep) == joins[0]


def test_pagerank_beyond_broadcast_fallback_plan(spark, sf_dir):
    """The beyond-broadcast-range plan (PLANS.md §pagerank): with the
    per-round size gate exceeded (broadcast_max_nodes=0) and runtime
    broadcast conversion disabled, NO round may broadcast the |V|-row
    rank frame — the joins must degrade to shuffle joins, the only
    plan that survives 10^9 vertices."""
    from nebula_storage_spark.graph import DST, SRC, tpch_graph
    from nebula_storage_spark.operators.analytics import pagerank_fixed
    e = tpch_graph(spark, sf_dir).edges["placed"].select(SRC, DST)
    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        pr = pagerank_fixed(e, iterations=2, broadcast_max_nodes=0)
        plan = pr._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
    assert "BroadcastExchange" not in plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan)


def test_mis_final_plan_truncated_per_round(spark, sf_dir):
    """maximal_independent_set pins the k_core invariant (the r7
    loop_scaling sweep caught MIS re-running its full-|E| comparison
    join 3× per round through lazy win/out frames — 135.9 s/round at
    120 M edges, 2.6× fixed): every per-round |V|-row frame is
    localCheckpoint()ed before fan-out use, so the FINAL plan reads
    Scan ExistingRDD leaves and its join count is CONSTANT in `rounds`
    (only the two status left-joins survive; the per-round comparison
    joins all sit behind checkpoints), with no CartesianProduct."""
    from nebula_storage_spark.graph import DST, SRC, tpch_graph
    from nebula_storage_spark.operators.analytics import (
        maximal_independent_set)
    e = tpch_graph(spark, sf_dir).edges["placed"].select(SRC, DST)
    plans = [
        (maximal_independent_set(e, rounds=r)._jdf.queryExecution()
         .executedPlan().toString())
        for r in (1, 3)]
    for p in plans:
        assert "ExistingRDD" in p
        assert "CartesianProduct" not in p
        assert "BroadcastNestedLoopJoin" not in p
    joins = [p.count("Join") for p in plans]
    assert joins[0] == joins[1] > 0   # lineage truncated per round


def test_bench_headliners_exist_in_registry():
    """Every bench.py headliner must be a registry query: a rename or
    removal would otherwise surface only when the DRIVER runs bench.py
    and crashes mid-record. No duplicates either — a double entry
    would double-count the total."""
    import bench
    from nebula_storage_spark.workload import build_queries
    qs = build_queries()
    missing = [n for n in bench.HEADLINERS if n not in qs]
    assert not missing, missing
    assert len(bench.HEADLINERS) == len(set(bench.HEADLINERS))


def test_driver_sampling_order_invariants(monkeypatch):
    """The driver samples queries() in insertion order with a fixed
    budget, so build_queries() order IS the provenance-refresh policy.
    Three invariants: (1) the per-round provenance cohorts partition
    the registry exactly (no name unaccounted, no overlaps — a query
    in two cohorts would double-sample, one in none would never
    refresh); (2) with no new registrations _REFRESH_HEAD (queries
    whose code changed after their latest driver row) leads; (3) a
    query with NO driver CORRECTNESS row ever (a new
    registration) sorts FIRST, ahead of every green query — the safety
    net that guarantees new queries gain a driver row their first
    round."""
    from nebula_storage_spark import workload as w
    qs = w.build_queries()
    # discover the cohort sets by naming convention so per-round
    # rotation (drained cohorts removed, the new round's added) can't
    # silently desynchronize this test from the policy it pins
    cohorts = [frozenset(w._REFRESH_HEAD)] + [
        getattr(w, n) for n in sorted(dir(w))
        if n.startswith("_LATEST_R")]
    assert len(cohorts) >= 3
    assert sum(len(c) for c in cohorts) == len(w._DRIVER_CHECKED_EVER)
    assert frozenset().union(*cohorts) == w._DRIVER_CHECKED_EVER
    # registry = every checked name + genuinely-new registrations
    new = set(qs) - w._DRIVER_CHECKED_EVER
    assert w._DRIVER_CHECKED_EVER <= set(qs)      # nothing unaccounted
    n_new = len(new)
    assert set(list(qs)[:n_new]) == new           # new names lead
    assert (list(qs)[n_new:n_new + len(w._REFRESH_HEAD)]
            == list(w._REFRESH_HEAD))
    # simulate a brand-new registration: drop one name from the
    # checked-ever set and it must jump ahead of the refresh head
    probe = "tpch_q1"
    monkeypatch.setattr(w, "_DRIVER_CHECKED_EVER",
                        w._DRIVER_CHECKED_EVER - {probe})
    front = list(w.build_queries())[:n_new + 1]
    assert probe in front


def test_type_sweep_skip_list_in_sync(spark, sf_dir):
    """Every registry name must be covered by one of the two type
    gates: either its DataFrame schema resolves through Catalyst
    analysis (the type_sweep --spark surface) or its name matches a
    SKIP_PREFIXES entry (side-effectful at plan-build; verify_drive's
    executed gate covers it). A new side-effectful query that matches
    no prefix would ERROR the sweep rather than silently dodge it —
    this test fails first. Also: no dead prefixes (each must match at
    least one registry name)."""
    import os
    import sys
    sys.path.insert(0, os.path.join(os.path.dirname(__file__),
                                    os.pardir, "tools"))
    import type_sweep
    from nebula_storage_spark.workload import build_queries
    qs = build_queries()
    skipped = {n for n in qs if n.startswith(type_sweep.SKIP_PREFIXES)}
    for p in type_sweep.SKIP_PREFIXES:
        assert any(n.startswith(p) for n in qs), f"dead prefix {p!r}"
    # schema-resolve every non-skipped query: analysis only, no jobs
    for name in sorted(set(qs) - skipped):
        try:
            dtypes = qs[name](spark, sf_dir).dtypes
        except Exception as exc:  # noqa: BLE001
            raise AssertionError(
                f"{name} neither matches a SKIP_PREFIXES entry nor "
                f"schema-resolves: {exc}") from exc
        assert dtypes, name


def test_bucketed_mutations_match_logical_postimage(spark, tmp_path):
    """mutate/bucketed.py (r10): the partial-rewrite applies must yield
    the SAME post-image as the full-table logical operators they wrap,
    and must physically rewrite ONLY the touched `_bucket=` dirs —
    the write-path contract tools/mutate_scaling.py measures at
    1x/10x/100x (upsert falls 96.6 % -> 6.0 % of table bytes rewritten
    at sf0.1 while the batch stays fixed)."""
    import os
    from nebula_storage_spark.mutate import upsert
    from nebula_storage_spark.mutate.bucketed import (
        delete_bucketed, read_bucketed, ttl_purge_partitions,
        upsert_bucketed, write_bucketed, write_day_partitioned)

    table = spark.range(200).select(
        F.col("id").alias("k"),
        F.concat(F.lit("n"), F.col("id").cast("string")).alias("name"),
        (F.col("id") * 1.5).alias("bal"))
    set_exprs = {"bal": "coalesce(t.bal, 0.0) + s.delta",
                 "name": "coalesce(t.name, s.src_name)"}
    batch = spark.createDataFrame(
        [(0, 10.0, "x"), (7, 10.0, "x"), (33, 10.0, "x"),
         (1000, 5.0, "new")],
        "k bigint, delta double, src_name string")

    def rows(df):
        return sorted(map(tuple, df.select("k", "name", "bal").collect()))

    # --- upsert: post-image parity + untouched dirs stay untouched
    path = str(tmp_path / "t_upsert")
    write_bucketed(table, "k", path, n_buckets=8)
    before = {}
    for root, _d, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            before[p] = os.stat(p).st_mtime_ns
    touched = upsert_bucketed(spark, path, batch, ["k"], set_exprs,
                              n_buckets=8)
    assert rows(read_bucketed(spark, path)) \
        == rows(upsert(table, batch, ["k"], set_exprs))
    changed_dirs = set()
    for root, _d, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            if before.get(p) != os.stat(p).st_mtime_ns:
                rel = os.path.relpath(p, path)
                if os.sep in rel:
                    changed_dirs.add(rel.split(os.sep)[0])
    assert changed_dirs <= {f"_bucket={b}" for b in touched}
    assert len(touched) < 8          # a 4-key batch can't touch all 8

    # --- delete: anti-join parity (absent key is a no-op)
    path = str(tmp_path / "t_delete")
    write_bucketed(table, "k", path, n_buckets=8)
    keys = spark.createDataFrame([(5,), (17,), (999,)], "k bigint")
    delete_bucketed(spark, path, keys, "k", n_buckets=8)
    assert rows(read_bucketed(spark, path)) \
        == rows(table.join(keys, "k", "left_anti"))

    # --- ttl: partition drop parity, zero bytes rewritten
    path = str(tmp_path / "t_ttl")
    day = F.date_add(F.lit("2024-01-01"), F.pmod(F.col("k"), F.lit(5))
                     .cast("int"))
    write_day_partitioned(table.withColumn("_day", day), "_day", path)
    dropped, kept = ttl_purge_partitions(spark, path, "_day", "2024-01-03")
    assert (dropped, kept) == (2, 3)
    assert (spark.read.parquet(path).count()
            == table.filter(F.pmod(F.col("k"), F.lit(5)) >= 2).count())


def test_bucketed_layout_guardrails(spark, tmp_path):
    """bucketed_layout (r11, from the r10 ADVICE mediums): an apply
    with a MISMATCHED modulus or bucket key must raise instead of
    silently pruning to wrong buckets; a batch whose key dtype differs
    from the table's (hash() is type-sensitive) must be cast so its
    keys still route to the right buckets; and a composite-key delete
    (the reference's (src, type, rank, dst) edge key,
    mutate/DeleteEdgesProcessor.cpp) must equal the logical anti-join
    on ALL key parts while bucketing on the lead key only."""
    import pytest
    from nebula_storage_spark.mutate.bucketed import (
        delete_bucketed, read_bucketed, upsert_bucketed, write_bucketed)

    table = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 2.0).alias("bal"))
    set_exprs = {"bal": "coalesce(t.bal, 0.0) + s.delta"}
    path = str(tmp_path / "t_guard")
    write_bucketed(table, "k", path, n_buckets=8)

    batch = spark.createDataFrame([(3, 1.0)], "k bigint, delta double")
    with pytest.raises(ValueError, match="n_buckets mismatch"):
        upsert_bucketed(spark, path, batch, ["k"], set_exprs,
                        n_buckets=16)
    with pytest.raises(ValueError, match="bucket-key mismatch"):
        delete_bucketed(spark, path, batch.select(F.col("k")
                                                  .alias("bal")), "bal")

    # dtype alignment: an INT-keyed batch against the BIGINT table
    # updates in place (no duplicate-key insert in a wrong bucket),
    # with n_buckets resolved from the sidecar (None)
    int_batch = spark.createDataFrame([(3, 1.0), (200, 5.0)],
                                      "k int, delta double")
    upsert_bucketed(spark, path, int_batch, ["k"], set_exprs)
    got = read_bucketed(spark, path)
    assert got.count() == 101
    assert got.filter("k = 3").first()["bal"] == 7.0

    # composite-key delete: bucket on src, anti-join on (src, rank, dst)
    edges = spark.range(60).select(
        (F.col("id") % 10).alias("src"), (F.col("id") % 3).alias("rank"),
        (F.col("id") % 6).alias("dst"), F.col("id").alias("w"))
    epath = str(tmp_path / "t_edges")
    write_bucketed(edges, "src", epath, n_buckets=4)
    dels = spark.createDataFrame([(0, 0, 0), (7, 1, 1), (9, 9, 9)],
                                 "src bigint, rank bigint, dst bigint")
    delete_bucketed(spark, epath, dels, ["src", "rank", "dst"])
    want = sorted(map(tuple,
                      edges.join(dels, ["src", "rank", "dst"],
                                 "left_anti").collect()))
    assert sorted(map(tuple, read_bucketed(spark, epath)
                      .select(*edges.columns).collect())) == want


def test_touched_map_covers_registry():
    """TOUCHED_MAP.json (tools/touched_queries.py --build — the r11
    verdict's lead item) is the computed diff→touched-queries mapping
    the close-out's targeted sf0.1 drive derives from. Pin the
    coverage invariants: the map covers the registry EXACTLY (a key
    registered after the last --build would silently escape every
    targeted drive — rebuild the map), every key traces to >= 1
    package module, and every traced path is package code."""
    import json
    import os
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "TOUCHED_MAP.json")) as fh:
        data = json.load(fh)
    from nebula_storage_spark.workload import build_queries
    registry = set(build_queries())
    assert set(data["keys"]) == registry, (
        "TOUCHED_MAP.json out of sync with the registry — rerun "
        "tools/touched_queries.py --build: "
        f"missing={sorted(registry - set(data['keys']))} "
        f"stale={sorted(set(data['keys']) - registry)}")
    for key, files in data["keys"].items():
        assert files, f"{key} maps to no module"
        for f, quals in files.items():
            assert f.startswith("nebula_storage_spark/"), (key, f)
            assert quals, (key, f)


def test_sf01_provenance_covers_registry():
    """SF01_PROVENANCE.json (tools/sf01_rotation.py — the rotating-
    thirds sf0.1 drive schedule, r11 verdict Next #2) must stay in
    sync with the registry: a key missing from the file would never be
    scheduled (it counts as round 0 and sorts first only because the
    tool defaults it — pin the sync so the artifact stays the record
    of actual coverage), and a stale key would schedule a drive of a
    query that no longer exists."""
    import json
    import os
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "SF01_PROVENANCE.json")) as fh:
        rounds = json.load(fh)["rounds"]
    from nebula_storage_spark.workload import build_queries
    registry = set(build_queries())
    assert set(rounds) == registry, (
        f"missing={sorted(registry - set(rounds))} "
        f"stale={sorted(set(rounds) - registry)}")
    assert all(isinstance(r, int) and r >= 0 for r in rounds.values())


def test_bucketed_layout_lossy_cast_and_conf_guards(spark, tmp_path):
    """r11 ADVICE closures on the shared layout helper: (1) a NARROWING
    key cast that would wrap/null under Spark's non-ANSI cast (bigint
    batch key 2^33+5 against an int-keyed table) must raise, not route
    the row under a wrapped key; (2) a batch missing a key column
    raises a descriptive ValueError, not a bare KeyError; (3) a
    successful apply never mutates the session-global
    partitionOverwriteMode (the dynamic mode is a per-write option —
    a session-conf save/restore could interleave between two
    concurrent applies and flip one to STATIC, dropping every
    untouched bucket)."""
    import pytest
    from nebula_storage_spark.mutate.bucketed import (
        read_bucketed, upsert_bucketed, write_bucketed)

    table = spark.range(100).select(
        F.col("id").cast("int").alias("k"), (F.col("id") * 2.0).alias("bal"))
    set_exprs = {"bal": "coalesce(t.bal, 0.0) + s.delta"}
    path = str(tmp_path / "t_lossy")
    write_bucketed(table, "k", path, n_buckets=8)

    wrap = spark.createDataFrame([(2 ** 33 + 5, 1.0)],
                                 "k bigint, delta double")
    with pytest.raises(ValueError, match="lossy key cast"):
        upsert_bucketed(spark, path, wrap, ["k"], set_exprs)

    nokey = spark.createDataFrame([(1.0,)], "delta double")
    with pytest.raises(ValueError, match="missing key column"):
        upsert_bucketed(spark, path, nokey, ["k"], set_exprs)

    # an IN-RANGE bigint batch against the int table narrows losslessly
    # (round-trip verified) and updates in place
    conf_key = "spark.sql.sources.partitionOverwriteMode"
    saved = spark.conf.get(conf_key, "static")
    ok = spark.createDataFrame([(3, 1.0)], "k bigint, delta double")
    upsert_bucketed(spark, path, ok, ["k"], set_exprs)
    assert spark.conf.get(conf_key, "static") == saved
    got = read_bucketed(spark, path)
    assert got.count() == 100
    assert got.filter("k = 3").first()["bal"] == 7.0


def test_coloring_cadence_validation_and_no_count_when_explicit(spark):
    """greedy_coloring packs colors into ONE bigint bitmask (1 << color),
    so rounds > 64 would silently wrap bit 63 — the entry guard must
    fail loud. And building the default loop runs no eager count() job
    (pinned by making count raise for the duration of the build — on
    the CLASSIC DataFrame class, the one instances actually resolve
    methods on in Spark 4; patching the pyspark.sql.DataFrame base
    intercepts nothing)."""
    DataFrame = _classic_dataframe()
    from nebula_storage_spark.operators.analytics import greedy_coloring

    e = spark.createDataFrame([(0, 1), (1, 2), (2, 3), (3, 0), (1, 4)],
                              "_src bigint, _dst bigint")
    with pytest.raises(ValueError, match="rounds must be <= 64"):
        greedy_coloring(e, rounds=65)

    real_count = DataFrame.count

    def boom(self):
        raise AssertionError("greedy_coloring ran a count() job while "
                             "building its loop")
    DataFrame.count = boom
    try:
        colored = greedy_coloring(e, rounds=2)
    finally:
        DataFrame.count = real_count
    got = {r.node: r.color for r in colored.collect()}
    assert set(got) == {0, 1, 2, 3, 4}
    for a, b in [(0, 1), (1, 2), (2, 3), (3, 0), (1, 4)]:
        assert -1 in (got[a], got[b]) or got[a] != got[b]


def test_counter_arm_pure_pin_bounded_by_rounds(spark):
    """The coloring loop keeps NO per-round checkpoint at small `rounds`
    (pure-pin — every round frame is plan-reusable, the measured 2x
    bench win), but the kept lineage holds ~2^rounds analyzed
    subtrees, so past PURE_PIN_MAX_ROUNDS the loop must fall back to
    per-round localCheckpoint truncation — and still match the DuckDB
    oracle at the same rounds."""
    import duckdb
    DataFrame = _classic_dataframe()
    from nebula_storage_spark.operators.analytics import (
        PURE_PIN_MAX_ROUNDS, coloring_oracle_sql, greedy_coloring)

    pairs = [(0, 1), (1, 2), (2, 3), (3, 0), (1, 4)]
    e = spark.createDataFrame(pairs, "_src bigint, _dst bigint")
    calls = []
    real_lc = DataFrame.localCheckpoint

    def counting_lc(self, *a, **kw):
        calls.append(1)
        return real_lc(self, *a, **kw)

    DataFrame.localCheckpoint = counting_lc
    try:
        greedy_coloring(e, rounds=3)          # default: pure pin
        pure_pin_calls = len(calls)
        calls.clear()
        deep = greedy_coloring(e, rounds=PURE_PIN_MAX_ROUNDS + 1)
        fallback_calls = len(calls)
    finally:
        DataFrame.localCheckpoint = real_lc
    assert pure_pin_calls == 0                # no truncation below bound
    # the state frame is updated rounds-1 times, each one truncated
    assert fallback_calls == PURE_PIN_MAX_ROUNDS
    got = {r.node: r.color for r in deep.collect()}
    values = ", ".join(f"({a}, {b})" for a, b in pairs)
    con = duckdb.connect()
    try:
        want = dict(con.execute(coloring_oracle_sql(
            f"SELECT * FROM (VALUES {values}) t(src, dst)",
            rounds=PURE_PIN_MAX_ROUNDS + 1)).fetchall())
    finally:
        con.close()
    assert got == want


def test_kernel_assignment_plans_are_pure_maps(spark, sf_dir):
    """The r9/r10 kernel contract, plan-pinned in the FAST suite (the
    measured halves live behind `pytest -m scaling` and only run at
    close-out): the k-means final assignment and the PQ encode are
    MapInPandas over the (cached) corpus with NO exchange, sort, or
    join anywhere in the returned plan — a regression to the falsified
    crossJoin + groupBy(vec_id) min-struct shape (or any other plan
    that moves corpus rows to compute an assignment) plants an
    Exchange here and fails on every plain `pytest tests/` run."""
    from nebula_storage_spark.cache import release_all
    from nebula_storage_spark.graph import read_parquet
    from nebula_storage_spark.pipeline.cluster import kmeans_fixed
    from nebula_storage_spark.pipeline.pq import pq_train_encode
    emb = read_parquet(spark, f"{sf_dir}/embeddings.parquet")
    for df in (kmeans_fixed(emb, k=4, iterations=2),
               pq_train_encode(emb, n_queries=2)[0]):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "MapInPandas" in plan, plan
        for node in ("Exchange", "Sort", "Join"):
            assert node not in plan, f"{node} in assignment plan:\n{plan}"
    release_all()
