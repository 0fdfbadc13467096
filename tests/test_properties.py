"""Property-based tests (hypothesis) — beyond the reference's test
strategy (SURVEY §5: the reference has golden-value gtests only). Each
property pins an algebraic invariant the oracle-hash gate can't express:
determinism across re-evaluation, per-group bounds, partition laws.

Spark sessions are expensive — properties generate SMALL inputs and
reuse the session fixture; deadline disabled accordingly.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

SET = settings(max_examples=15, deadline=None,
               suppress_health_check=[HealthCheck.function_scoped_fixture])


@given(st.lists(st.integers(min_value=0, max_value=50), min_size=1,
                max_size=30, unique=True),
       st.integers(min_value=1, max_value=5))
@SET
def test_go_limit_per_vertex_bound_and_prefix(spark, sf_dir, vids, k):
    """go() with per-vertex limit: ≤ k edges per seed, and the kept rows
    are exactly the first k in (rank, dst) storage order."""
    from nebula_storage_spark.graph import tpch_graph
    from nebula_storage_spark.operators import get_neighbors
    g = tpch_graph(spark, sf_dir)
    full = get_neighbors(g, vids, "placed", edge_props=[]).collect()
    lim = get_neighbors(g, vids, "placed", edge_props=[], limit=k).collect()
    from collections import defaultdict
    by_v = defaultdict(list)
    for r in full:
        by_v[r._vid].append((r._rank, r._dst))
    got = defaultdict(list)
    for r in lim:
        got[r._vid].append((r._rank, r._dst))
    for v, rows in got.items():
        assert len(rows) <= k
        assert sorted(rows) == sorted(by_v[v])[:len(rows)]


@given(st.lists(st.tuples(st.integers(0, 5), st.integers(0, 5)),
                min_size=1, max_size=15))
@settings(max_examples=4, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_connected_components_labels_are_fixpoint_consistent(spark, edges):
    """CC invariant at convergence: every vertex's label equals the min
    label over itself and its neighbors. Min-label propagation moves one
    hop per round, so convergence needs >= diameter rounds — 9 vertices
    bound the diameter at 5, and we run 6 iterations."""
    from nebula_storage_spark.operators import connected_components_fixed
    df = spark.createDataFrame([(a, b, 0) for a, b in edges],
                               "_src bigint, _dst bigint, _rank bigint")
    out = {r.node: r.label
           for r in connected_components_fixed(df, iterations=6).collect()}
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    for v, lbl in out.items():
        nbr_lbls = [out[u] for u in adj.get(v, ())] + [lbl, v]
        assert lbl == min(nbr_lbls)


@given(st.lists(st.text(alphabet="abc ", min_size=1, max_size=40),
                min_size=1, max_size=12),
       st.integers(min_value=2, max_value=64))
@SET
def test_pack_sequences_partitions_the_token_stream(spark, texts, budget):
    """Packing law: offsets are contiguous (doc k+1 starts where doc k
    ended) and every doc's seq range covers exactly its offset span."""
    from nebula_storage_spark.pipeline.text import pack_sequences
    docs = spark.createDataFrame(list(enumerate(texts)),
                                 "doc_id bigint, text string")
    rows = sorted(pack_sequences(docs, budget=budget).collect(),
                  key=lambda r: r.doc_id)
    off = 0
    for r in rows:
        assert r.start_off == off
        assert r.seq_first == r.start_off // budget
        assert r.seq_last == (r.start_off + r.n_tokens - 1) // budget
        off += r.n_tokens


@given(st.lists(st.integers(0, 1000), min_size=1, max_size=50, unique=True))
@SET
def test_md5_permutation_is_deterministic_and_injective(spark, ids):
    from nebula_storage_spark.functions import md5_permutation
    from pyspark.sql import functions as F
    df = spark.createDataFrame([(i,) for i in ids], "id bigint")
    a = [r.k for r in df.select(md5_permutation("id").alias("k"))
         .orderBy("id").collect()]
    b = [r.k for r in df.select(md5_permutation("id").alias("k"))
         .orderBy("id").collect()]
    assert a == b
    assert len(set(a)) == len(ids)


@given(st.lists(st.integers(min_value=0, max_value=50), min_size=1,
                max_size=12, unique=True),
       st.integers(min_value=1, max_value=4))
@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_go_sample_bounds_and_subset(spark, sf_dir, vids, k):
    """Per-vertex sampling law, for BOTH the md5-permutation path and the
    seeded-rand path (reference reservoir semantics GetNeighborsNode.h:
    125-189): each seed keeps exactly min(k, degree) edges, every kept row
    is a row of the unsampled result, and the md5 path is stable across
    re-evaluation."""
    from collections import Counter
    from nebula_storage_spark.graph import tpch_graph
    from nebula_storage_spark.operators import get_neighbors
    g = tpch_graph(spark, sf_dir)
    full = {(r._vid, r._rank, r._dst)
            for r in get_neighbors(g, vids, "placed", edge_props=[]).collect()}
    deg = Counter(v for v, _, _ in full)
    for seed in (None, 7):
        got = [(r._vid, r._rank, r._dst)
               for r in get_neighbors(g, vids, "placed", edge_props=[],
                                      sample=k, sample_seed=seed).collect()]
        assert len(set(got)) == len(got)            # no duplicate edges
        assert set(got) <= full                     # sample ⊆ population
        by_v = Counter(v for v, _, _ in got)
        for v, d in deg.items():
            assert by_v[v] == min(k, d), (seed, v)
    md5_a = sorted((r._vid, r._rank, r._dst) for r in get_neighbors(
        g, vids, "placed", edge_props=[], sample=k).collect())
    md5_b = sorted((r._vid, r._rank, r._dst) for r in get_neighbors(
        g, vids, "placed", edge_props=[], sample=k).collect())
    assert md5_a == md5_b                           # md5 path deterministic


@given(st.lists(st.tuples(st.integers(0, 6), st.integers(0, 6)),
                min_size=1, max_size=15),
       st.integers(min_value=1, max_value=3))
@settings(max_examples=4, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_k_core_converged_degrees_meet_threshold(spark, edges, k):
    """k-core invariant at convergence (rounds >= |V| suffices): every
    surviving vertex has degree >= k inside the surviving subgraph, and
    the survivor set is the MAXIMUM such subgraph (no peeled vertex
    would have degree >= k against the survivors)."""
    from nebula_storage_spark.operators.analytics import k_core_fixed
    df = spark.createDataFrame(edges, "_src bigint, _dst bigint")
    out = {r.node: r.degree
           for r in k_core_fixed(df, k=k, rounds=8).collect()}
    assert all(d >= k for d in out.values())
    und = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
    # python reference peel to the true k-core
    nodes = {v for e in und for v in e}
    cur = set(und)
    while True:
        deg = {}
        for a, b in cur:
            deg[a] = deg.get(a, 0) + 1
            deg[b] = deg.get(b, 0) + 1
        keep = {v for v in nodes if deg.get(v, 0) >= k}
        nxt = {(a, b) for a, b in cur if a in keep and b in keep}
        if nxt == cur:
            break
        cur = nxt
    expect = {}
    for a, b in cur:
        expect[a] = expect.get(a, 0) + 1
        expect[b] = expect.get(b, 0) + 1
    assert out == expect


@given(st.lists(st.tuples(st.integers(0, 6), st.integers(0, 6)),
                min_size=1, max_size=15))
@settings(max_examples=4, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_label_propagation_labels_are_node_ids_and_stable(spark, edges):
    """LPA invariants: every label is some vertex id of the graph, and
    the result is identical under input repartitioning (determinism)."""
    from nebula_storage_spark.operators.analytics import \
        label_propagation_fixed
    df = spark.createDataFrame(edges, "_src bigint, _dst bigint")
    a = sorted(map(tuple,
                   label_propagation_fixed(df, iterations=2).collect()))
    b = sorted(map(tuple, label_propagation_fixed(
        df.repartition(5), iterations=2).collect()))
    assert a == b
    nodes = {v for e in edges for v in e}
    assert {lbl for _, lbl in a} <= nodes


@pytest.mark.scaling  # r14: heavy hypothesis sweep (~44 s); runs in
# the close-out `pytest -m scaling` pass with assertions unchanged
@given(st.lists(st.integers(0, 9), min_size=1, max_size=40),
       st.lists(st.integers(0, 12), min_size=1, max_size=6, unique=True))
@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_count_min_never_underestimates(spark, items, queries):
    """CMS overestimate-only bound: for every queried item, the estimate
    is >= the true count, and exact when the sketch is collision-free
    (w >> distinct items)."""
    from nebula_storage_spark.operators.sketch import count_min_estimates
    it = spark.createDataFrame([(str(x),) for x in items], "item string")
    qs = spark.createDataFrame([(str(x),) for x in queries], "item string")
    truth = {str(q): sum(1 for x in items if x == q) for q in queries}
    got = {r.item: r.cnt_est
           for r in count_min_estimates(it, qs, d=3, w=64).collect()}
    for q, true_cnt in truth.items():
        assert got[q] >= true_cnt, (q, got[q], true_cnt)
    exact = {r.item: r.cnt_est
             for r in count_min_estimates(it, qs, d=3, w=4096).collect()}
    assert exact == truth


@given(st.lists(st.integers(0, 30), min_size=1, max_size=25, unique=True),
       st.lists(st.integers(0, 60), min_size=1, max_size=25, unique=True))
@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_bloom_membership_no_false_negatives(spark, members, probes):
    """Bloom filter law: a member NEVER tests negative, for any member /
    probe sets and a small (collision-prone) bit array."""
    from nebula_storage_spark.operators.sketch import bloom_membership
    ms = spark.createDataFrame([(str(x),) for x in members], "item string")
    ps = spark.createDataFrame([(str(x),) for x in probes], "item string")
    got = {r.item: r.maybe_present
           for r in bloom_membership(ms, ps, k=3, m_bits=256).collect()}
    for x in set(probes) & set(members):
        assert got[str(x)], f"false negative for member {x}"


@given(st.lists(st.integers(0, 500), min_size=1, max_size=60),
       st.integers(1, 7))
@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_hll_deterministic_under_repartition(spark, keys, nparts):
    """HLL sketch merge is commutative/associative, so the estimate must
    be identical under any input partitioning — and within tolerance of
    the exact count."""
    from nebula_storage_spark.operators.sketch import hll_cardinality
    df = spark.createDataFrame([("g", k) for k in keys],
                               "grp string, k bigint")
    a = hll_cardinality(df, "k", ["grp"], p=8).collect()[0]
    b = hll_cardinality(df.repartition(nparts), "k",
                        ["grp"], p=8).collect()[0]
    assert a.n_est == b.n_est
    assert a.n_exact == len(set(keys))


@given(st.lists(st.tuples(st.integers(0, 10**6), st.integers(0, 100)),
                min_size=1, max_size=50),
       st.integers(1, 8))
@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_global_running_sum_matches_sequential_scan(spark, rows, nparts):
    """Two-pass distributed prefix sum ≡ the sequential running total,
    for any unique key set and any range-partition count."""
    from nebula_storage_spark.operators.prefix import global_running_sum
    uniq = {}
    for k, v in rows:
        uniq[k] = v
    data = sorted(uniq.items())
    df = spark.createDataFrame(list(uniq.items()), "k bigint, v bigint")
    got = {r.k: r.cum for r in global_running_sum(
        df, ["k"], "v", "cum", num_partitions=nparts).collect()}
    run = 0
    for k, v in data:
        run += v
        assert got[k] == run, (k, got[k], run)


@given(st.lists(st.tuples(st.integers(0, 50), st.integers(0, 3)),
                min_size=1, max_size=25))
@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_broadcast_rank_matches_row_number(spark, rows):
    """Triangular broadcast rank ≡ row_number() over (v desc, k asc),
    for any unique-key frame."""
    from nebula_storage_spark.operators.prefix import broadcast_rank
    uniq = dict(rows)
    df = spark.createDataFrame(list(uniq.items()), "k bigint, v bigint")
    got = {(r.v, r.k): r.rn for r in
           broadcast_rank(df, ["v", "k"], [False, True], "rn").collect()}
    expect = {kv: i + 1 for i, kv in enumerate(
        sorted(((v, k) for k, v in uniq.items()),
               key=lambda t: (-t[0], t[1])))}
    assert got == expect


@given(st.lists(st.tuples(st.integers(0, 3), st.integers(0, 40)),
                min_size=1, max_size=20),
       st.lists(st.tuples(st.integers(0, 3), st.integers(-5, 45),
                          st.integers(-5, 45)),
                min_size=1, max_size=15),
       st.integers(1, 12))
@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_interval_point_join_matches_naive(spark, points, intervals, width):
    """Bin-bucketed interval join ≡ the naive inequality join, for any
    keys, any (possibly inverted) intervals, and any bin width."""
    from nebula_storage_spark.operators.rangejoin import interval_point_join
    p = spark.createDataFrame(
        [(k, t, i) for i, (k, t) in enumerate(points)],
        "k bigint, t bigint, pid bigint")
    iv = spark.createDataFrame(
        [(k, lo, hi, i) for i, (k, lo, hi) in enumerate(intervals)],
        "k bigint, lo bigint, hi bigint, iid bigint")
    got = {(r.pid, r.iid) for r in interval_point_join(
        p, iv, "k", "t", "lo", "hi", bin_width=width).collect()}
    expect = {(pi, ii)
              for pi, (pk, pt) in enumerate(points)
              for ii, (ik, lo, hi) in enumerate(intervals)
              if pk == ik and lo <= pt <= hi}
    assert got == expect


@given(st.lists(st.sets(st.integers(min_value=0, max_value=12),
                        min_size=1, max_size=8),
                min_size=2, max_size=8),
       st.sampled_from([50, 60, 75]))
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_setsim_prefix_join_is_lossless(spark, docs, pct):
    """Prefix filtering is EXACT: the candidate pruning may discard
    pairs, but every pair with Jaccard >= pct/100 must survive, and
    nothing below the threshold may appear — equality with the
    brute-force all-pairs answer, at any threshold."""
    from nebula_storage_spark.pipeline.dedup import setsim_prefix_join
    rows = [(i, f"t{t}") for i, s in enumerate(docs) for t in s]
    tok = spark.createDataFrame(rows, "doc_id bigint, t string")
    got = {(r.doc_a, r.doc_b): r.j_x100
           for r in setsim_prefix_join(tok, threshold_pct=pct).collect()}
    want = {}
    for a in range(len(docs)):
        for b in range(a + 1, len(docs)):
            i = len(docs[a] & docs[b])
            u = len(docs[a] | docs[b])
            if 100 * i >= pct * u:
                want[(a, b)] = (100 * i) // u
    assert got == want


def test_snapshot_diff_classifies_added_deleted_changed(spark):
    from nebula_storage_spark.store_io import snapshot_diff
    old = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", None)],
        "k bigint, name string, x int")
    new = spark.createDataFrame(
        [(1, "a", 10), (2, "B", 20), (4, "d", 40)],
        "k bigint, name string, x int")
    got = {r.k: (r.change, r.old_name, r.new_name)
           for r in snapshot_diff(old, new, "k", ["name", "x"]).collect()}
    # k=1 identical -> absent; NULL x on k=3 must not mask the delete
    assert got == {2: ("changed", "b", "B"),
                   3: ("deleted", "c", None),
                   4: ("added", None, "d")}


@pytest.mark.scaling  # r14: heaviest hypothesis sweep (~194 s — 6
# examples x 3 k-values of full truss peels); close-out `-m scaling`
@given(st.lists(st.tuples(st.integers(0, 7), st.integers(0, 7)),
                min_size=3, max_size=20))
@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_k_truss_is_monotone_in_k(spark, edges):
    """(k+1)-truss ⊆ k-truss on the same graph at the same round count —
    raising the support threshold can only remove edges."""
    from nebula_storage_spark.operators.analytics import k_truss_fixed
    df = spark.createDataFrame(
        [(a, b) for a, b in edges if a != b] or [(0, 1)],
        "_src bigint, _dst bigint")
    t3 = {(r.a, r.b) for r in k_truss_fixed(df, k=3, rounds=2).collect()}
    t4 = {(r.a, r.b) for r in k_truss_fixed(df, k=4, rounds=2).collect()}
    assert t4 <= t3


@given(st.lists(st.tuples(st.integers(0, 6), st.integers(10, 16)),
                min_size=2, max_size=15))
@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_hits_scores_bounded_and_max_normalized(spark, edges):
    """After every max-normalized round, scores sit in [0, scale] and —
    whenever any score is positive — some node holds exactly `scale`."""
    from nebula_storage_spark.operators.analytics import hits_fixed
    df = spark.createDataFrame(edges, "_src bigint, _dst bigint")
    rows = hits_fixed(df, iterations=2, scale=1000).collect()
    auths = [r.auth for r in rows]
    hubs = [r.hub for r in rows]
    assert all(0 <= v <= 1000 for v in auths + hubs)
    if any(v > 0 for v in auths):
        assert max(auths) == 1000
    if any(v > 0 for v in hubs):
        assert max(hubs) == 1000


@given(st.lists(st.tuples(st.integers(0, 8), st.integers(0, 8)),
                min_size=1, max_size=20),
       st.integers(min_value=2, max_value=8))
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_node2vec_walks_deterministic_and_edge_respecting(spark, edges,
                                                          nparts):
    """node2vec walks are identical at any input partitioning, and every
    hop in every path follows an existing directed edge."""
    from nebula_storage_spark.operators.walk import node2vec_walks
    es = [(a, b) for a, b in edges if a != b] or [(0, 1)]
    df = spark.createDataFrame(es, "_src bigint, _dst bigint")
    seeds = spark.createDataFrame([(s,) for s in {a for a, _ in es}],
                                  "node bigint")
    w1 = {(r.walk_id, r.path)
          for r in node2vec_walks(df, seeds, steps=2).collect()}
    w2 = {(r.walk_id, r.path)
          for r in node2vec_walks(df.repartition(nparts), seeds,
                                  steps=2).collect()}
    assert w1 == w2
    eset = set(es)
    for _, path in w1:
        hops = [int(x) for x in path.split("->")]
        for a, b in zip(hops, hops[1:]):
            assert (a, b) in eset


@given(st.lists(st.tuples(st.integers(0, 50), st.integers(1, 50)),
                min_size=1, max_size=40))
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_skyline_two_pass_matches_naive_dominance(spark, pts):
    """The bucketed two-pass skyline equals the O(n²) dominance filter:
    keep p iff no q has (price <, size >=) and no equal-price q has
    strictly greater size."""
    from pyspark.sql import Window as W, functions as F
    rows = [(i, p, s) for i, (p, s) in enumerate(pts)]
    df = spark.createDataFrame(rows, "id bigint, price bigint, size bigint")
    naive = {(i, p, s) for i, p, s in rows
             if not any((q < p and t >= s) or (q == p and t > s)
                        for _, q, t in rows)}
    b = df.withColumn("bkt", F.expr("price DIV 7"))
    bmax = b.groupBy("bkt").agg(F.max("size").alias("bmax"))
    prior = (bmax.alias("a")
             .join(F.broadcast(bmax.alias("b")),
                   F.col("b.bkt") < F.col("a.bkt"), "left")
             .groupBy(F.col("a.bkt").alias("bkt"))
             .agg(F.max("b.bmax").alias("prior_max")))
    wb = (W.partitionBy("bkt").orderBy("price")
          .rangeBetween(W.unboundedPreceding, -1))
    weq = W.partitionBy("bkt", "price")
    out = (b.join(F.broadcast(prior), "bkt")
           .withColumn("lower_max", F.greatest(
               F.coalesce(F.max("size").over(wb), F.lit(-1)),
               F.coalesce("prior_max", F.lit(-1))))
           .withColumn("eq_max", F.max("size").over(weq))
           .filter((F.col("size") > F.col("lower_max"))
                   & (F.col("size") == F.col("eq_max"))))
    got = {(r.id, r.price, r.size) for r in out.collect()}
    assert got == naive


@given(st.lists(st.text(alphabet="abc", min_size=1, max_size=6),
                min_size=1, max_size=25))
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_bpe_merge_freqs_are_non_increasing(spark, words):
    """Classic BPE invariant: the selected pair frequency never rises
    across merge rounds (a later pair either existed earlier with freq
    <= the then-best, or contains the new symbol, bounded by its merge
    count)."""
    from nebula_storage_spark.pipeline.bpe import bpe_train_merges
    docs = spark.createDataFrame([(" ".join(words),)], "text string")
    rows = bpe_train_merges(docs, rounds=3).collect()
    freqs = [r.freq for r in sorted(rows, key=lambda r: r.merge_idx)]
    assert freqs == sorted(freqs, reverse=True)
    assert len({(r.lhs, r.rhs) for r in rows}) == len(rows)


@given(st.lists(st.tuples(st.integers(0, 30), st.integers(0, 6)),
                min_size=2, max_size=25))
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_rendezvous_moves_land_only_on_the_new_part(spark, keys):
    """Rendezvous hashing's elasticity invariant: growing P to P+1
    moves a key ONLY to the new part (a key's winner among the old
    parts is unchanged), so movement is bounded by the new part's
    share."""
    from pyspark.sql import functions as F
    vids = spark.createDataFrame([(k,) for k, _ in keys],
                                 "vid bigint").distinct()
    h = ("CAST(conv(substring(md5(concat(CAST(vid AS STRING), '#', "
         "CAST(p AS STRING))), 1, 15), 16, 10) AS BIGINT)")
    w = (vids.select("vid", F.explode(F.expr("sequence(0, 4)")).alias("p"))
         .withColumn("hw", F.expr(h)))
    a4 = w.filter("p < 4").groupBy("vid").agg(
        F.expr("max_by(p, struct(hw, p))").alias("old"))
    a5 = w.groupBy("vid").agg(
        F.expr("max_by(p, struct(hw, p))").alias("new"))
    for r in a4.join(a5, "vid").collect():
        assert r.old == r.new or r.new == 4


def test_kcenter_distances_are_non_increasing(spark, sf_dir):
    """Farthest-point traversal: each chosen center's distance to the
    prior centers is <= the previous round's (the greedy 2-approx
    guarantee's monotone core)."""
    from nebula_storage_spark.workload_ext4 import q_kcenter_init
    rows = sorted(q_kcenter_init(spark, sf_dir).collect(),
                  key=lambda r: r.center_idx)
    d2s = [r.d2 for r in rows[1:]]
    assert d2s == sorted(d2s, reverse=True)


@given(st.lists(st.tuples(st.integers(0, 8), st.integers(100, 105)),
                min_size=1, max_size=30))
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_butterfly_equals_naive_k22_enumeration(spark, edges):
    """The wedge-aggregation butterfly count equals brute-force K2,2
    enumeration over distinct bipartite edges."""
    from itertools import combinations
    from pyspark.sql import functions as F
    es = sorted(set(edges))
    naive = 0
    parts = sorted({p for p, _ in es})
    for p1, p2 in combinations(parts, 2):
        shared = len({s for p, s in es if p == p1}
                     & {s for p, s in es if p == p2})
        naive += shared * (shared - 1) // 2
    ps = spark.createDataFrame(es, "p bigint, s bigint").distinct()
    grouped = ps.groupBy("s").agg(F.sort_array(F.collect_set("p")).alias("xs"))
    got = (grouped.select(F.explode(F.expr(
        "flatten(transform(xs, (x, i) -> "
        "transform(slice(xs, i + 2, size(xs) - i - 1), "
        "y -> struct(x AS a, y AS b))))")).alias("e"))
        .groupBy("e.a", "e.b").agg(F.count(F.lit(1)).alias("shared"))
        .agg(F.coalesce(F.sum(F.expr("shared * (shared - 1) DIV 2")),
                        F.lit(0)).alias("bf"))).first().bf
    assert got == naive


@given(st.lists(st.tuples(st.integers(0, 12), st.integers(0, 12)),
                min_size=1, max_size=40))
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_greedy_coloring_is_proper(spark, edges):
    """Jones-Plassmann invariant: no edge joins two DECIDED nodes of the
    same color (undecided nodes report -1 and are exempt), every
    assigned color is < rounds, and the assignment is identical under
    repartition."""
    from nebula_storage_spark.operators.analytics import greedy_coloring
    rounds = 4
    df = spark.createDataFrame([(a, b, 0) for a, b in edges],
                               "_src bigint, _dst bigint, _rank bigint")
    col = {r.node: r.color
           for r in greedy_coloring(df, rounds=rounds).collect()}
    assert col == {r.node: r.color for r in greedy_coloring(
        df.repartition(5), rounds=rounds).collect()}
    for a, b in edges:
        if a == b:
            continue
        ca, cb = col[a], col[b]
        assert ca < rounds and cb < rounds
        if ca != -1 and cb != -1:
            assert ca != cb, f"edge ({a},{b}) monochromatic color {ca}"


@pytest.mark.scaling  # r14: heavy hypothesis sweep (~42 s); the
# pendant-triangle operator test keeps truss coverage in the fast suite
@given(st.lists(st.tuples(st.integers(0, 9), st.integers(0, 9)),
                min_size=3, max_size=35))
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_k_truss_rounds_shrink_monotonically(spark, edges):
    """k-truss peel monotonicity: the round-(r+1) edge set is a subset of
    round r's, and a surviving edge's recounted support never grows."""
    from nebula_storage_spark.operators.analytics import k_truss_fixed
    df = spark.createDataFrame([(a, b, 0) for a, b in edges],
                               "_src bigint, _dst bigint, _rank bigint")
    r1 = {(r.a, r.b): r.support for r in k_truss_fixed(df, k=3, rounds=1).collect()}
    r2 = {(r.a, r.b): r.support for r in k_truss_fixed(df, k=3, rounds=2).collect()}
    assert set(r2) <= set(r1)
    for e, s2 in r2.items():
        assert s2 <= r1[e], f"support grew for {e}: {r1[e]} -> {s2}"


def test_pq_adc_self_distance_is_minimal(spark, sf_dir):
    """ADC lower-bound invariant: code(q, s) is the NEAREST centroid to
    q's subvector, so est_d2(q, q) = sum_s min_j d(q_s, c_j) <=
    est_d2(q, x) for EVERY corpus x — the query's own reconstruction is
    its ADC-nearest. Checked on the full (untruncated) ADC scan."""
    from nebula_storage_spark.pipeline.pq import pq_adc_topk
    from nebula_storage_spark.graph import read_parquet
    emb = read_parquet(spark, f"{sf_dir}/embeddings.parquet")
    full = pq_adc_topk(emb, n_queries=3, topk=1 << 30)
    rows = full.collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.q_id, []).append(r)
    for q, rs in by_q.items():
        self_d = next(r.est_d2 for r in rs if r.vec_id == q)
        assert self_d == min(r.est_d2 for r in rs)


def test_pq_adc_survives_emptied_cluster(spark):
    """Non-contiguous-cid regression (r8 ADVICE): duplicate subvectors
    among the k seed vectors empty the duplicate's cluster at the first
    refit — in subspace 0 below, seeds 0 and 1 share [0,0] so every
    point ties to cid 0 and cluster 1 vanishes, leaving surviving cids
    {0, 2}. The pre-fix positional darr then had 2 entries while code 2
    indexed slot 3 (INVALID_ARRAY_INDEX under ANSI mode) and any
    in-bounds gap read the WRONG dq. The densified lookup must (a) run,
    and (b) keep the ADC lower-bound invariant: the query's own
    reconstruction is its ADC-nearest, and every corpus vector sharing
    the query's codes ties with it at the same est_d2."""
    from nebula_storage_spark.pipeline.pq import pq_adc_topk
    rows = [
        # vec_id, [sub0 | sub1] (dim 4, subspaces 2)
        (0, [0.0, 0.0, 0.0, 0.0]),
        (1, [0.0, 0.0, 50.0, 50.0]),      # sub0 duplicates seed 0's
        (2, [100.0, 100.0, 100.0, 100.0]),
        (3, [0.000001, 0.0, 0.0, 0.000001]),
        (4, [100.000001, 100.0, 50.0, 50.000001]),
        (5, [100.0, 100.000001, 100.000001, 100.0]),
    ]
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id bigint, embedding array<float>")
    full = pq_adc_topk(emb, n_queries=2, subspaces=2, k=3, iterations=2,
                       topk=1 << 30)
    got = full.collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r.q_id, []).append(r)
    assert set(by_q) == {0, 1}
    for q, rs in by_q.items():
        assert len(rs) == len(rows)
        self_d = next(r.est_d2 for r in rs if r.vec_id == q)
        assert self_d == min(r.est_d2 for r in rs), (q, rs)
    # vec 3 quantizes onto vec 0's codes in both subspaces -> exact tie
    d0 = {r.vec_id: r.est_d2 for r in by_q[0]}
    assert d0[3] == d0[0]


def test_pq_rerank_matches_bruteforce_within_candidates(spark, sf_dir):
    """The rerank composition's contract: with `candidates` covering
    the whole corpus, pq_rerank_topk IS knn_bruteforce (same quantize,
    same cos, same (cos desc, vec_id) order, self excluded) — the
    approximation lives only in the candidate cut, never in the
    arithmetic."""
    from nebula_storage_spark.graph import read_parquet
    from nebula_storage_spark.pipeline.pq import pq_rerank_topk
    from nebula_storage_spark.pipeline.similarity import knn_bruteforce
    emb = read_parquet(spark, f"{sf_dir}/embeddings.parquet")
    n = emb.count()
    got = pq_rerank_topk(emb, n_queries=3, candidates=n, topk=5).collect()
    exact = knn_bruteforce(emb, [0, 1, 2], k=5).collect()
    assert ({(r.q_id, r.vec_id, r.cos) for r in got}
            == {(r.q_id, r.n_id, r.cos) for r in exact})


@given(st.lists(st.tuples(st.integers(0, 8), st.integers(0, 8)),
                min_size=1, max_size=30))
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_scc_coloring_matches_tarjan(spark, edges):
    """scc_coloring emits EXACTLY the strongly connected components:
    compared as partitions against an iterative Tarjan run driver-side
    on the same edge list (stronger than the r3-advice sampled-pair
    reachability check — every pair is pinned). driver_tail_edges=0
    forces the DISTRIBUTED trim/color/peel loop — the default would
    route graphs this small through the driver-tail Tarjan, which
    would make this test circular."""
    from nebula_storage_spark.operators.analytics import scc_coloring
    es = sorted({(a, b) for a, b in edges if a != b})
    if not es:
        return
    df = spark.createDataFrame([(a, b, 0) for a, b in es],
                               "_src bigint, _dst bigint, _rank bigint")
    got = {}
    for r in scc_coloring(df, driver_tail_edges=0).collect():
        got.setdefault(r.scc_id, set()).add(r.node)
    # iterative Tarjan
    nodes = sorted({n for e in es for n in e})
    adj = {n: [] for n in nodes}
    for a, b in es:
        adj[a].append(b)
    index, low, onstk, stk, comps = {}, {}, set(), [], []
    counter = [0]
    for root in nodes:
        if root in index:
            continue
        work = [(root, 0)]
        while work:
            v, pi = work[-1]
            if pi == 0:
                index[v] = low[v] = counter[0]
                counter[0] += 1
                stk.append(v)
                onstk.add(v)
            recurse = False
            for i in range(pi, len(adj[v])):
                w = adj[v][i]
                if w not in index:
                    work[-1] = (v, i + 1)
                    work.append((w, 0))
                    recurse = True
                    break
                if w in onstk:
                    low[v] = min(low[v], index[w])
            if recurse:
                continue
            if low[v] == index[v]:
                comp = set()
                while True:
                    w = stk.pop()
                    onstk.discard(w)
                    comp.add(w)
                    if w == v:
                        break
                comps.append(comp)
            work.pop()
            if work:
                u = work[-1][0]
                low[u] = min(low[u], low[v])
    want = {frozenset(c) for c in comps}
    assert {frozenset(c) for c in got.values()} == want


@given(st.lists(st.tuples(st.integers(0, 10), st.integers(0, 10)),
                min_size=1, max_size=40))
@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_scc_driver_tail_agrees_with_distributed_loop(spark, edges):
    """The driver-tail Tarjan path (default for small remainders) and
    the forced distributed trim/color/peel loop produce the identical
    (node, scc_id) labeling — min member labels the component on both
    paths, so they compose at any crossover point."""
    from nebula_storage_spark.operators.analytics import scc_coloring
    es = sorted({(a, b) for a, b in edges if a != b})
    if not es:
        return
    df = spark.createDataFrame([(a, b, 0) for a, b in es],
                               "_src bigint, _dst bigint, _rank bigint")
    tail = {(r.node, r.scc_id) for r in scc_coloring(df).collect()}
    loop = {(r.node, r.scc_id)
            for r in scc_coloring(df, driver_tail_edges=0).collect()}
    assert tail == loop


def test_scc_tail_engages_after_peel(spark):
    """The driver tail must also be correct when it engages AFTER a
    distributed peel round — by then cur has been through using-column
    semi/anti joins that move the join key first, flipping the column
    order to [_dst, _src] (r5 advice: a positional collect would hand
    Tarjan the REVERSED edge list; only name-based access is safe, and
    the tiny-graph agreement test above never reaches this regime).

    Graph: three 5-cycles chained min→min (17 edges, SCC-DAG levels =
    3). driver_tail_edges=12 forces round 1 through the distributed
    trim/color/peel (17 > 12), which peels exactly the first cycle;
    the 11 surviving edges then drop into the tail. SCCs and their
    min-member ids are known in closed form."""
    from nebula_storage_spark.operators.analytics import (
        SCC_STATS, scc_coloring)
    es = []
    for c in range(3):
        base = 10 * c
        es += [(base + i, base + (i + 1) % 5) for i in range(5)]
    es += [(0, 10), (10, 20)]  # DAG chain between cycle minima
    df = spark.createDataFrame([(a, b, 0) for a, b in es],
                               "_src bigint, _dst bigint, _rank bigint")
    got = {(r.node, r.scc_id)
           for r in scc_coloring(df, driver_tail_edges=12).collect()}
    want = {(10 * c + i, 10 * c) for c in range(3) for i in range(5)}
    assert got == want
    # pin the regime itself: at least one distributed outer round ran,
    # and the tail then took over a nonzero remainder
    assert SCC_STATS["outer"], "distributed loop never ran"
    assert SCC_STATS["tail_edges"] == [11], (
        f"tail engaged at {SCC_STATS['tail_edges']}, expected [11]")


def test_pid_staging_root_reap_semantics(tmp_path):
    """pid_staging_root must (1) reap dead-pid and legacy-layout dirs
    past the grace window, (2) leave recently-written dirs alone (the
    pid-recycling race guard), (3) run the sweep only once per
    (process, base)."""
    import os
    import time

    from nebula_storage_spark import staging

    base = str(tmp_path / "stage")
    os.makedirs(base)
    old = time.time() - staging.REAP_GRACE_SECS - 60
    # dead-pid dir, stale → reaped (pid 2**22+5 exceeds kernel pid_max)
    dead = f"{base}/sf0.01_4194309"
    # legacy pre-pid layout, stale → reaped
    legacy = f"{base}/sf0.01"
    # dead-pid dir but RECENT mtime → kept (grace window)
    fresh = f"{base}/sf0.01_4194310"
    # live-pid dir, stale mtime → kept (owner still running)
    live = f"{base}/sf0.01_{os.getpid() + 0}"
    for d in (dead, legacy, fresh, live):
        os.makedirs(d)
    for d in (dead, legacy, live):
        os.utime(d, (old, old))

    staging._reaped_bases.discard(base)
    got = staging.pid_staging_root(base, "sf0.01")
    assert got == f"{base}/sf0.01_{os.getpid()}"
    assert not os.path.exists(dead)
    assert not os.path.exists(legacy)
    assert os.path.exists(fresh)
    assert os.path.exists(live)

    # memoized: a newly-stale dir is NOT reaped on the second call
    late = f"{base}/sf0.01_4194311"
    os.makedirs(late)
    os.utime(late, (old, old))
    staging.pid_staging_root(base, "sf0.01")
    assert os.path.exists(late)


def test_pq_adc_prefilter_is_bit_identical(spark, sf_dir):
    """The big-R histogram prefilter (round 9) is an EXACT-superset
    cut: per query the first est_d2 bucket whose cumulative count
    reaches topk yields a threshold whose rank is >= topk by
    construction, so filtering est_d2 <= thr before the exact window
    cannot drop a true top-k row — the output must be bit-identical
    to the plain single-sort plan. Pinned across bucket resolutions
    (coarse buckets widen the superset, never the result), a config
    where topk exceeds the corpus (threshold falls back to the last
    bucket and keeps everything), and the production-shaped k=32
    codebooks."""
    from nebula_storage_spark.graph import read_parquet
    from nebula_storage_spark.pipeline.pq import (
        pq_adc_scan, pq_train_encode)
    emb = read_parquet(spark, f"{sf_dir}/embeddings.parquet")
    for k, nq, topk, buckets in ((4, 3, 5, 2048), (4, 8, 20, 16),
                                 (32, 5, 100, 64), (4, 2, 1 << 30, 8)):
        codes, qwide = pq_train_encode(emb, n_queries=nq, k=k)
        plain = sorted(map(tuple, pq_adc_scan(
            codes, qwide, topk=topk).collect()))
        fast = sorted(map(tuple, pq_adc_scan(
            codes, qwide, topk=topk, prefilter=True,
            prefilter_buckets=buckets).collect()))
        assert plain == fast, (k, nq, topk, buckets)
        assert len(plain) == min(topk, emb.count()) * nq


def test_pq_sampled_training_keeps_adc_invariants(spark, sf_dir):
    """train_fraction < 1.0 (round 9, the 100 TB training posture)
    changes the MODEL — codebooks fit a deterministic md5-PRF sample —
    not the contract: the encode still covers the FULL corpus, the
    per-query lookup arrays still densify to k slots, and the ADC
    lower-bound invariant (the query's own reconstruction is its
    ADC-nearest) holds for ANY codebook as long as query codes and
    corpus codes derive from the same one, so it holds for the sampled
    one. Determinism pinned by a second run."""
    from nebula_storage_spark.graph import read_parquet
    from nebula_storage_spark.pipeline.pq import pq_adc_topk
    emb = read_parquet(spark, f"{sf_dir}/embeddings.parquet")
    n = emb.count()
    rows = pq_adc_topk(emb, n_queries=2, topk=1 << 30,
                       train_fraction=0.5).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.q_id, []).append(r)
    assert set(by_q) == {0, 1}
    for q, rs in by_q.items():
        assert len(rs) == n
        self_d = next(r.est_d2 for r in rs if r.vec_id == q)
        assert self_d == min(r.est_d2 for r in rs)
    again = {tuple(r) for r in pq_adc_topk(
        emb, n_queries=2, topk=1 << 30, train_fraction=0.5).collect()}
    assert again == {tuple(r) for r in rows}


@given(st.lists(st.tuples(st.integers(0, 40),       # batch key
                          st.booleans()),           # True = delete it too
                min_size=1, max_size=12, unique_by=lambda t: t[0]),
       st.integers(min_value=2, max_value=16),      # n_buckets
       st.sampled_from(["bigint", "int", "smallint"]))  # batch key dtype
@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_bucketed_upsert_partial_rewrite_is_postimage_exact(
        spark, tmp_path_factory, batch_keys, n_buckets, key_dtype):
    """Property: for ANY batch (update keys, insert keys — ids >= 20
    are absent from the 20-row table — under any bucket count, with
    the batch's key column in ANY narrower integral dtype than the
    table's bigint: hash() is type-sensitive, so align_key_types must
    cast before bucketing or keys route to wrong buckets) the
    bucketed partial-rewrite apply (mutate/bucketed.py) produces a
    table bit-equal to the full-table logical upsert()'s post-image,
    and a follow-up bucketed delete equals the anti-join. This is the
    exactness half of the tools/mutate_scaling.py contract with the
    batch shape randomized instead of fixed."""
    import os
    from pyspark.sql import functions as F
    from nebula_storage_spark.mutate import upsert
    from nebula_storage_spark.mutate.bucketed import (
        delete_bucketed, read_bucketed, upsert_bucketed, write_bucketed)

    table = spark.range(20).select(
        F.col("id").alias("k"), (F.col("id") * 2.0).alias("bal"))
    set_exprs = {"bal": "coalesce(t.bal, 0.0) + s.delta"}
    batch = spark.createDataFrame(
        [(k, float(k) + 0.5) for k, _ in batch_keys],
        f"k {key_dtype}, delta double")
    path = str(tmp_path_factory.mktemp("bm") / "t")
    write_bucketed(table, "k", path, n_buckets=n_buckets)
    upsert_bucketed(spark, path, batch, ["k"], set_exprs,
                    n_buckets=n_buckets)
    post = upsert(table, batch, ["k"], set_exprs)
    got = sorted(map(tuple, read_bucketed(spark, path).collect()))
    want = sorted(map(tuple, post.collect()))
    assert got == want

    dels = [k for k, d in batch_keys if d]
    if dels:
        keys = spark.createDataFrame([(k,) for k in dels],
                                     f"k {key_dtype}")
        delete_bucketed(spark, path, keys, "k", n_buckets=n_buckets)
        got = sorted(map(tuple, read_bucketed(spark, path).collect()))
        want = sorted(map(tuple,
                          post.join(keys, "k", "left_anti").collect()))
        assert got == want
