"""Unit tests for operators/graph.connected_components — handcrafted
graphs exercising the shapes the dedup-cluster query can't guarantee
to hit in synthetic data (deep chains needing multiple propagation
rounds, isolated vertices, reversed edge orientation, merging stars)."""

from __future__ import annotations

from pyspark.sql import functions as F

from nvd2mysqlloader_spark.operators.graph import connected_components


def _cc(spark, nodes, edges):
    ndf = spark.createDataFrame([(n,) for n in nodes], ["id"])
    edf = (spark.createDataFrame([(s, d) for s, d in edges], ["src", "dst"])
           if edges else
           spark.createDataFrame([], "src BIGINT, dst BIGINT"))
    out = connected_components(ndf, edf).collect()
    return {r["id"]: r["component"] for r in out}


def test_chain_propagates_min_to_far_end(spark):
    # 1-2-3-4-5-6-7: diameter 6 -> several propagation rounds
    got = _cc(spark, range(1, 8), [(i, i + 1) for i in range(1, 7)])
    assert got == {i: 1 for i in range(1, 8)}


def test_two_components_and_isolated_vertex(spark):
    got = _cc(spark, [1, 2, 3, 10, 11, 99],
              [(2, 1), (3, 2), (11, 10)])
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 99: 99}


def test_edge_orientation_irrelevant(spark):
    fwd = _cc(spark, [1, 2, 3], [(1, 2), (2, 3)])
    rev = _cc(spark, [1, 2, 3], [(2, 1), (3, 2)])
    assert fwd == rev == {1: 1, 2: 1, 3: 1}


def test_two_stars_merged_by_bridge(spark):
    # stars around 1 and 10 merge through the 5-10 bridge -- the
    # exact+prefix two-relation merge the dedup query relies on
    edges = [(2, 1), (3, 1), (4, 1), (11, 10), (12, 10), (5, 1), (5, 10)]
    got = _cc(spark, [1, 2, 3, 4, 5, 10, 11, 12], edges)
    assert set(got.values()) == {1}


def test_self_loops_and_duplicate_edges_tolerated(spark):
    got = _cc(spark, [1, 2], [(1, 1), (2, 1), (1, 2), (2, 1)])
    assert got == {1: 1, 2: 1}


# ---------------------------------------------------------------------------
# Alternating large-star/small-star variant (Kiveris et al., SoCC'14)

from hypothesis import HealthCheck, given, settings          # noqa: E402
from hypothesis import strategies as st                      # noqa: E402

from nvd2mysqlloader_spark.operators.graph import (          # noqa: E402
    connected_components_alternating)


def _cc_alt(spark, nodes, edges):
    ndf = spark.createDataFrame([(n,) for n in nodes], ["id"])
    edf = (spark.createDataFrame([(s, d) for s, d in edges], ["src", "dst"])
           if edges else
           spark.createDataFrame([], "src BIGINT, dst BIGINT"))
    out = connected_components_alternating(ndf, edf).collect()
    return {r["id"]: r["component"] for r in out}


def _union_find(nodes, edges):
    """Pure-Python twin: reachable-min per node."""
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for s, d in edges:
        rs, rd = find(s), find(d)
        if rs != rd:
            parent[max(rs, rd)] = min(rs, rd)
    return {n: find(n) for n in nodes}


def test_alternating_matches_propagation_on_chain(spark):
    nodes, edges = list(range(1, 12)), [(i, i + 1) for i in range(1, 11)]
    assert _cc_alt(spark, nodes, edges) == _cc(spark, nodes, edges)


def test_alternating_isolated_and_multi_component(spark):
    got = _cc_alt(spark, [1, 2, 3, 10, 11, 99], [(2, 1), (3, 2), (11, 10)])
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 99: 99}


def test_alternating_self_loops_and_duplicates(spark):
    got = _cc_alt(spark, [1, 2], [(1, 1), (2, 1), (1, 2), (2, 1)])
    assert got == {1: 1, 2: 1}


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.too_slow,
                                 HealthCheck.function_scoped_fixture])
@given(st.lists(
    st.tuples(st.integers(min_value=0, max_value=24),
              st.integers(min_value=0, max_value=24)),
    max_size=40))
def test_both_variants_match_union_find(spark, edges):
    nodes = sorted({0, 24} | {v for e in edges for v in e})
    want = _union_find(nodes, edges)
    assert _cc(spark, nodes, edges) == want
    assert _cc_alt(spark, nodes, edges) == want


def test_phantom_edge_endpoints_tolerated_by_both_variants(spark):
    """An edge endpoint missing from the node set must still conduct
    connectivity (1-2-3 with 2 unlisted: 3 must land in component 1,
    not converge early into its own) and appears in the output of BOTH
    variants identically."""
    want = {1: 1, 2: 1, 3: 1}
    assert _cc(spark, [1, 3], [(1, 2), (2, 3)]) == want
    assert _cc_alt(spark, [1, 3], [(1, 2), (2, 3)]) == want


def test_reliable_checkpoint_path(tmp_path):
    """With spark.checkpoint.dir configured, the SAME iterative loops
    run on reliable checkpoint() (the 100 TB conf's executor-loss
    story) and produce identical results, and ``cut_lineage(eager=
    False)`` there computes its upstream ONCE (ADVICE r13 #3: a lazy
    reliable checkpoint writes its files in a second job that
    recomputes the upstream, so that branch stays eager). Isolated in
    a subprocess: a checkpoint dir cannot be unset on a live
    SparkContext and must not leak into the rest of the suite."""
    import subprocess
    import sys
    code = f"""
import sys
sys.path.insert(0, "/root/repo")
from nvd2mysqlloader_spark.session import get_spark
spark = get_spark("reliable-cp-test", shuffle_partitions=4)
spark.sparkContext.setCheckpointDir("{tmp_path}/cp")
from nvd2mysqlloader_spark.operators.graph import (
    connected_components, connected_components_alternating)
ndf = spark.createDataFrame([(n,) for n in range(1, 8)], ["id"])
edf = spark.createDataFrame([(i, i + 1) for i in range(1, 7)],
                            ["src", "dst"])
for fn in (connected_components, connected_components_alternating):
    got = {{r["id"]: r["component"] for r in fn(ndf, edf).collect()}}
    assert got == {{i: 1 for i in range(1, 8)}}, got
import os
found = any(fns for _, _, fns in os.walk("{tmp_path}/cp"))
assert found, "no reliable checkpoint files were written"
from pyspark.sql import functions as F, types as T
from nvd2mysqlloader_spark.operators._lineage import cut_lineage
calls = spark.sparkContext.accumulator(0)
@F.udf(T.LongType())
def counted(x):
    calls.add(1)
    return x
cut = cut_lineage(spark.range(50, numPartitions=2)
                  .select(counted("id").alias("id")), eager=False)
assert cut.count() == 50 and cut.count() == 50
assert calls.value == 50, f"upstream ran {{calls.value // 50}} times"
print("RELIABLE_OK")
"""
    out = subprocess.run([sys.executable, "-c", code],
                         capture_output=True, text=True, timeout=300)
    assert "RELIABLE_OK" in out.stdout, (out.stdout[-2000:],
                                         out.stderr[-2000:])


# ---------------------------------------------------------------- pagerank

def _pagerank_twin(nodes, edges, iters=6, total=10**12, d=85):
    """Pure-Python twin of operators/graph.pagerank — the identical
    BIGINT fixed-point recurrence, driver-side, dict arithmetic."""
    nodes = sorted(set(nodes) | {s for s, _ in edges} | {t for _, t in edges})
    n = len(nodes)
    base = total // n
    teleport = (100 - d) * base // 100
    outdeg: dict = {}
    for s, _ in edges:
        outdeg[s] = outdeg.get(s, 0) + 1
    rank = {v: base for v in nodes}
    for _ in range(iters):
        inc = {v: 0 for v in nodes}
        for s, t in edges:
            inc[t] += rank[s] // outdeg[s]
        dang = sum(rank[v] for v in nodes if v not in outdeg)
        rank = {v: teleport + (d * (inc[v] + dang // n)) // 100
                for v in nodes}
    return rank


def _pr(spark, nodes, edges, **kw):
    from nvd2mysqlloader_spark.operators.graph import pagerank
    ndf = spark.createDataFrame([(v,) for v in nodes], "id BIGINT")
    edf = (spark.createDataFrame(edges, "src BIGINT, dst BIGINT")
           if edges else spark.createDataFrame([], "src BIGINT, dst BIGINT"))
    out = pagerank(ndf, edf, **kw).collect()
    return {r["id"]: r["rank_fp"] for r in out}


def test_pagerank_matches_python_twin_exactly(spark):
    """Seeded random digraph with every edge-case shape at once:
    dangling nodes (no out-edges), an isolated vertex, parallel
    edges (weighted links), a self-loop, and endpoints absent from
    the node list. Ranks must be BIT-IDENTICAL to the driver-side
    twin — integer fixed-point has no summation-order slack."""
    import random
    rng = random.Random(7)
    nodes = list(range(30))            # 25..29 get no out-edges
    edges = [(rng.randrange(25), rng.randrange(30)) for _ in range(120)]
    edges += [(3, 4), (3, 4), (5, 5)]  # parallel edges + self-loop
    edges += [(2, 31), (31, 1)]        # 31 not in `nodes`
    nodes_listed = [v for v in nodes if v != 29] + [99]  # 99 isolated
    got = _pr(spark, nodes_listed, edges)
    want = _pagerank_twin(nodes_listed, edges)
    assert got == want


def test_pagerank_approximates_float_power_iteration(spark):
    """The fixed-point recurrence tracks the standard float PageRank:
    after 6 iterations every rank agrees within the truncation slack
    (per-node leak ≤ (|V|+1 drops)·1 unit/step, amortized ≪ 1e-6
    relative at total=1e12 — assert a generous 1e-6 band)."""
    import random
    rng = random.Random(11)
    nodes = list(range(40))
    edges = list({(rng.randrange(40), rng.randrange(40))
                  for _ in range(200)})
    got = _pr(spark, nodes, edges)
    # float reference
    n = len(nodes)
    outdeg: dict = {}
    for s, _ in edges:
        outdeg[s] = outdeg.get(s, 0) + 1
    rank = {v: 1.0 / n for v in nodes}
    for _ in range(6):
        inc = {v: 0.0 for v in nodes}
        for s, t in edges:
            inc[t] += rank[s] / outdeg[s]
        dang = sum(rank[v] for v in nodes if v not in outdeg)
        rank = {v: 0.15 / n + 0.85 * (inc[v] + dang / n) for v in nodes}
    for v in nodes:
        assert abs(got[v] / 10**12 - rank[v]) < 1e-6, (v, got[v], rank[v])


def test_pagerank_mass_and_floor_invariants(spark):
    """Total mass stays within truncation leak of 1.0 and every node
    keeps at least the teleport floor (dangling redistribution means
    sinks do NOT evaporate: a pure source→sink bipartite graph keeps
    the sink above the floor)."""
    got = _pr(spark, [1, 2, 3, 4], [(1, 4), (2, 4), (3, 4)])
    total = sum(got.values())
    assert 0.999 * 10**12 < total <= 10**12
    base = 10**12 // 4
    floor = 15 * base // 100
    assert all(r >= floor for r in got.values())
    # the sink concentrates the mass; sources only hold teleport+dangling
    assert got[4] > got[1] == got[2] == got[3] > floor


def test_pagerank_empty_graph(spark):
    assert _pr(spark, [], []) == {}


# ------------------------------------------------------------------- HITS

def _hits_twin(edges, iters=4, total=10**9):
    """Pure-Python twin of operators/graph.hits — identical BIGINT
    recurrence with div-by-scalar renormalization."""
    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    a = {x: total // len(nodes) for x in nodes}
    h = {x: 0 for x in nodes}
    for _ in range(iters):
        hraw = {x: 0 for x in nodes}
        for u, v in edges:
            hraw[u] += a[v]
        s = max(sum(hraw.values()) // total, 1)
        h = {x: hraw[x] // s for x in nodes}
        araw = {x: 0 for x in nodes}
        for u, v in edges:
            araw[v] += h[u]
        s = max(sum(araw.values()) // total, 1)
        a = {x: araw[x] // s for x in nodes}
    return {x: (h[x], a[x]) for x in nodes}


def _hits(spark, edges, **kw):
    from nvd2mysqlloader_spark.operators.graph import hits
    edf = (spark.createDataFrame(edges, "src BIGINT, dst BIGINT")
           if edges else spark.createDataFrame([], "src BIGINT, dst BIGINT"))
    out = hits(edf, **kw).collect()
    return {r["id"]: (r["hub_fp"], r["auth_fp"]) for r in out}


def test_hits_matches_python_twin_exactly(spark):
    """Seeded random digraph with sinks (hub 0), sources (auth 0),
    parallel edges, and a self-loop: scores BIT-IDENTICAL to the
    driver twin — the div-by-scalar normalization has no float slack."""
    import random
    rng = random.Random(13)
    edges = [(rng.randrange(20), 20 + rng.randrange(15))
             for _ in range(80)]               # bipartite core
    edges += [(3, 21), (3, 21), (7, 7)]        # parallel + self-loop
    edges += [(40, 22)]                        # extra source
    got = _hits(spark, edges)
    assert got == _hits_twin(edges)


def test_hits_bipartite_roles(spark):
    """On a pure bipartite graph sinks have hub 0, sources auth 0,
    and the best-connected vertices dominate their role."""
    edges = [(1, 10), (1, 11), (1, 12), (2, 10), (3, 13)]
    got = _hits(spark, edges)
    assert all(got[v][0] == 0 for v in (10, 11, 12, 13))  # sinks: no hub
    assert all(got[v][1] == 0 for v in (1, 2, 3))         # sources: no auth
    assert got[1][0] > got[2][0] >= got[3][0]             # 1 is the hub
    assert got[10][1] > got[13][1]                        # 10 best authority


def test_hits_empty_graph(spark):
    assert _hits(spark, []) == {}


# --------------------------------------------------- property (hypothesis)

from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

EDGES = st.lists(
    st.tuples(st.integers(0, 12), st.integers(0, 12)),
    min_size=1, max_size=40)

GRAPH_SLOW = settings(
    max_examples=8, deadline=None,
    suppress_health_check=[HealthCheck.too_slow,
                           HealthCheck.function_scoped_fixture])


@GRAPH_SLOW
@given(edges=EDGES)
def test_pagerank_twin_property(spark, edges):
    """Hypothesis-generated digraphs (self-loops, parallel edges,
    sinks, sources) — pagerank must be BIT-IDENTICAL to the driver
    twin on every draw, with 2 iterations to keep each draw cheap."""
    got = _pr(spark, [], edges, iters=2)
    want = _pagerank_twin([], edges, iters=2)
    assert got == want


@GRAPH_SLOW
@given(edges=EDGES)
def test_hits_twin_property(spark, edges):
    got = _hits(spark, edges, iters=2)
    want = _hits_twin(edges, iters=2)
    assert got == want


def _pagerank_weighted_twin(edges_w, iters=6, total=10**12, d=85):
    """Weighted twin: contribution (rank·w) // wsum; w ≤ 0 edges are
    dropped up front (they must not mask danglingness)."""
    edges_w = [(s, t, w) for s, t, w in edges_w if w > 0]
    nodes = sorted({s for s, _, _ in edges_w}
                   | {t for _, t, _ in edges_w})
    n = len(nodes)
    base = total // n
    teleport = (100 - d) * base // 100
    wsum: dict = {}
    for s, _, w in edges_w:
        wsum[s] = wsum.get(s, 0) + w
    rank = {v: base for v in nodes}
    for _ in range(iters):
        inc = {v: 0 for v in nodes}
        for s, t, w in edges_w:
            inc[t] += rank[s] * w // wsum[s]
        dang = sum(rank[v] for v in nodes if v not in wsum)
        rank = {v: teleport + (d * (inc[v] + dang // n)) // 100
                for v in nodes}
    return rank


def test_pagerank_weighted_matches_twin_exactly(spark):
    """Weighted digraph with skewed weights, parallel weighted edges,
    a self-loop, and a ZERO-weight-only source (must be treated as
    dangling, not divide by zero)."""
    import random
    rng = random.Random(23)
    edges = [(rng.randrange(20), rng.randrange(25),
              rng.randrange(1, 50)) for _ in range(90)]
    edges += [(3, 4, 10), (3, 4, 7), (5, 5, 3)]   # parallel + loop
    edges += [(30, 1, 0)]       # zero-weight only: 30 is dangling
    edf = spark.createDataFrame(edges, "src BIGINT, dst BIGINT, w BIGINT")
    from nvd2mysqlloader_spark.operators.graph import pagerank
    got = {r["id"]: r["rank_fp"]
           for r in pagerank(None, edf, weight_col="w").collect()}
    want = _pagerank_weighted_twin(edges)
    # node 30's only edge is dropped: it leaves the vertex set entirely
    # (weight 0 = no link), matching the twin's filtered vertex set
    assert got == want
    # FRACTIONAL weights in (0,1) truncate to w=0 after the long cast
    # and must be dropped like explicit zeros (a pre-cast filter would
    # mark their source non-dangling with wsum=0 and silently NULL out
    # its contributions)
    fr = [(1, 2, 3), (1, 4, 2), (7, 1, 1)]
    frdf = (spark.createDataFrame(fr, "src BIGINT, dst BIGINT, w BIGINT")
            .withColumn("w", F.col("w").cast("double"))
            .union(spark.createDataFrame(
                [(9, 1, 0.5)], "src BIGINT, dst BIGINT, w DOUBLE")))
    got_fr = {r["id"]: r["rank_fp"]
              for r in pagerank(None, frdf, weight_col="w").collect()}
    assert got_fr == _pagerank_weighted_twin(fr)   # node 9 fully gone
    # uniform weights must reduce to the unweighted recurrence
    uni = [(s, t, 1) for s, t, _ in edges if s != 30]
    edf1 = spark.createDataFrame(uni, "src BIGINT, dst BIGINT, w BIGINT")
    got1 = {r["id"]: r["rank_fp"]
            for r in pagerank(None, edf1, weight_col="w").collect()}
    want1 = _pagerank_twin([], [(s, t) for s, t, _ in uni])
    assert got1 == want1


# ---------------------------------------------------------------------------
# Triangle participation (r7): planted geometries + a brute-force
# twin over random graphs (the oracle covers the fixture graph;
# these pin the operator on shapes the fixture can't guarantee).


def _tri_counts(spark, pairs):
    from nvd2mysqlloader_spark.operators.graph import triangle_participation
    e = spark.createDataFrame(
        [(min(u, v), max(u, v)) for u, v in pairs], "a long, b long")
    return {r.node: r.n_triangles
            for r in triangle_participation(e.distinct()).collect()}


def test_triangles_planted_shapes(spark):
    # K4: every node sits in C(3,2) = 3 triangles
    k4 = [(i, j) for i in range(4) for j in range(i + 1, 4)]
    assert _tri_counts(spark, k4) == {0: 3, 1: 3, 2: 3, 3: 3}
    # chain and star: triangle-free -> empty result
    assert _tri_counts(spark, [(0, 1), (1, 2), (2, 3)]) == {}
    assert _tri_counts(spark, [(0, i) for i in range(1, 6)]) == {}
    # two triangles sharing edge (1,2): shared endpoints count twice
    bowtie = [(0, 1), (0, 2), (1, 2), (1, 3), (2, 3)]
    assert _tri_counts(spark, bowtie) == {0: 1, 1: 2, 2: 2, 3: 1}


def test_triangles_match_bruteforce_random(spark):
    import itertools
    import random
    rng = random.Random(7)
    nodes = list(range(30))
    edges = {(u, v) for u in nodes for v in nodes
             if u < v and rng.random() < 0.2}
    want = {}
    for x, y, z in itertools.combinations(nodes, 3):
        if {(x, y), (y, z), (x, z)} <= edges:
            for n in (x, y, z):
                want[n] = want.get(n, 0) + 1
    assert _tri_counts(spark, edges) == want


def _kcore_edges(spark, pairs, k):
    from nvd2mysqlloader_spark.operators.graph import kcore
    e = spark.createDataFrame(
        [(min(u, v), max(u, v)) for u, v in pairs], "a long, b long")
    return {(r.a, r.b) for r in kcore(e.distinct(), k=k).collect()}


def test_kcore_planted_shapes(spark):
    # cycle: every node degree 2 -> whole cycle IS the 2-core
    cyc = [(i, (i + 1) % 5) for i in range(5)]
    assert _kcore_edges(spark, cyc, 2) == {(min(u, v), max(u, v))
                                           for u, v in cyc}
    # tree: no cycle -> 2-core empty
    tree = [(0, 1), (0, 2), (1, 3), (1, 4), (2, 5)]
    assert _kcore_edges(spark, tree, 2) == set()
    # cascade: a path hung off a triangle peels in MULTIPLE rounds
    # (each round only exposes the next pendant), ending at the
    # triangle alone — exercises the iterative fixpoint, not one pass
    shape = [(0, 1), (0, 2), (1, 2), (2, 3), (3, 4), (4, 5)]
    assert _kcore_edges(spark, shape, 2) == {(0, 1), (0, 2), (1, 2)}
    # k=3: the triangle itself dies (degree 2 < 3)
    assert _kcore_edges(spark, shape, 3) == set()


def test_kcore_matches_bruteforce_random(spark):
    import random
    rng = random.Random(11)
    nodes = list(range(25))
    edges = {(u, v) for u in nodes for v in nodes
             if u < v and rng.random() < 0.12}
    want = set(edges)
    while True:
        deg = {}
        for u, v in want:
            deg[u] = deg.get(u, 0) + 1
            deg[v] = deg.get(v, 0) + 1
        keep = {n for n, d in deg.items() if d >= 2}
        nxt = {(u, v) for u, v in want if u in keep and v in keep}
        if nxt == want:
            break
        want = nxt
    assert _kcore_edges(spark, edges, 2) == want


def test_kcore_raises_on_non_convergence(spark):
    """A long pendant path peels ONE node per round; with max_rounds
    too small the operator must raise rather than silently return a
    partially-peeled non-core (the review finding this pins)."""
    import pytest
    from nvd2mysqlloader_spark.operators.graph import kcore
    path_on_triangle = [(0, 1), (0, 2), (1, 2)] + [
        (i, i + 1) for i in range(2, 14)]
    e = spark.createDataFrame(
        [(min(u, v), max(u, v)) for u, v in path_on_triangle],
        "a long, b long").distinct()
    with pytest.raises(RuntimeError, match="did not converge"):
        kcore(e, k=2, max_rounds=3)
    # and with enough rounds the same graph resolves to the triangle
    core = {(r.a, r.b) for r in kcore(e, k=2, max_rounds=20).collect()}
    assert core == {(0, 1), (0, 2), (1, 2)}


def test_kcore_depth_exactly_max_rounds_converges(spark):
    """A cascade whose peel depth EQUALS max_rounds must converge:
    stability is only observable one no-op round after the last
    effective peel, and kcore grants that confirmation round rather
    than counting it against the peel budget (ADVICE r7 finding —
    pre-fix this raised spuriously while the unrolled oracle returned
    the correct core)."""
    from nvd2mysqlloader_spark.operators.graph import kcore
    # pendant chain of length 4 off a triangle: rounds peel exactly
    # one chain node each -> 4 effective peels, stable on round 5
    shape = [(0, 1), (0, 2), (1, 2), (2, 3), (3, 4), (4, 5), (5, 6)]
    e = spark.createDataFrame(
        [(min(u, v), max(u, v)) for u, v in shape],
        "a long, b long").distinct()
    core = {(r.a, r.b) for r in kcore(e, k=2, max_rounds=4).collect()}
    assert core == {(0, 1), (0, 2), (1, 2)}


def test_aqe_skew_join_splits_hub_partition(spark):
    """Plan pin for the graph family's heavy-hitter story (PLANS.md
    §graph skew, scripts/stress_graph_skew.py): the per-iteration
    edges⋈ranks join keyed on src, run as a LIVE shuffle join under
    spark.sql.adaptive.skewJoin, must get its planted hub partition
    skew-split by AQE (the executed plan shows a skewed
    AQEShuffleRead). This is the mechanism the 100 TB deployment
    relies on when it chooses the AQE remedy over salting; thresholds
    are force-lowered because a fixture-scale partition never crosses
    the production 256 MB default."""
    from pyspark.sql import functions as F

    conf = spark.conf
    keys = ("spark.sql.adaptive.skewJoin.enabled",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.autoBroadcastJoinThreshold")
    saved = {k: conf.get(k, None) for k in keys}
    try:
        conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor",
                 "2")
        conf.set("spark.sql.adaptive.skewJoin."
                 "skewedPartitionThresholdInBytes", "64k")
        conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes",
                 "64k")
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

        # planted hub: node 0 sources 80% of 200k edges; the rest
        # spread over 1000 sources — the hub's hash partition is
        # >5x the median and far over the 64k threshold. BOTH join
        # inputs must feed the join DIRECTLY through their shuffles
        # (scan → exchange → sort → join): OptimizeSkewedJoin's
        # pattern match fails if an aggregate or window sits between
        # the shuffle and the join, which is exactly why the shipped
        # pagerank shape (cached pre-partitioned, window-annotated
        # edges) uses SALTING instead — see stress_graph_skew.py.
        n = 200_000
        edges = spark.range(n).select(
            F.when(F.pmod("id", F.lit(5)) < 4, F.lit(0))
            .otherwise(F.pmod(F.xxhash64("id"), F.lit(1000)))
            .alias("src"),
            F.pmod(F.xxhash64("id", F.lit(2)), F.lit(5000))
            .alias("dst"))
        ranks = spark.range(1000).select(
            F.col("id").alias("node"),
            F.lit(100).cast("long").alias("rank_fp"))
        joined = edges.join(ranks.hint("merge"),
                            edges["src"] == ranks["node"])
        out = (joined.groupBy("dst")
               .agg(F.sum("rank_fp").alias("s")))
        rows = out.collect()     # execute THIS plan (AQE finalizes it)
        total = sum(r["s"] for r in rows)
        assert total == n * 100          # every edge matched once
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "skew" in plan.lower(), (
            "hub partition was not skew-split:\n" + plan[:2000])
    finally:
        for k, v in saved.items():
            if v is None:
                try:
                    conf.unset(k)
                except Exception:
                    pass
            else:
                conf.set(k, v)


def test_large_star_undistinct_round_iterate_identical(spark):
    """r12: _large_star no longer distincts its emission — the round
    iterate small_star(large_star(E)) must be SET-identical to the
    distinct'd composition (small_star's aggregates are duplicate-
    insensitive and its trailing distinct collapses the rest)."""
    from nvd2mysqlloader_spark.operators.graph import (_large_star,
                                                       _small_star)

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (7, 8), (8, 9), (2, 1), (5, 5)],
        "src long, dst long")
    ls = _large_star(edges)
    via_dup = sorted(map(tuple, _small_star(ls).collect()))
    via_distinct = sorted(map(tuple,
                              _small_star(ls.distinct()).collect()))
    assert via_dup == via_distinct and via_dup


def test_hits_dedup_fold_matches_caller_distinct(spark):
    """r12: hits(dedup=True) over raw duplicated edges must equal
    hits() over the caller-distinct'd edges — the fold moves the
    dedup inside the dst-partitioned cache build, never changes the
    edge set."""
    from nvd2mysqlloader_spark.operators.graph import hits

    raw = spark.createDataFrame(
        [(1, 2), (1, 2), (2, 3), (3, 1), (2, 3), (4, 2)],
        "src long, dst long")
    via_fold = sorted(map(tuple, hits(raw, dedup=True).collect()))
    via_distinct = sorted(map(tuple, hits(raw.distinct()).collect()))
    assert via_fold == via_distinct and via_fold


def test_alternating_cc_convergence_probe_checksum(spark):
    """The one-job convergence signature (r13): the per-iterate
    (count, decimal checksum) aggregate that gates the exact exceptAll
    must distinguish same-size different edge sets (else every
    count-stable round would still pay the confirm job) and must be
    order/partitioning-independent (equal sets always compare equal,
    so convergence is never missed)."""
    from pyspark.sql import functions as F

    def sig(df):
        r = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64("src", "dst").cast("decimal(38,0)"))
            .alias("h")).collect()[0]
        return r["n"], r["h"]

    a = spark.createDataFrame([(1, 2), (3, 4)], "src long, dst long")
    b = spark.createDataFrame([(1, 2), (3, 5)], "src long, dst long")
    assert sig(a) != sig(b)                      # same count, diff set
    shuffled = a.orderBy(F.desc("src")).repartition(7)
    assert sig(a) == sig(shuffled)               # order-independent
    empty = a.filter(F.lit(False))
    assert sig(empty) == (0, None)               # empty-set fixed point


def test_connected_components_seed_labels_identical(spark):
    """seed_labels sharing (r13): a pre-checkpointed seed label
    relation must give byte-identical components — the seed depends
    only on the vertex set, never on the edge relation."""
    from pyspark.sql import functions as F

    from nvd2mysqlloader_spark.operators._lineage import cut_lineage
    from nvd2mysqlloader_spark.operators.graph import connected_components

    nodes = spark.createDataFrame([(i,) for i in range(8)], ["id"])
    seed = cut_lineage(
        nodes.select(F.col("id").alias("node")).distinct()
        .withColumn("label", F.col("node")))
    for edges in [
        spark.createDataFrame([(0, 1), (1, 2), (5, 6)],
                              "src long, dst long"),
        spark.createDataFrame([(3, 4)], "src long, dst long"),
    ]:
        want = sorted(map(tuple, connected_components(
            nodes, edges).collect()))
        got = sorted(map(tuple, connected_components(
            nodes, edges, seed_labels=seed).collect()))
        assert got == want


def test_small_star_explode_emission_matches_union(spark):
    """r13 single-pass small-star emission: the 2-slot explode must
    emit exactly the multiset the former two-branch self-union
    emitted (per-row (dst,m) and (src,m), src!=dst filtered)."""
    from pyspark.sql import functions as F

    from nvd2mysqlloader_spark.operators.graph import _small_star

    edges = spark.createDataFrame(
        [(5, 1), (1, 5), (7, 3), (9, 9), (4, 2), (2, 6)],
        "src long, dst long")
    oriented = (edges.select(
        F.greatest("src", "dst").alias("src"),
        F.least("src", "dst").alias("dst")).filter(
        F.col("src") != F.col("dst")))
    mins = oriented.groupBy("src").agg(F.min("dst").alias("m"))
    linked = oriented.join(mins, "src")
    want = sorted(map(tuple, (
        linked.select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .union(linked.select("src", F.col("m").alias("dst")))
        .filter(F.col("src") != F.col("dst")).distinct()).collect()))
    got = sorted(map(tuple, _small_star(edges).collect()))
    assert got == want and got
