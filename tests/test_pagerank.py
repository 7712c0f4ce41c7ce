"""Exact-integer PageRank (operators/pagerank.py): fixed-point
invariants, dangling handling, ordering, and determinism."""

from __future__ import annotations

from pyspark.sql import functions as F

from bigdatasmallprice_spark.operators.pagerank import (
    PR_DAMP_NUM,
    PR_ITERS,
    PR_SCALE,
    PR_TELEPORT,
    copurchase_edges,
    pagerank_fit,
    pdiv_py,
)


def _nodes(spark, ids):
    return spark.createDataFrame([(i,) for i in ids], "node long")


def _edges(spark, triples):
    return spark.createDataFrame(triples, "src long, dst long, w long")


def test_uniform_complete_graph_is_exact_fixed_point(spark):
    """On K5 with equal weights the uniform distribution is an EXACT
    integer fixed point (4 divides 1e6), so every rank must stay at
    precisely PR_SCALE through all iterations."""
    ids = list(range(5))
    edges = _edges(
        spark, [(a, b, 1) for a in ids for b in ids if a != b]
    )
    ranks = pagerank_fit(_nodes(spark, ids), edges, iters=4)
    got = {r.node: r.r for r in ranks.collect()}
    assert got == {i: PR_SCALE for i in ids}, got


def test_dangling_mass_is_redistributed_exactly(spark):
    """A -> B -> A plus isolated C: C's rank follows the closed-form
    teleport + damped dangling share, replicated here with the same
    integer ops; total mass stays conserved up to pdiv rounding."""
    nodes = _nodes(spark, [0, 1, 2])
    edges = _edges(spark, [(0, 1, 1), (1, 0, 1)])
    iters = 6
    got = {r.node: r.r for r in pagerank_fit(nodes, edges, iters=iters).collect()}

    # replay in Python integers: node 2 is dangling; 0 and 1 swap mass
    r = {0: PR_SCALE, 1: PR_SCALE, 2: PR_SCALE}
    for _ in range(iters):
        dshare = pdiv_py(r[2], 3)
        inr = {0: pdiv_py(r[1] * 1, 1), 1: pdiv_py(r[0] * 1, 1), 2: 0}
        r = {
            v: PR_TELEPORT + pdiv_py(PR_DAMP_NUM * (inr[v] + dshare), 100)
            for v in r
        }
    assert got == r, (got, r)
    assert abs(sum(got.values()) - 3 * PR_SCALE) <= 3 * iters  # rounding only


def test_stray_edge_endpoints_and_dangling_node_replay_exactly(spark):
    """Edges may name keys outside ``nodes``: a message to a non-node
    is dropped but its weight still counts in the sender's out-weight,
    and an edge FROM a non-node sends nothing. Node 3 is dangling.
    Replayed here with the same integer ops."""
    nodes = _nodes(spark, [0, 1, 2, 3])
    edges = _edges(
        spark,
        [
            (0, 1, 2), (0, 9, 1),  # 9 is not a node: dropped, still in W_0
            (1, 0, 1), (1, 3, 2),
            (2, 1, 1),
            (7, 2, 5),             # 7 is not a node: sends nothing
        ],
    )
    iters = 5
    got = {r.node: r.r for r in pagerank_fit(nodes, edges, iters=iters).collect()}

    live = [(0, 1, 2), (1, 0, 1), (1, 3, 2), (2, 1, 1)]
    wout = {0: 3, 1: 3, 2: 1}
    r = {v: PR_SCALE for v in range(4)}
    for _ in range(iters):
        dshare = pdiv_py(r[3], 4)
        inr = {v: 0 for v in r}
        for a, b, w in live:
            inr[b] += pdiv_py(r[a] * w, wout[a])
        r = {
            v: PR_TELEPORT + pdiv_py(PR_DAMP_NUM * (inr[v] + dshare), 100)
            for v in r
        }
    assert got == r, (got, r)


def test_one_spark_job_per_round(spark):
    """Without dangling nodes the rounds stay one lazy plan with one
    shuffle each: four extra rounds cost at most four extra jobs."""
    sc = spark.sparkContext
    nodes = _nodes(spark, [0, 1, 2, 3])
    edges = _edges(spark, [(0, 1, 1), (1, 2, 2), (2, 3, 1), (3, 0, 3), (0, 2, 1)])
    jobs = {}
    try:
        for iters in (4, 8):
            group = f"test_pagerank_rounds_{iters}"
            sc.setJobGroup(group, "pagerank_fit job count")
            pagerank_fit(nodes, edges, iters=iters).collect()
            jobs[iters] = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert jobs[8] - jobs[4] <= 4, jobs


def test_star_graph_hub_ranks_highest(spark):
    """Hub 0 with spokes 1..6 pointing in (and hub pointing back):
    the hub must hold the strictly largest rank."""
    spokes = list(range(1, 7))
    edges = _edges(
        spark,
        [(s, 0, 1) for s in spokes] + [(0, s, 1) for s in spokes],
    )
    ranks = {r.node: r.r for r in pagerank_fit(_nodes(spark, [0, *spokes]), edges).collect()}
    assert all(ranks[0] > ranks[s] for s in spokes), ranks
    # spokes are symmetric -> identical ranks
    assert len({ranks[s] for s in spokes}) == 1, ranks


def test_copurchase_edges_are_symmetric_distinct_order_counts(spark):
    """Edge weight = number of DISTINCT orders containing both
    suppliers (duplicate lineitems collapse), both directions."""
    li = spark.createDataFrame(
        [
            (1, 10), (1, 20), (1, 20),  # order 1: {10, 20} (dup 20)
            (2, 10), (2, 20), (2, 30),  # order 2: {10, 20, 30}
            (3, 30),                    # order 3: singleton
        ],
        "l_orderkey long, l_suppkey long",
    )
    got = {(r.src, r.dst): r.w for r in copurchase_edges(li).collect()}
    assert got[(10, 20)] == 2 and got[(20, 10)] == 2
    assert got[(10, 30)] == 1 and got[(20, 30)] == 1
    assert (30, 30) not in got and len(got) == 6


def test_fit_is_deterministic_and_all_integer(spark):
    from bigdatasmallprice_spark.catalog import load_table

    li = load_table(spark, "/root/testdata/sf0.001", "lineitem")
    sup = load_table(spark, "/root/testdata/sf0.001", "supplier")
    nodes = sup.select(F.col("s_suppkey").alias("node"))
    edges = copurchase_edges(li).persist()
    try:
        a = sorted(map(tuple, pagerank_fit(nodes, edges, iters=PR_ITERS).collect()))
        b = sorted(map(tuple, pagerank_fit(nodes, edges, iters=PR_ITERS).collect()))
    finally:
        edges.unpersist()
    assert a == b
    assert all(isinstance(r, int) for _, r in a)
    # mass conservation up to per-node pdiv rounding
    n = len(a)
    assert abs(sum(r for _, r in a) - n * PR_SCALE) <= n * PR_ITERS


def test_ppr_two_node_cycle_matches_closed_form(spark):
    """Seed A on A <-> B (+ dangling C): replicate the exact integer
    recursion in Python — teleport and dangling mass return to A."""
    from bigdatasmallprice_spark.operators.pagerank import (
        PPR_MASS,
        PPR_TELEPORT,
        ppr_fit,
    )

    nodes = _nodes(spark, [0, 1, 2])
    edges = _edges(spark, [(0, 1, 1), (1, 0, 1)])
    seeds = spark.createDataFrame([(0,)], "seed long")
    iters = 5
    got = {
        r.node: r.r for r in ppr_fit(nodes, edges, seeds, iters=iters).collect()
    }

    r = {0: PPR_MASS, 1: 0, 2: 0}
    for _ in range(iters):
        inr = {0: pdiv_py(r[1] * 1, 1), 1: pdiv_py(r[0] * 1, 1), 2: 0}
        dmass = r[2]
        r = {
            v: pdiv_py(
                PR_DAMP_NUM * (inr[v] + (dmass if v == 0 else 0)), 100
            )
            + (PPR_TELEPORT if v == 0 else 0)
            for v in r
        }
    assert got == r, (got, r)
    # node 2 is unreachable from seed 0 -> exactly zero mass
    assert got[2] == 0


def test_ppr_ranks_direct_neighbors_above_two_hop(spark):
    """Path graph 0-1-2-3 seeded at 0: node 1 (direct) must outrank
    node 2 (two hops), which outranks node 3; batching three seeds in
    one frame returns each walk's own distribution."""
    from bigdatasmallprice_spark.operators.pagerank import ppr_fit

    nodes = _nodes(spark, [0, 1, 2, 3])
    und = [(0, 1), (1, 2), (2, 3)]
    edges = _edges(spark, [(a, b, 1) for a, b in und] + [(b, a, 1) for a, b in und])
    seeds = spark.createDataFrame([(0,), (1,), (3,)], "seed long")
    got = {}
    for r in ppr_fit(nodes, edges, seeds).collect():
        got.setdefault(r.seed, {})[r.node] = r.r
    assert set(got) == {0, 1, 3}
    assert got[0][1] > got[0][2] > got[0][3]
    assert got[3][2] > got[3][1] > got[3][0]
    # symmetric seeds 0 and 3 see mirror-image distributions
    assert got[0][1] == got[3][2] and got[0][2] == got[3][1]
    # every walk keeps most mass near its own seed
    assert all(rs[s] == max(rs.values()) for s, rs in got.items())


def test_empty_graph_returns_empty_ranks(spark):
    """Zero nodes must not trip the pdiv-by-n ZeroDivisionError (r7
    advice): the fit returns an empty (node, r) frame."""
    out = pagerank_fit(
        _nodes(spark, []),
        _edges(spark, []),
        iters=3,
    )
    assert out.columns == ["node", "r"]
    assert out.count() == 0
