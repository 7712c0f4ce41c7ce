"""Exact-integer weighted PageRank — graph centrality as a replayable
iterative dataflow.

The pattern (Pixie/recsys item-graph PageRank; knowledge-graph entity
ranking): build a weighted directed graph from co-occurrence facts,
then rank nodes by the stationary distribution of the damped random
walk. The engine's instance ranks SUPPLIERS on the co-purchase graph —
an edge a->b weighted by how many distinct orders contain lineitems
from both suppliers (symmetric by construction, but the algorithm is
general directed PR with dangling-mass handling).

The trajectory follows the house ALL-INTEGER discipline (the
distillation/kmeans/GBT rule): ranks are BIGINT micro-units
(r0 = 1e6 per node, total mass n*1e6), every division is the
explicitly-rounded integer ``pdiv`` from operators/distill.py (only
ever non-negative numerators, so Spark ``div`` / DuckDB ``//`` /
Python ``//`` coincide), and one iteration is

    share(a->b) = pdiv(r_a * w_ab, W_a)          per edge
    dshare      = pdiv(sum of dangling r, n)     one scalar
    r'_b        = 150000 + pdiv(85 * (in_b + dshare), 100)

with in_b the exact BIGINT sum of incoming shares. 150000 is the
teleport term (1-d) * SCALE with d = 0.85 — exact because 15 * 1e6 is
divisible by 100. Zero float ops anywhere, so the oracle's unrolled
CTE chain replays the fit bit-identically on any engine build.

Scale shape: edges come from one per-order supplier-set groupBy whose
pairs explode map-side (output bounded by the sum of per-order squares
— the SemDeDup bound). The fit is Pregel-style: each node's state row
carries its adjacency list, so an iteration is ONE explode (the row
itself plus one message per out-edge) and ONE groupBy shuffle — no
per-round join, broadcast or driver action. The rounds stay one lazy
plan that grows linearly and is cut once at the end; only a graph with
dangling nodes cuts per round, to read its dangling-mass scalar.
Overflow: r_a * w_ab <= (n * 1e6) * max_w — fine through sf1-scale
corpora by orders of magnitude; at extreme graph sizes rescale ranks
to a coarser unit (documented spec change).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bigdatasmallprice_spark.caching import cut_lineage
from bigdatasmallprice_spark.operators.distill import (
    DUCK_DIV,
    SPARK_DIV,
    pdiv,
    pdiv_py,
)

PR_SCALE = 1_000_000
PR_DAMP_NUM = 85  # d = 0.85
PR_ITERS = 12
PR_TELEPORT = (100 - PR_DAMP_NUM) * PR_SCALE // 100  # exact: 150000


def copurchase_edges(lineitem: DataFrame) -> DataFrame:
    """(src, dst, w): suppliers a->b weighted by the number of distinct
    orders containing lineitems from both (a != b; both directions
    emitted). ONE groupBy collects each order's distinct supplier set,
    pairs explode map-side, then one (src, dst) count — two shuffles
    total where a distinct + self-join + count plan pays three; the
    pair explosion is bounded by the sum of per-order set squares (the
    SemDeDup bound), identical to what the join would output."""
    sets = lineitem.groupBy(F.col("l_orderkey").alias("ok")).agg(
        F.collect_set("l_suppkey").alias("sks")
    )
    pairs = sets.select(
        F.explode(
            F.expr(
                "flatten(transform(sks, a -> "
                "transform(filter(sks, b -> b != a), "
                "b -> struct(a AS src, b AS dst))))"
            )
        ).alias("p")
    )
    return pairs.groupBy(
        F.col("p.src").alias("src"), F.col("p.dst").alias("dst")
    ).agg(F.count(F.lit(1)).cast("long").alias("w"))


def pagerank_fit(
    nodes: DataFrame, edges: DataFrame, iters: int = PR_ITERS
) -> DataFrame:
    """Integer PR over (node) x (src, dst, w): returns (node, r) after
    ``iters`` damped iterations. ``nodes`` holds distinct keys.

    Pregel-style: the state row (node, out, wout, r) carries the node's
    adjacency, so a round is one explode of each row into itself
    (c = 0) plus one message per out-edge, and one groupBy("node") that
    sums the messages and re-collects the adjacency. Messages to keys
    outside ``nodes`` (no own row) are dropped; their weight still
    counts in the sender's ``wout``. The dangling mass is the only
    driver-side scalar, and only when dangling nodes exist."""
    op = SPARK_DIV
    adj = edges.groupBy(F.col("src").alias("node")).agg(
        F.collect_list(F.struct("dst", "w")).alias("out"),
        F.sum("w").cast("long").alias("wout"),
    )
    # dangling nodes get out = [] and wout = 0: a non-null wout marks
    # an own row through the round's groupBy
    no_out = F.expr("array()").cast(adj.schema["out"].dataType)
    state = nodes.join(adj, "node", "left").select(
        "node",
        F.coalesce("out", no_out).alias("out"),
        F.coalesce("wout", F.lit(0).cast("long")).alias("wout"),
        F.lit(PR_SCALE).cast("long").alias("r"),
    )
    n, n_dang = state.agg(
        F.count(F.lit(1)), F.count(F.when(F.col("wout") == 0, 1))
    ).first()
    if n == 0:
        # degenerate input: no nodes means no mass to distribute; the
        # per-iteration pdiv by n would raise, so return the (empty)
        # ranks frame instead of tripping ZeroDivisionError
        return nodes.select("node", F.lit(PR_SCALE).cast("long").alias("r"))
    share = pdiv("r * e.w", "wout", op)
    rows = F.expr(
        "inline(concat(array(struct(node, CAST(0 AS BIGINT) AS c, out, wout)), "
        "transform(out, e -> struct(e.dst AS node, "
        f"CAST({share} AS BIGINT) AS c, NULL AS out, NULL AS wout))))"
    )
    dmass = n_dang * PR_SCALE
    for it in range(1, iters + 1):
        upd = pdiv(f"{PR_DAMP_NUM} * (sum(c) + {pdiv_py(dmass, n)})", "100", op)
        # a key outside ``nodes`` has no own row, so it leaves the round
        # with out = NULL and wout = NULL; concat(..., NULL) is NULL, so
        # the next round's inline emits nothing for it
        state = (
            state.select(rows)
            .groupBy("node")
            .agg(
                F.expr("get(collect_list(out), 0)").alias("out"),
                F.max("wout").alias("wout"),
                F.expr(f"CAST({PR_TELEPORT} + {upd} AS BIGINT)").alias("r"),
            )
        )
        if n_dang and it < iters:
            # the next round's dangling share is a driver scalar: cut
            # here so its aggregate reads this round's ranks, not the
            # chain of every round before it
            state = cut_lineage(state)
            dmass = state.filter("wout = 0").agg(F.sum("r")).first()[0]
    # the rounds above are one lazy plan, one shuffle each, and one cut
    # materializes them all; the cast undoes any widening of the key by
    # the round's struct, so ``node`` keeps the type ``nodes`` gave it
    node = F.col("node").cast(nodes.schema["node"].dataType).alias("node")
    return cut_lineage(state.filter("wout IS NOT NULL").select(node, "r"))


PPR_MASS = 1_000_000_000  # per-seed walk mass (nano-units of 1.0)
PPR_TELEPORT = (100 - PR_DAMP_NUM) * PPR_MASS // 100  # exact: 150000000
PPR_ITERS = 12


def ppr_fit(
    nodes: DataFrame,
    edges: DataFrame,
    seeds: DataFrame,
    iters: int = PPR_ITERS,
) -> DataFrame:
    """Personalized PageRank, ALL seeds batched in one frame: ranks are
    (seed, node, r) and every iteration is ONE edge join + ONE
    (seed, dst) groupBy for every seed at once — S seeds cost one
    shuffle, not S sequential walks. Teleport AND dangling mass return
    to the walk's own seed (the PPR rule):

        r'_v = pdiv(85 * (in_v + [v = seed] * D_seed), 100)
               + [v = seed] * 150000000

    — same all-integer discipline as pagerank_fit, per-seed mass
    PPR_MASS nano-units."""
    op = SPARK_DIV
    outw = edges.groupBy("src").agg(F.sum("w").cast("long").alias("wout"))
    e = edges.join(outw, "src").persist()
    dang = nodes.join(
        outw.select(F.col("src").alias("node")), "node", "left_anti"
    ).persist()
    has_dangling = dang.limit(1).count() > 0
    ckpt_every = 3
    base = nodes.crossJoin(F.broadcast(seeds))
    ranks = base.selectExpr(
        "seed",
        "node",
        f"CAST(CASE WHEN node = seed THEN {PPR_MASS} ELSE 0 END AS BIGINT) AS r",
    ).localCheckpoint(eager=True)
    for it in range(1, iters + 1):
        inc = (
            e.join(ranks.withColumnRenamed("node", "src"), "src")
            .select(
                "seed",
                "dst",
                F.expr(f"CAST({pdiv('r * w', 'wout', op)} AS BIGINT)").alias("c"),
            )
            .groupBy("seed", "dst")
            .agg(F.sum("c").cast("long").alias("inr"))
        )
        cur = base.join(
            inc.withColumnRenamed("dst", "node"), ["seed", "node"], "left"
        )
        if has_dangling:
            # per-seed dangling mass returns to the walk's own seed
            dm = (
                dang.join(ranks, "node")
                .groupBy("seed")
                .agg(F.sum("r").cast("long").alias("dmass"))
            )
            cur = cur.join(F.broadcast(dm), "seed", "left")
            dterm = (
                "(CASE WHEN node = seed "
                "THEN coalesce(dmass, CAST(0 AS BIGINT)) ELSE 0 END)"
            )
        else:
            # the dangling SET is static and empty: the whole term is a
            # constant 0 — no join, no per-round aggregate
            dterm = "0"
        upd = pdiv(
            f"{PR_DAMP_NUM} * (coalesce(inr, CAST(0 AS BIGINT)) + {dterm})",
            "100",
            op,
        )
        ranks = cur.selectExpr(
            "seed",
            "node",
            f"CAST({upd} + (CASE WHEN node = seed THEN {PPR_TELEPORT} "
            f"ELSE 0 END) AS BIGINT) AS r",
        )
        if it % ckpt_every == 0 or it == iters:
            ranks = ranks.localCheckpoint(eager=True)
    e.unpersist()
    dang.unpersist()
    return ranks


def o_ppr_chain_sql(
    iters: int = PPR_ITERS, n_seeds: int = 3, sparsify_topk: int | None = None
) -> str:
    """DuckDB CTE chain replaying the identical multi-seed PPR over
    the supplier co-purchase graph; seeds = the n_seeds smallest
    supplier keys. ``sparsify_topk`` walks the per-node top-k
    strongest-tie graph (operators/triangles.py::topk_edges — the
    Pixie deployment shape) instead of the raw near-complete one.
    Ends with r{iters}(seed, node, r)."""
    op = DUCK_DIV
    if sparsify_topk is not None:
        from bigdatasmallprice_spark.operators.triangles import (
            o_topk_edges_sql,
        )

        edge_src = "es"
        edges_cte = o_topk_edges_sql(sparsify_topk)
    else:
        edge_src = "e0"
        edges_cte = """lo AS (SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sk FROM lineitem),
e0 AS MATERIALIZED (
  SELECT a.sk AS src, b.sk AS dst, CAST(COUNT(*) AS BIGINT) AS w
  FROM lo a JOIN lo b ON a.ok = b.ok AND a.sk <> b.sk GROUP BY 1, 2
)"""
    parts = [
        f"""{edges_cte},
ow AS MATERIALIZED (SELECT src, CAST(SUM(w) AS BIGINT) AS wout FROM {edge_src} GROUP BY 1),
nodes AS MATERIALIZED (SELECT s_suppkey AS node FROM supplier),
seeds AS MATERIALIZED (
  SELECT s_suppkey AS seed FROM supplier ORDER BY 1 LIMIT {n_seeds}
),
r0 AS MATERIALIZED (
  SELECT seed, node,
         CAST(CASE WHEN node = seed THEN {PPR_MASS} ELSE 0 END AS BIGINT) AS r
  FROM nodes, seeds
)"""
    ]
    for t in range(1, iters + 1):
        share = pdiv(f"r.r * {edge_src}.w", "ow.wout", op)
        upd = pdiv(
            f"{PR_DAMP_NUM} * (COALESCE(c{t}.inr, CAST(0 AS BIGINT)) "
            f"+ (CASE WHEN b.node = b.seed "
            f"THEN COALESCE(d{t}.dmass, CAST(0 AS BIGINT)) ELSE 0 END))",
            "100",
            op,
        )
        parts.append(f"""d{t} AS (
  SELECT r.seed, CAST(COALESCE(SUM(r.r), 0) AS BIGINT) AS dmass
  FROM r{t - 1} r LEFT JOIN ow ON ow.src = r.node WHERE ow.src IS NULL
  GROUP BY 1
),
c{t} AS (
  SELECT r.seed, {edge_src}.dst AS node, CAST(SUM({share}) AS BIGINT) AS inr
  FROM {edge_src} JOIN r{t - 1} r ON r.node = {edge_src}.src JOIN ow ON ow.src = {edge_src}.src
  GROUP BY 1, 2
),
r{t} AS MATERIALIZED (
  SELECT b.seed, b.node,
         CAST({upd} + (CASE WHEN b.node = b.seed THEN {PPR_TELEPORT} ELSE 0 END) AS BIGINT) AS r
  FROM (SELECT seed, node FROM nodes, seeds) b
  LEFT JOIN c{t} ON c{t}.seed = b.seed AND c{t}.node = b.node
  LEFT JOIN d{t} ON d{t}.seed = b.seed
)""")
    return ",\n".join(parts)


def o_pagerank_chain_sql(iters: int = PR_ITERS) -> str:
    """DuckDB CTE chain replaying the identical integer fit over the
    supplier co-purchase graph: edges, out-weights, then per iteration
    a dangling scalar + an incoming-share aggregate + the update. Ends
    with r{iters}(node, r)."""
    op = DUCK_DIV
    parts = [
        """lo AS (SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sk FROM lineitem),
e0 AS MATERIALIZED (
  SELECT a.sk AS src, b.sk AS dst, CAST(COUNT(*) AS BIGINT) AS w
  FROM lo a JOIN lo b ON a.ok = b.ok AND a.sk <> b.sk GROUP BY 1, 2
),
ow AS MATERIALIZED (SELECT src, CAST(SUM(w) AS BIGINT) AS wout FROM e0 GROUP BY 1),
nodes AS MATERIALIZED (SELECT s_suppkey AS node FROM supplier),
nn AS MATERIALIZED (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),
r0 AS MATERIALIZED (
  SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes
)"""
    ]
    for t in range(1, iters + 1):
        share = pdiv("r.r * e0.w", "ow.wout", op)
        upd = pdiv(
            f"{PR_DAMP_NUM} * (COALESCE(c{t}.inr, CAST(0 AS BIGINT)) "
            f"+ {pdiv(f'd{t}.dmass', 'nn.n', op)})",
            "100",
            op,
        )
        parts.append(f"""d{t} AS (
  SELECT CAST(COALESCE(SUM(r.r), 0) AS BIGINT) AS dmass
  FROM r{t - 1} r LEFT JOIN ow ON ow.src = r.node WHERE ow.src IS NULL
),
c{t} AS (
  SELECT e0.dst AS node, CAST(SUM({share}) AS BIGINT) AS inr
  FROM e0 JOIN r{t - 1} r ON r.node = e0.src JOIN ow ON ow.src = e0.src
  GROUP BY 1
),
r{t} AS MATERIALIZED (
  -- MATERIALIZED: referenced by the next round's d AND c CTEs
  SELECT nodes.node,
         CAST({PR_TELEPORT} + {upd} AS BIGINT) AS r
  FROM nodes LEFT JOIN c{t} ON c{t}.node = nodes.node, d{t}, nn
)""")
    return ",\n".join(parts)
