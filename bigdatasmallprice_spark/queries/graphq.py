"""Graph queries: exact-integer PageRank over co-occurrence graphs.

The LLM-data-pipeline angle: graph centrality over co-occurrence is
how production curation stacks rank sources/domains (Common Crawl host
ranking), pick canonical documents inside dup clusters, and drive
recsys-style retrieval (Pixie). The engine's instance ranks suppliers
on the order-co-purchase graph; the machinery (weighted directed PR,
dangling mass, damped teleport, all-BIGINT trajectory) is general.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdatasmallprice_spark.queries.core import table
from bigdatasmallprice_spark.registry import register


def _pagerank_oracle() -> str:
    from bigdatasmallprice_spark.operators.pagerank import (
        PR_ITERS,
        o_pagerank_chain_sql,
    )

    return f"""WITH {o_pagerank_chain_sql()}
SELECT r.node AS s_suppkey, r.r AS rank_micro,
       CAST(COALESCE(ow.wout, 0) AS BIGINT) AS w_out,
       CAST(row_number() OVER (ORDER BY r.r DESC, r.node) AS BIGINT) AS pos
FROM r{PR_ITERS} r LEFT JOIN ow ON ow.src = r.node
"""


@register(
    "pagerank_copurchase",
    _pagerank_oracle(),
    doc="Weighted PageRank over the supplier co-purchase graph (the "
    "Pixie/host-ranking pattern: rank entities by the stationary "
    "distribution of a damped random walk on a co-occurrence graph): "
    "edges a->b weighted by distinct orders containing lineitems from "
    "both suppliers (one distinct projection + one order-keyed "
    "self-join — output bounded by the sum of per-order squares), then "
    "12 damped iterations (d=0.85) with proper DANGLING-mass "
    "redistribution. The ENTIRE trajectory is exact BIGINT micro-units "
    "with explicitly-rounded integer divisions (the all-integer house "
    "discipline of the distillation fit / kmeans / GBT), so the "
    "oracle's unrolled CTE chain replays the fit bit-identically on "
    "any engine build. Pregel-style rounds: each supplier's state row "
    "carries its adjacency list, so an iteration is ONE explode (the "
    "row plus one message per out-edge) and ONE groupBy shuffle — no "
    "per-round join, broadcast or driver action; the 12 rounds stay "
    "one lazy plan, cut once at the end (a graph with dangling nodes "
    "cuts per round to read its dangling-mass scalar). Output: every "
    "supplier's final rank, out-weight, and total-ordered position.",
    tags=("graph", "train", "join"),
)
def pagerank_copurchase_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from bigdatasmallprice_spark.operators.pagerank import (
        copurchase_edges,
        pagerank_fit,
    )

    li = table(spark, sf_dir, "lineitem")
    sup = table(spark, sf_dir, "supplier")
    nodes = sup.select(F.col("s_suppkey").alias("node"))
    # persist: the edge pipeline (groupBy + pair explode + count over
    # lineitem) feeds the fit's set-up count, its adjacency state AND
    # the final w_out join — without the cache it would run three
    # times (caller releases via released_caches)
    edges = copurchase_edges(li).persist()
    outw = edges.groupBy("src").agg(F.sum("w").cast("long").alias("wout"))
    ranks = pagerank_fit(nodes, edges)
    w = Window.orderBy(F.col("rank_micro").desc(), F.col("s_suppkey"))
    return (
        ranks.join(outw.withColumnRenamed("src", "node"), "node", "left")
        .select(
            F.col("node").alias("s_suppkey"),
            F.col("r").alias("rank_micro"),
            F.coalesce(F.col("wout"), F.lit(0).cast("long")).alias("w_out"),
        )
        .withColumn("pos", F.row_number().over(w).cast("long"))
    )


_PPR_SEEDS = 3
_PPR_TOPK = 10


def _ppr_oracle() -> str:
    from bigdatasmallprice_spark.operators.pagerank import (
        PPR_ITERS,
        o_ppr_chain_sql,
    )
    from bigdatasmallprice_spark.operators.triangles import TOPK_TIES

    return f"""WITH {o_ppr_chain_sql(n_seeds=_PPR_SEEDS, sparsify_topk=TOPK_TIES)}
SELECT seed, node AS s_suppkey, r AS rank_nano,
       CAST(pos AS BIGINT) AS pos
FROM (
  SELECT seed, node, r,
         row_number() OVER (PARTITION BY seed ORDER BY r DESC, node) AS pos
  FROM r{PPR_ITERS} WHERE node <> seed
) WHERE pos <= {_PPR_TOPK}
"""


@register(
    "ppr_related_suppliers",
    _ppr_oracle(),
    doc="Personalized PageRank (the Pixie retrieval pattern: 'entities "
    "related to X' = the stationary distribution of a damped walk that "
    "teleports back to X — and, as in Pixie's deployment, the walk "
    "runs on the PRUNED top-k strongest-tie graph, not the raw "
    "near-complete co-occurrence graph: each node keeps its 10 "
    "strongest ties, bounding the per-iteration edge join at n*k "
    "forever): for the 3 smallest supplier keys as seeds, "
    "12 damped iterations where teleport AND dangling mass return to "
    "the walk's own seed, ALL seeds batched in one (seed, node) frame "
    "— S seeds cost one edge-join + one (seed, dst) groupBy shuffle "
    "per iteration, not S sequential walks (the multi-query batching "
    "that matters when a retrieval tier runs thousands of walks). Same "
    "all-integer discipline as pagerank_copurchase (BIGINT nano-unit "
    "mass, explicitly-rounded integer divisions), so the oracle's "
    "unrolled per-seed CTE chain replays bit-identically. Output: each "
    "seed's top-10 related suppliers (seed excluded), total-ordered.",
    tags=("graph", "train", "join"),
)
def ppr_related_suppliers_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from bigdatasmallprice_spark.operators.pagerank import (
        copurchase_edges,
        ppr_fit,
    )

    li = table(spark, sf_dir, "lineitem")
    sup = table(spark, sf_dir, "supplier")
    nodes = sup.select(F.col("s_suppkey").alias("node"))
    seeds = (
        sup.select(F.col("s_suppkey").alias("seed"))
        .orderBy("seed")
        .limit(_PPR_SEEDS)
    )
    from bigdatasmallprice_spark.operators.triangles import topk_edges

    # persist: same triple-evaluation of the edge pipeline as in
    # pagerank_copurchase_q (caller releases via released_caches)
    edges = topk_edges(copurchase_edges(li)).persist()
    ranks = ppr_fit(nodes, edges, seeds)
    w = Window.partitionBy("seed").orderBy(F.col("r").desc(), F.col("node"))
    return (
        ranks.filter(F.col("node") != F.col("seed"))
        .select(
            "seed",
            F.col("node").alias("s_suppkey"),
            F.col("r").alias("rank_nano"),
            F.row_number().over(w).cast("long").alias("pos"),
        )
        .filter(F.col("pos") <= _PPR_TOPK)
    )


def _triangles_oracle() -> str:
    from bigdatasmallprice_spark.operators.triangles import O_TRIANGLES_SQL

    return f"""WITH {O_TRIANGLES_SQL}
SELECT s.s_suppkey AS node,
       CAST(COALESCE(deg.degree, 0) AS BIGINT) AS degree,
       CAST(COALESCE(per_node.n_tri, 0) AS BIGINT) AS n_tri,
       CAST(COALESCE(deg.degree, 0) * (COALESCE(deg.degree, 0) - 1) // 2 AS BIGINT) AS n_wedges
FROM supplier s
LEFT JOIN deg ON deg.node = s.s_suppkey
LEFT JOIN per_node ON per_node.node = s.s_suppkey
"""


@register(
    "triangle_counts",
    _triangles_oracle(),
    doc="Degree-ordered triangle counting over the top-k-sparsified "
    "supplier co-purchase graph (Suri & Vassilvitskii 2011 — the "
    "canonical distributed graph kernel and the textbook 'curse of the "
    "last reducer' fix). Co-occurrence graphs saturate toward complete "
    "as the corpus grows (this one is 91%-dense at sf0.1), so the "
    "query first keeps each node's 10 STRONGEST ties (weight desc, "
    "deterministic tie-break; union over directions) — the standard "
    "kNN-graph sparsification that bounds the edge list at n*k "
    "forever. Then each undirected edge orients from its lower- to "
    "higher-ranked endpoint "
    "under the total order (degree, node-id), wedges form only between "
    "a node's OUT-neighbors (a hub's edges point INTO it, so no "
    "reducer ever sees a celebrity's d^2 wedge explosion — wedge "
    "volume drops from sum(d^2) to O(E^1.5)), and the closing-edge "
    "equi-join finds each triangle exactly once at its lowest-ranked "
    "vertex. Output per supplier: degree, triangle participation, and "
    "the exact-integer wedge denominator deg*(deg-1)/2 (the local "
    "clustering-coefficient pair, kept as integers instead of a "
    "float). Three shuffles, all equi-joins, no iteration; the oracle "
    "replays the identical orientation and joins.",
    tags=("graph", "join"),
)
def triangle_counts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdatasmallprice_spark.operators.pagerank import copurchase_edges
    from bigdatasmallprice_spark.operators.triangles import (
        topk_edges,
        triangle_counts,
    )

    li = table(spark, sf_dir, "lineitem")
    sup = table(spark, sf_dir, "supplier")
    nodes = sup.select(F.col("s_suppkey").alias("node"))
    return triangle_counts(topk_edges(copurchase_edges(li)), nodes)


def _walks_oracle() -> str:
    from bigdatasmallprice_spark.operators.walks import (
        SKIPGRAM_WINDOW,
        o_walk_chain_sql,
    )

    return f"""WITH {o_walk_chain_sql()}
SELECT a.node AS center, b.node AS context, CAST(COUNT(*) AS BIGINT) AS cnt
FROM walks a JOIN walks b
  ON a.start = b.start AND a.w = b.w AND a.step <> b.step
 AND abs(a.step - b.step) <= {SKIPGRAM_WINDOW}
GROUP BY 1, 2
"""


@register(
    "randomwalk_skipgram_pairs",
    _walks_oracle(),
    doc="Deterministic random-walk corpus + skip-gram pair extraction — "
    "the DeepWalk/node2vec DATA-PREP stage (graph embeddings train on "
    "(center, context) pairs harvested from truncated walks, exactly "
    "as word2vec trains on text windows). 4 walks of length 8 from "
    "every supplier over the top-10 strongest-tie co-purchase graph; "
    "each step picks the next neighbor by an md5-slice hash of "
    "(start, walk, step, node) mod degree — the engine-portable "
    "seeded-RNG stand-in, so the 'random' corpus is bit-reproducible "
    "and the oracle replays every step of every walk. Output: exact "
    "ordered within-window-2 pair counts (the positive-pair training "
    "corpus). Scale shape: each step is ONE equi-join of the W*n walk "
    "frontier against the n*k neighbor index; the pair stage is a "
    "walk-keyed self-join bounded by W*n*L*window. Dead ends truncate "
    "their walk (standard).",
    tags=("graph", "train", "join", "curation"),
)
def randomwalk_skipgram_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdatasmallprice_spark.operators.pagerank import copurchase_edges
    from bigdatasmallprice_spark.operators.triangles import topk_edges
    from bigdatasmallprice_spark.operators.walks import (
        random_walks,
        skipgram_pairs,
    )

    li = table(spark, sf_dir, "lineitem")
    sup = table(spark, sf_dir, "supplier")
    nodes = sup.select(F.col("s_suppkey").alias("node"))
    edges = topk_edges(copurchase_edges(li)).persist()
    walks = random_walks(edges, nodes).persist()
    return skipgram_pairs(walks)


def _n2v_oracle() -> str:
    from bigdatasmallprice_spark.operators.node2vec import o_n2v_chain_sql
    from bigdatasmallprice_spark.operators.walks import SKIPGRAM_WINDOW

    return f"""WITH {o_n2v_chain_sql()}
SELECT a.node AS center, b.node AS context, CAST(COUNT(*) AS BIGINT) AS cnt
FROM walks a JOIN walks b
  ON a.start = b.start AND a.w = b.w AND a.step <> b.step
 AND abs(a.step - b.step) <= {SKIPGRAM_WINDOW}
GROUP BY 1, 2
"""


@register(
    "node2vec_walk_corpus",
    _n2v_oracle(),
    doc="node2vec biased walk corpus (Grover-Leskovec 2016) — the "
    "second-order upgrade of randomwalk_skipgram_pairs: each step's "
    "distribution depends on where the walk CAME FROM, with integer "
    "bias numerators return:dist-1:dist-2 = 1:4:2 (p=4, q=2 — the "
    "community-detection regime) over the top-10 co-purchase graph. "
    "Deterministic and bit-replayable: the step choice is an md5-slice "
    "hash mod the candidate set's total bias mass mapped through "
    "cumulative intervals, and those intervals depend only on the "
    "(prev, cur) edge pair, so they PRECOMPUTE once as a table bounded "
    "by n*k^2 rows at any corpus size — each walk step is then ONE "
    "hash equi-join plus an interval filter, no per-step window and "
    "no per-step membership probe (the distance-1 adjacency test "
    "folds into the table build as one left join). Step 1 has no "
    "predecessor and takes the uniform DeepWalk choice under an "
    "independent 'n2v:' key. Output: the same exact within-window-2 "
    "pair counts shape as the DeepWalk corpus, so skipgram consumers "
    "(the SGNS fit above all) take either corpus unchanged. The "
    "oracle replays every interval of every step of every walk.",
    tags=("graph", "train", "join", "curation"),
)
def node2vec_walk_corpus_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdatasmallprice_spark.operators.node2vec import node2vec_walks
    from bigdatasmallprice_spark.operators.pagerank import copurchase_edges
    from bigdatasmallprice_spark.operators.triangles import topk_edges
    from bigdatasmallprice_spark.operators.walks import skipgram_pairs

    li = table(spark, sf_dir, "lineitem")
    sup = table(spark, sf_dir, "supplier")
    nodes = sup.select(F.col("s_suppkey").alias("node"))
    edges = topk_edges(copurchase_edges(li)).persist()
    walks = node2vec_walks(edges, nodes).persist()
    return skipgram_pairs(walks)


def _sgns_oracle() -> str:
    from bigdatasmallprice_spark.operators.sgns import (
        SGNS_ITERS,
        o_sgns_chain_sql,
    )

    return f"""WITH {o_sgns_chain_sql()}
SELECT node AS s_suppkey, dim, u AS u_micro, v AS v_micro
FROM emb{SGNS_ITERS}
"""


@register(
    "node_embedding_train",
    _sgns_oracle(),
    doc="SGNS node-embedding fit (word2vec's skip-gram-with-negative-"
    "sampling objective trained on the DeepWalk walk corpus — Perozzi "
    "et al. 2014 / Mikolov et al. 2013): closes the loop "
    "randomwalk_skipgram_pairs opens, producing the embedding table "
    "the ANN stack can serve. The model state is a DATAFRAME "
    "(node, dim, u, v) — data-sized, never collected — and every GD "
    "iteration is one (pair x dim) equi-join frame, one pair groupBy "
    "for the dot products, one join back for gradient rows, two "
    "(node, dim) gradient aggregates, and one update join, with the "
    "state localCheckpoint'ed per round (referenced twice — the "
    "references-per-round cadence rule). Negatives are md5-slice "
    "deterministic (2 per positive, endpoint collisions dropped), the "
    "link is the integer rational sigmoid, and the ENTIRE trajectory "
    "— init, dot products, gradients, clamped updates — is BIGINT "
    "micro-units with explicitly-rounded integer divisions, so the "
    "oracle's unrolled CTE chain replays the full fit bit-identically "
    "on any engine build. Quality is pinned in tests: within-LPA-"
    "community cosine exceeds cross-community cosine and top-1 "
    "neighbor retrieval beats the community base rate. Output: the "
    "final (supplier, dim) input/output embedding entries.",
    tags=("graph", "train", "join", "curation"),
)
def node_embedding_train_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdatasmallprice_spark.operators.pagerank import copurchase_edges
    from bigdatasmallprice_spark.operators.sgns import (
        sgns_fit,
        sgns_init,
        sgns_training_pairs,
    )
    from bigdatasmallprice_spark.operators.triangles import topk_edges
    from bigdatasmallprice_spark.operators.walks import (
        random_walks,
        skipgram_pairs,
    )

    li = table(spark, sf_dir, "lineitem")
    sup = table(spark, sf_dir, "supplier")
    nodes = sup.select(F.col("s_suppkey").alias("node"))
    # persist: the edge pipeline feeds the walk generator's neighbor
    # index AND degree frames (caller releases via released_caches)
    edges = topk_edges(copurchase_edges(li)).persist()
    walks = random_walks(edges, nodes).persist()
    pairs = skipgram_pairs(walks)
    n = nodes.count()  # model-sized scalar (PageRank's n)
    # persist (measured): scanned once per GD iteration plus the two
    # static node-weight aggregates. The word fit's train frame wins
    # from localCheckpoint lineage truncation, but here the lineage is
    # already short (the walk steps are checkpointed inside
    # random_walks) and the A/B consistently favored the cached
    # columnar scan (~12-14s vs ~16-20s at sf0.1).
    train = sgns_training_pairs(pairs, nodes, n).persist()
    emb = sgns_fit(train, sgns_init(nodes))
    return emb.select(
        F.col("node").alias("s_suppkey"),
        "dim",
        F.col("u").alias("u_micro"),
        F.col("v").alias("v_micro"),
    )


def _lpa_oracle() -> str:
    from bigdatasmallprice_spark.operators.lpa import LPA_ITERS, o_lpa_chain_sql

    last = 2 * LPA_ITERS  # parity half-steps
    return f"""WITH {o_lpa_chain_sql()}
SELECT l.node AS s_suppkey, l.label AS community,
       cs.n AS community_size
FROM l{last} l
JOIN (SELECT label, CAST(COUNT(*) AS BIGINT) AS n FROM l{last} GROUP BY 1) cs
  ON cs.label = l.label
"""


@register(
    "lpa_communities",
    _lpa_oracle(),
    doc="Weighted label propagation (Raghavan et al. 2007) over the "
    "top-10 strongest-tie supplier co-purchase graph — community "
    "detection as a replayable iterative dataflow. Vanilla LPA is "
    "famously nondeterministic (random update order, random "
    "tie-breaks, and fully-synchronous updates oscillate on bipartite "
    "structure); this one is engine-replayable: SEMI-SYNCHRONOUS "
    "parity-colored half-steps (even ids update, then odd ids — the "
    "standard oscillation fix), ties break on the SMALLEST label, and "
    "each node's own label participates at weight 1. 4 rounds (8 "
    "half-steps), all integer (labels are node ids, scores BIGINT "
    "weight sums). Per half-step ONE edge-label join + ONE "
    "(node, label) aggregate + ONE argmax window — the canonical distributed LPA plan; the "
    "oracle unrolls identical rounds. Output: every supplier's "
    "community id (its community's smallest-anchored label) and "
    "community size. Completes the graph-analytics family: global "
    "centrality (PageRank), retrieval (PPR), cohesion (triangles), "
    "embedding data-prep (walks), and community structure (this).",
    tags=("graph", "join"),
)
def lpa_communities_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdatasmallprice_spark.operators.lpa import lpa_fit
    from bigdatasmallprice_spark.operators.pagerank import copurchase_edges
    from bigdatasmallprice_spark.operators.triangles import topk_edges

    li = table(spark, sf_dir, "lineitem")
    sup = table(spark, sf_dir, "supplier")
    nodes = sup.select(F.col("s_suppkey").alias("node"))
    # lpa_fit checkpoints its own copy of the edge frame internally
    edges = topk_edges(copurchase_edges(li))
    labels = lpa_fit(nodes, edges).persist()
    sizes = labels.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("community_size")
    )
    return labels.join(sizes, "label").select(
        F.col("node").alias("s_suppkey"),
        F.col("label").alias("community"),
        "community_size",
    )
