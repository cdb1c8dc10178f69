"""Fixed-iteration PageRank as pure DataFrame algebra — the iterative
graph algorithm demonstrator alongside the recursive-CTE reachability
walk (operators/recursive.py) and the dup-cluster connected components
(llm/cluster.py:197).

Graph: the customer–supplier interaction graph (an edge when a
customer's order contains a supplier's line), symmetrized so every
node has out-degree ≥ 1 — no dangling-mass redistribution term needed.

Determinism engineering (the interesting part): a double SUM over
in-neighbor contributions is summation-order-dependent, so naive
PageRank can never hash-match across engines.  Here each edge
contribution rounds to 12 dp and CASTs to DECIMAL(28,12) *before* the
aggregate — decimal addition is exact and order-free — and the damping
update is one fixed double expression of that exact sum.  Each
iteration is therefore bit-identical on any engine, any partition
order, which is also precisely what makes the result stable across
cluster re-runs at 100 TB.

Scale posture: the iteration state is (node, rank) — tiny relative to
the edge list, so each round is one broadcast-rank map join over the
cached (src, dst, deg) edges plus one dst-keyed aggregate.  When the
vertex set outgrows the broadcast threshold (true web scale), drop the
broadcast hint and the same plan becomes the classic vertex-centric
BSP step (Pregel's shape): rank shuffles on the join key each round,
edges stay partitioned on src.  Hot vertices (a
supplier in every order) skew the contribution aggregate — the
standard mitigation is the same two-level salt as operators/skew.py,
applied to the dst-grouped SUM (exactness survives: decimal partials
re-sum exactly).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_builder_spark.registry import register
from etl_builder_spark.session import load_table, round_barrier

#: supplier node ids are offset into their own range so the two key
#: spaces can share one BIGINT node column
SUPP_NODE_OFFSET = 100_000
DAMPING = 0.85
N_ITER = 3


def _graph_state(spark, sf_dir):
    """The iteration-invariant graph state (edges_deg, outdeg), both
    persisted.  Without the persist, lazy lineage re-derives the
    orders⋈lineitem distinct-pair join once per iteration per
    referencing branch (~10 recomputes for 3 rounds; measured 7.7s →
    2.4s at sf0.1) — caching the invariant edge list is the canonical
    Spark pattern for iterative graph algorithms (GraphX does exactly
    this).  Spark's cache reuses the rebuilt, persisted frames across
    calls."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    pairs = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").alias("c"),
            (F.lit(SUPP_NODE_OFFSET) + F.col("l_suppkey")).alias("s"),
        )
        .distinct()
    )
    edges = pairs.select(F.col("c").alias("src"), F.col("s").alias("dst")).unionByName(
        pairs.select(F.col("s").alias("src"), F.col("c").alias("dst"))
    )
    outdeg = (
        edges.groupBy("src")
        .agg(F.count(F.lit(1)).alias("deg"))
        .select(F.col("src").alias("deg_node"), "deg")
        .persist()
    )
    # deg folded into the cached edges once, so each iteration is ONE
    # broadcast-rank join + one dst aggregate — no per-round edge⋈deg.
    # The cache is hash-partitioned by dst (guide §2.4: operations
    # keyed the same way share one exchange): every PageRank round
    # aggregates contributions BY dst, and the broadcast-rank join
    # preserves the streamed side's partitioning, so the per-round
    # groupBy("dst") reuses this one exchange instead of shuffling
    # the full edge list every iteration — N_ITER shuffles of the
    # edge frame collapse into one, paid at cache build.  The sum
    # is order-free decimal, so values are partition-independent.
    edges_deg = (
        edges.join(outdeg, edges.src == outdeg.deg_node)
        .select("src", "dst", "deg")
        .repartition("dst")
        .persist()
    )
    return edges_deg, outdeg


def _oracle() -> str:
    ctes = [
        f"""
        pairs AS (
            SELECT DISTINCT o.o_custkey AS c, {SUPP_NODE_OFFSET} + l.l_suppkey AS s
            FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        ),
        edges AS (
            SELECT c AS src, s AS dst FROM pairs
            UNION ALL
            SELECT s AS src, c AS dst FROM pairs
        ),
        outdeg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
        nodes AS (SELECT src AS node FROM outdeg),
        nn AS (SELECT COUNT(*) AS n FROM nodes),
        r0 AS (SELECT node, 1.0 / nn.n AS rank FROM nodes CROSS JOIN nn)
        """
    ]
    for k in range(1, N_ITER + 1):
        ctes.append(
            f"""
        i{k} AS (
            SELECT e.dst AS node,
                   SUM(CAST(ROUND(r.rank / d.deg, 12) AS DECIMAL(28,12))) AS in_sum
            FROM edges e
            JOIN r{k - 1} r ON r.node = e.src
            JOIN outdeg d ON d.src = e.src
            GROUP BY e.dst
        ),
        r{k} AS (
            SELECT n.node,
                   (1.0 - {DAMPING}) / nn.n
                   + {DAMPING} * CAST(COALESCE(i.in_sum, 0) AS DOUBLE) AS rank
            FROM nodes n CROSS JOIN nn LEFT JOIN i{k} i ON i.node = n.node
        )
        """
        )
    body = ",".join(ctes)
    return f"""
        WITH {body}
        SELECT r.node,
               (r.node >= {SUPP_NODE_OFFSET}) AS is_supplier,
               d.deg AS degree,
               ROUND(r.rank * nn.n, 6) AS rank_rel
        FROM r{N_ITER} r
        JOIN outdeg d ON d.src = r.node
        CROSS JOIN nn
    """


@register("graph_pagerank_fixed", oracle=_oracle(), tags=("GR-pagerank",))
def graph_pagerank_fixed(spark, sf_dir):
    """Three damped PageRank rounds over the symmetrized
    customer–supplier graph; ranks reported relative to uniform
    (rank × N, average 1.0).  See module docstring for the
    order-free-decimal determinism scheme.

    The declared key BROADCASTS the rank vector into each iteration's
    edge join — right for this graph's contract (|V|≈115k at sf1, a
    few MB).  At web scale an O(V) broadcast fails; the swap is
    ``broadcast_rank=False`` (the vertex-centric shuffled join on
    ``src``), value-identical and plan-asserted in
    tests/test_plans.py::test_pagerank_scale_form_shuffled_join."""
    return _pagerank_result(spark, sf_dir, broadcast_rank=True)


def _pagerank_result(spark, sf_dir, broadcast_rank: bool = True):
    edges, outdeg = _graph_state(spark, sf_dir)
    nodes = outdeg.select(F.col("deg_node").alias("node"))
    nn = nodes.agg(F.count(F.lit(1)).alias("n"))
    hint = F.broadcast if broadcast_rank else (lambda df: df)

    rank = nodes.crossJoin(F.broadcast(nn)).select(
        "node", (F.lit(1.0) / F.col("n")).alias("rank")
    )
    for _ in range(N_ITER):
        contrib = edges.join(hint(rank), edges.src == rank.node).select(
            F.col("dst"),
            F.round(F.col("rank") / F.col("deg"), 12)
            .cast("decimal(28,12)")
            .alias("contrib"),
        )
        in_sum = contrib.groupBy("dst").agg(F.sum("contrib").alias("in_sum"))
        # r15 optimization (guide §2.4): the graph is SYMMETRIZED, so
        # every node has at least one in-edge and in_sum already keys
        # every node — the former nodes LEFT JOIN in_sum (one extra
        # join per iteration, its COALESCE dead by construction) is
        # dropped; values are unchanged because the join always matched.
        rank = in_sum.crossJoin(F.broadcast(nn)).select(
            F.col("dst").alias("node"),
            (
                F.lit(1.0 - DAMPING) / F.col("n")
                + F.lit(DAMPING) * F.col("in_sum").cast("double")
            ).alias("rank"),
        )
    return (
        rank.join(outdeg, rank.node == outdeg.deg_node)
        .crossJoin(F.broadcast(nn))
        .select(
            "node",
            (F.col("node") >= SUPP_NODE_OFFSET).alias("is_supplier"),
            F.col("deg").alias("degree"),
            F.round(F.col("rank") * F.col("n"), 6).alias("rank_rel"),
        )
    )


@register(
    "graph_degree_distribution",
    oracle=f"""
        WITH pairs AS (
            SELECT DISTINCT o.o_custkey AS c, {SUPP_NODE_OFFSET} + l.l_suppkey AS s
            FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        ),
        edges AS (
            SELECT c AS src, s AS dst FROM pairs
            UNION ALL
            SELECT s AS src, c AS dst FROM pairs
        ),
        deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src)
        SELECT (src >= {SUPP_NODE_OFFSET}) AS is_supplier,
               CAST(floor(ln(CAST(deg AS DOUBLE)) / ln(2.0)) AS INT) AS log2_bucket,
               COUNT(*) AS n_nodes,
               MIN(deg) AS min_deg,
               MAX(deg) AS max_deg
        FROM deg
        GROUP BY 1, 2
    """,
    tags=("GR-degree",),
)
def graph_degree_distribution(spark, sf_dir):
    """Degree distribution of the customer–supplier graph in log₂
    buckets, split by node class — the pre-flight skew census every
    graph job should run BEFORE PageRank/components at scale: the max
    bucket tells you whether a hot vertex needs salting (the same
    check operators/skew.py automates for join keys).  Reuses the
    persisted edge state from graph_pagerank_fixed, so in a session
    that already ranked the graph this is one aggregate over cached
    rows; log₂ buckets come from ln(deg)/ln(2) floored — integer in,
    identical double expression, exact floor both engines."""
    _, outdeg = _graph_state(spark, sf_dir)
    bucket = F.floor(
        F.log(F.col("deg").cast("double")) / F.log(F.lit(2.0))
    ).cast("int")
    return outdeg.groupBy(
        (F.col("deg_node") >= SUPP_NODE_OFFSET).alias("is_supplier"),
        bucket.alias("log2_bucket"),
    ).agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.min("deg").alias("min_deg"),
        F.max("deg").alias("max_deg"),
    )


@register(
    "graph_triangle_count",
    oracle="""
        WITH items AS (
            SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        ),
        edges AS (
            SELECT a.l_partkey AS u, b.l_partkey AS v
            FROM items a
            JOIN items b ON a.l_orderkey = b.l_orderkey
                        AND a.l_partkey < b.l_partkey
            GROUP BY 1, 2
            HAVING COUNT(*) >= 3
        ),
        wedges AS (
            SELECT e1.u AS u, e1.v AS v, e2.v AS w
            FROM edges e1 JOIN edges e2 ON e1.v = e2.u
        ),
        tris AS (
            SELECT COUNT(*) AS n_tri
            FROM wedges x JOIN edges e3 ON e3.u = x.u AND e3.v = x.w
        ),
        deg AS (
            SELECT node, CAST(COUNT(*) AS BIGINT) AS d
            FROM (SELECT u AS node FROM edges
                  UNION ALL SELECT v AS node FROM edges)
            GROUP BY node
        ),
        triads AS (
            SELECT CAST(SUM(d * (d - 1) / 2) AS BIGINT) AS n_open
            FROM deg
        )
        SELECT CAST((SELECT COUNT(*) FROM edges) AS BIGINT) AS n_edges,
               CAST((SELECT COUNT(*) FROM deg) AS BIGINT) AS n_nodes,
               CAST(t.n_tri AS BIGINT) AS n_triangles,
               ROUND(CASE WHEN tr.n_open = 0 THEN 0.0
                          ELSE 3.0 * t.n_tri / tr.n_open END, 6)
                   AS clustering_coefficient
        FROM tris t CROSS JOIN triads tr
    """,
    tags=("GR-triangles",),
)
def graph_triangle_count(spark, sf_dir):
    """Distributed triangle counting + global clustering coefficient
    over the co-purchase graph (parts co-ordered ≥ 3 times), the
    third classic graph kernel next to PageRank and reachability: the
    ordered-edge wedge join (u < v < w, so each triangle is
    enumerated exactly once with zero orientation bookkeeping) closed
    by one edge-existence join, plus Σ C(deg, 2) open triads for
    C = 3·triangles/triads.

    100 TB posture: this IS the MapReduce triangle algorithm
    (node-iterator++): two shuffles over the ordered edge list, wedge
    fan-out bounded by per-node out-degree in the ORDER (every node's
    out-degree ≤ its degree, and orientation by id splits hubs'
    wedges across their neighbors — the standard hub mitigation; at
    web scale orient by (degree, id) instead, same plan).  The
    support-floor edge definition is the scale lever shared with
    ml_item_cf_cosine.  All counts are exact integers; the single
    division rounds 6 dp."""
    edges = _copurchase_edges(spark, sf_dir)
    e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
    wedges = e1.join(e2, F.col("e1.v") == F.col("e2.u")).select(
        F.col("e1.u").alias("wu"), F.col("e1.v").alias("wv"), F.col("e2.v").alias("ww")
    )
    tris = wedges.join(
        e3, (F.col("e3.u") == F.col("wu")) & (F.col("e3.v") == F.col("ww"))
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_tri"))
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    )
    triads = deg.agg(
        F.sum(F.col("d") * (F.col("d") - 1) / 2).cast("bigint").alias("n_open"),
        F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
    )
    n_edges = edges.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
    cc = (
        F.when(F.col("n_open") == 0, F.lit(0.0))
        .otherwise(F.lit(3.0) * F.col("n_tri") / F.col("n_open"))
    )
    return (
        n_edges.crossJoin(F.broadcast(triads))
        .crossJoin(F.broadcast(tris))
        .select(
            "n_edges",
            "n_nodes",
            "n_tri",
            F.round(cc, 6).alias("clustering_coefficient"),
        )
        .withColumnRenamed("n_tri", "n_triangles")
    )


@register(
    "graph_jaccard_link_prediction",
    oracle="""
        WITH items AS (
            SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        ),
        edges AS (
            SELECT a.l_partkey AS u, b.l_partkey AS v
            FROM items a
            JOIN items b ON a.l_orderkey = b.l_orderkey
                        AND a.l_partkey < b.l_partkey
            GROUP BY 1, 2
            HAVING COUNT(*) >= 3
        ),
        adj AS (
            SELECT u AS node, v AS nbr FROM edges
            UNION ALL
            SELECT v AS node, u AS nbr FROM edges
        ),
        deg AS (
            SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM adj GROUP BY node
        ),
        common AS (
            SELECT x.node AS u, y.node AS w, CAST(COUNT(*) AS BIGINT) AS n_common
            FROM adj x JOIN adj y ON x.nbr = y.nbr AND x.node < y.node
            GROUP BY 1, 2
        ),
        cand AS (
            SELECT c.u, c.w, c.n_common
            FROM common c
            LEFT JOIN edges e ON e.u = c.u AND e.v = c.w
            WHERE e.u IS NULL
        )
        SELECT c.u, c.w, c.n_common,
               ROUND(CAST(c.n_common AS DOUBLE)
                     / (du.d + dw.d - c.n_common), 6) AS jaccard
        FROM cand c
        JOIN deg du ON du.node = c.u
        JOIN deg dw ON dw.node = c.w
        ORDER BY jaccard DESC, c.u, c.w
        LIMIT 20
    """,
    tags=("GR-linkpred",),
)
def graph_jaccard_link_prediction(spark, sf_dir):
    """Neighborhood-Jaccard link prediction over the co-purchase graph:
    for NON-adjacent part pairs sharing at least one neighbor, score
    |N(u)∩N(w)| / |N(u)∪N(w)| and rank the top predicted links — the
    classic similar-item / recommend-an-edge baseline, sharing its
    edge definition (support floor ≥ 3) with graph_triangle_count and
    ml_item_cf_cosine.

    100 TB posture: common-neighbor pairs come from one self-join of
    the adjacency list keyed on the SHARED NEIGHBOR (wedge fan-out
    bounded per node degree, the triangle-count argument); the
    non-adjacency filter is a broadcast-able anti-join on the edge
    list; degrees are a broadcast dimension; top-20 is a
    TakeOrderedAndProject merge.  All set sizes are exact integers —
    the one division rounds 6 dp before ranking with the pair-key
    tiebreak."""
    edges = _copurchase_edges(spark, sf_dir)
    adj = (
        edges.select(F.col("u").alias("node"), F.col("v").alias("nbr"))
        .unionAll(edges.select(F.col("v").alias("node"), F.col("u").alias("nbr")))
        .persist()
    )
    deg = adj.groupBy("node").agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    x, y = adj.alias("x"), adj.alias("y")
    common = (
        x.join(y, (F.col("x.nbr") == F.col("y.nbr")) & (F.col("x.node") < F.col("y.node")))
        .groupBy(F.col("x.node").alias("u"), F.col("y.node").alias("w"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_common"))
    )
    cand = common.join(
        edges,
        (common["u"] == edges["u"]) & (common["w"] == edges["v"]),
        "left_anti",
    )
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dw = deg.select(F.col("node").alias("w"), F.col("d").alias("dw"))
    jac = F.round(
        F.col("n_common").cast("double")
        / (F.col("du") + F.col("dw") - F.col("n_common")),
        6,
    )
    return (
        cand.join(F.broadcast(du), "u")
        .join(F.broadcast(dw), "w")
        .select("u", "w", "n_common", jac.alias("jaccard"))
        .orderBy(F.col("jaccard").desc(), "u", "w")
        .limit(20)
    )


@register(
    "graph_resource_allocation",
    oracle="""
        WITH items AS (
            SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        ),
        edges AS (
            SELECT a.l_partkey AS u, b.l_partkey AS v
            FROM items a
            JOIN items b ON a.l_orderkey = b.l_orderkey
                        AND a.l_partkey < b.l_partkey
            GROUP BY 1, 2
            HAVING COUNT(*) >= 3
        ),
        adj AS (
            SELECT u AS node, v AS nbr FROM edges
            UNION ALL
            SELECT v AS node, u AS nbr FROM edges
        ),
        deg AS (
            SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM adj GROUP BY node
        ),
        scored AS (
            SELECT x.node AS u, y.node AS w,
                   CAST(COUNT(*) AS BIGINT) AS n_common,
                   CAST(SUM(CAST(ROUND(1.0 / dz.d, 9) AS DECIMAL(18,9)))
                        AS DOUBLE) AS ra_score
            FROM adj x
            JOIN adj y ON x.nbr = y.nbr AND x.node < y.node
            JOIN deg dz ON dz.node = x.nbr
            GROUP BY 1, 2
        ),
        cand AS (
            SELECT s.u, s.w, s.n_common, s.ra_score
            FROM scored s
            LEFT JOIN edges e ON e.u = s.u AND e.v = s.w
            WHERE e.u IS NULL
        )
        SELECT u, w, n_common, ra_score
        FROM cand
        ORDER BY ra_score DESC, u, w
        LIMIT 20
    """,
    tags=("GR-linkpred",),
)
def graph_resource_allocation(spark, sf_dir):
    """Resource-allocation link prediction (Zhou-Lu-Zhang) over the
    co-purchase graph: non-adjacent pairs scored Σ 1/deg(z) over their
    common neighbors z — the stronger cousin of neighborhood Jaccard
    (it discounts hub intermediaries), sharing the support-≥3 edge
    definition with graph_jaccard_link_prediction.

    Exactness: each 1/deg term is ROUND(·,9)-ed into DECIMAL(18,9)
    BEFORE the cross-wedge sum (round-then-decimal, policy §7.2 — the
    magnitudes are ≤ 1, where 9-dp rounding is far above double ULP),
    so the score aggregation is order-free and the top-20 ranking
    compares exact decimals.  Same wedge-join scale shape as the
    Jaccard key: fan-out bounded by degree, degrees broadcast,
    non-adjacency as a broadcast anti-join, top-k a
    TakeOrderedAndProject merge."""
    edges = _copurchase_edges(spark, sf_dir)
    adj = edges.select(F.col("u").alias("node"), F.col("v").alias("nbr")).unionAll(
        edges.select(F.col("v").alias("node"), F.col("u").alias("nbr"))
    )
    deg = adj.groupBy("node").agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    dz = deg.select(F.col("node").alias("z"), F.col("d").alias("dz"))
    x, y = adj.alias("x"), adj.alias("y")
    scored = (
        x.join(y, (F.col("x.nbr") == F.col("y.nbr")) & (F.col("x.node") < F.col("y.node")))
        .join(F.broadcast(dz), F.col("x.nbr") == F.col("z"))
        .groupBy(F.col("x.node").alias("u"), F.col("y.node").alias("w"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_common"),
            F.sum(F.round(F.lit(1.0) / F.col("dz"), 9).cast("decimal(18,9)"))
            .cast("double")
            .alias("ra_score"),
        )
    )
    cand = scored.join(
        edges,
        (scored["u"] == edges["u"]) & (scored["w"] == edges["v"]),
        "left_anti",
    )
    return (
        cand.select("u", "w", "n_common", "ra_score")
        .orderBy(F.col("ra_score").desc(), "u", "w")
        .limit(20)
    )


@register(
    "graph_katz_centrality",
    oracle="""
        WITH items AS (
            SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        ),
        e0 AS (
            SELECT a.l_partkey AS u, b.l_partkey AS v
            FROM items a
            JOIN items b ON a.l_orderkey = b.l_orderkey
                        AND a.l_partkey < b.l_partkey
            GROUP BY 1, 2
            HAVING COUNT(*) >= 3
        ),
        adj AS (
            SELECT u AS src, v AS dst FROM e0
            UNION ALL
            SELECT v AS src, u AS dst FROM e0
        ),
        w1 AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS c1 FROM adj GROUP BY 1),
        p2 AS (
            SELECT a.src AS node, CAST(COUNT(*) AS BIGINT) AS c2
            FROM adj a JOIN adj b ON a.dst = b.src
            GROUP BY 1
        ),
        p3 AS (
            SELECT a.src AS node, CAST(COUNT(*) AS BIGINT) AS c3
            FROM adj a JOIN adj b ON a.dst = b.src JOIN adj c ON b.dst = c.src
            GROUP BY 1
        )
        SELECT w1.node,
               w1.c1 AS walks_1,
               COALESCE(p2.c2, 0) AS walks_2,
               COALESCE(p3.c3, 0) AS walks_3,
               64 * w1.c1 + 8 * COALESCE(p2.c2, 0) + COALESCE(p3.c3, 0)
                   AS katz_x512
        FROM w1
        LEFT JOIN p2 ON p2.node = w1.node
        LEFT JOIN p3 ON p3.node = w1.node
    """,
    tags=("GR-centrality",),
)
def graph_katz_centrality(spark, sf_dir):
    """Katz centrality, truncated at walk length 3 with attenuation
    β = 1/8, over the co-purchase graph: katz_i = Σ_k β^k · (#walks of
    length k from i).  Because β is a power of two, 512·katz =
    64·w1 + 8·w2 + w3 is EXACT integer arithmetic end-to-end — walk
    counts come from two sparse "matrix products" expressed as
    adjacency self-joins with per-node aggregation (walks, not paths:
    backtracking counts, as Katz defines).  The attenuation makes the
    truncation honest: the dropped k=4 term is ≤ 1/8 of the k=3 term's
    scale.

    100 TB posture: each power is one equi-join keyed on the shared
    endpoint (fan-out bounded by degree — the triangle/wedge
    argument) followed by a map-side-combined count; β^k never
    materializes as a float."""
    e0 = _copurchase_edges(spark, sf_dir)
    adj = (
        e0.select(F.col("u").alias("src"), F.col("v").alias("dst"))
        .unionAll(e0.select(F.col("v").alias("src"), F.col("u").alias("dst")))
        .persist()
    )
    w1 = adj.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c1")
    )
    x, y, z = adj.alias("x"), adj.alias("y"), adj.alias("z")
    p2 = (
        x.join(y, F.col("x.dst") == F.col("y.src"))
        .groupBy(F.col("x.src").alias("node"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("c2"))
    )
    p3 = (
        x.join(y, F.col("x.dst") == F.col("y.src"))
        .join(z, F.col("y.dst") == F.col("z.src"))
        .groupBy(F.col("x.src").alias("node"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("c3"))
    )
    out = (
        w1.join(p2.withColumnRenamed("node", "n2"), F.col("n2") == F.col("node"), "left")
        .join(p3.withColumnRenamed("node", "n3"), F.col("n3") == F.col("node"), "left")
    )
    c2 = F.coalesce(F.col("c2"), F.lit(0))
    c3 = F.coalesce(F.col("c3"), F.lit(0))
    return out.select(
        "node",
        F.col("c1").alias("walks_1"),
        c2.alias("walks_2"),
        c3.alias("walks_3"),
        (64 * F.col("c1") + 8 * c2 + c3).alias("katz_x512"),
    )


def _copurchase_edges(spark, sf_dir):
    """Undirected co-purchase edges (u < v) with a support floor of
    ≥ 3 shared orders, persisted: every co-purchase graph key reads
    the edge list two or more times."""
    l = load_table(spark, sf_dir, "lineitem")
    items = l.select("l_orderkey", "l_partkey").distinct()
    a, b = items.alias("a"), items.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v"))
        .agg(F.count(F.lit(1)).alias("n_co"))
        .where(F.col("n_co") >= 3)
        .select("u", "v")
        .persist()
    )


def _propagate_labels(sym):
    """(node, lab) after 3 rounds of min-label propagation over the
    symmetric edge list ``sym`` (u, v): every node starts with its own
    id and takes the least of its label and its neighbours' labels.

    Each round's frontier is persisted: without it every round's plan
    re-expands the full prior lineage (the classic
    iterate-on-DataFrame trap — each extra round would re-run all
    earlier joins), while the cache turns round r's input into one
    InMemoryTableScan; A/B at sf0.1 warmed: 3.81s -> 3.56s, and the
    gap widens with rounds x data (PERF.md round 9).  It stays on
    persist(), not ``session.round_barrier``: a checkpointed frontier
    forgets its hash(node) partitioning, so the labels side shuffles
    once more per plan (pinned by
    test_label_propagation_sym_side_never_reshuffles)."""
    labels = sym.select(F.col("u").alias("node")).distinct().select(
        "node", F.col("node").alias("lab")
    )
    for _ in range(3):
        labels = labels.persist()
        nb_min = (
            sym.join(labels.withColumnRenamed("node", "v2"), sym["v"] == F.col("v2"))
            .groupBy("u")
            .agg(F.min("lab").alias("nb_lab"))
        )
        labels = labels.join(nb_min, labels["node"] == nb_min["u"], "left").select(
            "node",
            F.least(F.col("lab"), F.coalesce(F.col("nb_lab"), F.col("lab"))).alias("lab"),
        )
    return labels


_EDGES_SQL = """
        items AS (
            SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        ),
        edges AS (
            SELECT a.l_partkey AS u, b.l_partkey AS v
            FROM items a
            JOIN items b ON a.l_orderkey = b.l_orderkey
                        AND a.l_partkey < b.l_partkey
            GROUP BY 1, 2
            HAVING COUNT(*) >= 3
        )
"""


@register(
    "graph_local_clustering",
    oracle=f"""
        WITH {_EDGES_SQL},
        wedges AS (
            SELECT e1.u AS u, e1.v AS v, e2.v AS w
            FROM edges e1 JOIN edges e2 ON e1.v = e2.u
        ),
        tris AS (
            SELECT x.u, x.v, x.w
            FROM wedges x JOIN edges e3 ON e3.u = x.u AND e3.v = x.w
        ),
        tri_per_node AS (
            SELECT node, CAST(COUNT(*) AS BIGINT) AS n_tri
            FROM (SELECT u AS node FROM tris
                  UNION ALL SELECT v AS node FROM tris
                  UNION ALL SELECT w AS node FROM tris)
            GROUP BY node
        ),
        deg AS (
            SELECT node, CAST(COUNT(*) AS BIGINT) AS d
            FROM (SELECT u AS node FROM edges
                  UNION ALL SELECT v AS node FROM edges)
            GROUP BY node
        )
        SELECT d.node, d.d AS degree,
               COALESCE(t.n_tri, 0) AS n_triangles,
               CASE WHEN d.d < 2 THEN 0.0
                    ELSE ROUND(2.0 * COALESCE(t.n_tri, 0) / (d.d * (d.d - 1)), 6)
               END AS local_cc
        FROM deg d LEFT JOIN tri_per_node t ON d.node = t.node
    """,
    tags=("GR-triangles",),
)
def graph_local_clustering(spark, sf_dir):
    """PER-NODE clustering coefficient — graph_triangle_count's global
    statistic localized: each closed wedge (u<v<w, enumerated once)
    credits all three corners, and lc(v) = 2·tri(v)/(deg(v)·(deg(v)−1))
    with a zero-guard for degree-<2 nodes.  The per-node table is what
    community detection and spam/bot features consume.

    100 TB posture: identical shuffle structure to the global kernel
    (ordered wedge join + one closure join) plus two node-keyed hash
    aggregates; the triple explode is 3 rows per triangle — bounded by
    the triangle count, not the wedge count.  All counts exact BIGINT;
    one guarded division rounds 6 dp."""
    edges = _copurchase_edges(spark, sf_dir)
    e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
    wedges = e1.join(e2, F.col("e1.v") == F.col("e2.u")).select(
        F.col("e1.u").alias("wu"), F.col("e1.v").alias("wv"), F.col("e2.v").alias("ww")
    )
    tris = wedges.join(
        e3, (F.col("e3.u") == F.col("wu")) & (F.col("e3.v") == F.col("ww"))
    ).select("wu", "wv", "ww")
    tri_per_node = (
        tris.select(F.col("wu").alias("node"))
        .unionAll(tris.select(F.col("wv").alias("node")))
        .unionAll(tris.select(F.col("ww").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_tri"))
    )
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    )
    lc = F.when(F.col("d") < 2, F.lit(0.0)).otherwise(
        F.round(2.0 * F.coalesce(F.col("n_tri"), F.lit(0)) / (F.col("d") * (F.col("d") - 1)), 6)
    )
    return (
        deg.join(tri_per_node, "node", "left")
        .select(
            "node",
            F.col("d").alias("degree"),
            F.coalesce(F.col("n_tri"), F.lit(0)).cast("bigint").alias("n_triangles"),
            lc.alias("local_cc"),
        )
    )


#: k-core threshold and fixed peel rounds
KCORE_K = 3
KCORE_ROUNDS = 4


def _kcore_round_sql(r: int) -> str:
    prev = "dedges" if r == 1 else f"e{r - 1}"
    return f"""
        d{r} AS MATERIALIZED (
            SELECT src, CAST(COUNT(*) AS BIGINT) AS d
            FROM {prev} GROUP BY src
        ),
        keep{r} AS (SELECT src FROM d{r} WHERE d >= {KCORE_K}),
        e{r} AS MATERIALIZED (
            SELECT e.src, e.dst FROM {prev} e
            JOIN keep{r} a ON e.src = a.src
            JOIN keep{r} b ON e.dst = b.src
        )
    """


@register(
    "graph_kcore_peel",
    oracle=f"""
        WITH {_EDGES_SQL},
        dedges AS (
            SELECT u AS src, v AS dst FROM edges
            UNION ALL SELECT v AS src, u AS dst FROM edges
        ),
        {", ".join(_kcore_round_sql(r).strip() for r in range(1, KCORE_ROUNDS + 1))}
        SELECT * FROM (
            {" UNION ALL ".join(
                f'''SELECT CAST({r} AS BIGINT) AS round,
                           CAST((SELECT COUNT(*) FROM d{r} WHERE d >= {KCORE_K}) AS BIGINT)
                               AS nodes_surviving,
                           CAST((SELECT COUNT(*) FROM e{r}) / 2 AS BIGINT) AS edges_remaining'''
                for r in range(1, KCORE_ROUNDS + 1)
            )}
        )
        ORDER BY round
    """,
    tags=("GR-kcore",),
)
def graph_kcore_peel(spark, sf_dir):
    """Iterative {KCORE_K}-core peeling, {KCORE_ROUNDS} fixed rounds:
    each round drops every node whose CURRENT degree is below
    {KCORE_K} (with both endpoints' survival required to keep an
    edge), converging toward the {KCORE_K}-core — the standard
    distributed k-core algorithm (degree filter + semi-join, repeated),
    and the densest-region extractor behind graph sampling and
    community seeding.  Emits per-round surviving-node and remaining-
    edge counts — the peel trajectory.

    100 TB posture: each round is ONE degree aggregate plus two
    semi-joins on the src key; each round's ``keep`` and ``nxt`` pass
    through ``session.round_barrier``, so round r plans only its own
    joins over two materialized leaves, never the r−1 rounds before it.
    Fixed rounds ≡ the graph_pagerank_fixed convergence discipline (run
    to fixpoint by raising the constant; each round's cost is the same
    join)."""
    edges = _copurchase_edges(spark, sf_dir)
    dedges = edges.select(F.col("u").alias("src"), F.col("v").alias("dst")).unionAll(
        edges.select(F.col("v").alias("src"), F.col("u").alias("dst"))
    )
    rows = []
    cur = dedges
    for r in range(1, KCORE_ROUNDS + 1):
        deg = cur.groupBy("src").agg(F.count(F.lit(1)).cast("bigint").alias("d"))
        keep = round_barrier(deg.where(F.col("d") >= KCORE_K).select("src"))
        nxt = round_barrier(
            cur.join(keep, "src")
            .join(keep.select(F.col("src").alias("dst")), "dst")
            .select("src", "dst")
        )
        stats = keep.agg(F.count(F.lit(1)).cast("bigint").alias("nodes_surviving")).crossJoin(
            nxt.agg((F.count(F.lit(1)) / 2).cast("bigint").alias("edges_remaining"))
        )
        rows.append(
            stats.select(
                F.lit(r).cast("bigint").alias("round"),
                "nodes_surviving",
                "edges_remaining",
            )
        )
        cur = nxt
    out = rows[0]
    for r in rows[1:]:
        out = out.unionAll(r)
    return out.orderBy("round")


@register(
    "graph_degree_assortativity",
    oracle=f"""
        WITH {_EDGES_SQL},
        deg AS (
            SELECT node, CAST(COUNT(*) AS BIGINT) AS d
            FROM (SELECT u AS node FROM edges
                  UNION ALL SELECT v AS node FROM edges)
            GROUP BY node
        ),
        pairs AS (
            SELECT du.d AS x, dv.d AS y
            FROM (SELECT u AS a, v AS b FROM edges
                  UNION ALL SELECT v AS a, u AS b FROM edges) e
            JOIN deg du ON e.a = du.node
            JOIN deg dv ON e.b = dv.node
        ),
        m AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(x) AS BIGINT) AS sx,
                   CAST(SUM(x * x) AS BIGINT) AS sxx,
                   CAST(SUM(x * y) AS BIGINT) AS sxy
            FROM pairs
        )
        SELECT n AS n_directed_edges,
               ROUND(CAST(sx AS DOUBLE) / n, 6) AS mean_degree,
               ROUND((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n)
                     / NULLIF(CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n,
                              0.0), 6)
                   AS assortativity_r
        FROM m
    """,
    tags=("GR-assortativity",),
)
def graph_degree_assortativity(spark, sf_dir):
    """Degree assortativity (Newman's r) of the co-purchase graph:
    Pearson correlation of endpoint degrees over the SYMMETRIZED edge
    list — do hubs attach to hubs?  Because the directed list contains
    both orientations, the x and y marginals are identical, so r
    reduces to (S_xy − S_x²/n)/(S_xx − S_x²/n) on three exact BIGINT
    co-moments (degrees are small integers; products stay far inside
    int64).

    100 TB posture: one node-degree aggregate, two broadcast-or-hash
    joins of degree onto the edge list (both on the edge partitioning
    key), one 4-accumulator moment reduction with map-side combine —
    zero windows, zero collects; the final statistic is a 1-row fixed
    float expression."""
    edges = _copurchase_edges(spark, sf_dir)
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    )
    sym = edges.select(F.col("u").alias("a"), F.col("v").alias("b")).unionAll(
        edges.select(F.col("v").alias("a"), F.col("u").alias("b"))
    )
    du = deg.select(F.col("node").alias("a"), F.col("d").alias("x"))
    dv = deg.select(F.col("node").alias("b"), F.col("d").alias("y"))
    pairs = sym.join(du, "a").join(dv, "b")
    m = pairs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
    )
    n, sx, sxx, sxy = F.col("n"), F.col("sx"), F.col("sxx"), F.col("sxy")
    # zero degree variance (every endpoint the same degree — e.g. a
    # corpus whose support-floored graph collapses to disjoint single
    # edges, as sf0.1's does) leaves Newman's r UNDEFINED: NULL on both
    # engines via a NULLIF'd denominator, never DIVIDE_BY_ZERO (found
    # by the r11 full-registry sf0.1 parity sweep)
    den = F.nullif(
        sxx.cast("double") - sx.cast("double") * sx / n, F.lit(0.0)
    )
    return m.select(
        n.alias("n_directed_edges"),
        F.round(sx.cast("double") / n, 6).alias("mean_degree"),
        F.round((sxy.cast("double") - sx.cast("double") * sx / n) / den, 6).alias(
            "assortativity_r"
        ),
    )


@register(
    "graph_label_propagation",
    oracle=f"""
        WITH {_EDGES_SQL},
        sym AS (
            SELECT u, v FROM edges
            UNION ALL
            SELECT v AS u, u AS v FROM edges
        ),
        l0 AS (SELECT DISTINCT u AS node, u AS lab FROM sym),
        l1 AS (
            SELECT l.node,
                   LEAST(l.lab, COALESCE(MIN(nb.lab), l.lab)) AS lab
            FROM l0 l
            LEFT JOIN sym s ON s.u = l.node
            LEFT JOIN l0 nb ON nb.node = s.v
            GROUP BY l.node, l.lab
        ),
        l2 AS (
            SELECT l.node,
                   LEAST(l.lab, COALESCE(MIN(nb.lab), l.lab)) AS lab
            FROM l1 l
            LEFT JOIN sym s ON s.u = l.node
            LEFT JOIN l1 nb ON nb.node = s.v
            GROUP BY l.node, l.lab
        ),
        l3 AS (
            SELECT l.node,
                   LEAST(l.lab, COALESCE(MIN(nb.lab), l.lab)) AS lab
            FROM l2 l
            LEFT JOIN sym s ON s.u = l.node
            LEFT JOIN l2 nb ON nb.node = s.v
            GROUP BY l.node, l.lab
        )
        SELECT lab AS label,
               CAST(COUNT(*) AS BIGINT) AS n_members,
               CAST(MIN(node) AS BIGINT) AS min_node,
               CAST(MAX(node) AS BIGINT) AS max_node
        FROM l3
        GROUP BY lab
        HAVING COUNT(*) >= 3
    """,
    tags=("GR-labelprop",),
)
def graph_label_propagation(spark, sf_dir):
    """Three synchronous rounds of min-label propagation over the
    co-purchase graph — the hash-to-min kernel every distributed
    connected-components / community-seeding job starts from (each
    node adopts the smallest label in its closed neighborhood; after
    r rounds a node's label is the minimum node id within graph
    distance r).  Reported as label clusters of size ≥ 3 with their
    node-id spans — the stable aggregate view (per-node labels are
    the intermediate).

    Exactness: labels are node ids (exact BIGINT); every round is a
    LEAST/MIN lattice operation — no floats anywhere, and synchronous
    rounds make the result iteration-order-free by construction
    (unlike asynchronous LPA, which is famously nondeterministic).

    100 TB posture: each round is ONE shuffle pair (labels⋈edges on
    node, then a node-keyed min aggregate) — the textbook
    Pregel-on-relations layout; r rounds = r bounded shuffles with
    label frames that only ever shrink in distinct values.  The
    degree-skew hazard (hub nodes fanning labels) rides the same AQE
    skew-split as the pagerank kernel; full convergence would loop
    `while changed > 0` over the same round body (graph diameter
    iterations), the 3-round truncation keeps the declared key's plan
    statically analyzable."""
    edges = _copurchase_edges(spark, sf_dir)
    # cache hash-partitioned by v, the per-round join key (guide §2.4):
    # every propagation round joins sym⋈labels on v, so the sort-merge
    # join's sym-side exchange — a shuffle of the full symmetrized edge
    # list per round — collapses into this one exchange paid at cache
    # build; only the (much smaller) label frame shuffles per round.
    sym = edges.select("u", "v").unionAll(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).repartition("v").persist()
    return (
        _propagate_labels(sym).groupBy(F.col("lab").alias("label"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_members"),
            F.min("node").cast("bigint").alias("min_node"),
            F.max("node").cast("bigint").alias("max_node"),
        )
        .where(F.col("n_members") >= 3)
    )


@register(
    "graph_hits_hubs_authorities",
    oracle="""
        WITH edges AS (
            SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
        ),
        a1 AS (
            SELECT p, CAST(COUNT(*) AS BIGINT) AS a FROM edges GROUP BY p
        ),
        h1 AS (
            SELECT e.o, CAST(SUM(a1.a) AS BIGINT) AS h
            FROM edges e JOIN a1 ON a1.p = e.p
            GROUP BY e.o
        ),
        a2 AS (
            SELECT e.p, CAST(SUM(h1.h) AS BIGINT) AS a
            FROM edges e JOIN h1 ON h1.o = e.o
            GROUP BY e.p
        ),
        tot AS (SELECT CAST(SUM(a) AS BIGINT) AS s FROM a2)
        SELECT p AS part_id, a1.a AS degree, a2.a AS authority_2,
               ROUND(CAST(a2.a AS DOUBLE) / tot.s, 9) AS authority_norm
        FROM a2 JOIN a1 USING (p) CROSS JOIN tot
        ORDER BY a2.a DESC, p
        LIMIT 20
    """,
    tags=("GR-hits",),
)
def graph_hits_hubs_authorities(spark, sf_dir):
    """One-and-a-half Kleinberg HITS iterations over the order→part
    bipartite graph, in EXACT integers: starting from unit hub scores,
    a₁(p) = in-degree, h₁(o) = Σ a₁ over the order's parts, a₂(p) =
    Σ h₁ over the part's orders — so a₂ counts length-3 alternating
    paths into p, the unnormalized second-iteration authority (the
    same trick graph_katz_centrality uses to stay float-free:
    normalization is ONE final division, not a per-step rescale,
    because HITS' ranking is invariant to positive scaling).
    Top-20 authorities = the structurally central catalog items.

    Exactness: every score is an exact BIGINT walk count (Σdeg² ≤
    n·max_deg² — int64-safe far past any corpus); the reported
    normalized share divides two exact integers once at 9 dp; the
    top-20 pins ties on part id.

    100 TB posture: two hash-join+aggregate rounds over the edge
    list (the canonical bipartite matvec — shuffle on p, then o,
    then p); TakeOrderedAndProject for the top-20, never a global
    sort.  Hub-side skew (mega-orders) rides AQE; more iterations =
    more edge-frame passes, converging to the principal eigenvector
    direction."""
    li = load_table(spark, sf_dir, "lineitem")
    # cache hash-partitioned by p (guide §2.4): two of the three matvec
    # aggregates key on p (a1, a2) and the rank-vector joins are
    # broadcasts that preserve the streamed side's partitioning, so
    # both p-rounds reuse this one exchange; only the o-round shuffles.
    # (distinct partitions by (o,p), which satisfies NEITHER round.)
    edges = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    ).distinct().repartition("p").persist()
    a1 = edges.groupBy("p").agg(F.count(F.lit(1)).cast("bigint").alias("a"))
    h1 = (
        edges.join(a1.withColumnRenamed("p", "p2"), edges["p"] == F.col("p2"))
        .groupBy("o")
        .agg(F.sum("a").cast("bigint").alias("h"))
    )
    a2 = (
        edges.join(h1.withColumnRenamed("o", "o2"), edges["o"] == F.col("o2"))
        .groupBy("p")
        .agg(F.sum("h").cast("bigint").alias("a2"))
    )
    tot = a2.agg(F.sum("a2").cast("bigint").alias("s"))
    return (
        a2.join(a1.withColumnRenamed("a", "degree"), "p")
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("p").alias("part_id"),
            "degree",
            F.col("a2").alias("authority_2"),
            F.round(F.col("a2").cast("double") / F.col("s"), 9).alias(
                "authority_norm"
            ),
        )
        .orderBy(F.col("authority_2").desc(), "part_id")
        .limit(20)
    )


@register(
    "graph_modularity_score",
    oracle=f"""
        -- MATERIALIZED (round-12 x10 sweep): each label round is
        -- referenced twice (l and nb), so an INLINING planner would
        -- recompute l2 twice, l1 four times, l0 eight times — at ×10
        -- that spilled >70 GB to disk.  Materializing each round makes
        -- the oracle linear in rounds, mirroring the Spark side's
        -- per-round persist.
        WITH {_EDGES_SQL},
        sym AS MATERIALIZED (
            SELECT u, v FROM edges
            UNION ALL
            SELECT v AS u, u AS v FROM edges
        ),
        l0 AS MATERIALIZED (SELECT DISTINCT u AS node, u AS lab FROM sym),
        l1 AS MATERIALIZED (
            SELECT l.node, LEAST(l.lab, COALESCE(MIN(nb.lab), l.lab)) AS lab
            FROM l0 l
            LEFT JOIN sym s ON s.u = l.node
            LEFT JOIN l0 nb ON nb.node = s.v
            GROUP BY l.node, l.lab
        ),
        l2 AS MATERIALIZED (
            SELECT l.node, LEAST(l.lab, COALESCE(MIN(nb.lab), l.lab)) AS lab
            FROM l1 l
            LEFT JOIN sym s ON s.u = l.node
            LEFT JOIN l1 nb ON nb.node = s.v
            GROUP BY l.node, l.lab
        ),
        l3 AS MATERIALIZED (
            SELECT l.node, LEAST(l.lab, COALESCE(MIN(nb.lab), l.lab)) AS lab
            FROM l2 l
            LEFT JOIN sym s ON s.u = l.node
            LEFT JOIN l2 nb ON nb.node = s.v
            GROUP BY l.node, l.lab
        ),
        m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m2 FROM sym),
        within AS (
            SELECT la.lab, CAST(COUNT(*) AS BIGINT) AS e_in2
            FROM sym s
            JOIN l3 la ON la.node = s.u
            JOIN l3 lb ON lb.node = s.v
            WHERE la.lab = lb.lab
            GROUP BY la.lab
        ),
        degsum AS (
            SELECT l3.lab, CAST(COUNT(*) AS BIGINT) AS d_c
            FROM sym s JOIN l3 ON l3.node = s.u
            GROUP BY l3.lab
        )
        SELECT d.lab AS community,
               COALESCE(w.e_in2, 0) // 2 AS e_within,
               d.d_c AS degree_sum,
               ROUND(CAST(COALESCE(w.e_in2, 0) AS DOUBLE) / m.m2
                     - (CAST(d.d_c AS DOUBLE) / m.m2)
                       * (CAST(d.d_c AS DOUBLE) / m.m2), 9) AS q_contribution
        FROM degsum d
        LEFT JOIN within w ON w.lab = d.lab
        CROSS JOIN m
        ORDER BY community
    """,
    tags=("GR-modularity",),
)
def graph_modularity_score(spark, sf_dir):
    """Newman modularity of the graph_label_propagation communities:
    per community c, Q_c = e_c/m − (d_c/2m)² (within-community edge
    share minus the null-model expectation) — the number that tells
    you whether the propagation found real structure (ΣQ_c near 0 ⇒
    no better than random) and the objective Louvain greedily climbs;
    this key scores, Louvain would iterate re-assignment on the same
    frames.

    Exactness: within-edge counts and degree sums are exact BIGINTs
    on the directed-both-ways edge list (e_in2 = 2e_c, m2 = 2m, so
    e_in2/m2 = e_c/m with no halving divisions); each contribution is
    one fixed float expression rounded at 9 dp.

    100 TB posture: reuses the label-propagation rounds (per-round
    persisted frontier), then ONE edges⋈labels⋈labels hash join pair
    for within-counts and one edges⋈labels for degree sums — the
    same shuffle class as a single propagation round."""
    edges = _copurchase_edges(spark, sf_dir)
    # NOTE: unlike graph_label_propagation, this cache is NOT
    # pre-partitioned by v — the post-loop modularity joins key sym on
    # u AND v, so a v-partitioned cache helps only the loop and was
    # measured a net loss here (A/B r15: 3.69 vs 3.42 s).
    sym = edges.select("u", "v").unionAll(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).persist()
    labels = _propagate_labels(sym).persist()
    m2 = sym.agg(F.count(F.lit(1)).cast("bigint").alias("m2"))
    la = labels.select(F.col("node").alias("u"), F.col("lab").alias("la"))
    lb = labels.select(F.col("node").alias("v"), F.col("lab").alias("lb"))
    within = (
        sym.join(la, "u")
        .join(lb, "v")
        .where(F.col("la") == F.col("lb"))
        .groupBy(F.col("la").alias("lab"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("e_in2"))
    )
    degsum = (
        sym.join(la, "u")
        .groupBy(F.col("la").alias("lab"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("d_c"))
    )
    j = degsum.join(within, "lab", "left").crossJoin(F.broadcast(m2))
    e_in2 = F.coalesce(F.col("e_in2"), F.lit(0).cast("bigint"))
    dc, m2c = F.col("d_c"), F.col("m2")
    return j.select(
        F.col("lab").alias("community"),
        F.floor(e_in2 / 2).cast("bigint").alias("e_within"),
        dc.alias("degree_sum"),
        F.round(
            e_in2.cast("double") / m2c
            - (dc.cast("double") / m2c) * (dc.cast("double") / m2c),
            9,
        ).alias("q_contribution"),
    ).orderBy("community")
