"""Near-dup clustering: connected components over a candidate-pair
edge set (SURVEY.md §4.2 row 3 — the step after MinHash-LSH turns
pairwise matches into dedup groups).

``connected_components_min_label`` maps (src,dst) edges to (node,
component) with component = min reachable node id, by iterative
min-label propagation: O(diameter) rounds of one shuffle each. That
fits near-dup graphs, whose components are short dup chains (diameter
≤ a few hops). Every round passes through ``session.round_barrier``,
so long loops don't accumulate an unbounded plan; non-convergence at
``max_iter`` raises ``NonConvergedError`` rather than returning
partial labels. A graph
whose diameter can't be bounded (long chains, social graphs) needs a
formulation with O(log² n) rounds, e.g. the large-star/small-star
alternation (Kiveris et al., "Connected Components in MapReduce and
Beyond"); no declared key needs one.

The declared query proves the iterative algorithm against a
DECLARATIVE oracle: planted two-hop dup chains (id ↔ id+10000 ↔
id+20000) have the closed-form component `id % 10000`, which plain SQL
can state — an independent check that label propagation actually
reaches the transitive closure.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_builder_spark.registry import register
from etl_builder_spark.session import load_table, round_barrier

PLANT = 10000


class NonConvergedError(RuntimeError):
    """Label propagation hit max_iter before reaching the fixpoint —
    the returned labels would NOT be true components."""


def connected_components_min_label(edges: DataFrame, max_iter: int = 15) -> DataFrame:
    """Min-label propagation to fixpoint.

    edges: (src, dst) long pairs, any orientation. Returns
    (node, component) where component = min node id reachable.

    Converges in O(component diameter) rounds; ``max_iter`` bounds the
    loop. If the bound is hit while labels are still changing the
    result would be WRONG for the unconverged nodes, so it raises
    ``NonConvergedError`` instead.
    """
    # the symmetrized edge list is referenced by every round's join; the
    # barrier spares each round re-analyzing the caller's edge lineage
    # (for DBSCAN, a large candidate-join tree)
    sym = round_barrier(
        edges.select("src", "dst").union(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
    )
    nodes = sym.select(F.col("src").alias("node")).distinct()
    labels = round_barrier(nodes.select("node", F.col("node").alias("label")))
    # Convergence probe (r15, guide §2.4): labels only ever DECREASE
    # (least of old and neighbor min), so the label multiset changed
    # iff the exact decimal SUM of labels moved — one aggregate over
    # the new frame replaces the former old⋈new shuffle join + count
    # per round.
    prev_sum = labels.agg(
        F.sum(F.col("label").cast("decimal(38,0)")).alias("s")
    ).collect()[0]["s"]
    for _ in range(max_iter):
        neigh_min = (
            sym.join(labels, sym["dst"] == labels["node"])
            .groupBy("src")
            .agg(F.min("label").alias("nlabel"))
        )
        labels = round_barrier(
            labels.join(neigh_min, labels["node"] == neigh_min["src"], "left").select(
                "node",
                F.least(F.col("label"), F.coalesce("nlabel", F.col("label"))).alias("label"),
            )
        )
        new_sum = labels.agg(
            F.sum(F.col("label").cast("decimal(38,0)")).alias("s")
        ).collect()[0]["s"]
        if new_sum == prev_sum:
            return labels.select("node", F.col("label").alias("component"))
        prev_sum = new_sum
    raise NonConvergedError(
        f"connected_components_min_label: still changing after {max_iter} rounds "
        f"(graph diameter > max_iter); labels are NOT components. Raise max_iter."
    )


@register(
    "dedup_cluster_components",
    oracle=f"""
        -- DISTINCT ids (round-12 degenerate sweep): components are
        -- per-VERTEX — duplicate doc_ids are one graph node, exactly
        -- as the Spark fixpoint's vertex set treats them.
        -- Closed form (round-12 x10 sweep): the old `doc_id % PLANT`
        -- label assumed every doc_id < PLANT; corpora with larger ids
        -- (the ×10 stride synthesis) collide residues WITHOUT being
        -- connected.  General form: two base ids' chains overlap iff
        -- they share a residue mod PLANT and differ by <= 2*PLANT, so
        -- base components are gaps-and-islands runs per residue class
        -- and every chain node inherits its island minimum.
        WITH ids AS (SELECT DISTINCT doc_id FROM documents),
        brk AS (
            SELECT doc_id, doc_id % {PLANT} AS r,
                   CASE WHEN doc_id
                             - LAG(doc_id) OVER (
                                   PARTITION BY doc_id % {PLANT}
                                   ORDER BY doc_id)
                             <= {2 * PLANT}
                        THEN 0 ELSE 1 END AS new_island
            FROM ids
        ),
        isl AS (
            SELECT doc_id, r,
                   SUM(new_island) OVER (
                       PARTITION BY r ORDER BY doc_id) AS island
            FROM brk
        ),
        comp AS (
            SELECT doc_id,
                   MIN(doc_id) OVER (PARTITION BY r, island) AS component
            FROM isl
        ),
        nodes AS (
            SELECT doc_id AS node, component FROM comp
            UNION ALL SELECT doc_id + {PLANT}, component FROM comp
            UNION ALL SELECT doc_id + {2 * PLANT}, component FROM comp
        )
        SELECT node, MIN(component) AS component FROM nodes GROUP BY node
    """,
    tags=("I-cluster",),
)
def dedup_cluster_components(spark, sf_dir):
    """Cluster planted two-hop dup chains: edges (id, id+10000) and
    (id+10000, id+20000) — the base id is linked to id+20000 only
    transitively, so the fixpoint component is id for all three tiers."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    e1 = d.select(F.col("doc_id").alias("src"), (F.col("doc_id") + PLANT).alias("dst"))
    e2 = d.select(
        (F.col("doc_id") + PLANT).alias("src"), (F.col("doc_id") + 2 * PLANT).alias("dst")
    )
    return connected_components_min_label(e1.union(e2))


#: DBSCAN fixture geometry: 500 points in blobs of 7 (centers 50/37
#: apart, integer offsets within a 3x3 patch, so within-blob distances
#: are <= sqrt(8) < EPS and cross-blob distances are >= 37 >> EPS); the
#: tail blob holds 500 % 7 = 3 points — below MIN_PTS, so it is noise.
DBSCAN_N = 500
DBSCAN_EPS = 3
DBSCAN_MIN_PTS = 4


@register(
    "ml_dbscan_grid",
    oracle=f"""
        -- subset-robust closed form (round-12 degenerate sweep): the
        -- old literal `doc_id < 497 → core` assumed the planted blobs
        -- were COMPLETE; on a partial corpus a point is core iff its
        -- blob has >= min_pts members PRESENT, and the cluster label
        -- is the smallest PRESENT member (the min-label component) —
        -- identical to the old form whenever all 7 blob-mates exist
        WITH pts AS (
            SELECT DISTINCT doc_id AS node FROM documents
            WHERE doc_id < {DBSCAN_N}
        ),
        blob AS (SELECT node, node - node % 7 AS b FROM pts),
        bc AS (
            SELECT b, CAST(COUNT(*) AS BIGINT) AS k, MIN(node) AS mn
            FROM blob GROUP BY b
        )
        SELECT node,
               (k >= {DBSCAN_MIN_PTS}) AS is_core,
               CASE WHEN k >= {DBSCAN_MIN_PTS} THEN mn ELSE -1 END AS cluster
        FROM blob JOIN bc USING (b)
    """,
    tags=("ML-cluster",),
)
def ml_dbscan_grid(spark, sf_dir):
    """DBSCAN over grid-bucketed candidates — the density clustering
    every curation pipeline reaches for when k is unknown: eps-balls
    via the geo-grid ±1-cell join (cell = eps, provably complete),
    EXACT integer squared-distance compare, core points by neighbor
    count (self included), clusters = min-label connected components
    over the core-core eps-graph, non-core points labeled noise (-1;
    the planted geometry has no border points).  The fixture plants
    71 complete 7-point blobs plus a 3-point tail below MIN_PTS, so
    the oracle states the expected clustering in closed form — hash
    equality proves candidate generation, core classification and the
    CC fixpoint end-to-end.

    100 TB posture: candidate pairs are one equi-join on eps-cells
    (per-cell density bounds the fan-out, hot cells are ordinary join
    skew); neighbor counts and core filtering are one hash aggregate;
    the CC loop is the same bounded-diameter min-label fixpoint the
    dedup clustering ships.  Exactly the composition a distributed
    DBSCAN paper (MR-DBSCAN) describes."""
    # distinct(): DBSCAN clusters a point SET — duplicate doc_ids (a
    # degenerate-corpus shape) must not inflate ball counts
    d = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") < DBSCAN_N)
        .select(F.col("doc_id").alias("node"))
        .distinct()
    )
    b = F.col("node") - F.pmod(F.col("node"), F.lit(7))  # blob base id
    i = F.pmod(F.col("node"), F.lit(7))
    pts = d.select(
        "node",
        ((b / 7).cast("long") * 50 + F.pmod(i, F.lit(3))).alias("x"),
        ((b / 7).cast("long") * 37 + F.pmod(i * 2, F.lit(3))).alias("y"),
    )
    return dbscan_labels(pts, eps=DBSCAN_EPS, min_pts=DBSCAN_MIN_PTS)


def dbscan_labels(pts: DataFrame, eps: int, min_pts: int) -> DataFrame:
    """Grid-bucketed DBSCAN over a (node, x, y) integer-coordinate
    frame: returns (node, is_core, cluster) with cluster = min core
    node id reachable through core-core eps-links, noise = -1, and
    border points (non-core within eps of a core) labeled with the
    smallest adjacent core's cluster.  Shared by the declared
    ml_dbscan_grid key and the brute-force property test."""
    pts = pts.persist()
    cell = lambda c: F.floor(c / F.lit(eps)).cast("long")  # noqa: E731
    off = F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1)))
    left = pts.select(
        F.col("node").alias("na"), F.col("x").alias("xa"), F.col("y").alias("ya"),
        cell(F.col("x")).alias("cxa"), cell(F.col("y")).alias("cya"),
    )
    right = (
        pts.select(
            F.col("node").alias("nb"), F.col("x").alias("xb"), F.col("y").alias("yb"),
            cell(F.col("x")).alias("cx0"), cell(F.col("y")).alias("cy0"),
        )
        .select("nb", "xb", "yb", "cx0", "cy0", off.alias("dx"))
        .select("nb", "xb", "yb", (F.col("cx0") + F.col("dx")).alias("cxa"), "cy0", off.alias("dy"))
        .select("nb", "xb", "yb", "cxa", (F.col("cy0") + F.col("dy")).alias("cya"))
    )
    d2 = (F.col("xa") - F.col("xb")) * (F.col("xa") - F.col("xb")) + (
        F.col("ya") - F.col("yb")
    ) * (F.col("ya") - F.col("yb"))
    # a barrier, not persist: four consumers (core, both sides of
    # core_edges, border) would re-analyze this candidate-join lineage
    # on every reference
    nbrs = round_barrier(
        left.join(right, ["cxa", "cya"])
        .where(d2 <= F.lit(eps * eps))
        .select("na", "nb")  # includes self-pairs: count = |eps-ball incl. self|
    )
    core = (
        nbrs.groupBy("na")
        .agg(F.count(F.lit(1)).alias("n_in_ball"))
        .where(F.col("n_in_ball") >= min_pts)
        .select(F.col("na").alias("cnode"))
        .persist()
    )
    core_a = core.select(F.col("cnode").alias("na"))
    core_b = core.select(F.col("cnode").alias("nb"))
    core_edges = (
        nbrs.join(core_a, "na")
        .join(core_b, "nb")
        .select(F.col("na").alias("src"), F.col("nb").alias("dst"))
    )
    comp = connected_components_min_label(core_edges).persist()
    # border assignment: non-core node within eps of a core takes the
    # smallest adjacent core's cluster (deterministic tiebreak)
    border = (
        nbrs.join(core_b, "nb")
        .join(core_a, "na", "left_anti")  # na is NOT core
        .join(comp.withColumnRenamed("node", "nb"), "nb")
        .groupBy("na")
        .agg(F.min("component").alias("bcluster"))
    )
    out = (
        pts.select("node")
        .join(comp, "node", "left")
        .join(border.withColumnRenamed("na", "node"), "node", "left")
    )
    return out.select(
        "node",
        F.col("component").isNotNull().alias("is_core"),
        F.coalesce(F.col("component"), F.col("bcluster"), F.lit(-1))
        .cast("long")
        .alias("cluster"),
    )
