"""PageRank over the constructed knowledge graph — the graph-analytics step
a KG-construction pipeline runs to surface its most-connected entities
(popular units, municipalities, ranks) for QA and downstream weighting.

Fixed-point integer arithmetic: ranks are BIGINT micro-units (1.0 ==
``SCALE``), every per-edge push is integer division by out-degree and the
damping is ``(85 * x) // 100``. Floating-point PageRank is summation-order
dependent (a parallel engine cannot reproduce another engine's float sums
bit-for-bit); the fixed-point formulation makes the whole iteration
ENGINE-EXACT — the DuckDB oracle unrolls the same recurrence and the value
hash must match to the last unit. The cost is a deterministic rounding-down
bias of < n_iter * outdeg units (~1e-10 of total mass), irrelevant for
ranking and a fair trade for a verifiable contract. Dangling-vertex mass is
dropped, identically on both sides (the standard simplification; production
would redistribute it — one extra aggregate per round, same join shape).

Scale posture: per iteration — one join of edges against the current ranks
on src (both sides hash-partitioned on the same key; at 100 TB the edge
table is bucketed by src at write time so this is shuffle-free), one
aggregation onto dst (map-side combine: integer sums), one left join back
to the vertex set. Lineage is cut per round with a lazy localCheckpoint —
same discipline as the CC operator (commit 40366fb), so a round's plan does
not embed every earlier round. Iterations are a fixed count, not
convergence-tested: deterministic plans, bounded rounds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

SCALE = 10**12
N_ITER = 6
DAMPING_PCT = 85


def pagerank_fixed_point(
    edges: DataFrame,
    n_iter: int = N_ITER,
    damping_pct: int = DAMPING_PCT,
    scale: int = SCALE,
) -> DataFrame:
    """(vertex, pr) — ``n_iter`` rounds of fixed-point PageRank over the
    DISTINCT directed edge set (src, dst).

    Recurrence (all integer ops)::

        r0(v)     = scale // N
        r_{k+1}(v) = ((100 - d) * (scale // N)) // 100
                     + (d * Σ_{u→v} (r_k(u) // outdeg(u))) // 100
    """
    e = edges.select("src", "dst").distinct().localCheckpoint(eager=True)
    verts = (
        e.select(F.col("src").alias("vertex"))
        .union(e.select(F.col("dst").alias("vertex")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    outdeg = e.groupBy("src").agg(F.count("*").alias("outdeg"))
    n_row = verts.agg(F.count("*").alias("n"))

    base = F.expr(f"(({100 - damping_pct}) * ({scale} div n)) div 100")
    ranks = verts.crossJoin(F.broadcast(n_row)).select(
        "vertex", F.expr(f"{scale} div n").alias("pr")
    )
    for _ in range(n_iter):
        pushes = (
            e.join(ranks.withColumnRenamed("vertex", "src"), "src")
            .join(outdeg, "src")
            .select("dst", F.expr("pr div outdeg").alias("c"))
        )
        sums = pushes.groupBy("dst").agg(F.sum("c").alias("s"))
        ranks = (
            verts.crossJoin(F.broadcast(n_row))
            .join(sums.withColumnRenamed("dst", "vertex"), "vertex", "left")
            .select(
                "vertex",
                (base + F.expr(f"({damping_pct} * coalesce(s, CAST(0 AS BIGINT))) div 100"))
                .cast("long")
                .alias("pr"),
            )
            .localCheckpoint(eager=False)
        )
    return ranks


def k_hop(edges: DataFrame, seeds: DataFrame, k: int) -> DataFrame:
    """(vertex, dist) — every vertex within ``k`` UNDIRECTED hops of a seed,
    with its minimum hop distance (seeds themselves at dist 0). The KG
    neighborhood-expansion query (context assembly around an entity, blast-
    radius analysis for a correction batch): SPARQL writes it as a bounded
    property path ``seed (:p|^:p){0,k} ?v``.

    BFS as k rounds of frontier expansion, not a transitive closure: each
    round is one equi-join of the CURRENT frontier against the edge table on
    src (shuffle partitioned on the join key; at 100 TB the edge table is
    bucketed by src so the big side never reshuffles per round), a distinct
    on the (small) frontier output, and an anti-join against the visited set
    — so per-round work is proportional to the frontier, never to the full
    reachability set, and vertices re-reached at a later round are dropped
    rather than relabeled (first reach IS the min distance, the BFS
    invariant). Rounds are a fixed count with eager localCheckpoints cutting
    lineage (the CC/pagerank plan-growth discipline); the visited set is a
    k-deep union of checkpointed frontiers, which stays shallow.
    """
    und = (
        edges.select("src", "dst")
        .union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    visited = (
        seeds.select("vertex").distinct()
        .select("vertex", F.lit(0).cast("int").alias("dist"))
        .localCheckpoint(eager=True)
    )
    frontier = visited.select("vertex")
    for i in range(1, k + 1):
        nxt = (
            und.join(frontier.withColumnRenamed("vertex", "src"), "src")
            .select(F.col("dst").alias("vertex"))
            .distinct()
            .join(visited.select("vertex"), "vertex", "left_anti")
            .select("vertex", F.lit(i).cast("int").alias("dist"))
            .localCheckpoint(eager=True)
        )
        visited = visited.unionByName(nxt)
        frontier = nxt.select("vertex")
    return visited


def entity_degrees(edges: DataFrame) -> DataFrame:
    """(vertex, out_degree, in_degree) over the distinct edge set — the
    cheap companion profile (no iteration)."""
    e = edges.select("src", "dst").distinct()
    od = e.groupBy(F.col("src").alias("vertex")).agg(F.count("*").alias("out_degree"))
    ind = e.groupBy(F.col("dst").alias("vertex")).agg(F.count("*").alias("in_degree"))
    return (
        od.join(ind, "vertex", "full")
        .select(
            "vertex",
            F.coalesce("out_degree", F.lit(0)).alias("out_degree"),
            F.coalesce("in_degree", F.lit(0)).alias("in_degree"),
        )
    )


def triangles(edges: DataFrame) -> DataFrame:
    """(a, b, c) — every triangle in the undirected graph, each enumerated
    exactly once with its vertices in lexicographic order. Triangle
    enumeration is the KG-QA / community-structure primitive (clustering
    coefficient, spam-cluster detection over the co-occurrence graph).

    Input: undirected edge list; canonicalized here (src < dst after a
    least/greatest fold, distinct, self-loops dropped) so mixed-direction
    duplicates collapse before degrees are counted.

    Degree-ordered orientation (the Schank-Wagner / "compact-forward"
    algorithm): every edge is directed from its lower-(degree, name)
    endpoint to the higher one, giving an acyclic orientation in which each
    triangle has EXACTLY one vertex with two out-edges — so one self-join
    on that common source (wedge build) plus one semi-join against the
    oriented edge set (wedge closure) enumerates each triangle once, and
    max out-degree is bounded by O(sqrt(m)) regardless of hub skew: the
    celebrity vertex with 10^8 neighbors contributes wedges only toward
    HIGHER-ordered vertices, of which there are few, instead of the
    10^16-wedge blowup a naive src-join would plan. Work is O(m^1.5), the
    output-optimal bound. Degrees are an aggregated vertex-sized table
    broadcast onto the edge scan; the wedge join shuffles oriented edges
    once on the wedge apex (at 100 TB: bucket the oriented edge table by
    src and both the wedge build and the closure probe stay co-located).
    """
    e = (
        edges.select(
            F.least("src", "dst").alias("src"), F.greatest("src", "dst").alias("dst")
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
        # the edge list is referenced by the degree count, the orientation
        # join and (via `oriented`) both wedge sides + the closure probe —
        # cut lineage once so an expensive upstream (e.g. the gazetteer
        # mention pipeline) is computed once, not per reference (the k_hop /
        # CC checkpoint discipline)
        .localCheckpoint(eager=True)
    )
    und = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    deg = und.groupBy(F.col("src").alias("v")).agg(F.count(F.lit(1)).alias("deg"))

    def key(degc, name):
        return F.struct(degc.alias("k_deg"), name.alias("k_name"))

    j = (
        e.join(
            F.broadcast(deg.select(F.col("v").alias("src"), F.col("deg").alias("sd"))),
            "src",
        ).join(
            F.broadcast(deg.select(F.col("v").alias("dst"), F.col("deg").alias("dd"))),
            "dst",
        )
    )
    low_first = key(F.col("sd"), F.col("src")) < key(F.col("dd"), F.col("dst"))
    oriented = j.select(
        F.when(low_first, F.col("src")).otherwise(F.col("dst")).alias("u"),
        F.when(low_first, F.col("dst")).otherwise(F.col("src")).alias("w"),
        F.when(low_first, key(F.col("dd"), F.col("dst")))
        .otherwise(key(F.col("sd"), F.col("src")))
        .alias("wkey"),
        # oriented feeds both wedge sides and the closure probe: materialize
        # once (edge-sized, same as the input)
    ).localCheckpoint(eager=True)
    wedges = (
        oriented.select("u", F.col("w").alias("v1"), F.col("wkey").alias("k1"))
        .join(
            oriented.select("u", F.col("w").alias("v2"), F.col("wkey").alias("k2")),
            "u",
        )
        .where(F.col("k1") < F.col("k2"))
    )
    closed = wedges.join(
        oriented.select(F.col("u").alias("v1"), F.col("w").alias("v2")),
        ["v1", "v2"],
        "left_semi",
    )
    tri = F.array_sort(F.array("u", "v1", "v2"))
    return closed.select(
        tri[0].alias("a"), tri[1].alias("b"), tri[2].alias("c")
    )


def clustering_coefficient(edges: DataFrame) -> DataFrame:
    """(vertex, degree, n_triangles, coeff) — local clustering coefficient
    ``2T(v) / (d(v)(d(v)-1))`` per vertex (0.0 when degree < 2), the
    standard community-cohesion QA metric over the co-occurrence graph.

    Composes ``triangles`` (already O(m^1.5), lineage-cut) with the
    undirected degree count: per-vertex triangle participation is an
    explode of the ENUMERATED triangle rows (output-sized, never a second
    wedge pass), joined back onto the vertex-sized degree table. Ratio is
    rounded to 6 dp for the cross-engine float contract."""
    e = (
        edges.select(
            F.least("src", "dst").alias("src"), F.greatest("src", "dst").alias("dst")
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    deg = (
        e.select(F.col("src").alias("vertex"))
        .union(e.select(F.col("dst").alias("vertex")))
        .groupBy("vertex")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    tv = (
        triangles(e)
        .select(F.explode(F.array("a", "b", "c")).alias("vertex"))
        .groupBy("vertex")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    d = F.col("degree").cast("double")
    return (
        deg.join(tv, "vertex", "left")
        .select(
            "vertex",
            "degree",
            F.coalesce("n_triangles", F.lit(0)).alias("n_triangles"),
            F.round(
                F.when(
                    F.col("degree") >= 2,
                    2.0 * F.coalesce("n_triangles", F.lit(0)) / (d * (d - 1.0)),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("coeff"),
        )
    )


def label_propagation(edges: DataFrame, rounds: int = 3) -> DataFrame:
    """(uri, label) — community detection by SYNCHRONOUS label propagation
    over weighted undirected edges (uri_a, uri_b, weight): every vertex
    starts labeled with itself; each round it adopts the label carrying
    the largest total edge weight among its neighbors' current labels,
    ties broken by the smallest label string. Classic LPA (Raghavan et
    al. 2007, Phys. Rev. E 76) made engine-exact: asynchronous LPA is
    visit-order dependent and could never be hash-checked across engines;
    synchronous rounds + a total tie order make every round a pure
    function of the previous one, so the DuckDB oracle unrolls the same
    recurrence (the CC / fixed-point-PageRank discipline).

    Per round: the both-directions edge table joins the label frame on
    src (the big side is bucketable on src at 100 TB — same shape as the
    PageRank push join), the weighted vote aggregation map-side combines,
    and the per-vertex argmax is a row_number window over the SAME dst
    partitioning the aggregation just produced — no extra Exchange.
    Lineage is cut per round with a lazy localCheckpoint (the 3^rounds
    lesson). Rounds are a fixed count, not convergence-tested:
    deterministic plans, bounded work; synchronous LPA can 2-cycle on
    bipartite-ish regions, and a fixed horizon is the standard remedy."""
    both = (
        edges.select(
            F.col("uri_a").alias("src"), F.col("uri_b").alias("dst"), "weight"
        )
        .unionByName(
            edges.select(
                F.col("uri_b").alias("src"), F.col("uri_a").alias("dst"), "weight"
            )
        )
        .localCheckpoint(eager=False)
    )
    labels = (
        both.select(F.col("src").alias("uri"))
        .distinct()
        .select("uri", F.col("uri").alias("label"))
    )
    for _ in range(rounds):
        votes = (
            both.join(labels.withColumnRenamed("uri", "src"), "src")
            .groupBy("dst", "label")
            .agg(F.sum("weight").alias("w"))
        )
        win = Window.partitionBy("dst").orderBy(F.desc("w"), F.asc("label"))
        labels = (
            votes.withColumn("rn", F.row_number().over(win))
            .where(F.col("rn") == 1)
            .select(F.col("dst").alias("uri"), "label")
            .localCheckpoint(eager=False)
        )
    return labels
