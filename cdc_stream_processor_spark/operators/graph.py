"""Graph analytics over distributed edge lists.

Connected components live in operators.dedup (alternating-star label
propagation for dedup clustering); this module adds PageRank — the
canonical iterative fixed-point computation — in a form that is exact,
order-independent, and therefore oracle-checkable:

All rank mass is carried as int64 FIXED-POINT (PR_SCALE = 1e15 units).
Every step is integer arithmetic — truncating division for the per-edge
contribution split and the damping factor, integer SUM for the gather —
so the result is bit-identical however partitions are ordered, and a
DuckDB oracle can replay the iterations with the same `//` arithmetic.
Floating-point PageRank would make the gather sum partition-order
dependent; fixed-point is how you make an iterative distributed algorithm
deterministic enough to verify.

Scale shape per iteration: one broadcast-or-shuffle join of the rank
vector onto the edge list (rank vector is |V| rows — small next to |E|),
one groupBy(dst) partial-agg shuffle. No driver-side graph state; the
iteration count is fixed (power iteration converges geometrically at the
damping rate, so a handful of rounds gives chart-stable ranks).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cdc_stream_processor_spark.operators.memo import memoized

PR_SCALE = 1_000_000_000_000_000  # 1e15 fixed-point units of rank mass
PR_DAMP_NUM = 85  # damping 0.85 as a ratio — kept integer
PR_DAMP_DEN = 100


def pagerank(
    edges: DataFrame,
    n_iter: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Fixed-iteration integer PageRank over a directed edge list.

    Nodes are the union of sources and destinations; every node starts
    with PR_SCALE // N units. Per iteration each node splits its rank
    equally over its out-edges (truncating div), the gather sums int64
    exactly, and rank_{t+1} = teleport + damped gather (both truncating).
    Nodes without out-edges simply leak their mass (the classic
    simplification; total mass is not conserved but ordering is stable).
    Returns (node, pr_q int64 fixed-point, pagerank double = pr_q/1e15
    rounded to 6 — a single exact division in either engine).
    """
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).persist()
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )
    n = nodes.count()
    if n == 0:
        # empty graph (e.g. textrank's co-occurrence graph pruned empty by
        # min_cooc on a tiny/templated corpus): the teleport division below
        # would raise ZeroDivisionError on the driver — the empty rank
        # vector is the answer. Found by the textrank hypothesis replay.
        return nodes.select(
            "node",
            F.lit(0).cast("long").alias("pr_q"),
            F.lit(0.0).alias("pagerank"),
        )
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    ranked_edges = e.join(outdeg, "src").persist()
    teleport = (PR_DAMP_DEN - PR_DAMP_NUM) * PR_SCALE // (PR_DAMP_DEN * n)
    # rank_{t}(node) = teleport + damp(gather_{t}(node)), with gather ≡ 0
    # for nodes nothing points at — so the full per-node rank table never
    # needs materializing inside the loop (r13, guide §1.2/§2.4): instead
    # of {edges ⋈ pr on src} + {nodes ⟕ gathered} per iteration, LEFT-join
    # the edges directly against the previous gather on src == dst and
    # compute the rank expression inline (a src absent from the gather has
    # rank teleport + damp(0) — exactly what the nodes ⟕ gathered row
    # produced). One join per iteration instead of two, and iteration 1
    # (uniform rank PR_SCALE // n) is a map-only pass over the edges.
    # Integer arithmetic is identical op-for-op, so results are
    # bit-identical (pinned by test_pagerank_matches_integer_reference —
    # the hypothesis property replaying the recurrence sequentially).
    gathered: DataFrame | None = None
    for _ in range(n_iter):
        if gathered is None:
            contrib = ranked_edges.select(
                F.col("dst"),
                F.expr(f"CAST({PR_SCALE // n} AS BIGINT) div outdeg").alias(
                    "c"
                ),
            )
        else:
            prev = gathered.select(F.col("dst").alias("gnode"), "g")
            contrib = ranked_edges.join(
                prev, ranked_edges["src"] == prev["gnode"], "left"
            ).select(
                F.col("dst"),
                F.expr(
                    f"CAST({teleport} AS BIGINT)"
                    f" + (coalesce(g, CAST(0 AS BIGINT)) * {PR_DAMP_NUM})"
                    f" div {PR_DAMP_DEN}"
                ).alias("pr_q"),
                F.col("outdeg"),
            ).select(F.col("dst"), F.expr("pr_q div outdeg").alias("c"))
        gathered = contrib.groupBy("dst").agg(F.sum("c").alias("g"))
    if gathered is None:  # n_iter == 0: the uniform start vector, as before
        pr = nodes.withColumn("pr_q", F.lit(PR_SCALE // n).cast("long"))
        return pr.select(
            "node",
            "pr_q",
            F.round(
                F.col("pr_q").cast("double") / F.lit(float(PR_SCALE)), 6
            ).alias("pagerank"),
        )
    pr = nodes.join(
        gathered, nodes["node"] == gathered["dst"], "left"
    ).select(
        "node",
        (
            F.lit(teleport)
            + F.expr(
                f"(coalesce(g, CAST(0 AS BIGINT)) * {PR_DAMP_NUM})"
                f" div {PR_DAMP_DEN}"
            )
        ).cast("long").alias("pr_q"),
    )
    return pr.select(
        "node",
        "pr_q",
        F.round(F.col("pr_q").cast("double") / F.lit(float(PR_SCALE)), 6).alias(
            "pagerank"
        ),
    )


def triangle_counts(
    edges: DataFrame, a_col: str = "src", b_col: str = "dst"
) -> DataFrame:
    """Per-vertex triangle counts over an undirected edge list — the
    clustering-coefficient numerator (community density / spam-graph
    signal; cf. Cohen '09 MapReduce triangle enumeration).

    Algorithm: canonicalize each edge to (lo, hi); enumerate wedges by
    joining the canonical list with itself on the shared LOW endpoint
    (producing each unordered vertex pair {b, c} around a once); close
    each wedge with one more equi-join against the canonical edge list.
    Each triangle {a<b<c} is found exactly once — as wedge (b, c) around
    a closed by edge (b, c) — then credited to all three corners with one
    explode + partial-agg count.

    Scale shape: two hash equi-joins plus one count shuffle; wedge count
    is Σ deg_lo(v)², bounded by ordering wedges on the LOW endpoint (the
    standard degree-ordering trick keeps hub wedges off single keys).
    """
    e = edges.select(
        F.least(F.col(a_col), F.col(b_col)).alias("lo"),
        F.greatest(F.col(a_col), F.col(b_col)).alias("hi"),
    ).filter(F.col("lo") != F.col("hi")).dropDuplicates(["lo", "hi"])
    wedges = (
        e.alias("x")
        .join(e.alias("y"), F.col("x.lo") == F.col("y.lo"))
        .filter(F.col("x.hi") < F.col("y.hi"))
        .select(
            F.col("x.lo").alias("a"),
            F.col("x.hi").alias("b"),
            F.col("y.hi").alias("c"),
        )
    )
    tris = wedges.join(
        e.select(F.col("lo").alias("b"), F.col("hi").alias("c")),
        ["b", "c"],
    )
    corners = tris.select(
        F.explode(F.array("a", "b", "c")).alias("vertex")
    )
    return corners.groupBy("vertex").agg(
        F.count(F.lit(1)).alias("n_triangles")
    )


@memoized
def label_propagation(
    edges: DataFrame,
    n_rounds: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Synchronous label-propagation community detection (Raghavan et al.
    2007) made deterministic: labels start as node ids; each round every
    node adopts the most frequent label among its neighbors PLUS ITS OWN
    current label (the self-vote damps the classic synchronous-LPA
    oscillation on bipartite pieces — a bare edge pair otherwise swaps
    labels forever), ties broken by the SMALLEST label; fixed round
    count (asynchronous/random-order LPA is not replayable — the
    synchronous min-tie variant is, and a DuckDB oracle unrolls the same
    rounds).

    Distinct from connected components (operators.dedup): CC merges
    everything reachable; LPA lets dense regions keep distinct labels
    across sparse cuts, which is the community signal.

    Per round: one join of the |V|-row label vector onto the symmetrized
    edge list + two integer aggregations (max count, then min label among
    the argmax set — membership decided by value comparison, the same
    tie discipline as the MG trim). Edge list is persisted: it is reused
    every round above its symmetrize+distinct shuffle.

    Returns (node, community) after n_rounds.

    Memoized: the community table is the shared sub-result of
    `knn_communities` (which returns it) and `community_conductance`
    (which scores it) on the same graph. Without the memo the second
    caller re-runs the whole iterative loop: 3 joins + 6 aggregations +
    3 eager checkpoints (r12 optimization).
    """
    e = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .union(
            edges.select(
                F.col(dst_col).alias("src"), F.col(src_col).alias("dst")
            )
        )
        .distinct()
        .persist()
    )
    labels = (
        e.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    for _ in range(n_rounds):
        votes = e.join(
            labels.select(
                F.col("node").alias("_n"), F.col("label").alias("nb_label")
            ),
            F.col("dst") == F.col("_n"),
        ).select("src", "nb_label").unionByName(
            labels.select(
                F.col("node").alias("src"), F.col("label").alias("nb_label")
            )
        )
        counts = votes.groupBy("src", "nb_label").agg(
            F.count(F.lit(1)).alias("c")
        )
        mx = counts.groupBy("src").agg(F.max("c").alias("mc"))
        labels = (
            counts.join(mx, "src")
            .filter(F.col("c") == F.col("mc"))
            .groupBy("src")
            .agg(F.min("nb_label").alias("label"))
            .select(F.col("src").alias("node"), "label")
            # the accumulator is referenced TWICE per round (neighbor join
            # + self-vote union) — without truncation the lineage doubles
            # per round and re-executes the whole chain 2^rounds times
            # (measured 10.7 s -> ~2 s at sf0.1); localCheckpoint per
            # round is the repo-standard cure for the k^rounds plan trap
            .localCheckpoint(eager=True)
        )
    return labels.select("node", F.col("label").alias("community"))


def in_degree_spectrum(
    edges: DataFrame,
    nodes: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    node_col: str = "node",
) -> DataFrame:
    """In-degree distribution of a directed graph INCLUDING zero-degree
    nodes — over a kNN graph this is the hubness audit (Radovanović et
    al., JMLR'10): high-dimensional corpora concentrate in-links on hub
    vectors, which skews ANN quality and kNN-classifier votes, and nodes
    nobody points at are the anti-hubs retrieval will never surface.
    The spectrum (not per-node rows) is what a pipeline monitors: its
    tail length IS the hubness measure.

    Two partial-agged aggregations (edges → per-node in-degree → degree
    spectrum) plus one left join against the node table for the
    zero-degree row; output is ≤ max-degree rows whatever the corpus.
    """
    indeg = edges.groupBy(F.col(dst_col).alias(node_col)).agg(
        F.count(F.lit(1)).alias("in_degree")
    )
    per_node = nodes.select(F.col(node_col)).join(
        indeg, node_col, "left"
    ).select(F.coalesce(F.col("in_degree"), F.lit(0)).alias("in_degree"))
    return per_node.groupBy("in_degree").agg(
        F.count(F.lit(1)).alias("n_nodes")
    )


def clustering_coefficients(
    edges: DataFrame,
    nodes: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    node_col: str = "node",
) -> DataFrame:
    """Per-node local clustering coefficient over an undirected edge list:
    cc(v) = 2·triangles(v) / (deg(v)·(deg(v)−1)) — how close each node's
    neighborhood is to a clique (Watts–Strogatz '98). Over a kNN graph
    this separates genuinely dense semantic regions (high cc) from hub
    artifacts (high degree, low cc) — the companion diagnostic to
    in_degree_spectrum's hubness view.

    Shape: canonical edge dedup + degree count (one shuffle), the
    triangle wedge/close joins (triangle_counts), and a node-table left
    join so zero-degree and degree-1 nodes appear with cc NULL. The only
    double is ONE division of two exact integers per node.
    """
    e = (
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("lo"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("hi"),
        )
        .filter(F.col("lo") != F.col("hi"))
        .dropDuplicates(["lo", "hi"])
    )
    deg = (
        e.select(F.col("lo").alias(node_col))
        .union(e.select(F.col("hi").alias(node_col)))
        .groupBy(node_col)
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    tri = triangle_counts(edges, a_col=src_col, b_col=dst_col).select(
        F.col("vertex").alias(node_col), "n_triangles"
    )
    return (
        nodes.select(F.col(node_col))
        .join(deg, node_col, "left")
        .join(tri, node_col, "left")
        .select(
            F.col(node_col),
            F.coalesce(F.col("degree"), F.lit(0)).alias("degree"),
            F.coalesce(F.col("n_triangles"), F.lit(0)).alias("n_triangles"),
        )
        .withColumn(
            "clustering_coeff",
            F.when(
                F.col("degree") >= 2,
                (F.lit(2) * F.col("n_triangles")).cast("double")
                / (F.col("degree") * (F.col("degree") - 1)).cast("double"),
            ),
        )
    )


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    n_iter: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
    seed_col: str = "node",
) -> DataFrame:
    """Personalized PageRank (random walk with restart to a SEED set) —
    the related-items / query-expansion primitive: rank mass teleports
    only to the seeds, so the stationary ranks measure multi-hop
    proximity TO THE SEED SET rather than global centrality
    (Haveliwala, WWW'02). Same fixed-point integer contract as
    `pagerank`: seeds start with PR_SCALE // n_seeds units, per
    iteration each node splits rank over out-edges with truncating
    division, the gather sums int64 exactly, and
    rank' = (is_seed ? teleport : 0) + damped gather — every round
    bit-replayable in the DuckDB oracle.

    Returns (node, is_seed, pr_q, pagerank).
    """
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).persist()
    sd = seeds.select(F.col(seed_col).alias("node")).distinct().persist()
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .union(sd.select("node"))
        .distinct()
        .persist()
    )
    n_seeds = sd.count()
    if n_seeds == 0:
        raise ValueError(
            "personalized_pagerank: seeds must be non-empty "
            "(teleport mass is divided across the seed set)"
        )
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    ranked_edges = e.join(outdeg, "src").persist()
    teleport = (PR_DAMP_DEN - PR_DAMP_NUM) * PR_SCALE // (
        PR_DAMP_DEN * n_seeds
    )
    marked = nodes.join(
        sd.withColumn("is_seed", F.lit(True)), "node", "left"
    ).select("node", F.coalesce("is_seed", F.lit(False)).alias("is_seed"))
    pr = marked.withColumn(
        "pr_q",
        F.when(F.col("is_seed"), F.lit(PR_SCALE // n_seeds))
        .otherwise(F.lit(0))
        .cast("long"),
    )
    marked = marked.localCheckpoint()  # loop leaf: referenced every round
    for _ in range(n_iter):
        contrib = ranked_edges.join(
            pr.select("node", "pr_q"), ranked_edges["src"] == F.col("node")
        ).select(F.col("dst"), F.expr("pr_q div outdeg").alias("c"))
        gathered = contrib.groupBy("dst").agg(F.sum("c").alias("g"))
        pr = (
            marked.join(gathered, marked["node"] == gathered["dst"], "left")
            .select(
                "node",
                "is_seed",
                (
                    F.when(F.col("is_seed"), F.lit(teleport)).otherwise(
                        F.lit(0)
                    )
                    + F.expr(
                        f"(coalesce(g, CAST(0 AS BIGINT)) * {PR_DAMP_NUM})"
                        f" div {PR_DAMP_DEN}"
                    )
                )
                .cast("long")
                .alias("pr_q"),
            )
            # truncate per round: pr feeds both next round's gather and
            # its own rebuild — uncheckpointed, the plan grows the whole
            # join subtree per iteration (the k^rounds trap)
            .localCheckpoint()
        )
    # NO cosmetic 6-dp round here: a pr_q landing exactly on a decimal
    # half-boundary (seed teleports make these common) rounds HALF_UP in
    # Spark (BigDecimal on the shortest repr) but down in DuckDB (on the
    # binary double) — the raw division of the same int64 is bit-identical
    return pr.select(
        "node",
        "is_seed",
        "pr_q",
        (F.col("pr_q").cast("double") / F.lit(float(PR_SCALE))).alias(
            "pagerank"
        ),
    )


def degree_assortativity(
    edges: DataFrame, src_col: str = "src", dst_col: str = "dst"
) -> DataFrame:
    """Degree assortativity coefficient (Newman, PRL'02): the Pearson
    correlation of endpoint degrees over the undirected edge list, each
    edge counted in both orientations (the standard symmetric form).
    Positive = hubs link hubs (social-graph shape), negative = hubs link
    leaves (star/hub shape) — over a kNN graph this summarizes whether
    hubness (see in_degree_spectrum) is self-reinforcing.

    All moments are exact BIGINT sums over one edge-scale join pipeline;
    the only doubles are the final variance/sqrt/ratio chain — a single
    expression stated identically in the oracle. Returns one row
    (n_edges, assortativity); NULL when a variance is zero.
    """
    e = (
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("lo"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("hi"),
        )
        .filter(F.col("lo") != F.col("hi"))
        .dropDuplicates(["lo", "hi"])
    )
    deg = (
        e.select(F.col("lo").alias("node"))
        .union(e.select(F.col("hi").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    both = e.union(e.select(F.col("hi").alias("lo"), F.col("lo").alias("hi")))
    pairs = (
        both.join(deg.withColumnRenamed("node", "lo"), "lo")
        .withColumnRenamed("deg", "dx")
        .join(
            deg.withColumnRenamed("node", "hi").withColumnRenamed(
                "deg", "dy"
            ),
            "hi",
        )
        .select(F.col("dx").cast("long"), F.col("dy").cast("long"))
    )
    m = pairs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("dx").alias("sx"),
        F.sum("dy").alias("sy"),
        F.sum(F.col("dx") * F.col("dy")).alias("sxy"),
        F.sum(F.col("dx") * F.col("dx")).alias("sxx"),
        F.sum(F.col("dy") * F.col("dy")).alias("syy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    )
    vx = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
        "double"
    )
    vy = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
        "double"
    )
    return m.select(
        (F.col("n") / 2).cast("long").alias("n_edges"),
        F.when(
            (vx > 0) & (vy > 0), num / (F.sqrt(vx) * F.sqrt(vy))
        ).alias("assortativity"),
    )


def community_conductance(
    edges: DataFrame,
    communities: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    node_col: str = "node",
    community_col: str = "community",
) -> DataFrame:
    """Per-community conductance — the standard cut-quality score for a
    detected partition (Kannan–Vempala–Vetta, JACM'04): φ(C) =
    cut(C) / (2·internal(C) + cut(C)), low = well-separated community.
    This is the MEASURE for label_propagation's output (the
    knn_communities consumer): detection without a quality score is a
    demo, not a pipeline stage.

    One edge-scale pipeline: canonical dedup, two label joins, a per-edge
    classification exploded to the 1–2 owning communities, then a
    community-scale rollup joined with node counts. Exact integer edge
    counts; conductance is one double division (NULL for zero-volume
    communities). Returns (community, n_nodes, internal_edges, cut_edges,
    conductance).
    """
    e = (
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("lo"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("hi"),
        )
        .filter(F.col("lo") != F.col("hi"))
        .dropDuplicates(["lo", "hi"])
    )
    # the label table is consumed THREE times (two edge-endpoint joins +
    # the size rollup); when it is the output of an iterative detector
    # (label_propagation), re-deriving it per consumer re-runs the whole
    # loop — truncate once here (measured 170 s -> seconds at sf0.001)
    communities = communities.localCheckpoint()
    lab = communities.select(
        F.col(node_col).alias("n_"), F.col(community_col).alias("c_")
    )
    tagged = (
        e.join(lab.withColumnsRenamed({"n_": "lo", "c_": "ca"}), "lo")
        .join(lab.withColumnsRenamed({"n_": "hi", "c_": "cb"}), "hi")
    )
    owners = tagged.select(
        F.explode(
            F.when(
                F.col("ca") == F.col("cb"),
                F.array(
                    F.struct(
                        F.col("ca").alias("community"),
                        F.lit(1).alias("internal"),
                        F.lit(0).alias("cut"),
                    )
                ),
            ).otherwise(
                F.array(
                    F.struct(
                        F.col("ca").alias("community"),
                        F.lit(0).alias("internal"),
                        F.lit(1).alias("cut"),
                    ),
                    F.struct(
                        F.col("cb").alias("community"),
                        F.lit(0).alias("internal"),
                        F.lit(1).alias("cut"),
                    ),
                )
            )
        ).alias("o")
    )
    per_comm = owners.groupBy(F.col("o.community").alias("community")).agg(
        F.sum("o.internal").alias("internal_edges"),
        F.sum("o.cut").alias("cut_edges"),
    )
    sizes = communities.groupBy(
        F.col(community_col).alias("community")
    ).agg(F.count(F.lit(1)).alias("n_nodes"))
    vol = 2 * F.col("internal_edges") + F.col("cut_edges")
    return (
        sizes.join(per_comm, "community", "left")
        .select(
            "community",
            "n_nodes",
            F.coalesce("internal_edges", F.lit(0)).alias("internal_edges"),
            F.coalesce("cut_edges", F.lit(0)).alias("cut_edges"),
        )
        .withColumn(
            "conductance",
            F.when(
                vol > 0,
                F.col("cut_edges").cast("double") / vol.cast("double"),
            ),
        )
    )
