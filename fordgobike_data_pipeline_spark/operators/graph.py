"""Graph analytics over edge tables: fixed-iteration PageRank in
fixed-point integer arithmetic.

dedup.connected_components already covers the clustering side of
graph work; PageRank is the other primitive a corpus pipeline wants —
link-derived document authority is a classic quality prior (crawl
frontier ordering, seed weighting for quality classifiers).

The distributed-determinism problem PageRank poses is FLOATING-POINT
SUMMATION: each iteration sums contributions over in-edges, and
double addition is order-dependent across partitions, so a naive
implementation can't be hash-checked against an oracle (or even
against its own rerun). Same trick as the PQ ADC path
(similarity.py): ranks live as BIGINT fixed-point (scale 1e12) and
every per-edge contribution is integer `div` — integer sums are
associative AND commutative, so any partitioning yields bit-identical
ranks. The cost is deterministic truncation (each edge floor-drops
< 1 ulp of scaled mass per hop), which biases total mass down by an
ignorable ~outdeg·1e-12 per node per iteration — a documented,
deterministic approximation rather than a nondeterministic exact sum.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

SCALE = 1_000_000_000_000  # 1e12 fixed-point rank scale


def pagerank(
    edges: DataFrame,
    iterations: int = 3,
    damping_pct: int = 85,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge table where every
    node has at least one out-edge (feed an undirected graph as both
    directions — then there are no dangling nodes and no teleport
    redistribution to model).

    Each iteration is one join of ranks onto edges (shuffle on src)
    plus one sum by dst (shuffle on dst) — 2·iterations shuffles
    total, state is one row per node, nothing driver-side. Damping is
    a PERCENT (integer), keeping the whole recurrence in exact
    integer arithmetic:

        r'(v) = (SCALE/N)·(100−d)/100  +  Σ_in  (r(u)·d) div (100·outdeg(u))

    Checkpoint ``iterations`` stays small (this is the bounded-hop
    authority prior, not a convergence loop); for a convergence-style
    run, make each iteration one eager localCheckpoint that observes its
    change count, exactly as dedup.connected_components does.

    Returns (node, rank_int, rank) — rank_int is the exact fixed-point
    BIGINT (hash-comparable), rank its double rendering.
    """
    # every iteration re-reads the edge table; cut its upstream lineage
    # (often a DISTINCT or union) so it materializes once, the same
    # contract as dedup.connected_components' graph checkpoint
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).localCheckpoint()
    # deg re-aggregates the CHECKPOINTED edge table per iteration — one
    # cheap map-side-combined agg; an eager checkpoint of deg measured
    # ~1s slower at sf0.1 than the recompute (blocking write dominates)
    deg = e.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("outdeg")
    )
    # N is a single long — bounded control data, collected once so the
    # base term is a plan literal instead of a column carried through
    # every edge row of every iteration
    n_nodes = deg.count()
    base = ((SCALE // n_nodes) * (100 - damping_pct)) // 100
    ranks = deg.select("node", F.lit(SCALE // n_nodes).cast("long").alias("r"))
    for _ in range(iterations):
        # attach outdeg to the |nodes|-sized rank state (cheap), then one
        # join onto the edge table keyed by src
        rs = ranks.join(deg, "node").select(
            F.col("node").alias("src"),
            F.expr(f"(r * {damping_pct}) div (100 * outdeg)").alias("c"),
        )
        ranks = (
            e.join(rs, "src")
            .groupBy(F.col("dst").alias("node"))
            .agg((F.lit(base).cast("long") + F.sum("c")).alias("r"))
        )
    return ranks.select(
        "node",
        F.col("r").alias("rank_int"),
        # single int/int division, NO decimal re-round: a round(x, 9)
        # here hits half-ties (r is a multiple of 100 → x·1e9 lands on
        # .5) that Spark (BigDecimal HALF_UP) and DuckDB (x*1e9 rint)
        # resolve differently; the bare correctly-rounded division is
        # bit-identical on every engine
        (F.col("r") / F.lit(float(SCALE))).alias("rank"),
    )


def triangle_count(edges: DataFrame, a_col: str = "a", b_col: str = "b") -> DataFrame:
    """Global triangle count over an undirected edge table — the
    clustering-coefficient numerator, the standard cohesion probe for
    co-occurrence graphs (co-purchased parts, co-cited docs).

    Scale shape: the naive 3-way self-join explodes on hub nodes
    (Σ deg² wedges). The degree-ordered orientation (Cohen 2009;
    Suri & Vassilvitskii 2011) fixes it: orient every edge from the
    (degree, node)-smaller endpoint to the larger, so every vertex's
    out-degree is O(√|E|) and wedge count collapses to Σ outdeg² ≤
    |E|^1.5 — each triangle is counted exactly once, from its unique
    smallest vertex. Three shuffles total: degree agg, wedge
    self-join on the pivot, closing-edge semi-join.

    Returns one audit row: (n_edges, n_wedges, n_triangles).
    """
    # normalize + dedup; drop self-loops — materialize once: e feeds
    # the degree agg, the orientation join, AND the n_edges audit count
    e = (
        edges.select(
            F.least(F.col(a_col), F.col(b_col)).alias("u"),
            F.greatest(F.col(a_col), F.col(b_col)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    deg = (
        e.select(F.col("u").alias("n"))
        .unionAll(e.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    # orient each UNDIRECTED edge once (|E| rows, not the 2|E| directed
    # union): (degree, node) totally orders the endpoints, so pick the
    # direction from the smaller endpoint row-by-row
    keyed = (
        e.join(deg.select(F.col("n").alias("u"), F.col("d").alias("du")), "u")
        .join(deg.select(F.col("n").alias("v"), F.col("d").alias("dv")), "v")
    )
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    # oriented is probed THREE times (two wedge legs + closing edges);
    # checkpoint so the degree-join chain runs once
    oriented = keyed.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
    ).localCheckpoint()
    # wedge COUNT needs no join: every out-pair at a pivot is a wedge,
    # so n_wedges = Σ C(outdeg, 2) over the oriented out-degrees —
    # this halves the heavy work (the count(*) over the materialized
    # wedge join used to re-run the self-join a second time).
    # (An adjacency-array combination expand was A/B-tested here and
    # LOST to the self-join, 10.6s vs 8.4s at sf0.1: post-orientation
    # out-degrees run to the hundreds, so the per-row O(outdeg²)
    # nested-transform allocation beats the distributed hash join —
    # the opposite of the order/basket pair case, where sets are
    # single-digit. Keep the join.)
    n_wedges_df = (
        oriented.groupBy("src")
        .agg(F.count(F.lit(1)).alias("od"))
        .agg(F.sum(F.expr("od * (od - 1) div 2")).alias("n_wedges"))
    )
    o1 = oriented.select(F.col("src"), F.col("dst").alias("x"))
    o2 = oriented.select(F.col("src"), F.col("dst").alias("y"))
    # each unordered wedge once: x < y in plain node order
    wedges = o1.join(o2, "src").filter(F.col("x") < F.col("y"))
    # the closing edge is oriented too, but its direction depends on
    # the (deg, node) order of x and y — probe both as a normalized
    # undirected key.
    # Key shape (§2.3 narrow keys): when every node id fits in 31 bits
    # (checked exactly on the materialized edge table — one tiny agg),
    # the (x, y) pair packs bijectively into ONE long, so the wedge
    # semi-join probes a LongHashedRelation instead of the generic
    # two-column UnsafeHashedRelation — the probe side is Σ C(outdeg,2)
    # wedges, far bigger than |E|, so per-probe cost dominates this
    # operator (profiled ~3.4s of 8.3s at sf0.1 even with the closing
    # side broadcast). Ids beyond 31 bits fall back to the pair key.
    lo, hi = e.agg(F.min("u"), F.max("v")).first()
    if lo is not None and lo >= 0 and hi < (1 << 31):
        # long operands: shiftleft keeps an int input's type, so int ids
        # would wrap (the cast is dropped as redundant for bigint ids)
        pack = lambda x, y: F.shiftleft(x.cast("long"), 31).bitwiseOR(y.cast("long"))  # noqa: E731
        closing = oriented.select(
            pack(F.least("src", "dst"), F.greatest("src", "dst")).alias("xy")
        )
        tri = wedges.select(pack(F.col("x"), F.col("y")).alias("xy")).join(
            closing, "xy", "left_semi"
        )
    else:
        closing = oriented.select(
            F.least("src", "dst").alias("x"), F.greatest("src", "dst").alias("y")
        )
        tri = wedges.join(closing, ["x", "y"], "left_semi")
    return (
        e.agg(F.count(F.lit(1)).alias("n_edges"))
        .crossJoin(n_wedges_df)
        .crossJoin(tri.agg(F.count(F.lit(1)).alias("n_triangles")))
    )


def bfs_hops(
    edges: DataFrame,
    seeds: list[int],
    max_hops: int,
    a_col: str = "a",
    b_col: str = "b",
) -> DataFrame:
    """Breadth-first hop distance from a seed set over an undirected
    edge table: every node reachable within ``max_hops`` hops, labeled
    with its MINIMUM hop count — the reachability primitive behind
    "within k degrees of a trusted seed" quality propagation and
    recall expansion over co-occurrence graphs.

    Frontier-expansion shape (the Pregel iteration, expressed as
    DataFrame ops): each hop is ONE equi-join of the current frontier
    against the edge table plus one anti-join against the visited set
    — no all-pairs work, and a node is expanded exactly once no matter
    how many paths reach it (the anti-join dedups). The loop runs
    ``max_hops`` times on the driver but every iteration's data work
    is fully distributed. Each hop is ONE eager ``localCheckpoint`` of
    the new frontier that also counts it (Observation); the visited
    set is a lazy union of those checkpointed hop frames.

    The frontier is usually the small side — Spark's AQE converts the
    expansion join to broadcast when it fits; the visited set grows
    monotonically and stays partitioned by node for the anti-join.
    """
    spark = edges.sparkSession
    und = edges.select(
        F.col(a_col).alias("src"), F.col(b_col).alias("dst")
    ).unionAll(edges.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst")))
    # the edge table is probed EVERY hop — materialize the distinct
    # union once instead of re-running its (often expensive) upstream
    # lineage per iteration
    und = und.filter(F.col("src") != F.col("dst")).distinct().localCheckpoint()
    visited = spark.createDataFrame(
        [(int(s), 0) for s in sorted(set(seeds))], "node BIGINT, hop INT"
    )
    frontier = visited.select("node")
    for h in range(1, max_hops + 1):
        n_new = Observation()
        nxt = (
            frontier.join(und, frontier.node == und.src)
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .withColumn("hop", F.lit(h))
            .observe(n_new, F.count(F.lit(1)).alias("n"))
            # the hop's one job: later hops read it via the visited union
            .localCheckpoint(eager=True)
        )
        if n_new.get["n"] == 0:
            break
        visited = visited.unionByName(nxt)
        frontier = nxt.select("node")
    return visited


def local_clustering_coefficient(
    edges: DataFrame, top_n: int = 20, a_col: str = "a", b_col: str = "b"
) -> DataFrame:
    """Local clustering coefficient for the ``top_n`` highest-degree
    nodes: lcc(v) = 2·tri(v) / (deg(v)·(deg(v)−1)) — how close each
    hub's neighborhood is to a clique, the node-level cohesion probe
    (triangle_count is the graph-level one).

    Per-node triangle counts reuse the degree-ordered orientation: the
    wedge⋈closing-edge INNER join yields each triangle exactly once as
    a (pivot, x, y) triple, and exploding the triple credits all three
    corners — no per-node neighborhood materialization. The top-n cut
    is (degree desc, node asc) over the |V|-sized degree table; lcc is
    one double division of exact integers.
    """
    e = (
        edges.select(
            F.least(F.col(a_col), F.col(b_col)).alias("u"),
            F.greatest(F.col(a_col), F.col(b_col)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    deg = (
        e.select(F.col("u").alias("n"))
        .unionAll(e.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    keyed = e.join(
        deg.select(F.col("n").alias("u"), F.col("d").alias("du")), "u"
    ).join(deg.select(F.col("n").alias("v"), F.col("d").alias("dv")), "v")
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = keyed.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
    ).localCheckpoint()
    o1 = oriented.select(F.col("src"), F.col("dst").alias("x"))
    o2 = oriented.select(F.col("src"), F.col("dst").alias("y"))
    wedges = o1.join(o2, "src").filter(F.col("x") < F.col("y"))
    closing = oriented.select(
        F.least("src", "dst").alias("x"), F.greatest("src", "dst").alias("y")
    )
    # inner join (closing edges are distinct) -> one row per triangle.
    # (triangle_count's packed-key rewrite was A/B-tested here too and
    # LOST: this operator keeps x/y as output columns, so the pack only
    # adds an extra projection and a driver-side bounds job on a key
    # whose wedge volume is already top-n-bounded upstream.)
    triples = wedges.join(closing, ["x", "y"])
    tri_per_node = (
        triples.select(F.explode(F.array("src", "x", "y")).alias("n"))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("tri"))
    )
    # Top-n via orderBy().limit() -> TakeOrderedAndProject (per-
    # partition heaps + driver merge of top_n rows). An unpartitioned
    # row_number() window here would pull EVERY node's degree row into
    # one partition — the single-sort bottleneck at billions of nodes.
    # Same (d desc, n asc) total order, so the row set is identical.
    top = deg.orderBy(F.desc("d"), F.asc("n")).limit(top_n)
    return (
        top.join(tri_per_node, "n", "left")
        .select(
            F.col("n").alias("node"),
            F.col("d").alias("degree"),
            F.coalesce(F.col("tri"), F.lit(0)).alias("n_triangles"),
            F.round(
                F.when(F.col("d") > 1,
                       (2 * F.coalesce(F.col("tri"), F.lit(0))).cast("double")
                       / (F.col("d") * (F.col("d") - 1)).cast("double"))
                .otherwise(F.lit(0.0)),
                9,
            ).alias("lcc"),
        )
    )


def kcore_peel(
    edges: DataFrame,
    k: int = 3,
    iterations: int = 3,
    a_col: str = "a",
    b_col: str = "b",
) -> DataFrame:
    """Bounded k-core peeling: ``iterations`` rounds of "drop every
    node with degree < k, then drop edges touching dropped nodes" —
    the dense-core extractor (spam-farm detection, community seeding).
    A fixed iteration count keeps the operator oracle-expressible and
    the lineage bounded; at convergence the surviving subgraph IS the
    k-core, and the emitted per-round stats show whether it converged
    (n_edges stops moving).

    Each round is one degree aggregate plus two semi-joins — no
    driver-side graph, state is only the shrinking edge table,
    checkpointed per round to keep plan depth constant.

    Emits one row per round: (iter, n_nodes, n_edges) AFTER that
    round's peel.
    """
    e = (
        edges.select(
            F.least(F.col(a_col), F.col(b_col)).alias("u"),
            F.greatest(F.col(a_col), F.col(b_col)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    spark = edges.sparkSession
    stats = []
    for i in range(1, iterations + 1):
        deg = (
            e.select(F.col("u").alias("n"))
            .unionAll(e.select(F.col("v").alias("n")))
            .groupBy("n")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        keep = deg.filter(F.col("d") >= k).select("n")
        e = (
            e.join(keep.withColumnRenamed("n", "u"), "u", "left_semi")
            .join(keep.withColumnRenamed("n", "v"), "v", "left_semi")
            .localCheckpoint()
        )
        row = (
            e.select(F.col("u").alias("n"))
            .unionAll(e.select(F.col("v").alias("n")))
            .agg(
                F.lit(i).alias("iter"),
                F.countDistinct("n").alias("n_nodes"),
                (F.count(F.lit(1)) / 2).cast("long").alias("n_edges"),
            )
        )
        stats.append(row)
    out = stats[0]
    for s in stats[1:]:
        out = out.unionByName(s)
    return out


def order_part_pairs(lineitem: DataFrame) -> DataFrame:
    """Within-order part pairs (p < q), one row per (order, pair) —
    the raw co-purchase pair stream before any cross-order distinct.

    Built as collect_set per order + an in-array combination expand
    instead of the op⋈op self-join: one (orderkey, partkey) shuffle
    replaces the distinct-exchange + join-exchange pair, and the
    per-order part sets are tiny (an order has single-digit line
    items), so the combination arrays never blow up. Same multiset as
    the self-join — collect_set IS the per-order distinct."""
    return (
        lineitem.groupBy(F.col("l_orderkey").alias("o"))
        .agg(F.collect_set("l_partkey").alias("_ps"))
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(_ps, x -> "
                    "transform(filter(_ps, y -> y > x), y -> struct(x AS p, y AS q))))"
                )
            ).alias("_pq")
        )
        .select(F.col("_pq.p").alias("p"), F.col("_pq.q").alias("q"))
    )


def copurchase_bidirected(lineitem: DataFrame) -> DataFrame:
    """Bidirected co-purchase edge list (src, dst): parts linked when
    they share an order, each undirected edge emitted in both
    directions — the DataFrame twin of the harness's
    _COPURCHASE_BI_CTE (keep the two in sync; the SQL is the oracle).
    Shared by the graph-metric queries (assortativity, modularity) so
    the edge definition lives in exactly one place per engine.

    The distinct undirected edge set is localCheckpoint'ed: every
    consumer reads the edge list at least twice (degree table + edge
    scan), and without the cut each read re-runs the per-order pair
    expansion — at corpus scale that is the single most expensive
    subtree in every graph-metric plan."""
    e0 = order_part_pairs(lineitem).distinct().localCheckpoint()
    return e0.select(F.col("p").alias("src"), F.col("q").alias("dst")).unionAll(
        e0.select(F.col("q").alias("src"), F.col("p").alias("dst"))
    )


def label_propagation(
    edges: DataFrame,
    seeds: DataFrame,
    iterations: int = 2,
    src_col: str = "src",
    dst_col: str = "dst",
    node_col: str = "node",
    label_col: str = "label",
) -> DataFrame:
    """Semi-supervised label propagation: seed nodes carry known
    labels; each synchronous round, every node adopts the MAJORITY
    label among its labeled OUT-neighbors — labels flow dst -> src
    along directed edges (count desc, then smallest label — a total
    order, so every round is deterministic), seeds never change. For
    undirected semantics pass a bidirected edge list (both (u,v) and
    (v,u)); a kNN graph's "points-to-neighbor" edges are exactly the
    out-neighbor shape. The classic cheap labeler over a kNN graph:
    annotate 1% of a corpus, propagate to the rest, train the
    quality/topic classifier on the result.

    A FIXED iteration count (not a fixpoint test) keeps the operator
    SQL-expressible — the oracle unrolls the same k rounds. Each round
    is one edge join + one (node, label) count + one argmax-by-struct
    aggregate: all hash-partitioned, no windows, no driver state.
    At corpus scale the edge list is the kNN graph (|V|·k rows) and
    rounds are O(|E|).

    Returns (node, label, is_seed) for every node that has a label
    after ``iterations`` rounds (unreached nodes are absent)."""
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    # the edge table is probed once per round — checkpoint so its
    # upstream lineage (often a kNN-graph build) runs once
    e = edges.select(
        F.col(src_col).alias("_src"), F.col(dst_col).alias("_dst")
    ).localCheckpoint()
    seed = seeds.select(
        F.col(node_col).alias("_n"), F.col(label_col).cast("long").alias("_l")
    )
    labels = seed
    for _ in range(iterations):
        votes = (
            e.join(labels, e._dst == labels._n)
            .groupBy(F.col("_src"), F.col("_l"))
            .agg(F.count(F.lit(1)).alias("_c"))
        )
        # majority label: max over (count, -label) struct — count desc,
        # smallest label tiebreak, one aggregate instead of a window
        best = votes.groupBy("_src").agg(
            F.max(F.struct(F.col("_c"), (-F.col("_l")).alias("_nl"))).alias("_b")
        ).select(
            F.col("_src").alias("_n"), (-F.col("_b._nl")).cast("long").alias("_l")
        )
        # seeds are clamped: their label always wins
        labels = seed.unionByName(
            best.join(seed.select(F.col("_n").alias("_sn")), best._n == F.col("_sn"), "left_anti")
        )
    is_seed = seed.select(F.col("_n"), F.lit(True).alias("_is"))
    return (
        labels.join(is_seed, "_n", "left")
        .select(
            F.col("_n").alias("node"),
            F.col("_l").cast("int").alias("label"),
            F.coalesce(F.col("_is"), F.lit(False)).alias("is_seed"),
        )
    )
