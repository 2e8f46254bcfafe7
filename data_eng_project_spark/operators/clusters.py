"""Connected components over a pair graph — duplicate-cluster assembly.

Pairwise near-dup detection (operators/dedup.py) emits edges; the
deliverable of a dedup stage is the *cluster*: every document labeled
with its component's canonical (minimum) id, so "keep one per cluster"
is a single filter.

``connected_components`` solves the whole pair graph as one row in one
task: the nodes are indexed in id order, one join hands every edge its
neighbour's index, the per-node neighbour lists are collected into one
row, and one ``aggregate`` runs min-label hooking with pointer jumping
over index arrays until a hook changes nothing. That is five Spark jobs
whatever the round count, with no checkpoint and no driver round trip.
The per-round join+groupBy loop it replaced ran 22 jobs on the staged
sf0.1 dup graph, where each job cost more than the data; at the 10x
replica (50,000 nodes, 250,600 pairs, 4,756 components) both give
identical labels, and the warm time on a 4-core host fell from
2.8-3.4 s to 1.6-2.1 s (CHANGES.md). The price is a scale bound:
the graph must fit in one task (see the function). Near-dup graphs are
bounded by corpus size times a small degree; an adversarial
billion-edge graph needs the distributed large-star/small-star
alternation (Kiveris et al., "Connected Components in MapReduce and
Beyond"), which bounds rounds at O(log n) on any topology.

PageRank and BFS reuse the components: each solves a component (BFS:
a component per root) as one row in one ``aggregate`` over the layout
``_component_rows`` builds, so their rounds cost no jobs of their own.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def connected_components(
    edges: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Label every node of the undirected pair graph with its component's
    minimum node id. Returns (id, comp). Nodes appear iff they occur in
    at least one edge.

    Algorithm. Nodes get a dense 0-based index in id order, so a
    component's minimum index is its minimum id. One row holds the
    id-ordered ``ids`` and, per node, its neighbours' indices, and one
    ``aggregate`` alternates two steps over the label array L: the hook
    ``L[k] = min(L[k], min over neighbours j of L[j])`` and the pointer
    jump ``L[k] = L[L[k]]``. It stops at the first hook that changes
    nothing; then every node's label equals its neighbours', so each
    component carries its minimum. A jump that changes nothing proves
    nothing: on the path A(2)-B(3)-C(1) it leaves A at 2. Labels only
    fall, so the hooks finish within diameter + 1 rounds; jumping
    collapses an id-ordered chain in O(log length) rounds, and a
    near-clique dup graph in one (plus the certifying hook). If
    ``max_iter`` rounds of both steps end before a hook has changed
    nothing, the query fails with a ``raise_error`` that names
    ``max_iter``; it never returns unconverged labels. Per row the work
    is O((N + E) * rounds). Every lambda reads only accumulator fields:
    Spark does no common-subexpression elimination inside lambdas, so a
    lambda that read an array built by another ``transform`` of the same
    step would rebuild it per element.

    Jobs. Writing the result runs five Spark jobs whatever the round
    count: the sorted id array, the index join, the per-node grouping,
    the one-row collect and the result. Building the plan runs none, and
    nothing is persisted, checkpointed or collected to the driver.

    Scale bound: the sorted id array and the node and adjacency arrays
    must fit in one row of one task, like one component in ``pagerank``.
    At the 10x sf0.1 replica that is 50,000 nodes and 501,200 neighbour
    entries, about 4 MB.
    """
    sym = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).union(edges.select(F.col(dst_col).alias("src"), F.col(src_col).alias("dst")))
    # A node's index is its position in the sorted id array. posexplode
    # gives it without a global window: a window with no partition key
    # sorts every edge row in one task, and tests/test_plan_quality.py
    # bars it from query plans. The index join and the per-node grouping
    # stay distributed; only the id array and the final row are built in
    # one task.
    sorted_ids = sym.groupBy().agg(F.array_sort(F.collect_set("src")).alias("ids"))
    index = sorted_ids.select(F.posexplode("ids").alias("j", "dst"))
    graph = (
        sym.join(index, "dst")
        .groupBy("src")
        .agg(F.collect_list("j").alias("nb"))
        .groupBy()
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("src").alias("id"), "nb"))
            ).alias("_nodes")
        )
    )

    def state(ids, nb, labels, prev, done):
        return F.struct(
            ids.alias("ids"),
            nb.alias("nb"),
            labels.alias("L"),
            prev.alias("P"),
            done.alias("done"),
        )

    def step(acc, i):
        ids, nb, labels = acc["ids"], acc["nb"], acc["L"]
        hook = F.transform(
            nb,
            lambda ns, k: F.aggregate(ns, labels[k], lambda m, j: F.least(m, labels[j])),
        )
        jump = F.transform(labels, lambda lk: labels[lk])
        # Odd steps hook and keep the labels they started from; the jump
        # after a hook that changed nothing (L == P) marks the fixpoint.
        return (
            F.when(acc["done"], acc)
            .when(i % 2 == 1, state(ids, nb, hook, labels, F.lit(False)))
            .otherwise(state(ids, nb, jump, labels, labels == acc["P"]))
        )

    start = F.transform("_nodes", lambda _, k: k)
    labels = F.aggregate(
        F.sequence(F.lit(1), F.lit(2 * int(max_iter))),
        state(
            F.transform("_nodes", lambda n: n["id"]),
            F.transform("_nodes", lambda n: n["nb"]),
            start,
            start,
            F.lit(False),
        ),
        step,
        lambda acc: F.when(
            acc["done"],
            F.transform(
                acc["L"],
                lambda lk, k: F.struct(
                    acc["ids"][k].alias("id"), acc["ids"][lk].alias("comp")
                ),
            ),
        ).otherwise(
            F.raise_error(
                F.lit(
                    f"connected_components did not converge within max_iter={int(max_iter)}"
                    " hook/jump rounds; pass a larger max_iter"
                )
            )
        ),
    )
    return graph.select(F.inline(labels))


def dedup_cluster_assignments(
    pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b"
) -> DataFrame:
    """(doc_id, component, is_canonical) for every doc in ≥1 near-dup
    pair; downstream keeps ``is_canonical`` rows only."""
    comps = connected_components(pairs, id_a, id_b)
    return comps.select(
        F.col("id").alias("doc_id"),
        F.col("comp").alias("component"),
        (F.col("id") == F.col("comp")).alias("is_canonical"),
    )


def _component_rows(
    edges: DataFrame,
    src_col: str,
    dst_col: str,
    components: DataFrame,
) -> tuple[DataFrame, DataFrame]:
    """The layout ``pagerank`` and ``bfs_hops`` iterate over: ``node``
    (id, comp, nbrs, i), i the node's position in its component's
    id-ordered node array, and ``rows`` (comp, _nodes), ONE row per
    component listing (id, ins) in id order, ``ins`` the node's
    neighbours as (i, 1/out_degree) structs in index order (the graph is
    symmetric: these are its in-neighbours, and every node has one)."""
    # Neighbour sets of the symmetrized graph: one aggregation both
    # dedups parallel edges and yields the out-degree.
    adj = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .union(edges.select(F.col(dst_col).alias("src"), F.col(src_col).alias("dst")))
        .groupBy("src")
        .agg(F.collect_set("dst").alias("nbrs"))
    )
    node = components.join(adj, F.col("id") == F.col("src")).select(
        "id",
        "comp",
        "nbrs",
        (F.row_number().over(Window.partitionBy("comp").orderBy("id")) - 1).alias("i"),
    )
    rows = (
        node.select(
            "comp",
            F.explode("nbrs").alias("id"),
            "i",
            (F.lit(1.0) / F.size("nbrs")).alias("w"),
        )
        .groupBy("comp", "id")
        .agg(F.array_sort(F.collect_list(F.struct("i", "w"))).alias("ins"))
        .groupBy("comp")
        .agg(F.array_sort(F.collect_list(F.struct("id", "ins"))).alias("_nodes"))
    )
    return node, rows


def pagerank(
    edges: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    damping: float = 0.85,
    n_iter: int = 10,
    components: DataFrame | None = None,
) -> DataFrame:
    """PageRank over the undirected pair graph (each edge walked both
    ways), fixed-iteration power method — centrality weighting for
    dup/similarity graphs (e.g. prioritize the most-connected document
    of a near-dup family, or weight corpus items by graph popularity).

    Solved per connected component, all rounds in one stage: the
    symmetrized graph has no dangling nodes and the (1−d)/N teleport is
    uniform over all N nodes, so every component keeps mass |c|/N on
    every round and a node's rank depends only on its own component
    plus N. Each component becomes ONE row (``_component_rows``), and
    the ``n_iter`` rounds run as an ``aggregate`` over ``sequence(1,
    n_iter)`` with the rank array as accumulator (the HOF idiom of
    kmeans_lloyd). N arrives as a broadcast one-row count.
    Building the plan runs no Spark job when ``components`` is given,
    and nothing is persisted or checkpointed; in-mass sums run in
    neighbour-index order, with the same per-term arithmetic as a
    global join+groupBy matvec.

    Scale bound: one component's adjacency must fit in one row of one
    task — the same argument triangle_stats makes for its join fan-out.
    Dup graphs are bounded by cluster size; a graph with a giant
    component needs the global matvec instead. The replaced ten-round
    join+groupBy loop ran 68 jobs on the staged pair graph against 10
    here (plans/r14/pagerank_dup_docs_*.txt, A/B in CHANGES.md).

    ``components`` is an optional (id, comp) frame that labels every
    node of ``edges`` once (e.g. the staged dup components; ids absent
    from ``edges`` are ignored); when absent it is computed with
    connected_components. Returns (id, rank) with ranks summing to 1.
    """
    if int(n_iter) < 1:
        raise ValueError(f"pagerank needs n_iter >= 1, got {n_iter=}")
    if components is None:
        components = connected_components(edges, src_col, dst_col)
    node, per_comp = _component_rows(edges, src_col, dst_col, components)
    n_row = node.agg(F.count(F.lit(1)).alias("n"))
    per_comp = per_comp.join(F.broadcast(n_row))

    def step(rank, _):
        return F.transform(
            "_nodes",
            lambda nd: (1.0 - damping) / F.col("n")
            + damping
            * F.aggregate(
                nd["ins"], F.lit(0.0), lambda acc, e: acc + rank[e["i"]] * e["w"]
            ),
        )

    r0 = F.array_repeat(F.lit(1.0) / F.col("n"), F.size("_nodes"))
    ranks = F.aggregate(F.sequence(F.lit(1), F.lit(int(n_iter))), r0, step)
    return per_comp.select(
        F.inline(
            F.zip_with(
                "_nodes", ranks, lambda nd, r: F.struct(nd["id"].alias("id"), r.alias("rank"))
            )
        )
    )


def triangle_stats(
    edges: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
) -> DataFrame:
    """Per-node triangle count and local clustering coefficient over the
    undirected pair graph — the cluster-cohesion diagnostic for dup
    graphs: a near-clique dup family has coefficient ≈ 1, a chain of
    borderline matches ≈ 0, so the coefficient separates "true
    duplicate families" from "threshold-straddling chains" before any
    keep-decision is made.

    Triangles are enumerated once each via the ordered-edge join
    (a<b<c): e(a,b) ⋈ e(b,c) ⋈ e(a,c) — two equi-joins on the
    deduplicated edge list, no cross join. On power-law graphs the
    standard refinement is to orient edges low-degree→high-degree
    first (node-iterator++), which bounds the join fan-out by
    arboricity; dup graphs are bounded by cluster size, so the plain
    ordered join is already safe here.

    Returns (id, degree, n_triangles, clustering_coeff) for every node
    in ≥1 edge; coefficient is 0 for degree < 2.
    """
    # Not materialised: AQE reuses the distinct()'s exchange across the
    # three self-join aliases, and a checkpoint measured a tie (0.776 s
    # against 0.738 s uncached, min of 6 on the staged consumer).
    e = (
        edges.select(
            F.least(src_col, dst_col).alias("a"),
            F.greatest(src_col, dst_col).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    tri = (
        e.alias("e1")
        .join(e.alias("e2"), F.col("e1.b") == F.col("e2.a"))
        .join(
            e.alias("e3"),
            (F.col("e3.a") == F.col("e1.a")) & (F.col("e3.b") == F.col("e2.b")),
        )
        .select(
            F.col("e1.a").alias("x"), F.col("e1.b").alias("y"), F.col("e2.b").alias("z")
        )
    )
    node_tri = (
        tri.select(F.explode(F.array("x", "y", "z")).alias("id"))
        .groupBy("id")
        .agg(F.count("*").alias("n_triangles"))
    )
    deg = (
        e.select(F.col("a").alias("id"))
        .union(e.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("degree"))
    )
    return deg.join(node_tri, "id", "left").select(
        "id",
        F.col("degree").cast("bigint").alias("degree"),
        F.coalesce("n_triangles", F.lit(0)).cast("bigint").alias("n_triangles"),
        F.round(
            F.when(
                F.col("degree") >= 2,
                F.lit(2.0)
                * F.coalesce("n_triangles", F.lit(0))
                / (F.col("degree") * (F.col("degree") - 1)),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("clustering_coeff"),
    )


def bfs_hops(
    edges: DataFrame,
    roots: DataFrame,
    components: DataFrame,
    root_col: str = "root",
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_hops: int = 12,
) -> DataFrame:
    """Multi-source BFS over the undirected pair graph: the hop
    (shortest-path) distance from each root to every node it reaches
    within ``max_hops``, given the graph's ``components`` (id, comp) as
    ``connected_components`` returns them. Returns (root, node, hops); a
    root appears at hops 0, and nodes farther than ``max_hops`` from
    every root are absent — callers pick the cap, and the SQL-oracle
    twin applies the identical cap so both engines truncate the same
    frontier.

    For dup graphs this is the "how far from the canonical" diagnostic:
    hop distance from a cluster's kept representative separates direct
    near-dups (1 hop) from documents that are only transitively
    duplicated through a chain of borderline matches (≥2 hops) — the
    rows a curator re-reviews before an aggressive keep-one policy.

    Solved as ONE row per root over ``pagerank``'s per-component
    layout: one ``aggregate`` over ``max_hops`` rounds relaxes the
    distance array ``D[k] = least(D[k], min over neighbours j of
    D[j] + 1)`` from 0 at the root and NULL elsewhere, so after h rounds
    D holds exactly the distances ≤ h; NULLs (unreached) are dropped,
    and a root in no edge is emitted at hop 0 only. Building the plan
    runs no Spark job, and nothing is persisted or checkpointed. Scale
    bound: as in ``pagerank``, one component's adjacency must fit in one
    row of one task; per root the work is O((N + E) * max_hops).
    """
    _, rows = _component_rows(edges, src_col, dst_col, components)
    start = (
        roots.select(F.col(root_col).alias("root"))
        .distinct()
        .join(components, F.col("root") == F.col("id"), "left")
        .join(rows, "comp", "left")
    )

    def step(dist, _):
        return F.transform(
            "_nodes",
            lambda nd, k: F.aggregate(
                nd["ins"], dist[k], lambda m, e: F.least(m, dist[e["i"]] + 1)
            ),
        )

    d0 = F.transform("_nodes", lambda nd: F.when(nd["id"] == F.col("root"), F.lit(0)))
    dist = F.aggregate(F.array_repeat(F.lit(0), int(max_hops)), d0, step)
    reached = F.zip_with(
        "_nodes", dist, lambda nd, d: F.struct(nd["id"].alias("node"), d.alias("hops"))
    )
    # A root in no edge is absent from every component row: hop 0 only.
    found = F.array_contains(F.col("_nodes.id"), F.col("root"))
    alone = F.array(F.struct(F.col("root").alias("node"), F.lit(0).alias("hops")))
    return start.select("root", F.inline(F.when(found, reached).otherwise(alone))).where(
        F.col("hops").isNotNull()
    )


def common_neighbor_stats(
    edges: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
) -> DataFrame:
    """Per-edge common-neighbor count and neighborhood Jaccard
    |N(a)∩N(b)| / |N(a)∪N(b)| over the undirected pair graph — the
    classic link-prediction / edge-strength score: a near-dup pair whose
    endpoints share most of their neighbors sits inside a dense dup
    family (trustworthy edge), while a pair with no shared neighbors is
    a lone bridge between otherwise-unrelated documents — the edge a
    curator inspects before transitively collapsing two clusters.

    N(x) lists the neighbours of x over the distinct input edges taken
    both ways (a pair given as (a,b) and (b,a), or a self loop, lists
    its neighbour twice), so |N(a)∪N(b)| = |N(a)| + |N(b)| − common.
    Each list is collected once and attached to both ends of every edge
    by two equi-joins; common is the multiset intersection size
    Σ_w mult_a(w)·mult_b(w), what a wedge join counts, at deg(a)·deg(b)
    comparisons per edge (a wedge join: deg(a) hash probes). On the 10x
    sf0.1 replica (max degree 39, 4-core host) it ran 1.96 s to the
    checkpointed wedge join's 2.43 s (CHANGES.md); dup cliques far
    larger than that favour the wedge join.

    Returns (id_a, id_b, common_neighbors, neighbor_jaccard) for every
    distinct input edge (zero-common edges included).
    """
    e = edges.select(src_col, dst_col).distinct()
    nbrs = (
        e.select(F.col(src_col).alias("_x"), F.col(dst_col).alias("_y"))
        .union(e.select(F.col(dst_col).alias("_x"), F.col(src_col).alias("_y")))
        .groupBy("_x")
        .agg(F.collect_list("_y").alias("_n"))
    )
    ends = e.join(nbrs.toDF(src_col, "_na"), src_col).join(nbrs.toDF(dst_col, "_nb"), dst_col)
    # Each entry of a's list counts its copies in b's list.
    cn = F.aggregate(
        "_na",
        F.lit(0).cast("bigint"),
        lambda acc, w: acc + F.size(F.filter("_nb", lambda x: x == w)),
    )
    out = ends.select(
        src_col, dst_col, cn.alias("cn"), (F.size("_na") + F.size("_nb")).alias("deg")
    )
    return out.select(
        src_col,
        dst_col,
        F.col("cn").alias("common_neighbors"),
        (
            F.round(F.col("cn").cast("double") / (F.col("deg") - F.col("cn")).cast("double"), 6)
            + F.lit(0.0)
        ).alias("neighbor_jaccard"),
    )


def kmeans_lloyd(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iters: int = 3,
) -> DataFrame:
    """Lloyd's k-means over an embedding column, run for a FIXED number
    of iterations from a deterministic seed draw — the clustering stage
    behind semantic dedup bucketing (SemDeDup-style), IVF coarse
    quantizers, and topic-balanced mixture weights. No RNG anywhere:
    seeds are the ``k`` vectors with the smallest md5 id-hash (the
    engine's one hash, functions/hashing.md5_full_bucket_int), so the
    fit is reproducible on any cluster size and replayable in SQL.

    Cross-engine exactness (the property that lets a DuckDB oracle
    grade an *iterative ML fit* bit-for-bit): every distance is
    accumulated in exact decimals from per-dimension double terms
    ``(v_i − c_i)²`` — decimal addition is exact and associative, so
    neither partition order nor fold-vs-aggregate evaluation can
    perturb the argmin frontier — and every centroid component is
    landed as ``round(double(Σv)/n, 9)``, one IEEE division + one
    decimal rounding, the same expression tree the oracle runs. Ties
    in the argmin break on cluster id; iteration count is a constant,
    so both engines walk the identical trajectory. The oracle's
    exploded SQL (rows × k × dim joins, SUM over DECIMAL(38,12)) and
    this operator's per-row fold produce identical decimals — pinned by
    the oracle parity itself and by an explicit fold-vs-groupBy-sum
    equality test.

    Shape (the 100 TB argument): assignment is a ZERO-shuffle map — the
    k×dim centroid table collapses to ONE broadcast row of k
    (cluster, vector) structs, and each input row takes an
    ``array_min`` over a per-centroid decimal fold (transform +
    aggregate, the blocked-GEMM discipline of operators/similarity).
    Decimal-fold detail: the accumulator is DECIMAL(30,12) with the
    merge result cast back — Spark's p+1 promotion would otherwise clip
    the scale to (38,11) and diverge from SUM; the headroom cast is
    lossless for |d2| < 10^18, and each squared term is cast to
    DECIMAL(37,12) (NULL-overflow only at (v_i−c_i)² ≥ 1e25 — see the
    inline note at the type constants). The only per-iteration shuffle is the
    centroid recompute (a (cluster, dim)-keyed aggregate over the
    posexploded assignment); the input arrays are checkpointed once and
    re-scanned ``iters`` times (Lloyd's unavoidable passes). Empty
    clusters keep their previous centroid (standard Lloyd fix, mirrored
    in SQL with a COALESCE join).

    Returns (id, cluster 1..k, dist2) for the FINAL assignment, dist2
    rounded 6 dp.
    """
    from data_eng_project_spark.functions.hashing import md5_full_bucket_int

    if int(iters) < 1 or int(k) < 1:
        raise ValueError(f"kmeans_lloyd needs iters >= 1 and k >= 1, got {iters=}, {k=}")
    xv = (
        emb.select(
            F.col(id_col).alias("_vid"),
            F.col(vec_col).cast("array<double>").alias("_v"),
        )
        .localCheckpoint()
    )
    seed_ids = (
        xv.select("_vid", md5_full_bucket_int("_vid").alias("_h"))
        .orderBy("_h", "_vid")
        .limit(int(k))
    )
    # k rows: a single-partition window here is dimension-sized by design.
    seed_rank = F.row_number().over(Window.orderBy("_h", "_vid"))
    seeds = seed_ids.select("_vid", seed_rank.alias("_cl"))
    cent = (
        seeds.join(xv, "_vid")
        .select(
            "_cl",
            F.posexplode("_v").alias("_p", "_ci"),
        )
        .select("_cl", (F.col("_p") + 1).cast("int").alias("_i"), "_ci")
        .localCheckpoint()
    )

    # Term precision is (37,12), NOT (38,12): the fold's merge is
    # acc(30,12) + term, and Spark's decimal-addition promotion
    # max(p1-s1, p2-s2) + max(s1,s2) + 1 hits 39 for a (38,12) term,
    # clipping the result scale to 11 dp and silently rounding — while
    # (37,12) lands exactly on (38,12), lossless. 25 integer digits
    # put the per-term overflow→NULL bound at (v_i−c_i)² ≥ 1e25
    # (|v_i−c_i| ≥ ~3.2e12; the previous (20,12) term overflowed at
    # 1e8, within reach of real embedding magnitudes — r5 ADVICE).
    _acc, _term, _out = "decimal(30,12)", "decimal(37,12)", "decimal(38,12)"

    def _one_row_centroids(c: DataFrame) -> DataFrame:
        """k×dim long form → ONE row holding k (cluster, vector) structs,
        ordered by cluster id — the broadcast payload of the assignment."""
        per_cl = c.groupBy("_cl").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_i", "_ci"))),
                lambda s: s["_ci"],
            ).alias("_c")
        )
        return per_cl.groupBy().agg(
            F.array_sort(F.collect_list(F.struct("_cl", "_c"))).alias("_cents")
        )

    def _d2(v, c):
        return F.aggregate(
            F.zip_with(v, c, lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast(_acc),
            lambda acc, t: (acc + t.cast(_term)).cast(_acc),
        ).cast(_out)

    assign = None
    for _t in range(int(iters)):
        scored = xv.crossJoin(F.broadcast(_one_row_centroids(cent))).select(
            "_vid",
            F.array_min(
                F.transform(
                    "_cents",
                    lambda s: F.struct(
                        _d2(F.col("_v"), s["_c"]).alias("_d2"),
                        s["_cl"].alias("_cl"),
                    ),
                )
            ).alias("_best"),
        )
        assign = scored.select(
            "_vid", F.col("_best._cl").alias("_cl"), F.col("_best._d2").alias("_d2")
        )
        if _t == int(iters) - 1:
            break
        means = (
            assign.join(xv, "_vid")
            .select("_cl", F.posexplode("_v").alias("_p", "_vi"))
            .select("_cl", (F.col("_p") + 1).cast("int").alias("_i"), "_vi")
            .groupBy("_cl", "_i")
            .agg(
                F.round(
                    F.sum(F.col("_vi").cast(_out)).cast("double")
                    / F.count(F.lit(1)),
                    9,
                ).alias("_cm")
            )
        )
        cent = (
            cent.join(means, ["_cl", "_i"], "left")
            .select("_cl", "_i", F.coalesce("_cm", "_ci").alias("_ci"))
            .localCheckpoint(eager=False)
        )
    return assign.select(
        F.col("_vid").alias("id"),
        F.col("_cl").cast("int").alias("cluster"),
        (F.round(F.col("_d2").cast("double"), 6) + F.lit(0.0)).alias("dist2"),
    )
