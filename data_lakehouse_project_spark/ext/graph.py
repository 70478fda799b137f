"""Graph operators: connected components over similarity edges.

Near-dup detection emits PAIRS; deduplication needs GROUPS — the
transitive closure of the pair graph (a~b, b~c ⇒ {a,b,c} share one
surviving representative). This is the iterative step of every fuzzy
dedup pipeline (and the part that is genuinely not single-pass SQL).

Implementation: min-label propagation. Each node starts labeled with its
own id; every round each node takes the min label in its neighborhood;
converges in O(component diameter) rounds. Per round: one join + one
aggregate (two shuffles); lineage is cut with localCheckpoint every few
rounds so plans don't grow unboundedly — the standard Spark iterative
pattern. Near-dup graphs have tiny diameters (dup clusters are
near-cliques), so 5-10 rounds cover real corpora.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_lakehouse_project_spark.cacheutil import (
    free_local_checkpoint,
    release_on_gc,
)


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 15,
    checkpoint_every: int = 2,
) -> DataFrame:
    """(node, cluster_id) for every node in ``edges``; cluster_id is the
    min node id reachable through the undirected edge set.

    Cache hygiene (r5): superseded round checkpoints are freed as soon
    as the next one materializes (they accumulated for the life of the
    session before), and the edge set is freed once the final labels
    are checkpointed. That FINAL checkpoint is the one deliberate
    survivor — the result reads it and freeing a checkpoint is
    unrecoverable — so a call retains at most one small (node, label)
    table instead of edges + every round."""
    # checkpoint, not persist: the edge set feeds every propagation
    # round, and a persisted frame keeps its upstream lineage (LSH ->
    # dedup -> filters), which every round's eager job re-plans from
    # scratch — measured 50 s + 24 s + 19 s + 7 s of planning on 21k
    # pairs. Both orientations come from ONE explode over a single
    # scan — a union-of-swapped formulation traverses the upstream
    # edge plan twice.
    und = (
        edges.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col(src).alias("u"), F.col(dst).alias("v")
                    ),
                    F.struct(
                        F.col(dst).alias("u"), F.col(src).alias("v")
                    ),
                )
            ).alias("e")
        )
        .select("e.u", "e.v")
        .distinct()
        .localCheckpoint(eager=True)
    )

    labels = (
        und.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )

    prev_ckpt = None
    for i in range(max_iter):
        # candidate labels: my own + the labels of my neighbors
        neighbor_labels = (
            und.join(labels, und.v == labels.node)
            .select(F.col("u").alias("node"), "label")
        )
        new_labels = (
            labels.select("node", "label")
            .union(neighbor_labels)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
        )
        if (i + 1) % checkpoint_every == 0:
            new_labels = new_labels.localCheckpoint(eager=True)
            changed = (
                new_labels.alias("n")
                .join(labels.alias("o"), "node")
                .where(F.col("n.label") != F.col("o.label"))
                .limit(1)
                .count()
            )
            labels = new_labels
            # the changed-count was the last reader of the previous
            # checkpoint — free its blocks now
            if prev_ckpt is not None:
                free_local_checkpoint(prev_ckpt)
            prev_ckpt = new_labels
            if changed == 0:
                break
        else:
            labels = new_labels

    if labels is not prev_ckpt:  # max_iter ended on an unchecked round
        labels = labels.localCheckpoint(eager=True)
        if prev_ckpt is not None:
            free_local_checkpoint(prev_ckpt)
    # the checkpointed labels never read the edge set again
    free_local_checkpoint(und)
    return labels.select("node", F.col("label").alias("cluster_id"))


def dedup_clusters(
    all_ids: DataFrame,
    pairs: DataFrame,
    id_col: str,
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Full dedup assignment: every document mapped to its cluster id
    (transitive closure of near-dup pairs; untouched docs are their own
    singleton cluster). Keep one doc per cluster_id to deduplicate."""
    cc = connected_components(pairs, src, dst)
    return (
        all_ids.select(F.col(id_col).alias("node"))
        .join(cc, "node", "left")
        .select(
            F.col("node").alias(id_col),
            F.coalesce("cluster_id", F.col("node")).alias("cluster_id"),
        )
    )


def canonical_representatives(
    clusters: DataFrame,
    scores: DataFrame,
    id_col: str = "doc_id",
    cluster_col: str = "cluster_id",
    score_col: str = "quality_score",
) -> DataFrame:
    """Pick the surviving copy per dup cluster: highest ``score_col``,
    ties broken by smallest id — the "which duplicate do we keep" step
    that closes a curation pipeline (clusters → survivors).

    Returns (cluster_id, keep_id, cluster_size, best_quality) — one row
    per cluster, scalar columns only (oracle-safe grain).

    Scale: the scores join shuffles on the id; the ranking is a single
    window shuffle on cluster_id. Cluster cardinality ≈ doc count, so no
    partition ever holds more than one cluster's members — skew equals
    the largest dup cluster, which near-dup graphs keep small.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(cluster_col)
    ranked = clusters.join(scores, id_col).select(
        cluster_col,
        F.col(id_col),
        F.col(score_col),
        F.row_number()
        .over(w.orderBy(F.col(score_col).desc(), F.col(id_col).asc()))
        .alias("rn"),
        F.count(F.lit(1)).over(w).alias("cluster_size"),
    )
    return ranked.where(F.col("rn") == 1).select(
        F.col(cluster_col),
        F.col(id_col).alias("keep_id"),
        F.col("cluster_size"),
        F.col(score_col).alias("best_quality"),
    )


def pagerank(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    iterations: int = 5,
    damping: float = 0.85,
    undirected: bool = True,
    checkpoint_every: int = 3,
    round_to: int = 6,
    small_graph: int = 0,
) -> DataFrame:
    """PageRank over an edge set — the centrality-importance signal a
    curation pipeline weights documents by (Common-Crawl-style link/
    similarity centrality; hub docs in a near-dup graph are boilerplate,
    high-centrality docs in a citation graph are canonical).

    GraphX convention (no global N needed): rank0 = 1.0, then
    rank = (1 - d) + d * Σ_in rank_src / outdeg_src — ranks sum to ~N,
    dangling-node mass decays (same as GraphX; document, don't hide).
    Fixed ``iterations`` keeps the op deterministic and ORACLE-ABLE as
    unrolled SQL; near-dup and citation graphs reach useful orderings
    in ~5 rounds.

    Scale shape per round: one shuffle join (ranks ⋈ edges on src) +
    one aggregate on dst — identical to connected_components' round
    cost, with the same lineage hygiene: localCheckpoint every
    ``checkpoint_every`` rounds, superseded checkpoints freed
    immediately (cacheutil), edge set + outdegree persisted for the
    loop and released with the result.

    ``small_graph`` (same contract as ``curation.mmr_select``'s
    small-pool fast path): when the DISTINCT edge count is at most
    this bound, the loop runs vectorized on the driver (one collect,
    numpy bincount rounds, one parallelize back) instead of paying
    2 shuffles × ``iterations`` of job-scheduling floor.  Near-dup
    centrality edges at representative grain are SUBLINEAR in corpus
    size (measured: 29k edges over 5k docs at sf0.1, 2.7× at 10×
    docs), so a few-million-edge bound covers very large corpora —
    and past it the distributed loop engages unchanged.  0 disables.
    Parity of the two paths is CI-pinned (identical node sets, ranks
    equal at the output rounding).
    """
    if undirected:
        # one explode, one scan of the (possibly expensive) edge plan —
        # see connected_components for why not union-of-swapped
        e = edges.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col(src).alias("src"), F.col(dst).alias("dst")
                    ),
                    F.struct(
                        F.col(dst).alias("src"), F.col(src).alias("dst")
                    ),
                )
            ).alias("e")
        ).select("e.src", "e.dst")
    else:
        e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    e = e.distinct().persist()
    if small_graph and e.count() <= small_graph:
        out = _pagerank_driver(
            e, iterations, damping, round_to
        )
        e.unpersist(False)
        return out
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    # weight each edge once: rank flowing over (src -> dst) is
    # rank_src / outdeg_src; precomputing the reciprocal keeps the
    # per-round join payload to (src, dst, inv) with no re-aggregation
    weighted = (
        e.join(outdeg, "src")
        .select("src", "dst", (F.lit(1.0) / F.col("outdeg")).alias("inv"))
        .persist()
    )
    # both endpoints: a directed sink (no out-edges) still holds rank.
    # Persisted: every iteration's dangling-mass left join re-reads it,
    # and without the cache each round re-runs the union+distinct
    # shuffle over the edge set.
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )
    ranks = nodes.withColumn("rank", F.lit(1.0))

    prev_ckpt = None
    for i in range(iterations):
        contribs = (
            weighted.join(ranks, weighted.src == ranks.node)
            .groupBy("dst")
            .agg(F.sum(F.col("rank") * F.col("inv")).alias("mass"))
        )
        ranks = (
            nodes.join(contribs, nodes.node == contribs.dst, "left")
            .select(
                "node",
                (
                    F.lit(1.0 - damping)
                    + F.lit(damping) * F.coalesce("mass", F.lit(0.0))
                ).alias("rank"),
            )
        )
        if (i + 1) % checkpoint_every == 0 or i == iterations - 1:
            ranks = ranks.localCheckpoint(eager=True)
            if prev_ckpt is not None:
                free_local_checkpoint(prev_ckpt)
            prev_ckpt = ranks

    scale = float(10**round_to)
    out = ranks.select(
        "node",
        (F.floor(F.col("rank") * scale + F.lit(0.5)).cast("double") / scale)
        .alias("rank"),
    )
    e.unpersist(False)
    return release_on_gc(out, weighted, nodes)


def _pagerank_driver(
    e: DataFrame, iterations: int, damping: float, round_to: int
) -> DataFrame:
    """Vectorized small-graph rounds: same GraphX convention as the
    distributed loop (rank0 = 1, rank = (1-d) + d·Σ rank_src/outdeg,
    dangling mass decays).  One arrow collect, ``np.bincount`` per
    round (no Python per-edge work), one createDataFrame back — the
    node id column keeps its INPUT type."""
    import numpy as np
    import pandas as pd

    pdf = e.toPandas()
    codes_s, uniq = pd.factorize(
        pd.concat([pdf["src"], pdf["dst"]], ignore_index=True)
    )
    n = len(uniq)
    m = len(pdf)
    src = codes_s[:m].astype(np.int64)
    dst = codes_s[m:].astype(np.int64)
    outdeg = np.bincount(src, minlength=n).astype(np.float64)
    inv = np.zeros(n)
    nz = outdeg > 0
    inv[nz] = 1.0 / outdeg[nz]
    ranks = np.ones(n, dtype=np.float64)
    for _ in range(iterations):
        mass = np.bincount(
            dst, weights=ranks[src] * inv[src], minlength=n
        )
        ranks = (1.0 - damping) + damping * mass
    scale = float(10**round_to)
    ranks = np.floor(ranks * scale + 0.5) / scale
    out_pdf = pd.DataFrame({"node": uniq, "rank": ranks})
    node_t = e.schema["src"].dataType.simpleString()
    return e.sparkSession.createDataFrame(
        out_pdf, schema=f"node {node_t}, rank double"
    )


def triangle_stats(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    round_to: int = 6,
) -> DataFrame:
    """Per-node triangle count and local clustering coefficient over an
    undirected edge set — the graph-QA companion to
    :func:`connected_components` and :func:`pagerank`: a near-dup graph
    whose nodes sit in closed triangles is clique-like (true duplicate
    families); high degree with near-zero coefficient marks hub/chain
    artifacts (shared boilerplate stitching unrelated docs together).

    Returns (node, degree, n_triangles, clustering_coeff) for every
    node incident to at least one edge; coeff = 2T / (d·(d-1)), 0 when
    d < 2, floor-rounded at ``round_to`` so oracles match bit-for-bit.

    Scale: the compact-forward convention — edges normalized to a < b,
    each triangle {x<y<z} found exactly once by joining the two edges
    that share the smallest node ((x,y) ⋈ (x,z), y < z) and probing for
    the closing edge (y,z). Both joins are equi-joins; the wedge
    candidate bound is the classic Σ_x deg(x)², and no triangle is
    counted from more than one orientation, so there is no /3 fixup
    and no duplicate pass.
    """
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
        .persist()
    )
    deg = (
        e.select(F.col("a").alias("node"))
        .unionAll(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    tri = (
        e1.join(
            e2,
            (F.col("e2.a") == F.col("e1.a"))
            & (F.col("e2.b") > F.col("e1.b")),
        )
        .join(
            e3,
            (F.col("e3.a") == F.col("e1.b"))
            & (F.col("e3.b") == F.col("e2.b")),
        )
        .select(
            F.col("e1.a").alias("x"),
            F.col("e1.b").alias("y"),
            F.col("e2.b").alias("z"),
        )
    )
    tcnt = (
        tri.select(F.col("x").alias("node"))
        .unionAll(tri.select(F.col("y").alias("node")))
        .unionAll(tri.select(F.col("z").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    scale = float(10**round_to)
    t = F.coalesce("n_triangles", F.lit(0)).cast("long")
    coeff = F.when(
        F.col("degree") >= 2,
        F.lit(2.0) * t / (F.col("degree") * (F.col("degree") - F.lit(1.0))),
    ).otherwise(F.lit(0.0))
    out = deg.join(tcnt, "node", "left").select(
        "node",
        F.col("degree").cast("long").alias("degree"),
        t.alias("n_triangles"),
        (F.floor(coeff * scale + F.lit(0.5)).cast("double") / scale).alias(
            "clustering_coeff"
        ),
    )
    return release_on_gc(out, e)


def label_propagation(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    iterations: int = 5,
    checkpoint_every: int = 3,
) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan
    2007) over an undirected edge set: every node starts labeled with
    its own id; each round it adopts its neighbors' most frequent
    label, ties broken to the SMALLEST label — fully deterministic
    (classic async LPA is run-order-dependent; the synchronous +
    min-tie variant trades a little convergence speed for
    reproducibility, which the oracle/pytest story requires).

    Scale per round: one join (labels ⋈ edges) + two aggregates
    ((dst, label) counts, then per-dst argmax) — all map-side-combined
    shuffles on node keys, same round cost as pagerank; localCheckpoint
    cadence + eager free keeps lineage and pinned blocks flat.

    Communities are coarser than connected components only in the
    sense that LPA can SPLIT a weakly-bridged component; it never
    merges disconnected ones. Returns (node, label).
    """
    e = edges.select(
        F.explode(
            F.array(
                F.struct(F.col(src).alias("src"), F.col(dst).alias("dst")),
                F.struct(F.col(dst).alias("src"), F.col(src).alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst").distinct().persist()

    labels = (
        e.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    prev_ckpt = None
    for i in range(iterations):
        neigh = (
            e.join(labels, e.src == labels.node)
            .groupBy(F.col("dst"), F.col("label"))
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        # argmax cnt, tie → smallest label: lexicographic struct max on
        # (cnt, -label)
        best = (
            neigh.groupBy("dst")
            .agg(
                F.max(
                    F.struct(F.col("cnt"), (-F.col("label")).alias("nl"))
                ).alias("_b")
            )
            .select(
                F.col("dst").alias("node"), (-F.col("_b.nl")).alias("label")
            )
        )
        labels = best
        if (i + 1) % checkpoint_every == 0 or i == iterations - 1:
            labels = labels.localCheckpoint(eager=True)
            if prev_ckpt is not None:
                free_local_checkpoint(prev_ckpt)
            prev_ckpt = labels

    out = labels.select("node", "label")
    e.unpersist(False)
    return out
