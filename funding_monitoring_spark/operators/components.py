"""Connected components over near-duplicate pair graphs → dedup
clusters with a canonical document per cluster.

Pairwise near-dup detection (MinHash-LSH / SimHash / embedding cosine,
operators/dedup.py, operators/similarity.py) yields EDGES; an actual
curation pipeline must then keep ONE document per transitive duplicate
*cluster* (A~B, B~C ⇒ drop two of {A,B,C} even if A~C was never
emitted). That transitive closure is connected components.

Algorithm: iterative hash-min label propagation — every node starts
labeled with its own id; each round, every node takes the min label
among itself and its neighbors; converged when no label changes. This
is the standard MapReduce-style CC (cf. Kiveris et al., "Connected
Components in MapReduce and Beyond", SoCC'14 — hash-min variant):
each round is ONE equi-join (edges ⋈ labels on the src key) plus ONE
min-aggregate on the node key, both plain shuffles on node ids.
Rounds needed = graph diameter; near-dup clusters are shallow (dozens
of docs, diameter ≤ a handful), so 3-5 rounds close real corpora.

Scale properties:
- only (node_id, label) pairs ever shuffle — never text, never
  signatures;
- lineage is truncated every round with localCheckpoint (an iterative
  algorithm otherwise builds an exponentially deep plan);
- convergence is detected with a count of changed labels (one cheap
  action per round over the label frame);
- the hot loop is DataFrame-only: at 1000 executors each round is an
  AQE-planned shuffle join, no driver-side data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

DEFAULT_MAX_ITER = 20


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = DEFAULT_MAX_ITER,
) -> DataFrame:
    """(id, cluster_id) for every node appearing in ``pairs``, where
    cluster_id is the minimum node id in the node's connected
    component. Raises if max_iter rounds don't converge (a dup graph
    with diameter > max_iter means the banding is catastrophically
    under-selective — fail loudly, don't emit wrong clusters)."""
    # Symmetrize in ONE pass over `pairs` (guide §2.4): Catalyst has
    # no subplan reuse across a self-union, so the old
    # pairs.union(pairs.swapped) evaluated the ENTIRE upstream pair
    # pipeline twice — for the dedup-cluster queries that pipeline is
    # the full LSH band-and-verify pass. A map-side explode of the
    # two orientations emits the same rows from a single scan.
    edges = (
        pairs.select(
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
        .persist()
    )
    try:
        labels = (
            edges.select(F.col("u").alias("id"))
            .distinct()
            .withColumn("label", F.col("id"))
            .localCheckpoint()
        )
        for _ in range(max_iter):
            # Convergence probe WITHOUT a per-round join (guide §2.4 —
            # remove shuffles outright): the labels frame contributes
            # its current label twice, once as a min() candidate and
            # once tagged as `old`; neighbors carry old = NULL. After
            # the groupBy, old is each node's previous label (every id
            # has exactly one labels row), so "any label changed" is a
            # map-only filter over the checkpointed result — the old
            # probe joined new vs old labels (one extra shuffle of
            # both frames per round).
            neighbor_labels = edges.join(
                labels.withColumnRenamed("id", "u"), "u"
            ).select(
                F.col("v").alias("id"),
                "label",
                F.lit(None).cast(labels.schema["label"].dataType).alias(
                    "old"
                ),
            )
            new_labels = (
                labels.select("id", "label", F.col("label").alias("old"))
                .union(neighbor_labels)
                .groupBy("id")
                .agg(
                    F.min("label").alias("label"),
                    F.max("old").alias("old"),
                )
                .localCheckpoint()
            )
            changed = (
                new_labels.filter(F.col("label") != F.col("old"))
                .limit(1)
                .count()
            )
            labels = new_labels.select("id", "label")
            if changed == 0:
                break
        else:
            raise RuntimeError(
                f"connected_components: no convergence in {max_iter} rounds"
            )
    finally:
        # release the cached edge frame on success AND on the
        # non-convergence raise — a leaked persist would pin the edge
        # set in storage memory for the session's lifetime
        edges.unpersist()
    return labels.select("id", F.col("label").alias("cluster_id"))


def _sym_dup(e: DataFrame) -> DataFrame:
    """Both orientations of every edge from ONE map-side pass (no
    self-union — Catalyst would evaluate `e` twice — and NO distinct:
    every consumer here is a min-aggregate or feeds a later distinct,
    both duplicate-insensitive, so the dedup shuffle is pure waste)."""
    return e.select(
        F.explode(
            F.array(
                F.struct(F.col("u"), F.col("v")),
                F.struct(F.col("v").alias("u"), F.col("u").alias("v")),
            )
        ).alias("e")
    ).select("e.u", "e.v")


def _large_star(e: DataFrame) -> DataFrame:
    """One large-star round (Kiveris et al., Algorithm 2): every node
    connects its strictly-larger neighbors to the minimum of its
    closed neighborhood."""
    sym = _sym_dup(e)
    m = sym.groupBy("u").agg(F.min("v").alias("__mn")).select(
        "u", F.least("__mn", "u").alias("__m")
    )
    return (
        sym.join(m, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("__m").alias("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """One small-star round (Kiveris et al., Algorithm 3): edges are
    oriented large→small, then every node connects its (smaller)
    neighbors and itself to the neighborhood minimum."""
    # No .distinct() on the orientation pass (min-aggregate and the
    # final distinct are duplicate-insensitive — see _sym_dup), and
    # the old `union(m)` — which recomputed the whole m aggregate a
    # second time — is folded into a two-orientation explode of the
    # join row: (v → m) plus (u → m); every u of `o` appears in ≥ 1
    # join row, so the emitted set is identical after the distinct.
    o = e.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).filter(F.col("u") != F.col("v"))
    m = o.groupBy("u").agg(F.min("v").alias("__m"))
    return (
        o.join(m, "u")
        .select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("v").alias("u"), F.col("__m").alias("v")
                    ),
                    F.struct(F.col("u"), F.col("__m").alias("v")),
                )
            ).alias("e")
        )
        .select("e.u", "e.v")
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def connected_components_star(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 30,
) -> DataFrame:
    """Alternating large-star/small-star connected components (Kiveris
    et al., "Connected Components in MapReduce and Beyond", SoCC'14 —
    the two-phase variant the hash-min docstring cites): same (id,
    cluster_id = component-min) contract as `connected_components`,
    but convergence is O(log² n) ROUNDS INDEPENDENT OF DIAMETER — the
    fallback for adversarial chain-shaped graphs, where hash-min needs
    diameter rounds and is capped at max_iter=20 by design.

    Per round: two groupBy-min aggregates and two equi-joins, all on
    (node, node) pairs — the same only-ids-shuffle property as
    hash-min, with a constant-factor-larger round cost (edge set
    rewrites, not just labels). Prefer hash-min for shallow dup
    graphs; use this when hash-min fails loudly. At the fixpoint the
    edge set IS the star forest (every non-minimum points at its
    component minimum), so labels fall out of the final edges without
    a closing traversal."""
    e = (
        pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    nodes = (
        e.select(F.explode(F.array("u", "v")).alias("id"))
        .distinct()
        .localCheckpoint()
    )
    n_e = e.count()
    for _ in range(max_iter):
        e2 = _small_star(_large_star(e)).localCheckpoint()
        # set-equality with ONE subtract instead of two (guide §2.4):
        # both frames are .distinct() outputs, so |e2| = |e| together
        # with e2 ⊆ e (empty subtract) implies e2 = e; the counts are
        # map-only jobs over the checkpointed frames, and when the
        # counts already differ the subtract shuffle is skipped
        # entirely.
        n_e2 = e2.count()
        changed = (
            1
            if n_e2 != n_e
            else e2.subtract(e).limit(1).count()
        )
        e, n_e = e2, n_e2
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components_star: no convergence in {max_iter} "
            "rounds"
        )
    stars = e.groupBy("u").agg(F.min("v").alias("label")).select(
        F.col("u").alias("id"), "label"
    )
    return nodes.join(stars, "id", "left").select(
        "id", F.coalesce("label", "id").alias("cluster_id")
    )


def dedup_cluster_assignment(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = DEFAULT_MAX_ITER,
    method: str = "hash_min",
) -> DataFrame:
    """Every document mapped to its dup-cluster canonical: documents in
    no pair are their own singleton cluster; ``is_canonical`` marks the
    one row per cluster a curation pipeline keeps (min doc_id — the
    deterministic survivor rule). The join back to ``df`` is on the
    slim (id, cluster_id) frame — broadcastable whenever the dup-pair
    population is small relative to the corpus, which is the common
    case. method: "hash_min" (default, rounds = diameter) or "star"
    (alternating large/small-star, diameter-independent)."""
    cc = {
        "hash_min": connected_components,
        "star": connected_components_star,
    }[method]
    comp = cc(pairs, src, dst, max_iter)
    out = df.join(
        comp.withColumnRenamed("id", id_col), id_col, "left"
    ).withColumn(
        "cluster_id", F.coalesce(F.col("cluster_id"), F.col(id_col))
    )
    return out.withColumn(
        "is_canonical", (F.col(id_col) == F.col("cluster_id"))
    )


def pagerank_fixed(
    edges: DataFrame,
    iterations: int = 3,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    checkpoint_every: int = 5,
    broadcast_ranks: bool = False,
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge list (node, rank)
    — the second iterative-algorithm surface next to
    connected_components, with exactly reproducible semantics: a FIXED
    number of power iterations from the uniform vector, so an unrolled
    SQL oracle can verify every value (see suites/graph_suite.py).

    The caller must pass a graph with no dangling nodes (every node
    reachable as dst also appears as src — e.g. a symmetrized
    undirected graph); dangling-mass redistribution is intentionally
    out of scope so the oracle stays a pure 2-join unroll.

    Scale shape per iteration: one edges⋈ranks equi-join on src
    (degree rides the pre-built edge frame), one sum-aggregate on dst
    — only (node, double) pairs shuffle, never the edge payload. The
    degree-carrying edge frame and the node universe are
    localCheckpoint'ed once up front; rank lineage is truncated every
    `checkpoint_every` rounds (each mid-loop checkpoint costs a full
    materialization job, so a short fixed-iteration run stays a single
    Catalyst plan). The node count is a scalar one-job aggregate, not
    a data collect.
    """
    # The (src, dst, deg) frame is reused every iteration: truncate
    # its (possibly deep) upstream lineage ONCE. Mid-loop rank
    # checkpoints, by contrast, each cost a full materialization job,
    # so they happen only every `checkpoint_every` rounds — a short
    # fixed-iteration run is a single Catalyst plan / single job.
    #
    # Degree is a window count over the src partition (guide §2.4:
    # two operations keyed the same way share one exchange): the old
    # shape checkpointed the bare edge list, then paid a groupBy +
    # join-back and a SECOND checkpoint to attach deg — two full
    # edge-frame materializations and an extra exchange for the same
    # (src, dst, deg) rows. Per-src row mass through the window
    # equals the old join shuffle's, so no new skew bound.
    e_deg = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .withColumn(
            "deg", F.count(F.lit(1)).over(Window.partitionBy("src"))
        )
        .localCheckpoint()
    )
    nodes = (
        e_deg.select(F.explode(F.array("src", "dst")).alias("node"))
        .distinct()
        .localCheckpoint()
    )
    n = nodes.count()
    ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    base = (1.0 - damping) / n
    for it in range(iterations):
        share = ranks.select(
            F.col("node").alias("share_node"),
            F.col("rank").alias("share_rank"),
        )
        if broadcast_ranks:
            # ranks is node-sized; when the caller's node universe is
            # bounded (dimension-scale graphs), broadcasting it makes
            # the per-iteration edges⋈ranks join shuffle-free (guide
            # §3.1) — the edge list is never exchanged after its
            # up-front checkpoint, only (dst, partial-mass) rows move.
            share = F.broadcast(share)
        contribs = (
            e_deg.join(share, F.col("src") == F.col("share_node"))
            .groupBy("dst")
            .agg(
                F.sum(F.col("share_rank") / F.col("deg")).alias("mass")
            )
        )
        if broadcast_ranks:
            # contribs is at most node-sized (one row per dst), so the
            # same bounded-universe justification broadcasts it into
            # the left join — without the hint the lazy plan has no
            # statistics and Catalyst falls back to a SortMergeJoin
            # that shuffles BOTH node-sized frames per iteration
            # (census: 3 SMJs on the 3-iteration trading graph).
            contribs = F.broadcast(contribs)
        ranks = nodes.join(
            contribs, nodes["node"] == contribs["dst"], "left"
        ).select(
            "node",
            (
                F.lit(base)
                + F.lit(damping) * F.coalesce("mass", F.lit(0.0))
            ).alias("rank"),
        )
        if (it + 1) % checkpoint_every == 0 and (it + 1) < iterations:
            ranks = ranks.localCheckpoint()
    return ranks


def kcore_decomposition(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 30,
) -> DataFrame:
    """Nodes of the k-core — the maximal subgraph in which every node
    has degree >= k — with each survivor's within-core degree:
    (node, core_deg). The third iterative-graph surface next to
    connected_components and pagerank_fixed, and the standard
    community/spam-structure filter over co-interaction graphs.

    Algorithm: synchronous peeling. Start from the symmetrized,
    self-loop-free, deduplicated edge set; each round delete EVERY
    node whose current degree is < k (simultaneously), cascade until
    a round deletes nothing. Synchronous rounds reach the same unique
    fixpoint as one-at-a-time peeling (the k-core is the unique
    maximal such subgraph), and a FIXED unrolled round count makes
    the SQL oracle exact: extra rounds past convergence delete
    nothing on either engine (see suites/graph_suite.py).

    Scale shape per round: one degree aggregate on the node key and
    two left-anti joins of the edge list against the doomed-node set
    — only (node, node) pairs ever shuffle; lineage truncated per
    round with localCheckpoint; convergence is one scalar count per
    round, no driver-side data. Raises if the cascade has not
    converged within ``max_rounds`` (diameter-long chains can cascade
    one layer per round — bound it deliberately for such graphs)."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    # one-pass symmetrization (guide §2.4): the old self-union
    # evaluated the caller's edge pipeline twice (for the trading
    # graph that is the joint-lineitem HAVING aggregate)
    sym = (
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
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    alive = sym
    for _ in range(max_rounds):
        deg = alive.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
        doomed = deg.filter(F.col("deg") < k).select("u")
        if doomed.isEmpty():
            return deg.select(
                F.col("u").alias("node"),
                F.col("deg").cast("bigint").alias("core_deg"),
            )
        alive = (
            alive.join(doomed, "u", "left_anti")
            .join(
                doomed.select(F.col("u").alias("v")), "v", "left_anti"
            )
            .select("u", "v")
            .localCheckpoint()
        )
    raise ValueError(
        f"k-core peeling did not converge within {max_rounds} rounds "
        "— a diameter-long cascade; raise max_rounds deliberately"
    )
