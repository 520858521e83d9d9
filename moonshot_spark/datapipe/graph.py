"""Distributed connected components for duplicate-cluster resolution.

Pairwise near-dup detection (``dedup.lsh_candidate_pairs`` →
``dedup.ngram_jaccard_pairs``) yields *edges*; real corpus dedup needs
*clusters*: if A~B and B~C, all three are one duplicate group even when
A~C was never emitted as a pair.  The reference has no counterpart (it is
a single-node pandas engine with no graph ops); this is a beyond-reference
training-data-pipeline operator per the project mandate.

Algorithm: ``connected_components_adaptive`` is the one entry point.
It runs a few rounds of hash-min label propagation — every node starts
as its own component (label = node id) and repeatedly takes the min
label over itself and its neighbors; per round one join (edge ⋈ label)
+ one groupBy(node) min, two shuffles over the EDGE list, never over
the corpus.  A graph that has not reached the fixpoint by then is
contracted onto its partial labels and finished by the O(log n)-round
large-star/small-star algorithm (``connected_components_star``).

Scale notes (100 TB corpus, edges from LSH):

- The edge list is tiny relative to the corpus: duplicate pairs are rare
  by construction (LSH band collision + Jaccard verify).  Both shuffles
  are on the pair set, so the cost per round is proportional to the
  number of duplicate *relationships*, not documents.
- Hash-min converges in O(graph diameter) rounds.  Near-dup clusters are
  almost cliques (every member collides with most others in some LSH
  band), so 2–4 rounds suffice in practice.  Adversarial long-chain
  graphs fall to the alternating large-star/small-star rounds (Kiveris
  et al., "Connected Components in MapReduce and Beyond", SoCC'14)
  without the caller knowing the diameter.
- ``localCheckpoint(eager=True)`` after every round truncates lineage —
  without it the plan doubles per iteration and Catalyst analysis time
  blows up long before the data does.
- The per-round driver action (``count`` of changed labels) is O(1)
  output; iteration control is inherently driver-side for fixpoint
  algorithms (same structure as MLlib's iterative solvers).
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame, functions as F

from moonshot_spark import materialize

#: hash-min rounds connected_components_adaptive runs before it contracts
#: the graph and hands it to the star algorithm: near-clique dedup
#: clusters converge in 2-4
HASHMIN_ROUNDS = 4


def _hash_min(edges: DataFrame, src: str, dst: str,
              max_iter: int) -> tuple[DataFrame, bool]:
    """Hash-min label propagation; returns (labels, converged)."""
    sym = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    sym = sym.union(
        sym.select(F.col("v").alias("u"), F.col("u").alias("v"))).distinct()
    sym = materialize.checkpoint(sym)

    labels = materialize.checkpoint(
        sym.select(F.col("u").alias("node")).distinct()
        .withColumn("comp", F.col("node")))

    converged = False
    for i in range(max_iter):
        nbr_min = (sym.join(labels.withColumnRenamed("node", "v")
                            .withColumnRenamed("comp", "v_comp"), "v")
                   .groupBy("u")
                   .agg(F.min("v_comp").alias("nbr_comp")))
        stepped = materialize.checkpoint(
            labels.join(nbr_min, labels["node"] == nbr_min["u"], "left")
            .select(F.col("node"),
                    F.col("comp").alias("old_comp"),
                    F.least(F.col("comp"),
                            F.coalesce(F.col("nbr_comp"),
                                       F.col("comp"))).alias("comp")))
        labels = stepped.select("node", "comp")
        if i == 0 and max_iter > 1:
            # round 1 cannot converge when any edge has u != v: its
            # larger end's label drops to <= the smaller end's id — so
            # the convergence-probe job is redundant there; skip it
            # (one fewer action per CC run: every job carries the fixed
            # scheduling floor).  An edge set that is empty or holds only
            # self-loops (u == v), which DOES converge at round 1, is
            # detected one round later: same labels, same flag.
            continue
        changed = stepped.where(F.col("comp") != F.col("old_comp")).count()
        if changed == 0:
            converged = True
            break
    return labels, converged


def _large_star(edges: DataFrame) -> DataFrame:
    """One large-star round: every node connects its strictly-larger
    neighbors to its minimum neighbor (min over N(u) ∪ {u}).  Expressed
    as groupBy-min + join — no per-node neighborhood arrays, so a
    celebrity node with 10^8 neighbors is a hot GROUP BY key (handled by
    partial aggregation + AQE), never a 10^8-element array in one task."""
    sym = edges.union(edges.select(F.col("v").alias("u"),
                                   F.col("u").alias("v")))
    mins = (sym.groupBy("u")
            .agg(F.min("v").alias("__mn"))
            .select("u", F.least("u", "__mn").alias("__m")))
    return (sym.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("__m").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct())


def _small_star(edges: DataFrame) -> DataFrame:
    """One small-star round: orient every edge toward the smaller
    endpoint, then connect each node's smaller neighbors (and itself) to
    the minimum of that set."""
    oriented = edges.select(F.greatest("u", "v").alias("u"),
                            F.least("u", "v").alias("v"))
    mins = (oriented.groupBy("u")
            .agg(F.min("v").alias("__m")))
    nbrs = (oriented.join(mins, "u")
            .select(F.col("v").alias("u"), F.col("__m").alias("v")))
    selfs = mins.select("u", F.col("__m").alias("v"))
    return (nbrs.union(selfs)
            .where(F.col("u") != F.col("v"))
            .distinct())


def connected_components_star(edges: DataFrame, src: str = "src",
                              dst: str = "dst",
                              max_iter: int = 25) -> DataFrame:
    """(node, comp) via alternating large-star/small-star (Kiveris et
    al., SoCC'14) — O(log n) rounds on ANY graph topology, vs
    O(diameter) for hash-min.  Same output contract.

    Use this variant when the duplicate graph may contain long chains
    (e.g. transitive near-dup edges at a loose threshold: A~B~C~...~Z
    where only adjacent pairs collide).  ``connected_components_adaptive``
    calls it on the contracted graph once its hash-min prefix stops
    short of the fixpoint.
    """
    e = materialize.checkpoint(
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct())
    nodes = materialize.checkpoint(
        e.select(F.col("u").alias("node"))
        .union(e.select(F.col("v").alias("node")))
        .distinct())
    converged = False
    for _ in range(max_iter):
        e2 = materialize.checkpoint(_small_star(_large_star(e)))
        # converged when the edge set is stable (symmetric difference 0);
        # both directions probed in ONE action (r15: two .count() jobs
        # per round halved to one — each job carries the fixed
        # scheduling floor)
        diff = (e2.exceptAll(e).limit(1)
                .unionAll(e.exceptAll(e2).limit(1)).count())
        e = e2
        if diff == 0:
            converged = True
            break
    if not converged:
        warnings.warn(
            f"connected_components_star did not reach an edge fixpoint in "
            f"{max_iter} rounds; returned components may be split or "
            "contain duplicate (node, comp) rows. Raise max_iter "
            "(O(log n) rounds suffice for any graph).",
            RuntimeWarning, stacklevel=2)
    # at the fixpoint every edge is (member, root); roots map to themselves
    labels = e.select(F.col("u").alias("node"), F.col("v").alias("comp"))
    roots = nodes.join(labels.select(F.col("node").alias("__n")),
                       nodes["node"] == F.col("__n"), "left_anti") \
        .select("node", F.col("node").alias("comp"))
    return labels.union(roots)


def connected_components_adaptive(edges: DataFrame, src: str = "src",
                                  dst: str = "dst",
                                  max_iter: int = 25) -> DataFrame:
    """Topology-adaptive connected components: hash-min for the near-
    clique graphs LSH dedup actually emits (converges in 2–4 cheap
    rounds), automatic fall-back to large/small-star for long-chain
    graphs — without the caller having to know the diameter up front.

    Mechanics: run ``HASHMIN_ROUNDS`` of hash-min.  If that reaches the
    fixpoint (the common case), done.  Otherwise the partial labels are a
    valid partition coarsening, so CONTRACT the graph — map every edge to
    (comp(u), comp(v)), drop loops, dedupe — and finish on the (much
    smaller) contracted graph with the O(log n) star algorithm, then
    compose the two label maps.  Worst case pays 4 cheap rounds of rent;
    the near-clique fast path never touches the star machinery.
    """
    labels, converged = _hash_min(edges, src, dst, HASHMIN_ROUNDS)
    if converged:
        return labels
    lu = labels.select(F.col("node").alias("__u"), F.col("comp").alias("cu"))
    lv = labels.select(F.col("node").alias("__v"), F.col("comp").alias("cv"))
    contracted = (edges
                  .select(F.col(src).alias("__u"), F.col(dst).alias("__v"))
                  .join(lu, "__u").join(lv, "__v")
                  .where(F.col("cu") != F.col("cv"))
                  .select(F.col("cu").alias("u"), F.col("cv").alias("v"))
                  .distinct())
    fin = connected_components_star(contracted, src="u", dst="v",
                                    max_iter=max_iter)
    remap = fin.select(F.col("node").alias("comp"),
                       F.col("comp").alias("__final"))
    return (labels.join(remap, "comp", "left")
            .select("node",
                    F.coalesce("__final", "comp").alias("comp")))


def duplicate_clusters(pairs: DataFrame, src: str = "doc_a",
                       dst: str = "doc_b", id_out: str = "doc_id",
                       max_iter: int = 25) -> DataFrame:
    """Resolve verified near-dup pairs into clusters:
    (id_out, cluster_id, cluster_size), cluster_id = min member id.

    The canonical post-processing of a pair-emitting dedup stage: keep one
    document per cluster_id (e.g. the cluster_id row itself) and drop the
    other cluster_size - 1 members.  Uses the topology-adaptive CC path:
    near-clique graphs resolve in a few hash-min rounds, pathological
    chains fall back to the O(log n) star algorithm automatically.
    """
    from pyspark.sql import Window

    cc = connected_components_adaptive(pairs, src=src, dst=dst,
                                       max_iter=max_iter)
    return (cc.select(F.col("node").alias(id_out),
                      F.col("comp").alias("cluster_id"))
            .withColumn("cluster_size",
                        F.count("*").over(Window.partitionBy("cluster_id"))))


def label_propagation(edges: DataFrame, rounds: int = 3,
                      src: str = "src", dst: str = "dst",
                      symmetric: bool = False) -> DataFrame:
    """Synchronous label-propagation community detection (Raghavan et
    al. 2007, the near-linear-time LPA): every node starts as its own
    label; each round a node adopts its neighbors' most frequent label,
    ties broken by the SMALLEST label id — fully deterministic (classic
    LPA breaks ties randomly; the pinned tie-break makes the run
    replayable on any engine, at the cost of the known LPA bias toward
    small ids, which is fine for a dedup/segmentation primitive).

    ``edges`` is treated as UNDIRECTED: it is symmetrized internally
    (union with reversed copies), so an asymmetric edge list no longer
    silently drops dst-only nodes (ADVICE r7).  For an already-symmetric
    input this doubles every (node, label) count UNIFORMLY, which cannot
    change the (count desc, label asc) argmax — labels, communities and
    sizes are identical to the pre-symmetrized run.  Returns
    (node, community, community_size) after ``rounds`` synchronous
    updates; community = the final label.

    Scale shape: each round is one shuffle-join of the edge list with
    the label table (both keyed by node id) + one (node, label) count
    + one per-node top-1 window — all integer operations, no floats, no
    driver state.  The edge list is localCheckpoint-ed once so round k
    doesn't re-run the edge construction lineage k times.  Rounds are
    fixed (LPA converges in ~5 rounds on social-like graphs); at 100 TB
    the per-round cost is linear in |E| with AQE free to pick the join
    strategy per round.
    """
    from pyspark.sql import Window

    fwd = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    if symmetric:
        # caller guarantees the input already contains both directions
        # of every edge (e.g. _copurchase_edges emits pairs UNION
        # reversed pairs).  Re-symmetrizing would double every
        # (node, label) count UNIFORMLY — provably argmax-neutral (see
        # below) but it also doubles the checkpointed edge list and
        # every round's join/aggregate volume for nothing (r14).
        edges = materialize.checkpoint(fwd)
    else:
        rev = edges.select(F.col(dst).alias("src"), F.col(src).alias("dst"))
        edges = materialize.checkpoint(fwd.unionByName(rev))
    labels = (edges.select(F.col("src").alias("node")).distinct()
              .withColumn("label", F.col("node")))
    for _ in range(rounds):
        nb = (edges.join(labels, edges.dst == labels.node)
              .select(F.col("src").alias("node"), "label"))
        cnt = nb.groupBy("node", "label").agg(F.count("*").alias("c"))
        # top-1 as a min_by AGGREGATE, not a per-node window: the
        # (-count, label) struct key makes min_by exactly the
        # (count desc, label asc) argmax, and the partial aggregate
        # combines map-side — a hub node's label votes never buffer in
        # one window task (r8)
        labels = cnt.groupBy("node").agg(
            F.min_by("label", F.struct((-F.col("c")).alias("nc"),
                                       F.col("label"))).alias("label"))
    return (labels
            .select(F.col("node"), F.col("label").alias("community"))
            .withColumn("community_size",
                        F.count("*").over(
                            Window.partitionBy("community"))))


def incremental_components(prior: DataFrame, new_edges: DataFrame,
                           src: str = "src", dst: str = "dst",
                           max_iter: int = 25) -> DataFrame:
    """Incremental connected components: fold a batch of NEW edges into a
    PRIOR (node, comp) cluster map without re-reading historical edges —
    the cluster-resolution half of the incremental dedup story
    (datapipe/incremental_dedup.py emits the incremental pairs).

    Correctness algebra: each prior component is contracted to its STAR
    (member → comp edges).  CC over (star edges ∪ new edges) equals CC
    over (all historical edges ∪ new edges): the star preserves exactly
    the connectivity of its component, and with min-id labels the star
    center IS the component min, so merged clusters land on the global
    min id — the incremental map is IDENTICAL to a full recompute, not
    just isomorphic.  Prior singletons (node == comp, untouched by the
    batch) carry no star edge; they are re-admitted by an anti-join.

    Scale: the star table is |prior nodes| rows and the CC rounds run on
    (star ∪ batch) — proportional to corpus dup-structure + batch, never
    to historical EDGES (which can be a large multiple of nodes for
    clique-ish duplicate groups).  Uses the topology-adaptive CC."""
    star = (prior.select(F.col("node").alias(src),
                         F.col("comp").alias(dst))
            .where(F.col(src) != F.col(dst)))
    edges = star.unionByName(new_edges.select(F.col(src), F.col(dst)))
    labels = connected_components_adaptive(edges, src=src, dst=dst,
                                           max_iter=max_iter)
    untouched = prior.join(labels, "node", "left_anti") \
        .select("node", "comp")
    return labels.unionByName(untouched)
