"""Distributed graph connectivity for near-duplicate clustering.

Near-dup detection (Jaccard / MinHash / SimHash / cosine) emits an
EDGE LIST of similar pairs; turning pairs into keep/drop decisions
needs the connected components of that graph so that transitive
duplicates (A~B, B~C but not A~C) land in one cluster with one
canonical survivor.

Beyond-reference surface (no graph operator exists in the reference;
SURVEY.md §7 phase 6 north star). Spark-first design: pure DataFrame
joins + partial-aggregating groupBy — no driver-side adjacency, no
RDDs, no collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pagerank_fixed_point(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    cnt: str = "cnt",
    nodes: DataFrame | None = None,
    iterations: int = 3,
    damping_pct: int = 85,
    scale: int = 10**12,
    checkpoint_every: int = 4,
) -> DataFrame:
    """Weighted PageRank in pure fixed-point integer arithmetic.

    ``edges`` is a weighted edge list ``(src, dst, cnt)`` (multiplicity
    counts). ``nodes`` (first column) is the vertex set; it defaults to
    every src and dst. An explicit set may be narrower than the edges:
    ranks are returned for exactly its nodes, contributions to a dst
    outside it are dropped, and an edge out of a non-node carries no
    rank (it still counts in its src's out-degree). Returns
    ``(node, rank_fp)`` with ``node`` in the dst type and ``rank_fp``
    the rank scaled by ``scale`` (BIGINT — no floats anywhere, so the
    result is bit-identical across engines and the DuckDB oracle can replay it
    with the iterations unrolled as CTEs, the same contract as
    embedding_kmeans / quality_perceptron).

    Exact per-iteration arithmetic (every op BIGINT, all positive, so
    truncating and flooring division agree):

        in(v)  = SUM over edges (u,v) of  cnt * (r(u) DIV outdeg(u))
        dang   = SUM of r(u) over nodes with no out-edges (else 0)
        r'(v)  = ((scale*(100-d)) DIV 100) DIV N
                 + (d * (in(v) + dang DIV N)) DIV 100

    The canonical crawl-frontier/URL-ranking primitive of web-corpus
    curation (Page et al. 1999; Common Crawl ranks its frontier with
    harmonic centrality/PageRank over the host graph). Beyond-reference
    surface like ``connected_components`` above.

    Scale: the rank frame is O(V) and each iteration is two shuffles of
    O(E) — one src-keyed join carrying ``r DIV outdeg`` per edge, one
    dst-keyed partial-aggregating groupBy — the standard Pregel-style
    plan. ``outdeg`` is folded into the edge list once up front (join on
    src, co-partitioned). The N census and the dangling-mass row are
    1-row broadcasts (zero driver round-trips). Short unrolls stay
    fully declarative on purpose: the loop-invariant frames and the
    twice-referenced rank frame dedupe at runtime via ReusedExchange,
    and a measured A/B showed eager materialization (localCheckpoint
    of edges/outdeg/nodes, or of ranks per round) SLOWS a 3-iteration
    run 1.3-1.7x at sf1 — job barriers cost more than the reuse saves.
    LAZY ``persist()`` was re-measured in round 13 (the 3-iteration
    browse plan re-derives the events scan ~51 times declaratively,
    an inviting target) and ALSO loses, decisively: persisting
    nodes/outdeg/ew + per-round ranks 4.39 -> 6.83 s min (0/4
    interleaved pairs at sf0.1), invariants-only persist 7.40 s
    (0/4) — cached plans are compiled without AQE partition
    coalescing (``canChangeCachedPlanOutputPartitioning`` defaults
    false), so every census-sized cache materializes and re-scans at
    the static shuffle-partition count, flooding the tiny-graph run
    with empty tasks, while runtime ReusedExchange already dedupes
    the repeated subtrees for free.
    ``localCheckpoint`` every ``checkpoint_every`` rounds therefore
    only truncates lineage on long runs. Note the growth rate: each
    round references the prior rank frame TWICE, so the logical tree
    doubles per round — plan size between checkpoints is exponential
    (2^rounds), bounding Catalyst analysis time rather than execution;
    the default cadence of 4 caps the tree at 16x per truncation.
    """
    e = edges.select(
        F.col(src).alias("__src"),
        F.col(dst).alias("__dst"),
        F.col(cnt).cast("long").alias("__cnt"),
    )
    outdeg = e.groupBy("__src").agg(F.sum("__cnt").alias("__outdeg"))
    ew = e.join(outdeg, "__src")
    if nodes is None:
        nodes = (
            e.select(F.col("__src").alias("node"))
            .union(e.select(F.col("__dst").alias("node")))
            .distinct()
        )
    else:
        nodes = nodes.select(F.col(nodes.columns[0]).alias("node")).distinct()
        # messages to a dst outside the census are dropped: one
        # loop-invariant semi-join on the weighted edge list
        ew = ew.join(nodes, ew["__dst"] == nodes["node"], "left_semi")
    n_row = nodes.agg(F.count(F.lit(1)).alias("__n"))
    teleport = F.expr(
        f"(CAST({scale} AS BIGINT) * {100 - damping_pct} DIV 100) DIV __n"
    )
    ranks = nodes.crossJoin(F.broadcast(n_row)).select(
        "node", F.expr(f"CAST({scale} AS BIGINT) DIV __n").alias("r")
    )
    # Zero seed per node, unioned into the contribution aggregation:
    # with every node guaranteed a group, the per-iteration
    # nodes ⟕ contrib sort-merge join (two sorts + an exchange of the
    # node census per round) disappears — the union rides the SAME
    # groupBy exchange the messages already pay. Measured (round 14,
    # sf0.1 interleaved A/B): 8/10 pairwise wins, min 1.85 → 1.72 s;
    # non-loss at a 10x events replica. The null filter keeps exact
    # parity with the old nodes-join semantics: a contribution onto a
    # NULL dst must be dropped, never merged with a null node's zero
    # seed. (A single-pass variant that also folded the dangling-mass
    # branch into the same aggregation via a marker group was measured
    # and REJECTED: 0/4 pairs, min 2.28 vs 1.94 s, and the analyzed
    # plan GREW 51 → 65 relation refs — the dangling scalar must be
    # re-distributed to every row, so its branch duplicates the whole
    # aggregate subtree declaratively; the anti-join branch below
    # duplicates only the rank frame, which runtime ReusedExchange
    # already dedupes. The 2^iterations tree growth itself is
    # irreducible without materialization: the recursion carries TWO
    # state values (rank frame + dangling scalar) and both next values
    # need the previous frame — and both eager and lazy
    # materialization measured slower in rounds 12/13, see above.)
    # seed in the dst type: the census may carry a different key type
    zeros = nodes.select(
        F.col("node").cast(e.schema["__dst"].dataType).alias("node"),
        F.lit(0).cast("long").alias("__m"),
    )
    for i in range(iterations):
        contrib = (
            ew.join(ranks, ew["__src"] == ranks["node"])
            .select(
                F.col("__dst").alias("node"),
                (F.col("__cnt") * F.expr("r DIV __outdeg")).alias("__m"),
            )
            .where(F.col("node").isNotNull())
            .union(zeros)
            .groupBy("node")
            .agg(F.sum("__m").alias("__m"))
        )
        dang_row = (
            ranks.join(outdeg, ranks["node"] == outdeg["__src"], "left_anti")
            .agg(F.coalesce(F.sum("r"), F.lit(0)).cast("long").alias("__dang"))
        )
        ranks = (
            contrib.crossJoin(F.broadcast(dang_row))
            .crossJoin(F.broadcast(n_row))
            .select(
                "node",
                (
                    teleport
                    + F.expr(
                        f"{damping_pct} * (__m + __dang DIV __n) DIV 100"
                    )
                ).alias("r"),
            )
        )
        if (i + 1) % checkpoint_every == 0 and i + 1 < iterations:
            ranks = ranks.localCheckpoint(eager=True)
    return ranks.select("node", F.col("r").alias("rank_fp"))


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    nodes: DataFrame | None = None,
    max_iter: int = 50,
) -> DataFrame:
    """Label every node with the minimum node id reachable from it.

    Returns ``(node, comp)`` — ``comp`` is the cluster id (the smallest
    member), so ``node == comp`` marks the canonical representative.

    Algorithm: min-label propagation to a fixpoint. Each round is one
    hash join (edges ⋈ labels, both shuffled on the node key) and one
    groupBy-min (map-side partial combine), so per-round cost is two
    shuffles of O(|E|) rows. Rounds = graph diameter; near-dup graphs
    are dense and shallow (duplicate clusters have diameter 2-4), so
    this converges in a handful of rounds at any corpus size. For
    adversarial long-chain graphs use ``connected_components_star``
    below (Kiveris et al. large-star/small-star) — same per-round
    shuffle cost, O(log² n) rounds guaranteed.

    ``localCheckpoint(eager=True)`` after every round truncates the
    lineage so the plan does not grow with iteration count (re-planning
    an N-round lineage is quadratic work for Catalyst) and the
    convergence-check job does not recompute prior rounds.
    """
    if nodes is None:
        nodes = (
            edges.select(F.col(src).alias("node"))
            .union(edges.select(F.col(dst).alias("node")))
            .distinct()
        )
    else:
        nodes = nodes.select(F.col(nodes.columns[0]).alias("node")).distinct()

    sym = edges.select(F.col(src).alias("node"), F.col(dst).alias("nbr")).union(
        edges.select(F.col(dst).alias("node"), F.col(src).alias("nbr"))
    )
    labels = nodes.withColumn("comp", F.col("node")).localCheckpoint(eager=True)
    for _ in range(max_iter):
        msgs = sym.join(labels, "node").select(F.col("nbr").alias("node"), "comp")
        new = (
            labels.union(msgs)
            .groupBy("node")
            .agg(F.min("comp").alias("comp"))
            .localCheckpoint(eager=True)
        )
        changed = (
            new.withColumnRenamed("comp", "new_comp")
            .join(labels, "node")
            .where(F.col("new_comp") != F.col("comp"))
            .limit(1)
            .count()
        )
        labels = new
        if changed == 0:
            break
    return labels


def connected_components_star(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    nodes: DataFrame | None = None,
    max_iter: int = 50,
    return_rounds: bool = False,
) -> DataFrame | tuple[DataFrame, int]:
    """Connected components via alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) — O(log² n) rounds on ANY graph shape, the upgrade over
    ``connected_components``'s O(diameter) min-label loop for
    adversarial long-chain graphs (a 100 TB web-crawl corpus can
    chain near-dups thousands of hops deep).

    Per round: large-star hangs every neighbor larger than u off
    min(Γ(u) ∪ u); small-star re-hangs the smaller neighborhood off
    its minimum. Each is one groupBy-min plus one join of the edge
    list — the same two-shuffle cost per round as min-label, but the
    round count is logarithmic instead of linear in the longest
    chain. Converges when the edge set is a fixpoint (every edge
    already points node -> component root).

    Returns ``(node, comp)`` like ``connected_components`` (with
    ``return_rounds=True``, also the number of rounds used).
    """
    if nodes is None:
        nodes = (
            edges.select(F.col(src).alias("node"))
            .union(edges.select(F.col(dst).alias("node")))
            .distinct()
        )
    else:
        nodes = nodes.select(F.col(nodes.columns[0]).alias("node")).distinct()
    nodes = nodes.localCheckpoint(eager=True)

    # canonical directed form b -> a with a < b ("child -> parent")
    e = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .where(F.col("a") != F.col("b"))
        .select(
            F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        sym = e.select(F.col("a").alias("node"), F.col("b").alias("nbr")).union(
            e.select(F.col("b").alias("node"), F.col("a").alias("nbr"))
        )
        # large-star: v > u hangs off m(u) = min(Γ(u) ∪ {u})
        mins = (
            sym.groupBy("node")
            .agg(F.min("nbr").alias("mn"))
            .select("node", F.least("mn", F.col("node")).alias("m"))
        )
        large = (
            sym.join(mins, "node")
            .where(F.col("nbr") > F.col("node"))
            .select(F.col("m").alias("a"), F.col("nbr").alias("b"))
            .where(F.col("a") != F.col("b"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        # small-star: the ≤-neighborhood (plus u itself) re-hangs off
        # its minimum
        sym2 = large.select(
            F.col("a").alias("node"), F.col("b").alias("nbr")
        ).union(large.select(F.col("b").alias("node"), F.col("a").alias("nbr")))
        le = sym2.where(F.col("nbr") <= F.col("node"))
        mins2 = (
            le.groupBy("node")
            .agg(F.min("nbr").alias("mn"))
            .select("node", F.least("mn", F.col("node")).alias("m"))
        )
        cand = le.select("node", F.col("nbr").alias("v")).union(
            le.select("node", F.col("node").alias("v")).distinct()
        )
        small = (
            cand.join(mins2, "node")
            .where(F.col("v") != F.col("m"))
            .select(F.col("m").alias("a"), F.col("v").alias("b"))
            .where(F.col("a") != F.col("b"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        changed = (
            small.exceptAll(e).union(e.exceptAll(small)).limit(1).count()
        )
        e = small
        if changed == 0:
            break
    labels = (
        nodes.join(
            e.select(F.col("b").alias("node"), F.col("a").alias("root")),
            "node",
            "left",
        )
        # a node appears on the b-side at most once at the fixpoint;
        # min() is a safety net mid-convergence (max_iter hit)
        .groupBy("node")
        .agg(F.min("root").alias("root"))
        .select(
            "node", F.coalesce("root", F.col("node")).alias("comp")
        )
    )
    return (labels, rounds) if return_rounds else labels
