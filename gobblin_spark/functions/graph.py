"""Connected components over a pair list — the step that turns
near-duplicate PAIRS (MinHash/SimHash/embedding output) into dedup
GROUPS so "keep one per cluster" is transitive: if A~B and B~C, all
three land in one component even though (A, C) never surfaced as a
pair.

No reference analog (Gobblin stops at ingestion); the algorithm is
min-label propagation, the DataFrame-native core of the map-reduce CC
family (Kiveris et al. 2014, "Connected Components in MapReduce and
Beyond" — the large-star/small-star optimizations apply at extreme
skew; plain propagation is the right default).

100 TB design: each iteration is ONE join (labels onto the bidirected
edge list) + ONE min-groupBy — both hash-partitioned on the node id,
so successive iterations reuse the same partitioning. Iterations
needed = graph diameter; near-dup graphs are piles of small cliques
(diameter ≤ 3-4 in practice), so the loop converges in a handful of
rounds. Labels are ``localCheckpoint``-ed each round — iterative self-joins
otherwise DOUBLE the logical plan every iteration and the driver dies
planning, not computing (on a cluster prefer reliable
``checkpoint()`` to survive executor loss). A round's table is released
once the next one has materialized, and the edge table on return, so a
call leaves only the returned labels pinned. The loop breaks on a zero
changed-count; ``max_iter`` bounds adversarial chains. Convergence is
checked with a 1-row count, not a collect of labels."""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from gobblin_spark.session import release_checkpoint


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """(node, component) for every node in *edges*; component = the
    smallest node id reachable through any chain of pairs. Undirected:
    each edge propagates labels both ways."""
    # one scan of the (possibly expensive) edge plan: exploding both
    # directions from the same row halves the upstream work vs a
    # union of two selects, which would execute the edge pipeline
    # twice before the checkpoint
    bi = (
        edges.select(
            F.explode(
                F.array(
                    F.struct(F.col(src).alias("u"), F.col(dst).alias("v")),
                    F.struct(F.col(dst).alias("u"), F.col(src).alias("v")),
                )
            ).alias("_e")
        )
        .select(F.col("_e.u").alias("u"), F.col("_e.v").alias("v"))
        .distinct()
        # NOTE (r14, measured): pre-keying this checkpoint by the join
        # side (repartition("v")) buys nothing — under AQE the
        # LogicalRDD a localCheckpoint produces reports
        # UnknownPartitioning (verified in the physical plan, Spark
        # 4.1), so downstream joins cannot see the layout and the
        # extra exchange is pure cost. The per-iteration edge shuffle,
        # when labels outgrow the broadcast threshold, is priced into
        # the design here.
        .localCheckpoint()
    )
    labels = (
        bi.select(F.col("u").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
        .localCheckpoint()
    )
    comp_type = dict(labels.dtypes)["component"]
    for _ in range(max_iter):
        cur = labels.select("id", "component")
        # neighbor's current label, folded with my own, min per node
        nbr = (
            bi.join(cur.withColumnRenamed("id", "v"), "v")
            .select(F.col("u").alias("id"), "component")
        )
        # the convergence check rides INSIDE the label fold: each node's
        # previous label is carried through the aggregate as max(_old)
        # (exactly one labels row per id contributes non-null), so
        # "did anything change" is a narrow filter over the table this
        # round materializes anyway — the old shape paid a second
        # distributed JOIN of the two label tables per iteration just
        # to answer a yes/no (guide §1.2: don't compute things you
        # throw away). localCheckpoint still cuts the lineage BEFORE
        # the changed-count so each round plans against a materialized
        # table, not the whole iteration history
        fused = (
            cur.withColumn("_old", F.col("component"))
            .unionByName(nbr.withColumn(
                "_old", F.lit(None).cast(comp_type)))
            .groupBy("id")
            .agg(F.min("component").alias("component"),
                 F.max("_old").alias("_old"))
            .localCheckpoint()
        )
        release_checkpoint(labels)  # superseded by the materialized fused
        labels = fused
        changed = (
            fused.filter(~F.col("component").eqNullSafe(F.col("_old")))
            .limit(1)
            .count()
        )
        if changed == 0:
            release_checkpoint(bi)
            return fused.select("id", "component")
    release_checkpoint(bi)
    release_checkpoint(labels)
    raise RuntimeError(
        f"connected_components: no convergence in {max_iter} "
        "iterations (graph diameter too large — raise max_iter)")


def keep_one_per_component(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Transitive near-dup removal: survivors = rows that are either
    outside the pair graph entirely, or the MINIMUM id of their
    component (the canonical representative). A broadcast-or-shuffle
    anti-join on ids only — document bodies never move."""
    cc = connected_components(pairs, src, dst)
    losers = cc.filter(F.col("id") != F.col("component")).select(
        F.col("id").alias(id_col))
    return df.join(losers, id_col, "left_anti")


def pagerank_undirected(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    iterations: int = 3,
    damping: float = 0.85,
    checkpoint_every: int = 8,
    dedup_edges: bool = True,
) -> DataFrame:
    """Fixed-iteration PageRank over an UNDIRECTED pair list —
    centrality scoring for entity graphs a curation pipeline builds
    (co-occurrence graphs, part↔supplier bipartite graphs, near-dup
    cluster graphs). Returns (id, rank) for every node.

    Undirected means every edge is walked both ways, so every node
    has degree ≥ 1 and there is NO dangling-mass term — the update is
    exactly ``rank' = (1-d)/N + d * Σ_in rank/deg``, which a SQL
    oracle can reproduce by unrolling the iterations (this is why the
    iteration count is fixed rather than convergence-driven: a
    deterministic, engine-portable result).

    100 TB shape: per iteration ONE join of the slim (id, rank/deg)
    contribution table onto the bidirected edge list + ONE sum-groupBy
    on the destination id — both hash-partitioned on node id, so
    successive iterations reuse the same partitioning. The one
    auxiliary join (rank⟗deg for contrib) stays partition-aligned
    against the CHECKPOINTED degree table and moves no extra shuffle
    bytes — fusing deg into the rank state to delete it was
    A/B-rejected (r7: +2.4 MB shuffle per run at sf0.1, the state
    exchange then carries deg every iteration, for an 8% local-wall
    win that a 1000-executor network would pay back with interest).
    There is NO node-list⟗inbound rebuild join: in a bidirected edge
    list every node appears as a destination, and every contribution
    is positive (ranks start at 1/N and the teleport term keeps them
    positive), so ``inbound`` already holds the complete node set —
    the rebuild re-derived exactly itself (removing it: 3.6 → 2.8 s
    at sf0.1, shuffle bytes flat, identical output). Null node ids
    never join and are excluded — a malformed-graph contract, same as
    the contribution join has always enforced. Edges are
    localCheckpoint-ed once (plan reset; on a real cluster prefer
    reliable checkpoint) and ranks are checkpointed every
    ``checkpoint_every`` rounds so long runs keep a bounded logical
    plan WITHOUT paying a materialization round-trip per iteration —
    shuffle-stage reuse already executes each un-checkpointed round
    once (A/B at sf0.1, 3 iterations: no per-round checkpoint 3.5 s
    vs 4.9 s with). Total rank mass is conserved at 1.0 every round,
    making drift auditable with a 1-row sum.

    ``dedup_edges=False`` skips the bidirected list's distinct — one
    full shuffle of the edge table (guide §2.4: remove shuffles
    outright) — and is ONLY sound when the caller guarantees the
    bidirected expansion is duplicate-free: the input pair list is
    distinct, carries no self-loops it cares about double-counting,
    and never holds both (a,b) and (b,a). A bipartite graph whose two
    node-id spaces are disjoint (e.g. even part ids / odd supplier
    ids) satisfies this by construction: (a,b) with a in A, b in B
    can never equal a reversed pair (whose first element is in B).
    Duplicates here would inflate degrees AND contributions — results
    would be silently wrong, hence the safe default.
    """
    bi = edges.select(
        F.explode(
            F.array(
                F.struct(F.col(src).cast("long").alias("u"),
                         F.col(dst).cast("long").alias("v")),
                F.struct(F.col(dst).cast("long").alias("u"),
                         F.col(src).cast("long").alias("v")),
            )
        ).alias("_e")
    ).select(F.col("_e.u").alias("u"), F.col("_e.v").alias("v"))
    if dedup_edges:
        bi = bi.distinct()
    # NOTE (r14, measured): pre-keying bi on u before the checkpoint
    # (plain or scale-guarded) was built and REJECTED on plan
    # evidence — under AQE a localCheckpoint's LogicalRDD reports
    # UnknownPartitioning (Spark 4.1, verified in the forced-branch
    # physical plan), so the iteration joins cannot reuse the layout
    # and the repartition is one extra full edge exchange for
    # nothing. When contributions outgrow the broadcast threshold the
    # three per-iteration bi exchanges live in ONE query (no
    # per-iteration checkpoint) and canonicalize identically, so
    # exchange reuse already collapses them to one physical shuffle.
    # lazy: the edge blocks materialize inside the degree job below
    # (one job boundary fewer; the blocks are identical) — eager would
    # schedule a separate pass just to populate the cache (guide §1.2)
    bi = bi.localCheckpoint(eager=False)
    # deg feeds TWO plan sites per iteration (the contrib join and the
    # full-node rank rebuild) — checkpoint it once or every use re-runs
    # the degree shuffle over the edge table (audit-r7: 6 redundant
    # edge aggregations across a 3-iteration run)
    deg = bi.groupBy(F.col("u").alias("id")).agg(
        F.count(F.lit(1)).cast("double").alias("deg")).localCheckpoint()
    n = deg.count()  # scalar node count: one bounded driver action
    if n == 0:
        # empty pair list: no nodes, empty result — not a
        # ZeroDivisionError from the teleport term (audit r9)
        return deg.select("id", F.lit(0.0).alias("rank"))
    teleport = (1.0 - damping) / float(n)
    ranks = deg.select("id", F.lit(1.0 / float(n)).alias("rank"))
    for it in range(iterations):
        if it == 0:
            # rank_0 is the same literal 1/n for every node, so the
            # first contribution is deg-local: lit(1/n)/deg divides the
            # identical doubles the rank⟗deg join would produce —
            # one join (and its exchange under AQE misestimates)
            # removed per run (guide §3: skip joins whose one side is
            # a constant projection of the other)
            contrib = deg.select(
                "id", (F.lit(1.0 / float(n)) / F.col("deg")).alias("c"))
        else:
            contrib = (
                ranks.join(deg, "id")
                .select("id", (F.col("rank") / F.col("deg")).alias("c"))
            )
        inbound = (
            bi.join(contrib, bi["u"] == contrib["id"])
            .groupBy(F.col("v").alias("id"))
            .agg(F.sum("c").alias("_in"))
        )
        # inbound IS the full node set (bidirected graph, positive
        # contributions) — see the docstring; no rebuild join needed
        ranks = inbound.select(
            "id",
            (F.lit(teleport) + F.lit(damping) * F.col("_in"))
            .alias("rank"),
        )
        if (it + 1) % checkpoint_every == 0 and (it + 1) < iterations:
            ranks = ranks.localCheckpoint()
    return ranks
