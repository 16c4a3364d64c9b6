"""Graph traversal operators: BFS closure, ancestor walk, sibling queries.

Reference semantics re-expressed over an ``edges(parent_id, child_id, idx)``
relation:

- ``descendants`` (``assemblage_db/src/lib.rs:695-797``): transitive closure
  downward, cycle-safe via a visited set.
- ``ancestors`` (``lib.rs:552-639``): walk upward; the reference's
  ``ancestor_path`` stops when a node has 0 or >1 parents or a cycle closes.
- ``before``/``after`` (``core.rs:152-299``): nearest non-blank sibling per
  direction within the same parent.

Scale design: BFS is a loop of equi-joins on ``parent_id``, one level per
iteration. Each level eagerly ``localCheckpoint``s the settled set together
with the new level — ONE pin per level, so neither the frontier (a filter
over the pinned blocks) nor the closure is ever re-derived from lineage, and
the lineage never grows past one level. The level at ``max_depth`` is the
exception: it is returned unpinned, for the caller's action to compute once.
Cycle safety = anti-join against the settled set — the DataFrame equivalent
of the reference's ``HashSet`` guard. The level's pin job also observes how
many rows it settled, and the walk ends on the first level that settles none.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, Window, functions as F

# the frontier side of the expansion join and the settled side of the
# anti-join are broadcast while their exact row counts (observed by the
# previous level's pin job) stay under this bound (~tens of MB of node
# ids); past it both joins fall back to shuffles
_BROADCAST_ROWS = 500_000


def descendants(
    edges: DataFrame,
    roots: DataFrame,
    *,
    max_depth: int,
    assume_forest: bool = False,
) -> DataFrame:
    """Multi-source BFS downward from ``roots`` (one column ``node_id``).

    Returns (node_id, depth) with depth = fewest parent→child hops from
    ANY root (roots themselves at depth 0), for every node within
    ``max_depth``. Cycle-safe: a node settled at a smaller depth is never
    re-expanded (first visit is shallowest), so level d costs
    |frontier_d ⋈ E|, never |V|².

    ``assume_forest``: caller guarantees every node is reachable along
    exactly one path (leveled FK hierarchies, trees) — the per-level
    distinct and the settled anti-join are then provably no-ops and are
    skipped, leaving one join per level as the whole plan. This is the
    shape that matters at scale: for a leveled 100 TB graph the anti-join
    against an ever-growing settled set would be the dominant shuffle.

    Join strategy comes from the loop's OWN runtime statistics: each
    level's pin job observes the rows it settled, so the exact frontier
    size and (up to retry over-count) the settled size are known before
    the next level is planned. While under ``_BROADCAST_ROWS`` the
    frontier and the anti-join side are broadcast, so the edge relation
    is scanned, never shuffled, for a thin frontier. The hints move
    bytes, not semantics.

    Exit: the walk stops after ``max_depth`` levels or on the first level
    that settles no row. Task retries can only over-count the observed
    level size, which delays the exit by one no-op level (or picks the
    shuffle plan) — never ends the walk early. The ``max_depth`` level is
    returned as a lazy union over the pinned levels, one join deep.

    Side effect: the per-level ``localCheckpoint(eager=True)`` runs Spark
    jobs DURING DataFrame construction (calls are not lazy), and
    checkpointed blocks are not recomputable if an executor is lost. For
    very long walks on an unreliable cluster, swap in reliable
    ``checkpoint()`` against a checkpoint dir (same call site).
    """
    e = edges.select("parent_id", "child_id")
    obs = Observation()
    settled = (
        roots.select("node_id").distinct()
        .withColumn("depth", F.lit(0).cast("long"))
        .observe(obs, F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    n_level = n_settled = obs.get["n"] or 0
    for d in range(1, max_depth + 1):
        if n_level == 0:
            break
        frontier = settled.filter(F.col("depth") == d - 1).select(
            F.col("node_id").alias("parent_id")
        )
        if n_level <= _BROADCAST_ROWS:
            frontier = F.broadcast(frontier)
        nxt = e.join(frontier, "parent_id").select(
            F.col("child_id").alias("node_id")
        )
        if not assume_forest:
            anti = settled.select("node_id")
            if n_settled <= _BROADCAST_ROWS:
                anti = F.broadcast(anti)
            nxt = nxt.distinct().join(anti, "node_id", "left_anti")
        merged = settled.unionByName(
            nxt.withColumn("depth", F.lit(d).cast("long"))
        )
        if d == max_depth:
            # no exit test follows the last level and the caller's action
            # computes it once: pinning it would only add a job that
            # re-copies every settled block
            return merged
        obs = Observation()
        settled = (
            merged.observe(
                obs, F.sum((F.col("depth") == d).cast("long")).alias("n")
            )
            .localCheckpoint(eager=True)
        )
        n_level = obs.get["n"] or 0
        n_settled += n_level
    return settled


def ancestors(
    edges: DataFrame,
    starts: DataFrame,
    *,
    single_parent_only: bool = True,
    max_depth: int = 64,
    exact_depth: int | None = None,
    assume_forest: bool = False,
    broadcast_frontier: bool = False,
) -> DataFrame:
    """Upward walk from each start node (column ``node_id``).

    Returns (start_id, ancestor_id, depth), depth = 1 for the immediate
    parent. With ``single_parent_only`` (the reference's ``ancestor_path``,
    lib.rs:552-639) a walk stops when the current node has 0 or >1 parents
    or revisits a node on its own path (cycle guard). ``exact_depth`` (a
    schema-known walk length) skips the per-level empty-frontier probe —
    one Spark job per level saved. ``assume_forest`` (caller guarantees the
    edge relation is deduped with one parent per child and acyclic) skips
    both the parent-uniqueness aggregation over the full edge relation and
    the per-row path arrays of the cycle guard. ``broadcast_frontier``:
    walk frontiers are small (|starts| rows, one per live walk) — hint the
    per-level join to broadcast them so the parent relation is only ever
    scanned in place, never shuffled.
    """
    if assume_forest and exact_depth is not None:
        # bounded forest walk: each level's frontier is eagerly materialized
        # (localCheckpoint — frontiers are |starts| rows), so level d is ONE
        # probe of the parent relation. Left lazy, the union's depth-d branch
        # would re-derive joins 1..d and the walk would cost O(d²/2) edge
        # scans instead of d.
        parent_of = edges.select("child_id", "parent_id")
        frontier = starts.select(
            F.col("node_id").alias("start_id"), F.col("node_id").alias("current_id")
        )
        out = None
        for depth in range(1, exact_depth + 1):
            step = (
                (F.broadcast(frontier) if broadcast_frontier else frontier)
                .join(parent_of.withColumnRenamed("child_id", "current_id"), "current_id")
                .select("start_id", F.col("parent_id").alias("ancestor_id"))
                .localCheckpoint(eager=True)
            )
            found = step.withColumn("depth", F.lit(depth))
            out = found if out is None else out.unionByName(found)
            frontier = step.select("start_id", F.col("ancestor_id").alias("current_id"))
        return out

    if assume_forest:
        parent_of = edges.select("child_id", "parent_id")
    elif single_parent_only:
        # scalar aggregate instead of collect_set+explode: no array building
        # over the full edge relation, same (child, unique parent) rows
        parent_of = (
            edges.groupBy("child_id")
            .agg(
                F.max("parent_id").alias("parent_id"),
                F.countDistinct("parent_id").alias("np"),
            )
            .filter(F.col("np") == 1)
            .select("child_id", "parent_id")
        )
    else:
        parent_of = edges.select("child_id", "parent_id").distinct()
    if not broadcast_frontier:
        # big-frontier regime: every level joins parent_of on child_id
        # (ProjectExec is alias-aware, so the current_id rename keeps the
        # partitioning) — co-partition the cache once instead of
        # re-shuffling it per level (an InMemoryRelation keeps its
        # outputPartitioning, leaving only the frontier side to shuffle)
        parts = edges.sparkSession.sparkContext.defaultParallelism
        parent_of = parent_of.repartition(parts, "child_id")
    parent_of = parent_of.persist()

    frontier = starts.select(
        F.col("node_id").alias("start_id"),
        F.col("node_id").alias("current_id"),
        *([] if assume_forest else [F.array(F.col("node_id")).alias("path")]),
    )
    out = None
    persisted = []
    probe_empty = exact_depth is None
    limit = exact_depth if exact_depth is not None else max_depth
    for depth in range(1, limit + 1):
        step = (F.broadcast(frontier) if broadcast_frontier else frontier).join(
            parent_of.withColumnRenamed("child_id", "current_id"), "current_id"
        )
        if assume_forest:
            step = step.select("start_id", F.col("parent_id").alias("ancestor_id"))
        else:
            step = (
                # cycle guard: stop a walk that revisits its own path
                step.filter(~F.array_contains("path", F.col("parent_id"))).select(
                    "start_id",
                    F.col("parent_id").alias("ancestor_id"),
                    F.concat("path", F.array("parent_id")).alias("path"),
                )
            )
        if depth % 8 == 0:
            step = step.localCheckpoint(eager=True)
        else:
            step = step.persist()
            persisted.append(step)
        if probe_empty and step.isEmpty():
            break
        found = step.select("start_id", "ancestor_id").withColumn("depth", F.lit(depth))
        out = found if out is None else out.unionByName(found)
        frontier = step.select(
            "start_id",
            F.col("ancestor_id").alias("current_id"),
            *([] if assume_forest else ["path"]),
        )
    if out is None:
        parent_of.unpersist()
        schema = "start_id string, ancestor_id string, depth int"
        return starts.sparkSession.createDataFrame([], schema)
    out = out.localCheckpoint(eager=True)
    parent_of.unpersist()
    for df in persisted:
        df.unpersist()
    return out


def subtree_closure(
    edges: DataFrame,
    roots: DataFrame,
    *,
    max_depth: int,
    with_path: bool = False,
    pad: int = 10,
    checkpoint_every: int = 4,
    assume_forest: bool = False,
    broadcast_frontier: bool = False,
) -> DataFrame:
    """Per-root downward closure: (root_id, node_id, depth[, path]).

    Unlike :func:`descendants` (which collapses all roots into one visited
    set), this keeps subtree membership per root — the relation behind
    ``has_shared_descendants`` / ``export`` subtree collection and the
    ordered-descent ``preview`` (``assemblage_db/src/lib.rs:805-831,462-509``).

    With ``with_path`` each row carries a ``/``-joined zero-padded child-idx
    string, lexicographically ordered exactly like the reference's ordered
    DFS — the distributed substitute for recursive descent. A node reachable
    along several routes keeps the lexicographically smallest path of its
    first (shallowest) level. Cycle-safe via the per-root visited anti-join;
    ``assume_forest`` (caller guarantees single-path reachability) drops the
    dedup + anti-join shuffles and reduces each level to one join.
    """
    if assume_forest and max_depth <= checkpoint_every:
        # bounded forest walk — lineage stays shallow, no probes fire: one
        # lazy plan, no per-level caching or checkpoint copies
        e = edges.select("parent_id", "child_id", *(["idx"] if with_path else []))
        frontier = roots.select(F.col("node_id").alias("root_id"), F.col("node_id"))
        if with_path:
            frontier = frontier.withColumn("path", F.lit(""))
        out = None
        for depth in range(1, max_depth + 1):
            f = frontier.withColumnRenamed("node_id", "parent_id")
            nxt = e.join(F.broadcast(f) if broadcast_frontier else f, "parent_id")
            if with_path:
                nxt = nxt.select(
                    "root_id",
                    F.col("child_id").alias("node_id"),
                    F.concat(
                        "path", F.lit("/"), F.lpad(F.col("idx").cast("string"), pad, "0")
                    ).alias("path"),
                )
            else:
                nxt = nxt.select("root_id", F.col("child_id").alias("node_id"))
            level = nxt.withColumn("depth", F.lit(depth))
            out = level if out is None else out.unionByName(level)
            frontier = nxt
        return out

    e = edges.select("parent_id", "child_id", *(["idx"] if with_path else []))
    if not broadcast_frontier:
        # co-partition the per-level join key once (see ancestors)
        parts = edges.sparkSession.sparkContext.defaultParallelism
        e = e.repartition(parts, "parent_id")
    e = e.persist()
    frontier = roots.select(F.col("node_id").alias("root_id"), F.col("node_id"))
    if with_path:
        frontier = frontier.withColumn("path", F.lit(""))
    visited = frontier.select("root_id", "node_id")
    out = None
    persisted = [e]
    for depth in range(1, max_depth + 1):
        f = frontier.withColumnRenamed("node_id", "parent_id")
        nxt = e.join(F.broadcast(f) if broadcast_frontier else f, "parent_id")
        if with_path:
            nxt = nxt.select(
                "root_id",
                F.col("child_id").alias("node_id"),
                F.concat(
                    "path", F.lit("/"), F.lpad(F.col("idx").cast("string"), pad, "0")
                ).alias("path"),
            )
            if not assume_forest:
                nxt = nxt.groupBy("root_id", "node_id").agg(F.min("path").alias("path"))
        else:
            nxt = nxt.select("root_id", F.col("child_id").alias("node_id"))
            if not assume_forest:
                nxt = nxt.distinct()
        # assume_forest: caller guarantees one path per (root, node) — the
        # per-level dedup and the visited anti-join (two shuffles per level)
        # are then provably no-ops and the BFS is just the level joins
        if not assume_forest:
            nxt = nxt.join(visited, ["root_id", "node_id"], "left_anti")
        # each frontier is read three ways (next join, level union, visited
        # union) — persist so a level computes once. Periodically ALSO
        # truncate lineage: the per-root plan references ALL prior levels
        # through `visited`, so the logical plan doubles per iteration —
        # unchecked, the driver OOMs just printing it by depth ~10. Every
        # checkpoint buys a cheap empty-frontier probe (early exit once a
        # cycle closes); shallow fixed-depth walks pay neither cost.
        if depth % checkpoint_every == 0:
            nxt = nxt.localCheckpoint(eager=True)
            if nxt.isEmpty():
                break
        else:
            nxt = nxt.persist()
            persisted.append(nxt)
        level = nxt.withColumn("depth", F.lit(depth))
        out = level if out is None else out.unionByName(level)
        if not assume_forest:
            visited = visited.unionByName(nxt.select("root_id", "node_id"))
        frontier = nxt
    if out is None:
        schema = "root_id string, node_id string, depth int" + (
            ", path string" if with_path else ""
        )
        for df in persisted:
            df.unpersist()
        return roots.sparkSession.createDataFrame([], schema)
    out = out.localCheckpoint(eager=True)
    for df in persisted:
        df.unpersist()
    return out


def has_shared_descendants(
    edges: DataFrame,
    roots: DataFrame,
    *,
    max_depth: int,
    assume_forest: bool = False,
) -> DataFrame:
    """For each root: does the subtree contain a node with more than one
    parent (reference ``has_shared_descendants_until_links``,
    ``assemblage_db/src/lib.rs:805-831``)?

    One bounded BFS for ALL roots at once, then a join against per-node
    parent counts — set-at-a-time instead of the reference's per-root
    recursion, so 10^9 roots cost one extra shuffle, not 10^9 traversals.
    """
    sub = subtree_closure(edges, roots, max_depth=max_depth, assume_forest=assume_forest)
    n_parents = edges.groupBy("child_id").agg(
        F.countDistinct("parent_id").alias("n_parents")
    )
    flags = (
        sub.join(n_parents, sub.node_id == n_parents.child_id, "left")
        .groupBy("root_id")
        .agg(F.max(F.coalesce(F.col("n_parents"), F.lit(1)) > 1).alias("has_shared"))
    )
    return (
        roots.select(F.col("node_id").alias("root_id"))
        .distinct()
        .join(flags, "root_id", "left")
        .select("root_id", F.coalesce("has_shared", F.lit(False)).alias("has_shared"))
    )


def preview_leaf(
    edges: DataFrame,
    roots: DataFrame,
    blanks: DataFrame,
    *,
    max_depth: int,
    assume_forest: bool = False,
    broadcast_frontier: bool = False,
) -> DataFrame:
    """First non-blank leaf in ordered-DFS order per root — the distributed
    form of the reference's ``preview`` (``assemblage_db/src/lib.rs:462-509``:
    ordered descent, blank skipping, Empty when nothing qualifies).

    ``blanks`` is (node_id, is_blank) over the *renderable* (text) nodes —
    only nodes present there are preview candidates; structural nodes
    (lists) and childless inner nodes are skipped, matching the reference's
    blank-block skipping (an empty list renders as blank). Returns
    (root_id, preview_id), ``'empty'`` when the subtree has no non-blank
    candidate.
    """
    sub = subtree_closure(
        edges,
        roots,
        max_depth=max_depth,
        with_path=True,
        assume_forest=assume_forest,
        broadcast_frontier=broadcast_frontier,
    )
    first = (
        sub.join(blanks, "node_id")
        .filter(~F.col("is_blank"))
        .groupBy("root_id")
        .agg(F.min(F.struct("path", "node_id")).alias("m"))
        .select("root_id", F.col("m.node_id").alias("preview_id"))
    )
    return (
        roots.select(F.col("node_id").alias("root_id"))
        .distinct()
        .join(first, "root_id", "left")
        .select("root_id", F.coalesce("preview_id", F.lit("empty")).alias("preview_id"))
    )


def is_cyclic(edges: DataFrame, roots: DataFrame, *, max_depth: int) -> DataFrame:
    """Per root: would a downward traversal revisit a node (reference
    ``is_cyclic``, ``assemblage_db/src/lib.rs:424-442``)?

    The reference pushes every child edge-instance and reports true on the
    first pop of an already-visited id — so true cycles, diamonds, AND a
    child listed twice under one parent all count. Set formulation: each
    first visit consumes exactly one push, so a revisit exists iff

        #edge-instances with parent in closure(root)  >=  |closure(root)|

    (closure includes the root; the root's initial push is the +1). One
    bounded BFS for all roots plus one aggregated join — no per-root
    recursion. ``max_depth`` must cover the closure diameter.
    """
    sub = subtree_closure(edges, roots, max_depth=max_depth)
    r = roots.select(F.col("node_id").alias("root_id")).distinct()
    closure = sub.select("root_id", "node_id").unionByName(
        r.select("root_id", F.col("root_id").alias("node_id"))
    )
    closure = closure.persist()
    sizes = closure.groupBy("root_id").agg(F.count(F.lit(1)).alias("n_nodes"))
    # both endpoints must be inside the closure: with a truncated (bounded-
    # depth) closure, an edge leading past the depth bound is not a revisit
    n_edges = (
        closure.withColumnRenamed("node_id", "parent_id")
        .join(edges.select("parent_id", "child_id"), "parent_id")
        .join(
            closure.withColumnRenamed("node_id", "child_id"),
            ["root_id", "child_id"],
        )
        .groupBy("root_id")
        .agg(F.count(F.lit(1)).alias("n_edges"))
    )
    return (
        sizes.join(n_edges, "root_id", "left")
        .select(
            "root_id",
            (F.coalesce("n_edges", F.lit(0)) >= F.col("n_nodes")).alias("is_cyclic"),
        )
    )


def is_blank_roots(
    edges: DataFrame,
    roots: DataFrame,
    blanks: DataFrame,
    *,
    max_depth: int,
    assume_forest: bool = False,
) -> DataFrame:
    """Per root: does the subtree contain only blank renderable nodes
    (reference ``is_blank``, ``assemblage_db/src/lib.rs:389-416``)?

    ``blanks`` is (node_id, is_blank) over renderable (text) nodes;
    structural nodes contribute nothing, and a subtree with no renderable
    node at all is blank (an empty list renders as blank) — the vacuous
    ``True`` of the coalesce.
    """
    sub = subtree_closure(edges, roots, max_depth=max_depth)
    flags = (
        sub.join(blanks, "node_id")
        .groupBy("root_id")
        .agg(F.expr("bool_and(is_blank)").alias("all_blank"))
    )
    return (
        roots.select(F.col("node_id").alias("root_id"))
        .distinct()
        .join(flags, "root_id", "left")
        .select("root_id", F.coalesce("all_blank", F.lit(True)).alias("is_blank"))
    )


def siblings_before_after(
    edges: DataFrame,
    blank: F.Column | None = None,
) -> DataFrame:
    """For every child: the nearest non-blank previous and next sibling
    within the same parent (reference ``before``/``after``, core.rs:152-299 —
    flat-case semantics: blank siblings are skipped, search continues past
    them).

    ``blank`` is a boolean Column over the edges frame marking siblings to
    skip (the reference skips whitespace-only and Aside-styled siblings).
    Implemented as two running-extreme windows — one shuffle on parent_id,
    no self-join, linear in |edges| at any scale.
    """
    if blank is None:
        blank = F.lit(False)
    e = edges.withColumn("__blank", blank)
    w = Window.partitionBy("parent_id").orderBy("idx")
    before_w = w.rowsBetween(Window.unboundedPreceding, -1)
    after_w = w.rowsBetween(1, Window.unboundedFollowing)
    # max/min of struct(idx, child_id) picks the nearest eligible sibling
    # (struct comparison is field-order lexicographic, idx first).
    eligible = F.when(~F.col("__blank"), F.struct("idx", "child_id"))
    return (
        e.withColumn("before_id", F.max(eligible).over(before_w)["child_id"])
        .withColumn("after_id", F.min(eligible).over(after_w)["child_id"])
        .select("parent_id", "child_id", "idx", "before_id", "after_id")
    )


def siblings_escalated(
    leaf_edges: DataFrame,
    parent_edges: DataFrame,
    blank: F.Column,
) -> DataFrame:
    """``before``/``after`` with grandparent escalation — the full shape of
    the reference's sibling search (``assemblage_db/src/core.rs:152-299``):
    when a node has no eligible sibling inside its own parent, the search
    escalates to the parent's siblings (within the grandparent) and descends
    into the nearest non-blank one — to its LAST non-blank leaf for
    ``before``, FIRST for ``after``. A parent whose leaves are all blank is
    itself blank (``lib.rs:389-416``) and is skipped at the upper level.
    (The reference suppresses escalation for link-displayed children; pass
    only non-link leaves.)

    ``leaf_edges``: (parent_id, child_id, idx) + whatever ``blank`` needs;
    ``parent_edges``: (parent_id = grandparent, child_id = parent, idx).
    Returns (parent_id, child_id, idx, before_id, after_id).

    Scale shape: one shuffle on parent_id serves the in-parent windows AND
    the per-parent first/last/blank aggregate; the parent level re-runs the
    same running-extreme windows on a relation one fan-out smaller; the
    escalation itself is two equi-joins on parent keys. No self-joins, no
    iteration — cost is linear in |leaf_edges| at any scale.
    """
    e = leaf_edges.withColumn("__blank", blank)
    w = Window.partitionBy("parent_id").orderBy("idx")
    eligible = F.when(~F.col("__blank"), F.struct("idx", "child_id"))
    l1 = e.withColumn(
        "before_id", F.max(eligible).over(w.rowsBetween(Window.unboundedPreceding, -1))["child_id"]
    ).withColumn(
        "after_id", F.min(eligible).over(w.rowsBetween(1, Window.unboundedFollowing))["child_id"]
    )
    # per-parent digest: blankness + first/last non-blank leaf (one pass,
    # same shuffle key as the windows above)
    digest = e.groupBy("parent_id").agg(
        F.max(~F.col("__blank")).alias("any_nb"),
        F.min(eligible).alias("first_nb"),
        F.max(eligible).alias("last_nb"),
    )
    # parent level: the same nearest-non-blank windows over parent siblings
    pe = parent_edges.select(
        F.col("parent_id").alias("gp_id"),
        F.col("child_id").alias("parent_id"),
        F.col("idx").alias("pidx"),
    ).join(digest, "parent_id", "left")
    pw = Window.partitionBy("gp_id").orderBy("pidx")
    p_eligible = F.when(
        F.coalesce("any_nb", F.lit(False)), F.struct(F.col("pidx"), F.col("parent_id"))
    )
    p1 = pe.withColumn(
        "prev_parent",
        F.max(p_eligible).over(pw.rowsBetween(Window.unboundedPreceding, -1))["parent_id"],
    ).withColumn(
        "next_parent",
        F.min(p_eligible).over(pw.rowsBetween(1, Window.unboundedFollowing))["parent_id"],
    ).select("parent_id", "prev_parent", "next_parent")
    # descend: last non-blank leaf of the previous parent / first of the next
    last_of = digest.select(
        F.col("parent_id").alias("prev_parent"), F.col("last_nb")["child_id"].alias("esc_before")
    )
    first_of = digest.select(
        F.col("parent_id").alias("next_parent"), F.col("first_nb")["child_id"].alias("esc_after")
    )
    return (
        l1.join(p1, "parent_id", "left")
        .join(last_of, "prev_parent", "left")
        .join(first_of, "next_parent", "left")
        .select(
            "parent_id",
            "child_id",
            "idx",
            F.coalesce("before_id", "esc_before").alias("before_id"),
            F.coalesce("after_id", "esc_after").alias("after_id"),
        )
    )


def display_class(
    nodes: DataFrame, *, max_iter: int = 8, strategy: str = "doubling"
) -> DataFrame:
    """Resolve the reference's display-class recursion (``is_span`` /
    ``is_block``, assemblage_db/src/lib.rs:347-380) over a node relation
    ``(node_id, kind, child_id)``.

    ``kind`` ∈ {text, chain, page, span_styled, block_styled}; ``child_id``
    is a styled wrapper's single child (null otherwise). Text and chain
    lists render as spans, page lists and block-styled wrappers as blocks;
    a span-styled wrapper takes the class of its child — a recursion the
    reference guards with a visited set. A wrapper whose chain has no
    non-wrapper within ``max_iter`` children (a styled cycle, or deeper
    nesting than the bound) falls back to block, matching the reference's
    cycle guard. A dangling child pointer also classifies as block.

    ``strategy='doubling'`` (default) is pointer doubling / path
    compression: compose the one-step relation with itself, so a
    ``max_iter`` of 2^k costs k+1 joins instead of 2^k — ceil(log2) shuffle
    rounds at 100 TB. ``max_iter`` is decomposed in binary, so any bound is
    scanned EXACTLY (no overshoot past the cycle guard).
    ``strategy='chase'`` is the literal per-hop loop: more rounds, but each
    round only carries the shrinking unresolved set.
    """
    base = (
        F.when(F.col("kind").isin("text", "chain"), F.lit("span"))
        .when(F.col("kind").isin("page", "block_styled"), F.lit("block"))
    )
    lut = nodes.select("node_id", base.alias("dc"), "child_id")

    if strategy == "doubling":
        # T_k(x): scan the k-node chain x, child(x), ... — dc = class of the
        # first non-wrapper found (null if all wrappers), cur = the pointer
        # after k nodes (to continue composition). T_{a+b} = T_a then T_b.
        def compose(a: DataFrame, b: DataFrame) -> DataFrame:
            bb = b.select(
                F.col("node_id").alias("cur"),
                F.col("dc").alias("dc_b"),
                F.col("cur").alias("cur_b"),
            )
            return a.join(bb, "cur", "left").select(
                "node_id",
                F.coalesce("dc", "dc_b").alias("dc"),
                F.when(F.col("dc").isNotNull(), F.col("cur"))
                .otherwise(F.col("cur_b"))
                .alias("cur"),
            )

        t1 = lut.select("node_id", "dc", F.col("child_id").alias("cur"))
        total, power = None, t1
        k = max_iter
        first = True
        while k:
            if k & 1:
                total = power if first else compose(total, power)
                first = False
            k >>= 1
            if k:
                power = compose(power, power)
        # wrapper w scans its CHILD chain: look T_{max_iter} up at child_id
        chain = total.select(
            F.col("node_id").alias("child_id"), F.col("dc").alias("chain_dc")
        )
        out = lut.join(chain, "child_id", "left").select(
            "node_id",
            F.coalesce("dc", "chain_dc", F.lit("block")).alias("dc"),
        )
        return nodes.join(out, "node_id", "left").select(
            *nodes.columns, F.coalesce("dc", F.lit("block")).alias("display_class")
        )

    done = lut.filter(F.col("dc").isNotNull()).select("node_id", "dc")
    todo = lut.filter(F.col("dc").isNull()).select(
        "node_id", F.col("child_id").alias("cur")
    )
    step = lut.select(
        F.col("node_id").alias("cur"), "dc", F.col("child_id").alias("nxt")
    )
    for _ in range(max_iter):
        probed = todo.join(step, "cur")
        done = done.unionByName(
            probed.filter(F.col("dc").isNotNull()).select("node_id", "dc")
        )
        todo = probed.filter(F.col("dc").isNull()).select(
            "node_id", F.col("nxt").alias("cur")
        )
    done = done.unionByName(todo.select("node_id", F.lit("block").alias("dc")))
    # left join + coalesce: a dangling child pointer (chase row dropped by
    # the inner probe join) classifies as block rather than vanishing
    return nodes.join(done, "node_id", "left").select(
        *nodes.columns, F.coalesce("dc", F.lit("block")).alias("display_class")
    )


def descendants_until_links(
    edges: DataFrame,
    roots: DataFrame,
    *,
    max_depth: int,
    link_col: str = "is_link",
    broadcast_frontier: bool = False,
) -> DataFrame:
    """Link-bounded transitive closure (``descendants_until_links``,
    assemblage_db/src/lib.rs:695-797): a child reached through a link edge
    IS included but never expanded — the reference stops descending at
    block-inside-span boundaries. ``edges`` carries a boolean ``link_col``
    per edge.

    Bounded forest walk: one probe of the edge relation per level,
    frontiers eagerly materialized (left lazy, the union's depth-d branch
    would re-derive joins 1..d); a child reached through a link is kept
    but filtered out of the next frontier (``NOT is_link``).
    """
    e = edges.select("parent_id", "child_id", F.col(link_col).alias("__link"))
    frontier = roots.select("node_id").distinct()
    out = frontier.withColumn("depth", F.lit(0))
    for depth in range(1, max_depth + 1):
        f = frontier.withColumnRenamed("node_id", "parent_id")
        if broadcast_frontier:
            f = F.broadcast(f)
        step = e.join(f, "parent_id").localCheckpoint(eager=True)
        out = out.unionByName(
            step.select(F.col("child_id").alias("node_id")).withColumn(
                "depth", F.lit(depth)
            )
        )
        frontier = step.filter(~F.col("__link")).select(
            F.col("child_id").alias("node_id")
        )
    return out
