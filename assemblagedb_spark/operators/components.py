"""Connected components via label propagation — the GraphX-style analytics
layer over the engine's edge relation (BASELINE.json north star: "GraphX for
analytics queries", re-expressed as DataFrame rounds).

Each round every node takes the min label in its closed neighborhood; once
no label changes the labels are exactly the per-component minimum node id
(classic synchronous label propagation — the Pregel loop GraphX ships, as a
join + aggregate per round).

Scale design: per round the work is ONE |E| join + one |V| aggregate — no
transitive closure is ever materialized, so hub nodes cause no row
explosion. (Each round does pay its own exchanges: a checkpointed label
relation exposes no partitioning for Catalyst to reuse — see the
k_core_delta pin note.) The loop probes convergence instead of trusting a
diameter guess: each round's labels are checkpointed anyway, the
changed-label count rides that checkpoint job, and the loop exits the first
round nothing changes — exact components on any graph, bounded by
``_LP_MAX_ROUNDS`` as a runaway guard that raises instead of returning
unconverged labels.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, functions as F

# label propagation's runaway guard: a component whose diameter reaches it
# would come back under-merged, so exhausting it raises
_LP_MAX_ROUNDS = 200


def label_propagation_components(
    edges: DataFrame,
    *,
    copartition: bool = True,
) -> DataFrame:
    """(node_id, component) labels from synchronous min-label propagation,
    iterated until no label changes: exact components on any graph (stops
    after diameter+1 rounds). Raises ``RuntimeError`` when the labels have
    not stabilized within ``_LP_MAX_ROUNDS`` rounds.

    ``edges``: (parent_id, child_id), treated as undirected (components
    of the underlying undirected graph is the standard CC semantics).
    """
    fwd = edges.select(
        F.col("parent_id").alias("src"), F.col("child_id").alias("dst")
    )
    und = fwd.unionByName(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    # ``copartition``: hash-partition on src before caching — the
    # InMemoryRelation keeps its outputPartitioning, so every round's
    # label join reuses the cached layout instead of re-shuffling |E|
    # per round (same co-location move as pagerank_rounds; A/B-measured
    # there). Callers feeding a provably-tiny relation (the union-find
    # contraction finisher) pass False: a 32-way exchange + 32 tasks per
    # round on a few hundred contracted edges is pure overhead
    # (interleaved A/B on dedup_clusters: ~0.3s slower with it).
    und = und.distinct()
    if copartition:
        parts = edges.sparkSession.sparkContext.defaultParallelism
        und = und.repartition(parts, "src")
    und = und.persist()
    labels = (
        und.select(F.col("src").alias("node_id"))
        .distinct()
        .withColumn("component", F.col("node_id"))
    )
    try:
        for _ in range(_LP_MAX_ROUNDS):
            # labels flow src -> dst over the symmetrized relation
            neigh = (
                und.join(
                    labels.select(
                        F.col("node_id").alias("src"),
                        F.col("component").alias("nl"),
                    ),
                    "src",
                )
                .groupBy("dst")
                .agg(F.min("nl").alias("nl"))
                .withColumnRenamed("dst", "node_id")
            )
            # the changed-label probe RIDES the checkpoint job via
            # observe() (one job per round, not checkpoint + a second
            # changed-count scan), so probing every round costs no job;
            # an over-count under task retries only delays exit by a
            # no-op round (propagation past convergence is the
            # identity), an under-count cannot happen, so convergence
            # stays exact
            obs = Observation()
            nxt = (
                labels.join(neigh, "node_id", "left")
                .select(
                    "node_id",
                    F.col("component").alias("prev"),
                    F.least(
                        "component", F.coalesce("nl", F.col("component"))
                    ).alias("component"),
                )
                .observe(
                    obs,
                    F.sum(
                        (F.col("component") != F.col("prev")).cast("long")
                    ).alias("changed"),
                )
                .localCheckpoint(eager=True)  # one round computed once
            )
            labels = nxt.select("node_id", "component")
            if (obs.get["changed"] or 0) == 0:
                return labels
    finally:
        und.unpersist()
    raise RuntimeError(
        "label_propagation_components: labels did not stabilize within "
        f"_LP_MAX_ROUNDS={_LP_MAX_ROUNDS} rounds; a component's diameter "
        "exceeds the cap"
    )


# PageRank's integer fixed point: ranks are BIGINT multiples of
# 1/_PR_SCALE, damped by _PR_DAMPING_PCT percent — the same two values the
# DuckDB oracles render (harness._o_pagerank / _o_ppr defaults)
_PR_SCALE = 1_000_000
_PR_DAMPING_PCT = 85


def pagerank_rounds(
    edges: DataFrame,
    *,
    rounds: int,
    seeds: DataFrame | None = None,
) -> DataFrame:
    """Fixed-point integer PageRank: ``rounds`` synchronous iterations
    with ranks held as BIGINT multiples of 1/``_PR_SCALE`` and
    integer-division contributions — every engine computes bit-identical
    ranks (no float summation order), which is what makes the result
    oracle-comparable (the oracle unrolls the same rounds).

    ``seeds``: the reset vector. ``None`` makes every node a seed —
    global PageRank (initial rank ``_PR_SCALE`` and teleport term on
    every node). A (node_id) frame gives personalized PageRank (random
    walk with restart): initial rank and teleport mass land ONLY on the
    seeds — the similarity ranking "which nodes does a walk from THESE
    nodes keep reaching" (recommendation / related-documents queries
    over the near-dup or citation graph). The seed set is broadcast
    into the seed-flag join. One loop serves both, as GraphX runs both
    as one Pregel program that differs only in its reset vector.

    Per round: one |E| join (contribution = rank div out-degree), one |V|
    aggregate — same shuffle shape as the Pregel PageRank GraphX ships.
    Dangling mass is dropped (nodes with no outgoing edges contribute
    nothing), the common simplification for bounded-round analytics.

    The edge cache is hash-partitioned on ``src`` BEFORE persisting:
    unlike a localCheckpoint, an InMemoryRelation keeps its
    outputPartitioning, so every round's contribution join and the
    out-degree aggregate reuse the cached layout instead of re-shuffling
    |E| per round — the standard co-location move for iterative graph
    jobs (interleaved A/B at sf0.1: ~1.4x faster, identical ranks; at
    corpus scale it removes rounds x |E| shuffle traffic).
    """
    parts = edges.sparkSession.sparkContext.defaultParallelism
    e = edges.select(
        F.col("parent_id").alias("src"), F.col("child_id").alias("dst")
    ).distinct().repartition(parts, "src").persist()
    nodes = (
        e.select(F.col("src").alias("node_id"))
        .unionByName(e.select(F.col("dst").alias("node_id")))
        .distinct()
    )
    # global PageRank carries no seed column: the constant flag folds
    # away, so its rounds pin (node_id, rank) only
    keep, is_seed = ["node_id"], F.lit(True)
    if seeds is not None:
        seed_flag = seeds.select(F.col("node_id")).distinct().withColumn(
            "__is_seed", F.lit(True)
        )
        nodes = nodes.join(F.broadcast(seed_flag), "node_id", "left").select(
            "node_id", F.coalesce("__is_seed", F.lit(False)).alias("is_seed")
        )
        keep, is_seed = ["node_id", "is_seed"], F.col("is_seed")
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    base = (100 - _PR_DAMPING_PCT) * _PR_SCALE // 100
    teleport = F.when(is_seed, F.lit(base)).otherwise(F.lit(0))
    ranks = nodes.withColumn(
        "rank",
        F.when(is_seed, F.lit(_PR_SCALE)).otherwise(F.lit(0)).cast("long"),
    )
    for _ in range(rounds):
        contrib = (
            e.join(ranks.withColumnRenamed("node_id", "src"), "src")
            .join(outdeg, "src")
            .select("dst", F.expr("rank div outdeg").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("in_sum"))
            .withColumnRenamed("dst", "node_id")
        )
        ranks = (
            ranks.select(*keep)
            .join(contrib, "node_id", "left")
            .select(
                *keep,
                (
                    teleport
                    + F.expr(
                        f"({_PR_DAMPING_PCT} * coalesce(in_sum, 0)) div 100"
                    )
                ).cast("long").alias("rank"),
            )
            .localCheckpoint(eager=True)
        )
    e.unpersist()
    return ranks.select("node_id", "rank")


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-node triangle participation counts — the third canonical graph
    analytic next to components/PageRank (GraphX ``triangleCount``).

    Each triangle is enumerated exactly once as e(a,b) ⋈ e(b,c) ⋈
    e(a,c) over DEGREE-ORDERED oriented edges — two equi-joins, no
    wedge ever materialized twice. Every node of the input edge set
    gets a row (0 if triangle-free).

    Orientation (round 10): edges point from the lower to the higher
    endpoint under the total order (degree, id) — the classic
    degree-ordered orientation (Chiba–Nishizeki / Schank–Wagner): the
    wedge join's cost is Σ out-deg(v)² and orienting toward the
    higher-degree endpoint caps every out-degree by O(√m) (more
    precisely by the graph's arboricity-class bound), so hub nodes
    stop dominating — the previous id-ordered orientation left a hub's
    full degree on the out side and cost Σ deg(v)² (the sf1-class
    scaling leg measured that blow-up at 559s full compute). The
    triangle SET is
    orientation-independent, so the result — and the oracle — are
    unchanged; the extra work is one degree aggregate + two joins to
    attach degrees before orienting, below the pinned edge relation.

    Block lifetime: the oriented edges are pinned by an eager
    ``localCheckpoint`` that the returned frame reads lazily, so they are
    released only when that frame (and every frame derived from it) is
    garbage-collected — a long-lived loop drops its references and runs
    ``gc.collect()`` between calls (tools/scale_leg.py does).
    """
    und = edges.select(
        F.least("parent_id", "child_id").alias("u"),
        F.greatest("parent_id", "child_id").alias("v"),
    ).filter(F.col("u") != F.col("v")).distinct()
    # total order (degree, id): one symmetric-degree aggregate over the
    # deduped undirected edges, attached to both endpoints
    deg = (
        und.select(F.col("u").alias("n"))
        .unionByName(und.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    keyed = (
        und.join(deg.select(F.col("n").alias("u"), F.col("d").alias("du")), "u")
        .join(deg.select(F.col("n").alias("v"), F.col("d").alias("dv")), "v")
    )
    lower_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    # eager localCheckpoint, NOT persist: the returned frame is lazy, and
    # the previous persist() was unpersisted before the caller's action
    # ever ran, so the cache never substituted and the edge pipeline
    # re-executed once per reference (4x — a latent round-9 bug this
    # round's plan pin now catches: the enumeration plan must carry NO
    # joins below the pinned edge relation)
    e = keyed.select(
        F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("u"),
        F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("v"),
    ).localCheckpoint(eager=True)
    e1 = e.select(F.col("u").alias("a"), F.col("v").alias("b"))
    e2 = e.select(F.col("u").alias("b"), F.col("v").alias("c"))
    e3 = e.select(F.col("u").alias("a"), F.col("v").alias("c"))
    tri = e1.join(e2, "b").join(e3, ["a", "c"])
    # one explode, not a 3-branch union: Catalyst does not share common
    # subtrees across union branches, so the union formulation executed
    # the two-join triangle enumeration THREE times (round-9 plan audit:
    # 3 copies of the join tree, noop-timed 8.1s -> 3.7s at sf0.1 with
    # identical output). explode(array(a,b,c)) feeds the same partial
    # aggregation from a single copy of the join.
    per_node = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("node_id"))
        .groupBy("node_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    )
    nodes = (
        e.select(F.col("u").alias("node_id"))
        .unionByName(e.select(F.col("v").alias("node_id")))
        .distinct()
    )
    return nodes.join(per_node, "node_id", "left").select(
        "node_id",
        F.coalesce("n_triangles", F.lit(0)).cast("long").alias("n_triangles"),
    )


def contraction_pass(rel: DataFrame) -> DataFrame:
    """One union-find contraction level: a (src, dst) edge relation in, a
    (src=root, dst=node) star relation out — ONE MapInPandas over the
    input's existing partitioning, no exchange (plan-pinned). The closure
    pickles by value, so no worker-side package import is needed."""
    from pyspark.sql.types import StructField, StructType

    node_type = rel.schema["src"].dataType
    star_schema = StructType(
        [StructField("src", node_type), StructField("dst", node_type)]
    )

    def _contract(batches):
        import pandas as pd

        parent: dict = {}

        def find(x):
            r = parent.setdefault(x, x)
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:
                parent[x], x = r, parent[x]
            return r

        for pdf in batches:
            for a, b in zip(pdf["src"].tolist(), pdf["dst"].tolist()):
                ra, rb = find(a), find(b)
                if ra != rb:
                    if rb < ra:
                        ra, rb = rb, ra
                    parent[rb] = ra
        nodes = list(parent)
        # (root, node) stars; roots emit their (root, root) row too, so
        # the node universe survives every level intact
        yield pd.DataFrame(
            {"src": [find(n) for n in nodes], "dst": nodes}
        )

    return rel.mapInPandas(_contract, schema=star_schema)


# contracted_components' pass budget and per-level partition fan-in
# (see the docstring: _CONTRACTION_FANIN bounds each task's union-find dict)
_CONTRACTION_LEVELS = 3
_CONTRACTION_FANIN = 16


def contracted_components(edges: DataFrame) -> DataFrame:
    """Connected components via partition-local union-find contraction —
    the "local sequential step" of large-scale CC systems (Kiveris et al.,
    SoCC'14 §4 use the same idea to cut rounds) — finished by
    convergence-probed min-label propagation on the contracted graph.

    Phase 1 (per level): ONE Arrow pass over the raw edge partitions —
    union-find needs neither symmetry nor dedup, so unlike the
    propagation loop the input is never shuffled first. Each partition
    union-finds the edges it holds (min-id roots, path-compressed) and
    emits its components as (root, node) stars. Replacing a partition's
    edges by a star over the same nodes
    preserves connectivity, so the union of stars across partitions has
    exactly the input's components — but every within-partition path is
    now ≤2 hops. Each level feeds its stars to the next with
    ``_CONTRACTION_FANIN``× fewer partitions (a shuffle-free
    ``coalesce``), so level 2 sees most
    of a component's stars in one task and collapses the cross-partition
    chains as well.

    Phase 2: :func:`label_propagation_components` over the final star
    relation (it probes from round 0). On typical graphs the
    contraction has already converged and the loop exits at the first
    probe; on adversarial layouts (a chain whose every edge landed in a
    different partition) it simply runs the remaining rounds — exactness
    NEVER depends on the contraction having finished the job.

    Output: (node_id, component), component = global min node id —
    identical to :func:`label_propagation_components` (roots are
    per-partition minima; the finisher takes the global min). Undirected
    semantics only.

    Scale: union-find state is one dict entry per DISTINCT node in the
    task's input and never leaves the executor — no driver collect, no
    broadcast, no assumption the graph fits anywhere whole. Arrow
    batches stream through the pass; only the node dict is resident.
    ``_CONTRACTION_FANIN`` is therefore a memory knob, not just a round
    knob: a level-k task sees at most that many level-(k-1) partitions'
    star rows, so its dict is bounded by it × nodes-per-partition
    (less when partitions share nodes, which is the whole point). Keep
    it modest on node-dense graphs and let the probed finisher absorb
    whatever the contraction didn't collapse — exactness never depends
    on the contraction converging. Where min-label propagation pays
    diameter rounds of |E| shuffle each, this pays 2 map-side passes +
    the few rounds the contracted graph still needs.
    """
    fwd = edges.select(
        F.col("parent_id").alias("src"), F.col("child_id").alias("dst")
    )
    # Python's None is not orderable inside the union-find: a half-null
    # edge collapses to a self-loop so its real endpoint still gets its
    # singleton label row (matching the propagation loop, which keeps
    # such nodes in the universe; only the degenerate all-null row —
    # which propagation emits and contraction doesn't — differs)
    fwd = fwd.filter(
        F.col("src").isNotNull() | F.col("dst").isNotNull()
    ).select(
        F.coalesce("src", "dst").alias("src"),
        F.coalesce("dst", "src").alias("dst"),
    )
    # level 0 runs on the input's own partitioning; each further level
    # coalesces fanin× and re-contracts, STOPPING EARLY once the star
    # relation fits one partition (that task union-finds the whole
    # contracted graph, so the finisher exits at its first probe). The
    # early exit matters both ways: a single-partition input skips the
    # extra levels entirely, and a small graph arriving in many
    # partitions (e.g. pairs derived from a 32-way-parallelized build —
    # the round-8 dedup_clusters regression: 2.3 → 4-6s when the minhash
    # fold went 32-wide) collapses fully instead of leaving
    # cross-partition chains to diameter-priced finisher rounds. The
    # localCheckpoint makes getNumPartitions a metadata read, and
    # ``_CONTRACTION_LEVELS`` still caps the pass count at scale (a
    # 1000-partition corpus stops at 1000 → 63 → 4, each task's
    # union-find dict fanin-bounded exactly as before).
    cur = contraction_pass(fwd).localCheckpoint(eager=True)
    for _ in range(1, _CONTRACTION_LEVELS):
        n_parts = cur.rdd.getNumPartitions()
        if n_parts <= 1:
            break
        cur = contraction_pass(
            cur.coalesce(max(1, n_parts // _CONTRACTION_FANIN))
        ).localCheckpoint(eager=True)
    # Exactness shortcut: mapInPandas is partition-preserving, so the
    # checkpointed star relation has exactly its pass's input
    # partition count — if that is ONE, the last union-find task saw
    # every edge of the (contracted) graph and its per-task min-id
    # roots ARE the global components. The finisher would symmetrize,
    # persist and probe one propagation round just to confirm the
    # fixed point; skip it and emit the stars as labels directly
    # ((root, node) rows cover every node exactly once, roots
    # included). The condition is checked mechanically at runtime —
    # a multi-partition relation still takes the probed finisher, so
    # exactness never rests on the contraction having converged.
    # Assumption (ADVICE r9): node ids must order identically under
    # Python's `<` (the union-find's min-root choice) and Spark's
    # ordering (the finisher's F.min) for the two branches to agree —
    # true for the integral/string ids every caller feeds; a float
    # graph with NaN ids or mixed-type ids is outside the contract.
    if cur.rdd.getNumPartitions() == 1:
        return cur.select(
            F.col("dst").alias("node_id"), F.col("src").alias("component")
        )
    return label_propagation_components(
        cur.select(
            F.col("src").alias("parent_id"), F.col("dst").alias("child_id")
        ),
        copartition=False,  # contracted relation is tiny by construction
    )


def _symmetrized(edges: DataFrame) -> DataFrame:
    """Both orientations of (parent_id, child_id) in ONE input scan —
    explode emits the forward and reverse row per edge, so the map side
    reads the edge relation once (a two-branch union scans it twice);
    self-loops dropped."""
    return (
        edges.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("parent_id").alias("u"),
                        F.col("child_id").alias("v"),
                    ),
                    F.struct(
                        F.col("child_id").alias("u"),
                        F.col("parent_id").alias("v"),
                    ),
                )
            ).alias("uv")
        )
        .select("uv.u", "uv.v")
        .filter(F.col("u") != F.col("v"))
    )


# rewrite-vs-tail pivot for k_core_delta: a rewrite round moves
# O(n_alive) rows through one shuffle+sort+pin, a tail round touches
# ≤ Σ edeg(frontier) candidate rows through broadcast joins (both pay
# the flat edge scan) — switch to tail rounds once the candidate
# fringe is this factor smaller than the alive table
_KCORE_TAIL_FACTOR = 8
# k_core_delta's runaway guard (each round peels at least one node, so |V|
# rounds always suffice) and its broadcast cap in rows (~2M ids ≈ tens of
# MB, safely under executor/driver broadcast limits)
_KCORE_MAX_ROUNDS = 100
_KCORE_BROADCAST_MAX_DEAD = 2_000_000


def k_core_delta(
    edges: DataFrame,
    k: int,
    *,
    assume_distinct: bool = False,
) -> DataFrame:
    """The k-core of the undirected simple graph: iteratively peel every
    node whose current degree is below ``k`` (all at once per round) until
    the surviving subgraph is stable. Output: (node_id, degree) for core
    members, with degree counted INSIDE the core — the densest-region
    extractor used for community seeds and hub detection (the GraphX
    ``connectedComponents``-family analytic Spark itself never shipped).
    The SQL oracle unrolls a fixed count of simultaneous peel rounds past
    measured convergence, which matches because peeling is monotone (once
    stable, further rounds are identity). Raises ``RuntimeError`` when a
    dead frontier is still pending after ``_KCORE_MAX_ROUNDS`` rounds.

    ``assume_distinct``: the input rows are already distinct DIRECTED
    edges and no reverse duplicate exists (e.g. a typed hierarchy where
    parent and child id spaces are disjoint) — skips the symmetrized
    3-way distinct, which is otherwise the single most expensive shuffle
    of the whole job (measured ~half the sf0.1 wall time).

    Frontier-delta formulation: instead of re-scanning the full
    alive-restricted edge set every round (the simultaneous peel),
    maintain a degree table and propagate only the DELTAS — each round
    joins the edge set against the nodes that died LAST round and
    decrements their surviving neighbors' degrees.

    Cost shape per round: |dead_frontier ⋈ E| (frontier-bounded, like
    BFS) plus an O(|V_alive|) degree-table rewrite — vs the simultaneous
    peel's O(|E_alive|) rescan. On graphs where peeling runs many rounds
    and each round kills few nodes (the long-tail regime at corpus
    scale, where |E| >> |V|), the delta form does asymptotically less
    work. Tests pin it against a plain-Python simultaneous peel.

    A node dies exactly once (new deaths are computed among the alive
    set only), so each edge to a dead endpoint is decremented exactly
    once and the final degree equals the degree within the surviving
    core — identical output columns (node_id, degree).

    ``_KCORE_BROADCAST_MAX_DEAD``: the convergence probe counts each
    round's dead frontier exactly, so the frontier join broadcasts the
    dead side only while ``n_dead <= _KCORE_BROADCAST_MAX_DEAD`` and
    otherwise lets the planner shuffle. Without the
    hint the checkpointed edge blocks expose no partitioning, so the
    round-0 frontier join (the one big frontier: every initially-
    under-k node) re-shuffles the FULL edge relation; broadcasting the
    frontier keeps every round's scan exchange-free (interleaved A/B at
    sf0.1: ~8.6s → ~5.4s end to end, identical output).

    Round-10 restructure (measured round anatomy at sf0.1: the
    O(|V_alive|) shuffle+sort+re-pin of the degree table cost
    0.65–1.0 s/round even for a 40-node frontier, while the frontier
    work itself was milliseconds): the loop now runs two round shapes,
    chosen per round from its OWN runtime statistics. While the dying
    fringe is of the same order as the table (``Σ edeg(frontier) ·
    _KCORE_TAIL_FACTOR > n_alive``, e.g. the first peel of a
    leaf-heavy graph where half of V dies at once), a REWRITE round
    re-pins the alive degree table — the old shape, optimal when most
    rows change. Once the fringe is an order smaller (the long
    shrinking-frontier tail, the common peel profile), a TAIL round
    pins ONE candidate table — ``(u, deg, edeg, dec)`` for the ≤ Σ
    edeg(frontier) nodes adjacent to the frontier — built from
    broadcast joins over pinned blocks only: current degree =
    ``base.deg − Σ tail decs``, and decrements only lower it, so a
    node dead once stays dead with no dead-set bookkeeping. ``edeg``
    (each node's degree in the STATIC symmetrized edge relation) rides
    along through rewrites because ``Σ edeg(frontier)`` — returned by
    each round's single probe aggregate, together with the frontier
    count — is an EXACT upper bound on the next round's candidate
    count: every broadcast is gated on it BEFORE the round is planned
    (the same runtime-stats-guard pattern as
    :func:`~assemblagedb_spark.operators.traversal.descendants`), and
    past ``_KCORE_BROADCAST_MAX_DEAD`` the loop simply consolidates with a
    rewrite round. Candidates already dead before a tail round are
    dropped from its pinned table: their accumulated decrements put
    them permanently under k at their death round, so the final ≥ k
    filter never resurrects them and no later round consults their
    cum. At 100 TB the tail — however long — pays O(|frontier
    neighborhood|) per round plus the flat edge scan, never
    rounds × |V|."""
    sym = _symmetrized(edges)
    if not assume_distinct:
        sym = sym.distinct()
    # compact into defaultParallelism balanced blocks before pinning,
    # keyed on v. Measured on the simultaneous peel this loop replaced,
    # which pinned the same relation keyed on u. What this buys
    # (interleaved A/B at sf0.1): every round scans fewer, even-sized
    # in-memory blocks than the raw input layout (~15% total). What it
    # does NOT buy: Catalyst never reuses the hash partitioning — a
    # groupBy/join over repartition(key).localCheckpoint still plans an
    # Exchange (checkpointed blocks expose no partitioning; verified).
    # Keyed, not round-robin: repartition(n) without a key adds a
    # determinism sort to every map task, measured slower than the
    # hash-keyed write.
    parts = edges.sparkSession.sparkContext.defaultParallelism

    def _pin_e() -> DataFrame:
        return sym.repartition(parts, "v").localCheckpoint(eager=True)

    dead0 = F.col("deg") < k

    def _probe_aggs():
        # frontier count, Σ edeg over it (the broadcast-safety bound for
        # the next candidate set), and the alive count (the rewrite-vs-
        # tail pivot). Rides the pin job via observe() — no separate
        # probe scan; retry over-counts only push the guards toward the
        # conservative (shuffle / rewrite) branch
        return (
            F.sum(dead0.cast("long")).alias("n_front"),
            F.sum(F.when(dead0, F.col("edeg"))).alias("bound"),
            F.sum((~dead0).cast("long")).alias("n_alive"),
        )

    def _pin_base(src: DataFrame) -> tuple[DataFrame, "Observation"]:
        # base carries (deg = current degree, edeg = degree in the
        # static edge relation e). Initially equal; rewrites update deg.
        obs = Observation()
        pinned = (
            src.groupBy("u")
            .agg(F.count(F.lit(1)).cast("long").alias("deg"))
            .withColumn("edeg", F.col("deg"))
            .observe(obs, *_probe_aggs())
            .localCheckpoint(eager=True)
        )
        return pinned, obs

    if assume_distinct:
        # the two setup pins are independent jobs over the same input —
        # overlap them (guide §2.6) instead of serializing two full
        # passes; with a distinct() in sym they would each re-run the
        # dedup shuffle, so that case derives base from the pinned e
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=2) as pool:
            f_e = pool.submit(_pin_e)
            f_base = pool.submit(_pin_base, sym)
            e, (base, obs0) = f_e.result(), f_base.result()
    else:
        e = _pin_e()
        base, obs0 = _pin_base(e)
    st = obs0.get
    n_front = st["n_front"] or 0
    bound = st["bound"] or 0
    n_alive = st["n_alive"] or 0
    # frontier = nodes that died exactly this round (round 0: initial
    # degree below k) — always a lazy filter over pinned blocks
    frontier = base.filter(dead0).select("u")
    # pinned (u, dec) relations of the tail rounds since the last
    # rewrite; base.deg minus their sum is the current degree
    decs: list[DataFrame] = []
    dec_rows = 0
    rounds_left = _KCORE_MAX_ROUNDS

    def _cum(rels: list[DataFrame], rows: int):
        cur = rels[0]
        for d in rels[1:]:
            cur = cur.unionByName(d)
        cum = cur.groupBy("u").agg(F.sum("dec").cast("long").alias("cum"))
        # total decrement rows were exactly counted, so the full-table
        # join can stream the pinned base blocks against a broadcast —
        # no |V| shuffle
        return F.broadcast(cum) if rows <= _KCORE_BROADCAST_MAX_DEAD else cum

    def _degrees():
        if not decs:
            return base
        return base.join(_cum(decs, dec_rows), "u", "left").select(
            "u",
            (F.col("deg") - F.coalesce("cum", F.lit(0))).alias("deg"),
            "edeg",
        )

    while n_front > 0 and rounds_left > 0:
        rounds_left -= 1
        if (
            bound <= _KCORE_BROADCAST_MAX_DEAD
            and bound * _KCORE_TAIL_FACTOR <= n_alive
        ):
            # TAIL round: the candidate table (nodes adjacent to the
            # frontier, ≤ bound rows by the probe's exact Σ edeg) is
            # built with broadcast joins only and pinned in ONE job —
            # the decrement kernel is ONE reused broadcast (ReuseExchange
            # dedupes the second reference), so the edge relation is
            # scanned once and nothing |V|-sized is shuffled or re-pinned
            dec = F.broadcast(
                e.join(
                    F.broadcast(frontier.select(F.col("u").alias("v"))),
                    "v",
                )
                .groupBy("u")
                .agg(F.count(F.lit(1)).cast("long").alias("dec"))
            )
            cand = base.join(dec, "u")
            if decs:
                prior = decs[0]
                for d in decs[1:]:
                    prior = prior.unionByName(d)
                # restrict the prior-decrement sum to this round's
                # candidates through the SAME broadcast (so the
                # aggregate is candidate-sized), and let the left join
                # ride the pin job's exchanges — both sides are
                # candidate-sized, and a broadcast build here would be
                # one more driver-side job per round for no byte saving
                prev_c = (
                    prior.select("u", F.col("dec").alias("pdec"))
                    .join(dec, "u")
                    .groupBy("u")
                    .agg(F.sum("pdec").cast("long").alias("cum"))
                )
                cand = cand.join(prev_c, "u", "left")
            else:
                cand = cand.withColumn("cum", F.lit(None).cast("long"))
            # a candidate dies now iff this round's decrements push it
            # under k (pre ≥ k is already guaranteed by the row filter);
            # the probe rides the pin job via observe()
            died = F.col("pre") - F.col("dec") < k
            robs = Observation()
            roundtbl = (
                cand.select(
                    "u",
                    "deg",
                    "edeg",
                    "dec",
                    (F.col("deg") - F.coalesce("cum", F.lit(0))).alias(
                        "pre"
                    ),
                )
                # candidates already dead before this round carry no
                # information (see docstring) — drop them so every
                # later prior-scan and the final cum join stay
                # alive-candidate-sized
                .filter(F.col("pre") >= k)
                .observe(
                    robs,
                    F.count(F.lit(1)).alias("m"),
                    F.sum(died.cast("long")).alias("n_new"),
                    F.sum(F.when(died, F.col("edeg"))).alias("bound"),
                )
                .localCheckpoint(eager=True)
            )
            st = robs.get
            m, n_new, bound = st["m"] or 0, st["n_new"] or 0, st["bound"] or 0
            n_alive -= n_new
            n_front = n_new
            frontier = roundtbl.filter(died).select("u")
            decs.append(roundtbl.select("u", "dec"))
            dec_rows += m
            if len(decs) > 16:
                # compact: one pinned (u, Σdec) relation keeps the
                # per-round union (and its plan) bounded on long peels
                prior = decs[0]
                for d in decs[1:]:
                    prior = prior.unionByName(d)
                cobs = Observation()
                compacted = (
                    prior.groupBy("u")
                    .agg(F.sum("dec").cast("long").alias("dec"))
                    .observe(cobs, F.count(F.lit(1)).alias("n"))
                    .localCheckpoint(eager=True)
                )
                dec_rows = cobs.get["n"] or 0
                decs = [compacted]
        else:
            # REWRITE round: most of the table is changing (or the
            # candidate set may not fit a broadcast) — consolidate any
            # accumulated decs and re-pin the alive degree table with
            # one O(|V_alive|) shuffle round, the optimal shape when
            # the fringe is of the table's order
            front_v = frontier.select(F.col("u").alias("v"))
            if n_front <= _KCORE_BROADCAST_MAX_DEAD:
                front_v = F.broadcast(front_v)
            dec = (
                e.join(front_v, "v")
                .groupBy("u")
                .agg(F.count(F.lit(1)).cast("long").alias("dec"))
            )
            alive = _degrees().filter(F.col("deg") >= k)
            robs = Observation()
            base = (
                alive.join(dec, "u", "left")
                .select(
                    "u",
                    (F.col("deg") - F.coalesce(F.col("dec"), F.lit(0)))
                    .alias("deg"),
                    "edeg",
                )
                .observe(robs, *_probe_aggs())
                .localCheckpoint(eager=True)
            )
            decs, dec_rows = [], 0
            st = robs.get
            n_front = st["n_front"] or 0
            bound = st["bound"] or 0
            n_alive = st["n_alive"] or 0
            frontier = base.filter(dead0).select("u")
    if n_front > 0:
        # a pending dead frontier means surviving degrees were never
        # decremented for those deaths — returning would be silently
        # wrong (a superset core with sub-k degrees); fail loudly
        raise RuntimeError(
            "k_core_delta: peeling did not stabilize within "
            f"_KCORE_MAX_ROUNDS={_KCORE_MAX_ROUNDS} rounds (each round "
            "peels at least one node, so |V| rounds always suffice)"
        )
    return (
        _degrees()
        .filter(F.col("deg") >= k)
        .select(F.col("u").alias("node_id"), F.col("deg").alias("degree"))
    )
