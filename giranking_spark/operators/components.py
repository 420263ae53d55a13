"""Connected components over the ranking graph (extension surface).

Hash-min label propagation: every vertex starts labeled with its own id and
repeatedly adopts the minimum label in its closed neighborhood until no label
changes. On convergence each component is labeled by its lexicographically
smallest member — a deterministic, engine-independent canonical label, which
is what makes an exact DuckDB oracle possible (recursive CTE over the same
undirected edge set; queries/compq.py).

Scale notes:
- Per iteration: one shuffle (groupBy dst of the propagated labels) + one
  join back to state; lineage is truncated every step with the same
  localCheckpoint/reliable-checkpoint discipline as the rank loop
  (operators/linkrank.py:_checkpoint) — state_{i+1} references state_i
  twice, so an uncheckpointed plan grows exponentially.
- Iteration count is bounded by the graph diameter. For web/host graphs the
  effective diameter is small (tens); for adversarial chain graphs the
  large-star/small-star transform (Kiveris et al., "Connected Components in
  MapReduce and Beyond") drops rounds to O(log n) — implemented below as
  connected_components_star (equivalence-tested against this fixpoint).
- The convergence test ships ONE scalar (changed-label count) to the driver
  per iteration, same contract as the rank loop's aggregates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from giranking_spark.operators.linkrank import (
    _checkpoint,
    _checkpoint_count,
    _checkpoint_nrows,
    _gc_nudge,
    _maybe_broadcast,
    _set_checkpoint_dir_once,
    _should_broadcast_state,
    _state_side,
)

#: hard cap on propagation rounds — a backstop against pathological
#: diameters, far above any web-graph effective diameter.
MAX_ITERATIONS = 50


def _join_state(und: DataFrame, state: DataFrame, bcast: bool):
    """The per-round edges-x-state join, scale-shaped for both regimes.

    Broadcast regime (state under the threshold): broadcast-hash join, the
    edge relation is untouched. Shuffle regime (big state — the 100 TB
    case): SHUFFLE_HASH hint with the vertex-sized state as build side, so
    the src-partitioned persisted edge relation satisfies the join's
    distribution requirement as-is and only the state is exchanged. The
    default sort-merge strategy would re-SORT the edge relation every
    round (the sort, unlike the partitioning, is not persisted) — measured
    15x superlinear at the sf1->sf10 decade."""
    s = _state_side(state, bcast)
    return und.join(s, und.src == s.id)


def _approx_n_vertices(und: DataFrame) -> int:
    """Estimated distinct vertex count for the broadcast-dispatch probe,
    from ONE 1-row aggregate scan of the (persisted) symmetrized relation.
    The exact ``select(src).distinct().count()`` probe this replaces paid a
    full |E| exchange before the loop even started (guide §2.4 — a distinct
    on data used only for a size estimate). The number only picks the join
    STRATEGY (broadcast vs shuffle-hash) and gates the GC nudge — never
    results — and the scan still materializes the persisted relation as a
    side effect, exactly like the count it replaces. The estimate is made
    ONE-SIDED (r14): HLL++'s ~2% relative error could undercount right at
    the broadcast threshold and broadcast a state that is actually over
    the limit (a perf/driver-memory hazard, never a results one), so the
    returned count is inflated by 5% — an overcount only ever falls back
    to the always-safe shuffle-hash regime."""
    return int(und.agg(F.approx_count_distinct("src")).first()[0] * 1.05)


def undirected_edges(edges: DataFrame, dedup: bool = True) -> DataFrame:
    """Symmetrize (src, dst): union with the reversed edges.

    ``dedup=False`` skips the distinct — a full shuffle of the doubled edge
    relation that min-aggregating consumers (components, BFS) don't need:
    a duplicated neighbor changes no minimum. Keep the default for
    consumers with counting semantics."""
    fwd = edges.select("src", "dst")
    rev = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    und = fwd.unionByName(rev)
    return und.distinct() if dedup else und


def connected_components(
    edges: DataFrame,
    max_iterations: int = MAX_ITERATIONS,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """(id, component) — component = min member id, exact fixpoint.

    ``edges`` is treated as undirected. Vertices are implicit (every id
    appearing as src or dst), matching the rank loop's implicit-vertex
    semantics (operators/linkrank.py).
    """
    # hash-partition the symmetrized union by src ONCE and persist: every
    # round joins on src, so the persisted layout satisfies the join's
    # distribution requirement and the edge relation is never reshuffled or
    # re-sorted again — rounds exchange only the vertex-sized state (the
    # shuffle-hash build side, see _join_state). Measured at sf10 (1.6M
    # vertices, 117M und rows, state past the broadcast threshold): the
    # previous coalesce-only layout re-exchanged the edges every round
    # (258s total); this layout pays one up-front edge shuffle and each
    # relax round streams the cache (151s total, ~12s/round).
    width = int(edges.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    und = undirected_edges(edges, dedup=False).repartition(width, "src").persist()
    state = (
        und.select(F.col("src").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("component"))
    )
    reliable = _set_checkpoint_dir_once(state, checkpoint_dir)
    # localCheckpoint erases size stats, so Catalyst can never auto-broadcast
    # loop state — decide once from the exact vertex count (same discipline
    # as the rank loop). Broadcast state means the big edge relation is
    # NEVER reshuffled across rounds; huge graphs fall back to shuffle joins.
    # (checkpoint + count fused into one job — see _checkpoint_nrows)
    state, n_verts = _checkpoint_nrows(state, reliable)
    bcast = _should_broadcast_state(und, n_verts, state)
    # Frontier (delta) messaging: only vertices whose label changed last
    # round send to their neighbors. A message from an unchanged vertex is
    # a byte-for-byte duplicate of the one it sent the round after it last
    # changed, and min() is idempotent — so every per-round state is
    # IDENTICAL to full messaging while the edges-x-state join shrinks
    # from |reached| to |frontier| rows (total message volume O(|E|)
    # instead of O(diameter x |E|) — guide §2.2, shuffle fewer bytes).
    frontier = state
    for _ in range(max_iterations):
        # Relax pass as ONE union + min-aggregation (no left join): each
        # vertex's new label = min over {own label} ∪ {frontier-neighbor
        # labels}. Tagging the self row lets the same aggregate recover the
        # old label, so change detection costs no extra join. One shuffle.
        nbr = _join_state(und, frontier, bcast).select(
            F.col("dst").alias("id"), "component"
        )
        mixed = nbr.withColumn("_self", F.lit(False)).unionByName(
            state.withColumn("_self", F.lit(True))
        )
        relaxed = (
            mixed.groupBy("id")
            .agg(
                F.min("component").alias("component"),
                F.min(F.when(F.col("_self"), F.col("component"))).alias("_old"),
            )
            .select(
                "id",
                "component",
                (F.col("component") < F.col("_old")).alias("_changed"),
            )
        )
        relaxed, changed = _checkpoint_count(relaxed, "_changed", reliable)
        state = relaxed.drop("_changed")
        # same dead-shuffle lifecycle as the rank/peel loops — see
        # linkrank._gc_nudge (BASELINE.md round-12 cliff 1)
        _gc_nudge(state, n_verts)
        # Relax-fixpoint test BEFORE the doubling pass: at a relax fixpoint
        # every edge's endpoints already share a label (min over the closed
        # neighborhood is stable in both directions), so doubling can't
        # change anything and the final round skips its cost entirely.
        if changed == 0:
            break
        # Pointer-doubling shortcut: component <- component(component) drops
        # convergence from O(diameter) to O(log diameter) rounds. Joining
        # against the CHECKPOINTED state keeps this pass cheap — the relax
        # plan is never re-executed to build the lookup side. The doubling
        # pass carries the round's change flag through (relax OR doubling
        # improved the label) so the next frontier includes vertices whose
        # label moved in EITHER pass, with their post-doubling labels.
        lookup = _maybe_broadcast(
            state.select(F.col("id").alias("_lid"), F.col("component").alias("_lcomp")),
            bcast,
        )
        doubled = _checkpoint(
            relaxed.join(
                lookup, relaxed.component == lookup._lid, "left"
            ).select(
                "id",
                F.least(
                    F.col("component"), F.coalesce(F.col("_lcomp"), F.col("component"))
                ).alias("component"),
                (
                    F.col("_changed")
                    | (
                        F.coalesce(F.col("_lcomp"), F.col("component"))
                        < F.col("component")
                    )
                ).alias("_chg"),
            ),
            reliable,
        )
        state = doubled.drop("_chg")
        frontier = doubled.filter(F.col("_chg")).drop("_chg")
    und.unpersist()
    return state


def component_sizes(components: DataFrame) -> DataFrame:
    """(component, n_members) per component, largest first."""
    return (
        components.groupBy("component")
        .agg(F.count("*").alias("n_members"))
        .orderBy(F.col("n_members").desc(), F.col("component").asc())
    )


def bfs_distances(
    edges: DataFrame,
    seeds: DataFrame,
    max_depth: int = 20,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """(id, dist) — undirected hop distance from the seed set, multi-source
    BFS by min-distance propagation; only reached vertices appear.

    ``max_depth`` is a CONTRACT, not just a safety valve: vertices farther
    than max_depth hops are absent, which is also exactly what the
    depth-bounded recursive-CTE oracle computes — parity holds by
    construction at any depth cutoff. Per level: one groupBy shuffle + one
    outer join, lineage checkpoint-truncated like the rank loop; converges
    in eccentricity(seeds) rounds, far under the cap on web-shaped graphs.
    """
    width = int(edges.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    und = undirected_edges(edges, dedup=False).repartition(width, "src").persist()
    state = seeds.select("id", F.lit(0).cast("long").alias("dist"))
    reliable = _set_checkpoint_dir_once(state, checkpoint_dir)
    state = _checkpoint(state, reliable)
    # state is bounded by the vertex count; decide broadcast once from it
    # (see connected_components) so the edge side never reshuffles per level
    bcast = _should_broadcast_state(und, _approx_n_vertices(und), state)
    # frontier messaging: in BFS a vertex's dist is final the round it is
    # first reached, so only newly-reached vertices (last round's _changed
    # set) need to send — re-sends from the settled interior are exact
    # duplicates that min() ignores. Per-level join input drops from
    # |reached| to |frontier|; every per-level state is identical.
    frontier = state
    for _ in range(max_depth):
        # One union + min-aggregation per level (no outer join): new dist =
        # min over {own dist} ∪ {frontier-neighbor dist + 1}; the tagged
        # self row recovers the old dist so change detection is free (same
        # pattern as connected_components).
        nbr = _join_state(und, frontier, bcast).select(
            F.col("dst").alias("id"), (F.col("dist") + 1).alias("dist")
        )
        mixed = nbr.withColumn("_self", F.lit(False)).unionByName(
            state.withColumn("_self", F.lit(True))
        )
        merged = (
            mixed.groupBy("id")
            .agg(
                F.min("dist").alias("dist"),
                F.min(F.when(F.col("_self"), F.col("dist"))).alias("_old"),
            )
            .select(
                "id",
                "dist",
                (F.col("_old").isNull() | (F.col("dist") < F.col("_old"))).alias(
                    "_changed"
                ),
            )
        )
        merged, changed = _checkpoint_count(merged, "_changed", reliable)
        state = merged.drop("_changed")
        frontier = merged.filter(F.col("_changed")).drop("_changed")
        if changed == 0:
            break
    und.unpersist()
    return state


KCORE_K = 2
KCORE_ROUNDS = 4


def kcore_peel(
    edges: DataFrame, k: int = KCORE_K, rounds: int = KCORE_ROUNDS
) -> DataFrame:
    """Bounded k-core peeling: repeatedly remove vertices with undirected
    degree < ``k`` (and their incident edges) for ``rounds`` rounds; returns
    surviving (id, degree). With enough rounds this converges to the k-core;
    the FIXED round count is a contract with the unrolled-CTE oracle
    (queries/compq.py), exactly like the rank fixpoints.

    Scale shape (r12, DELTA formulation): the symmetrized edge relation is
    deduped, hash-partitioned by src ONCE, and persisted — it is never
    filtered, reshuffled, or re-checkpointed again. The loop carries one
    vertex-sized ``deg`` relation holding, at round t, every alive vertex
    with its count of alive neighbors. Per round only the DELTA is
    exchanged: dead_t = {v : deg_t(v) < k} leaves, and the update relation
    counts und rows with src in dead_t grouped by dst (src-side semi join
    partition-aligned with the persisted layout) — survivors subtract
    their dead-neighbor counts. By induction deg stays equal to the
    remove-edges-and-recount peel (und is symmetric, so counting dead-src
    rows per dst is counting dead neighbors), which is what the
    unrolled-CTE oracle computes; all arithmetic is exact BIGINT.

    Why delta instead of recount: the r9 recount shape semi-joined and
    re-aggregated the FULL edge relation every round — per-round exchange
    ~|und| map-side partials, which at the third decade (1.17B und rows,
    16M vertices) wrote ~15 GB of shuffle per round and exhausted local
    disk (two observed sf100 ENOSPC deaths) while doing rounds× the work a
    cluster needs. Delta exchange is proportional to the newly-dead
    vertices' incident edges: the full relation is aggregated exactly ONCE
    (deg_0), and every later round touches only the peeled fringe — the
    standard k-core decomposition work bound Σ|peeled edges| ≤ |und|.

    Adjacency-list substrate (r13): the r12 edge-row formulation still
    paid |und|-shaped constants twice — the symmetrize→distinct→
    repartition chain exchanged the 1.17B-row relation three times before
    the cache, deg_0 re-exchanged it a fourth time onto dst, and EVERY
    round re-scanned 1.17B cached rows just to probe the dead set (the
    sf100 wall was 889.6 s vs the components loop's 774.4 s on the same
    graph). The loop state the peel actually needs per src is just its
    neighbor list, so the cache is now (src, nbrs array<id>) built with
    ONE full exchange: symmetrize (no distinct) → repartition(src) →
    collect_set — both the per-group dedup and the aggregation reuse the
    src layout (hash partitioning on src satisfies the groupBy(src)
    distribution), so no second |und| exchange exists anywhere. deg_0 is
    size(nbrs) — exchange-free — and each round scans |V| cached rows
    (70x fewer at sf100), exploding only the DEAD vertices' lists, which
    emits exactly the und rows with a dead src the r12 shape semi-joined
    for: same counts, same oracle, Σ|exploded| ≤ |und| unchanged."""
    width = int(edges.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    adj = (
        undirected_edges(edges, dedup=False)
        .repartition(width, "src")
        .groupBy("src")
        .agg(F.collect_set("dst").alias("nbrs"))
        .persist()
    )
    # full degrees once: alive_0 = all vertices, and every vertex appears
    # as a src because und is symmetric; collect_set already deduped the
    # doubled union, so size(nbrs) = distinct undirected degree
    deg, n_alive = _checkpoint_nrows(
        adj.select(
            F.col("src").alias("id"),
            F.size("nbrs").cast("bigint").alias("degree"),
        )
    )
    bcast = _should_broadcast_state(adj, n_alive, deg)
    for _ in range(rounds):
        dead = deg.filter(F.col("degree") < k).select("id")
        d = _state_side(dead, bcast)
        upd = (
            adj.join(d, adj.src == d.id, "inner")
            .select(F.explode("nbrs").alias("id"))
            .groupBy("id")
            .agg(F.count(F.lit(1)).cast("bigint").alias("_dd"))
        )
        deg, n_next = _checkpoint_nrows(
            deg.filter(F.col("degree") >= k)
            .join(upd, "id", "left")
            .select(
                "id",
                (
                    F.col("degree") - F.coalesce(F.col("_dd"), F.lit(0))
                ).alias("degree"),
            )
        )
        # same dead-shuffle lifecycle as the rank loops — see
        # linkrank._gc_nudge (this loop is where sf100 first hit ENOSPC)
        _gc_nudge(deg, n_next)
        # the alive set is monotone decreasing, so an unchanged COUNT
        # means nothing died and every remaining round is a no-op — early
        # exit is parity-safe under the fixed-round oracle contract (the
        # oracle unrolls all rounds; extra rounds change nothing at the
        # fixpoint)
        if n_next == n_alive:
            break
        n_alive = n_next
    # survivors with at least one surviving neighbor — deg already counts
    # alive neighbors at the final round boundary, so this is identical to
    # the recount formulation's final both-endpoints-filtered recount
    out = deg.filter(F.col("degree") > 0)
    adj.unpersist()
    return out


def sssp_distances(
    wedges: DataFrame,
    seeds: DataFrame,
    max_rounds: int = 8,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """(id, dist) — weighted single-source(-set) shortest path over an
    undirected weighted edge relation ``wedges(src, dst, w)`` by bounded
    Bellman-Ford relaxation; only reached vertices appear.

    ``max_rounds`` is a CONTRACT exactly like :func:`bfs_distances`'s depth:
    dist = min total weight over paths with ≤ max_rounds edges, which is
    also precisely what the hop-bounded recursive-CTE oracle computes —
    parity holds by construction at any bound. Weights are expected INTEGER
    (BIGINT) so distance sums are exact in every engine; derive scaled
    integer weights upstream for fractional costs.

    Scale design mirrors the BFS loop: the symmetrized edge relation is
    persisted once at shuffle width; each round is one equi-join + one
    union + one min-aggregation (a single shuffle on vertex id); state
    lineage is checkpoint-truncated per round; the convergence test ships
    one scalar per round. Weights must be non-negative (the early-exit
    fires when no distance improves, which a negative cycle would defeat;
    the hop-bounded result itself stays well-defined either way)."""
    width = int(wedges.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    fwd = wedges.select("src", "dst", "w")
    rev = wedges.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w")
    und = fwd.unionByName(rev).repartition(width, "src").persist()
    state = seeds.select("id", F.lit(0).cast("long").alias("dist"))
    reliable = _set_checkpoint_dir_once(state, checkpoint_dir)
    state = _checkpoint(state, reliable)
    bcast = _should_broadcast_state(und, _approx_n_vertices(und), state)
    # frontier messaging (delta Bellman-Ford): only vertices whose dist
    # improved last round relax their out-edges — the textbook queue-based
    # refinement; re-sends from unimproved vertices are duplicates of the
    # round after they last improved, and min() ignores duplicates, so
    # every hop-bounded per-round state (the oracle CONTRACT) is identical.
    frontier = state
    for _ in range(max_rounds):
        nbr = _join_state(und, frontier, bcast).select(
            F.col("dst").alias("id"), (F.col("dist") + F.col("w")).alias("dist")
        )
        mixed = nbr.withColumn("_self", F.lit(False)).unionByName(
            state.withColumn("_self", F.lit(True))
        )
        merged = (
            mixed.groupBy("id")
            .agg(
                F.min("dist").alias("dist"),
                F.min(F.when(F.col("_self"), F.col("dist"))).alias("_old"),
            )
            .select(
                "id",
                "dist",
                (F.col("_old").isNull() | (F.col("dist") < F.col("_old"))).alias(
                    "_changed"
                ),
            )
        )
        merged, changed = _checkpoint_count(merged, "_changed", reliable)
        state = merged.drop("_changed")
        frontier = merged.filter(F.col("_changed")).drop("_changed")
        if changed == 0:
            break
    und.unpersist()
    return state


def connected_components_star(
    edges: DataFrame,
    max_rounds: int = MAX_ITERATIONS,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """(id, component) — identical contract and output to
    connected_components, computed with the alternating large-star /
    small-star algorithm (Kiveris et al., 'Connected Components in
    MapReduce and Beyond', SoCC 2014): the O(log n)-round, edge-relation
    formulation whose intermediate size provably never exceeds the input
    edge count — the documented scale remedy for adversarial (long-chain)
    diameters where plain label propagation degrades to O(diameter).

    Representation: a pair list (u, v) meaning 'u and v are connected',
    oriented parent-last (v < u) between rounds.

      large-star(u): connect every neighbor > u to the minimum of u's
                     closed neighborhood
      small-star(u): connect u and every neighbor < u to that minimum

    Scale shape (r13): each phase hash-partitions its relation by ``u``
    ONCE (the dedup aggregate runs in place on that layout — hash(u)
    satisfies ClusteredDistribution([u, v]), the labelprop trick), the
    per-u-min relation joins back SHUFFLE_HASH with the vertex-sized min
    side as build (no sort of the edge-sized stream; both sides already
    satisfy the join's distribution), and small-star emits its two output
    kinds (re-pointed member + center) from ONE pass over the join via an
    inline 2-element explode — the previous union of two projections of
    ``j`` re-executed the whole join pipeline per branch. Convergence is
    an exact check (no parent still appears as a child), one scalar per
    round. On convergence the pair list is a star forest centered on each
    component's minimum member — the same canonical labels the
    transitive-closure oracle computes."""
    spark = edges.sparkSession
    width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # ONE pass over the (expensively derived) edge relation: the oriented
    # distinct pair list KEEPS self-loop rows so the vertex set can be
    # read back off the checkpoint instead of re-deriving edges — the
    # previous two-pass init re-ran the whole edge derivation for verts.
    pairs = (
        edges.select(
            F.greatest("src", "dst").alias("u"),
            F.least("src", "dst").alias("v"),
        )
        .repartition(width, "u")
        .dropDuplicates(["u", "v"])
    )
    reliable = _set_checkpoint_dir_once(pairs, checkpoint_dir)
    pairs = _checkpoint(pairs, reliable)
    verts = (
        pairs.select(F.col("u").alias("id"))
        .unionByName(pairs.select(F.col("v").alias("id")))
        .distinct()
        .coalesce(width)
    )
    verts = _checkpoint(verts, reliable)
    # orient parent-last; drop self loops (their vertices stay via verts)
    e = pairs.filter(F.col("u") != F.col("v"))

    def _part(p: DataFrame) -> DataFrame:
        return p.repartition(width, "u")

    def _minjoin(p: DataFrame, m: DataFrame):
        # p hash(u)-partitioned, m aggregated from it (same layout):
        # shuffle-hash with the per-u min relation as build side — zero
        # exchanges, zero sorts
        return p.join(m.hint("shuffle_hash"), "u")

    def _large(p: DataFrame) -> DataFrame:
        sym = _part(
            p.unionByName(p.select(F.col("v").alias("u"), F.col("u").alias("v")))
        )
        m = sym.groupBy("u").agg(
            F.least(F.min("v"), F.col("u")).alias("m")
        )
        return (
            _minjoin(sym, m)
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .repartition(width, "u")
            .dropDuplicates(["u", "v"])
        )

    def _small(p: DataFrame) -> DataFrame:
        # p arrives hash(u)-partitioned and deduped from _large
        m = p.groupBy("u").agg(F.min("v").alias("m"))
        j = _minjoin(p, m)
        # one pass: member v re-pointed to m (skip when v IS the min —
        # null element, filtered), plus the center row (u, m)
        out = (
            j.select(
                F.explode(
                    F.array(
                        F.when(
                            F.col("v") != F.col("m"),
                            F.struct(
                                F.col("v").alias("u"), F.col("m").alias("v")
                            ),
                        ),
                        F.struct(F.col("u"), F.col("m").alias("v")),
                    )
                ).alias("p")
            )
            .filter(F.col("p").isNotNull())
            .select("p.u", "p.v")
        )
        return out.repartition(width, "u").dropDuplicates(["u", "v"])

    for _ in range(max_rounds):
        # one large+small alternation per materialization — fusing two was
        # measured SLOWER at fixture scale (the nested sym-union plan costs
        # Catalyst more than the saved job; same lesson as STEPS_PER_CHECK)
        e = _checkpoint(_small(_large(e)), reliable)
        # exact convergence test, ONE scalar: the pair list is a star forest
        # (= the alternation's fixpoint — both phases are no-ops on a star
        # forest, and parent-last orientation makes every center the
        # component minimum) iff no parent still appears as a child
        # the distinct looks redundant under a left_semi (existence match),
        # but it is the probe's map-side reducer: parents are clustered on
        # the hash(u) layout, so the partial aggregate collapses the
        # exchange to ~|centers| rows where the bare projection would
        # exchange all |E| (r13: measured neutral at sf0.1 — 6.90 vs
        # 6.95 s interleaved — kept for the scale posture)
        chained = e.join(
            e.select(F.col("u").alias("v")).distinct(), "v", "left_semi"
        ).count()
        if chained == 0:
            break
    else:
        raise ValueError(
            f"star alternation did not converge in {max_rounds} rounds"
        )
    comp = e.select(F.col("u").alias("id"), F.col("v").alias("component"))
    return (
        verts.join(comp, "id", "left")
        .select(
            "id", F.coalesce("component", F.col("id")).alias("component")
        )
    )


def per_seed_bfs(
    edges: DataFrame,
    seeds: DataFrame,
    max_depth: int = 20,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """(seed, id, dist) — per-seed undirected hop distances, all seeds in
    ONE fixpoint: the state is keyed (seed, id), so k seeds cost k× state
    rows, not k separate propagations (the standard multi-probe trick for
    eccentricity / diameter estimation). Same fused union+min superstep,
    checkpoint discipline, and depth-cap CONTRACT as bfs_distances — the
    depth-bounded recursive-CTE oracle computes the identical cutoff."""
    width = int(edges.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    und = undirected_edges(edges, dedup=False).repartition(width, "src").persist()
    state = seeds.select(
        F.col("id").alias("seed"), "id", F.lit(0).cast("long").alias("dist")
    )
    reliable = _set_checkpoint_dir_once(state, checkpoint_dir)
    state = _checkpoint(state, reliable)
    bcast = _should_broadcast_state(und, _approx_n_vertices(und))
    # frontier messaging — see bfs_distances: only (seed, id) pairs reached
    # last level send; settled pairs would re-send exact duplicates
    frontier = state
    for _ in range(max_depth):
        nbr = _join_state(und, frontier, bcast).select(
            "seed", F.col("dst").alias("id"), (F.col("dist") + 1).alias("dist")
        )
        mixed = nbr.withColumn("_self", F.lit(False)).unionByName(
            state.withColumn("_self", F.lit(True))
        )
        merged = (
            mixed.groupBy("seed", "id")
            .agg(
                F.min("dist").alias("dist"),
                F.min(F.when(F.col("_self"), F.col("dist"))).alias("_old"),
            )
            .select(
                "seed",
                "id",
                "dist",
                (
                    F.col("_old").isNull() | (F.col("dist") < F.col("_old"))
                ).alias("_changed"),
            )
        )
        merged, changed = _checkpoint_count(merged, "_changed", reliable)
        state = merged.drop("_changed")
        frontier = merged.filter(F.col("_changed")).drop("_changed")
        if changed == 0:
            break
    und.unpersist()
    return state


#: full-decomposition contract constants (shared with the unrolled oracle):
#: phases k = 2..CORENESS_KMAX, at most CORENESS_ROUNDS peels per phase —
#: BOTH sides cap identically, so parity holds even before convergence;
#: fixture convergence within the caps is pinned by tests.
CORENESS_KMAX = 4
#: the sf0.01 fixture's slowest phase (k=3) unravels an 8-round chain —
#: measured by tests/test_wave14_ops.py::TestCoreness, which pins oracle
#: output == the exact sequential peel so an insufficient cap can never
#: ship again (both engines cap identically, so the driver hash can't
#: catch a too-small cap by itself)
CORENESS_ROUNDS = 10


def coreness_peel(
    edges: DataFrame,
    kmax: int = CORENESS_KMAX,
    rounds: int = CORENESS_ROUNDS,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """(id, coreness) — full core decomposition (Seidman 1983; the standard
    distributed formulation: Montresor et al. 2011): phase k peels to the
    k-core; vertices present in the (k-1)-core but not the k-core have
    coreness k-1; survivors of the last phase get kmax. Every phase round
    is the same two-semi-join shape as :func:`kcore_peel` (single-column
    filter relations, no payload amplification), state is
    checkpoint-truncated per round, and the only driver traffic is one
    edge-count scalar per round (which doubles as an exact early-exit:
    unchanged edge count == peel fixpoint, so tail rounds are free).

    Self-loops are dropped before peeling: a loop inflates its endpoint's
    degree without contributing core connectivity, diverging from the
    textbook core number (the oracle mirrors the same filter). With
    ``checkpoint_dir`` set, per-round truncation uses reliable checkpoints
    so an executor loss mid-peel cannot lose locally-checkpointed blocks
    (same posture as bowtie_classes)."""
    e = undirected_edges(edges).filter(F.col("src") != F.col("dst"))
    reliable = _set_checkpoint_dir_once(e, checkpoint_dir)
    e, n_e = _checkpoint_nrows(e, reliable)
    prev_verts = _checkpoint(
        e.select(F.col("src").alias("id")).distinct(), reliable
    )
    parts: list[DataFrame] = []
    for k in range(2, int(kmax) + 1):
        for _ in range(int(rounds)):
            if n_e == 0:
                break
            deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
            keep = deg.filter(F.col("deg") >= k).select(
                F.col("src").alias("id")
            )
            e, n_new = _checkpoint_nrows(
                e.join(keep, e.src == keep.id, "left_semi").join(
                    keep, F.col("dst") == keep.id, "left_semi"
                ),
                reliable,
            )
            if n_new == n_e:
                break
            n_e = n_new
        surv = _checkpoint(
            e.select(F.col("src").alias("id")).distinct(), reliable
        )
        parts.append(
            prev_verts.join(surv, "id", "left_anti").select(
                "id", F.lit(k - 1).cast("long").alias("coreness")
            )
        )
        prev_verts = surv
    parts.append(
        prev_verts.select(
            "id", F.lit(int(kmax)).cast("long").alias("coreness")
        )
    )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
