"""LinkRank / HostRank / TrustRank — the core iterative fixpoint
(SURVEY.md §2.4-§2.7, §3).

The reference runs these as Giraph BSP vertex programs
(LinkRankComputation.java, TrustRankComputation.java). Spark-first mapping:

* message passing  -> edges JOIN scores ON src = id, groupBy(dst).sum()
  (LinkRankComputation.java:266-283 "sendMessageToAllEdges")
* aggregators      -> single-row aggregate DataFrames broadcast back into the
  plan (no driver-side collect inside the loop)
* superstep loop   -> bounded Python loop, localCheckpoint() to truncate
  lineage each iteration (SURVEY.md §4.2 #1); ONE loop
  (:func:`_rank_fixpoint`) serves LinkRank, HostRank, TrustRank and PPR
* normalization    -> one statement: avg/stddev_pop of log-scores + Normal-CDF
  squash (LinkRankComputation.java:216-255 spread over 3 supersteps collapses
  to a single Spark stage)

Scale design (100 TB posture): the edge table is the big side — it is
augmented with out-degrees once, hash-partitioned by ``src`` and persisted;
every iteration then shuffles ONLY the vertex-state (message groupBy on
``dst``), never the edges. The per-iteration global scalar (dangling mass,
LinkRankComputation.java:275-276,290-296) rides along as a broadcast
single-row cross join, so nothing but final results ever reaches the driver.

Schedule parity (SURVEY.md §3): K = superstep_count ⇒ exactly K-1 score
updates, then the CDF epilogue; no convergence test (voteToHalt at fixed
step, LinkRankComputation.java:280-282).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, Row
from pyspark.sql import functions as F

from giranking_spark.config import LinkRankConfig, TrustRankConfig
from giranking_spark.functions.stats import normal_cdf
from giranking_spark.operators.clean import dedup_edges

SIGMA_FLOOR = 1e-10  # σ==0 guard, LinkRankComputation.java:242-244


def all_vertex_ids(vertices: DataFrame | None, edges: DataFrame) -> DataFrame:
    """Implicit vertex creation (SURVEY.md §2.4): Giraph auto-creates message
    targets, so the vertex set is vertices ∪ edges.src ∪ edges.dst."""
    ids = edges.select(F.col("src").alias("id")).unionByName(
        edges.select(F.col("dst").alias("id"))
    )
    if vertices is not None:
        ids = ids.unionByName(vertices.select("id"))
    return ids.distinct()


def initial_state_ext(
    vertices: DataFrame | None, edges: DataFrame, default_score: float = 1.0
) -> DataFrame:
    """state(id, score, outdeg, indeg) for every vertex incl. implicit ones,
    built with ONE shuffle: endpoint rows (src carries out=1, dst carries
    in=1) and optional vertex rows (carrying the initial score) union into a
    single groupBy(id) whose integer sums are exactly the out-/in-degrees
    and whose max(score) recovers the (unique-per-id) vertex score. The
    previous formulation — union-distinct of ids + out-degree aggregate +
    two joins — was three exchanges of endpoint-shaped relations; this is
    one, at any scale (guide §2.4).

    ``indeg`` rides along because the rank loops' hub-skew probe needs
    max/sum of per-dst contribution rows — with the column carried in the
    checkpointed state, that probe becomes a 1-row aggregate over |V|
    cached rows instead of a separate |E|-shuffle job.

    Precondition (unchanged from the join formulation's intent): ids in
    ``vertices`` are unique — a duplicate formerly fanned out the left
    join; now max(score) keeps one row."""
    score_t = (
        dict(vertices.dtypes)["score"] if vertices is not None else "double"
    )
    rows = edges.select(
        F.col("src").alias("id"),
        F.lit(1).alias("_out"),
        F.lit(0).alias("_in"),
        F.lit(None).cast(score_t).alias("_vscore"),
    ).unionByName(
        edges.select(
            F.col("dst").alias("id"),
            F.lit(0).alias("_out"),
            F.lit(1).alias("_in"),
            F.lit(None).cast(score_t).alias("_vscore"),
        )
    )
    if vertices is not None:
        rows = rows.unionByName(
            vertices.select(
                "id",
                F.lit(0).alias("_out"),
                F.lit(0).alias("_in"),
                F.col("score").alias("_vscore"),
            )
        )
    return rows.groupBy("id").agg(
        F.coalesce(F.max("_vscore"), F.lit(default_score)).alias("score"),
        F.sum("_out").cast("long").alias("outdeg"),
        F.sum("_in").cast("long").alias("indeg"),
    ).select("id", "score", "outdeg", "indeg")


def initial_state(
    vertices: DataFrame | None, edges: DataFrame, default_score: float = 1.0
) -> DataFrame:
    """state(id, score, outdeg) for every vertex incl. implicit ones.
    Thin projection over :func:`initial_state_ext` (one shuffle)."""
    return initial_state_ext(vertices, edges, default_score).select(
        "id", "score", "outdeg"
    )


def edges_with_outdeg(edges: DataFrame) -> DataFrame:
    """edges(src, dst, outdeg) — static per run. Computed as a window count
    over ``src``: ONE shuffle yields both the degree column and
    hashpartitioning(src) for the output, replacing the groupBy + join +
    explicit repartition formulation (three exchanges of the big side)."""
    from pyspark.sql.window import Window

    return edges.select(
        "src", "dst", F.count(F.lit(1)).over(Window.partitionBy("src")).alias("outdeg")
    )


#: per-row overhead on top of the id payload in a broadcast hash relation:
#: UnsafeRow header + null bits + 2-3 fixed-width score/degree columns +
#: hash-map entry — measured ballpark, deliberately on the high side.
_STATE_ROW_OVERHEAD = 48


def _conf_int(spark, key: str, default: int) -> int:
    try:
        return int(spark.conf.get(key))
    except (TypeError, ValueError):
        return default


def _broadcast_rule(n: int, avg_id_width: float | None, thr: int) -> bool:
    """The ONE broadcast-dispatch rule (r14, shared by the per-operator
    probe and the fused rank probe so the two paths cannot diverge):
    state broadcasts iff n·max(64, avg_id_width + overhead) ≤ thr."""
    if thr <= 0 or n <= 0:
        return False
    width = 64.0
    if avg_id_width is not None:
        width = max(width, float(avg_id_width) + _STATE_ROW_OVERHEAD)
    return n * width <= thr


def _salt_rule(mx: int, tot: int, parts: int, min_hot_rows: int) -> int | None:
    """The ONE hot-key salting rule (r14, shared — see _broadcast_rule):
    salt iff the hottest target's rows exceed both the absolute floor and
    SALT_HOT_KEY_FACTOR × the average shuffle partition's rows."""
    if mx >= max(min_hot_rows, SALT_HOT_KEY_FACTOR * tot / max(parts, 1)):
        return SALT_AUTO_BUCKETS
    return None


def _should_broadcast_state(
    edges: DataFrame,
    n: int,
    state: DataFrame | None = None,
    id_col: str = "id",
) -> bool:
    """Whether the per-iteration vertex state fits Spark's broadcast
    threshold. localCheckpoint truncates lineage AND size statistics, so
    Catalyst can never auto-broadcast loop state — this decides from the
    exact vertex count the loop already holds.

    Row width: 64 B/row floor; when the caller hands the state relation,
    the id payload is MEASURED (avg octet length + fixed overhead) so long
    URL ids (100+ B) cannot undershoot the estimate and broadcast a state
    that is actually over the threshold. The one-row agg runs once per
    operator invocation, never per iteration. Large graphs fall back to
    shuffle joins — the 100 TB path."""
    thr = _conf_int(
        edges.sparkSession, "spark.sql.autoBroadcastJoinThreshold", -1
    )
    if thr <= 0 or n <= 0:
        return False
    avg_id = None
    if state is not None and id_col in state.columns:
        avg_id = state.agg(
            F.avg(F.octet_length(F.col(id_col).cast("string")))
        ).first()[0]
    return _broadcast_rule(n, avg_id, thr)


#: bucket count the auto decision enables (the r9 skew load test measured
#: 22.3x -> 3.0x exchange imbalance at 32 on the 2M-degree hub fixture)
SALT_AUTO_BUCKETS = 32
#: a hot target only justifies two-phase salting when its contribution rows
#: exceed this many TIMES an average shuffle partition's rows...
SALT_HOT_KEY_FACTOR = 4.0
#: ...AND this absolute floor: a key under ~100k rows is trivial for one
#: reducer, and the floor keeps small/medium graphs (all shipped fixtures)
#: on the single-phase plan — bit-identical to prior rounds' value hashes.
SALT_MIN_HOT_ROWS = 100_000


def _resolve_salt_buckets(
    edges_x: DataFrame,
    salt: int | str | None,
    min_hot_rows: int | None = None,
) -> int | None:
    """Resolve cfg.salt_buckets: pass ints/None through; "auto" decides
    from the measured in-degree skew. The probe is ONE map-side-combined
    aggregate over the persisted edge relation per RUN (never per
    iteration) — a <1% cost that avoids the 10x reducer-skew cliff a
    spam-hub target causes at scale. Decision rule: salt iff the hottest
    dst's contribution rows exceed both an absolute floor and
    SALT_HOT_KEY_FACTOR x the average shuffle partition's rows."""
    if salt != "auto":
        return salt  # type: ignore[return-value]
    if min_hot_rows is None:
        min_hot_rows = SALT_MIN_HOT_ROWS  # read at call time (testable)
    row = (
        edges_x.groupBy("dst")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.max("c").alias("mx"), F.sum("c").alias("tot"))
        .first()
    )
    mx = int(row["mx"] or 0)
    tot = int(row["tot"] or 0)
    parts = _conf_int(edges_x.sparkSession, "spark.sql.shuffle.partitions", 200)
    return _salt_rule(mx, tot, parts, min_hot_rows)


def _probe_checkpointed_state(
    state: DataFrame,
    salt_cfg: int | str | None,
    extras: list | None = None,
):
    """(n, bcast, salt, row) — ALL per-run loop-dispatch scalars from ONE
    1-row aggregate over the checkpointed extended state (must carry
    ``indeg``, see :func:`initial_state_ext`).

    Replaces three separate probe jobs per rank run: the vertex count
    (``state.count()``), the avg-id-width broadcast probe
    (:func:`_should_broadcast_state`'s octet-length aggregate) and the
    in-degree skew probe (:func:`_resolve_salt_buckets`'s |E|-shuffle
    groupBy) — both decisions evaluate the SAME shared pure rules
    (:func:`_broadcast_rule`, :func:`_salt_rule`) those helpers use, so
    the resolved plan (and therefore every score) cannot diverge from the
    per-helper path (r14, closing the copied-rule drift risk); only the
    probe cost changes (|V| cached rows, one driver roundtrip).
    ``extras`` appends caller aggregates (e.g. the trusted count) to the
    same job; read them from the returned row."""
    spark = state.sparkSession
    row = state.agg(
        F.count(F.lit(1)).alias("_n"),
        F.avg(F.octet_length(F.col("id").cast("string"))).alias("_aw"),
        F.max("indeg").alias("_mx"),
        F.sum("indeg").alias("_tot"),
        *(extras or []),
    ).first()
    n = int(row["_n"] or 0)
    thr = _conf_int(spark, "spark.sql.autoBroadcastJoinThreshold", -1)
    bcast = _broadcast_rule(n, row["_aw"], thr)
    if salt_cfg != "auto":
        return n, bcast, salt_cfg, row
    mx, tot = int(row["_mx"] or 0), int(row["_tot"] or 0)
    parts = _conf_int(spark, "spark.sql.shuffle.partitions", 200)
    salt = _salt_rule(mx, tot, parts, SALT_MIN_HOT_ROWS)
    return n, bcast, salt, row


def _maybe_broadcast(df: DataFrame, do_broadcast: bool) -> DataFrame:
    return F.broadcast(df) if do_broadcast else df


def _state_side(df: DataFrame, do_broadcast: bool) -> DataFrame:
    """Prepare the vertex-state side of an edges-x-state join: broadcast
    when it fits, otherwise SHUFFLE_HASH with the state as build side so
    the persisted src-partitioned edge relation is never re-exchanged or
    re-sorted per round (sort-merge would re-sort it every iteration — the
    sort, unlike the partitioning, is not persisted; measured superlinear
    at the sf1->sf10 decade once state passed the broadcast threshold)."""
    return F.broadcast(df) if do_broadcast else df.hint("shuffle_hash")


def _loop_edges(
    edges: DataFrame, build_state: Callable[[DataFrame], tuple[DataFrame, int]]
) -> tuple[DataFrame, DataFrame, bool]:
    """(edges, state, bcast) for a loop joining edges(src, dst) with its
    vertex state every superstep (katz, opic); the caller unpersists the
    returned edges.

    The edges are persisted columnar, not checkpointed: at sf100 the raw
    row-block copy of the 600M-edge relation blew task memory where the
    columnar cache fits (r14 decade sweep), and a persist can be released.
    The cache is filled BEFORE ``build_state(edges)``, whose union branches
    would otherwise race the fill inside one job. ``build_state`` returns
    the materialized state and its row count, which decide the broadcast
    dispatch. Past the threshold the edges swap to the hash(src) layout
    (partitioned copy materialized from the cache, then the unpartitioned
    one freed: ONE copy in steady state), so the SHUFFLE_HASH join
    (:func:`_state_side`) exchanges only the vertex-sized state per step."""
    e = edges.select("src", "dst").persist()
    e.count()
    state, n = build_state(e)
    bcast = _should_broadcast_state(e, n, state)
    if not bcast:
        width = int(edges.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        e2 = e.repartition(width, "src").persist()
        e2.count()
        e.unpersist()
        e = e2
    return e, state, bcast


def contributions(
    edges_x: DataFrame, state: DataFrame, broadcast_state: bool = False
) -> DataFrame:
    """Message generation: each src sends score/outdeg along every out-edge
    (LinkRankComputation.java:266-283). With ``broadcast_state`` the edge
    side is never shuffled or sorted — see :func:`_should_broadcast_state`."""
    s = _state_side(state.select(F.col("id"), F.col("score")), broadcast_state)
    return edges_x.join(s, edges_x.src == F.col("id")).select(
        F.col("dst"), (F.col("score") / F.col("outdeg")).alias("contrib")
    )


def _salted_contributions(
    edges_x: DataFrame, state: DataFrame, salt_buckets: int, broadcast_state: bool
) -> DataFrame:
    """:func:`contributions` plus the ``_salt`` = hash(src) % N column the
    two-phase salted aggregation partially sums on (see
    :func:`message_sums`)."""
    s = _state_side(state.select(F.col("id"), F.col("score")), broadcast_state)
    return edges_x.join(s, edges_x.src == F.col("id")).select(
        F.col("dst"),
        (F.col("score") / F.col("outdeg")).alias("contrib"),
        F.pmod(F.xxhash64(edges_x.src), F.lit(salt_buckets)).alias("_salt"),
    )


def message_sums(
    edges_x: DataFrame,
    state: DataFrame,
    salt_buckets: int | None = None,
    broadcast_state: bool = False,
) -> DataFrame:
    """Per-target sum of incoming contributions (LinkRankComputation.java:193-196).

    ``salt_buckets``: two-phase salted aggregation for hub-skewed graphs —
    partial sums on (dst, hash(src) % N), then the final sum on dst, so a
    spam-hub target's mass is reduced across N reducers instead of one
    (SURVEY.md §4.2 #5). Default single-phase relies on map-side partial
    aggregation, which already caps a hot dst at one row per map task."""
    if salt_buckets is None or salt_buckets <= 1:
        return contributions(edges_x, state, broadcast_state).groupBy("dst").agg(
            F.sum("contrib").alias("msg")
        )
    salted = _salted_contributions(edges_x, state, salt_buckets, broadcast_state)
    partial = salted.groupBy("dst", "_salt").agg(F.sum("contrib").alias("_psum"))
    return partial.groupBy("dst").agg(F.sum("_psum").alias("msg"))


def fused_message_state(
    edges_x: DataFrame,
    state: DataFrame,
    carry: list[str],
    salt_buckets: int | None = None,
    broadcast_state: bool = False,
) -> DataFrame:
    """Per-vertex message totals FUSED with the state carry-through in ONE
    shuffle: contribution rows (id, contrib) are unioned with one 0-contrib
    row per vertex carrying the loop-invariant columns (``carry``), then
    aggregated by id — ``sum(contrib)`` is the message total and
    ``max(col)`` recovers each carried column (exactly one non-null per id,
    the state row). Returns (id, msg, *carry).

    This replaces ``state JOIN msgs`` in the rank loops: the message
    relation is never broadcast or joined back, and the single groupBy(id)
    is the iteration's only shuffle — one exchange + one driver roundtrip
    fewer per superstep than the join formulation, at any scale.

    Float parity: the union adds one exact +0.0 term to each vertex's sum —
    IEEE identity — and partial-sum order inside an aggregate was already
    engine-chosen, so results match the join formulation bit-for-bit
    whenever the aggregation tree happens to coincide and to 1 ulp
    otherwise (the oracles round to 6 decimals far above that).
    """
    if salt_buckets is None or salt_buckets <= 1:
        msg_rows = contributions(edges_x, state, broadcast_state).select(
            F.col("dst").alias("id"), F.col("contrib")
        )
    else:
        msg_rows = (
            _salted_contributions(edges_x, state, salt_buckets, broadcast_state)
            .groupBy("dst", "_salt")
            .agg(F.sum("contrib").alias("contrib"))
            .select(F.col("dst").alias("id"), "contrib")
        )
    types = {f.name: f.dataType for f in state.schema.fields}
    for c in carry:
        msg_rows = msg_rows.withColumn(c, F.lit(None).cast(types[c]))
    srows = state.select("id", F.lit(0.0).alias("contrib"), *carry)
    return (
        msg_rows.unionByName(srows)
        .groupBy("id")
        .agg(
            F.sum("contrib").alias("msg"),
            *[F.max(c).alias(c) for c in carry],
        )
    )


def dangling_mass(state: DataFrame) -> DataFrame:
    """Single-row DF: total score of zero-outdegree vertices
    (LinkRankComputation.java:275-276,290-296)."""
    return state.filter(F.col("outdeg") == 0).agg(
        F.coalesce(F.sum("score"), F.lit(0.0)).alias("dangling")
    )


def _set_checkpoint_dir_once(df: DataFrame, checkpoint_dir: str | None) -> bool:
    """Set the reliable-checkpoint dir ONCE per run (returns whether reliable
    checkpointing is on). setCheckpointDir mints a fresh UUID subdirectory on
    every call — calling it per-checkpoint leaks one full state copy per
    interval. One call per run = one UUID dir; superseded checkpoint data
    within the run is reclaimed by the ContextCleaner when
    ``spark.cleaner.referenceTracking.cleanCheckpoints=true`` (set in
    :func:`giranking_spark.session.get_spark`), and the whole dir is safe to
    delete after the run."""
    if not checkpoint_dir:
        return False
    df.sparkSession.sparkContext.setCheckpointDir(checkpoint_dir)
    return True


#: vertex/state row count above which the per-round GC nudge fires — the
#: one place the gate lives (r12 ADVICE: it was duplicated inline at four
#: loop sites). Fixture-scale runs stay below it and pay nothing.
GC_NUDGE_MIN_ROWS = 1_000_000


def _gc_nudge(df: DataFrame, n_rows: int) -> None:
    """Dead-shuffle-file reclamation inside long fixpoint loops (r12,
    BASELINE.md round-12 cliff 1): each superstep's checkpoint makes the
    previous superstep's shuffle dead, but the ContextCleaner deletes dead
    shuffle files only after a JVM GC — at one superstep per ~minute the
    periodic 2-min GC lags and local disk fills across a K-superstep run
    (sf100 kcore died on ENOSPC from exactly this lifecycle). One driver
    GC per superstep bounds live shuffle files to ~the current round;
    gated to big states so fixture-scale runs pay nothing.

    The py4j ``_jvm`` accessor is private API, but the config-driven
    alternative (lowering spark.cleaner.periodicGC.interval) cannot track
    the loop cadence: rounds range from seconds (fixtures) to minutes
    (sf100), and any fixed interval either thrashes the former or lags the
    latter — the nudge fires exactly once per dead generation."""
    if n_rows > GC_NUDGE_MIN_ROWS:
        df.sparkSession.sparkContext._jvm.System.gc()


def _checkpoint(df: DataFrame, reliable: bool = False) -> DataFrame:
    """Per-iteration lineage truncation (the BSP superstep barrier).

    localCheckpoint (default) keeps blocks on executors — fast but
    non-resilient. With ``reliable`` (cfg.checkpoint_dir set), uses reliable
    ``df.checkpoint()`` so a cluster run survives executor loss mid-fixpoint
    (SURVEY.md §4.2 #1)."""
    if reliable:
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def _checkpoint_count(
    df: DataFrame, flag_col: str, reliable: bool = False
) -> tuple[DataFrame, int]:
    """Checkpoint + flagged-row count in ONE job (r13, guide §1.2 — fewer
    passes): the LAZY checkpoint's first action materializes and caches
    every partition, and that action IS the convergence count — the
    fixpoint loops previously paid two jobs per superstep (eager
    checkpoint, then a count over the cached blocks). The count scans all
    partitions, so the checkpoint completes within it and lineage is
    truncated exactly as before. Returns (checkpointed df, flagged count).
    """
    ck = _checkpoint_lazy(df, reliable)
    n = ck.filter(F.col(flag_col)).count()
    return ck, n


def _checkpoint_lazy(df: DataFrame, reliable: bool = False) -> DataFrame:
    """Lazy checkpoint: the caller's next FULL-SCAN action (a count or a
    1-row aggregate over every partition) materializes and caches all
    partitions, completing the checkpoint inside that job — use when a
    convergence probe immediately follows, so checkpoint + probe cost one
    job instead of two."""
    return df.checkpoint(eager=False) if reliable else df.localCheckpoint(eager=False)


def _checkpoint_nrows(
    df: DataFrame, reliable: bool = False
) -> tuple[DataFrame, int]:
    """Checkpoint + total row count in ONE job — same lazy-checkpoint
    fusion as :func:`_checkpoint_count` for loops whose convergence scalar
    is the plain row count (the peel family) or that need the state size
    for the broadcast/GC dispatch."""
    ck = _checkpoint_lazy(df, reliable)
    return ck, ck.count()


def _rank_fixpoint(
    vertices: DataFrame | None,
    edges: DataFrame,
    state0: Callable[[DataFrame | None, DataFrame], DataFrame],
    update: Callable[[int, Row], Column],
    updates: int,
    score0: Callable[[Row], Column] | None = None,
    extras: list | None = None,
    salt_buckets: int | str | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """The ONE PageRank-shaped superstep loop behind LinkRank, HostRank,
    TrustRank and PPR (Pregelix's join + group-by superstep: the loop owns
    the lifecycle, each algorithm supplies only columns and expressions).

    ``state0(vertices, edges)`` builds the extended initial state
    (id, [score,] outdeg, indeg, *extra) over the run-persisted inputs;
    every column but id, score and indeg is carried through unchanged. The
    checkpointed initial state is probed ONCE
    (:func:`_probe_checkpointed_state`, ``extras`` appended to that
    aggregate). From the probe ``row``, ``score0(row)`` sets the initial
    score when it depends on a probed scalar (PPR's seed share) and
    ``update(n, row)`` is the new score over ``msg``, ``dangling`` and the
    carried columns (built only when n > 0).

    Every superstep is checkpointed, with no interval knob: it references
    the previous state three times (message join, dangling aggregate,
    carry-through), so a skipped checkpoint grows the plan ~3^N nodes
    (measured exponential Catalyst analysis at sf0.1). Returns
    state(id, score, *carried)."""
    # persist the input edge relation for the run: the vertex union, the
    # out-degree aggregate and the per-iteration join all consume it — without
    # the cache the upstream derivation (at scale: the raw table scan) runs
    # 3-4x before the first checkpoint lands
    edges = edges.persist()
    # the window formulation leaves edges_x hashpartitioned by src already
    edges_x = edges_with_outdeg(edges).persist()
    # initial_state consumes `vertices` twice (id union + score join); when the
    # caller derives it from a relation scan, persist so the derivation runs once
    if vertices is not None:
        vertices = vertices.persist()

    reliable = _set_checkpoint_dir_once(edges, checkpoint_dir)
    state = _checkpoint(state0(vertices, edges), reliable)
    # n (getTotalNumVertices, counted after implicit vertex creation), the
    # broadcast decision, the salt decision and the caller's extras all come
    # from ONE 1-row aggregate over the checkpointed state
    n, bcast, salt, row = _probe_checkpointed_state(state, salt_buckets, extras)
    if vertices is not None:
        vertices.unpersist()
    carry = [c for c in state.columns if c not in ("id", "score", "indeg")]
    score = "score" if score0 is None else score0(row).alias("score")
    state = state.select("id", score, *carry)
    if n > 0:  # an empty graph has no 1/n share and nothing to update
        new_score = update(n, row).alias("score")
        for _ in range(updates):
            msgs = fused_message_state(edges_x, state, carry, salt, bcast)
            dang = dangling_mass(state)
            state = _checkpoint(
                msgs.crossJoin(F.broadcast(dang)).select("id", new_score, *carry),
                reliable,
            )
            # r12: at the third decade each superstep's fused groupBy(id)
            # exchange writes ~10+ GB of map-side partials (contrib rows are
            # dst-scattered across the src-partitioned layout) — see _gc_nudge
            _gc_nudge(state, n)
    edges_x.unpersist()
    edges.unpersist()
    return state


def linkrank_raw(
    vertices: DataFrame | None,
    edges: DataFrame,
    cfg: LinkRankConfig = LinkRankConfig(),
    num_updates: int | None = None,
) -> DataFrame:
    """Run the rank fixpoint WITHOUT the CDF epilogue; returns
    state(id, score, outdeg). Useful standalone (stage-level oracle queries)
    and as the core of :func:`run_linkrank`."""
    if cfg.remove_duplicates:
        edges = dedup_edges(edges)

    def update(n: int, _row: Row) -> Column:
        return F.lit(cfg.teleport / n) + F.lit(cfg.damping) * (
            F.col("msg") + F.col("dangling") / n
        )

    return _rank_fixpoint(
        vertices,
        edges,
        lambda v, e: initial_state_ext(v, e, cfg.default_score),
        update,
        cfg.num_updates if num_updates is None else num_updates,
        salt_buckets=cfg.salt_buckets,
        checkpoint_dir=cfg.checkpoint_dir,
    )


def run_linkrank(
    vertices: DataFrame | None,
    edges: DataFrame,
    cfg: LinkRankConfig = LinkRankConfig(),
) -> DataFrame:
    """Full LinkRank pipeline: optional dedup → K-1 rank updates → CDF
    normalize. Returns (id, score) with score ∈ [0, scale]."""
    state = linkrank_raw(vertices, edges, cfg)
    return normalize_scores(state.select("id", "score"), cfg.scale)


def trustrank_raw(
    vertices: DataFrame,
    edges: DataFrame,
    cfg: TrustRankConfig = TrustRankConfig(),
    num_updates: int | None = None,
) -> DataFrame:
    """TrustRank fixpoint WITHOUT the CDF epilogue; returns
    state(id, score, outdeg, trusted). Seeds are vertices with initial score
    ≈ 1.0; dangling mass is redistributed only to trusted-set members,
    divided by the trusted count (intended semantics,
    TrustRankComputation.java:214-236,321-329).

    Bug-compat switches (SURVEY.md §2.6; see TrustRankConfig):
      * ``bug_compat`` — bug #1, the dangling term vanishes for everyone.
      * ``bug_compat_empty_member`` — bug #2, "" is a trusted-set member.
      * ``bug_compat_nan_dangling`` — bug #3, numTrusted==0 divides anyway
        (±Inf/NaN per Java double semantics instead of the 0.0 guard).

    Scale note: the reference ships the whole trusted set to every worker as
    one ';'-joined aggregator string (TextAppendAggregator, :207-209) —
    gigabytes of driver state on a big graph. Here membership is a boolean
    STATE COLUMN carried through the fixpoint; only two scalar counts
    (``n``, ``num_trusted``) ever reach the driver
    (tests/test_scale_plans.py locks this)."""
    if cfg.remove_duplicates:
        edges = dedup_edges(edges)

    def state0(v: DataFrame | None, e: DataFrame) -> DataFrame:
        # trusted detection at superstep 0 (TrustRankComputation.java:203-211):
        # initial score within epsilon of 1.0
        return initial_state_ext(v, e, cfg.default_score).withColumn(
            "trusted", (F.abs(F.col("score") - 1.0) < cfg.trusted_epsilon)
        )

    # trusted-SET membership (the `trusteds.contains(...)` test, :220-224) —
    # distinct from the trusted FLAG: bug #2 makes "" a permanent member
    member = F.col("trusted")
    if cfg.bug_compat_empty_member:
        member = member | (F.col("id") == "")

    def update(n: int, row: Row) -> Column:
        num_trusted = int(row["_nt"] or 0)  # IntSumAggregator NUM_TRUSTED
        if cfg.bug_compat:
            dangling_term = F.lit(0.0)
        elif num_trusted == 0:
            if cfg.bug_compat_nan_dangling:
                # Java: danglingSum / 0.0 (:321-329). Spark's Divide returns
                # NULL on a zero divisor, so the IEEE result is spelled out.
                java_div0 = (
                    F.when(F.col("dangling") > 0, F.lit(float("inf")))
                    .when(F.col("dangling") < 0, F.lit(float("-inf")))
                    .otherwise(F.lit(float("nan")))
                )
                dangling_term = F.when(member, java_div0).otherwise(F.lit(0.0))
            else:
                dangling_term = F.lit(0.0)
        else:
            dangling_term = F.when(
                member, F.col("dangling") / num_trusted
            ).otherwise(F.lit(0.0))
        return F.lit(cfg.teleport / n) + F.lit(cfg.damping) * (
            F.col("msg") + dangling_term
        )

    return _rank_fixpoint(
        vertices,
        edges,
        state0,
        update,
        cfg.num_updates if num_updates is None else num_updates,
        extras=[F.sum(F.col("trusted").cast("long")).alias("_nt")],
        salt_buckets=cfg.salt_buckets,
        checkpoint_dir=cfg.checkpoint_dir,
    )


def run_trustrank(
    vertices: DataFrame,
    edges: DataFrame,
    cfg: TrustRankConfig = TrustRankConfig(),
) -> DataFrame:
    """Full TrustRank pipeline: :func:`trustrank_raw` fixpoint → CDF
    normalize. Returns (id, score) with score ∈ [0, scale]."""
    state = trustrank_raw(vertices, edges, cfg)
    return normalize_scores(state.select("id", "score"), cfg.scale)


# HostRank IS LinkRankComputation run on the host-level graph
# (HostRankHBaseTest.java:185-194) — same operator, different source.
run_hostrank = run_linkrank


def normalize_scores(scores: DataFrame, scale: float = 10.0) -> DataFrame:
    """Normal-CDF normalization epilogue (SURVEY.md §2.7): x = log(score),
    final = Φ((x-μ)/σ_pop) · scale. Single Spark stage: one global aggregate
    broadcast back over the rows."""
    logs = scores.select("id", F.log("score").alias("lx"))
    stats = logs.agg(
        F.avg("lx").alias("mu"), F.coalesce(F.stddev_pop("lx"), F.lit(0.0)).alias("sigma_raw")
    )
    return (
        logs.crossJoin(F.broadcast(stats))
        .select(
            "id",
            (
                normal_cdf(
                    F.col("lx"),
                    F.col("mu"),
                    F.when(F.col("sigma_raw") == 0.0, F.lit(SIGMA_FLOOR)).otherwise(
                        F.col("sigma_raw")
                    ),
                )
                * F.lit(scale)
            ).alias("score"),
        )
    )
