"""HITS (hubs & authorities) over the directed ranking graph.

Kleinberg's algorithm as a bounded DataFrame fixpoint, the second iterative
ranking family next to LinkRank (reference scope is LinkRank-only; HITS is
extension surface — the natural companion for link-graph analysis of a
crawl). Per iteration, in the standard order:

    auth(v) = Σ hub(u)  over edges u→v,  then L1-normalize
    hub(u)  = Σ auth(v) over edges u→v,  then L1-normalize

Each half-step is one superstep of the shared fixed-K loop
(operators/linkrank.py:_fixed_k_loop) and follows the rank loop's fused
union-aggregate discipline (operators/linkrank.py:fused_message_state
rationale): contribution rows union one 0-contrib state row per vertex, a
single groupBy(id) recovers both the sum and the carried other score, and
the L1 total rides back as a broadcast single-row cross join. SALSA
(operators/salsa.py) is the same half-step over degree-weighted edges.

The iteration count is a shared CONTRACT with the unrolled-CTE DuckDB
oracle (queries/compq.py) — fixed K ⇒ plain SQL expresses the exact
fixpoint prefix, like the LinkRank oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from giranking_spark.operators.linkrank import _fixed_k_loop

HITS_ITERATIONS = 2


def _l1_normalize(state: DataFrame, col: str) -> DataFrame:
    """``col`` over its L1 total, which rides a broadcast 1-row cross join."""
    total = state.agg(F.sum(col).alias("_total"))
    return state.crossJoin(F.broadcast(total)).select(
        *[c for c in state.columns if c != col],
        (F.col(col) / F.col("_total")).alias(col),
    )


def l1_hub_authority(
    edges: DataFrame, iterations: int, weights: tuple[str, str] | None = None
) -> DataFrame:
    """(id, hub, auth) after ``iterations`` rounds, rounded to 6; vertices
    are implicit, initial hub = auth = 1.0. Step 2k is the authority
    half-step, auth(v) = Σ hub(u)·w over u→v, step 2k+1 the hub half-step
    over the NEW auth in the reversed orientation (Kleinberg's order); w is
    the edge column ``weights[k % 2]``, or 1 when ``weights`` is None.

    A step returns its sum RAW and the next step (or the epilogue)
    L1-normalizes it, so the checkpoint lands on the aggregate that both
    the L1 total and the normalized projection read; normalizing inside
    the step would aggregate the messages once per reader."""

    def init_state(e: DataFrame) -> DataFrame:
        return (
            e.select(F.col("src").alias("id"))
            .unionByName(e.select(F.col("dst").alias("id")))
            .distinct()
            .select("id", F.lit(1.0).alias("hub"), F.lit(1.0).alias("auth"))
        )

    def half_step(i: int, e: DataFrame, state: DataFrame, side) -> DataFrame:
        src_col, dst_col, from_score, to_score = (
            ("src", "dst", "hub", "auth")
            if i % 2 == 0
            else ("dst", "src", "auth", "hub")
        )
        if i > 0:
            state = _l1_normalize(state, from_score)
        c = F.col(from_score)
        if weights is not None:
            c = c * F.col(weights[i % 2])
        contrib = e.join(
            side(state.select(F.col("id"), F.col(from_score))),
            e[src_col] == F.col("id"),
        ).select(F.col(dst_col).alias("id"), c.alias("c"))
        srows = state.select("id", F.lit(0.0).alias("c"), F.col(from_score))
        crows = contrib.withColumn(from_score, F.lit(None).cast("double"))
        return (
            crows.unionByName(srows)
            .groupBy("id")
            .agg(F.sum("c").alias(to_score), F.max(from_score).alias(from_score))
        )

    state = _fixed_k_loop(edges, init_state, half_step, 2 * iterations)
    if iterations > 0:
        state = _l1_normalize(state, "hub")
    return state.select(
        "id", F.round("hub", 6).alias("hub"), F.round("auth", 6).alias("auth")
    )


def hits_scores(edges: DataFrame, iterations: int = HITS_ITERATIONS) -> DataFrame:
    """(id, hub, auth) after ``iterations`` full HITS rounds, scores
    L1-normalized per half-step. Vertices are implicit (every id appearing
    as src or dst), initial hub = auth = 1.0."""
    return l1_hub_authority(edges.select("src", "dst"), iterations)
