"""SALSA (Stochastic Approach for Link-Structure Analysis) scores.

Lempel & Moran's public algorithm (WWW9, 2000): HITS with random-walk
normalization — every contribution is divided by the emitting side's
degree, so hubs/authorities are stationary distributions of the two-step
walk instead of raw sums.  Third iterative ranking family next to LinkRank
(reference scope, giraph-nutch LinkRankComputation.java:50-107) and HITS
(operators/hits.py):

    auth(v) = Σ hub(u) / outdeg(u)   over edges u→v,  then L1-normalize
    hub(u)  = Σ auth(v) / indeg(v)   over edges u→v,  then L1-normalize

Scale posture: the weighted edge relation (1/outdeg, 1/indeg attached) is
built once with two partial-agg shuffles and checkpointed; each half-step
is then ONE equi-join + ONE aggregate, with the L1 total riding back as a
broadcast single-row cross join (the sanctioned scalar-attach pattern).
Every half-step is lineage-checkpointed — same ~3^N re-execution guard as
the rank loop (operators/linkrank.py:fused_message_state rationale).

The iteration count is a shared CONTRACT with the unrolled-CTE DuckDB
oracle (queries/compq.py:_salsa_sql), like HITS and LinkRank.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from giranking_spark import lifecycle

SALSA_ITERATIONS = 2


def _weighted_edges(edges: DataFrame) -> DataFrame:
    dout = edges.groupBy("src").agg(F.count(F.lit(1)).alias("_dout"))
    din = edges.groupBy("dst").agg(F.count(F.lit(1)).alias("_din"))
    return (
        edges.join(dout, "src")
        .join(din, "dst")
        .select(
            "src", "dst",
            (F.lit(1.0) / F.col("_dout")).alias("wout"),
            (F.lit(1.0) / F.col("_din")).alias("win"),
        )
    )


def _half_step(
    ew: DataFrame, state: DataFrame, src_col: str, dst_col: str,
    weight: str, from_score: str, to_score: str,
) -> DataFrame:
    """to_score(x) = Σ from_score(y)·weight over src_col→dst_col edges,
    L1-normalized; the other score column carries through unchanged."""
    sums = (
        ew.join(
            state.select(F.col("id"), F.col(from_score)),
            ew[src_col] == F.col("id"),
        )
        .groupBy(ew[dst_col].alias("_tid"))
        .agg(F.sum(F.col(from_score) * F.col(weight)).alias("_raw"))
    )
    raw = lifecycle._checkpoint(
        state.join(sums, state["id"] == F.col("_tid"), "left").select(
            "id", from_score,
            F.coalesce(F.col("_raw"), F.lit(0.0)).alias("_raw"),
        )
    )
    total = raw.agg(F.sum("_raw").alias("_l1"))
    return raw.crossJoin(F.broadcast(total)).select(
        "id", from_score,
        (F.col("_raw") / F.col("_l1")).alias(to_score),
    )


def salsa_scores(edges: DataFrame, iterations: int = SALSA_ITERATIONS) -> DataFrame:
    """(id, hub, auth) after ``iterations`` SALSA rounds, rounded to 6."""
    ew = lifecycle._checkpoint(_weighted_edges(edges))
    state = lifecycle._checkpoint(
        ew.select(F.col("src").alias("id"))
        .unionByName(ew.select(F.col("dst").alias("id")))
        .distinct()
        .select("id", F.lit(1.0).alias("hub"), F.lit(1.0).alias("auth"))
    )
    for _ in range(iterations):
        # auth half-step reads hub over u→v, hub half-step reads NEW auth
        state = _half_step(ew, state, "src", "dst", "wout", "hub", "auth")
        state = _half_step(ew, state, "dst", "src", "win", "auth", "hub")
    return state.select(
        "id", F.round("hub", 6).alias("hub"), F.round("auth", 6).alias("auth")
    )
