"""Personalized PageRank: power iteration with restart to a seed set.

Third iterative ranking family next to LinkRank (reference semantics,
operators/linkrank.py) and HITS (operators/hits.py) — the standard
"similarity to these nodes" primitive for crawl analysis and
recommendation. Differences from LinkRank: teleport mass goes ONLY to the
seed set (as does dangling mass), scores start as a distribution over the
seeds, and arithmetic is plain float64 (no float32-teleport compat — this
is extension surface, not reference parity).

Per iteration (d = damping, S = seed set, D = dangling mass):

    r'(v) = (1-d)·1_S(v)/|S| + d·( Σ_{u→v} r(u)/outdeg(u) + D·1_S(v)/|S| )

The loop is LinkRank's (operators/linkrank.py:_rank_fixpoint); this file
supplies only the seed column, the |S| probe aggregate and the score
expressions. The iteration count is a contract with the unrolled-CTE
oracle in queries/compq.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Row
from pyspark.sql import functions as F

from giranking_spark.operators.linkrank import _rank_fixpoint, initial_state_ext

PPR_ITERATIONS = 5
PPR_DAMPING = 0.85
#: deterministic seed predicate over vertex ids (shared with the oracle)
PPR_SEED_PRED = "(id LIKE 'c%' AND CAST(substr(id, 2) AS BIGINT) % 7 = 3)"


def ppr_scores(
    edges: DataFrame,
    seed_pred: str = PPR_SEED_PRED,
    iterations: int = PPR_ITERATIONS,
    damping: float = PPR_DAMPING,
) -> DataFrame:
    """(id, score) after ``iterations`` PPR updates, rounded to 6 decimals.

    Vertices are implicit (every id appearing as src or dst). The restart
    vector is uniform over vertices matching ``seed_pred`` (a SQL boolean
    expression over ``id``, evaluated identically by the oracle)."""
    teleport = 1.0 - damping  # float64, embedded verbatim in the oracle SQL
    seed = F.when(F.expr(seed_pred), 1.0).otherwise(0.0)

    def share(row: Row) -> Column:
        # seed mass share, 0/0-safe: on a seedless graph every seed is 0, the
        # when() never evaluates the division, and the share is exactly 0.0
        # (mirrored in the oracle). |S| is an exact small-integer-valued
        # double, so the literal divides bit-identically to a column.
        ns = float(row["_sns"] or 0.0)
        return F.when(F.col("seed") > 0, F.col("seed") / F.lit(ns)).otherwise(0.0)

    state = _rank_fixpoint(
        None,
        edges.select("src", "dst"),
        # the seed flag is a projection over the one-shuffle vertex state;
        # the initial score is the seed share, set once |S| is probed
        lambda _, e: initial_state_ext(None, e).select(
            "id", "outdeg", "indeg", seed.alias("seed")
        ),
        lambda _, row: F.lit(teleport) * share(row)
        + F.lit(damping) * (F.col("msg") + F.col("dangling") * share(row)),
        iterations,
        score0=share,
        extras=[F.sum("seed").alias("_sns")],
    )
    return state.select("id", F.round("score", 6).alias("score"))
