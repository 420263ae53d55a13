"""SALSA (Stochastic Approach for Link-Structure Analysis) scores.

Lempel & Moran's public algorithm (WWW9, 2000): HITS with random-walk
normalization — every contribution is divided by the emitting side's
degree, so hubs/authorities are stationary distributions of the two-step
walk instead of raw sums.  Third iterative ranking family next to LinkRank
(reference scope, giraph-nutch LinkRankComputation.java:50-107) and HITS
(operators/hits.py):

    auth(v) = Σ hub(u) / outdeg(u)   over edges u→v,  then L1-normalize
    hub(u)  = Σ auth(v) / indeg(v)   over edges u→v,  then L1-normalize

So SALSA is HITS over degree-weighted edges: the weighted edge relation
(1/outdeg, 1/indeg attached, two partial-agg shuffles) is built once and
handed to HITS's weighted L1 half-step (operators/hits.py:l1_hub_authority)
on the shared fixed-K loop.

The iteration count is a shared CONTRACT with the unrolled-CTE DuckDB
oracle (queries/compq.py:_salsa_sql), like HITS and LinkRank.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from giranking_spark.operators.hits import l1_hub_authority

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


def salsa_scores(edges: DataFrame, iterations: int = SALSA_ITERATIONS) -> DataFrame:
    """(id, hub, auth) after ``iterations`` SALSA rounds, rounded to 6."""
    return l1_hub_authority(_weighted_edges(edges), iterations, ("wout", "win"))
