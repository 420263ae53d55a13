"""Edge-weighted PageRank: power iteration over weighted out-link shares.

Fourth iterative ranking family (LinkRank reference parity, HITS, PPR,
this). The reference's graph is unweighted (`NullWritable` edge values,
SURVEY.md §1.1) — this is extension surface for graphs that DO carry link
weights (anchor frequency, click counts, citation multiplicity):

    r'(v) = (1-d)/N + d·( Σ_{u→v} r(u)·w(u,v)/W(u) + D/N )

with W(u) = Σ over u's out-edges of w, and D the dangling mass (vertices
with no out-edges), redistributed uniformly — plain float64 arithmetic (no
float32-teleport compat; that quirk is reference parity only).

Each update is one superstep of the shared fixed-K loop
(operators/linkrank.py:_fixed_k_loop). The message total is the rank
loop's FUSED union-aggregate — contribution rows union one 0-contrib state
row per vertex, one groupBy(id) is the update's only message shuffle; N
and the dangling mass ride as broadcast single-row cross joins. A vertex
whose out-weights sum to 0 sends no share and counts as dangling. The
iteration count is a contract with the unrolled-CTE oracle
(queries/compq.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from giranking_spark.operators.linkrank import _fixed_k_loop

WRANK_ITERATIONS = 3
WRANK_DAMPING = 0.85


def weighted_pagerank(
    edges_w: DataFrame,
    iterations: int = WRANK_ITERATIONS,
    damping: float = WRANK_DAMPING,
) -> DataFrame:
    """(id, score) after ``iterations`` weighted-PageRank updates over
    ``edges_w(src, dst, w)``, rounded to 6 decimals. Vertices are implicit
    (every id appearing as src or dst); initial score is the uniform
    distribution 1/N."""
    teleport = 1.0 - damping  # float64, embedded verbatim in the oracle

    def init_state(e: DataFrame) -> DataFrame:
        verts = (
            e.select(F.col("src").alias("id"))
            .unionByName(e.select(F.col("dst").alias("id")))
            .distinct()
        )
        wsum = e.groupBy("src").agg(F.sum("w").alias("outw"))
        nn = verts.agg(F.count(F.lit(1)).cast("double").alias("_n"))
        return (
            verts.join(wsum, verts.id == wsum.src, "left")
            .crossJoin(F.broadcast(nn))
            .select(
                verts.id,
                (F.lit(1.0) / F.col("_n")).alias("score"),
                F.coalesce(F.col("outw"), F.lit(0.0)).alias("outw"),
                "_n",
            )
        )

    def step(_i, e: DataFrame, state: DataFrame, side) -> DataFrame:
        # outw > 0 filter BEFORE the share division: under ANSI a
        # zero-weight vertex's 0/0 share raises DIVIDE_BY_ZERO (without
        # ANSI it is a null the sum skips), and that vertex is dangling
        s = side(
            state.filter(F.col("outw") > 0).select(
                F.col("id").alias("src"), "score", "outw"
            )
        )
        contribs = e.join(s, "src").select(
            F.col("dst").alias("id"),
            (F.col("score") * F.col("w") / F.col("outw")).alias("contrib"),
            F.lit(None).cast("double").alias("outw"),
            F.lit(None).cast("double").alias("_n"),
        )
        srows = state.select("id", F.lit(0.0).alias("contrib"), "outw", "_n")
        msgst = (
            contribs.unionByName(srows)
            .groupBy("id")
            .agg(
                F.sum("contrib").alias("msg"),
                F.max("outw").alias("outw"),
                F.max("_n").alias("_n"),
            )
        )
        d_mass = state.filter(F.col("outw") == 0.0).agg(
            F.coalesce(F.sum("score"), F.lit(0.0)).alias("dangling")
        )
        return msgst.crossJoin(F.broadcast(d_mass)).select(
            "id",
            (
                F.lit(teleport) / F.col("_n")
                + F.lit(damping) * (F.col("msg") + F.col("dangling") / F.col("_n"))
            ).alias("score"),
            "outw",
            "_n",
        )

    e = edges_w.select("src", "dst", F.col("w").cast("double").alias("w"))
    state = _fixed_k_loop(e, init_state, step, iterations)
    return state.select("id", F.round("score", 6).alias("score"))
