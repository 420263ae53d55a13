"""The shared rank fixpoint (operators/linkrank.py:_rank_fixpoint) behind
linkrank_raw, trustrank_raw and ppr_scores.

1. The empty-graph path: with no vertices at all the loop returns before
   any update, with the caller's column set, and releases every cache it
   took.
2. Jobs per score update: the Spark jobs one extra superstep costs must
   not grow. The bound is the per-update job count measured before the
   three loops were merged into one.
"""

from __future__ import annotations

import gc

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMALL
from tests.test_round14_ops import _n_leaked


def _empty_edges(spark):
    return spark.createDataFrame([], "src string, dst string")


@pytest.mark.parametrize("with_vertices", [False, True])
@pytest.mark.parametrize(
    "op, columns",
    [
        ("linkrank_raw", ["id", "score", "outdeg"]),
        ("trustrank_raw", ["id", "score", "outdeg", "trusted"]),
    ],
)
def test_empty_graph_returns_empty_state_and_releases_caches(
    spark, op, columns, with_vertices
):
    from giranking_spark.operators import linkrank

    vertices = (
        spark.createDataFrame([], "id string, score double")
        if with_vertices
        else None
    )
    spark.catalog.clearCache()
    gc.collect()
    base = _n_leaked(spark)
    state = getattr(linkrank, op)(vertices, _empty_edges(spark), num_updates=3)
    assert state.columns == columns
    assert state.count() == 0
    assert _n_leaked(spark) <= base, f"{op} left a cached relation behind"


#: (jobs(3 updates) - jobs(1 update)) / 2 on SF_SMALL, measured with this
#: file's session at the commit before linkrank_raw, trustrank_raw and
#: ppr_scores shared one loop (each ran its own copy of the superstep):
#: linkrank_raw 5, trustrank_raw 5, ppr_scores 5.
PARENT_JOBS_PER_UPDATE = {"linkrank_raw": 5, "trustrank_raw": 5, "ppr_scores": 5}


def _rank_call(spark, op):
    from giranking_spark.config import LinkRankConfig, TrustRankConfig
    from giranking_spark.operators.linkrank import (
        all_vertex_ids,
        linkrank_raw,
        trustrank_raw,
    )
    from giranking_spark.operators.ppr import ppr_scores
    from giranking_spark.sources.tables import derive_edges

    e = derive_edges(spark, SF_SMALL)
    if op == "linkrank_raw":
        return lambda k: linkrank_raw(None, e, LinkRankConfig(), num_updates=k)
    if op == "trustrank_raw":
        v = all_vertex_ids(None, e).withColumn(
            "score",
            F.when(F.substring("id", 2, 100).cast("long") % 10 == 0, 1.0).otherwise(
                0.0
            ),
        )
        return lambda k: trustrank_raw(v, e, TrustRankConfig(), num_updates=k)
    return lambda k: ppr_scores(e, iterations=k)


@pytest.mark.parametrize("op", sorted(PARENT_JOBS_PER_UPDATE))
def test_jobs_per_score_update_do_not_increase(spark, op):
    sc = spark.sparkContext
    run = _rank_call(spark, op)
    jobs = {}
    for k in (1, 3):
        group = f"rank_jobs_{op}_{k}"
        sc.setJobGroup(group, f"{op} with {k} updates")
        try:
            run(k)
            jobs[k] = len(sc.statusTracker().getJobIdsForGroup(group))
        finally:
            sc.setJobGroup(f"{group}_done", "after")
    per_update = (jobs[3] - jobs[1]) / 2
    assert per_update <= PARENT_JOBS_PER_UPDATE[op], (op, jobs)
