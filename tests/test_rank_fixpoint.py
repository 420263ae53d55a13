"""The shared superstep loops in operators/linkrank.py: the rank fixpoint
(_rank_fixpoint) behind linkrank_raw, trustrank_raw and ppr_scores, and
the fixed-K loop (_fixed_k_loop) behind Katz, OPIC, HITS, SALSA and
weighted PageRank.

1. The empty-graph path: with no vertices at all each operator returns
   its column set with 0 rows, and releases every cache it took.
2. Jobs per score update: the Spark jobs one extra iteration costs must
   not grow. The bound is the per-iteration job count measured before the
   operators shared a loop.
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
#: file's session at the commit before the operators shared a loop (each
#: ran its own copy of the superstep). One HITS or SALSA update is a full
#: iteration: an authority and a hub half-step.
PARENT_JOBS_PER_UPDATE = {
    "linkrank_raw": 5,
    "trustrank_raw": 5,
    "ppr_scores": 5,
    "katz_scores": 5,
    "opic_scores": 7,
    "hits_scores": 10,
    "salsa_scores": 16,
    "weighted_pagerank": 5,
}


def _weighted(e):
    """The graph_weighted_rank weights: w = 1 + length(dst) % 3."""
    return e.withColumn("w", (F.lit(1) + F.length("dst") % 3).cast("double"))


def _fixed_k_op(op):
    from giranking_spark.operators.hits import hits_scores
    from giranking_spark.operators.katz import katz_scores
    from giranking_spark.operators.opic import opic_scores
    from giranking_spark.operators.salsa import salsa_scores
    from giranking_spark.operators.wrank import weighted_pagerank

    return {
        "katz_scores": (katz_scores, ["id", "katz"]),
        "opic_scores": (opic_scores, ["id", "opic"]),
        "hits_scores": (hits_scores, ["id", "hub", "auth"]),
        "salsa_scores": (salsa_scores, ["id", "hub", "auth"]),
        "weighted_pagerank": (weighted_pagerank, ["id", "score"]),
    }[op]


FIXED_K_OPS = [
    "katz_scores",
    "opic_scores",
    "hits_scores",
    "salsa_scores",
    "weighted_pagerank",
]


@pytest.mark.parametrize("op", FIXED_K_OPS)
def test_fixed_k_empty_edges_return_empty_state_and_release_caches(spark, op):
    fn, columns = _fixed_k_op(op)
    e = _empty_edges(spark)
    if op == "weighted_pagerank":
        e = _weighted(e)
    spark.catalog.clearCache()
    gc.collect()
    base = _n_leaked(spark)
    out = fn(e, iterations=2)
    assert out.columns == columns
    assert out.count() == 0
    assert _n_leaked(spark) <= base, f"{op} left a cached relation behind"


def test_weighted_pagerank_zero_out_weight_is_dangling(spark):
    """A vertex whose out-weights sum to 0 has no out-link share to send:
    it is dangling, and under ANSI its 0/0 share must never be computed.
    Expected values are the ANSI-off result, where 0/0 is a null share."""
    from giranking_spark.operators.wrank import weighted_pagerank

    edges = spark.createDataFrame(
        [("a", "b", 1.0), ("b", "c", 0.0), ("c", "a", 2.0)],
        "src string, dst string, w double",
    )
    rows = {r.id: r.score for r in weighted_pagerank(edges).collect()}
    assert rows == {"a": 0.347054, "b": 0.451415, "c": 0.201531}


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
    if op in FIXED_K_OPS:
        fn, _ = _fixed_k_op(op)
        if op == "weighted_pagerank":
            e = _weighted(e)
        return lambda k: fn(e, iterations=k)
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


def test_byte_size_broadcast_threshold_is_read():
    """An unset spark.sql.autoBroadcastJoinThreshold reads back as
    "10485760b"; the loops' broadcast decision must see 10 MB, not treat
    the suffixed value as unreadable and switch broadcasting off."""
    from types import SimpleNamespace

    from giranking_spark.operators.linkrank import _conf_int

    def read(value):
        conf = SimpleNamespace(get=lambda key: value)
        return _conf_int(SimpleNamespace(conf=conf), "k", -7)

    assert read("10485760b") == 10 * 1024 * 1024
    assert read("64m") == read("64MB") == 64 * 1024 * 1024
    assert read("67108864") == 64 * 1024 * 1024
    assert read("-1") == -1
    assert read("ten") == -7
