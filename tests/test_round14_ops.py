"""Round-14 optimization pins.

1. Unpersist discipline (r13 VERDICT item): the query-level persists added
   in r13 (fingerprint winnow/substring, dedup_recall_eval, the simq
   _recall_summary gates, text_dsir_weights, and the wedge-family caches)
   must not leave a cached relation behind once the caller drops the
   result — a 1000-query library session must not accumulate one persisted
   relation per call. The pattern under test: persist the reused relation,
   then ``lifecycle.materialize_output`` checkpoints the (result-sized)
   output and unpersists the big relation before returning; the output's
   checkpoint blocks die with the DataFrame via the ContextCleaner.

2. The wedge self-join shape: the r14 collect_list + combination-explode
   variant measured 2-2.6x SLOWER than the codegen'd self-join (interpreted
   higher-order array lambdas + per-pair slice copies), so the pair stage
   must stay a join on the shared-center key, hub-pruned before the
   quadratic stage.
"""

from __future__ import annotations

import gc
import os
import re

import pytest

SF_SMALL = os.environ.get("SPARK_GRAFT_SF_SMALL", "/root/testdata/sf0.001")


def _n_leaked(spark) -> int:
    """Persisted RDDs that are NOT localCheckpoint blocks.

    This is exactly the leak class: a ``.persist()`` without a matching
    ``.unpersist()`` keeps its map entry forever, and ``unpersist()``
    removes the entry synchronously — so this count is deterministic,
    needing no GC/drain loop. localCheckpoint blocks are excluded: their
    lifecycle is the ContextCleaner's documented die-with-the-DataFrame
    contract, which is asynchronous by design."""
    it = spark.sparkContext._jsc.sc().getPersistentRDDs().iterator()
    n = 0
    while it.hasNext():
        if not it.next()._2().isLocallyCheckpointed():
            n += 1
    return n


QUERY_KEYS = [
    "dedup_winnow_pairs",
    "dedup_substring_run",
    "dedup_recall_eval",
    "embed_recall_at_k",
    "text_dsir_weights",
    "graph_adamic_adar",
    "graph_bipartite_project",
    "graph_feature_agg",
    "graph_neighbor_jaccard",
    # the r14 second wave: pre-r13 leaks found by auditing every
    # query-level persist for a matching unpersist
    "corpus_pipeline",
    "text_pmi",
    "simsearch_recall",
    "text_quality_deciles",
    "search_hybrid_rrf",
    "graph_transitivity",
    # release paths moved onto lifecycle.materialize_output
    "graph_degree_assort",
    "graph_modularity",
    "embed_outlier_scores",
    "embed_semdedup",
    "graph_walks",
    "graph_walk_cooc",
    # the fixed-K superstep loop releases its edge cache
    "graph_katz",
    "crawl_opic_scores",
    "graph_hits",
    "graph_salsa",
    "graph_weighted_rank",
]


@pytest.mark.parametrize("key", QUERY_KEYS)
def test_no_cached_relation_outlives_the_result(spark, key):
    """Every ``.persist()`` a query takes must be released by the time it
    returns: after building AND forcing the query, the count of
    persisted-non-checkpoint RDDs is back at its baseline. ``unpersist()``
    removes the map entry synchronously, so this needs no GC/drain loop —
    a leak (the r13 persist-without-unpersist pattern) deterministically
    leaves its relations in the map."""
    from giranking_spark.queries import QUERIES

    spark.catalog.clearCache()
    gc.collect()
    base = _n_leaked(spark)
    df = QUERIES[key](spark, SF_SMALL)
    df.write.format("noop").mode("overwrite").save()
    n = _n_leaked(spark)
    assert n <= base, (
        f"{key}: {n - base} persisted relations outlive the call "
        "(cache leak — the r13 persist-without-unpersist regression)"
    )


def test_wedge_pair_stage_is_codegen_join_not_hof_explode(spark):
    """The pair stage must be a self-join on the shared-center key; the
    measured-slower interpreted combination explode must not come back.
    Built under lazy_checkpoints so the plan shows the pipeline, not the
    checkpointed output."""
    from giranking_spark.lifecycle import lazy_checkpoints
    from giranking_spark.queries.compq import (
        q_graph_adamic_adar,
        q_graph_bipartite_project,
    )
    from tests.test_scale_plans import plan_of

    for fn, center, lo, hi in (
        (q_graph_adamic_adar, "z", "id_a", "id_b"),
        (q_graph_bipartite_project, "src", "dst", "dst_b"),
    ):
        with lazy_checkpoints():
            plan = plan_of(fn(spark, SF_SMALL))
        assert "collect_list" not in plan, fn.__name__
        generates = [ln for ln in plan.splitlines() if "Generate" in ln]
        assert not [
            ln for ln in generates if "transform" in ln or "slice" in ln
        ], fn.__name__
        # the pair self-join: both keys are the center, and the pair-order
        # filter rides as its join condition
        assert re.search(
            rf"Left keys \[1\]: \[{center}#\d+\]\n"
            rf"Right keys \[1\]: \[{center}#\d+\]\n"
            rf"Join type: Inner\n"
            rf"Join condition: \({lo}#\d+ < {hi}#\d+\)",
            plan,
        ), fn.__name__
        assert fn(spark, SF_SMALL).count() > 0
    spark.catalog.clearCache()
