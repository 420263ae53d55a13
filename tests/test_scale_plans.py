"""Plan-shape tests: encode the 100 TB posture in CI (SURVEY.md §4.2 #5).

These assert on ``explain``/plan text, not results — the properties that
decide whether a plan survives a 1000× scale-up:

* predicate pushdown reaches the parquet scan (PushedFilters)
* column pruning reaches the scan (ReadSchema carries only used columns)
* small dimensions broadcast (BroadcastHashJoin, no sort-merge on a 25-row
  nation table)
* bucketed tables co-locate equi-joins (no Exchange above the bucketed scan)
* the per-iteration rank join keeps Python out of the hot path (no
  BatchEvalPython / row-at-a-time UDF in the LinkRank plan)
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from giranking_spark.config import LinkRankConfig
from giranking_spark.operators.linkrank import linkrank_raw
from giranking_spark.sources.tables import derive_edges, load_table
from tests.conftest import SF_SMALL


def plan_of(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


import contextlib as _ctx  # noqa: E402


@_ctx.contextmanager
def lazy_checkpoints():
    """Neuter DataFrame.localCheckpoint for the duration of a plan pin.

    r14's unpersist discipline eagerly checkpoints query outputs, which
    collapses explain() to a bare `Scan ExistingRDD` — the positive plan
    assertions below would go vacuous. Building the query under this
    context keeps the honest lazy pipeline visible (the same dump-only
    trick as tools/dump_plans.py SPARK_GRAFT_PLANS_NO_CHECKPOINT)."""
    from pyspark.sql.classic.dataframe import DataFrame as _DF

    orig = _DF.localCheckpoint
    _DF.localCheckpoint = lambda self, eager=True: self
    try:
        yield
    finally:
        _DF.localCheckpoint = orig


def test_filter_pushdown_reaches_parquet(spark):
    li = load_table(spark, SF_SMALL, "lineitem").filter(F.col("l_quantity") > 30).select(
        "l_orderkey", "l_quantity"
    )
    plan = plan_of(li)
    assert "PushedFilters: [" in plan
    assert "GreaterThan(l_quantity" in plan


def test_column_pruning_reaches_parquet(spark):
    li = load_table(spark, SF_SMALL, "lineitem").select("l_orderkey", "l_suppkey")
    plan = plan_of(li)
    # the 16-column table is read with a 2-column schema
    assert "ReadSchema: struct<l_orderkey" in plan
    assert "l_extendedprice" not in plan


def test_small_dim_joins_broadcast(spark):
    c = load_table(spark, SF_SMALL, "customer")
    n = load_table(spark, SF_SMALL, "nation")
    joined = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).select(
        "c_custkey", "n_name"
    )
    plan = plan_of(joined)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_rank_plan_has_no_python_udf(spark):
    """The whole rank pipeline (join + aggs + CDF epilogue) stays JVM-side:
    erf is a Column expression, not a Python UDF (SURVEY.md §2.7)."""
    e = derive_edges(spark, SF_SMALL)
    raw = linkrank_raw(None, e, LinkRankConfig(), num_updates=1)
    from giranking_spark.operators.linkrank import normalize_scores

    plan = plan_of(normalize_scores(raw.select("id", "score"), 10.0))
    assert "BatchEvalPython" not in plan
    assert "PythonUDF" not in plan


@pytest.fixture()
def bucketed_edges(spark, tmp_path):
    e = derive_edges(spark, SF_SMALL)
    (
        e.write.mode("overwrite")
        .option("path", str(tmp_path / "edges_bucketed"))  # external table:
        # avoids touching the static warehouse dir
        .bucketBy(8, "src")
        .sortBy("src")
        .saveAsTable("edges_bucketed")
    )
    yield spark.table("edges_bucketed")
    spark.sql("DROP TABLE IF EXISTS edges_bucketed")


def test_bucketed_join_avoids_shuffle(spark, bucketed_edges):
    """Bucketing by the join key co-locates the big side: the bucketed scan
    feeds the join without an Exchange (the technique that amortizes the
    per-iteration message join at 100 TB — one shuffle at write time, zero
    per query)."""
    deg = bucketed_edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    joined = bucketed_edges.join(deg, "src")
    plan = plan_of(joined)
    # both the aggregate and the join consume bucketed partitioning: the
    # only allowed exchange is a broadcast, never a hash repartition
    assert "Exchange hashpartitioning" not in plan


def test_message_join_broadcasts_small_state(spark):
    """localCheckpoint erases size statistics, so the loop decides broadcast
    itself from the vertex count: with broadcast_state the big edge side is
    hash-joined in place — no sort-merge (no per-iteration edge sort)."""
    from giranking_spark.operators.linkrank import (
        edges_with_outdeg,
        initial_state,
        message_sums,
    )

    e = derive_edges(spark, SF_SMALL)
    state = initial_state(None, e)
    plan = plan_of(message_sums(edges_with_outdeg(e), state, None, True))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_salted_message_sum_is_two_stage(spark):
    """salt_buckets turns the message sum into partial-on-(dst, salt) then
    final-on-dst: the plan must show BOTH grouping stages, so a hot dst is
    reduced across N reducers before the final (tiny) dst aggregate
    (SURVEY.md §4.2 #5)."""
    from giranking_spark.operators.linkrank import (
        edges_with_outdeg,
        initial_state,
        message_sums,
    )

    import re

    e = derive_edges(spark, SF_SMALL)
    state = initial_state(None, e)
    plan = plan_of(message_sums(edges_with_outdeg(e), state, salt_buckets=8))
    # stage 1: exchange keyed on (dst, _salt) — spreads a hot dst over buckets
    assert re.search(r"hashpartitioning\(dst#\d+, _salt#\d+", plan), plan
    # stage 2: final exchange keyed on dst alone (salt reduced away)
    assert re.search(r"hashpartitioning\(dst#\d+, \d+\)", plan), plan


def test_asof_join_plan_is_single_shuffle_no_blowup(spark):
    """The as-of join must compile to a window over ONE hash exchange on the
    equi-keys — never a BroadcastNestedLoopJoin / CartesianProduct (the
    naive inequality-join formulations that die at scale)."""
    from giranking_spark.operators.joins import asof_join

    left = spark.range(100).select(
        (F.col("id") % 7).alias("k"), (F.col("id") * 10).alias("lt")
    )
    right = spark.range(50).select(
        (F.col("id") % 7).alias("k"), (F.col("id") * 17).alias("rt"), F.col("id").alias("rid")
    )
    plan = plan_of(asof_join(left, right, ["k"], "lt", "rt"))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Window" in plan
    # exactly one exchange, keyed on the join keys, feeds the window sort
    # (formatted mode prints each node twice: tree line + "(n) Exchange" detail)
    import re

    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert "hashpartitioning(k" in plan


def test_bucket_range_join_is_equi_join(spark):
    """The range join must execute as a hash equi-join on (keys, chunk) with
    the BETWEEN as a residual filter — not a nested-loop theta join."""
    from giranking_spark.operators.joins import bucket_range_join

    pts = spark.range(100).select((F.col("id") % 5).alias("k"), F.col("id").alias("t"))
    iv = spark.range(20).select(
        (F.col("id") % 5).alias("k"),
        (F.col("id") * 10).alias("lo"),
        (F.col("id") * 10 + 15).alias("hi"),
    )
    plan = plan_of(bucket_range_join(pts, iv, ["k"], "t", "lo", "hi", chunk=10))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert ("BroadcastHashJoin" in plan) or ("SortMergeJoin" in plan) or (
        "ShuffledHashJoin" in plan
    )


def test_trustrank_trusted_set_stays_distributed(spark):
    """The reference accumulates the trusted set as a driver-held ';'-joined
    string (TextAppendAggregator, TrustRankComputation.java:207-209) — at
    100 TB that string is gigabytes on the driver. The Spark port must keep
    membership as a boolean state column: no set/string aggregation anywhere
    in the fixpoint plan, and only scalar counts (n, num_trusted) ever reach
    the driver. Built under lazy_checkpoints() so the whole fixpoint
    lineage (initial state, probe input and the update) is visible to the
    assertion, not a bare checkpoint scan."""
    from giranking_spark.config import TrustRankConfig
    from giranking_spark.operators.linkrank import all_vertex_ids, trustrank_raw

    e = derive_edges(spark, SF_SMALL)
    v = all_vertex_ids(None, e).withColumn(
        "score",
        F.when(F.substring("id", 2, 100).cast("long") % 10 == 0, 1.0).otherwise(0.0),
    )
    cfg = TrustRankConfig(damping=0.2, superstep_count=2)
    with lazy_checkpoints():
        plan = plan_of(trustrank_raw(v, e, cfg, num_updates=1))
    # the lineage really is exposed: no checkpoint scan cuts it, it reaches
    # the source tables
    assert "ExistingRDD" not in plan, plan
    assert "Scan parquet" in plan, plan
    for forbidden in ("collect_set", "collect_list", "concat_ws", "string_agg"):
        assert forbidden not in plan, forbidden
    assert "BatchEvalPython" not in plan


def test_embed_neardup_has_no_unbucketed_self_join(spark):
    """embed_neardup's candidates must come from the (label, band, bucket)-
    blocked GEMM cogroup (r10 — the bucket-keyed pair self-join it replaces
    was 1.5e9 rows and a heap OOM at sf10); a hot label may never become a
    single join key (the within-label all-pairs formulation that
    degenerates quadratically)."""
    import re

    from giranking_spark.queries.simq import q_embed_neardup

    plan = plan_of(q_embed_neardup(spark, SF_SMALL))
    assert "CartesianProduct" not in plan
    # the blocked candidate cogroup is present...
    assert "FlatMapCoGroupsInPandas" in plan, plan
    # ...and no join collapses to the label alone
    assert not re.search(r"keys \[1\]: \[label#\d+\]", plan), plan


def test_lsh_candidate_join_is_equi_join(spark):
    """LSH candidate generation joins on (band, bucket) — an equi-join, not
    an all-pairs similarity cross product."""
    from giranking_spark.operators.similarity import lsh_topk

    emb = spark.range(60).select(
        F.col("id").alias("vec_id"),
        F.array(*[(F.rand(seed=i) - F.lit(0.5)) for i in range(8)]).alias("embedding"),
    )
    q = emb.filter(F.col("vec_id") % 10 == 0)
    plan = plan_of(lsh_topk(emb, q, bands=2, rows=2, dim=8, k=3))
    assert "CartesianProduct" not in plan


def test_hash_sample_is_scan_level_filter(spark):
    """hash_sample must compile to a narrow filter — zero Exchange nodes;
    the whole sample is decided inside the scan stage."""
    import re

    from giranking_spark.operators.sampling import hash_sample

    docs = load_table(spark, SF_SMALL, "documents")
    plan = plan_of(hash_sample(docs, "doc_id", 250_000).select("doc_id"))
    assert not re.findall(r"\(\d+\) Exchange", plan)
    assert "BatchEvalPython" not in plan


def test_kmv_topk_never_global_sorts(spark):
    """The k smallest hashes must come from TakeOrderedAndProject
    (per-partition top-k + k-row merge), not a full Sort."""
    from giranking_spark.operators.sketches import kmv_distinct

    li = load_table(spark, SF_SMALL, "lineitem")
    plan = plan_of(kmv_distinct(li, "l_partkey", 256))
    assert "TakeOrderedAndProject" in plan


def test_kmv_grouped_single_shuffle(spark):
    """kmv_distinct_by's only exchange is the explicit repartition(grp):
    hash-partitioning on grp satisfies both the (grp, h) dedup aggregate
    and the per-grp rank window, so Catalyst must not add a second
    data-sized shuffle."""
    import re

    from giranking_spark.operators.sketches import kmv_distinct_by

    ev = load_table(spark, SF_SMALL, "events")
    plan = plan_of(kmv_distinct_by(ev, "event_type", "user_id", 64))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan


def test_stratified_sample_single_shuffle(spark):
    """One Exchange for the stratum window — and nothing else."""
    import re

    from giranking_spark.operators.sampling import stratified_sample

    docs = load_table(spark, SF_SMALL, "documents")
    plan = plan_of(stratified_sample(docs, "lang", "doc_id", 10).select("doc_id"))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1


def test_redact_plan_is_narrow_jvm_map(spark):
    """Regex redaction stays a JVM Column pipeline: no shuffle, no Python."""
    import re

    from giranking_spark.operators.textops import redact_pii

    docs = load_table(spark, SF_SMALL, "documents")
    plan = plan_of(redact_pii(docs))
    assert not re.findall(r"\(\d+\) Exchange", plan)
    assert "BatchEvalPython" not in plan


def test_fused_rank_step_single_shuffle(spark):
    """The fused union-aggregate superstep (operators/linkrank.py:
    fused_message_state) must plan exactly ONE shuffle Exchange — the
    groupBy(id) — when the state broadcasts: no join-back of the message
    relation, no second exchange. This is the per-iteration cost contract
    at any scale."""
    from giranking_spark.operators.linkrank import (
        edges_with_outdeg,
        fused_message_state,
        initial_state,
    )

    e = derive_edges(spark, SF_SMALL)
    # mirror linkrank_raw: the edge relation is materialized ONCE for the
    # run (persist there; localCheckpoint here so the explain text doesn't
    # embed the derivation's own build-time exchanges inside the cached
    # relation), so only per-iteration cost appears in the plan
    edges_x = edges_with_outdeg(e).localCheckpoint()
    state = initial_state(None, e, 1.0).localCheckpoint()
    msgs = fused_message_state(edges_x, state, ["outdeg"], None, True)
    plan = plan_of(msgs)
    import re

    # formatted-explain detail nodes: "(n) Exchange" is a shuffle,
    # "(n) BroadcastExchange" is not
    n_shuffles = len(re.findall(r"\(\d+\) Exchange\b", plan))
    assert n_shuffles == 1, f"expected 1 shuffle, plan has {n_shuffles}:\n{plan}"
    assert "BatchEvalPython" not in plan


def test_neardup_cluster_edges_never_cartesian(spark):
    """The cluster-dedup candidate stage must stay a banded equi-join:
    no CartesianProduct / BroadcastNestedLoopJoin anywhere in the pair
    plan (the all-pairs failure mode the banding exists to prevent)."""
    from giranking_spark.operators.dedup import minhash_lsh_pairs

    docs = load_table(spark, SF_SMALL, "documents")
    pairs = minhash_lsh_pairs(docs, k=16, bands=4, n=3)
    plan = plan_of(pairs)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_chunking_is_shuffle_free_jvm_map(spark):
    """chunk_documents is split→sequence→explode→slice: no Exchange, no
    Python — it must stream through codegen at any scale."""
    from giranking_spark.operators.chunking import chunk_documents

    docs = load_table(spark, SF_SMALL, "documents")
    plan = plan_of(chunk_documents(docs))
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan


def test_simhash_pairs_candidates_are_equi_join(spark):
    """The banded hamming join must be a hash/sort-merge equi-join on
    (band, key) — never a cartesian or broadcast nested loop."""
    from giranking_spark.operators.dedup import simhash_pairs

    docs = load_table(spark, SF_SMALL, "documents")
    plan = plan_of(simhash_pairs(docs))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # r10: the bit_count(xor) hamming re-check must ride the join as a
    # RESIDUAL condition (evaluated during the probe), not as a filter
    # above a materialized all-bucket-pairs relation — the materialized
    # form was a measured heap OOM at sf10. In formatted/string plans the
    # residual prints as the operator's "Join condition:" detail line.
    cond_lines = [
        ln for ln in plan.splitlines() if "Join condition:" in ln
    ]
    assert any("bit_count" in ln for ln in cond_lines), plan


def test_fuzzy_match_blocked_join_never_cartesian(spark):
    """Record linkage candidates come from the block-key equi-join; the
    levenshtein filter must not degrade the join to a nested loop."""
    from giranking_spark.queries.prepq import q_rel_fuzzy_match

    plan = plan_of(q_rel_fuzzy_match(spark, SF_SMALL))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_kcore_round_filters_are_semi_joins(spark):
    """Each peel round restricts the edge set via LEFT SEMI joins on a
    single-column key relation — no payload amplification."""
    from giranking_spark.operators.components import undirected_edges

    e = undirected_edges(derive_edges(spark, SF_SMALL))
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    keep = deg.filter(F.col("deg") >= 2).select(F.col("src").alias("id"))
    step = e.join(keep, e.src == keep.id, "left_semi").join(
        keep, F.col("dst") == keep.id, "left_semi"
    )
    plan = plan_of(step)
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_zorder_key_is_pure_projection(spark):
    """The Morton key is shift/mask arithmetic over two columns: a single
    whole-stage-codegen projection, no Exchange, no UDF."""
    from giranking_spark.queries.analyticsq import q_rel_zorder_layout

    plan = plan_of(q_rel_zorder_layout(spark, SF_SMALL))
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan


def test_salted_join_executes_salted_shuffle_hash(spark):
    """rel_skew_join: the dim replicates per salt and the join executes as a
    SHUFFLED hash join keyed on (key, _salt) — not broadcast (which would
    model away the reducer hotspot the operator exists to split), not
    sort-merge on the bare key."""
    from giranking_spark.queries.analyticsq import q_rel_skew_join

    plan = plan_of(q_rel_skew_join(spark, SF_SMALL))
    assert "ShuffledHashJoin" in plan
    assert "_salt" in plan
    assert "BroadcastHashJoin" not in plan


def test_containment_candidates_are_equi_join(spark):
    """dedup_containment candidate generation joins on the shared shingle
    hash (bucketed), never a cartesian/nested-loop all-pairs."""
    from giranking_spark.operators.dedup import containment_pairs

    docs = load_table(spark, SF_SMALL, "documents")
    plan = plan_of(containment_pairs(docs))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_chunk_dedup_single_fanout_exchange(spark):
    """chunk_dedup assembles chunks via the per-doc lead() window riding the
    _spread hashpartitioning(id) — the fan-out stage adds NO exchange beyond
    the spread itself (same property as shingle_rows); no Python, no
    cartesian. First-occurrence keep is a groupBy arg-min, not a corpus-wide
    window (the only Window partitions by the doc id)."""
    from giranking_spark.operators.dedup import chunk_dedup

    docs = load_table(spark, SF_SMALL, "documents")
    plan = plan_of(chunk_dedup(docs))
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    # the Window is the per-doc lead family — its spec is keyed on the doc id
    assert "windowspecdefinition(id#" in plan


def test_neighbor_jaccard_prunes_hubs_before_self_join(spark):
    """graph_neighbor_jaccard: wedge candidates come from an equi-join on
    the shared source, and the hub out-degree prune sits upstream of it."""
    from giranking_spark.queries.compq import q_graph_neighbor_jaccard

    plan = plan_of(q_graph_neighbor_jaccard(spark, SF_SMALL))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_sink_bucketed_join_query_is_exchange_free(spark):
    """The sink_bucketed_join query's join stage must consume the bucket
    layout directly: no hash repartition between the bucketed scans and the
    sort-merge join (write-once shuffle, zero per-query)."""
    from giranking_spark.queries.formatq import q_sink_bucketed_join
    from tests.conftest import SF_SMALL

    out = q_sink_bucketed_join(spark, SF_SMALL)
    plan = plan_of(out)
    assert "SortMergeJoin" in plan
    join_part = plan.split("SortMergeJoin")[0]
    # the scans feeding the join carry bucket partitioning — the single
    # allowed hashpartitioning exchange is the FINAL groupBy, never below
    # the join
    assert "Exchange hashpartitioning" not in join_part


def test_bloom_join_prunes_before_semi_join(spark):
    """The bloom filter must sit below the exact semi-join: plan order is
    scan → bloom predicate filter → join (runtime-filter posture)."""
    from giranking_spark.queries.searchq import q_rel_bloom_join
    from tests.conftest import SF_SMALL

    plan = plan_of(q_rel_bloom_join(spark, SF_SMALL))
    assert "LeftSemi" in plan
    semi_below = plan.split("LeftSemi")[-1]
    # the orders side below the semi join contains the bloom bit-test filter
    assert "element_at" in semi_below


def test_bpe_merge_topk_is_take_ordered(spark):
    """Global top-k runs as TakeOrderedAndProject (per-partition top-k +
    merge), never a single-partition global sort/window."""
    from giranking_spark.queries.searchq import q_text_bpe_merge
    from tests.conftest import SF_SMALL

    plan = plan_of(q_text_bpe_merge(spark, SF_SMALL))
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan


def test_bm25_stats_ride_as_broadcasts(spark):
    """avgdl / N / df are broadcast single-row (or tiny) aggregates — the
    only hash shuffles in the BM25 plan are the term-count groupBys and the
    final per-query window, never a large-side repartition for the stats."""
    from giranking_spark.queries.searchq import q_text_bm25
    from tests.conftest import SF_SMALL

    with lazy_checkpoints():
        plan = plan_of(q_text_bm25(spark, SF_SMALL))
    assert plan.count("BroadcastExchange") >= 3  # qwords, qterms, df, stats


def test_line_dedup_df_join_is_hash_keyed_equi_join(spark):
    """Corpus-level line dedup joins lines to document frequencies on the
    60-bit line hash — an equi-join, never a nested loop; and no Python
    stage anywhere (pure Column pipeline)."""
    from giranking_spark.queries.curationq import line_dedup

    docs = load_table(spark, SF_SMALL, "documents")
    plan = plan_of(line_dedup(docs))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan


def test_quality_deciles_window_is_partitioned(spark):
    """The decile rank must come from the two-phase bucketed prefix sum:
    the only single-partition window input is the ≤n_buckets per-bucket
    totals, so the full-data window operator must be PARTITIONED (the
    naive global ntile would show a partition-less Window over the whole
    table). We assert the within-bucket window carries a partition spec."""
    from giranking_spark.queries.curationq import q_text_quality_deciles

    with lazy_checkpoints():
        plan = plan_of(q_text_quality_deciles(spark, SF_SMALL))
    # the full-data (phase-2) window hashes on the bucket column — the
    # naive global-ntile plan would have no hashpartitioning(__b …) at all
    assert "Window" in plan
    assert "hashpartitioning(__b" in plan


def test_semdedup_pair_join_is_cell_equi_join(spark):
    """SemDeDup's quadratic stage is bounded to within-cell pairs via an
    equi-join on the k-means cell id — never an unbucketed self-join."""
    from giranking_spark.operators.similarity import semdedup

    emb = load_table(spark, SF_SMALL, "embeddings")
    # materialize=False keeps the lazy plan: an eager-checkpointed result
    # would show only the materialized scan and the assertion would be
    # vacuously true forever
    plan = plan_of(semdedup(emb, 0.3, c=4, iters=1, materialize=False))
    assert "CartesianProduct" not in plan
    # r10: the within-cell scoring is the Arrow GEMM candidate stage, not
    # a Sigma|cell|^2 Column-expression join
    assert "FlatMapGroupsInPandas" in plan
    assert "BatchEvalPython" not in plan
    spark.catalog.clearCache()


def test_sssp_round_is_single_aggregation_shuffle(spark):
    """One Bellman-Ford round = join + union + min-agg; no Python, no
    nested loop in the per-round plan."""
    from giranking_spark.operators.components import sssp_distances

    e = derive_edges(spark, SF_SMALL)
    w = e.select("src", "dst", F.lit(1).cast("long").alias("w"))
    seeds = e.select(F.col("src").alias("id")).distinct().limit(5)
    plan = plan_of(sssp_distances(w, seeds, max_rounds=1))
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_partition_pruned_scan_prunes_directories(spark):
    """A partition-key predicate must land in PartitionFilters (directory
    pruning before any file opens), not in the row-level data filters."""
    from giranking_spark.queries.textsrcq import _scratch
    from giranking_spark.sources.tables import load_table as _lt

    path = _scratch(spark, SF_SMALL, "plans_part_docs")
    _lt(spark, SF_SMALL, "documents").write.mode("overwrite").partitionBy(
        "lang"
    ).parquet(path)
    back = spark.read.parquet(path).filter(F.col("lang").isin("en", "de"))
    plan = plan_of(back.groupBy("source").count())
    assert "PartitionFilters: [" in plan
    assert "lang" in plan.split("PartitionFilters:")[1].split("]")[0]


def test_dpp_join_injects_dynamic_pruning(spark):
    """The star-join over a partitioned fact must carry a dynamicpruning
    subquery in the fact scan's PartitionFilters — the runtime mechanism
    that skips unmatched partitions at 100 TB."""
    from giranking_spark.queries.storageq import build_dpp_tables

    fact_path, dim_path = build_dpp_tables(spark, SF_SMALL)
    fact = spark.read.parquet(fact_path)
    dim = spark.read.parquet(dim_path).filter(F.col("category").isin("c", "e"))
    joined = fact.join(F.broadcast(dim), "event_type").groupBy("event_type").count()
    plan = plan_of(joined)
    assert "dynamicpruning" in plan


def test_compaction_reduces_files_and_stays_map_only(spark):
    """Compaction must (a) size outputs from real bytes, (b) cut the file
    count, (c) never shuffle — coalesce merges splits in place."""
    from giranking_spark.operators.maintenance import (
        compact_parquet,
        compacted_df,
        data_file_stats,
    )
    from giranking_spark.queries.textsrcq import _scratch
    from giranking_spark.sources.tables import load_table as _lt

    frag = _scratch(spark, SF_SMALL, "plans_frag")
    compacted = _scratch(spark, SF_SMALL, "plans_compacted")
    _lt(spark, SF_SMALL, "events").select("event_id", "value").repartition(
        16
    ).write.mode("overwrite").parquet(frag)
    _, n_before = data_file_stats(spark, frag)
    assert n_before == 16
    back, n_planned = compact_parquet(spark, frag, compacted, target_file_bytes=1 << 30)
    _, n_after = data_file_stats(spark, compacted)
    assert n_after == n_planned == 1
    # the operator's OWN rewrite plan must be shuffle-free (a repartition
    # regression would reintroduce an Exchange here)
    plan = plan_of(compacted_df(spark, frag, 1 << 30)[0])
    assert "Exchange" not in plan
    assert back.count() == _lt(spark, SF_SMALL, "events").count()
    # byte-sizing is clamped to the input partition count: coalesce cannot
    # split, so a tiny target must still report the real (capped) count
    df_tiny, n_tiny = compacted_df(spark, frag, 1)
    assert n_tiny == df_tiny.rdd.getNumPartitions() <= 16


def test_walk_steps_are_equi_joins(spark):
    """Each walk step joins the one-row-per-walker state to the
    adjacency-ARRAY relation on cur = src and picks the neighbor with
    element_at — the adjacency side is unique-by-src (a groupBy result),
    so a hub with 10^6 out-edges still yields exactly one join row per
    walker per step; no cartesian, no Python anywhere, and the edge
    relation is exchanged exactly once (the adjacency build) — the
    round-3 positional-index shape paid three edge-sized exchanges."""
    from giranking_spark.operators.components import undirected_edges
    from giranking_spark.operators.walks import random_walks
    from giranking_spark.sources.tables import derive_edges

    handles: list = []
    walks = random_walks(
        undirected_edges(derive_edges(spark, SF_SMALL), dedup=False),
        2,
        materialize=False,
        persisted_out=handles,
    )
    plan = plan_of(walks)
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    # the per-step neighbor pick reads the sorted array — fan-out-free by
    # construction (unique-by-src arrays), visible in the plan as
    # element_at over nbrs rather than a positional-index join
    assert "element_at" in plan and "nbrs" in plan, plan
    # targeted cleanup via the returned handles (adjacency + per-step
    # states) — no session-wide clearCache needed
    assert len(handles) == 1 + 2  # adj, one state per step
    for df in handles:
        df.unpersist()


def test_aqe_splits_skewed_join_at_runtime(spark):
    """The session's AQE config must actually split a skewed shuffle
    partition at runtime: a hot-key sort-merge join executes with
    ``SortMergeJoin(skew=true)`` and a skewed AQEShuffleRead — the
    mechanism that saves hub-key joins at 100 TB without manual salting."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
    }
    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        fact = spark.range(400000).select(
            F.when(F.col("id") % 100 < 99, 0)
            .otherwise(F.col("id") % 7)
            .alias("k"),
            F.col("id").alias("v"),
        )
        dim = spark.range(7).select(
            F.col("id").alias("k"), F.concat(F.lit("d"), F.col("id")).alias("name")
        )
        j = fact.join(dim.hint("merge"), "k")
        assert len(j.collect()) == 400000
        executed = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in executed
        assert "AQEShuffleRead" in executed
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_negative_samples_rejection_is_equi_anti_join(spark):
    """The rejection step must be a (src, dst)-keyed LEFT ANTI equi-join
    against the positive edges — never a cartesian; candidate generation is
    a pure map (explode of a constant array) with a broadcast 1-row max."""
    from giranking_spark.queries.compq import q_graph_negative_samples

    plan = plan_of(q_graph_negative_samples(spark, SF_SMALL))
    assert "CartesianProduct" not in plan
    assert "LeftAnti" in plan
    assert "BatchEvalPython" not in plan


def test_gap_stats_single_user_shuffle(spark):
    """Per-user gap diagnostics must ride ONE hashpartitioning(user)
    exchange shared by the lag window and the per-user aggregate — a second
    shuffle would double the cost of the dominant stage at scale."""
    import re

    from giranking_spark.queries.analyticsq import QUERIES as AQ

    plan = plan_of(AQ["events_gap_stats"](spark, SF_SMALL))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert "Window" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_hll_distinct_is_two_stage_partial_agg(spark):
    """The HLL sketch must be the mergeable two-stage shape: partial
    register-max map-side, then at most m rows per task cross the wire —
    exactly two exchanges (register groupBy + 1-row finalize), partial
    HashAggregates present, no sort/window anywhere."""
    import re

    from giranking_spark.queries.pipelineq import QUERIES as PQ

    plan = plan_of(PQ["sketch_hll_distinct"](spark, SF_SMALL))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 2
    assert len(re.findall(r"\(\d+\) HashAggregate", plan)) >= 4
    assert "Window" not in plan
    assert re.search(r"\(\d+\) Sort", plan) is None
    assert "BatchEvalPython" not in plan


def test_ttr_and_bpe_apply_are_narrow_jvm_maps(spark):
    """Type-token ratio and BPE merge application are pure per-row
    projections (higher-order array functions) — NO exchange, no Python:
    at 100 TB these run entirely inside the scan stage."""
    from giranking_spark.queries.textq import QUERIES as TQ

    for key in ("text_ttr", "text_bpe_apply"):
        plan = plan_of(TQ[key](spark, SF_SMALL))
        assert "Exchange" not in plan, key
        assert "BatchEvalPython" not in plan, key
        assert "ArrowEvalPython" not in plan, key


def test_degree_assort_broadcasts_degree_attach(spark):
    """Degree assortativity (lazy plan): the per-endpoint degree attach is
    a broadcast hash join against the (small) degree relation off the
    persisted undirected-edge cache; no cartesian, no Python."""
    from giranking_spark.queries.compq import q_graph_degree_assort

    plan = plan_of(q_graph_degree_assort(spark, SF_SMALL, materialize=False))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    spark.catalog.clearCache()


def test_outlier_scores_mean_rides_as_broadcast_topk(spark):
    """Embedding outlier screen (lazy plan): the corpus mean attaches as a
    broadcast 1-row aggregate (BroadcastNestedLoopJoin over one row — the
    sanctioned scalar-attach), and the output is TakeOrderedAndProject,
    never a global sort."""
    from giranking_spark.queries.simq import q_embed_outlier_scores

    plan = plan_of(q_embed_outlier_scores(spark, SF_SMALL, materialize=False))
    assert "BroadcastNestedLoopJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    spark.catalog.clearCache()


def test_jpeg_features_stays_arrow_batched_and_pruned(spark):
    """JPEG decode runs as Arrow-batched MapInPandas (the sanctioned
    vectorized Python path), never row-at-a-time; the documents scan is
    pruned to doc_id only — payload synthesis and decode touch no other
    column."""
    from giranking_spark.queries.mmq import (
        q_mm_gif_features,
        q_mm_jpeg_features,
        q_mm_png_features,
        q_mm_tiff_features,
    )

    for q in (q_mm_jpeg_features, q_mm_png_features, q_mm_gif_features,
              q_mm_tiff_features):
        plan = plan_of(q(spark, SF_SMALL))
        assert "MapInPandas" in plan
        assert "BatchEvalPython" not in plan
        assert "CartesianProduct" not in plan
        scan = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
        assert scan and all("text" not in ln for ln in scan)


def test_warc_family_plan_shapes(spark):
    """WARC path 100 TB posture: the parse is the ONLY Python stage (one
    Arrow MapInPandas per archive, no row-at-a-time eval); CDX offsets come
    from ONE shard-partitioned window (no global sort); robots matching
    broadcasts the 50-host rule table instead of shuffling the links."""
    from giranking_spark.queries.warcq import (
        q_src_warc_records,
        q_url_robots_filter,
        q_warc_cdx_index,
        q_warc_link_hosts,
    )

    import re

    for q in (q_src_warc_records, q_warc_cdx_index, q_warc_link_hosts):
        plan = plan_of(q(spark, SF_SMALL))
        # exactly 2 Python stages: archive-fodder synth + the WARC parse
        assert len(set(re.findall(r"MapInPandas \(\d+\)", plan))) == 2
        assert "BatchEvalPython" not in plan
        assert "CartesianProduct" not in plan

    cdx = plan_of(q_warc_cdx_index(spark, SF_SMALL))
    # ONE window node (tree + detail listing each print it once)
    assert len(set(re.findall(r"Window \(\d+\)", cdx))) == 1
    assert "Sort" in cdx  # shard-local sort feeding the window, not global

    robots = plan_of(q_url_robots_filter(spark, SF_SMALL))
    assert "BroadcastHashJoin" in robots
    assert "SortMergeJoin" not in robots
    assert "BatchEvalPython" not in robots


def test_crawl_family_plan_shapes(spark):
    """Crawl-db family 100 TB posture: the Generator is ONE window over
    hash(host) finished by a TakeOrdered global top-k (no global Sort
    Exchange); the CrawlDb merge is a single full-outer equi-join on url;
    revisit/mirror dedup joins are equi-joins on the payload digest — no
    CartesianProduct, no Python anywhere (pure JVM expressions)."""
    import re

    from giranking_spark.queries.crawlq import (
        q_crawl_db_update,
        q_crawl_fetch_schedule,
        q_crawl_generator_topk,
        q_crawl_mirror_hosts,
        q_crawl_revisit_dedup,
        q_warc_anchor_text,
    )

    for q in (
        q_crawl_generator_topk, q_crawl_db_update, q_crawl_fetch_schedule,
        q_crawl_revisit_dedup, q_crawl_mirror_hosts,
    ):
        plan = plan_of(q(spark, SF_SMALL))
        assert "CartesianProduct" not in plan
        assert "BatchEvalPython" not in plan
        assert "MapInPandas" not in plan  # pure JVM family

    gen = plan_of(q_crawl_generator_topk(spark, SF_SMALL))
    assert "TakeOrderedAndProject" in gen  # global top-k never global-sorts
    assert len(set(re.findall(r"Window \(\d+\)", gen))) == 1

    upd = plan_of(q_crawl_db_update(spark, SF_SMALL))
    assert "FullOuter" in upd

    mirror = plan_of(q_crawl_mirror_hosts(spark, SF_SMALL))
    # the pair join is keyed on digest (equi-join), never host x host
    assert re.search(r"Join.*digest", mirror) or "digest" in mirror

    # anchor inversion: WARC parse is the only Python (2 Arrow stages:
    # fodder synth + parser), extraction itself stays JVM regexp
    anchor = plan_of(q_warc_anchor_text(spark, SF_SMALL))
    assert len(set(re.findall(r"MapInPandas \(\d+\)", anchor))) == 2
    assert "BatchEvalPython" not in anchor
    assert "CartesianProduct" not in anchor


def test_crawl_generator_respects_host_cap(spark):
    from giranking_spark.queries.crawlq import (
        HOST_CAP,
        TOTAL_K,
        q_crawl_generator_topk,
    )

    rows = q_crawl_generator_topk(spark, SF_SMALL).collect()
    assert len(rows) == TOTAL_K
    per_host = {}
    for r in rows:
        per_host[r.host] = per_host.get(r.host, 0) + 1
        assert r.host_rank <= HOST_CAP
    assert max(per_host.values()) <= HOST_CAP


def test_crawl_revisit_conserves_records(spark):
    """Revisits + kept responses == total records, and every mirror-host
    record whose payload also exists on the primary host is a revisit."""
    from giranking_spark.queries.crawlq import q_crawl_revisit_dedup

    agg = q_crawl_revisit_dedup(spark, SF_SMALL).collect()
    total = sum(r.n_records for r in agg)
    revisits = sum(r.n_revisits for r in agg)
    assert total > 0 and 0 < revisits < total
    # mirrors carry copies of primary payloads: revisit count >= the number
    # of mirror records minus cross-doc digest collisions on the mirror side
    mirror_records = sum(r.n_records for r in agg if r.host.startswith("www.m"))
    assert revisits >= mirror_records // 2


def test_wave13_plan_shapes(spark):
    """SALSA / residuals / adaptive-refresh / sitemap 100 TB posture:
    fixpoints keep Python out entirely and only cross-join broadcast 1-row
    scalars (L1 totals, dangling mass); adaptive refresh and the sitemap
    roundtrip are pure JVM aggregates."""
    from giranking_spark.operators.salsa import salsa_scores
    from giranking_spark.queries.crawlq import (
        q_crawl_adaptive_refresh,
        q_src_sitemap,
    )
    from giranking_spark.sources.tables import derive_edges

    salsa = plan_of(salsa_scores(derive_edges(spark, SF_SMALL), iterations=1))
    assert "BatchEvalPython" not in salsa
    assert "CartesianProduct" not in salsa

    # the half-step checkpoints truncate lineage, so disable them to see
    # the INNER join shape: the state join must be an equi-join
    # (hashed/merged), never a cartesian
    import giranking_spark.operators.salsa as salsa_mod

    orig = salsa_mod._checkpoint
    salsa_mod._checkpoint = lambda df, reliable=False: df
    try:
        inner = plan_of(
            salsa_scores(derive_edges(spark, SF_SMALL), iterations=1)
        )
    finally:
        salsa_mod._checkpoint = orig
    assert "CartesianProduct" not in inner
    assert (
        "SortMergeJoin" in inner
        or "BroadcastHashJoin" in inner
        or "ShuffledHashJoin" in inner
    )

    for q in (q_crawl_adaptive_refresh, q_src_sitemap):
        plan = plan_of(q(spark, SF_SMALL))
        assert "BatchEvalPython" not in plan
        assert "MapInPandas" not in plan
        assert "CartesianProduct" not in plan


def test_salsa_is_stochastic(spark):
    """SALSA invariants on a hand graph: scores are L1-normalized after
    each half-step, and on a star graph a->c, b->c the single authority
    takes all authority mass."""
    from giranking_spark.operators.salsa import salsa_scores

    edges = spark.createDataFrame(
        [("a", "c"), ("b", "c")], "src string, dst string"
    )
    rows = {r.id: r for r in salsa_scores(edges, iterations=2).collect()}
    assert abs(sum(r.auth for r in rows.values()) - 1.0) < 1e-9
    assert abs(sum(r.hub for r in rows.values()) - 1.0) < 1e-9
    assert rows["c"].auth == 1.0
    assert abs(rows["a"].hub - 0.5) < 1e-9


def test_rank_residuals_decrease(spark):
    """The L1 residual of the damped fixpoint must contract (Banach: factor
    <= damping=0.85 per step on the derived graph)."""
    from giranking_spark.queries.graph import q_rank_residuals

    rows = sorted(
        q_rank_residuals(spark, SF_SMALL).collect(), key=lambda r: r.k
    )
    vals = [r.l1_residual for r in rows]
    assert len(vals) == 4
    assert all(b < a for a, b in zip(vals, vals[1:]))


def test_wave14_plan_shapes(spark):
    """Winnowing / substring-run / Katz / OPIC / RAKE / Count-Min 100 TB
    posture: everything is JVM-side; candidate self-joins are hash-keyed
    equi-joins (never cartesian); the only nested-loop is the documented
    broadcast scalar/query-set attach."""
    from giranking_spark.operators.fingerprint import (
        substring_runs,
        winnow_fingerprints,
        winnow_pairs,
    )
    from giranking_spark.operators.katz import katz_scores
    from giranking_spark.operators.opic import opic_scores
    from giranking_spark.queries.pipelineq import q_sketch_countmin
    from giranking_spark.queries.textq import q_text_rake_keyphrases
    from giranking_spark.sources.tables import derive_edges

    docs = load_table(spark, SF_SMALL, "documents")
    with lazy_checkpoints():
        for df in (
            winnow_fingerprints(docs),
            winnow_pairs(docs),
            substring_runs(docs),
            q_text_rake_keyphrases(spark, SF_SMALL),
            q_sketch_countmin(spark, SF_SMALL),
        ):
            plan = plan_of(df)
            assert "BatchEvalPython" not in plan
            assert "MapInPandas" not in plan
            assert "CartesianProduct" not in plan
            assert "BroadcastNestedLoopJoin" not in plan

    # pair joins must be hash-keyed equi-joins on the fingerprint/gram hash
    with lazy_checkpoints():
        pair_plans = [plan_of(winnow_pairs(docs)), plan_of(substring_runs(docs))]
    for plan in pair_plans:
        assert (
            "SortMergeJoin" in plan
            or "BroadcastHashJoin" in plan
            or "ShuffledHashJoin" in plan
        )

    for df in (
        katz_scores(derive_edges(spark, SF_SMALL), iterations=1),
        opic_scores(derive_edges(spark, SF_SMALL), iterations=1),
    ):
        plan = plan_of(df)
        assert "BatchEvalPython" not in plan
        assert "CartesianProduct" not in plan


def test_katz_hand_graph(spark):
    """Katz on the star a->c, b->c with alpha=0.05, one step:
    c = 1 + 0.05*2, sources stay at the base score."""
    from giranking_spark.operators.katz import katz_scores

    edges = spark.createDataFrame(
        [("a", "c"), ("b", "c")], "src string, dst string"
    )
    rows = {r.id: r.katz for r in katz_scores(edges, iterations=1).collect()}
    assert abs(rows["c"] - 1.1) < 1e-9
    assert rows["a"] == 1.0 and rows["b"] == 1.0


def test_opic_cash_conservation(spark):
    """OPIC invariant: total cash stays 1 per step, so total importance
    (hist + cash) after T steps is exactly T + 1."""
    from giranking_spark.operators.opic import opic_scores

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("a", "d")],
        "src string, dst string",
    )
    total = sum(
        r.opic for r in opic_scores(edges, iterations=3).collect()
    )
    assert abs(total - 4.0) < 1e-6


def test_winnowing_guarantee(spark):
    """Schleimer et al. correctness property: two documents sharing a
    substring of >= w + k - 1 tokens must share at least one winnowing
    fingerprint."""
    from giranking_spark.operators.fingerprint import winnow_fingerprints

    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 = w + k - 1
    docs = spark.createDataFrame(
        [
            (1, "one two three " + shared + " four five six"),
            (2, "seven eight " + shared + " nine ten eleven twelve"),
        ],
        "doc_id long, text string",
    )
    fp = winnow_fingerprints(docs, k=4, w=5)
    a = {r.fp for r in fp.filter(F.col("doc_id") == 1).collect()}
    b = {r.fp for r in fp.filter(F.col("doc_id") == 2).collect()}
    assert a & b


def test_substring_run_exact_length(spark):
    """The islands run length must equal the true shared token run:
    a 9-token shared span with k=5 grams gives 5 consecutive anchors ->
    longest_run = 5 + 4 = 9."""
    from giranking_spark.operators.fingerprint import substring_runs

    span = "a b c d e f g h i"
    docs = spark.createDataFrame(
        [(1, "x y " + span + " z w"), (2, "p q r " + span + " s")],
        "doc_id long, text string",
    )
    rows = substring_runs(docs, k=5, min_run=5, max_df=10).collect()
    assert len(rows) == 1 and rows[0].longest_run == 9


def test_attribution_single_user_shuffle(spark):
    """First/last-touch attribution must be ONE hash(user_id) exchange —
    the RANGE frame computes all three touch stats in the same window;
    no purchase x click join may appear."""
    from giranking_spark.queries.analyticsq import q_events_attribution

    plan = plan_of(q_events_attribution(spark, SF_SMALL))
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan
    assert plan.count("hashpartitioning(user_id") >= 1


def test_stream_countmin_state_is_bounded(spark):
    """The streaming Count-Min aggregate keys on (window, d, c) — the
    state store holds at most days x depth x width rows regardless of
    stream volume."""
    from giranking_spark.queries.streamq import q_stream_countmin_daily
    from giranking_spark.streaming.ops import SCM_DEPTH, SCM_WIDTH

    out = q_stream_countmin_daily(spark, SF_SMALL)
    # epilogue output: top-5 per day; the counter relation behind it is
    # bounded by geometry, asserted via the distinct cell count
    from giranking_spark.streaming import stream_countmin_daily
    from giranking_spark.streaming.ops import read_events_stream
    from giranking_spark.queries.streamq import run_to_table

    regs = run_to_table(
        stream_countmin_daily(read_events_stream(spark, SF_SMALL)),
        mode="complete",
    )
    days = regs.select("window_start").distinct().count()
    assert regs.count() <= days * SCM_DEPTH * SCM_WIDTH
    assert out.columns == ["window_start", "user_id", "cm_estimate", "rank"]


def test_countmin_never_underestimates(spark):
    """Count-Min's defining guarantee: estimate >= true frequency for
    every probed token."""
    from giranking_spark.queries.pipelineq import q_sketch_countmin

    rows = q_sketch_countmin(spark, SF_SMALL).collect()
    assert rows and all(r.cm_estimate >= r.true_count for r in rows)


def test_matryoshka_recall_bounds(spark):
    """MRL recall is a proper fraction of TOPK, and the truncated ranking
    still finds most of the full-dim neighbors on the fixture corpus."""
    from giranking_spark.queries.simq import TOPK, q_embed_matryoshka

    rows = q_embed_matryoshka(spark, SF_SMALL).collect()
    assert rows and all(0 <= r.n_hit <= TOPK for r in rows)
    # the fixture embeddings are synthetic-random, so truncation keeps only
    # weak neighborhood signal — assert above-chance, not production-grade
    # (chance recall is TOPK/corpus ~= 0.01 here)
    mean_recall = sum(r.recall for r in rows) / len(rows)
    assert mean_recall > 0.02


def test_warm_restart_matches_cold_on_no_delta(spark):
    """With an empty delta (old graph == full graph) the warm-started
    second phase must equal a cold run of 2x the steps — warm-start is a
    true resume, not an approximation."""
    from giranking_spark.config import LinkRankConfig
    from giranking_spark.operators.linkrank import linkrank_raw
    from giranking_spark.queries.graph import WARM_STEPS

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c")],
        "src string, dst string",
    )
    cfg = LinkRankConfig(superstep_count=WARM_STEPS + 1)
    half = linkrank_raw(None, edges, cfg).select("id", "score")
    resumed = {
        r.id: r.score for r in linkrank_raw(half, edges, cfg).collect()
    }
    cold = {
        r.id: r.score
        for r in linkrank_raw(
            None, edges, LinkRankConfig(superstep_count=2 * WARM_STEPS + 1)
        ).collect()
    }
    assert set(resumed) == set(cold)
    assert all(abs(resumed[k] - cold[k]) < 1e-12 for k in cold)


def test_scc_relax_step_is_equi_join_and_agg(spark):
    """One min-label relax+double superstep (the SCC peel's inner loop)
    must be equi-joins + a min-aggregate — no cartesian, no Python."""
    from pyspark.sql import functions as F

    from giranking_spark.operators.scc import (
        _double_once,
        _relax_once,
    )

    e = spark.createDataFrame([(1, 2), (2, 3), (3, 1)], "src long, dst long")
    state = e.select(F.col("src").alias("id")).distinct().select(
        "id", F.col("id").alias("lbl")
    )
    step = _double_once(_relax_once(e, state, bcast=False).drop("_changed"),
                        bcast=False)
    plan = step._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ktruss_round_is_wedge_equi_joins(spark):
    """One k-truss peel round: the triangle triple join and the support
    semi-join are all equi-keyed."""
    from giranking_spark.queries.compq import ktruss_edges

    e = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (3, 4)], "u long, v long"
    )
    out = ktruss_edges(e, k=3, rounds=1)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_star_components_phase_is_bounded_joins(spark):
    """A large-star+small-star alternation must stay equi-joins +
    min-aggregates (the paper's bounded-intermediate guarantee relies on
    it)."""
    from giranking_spark.operators.components import connected_components_star

    e = spark.createDataFrame(
        [("a", "b"), ("b", "c")], "src string, dst string"
    )
    out = connected_components_star(e)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_hyperball_superstep_is_edge_equi_join(spark):
    """Each HyperBall superstep joins the edge relation to register state
    on the dst key (equi-join, broadcast while state fits) and aggregates
    by (id, idx) — no cartesian, no Python; the final per-radius plan
    unions finalizes off checkpointed state."""
    from giranking_spark.operators.hyperball import hyperball

    e = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1)], "src long, dst long"
    )
    plan = plan_of(hyperball(e, 2))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    # the finalize aggregates group by id
    assert "m_used" in plan


def test_harmonic_window_is_partitioned_by_vertex(spark):
    """graph_harmonic's lag window must partition by id — an unpartitioned
    window would serialize all vertices through one task."""
    from giranking_spark.queries.compq import q_graph_harmonic

    plan = plan_of(q_graph_harmonic(spark, SF_SMALL))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    import re

    win_lines = [ln for ln in plan.splitlines() if "Window" in ln or "windowspecdefinition" in ln]
    assert any(
        re.search(r"partitionBy|windowspecdefinition\(id", ln) for ln in win_lines
    ), f"no id-partitioned window found:\n" + "\n".join(win_lines)


def test_robots_parse_plan_arrow_only(spark):
    """crawl_robots_parse: the only Python in the plan is Arrow-batched
    mapInPandas (fixture synthesis + WARC parse); group attribution is a
    k-partitioned running window, never a self-join."""
    from giranking_spark.queries.warcq import q_crawl_robots_parse

    plan = plan_of(q_crawl_robots_parse(spark, SF_SMALL))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "MapInPandas" in plan


def test_webp_meta_adds_no_python_beyond_fixture(spark):
    """mm_webp_meta: the metadata unpack itself is pure JVM byte math —
    exactly ONE MapInPandas appears (the fixture synthesis), none for the
    header parse."""
    from giranking_spark.queries.mmq import q_mm_webp_meta

    plan = plan_of(q_mm_webp_meta(spark, SF_SMALL))
    assert "BatchEvalPython" not in plan
    # formatted explain lists each operator twice (tree + detail); the
    # tree form is "MapInPandas (n)"
    assert plan.count("MapInPandas (") == 1, plan


def test_politeness_delay_side_broadcasts(spark):
    """crawl_host_politeness: the 50-row parsed-delay relation must ride
    as a broadcast; the frontier aggregates before the join."""
    from giranking_spark.queries.warcq import q_crawl_host_politeness

    plan = plan_of(q_crawl_host_politeness(spark, SF_SMALL))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_holt_fold_is_jvm_aggregate(spark):
    """events_holt_winters: the sequential recursion must be a JVM
    higher-order aggregate over the collected per-type array — zero Python
    stages, and the only data-sized exchange is the daily partial agg."""
    from giranking_spark.queries.analyticsq import q_events_holt_winters

    plan = plan_of(q_events_holt_winters(spark, SF_SMALL))
    assert "BatchEvalPython" not in plan
    assert "MapInPandas" not in plan
    assert "aggregate(" in plan or "Aggregate" in plan


def test_image_histogram_agg_is_partial(spark):
    """mm_image_histogram: pixel rows never reach the shuffle un-combined —
    the (channel, bin) aggregate must have a map-side partial phase."""
    from giranking_spark.queries.mmq import q_mm_image_histogram

    plan = plan_of(q_mm_image_histogram(spark, SF_SMALL))
    assert "BatchEvalPython" not in plan
    assert "partial" in plan.lower()


def test_sitemap_diff_is_anti_join(spark):
    from giranking_spark.queries.crawlq import q_crawl_sitemap_diff

    plan = plan_of(q_crawl_sitemap_diff(spark, SF_SMALL))
    assert "CartesianProduct" not in plan
    assert "LeftAnti" in plan


def test_unpivot_is_single_expand(spark):
    """rel_unpivot must compile to one Expand over the aggregated relation,
    not a union of per-column scans."""
    from giranking_spark.queries.relational import q_rel_unpivot

    plan = plan_of(q_rel_unpivot(spark, SF_SMALL))
    assert plan.count("Expand (") == 1 or "Expand" in plan
    assert "Union" not in plan


def test_seasonal_anomaly_baseline_broadcasts(spark):
    from giranking_spark.queries.analyticsq import q_events_anomaly_seasonal

    plan = plan_of(q_events_anomaly_seasonal(spark, SF_SMALL))
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan


def test_coreness_round_filters_are_semi_joins(spark):
    """Every coreness peel round filters both endpoints with LEFT SEMI
    single-column relations — no payload amplification."""
    from giranking_spark.operators.components import kcore_peel

    # same round shape as coreness_peel's inner loop (shared pattern)
    e = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    from giranking_spark.operators.components import coreness_peel

    plan = plan_of(coreness_peel(e, kmax=2, rounds=1))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_betweenness_levels_are_seed_keyed_equi_joins(spark):
    """Every betweenness level (forward or backward) must be a (seed, id)-
    keyed equi-join + aggregation — no cartesian, no Python, pivots never
    fan out into separate propagations."""
    from giranking_spark.operators.betweenness import betweenness_approx

    e = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "src long, dst long"
    )
    seeds = spark.createDataFrame([(1,), (2,)], "id long")
    plan = plan_of(betweenness_approx(e, seeds, 2))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_broadcast_decision_measures_long_ids(spark):
    """The broadcast-state heuristic derives row width from the MEASURED
    avg id byte length, not the 64 B/row constant alone: 1000 vertices of
    200-byte URL ids weigh ~250 KB, so with a 128 KB threshold the state
    must NOT broadcast even though the old n*64 = 64 KB estimate said yes
    — the undershoot the round-7 VERDICT flagged. Short (long-typed) ids
    keep the 64 B floor and still broadcast under the same threshold."""
    from pyspark.sql import functions as F

    from giranking_spark.operators.linkrank import _should_broadcast_state

    n = 1000
    long_ids = spark.range(n).select(
        F.concat(
            F.lit("http://example.com/"), F.lpad(F.col("id").cast("string"), 181, "x")
        ).alias("id")
    )
    short_ids = spark.range(n).select(F.col("id").cast("string").alias("id"))
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(128 * 1024))
        assert not _should_broadcast_state(long_ids, n, long_ids)
        assert _should_broadcast_state(short_ids, n, short_ids)
        # without a state relation the 64 B floor decides (legacy behavior)
        assert _should_broadcast_state(long_ids, n)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_bipartite_projection_is_equi_join(spark):
    """The one-mode projection must come from an equi-join on the shared
    customer key — never a cartesian/nested-loop pair enumeration — and
    the hub prune must sit below the self-join."""
    from giranking_spark.queries.compq import q_graph_bipartite_project

    with lazy_checkpoints():
        plan = plan_of(q_graph_bipartite_project(spark, SF_SMALL))
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan


def test_knn_graph_is_label_blocked(spark):
    """kNN candidates must come from the label-blocked Arrow GEMM stage
    (FlatMapGroupsInPandas — the ONE sanctioned Python stage, r10), never
    a corpus x corpus join and never row-at-a-time Python."""
    from giranking_spark.queries.simq import q_embed_knn_graph

    plan = plan_of(q_embed_knn_graph(spark, SF_SMALL))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    # the |block|^2 Column-expression pair join must NOT come back: its
    # signature was a same-relation equi-join on label ahead of the window
    assert "FlatMapGroupsInPandas" in plan


def test_hashing_vectorizer_stays_jvm(spark):
    """The hashing trick is pure Column algebra: no Python anywhere, and
    the aggregation must show a partial (map-side) stage."""
    from giranking_spark.queries.textq import q_text_hashing_vectorizer

    plan = plan_of(q_text_hashing_vectorizer(spark, SF_SMALL))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "HashAggregate" in plan


def test_bloom_fpp_no_cartesian(spark):
    """Bloom probes semi-join the fixed bit relation on the position key;
    the only nested-loop joins allowed are the broadcast 1-row scalar
    attaches."""
    from giranking_spark.queries.pipelineq import q_sketch_bloom_fpp

    plan = plan_of(q_sketch_bloom_fpp(spark, SF_SMALL))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_mann_whitney_windows_value_relation(spark):
    """The rank window must run over the distinct-value relation, after
    aggregation — the plan shows the window ABOVE a HashAggregate, and no
    window over the raw event scan."""
    from giranking_spark.queries.analyticsq import q_events_mann_whitney

    plan = plan_of(q_events_mann_whitney(spark, SF_SMALL))
    assert "BatchEvalPython" not in plan
    assert plan.index("Window") > plan.index("HashAggregate")


def test_interval_coalesce_single_user_shuffle(spark):
    """Both windows (running max + cumulative span id) must share the
    user-keyed partitioning: exactly one exchange on user_id before the
    final aggregate."""
    import re

    from giranking_spark.queries.relational import q_rel_interval_coalesce

    plan = plan_of(q_rel_interval_coalesce(spark, SF_SMALL))
    assert "BatchEvalPython" not in plan
    user_exchanges = re.findall(r"Exchange hashpartitioning\(user_id", plan)
    assert len(user_exchanges) <= 1, plan


def test_exact_topk_trims_before_window_exchange(spark):
    """The exact retrieval baselines (brute_force_topk / simsearch_maxdot)
    must generate candidates through the bucketed GEMM cogroup
    (FlatMapCoGroupsInPandas) BELOW the per-query rank window, so the
    window's exchange moves ~|Q|*k candidate rows instead of the full
    |C|x|Q| scored relation (r8 item 6's partial trim, upgraded r10 to
    BLAS scoring after the |Q|-grows-with-corpus decade measurement)."""
    from giranking_spark.queries.simq import q_simsearch_maxdot, q_simsearch_topk

    for q in (q_simsearch_topk, q_simsearch_maxdot):
        plan = plan_of(q(spark, SF_SMALL))
        assert "FlatMapCoGroupsInPandas" in plan, plan
        assert "Window" in plan, plan
        # formatted plans list operators leaves-first: the candidate stage
        # must sit BELOW the window in the tree (after it in the text)
        assert plan.index("FlatMapCoGroupsInPandas") > plan.index("Window"), plan
        # the exact rescore stays JVM-side: no row-at-a-time UDF
        assert "BatchEvalPython" not in plan


def test_theta_band_join_is_equi_join(spark):
    """The band join must execute as a bucket EQUI-join: no cartesian, no
    broadcast-nested-loop anywhere in the plan."""
    from giranking_spark.queries.relational import q_rel_theta_band_join

    plan = plan_of(q_rel_theta_band_join(spark, SF_SMALL))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan


def test_skyline_window_runs_over_price_aggregate(spark):
    """The unkeyed dominance window must consume the per-price aggregate
    (one row per distinct price), never the raw order rows: the plan shows
    the Window ABOVE a HashAggregate, and the skyline rows come back via a
    broadcast join."""
    from giranking_spark.queries.relational import q_rel_skyline_2d

    plan = plan_of(q_rel_skyline_2d(spark, SF_SMALL))
    assert "BatchEvalPython" not in plan
    assert plan.index("Window") > plan.index("BroadcastHashJoin")
    assert "HashAggregate" in plan


def test_local_bridges_never_cartesian(spark):
    from giranking_spark.queries.compq import q_graph_local_bridges

    plan = plan_of(q_graph_local_bridges(spark, SF_SMALL))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_ngram_jaccard_shape_is_the_exact_floor(spark):
    """dedup_ngram_jaccard's scale bound (r11 written argument, BASELINE.md):
    the pair relation is Sigma_shingle C(df,2) rows — LINEAR in corpus at
    fixed duplication depth because the cipher-mutated decades keep df per
    shingle constant, and hub-proof because max_df caps any shingle's
    fan-out. The plan must show exactly that shape: the one shingle
    equi-join (no cartesian), the df-prune aggregate BEFORE the self-join,
    and zero Python stages (hashes are JVM md5 Column expressions)."""
    from giranking_spark.queries.dedupq import QUERIES as DQ

    with lazy_checkpoints():
        plan = plan_of(DQ["dedup_ngram_jaccard"](spark, SF_SMALL))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    # df-prune: the per-shingle count window's output filtered on the cap —
    # the structural fragment, not a bare '1000' that any statistic could
    # false-match
    import re

    assert re.search(r"__df#\d+L? <= 1000", plan), "df-prune filter missing"
    assert "Window" in plan
