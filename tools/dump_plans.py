"""Dump explain("formatted") for declared queries + named sub-plans.

Usage: python tools/dump_plans.py <outdir> <suffix> q1,q2,...
Writes <outdir>/<query>_<suffix>.txt. Special names:
  rank_state0      — initial_state(None, derived edges) plan
  lpa_round, katz_round, opic_round, hits_round, salsa_round, wrank_round
                   — one round of that operator, checkpoints off
SPARK_GRAFT_PLANS_NO_CHECKPOINT=1 builds every query with checkpoints off
(giranking_spark.lifecycle.lazy_checkpoints).
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from giranking_spark.session import get_spark

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")


def plan_text(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _round_plans() -> dict:
    """name -> fn(edges): one round of a loop operator over the derived
    edges — the in-loop plan the fixpoint repeats every round."""
    from pyspark.sql import functions as F

    from giranking_spark.operators.hits import hits_scores
    from giranking_spark.operators.katz import katz_scores
    from giranking_spark.operators.labelprop import label_propagation
    from giranking_spark.operators.opic import opic_scores
    from giranking_spark.operators.salsa import salsa_scores
    from giranking_spark.operators.wrank import weighted_pagerank

    return {
        "lpa_round": lambda e: label_propagation(e, rounds=1),
        "katz_round": lambda e: katz_scores(e, iterations=1),
        "opic_round": lambda e: opic_scores(e, iterations=1),
        "hits_round": lambda e: hits_scores(e, iterations=1),
        "salsa_round": lambda e: salsa_scores(e, iterations=1),
        # the graph_weighted_rank weights
        "wrank_round": lambda e: weighted_pagerank(
            e.withColumn("w", (F.lit(1) + F.length("dst") % 3).cast("double")),
            iterations=1,
        ),
    }


def main() -> None:
    outdir, suffix, names = sys.argv[1], sys.argv[2], sys.argv[3].split(",")
    os.makedirs(outdir, exist_ok=True)
    spark = get_spark("plan-dump", cpus=8)
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as entry
    from giranking_spark.lifecycle import lazy_checkpoints
    from giranking_spark.sources.tables import derive_edges

    # eagerly checkpointed outputs explain() as a bare Scan ExistingRDD;
    # without checkpoints the dump shows the pipeline they would hide
    no_checkpoint = bool(os.environ.get("SPARK_GRAFT_PLANS_NO_CHECKPOINT"))
    qs = entry.queries()
    rounds = _round_plans()
    for name in names:
        if name == "rank_state0":
            from giranking_spark.operators.linkrank import initial_state

            df = initial_state(None, derive_edges(spark, SF))
        elif name in rounds:
            with lazy_checkpoints():
                df = rounds[name](derive_edges(spark, SF))
        elif no_checkpoint:
            with lazy_checkpoints():
                df = qs[name](spark, SF)
        else:
            df = qs[name](spark, SF)
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan_text(df))
        print(path)


if __name__ == "__main__":
    main()
