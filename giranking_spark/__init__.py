"""giranking_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of AGMLab/giranking (LinkRank / HostRank /
TrustRank link-ranking pipelines), rebuilt Spark-first.

The reference (/root/reference, Apache Giraph BSP vertex programs) is treated
as a behavioral spec only: every operator it implements implicitly inside
``compute()`` is re-expressed here as declarative DataFrame operations so
Catalyst/Tungsten handle planning, pushdown, codegen and shuffle strategy.

Layout:
    config.py       — engine configuration (mirrors giraph.linkRank.* knobs)
    session.py      — SparkSession builder tuned for the target scale
    lifecycle.py    — the one owner of checkpoints and output cache release
    functions/      — scalar column expression libraries (urls, stats, text, hashing)
    sources/        — readers: text graph formats, parquet tables, Nutch mirrors,
                      graph derivation from relational tables
    operators/      — graph cleaning, LinkRank/TrustRank fixpoint, dedup,
                      similarity search, text analysis, multimodal plumbing
    streaming/      — Structured Streaming variants (events ingestion, windowed aggs)
"""

__version__ = "0.1.0"

from giranking_spark.config import LinkRankConfig, TrustRankConfig  # noqa: F401
from giranking_spark.operators.linkrank import (  # noqa: F401
    run_hostrank,
    run_linkrank,
    run_trustrank,
)
from giranking_spark.session import get_spark  # noqa: F401
