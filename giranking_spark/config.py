"""Engine configuration.

Mirrors the reference's ``giraph.linkRank.*`` configuration surface
(reference: giraph-nutch/src/main/java/org/apache/giraph/ranking/LinkRank/
LinkRankComputation.java:48-92,140-160) as a plain dataclass.

Defaults follow the *code* defaults, not the README: notably
``remove_duplicates`` defaults to False (LinkRankComputation.java:149-150)
although the Javadoc claims true — golden-number parity requires the code
default (SURVEY.md §2.3 gotcha).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np


def float32_teleport(damping: float) -> float:
    """(1 - d) computed in float32 then widened to double.

    The reference computes the teleport constant as ``(1f - dampingFactor)``
    in Java float arithmetic (LinkRankComputation.java:198-200); with d=0.85
    this is 0.1499999761581421, not 0.15. Golden values depend on it
    (SURVEY.md §2.6 bug #4), so we reproduce the widening exactly.
    """
    return float(np.float32(1.0) - np.float32(damping))


@dataclass(frozen=True)
class LinkRankConfig:
    """Knobs for one ranking run.

    Reference keys (LinkRankComputation.java:48-92):
        giraph.linkRank.dampingFactor   -> damping         (default 0.85)
        giraph.linkRank.superstepCount  -> superstep_count (default 10; the
            schedule performs superstep_count - 1 score updates, SURVEY.md §3)
        giraph.linkRank.scale           -> scale           (default 10)
        giraph.linkRank.removeDuplicates-> remove_duplicates (default False)
    """

    damping: float = 0.85
    superstep_count: int = 10
    scale: float = 10.0
    remove_duplicates: bool = False
    #: initial score for vertices materialized implicitly from edge endpoints
    #: (Giraph auto-creates message targets; text/webpage paths default 1.0,
    #: the trust path defaults 0.0 — SURVEY.md §2.4)
    default_score: float = 1.0
    #: float32-widening teleport compat (SURVEY.md §2.6 #4). Disable to get
    #: the exact-double (1 - d) constant instead.
    float32_teleport: bool = True
    #: reliable-checkpoint directory for cluster runs (SURVEY.md §4.2 #1).
    #: None (default) uses localCheckpoint — fastest, but non-resilient: an
    #: executor loss mid-fixpoint kills the job. Set to an HDFS/S3/local path
    #: to use reliable ``df.checkpoint()`` so the loop survives executor loss
    #: (the right setting on a 1000-executor cluster; costs one distributed
    #: write per iteration).
    checkpoint_dir: str | None = None
    #: two-phase salted message aggregation for hub-skewed graphs.
    #: "auto" (default) probes the in-degree distribution ONCE per run
    #: (one map-side-combined aggregate over the already-persisted edge
    #: relation) and enables salting only when a single hot target is both
    #: large in absolute terms (> SALT_MIN_HOT_ROWS contribution rows) and
    #: dominates an average shuffle partition (> SALT_HOT_KEY_FACTOR x) —
    #: see operators/linkrank._resolve_salt_buckets. None disables; an int
    #: forces that bucket count. When on, the sum becomes
    #: groupBy(dst, hash(src)%N) then groupBy(dst), spreading each hot
    #: key over N reducers (r9 skew load test: 22.3x -> 3.0x exchange
    #: imbalance). Float sums reassociate, so scores can differ from the
    #: unsalted path by ~1 ulp per iteration (within golden DELTA).
    salt_buckets: int | str | None = "auto"

    @property
    def num_updates(self) -> int:
        """Score updates actually performed: supersteps 1..K-1."""
        return max(self.superstep_count - 1, 0)

    @property
    def teleport(self) -> float:
        if self.float32_teleport:
            return float32_teleport(self.damping)
        return 1.0 - self.damping


@dataclass(frozen=True)
class TrustRankConfig(LinkRankConfig):
    """TrustRank adds trust seeding and bug-compat switches.

    Reference: TrustRankComputation.java. The reference implementation has
    known bugs (SURVEY.md §2.6: HashSet<String>.contains(Text) always false →
    dangling mass is dropped for everyone). ``bug_compat=True`` reproduces the
    shipped behavior; the default implements the *intended* semantics
    (dangling mass redistributed only to trusted vertices, divided by the
    trusted count — TrustRankComputation.java:321-329).
    """

    default_score: float = 0.0
    #: tolerance for "initial score == 1.0" trusted detection
    #: (TrustRankComputation.java:203-211 uses the raw value)
    trusted_epsilon: float = 1e-3
    #: bug #1 (SURVEY.md §2.6): HashSet<String>.contains(Text) is always false,
    #: so the dangling term vanishes for EVERY vertex. Dominates — when set,
    #: the two sub-bug flags below are moot (their effects are masked exactly
    #: as in the shipped binary).
    bug_compat: bool = False
    #: bug #2 (TrustRankComputation.java:207-209,220-224): each trusted id is
    #: aggregated as ";" + id, so split(";") always yields an empty FIRST
    #: element and "" is a permanent member of the trusted set. Observable
    #: consequence (under the bug-#1-fixed reading): a vertex whose id is the
    #: empty string receives the dangling contribution even when not seeded.
    bug_compat_empty_member: bool = False
    #: bug #3 (TrustRankComputation.java:321-329): getDanglingContribution
    #: divides by numTrusted unconditionally — Java double semantics give
    #: danglingSum/0.0 = ±Infinity (or NaN for 0/0) when there are no trusted
    #: vertices. Default False short-circuits the term to 0.0 (the sane
    #: guard); True reproduces the Java result for members of the trusted set
    #: (reachable only via bug #2's "" member, exactly as in the reference).
    bug_compat_nan_dangling: bool = False
