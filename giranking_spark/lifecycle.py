"""Cache and checkpoint lifecycle — the one module that truncates lineage.

Operators and queries call these functions as ``lifecycle.<fn>``, so one
patch of this module reaches every site: :func:`lazy_checkpoints` is the
test seam that makes every checkpoint the identity, so ``explain()`` shows
the lazy pipeline instead of a bare ``Scan ExistingRDD``.

Release contract: a helper unpersists only frames it persisted itself,
never a frame its caller passed in.
"""

from __future__ import annotations

import contextlib
from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _set_checkpoint_dir_once(df: DataFrame, checkpoint_dir: str | None) -> bool:
    """Set the reliable-checkpoint dir ONCE per run (returns whether reliable
    checkpointing is on). setCheckpointDir mints a fresh UUID subdirectory on
    every call — calling it per-checkpoint leaks one full state copy per
    interval. One call per run = one UUID dir; superseded checkpoint data
    within the run is reclaimed by the ContextCleaner when
    ``spark.cleaner.referenceTracking.cleanCheckpoints=true`` (set in
    :func:`giranking_spark.session.get_spark`), and the whole dir is safe to
    delete after the run."""
    if not checkpoint_dir:
        return False
    df.sparkSession.sparkContext.setCheckpointDir(checkpoint_dir)
    return True


#: vertex/state row count above which the per-round GC nudge fires — the
#: one place the gate lives (r12 ADVICE: it was duplicated inline at four
#: loop sites). Fixture-scale runs stay below it and pay nothing.
GC_NUDGE_MIN_ROWS = 1_000_000


def _gc_nudge(df: DataFrame, n_rows: int) -> None:
    """Dead-shuffle-file reclamation inside long fixpoint loops (r12,
    BASELINE.md round-12 cliff 1): each superstep's checkpoint makes the
    previous superstep's shuffle dead, but the ContextCleaner deletes dead
    shuffle files only after a JVM GC — at one superstep per ~minute the
    periodic 2-min GC lags and local disk fills across a K-superstep run
    (sf100 kcore died on ENOSPC from exactly this lifecycle). One driver
    GC per superstep bounds live shuffle files to ~the current round;
    gated to big states so fixture-scale runs pay nothing.

    The py4j ``_jvm`` accessor is private API, but the config-driven
    alternative (lowering spark.cleaner.periodicGC.interval) cannot track
    the loop cadence: rounds range from seconds (fixtures) to minutes
    (sf100), and any fixed interval either thrashes the former or lags the
    latter — the nudge fires exactly once per dead generation."""
    if n_rows > GC_NUDGE_MIN_ROWS:
        df.sparkSession.sparkContext._jvm.System.gc()


def _checkpoint(df: DataFrame, reliable: bool = False) -> DataFrame:
    """Per-iteration lineage truncation (the BSP superstep barrier).

    localCheckpoint (default) keeps blocks on executors — fast but
    non-resilient. With ``reliable`` (cfg.checkpoint_dir set), uses reliable
    ``df.checkpoint()`` so a cluster run survives executor loss mid-fixpoint
    (SURVEY.md §4.2 #1)."""
    if reliable:
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def _checkpoint_count(
    df: DataFrame, flag_col: str, reliable: bool = False
) -> tuple[DataFrame, int]:
    """Checkpoint + flagged-row count in ONE job (r13, guide §1.2 — fewer
    passes): the LAZY checkpoint's first action materializes and caches
    every partition, and that action IS the convergence count — the
    fixpoint loops previously paid two jobs per superstep (eager
    checkpoint, then a count over the cached blocks). The count scans all
    partitions, so the checkpoint completes within it and lineage is
    truncated exactly as before. Returns (checkpointed df, flagged count).
    """
    ck = _checkpoint_lazy(df, reliable)
    n = ck.filter(F.col(flag_col)).count()
    return ck, n


def _checkpoint_lazy(df: DataFrame, reliable: bool = False) -> DataFrame:
    """Lazy checkpoint: the caller's next FULL-SCAN action (a count or a
    1-row aggregate over every partition) materializes and caches all
    partitions, completing the checkpoint inside that job — use when a
    convergence probe immediately follows, so checkpoint + probe cost one
    job instead of two."""
    return df.checkpoint(eager=False) if reliable else df.localCheckpoint(eager=False)


def _checkpoint_nrows(
    df: DataFrame, reliable: bool = False
) -> tuple[DataFrame, int]:
    """Checkpoint + total row count in ONE job — same lazy-checkpoint
    fusion as :func:`_checkpoint_count` for loops whose convergence scalar
    is the plain row count (the peel family) or that need the state size
    for the broadcast/GC dispatch."""
    ck = _checkpoint_lazy(df, reliable)
    return ck, ck.count()


def materialize_output(out: DataFrame, *release: DataFrame) -> DataFrame:
    """Eagerly localCheckpoint ``out``, then unpersist ``release`` — the
    caches the caller persisted to build it. The result stays valid after
    the release and never re-executes its lineage, so a long-lived session
    does not accumulate one cached intermediate per call."""
    out = _checkpoint(out)
    for df in release:
        df.unpersist()
    return out


@contextlib.contextmanager
def lazy_checkpoints() -> Iterator[None]:
    """Make every checkpoint in this module the identity while the block
    runs (for plan dumps and plan-shape tests); caches are still released.
    Loops stay unrolled, so build at most a few supersteps inside it."""
    saved = _checkpoint, _checkpoint_lazy
    g = globals()
    g["_checkpoint"] = g["_checkpoint_lazy"] = lambda df, reliable=False: df
    try:
        yield
    finally:
        g["_checkpoint"], g["_checkpoint_lazy"] = saved
