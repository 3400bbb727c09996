"""Lineage-truncating materialization with a durability knob.

Every iterative/multi-consumer plan in this engine truncates lineage by
checkpointing an intermediate (guide §3.3/§5: materializing truncates the
plan; localCheckpoint is the cheap way to do it). Round 10 hard-coded
``DataFrame.localCheckpoint`` at ~24 sites; this module is now the one
implementation, for two reasons measured/required in round 11:

1. **Durability (cluster posture).** ``localCheckpoint`` stores blocks on
   executor local storage — on a real cluster an executor loss makes the
   truncated lineage unrecoverable and fails the job (the guide endorses it
   only when fault tolerance of the intermediate is not critical). Setting
   ``SPARK_GRAFT_CHECKPOINT_DIR`` to a durable location (HDFS/S3 path)
   switches every truncation site to reliable ``DataFrame.checkpoint()``:
   same plan truncation, same results, recoverable blocks. Local/bench runs
   leave it unset and keep the zero-IO local form.

2. **Fixed-cost sizing (bench posture).** An EAGER checkpoint is its own
   Spark job: at small inputs the job launch + 32-way task fan-out costs
   more than the work it deduplicates (round-10 evidence: 8-core/32-core
   time ratios of 0.40-0.52 on the checkpoint-heavy entries — fixed
   per-query cost, not compute). A LAZY checkpoint truncates the DataFrame
   lineage identically (the returned plan is a LogicalRDD leaf either way)
   but defers materialization into the FIRST consumer job — no separate
   job, and every later consumer still reads the stored blocks. Call sites
   therefore default to lazy and reserve ``eager=True`` for the cases that
   need an action NOW: fixpoint loops reading an ``Observation`` metric of
   the materializing pass, and results that must detach from storage about
   to be deleted.

Concurrent first-consumers are safe: block materialization goes through
``BlockManager.getOrElseUpdate``, which locks per block — one task computes
a partition, the rest wait and read (the ``connected_components_star`` /
``_bpe_learn`` fusion pattern relied on this before this module existed).

Reliable-checkpoint caveat: Spark writes reliable checkpoint files in a
job of their own that re-runs the RDD unless it is persisted (the
documented recompute-unless-persisted behavior). So the durable mode
persists the frame, checkpoints it EAGERLY (the ``eager`` argument is
ignored there) and unpersists it once the files have landed: each site
computes its rows once, and the file-writing job reads the cached blocks.
The eager action is one more job per site than a lazy checkpoint would
run. That is the right trade on a
cluster (the sites guard hours-long fixpoint loops); latency-critical local
runs keep the lazy, zero-IO localCheckpoint.
"""

from __future__ import annotations

import os

from pyspark import StorageLevel
from pyspark.sql import DataFrame

_CHECKPOINT_DIR_ENV = "SPARK_GRAFT_CHECKPOINT_DIR"


def truncate(df: DataFrame, eager: bool = False) -> DataFrame:
    """Checkpoint ``df`` to truncate its lineage.

    Uses reliable ``checkpoint()`` when ``$SPARK_GRAFT_CHECKPOINT_DIR`` is
    set (cluster mode — survives executor loss; always eager, computed
    once through a transient persist), else ``localCheckpoint()``.
    ``eager=False`` (default) fuses materialization into the first consumer
    job; pass ``eager=True`` only when the caller needs the action to run
    now (Observation metrics, detaching from a directory about to vanish).
    """
    ckdir = os.environ.get(_CHECKPOINT_DIR_ENV)
    if ckdir:
        sc = df.sparkSession.sparkContext
        if not sc.getCheckpointDir():
            sc.setCheckpointDir(ckdir)
        if df.storageLevel != StorageLevel.NONE:  # the caller's cache: keep it
            return df.checkpoint(eager=True)
        df.persist()
        try:
            return df.checkpoint(eager=True)
        finally:
            df.unpersist()
    return df.localCheckpoint(eager=eager)
