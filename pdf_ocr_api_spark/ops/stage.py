"""The two stage conventions the operators share, each owned here.

* ``one_wave`` — partitioning for pandas-UDF stages.  Pandas-UDF stages
  pay a fixed per-task cost (Arrow stream setup, worker round-trip,
  per-batch vectorization overheads) that dominates when partitions are
  small, and waste a cluster when a small input arrives in fewer
  partitions than there are cores (the reference engine's
  sequential-loop failure mode).  Three operator families grew their own
  versions of the same rule (``dedup.simhash64``,
  ``domains.cap_per_domain``, ``substrings.window_fingerprints``); the
  rule prefers a narrow ``coalesce`` over a shuffling ``repartition``
  whenever the input is merely over-split.
* ``materialize`` — the lineage cut.  Every operator that must not
  re-execute its upstream (an iterative loop, a fan-out, a frame both
  counted and reused) cuts through it, so the choice between
  executor-local and reliable checkpoints is made in one place.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

#: partitions at or above this size are never coalesced away — keeps the
#: rule scale-safe (a 100 TB scan stays at its own parallelism; only
#: over-split small tables collapse to one wave)
TARGET_PART_BYTES = 256 * 1024 * 1024


def one_wave(df: DataFrame) -> DataFrame:
    """Re-partition ``df`` toward ONE wave of cores for a pandas-UDF
    stage, using the cheapest mechanism that applies:

    * input over-split (more partitions than ``max(defaultParallelism,
      size/TARGET_PART_BYTES)``) → narrow ``coalesce`` — NO shuffle
      (measured on the bench's 4 MB-split 57 MB table: the fingerprint
      stage dropped 1.15 s → 0.55 s, and the former repartition default
      paid a full shuffle of the projection on top);
    * input under-split (fewer partitions than cores — e.g. one small
      parquet file) → ``repartition`` to one wave: the one shuffle buys
      a fully-parallel stage, and an under-split input is small by
      construction or pathological either way;
    * otherwise untouched.

    Size comes from optimizer plan stats; when stats are unavailable the
    frame is returned untouched (the conservative default is the scan's
    own partitioning).  Results of any per-row/per-doc operator are
    partitioning-invariant, so callers' outputs are unchanged —
    asserted per operator in their own equality tests.
    """
    sc = df.sparkSession.sparkContext
    try:
        size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return df
    n_parts = df.rdd.getNumPartitions()
    # unknown stats surface as a conservative astronomically-large
    # sizeInBytes — the coalesce guard below then never fires (n_parts
    # can't exceed the huge floor), which is exactly the safe default
    floor_by_size = max(1, -(-size // TARGET_PART_BYTES))
    target = max(sc.defaultParallelism, floor_by_size)
    if n_parts > target:
        return df.coalesce(target)
    if n_parts < sc.defaultParallelism:
        return df.repartition(sc.defaultParallelism)
    return df


def materialize(df: DataFrame) -> DataFrame:
    """Cut ``df``'s lineage and persist it, eagerly — the ONE place the
    library checkpoints.

    With a session checkpoint directory set (a deployment sets it once,
    ``spark-submit --conf spark.checkpoint.dir=<hdfs/s3 path>``, or
    ``setCheckpointDir``) the frame is written through a reliable
    ``checkpoint``: every cut then survives executor loss on a
    preemptible cluster at the cost of one storage round-trip.  Without
    one it is a ``localCheckpoint`` — executor-block-backed and fast, the
    right choice on a stable cluster or in local mode, but its blocks are
    lost with their executor.  The session's directory is only read,
    never set."""
    if df.sparkSession.sparkContext.getCheckpointDir() is not None:
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)
