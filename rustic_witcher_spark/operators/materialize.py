"""Materialization strategy for multiply-consumed / iterative subtrees.

Several operators (SemDeDup's assignment subtree, the curation
pipeline's shared stages, connected-components' per-round lineage
truncation, and the k-means trainer behind ``similarity.ivf_centroids``
and ``pq.pq_codebooks``) materialize an intermediate DataFrame once
instead of recomputing it per consumer / letting the plan double per
iteration.

HOW to materialize is a deployment decision, not an operator decision:

- ``local`` (default): ``localCheckpoint`` — executor-local blocks,
  fastest, but a lost executor FAILS the job instead of recomputing
  (no lineage left to replay). Right for local runs and short stages.
- ``reliable``: ``checkpoint`` — blocks on the cluster's checkpoint
  dir (HDFS/S3); a lost node costs a re-read, not the job. Requires
  ``spark.sparkContext.setCheckpointDir(...)`` to have been called.
  Right for hours-long 100 TB runs. Every IVF and PQ face trains
  through the trainer, so under this mode they all need the dir.
- ``persist``: ``persist(MEMORY_AND_DISK_2)`` — 2×-replicated cache;
  keeps lineage (recompute still possible) at 2× storage cost.
- ``off``: return the plan untouched (recompute per consumer — a
  trained IVF/PQ model is then re-trained by each job that reads it).

Selected via ``SPARK_GRAFT_MATERIALIZE`` so cluster deployments can
flip the strategy without touching operator call sites.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

_VALID = ("local", "reliable", "persist", "off")


def materialize(df: DataFrame, eager: bool = True) -> DataFrame:
    """Cut/cache ``df`` per the ``SPARK_GRAFT_MATERIALIZE`` strategy."""
    mode = os.environ.get("SPARK_GRAFT_MATERIALIZE", "local")
    if mode not in _VALID:
        raise ValueError(f"SPARK_GRAFT_MATERIALIZE={mode!r}; expected one of {_VALID}")
    if mode == "off":
        return df
    if mode == "reliable":
        return df.checkpoint(eager=eager)
    if mode == "persist":
        df.persist(StorageLevel.MEMORY_AND_DISK_2)
        if eager:
            df.count()
        return df
    return df.localCheckpoint(eager=eager)
