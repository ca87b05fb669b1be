"""The one materialization policy for deliberately-reused intermediates.

MinHash signatures, IVF assignments, per-round CC labels and every
other intermediate that downstream plans read >= 2x go through
``materialize``; without it Catalyst expands every consumer into its
own copy of the producing subtree (the round-1 double-compute disease,
PLANS.md). Each call is also a round boundary in the MapReduce cost
model: the lineage above it is cut and its rows are computed once.

The SESSION chooses how, not the caller. With no checkpoint directory
(local mode, tests, benches) the intermediate is a ``localCheckpoint``:
no filesystem I/O, but its blocks are unreplicated on executors, so an
executor loss makes it unrecoverable. A session started with Spark's
own ``spark.checkpoint.dir`` (or given one by ``sc.setCheckpointDir``)
gets the durable path instead: parquet under that directory, which
survives executor loss and can be re-read by other jobs. This module
is the only place that calls either mechanism.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame


def materialize(df: DataFrame, name: str) -> DataFrame:
    """Materialize an intermediate that downstream plans read >= 2x.

    * no checkpoint dir (default): ``localCheckpoint`` — in-session,
      unreplicated executor blocks.
    * checkpoint dir set: write parquet to
      ``<checkpoint dir>/<name>-<uuid4 hex>`` and re-read it. The
      suffix keeps a second call of the same operator from overwriting
      files an earlier, still-lazy result reads.

    Both paths cut lineage; results are byte-identical either way
    (tests/test_materialize.py proves it per operator).
    """
    root = df.sparkSession.sparkContext.getCheckpointDir()
    if root is None:
        return df.localCheckpoint()
    path = os.path.join(root, f"{name}-{uuid.uuid4().hex}")
    df.write.parquet(path)
    return df.sparkSession.read.parquet(path)
