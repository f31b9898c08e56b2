"""The one way the program keeps an intermediate.

Each intermediate that several downstream branches read is checkpointed
once, eagerly, by :func:`materialize`, and everything built on it stays
lazy. The returned frame owns its blocks: Spark's ContextCleaner frees
them when the frame (and every plan built on it) is garbage-collected
driver-side. There is no ``unpersist`` contract and nothing is left in the
CacheManager, so a repeat caller never has to ``clearCache``.

Scale note: checkpoint only SMALL intermediates (gate survivors, candidate
pairs, one inverted list). A corpus-sized result ends in a sink write
instead (``sources/writer``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def materialize(df: DataFrame) -> DataFrame:
    """Eagerly checkpoint a SMALL intermediate that several downstream
    branches re-scan (candidate pairs, estimate rows, gate survivors,
    connected-components rounds — never corpus-sized).

    Reliable ``checkpoint()`` when the session has a checkpoint dir
    (``sparkContext.setCheckpointDir``), so executor loss recovers from
    storage; else ``localCheckpoint()`` (executor blocks, freed by the
    ContextCleaner when the consuming plan is GC'd driver-side).

    Two costs to know:
      * reliable checkpoint files stay on disk after their frame is gone
        unless ``spark.cleaner.referenceTracking.cleanCheckpoints=true``;
      * the call runs a Spark job, so building a frame that uses it — and
        any ``explain`` of that frame — is not free."""
    sc = df.sparkSession.sparkContext
    return df.checkpoint() if sc.getCheckpointDir() is not None else df.localCheckpoint()
