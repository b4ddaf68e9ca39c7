"""The engine's one eager lineage-cut policy.

Operators that fold a shared projection into one pass (bm25_topk,
ngram_jaccard_pairs, the training-corpus builders, decontamination_report,
minhash_lsh_pairs) and the connected-components fixpoint (once per round)
cut lineage with an eager checkpoint. The session decides which kind:

- the session has a checkpoint dir (``sc.getCheckpointDir()``; a
  deployment sets it with Spark's ``spark.checkpoint.dir`` conf, added
  in Spark 4.0.0): a
  reliable ``DataFrame.checkpoint`` into that store, which survives
  executor loss at the cost of one distributed write per cut;
- otherwise ``localCheckpoint``: blocks live on executors, so the cut is
  fast but a lost executor kills every consumer of the cut frame.

The engine only reads the session's checkpoint dir and never sets it,
the convention of Spark MLlib's ``checkpointInterval`` and GraphFrames'
connected components. Reliable checkpoint files are not deleted by
default: set ``spark.cleaner.referenceTracking.cleanCheckpoints`` or use
a TTL'd/job-scoped dir.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession


def lineage_cut(spark: SparkSession) -> Callable[[DataFrame], DataFrame]:
    """The session's eager cut, chosen once: reading the checkpoint dir
    is a py4j round trip, so an iterating caller takes the cut once per
    call instead of re-reading the dir per round."""
    if spark.sparkContext.getCheckpointDir() is None:
        return lambda df: df.localCheckpoint(eager=True)
    return lambda df: df.checkpoint(eager=True)


def eager_cut(df: DataFrame) -> DataFrame:
    """Eagerly materialize ``df`` and cut its lineage: reliable
    ``checkpoint`` when the session has a checkpoint dir, else
    ``localCheckpoint`` (see the module docstring)."""
    return lineage_cut(df.sparkSession)(df)
