"""The engine's one lineage-cut policy (operators/checkpointing.py): every
eager cut is a reliable ``checkpoint`` into the session's checkpoint dir
when one is set and a ``localCheckpoint`` otherwise, and no operator
writes the session's checkpoint dir."""

import contextlib
import os
import subprocess
import sys
import textwrap

import pytest

from data_transform_make_spark.operators.dedup import (
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
)
from data_transform_make_spark.operators.graph import connected_components
from data_transform_make_spark.operators.ranking import bm25_topk
from data_transform_make_spark.plans.training_corpus import (
    build_training_corpus,
    build_training_corpus_clustered,
)
from data_transform_make_spark.sources.loader import load_table


def _unset_checkpoint_dir(sc):
    # Spark has no public way to unset the dir; this test-only reset is
    # the one use of the private Scala setter
    getattr(sc._jsc.sc(), "checkpointDir_$eq")(sc._jvm.scala.Option.empty())


@pytest.fixture
def session_checkpoint_dir(spark, tmp_path):
    """A context manager that sets the session checkpoint dir under
    ``tmp_path`` for its body; the dir is unset again on exit and at
    teardown, so no later test inherits reliable cuts."""
    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None, "a session checkpoint dir leaked in"
    root = tmp_path / "session_ckpt"

    @contextlib.contextmanager
    def scope():
        sc.setCheckpointDir(str(root))
        try:
            yield root
        finally:
            _unset_checkpoint_dir(sc)

    yield scope
    _unset_checkpoint_dir(sc)
    assert sc.getCheckpointDir() is None


def _documents(spark, sf_dir):
    return load_table(spark, sf_dir, "documents")


def _small_docs(spark, sf_dir):
    return spark.createDataFrame(
        [(1, "cat dog cat"), (2, "dog dog"), (3, "cat")],
        "doc_id long, text string",
    )


def _edges(spark, sf_dir):
    return spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )


# each case: (input builder, operator over that input); every operator
# cuts at least once on the path taken here
OPERATORS = {
    # small_graph_threshold=0: the distributed rounds, whose cuts the
    # driver union-find fast path would skip
    "connected_components": (
        _edges, lambda df: connected_components(df, small_graph_threshold=0)
    ),
    "bm25_topk": (
        _small_docs, lambda df: bm25_topk(df, "doc_id", "text", ["cat"])
    ),
    "ngram_jaccard_pairs": (
        _documents, lambda df: ngram_jaccard_pairs(df, "doc_id", "text", 3, 0.2)
    ),
    "build_training_corpus": (_documents, build_training_corpus),
    "build_training_corpus_clustered": (
        _documents, build_training_corpus_clustered
    ),
    "minhash_lsh_pairs": (
        _documents,
        lambda df: minhash_lsh_pairs(df, "doc_id", "text", 32, 8, 3, 0.5),
    ),
}


def _files_under(root):
    return sum(len(names) for _, _, names in os.walk(root))


@pytest.mark.parametrize("name", sorted(OPERATORS))
def test_cuts_follow_session_checkpoint_dir(
    spark, sf_dir, session_checkpoint_dir, name
):
    """With the session dir set, the operator's cuts are reliable
    checkpoints written under it, and its rows equal the
    localCheckpoint run's."""
    make_input, op = OPERATORS[name]
    df = make_input(spark, sf_dir)
    local = sorted(map(tuple, op(df).collect()))
    with session_checkpoint_dir() as root:
        reliable = sorted(map(tuple, op(df).collect()))
        assert _files_under(root) > 0, f"{name} wrote no reliable checkpoint"
    assert reliable == local and local


@pytest.mark.parametrize("name", sorted(OPERATORS))
def test_session_checkpoint_dir_left_alone(
    spark, sf_dir, session_checkpoint_dir, name
):
    """The engine reads the session's checkpoint dir and never writes it:
    unset stays unset, a set dir stays exactly the dir that was set."""
    sc = spark.sparkContext
    make_input, op = OPERATORS[name]
    df = make_input(spark, sf_dir)
    op(df).count()
    assert sc.getCheckpointDir() is None
    with session_checkpoint_dir():
        before = sc.getCheckpointDir()
        op(df).count()
        assert sc.getCheckpointDir() == before


def test_spark_checkpoint_dir_conf_sets_session_dir(tmp_path):
    """A deployment turns reliable cuts on with the ``spark.checkpoint.dir``
    conf alone: a fresh session built with it reports a checkpoint dir
    under that path. A separate interpreter, since the conf is read only
    when a SparkContext starts."""
    root = tmp_path / "conf_ckpt"
    script = textwrap.dedent(
        f"""
        from pyspark.sql import SparkSession
        spark = (
            SparkSession.builder.master("local[1]")
            .config("spark.checkpoint.dir", {str(root)!r})
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
        print("DIR", spark.sparkContext.getCheckpointDir())
        spark.stop()
        """
    )
    out = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True, text=True, timeout=300, check=True,
    ).stdout
    got = [l[4:] for l in out.splitlines() if l.startswith("DIR ")]
    assert got and got[0].startswith(f"file:{root}/"), out
