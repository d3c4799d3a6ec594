"""Tracked persist + release for shared multi-consumer stages,
checkpoint_stage's switch to fault-tolerant checkpoints when the
session has a checkpoint dir, and the fixed_point loop (cache.py).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from northwind_etl_spark.cache import fixed_point, persist_stage, release_stages
from northwind_etl_spark.operators import graph as G
from northwind_etl_spark.operators.bpe import _persistent_rdd_ids
from northwind_etl_spark.operators.dedup import duplicate_clusters
from northwind_etl_spark.operators.text import tf_idf


def _clear_checkpoint_dir(sc) -> None:
    # PySpark has no unset: write Scala's None into SparkContext's
    # checkpointDir field through its generated setter
    getattr(sc._jsc.sc(), "checkpointDir_$eq")(sc._jvm.scala.Option.apply(None))


@pytest.fixture
def checkpoint_dir(spark, tmp_path):
    """A session-wide checkpoint dir for one test: every
    checkpoint_stage inside it writes fault-tolerant checkpoints.
    Cleared on teardown, or every later loop in the session would
    checkpoint to disk too."""
    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None
    sc.setCheckpointDir(str(tmp_path / "ckpt"))
    yield tmp_path / "ckpt"
    _clear_checkpoint_dir(sc)
    assert sc.getCheckpointDir() is None


def test_release_stages_unpersists(spark, sf_dir):
    # by RDD id, not by count: earlier tests' blocks, and the cleaner
    # dropping them meanwhile, are not this call's
    sc = spark.sparkContext
    release_stages()  # start from a clean slate
    before = _persistent_rdd_ids(sc)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    tf_idf(docs, "text", "doc_id").count()  # persists _doc_tokens + _doc_term_counts
    created = _persistent_rdd_ids(sc) - before
    assert created
    assert release_stages() >= 2
    assert _persistent_rdd_ids(sc) & created == set()
    # correctness is unaffected: a released stage recomputes
    assert tf_idf(docs, "text", "doc_id").count() > 0
    release_stages()


def test_persist_tracking_is_thread_safe(spark, sf_dir):
    """Concurrent persist_stage registrations must neither drop nor
    double-track entries (Spark drivers run multi-threaded jobs)."""
    import threading

    release_stages()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    def register(i: int) -> None:
        persist_stage(docs.where(F.col("doc_id") % 7 == i).select("doc_id"))

    threads = [threading.Thread(target=register, args=(i,)) for i in range(7)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert release_stages() == 7
    assert release_stages() == 0


def test_duplicate_clusters_reliable_checkpoint(spark, checkpoint_dir):
    pairs = spark.createDataFrame([(1, 2), (2, 3), (10, 11)], "id_a LONG, id_b LONG")
    labels = {r.id: r.cluster for r in duplicate_clusters(pairs).collect()}
    assert labels == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}
    assert list(checkpoint_dir.glob("*/rdd-*"))


def test_loops_with_checkpoint_dir_match_local(spark, checkpoint_dir):
    """Every loop gives the same rows whether its checkpoints are
    local or written to the checkpoint dir."""
    sc = spark.sparkContext
    # triangle a-b-c, pendant chain c-d-e, separate pair f-g
    und = [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d"), ("d", "e"), ("f", "g")]
    edges = spark.createDataFrame(
        und + [(b, a) for a, b in und], "src STRING, dst STRING"
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "id_a LONG, id_b LONG"
    )

    def run_all() -> list[list[tuple]]:
        outs = [
            G.pagerank_fixed_point(edges, iterations=8),
            G.label_propagation(edges, iterations=4),
            G.bfs_hops(edges, "a"),
            G.k_core(edges, k=2, rounds=3),
            G.hits_fixed_point(edges, iterations=4),
            G.sssp_weighted(edges.withColumn("w", F.lit(1)), "a"),
            duplicate_clusters(pairs),
        ]
        return [sorted(map(tuple, df.collect())) for df in outs]

    with_dir = run_all()
    assert list(checkpoint_dir.glob("*/rdd-*"))
    _clear_checkpoint_dir(sc)
    assert with_dir == run_all()
    release_stages()  # the loops' persisted edge stages



def _counter(spark):
    """(start state x=0, step adding 1 to x, list of rounds stepped)."""
    stepped = []

    def step(df):
        stepped.append(len(stepped) + 1)
        return df.select((F.col("x") + 1).alias("x"))

    return spark.range(1).select(F.lit(0).alias("x")), step, stepped


def test_fixed_point_stops_at_first_done_round(spark):
    start, step, stepped = _counter(spark)
    out = fixed_point(start, step, rounds=10, done=lambda s: s.first().x >= 3)
    assert out.first().x == 3 and stepped == [1, 2, 3]


def test_fixed_point_raises_when_rounds_run_out(spark):
    start, step, stepped = _counter(spark)
    with pytest.raises(RuntimeError, match="still changing after 2 rounds"):
        fixed_point(start, step, rounds=2, done=lambda s: False)
    assert stepped == [1, 2]


def test_fixed_point_runs_exactly_rounds_without_done(spark):
    start, step, stepped = _counter(spark)
    a, b = fixed_point((start, start), lambda s: tuple(map(step, s)), rounds=3)
    assert (a.first().x, b.first().x) == (3, 3) and len(stepped) == 6
    # every frame of the state is truncated
    assert "LogicalRDD" in b._jdf.queryExecution().logical().toString()
