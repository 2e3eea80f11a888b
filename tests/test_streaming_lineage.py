"""Checkpoint-resume, Structured Streaming, and lineage/partitioning."""

import json
import os
import shutil
import sys
import tempfile

import numpy as np
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dtaianomaly_spark.sources import corpus as C
from dtaianomaly_spark.rollup import tiers as T

SF_DIR = "/root/testdata/sf0.001"


def _canon(df):
    return sorted(
        tuple(r) for r in df.select(*T.ROLLUP_SCHEMA.names).collect()
    )


def test_incremental_rollup_resumes_from_checkpoint(spark, tmp_path):
    from dtaianomaly_spark.streaming.incremental import IncrementalRollup

    corpus = C.token_arrays(spark, SF_DIR).select(
        F.col("doc_id").cast("string").alias("doc_id"), "tokens", "n_tok"
    )
    store = str(tmp_path / "store")

    inc = IncrementalRollup(store, n_batches=6)
    # crash after 2 committed batches
    assert inc.run(corpus, fail_after=2) == 2
    assert len(inc.committed()) == 2

    # resume: a NEW instance (fresh process semantics) picks up the log
    inc2 = IncrementalRollup(store, n_batches=6)
    assert inc2.run(corpus) == 4  # only the remaining batches
    committed = inc2.committed()
    assert sorted(committed) == list(range(6))
    # lineage recorded per batch, exactly: the batches partition the corpus
    for rec in committed.values():
        assert rec["series"] > 0 and rec["tokens"] > 0 and rec["wall_ms"] >= 0
    total = corpus.agg(F.count("*").alias("s"), F.sum("n_tok").alias("t")).collect()[0]
    assert sum(r["series"] for r in committed.values()) == total["s"]
    assert sum(r["tokens"] for r in committed.values()) == total["t"]

    # resumed store == one-shot rollup, exactly
    assert _canon(inc2.read_store(spark)) == _canon(rollup_once(corpus))

    # idempotent: nothing left to do
    assert inc2.run(corpus) == 0


def rollup_once(corpus):
    return T.rollup_tiers_map(corpus)


def test_empty_batches_commit_zero_lineage(spark, tmp_path):
    """More batches than series: the empty hash ranges still commit, with
    zero counts, and the store equals the one-shot rollup."""
    from dtaianomaly_spark.streaming.incremental import IncrementalRollup

    src = str(tmp_path / "corpus")
    C.synthetic_corpus(spark, 3, seed=5, partitions=2).write.parquet(src)
    corpus = spark.read.parquet(src)
    inc = IncrementalRollup(str(tmp_path / "store"), n_batches=8)
    assert inc.run(corpus) == 8
    recs = inc.committed()
    assert sorted(recs) == list(range(8))
    empty = [r for r in recs.values() if r["series"] == 0]
    assert len(empty) >= 5
    assert all(r["tokens"] == 0 for r in empty)
    assert sum(r["series"] for r in recs.values()) == 3
    want = corpus.agg(F.sum("n_tok")).collect()[0][0]
    assert sum(r["tokens"] for r in recs.values()) == want
    assert _canon(inc.read_store(spark)) == _canon(rollup_once(corpus))


def _parquet_corpus(spark, tmp_path):
    src = str(tmp_path / "corpus")
    C.token_arrays(spark, SF_DIR).select(
        F.col("doc_id").cast("string").alias("doc_id"), "tokens", "n_tok"
    ).write.parquet(src)
    return spark.read.parquet(src)


def _run_in_group(spark, group, fn):
    """Run ``fn`` under a job group; return the task count of each job."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    return [
        sum(tracker.getStageInfo(s).numTasks for s in tracker.getJobInfo(j).stageIds)
        for j in tracker.getJobIdsForGroup(group)
    ]


def test_one_spark_job_per_committed_batch(spark, tmp_path):
    """A batch commit is one Spark job: the lineage counts are observed by
    the write job, not recomputed by a second aggregation over the corpus."""
    from dtaianomaly_spark.streaming.incremental import IncrementalRollup

    corpus = _parquet_corpus(spark, tmp_path)
    inc = IncrementalRollup(str(tmp_path / "store"), n_batches=4)
    jobs = _run_in_group(
        spark, "test-one-job-per-batch", lambda: inc.run(corpus, fail_after=1)
    )
    assert len(jobs) == 1
    rec = inc.committed()[0]
    want = corpus.filter(
        F.abs(F.xxhash64(F.col("doc_id"))) % 4 == 0
    ).agg(F.count("*").alias("s"), F.sum("n_tok").alias("t")).collect()[0]
    assert (rec["series"], rec["tokens"]) == (want["s"], want["t"])


def test_batch_tasks_sized_by_observed_tokens(spark, tmp_path, monkeypatch):
    """The first batch keeps the input's splits as tasks; later batches are
    coalesced to ceil(observed tokens / TOKENS_PER_TASK) tasks, which never
    drops below the input's splits when batches are large."""
    from dtaianomaly_spark.streaming import incremental as I

    corpus = _parquet_corpus(spark, tmp_path)
    splits = corpus.rdd.getNumPartitions()
    assert splits > 1  # else the task counts below cannot tell the sizing
    inc = I.IncrementalRollup(str(tmp_path / "store"), n_batches=4)
    run_one = lambda: inc.run(corpus, fail_after=1)  # noqa: E731
    assert _run_in_group(spark, "test-sizing-first", run_one) == [splits]
    # the corpus is far below TOKENS_PER_TASK: one task per batch, resumed too
    assert _run_in_group(spark, "test-sizing-small", run_one) == [1]
    monkeypatch.setattr(I, "TOKENS_PER_TASK", 1)
    assert _run_in_group(spark, "test-sizing-large", run_one) == [splits]
    assert sorted(inc.committed()) == [0, 1, 2]
    assert inc.run(corpus) == 1
    assert _canon(inc.read_store(spark)) == _canon(rollup_once(corpus))


def test_structured_streaming_rollup(spark, tmp_path):
    from dtaianomaly_spark.streaming.incremental import stream_rollup

    src = str(tmp_path / "src")
    corpus = C.token_arrays(spark, SF_DIR).select(
        F.col("doc_id").cast("string").alias("doc_id"), "tokens", "n_tok"
    )
    corpus.repartition(4).write.parquet(src)

    store = str(tmp_path / "stream_store")
    ckpt = str(tmp_path / "ckpt")
    q = stream_rollup(spark, src, store, ckpt)
    q.awaitTermination(120)

    got = spark.read.schema(T.ROLLUP_SCHEMA).parquet(os.path.join(store, "data"))
    assert _canon(got) == _canon(rollup_once(corpus))

    # restart with no new files: checkpoint prevents reprocessing
    q2 = stream_rollup(spark, src, store, ckpt)
    q2.awaitTermination(120)
    got2 = spark.read.schema(T.ROLLUP_SCHEMA).parquet(os.path.join(store, "data"))
    assert got2.count() == got.count()


def test_partition_metrics_cover_everything(spark):
    from dtaianomaly_spark.plans import lineage as L

    arrays = C.token_arrays(spark, SF_DIR)
    m = L.partition_metrics(arrays).collect()
    total = arrays.agg(
        F.count("*").alias("s"), F.sum("n_tok").alias("t")
    ).collect()[0]
    assert sum(r["n_series"] for r in m) == total["s"]
    assert sum(r["n_tokens"] for r in m) == total["t"]
    assert len({r["partition_id"] for r in m}) == len(m)


def test_weight_balanced_repartition_reduces_skew(spark):
    from dtaianomaly_spark.plans import lineage as L

    arrays = C.token_arrays(spark, SF_DIR)
    rep = L.skew_report(arrays, 16)
    assert rep["balanced_imbalance"] <= rep["hash_imbalance"] * 1.05
    assert rep["balanced_imbalance"] < 1.6


def test_salted_agg_equals_plain_groupby(spark):
    """Two-phase salted aggregation must equal the plain groupBy exactly
    (algebraic partial+final), while spreading the hot key over salts."""
    from pyspark.sql import functions as F

    from dtaianomaly_spark.plans.skew import salted_agg

    # heavy tail: one key owns 90% of rows
    df = spark.range(0, 100_000).select(
        F.expr("CASE WHEN id % 10 < 9 THEN 'hot' ELSE concat('k', id % 97) END").alias("k"),
        (F.col("id") % 1000).alias("v"),
    )
    got = salted_agg(
        df, ["k"],
        {"cnt": ("count", "v"), "vsum": ("sum", "v"),
         "vmin": ("min", "v"), "vmax": ("max", "v")},
        n_salts=8,
    )
    want = df.groupBy("k").agg(
        F.count("v").alias("cnt"), F.sum("v").alias("vsum"),
        F.min("v").alias("vmin"), F.max("v").alias("vmax"),
    )
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    hot = got.filter("k = 'hot'").collect()[0]
    assert hot["cnt"] == 90_000


def test_snapshot_time_travel(spark, tmp_path):
    """read_as_of(k) is the store exactly after the k-th commit, and an
    earlier snapshot's content is immutable under later appends."""
    from dtaianomaly_spark.streaming.incremental import IncrementalRollup

    corpus = C.token_arrays(spark, SF_DIR).select(
        F.col("doc_id").cast("string").alias("doc_id"), "tokens", "n_tok"
    )
    store = str(tmp_path / "store")
    inc = IncrementalRollup(store, n_batches=5)
    assert inc.run(corpus, fail_after=3) == 3

    snap3 = _canon(inc.read_as_of(spark, 3))
    recs = inc.snapshots()
    assert len(recs) == 3
    # snapshot 3 == union of the first three committed batch dirs
    first3 = [r["path"] for r in recs]
    direct = spark.read.schema(T.ROLLUP_SCHEMA).parquet(*first3)
    assert snap3 == _canon(direct)
    # prefix property: snapshot 2 ⊂ snapshot 3 (row multiset)
    snap2 = _canon(inc.read_as_of(spark, 2))
    assert len(snap2) < len(snap3)

    # later appends must not change earlier snapshots
    assert inc.run(corpus) == 2
    assert _canon(inc.read_as_of(spark, 3)) == snap3
    assert _canon(inc.read_as_of(spark, 2)) == snap2
    # beyond-log snapshot == full store; snapshot 0 == empty
    assert _canon(inc.read_as_of(spark, 99)) == _canon(inc.read_store(spark))
    assert inc.read_as_of(spark, 0).count() == 0


def test_compaction_preserves_content_and_history(spark, tmp_path):
    """compact() rewrites the live set into few files, content-equal;
    pre-compaction snapshots still time-travel; resume logic ignores
    the compact record."""
    import glob

    from dtaianomaly_spark.streaming.incremental import IncrementalRollup

    corpus = C.token_arrays(spark, SF_DIR).select(
        F.col("doc_id").cast("string").alias("doc_id"), "tokens", "n_tok"
    )
    store = str(tmp_path / "store")
    inc = IncrementalRollup(store, n_batches=5)
    inc.run(corpus)
    before = _canon(inc.read_store(spark))
    snap2 = _canon(inc.read_as_of(spark, 2))
    n_files_before = len(glob.glob(f"{store}/batch=*/*.parquet"))

    out_dir = inc.compact(spark, target_files=2)
    after = _canon(inc.read_store(spark))
    assert after == before
    assert len(glob.glob(f"{out_dir}/*.parquet")) <= 2 < n_files_before
    # pre-compaction snapshot unchanged
    assert _canon(inc.read_as_of(spark, 2)) == snap2
    # nothing to re-run: compaction is not a work unit
    assert inc.run(corpus) == 0
    # appends after compaction layer on top of the compacted state
    assert len(inc.snapshots()) == 6
