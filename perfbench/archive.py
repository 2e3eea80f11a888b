"""Compressed storage ops of the ``tier_queries`` mix.

``archive`` runs the fused ``rollup_compress_map`` over a seeded slice of
the corpus and writes the Gorilla/delta-of-delta blocks to parquet;
``restore`` reads a seeded sample of series back with ``decompress_tiers``.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from dtaianomaly_spark.rollup.compress import decompress_tiers, rollup_compress_map
from dtaianomaly_spark.rollup.tiers import rollup_tiers_map
from perfbench import data


def encode(run, corpus, lo: int, hi: int, dest: str) -> None:
    """Archive series ``lo`` .. ``hi - 1`` to compressed blocks at ``dest``."""
    part = corpus.filter(F.col("doc_id").between(data.doc_id(lo), data.doc_id(hi - 1)))
    rollup_compress_map(part).write.mode("overwrite").parquet(dest)


def decode(run, blocks: str, ids):
    """The rollup rows of series ``ids`` restored from the blocks at ``blocks``."""
    sel = run.spark.read.parquet(blocks).filter(
        F.col("doc_id").isin([data.doc_id(i) for i in ids]))
    return decompress_tiers(sel)


def direct_rollup(corpus, ids):
    """The uncompressed rollup of series ``ids``, as pandas: what a
    restore of those series must return."""
    sel = corpus.filter(F.col("doc_id").isin([data.doc_id(i) for i in ids]))
    return rollup_tiers_map(sel).toPandas()


def bytes_per_point(run, blocks_dirs) -> tuple[int, int]:
    """(points, compressed bytes) over every block written."""
    r = run.spark.read.parquet(*blocks_dirs).agg(
        F.sum("n_points").alias("points"), F.sum("enc_bytes").alias("enc")).collect()[0]
    return int(r["points"]), int(r["enc"])
