"""Seeded inputs and result forcing shared by the workloads."""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dtaianomaly_spark.rollup.tiers import H1_FACTOR, M1_FACTOR, RAW_BUCKET_TICKS
from dtaianomaly_spark.sources.corpus import series_length, synthetic_corpus


def doc_id(i: int) -> str:
    return f"doc-{i:08d}"


def write_corpus(run, n_series: int, dest: str, group: str) -> None:
    """The skewed synthetic corpus for ``run.seed``, written to parquet."""
    run.job_group(group)
    with run.tracer.span("sources.corpus", op=group):
        synthetic_corpus(run.spark, n_series, seed=run.seed).write.mode("overwrite").parquet(dest)


def points_of(lengths) -> int:
    """Rollup points (rows over all three tiers) of series with these lengths."""
    n = np.asarray(lengths, dtype=np.int64)
    raw = -(n // -RAW_BUCKET_TICKS)
    m1 = -(raw // -M1_FACTOR)
    h1 = -(m1 // -H1_FACTOR)
    return int((raw + m1 + h1).sum())


def lengths(indices) -> list[int]:
    return [series_length(int(i)) for i in indices]


def hash_force(df: DataFrame) -> tuple[int, int]:
    """(rows, order-independent hash of every output column): evaluates
    every column, so Catalyst cannot prune work from the result."""
    r = df.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*[F.col(c) for c in df.columns]).cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return int(r["n"]), int(r["h"] or 0)


def sample_indices(rng: np.random.Generator, n_series: int, k: int) -> list[int]:
    """``k`` distinct series indices, always including one long series."""
    picked = set(int(i) for i in rng.choice(n_series, size=k - 1, replace=False))
    longs = [i for i in range(n_series) if series_length(i) == 8192 and i not in picked]
    if longs:
        picked.add(int(rng.choice(longs)))
    return sorted(picked)
