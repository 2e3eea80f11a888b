"""Per-layer probes of the traced run: timed calls into each layer's
public functions on the run's own corpus and a seeded series sample."""

from __future__ import annotations

import time

import numpy as np
from pyspark.sql import functions as F

from dtaianomaly_spark.kernels import codec
from dtaianomaly_spark.kernels.stats import derive_mean_std
from dtaianomaly_spark.plans.lineage import partition_metrics
from dtaianomaly_spark.rollup.tiers import TIERS, rollup_series, rollup_tiers_map
from dtaianomaly_spark.sources.corpus import synthetic_series
from perfbench import data
from perfbench.common import dir_bytes, median

STATS_SAMPLE = 128   # series in the single-thread kernel sample
CODEC_SAMPLE = 16    # of those, series whose tier stats go through the codec
INT_STATS = ("count", "sum", "sumsq", "min", "max", "first", "last")


def _timed(fn, reps: int):
    times, out = [], None
    for _ in range(reps):
        t0 = time.perf_counter()
        out = fn()
        times.append(time.perf_counter() - t0)
    return median(times), out


def probe(run, corpus_dir: str, n_series: int) -> dict:
    spark, span = run.spark, run.tracer.span
    corpus = spark.read.parquet(corpus_dir)
    m = {}

    run.job_group("probe/scan")

    def scan():
        with span("sources.corpus", op="probe"):
            return corpus.select(
                F.count(F.lit(1)).alias("series"), F.sum("n_tok").alias("tokens"),
                F.sum(F.xxhash64(*corpus.columns).cast("decimal(38,0)")).alias("h"),
            ).collect()[0]

    m["sources.corpus.scan_s"], r = _timed(scan, 2)
    m["sources.corpus.series"] = int(r["series"])
    m["sources.corpus.tokens"] = int(r["tokens"])
    m["sources.corpus.bytes"] = dir_bytes(corpus_dir, ".parquet")

    run.job_group("probe/lineage")
    with span("plans.lineage", op="probe"):
        parts = partition_metrics(corpus.select(
            F.regexp_extract("doc_id", r"(\d+)$", 1).alias("doc_id"), "n_tok")).collect()
    w = [p["n_tokens"] for p in parts if p["n_tokens"] > 0]
    m["plans.lineage.token_skew"] = max(w) / (sum(w) / len(w))

    rng = np.random.default_rng(run.seed + 1)
    sample = data.sample_indices(rng, n_series, STATS_SAMPLE)
    tokens = [synthetic_series(i, run.seed)[0] for i in sample]
    n_tok = sum(t.shape[0] for t in tokens)

    def kernel():
        with span("kernels.stats", op="probe"):
            return [rollup_series(t) for t in tokens]

    kernel_s, rolled = _timed(kernel, 3)
    m["kernels.stats.ns_per_token"] = kernel_s * 1e9 / n_tok
    m.update(_codec(run, rolled[:CODEC_SAMPLE]))

    run.job_group("probe/map")

    def rollup_map():
        with span("rollup.tiers", op="probe"):
            return rollup_tiers_map(corpus).count()

    m["rollup.tiers.map_s"], m["rollup.tiers.points"] = _timed(rollup_map, 2)
    m["rollup.tiers.parallel_efficiency"] = (
        m["kernels.stats.ns_per_token"] * 1e-9 * m["sources.corpus.tokens"]
        / (m["rollup.tiers.map_s"] * run.cores))
    return m


def _codec(run, rolled: list) -> dict:
    """In-process delta-of-delta and XOR codec calls on the tier stats of
    the sample; a value that does not round-trip fails the run."""
    ints, floats = [], []
    for st_all in rolled:
        for tier in TIERS:
            st = st_all[tier]
            ints.append(np.arange(st["count"].shape[0], dtype=np.int64))
            ints.extend(st[c] for c in INT_STATS)
            floats.extend(derive_mean_std(st["count"], st["sum"], st["sumsq"]))
    out = {}
    for kind, arrays, enc, dec in (("dod", ints, codec.dod_encode, codec.dod_decode),
                                   ("xor", floats, codec.xor_encode, codec.xor_decode)):
        n = sum(a.shape[0] for a in arrays)
        with run.tracer.span("kernels.codec", op="probe"):
            t0 = time.perf_counter()
            blobs = [enc(a) for a in arrays]
            t1 = time.perf_counter()
            back = [dec(b) for b in blobs]
            t2 = time.perf_counter()
        run.check(f"kernels.codec: {kind} round trip",
                  lambda: all(np.array_equal(a, b, equal_nan=kind == "xor")
                              for a, b in zip(arrays, back)))
        out[f"kernels.codec.{kind}_encode_ns_per_value"] = (t1 - t0) * 1e9 / n
        out[f"kernels.codec.{kind}_decode_ns_per_value"] = (t2 - t1) * 1e9 / n
        bits = 8 * sum(len(b) for b in blobs) / n
        out["kernels.codec.int_bits_per_value" if kind == "dod"
            else "kernels.codec.float_bits_per_value"] = bits
    return out
