"""``ingest``: the production write path.

Each op is a full checkpointed all-tier rollup of the corpus into a fresh
store, driven one committed batch at a time through
``IncrementalRollup.run(corpus, fail_after=1)``, then ``compact()``. The
first op of a run is killed at the midpoint and resumed by a new
``IncrementalRollup`` on the same directory.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from dtaianomaly_spark.kernels.stats import derive_mean_std
from dtaianomaly_spark.rollup.tiers import TIERS, rollup_series, rollup_tiers_map
from dtaianomaly_spark.sources.corpus import synthetic_series
from dtaianomaly_spark.streaming.incremental import IncrementalRollup
from perfbench import data
from perfbench.common import N_BATCHES, N_SERIES, dir_bytes, median, tail

WARM_SERIES = 64


def build_store(run, corpus, store_dir: str, group: str, kill_at: int | None = None):
    """Roll ``corpus`` into ``store_dir`` batch by batch, then compact.
    With ``kill_at``, the job object is dropped after that many commits and
    a new one resumes on the same directory. Returns per-batch seconds,
    compaction seconds and, if killed, the resume time."""
    inc = IncrementalRollup(store_dir, n_batches=N_BATCHES)
    batch_s, t_resume = [], None
    for b in range(N_BATCHES):
        if b == kill_at:
            t_resume = time.perf_counter()
            inc = IncrementalRollup(store_dir, n_batches=N_BATCHES)
        run.job_group(f"{group}/batch{b}")
        t0 = time.perf_counter()
        with run.tracer.span("streaming.incremental", op=group):
            done = inc.run(corpus, fail_after=1)
        batch_s.append(time.perf_counter() - t0)
        if done != 1:
            raise RuntimeError(f"batch {b}: run() committed {done} batches, expected 1")
    run.job_group(f"{group}/compact")
    t0 = time.perf_counter()
    with run.tracer.span("streaming.incremental.compact", op=group):
        inc.compact(run.spark)
    compact_s = time.perf_counter() - t0
    resume_s = time.perf_counter() - t_resume if t_resume is not None else None
    return batch_s, compact_s, resume_s


def prepare(run, n_series: int, warm_ingest: bool) -> dict:
    """Shared set-up of the workloads: warm the operators on a tiny corpus
    (the first Arrow action of a JVM spawns the Python workers), then
    write the corpus. ``warm_ingest`` also runs the checkpointed 8-batch
    rollup once on the tiny corpus."""
    t0 = time.perf_counter()
    tiny = run.path("warm-corpus")
    data.write_corpus(run, WARM_SERIES, tiny, "setup/warm")
    if warm_ingest:  # one batch at a time, as the ops do, so the JIT sees every step
        build_store(run, run.spark.read.parquet(tiny), run.path("warm-store"), "setup/warm")
    warm_s = time.perf_counter() - t0
    run.log(f"warm-up {warm_s:.2f}s")
    dest = run.path("corpus")
    t0 = time.perf_counter()
    data.write_corpus(run, n_series, dest, "setup/corpus")
    gen_s = time.perf_counter() - t0
    run.log(f"corpus {gen_s:.2f}s")
    return {"warm_s": warm_s, "gen_s": gen_s, "corpus_dir": dest}


def run_ingest(run) -> dict:
    prep = prepare(run, N_SERIES, warm_ingest=True)
    corpus = run.spark.read.parquet(prep["corpus_dir"])
    setup_s = run.session_start_s + prep["warm_s"] + prep["gen_s"]
    points_per_op = data.points_of(data.lengths(range(N_SERIES)))

    batch_s, compact_s, op_s, windows, stores = [], [], [], [], []
    resume = {}

    def op(k):
        store = run.path("stores", f"op{k}")
        kill_at = N_BATCHES // 2 if k == 0 else None
        res, wall, w0, w1 = run.attempt(
            f"ingest op{k}",
            lambda: build_store(run, corpus, store, f"op{k}", kill_at=kill_at),
        )
        op_s.append(wall)
        windows.append((w0, w1))
        run.log(f"op{k}: {wall:.2f}s")
        if res is not None:
            batch_s.extend(res[0])
            compact_s.append(res[1])
            if k == 0:
                resume["s"] = res[2]
        stores.append(store)
        if len(stores) > 2:  # keep the resumed store and the latest one
            shutil.rmtree(stores[-2], ignore_errors=True)

    t_loop = time.perf_counter()
    n_ops = run.closed_loop(op)
    loop_s = time.perf_counter() - t_loop
    op_wall = sum(op_s)
    last, resumed = stores[-1], stores[0]

    # -- output checks (untimed) --------------------------------------------
    rng = np.random.default_rng(run.seed)
    sample = data.sample_indices(rng, N_SERIES, 8)
    run.job_group("check/oracle")
    run.check("ingest: sampled series equal the NumPy oracle",
              lambda: _matches_oracle(run, last, sample))
    run.job_group("check/resume")
    run.check("ingest: resumed store equals an uninterrupted rollup",
              lambda: _same_as_uninterrupted(run, resumed, corpus, points_per_op))
    run.check("ingest: resumed store has 8 distinct committed batch ids",
              lambda: _committed_once(resumed))
    t0 = time.perf_counter()
    run.job_group("check/noop")
    noop_done = IncrementalRollup(last, n_batches=N_BATCHES).run(corpus)
    noop_resume_s = time.perf_counter() - t0
    run.check("ingest: resuming a finished job commits nothing", lambda: noop_done == 0)

    points = points_per_op * n_ops
    store_bytes = dir_bytes(os.path.join(last, f"compact={N_BATCHES}"), ".parquet")
    p50 = median(batch_s)
    named = {
        "setup_s": (setup_s, "s"),
        "ingest_points_per_s": (points / op_wall, "1/s"),
        "ingest_batch_p50_s": (p50, "s"),
        "resume_s": (resume.get("s") or 0.0, "s"),
    }
    t = tail(batch_s)
    if t:
        named[f"ingest_batch_p{t[0]}_s"] = (t[1], "s")
    return {
        "gated": {
            "setup_s": setup_s,
            "latency_s": p50,
            "ops_per_s": len(batch_s) / op_wall,
            "bytes_per_point": store_bytes / points_per_op,
        },
        "named": named,
        "samples": {"ops": n_ops, "batch_s": [round(x, 3) for x in batch_s],
                    "compact_s": [round(x, 3) for x in compact_s]},
        "layers": {
            "sources.corpus.gen_s": prep["gen_s"],
            "streaming.incremental.noop_resume_s": noop_resume_s,
            **store_layout(last, median(compact_s) if compact_s else 0.0),
        },
        "scan": {"corpus_rows": N_SERIES, "ops": n_ops, "pattern": r"op\d+/batch\d+"},
        "windows": windows,
        "loop_s": loop_s,
        "corpus_dir": prep["corpus_dir"],
    }


def store_layout(store: str, compact_s: float) -> dict:
    """Per-layer facts of a finished store: compaction time, data files
    written (batch and compacted) and commit log size."""
    return {
        "streaming.incremental.compact_s": compact_s,
        "streaming.incremental.files_written": sum(
            1 for _, _, fs in os.walk(store) for f in fs if f.endswith(".parquet")),
        "streaming.incremental.commit_log_bytes": os.path.getsize(
            os.path.join(store, "_checkpoint", "committed.jsonl")),
    }


def _matches_oracle(run, store: str, sample: list[int]) -> bool:
    rows = (
        IncrementalRollup(store, n_batches=N_BATCHES).read_store(run.spark)
        .filter(F.col("doc_id").isin([data.doc_id(i) for i in sample]))
        .toPandas()
    )
    for i in sample:
        tokens, _ = synthetic_series(i, run.seed)
        expect = rollup_series(tokens)
        got_doc = rows[rows["doc_id"] == data.doc_id(i)]
        for tier in TIERS:
            got = got_doc[got_doc["tier"] == tier].sort_values("bucket")
            st = expect[tier]
            n = st["count"].shape[0]
            mean, std = derive_mean_std(st["count"], st["sum"], st["sumsq"])
            want = pd.DataFrame({
                "bucket": np.arange(n), "cnt": st["count"], "sum": st["sum"],
                "sumsq": st["sumsq"], "min": st["min"], "max": st["max"],
                "first": st["first"], "last": st["last"], "mean": mean, "std": std,
            })
            if len(got) != n:
                return False
            for c in want.columns:
                if not np.array_equal(got[c].to_numpy(), want[c].to_numpy(),
                                      equal_nan=want[c].dtype.kind == "f"):
                    return False
    return True


def _same_as_uninterrupted(run, store: str, corpus, points: int) -> bool:
    """The store's rows equal, as a multiset, one uninterrupted rollup of
    the whole corpus (every batch is a per-series map of its slice)."""
    got = data.hash_force(IncrementalRollup(store, n_batches=N_BATCHES).read_store(run.spark))
    return got == data.hash_force(rollup_tiers_map(corpus)) and got[0] == points


def _committed_once(store: str) -> bool:
    inc = IncrementalRollup(store, n_batches=N_BATCHES)
    ids = [r["batch"] for r in inc.snapshots() if r.get("batch") is not None]
    return sorted(ids) == list(range(N_BATCHES))
