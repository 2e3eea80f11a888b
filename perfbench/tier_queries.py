"""``tier_queries``: the read path over the store ``ingest`` writes, plus
the compressed archive next to it.

Set-up materializes the store with the same ``IncrementalRollup`` +
``compact()`` path. Each op is one query from a seeded mix: rounds of the
query types in seeded order, with seeded parameters, forced by hashing
every output column. Seven types read the store and the corpus; ``archive``
writes a seeded slice as compressed blocks and ``restore`` decodes a seeded
sample of the latest blocks. Once per run, one instance of every type is
checked: the seven relational types and ``restore`` against DuckDB over the
same parquet files, the archive round trip against ``rollup_tiers_map``.
"""

from __future__ import annotations

import math
import os
import time

import duckdb
import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from dtaianomaly_spark.operators.windows import reverse_scores, sliding_stats
from dtaianomaly_spark.rollup.refresh import refresh_tail
from dtaianomaly_spark.rollup.tiers import (
    DERIVE_MEAN_SQL, DERIVE_STD_SQL, M1_FACTOR, RAW_BUCKET_TICKS, RETENTION_TICKS,
    TIER_TICKS, apply_retention, compose_tier, gap_fill,
)
from dtaianomaly_spark.streaming.incremental import IncrementalRollup
from perfbench import archive, data
from perfbench.common import N_BATCHES, N_SERIES, median, tail
from perfbench.ingest import build_store, prepare, store_layout

RANGE_SERIES = 250      # doc_id range of the range-scoped queries
ARCHIVE_SERIES = 128    # series per archived slice
SLIDING_SERIES = 32     # series subset of sliding_stats + reverse_scores
RESTORE_SERIES = 16     # series restored from an archive slice
WINDOW, STRIDE = 64, 32
RELATIONAL = (
    "point_lookup", "range_scan", "gap_fill", "retention",
    "compose_tier", "refresh_tail", "sliding_reverse",
)
QUERY_TYPES = RELATIONAL + ("archive", "restore")
LAYER_OF = {"refresh_tail": "rollup.refresh", "sliding_reverse": "operators.windows",
            "archive": "rollup.compress", "restore": "rollup.compress"}


class Queries:
    """The query mix over one store and its corpus, in Spark and in
    DuckDB SQL with the same parameters."""

    def __init__(self, run, corpus, corpus_dir: str, store, store_dir: str):
        self.run, self.corpus, self.store = run, corpus, store
        self.corpus_glob = os.path.join(corpus_dir, "*.parquet")
        self.store_glob = os.path.join(store_dir, "*.parquet")
        self.series_n = corpus.select("doc_id", F.col("n_tok").alias("n"))

    def params(self, qtype: str, rng: np.random.Generator, blocks: tuple | None = None) -> dict:
        """Seeded parameters; ``restore`` samples the series of ``blocks``,
        the (directory, first series, end) of the latest archive slice."""
        width = {"sliding_reverse": SLIDING_SERIES, "archive": ARCHIVE_SERIES}.get(qtype, RANGE_SERIES)
        lo = int(rng.integers(0, N_SERIES - width + 1))
        p = {
            "lo_i": lo, "lo": data.doc_id(lo), "hi": data.doc_id(lo + width - 1),
            "doc": data.doc_id(int(rng.integers(0, N_SERIES))),
            "from_pos": int(rng.integers(0, 1024)), "delta": int(rng.integers(1, 100)),
        }
        if qtype == "restore":
            p["blocks"] = blocks[0]
            p["ids"] = sorted(int(i) for i in rng.choice(
                np.arange(blocks[1], blocks[2]), RESTORE_SERIES, replace=False))
            p["lo"], p["hi"] = data.doc_id(p["ids"][0]), data.doc_id(p["ids"][-1])
        return p

    def _in_range(self, df, p):
        return df.filter(F.col("doc_id").between(p["lo"], p["hi"]))

    def spark(self, qtype: str, p: dict):
        store, tier = self.store, F.col("tier")
        if qtype == "point_lookup":
            return store.filter((F.col("doc_id") == p["doc"]) & (tier == "raw"))
        if qtype == "range_scan":
            return self._in_range(store.filter(tier == "1m"), p)
        if qtype == "gap_fill":
            return gap_fill(self._in_range(store.filter(tier == "1m"), p),
                            self._in_range(self.series_n, p), TIER_TICKS["1m"])
        if qtype == "retention":
            return apply_retention(self._in_range(store, p), self._in_range(self.series_n, p))
        if qtype == "compose_tier":
            return compose_tier(self._in_range(store.filter(tier == "raw"), p), M1_FACTOR, "1m")
        if qtype == "refresh_tail":
            late = (
                self._in_range(self.corpus, p)
                .select("doc_id", F.posexplode("tokens").alias("pos", "value"))
                .select("doc_id", F.col("pos").cast("long").alias("pos"),
                        (F.col("value").cast("long")
                         + F.when(F.col("pos") >= p["from_pos"], p["delta"]).otherwise(0)
                         ).alias("value"))
            )
            return refresh_tail(self._in_range(store.filter(tier == "raw"), p), late,
                                p["from_pos"], RAW_BUCKET_TICKS, "raw")
        if qtype == "restore":
            return archive.decode(self.run, p["blocks"], p["ids"])
        if qtype == "sliding_reverse":
            arrays = self._in_range(self.corpus, p).select("doc_id", "tokens", "n_tok")
            scores = sliding_stats(arrays, WINDOW, STRIDE).select(
                "doc_id", "idx", (F.col("max") - F.col("min")).alias("score"))
            return reverse_scores(scores, self._in_range(self.series_n, p), WINDOW, STRIDE)
        raise ValueError(qtype)

    def sql(self, qtype: str, p: dict) -> str:
        rng_pred = f"doc_id BETWEEN '{p['lo']}' AND '{p['hi']}'"
        stats = "cnt, sum, sumsq, min, max, first, last"
        derived = f"{DERIVE_MEAN_SQL} AS mean, {DERIVE_STD_SQL} AS std"
        if qtype == "point_lookup":
            return f"SELECT * FROM store WHERE doc_id = '{p['doc']}' AND tier = 'raw'"
        if qtype == "restore":  # the blocks hold exactly the store's rows
            ids = ", ".join(f"'{data.doc_id(i)}'" for i in p["ids"])
            return f"SELECT * FROM store WHERE doc_id IN ({ids})"
        if qtype == "range_scan":
            return f"SELECT * FROM store WHERE tier = '1m' AND {rng_pred}"
        if qtype == "gap_fill":
            ticks = TIER_TICKS["1m"]
            return f"""
            WITH grid AS (
                SELECT doc_id, UNNEST(range(0, CAST(ceil(n / {ticks}.0) AS BIGINT))) AS bucket
                FROM series WHERE {rng_pred}),
            r AS (SELECT * FROM store WHERE tier = '1m' AND {rng_pred})
            SELECT g.doc_id, g.bucket, coalesce(r.cnt, 0) AS cnt, coalesce(r.sum, 0) AS sum,
                   coalesce(r.sumsq, 0) AS sumsq, r.min, r.max, r.first, r.last, r.mean, r.std
            FROM grid g LEFT JOIN r ON g.doc_id = r.doc_id AND g.bucket = r.bucket"""
        if qtype == "retention":
            cases = " ".join(
                f"WHEN tier = '{t}' THEN "
                + ("TRUE" if RETENTION_TICKS.get(t) is None
                   else f"n - (bucket + 1) * {ticks} < {RETENTION_TICKS[t]}")
                for t, ticks in TIER_TICKS.items())
            return f"""SELECT s.* FROM store s JOIN series USING (doc_id)
                       WHERE s.{rng_pred} AND CASE {cases} ELSE TRUE END"""
        if qtype == "compose_tier":
            return f"""
            SELECT doc_id, '1m' AS tier, bucket, {stats}, {derived} FROM (
                SELECT doc_id, bucket // {M1_FACTOR} AS bucket,
                       CAST(sum(cnt) AS BIGINT) AS cnt, CAST(sum(sum) AS BIGINT) AS sum,
                       CAST(sum(sumsq) AS BIGINT) AS sumsq, min(min) AS min, max(max) AS max,
                       arg_min(first, bucket) AS first, arg_max(last, bucket) AS last
                FROM store WHERE tier = 'raw' AND {rng_pred}
                GROUP BY doc_id, bucket // {M1_FACTOR})"""
        if qtype == "refresh_tail":
            # the refresh contract: equal to a full recompute over the new data
            return f"""
            WITH lf AS (
                SELECT doc_id, UNNEST(range(0, len(tokens))) AS pos,
                       CAST(UNNEST(tokens) AS BIGINT) AS v
                FROM corpus WHERE {rng_pred}),
            nl AS (SELECT doc_id, pos, v + CASE WHEN pos >= {p['from_pos']}
                                               THEN {p['delta']} ELSE 0 END AS value FROM lf)
            SELECT doc_id, 'raw' AS tier, bucket, {stats}, {derived} FROM (
                SELECT doc_id, pos // {RAW_BUCKET_TICKS} AS bucket, count(value) AS cnt,
                       CAST(sum(value) AS BIGINT) AS sum,
                       CAST(sum(value * value) AS BIGINT) AS sumsq,
                       min(value) AS min, max(value) AS max,
                       arg_min(value, pos) AS first, arg_max(value, pos) AS last
                FROM nl GROUP BY doc_id, pos // {RAW_BUCKET_TICKS})"""
        if qtype == "sliding_reverse":
            w, s = WINDOW, STRIDE
            return f"""
            WITH a AS (
                SELECT doc_id, tokens, n_tok AS n,
                       CASE WHEN n_tok <= {w} THEN 1 ELSE (n_tok - {w} + {s} - 1) // {s} + 1 END AS nw
                FROM corpus WHERE {rng_pred}),
            wi AS (SELECT doc_id, tokens, n, nw, UNNEST(range(0, nw)) AS idx FROM a),
            sc AS (
                SELECT doc_id, idx, list_max(win) - list_min(win) AS score FROM (
                    SELECT doc_id, idx,
                           list_slice(tokens, st + 1, st + {w}) AS win FROM (
                        SELECT *, CASE WHEN idx = nw - 1 THEN n - {w} ELSE idx * {s} END AS st
                        FROM wi))),
            ps AS (SELECT doc_id, n, nw, UNNEST(range(0, n)) AS pos FROM a),
            ab AS (
                SELECT doc_id, pos,
                       least(CASE WHEN pos >= {w} THEN (pos - {w}) // {s} + 1 ELSE 0 END, nw) AS a,
                       least(CASE WHEN pos < n - {w} THEN pos // {s} + 1 ELSE nw END, nw) AS b
                FROM ps)
            SELECT ab.doc_id, ab.pos, CAST(sum(sc.score) AS DOUBLE) / (ab.b - ab.a) AS score
            FROM ab JOIN sc ON sc.doc_id = ab.doc_id AND sc.idx >= ab.a AND sc.idx < ab.b
            GROUP BY ab.doc_id, ab.pos, ab.a, ab.b"""
        raise ValueError(qtype)

    def oracle(self, qtype: str, p: dict) -> pd.DataFrame:
        con = duckdb.connect()
        try:
            con.execute("SET threads TO 1")
            for view, glob in (("store", self.store_glob), ("corpus", self.corpus_glob)):
                con.execute(f"CREATE VIEW {view} AS SELECT * FROM "
                            f"read_parquet('{glob}', hive_partitioning = false)")
            con.execute("CREATE VIEW series AS SELECT doc_id, n_tok AS n FROM corpus")
            return con.execute(self.sql(qtype, p)).fetch_df()
        finally:
            con.close()


def same_rows(a: pd.DataFrame, b: pd.DataFrame) -> bool:
    """Equal as multisets of rows, comparing columns by name; numbers are
    compared by value (NULL and NaN alike), strings exactly."""
    if sorted(a.columns) != sorted(b.columns) or len(a) != len(b):
        return False
    cols = sorted(a.columns)

    def norm(df):
        out = pd.DataFrame({
            c: (df[c].astype(str) if df[c].dtype == object
                else pd.to_numeric(df[c], errors="raise").astype("float64"))
            for c in cols})
        return out.sort_values(cols, na_position="last", kind="mergesort").reset_index(drop=True)

    na, nb = norm(a), norm(b)
    for c in cols:
        x, y = na[c].to_numpy(), nb[c].to_numpy()
        ok = (np.array_equal(x, y, equal_nan=True) if x.dtype.kind == "f"
              else bool((x == y).all()))
        if not ok:
            return False
    return True


def run_tier_queries(run) -> dict:
    prep = prepare(run, N_SERIES, warm_ingest=False)
    corpus = run.spark.read.parquet(prep["corpus_dir"])
    store_dir = run.path("store")
    t0 = time.perf_counter()
    _, store_compact_s, _ = build_store(run, corpus, store_dir, "setup/store")
    store_build_s = time.perf_counter() - t0
    run.log(f"store {store_build_s:.2f}s")
    store = IncrementalRollup(store_dir, n_batches=N_BATCHES).read_store(run.spark)
    compact_dir = os.path.join(store_dir, f"compact={N_BATCHES}")
    q = Queries(run, corpus, prep["corpus_dir"], store, compact_dir)
    rng = np.random.default_rng(run.seed)

    archived = {"points": [], "dirs": []}  # every slice written, for the checks
    latest: list = []  # (directory, first series, end) of the newest slice

    def run_query(qtype: str, p: dict, group: str) -> int:
        """One query, forced; returns its rows (``archive``: points written)."""
        run.job_group(group)
        with run.tracer.span(LAYER_OF.get(qtype, "rollup.tiers"), op=group):
            if qtype != "archive":
                return data.hash_force(q.spark(qtype, p))[0]
            dest = run.path("blocks", group.replace("/", "-"))
            hi = p["lo_i"] + ARCHIVE_SERIES
            archive.encode(run, corpus, p["lo_i"], hi, dest)
            latest[:] = [dest, p["lo_i"], hi]
            archived["dirs"].append(dest)
            points = data.points_of(data.lengths(range(p["lo_i"], hi)))
            archived["points"].append(points)
            return points

    # one untimed warm-up round, counted in set-up; its results are the
    # ones checked after the measured loop
    check_params, check_rows = {}, {}
    t0 = time.perf_counter()
    for t in QUERY_TYPES:
        p = check_params[t] = q.params(t, rng, tuple(latest) if latest else None)
        if t == "archive":
            run_query(t, p, f"setup/warm/{t}")
        else:
            run.job_group(f"setup/warm/{t}")
            check_rows[t] = q.spark(t, p).toPandas()
    warm_q_s = time.perf_counter() - t0
    run.log(f"query warm-up {warm_q_s:.2f}s")
    setup_s = run.session_start_s + prep["warm_s"] + prep["gen_s"] + store_build_s + warm_q_s

    lat: dict[str, list[float]] = {t: [] for t in QUERY_TYPES}
    rows: dict[str, list[int]] = {t: [] for t in QUERY_TYPES}
    windows, order = [], []

    def op(k):
        if not order:
            order.extend(rng.permutation(QUERY_TYPES))
        qtype = str(order.pop())
        p = q.params(qtype, rng, tuple(latest))
        res, wall, w0, w1 = run.attempt(f"query op{k} {qtype}",
                                        lambda: run_query(qtype, p, f"op{k}/{qtype}"))
        lat[qtype].append(wall)
        rows[qtype].append(res or 0)
        windows.append((w0, w1))

    t_loop = time.perf_counter()
    # two rounds at least: one round holds a single sample of each type
    n_ops = run.closed_loop(op, round_ops=len(QUERY_TYPES), min_rounds=2)
    loop_s = time.perf_counter() - t_loop
    run.log(f"{n_ops} queries in {loop_s:.2f}s")

    # -- output checks (untimed) ----------------------------------------------
    for t in RELATIONAL + ("restore",):
        run.check(f"tier_queries: {t} equals DuckDB",
                  lambda t=t: same_rows(check_rows[t], q.oracle(t, check_params[t])))
    run.job_group("check/archive")
    run.check("tier_queries: decode(encode) equals rollup_tiers_map",
              lambda: same_rows(check_rows["restore"],
                                archive.direct_rollup(corpus, check_params["restore"]["ids"])))
    points, enc_bytes = archive.bytes_per_point(run, archived["dirs"])
    run.check("tier_queries: archive blocks hold every encoded point",
              lambda: points == sum(archived["points"]))

    all_lat = [x for v in lat.values() for x in v]
    busy = sum(all_lat)
    p50 = median(all_lat)
    # the mix's typical latency: the types differ by 10x, so the plain
    # median jumps between whichever types land in the middle
    typical = math.exp(sum(math.log(median(v)) for v in lat.values()) / len(lat))
    archive_pps = sum(rows["archive"]) / sum(lat["archive"])
    restore_pps = sum(rows["restore"]) / sum(lat["restore"])
    named = {
        "setup_s": (setup_s, "s"),
        "query_p50_s": (p50, "s"),
        "queries_per_s": (n_ops / busy, "1/s"),
        "archive_points_per_s": (archive_pps, "1/s"),
        "restore_points_per_s": (restore_pps, "1/s"),
        "archive_bytes_per_point": (enc_bytes / points, "B"),
    }
    tl = tail(all_lat)
    if tl:
        named[f"query_p{tl[0]}_s"] = (tl[1], "s")
    return {
        "gated": {
            "setup_s": setup_s,
            "latency_s": typical,
            "ops_per_s": n_ops / busy,
            "bytes_per_point": enc_bytes / points,
        },
        "named": named,
        "samples": {"queries": n_ops, "latency_s": {t: [round(x, 3) for x in v]
                                                    for t, v in lat.items()}},
        "layers": {
            "sources.corpus.gen_s": prep["gen_s"],
            **store_layout(store_dir, store_compact_s),
            "rollup.compress.encode_s": median(lat["archive"]),
            "rollup.compress.decode_s": median(lat["restore"]),
            **{f"query.{t}.p50_s": median(lat[t]) for t in RELATIONAL},
        },
        "scan": {"corpus_rows": N_SERIES, "ops": 1, "pattern": r"setup/store/batch\d+"},
        "windows": windows,
        "loop_s": loop_s,
        "corpus_dir": prep["corpus_dir"],
    }
