#!/usr/bin/env python3
"""Benchmark of the tiered rollup engine (see README.md in this directory).

    python3 perfbench/run.py --workload {ingest,tier_queries,all}
                             --seed N --seconds S --trace {0,1}

Runs on ``local[nproc]`` from any working directory. The last line of
standard output is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics of BENCHMARK.json with
``--trace 0``, its per-layer metrics with ``--trace 1``. ``--workload all``
runs both workloads in one session and reports every named end-to-end
metric as ``<workload>/<metric>``.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import signal
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("ingest", "tier_queries")
DEADLINE_S = 170  # a run must end within 180 s


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _deadline(signum, frame):
    raise TimeoutError(f"run exceeded {DEADLINE_S} s")


def _span_cost_s() -> float:
    from perfbench.tracing import Tracer

    t, n = Tracer(True), 20000
    t0 = time.perf_counter()
    for _ in range(n):
        with t.span("x", op="cost"):
            pass
    return (time.perf_counter() - t0) / n


def _traced_layers(run, w: str, res: dict, log) -> dict:
    m = dict(res["probe"])
    m.update(res["layers"])
    m["session.start_s"] = run.session_start_s
    m["session.peak_rss_mb"] = run.rss.peak_bytes / 2**20
    ops = re.compile(rf"^{re.escape(w)}/op\d+")
    m.update(log.summary(lambda g: bool(ops.match(g)), res["windows"], run.cores))
    scan = res.get("scan")
    if scan:
        pat = re.compile(rf"^{re.escape(w)}/{scan['pattern']}$")
        m["streaming.incremental.scan_amplification"] = (
            log.records_read(lambda g: bool(pat.match(g))) / (scan["corpus_rows"] * scan["ops"]))
    spans = [s for s in run.tracer.spans if s.get("workload") == w]
    m["trace.spans"] = len(spans)
    m["trace.overhead_ratio"] = len(spans) * _span_cost_s() / res["loop_s"]
    m["trace.latency_s"] = res["gated"]["latency_s"]
    return m


def main(argv=None) -> int:
    args = _args(argv)
    # run as a script, sys.path[0] is this directory: import its modules
    # only as ``perfbench.*``
    sys.path[0] = ROOT
    try:
        import dtaianomaly_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    from perfbench import eventlog, layers
    from perfbench.common import N_SERIES, Run
    from perfbench.ingest import run_ingest
    from perfbench.tier_queries import run_tier_queries

    runners = {"ingest": run_ingest, "tier_queries": run_tier_queries}
    names = list(WORKLOADS) if args.workload == "all" else [args.workload]
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace))
    signal.signal(signal.SIGALRM, _deadline)
    signal.alarm(DEADLINE_S)
    results = {}
    # an error ends the run with its traceback: exit code 1, no result line
    try:
        try:
            run.start()
            run.log(f"session {run.session_start_s:.2f}s")
            env = run.environment()
            for w in names:
                run.current = w
                first_span = len(run.tracer.spans)
                results[w] = runners[w](run)
                run.log(f"{w} done")
                if run.trace:
                    results[w]["probe"] = layers.probe(run, results[w]["corpus_dir"], N_SERIES)
                    run.log(f"{w} layer probes done")
                for s in run.tracer.spans[first_span:]:
                    s["workload"] = w
        finally:
            run.stop()
            signal.alarm(0)
        events = eventlog.load(run.event_dir) if run.trace else []
    finally:
        run.cleanup()
    env["loadavg_end"] = run.loadavg_end
    print(json.dumps({"env": env}))

    ratio = run.failed / run.attempted
    for w in names:
        named = {k: {"value": v, "unit": u} for k, (v, u) in results[w]["named"].items()}
        named["ops_failed_ratio"] = {"value": ratio, "unit": "ratio"}
        results[w]["named_out"] = named
        print(json.dumps({"workload": w, "metrics": named, "samples": results[w]["samples"]}))

    if run.trace:
        log = eventlog.EventLog(events)
        for w in names:
            results[w]["per_layer"] = _traced_layers(run, w, results[w], log)
        run.write_json(f"trace-{args.workload}-seed{args.seed}.json", {
            "env": env,
            "per_layer": {w: results[w]["per_layer"] for w in names},
            "self_s_by_layer": run.tracer.self_time_by_layer(),
            "spans": run.tracer.with_self_times(),
        })

    if args.workload == "all":
        metrics = {f"{w}/{k}": v for w in names for k, v in results[w]["named_out"].items()}
    else:
        # a layer the workload does not run reads 0
        values = results[args.workload]["per_layer" if run.trace else "gated"]
        metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in spec["per_layer" if run.trace else "end_to_end"]}
    run.write_json(f"result-{args.workload}-seed{args.seed}-trace{args.trace}.json",
                   {"env": env, **{w: {k: results[w][k] for k in ("gated", "samples")}
                                   for w in names},
                    "failures": run.failures, "metrics": metrics})
    print(json.dumps({"correct": run.failed == 0, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
