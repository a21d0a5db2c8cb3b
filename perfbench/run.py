"""Benchmark of the blacklab_spark engine.

    python3 perfbench/run.py --workload bm25-topk --seed 1 --seconds 8 --trace 0
    python3 perfbench/run.py --workload all --seed 1
    python3 perfbench/run.py --steady 5 --workload bls-mix

One run builds a fresh index from seeded synthetic transcripts, measures
a closed loop for ``--seconds``, checks the answers and prints, as the
last line of standard output, one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics``. With ``--trace 0`` the
metrics are the end-to-end metrics of BENCHMARK.json; with
``--trace 1`` they are its per-layer metrics, read from a traced window
that follows an untraced one. ``--steady N`` runs a workload with N
seeds and prints each end-to-end metric's spread against its bound.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

import common
from common import ROOT, WORK, log, median, tail

WORKLOADS = ("bm25-topk", "bls-mix")


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _engine_available() -> bool:
    sys.path.insert(0, ROOT)
    try:
        import blacklab_spark  # noqa: F401
        import duckdb  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine or its dependencies: {e}", file=sys.stderr)
        return False
    return True


def layer_metrics(tr, res: dict) -> dict:
    """The per-layer metrics of one traced run."""
    m: dict[str, float] = {}
    windows = res["windows"]
    ops = {s["op"] for s in tr.spans if s["name"] == "op"}
    layer = lambda names: tr.layer(names, ops)  # noqa: E731
    # cql and results also count the ingest round's fresh-handle reads
    read_ops = ops | {s["op"] for s in tr.spans if s["name"].startswith("ingest.fresh_read")}

    ts = layer({"corpus.term_stats"})
    m["corpus.term_stats_s"], m["corpus.term_stats_jobs"] = ts["s"], ts["jobs"]
    bm = layer({"bm25.call", "bm25.collect"})
    m["bm25.call_s"] = layer({"bm25.call"})["s"]
    m["bm25.collect_s"] = layer({"bm25.collect"})["s"]
    for k in ("jobs", "stages", "tasks", "executor_run_s", "shuffle_bytes", "input_bytes",
              "driver_gap_s"):
        m[f"bm25.{k}"] = bm[k]
    m["cql.parse_s"] = tr.layer({"cql.parse"}, read_ops)["s"]
    plan = tr.layer({"cql.plan"}, read_ops)
    m["cql.plan_s"], m["cql.plan_jobs"] = plan["s"], plan["jobs"]
    rs = tr.layer({"results.collect"}, read_ops)
    for k in ("jobs", "shuffle_bytes", "executor_run_s"):
        m[f"results.{k}"] = rs[k]
    m["results.collect_s"] = rs["s"]
    m["facade.search_s"] = layer({"facade.search"})["s"]
    m["server.envelope_s"] = layer({"server.envelope"})["s"]
    m["webservice.handle_s"] = layer({"webservice.handle"})["s"]
    handle = {s["op"]: s["end"] - s["start"] for s in tr.outermost({"webservice.handle"})}
    m["webservice.http_overhead_s"] = median(
        (s["end"] - s["start"]) - handle[s["op"]]
        for s in tr.spans if s["name"] == "op" and s["op"] in handle)
    for k in ("lookups", "hits", "evictions", "duplicate_computes"):
        m[f"cache.{k}"] = tr.counters.get(f"cache.{k}", 0)
    for k, v in tr.spark_totals(ops).items():
        m[f"spark.{k}"] = v
    b = tr.layer({"build.index"})
    m["build.s"], m["build.jobs"], m["build.shuffle_bytes"] = b["s"], b["jobs"], b["shuffle_bytes"]
    m["build.bytes_written"], m["build.spill_bytes"] = b["output_bytes"], b["spill_bytes"]
    m["incremental.compact_bytes_rewritten"] = tr.layer({"incremental.compact"})["output_bytes"]

    untraced = windows["window"]
    lat = untraced.latencies()
    m["latency_tail_s"], m["latency_tail_pct"], beyond = tail(lat)
    m["failed_ratio"] = untraced.failed / max(1, untraced.attempted)
    m["trace.overhead_s"] = median(windows["traced_window"].latencies()) - median(lat)
    m["trace.bookkeeping_s"] = tr.bookkeeping(ops)
    return m


def run_one(args, spec: dict) -> int:
    common.prepare_environment()
    from tracing import Trace, Tracer

    if args.workload == "bm25-topk":
        import bm25_topk as workload
    else:
        import bls_mix as workload
    t0 = time.perf_counter()
    spark = common.start_spark()
    session_start_s = time.perf_counter() - t0
    try:
        tracer = Tracer(spark) if args.trace else None
        res = workload.run(spark, args.seed, args.seconds, tracer)
        metrics = res["metrics"]
        metrics["spark.session_start_s"] = session_start_s
        if tracer is not None:
            tr = Trace(tracer.spans, tracer.read_jobs(), tracer.counters)
            metrics.update(layer_metrics(tr, res))
            path = os.path.join(WORK, f"trace-{args.workload}-{args.seed}.json")
            tr.dump(path)
            log(f"trace written to {os.path.relpath(path, ROOT)}; median self time per span:")
            for name, s in tr.self_times().items():
                log(f"  {name:28s} {s:.4f} s")
    finally:
        common.stop_spark(spark)
    log("spark stopped")

    windows = list(res["windows"].values())
    attempted = sum(w.attempted for w in windows)
    failed = sum(w.failed for w in windows)
    for w in windows:
        for r in w.records:
            if not r.ok:
                log(f"FAILED {r.kind} {r.request!r}: {r.error}")
    for e in res["errors"]:
        log(f"WRONG ANSWER {e}")
    win = res["windows"]["window"]
    value, pct, beyond = tail(win.latencies())
    log(f"window: {win.attempted} ops in {win.elapsed:.2f} s, {win.failed} failed "
        f"(failed_ratio {win.failed / max(1, win.attempted):.4f}); latency p{pct:.1f} "
        f"{value:.4f} s with {beyond} samples beyond; CPU steal {win.steal:.1%}")

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    out = {}
    for m in wanted:
        if m["name"] not in metrics and not args.trace:
            raise KeyError(f"workload did not measure {m['name']}")
        # a per-layer metric the workload never reaches reads 0
        out[m["name"]] = {"value": float(metrics.get(m["name"], 0.0)), "unit": m["unit"]}
        log(f"{m['name']:36s} {out[m['name']]['value']:.6g} {m['unit']}")
    correct = not res["errors"]
    common.emit({"correct": correct, "attempted": attempted, "failed": failed, "metrics": out})
    return 0 if correct else 1


def _subprocess_result(workload: str, seed: int, seconds: int, trace: int) -> dict | None:
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", workload, "--seed",
           str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.perf_counter()
    p = subprocess.run(cmd, capture_output=True, text=True, cwd=ROOT)
    lines = p.stdout.strip().splitlines()
    steal = next((ln.rsplit("; ", 1)[-1] for ln in lines if "CPU steal" in ln), "")
    print(f"# {workload} seed {seed}: exit {p.returncode} in {time.perf_counter() - t0:.1f} s; "
          f"{steal}", flush=True)
    try:
        return json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        print(p.stdout[-2000:], p.stderr[-2000:], sep="\n", file=sys.stderr)
        return None


def steady(args, spec: dict) -> int:
    """Each end-to-end metric's quartile spread over N seeds as a share of
    its median, against its bound (the target is a third of it)."""
    names = WORKLOADS if args.workload == "all" else (args.workload,)
    bad = 0
    for wl in names:
        values: dict[str, list[float]] = {}
        for seed in range(args.seed, args.seed + args.steady):
            res = _subprocess_result(wl, seed, args.seconds, 0)
            if res is None or not res["correct"] or res["failed"]:
                bad += 1
                continue
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
        print(f"## {wl}: {args.steady} seeds from {args.seed}")
        for m in spec["end_to_end"]:
            xs = values.get(m["name"], [])
            if len(xs) < 2:
                continue
            q1, med, q3 = statistics.quantiles(xs, n=4)
            spread = (q3 - q1) / med
            flag = "ok" if spread < m["bound"] / 3 else ("WIDE" if spread > m["bound"] else "near")
            print(f"{m['name']:28s} median {med:.6g} {m['unit']:6s} spread {spread:.4f} "
                  f"bound {m['bound']} [{flag}]  values {[round(x, 4) for x in xs]}")
    return 1 if bad else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=None)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--steady", type=int, default=0, metavar="N",
                    help="run N seeds per workload and print each metric's spread")
    args = ap.parse_args()
    if not os.path.exists(os.path.join(ROOT, "BENCHMARK.json")) or not _engine_available():
        return 2
    spec = load_spec()
    if args.seconds is None:
        args.seconds = spec["run_seconds"]
    if args.steady:
        return steady(args, spec)
    if args.workload == "all":
        results = [_subprocess_result(wl, args.seed, args.seconds, args.trace) for wl in WORKLOADS]
        for wl, res in zip(WORKLOADS, results):
            print(f"{wl}: {json.dumps(res, sort_keys=True)}")
        return 0 if all(r and r["correct"] for r in results) else 1
    return run_one(args, spec)


if __name__ == "__main__":
    sys.exit(main())
