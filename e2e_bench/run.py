"""End-to-end benchmark of the searchlite_spark engine.

    python3 e2e_bench/run.py --workload {serve,rank} --seed N \
        --seconds S --trace {0,1}

Run from the repository root.  The run generates its inputs from the
seed, builds an index, drives the workload for S seconds, checks the
outputs (DuckDB BM25 oracle, brute = bmw = batch_topk, HTTP = in-process
search) and prints, as its last stdout line, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` the engine's
public functions are wrapped and the metrics are the per-layer ones.
The line before it holds the run's details: host cores, RAM and load,
sizes, sample counts and what the gate checked.

All files go under ``.bench_run/`` (removed at the end) and the spans
of a traced run under ``.bench_out/``, both in the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys

# a traced run fails when more of its operations' wall time than this
# is covered by no span below the operation's root
UNATTRIBUTED_MAX = 0.2

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("serve", "rank"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def end_to_end(setup: dict, out: dict, peak_rss: int) -> dict:
    from measure import percentile
    from workloads import N_DOCS

    lat_ms = [1000 * x for x in out["latencies"]]
    attempted = out["attempted"]
    index_bytes = sum(b for b, _ in setup["layout"].values())
    return {
        "setup_s": metric(setup["session_s"] + setup["gen_s"] + setup["build_s"], "s"),
        "latency_p50_ms": metric(percentile(lat_ms, 50), "ms"),
        # the tail percentile with several samples beyond it: a run has
        # 20-30 timed operations, too few for a steady p90
        "latency_p75_ms": metric(percentile(lat_ms, 75), "ms"),
        "throughput_qps": metric(out["throughput"], "1/s"),
        "ok_share": metric((attempted - out["failed"]) / attempted, "ratio"),
        "build_docs_per_s": metric(N_DOCS / setup["build_s"], "docs/s"),
        "index_bytes_per_input_byte": metric(index_bytes / setup["input_bytes"], "B/B"),
        "peak_rss_mb": metric(peak_rss / 2**20, "MB"),
    }


def per_layer(run, setup: dict, out: dict) -> dict:
    """Per-operation means over the traced operations.  The query-path
    layers and trace.* are taken over the latency operations (serve:
    each HTTP request; rank: each topk); query.batch.* over the
    batch_topk calls."""
    all_ops = run.tracer.per_op()
    ops = [op for op in all_ops if op["name"] != "batch.call"]
    batch_ops = [op for op in all_ops if op["name"] == "batch.call"]

    def mean(get, over=ops) -> float:
        return sum(get(op) for op in over) / max(len(over), 1)

    def self_ms(name):
        return mean(lambda op: 1000 * op["self"].get(name, 0.0))

    def incl_ms(name, over=ops):
        return mean(lambda op: 1000 * op["incl"].get(name, 0.0), over)

    def root(key, over=ops):
        return mean(lambda op: op["root"].get(key, 0), over)

    unattributed = run.tracer.unattributed_share()
    run.info["unattributed_share"] = round(unattributed, 4)
    run.check(unattributed <= UNATTRIBUTED_MAX,
              f"trace: {unattributed:.0%} of the operations' time is in no span")
    names = sorted({n for op in ops for n in op["self"]})
    run.info["self_ms"] = {n: round(self_ms(n), 3) for n in names}
    walls = [op["wall"] for op in ops]
    overhead = (statistics.median(walls) / statistics.median(out["untraced"]) - 1
                if walls and out["untraced"] else 0.0)
    m = {
        "spark.jobs": metric(root("jobs"), "count"),
        "spark.stages": metric(root("stages"), "count"),
        "spark.tasks": metric(root("tasks"), "count"),
        "spark.failed_tasks": metric(root("failed_tasks"), "count"),
        "spark.action_ms": metric(self_ms("spark.action"), "ms"),
        "query.validate.ms": metric(self_ms("query.validate"), "ms"),
        "query.planner.ms": metric(self_ms("query.planner"), "ms"),
        "query.expand.ms": metric(self_ms("query.expand"), "ms"),
        "query.expand.keys": metric(mean(lambda op: op["attrs"].get("query.expand.keys", 0)),
                                    "count"),
        "query.engine.driver_ms": metric(self_ms("query.engine"), "ms"),
        "query.postprocess.ms": metric(self_ms("query.postprocess"), "ms"),
        "query.aggs.ms": metric(self_ms("query.aggs"), "ms"),
        # the wand_topk call (plan and θ seed) plus the kernel's collect
        "query.wand.ms": metric(incl_ms("query.wand") + incl_ms("query.wand.exec"), "ms"),
        "query.wand.exec_ms": metric(incl_ms("query.wand.exec"), "ms"),
        "query.batch.plan_ms": metric(incl_ms("query.batch", batch_ops), "ms"),
        "query.batch.exec_ms": metric(incl_ms("query.batch.exec", batch_ops), "ms"),
        "query.batch.rows": metric(
            mean(lambda op: op["attrs"].get("query.batch.exec.rows", 0), batch_ops), "count"),
        "query.batch.jobs": metric(root("jobs", batch_ops), "count"),
        "query.batch.tasks": metric(root("tasks", batch_ops), "count"),
        "trace.ops": metric(len(ops), "count"),
        "trace.op_ms": metric(mean(lambda op: 1000 * op["wall"]), "ms"),
        "trace.unattributed_ms": metric(mean(lambda op: 1000 * op["self"][op["name"]]), "ms"),
        "trace.overhead_share": metric(overhead, "ratio"),
    }
    # serve: client-side time outside the handler is queueing + HTTP
    handle_ms = 0.0
    wait_ms = late_ms = repeat_share = 0.0
    if run.workload == "serve":
        handle = walls + out["untraced"]
        handle_ms = 1000 * statistics.fmean(walls) if walls else 0.0
        ok = [x for x in out["latencies"] if x != float("inf")]
        wait_ms = 1000 * (statistics.fmean(ok) - statistics.fmean(handle)) if ok else 0.0
        late_ms, repeat_share = out["late_ms"], out["repeat_share"]
    m["http_api.handle_ms"] = metric(handle_ms, "ms")
    m["http_api.wait_ms"] = metric(wait_ms, "ms")
    m["loadgen.late_ms"] = metric(late_ms, "ms")
    m["loadgen.repeat_share"] = metric(repeat_share, "ratio")
    # wand: routing and pruning counters of every topk in the run
    results = out.get("results", [])
    prof = [r[3] for r in results]
    cand = sum(p.get("blocks_candidate", 0) for p in prof)
    dec = sum(p.get("blocks_decoded", 0) for p in prof)
    k = max(len(results), 1)
    m["query.wand.routed_share"] = metric(
        sum(r[2] in ("wand", "bmw") for r in results) / k, "ratio")
    m["query.wand.blocks_candidate"] = metric(cand / k, "count")
    m["query.wand.blocks_decoded"] = metric(dec / k, "count")
    m["query.wand.docs_scored"] = metric(sum(p.get("docs_scored", 0) for p in prof) / k, "count")
    m["query.wand.decode_share"] = metric(dec / cand if cand else 0.0, "ratio")
    # base: the traced wand_topk calls
    wand_calls = sum(op["attrs"].get("query.wand.calls", 0) for op in ops)
    below_k = sum(op["attrs"].get("query.wand.seed_below_k", 0) for op in ops)
    m["query.wand.seed_below_k_share"] = metric(below_k / wand_calls if wand_calls else 0.0,
                                                "ratio")
    run.info["wand"] = {"traced_calls": wand_calls, "seed_below_k": below_k,
                        "blocks_candidate": cand, "blocks_decoded": dec}
    # build and layout of the index this run built
    phases = setup["phase_secs"]
    for ph in ("ids", "postings", "docs", "terms", "totals", "blocks"):
        m[f"index.build.{ph}_s"] = metric(phases.get(ph, 0.0), "s")
    for t, (nbytes, files) in setup["layout"].items():
        m[f"index.bytes.{t}"] = metric(nbytes / setup["input_bytes"], "B/B")
        m[f"index.files.{t}"] = metric(files, "count")
    append = out.get("append_ms", [])
    m["index.append.ms"] = metric(statistics.median(append) if append else 0.0, "ms")
    return m


def main(argv=None) -> int:
    args = parse_args(argv)
    if args.seconds <= 0:
        print("--seconds must be positive", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    try:
        import __spark_entry__  # noqa: F401  (the oracle's SQL lives there)
        import searchlite_spark  # noqa: F401
    except ImportError as e:
        print(f"e2e_bench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    import measure
    import workloads
    from spans import Tracer

    run = workloads.Run(ROOT, args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        with measure.RssSampler() as rss:
            try:
                setup = workloads.setup(run)
                if run.trace:
                    run.tracer = Tracer(run.spark.sparkContext)
                out = workloads.RUNNERS[args.workload](run)
                if run.trace:
                    run.tracer.read_job_counts()
            finally:
                if run.spark is not None:
                    workloads.stop_spark(run.spark)
                    run.mark("stop")
        if run.trace:
            metrics = per_layer(run, setup, out)
            os.makedirs(os.path.join(ROOT, ".bench_out"), exist_ok=True)
            run.tracer.write(os.path.join(
                ROOT, ".bench_out", f"spans-{args.workload}-{args.seed}.jsonl"))
        else:
            metrics = end_to_end(setup, out, rss.peak_bytes)
            run.info["peak_rss_mb_by_command"] = {
                k: round(v / 2**20) for k, v in rss.peak_by_command.items()}
    finally:
        shutil.rmtree(run.rundir, ignore_errors=True)
    run.info["setup"] = {k: setup[k] for k in ("session_s", "gen_s", "build_s", "input_bytes")}
    run.info["samples"] = len(out["latencies"])
    run.info["latencies_ms"] = [round(1000 * x, 1) for x in out["latencies"]]
    run.info["errors"] = run.errors
    print(json.dumps(run.info, default=str))
    print(json.dumps({
        "correct": not run.errors,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
