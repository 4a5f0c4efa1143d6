"""The workloads, their set-up and their correctness gate.

Every run: start a Spark session sized from the host, generate the
seeded corpus, build the index the workload needs (``setup_s``), run
the workload's operations for ``--seconds``, then check the outputs.

* serve: ``POST /search`` over loopback to ``http_api.make_server``.
  Zipf popularity over SERVE_POOL distinct requests (more than
  Searcher's 256-entry plan cache).  For SERVE_CLOSED_SHARE of the
  window SERVE_CLIENTS callers keep the server saturated, which gives
  its throughput; for the rest an open loop sends Poisson arrivals at
  SERVE_RATE, half that rate, each request timed from
  its scheduled send, which gives the latencies.  The arrival times are
  one fixed Poisson sample that every seed shares, as the request
  layout is: with ~26 arrivals a run, where a seed's bursts fell set
  much of its latency (p50 471-837 ms over ten seeds with seeded
  arrivals).  The seed picks the requests' terms and order.
* rank: one in-process caller in a closed loop.  For TOPK_SHARE of the
  window it runs ``Searcher.topk`` on its default ``bmw`` execution,
  k=10, every query distinct: the only path where the block-max kernel
  (query.wand, index.blocks, index.codec) does the work.  These calls
  give the latency figures.  For the rest it runs ``batch_topk`` over
  BATCH_SIZE distinct OR queries per call, k=10: one plan serves many
  queries, so throughput rests on executor scoring and the top-k
  aggregation in query.batch.  These calls give the throughput.

A traced rank run also makes APPEND_COMMITS small ``append_documents``
commits after its gate, the write side's per-commit cost.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import math
import os
import subprocess
import sys
import threading
import time
import traceback
import types
import urllib.error
import urllib.request
from collections import defaultdict
from concurrent.futures import ThreadPoolExecutor

import numpy as np

import corpus_gen
import measure
from corpus_gen import K
from oracle_check import Oracle, mismatch
from spans import Tracer

N_DOCS = 4000
SERVE_WARM_OPS = 36  # untimed operations before the measured window
RANK_WARM_OPS = 15
WARM_THREADS = 4
WARM_POOL = 64  # serve warm-up requests, distinct from the measured pool
# Closed-loop sweep, 4-core host, after 14 s of warm-up: 1, 2, 4 and 8
# callers completed 1.5, 3.3, 4.3 and 5.1 requests/s.  In the runs' own
# closed phase, after SERVE_WARM_OPS, 8 callers get 2.9-4.2 (median
# 3.5).  The open loop offers half that saturated rate.
SERVE_RATE = 1.75  # requests/s
SERVE_CLIENTS = 8  # closed-loop callers that saturate the server
SERVE_CLOSED_SHARE = 0.25  # of the window, before the open loop
SERVE_CLIENT_THREADS = 16  # open loop: requests in flight at most
BATCH_SIZE = 256
ORACLE_SAMPLE = 8  # requests per run re-scored by DuckDB
EQUIV_SAMPLE = 2  # requests per run checked across execution paths
TOPK_SHARE = 0.6  # of a rank run's window; batch_topk calls fill the rest
APPEND_DOCS = 200
APPEND_COMMITS = 2


class Run:
    """State of one benchmark run."""

    def __init__(self, root: str, workload: str, seed: int, seconds: float, trace: bool):
        self.root = root
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.rundir = os.path.join(root, ".bench_run", f"{workload}-{seed}-{os.getpid()}")
        self.errors: list[str] = []
        self.info: dict = {"workload": workload, "seed": seed, "trace": trace,
                           "host": measure.host_facts()}
        self.rng = np.random.default_rng([seed, 7])
        self.spark = None
        self.tracer: Tracer | None = None
        self.t0 = time.perf_counter()

    def mark(self, phase: str) -> None:
        """Record when ``phase`` ended, in seconds since the run began."""
        self.info.setdefault("phases", {})[phase] = round(time.perf_counter() - self.t0, 2)

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.errors.append(what)


# --------------------------------------------------------------------------
# session


def configure_env(run: Run) -> dict:
    """Environment the JVM and Python workers inherit.  Must run before
    pyspark starts the gateway."""
    local = os.path.join(run.rundir, "spark-local")
    tmp = os.path.join(run.rundir, "tmp")
    for d in (local, tmp):
        os.makedirs(d, exist_ok=True)
    mem = measure.driver_memory(measure.host_memory_bytes())
    paths = [run.root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ.update({
        "SPARK_DRIVER_MEMORY": mem,
        "SPARK_LOCAL_DIRS": local,
        "PYTHONPATH": os.pathsep.join(paths),
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": tmp,
    })
    import tempfile

    tempfile.tempdir = None
    return {"driver_memory": mem, "local_dir": local, "tmp": tmp}


def start_spark(run: Run):
    env = configure_env(run)
    from searchlite_spark import get_spark

    conf = {
        "spark.local.dir": env["local_dir"],
        "spark.sql.warehouse.dir": os.path.join(run.rundir, "warehouse"),
        # no hsperfdata file: the JVM would write it under /tmp
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={env['tmp']} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    cores = measure.host_cores()
    run.info["session"] = {"cores": cores, "driver_memory": env["driver_memory"]}
    return get_spark("e2e_bench", cores=cores, extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the context, then the gateway JVM, and wait until every
    process this run started has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while measure.descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)
    for pid in measure.descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass
    while measure.descendants(os.getpid()):
        time.sleep(0.1)


def schema():
    from searchlite_spark.index import IndexSchema, KeywordField, NumericField, TextField

    return IndexSchema(
        doc_id_field="doc_id",
        text_fields=(TextField("text"),),
        keyword_fields=(KeywordField("lang"), KeywordField("source")),
        numeric_fields=(NumericField("n_chars"),),
    )


TABLES = ("postings", "blocks", "docs", "terms")


def index_layout(index) -> dict[str, tuple[int, int]]:
    """{table: (bytes, parquet files)}; (0, 0) for a table not built."""
    out = {}
    for t in TABLES:
        d = os.path.join(index.path, index.table_dir(t))
        names = [n for n in os.listdir(d) if not n.startswith((".", "_"))] if os.path.isdir(d) else []
        out[t] = (sum(os.path.getsize(os.path.join(d, n)) for n in names),
                  sum(n.endswith(".parquet") for n in names))
    return out


def setup(run: Run) -> dict:
    """Session, inputs, index.  Returns the set-up timings and sizes."""
    t0 = time.perf_counter()
    run.spark = start_spark(run)
    t1 = time.perf_counter()
    run.corpus = corpus_gen.Corpus(run.seed, N_DOCS)
    run.input_path = os.path.join(run.rundir, "corpus.parquet")
    input_bytes = run.corpus.write_parquet(run.input_path)
    t2 = time.perf_counter()
    from searchlite_spark.index import build_index

    run.index_path = os.path.join(run.rundir, "index")
    index = build_index(
        run.spark, run.spark.read.parquet(run.input_path), schema(), run.index_path,
        id_mode="column", build_blocks=run.workload == "rank",
    )
    t3 = time.perf_counter()
    run.mark("setup")
    n_docs = index.stats["n_docs"]
    run.check(n_docs == N_DOCS, f"manifest n_docs {n_docs} != {N_DOCS} docs written")
    layout = index_layout(index)
    run.index = index
    return {
        "session_s": t1 - t0, "gen_s": t2 - t1, "build_s": t3 - t2,
        "input_bytes": input_bytes, "layout": layout,
        "phase_secs": index.manifest.get("metrics", {}).get("phase_secs", {}),
    }


# --------------------------------------------------------------------------
# operation loops


def closed_loop(seconds: float, step) -> tuple[list[float], int]:
    """Call ``step(i)`` back to back for ``seconds``.  Returns per-call
    latencies (inf for a call that raised) and the failure count."""
    lat: list[float] = []
    failed = 0
    end = time.perf_counter() + seconds
    i = 0
    while time.perf_counter() < end:
        t0 = time.perf_counter()
        try:
            step(i)
            lat.append(time.perf_counter() - t0)
        except Exception:  # a failed operation is counted, not fatal
            traceback.print_exc()
            failed += 1
            lat.append(math.inf)
        i += 1
    return lat, failed


def concurrent_loop(threads: int, seconds: float, step) -> None:
    """Call ``step(i)`` from ``threads`` threads, each again as soon as
    its last call returned, for ``seconds``; wait for the last call."""
    counter = itertools.count()
    end = time.perf_counter() + seconds

    def loop():
        while time.perf_counter() < end:
            step(next(counter))

    with ThreadPoolExecutor(threads) as pool:
        for f in [pool.submit(loop) for _ in range(threads)]:
            f.result()


def warm_up(n: int, step) -> None:
    """Untimed calls ``step(0..n-1)``, WARM_THREADS at a time.  The JVM
    compiles the driver's hot paths (Catalyst analysis above all) only
    after many calls, and concurrent calls get there sooner than the
    measured loop's pace would.  A count, not a time, so that a run on a
    busier host starts its window as warm as any other."""
    with ThreadPoolExecutor(WARM_THREADS) as pool:
        list(pool.map(step, range(n)))


def span(run: Run, name: str):
    """A ``name`` span in a traced run; nothing otherwise."""
    return run.tracer.span(name) if run.trace else contextlib.nullcontext()


def op_target(run: Run, name: str, fn):
    """``fn`` as an operation: in a traced run every second call is
    traced under ``name`` and the rest are only timed."""
    holder = types.SimpleNamespace(op=fn)
    untraced = run.tracer.patch_op(holder, "op", name) if run.trace else []
    return holder, untraced


# --------------------------------------------------------------------------
# serve


def _post(url: str, req: dict, due: float) -> dict:
    body = json.dumps(req).encode()
    sent = time.perf_counter()
    status, payload = None, None
    try:
        r = urllib.request.Request(url, body, {"Content-Type": "application/json"})
        with urllib.request.urlopen(r, timeout=120) as resp:
            status, payload = resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as e:
        status = e.code
    except OSError:
        traceback.print_exc()
    return {"latency": time.perf_counter() - due, "late": sent - due,
            "status": status, "payload": payload}


def _open_loop(url: str, requests: list[dict], schedule: list[float]):
    """POST ``requests[i]`` when ``schedule[i]`` seconds have passed,
    whether or not earlier requests have been answered.  Returns each
    request's result."""
    with ThreadPoolExecutor(SERVE_CLIENT_THREADS) as pool:
        start = time.perf_counter()
        futures = []
        for offset, req in zip(schedule, requests):
            due = start + offset
            time.sleep(max(0.0, due - time.perf_counter()))
            futures.append(pool.submit(_post, url, req, due))
        return [f.result() for f in futures]


def serve(run: Run) -> dict:
    from searchlite_spark import http_api

    server = http_api.make_server(http_api.ServeArgs(index=run.index_path, bind="127.0.0.1:0"),
                                  run.spark)
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    url = f"http://127.0.0.1:{server.server_address[1]}/search"
    try:
        warm = corpus_gen.serve_pool(run.corpus, run.seed, WARM_POOL, salt=8)
        warm_up(SERVE_WARM_OPS, lambda i: _post(url, warm[i % WARM_POOL][1], time.perf_counter()))
        run.mark("warm")
        pool = corpus_gen.serve_pool(run.corpus, run.seed)
        # closed loop: throughput of the saturated server (untraced)
        closed_picks = corpus_gen.popularity_picks(len(pool), 10_000)
        closed: list[tuple[int, dict]] = []
        concurrent_loop(
            SERVE_CLIENTS, SERVE_CLOSED_SHARE * run.seconds,
            lambda i: closed.append((closed_picks[i], _post(url, pool[closed_picks[i]][1],
                                                            time.perf_counter()))))
        run.mark("closed")
        # open loop: latencies at a fixed offered rate
        schedule = measure.poisson_schedule([corpus_gen.LAYOUT_SEED, 4], SERVE_RATE,
                                            (1 - SERVE_CLOSED_SHARE) * run.seconds)
        picks = corpus_gen.popularity_picks(len(pool), len(schedule))
        np.random.default_rng([run.seed, 5]).shuffle(picks)
        untraced = []
        if run.trace:
            run.tracer.install()
            untraced = run.tracer.patch_op(http_api, "handle", "http_api.handle")
        results = _open_loop(url, [pool[i][1] for i in picks], schedule)
        if run.trace:
            run.tracer.uninstall()
        ok = [_ok(r) for r in results]
        closed_ok = [_ok(r) for _, r in closed]
        lat = [r["latency"] if good else math.inf for r, good in zip(results, ok)]
        seen: set[str] = set()
        repeats = 0
        for i in picks:
            key = json.dumps(pool[i][1], sort_keys=True)
            repeats += key in seen
            seen.add(key)
        run.info["serve"] = {"rate": SERVE_RATE, "pool": len(pool), "sent": len(results),
                             "distinct": len(seen), "closed_sent": len(closed),
                             "closed_clients": SERVE_CLIENTS}
        run.mark("measure")
        answered = list(zip(picks, results, ok)) + [
            (i, r, good) for (i, r), good in zip(closed, closed_ok)]
        serve_gate(run, server, pool, answered)
        run.mark("gate")
        # Little's law for SERVE_CLIENTS callers that never pause:
        # throughput = callers / mean response time.  Unlike completions
        # per wall second it has no edge effect from the requests still
        # in flight when the phase ends.
        busy = sum(r["latency"] for _, r in closed)
        return {
            "latencies": lat, "attempted": len(lat) + len(closed),
            "failed": ok.count(False) + closed_ok.count(False),
            "throughput": SERVE_CLIENTS * closed_ok.count(True) / busy, "untraced": untraced,
            "late_ms": 1000 * float(np.mean([r["late"] for r in results])),
            "repeat_share": repeats / len(results),
        }
    finally:
        server.shutdown()
        server.server_close()
        thread.join()


def _ok(result: dict) -> bool:
    return (result["status"] == 200 and isinstance(result["payload"], dict)
            and len(result["payload"].get("hits", [])) <= K)


def _hits(payload: dict) -> list[tuple[int, float]]:
    return [(int(h["doc_id"]), float(h["score"])) for h in payload["hits"]]


def serve_gate(run: Run, server, pool, sent) -> None:
    """``sent``: (pool index, result, ok) of every request of the run."""
    from searchlite_spark.cli import jsonable

    answered: dict[int, dict] = {}
    for i, r, good in sent:
        if good:
            answered.setdefault(int(i), r["payload"])
    # DuckDB re-scores a sample of the plain scored-OR requests
    scored_or = sorted(i for i in answered if pool[i][0] in ("or", "lang_filter"))
    oracle = Oracle(run.corpus.table)
    try:
        for i in _sample(run, scored_or, ORACLE_SAMPLE):
            req = pool[i][1]
            lang = req["filter"][0]["KeywordEq"]["value"] if "filter" in req else None
            want = oracle.topk(req["query"].split(), lang)
            why = mismatch(_hits(answered[i]), want)
            run.check(why is None, f"serve oracle {req['query']!r}: {why}")
    finally:
        oracle.close()
    # the HTTP layer returns exactly what search() returns in-process
    searcher = server.RequestHandlerClass.state.searcher()
    for i in _sample(run, sorted(answered), EQUIV_SAMPLE):
        local = json.loads(json.dumps(jsonable(searcher.search(pool[i][1])), default=str))
        for key in ("hits", "total_hits_estimate", "aggregations"):
            run.check(local.get(key) == answered[i].get(key),
                      f"serve http != in-process on {key} for {pool[i][1]}")
    run.info["gate"] = {"oracle": min(len(scored_or), ORACLE_SAMPLE),
                        "http_vs_local": min(len(answered), EQUIV_SAMPLE)}


def _sample(run: Run, items: list, n: int) -> list:
    if len(items) <= n:
        return list(items)
    return [items[j] for j in sorted(run.rng.choice(len(items), n, replace=False))]


# --------------------------------------------------------------------------
# rank


def rank(run: Run) -> dict:
    from searchlite_spark.index.catalog import Index
    from searchlite_spark.query import Searcher, batch_topk

    searcher = Searcher(Index(run.index_path, run.spark))
    queries = corpus_gen.rank_queries(run.corpus, run.seed, 5000)
    warm = corpus_gen.rank_queries(run.corpus, run.seed + 10**6, 500)
    warm_rng = np.random.default_rng([run.seed, 9])
    warm_batches = [corpus_gen.batch_requests(run.corpus, warm_rng, BATCH_SIZE)
                    for _ in range(8)]

    def warm_step(i):  # both measured paths: a batch_topk call, then two topk
        if i % 3:
            searcher.topk(warm[i]).collect()
        else:
            batch_topk(searcher, warm_batches[i // 3 % 8], k=K).collect()

    warm_up(RANK_WARM_OPS, warm_step)
    run.mark("warm")
    got: list[tuple[dict, list, str, dict]] = []
    calls: list[tuple[dict, dict]] = []
    rng = np.random.default_rng([run.seed, 6])

    def topk(i):
        df = searcher.topk(queries[i])
        # the kernel runs in this collect, not in the wand_topk call
        routed = searcher.last_execution in ("wand", "bmw")
        with span(run, "query.wand.exec" if routed else "query.engine.exec"):
            rows = df.collect()
        got.append((queries[i], [(r["doc_id"], r["score"]) for r in rows],
                    searcher.last_execution, searcher.wand_profile()))

    def batch(i):
        reqs = corpus_gen.batch_requests(run.corpus, rng, BATCH_SIZE)
        with span(run, "query.batch"):
            df = batch_topk(searcher, reqs, k=K)
        with span(run, "query.batch.exec") as s:
            rows = df.collect()
            if s is not None:
                s.attrs["rows"] = len(rows)
        calls.append((reqs, _batch_rows(rows)))

    if run.trace:
        run.tracer.install()
    topk_op, untraced = op_target(run, "rank.topk", topk)
    batch_op, _ = op_target(run, "batch.call", batch)
    lat, failed = closed_loop(TOPK_SHARE * run.seconds, lambda i: topk_op.op(i))
    blat, bfailed = closed_loop((1 - TOPK_SHARE) * run.seconds,
                                       lambda i: batch_op.op(i))
    if run.trace:
        run.tracer.uninstall()
    run.mark("measure")
    run.info["batch_ms"] = [round(1000 * x, 1) for x in blat]
    rank_gate(run, searcher, got, calls)
    run.mark("gate")
    # the one caller's rate at its median call: steady state, which the
    # first calls of the window (the batch path still warming) are not
    out = {"latencies": lat, "attempted": len(lat) + len(blat), "failed": failed + bfailed,
           "throughput": BATCH_SIZE / measure.percentile(blat, 50),
           "untraced": untraced, "results": got}
    if run.trace:
        out["append_ms"] = append_commits(run)
        run.mark("append")
    return out


def rank_gate(run: Run, searcher, got, calls) -> None:
    from searchlite_spark.query import batch_topk

    batched = [(reqs[qid], rows.get(qid, [])) for reqs, rows in calls for qid in reqs]
    oracle = Oracle(run.corpus.table)
    try:
        for q, rows, _, _ in _sample(run, got, ORACLE_SAMPLE):
            why = mismatch(rows, oracle.topk(q["query"].split()))
            run.check(why is None, f"rank oracle {q['query']!r}: {why}")
        for q, rows in _sample(run, batched, ORACLE_SAMPLE):
            why = mismatch(rows, oracle.topk(q["query"].split()))
            run.check(why is None, f"batch oracle {q['query']!r}: {why}")
    finally:
        oracle.close()
    # brute, bmw and batch_topk agree row for row
    sample = _sample(run, got, EQUIV_SAMPLE)
    batch = _batch_rows(batch_topk(searcher, {f"q{j}": q for j, (q, *_) in enumerate(sample)},
                                   k=K).collect())
    for j, (q, rows, execution, _) in enumerate(sample):
        run.check(execution == "bmw", f"rank: topk ran {execution}, not bmw, for {q}")
        brute = searcher.topk(dict(q, execution="bm25")).collect()
        why = mismatch(rows, [(r["doc_id"], r["score"]) for r in brute])
        run.check(why is None, f"rank bmw != brute {q['query']!r}: {why}")
        why = mismatch(batch.get(f"q{j}", []), rows)
        run.check(why is None, f"rank batch != bmw {q['query']!r}: {why}")
    run.info["gate"] = {"oracle_topk": min(len(got), ORACLE_SAMPLE),
                        "oracle_batch": min(len(batched), ORACLE_SAMPLE),
                        "brute_bmw_batch": len(sample)}
    run.info["rank"] = {"topk_calls": len(got), "batch_calls": len(calls),
                        "batch_size": BATCH_SIZE}


def _batch_rows(rows) -> dict[str, list[tuple[int, float]]]:
    out: dict[str, list] = defaultdict(list)
    for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
        out[r["query_id"]].append((r["doc_id"], r["score"]))
    return out


def append_commits(run: Run) -> list[float]:
    """APPEND_COMMITS small appends; checks the manifest doc count after
    each.  Returns each commit's wall time in ms."""
    from searchlite_spark.index import append_documents
    from searchlite_spark.index.catalog import Index

    times = []
    n = N_DOCS
    for c in range(APPEND_COMMITS):
        table, _ = run.corpus.docs(APPEND_DOCS, n)
        path = os.path.join(run.rundir, f"append-{c}.parquet")
        corpus_gen.write_parquet(table, path)
        df = run.spark.read.parquet(path)
        t0 = time.perf_counter()
        index = append_documents(run.spark, Index(run.index_path, run.spark), df,
                                 id_mode="column")
        times.append(1000 * (time.perf_counter() - t0))
        n += APPEND_DOCS
        got = index.stats["n_docs"]
        run.check(got == n, f"append: manifest n_docs {got} != {n} docs written")
    return times


RUNNERS = {"serve": serve, "rank": rank}
