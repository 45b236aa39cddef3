"""End-to-end benchmark of the engine: index build and HTTP serving.

    python3 benchmark/run.py --workload build|serve --seed N --seconds S --trace 0|1

Run from the root of a checkout. Each run starts the engine in this one
process at ``local[nproc]``, makes its inputs from ``--seed`` before the
clock starts, warms up with a fixed number of operations, times the
workload's operations for ``--seconds`` seconds from outside the program,
checks every answer against ``oracle.OracleIndex`` after the clock stops,
and prints one JSON line last: the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. See README.md beside this file.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import http.client
import json
import math
import os
import pickle
import shutil
import subprocess
import sys
import tempfile
import time
from contextlib import contextmanager
from urllib.parse import urlencode

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(HERE, ".cache")
sys.path.insert(0, ROOT)

import gen  # noqa: E402
import measure  # noqa: E402
from check import OracleRanker, answer_errors, build_errors  # noqa: E402
from searchengine_spark import pipeline, serve  # noqa: E402
from searchengine_spark.engine import SearchEngine  # noqa: E402
from searchengine_spark.operators.deletes import (  # noqa: E402
    affected_shards,
    shard_size_for,
)
from searchengine_spark.operators.segments import DOCS_PER_SHARD  # noqa: E402
from searchengine_spark.operators.wand import wand_pruning_stats  # noqa: E402
from searchengine_spark.oracle import OracleIndex  # noqa: E402
from searchengine_spark.session import get_spark  # noqa: E402
from searchengine_spark.storage import Storage  # noqa: E402

BUILD_CONVS = 5_000      # ~21 k turns per build
BUILD_WARMUP = 2         # untimed builds before the clock (cold, then warm)
BUILD_MIN_TIMED = 3
SERVE_CONVS = 20_000     # ~83 k turns in the served index
SERVE_CORPUS_SEED = 0    # the served index is the same for every --seed
SERVE_WARMUP = 6         # untimed requests before the clock
SERVE_MIN_TIMED = 14
SERVE_K = 10
DELETE_EVERY = 4         # delete 5 docs of every 4th answer
DELETE_N = 5
PRUNING_SAMPLES = 3      # wand_pruning_stats calls in a traced serve run
TABLES = ("doc_map", "doc_segments", "term_stats", "term_segments")

# Per-layer metric names and units, printed by every traced run; a layer
# that does no work in a workload reads 0 there.
PER_LAYER = {
    "session.start_s": "s",
    **{f"pipeline.{t}_s": "s" for t in TABLES},
    "ingest.offsets_s": "s",
    **{f"build.{t}.{m}": u for t in TABLES
       for m, u in (("cpu_s", "s"), ("gc_s", "s"), ("shuffle_mb", "MB"),
                    ("spill_mb", "MB"), ("python_mb", "MB"))},
    **{f"storage.{t}_mb": "MB" for t in TABLES},
    "storage.bytes_per_text_byte": "ratio",
    "build.skew_factor": "ratio",
    "engine.load_s": "s",
    "engine.first_answer_s": "s",
    "engine.plan_ms": "ms",
    "engine.exec_ms": "ms",
    "spark.jobs_per_op": "count",
    "spark.tasks_per_op": "count",
    "python.worker_spawns_per_op": "count",
    "python.workers_alive": "count",
    "python.mb_to_worker": "MB",
    "python.mb_from_worker": "MB",
    "wand.task_s": "s",
    "wand.task_tail_ratio": "ratio",
    "wand.scored_frac": "ratio",
    "serve.took_ms": "ms",
    "serve.http_ms": "ms",
    "serve.wand_p50_ms": "ms",
    "serve.term_p50_ms": "ms",
    "deletes.delete_ms": "ms",
    "deletes.shards_affected": "count",
    "mem.driver_mb": "MB",
    "mem.jvm_mb": "MB",
    "mem.workers_mb": "MB",
    "host.steal_frac": "ratio",
    "trace.self_sum_frac": "ratio",
    "trace.overhead_frac": "ratio",
}
END_TO_END = {"setup_s": "s", "peak_rss_mb": "MB", "op_p50_ms": "ms"}


class Run:
    """State of one benchmark run: the tracer, the sampler, the per-op
    records and the failures."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool,
                 run_dir: str):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.trace = trace
        self.dir = run_dir
        self.tracer = measure.Tracer(trace)
        self.sampler = measure.MemSampler()
        self.sc = None
        self.groups: dict[int, set[str]] = {}   # op -> Spark job groups
        self.ops: list[dict] = []                # timed operations
        self.attempted = 0
        self.errors: list[str] = []
        self.layer: dict[str, float] = dict.fromkeys(PER_LAYER, 0.0)

    # -- spans that also tag the Spark jobs they start -------------------

    @contextmanager
    def span(self, name: str):
        with self.tracer.span(name) as s:
            if s is None:
                yield s
                return
            group = f"op{s.op}/{name}"
            self.groups.setdefault(s.op, set()).add(group)
            with measure.job_group(self.sc, group):
                yield s

    def timed(self, name: str, fn, traced: bool):
        """Run ``fn(span)`` as one operation; returns (result, record)."""
        self.tracer.enabled = traced
        alive0 = measure.tree_rss(self.sampler.root)["worker_pids"]
        steal0 = measure.cpu_times()
        self.sampler.mark()
        t0 = time.perf_counter()
        with self.span(name) as s:
            out = fn(s)
        wall = time.perf_counter() - t0
        steal = measure.steal_frac(steal0, measure.cpu_times())
        alive = measure.tree_rss(self.sampler.root)["worker_pids"]
        rec = {"wall": wall, "traced": traced, "op": s.op if s else None,
               "steal": steal, "alive": len(alive),
               "spawned": len((self.sampler.mark() | alive) - alive0)}
        self.tracer.enabled = self.trace
        return out, rec

    def count_jobs(self) -> None:
        """Jobs and tasks of every traced op (before the session stops)."""
        for r in self.ops:
            r["jobs"] = r["tasks"] = 0
            for g in self.groups.get(r["op"], ()) if r["traced"] else ():
                jobs, tasks = measure.job_counts(self.sc, g)
                r["jobs"] += jobs
                r["tasks"] += tasks

    def fail(self, msg: str) -> None:
        self.errors.append(msg)
        print("FAILED:", msg, file=sys.stderr)


# ---------------------------------------------------------------- inputs


def source_key() -> str:
    """Hash of the engine and benchmark sources: a cached serve index is
    reused only by the code that built it."""
    h = hashlib.sha256(f"{SERVE_CONVS}/{SERVE_CORPUS_SEED}".encode())
    pkg = os.path.join(ROOT, "searchengine_spark")
    files = sorted(
        os.path.join(d, f) for d, _s, fs in os.walk(pkg) for f in fs
        if f.endswith(".py")) + [os.path.join(HERE, "gen.py")]
    for path in files:
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def prepare_serve_index(out: str) -> None:
    """Build the served corpus, its index and its oracle into ``out``
    (entry of the untimed ``--prepare`` subprocess)."""
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    facts = gen.write_corpus(os.path.join(tmp, "corpus.parquet"),
                             SERVE_CORPUS_SEED, SERVE_CONVS)
    spark = get_spark("bench-prepare")
    try:
        pipeline.run_build(spark, spark.read.parquet(
            os.path.join(tmp, "corpus.parquet")), os.path.join(tmp, "index"),
            layouts=("doc", "term"))
    finally:
        stop_spark(spark)
    oracle = OracleIndex.build(gen.corpus_rows(os.path.join(tmp, "corpus.parquet")))
    with open(os.path.join(tmp, "oracle.pickle"), "wb") as f:
        pickle.dump(oracle, f, protocol=pickle.HIGHEST_PROTOCOL)
    with open(os.path.join(tmp, "facts.json"), "w") as f:
        json.dump(facts, f)
    os.rename(tmp, out)


def serve_inputs(run_dir: str) -> tuple[str, OracleIndex, dict]:
    """A private copy of the cached serve index (built by this checkout's
    code in a separate process on first use), its oracle and facts."""
    cached = os.path.join(CACHE, f"serve-{source_key()}")
    if not os.path.isdir(cached):
        for stale in glob.glob(os.path.join(CACHE, "serve-*")):
            shutil.rmtree(stale)
        subprocess.run([sys.executable, os.path.abspath(__file__),
                        "--prepare", cached], check=True, timeout=600,
                       stdout=sys.stderr, env=os.environ)
    index = os.path.join(run_dir, "index")
    shutil.copytree(os.path.join(cached, "index"), index)
    with open(os.path.join(cached, "oracle.pickle"), "rb") as f:
        oracle = pickle.load(f)
    with open(os.path.join(cached, "facts.json")) as f:
        facts = json.load(f)
    return index, oracle, facts


# ----------------------------------------------------------------- spark


def start_spark(run: Run):
    conf = {}
    if run.trace:
        events = os.path.join(run.dir, "events")
        os.makedirs(events)
        conf = {"spark.eventLog.enabled": "true", "spark.eventLog.dir": events,
                "spark.eventLog.compress": "false"}
    spark = get_spark(f"bench-{run.workload}", extra_conf=conf)
    run.sc = spark.sparkContext
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait until the JVM (and with it the Python
    workers) has exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _s, fs in os.walk(path) for f in fs)


def table_bytes(index_dir: str) -> dict[str, int]:
    return {t: dir_bytes(os.path.join(index_dir, f"{t}.parquet"))
            for t in TABLES}


# ------------------------------------------------------------- schedule


def schedule(run: Run, warmup: int, min_timed: int):
    """Yield ``(i, timed)``: ``warmup`` untimed operations, then timed ones
    until ``--seconds`` have passed and at least ``min_timed`` ran. The
    memory peak restarts with the clock."""
    for i in range(warmup):
        yield i, False
    run.sampler.reset_peak()
    t0 = time.perf_counter()
    i = warmup
    while i - warmup < min_timed or time.perf_counter() - t0 < run.seconds:
        yield i, True
        i += 1


def traced_op(run: Run, k: int, timed: bool) -> bool:
    """In a traced run, warm-up ops are traced and timed op ``k``
    alternates traced (even) / untraced (odd), for ``trace.overhead_frac``."""
    return run.trace and (not timed or k % 2 == 0)


# ----------------------------------------------------------------- build


def instrument_build(run: Run) -> None:
    """Spans (and job groups) around each pipeline stage's table write
    and around the ingest offsets job, from outside the program."""
    orig_write, orig_tok = Storage.write, pipeline.tokenized_doc_map

    def write(self, df, name, partition_by=None):
        with run.span(f"pipeline.{name}"):
            return orig_write(self, df, name, partition_by)

    def tokenized_doc_map(*a, **kw):
        with run.span("ingest.offsets"):
            return orig_tok(*a, **kw)

    Storage.write = write
    pipeline.tokenized_doc_map = tokenized_doc_map


def workload_build(run: Run) -> dict:
    corpus_path = os.path.join(run.dir, "corpus.parquet")
    facts = gen.write_corpus(corpus_path, run.seed, BUILD_CONVS)
    instrument_build(run)

    t0 = time.perf_counter()
    spark = start_spark(run)
    run.layer["session.start_s"] = time.perf_counter() - t0
    try:
        corpus = spark.read.parquet(corpus_path)
        built: list[str] = []
        setup_s = None
        for i, timed in schedule(run, BUILD_WARMUP, BUILD_MIN_TIMED):
            out = os.path.join(run.dir, f"build{i}")
            run.attempted += 1
            try:
                _, rec = run.timed("build", lambda _s: pipeline.run_build(
                    spark, corpus, out, layouts=("doc", "term")),
                    traced_op(run, i - BUILD_WARMUP, timed))
            except Exception as e:  # noqa: BLE001 — a failed build is counted
                run.fail(f"build {i}: {e!r}")
                continue
            if setup_s is None:
                setup_s = time.perf_counter() - t0
            if timed:
                run.ops.append(rec)
            built.append(out)
        peak = {**run.sampler.peak, "total": run.sampler.sustained_peak()}
        run.count_jobs()
    finally:
        stop_spark(spark)

    # -- outside the clock: correctness and sizes ------------------------
    oracle = OracleIndex.build(gen.corpus_rows(corpus_path))
    for out in built:
        for err in build_errors(out, oracle):
            run.fail(f"{os.path.basename(out)}: {err}")
    last = built[-1] if built else None
    if last and run.trace:
        sizes = table_bytes(last)
        for t, b in sizes.items():
            run.layer[f"storage.{t}_mb"] = b / 1e6
        run.layer["storage.bytes_per_text_byte"] = (
            sum(sizes.values()) / facts["corpus.text_bytes"])
        manifest = {m["stage"]: m for m in pipeline.read_manifest(last)
                    if m["status"] == "COMMITTED"}
        run.layer["build.skew_factor"] = manifest["doc_segments"]["skew_factor"]
    return {"setup_s": setup_s, "peak": peak, "facts": facts}


def build_layers(run: Run, events: dict) -> None:
    traced = [r for r in run.ops if r["traced"]]
    if not traced:
        return
    for t in TABLES:
        run.layer[f"pipeline.{t}_s"] = op_median(run, traced, f"pipeline.{t}")
        stage = [events.get(f"op{r['op']}/pipeline.{t}", {}) for r in traced]
        for m in ("cpu_s", "gc_s", "shuffle_mb", "spill_mb"):
            run.layer[f"build.{t}.{m}"] = measure.median(
                [e.get(m, 0.0) for e in stage])
        run.layer[f"build.{t}.python_mb"] = measure.median(
            [e.get("py_sent_mb", 0.0) + e.get("py_back_mb", 0.0) for e in stage])
    run.layer["ingest.offsets_s"] = op_median(run, traced, "ingest.offsets")


def op_median(run: Run, recs: list[dict], name: str) -> float:
    """Median over ``recs`` of the summed self time of spans ``name``."""
    vals = [measure.layer_self_seconds(run.tracer.spans, r["op"]).get(name, 0.0)
            for r in recs]
    return measure.median(vals) if vals else 0.0


# ----------------------------------------------------------------- serve


class _Timed:
    """A DataFrame whose ``collect()`` runs inside a span."""

    def __init__(self, run: Run, df):
        self._run, self._df = run, df

    def collect(self):
        with self._run.span("engine.exec"):
            return self._df.collect()


def instrument_serve(run: Run) -> None:
    """Spans around the server's request handler, the engine call that
    plans the search and the ``collect()`` that runs it."""
    orig_handler, orig_search = serve.make_handler, serve._run_search

    def make_handler(engine, lock):
        base = orig_handler(engine, lock)

        class Handler(base):
            def do_GET(self):  # noqa: N802 (stdlib API name)
                with run.span("serve.handler"):
                    super().do_GET()

        return Handler

    def run_search(*a, **kw):
        with run.span("engine.plan"):
            df = orig_search(*a, **kw)
        return _Timed(run, df) if run.tracer.enabled else df

    serve.make_handler = make_handler
    serve._run_search = run_search


def http_search(port: int, q: str, mode: str) -> tuple[int, dict]:
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
    try:
        conn.request("GET", "/search?" + urlencode(
            {"q": q, "k": SERVE_K, "mode": mode}))
        resp = conn.getresponse()
        body = resp.read()
    finally:
        conn.close()
    return resp.status, json.loads(body)


def workload_serve(run: Run) -> dict:
    index, oracle, facts = serve_inputs(run.dir)
    ranker = OracleRanker(oracle)
    stream = gen.serve_stream(run.seed, 1000)
    instrument_serve(run)

    t0 = time.perf_counter()
    spark = start_spark(run)
    run.layer["session.start_s"] = time.perf_counter() - t0
    answers = []          # (query, results, tombstones at the time)
    setup_s = None
    try:
        t1 = time.perf_counter()
        engine = SearchEngine.load(spark, index)
        run.layer["engine.load_s"] = time.perf_counter() - t1
        dead: frozenset = frozenset()
        with serve.EngineServer(engine) as srv:
            for i, timed in schedule(run, SERVE_WARMUP, SERVE_MIN_TIMED):
                mode, q = stream[i]
                # request pairs (one per mode) alternate traced / untraced
                traced = traced_op(run, (i - SERVE_WARMUP) // 2, timed)
                run.attempted += 1

                def request(span):
                    run.tracer.remote_parent = span
                    try:
                        return http_search(srv.port, q, mode)
                    finally:
                        run.tracer.remote_parent = None

                try:
                    (status, body), rec = run.timed("serve.request", request,
                                                    traced)
                except Exception as e:  # noqa: BLE001 — counted as failed
                    run.fail(f"request {i}: {e!r}")
                    continue
                if setup_s is None:
                    setup_s = time.perf_counter() - t0
                    run.layer["engine.first_answer_s"] = time.perf_counter() - t1
                if status != 200:
                    run.fail(f"request {i}: HTTP {status} {body}")
                    continue
                results = [(r["doc_id"], r["score"]) for r in body["results"]]
                answers.append((q, results, dead))
                rec.update(mode=mode, took_ms=body["took_ms"], q=q)
                if timed:
                    run.ops.append(rec)
                if i % DELETE_EVERY == DELETE_EVERY - 1 and results:
                    run.attempted += 1
                    try:
                        dead, drec = run.timed(
                            "deletes.delete",
                            lambda _s: engine.delete_docs(
                                [d for d, _ in results[:DELETE_N]]), traced)
                        rec["delete_ms"] = drec["wall"] * 1e3
                    except Exception as e:  # noqa: BLE001
                        run.fail(f"delete after request {i}: {e!r}")
        peak = {**run.sampler.peak, "total": run.sampler.sustained_peak()}
        run.count_jobs()
        if run.trace:
            wand_qs = [r["q"] for r in run.ops if r["mode"] == "wand"]
            fracs = []
            for q in wand_qs[:PRUNING_SAMPLES]:
                st = wand_pruning_stats(engine.doc_segments, q, engine.term_stats,
                                        engine.scalars.n_docs,
                                        engine.scalars.avgdl, k=SERVE_K)
                if st["candidates"]:
                    fracs.append(st["scored"] / st["candidates"])
            run.layer["wand.scored_frac"] = measure.median(fracs) if fracs else 0.0
            n_docs = engine.scalars.n_docs
            run.layer["deletes.shards_affected"] = len(affected_shards(
                set(dead), shard_size_for(n_docs, math.ceil(n_docs / DOCS_PER_SHARD))))
            sizes = table_bytes(index)
            for t, b in sizes.items():
                run.layer[f"storage.{t}_mb"] = b / 1e6
            run.layer["storage.bytes_per_text_byte"] = (
                sum(sizes.values()) / facts["corpus.text_bytes"])
    finally:
        stop_spark(spark)

    # -- outside the clock: every answer against the oracle --------------
    for q, results, dead_then in answers:
        for err in answer_errors(results, ranker, q, SERVE_K, dead_then):
            run.fail(err)
    return {"setup_s": setup_s, "peak": peak, "facts": facts}


def serve_layers(run: Run, events: dict) -> None:
    traced = [r for r in run.ops if r["traced"]]
    if not traced:
        return
    run.layer["engine.plan_ms"] = op_median(run, traced, "engine.plan") * 1e3
    run.layer["engine.exec_ms"] = op_median(run, traced, "engine.exec") * 1e3
    run.layer["serve.took_ms"] = measure.median([r["took_ms"] for r in traced])
    run.layer["serve.http_ms"] = measure.median(
        [r["wall"] * 1e3 - r["took_ms"] for r in traced])
    deletes = [r["delete_ms"] for r in run.ops if "delete_ms" in r]
    run.layer["deletes.delete_ms"] = measure.median(deletes) if deletes else 0.0
    wand = [r for r in traced if r["mode"] == "wand"]
    task_s, tails = [], []
    for r in wand:
        tasks = [t for g in run.groups.get(r["op"], ())
                 for t in events.get(g, {}).get("py_task_s", [])]
        if tasks:
            task_s.append(sum(tasks))
            tails.append(max(tasks) / max(measure.median(tasks), 1e-9))
    if task_s:
        run.layer["wand.task_s"] = measure.median(task_s)
        run.layer["wand.task_tail_ratio"] = measure.median(tails)


# ------------------------------------------------------------------ main


def common_layers(run: Run, events: dict, peak: dict) -> None:
    traced = [r for r in run.ops if r["traced"]]
    plain = [r for r in run.ops if not r["traced"]]
    for g in ("driver", "jvm", "workers"):
        run.layer[f"mem.{g}_mb"] = peak[g] / 1e6
    run.layer["host.steal_frac"] = measure.median([r["steal"] for r in run.ops])
    if traced:
        for key, field in (("spark.jobs_per_op", "jobs"),
                           ("spark.tasks_per_op", "tasks"),
                           ("python.worker_spawns_per_op", "spawned"),
                           ("python.workers_alive", "alive")):
            run.layer[key] = measure.median([r[field] for r in traced])
        run.layer["python.mb_to_worker"] = measure.median(
            [sum(events.get(g, {}).get("py_sent_mb", 0.0)
                 for g in run.groups.get(r["op"], ())) for r in traced])
        run.layer["python.mb_from_worker"] = measure.median(
            [sum(events.get(g, {}).get("py_back_mb", 0.0)
                 for g in run.groups.get(r["op"], ())) for r in traced])
        run.layer["trace.self_sum_frac"] = measure.median(
            [sum(measure.layer_self_seconds(run.tracer.spans, r["op"]).values())
             / r["wall"] for r in traced])
    if traced and plain:
        run.layer["trace.overhead_frac"] = op_p50_ms(traced) / op_p50_ms(plain) - 1.0


def op_p50_ms(ops: list[dict]) -> float:
    """Median op wall time; for serve, the mean of the two modes' medians
    (pooled, the median of a two-mode sample falls between the modes)."""
    modes = sorted({r.get("mode", "") for r in ops})
    return 1e3 * sum(measure.median([r["wall"] for r in ops
                                     if r.get("mode", "") == m])
                     for m in modes) / len(modes)


def summary(run: Run, out: dict) -> None:
    """Human-readable run summary on stderr."""
    err = sys.stderr
    print(f"{run.workload}: {len(run.ops)} timed ops, {run.attempted} "
          f"attempted, {len(run.errors)} failed; {out['facts']}", file=err)
    for mode in sorted({r.get("mode", "") for r in run.ops}):
        ms = [r["wall"] * 1e3 for r in run.ops if r.get("mode", "") == mode]
        tail = measure.supported_tail(len(ms))
        tail_txt = (f"p{tail:g} {measure.percentile(ms, tail):.1f} ms" if tail
                    else "no tail percentile: fewer than 10 samples beyond p75")
        print(f"  {mode or run.workload}: n={len(ms)} p50 "
              f"{measure.median(ms):.1f} ms, {tail_txt}; "
              f"all {[round(x) for x in ms]}", file=err)
    print("  peak MB " + ", ".join(f"{k} {v / 1e6:.0f}"
                                   for k, v in out["peak"].items())
          + " (total: held for 1 s)", file=err)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=("build", "serve"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--prepare", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    # Spark's Python workers import the engine from the checkout too.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # The only setting changed from the program's defaults: its 24g driver
    # heap does not fit a 15 GB host; heap size barely moves set-up time.
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    if args.prepare:
        prepare_serve_index(args.prepare)
        return 0
    if not args.workload:
        ap.error("--workload is required")

    run_dir = os.path.join(CACHE, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    # keep Spark's, the JVM's and Python's scratch files inside the checkout
    tmp = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, (
        os.environ.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={tmp}",
        "-XX:+PerfDisableSharedMem")))
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace), run_dir)
    try:
        with run.sampler:
            out = (workload_build if args.workload == "build"
                   else workload_serve)(run)
        if out["setup_s"] is None or not run.ops:
            raise RuntimeError("no operation completed")
        events = {}
        if run.trace:
            events = measure.read_event_log(os.path.join(run_dir, "events"))
            (build_layers if args.workload == "build" else serve_layers)(run, events)
            common_layers(run, events, out["peak"])
            run.tracer.dump(os.path.join(CACHE, f"spans-{args.workload}.jsonl"))
        if args.trace:
            if args.workload == "serve":
                for m in ("wand", "term"):
                    v = [r["wall"] * 1e3 for r in run.ops if r["mode"] == m]
                    run.layer[f"serve.{m}_p50_ms"] = measure.median(v) if v else 0.0
            metrics = {k: {"value": float(run.layer[k]), "unit": u}
                       for k, u in PER_LAYER.items()}
        else:
            values = {"setup_s": out["setup_s"],
                      "peak_rss_mb": out["peak"]["total"] / 1e6,
                      "op_p50_ms": op_p50_ms(run.ops)}
            metrics = {k: {"value": values[k], "unit": u}
                       for k, u in END_TO_END.items()}
        summary(run, out)
        print(json.dumps({"correct": not run.errors, "attempted": run.attempted,
                          "failed": len(run.errors), "metrics": metrics}))
        return 0
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
