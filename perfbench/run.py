"""Repository benchmark: index a seeded corpus, merge it, serve BM25 queries.

Run from the repository root:

    python3 perfbench/run.py --workload build --seed 1 --seconds 30 --trace 0

``--trace 0`` measures the end-to-end metrics untraced. ``--trace 1`` runs
the same workload with spans, job groups, the Spark event log and block
counters on, and prints the per-layer metrics plus ``traced.*`` copies of
the timed end-to-end metrics (minus the untraced run's values, they are the
tracing overhead). ``--verify``
additionally runs ``check_index`` over the served index (slow; never
inside a timed region). The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {value, unit}}}``.
Any wrong answer makes the exit code 1. See perfbench/README.md for the
workloads, the metric definitions and which layer moves which metric.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import tracing as tr  # noqa: E402

# corpus sizes: chosen so one run of each workload stays near one minute on
# a 4-core host (Spark start + Python worker warm-up alone take ~15 s of it)
BUILD_DOCS = 6_000
SERVE_DOCS = 5_000
ANCHOR_DOCS = 300
CLIENTS = 2
TOP_K = 10
SETUP_REPS = 5
MIN_BUILD_REPS = 2
MIN_SERVE_SAMPLES = 100
# the build loop sends every pool query but the FILTER ones exactly once:
# distinct queries bypass the query cache, and every run sends the same
# families, so runs differ only in timing
BUILD_SKIP_KIND = "filter"
ZIPF_QUERIES = 1.2  # query popularity skew on serve (an unverified assumption)
LOOP_LIMIT_S = 100  # hard stop for a query loop, inside the 180 s run limit

E2E_UNITS = {
    "setup_s": "s",
    "build_docs_per_s": "docs/s",
    "index_ready_s": "s",
    "index_bytes_per_input_byte": "B/B",
    "query_qps": "1/s",
    "query_p50_ms": "ms",
    "query_p90_ms": "ms",
    "peak_rss_mb": "MB",
}


class Run:
    """State of one benchmark run: Spark session, work dir, op counters."""

    def __init__(self, root: str, workload: str, seed: int, seconds: float,
                 trace: bool):
        self.root = root
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = os.path.join(HERE, ".work", f"{workload}-{seed}-{os.getpid()}")
        self.attempted = 0
        self.failed = 0
        self.mismatches = 0
        self._lock = threading.Lock()
        self.tracer = tr.Tracer()
        self.spark = None
        self._n_dirs = 0

    # ---- bookkeeping -------------------------------------------------
    def count(self, ok: bool, what: str, wrong_answer: bool = False) -> None:
        with self._lock:
            self.attempted += 1
            if not ok:
                self.failed += 1
                self.mismatches += int(wrong_answer)
                print(f"perfbench: FAILED {what}", file=sys.stderr)

    def new_dir(self, name: str) -> str:
        self._n_dirs += 1
        return os.path.join(self.work, f"{name}{self._n_dirs}")

    @contextlib.contextmanager
    def op(self, name: str):
        """One benchmark operation: its spans share ``name`` and, in a
        traced run, its Spark jobs carry job group ``name`` (jobs after it
        on this thread fall back to group "other")."""
        sc = self.spark.sparkContext
        with self.tracer.operation(name):
            if self.tracer.enabled:
                sc.setJobGroup(name, name)
            try:
                yield
            finally:
                if self.tracer.enabled:
                    sc.setJobGroup("other", "other")

    # ---- Spark lifecycle ---------------------------------------------
    def start_spark(self) -> float:
        for d in ("local", "tmp", "ev", "wh"):
            os.makedirs(os.path.join(self.work, d), exist_ok=True)
        os.environ["PYTHONPATH"] = self.root + os.pathsep + os.environ.get("PYTHONPATH", "")
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "local")
        os.environ["TMPDIR"] = os.path.join(self.work, "tmp")
        import tempfile

        tempfile.tempdir = None
        t0 = time.perf_counter()
        from pyspark.sql import SparkSession

        cores = len(os.sched_getaffinity(0))
        b = (
            SparkSession.builder.master(f"local[{cores}]")
            .appName(f"perfbench-{self.workload}")
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.sql.shuffle.partitions", str(max(8, cores)))
            .config("spark.sql.adaptive.enabled", "true")
            .config("spark.sql.execution.arrow.pyspark.enabled", "true")
            .config("spark.driver.memory", "2g")
            .config("spark.sql.warehouse.dir", os.path.join(self.work, "wh"))
            # keep the JVM's files in the work dir: temp files there, and no
            # /tmp/hsperfdata_<user> perf-data file
            .config("spark.driver.extraJavaOptions",
                    f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')} "
                    f"-Dderby.system.home={self.work} -XX:-UsePerfData")
        )
        if self.trace:
            b = (b.config("spark.eventLog.enabled", "true")
                 .config("spark.eventLog.dir", os.path.join(self.work, "ev"))
                 .config("spark.eventLog.compress", "false")
                 .config("spark.eventLog.rolling.enabled", "false"))
        self.spark = b.getOrCreate()
        self.spark.sparkContext.setLogLevel("ERROR")
        self.cores = cores
        return time.perf_counter() - t0

    def stop_spark(self) -> None:
        """Stop the SparkContext and the JVM it runs in; wait for the JVM
        (the Python workers are its children and exit with it)."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        self.spark.stop()
        self.spark = None
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            t0 = time.perf_counter()
            proc.terminate()  # nothing is left to flush once the context stopped
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
            note(f"JVM stopped in {time.perf_counter() - t0:.1f}s")
        SparkContext._gateway = None
        SparkContext._jvm = None


# ---- helpers -----------------------------------------------------------
_T0 = time.perf_counter()


def note(msg: str) -> None:
    """Progress line on stderr, stamped with seconds since start."""
    print(f"perfbench: [{time.perf_counter() - _T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


def dir_bytes(path: str) -> int:
    total = 0
    for dp, _, files in os.walk(path):
        for f in files:
            if not f.startswith(".") and not f.startswith("_"):
                total += os.path.getsize(os.path.join(dp, f))
    return total


def index_bytes(index_dir: str) -> int:
    """Bytes of the live postings units plus the term tables."""
    from lucene_spark.operators.merge import live_units

    n = sum(dir_bytes(os.path.join(index_dir, u["path"])) for u in live_units(index_dir))
    for name in ("terms", "terms_rev"):
        p = os.path.join(index_dir, name)
        if os.path.isdir(p):
            n += dir_bytes(p)
    return n


def same_topk(a, b) -> bool:
    """Rank- and float32-bit-identical top-k (gid order and score bits)."""
    ga = np.asarray(a["gid"], dtype=np.int64)
    gb = np.asarray(b["gid"], dtype=np.int64)
    sa = np.asarray(a["score"], dtype=np.float32).view(np.uint32)
    sb = np.asarray(b["score"], dtype=np.float32).view(np.uint32)
    return len(ga) == len(gb) and np.array_equal(ga, gb) and np.array_equal(sa, sb)


def query_node(q: gen.PoolQuery):
    from lucene_spark.plans import query as Q

    node = Q.parse_query(q.text)
    if q.filter:
        node = Q.BoolQ(must=(node,), filter=(Q.parse_query(q.filter),))
    return node


def write_corpus(run: Run, pdf, name: str) -> str:
    path = run.new_dir(name) + ".parquet"
    pdf.to_parquet(path, index=False)
    return path


def percentile(xs, p: float) -> float:
    return float(np.percentile(np.asarray(xs, dtype=np.float64), p, method="lower"))


# ---- closed-loop query phase --------------------------------------------
def client_searchers(run: Run, index_dir: str, probe) -> list:
    """One Searcher with its own LRUQueryCache per client. The engine's
    query planner is not thread-safe (see README.md), so clients do not
    share one. Each is warmed with one query, which pins its scan plans."""
    from lucene_spark.operators.query_cache import LRUQueryCache
    from lucene_spark.operators.search import Searcher

    out = []
    for _ in range(CLIENTS):
        s = Searcher(run.spark, index_dir, query_cache=LRUQueryCache())
        if run.tracer.enabled:
            s.enable_metrics()
        s.search(probe, k=TOP_K)
        out.append(s)
    return out


def closed_loop(run: Run, searchers, pool, order, min_seconds: float,
                min_samples: int, max_samples: int) -> dict:
    """One thread per searcher, each sending its next query only after the
    previous answer arrived. Stops once both ``min_seconds`` elapsed and
    ``min_samples`` queries finished (answered or failed), after
    ``max_samples`` queries, or at ``LOOP_LIMIT_S``. Returns latencies and
    the served answers (verified later, untimed)."""
    lock = threading.Lock()
    state = {"next": 0, "done": 0}
    lat: list[float] = []
    served: list[tuple[int, object]] = []
    t_start = time.perf_counter()

    def client(searcher):
        while True:
            with lock:
                i = state["next"]
                elapsed = time.perf_counter() - t_start
                if i >= max_samples or elapsed >= LOOP_LIMIT_S or (
                        elapsed >= min_seconds and state["done"] >= min_samples):
                    return
                state["next"] += 1
            qi = int(order[i % len(order)])
            t0 = time.perf_counter()
            try:
                with run.op(f"q{i}"):
                    res = searcher.search(query_node(pool[qi]), k=TOP_K)
            except Exception:  # noqa: BLE001 - a failed query is counted, the loop goes on
                traceback.print_exc()
                run.count(False, f"query {pool[qi].name}")
                with lock:
                    state["done"] += 1
                continue
            dt = time.perf_counter() - t0
            with lock:
                state["done"] += 1
                lat.append(dt)
                served.append((qi, res))

    threads = [threading.Thread(target=client, args=(s,), daemon=True) for s in searchers]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    wall = time.perf_counter() - t_start
    if not lat:
        raise RuntimeError("closed loop: every query failed")
    return {"lat": lat, "served": served, "wall": wall}


def verify_served(run: Run, index_dir: str, pool, served) -> None:
    """Every served top-k must equal the exhaustive (prune=False) top-k of
    an uncached Searcher on the same index. One reference per distinct
    query, computed in parallel after the timed loop; each worker thread
    has its own Searcher, since one Searcher is not safe to share across
    threads (see README.md)."""
    from lucene_spark.operators.search import Searcher

    local = threading.local()

    def reference(qi):
        if not hasattr(local, "searcher"):
            local.searcher = Searcher(run.spark, index_dir)
        return local.searcher.search(query_node(pool[qi]), TOP_K, prune=False,
                                     with_keys=False)

    refs = {}
    with ThreadPoolExecutor(run.cores) as ex:
        futs = {qi: ex.submit(reference, qi)
                for qi in sorted({qi for qi, _ in served})}
        for qi, f in futs.items():
            try:
                refs[qi] = f.result()
            except Exception:  # noqa: BLE001 - reported as a failed check
                traceback.print_exc()
                refs[qi] = None
    for qi, res in served:
        ok = refs[qi] is not None and same_topk(res, refs[qi])
        run.count(ok, f"served top-k of {pool[qi].name} != exhaustive top-k",
                  wrong_answer=refs[qi] is not None and not ok)


def query_metrics(loop: dict) -> dict:
    lat_ms = [x * 1e3 for x in loop["lat"]]
    return {
        "query_qps": len(lat_ms) / loop["wall"],
        "query_p50_ms": percentile(lat_ms, 50),
        "query_p90_ms": percentile(lat_ms, 90),
    }


# ---- engine anchor --------------------------------------------------------
def anchor_against_oracle(run: Run, corpus: gen.Corpus) -> None:
    """Once per seed: a small corpus, engine top-k vs BruteForceIndex on
    gids and float32 score bits, across OR/AND/phrase/sloppy shapes."""
    from lucene_spark.operators.indexer import build_index
    from lucene_spark.operators.oracle import BruteForceIndex
    from lucene_spark.operators.search import Searcher
    from lucene_spark.plans.query import parse_query

    pdf = corpus.docs(ANCHOR_DOCS, tag=9).sort_values("url").reset_index(drop=True)
    pdf["gid"] = np.arange(len(pdf), dtype=np.int64)
    d = run.new_dir("anchor")
    build_index(run.spark, run.spark.createDataFrame(pdf), d, key_col="url",
                text_col="text", gid_col="gid", n_segments=2 * run.cores)
    oracle = BruteForceIndex(pdf["gid"], pdf["url"], pdf["text"])
    s = Searcher(run.spark, d)
    v = corpus.vocab
    ((a, b), _), = gen.bigrams(pdf["text"].tolist(), set(gen.STOPWORDS)).most_common(1)
    ((c, e), _), = gen.gapped_pairs(pdf["text"].tolist(), set(gen.STOPWORDS)).most_common(1)
    for q in (f"{v[40]} OR {v[2]}", f"{v[0]} AND {v[30]}", f'"{a} {b}"',
              f'"{c} {e}"~2'):
        node = parse_query(q)
        want = oracle.search(node, TOP_K)
        if not want:
            raise ValueError(f"anchor query {q!r} matches nothing; pick another")
        got = s.search(node, k=TOP_K)
        ref = {"gid": [g for g, _, _ in want], "score": [x for _, _, x in want]}
        ok = same_topk(got, ref)
        run.count(ok, f"engine vs BruteForceIndex on {q!r}", wrong_answer=not ok)


# ---- workloads ------------------------------------------------------------
def manifest_postings(index_dir: str) -> int:
    from lucene_spark.operators.indexer import read_manifest

    return sum(int(s.get("n_postings", 0)) for r in read_manifest(index_dir)
               if r.get("batch") is not None for s in r.get("per_segment", {}).values())


def build_pass(run: Run, corpus_path: str, n_docs: int, pool) -> dict:
    """Timed: bulk builds (>= MIN_BUILD_REPS, for a quarter of the run),
    one full merge, then a closed loop that sends each non-FILTER pool query
    once to the merged index. Checks run between the timed regions."""
    from lucene_spark.operators.indexer import build_index
    from lucene_spark.operators.merge import merge_index
    from lucene_spark.operators.search import Searcher
    from lucene_spark.plans.query import MatchAllQ

    df = run.spark.read.parquet(corpus_path)
    build_walls = []
    t_builds = time.perf_counter()
    while len(build_walls) < MIN_BUILD_REPS or \
            time.perf_counter() - t_builds < run.seconds / 4:
        d = run.new_dir("idx")
        t0 = time.perf_counter()
        with run.op("build"):
            build_index(run.spark, df, d, key_col="url", text_col="text")
        build_walls.append(time.perf_counter() - t0)
        run.count(True, "build")
    note("builds " + " ".join(f"{b:.2f}s" for b in build_walls))
    probe = query_node(pool[0])
    before = Searcher(run.spark, d).search(probe, k=TOP_K)
    t0 = time.perf_counter()
    with run.op("merge"):
        # salt_docs below the head terms' doc freq: the skew-splitting path
        rec = merge_index(run.spark, d, salt_docs=max(1, n_docs // 8))
    merge_wall = time.perf_counter() - t0
    run.count(True, "merge")
    note(f"merge {merge_wall:.2f}s")
    after = Searcher(run.spark, d)
    ok = same_topk(before, after.search(probe, k=TOP_K))
    run.count(ok, "probe top-k changed across merge_index", wrong_answer=not ok)
    live = after.count(MatchAllQ())
    run.count(live == n_docs, f"live docs {live} != input rows {n_docs}",
              wrong_answer=live != n_docs)

    searchers = client_searchers(run, d, probe)
    order = [i for i in gen.popularity_order(pool)
             if not pool[i].name.startswith(BUILD_SKIP_KIND)]
    loop = closed_loop(run, searchers, pool, order, 0, len(order), len(order))
    note(f"closed loop: {len(loop['lat'])} answers in {loop['wall']:.1f}s")
    for _ in loop["lat"]:
        run.count(True, "query")
    med_build = statistics.median(build_walls)
    return {
        "build_docs_per_s": n_docs / med_build,
        "index_ready_s": med_build + merge_wall,
        "index_dir": d, "searchers": searchers, "loop": loop, "merge_rec": rec,
    }


def serve_pass(run: Run, index_dir: str, pool, stream) -> dict:
    """Timed: ``CLIENTS`` closed-loop clients, each with a Searcher and an
    LRUQueryCache, sending Zipf-popular queries for ``seconds`` and at least
    MIN_SERVE_SAMPLES answers."""
    searchers = client_searchers(run, index_dir, query_node(pool[0]))
    loop = closed_loop(run, searchers, pool, stream, run.seconds,
                       MIN_SERVE_SAMPLES, len(stream))
    note(f"closed loop: {len(loop['lat'])} answers in {loop['wall']:.1f}s")
    verify_served(run, index_dir, pool, loop["served"])
    return {"searchers": searchers, "loop": loop}


def setup_build(run: Run, corpus: gen.Corpus):
    """Setup for ``build``: generate the corpus and write it as parquet,
    SETUP_REPS times (the median is reported)."""
    times, path, pdf = [], None, None
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        pdf = corpus.docs(BUILD_DOCS, tag=1)
        path = write_corpus(run, pdf, "corpus")
        times.append(time.perf_counter() - t0)
    return statistics.median(times), pdf, path


def setup_serve(run: Run, corpus: gen.Corpus):
    """Setup for ``serve``: generate the corpus and build the served index,
    SETUP_REPS times (the median is reported). The first repetition also
    starts the Python workers and warms the JVM; ``setup_s``'s median leaves
    that out, and ``build_docs_per_s`` takes the median of the warm builds
    only, as ``build`` does after its anchor warmed the workers."""
    from lucene_spark.operators.indexer import build_index

    times, builds, d, pdf = [], [], None, None
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        pdf = corpus.docs(SERVE_DOCS, tag=1)
        path = write_corpus(run, pdf, "corpus")
        d = run.new_dir("idx")
        t1 = time.perf_counter()
        with run.op("build"):
            build_index(run.spark, run.spark.read.parquet(path), d, key_col="url",
                        text_col="text")
        builds.append(time.perf_counter() - t1)
        times.append(time.perf_counter() - t0)
        run.count(True, "build")
    note("set-up builds " + " ".join(f"{b:.2f}s" for b in builds))
    return statistics.median(times), statistics.median(builds[1:]), pdf, d


def layer_metrics(run: Run, res: dict, pdf, groups: dict, t_pass: float,
                  pass_wall: float) -> dict:
    """Per-layer metrics of a traced run (see README.md for the map)."""
    tracer = run.tracer
    q_selfs, q_ops = tracer.self_times("q")
    nq = max(len(q_ops), 1)
    nb = max(sum(1 for s in tracer.spans
                 if s["name"] == "build_index" and s["op"] == "build"), 1)
    idx_g = tr.sum_groups(groups, ("build",))
    mrg_g = tr.sum_groups(groups, ("merge",))
    q_g = tr.sum_groups(groups, ("q",))
    op_g = tr.sum_groups(groups, ("build", "merge", "q"))
    m = dict(tr.replay_kernels(pdf["url"].tolist()[:2000], pdf["text"].tolist()[:2000]))
    fin = tracer.totals("finalize_index", op_prefix="build")
    rec = res.get("merge_rec") or {}
    scanned = sum(s.metrics["blocks_scanned"].value for s in res["searchers"])
    decoded = sum(s.metrics["blocks_decoded"].value for s in res["searchers"])
    hits = sum(s.query_cache.hit_count for s in res["searchers"])
    lookups = hits + sum(s.query_cache.miss_count for s in res["searchers"])
    m.update({
        "indexer.build_s": (tracer.totals("build_index", op_prefix="build") - fin) / nb,
        "indexer.finalize_s": fin / nb,
        "indexer.postings": manifest_postings(res["index_dir"]),
        "indexer.jobs": idx_g.get("jobs", 0) / nb,
        "indexer.tasks": idx_g.get("tasks", 0) / nb,
        "indexer.shuffle_bytes": idx_g.get("shuffle_write_bytes", 0) / nb,
        "indexer.executor_cpu_s": idx_g.get("cpu_s", 0.0) / nb,
        "merge.merge_s": tracer.totals("merge_index"),
        "merge.postings_rewritten": int(rec.get("n_postings", 0)),
        "merge.bytes_written": dir_bytes(os.path.join(res["index_dir"], rec["out"])) if rec else 0,
        "merge.shuffle_bytes": mrg_g.get("shuffle_write_bytes", 0),
        "merge.jobs": mrg_g.get("jobs", 0),
        "merge.executor_cpu_s": mrg_g.get("cpu_s", 0.0),
        "plans.parse_ms": 1e3 * q_selfs.get("parse_query", 0.0) / nq,
        "search.rewrite_ms": 1e3 * q_selfs.get("rewrite", 0.0) / nq,
        "search.stats_ms": 1e3 * (q_selfs.get("make_ctx", 0.0) + q_selfs.get("term_stats", 0.0)) / nq,
        "search.candidates_ms": 1e3 * q_selfs.get("candidates", 0.0) / nq,
        "search.exec_ms": 1e3 * q_selfs.get("search", 0.0) / nq,
        "search.jobs_per_query": q_g.get("jobs", 0) / nq,
        "search.tasks_per_query": q_g.get("tasks", 0) / nq,
        "search.input_bytes_per_query": q_g.get("input_bytes", 0) / nq,
        "search.shuffle_bytes_per_query": q_g.get("shuffle_write_bytes", 0) / nq,
        "search.executor_cpu_ms_per_query": 1e3 * q_g.get("cpu_s", 0.0) / nq,
        "search.decoded_frac": decoded / scanned if scanned else 0.0,
        "query_cache.hit_rate": hits / lookups if lookups else 0.0,
        "spark.gc_s": op_g.get("gc_s", 0.0),
        "spark.executor_wait_s": op_g.get("run_s", 0.0) - op_g.get("cpu_s", 0.0),
        # share of the timed pass's wall spent inside the indexer's and the
        # merge's entry points, and of the query loop's client time inside
        # Searcher.search
        "wall.indexer_frac": tracer.totals("build_index", since=t_pass) / pass_wall,
        "wall.merge_frac": tracer.totals("merge_index", since=t_pass) / pass_wall,
        "wall.search_frac": tracer.totals("search", op_prefix="q")
        / (res["loop"]["wall"] * CLIENTS),
    })
    for k in TRACED_E2E:
        m[f"traced.{k}"] = res[k]
    return m


# end-to-end metrics a traced run also reports; tracing overhead = the traced
# value minus the untraced run's value for the same workload and seed
TRACED_E2E = ("build_docs_per_s", "index_ready_s", "query_qps", "query_p50_ms",
              "query_p90_ms")

LAYER_UNITS = {
    "analysis.tokens_per_s": "1/s",
    "pfor.encode_ints_per_s": "1/s",
    "pfor.decode_ints_per_s": "1/s",
    "pfor.bytes_per_posting": "B",
    "indexer.build_s": "s",
    "indexer.finalize_s": "s",
    "indexer.invert_s": "s",
    "indexer.postings": "count",
    "indexer.jobs": "count",
    "indexer.tasks": "count",
    "indexer.shuffle_bytes": "B",
    "indexer.executor_cpu_s": "s",
    "merge.merge_s": "s",
    "merge.postings_rewritten": "count",
    "merge.bytes_written": "B",
    "merge.shuffle_bytes": "B",
    "merge.jobs": "count",
    "merge.executor_cpu_s": "s",
    "plans.parse_ms": "ms",
    "search.rewrite_ms": "ms",
    "search.stats_ms": "ms",
    "search.candidates_ms": "ms",
    "search.exec_ms": "ms",
    "search.jobs_per_query": "count",
    "search.tasks_per_query": "count",
    "search.input_bytes_per_query": "B",
    "search.shuffle_bytes_per_query": "B",
    "search.executor_cpu_ms_per_query": "ms",
    "search.decoded_frac": "frac",
    "query_cache.hit_rate": "frac",
    "spark.gc_s": "s",
    "spark.executor_wait_s": "s",
    "wall.indexer_frac": "frac",
    "wall.merge_frac": "frac",
    "wall.search_frac": "frac",
    **{f"traced.{k}": E2E_UNITS[k] for k in TRACED_E2E},
}


def run_workload(run: Run, verify: bool) -> dict:
    t_spark = run.start_spark()
    note(f"nproc={run.cores} loadavg_1m={os.getloadavg()[0]:.2f} "
         f"workload={run.workload} seed={run.seed} spark_start={t_spark:.1f}s")
    corpus = gen.Corpus(run.seed)
    with tr.RssSampler() as rss:
        if run.trace:
            run.tracer.install()
        try:
            if run.workload == "build":
                t0 = time.perf_counter()
                anchor_against_oracle(run, corpus)  # also warms every worker
                t_anchor = time.perf_counter() - t0
                t_setup, pdf, path = setup_build(run, corpus)
                t_setup += t_anchor
                pool = gen.query_pool(corpus, pdf["text"].tolist()[:3000], run.seed)
                note(f"setup done (median {t_setup:.1f}s)")
                t_pass = time.perf_counter()
                res = build_pass(run, path, len(pdf), pool)
            else:
                t_setup, t_build, pdf, index_dir = setup_serve(run, corpus)
                pool = gen.query_pool(corpus, pdf["text"].tolist()[:3000], run.seed)
                stream = gen.zipf_stream(run.seed, pool, 100_000, ZIPF_QUERIES)
                note(f"setup done (median {t_setup:.1f}s)")
                t_pass = time.perf_counter()
                res = serve_pass(run, index_dir, pool, stream)
                res.update({"build_docs_per_s": len(pdf) / t_build,
                            "index_ready_s": t_build, "index_dir": index_dir})
            pass_wall = time.perf_counter() - t_pass
        finally:
            run.tracer.uninstall()
        res.update(query_metrics(res["loop"]))
        res["index_bytes_per_input_byte"] = (
            index_bytes(res["index_dir"]) / float(pdf["text"].str.len().sum()))
        res["setup_s"] = t_spark + t_setup
        res["peak_rss_mb"] = rss.peak_bytes / 2**20
    note("timed pass done")
    if verify:
        from lucene_spark.operators.check import check_index

        report = check_index(run.spark, res["index_dir"])
        note(f"check_index {json.dumps(report, default=str)}")
        run.count(bool(report.get("healthy")), "check_index", wrong_answer=True)
    if not run.trace:
        return {k: res[k] for k in E2E_UNITS}
    run.stop_spark()  # completes the event log
    groups = tr.parse_event_log(os.path.join(run.work, "ev"))
    return layer_metrics(run, res, pdf, groups, t_pass, pass_wall)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=("build", "serve"), required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--verify", action="store_true",
                    help="also run check_index on the served index (slow)")
    args = ap.parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "lucene_spark", "__init__.py")):
        print("perfbench: lucene_spark/ not found; run from the repository root",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    run = Run(root, args.workload, args.seed, args.seconds, bool(args.trace))
    shutil.rmtree(run.work, ignore_errors=True)
    try:
        metrics = run_workload(run, args.verify)
    finally:
        run.stop_spark()
        shutil.rmtree(run.work, ignore_errors=True)
        with contextlib.suppress(OSError):  # still in use by a concurrent run
            os.rmdir(os.path.dirname(run.work))
    units = LAYER_UNITS if args.trace else E2E_UNITS
    out = {
        "correct": run.mismatches == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }
    print(json.dumps(out))
    return 0 if run.mismatches == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
