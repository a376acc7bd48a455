"""Tracing from outside the program: spans, Spark event log, /proc RSS,
and in-process kernel replays.

Nothing here edits the engine. Spans come from wrapping its public entry
points for the duration of a traced phase; per-operation Spark work comes
from the job group every operation is tagged with (``SparkContext
.setJobGroup``) joined against the uncompressed event log.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import sys
import threading
import time
from collections import defaultdict

import numpy as np
import pandas as pd

# (module, attribute, span name): the public entry points a span wraps
ENTRY_POINTS = (
    ("lucene_spark.operators.indexer", "build_index", "build_index"),
    ("lucene_spark.operators.indexer", "finalize_index", "finalize_index"),
    ("lucene_spark.operators.indexer", "update_documents", "update_documents"),
    ("lucene_spark.operators.merge", "merge_index", "merge_index"),
    ("lucene_spark.operators.merge", "tiered_merge", "tiered_merge"),
    ("lucene_spark.plans.query", "parse_query", "parse_query"),
)
SEARCHER_METHODS = ("search", "candidates", "rewrite", "make_ctx", "term_stats")


class Tracer:
    """In-memory span recorder. A span is (name, op, start, end, parent);
    spans of one operation share ``op``, set per thread by ``operation``."""

    def __init__(self):
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._tls = threading.local()
        self._undo: list[tuple[object, str, object]] = []
        self.enabled = False

    @contextlib.contextmanager
    def operation(self, op: str):
        """Tag every span opened on this thread inside the block with ``op``."""
        prev = getattr(self._tls, "op", None)
        self._tls.op = op
        try:
            yield
        finally:
            self._tls.op = prev

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = self._tls.__dict__.setdefault("stack", [])
        rec = {"name": name, "op": getattr(self._tls, "op", None),
               "parent": stack[-1] if stack else None, "t0": time.perf_counter()}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec["id"])
        try:
            yield
        finally:
            stack.pop()
            rec["t1"] = time.perf_counter()

    def _wrapped(self, fn, name):
        tracer = self

        def wrapper(*a, **k):
            with tracer.span(name):
                return fn(*a, **k)

        wrapper.__wrapped__ = fn
        return wrapper

    def install(self) -> None:
        """Wrap every entry point, in every loaded ``lucene_spark`` module
        that holds a reference to it (modules import some by name)."""
        import importlib

        from lucene_spark.operators.search import Searcher

        for mod_name, attr, name in ENTRY_POINTS:
            orig = getattr(importlib.import_module(mod_name), attr)
            w = self._wrapped(orig, name)
            for m in list(sys.modules.values()):
                if (getattr(m, "__name__", "") or "").startswith("lucene_spark") \
                        and getattr(m, attr, None) is orig:
                    self._undo.append((m, attr, orig))
                    setattr(m, attr, w)
        for meth in SEARCHER_METHODS:
            orig = Searcher.__dict__[meth]
            self._undo.append((Searcher, meth, orig))
            setattr(Searcher, meth, self._wrapped(orig, meth))
        self.enabled = True

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()
        self.enabled = False

    def self_times(self, op_prefix: str) -> "tuple[dict, set]":
        """Per span name: summed self time (s) over spans whose op starts
        with ``op_prefix``; plus the set of those ops. Self time is the
        span's duration minus its children's (children run nested on the
        same thread, so they never overlap each other)."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None and "t1" in s:
                child[s["parent"]] += s["t1"] - s["t0"]
        out: dict = defaultdict(float)
        ops = set()
        for s in self.spans:
            if "t1" not in s or not (s["op"] or "").startswith(op_prefix):
                continue
            ops.add(s["op"])
            out[s["name"]] += (s["t1"] - s["t0"]) - child[s["id"]]
        return dict(out), ops

    def totals(self, name: str, since: float = float("-inf"),
               op_prefix: str = "") -> float:
        """Summed duration (s) of spans called ``name`` started at or after
        ``since`` (a ``time.perf_counter`` value) in ops starting with
        ``op_prefix``."""
        return sum(s["t1"] - s["t0"] for s in self.spans
                   if s["name"] == name and "t1" in s and s["t0"] >= since
                   and (s["op"] or "").startswith(op_prefix))


def parse_event_log(log_dir: str) -> "dict[str, dict]":
    """Per job group: jobs, tasks, executor run/CPU/GC time (s), input,
    shuffle read and shuffle write bytes, from an uncompressed, non-rolling
    event log. Read after the SparkContext stopped (the log is complete)."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*"))
             if not f.endswith(".inprogress")] or glob.glob(os.path.join(log_dir, "*"))
    stage_group: dict = {}
    out: dict = defaultdict(lambda: defaultdict(float))
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or "untagged"
                    out[group]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    g = out[stage_group.get(ev.get("Stage ID"), "untagged")]
                    g["tasks"] += 1
                    g["run_s"] += m.get("Executor Run Time", 0) / 1e3
                    g["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    g["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    g["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    g["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    g["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    return {k: dict(v) for k, v in out.items()}


def sum_groups(groups: "dict[str, dict]", prefixes: "tuple[str, ...]") -> dict:
    """Counters summed over the job groups whose name starts with any of
    ``prefixes``."""
    tot: dict = defaultdict(float)
    for name, g in groups.items():
        if name.startswith(prefixes):
            for k, v in g.items():
                tot[k] += v
    return tot


class RssSampler:
    """Peak resident set of this process and all its descendants (the JVM
    and its Python workers), sampled from /proc."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def sample(self) -> int:
        children: dict = defaultdict(list)
        rss: dict = {}
        for stat in glob.glob("/proc/[0-9]*/stat"):
            try:
                with open(stat) as f:
                    rest = f.read().rsplit(")", 1)[1].split()
            except (OSError, IndexError):
                continue  # process exited between listing and reading
            pid = int(stat.split("/")[2])
            children[int(rest[1])].append(pid)
            rss[pid] = int(rest[21]) * self._page
        total, todo = 0, [os.getpid()]
        while todo:
            p = todo.pop()
            total += rss.get(p, 0)
            todo.extend(children.get(p, ()))
        return total

    def _run(self):
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self.sample())
            self._stop.wait(self.interval)


def _median_rate(fn, work: float, reps: int = 3) -> "tuple[float, object]":
    times, out = [], None
    for _ in range(reps):
        t0 = time.perf_counter()
        out = fn()
        times.append(time.perf_counter() - t0)
    return work / float(np.median(times)), out


def replay_kernels(urls: "list[str]", texts: "list[str]") -> dict:
    """In-process replay of the per-segment kernels on a corpus sample:
    analysis, inversion, PFOR encode/decode. Returns counts and rates."""
    from lucene_spark.functions.analysis import analyze_batch
    from lucene_spark.functions.pfor import batch_decode_streams, batch_encode_streams
    from lucene_spark.operators.indexer import invert_segment

    series = pd.Series(texts)
    batch = analyze_batch(series)
    n_tok = len(batch.tok_doc_idx)
    tok_rate, _ = _median_rate(lambda: analyze_batch(series), n_tok)
    gids = np.arange(len(texts), dtype=np.int64)
    t0 = time.perf_counter()
    rows = invert_segment(0, gids, np.array(urls, dtype=object), series)
    invert_s = time.perf_counter() - t0
    post = rows[rows["row_type"] == "post"]
    bufs = [b for col in ("gids", "freqs", "positions") for b in post[col] if b is not None]
    n_postings = int(post["doc_count"].sum())
    dec_vals, dec_lens = batch_decode_streams(bufs)
    dec_rate, _ = _median_rate(lambda: batch_decode_streams(bufs), len(dec_vals))
    enc_rate, enc = _median_rate(lambda: batch_encode_streams(dec_vals, dec_lens), len(dec_vals))
    if sum(map(len, enc)) != sum(map(len, bufs)):
        raise AssertionError("PFOR replay re-encode changed the stream bytes")
    return {
        "analysis.tokens_per_s": tok_rate,
        "indexer.invert_s": invert_s,
        "pfor.encode_ints_per_s": enc_rate,
        "pfor.decode_ints_per_s": dec_rate,
        "pfor.bytes_per_posting": sum(map(len, bufs)) / max(n_postings, 1),
    }
