"""Traced run: spans around the calls into each engine module, Spark job and
task accounting per op, and in-process replays of the two Python kernels.

Spans are recorded by wrapping engine module functions from here; the
engine itself is not edited. Spans live in memory and are written out once,
at the end of the run. Each span holds (name, start, end, parent, op): the
parent is the enclosing span on the same thread, and `op` is the op the
benchmark was running when the span opened ("setup" before the timed ops).
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import statistics
import threading
import time
from dataclasses import asdict, dataclass

import numpy as np
import pandas as pd


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: str

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.op = "setup"
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str):
        st = self._stack()
        sp = Span(name, time.perf_counter(), 0.0, st[-1] if st else None,
                  self.op)
        with self._lock:
            self.spans.append(sp)
            idx = len(self.spans) - 1
        st.append(idx)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            st.pop()

    def wrap(self, owner: object, attr: str, name: str) -> None:
        """Replace owner.attr by a wrapper recording a span `name`."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with tracer.span(name):
                return orig(*args, **kwargs)

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def of(self, op: str, name: str) -> list[Span]:
        return [s for s in self.spans if s.op == op and s.name == name]

    def total(self, op: str, name: str) -> float:
        return sum(s.dur for s in self.of(op, name))

    def child_total(self, parent_name: str, op: str, name: str) -> float:
        """Time in spans `name` whose parent span is named parent_name."""
        return sum(s.dur for s in self.of(op, name)
                   if s.parent is not None
                   and self.spans[s.parent].name == parent_name)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def install_engine_spans(tracer: Tracer) -> dict:
    """Wrap the engine's module functions. Returns a capture dict that the
    query replay reads: the arguments of the last direct-fetch plan."""
    from pyspark.sql.classic.dataframe import DataFrame

    from solr_mapreduce_indexer_spark.index import build, manifest, merge
    from solr_mapreduce_indexer_spark.query import bm25

    tracer.wrap(build, "build_index", "index.build.build_index")
    tracer.wrap(build, "segment_metrics", "index.build.segment_metrics")
    tracer.wrap(build, "write_term_stats", "index.build.term_stats")
    tracer.wrap(merge, "merge_level", "index.merge.level")
    tracer.wrap(merge, "merge_indexes", "index.merge.merge_indexes")
    tracer.wrap(merge, "resolve_duplicate_keys", "index.merge.resolve_dupes")
    tracer.wrap(manifest, "write_checkpoint", "index.manifest.checkpoint")
    tracer.wrap(manifest, "write_manifest", "index.manifest.commit")
    tracer.wrap(bm25, "load_index", "query.bm25.load_index")
    tracer.wrap(bm25, "_lookup_dfs", "query.bm25.df_lookup")
    tracer.wrap(bm25, "run_queries", "query.bm25.run_queries")
    tracer.wrap(DataFrame, "toPandas", "spark.collect")

    capture: dict = {}
    orig_gen = bm25._direct_fetch_gen

    def capturing_gen(postings_path, present, phrase_terms, score_fn):
        capture["args"] = (postings_path, list(present), list(phrase_terms),
                           score_fn)
        return orig_gen(postings_path, present, phrase_terms, score_fn)

    bm25._direct_fetch_gen = capturing_gen
    tracer._patches.append((bm25, "_direct_fetch_gen", orig_gen))
    return capture


def build_layers(tracer: Tracer, op: str) -> dict[str, float]:
    """Per-op build-side layer times from the spans of one op.

    build_index has no function boundary around its docmap and level-0
    phases, so they are cut at checkpoint commits: docmap runs from the
    build_index call to the first checkpoint; level 0 runs to the second,
    less the segment_metrics call inside it."""
    out: dict[str, float] = {}
    builds = tracer.of(op, "index.build.build_index")
    ckpts = sorted(tracer.of(op, "index.manifest.checkpoint"),
                   key=lambda s: s.start)
    segm = tracer.of(op, "index.build.segment_metrics")
    docmap = level0 = 0.0
    for b in builds:
        inner = [c for c in ckpts if b.start <= c.start <= b.end]
        if len(inner) >= 2:
            docmap += inner[0].start - b.start
            l0 = inner[1].start - inner[0].end
            l0 -= sum(s.dur for s in segm
                      if inner[0].end <= s.start <= inner[1].start)
            level0 += l0
    out["index.build.docmap_s"] = docmap
    out["index.build.level0_s"] = level0
    out["index.build.segment_metrics_s"] = sum(s.dur for s in segm)
    out["index.build.term_stats_s"] = tracer.total(op, "index.build.term_stats")
    out["index.merge.level_s"] = tracer.total(op, "index.merge.level")
    out["index.merge.merge_indexes_s"] = tracer.total(
        op, "index.merge.merge_indexes")
    out["index.merge.resolve_dupes_s"] = tracer.total(
        op, "index.merge.resolve_dupes")
    out["index.manifest.commit_s"] = (
        tracer.total(op, "index.manifest.checkpoint")
        + tracer.total(op, "index.manifest.commit"))
    return out


def query_layers(tracer: Tracer, op: str) -> dict[str, float]:
    """Driver-side query layer times of one op. `query.batch` is the
    benchmark's span around run_queries plus the collect of its result."""
    batch = tracer.total(op, "query.batch")
    df = tracer.total(op, "query.bm25.df_lookup")
    cand = tracer.child_total("query.bm25.run_queries", op, "spark.collect")
    return {"query.bm25.load_index_s": tracer.total(op, "query.bm25.load_index"),
            "query.bm25.df_lookup_s": df,
            "query.bm25.candidates_s": cand,
            "query.bm25.driver_s": max(0.0, batch - df - cand)}


class SparkAccounting:
    """Jobs per op through the status tracker, plus JVM GC time.

    Jobs submitted from engine-side threads (build_index's term_stats
    thread) carry no job group, so the ungrouped job ids are diffed too."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.known: set[int] = set(self._ids(None))
        self.groups: list[str] = []
        self.jobs_by_op: dict[str, list[int]] = {}

    def _ids(self, group: str | None) -> list[int]:
        return list(self.tracker.getJobIdsForGroup(group))

    def _all(self) -> set[int]:
        ids = set(self._ids(None))
        for g in self.groups:
            ids.update(self._ids(g))
        return ids

    def gc_ms(self) -> int:
        jvm = self.sc._jvm
        beans = jvm.java.lang.management.ManagementFactory \
            .getGarbageCollectorMXBeans()
        return sum(max(0, int(b.getCollectionTime())) for b in beans)

    def clear_group(self) -> None:
        for key in ("spark.jobGroup.id", "spark.job.description"):
            self.sc.setLocalProperty(key, None)

    def begin(self, op: str) -> None:
        self.known = self._all()
        self.groups.append(op)
        self.sc.setJobGroup(op, f"perfbench {op}")

    def end(self, op: str) -> list[int]:
        self.clear_group()
        # the listener bus is asynchronous: wait until the set stops growing
        ids, deadline = self._all(), time.monotonic() + 3.0
        while time.monotonic() < deadline:
            time.sleep(0.15)
            nxt = self._all()
            if nxt == ids:
                break
            ids = nxt
        new = sorted(ids - self.known)
        self.jobs_by_op[op] = new
        return new


def read_event_log(log_dir: str) -> tuple[dict[int, list[int]], list[dict]]:
    """(job id → stage ids, successful task-end records) from the Spark
    event log. Stages are never mapped to layers by call site: every
    parquet write reads `parquet at NativeMethodAccessorImpl.java:0`."""
    job_stages: dict[int, list[int]] = {}
    tasks: list[dict] = []
    paths = sorted(os.path.join(d, n) for d, _, files in os.walk(log_dir)
                   for n in files if not n.startswith("."))
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    job_stages[int(ev["Job ID"])] = [int(s) for s in
                                                     ev["Stage IDs"]]
                elif kind == "SparkListenerTaskEnd":
                    if ev.get("Task End Reason", {}).get("Reason") != "Success":
                        continue
                    info = ev.get("Task Info", {})
                    met = ev.get("Task Metrics") or {}
                    sw = met.get("Shuffle Write Metrics") or {}
                    tasks.append({
                        "stage": int(ev["Stage ID"]),
                        "run_ms": int(info.get("Finish Time", 0))
                        - int(info.get("Launch Time", 0)),
                        "shuffle_bytes": int(sw.get("Shuffle Bytes Written", 0)),
                    })
    return job_stages, tasks


def session_layers(acct: SparkAccounting, log_dir: str, op_wall: dict[str, float],
                   op_gc_ms: dict[str, int], cores: int) -> dict[str, dict]:
    """Per-op session metrics: jobs, tasks, core busy ratio, GC seconds and
    shuffle bytes written."""
    job_stages, tasks = read_event_log(log_dir)
    by_stage: dict[int, list[dict]] = {}
    for t in tasks:
        by_stage.setdefault(t["stage"], []).append(t)
    out: dict[str, dict] = {}
    for op, jobs in acct.jobs_by_op.items():
        stages = {s for j in jobs for s in job_stages.get(j, [])}
        ts = [t for s in stages for t in by_stage.get(s, [])]
        wall = op_wall[op]
        out[op] = {
            "session.jobs_per_op": float(len(jobs)),
            "session.tasks_per_op": float(len(ts)),
            "session.core_busy_ratio":
                sum(t["run_ms"] for t in ts) / 1000.0 / (wall * cores),
            "session.gc_s": op_gc_ms[op] / 1000.0,
            "session.shuffle_write_bytes_per_op":
                float(sum(t["shuffle_bytes"] for t in ts)),
        }
    return out


# --------------------------------------------------------------------------
# in-process kernel replays (no Spark)

def replay_fastbuild(doc_ids: np.ndarray, texts: np.ndarray, cfg,
                     avgdl: float, reps: int) -> dict[str, float]:
    """Replay the level-0 kernel on one micro-shard `reps` times; medians of
    the kernel's stage times. tokenize excludes the factorize inside it."""
    from solr_mapreduce_indexer_spark.index import build, fastbuild

    tr = Tracer()
    tr.wrap(fastbuild, "tokenize_shard_bytes", "tokenize")
    tr.wrap(fastbuild, "_factorize_spans", "factorize")
    tr.wrap(fastbuild, "encode_blocks_bulk", "encode")
    tr.wrap(fastbuild, "_assemble_payload_bytes", "assemble")
    tr.wrap(fastbuild, "_assemble_pos_bytes", "assemble")
    rows: list[dict[str, float]] = []
    n_tokens = 0
    try:
        for i in range(reps):
            tr.op = f"r{i}"
            with tr.span("shard"):
                out = fastbuild.build_shard_fast(0, doc_ids, texts, cfg, avgdl,
                                                 build.POSTINGS_COLS)
            n_tokens = int(out["sum_tf"].sum())
            rows.append({
                "shard": tr.total(tr.op, "shard"),
                "tokenize": tr.total(tr.op, "tokenize")
                - tr.total(tr.op, "factorize"),
                "factorize": tr.total(tr.op, "factorize"),
                "encode": tr.total(tr.op, "encode"),
                "assemble": tr.total(tr.op, "assemble"),
            })
    finally:
        tr.unwrap_all()
    med = {k: statistics.median(r[k] for r in rows) for k in rows[0]}
    return {"index.fastbuild.shard_s": med["shard"],
            "index.fastbuild.tokenize_s": med["tokenize"],
            "index.fastbuild.factorize_s": med["factorize"],
            "index.fastbuild.encode_s": med["encode"],
            "index.fastbuild.assemble_s": med["assemble"],
            "index.fastbuild.tokens_per_s": n_tokens / med["shard"]}


def replay_query(capture_args: tuple, shard_ids) -> dict[str, float]:
    """Replay one batch's per-shard fetch + score in-process, one shard at a
    time, with the engine's own direct-fetch generator and the scoring
    kernel the batch ran with. Returns totals over the shards: fetch and
    score seconds, tombstone-load seconds, and block counts. Position
    point-reads count as fetch; tombstone range reads as their own layer."""
    from solr_mapreduce_indexer_spark.index import tombstones
    from solr_mapreduce_indexer_spark.query import bm25

    postings_path, present, phrase_terms, kernel = capture_args
    tot = {"fetch": 0.0, "score": 0.0, "tomb": 0.0, "blocks_fetched": 0,
           "blocks_decoded": 0, "pos_blocks_fetched": 0,
           "pos_blocks_decoded": 0}
    shard = {}
    orig_load = bm25.load_tombstones_range

    def timed(fn, key):
        def inner(*a, **kw):
            t0 = time.perf_counter()
            try:
                return fn(*a, **kw)
            finally:
                shard[key] += time.perf_counter() - t0
        return inner

    def timed_kernel(blocks, pos_fetch=None):
        tot["blocks_fetched"] += len(blocks)
        if pos_fetch is not None:
            pos_fetch = timed(pos_fetch, "pos")
        t0 = time.perf_counter()
        try:
            return kernel(blocks, pos_fetch)
        finally:
            shard["kernel"] += time.perf_counter() - t0

    gen = bm25._direct_fetch_gen(postings_path, present, phrase_terms,
                                 timed_kernel)
    bm25.load_tombstones_range = timed(orig_load, "tomb")
    try:
        for sid in shard_ids:
            shard.update(kernel=0.0, pos=0.0, tomb=0.0)
            tombstones._load_range_cached.cache_clear()
            for k in bm25.DECODE_STATS:
                bm25.DECODE_STATS[k] = 0
            t0 = time.perf_counter()
            for _ in gen(iter([pd.DataFrame({"shard_id": [int(sid)]})])):
                pass
            wall = time.perf_counter() - t0
            tot["score"] += shard["kernel"] - shard["pos"] - shard["tomb"]
            tot["fetch"] += wall - shard["kernel"] + shard["pos"]
            tot["tomb"] += shard["tomb"]
            for k in ("blocks_decoded", "pos_blocks_fetched",
                      "pos_blocks_decoded"):
                tot[k] += bm25.DECODE_STATS[k]
    finally:
        bm25.load_tombstones_range = orig_load
    return tot
