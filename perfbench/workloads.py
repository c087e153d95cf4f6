"""The closed-loop workloads (one client each) and their checks.

Every workload derives its corpus and its per-op inputs from the workload
seed, so one seed always sends the same sequence of ops. Inputs are made
before an op's clock starts; checks run after the timed ops; output
directories are deleted after each op, outside its time.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import time
from dataclasses import dataclass, field, replace

import numpy as np
import pandas as pd

from solr_mapreduce_indexer_spark.config import IndexConfig
from solr_mapreduce_indexer_spark.index import build, merge
from solr_mapreduce_indexer_spark.index.manifest import read_manifest
from solr_mapreduce_indexer_spark.query import bm25
from solr_mapreduce_indexer_spark.query.oracle import PandasOracle
from solr_mapreduce_indexer_spark.sources.transcripts import (
    NEEDLES, TRANSCRIPT_SCHEMA, synth_transcripts_pandas)

TURNS_PER_CONV = 8
VOCAB = 10_000
# S=4 served shards over R=16 micro-shards with fanout 4: one merge level,
# with term_stats running beside it
BASE_CFG = IndexConfig(shards=4, reducers=16, fanout=4)
# update builds base and delta without a merge tree (R = S = 4); the merged
# index serves 8 tombstoned shards
UPDATE_CFG = IndexConfig(shards=4)
SCORE_TOL = 1e-9


@dataclass(frozen=True)
class Scale:
    corpus_convs: int      # corpus size in conversations of 8 turns
    warmup_ops: dict       # full-size ops per workload before the clock
    min_ops: dict          # timed ops per workload, run even past --seconds
    batches: dict          # distinct query batches per workload; ops cycle
    batch: int             # search queries per batch
    update_queries: int    # queries per update op
    delta_frac: float      # update delta size as a share of the corpus
    replays: int           # traced in-process level-0 kernel replays


SCALES = {
    "full": Scale(corpus_convs=3000,
                  warmup_ops={"search": 2, "update": 1},
                  min_ops={"search": 10, "update": 3},
                  batches={"search": 4, "update": 3},
                  batch=64, update_queries=16,
                  delta_frac=0.1, replays=9),
    "tiny": Scale(corpus_convs=60,
                  warmup_ops={"search": 1, "update": 0},
                  min_ops={"search": 3, "update": 3},
                  batches={"search": 2, "update": 2},
                  batch=10, update_queries=6,
                  delta_frac=0.2, replays=2),
}


@dataclass
class Context:
    spark: object
    seed: int
    scale: Scale
    work: str
    tracer: object | None = None
    plant_wrong_row: bool = False


def text_bytes(pdf: pd.DataFrame) -> int:
    return int(pdf["text"].str.encode("utf-8").str.len().sum())


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f))
                     for f in files if not f.startswith("."))
    return total


def served_bytes(index_dir: str) -> int:
    """Bytes of what queries read: final level, docmap and term_stats."""
    m = read_manifest(index_dir)
    return (dir_bytes(m["levels"][-1]["path"])
            + dir_bytes(os.path.join(index_dir, "docmap"))
            + dir_bytes(os.path.join(index_dir, "term_stats")))


def make_corpus(n_convs: int, seed: int) -> pd.DataFrame:
    return synth_transcripts_pandas(n_convs=n_convs,
                                    turns_per_conv=TURNS_PER_CONV,
                                    vocab_size=VOCAB, seed=seed)


def write_corpus(ctx: Context, pdf: pd.DataFrame, path: str):
    """Write the corpus as one parquet file per core with pyarrow and read
    it back with Spark. Shipping the frame through createDataFrame and a
    Spark write took ~5 s of every run's set-up, none of it engine work."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema
    schema = to_arrow_schema(TRANSCRIPT_SCHEMA)
    os.makedirs(path)
    files = ctx.spark.sparkContext.defaultParallelism
    for j, rows in enumerate(np.array_split(np.arange(len(pdf)), files)):
        pq.write_table(pa.Table.from_pandas(pdf.iloc[rows], schema=schema,
                                            preserve_index=False),
                       os.path.join(path, f"part-{j:05d}.parquet"))
    return ctx.spark.read.parquet(path)


def make_queries(rng: np.random.Generator, n: int, texts: np.ndarray,
                 phrase: bool) -> list[dict]:
    """Query mix: Zipf-head AND, mid-range OR, needle AND, tail + absent OR,
    and (when `phrase`) PHRASE pairs of adjacent corpus tokens."""
    kinds = 5 if phrase else 4
    qs = []
    for i in range(n):
        kind = i % kinds
        if kind == 0:
            terms = [f"tok{int(rng.integers(0, 20)):05d}" for _ in range(2)]
            mode = "AND"
        elif kind == 1:
            terms = [f"tok{int(rng.integers(20, 500)):05d}",
                     f"tok{int(rng.integers(20, 500)):05d}",
                     f"tok{int(rng.integers(500, 2000)):05d}"]
            mode = "OR"
        elif kind == 2:
            terms = [NEEDLES[int(rng.integers(0, len(NEEDLES)))],
                     f"tok{int(rng.integers(0, 50)):05d}"]
            mode = "AND"
        elif kind == 3:
            terms = [f"tok{int(rng.integers(2000, VOCAB)):05d}", "absentterm"]
            mode = "OR"
        else:
            toks = texts[int(rng.integers(0, len(texts)))].split()
            j = int(rng.integers(0, len(toks) - 1))
            terms = toks[j:j + 2]
            mode = "PHRASE"
        qs.append({"query_id": i, "terms": terms, "mode": mode, "k": 10})
    return qs


def phrase_scan(oracle: PandasOracle, terms: list[str], k: int) -> pd.DataFrame:
    """Independent PHRASE scorer: count consecutive occurrences in each
    doc's token list and score them with Lucene's PhraseQuery BM25."""
    docs = set(oracle.tf.get(terms[0], {}))
    for t in terms[1:]:
        docs &= set(oracle.tf.get(t, {}))
    toks = oracle.docs.set_index("doc_id")["tokens"]
    w = sum(oracle.idf(t) for t in terms)
    n = len(terms)
    scored = []
    for d in docs:
        tl = toks.at[d]
        pf = sum(1 for i in range(len(tl) - n + 1) if tl[i:i + n] == terms)
        if pf:
            dl = oracle.dl[d]
            tfn = pf * (oracle.k1 + 1) / (
                pf + oracle.k1 * (1 - oracle.b + oracle.b * dl / oracle.avgdl))
            scored.append((d, w * tfn))
    scored.sort(key=lambda x: (-x[1], x[0]))
    return pd.DataFrame(scored[:k], columns=["doc_id", "score"])


def same_ranking(got: pd.DataFrame, want: pd.DataFrame,
                 key: list[str]) -> bool:
    """Same length, same scores rank by rank, and every returned doc (named
    by the `key` columns) either has the expected score or ties the last
    expected score (an exact tie at the k-th place may be broken either way
    by float rounding)."""
    if len(got) != len(want):
        return False
    gs = got["score"].to_numpy(np.float64)
    ws = want["score"].to_numpy(np.float64)
    if not np.allclose(gs, ws, rtol=SCORE_TOL, atol=SCORE_TOL):
        return False
    wmap = dict(zip(want[key].itertuples(index=False, name=None), ws))
    last = ws[-1] if len(ws) else 0.0
    for d, s in zip(got[key].itertuples(index=False, name=None), gs):
        ref = wmap.get(d, last)
        if abs(ref - s) > SCORE_TOL * (1 + abs(s)):
            return False
    return True


def query_batch(ctx: Context, h, queries: list[dict]) -> pd.DataFrame:
    """One batch, collected to the driver: the op's query part."""
    span = (ctx.tracer.span("query.batch") if ctx.tracer is not None
            else contextlib.nullcontext())
    with span:
        return bm25.run_queries(ctx.spark, h, queries).toPandas()


@dataclass
class Workload:
    """Ops cycle through `self.batches`, query batches made in set-up from
    [seed, stream, batch number]. Every op's rows must equal those of the
    first op that sent the same batch; check_batches() checks every
    `sample_stride`-th query of each distinct batch against an oracle and
    fails every op that returned that batch's first rows on a mismatch.
    The stride is coprime to the number of query kinds, so the sample holds
    every kind."""
    ctx: Context
    failed: set = field(default_factory=set)
    notes: list = field(default_factory=list)
    index_ratio: list = field(default_factory=list)
    setup_parts: dict = field(default_factory=dict)
    first_rows: dict = field(default_factory=dict)    # batch -> rows
    same_as_first: dict = field(default_factory=dict)  # batch -> [op]

    unit_name = "units"

    def fail(self, i: int, why: str) -> None:
        self.failed.add(i)
        self.notes.append(f"op {i}: {why}")

    def path(self, *parts: str) -> str:
        return os.path.join(self.ctx.work, *parts)

    def make_batches(self, stream: int, n_queries: int, texts: np.ndarray,
                     phrase: bool) -> None:
        self.batches = [
            make_queries(np.random.default_rng([self.ctx.seed, stream, b]),
                         n_queries, texts, phrase)
            for b in range(self.ctx.scale.batches[self.name])]

    def batch_of(self, i: int) -> int:
        return i % len(self.batches)

    def compare_to_first(self, i: int, rows: pd.DataFrame) -> None:
        b = self.batch_of(i)
        rows = rows.sort_values(["query_id", "rank"]).reset_index(drop=True)
        first = self.first_rows.setdefault(b, rows)
        if rows.equals(first):
            self.same_as_first.setdefault(b, []).append(i)
        else:
            self.fail(i, f"rows of batch {b} differ from its first op's")

    def check_batches(self, want_fn, key: list[str]) -> None:
        """want_fn(query) -> the oracle's top k."""
        for b, rows in sorted(self.first_rows.items()):
            for q in self.batches[b][::self.sample_stride]:
                got = rows[rows["query_id"] == q["query_id"]]
                if not same_ranking(got, want_fn(q), key):
                    for i in self.same_as_first.get(b, []):
                        self.fail(i, f"batch {b} query {q} differs from "
                                     "the oracle")
                    break

    def units(self, _inp) -> int:
        return len(self.batches[0])

    # subclasses: name; setup(); prepare(i) -> inp, made before the clock
    # starts; op(i, inp) -> out, the timed part; after(i, inp, out), which
    # checks and deletes the op's output; units(inp); check(), after all
    # ops. Warm-up ops have i < 0 and are not checked.


class SearchWorkload(Workload):
    """64-query batches over a positional index built in set-up."""
    name = "search"
    unit_name = "queries"
    sample_stride = 8  # five query kinds

    def setup(self) -> None:
        sc = self.ctx.scale
        t0 = time.perf_counter()
        self.pdf = make_corpus(sc.corpus_convs, self.ctx.seed)
        self.src = self.path("corpus")
        self.tr = write_corpus(self.ctx, self.pdf, self.src)
        self.make_batches(1, sc.batch, self.pdf["text"].to_numpy(),
                          phrase=True)
        self.setup_parts["corpus_s"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        self.cfg = replace(BASE_CFG, positions=True)
        self.index_dir = self.path("index")
        build.build_index(self.ctx.spark, self.tr, self.cfg, self.index_dir,
                          input_path=self.src, resume=False)
        self.setup_parts["index_s"] = time.perf_counter() - t0
        self.index_ratio.append(served_bytes(self.index_dir)
                                / text_bytes(self.pdf))

    def prepare(self, i: int) -> list[dict]:
        return self.batches[self.batch_of(i)]

    def op(self, i: int, batch: list[dict]) -> pd.DataFrame:
        self.last_handle = bm25.load_index(self.index_dir)
        return query_batch(self.ctx, self.last_handle, batch)

    def after(self, i: int, _batch, rows: pd.DataFrame) -> None:
        if i < 0:
            return
        if self.ctx.plant_wrong_row and i == 1 and len(rows):
            rows = rows.sort_values(["query_id", "rank"]) \
                .reset_index(drop=True)
            rows.loc[0, "doc_id"] += 1
        self.compare_to_first(i, rows)

    def check(self) -> None:
        """AND/OR against the pandas oracle, PHRASE against the positional
        scan."""
        if not self.first_rows:
            return
        oracle = PandasOracle(self.pdf, shards=self.cfg.shards,
                              partitions=self.cfg.plan_build_partitions()[0])

        def want(q):
            if q["mode"] == "PHRASE":
                return phrase_scan(oracle, q["terms"], q["k"])
            return oracle.score(q["terms"], q["mode"], q["k"])
        self.check_batches(want, ["doc_id"])


class UpdateWorkload(Workload):
    """Per op: merge a delta into the base index, then query the merge.

    Base and delta are built in set-up; each op runs merge_indexes into a
    fresh directory and answers a 16-query batch on the merged, tombstoned
    index."""
    name = "update"
    unit_name = "delta turns"
    sample_stride = 3  # four query kinds (no PHRASE)

    def setup(self) -> None:
        sc = self.ctx.scale
        t0 = time.perf_counter()
        self.pdf = make_corpus(sc.corpus_convs, self.ctx.seed)
        self.src = self.path("corpus")
        self.tr = write_corpus(self.ctx, self.pdf, self.src)
        self.delta = self._make_delta(max(1, int(sc.corpus_convs
                                                 * sc.delta_frac)))
        self.delta_src = self.path("delta_src")
        delta_tr = write_corpus(self.ctx, self.delta, self.delta_src)
        self.text = text_bytes(self.pdf) + text_bytes(self.delta)
        self.make_batches(3, sc.update_queries, self.delta["text"].to_numpy(),
                          phrase=False)
        self.setup_parts["corpus_s"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        self.cfg = UPDATE_CFG
        self.base_dir, self.delta_dir = self.path("base"), self.path("delta")
        build.build_index(self.ctx.spark, self.tr, self.cfg, self.base_dir,
                          input_path=self.src, resume=False)
        build.build_index(self.ctx.spark, delta_tr, self.cfg, self.delta_dir,
                          input_path=self.delta_src, resume=False)
        self.setup_parts["index_s"] = time.perf_counter() - t0

    def _make_delta(self, n_convs: int) -> pd.DataFrame:
        """90% new conversations, 10% newer versions of existing keys."""
        seed = [self.ctx.seed, 2]
        d = make_corpus(n_convs,
                        int(np.random.SeedSequence(seed).generate_state(1)[0]))
        d["conv_id"] = "delta-" + d["conv_id"]
        rng = np.random.default_rng(seed)
        self.n_rewrites = len(d) // 10
        pick = rng.choice(len(self.pdf), size=self.n_rewrites, replace=False)
        rows = rng.choice(len(d), size=self.n_rewrites, replace=False)
        d.loc[rows, "conv_id"] = self.pdf["conv_id"].to_numpy()[pick]
        d.loc[rows, "turn_idx"] = self.pdf["turn_idx"].to_numpy()[pick]
        # newer than every base turn (synthetic timestamps run years ahead)
        d["ts"] = self.pdf["ts"].max() + pd.Timedelta(days=1)
        return d

    def prepare(self, i: int) -> tuple[str, list[dict]]:
        return self.path(f"merged_{i}"), self.batches[self.batch_of(i)]

    def op(self, i: int, inp) -> pd.DataFrame:
        merged, batch = inp
        merge.merge_indexes(self.ctx.spark, [self.base_dir, self.delta_dir],
                            merged)
        self.last_handle = bm25.load_index(merged)
        return query_batch(self.ctx, self.last_handle, batch)

    def after(self, i: int, inp, rows: pd.DataFrame) -> None:
        merged = inp[0]
        if i >= 0:
            self._check_op(i, merged, rows)
            self.index_ratio.append(served_bytes(merged) / self.text)
        shutil.rmtree(merged, ignore_errors=True)

    def _check_op(self, i: int, merged: str, rows: pd.DataFrame) -> None:
        """Tombstones = rewritten keys; no key served twice, by the live
        docmap or by a query; every op returns its batch's first rows."""
        import pyarrow.dataset as pads
        m = read_manifest(merged)
        n_tomb = int((m.get("tombstones") or {}).get("n", 0))
        if n_tomb != self.n_rewrites:
            self.fail(i, f"{n_tomb} tombstones for {self.n_rewrites} "
                         "rewritten keys")
        dm = pads.dataset(os.path.join(merged, "docmap"),
                          format="parquet", partitioning="hive") \
            .to_table(columns=["doc_id", "conv_id", "turn_idx"]).to_pandas()
        dead = set()
        if m.get("tombstones"):
            dead = set(pads.dataset(m["tombstones"]["path"], format="parquet")
                       .to_table(columns=["doc_id"])["doc_id"].to_pylist())
        live = dm[~dm["doc_id"].isin(dead)]
        if live.duplicated(["conv_id", "turn_idx"]).any():
            self.fail(i, "a key is served twice by the live docmap")
        if self.ctx.plant_wrong_row and i == 0 and len(rows):
            rows = pd.concat([rows, rows.iloc[:1]], ignore_index=True)
        if rows["doc_id"].isin(dead).any() or \
                rows.duplicated(["query_id", "conv_id", "turn_idx"]).any():
            self.fail(i, "a query served a tombstoned or repeated key")
        self.compare_to_first(i, rows)

    def units(self, _inp) -> int:
        return len(self.delta)

    def check(self) -> None:
        """The merged index scores with corpus statistics (doc count, df,
        avgdl) that still count the tombstoned base versions of rewritten
        keys, and serves only the most recent versions. So the oracle is
        built on base + delta without de-duplication, and the older version
        of each rewritten key is dropped from its ranking. Docs are compared
        by key: the merge renumbers them."""
        if not self.first_rows:
            return
        both = pd.concat([self.pdf, self.delta], ignore_index=True)
        oracle = PandasOracle(both, shards=self.cfg.shards,
                              partitions=self.cfg.plan_build_partitions()[0],
                              dedup="none")
        docs = oracle.docs.sort_values(["conv_id", "turn_idx", "ts"])
        losers = set(docs.loc[docs.duplicated(["conv_id", "turn_idx"],
                                              keep="last"), "doc_id"])

        def want(q):
            top = oracle.score(q["terms"], q["mode"],
                               q["k"] + self.n_rewrites)
            top = top[~top["doc_id"].isin(losers)].head(q["k"])
            return top.reset_index(drop=True)
        self.check_batches(want, ["conv_id", "turn_idx"])


WORKLOADS = {"search": SearchWorkload, "update": UpdateWorkload}
