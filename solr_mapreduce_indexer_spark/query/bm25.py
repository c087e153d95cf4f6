"""Top-k BM25 query evaluation over posting-block segments.

Semantics target (SURVEY §2.7): Lucene/Solr 7.7.2 BM25Similarity —
  idf(t)      = ln(1 + (N - df + 0.5) / (df + 0.5))
  tfnorm(t,d) = tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))
  score(q,d)  = Σ_t idf(t) * tfnorm(t,d)        (k1=1.2, b=0.75)
AND = posting intersection, OR = union; ties break by ascending doc_id.

Physical plan (Solr/ES fan-out shape; the only one): the batch runs as ONE
stage of min(|shards|, defaultParallelism) tasks, each handed several shard
ids by a JVM-side range, so each task runs one Python worker. For each of
its shards a task reads that shard's own hive partition of the served level
directly — pyarrow with the batch's `term IN (...)` pushed
down; segments are written sorted by term so row-group stats prune — and
scores every query in the batch vectorized (numpy) in one kernel call,
emitting per-(query, shard) top-k candidates; the driver ranks them into
each query's global top-k. No shuffle touches payload bytes. Every read
outside the stage (df lookup, docmap map-back) is pyarrow too, through
`fsutil.arrow_fs`; storage pyarrow cannot open raises on the driver at the
df lookup, before any job (README "Storage access"). All float math is
float64 with a fixed term-iteration order (sorted terms) so results are
reproducible and oracle-comparable.

Block-max pruning (SURVEY §2.7 Q5; Ding & Suel SIGIR'11, reference semantics
from shaded Lucene's BlockMax WAND): every block stores max_tfnorm, so
idf·max_tfnorm is a sound per-block score bound. The kernel uses it three ways:

* AND: the rarest term is the essential list, processed in descending
  per-block bound order (bound = block ub + Σ other-term ubs); once k
  conjunctive matches are scored, all remaining essential blocks whose bound
  falls below the running k-th score are never decoded. Non-essential terms
  decode only blocks whose doc range intersects surviving candidates.
* OR: vectorized MaxScore (Turtle & Flood '95). Essential terms decode fully
  only the blocks that could mint a NEW top-k doc (block ub + remaining
  suffix ≥ θ); their other blocks decode update-only where they overlap
  candidates. Non-essential terms first drop candidates whose partial score
  + remaining suffix can't reach θ, then decode only candidate-overlapping
  blocks.
* All decoded blocks are cached per (term, block) for the whole query batch,
  so a Zipf-head term is decoded at most once per shard per batch.

Skipping is exact, not approximate: bounds are accumulated in the same
left-to-right order as real scores (floating-point monotonicity) and compared
with a 1e-9 absolute slack, so skipped docs are provably below the k-th score
— results are bit-identical to exhaustive evaluation.
"""

from __future__ import annotations

import functools
import math
import operator
import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..config import IndexConfig
from ..fsutil import arrow_fs, data_files
from ..index.codec import (bm25_tfnorm, decode_block, decode_positions,
                           tune_allocator)
from ..index.manifest import read_manifest
from ..index.tombstones import (doc_lens_of, load_doc_lens,
                                load_tombstones_range)


@dataclass
class IndexHandle:
    index_dir: str
    cfg: IndexConfig
    n_docs: int
    avgdl: float
    postings_path: str
    term_stats_path: str
    docmap_path: str
    tombstones_path: str | None = None
    shard_ids: tuple = ()  # shard ids of the final (served) level


def load_index(index_dir: str) -> IndexHandle:
    m = read_manifest(index_dir)
    cfg = IndexConfig.from_dict(m["config"])
    final = m["levels"][-1]
    tombs = m.get("tombstones")
    # The served level's shard ids come from the manifest, NOT cfg.shards:
    # a merge-less or streaming-generation index serves straight from a
    # micro-sharded level.
    # set(): a duplicate shard id would double-read (and double-score) that
    # shard under the direct-fetch plan
    sids = tuple(sorted({int(s["shard_id"]) for s in final.get("segments", [])}))
    if not sids and "n_shards" in final:
        sids = tuple(range(int(final["n_shards"])))
    return IndexHandle(
        index_dir=index_dir,
        cfg=cfg,
        n_docs=int(m["stats"]["n_docs"]),
        avgdl=float(m["stats"]["avgdl"]),
        postings_path=final["path"],
        term_stats_path=os.path.join(index_dir, "term_stats"),
        docmap_path=os.path.join(index_dir, "docmap"),
        tombstones_path=tombs["path"] if tombs else None,
        shard_ids=sids,
    )


def idf(n_docs: int, df: int) -> float:
    return math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))


def _lookup_dfs(spark: SparkSession, h: IndexHandle, terms: list[str]) -> dict[str, int]:
    """df per term — a coordinator POINT-READ, not a Spark job. term_stats is
    written range-partitioned + sorted by term, so pyarrow's `term IN` filter
    prunes to the overlapping row groups; the read is bounded by |terms|, not
    corpus size, and skips a whole Spark job's scheduling latency per batch.
    It is a batch's first storage read, so storage pyarrow cannot open
    raises here, on the driver, before any Spark job launches."""
    import pyarrow as pa
    import pyarrow.dataset as pads
    fs, base = arrow_fs(h.term_stats_path)
    # typed value set: an empty list would be a null array, which pyarrow
    # refuses to compare with the string column
    tbl = (pads.dataset(base, filesystem=fs, format="parquet")
           .to_table(columns=["term", "df"], filter=pads.field("term").isin(
               pa.array(terms, pa.string()))))
    return {t: int(d) for t, d in
            zip(tbl["term"].to_pylist(), tbl["df"].to_pylist())}


# Decoded-block observability: incremented on every block-cache MISS inside
# the scoring kernel. Executors each have their own copy; tests call the
# kernel in-process to measure pruning (see tests/test_blockmax.py).
DECODE_STATS = {"blocks_decoded": 0, "pos_blocks_decoded": 0,
                "pos_blocks_fetched": 0}

_EPS = 1e-9  # absolute slack on bound-vs-theta comparisons (scores are O(10))


def _direct_fetch_gen(postings_path: str, present: list[str],
                      phrase_terms: list[str], score_fn):
    """mapInPandas generator: rows of shard ids → scored candidates, one
    `score_fn(blocks, pos_fetch)` call per shard id — a Solr/ES shard
    reading its own segment files, so no exchange moves payload bytes.

    Reads ONLY the columns the kernel touches (term, doc range, max_tfnorm,
    doc and tf payloads); the kernel reads the shard's doc lengths from the
    docmap itself (load_doc_lens). Position payloads are not read up front
    at all: the kernel calls `pos_fetch({term: [first_doc, ...]})` once per
    shard with every candidate-overlapping block of the batch's PHRASE
    queries, and gets back
    `{(term, first_doc): pos_bytes}` from ONE scan (filter: OR over terms of
    `term == t AND first_doc IN (...)`, row-group pruned by the term-sorted
    layout) — a Zipf-head phrase term's non-candidate position payloads never
    leave storage. `pos_fetch` is None when the batch has no PHRASE term or
    the shard holds no position payloads."""
    cols = ["term", "first_doc", "last_doc", "max_tfnorm",
            "doc_bytes", "tf_bytes"]

    def gen(pdfs):
        import pyarrow.dataset as pads
        fs, root = arrow_fs(postings_path)
        root = root.rstrip("/")
        for pdf in pdfs:
            for sid in pdf["shard_id"].tolist():
                # Each shard is read from ONLY its own partition directory: a
                # root-level hive discovery would list all S shard dirs once
                # per shard — O(S²) storage listings per batch at 1000
                # shards. (Dir name is Spark's partitionBy layout; shard ids
                # come from the manifest, so the dir exists for every id
                # handed to us.)
                ds = pads.dataset(f"{root}/shard_id={int(sid)}",
                                  filesystem=fs, format="parquet")
                blocks = ds.to_table(
                    columns=cols,
                    filter=pads.field("term").isin(present)).to_pandas()
                pos_fetch = None
                if phrase_terms and "pos_bytes" in ds.schema.names:
                    def pos_fetch(needs, ds=ds):
                        flt = functools.reduce(operator.or_, (
                            (pads.field("term") == t)
                            & pads.field("first_doc").isin(
                                [int(x) for x in fds])
                            for t, fds in needs.items()))
                        t = ds.to_table(
                            columns=["term", "first_doc", "pos_bytes"],
                            filter=flt)
                        return dict(zip(zip(t["term"].to_pylist(),
                                            t["first_doc"].to_pylist()),
                                        t["pos_bytes"].to_pylist()))
                yield score_fn(blocks, pos_fetch)
    return gen


def _score_shard_kernel(queries: list[dict], idfs: dict[str, float],
                        avgdl: float, k1: float, b: float, docmap_path: str,
                        tombstones_path: str | None = None,
                        doc_bits: int = 40):
    """Kernel over one shard's blocks for the whole query batch:
    `score(pdf, pos_fetch=None)`, where `pdf` holds the shard's blocks
    (term, first_doc, last_doc, max_tfnorm, doc_bytes, tf_bytes; other
    columns are ignored) in any row order: a merged shard directory yields
    its files' rows one file after another. Output: query_id, doc_id, score
    (per-shard top-k candidates).

    BM25's doc lengths come from the docmap, read once per shard on the
    executor: the `docmap_path` directories of the micro-shards the blocks
    cover (load_doc_lens, cached per process like tombstones).

    Decode sharing is the key batch economics: blocks are cached per
    (term, block), so a term referenced by many queries (Zipf head) is
    decoded at most once per shard per batch regardless of which query (or
    which pruning path) touches it. One call per shard mirrors how a Solr/ES
    query fans out — per-shard work is the unit of query parallelism; a task
    runs the kernel for each of the shards it was handed.

    Position payloads of a PHRASE batch are read in one call per shard:
    phase 1 (doc-level candidates) runs for every PHRASE query first, then
    `pos_fetch({term: [first_doc, ...]}) → {(term, first_doc): pos_bytes}`
    is called once with every candidate-overlapping block of every phrase
    slot; without a `pos_fetch` a PHRASE query with candidates raises.
    Phase 2 decodes positions lazily, slot by slot, so
    DECODE_STATS["pos_blocks_fetched"] can exceed "pos_blocks_decoded" —
    but only when a phrase's slot intersection empties before its last
    slot, leaving the later slots' fetched blocks undecoded.

    Tombstones (duplicate-key losers awaiting compaction) are read HERE, per
    shard: the kernel loads only its own doc-id slice of the tombstone
    parquet (sorted by doc_id, so the read is row-group-pruned) — the
    tombstone set never lands on the driver, so even adversarially
    collision-heavy merges (two overlapping 100 TB generations) stay
    O(shard slice) per task."""

    def score(pdf: pd.DataFrame, pos_fetch=None) -> pd.DataFrame:
        tune_allocator()
        # Rows sorted by (term, first_doc) once, then numpy slices per term:
        # row order is file order, and a shard directory may hold several
        # files, so the sort is needed.
        codes, uniq = pd.factorize(pdf["term"], sort=True)
        rows = np.lexsort((pdf["first_doc"].to_numpy(), codes))
        starts = np.searchsorted(codes[rows], np.arange(len(uniq) + 1))
        span = {t: (starts[j], starts[j + 1]) for j, t in enumerate(uniq)}
        firsts_all, lasts_all, mx_all, db_all, tb_all = (
            pdf[c].to_numpy()[rows] for c in (
                "first_doc", "last_doc", "max_tfnorm",
                "doc_bytes", "tf_bytes"))
        norms = load_doc_lens(docmap_path, firsts_all, lasts_all, doc_bits)
        tombstones = None
        if tombstones_path is not None and len(pdf):
            tombstones = load_tombstones_range(
                tombstones_path, int(firsts_all.min()),
                int(lasts_all.max()), doc_bits)
            if not len(tombstones):
                tombstones = None
        meta: dict[str, tuple] = {}
        block_cache: dict[tuple[str, int], tuple[np.ndarray, np.ndarray]] = {}

        def term_meta(t: str) -> tuple:
            """(firsts, lasts, block score ubs, doc/tf byte arrays)."""
            m = meta.get(t)
            if m is None:
                s, e = span[t]
                m = (firsts_all[s:e], lasts_all[s:e], idfs[t] * mx_all[s:e],
                     db_all[s:e], tb_all[s:e])
                meta[t] = m
            return m

        def decode_blocks(t: str, idx: np.ndarray):
            """Decode the given block ordinals of term t (per-block cache);
            returns (doc_ids, bm25 contributions) concatenated. Tombstoned
            docs (duplicate-key losers awaiting compaction) are dropped at
            decode, before caching — Lucene live-docs semantics, so they can
            never enter a candidate set or displace a live top-k doc."""
            firsts, _lasts, _ubs, db, tb = term_meta(t)
            docs, contribs = [], []
            for i in idx:
                i = int(i)
                got = block_cache.get((t, i))
                if got is None:
                    d, tf = decode_block(db[i], tb[i], int(firsts[i]))
                    if tombstones is not None and len(tombstones) and len(d):
                        pos = np.clip(np.searchsorted(tombstones, d), 0,
                                      len(tombstones) - 1)
                        keep = tombstones[pos] != d
                        d, tf = d[keep], tf[keep]
                    got = (d, idfs[t] * bm25_tfnorm(
                        tf, doc_lens_of(*norms, d), avgdl, k1, b))
                    block_cache[(t, i)] = got
                    DECODE_STATS["blocks_decoded"] += 1
                docs.append(got[0])
                contribs.append(got[1])
            if not docs:
                return np.empty(0, np.int64), np.empty(0, np.float64)
            return np.concatenate(docs), np.concatenate(contribs)

        def blocks_hitting(t: str, cand: np.ndarray) -> np.ndarray:
            """Ordinals of t's blocks whose [first_doc, last_doc] range
            intersects any of the sorted candidate doc ids."""
            if len(cand) == 0:
                return np.empty(0, np.int64)
            firsts, lasts, *_ = term_meta(t)
            lo = np.searchsorted(cand, firsts, side="left")
            hi = np.searchsorted(cand, lasts, side="right")
            return np.flatnonzero(hi > lo)

        pos_cache: dict[tuple[str, int], tuple] = {}
        pos_map: dict[tuple[str, int], bytes] = {}  # fetched, not decoded

        def decode_pos_blocks(t: str, idx: np.ndarray):
            """Decode the given block ordinals of term t WITH positions →
            concatenated (docs, tfs, pos_flat), tombstones applied.
            Per-block cache for the whole batch: the phrase doc-intersection
            phase and the position-intersection phase touch each block ONCE.
            Only the rarest term decodes all its blocks; every other term's
            blocks reach here through blocks_hitting, so a Zipf-head phrase
            term never decodes its full posting+position stream — Lucene
            PhraseQuery's two-phase iteration, where positions are consulted
            only for docs passing the conjunctive doc-level approximation.
            Payloads come from pos_map, which the batch's one pos_fetch call
            filled with every block phase 2 can ask for."""
            firsts, _lasts, _ubs, db, tb = term_meta(t)
            idx_sorted = np.sort(np.asarray(idx, dtype=np.int64))
            ds_, ts_, ps_ = [], [], []
            for i in idx_sorted:
                i = int(i)
                got = pos_cache.get((t, i))
                if got is None:
                    pb = pos_map.pop((t, int(firsts[i])), None)
                    if pb is None or len(pb) == 0:
                        raise ValueError(
                            "PHRASE queries require an index built with "
                            "positions=True (IndexConfig.positions)")
                    d, tf = decode_block(db[i], tb[i], int(firsts[i]))
                    p, _ = decode_positions(pb, tf)
                    if tombstones is not None and len(tombstones) and len(d):
                        ix = np.clip(np.searchsorted(tombstones, d), 0,
                                     len(tombstones) - 1)
                        keep = tombstones[ix] != d
                        p = p[np.repeat(keep, tf)]
                        d, tf = d[keep], tf[keep]
                    got = (d, tf, p)
                    pos_cache[(t, i)] = got
                    DECODE_STATS["blocks_decoded"] += 1
                    DECODE_STATS["pos_blocks_decoded"] += 1
                ds_.append(got[0]); ts_.append(got[1]); ps_.append(got[2])
            if not ds_:
                z = np.empty(0, np.int64)
                return z, z, z
            return (np.concatenate(ds_), np.concatenate(ts_),
                    np.concatenate(ps_))

        def intersect_update(cand_docs, cand_scores, d, c):
            """AND-step: keep candidates present in (d, c), add contribution."""
            pos = np.searchsorted(cand_docs, d)
            pos = np.clip(pos, 0, max(len(cand_docs) - 1, 0))
            hit = (cand_docs[pos] == d) if len(cand_docs) else \
                np.zeros(len(d), dtype=bool)
            keep_mask = np.zeros(len(cand_docs), dtype=bool)
            keep_mask[pos[hit]] = True
            add = np.zeros(len(cand_docs), dtype=np.float64)
            add[pos[hit]] = c[hit]
            return cand_docs[keep_mask], (cand_scores + add)[keep_mask]

        PAD = 64  # phrase slot shift head-room; bounds phrase length

        def phrase_candidates(terms: list[str]) -> np.ndarray:
            """PHRASE phase 1: sorted docs holding every phrase term.
            Exact-phrase BM25 (Lucene PhraseQuery semantics): docs
            containing the terms at CONSECUTIVE positions; tf = number of
            phrase occurrences; weight = Σ idf(tᵢ) over the phrase slots.
            CONJUNCTION-DRIVEN, two-phase like Lucene 7.7.2 PhraseQuery (the
            reference output format's evaluator): phase 1 intersects doc
            sets rarest-term-outward — only the rarest term's postings
            decode fully; every other term decodes only blocks whose doc
            range intersects surviving candidates (block metadata, no
            payload touch otherwise). Phase 2 decodes POSITIONS only for
            candidate-overlapping blocks and intersects per-slot
            (doc, pos − slot) key sets; survivors' counts are the phrase
            freqs. A Zipf-head term in the phrase therefore costs
            O(candidate blocks), not a full posting+position decode."""
            uniqs = sorted(set(terms))
            if not terms or any(t not in span for t in uniqs):
                return np.empty(0, np.int64)
            if len(terms) > PAD:
                raise ValueError(f"phrase longer than {PAD} terms "
                                 "is unsupported")
            if pos_fetch is None:
                raise ValueError(
                    "PHRASE queries require an index built with "
                    "positions=True (IndexConfig.positions)")
            by_rarity = sorted(uniqs, key=lambda t: (-idfs[t], t))
            # Phase 1 is postings-only (decode_blocks): the doc/tf
            # streams are separate payloads from positions, so a block ruled
            # out here NEVER pays position decode — even the lead term's.
            # Positions are decoded lazily in phase 2 for candidate-
            # overlapping blocks only (Lucene's two-phase iterator:
            # matches() runs only on approximation hits).
            t0 = by_rarity[0]
            cand, _c0 = decode_blocks(t0, np.arange(len(term_meta(t0)[0])))
            for t in by_rarity[1:]:
                d, _c = decode_blocks(t, blocks_hitting(t, cand))
                cand = cand[np.isin(cand, d, assume_unique=True)]
                if not len(cand):
                    break
            return cand

        # Phase 1 of every PHRASE query in the batch first, then ONE read of
        # the position payloads all their phase-2 slots can touch.
        phrase_cand: dict[int, np.ndarray] = {}
        needs: dict[str, set] = {}
        for qi, q in enumerate(queries):
            if q["mode"] != "PHRASE":
                continue
            cand = phrase_candidates(q["terms"])
            if not len(cand):
                continue
            phrase_cand[qi] = cand
            for t in set(q["terms"]):
                needs.setdefault(t, set()).update(
                    term_meta(t)[0][blocks_hitting(t, cand)].tolist())
        if needs:
            got = pos_fetch({t: sorted(v) for t, v in needs.items()})
            DECODE_STATS["pos_blocks_fetched"] += len(got)
            pos_map.update(got)

        out_q, out_d, out_s = [], [], []
        for qi, q in enumerate(queries):
            k = q["k"]
            if q["mode"] == "AND":
                terms = q["terms"]
                if any(t not in span for t in terms):
                    continue  # this shard can't contain a conjunctive match
                # essential list = rarest term (highest idf); process its
                # blocks in descending score-bound order with early stop.
                terms_sorted = sorted(terms, key=lambda t: idfs[t],
                                      reverse=True)
                ess = terms_sorted[0]
                others = sorted(terms_sorted[1:])
                bounds = term_meta(ess)[2].astype(np.float64).copy()
                for t in others:  # same accumulation order as real scores
                    bounds = bounds + float(term_meta(t)[2].max())
                order = np.argsort(-bounds, kind="stable")
                acc_d: list[np.ndarray] = []
                acc_s: list[np.ndarray] = []
                n_acc = 0
                theta = -np.inf
                CHUNK = 32
                for cs in range(0, len(order), CHUNK):
                    sel = order[cs:cs + CHUNK]
                    if bounds[sel[0]] < theta - _EPS:
                        break  # desc bound order: every later block is below
                    cd, csc = decode_blocks(ess, np.sort(sel))
                    o = np.argsort(cd, kind="stable")
                    cd, csc = cd[o], csc[o]
                    for t in others:
                        d, c = decode_blocks(t, blocks_hitting(t, cd))
                        cd, csc = intersect_update(cd, csc, d, c)
                        if len(cd) == 0:
                            break
                    if len(cd):
                        acc_d.append(cd)
                        acc_s.append(csc)
                        n_acc += len(cd)
                        if n_acc >= k:
                            allsc = np.concatenate(acc_s)
                            theta = float(np.partition(allsc, -k)[-k])
                docs = np.concatenate(acc_d) if acc_d else np.empty(0, np.int64)
                scores = (np.concatenate(acc_s) if acc_s
                          else np.empty(0, np.float64))
            elif q["mode"] == "PHRASE":
                # phase 2 over the candidates phase 1 left (see
                # phrase_candidates)
                cand = phrase_cand.get(qi)
                if cand is None:
                    continue
                terms = q["terms"]  # ordered, duplicates meaningful
                keys = None
                for i, t in enumerate(terms):
                    docs_t, tfs_t, pflat = decode_pos_blocks(
                        t, blocks_hitting(t, cand))
                    offs = np.cumsum(tfs_t) - tfs_t
                    ix = np.searchsorted(docs_t, cand)
                    ls, st = tfs_t[ix], offs[ix]
                    total = int(ls.sum())
                    gi = (np.arange(total, dtype=np.int64)
                          - np.repeat(np.cumsum(ls) - ls, ls)
                          + np.repeat(st, ls))
                    p = pflat[gi]
                    dord = np.repeat(np.arange(len(cand), dtype=np.int64),
                                     ls)
                    # pack (candidate ordinal, slot-aligned position) into
                    # one int64 key. 32-bit position field: in-doc positions
                    # are bounded by doc_len (< 2^31), and overflow fails
                    # LOUDLY instead of silently dropping matches (the old
                    # 21-bit field lost phrase hits past ~2.09M tokens).
                    shifted = p - i + PAD
                    if shifted.size and int(shifted.max()) >= (1 << 32):
                        raise ValueError(
                            "in-doc position exceeds 2^32 − 64: document "
                            "too long for the positional key packing")
                    valid = shifted >= 0
                    k_i = (dord[valid] << np.int64(32)) | shifted[valid]
                    keys = k_i if keys is None else \
                        keys[np.isin(keys, k_i, assume_unique=True)]
                    if not len(keys):
                        break
                if keys is None or not len(keys):
                    continue
                ords = (keys >> np.int64(32))
                pf = np.bincount(ords, minlength=len(cand))
                hit = pf > 0
                idf_sum = float(sum(idfs[t] for t in terms))
                docs = cand[hit]
                scores = idf_sum * bm25_tfnorm(
                    pf[hit], doc_lens_of(*norms, docs), avgdl, k1, b)
            else:  # OR — vectorized MaxScore (Turtle & Flood '95) with
                   # block-max skipping in both phases (Q5).
                terms = [t for t in q["terms"] if t in span]
                if not terms:
                    continue
                # term-level score upper bound: idf * max block tfnorm
                ubs = {t: float(term_meta(t)[2].max()) for t in terms}
                # stable order: ub desc, term asc (reproducible float sums)
                ts_sorted = sorted(terms, key=lambda t: (-ubs[t], t))
                suffix = np.cumsum([ubs[t] for t in ts_sorted][::-1])[::-1]
                cand_docs = np.empty(0, np.int64)
                cand_scores = np.empty(0, np.float64)
                theta = -np.inf  # k-th best accumulated score so far
                for i, t in enumerate(ts_sorted):
                    rem_after = float(suffix[i + 1]) if i + 1 < len(ts_sorted) \
                        else 0.0
                    if i > 0 and suffix[i] < theta - _EPS:
                        # non-essential: no unseen doc can reach top-k. Drop
                        # candidates that can't reach theta either (their
                        # final score is provably below the k-th), then
                        # decode only candidate-overlapping blocks.
                        alive = cand_scores + suffix[i] >= theta - _EPS
                        cand_docs = cand_docs[alive]
                        cand_scores = cand_scores[alive]
                        d, c = decode_blocks(t, blocks_hitting(t, cand_docs))
                        pos = np.searchsorted(cand_docs, d)
                        pos = np.clip(pos, 0, max(len(cand_docs) - 1, 0))
                        hit = (cand_docs[pos] == d) if len(cand_docs) else \
                            np.zeros(len(d), dtype=bool)
                        np.add.at(cand_scores, pos[hit], c[hit])
                    else:
                        # essential: only blocks whose bound can mint a NEW
                        # top-k doc decode fully; the rest decode update-only
                        # where they overlap current candidates.
                        block_ubs = term_meta(t)[2]
                        new_idx = np.flatnonzero(
                            block_ubs + rem_after >= theta - _EPS)
                        upd_idx = np.setdiff1d(blocks_hitting(t, cand_docs),
                                               new_idx, assume_unique=True)
                        if len(upd_idx) and len(cand_docs):
                            du, cu = decode_blocks(t, upd_idx)
                            pos = np.searchsorted(cand_docs, du)
                            pos = np.clip(pos, 0, len(cand_docs) - 1)
                            hit = cand_docs[pos] == du
                            np.add.at(cand_scores, pos[hit], cu[hit])
                        d, c = decode_blocks(t, new_idx)
                        alld = np.concatenate([cand_docs, d])
                        allc = np.concatenate([cand_scores, c])
                        cand_docs, inv = np.unique(alld, return_inverse=True)
                        cand_scores = np.bincount(
                            inv, weights=allc, minlength=len(cand_docs))
                    if len(cand_scores) >= k:
                        theta = max(theta, float(
                            np.partition(cand_scores, -k)[-k]))
                docs, scores = cand_docs, cand_scores
            if len(docs) == 0:
                continue
            k = q["k"]
            if len(docs) > k:
                # top-k by (score desc, doc asc): lexsort on (-score, doc)
                idx = np.lexsort((docs, -scores))[:k]
            else:
                idx = np.lexsort((docs, -scores))
            out_q.extend([q["query_id"]] * len(idx))
            out_d.append(docs[idx])
            out_s.append(scores[idx])
        if not out_q:
            return pd.DataFrame({"query_id": pd.Series([], dtype="int64"),
                                 "doc_id": pd.Series([], dtype="int64"),
                                 "score": pd.Series([], dtype="float64")})
        return pd.DataFrame({
            "query_id": np.asarray(out_q, dtype=np.int64),
            "doc_id": np.concatenate(out_d),
            "score": np.concatenate(out_s),
        })

    return score


def _result_df(spark: SparkSession, out: pd.DataFrame) -> DataFrame:
    """A batch's ranked rows as a local relation (query_id long, rank int,
    doc_id long, conv_id string, turn_idx int, score double). It goes
    through pyarrow because pyspark turns an empty pandas frame into a
    Python RDD, whose every read starts Python workers."""
    import pyarrow as pa
    schema = pa.schema([("query_id", pa.int64()), ("rank", pa.int32()),
                        ("doc_id", pa.int64()), ("conv_id", pa.string()),
                        ("turn_idx", pa.int32()), ("score", pa.float64())])
    return spark.createDataFrame(pa.Table.from_pandas(
        out.reindex(columns=schema.names), schema=schema,
        preserve_index=False))


def _shard_rows(spark: SparkSession, shard_ids) -> DataFrame:
    """One `shard_id int` row per served shard, in min(|shards|,
    defaultParallelism) partitions. The rows come from a JVM-side range
    (row i → the i-th id), so a task's `mapInPandas` worker is its only
    Python worker: a `createDataFrame(sc.parallelize(...))` source runs a
    second, plain Python RDD worker in front of it in every task."""
    from pyspark.sql import functions as F
    n = len(shard_ids)
    ids = F.array(*[F.lit(int(s)) for s in shard_ids])
    return (spark.range(n, numPartitions=min(
                n, spark.sparkContext.defaultParallelism))
            .select(F.element_at(ids, (F.col("id") + 1).cast("int"))
                    .alias("shard_id")))


def run_queries(spark: SparkSession, h: IndexHandle,
                queries: list[dict]) -> DataFrame:
    """Batch top-k evaluation. Each query: {query_id, terms: [str], mode:
    'AND'|'OR'|'PHRASE', k: int}. AND/OR terms are lower-cased and
    de-duplicated; PHRASE keeps their order and scores docs holding the terms
    at consecutive positions, with tf = phrase occurrences (Lucene
    PhraseQuery).
    Returns (query_id, rank, doc_id, conv_id, turn_idx, score) with rank 1..k
    ordered by (score desc, doc_id asc).

    Bad input raises ValueError on the driver before any job starts: a mode
    outside AND/OR/PHRASE, k < 1, a repeated query_id, terms that are not a
    list or tuple of strings, or a PHRASE query on an index built without
    positions. So does storage pyarrow cannot open (at `_lookup_dfs`). Each
    shard kernel emits at most k rows per query, so the driver collects at
    most |shards| × Σk candidate rows; a larger collect raises RuntimeError
    instead of ranking it."""
    # Checked before any job: the kernel scores any other mode as OR, k < 1
    # would only trip the collect bound, a repeated query_id would merge two
    # queries into one ranking, and a string of terms would be scored
    # letter by letter.
    norm_queries, seen = [], set()
    for q in queries:
        qid, terms = int(q["query_id"]), q["terms"]
        mode, k = q.get("mode", "AND"), int(q.get("k", 10))
        if mode not in ("AND", "OR", "PHRASE"):
            raise ValueError(f"query {qid}: mode {mode!r} is not "
                             "'AND', 'OR' or 'PHRASE'")
        if k < 1:
            raise ValueError(f"query {qid}: k must be >= 1, got {k}")
        if qid in seen:
            raise ValueError(f"query_id {qid} appears more than once")
        if (not isinstance(terms, (list, tuple))
                or not all(isinstance(t, str) for t in terms)):
            raise ValueError(f"query {qid}: terms must be a list or tuple "
                             f"of strings, got {terms!r}")
        seen.add(qid)
        norm_queries.append({
            "query_id": qid, "mode": mode, "k": k,
            # PHRASE keeps the given order (and duplicate slots); AND/OR
            # sort+dedup for reproducible float sums
            "terms": ([t.lower() for t in terms] if mode == "PHRASE"
                      else sorted({t.lower() for t in terms}))})
    cfg = h.cfg
    if not cfg.positions and any(q["mode"] == "PHRASE" for q in norm_queries):
        # fail fast on the driver: without this, the kernel's lazy position
        # decode only raises when a phrase has doc-level candidates (a
        # zero-candidate phrase would return 0 rows with no signal), and the
        # executor-side ValueError reaches the caller wrapped in a
        # PythonException after a doomed batch has already run.
        raise ValueError("PHRASE queries require an index built with "
                         "positions=True (IndexConfig.positions)")
    from ..session import ensure_shipped
    ensure_shipped(spark)
    all_terms = sorted({t for q in norm_queries for t in q["terms"]})
    dfs = _lookup_dfs(spark, h, all_terms)
    idfs = {t: idf(h.n_docs, dfs.get(t, 0)) for t in all_terms}
    present = [t for t in all_terms if t in dfs]
    if not present or not h.shard_ids:
        return _result_df(spark, pd.DataFrame())

    # Tombstones (duplicate-key losers; compact purges them physically) are
    # NOT loaded here: each shard kernel range-reads its own slice of the
    # sorted tombstone parquet — nothing collision-count-sized ever touches
    # the driver.
    #
    # One kernel call per shard, like a Solr/ES fan-out, with the shards
    # packed into one wave of min(|shards|, defaultParallelism) tasks: every
    # Python task pays a fixed start-up cost. defaultParallelism is read
    # once, when the batch is planned, so executors that register later get
    # none of this batch (README "Query parallelism"). Query parallelism is
    # still bounded by the shard count — provision shards >= cores. Shards
    # are never split by query slice: a per-(shard, query-slice) fan-out was
    # measured here and REGRESSED 2x on Zipf-head batches, because the same
    # hot terms appear in every slice, so slicing multiplies the dominant
    # decode work by the slice count while the per-shard batch kernel
    # already shares each decoded block across all queries.
    kernel = _score_shard_kernel(norm_queries, idfs, h.avgdl,
                                 cfg.k1, cfg.b, h.docmap_path,
                                 tombstones_path=h.tombstones_path,
                                 doc_bits=cfg.doc_bits)
    phrase_terms = sorted({t for q in norm_queries if q["mode"] == "PHRASE"
                           for t in q["terms"] if t in dfs})
    cand = _shard_rows(spark, h.shard_ids).mapInPandas(
        _direct_fetch_gen(h.postings_path, present, phrase_terms, kernel),
        schema="query_id long, doc_id long, score double")

    # Land the per-shard candidates driver-side (≤ |shards| × Σ k rows —
    # tiny by construction: the kernel emits at most k rows per query per
    # shard) and resolve the global top-k in pandas. The previous plan ran a
    # row_number window over an Exchange(query_id) — a whole extra Spark
    # stage + shuffle to rank a few thousand rows; ranking them where they
    # already land removes the last exchange from the query path (the batch
    # is now ONE stage end to end). Ordering is identical: (score desc,
    # doc_id asc) per query, float64 on both sides.
    ks = {q["query_id"]: q["k"] for q in norm_queries}
    cpdf = cand.toPandas()
    bound = len(h.shard_ids) * sum(q["k"] for q in norm_queries)
    if len(cpdf) > bound:
        raise RuntimeError(
            f"{len(cpdf)} candidate rows collected, above the |shards| x sum(k) "
            f"bound of {bound} ({len(h.shard_ids)} shards)")
    if len(cpdf):
        cpdf = cpdf.sort_values(["query_id", "score", "doc_id"],
                                ascending=[True, False, True], kind="stable")
        cpdf["rank"] = cpdf.groupby("query_id").cumcount() + 1
        cpdf = cpdf[cpdf["rank"] <= cpdf["query_id"].map(ks)]
    if not len(cpdf):
        return _result_df(spark, pd.DataFrame())

    # FETCH the ≤ Σ k docmap rows as coordinator point lookups (the Solr/ES
    # stored-fields fetch phase): only the hit micro-shards' `shard_id=m`
    # directories are listed (data_files, as load_doc_lens does — never a
    # root-level discovery of all R), and row groups are pruned by doc_id
    # min/max stats. An earlier implementation ran a Spark job that scanned
    # every row of every hit shard partition and broadcast-joined the top-k
    # set: measured per-batch cost grew from ~9s (4M docs) to ~44s (16M
    # docs) — corpus-proportional, fatal at 10^12 docs. The point-fetch
    # reads 2.5k rows of a 16M-doc docmap in 0.3-0.5s and is
    # corpus-size-independent.
    import pyarrow.dataset as pads
    ids = sorted(set(cpdf["doc_id"].astype(int).tolist()))
    files = data_files(h.docmap_path, sorted(
        {f"shard_id={i >> cfg.doc_bits}" for i in ids}))
    dm = (pads.dataset(list(files), filesystem=arrow_fs(h.docmap_path)[0],
                       format="parquet")
          .to_table(columns=["doc_id", "conv_id", "turn_idx"],
                    filter=pads.field("doc_id").isin(ids))
          .to_pandas())
    tk = pd.DataFrame({
        "query_id": cpdf["query_id"].to_numpy(np.int64),
        "rank": cpdf["rank"].to_numpy(np.int32),
        "doc_id": cpdf["doc_id"].to_numpy(np.int64),
        "score": cpdf["score"].to_numpy(np.float64)})
    out = tk.merge(dm, on="doc_id", how="left").sort_values(
        ["query_id", "rank"], kind="stable")
    if out["conv_id"].isna().any():
        missing = out[out["conv_id"].isna()]["doc_id"].tolist()[:5]
        raise RuntimeError(f"scored doc ids missing from docmap: {missing}")
    return _result_df(spark, out)


def bm25_topk(spark: SparkSession, h: IndexHandle, terms: list[str],
              k: int = 10, mode: str = "AND") -> DataFrame:
    return run_queries(spark, h, [{"query_id": 0, "terms": terms,
                                   "mode": mode, "k": k}]).drop("query_id")
