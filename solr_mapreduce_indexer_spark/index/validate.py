"""Read-back index validation.

The reference re-opens every index it writes and fails the task if the read
fails (SolrRecordWriter.java:301-317 after reducer close;
TreeMergeOutputFormat.java:205-228 after each tree-merge task). Our analog
re-opens the committed final level distributedly and checks, per (shard, term):

  * blocks decode, and doc ids are strictly ascending across the whole
    concatenated posting list (blocks visited in first_doc order);
  * every block's stored metadata matches the decoded payload
    (n, last_doc, max_tf) and the docmap's doc lengths (min_dl equals the
    block's least doc_len, max_tfnorm upper-bounds the true tfnorms, every
    position is below its doc's doc_len);
  * posting count per term sums to the term_stats df, and Σtf equals cf;
  * corpus stats (n_docs, avgdl) agree with the docmap, and Σtf per doc
    equals its docmap doc_len.

Everything runs as one applyInPandas pass over the postings plus two
aggregates — no driver-side loops. Doc lengths are read per shard inside
the kernel, exactly as the query and compaction kernels read them.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..config import IndexConfig
from .codec import bm25_tfnorm, decode_block, tune_allocator
from .manifest import read_manifest
from .tombstones import doc_lens_of, load_doc_lens


def _check_kernel(avgdl: float, k1: float, b: float, docmap_path: str,
                  doc_bits: int):
    def check(pdf: pd.DataFrame) -> pd.DataFrame:
        tune_allocator()
        pdf = pdf.sort_values("first_doc")
        ids, lens = load_doc_lens(docmap_path, pdf["first_doc"],
                                  pdf["last_doc"], doc_bits)
        term = pdf["term"].iloc[0]
        shard = int(pdf["shard_id"].iloc[0])
        errors: list[str] = []
        prev_last = -1
        n_postings = 0
        sum_tf = 0
        for r in pdf.itertuples(index=False):
            try:
                d, tf = decode_block(r.doc_bytes, r.tf_bytes, r.first_doc)
            except Exception as e:  # noqa: BLE001 — corruption must be
                errors.append(f"decode failed: {type(e).__name__}")  # reported,
                continue                                             # not crash
            if len(d) != len(tf):
                errors.append(f"stream length mismatch: {len(d)}/{len(tf)}")
                continue
            try:
                dl = doc_lens_of(ids, lens, d)
            except ValueError as e:
                errors.append(str(e))
                continue
            n_postings += len(d)
            sum_tf += int(tf.sum())
            if len(d) != r.n:
                errors.append(f"n mismatch: {len(d)} != {r.n}")
            if len(d) and (d[0] != r.first_doc or d[-1] != r.last_doc):
                errors.append("first/last_doc mismatch")
            if len(d) > 1 and not np.all(np.diff(d) > 0):
                errors.append("doc ids not strictly ascending in block")
            if len(d) and d[0] <= prev_last:
                errors.append("doc ids overlap previous block")
            prev_last = int(d[-1]) if len(d) else prev_last
            if len(tf) and int(tf.max()) != r.max_tf:
                errors.append("max_tf mismatch")
            if len(tf) and int(tf.sum()) != r.sum_tf:
                errors.append("sum_tf mismatch")
            if len(dl) and int(dl.min()) != r.min_dl:
                errors.append("min_dl mismatch")
            if len(tf):
                true_max = float(bm25_tfnorm(tf, dl, avgdl, k1, b).max())
                if r.max_tfnorm < true_max - 1e-12:
                    errors.append("max_tfnorm not an upper bound")
            pos_b = getattr(r, "pos_bytes", None)
            if pos_b:  # positional index: Σtf positions, ascending per
                from .codec import decode_positions  # posting, within doc_len
                try:
                    p, offs = decode_positions(pos_b, tf)
                except Exception as e:  # noqa: BLE001
                    errors.append(f"pos decode failed: {type(e).__name__}")
                    p = None
                if p is not None:
                    if len(p) != int(tf.sum()):
                        errors.append("position count != sum_tf")
                    elif len(p) > 1:
                        is_start = np.zeros(len(p), dtype=bool)
                        is_start[offs] = True
                        if np.any((np.diff(p) <= 0) & ~is_start[1:]):
                            errors.append("positions not ascending in posting")
                    if len(p) and (p < 0).any():
                        errors.append("negative position")
                    if len(p) == int(tf.sum()) and len(p) and \
                            (p >= np.repeat(dl, tf)).any():
                        errors.append("position >= doc_len")
        return pd.DataFrame({"shard_id": [shard], "term": [term],
                             "n_postings": [n_postings], "sum_tf": [sum_tf],
                             "errors": ["; ".join(errors[:5])]})

    return check


def _doc_len_kernel():
    """Per-(shard, term) posting decode → (doc_id, tf) rows; summing tf per
    doc across all terms reproduces the Python-tokenizer token count, which
    must equal the JVM-tokenizer doc_len stored in the docmap."""
    def per_doc(pdf: pd.DataFrame) -> pd.DataFrame:
        tune_allocator()
        docs, tfs = [np.empty(0, np.int64)], [np.empty(0, np.int64)]
        for r in pdf.itertuples(index=False):
            try:
                d, tf = decode_block(r.doc_bytes, r.tf_bytes, r.first_doc)
            except Exception:  # noqa: BLE001 — undecodable blocks are
                continue       # reported by _check_kernel, not here
            if len(d) != len(tf):
                continue
            docs.append(d)
            tfs.append(tf)
        return pd.DataFrame({"doc_id": np.concatenate(docs),
                             "dl": np.concatenate(tfs)})

    return per_doc


def validate_index(spark: SparkSession, index_dir: str,
                   sample_terms: int | None = None) -> dict:
    """Full read-back validation; returns a JSON-able report with ok=True/False."""
    from ..session import ensure_shipped
    ensure_shipped(spark)

    m = read_manifest(index_dir)
    cfg = IndexConfig.from_dict(m["config"])
    avgdl = float(m["stats"]["avgdl"])
    final = m["levels"][-1]["path"]

    blocks = spark.read.parquet(final)
    if sample_terms:
        keep = [r["term"] for r in
                blocks.select("term").distinct().limit(sample_terms).collect()]
        blocks = blocks.where(F.col("term").isin(keep))

    per_term = (blocks.groupBy("shard_id", "term")
                .applyInPandas(_check_kernel(avgdl, cfg.k1, cfg.b,
                                             f"{index_dir}/docmap",
                                             cfg.doc_bits),
                               schema="shard_id int, term string, "
                                      "n_postings long, sum_tf long, "
                                      "errors string"))
    per_term = per_term.persist()
    n_block_errors = per_term.where(F.col("errors") != "").count()

    # df / cf parity against term_stats (skipped under term sampling —
    # a sampled per_term can't reproduce global df/cf).
    stats = spark.read.parquet(f"{index_dir}/term_stats")
    agg = per_term.groupBy("term").agg(F.sum("n_postings").alias("df2"),
                                       F.sum("sum_tf").alias("cf2"))
    # Null-safe comparison: a term present on only ONE side (all blocks lost,
    # or an orphan term in postings) makes != return NULL and a plain filter
    # would silently drop exactly the whole-term-loss rows this join exists
    # to catch.
    mismatches = 0 if sample_terms else (
        stats.join(agg, "term", "full")
        .where(~F.col("df").eqNullSafe(F.col("df2"))
               | ~F.col("cf").eqNullSafe(F.col("cf2")))
        .count())

    docmap = spark.read.parquet(f"{index_dir}/docmap")
    dm = docmap.agg(F.count(F.lit(1)).alias("n"),
                    F.avg("doc_len").alias("avgdl")).collect()[0]
    stats_ok = (int(dm["n"]) == int(m["stats"]["n_docs"])
                and abs(float(dm["avgdl"]) - avgdl) < 1e-9)

    # Unique-key integrity: after subtracting tombstones (duplicate-key
    # losers recorded by merge-indexes / stream finalize), no two LIVE docs
    # may share (conv_id, turn_idx) — the reference's reducer guarantees
    # this before serving (SolrReducer.java:80-108); an index violating it
    # silently serves both versions of a document.
    live = docmap
    if m.get("tombstones"):
        tdf = (spark.read.parquet(m["tombstones"]["path"])
               .select("doc_id"))
        live = docmap.join(tdf, "doc_id", "left_anti")
    live_dup_keys = (live.groupBy("conv_id", "turn_idx").count()
                     .where(F.col("count") > 1).count())

    # Tokenizer-dialect drift check: postings tokenize in Python
    # (tokenize_pandas in the shard kernel) while docmap doc_len uses the JVM
    # regexp — if the two dialects ever diverge (custom token_pattern,
    # non-ASCII lowercasing), BM25 norms silently skew vs avgdl. Cross-check
    # Σtf per doc from decoded postings against the docmap doc_len.
    dl_mismatches = -1
    if not sample_terms:
        per_doc = (blocks.groupBy("shard_id", "term")
                   .applyInPandas(_doc_len_kernel(),
                                  schema="doc_id long, dl long")
                   .groupBy("doc_id").agg(F.sum("dl").alias("dl_postings")))
        # zero-length docs legitimately have no postings → coalesce to 0
        dl_mismatches = (docmap.select("doc_id", "doc_len")
                         .join(per_doc, "doc_id", "full")
                         .where(~F.col("doc_len").eqNullSafe(
                             F.coalesce(F.col("dl_postings"), F.lit(0))))
                         .count())

    n_terms_checked = per_term.count()
    per_term.unpersist()
    ok = (n_block_errors == 0 and mismatches == 0 and stats_ok
          and dl_mismatches <= 0 and live_dup_keys == 0)
    return {"ok": bool(ok),
            "n_terms_checked": int(n_terms_checked),
            "n_block_errors": int(n_block_errors),
            "df_cf_mismatches": int(mismatches),
            "doc_len_mismatches": int(dl_mismatches),
            "live_duplicate_keys": int(live_dup_keys),
            "corpus_stats_ok": bool(stats_ok)}
