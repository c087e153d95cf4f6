"""Independent BM25 oracle: pure pandas/numpy over the raw transcripts table.

No index, no Spark, and a *separate* scalar murmur3 implementation (written
straight from the MurmurHash3 spec) so routing/doc-id parity is genuinely
cross-checked rather than self-validated. Used by pytest golden-query tests
(FIXTURES.md §3) to assert rank-identical top-k (doc ids and scores, float64,
ties by ascending doc_id).
"""

from __future__ import annotations

import math
import re

import numpy as np
import pandas as pd


def murmur3_scalar(data: bytes, seed: int = 0) -> int:
    """Reference scalar murmur3_x86_32 (public domain algorithm, Austin
    Appleby). Returns signed int32 like the JVM implementation."""
    c1, c2 = 0xCC9E2D51, 0x1B873593
    h = seed & 0xFFFFFFFF
    n = len(data)
    nblocks = n // 4
    for i in range(nblocks):
        k = int.from_bytes(data[i * 4:(i + 1) * 4], "little")
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
        h = ((h << 13) | (h >> 19)) & 0xFFFFFFFF
        h = (h * 5 + 0xE6546B64) & 0xFFFFFFFF
    k = 0
    tail = data[nblocks * 4:]
    if len(tail) >= 3:
        k ^= tail[2] << 16
    if len(tail) >= 2:
        k ^= tail[1] << 8
    if len(tail) >= 1:
        k ^= tail[0]
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
    h ^= n
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & 0xFFFFFFFF
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & 0xFFFFFFFF
    h ^= h >> 16
    return h - 2**32 if h >= 2**31 else h


def route_scalar(key: str, shards: int, partitions: int) -> int:
    """SolrCloudPartitioner.getPartition oracle (scalar re-derivation)."""
    h = murmur3_scalar(key.encode("utf-8"), 0)
    step = (2**32 - 1) // shards
    root = min((h + 2**31) // step, shards - 1)
    per = partitions // shards
    return root * per + (h & 0x7FFFFFFF) % per


class PandasOracle:
    """Builds doc ids + BM25 scoring entirely in pandas (float64)."""

    def __init__(self, pdf: pd.DataFrame, shards: int, partitions: int,
                 k1: float = 1.2, b: float = 0.75,
                 token_pattern: str = "[a-z0-9]+",
                 doc_bits: int = 40,
                 dedup: str = "retain_most_recent"):
        self.k1, self.b = k1, b
        pat = re.compile(token_pattern)
        pdf = pdf.copy()
        if dedup == "retain_most_recent":
            # the engine's winner: greatest (ts, text, role, tool), nulls
            # lowest. Whole rows are kept: groupby().last() would take each
            # column's last NON-NULL value and could mix two versions.
            ties = [c for c in ("ts", "text", "role", "tool") if c in pdf]
            pdf = (pdf.sort_values(["conv_id", "turn_idx", *ties],
                                   na_position="first", kind="stable")
                      .drop_duplicates(["conv_id", "turn_idx"], keep="last")
                      .reset_index(drop=True))
        pdf["doc_key"] = pdf["conv_id"] + "#" + pdf["turn_idx"].astype(str)
        pdf["shard"] = [route_scalar(k, shards, partitions)
                        for k in pdf["doc_key"]]
        pdf = pdf.sort_values(["shard", "conv_id", "turn_idx"]).reset_index(drop=True)
        pdf["local"] = pdf.groupby("shard").cumcount()
        pdf["doc_id"] = ((pdf["shard"].to_numpy().astype(np.int64) << np.int64(doc_bits))
                         | pdf["local"].to_numpy().astype(np.int64))
        pdf["tokens"] = pdf["text"].map(lambda t: pat.findall(t.lower()) if t else [])
        pdf["doc_len"] = pdf["tokens"].map(len)
        self.docs = pdf
        self.n_docs = len(pdf)
        self.avgdl = float(pdf["doc_len"].mean())
        # term -> {doc_id: tf} and df
        tf: dict[str, dict[int, int]] = {}
        for doc_id, toks in zip(pdf["doc_id"], pdf["tokens"]):
            for t in toks:
                tf.setdefault(t, {})
                tf[t][doc_id] = tf[t].get(doc_id, 0) + 1
        self.tf = tf
        self.dl = dict(zip(pdf["doc_id"], pdf["doc_len"]))

    def idf(self, term: str) -> float:
        df = len(self.tf.get(term, {}))
        return math.log(1.0 + (self.n_docs - df + 0.5) / (df + 0.5))

    def score(self, terms: list[str], mode: str = "AND", k: int = 10) -> pd.DataFrame:
        terms = sorted({t.lower() for t in terms})
        scores: dict[int, float] = {}
        counts: dict[int, int] = {}
        for t in terms:
            postings = self.tf.get(t, {})
            if mode == "AND" and not postings:
                return pd.DataFrame(columns=["rank", "doc_id", "conv_id",
                                             "turn_idx", "score"])
            w = self.idf(t)
            for d, f in postings.items():
                dl = self.dl[d]
                tfn = f * (self.k1 + 1) / (f + self.k1 * (1 - self.b + self.b * dl / self.avgdl))
                scores[d] = scores.get(d, 0.0) + w * tfn
                counts[d] = counts.get(d, 0) + 1
        if mode == "AND":
            scores = {d: s for d, s in scores.items() if counts[d] == len(terms)}
        ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
        keymap = self.docs.set_index("doc_id")
        rows = [{"rank": i + 1, "doc_id": d,
                 "conv_id": keymap.at[d, "conv_id"],
                 "turn_idx": keymap.at[d, "turn_idx"],
                 "score": s} for i, (d, s) in enumerate(ranked)]
        return pd.DataFrame(rows, columns=["rank", "doc_id", "conv_id",
                                           "turn_idx", "score"])
