"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)    — flagship: build the inverted index over a transcripts table
                  derived from sf0.001 documents, run a BM25 AND query.
queries()       — one entry per implemented operator (SURVEY.md §2 + the
                  training-data pipeline extensions); each takes
                  (spark, sf_dir) and returns a DataFrame.
oracle_sql()    — DuckDB-equivalent SQL per query. EVERY query has one:
                  the hash kernels (murmur3 routing, winnowing, MinHash/
                  SimHash) are replayed bit-identically by generated SQL
                  (functions/oracle_sql.py), so no rows-only entries remain.

Column names and rounding are aligned on both sides so the driver's
order-insensitive value-hash comparison holds.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from solr_mapreduce_indexer_spark.config import IndexConfig
from solr_mapreduce_indexer_spark.functions import oracle_sql as OSQL
from solr_mapreduce_indexer_spark.functions.analysis import tokenize_col
from solr_mapreduce_indexer_spark.functions.textops import (
    EN_STOP, LANG_MARKERS, fingerprint, lang_id, quality_features,
    token_counts, winnow_fingerprints)
from solr_mapreduce_indexer_spark.functions.routing import routing_pandas_udf
from solr_mapreduce_indexer_spark.operators.dedupe_ops import (
    _minhash_params, _rh_planes, embedding_near_pairs, exact_dedup,
    minhash_lsh_pairs, ngram_jaccard_pairs, simhash_near_pairs)
from solr_mapreduce_indexer_spark.operators.simsearch import _dot, _norm
from solr_mapreduce_indexer_spark.sources.transcripts import (
    TRANSCRIPTS_FROM_DOCUMENTS_SQL, transcripts_from_documents)

CFG = IndexConfig()
TOKENIZE_SQL = "regexp_extract_all(lower(text), '[a-z0-9]+')"
_INDEX_CACHE: dict[str, object] = {}

BM25_AND_TERMS = ["merge", "window"]
BM25_OR_TERMS = ["stream", "spark", "hash"]


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _entry_index(spark: SparkSession, sf_dir: str, positions: bool = False):
    """Build (or resume) the inverted index for sf_dir's derived transcripts.
    positions=True builds a separate positional index (PHRASE queries)."""
    from solr_mapreduce_indexer_spark.index.build import build_index
    from solr_mapreduce_indexer_spark.query.bm25 import load_index

    key = (os.path.abspath(sf_dir), positions)
    if key in _INDEX_CACHE:
        return _INDEX_CACHE[key]
    cfg = IndexConfig(shards=2, reducers=8, fanout=2, positions=positions)
    suffix = "_pos" if positions else ""
    idx_dir = os.path.join(
        "/tmp",
        f"smis_entry_idx_v6_{os.path.basename(key[0].rstrip('/'))}{suffix}")
    tr = transcripts_from_documents(spark, sf_dir)
    build_index(spark, tr, cfg, idx_dir, input_path=f"{sf_dir}/documents.parquet")
    h = load_index(idx_dir)
    _INDEX_CACHE[key] = h
    return h


def _bm25(spark: SparkSession, sf_dir: str, terms: list[str], mode: str,
          k: int = 10) -> DataFrame:
    """Index-backed BM25 top-k, mapped back to original doc ids and re-ranked
    by (rounded score desc, doc_id asc) for oracle determinism."""
    from solr_mapreduce_indexer_spark.query.bm25 import run_queries

    h = _entry_index(spark, sf_dir, positions=(mode == "PHRASE"))
    pool = run_queries(spark, h, [{"query_id": 0, "terms": terms,
                                   "mode": mode, "k": max(100, 4 * k)}])
    orig_id = (F.regexp_extract("conv_id", "conv(\\d+)", 1).cast("long") * 8
               + F.col("turn_idx"))
    w = Window.orderBy(F.desc("score_r"), F.asc("doc_id"))
    return (pool.withColumn("doc_id", orig_id)
                .withColumn("score_r", F.round("score", 4))
                .withColumn("rank", F.row_number().over(w).cast("long"))
                .where(F.col("rank") <= k)
                .select("rank", "doc_id", F.col("score_r").alias("score")))


def _bm25_oracle_sql(terms: list[str], mode: str, k: int = 10) -> str:
    tlist = ", ".join(f"'{t}'" for t in terms)
    and_filter = f"WHERE nt = {len(terms)}" if mode == "AND" else ""
    return f"""
        WITH toks AS (
          SELECT doc_id, unnest({TOKENIZE_SQL}) AS term FROM documents),
        tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks GROUP BY 1, 2),
        dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM toks GROUP BY 1),
        st AS (SELECT (SELECT count(*) FROM documents)::DOUBLE AS n,
                      (SELECT count(*) FROM toks)::DOUBLE
                        / (SELECT count(*) FROM documents) AS avgdl),
        dfr AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
        sc AS (
          SELECT tf.doc_id,
                 sum(ln(1 + (st.n - dfr.df + 0.5) / (dfr.df + 0.5))
                     * tf.tf * 2.2
                     / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / st.avgdl))) AS s,
                 count(*) AS nt
          FROM tf JOIN dfr USING (term)
                  JOIN dl ON tf.doc_id = dl.doc_id
                  CROSS JOIN st
          WHERE tf.term IN ({tlist})
          GROUP BY tf.doc_id)
        SELECT row_number() OVER (ORDER BY round(s, 4) DESC, doc_id) AS rank,
               doc_id, round(s, 4) AS score
        FROM sc {and_filter}
        ORDER BY rank LIMIT {k}
    """


def _bm25_phrase_oracle_sql(phrase: list[str], k: int = 10) -> str:
    """DuckDB twin of the PHRASE mode: pf = count of positions where the
    token array holds the phrase consecutively; score = (Σ idf) · tfnorm(pf)."""
    conds = " AND ".join(f"tk[i+{j}] = '{t}'" for j, t in enumerate(phrase))
    idf = " + ".join(
        f"ln(1 + (st.n - dfr.df_{j} + 0.5) / (dfr.df_{j} + 0.5))"
        for j in range(len(phrase)))
    dfs = ", ".join(
        f"count(*) FILTER (WHERE list_contains(tk, '{t}'))::DOUBLE AS df_{j}"
        for j, t in enumerate(phrase))
    span = len(phrase) - 1
    return f"""
        WITH toks AS (SELECT doc_id, {TOKENIZE_SQL} AS tk FROM documents),
        st AS (SELECT count(*)::DOUBLE AS n,
                      (SELECT sum(len(tk)) FROM toks)::DOUBLE / count(*) AS avgdl
               FROM toks),
        dfr AS (SELECT {dfs} FROM toks),
        pf AS (SELECT doc_id, len(tk) AS dl,
                      len([i for i in range(1, len(tk) - {span} + 1)
                           if {conds}]) AS pf
               FROM toks),
        sc AS (SELECT doc_id,
                 ({idf}) * pf * 2.2
                   / (pf + 1.2 * (0.25 + 0.75 * dl / st.avgdl)) AS s
               FROM pf CROSS JOIN st CROSS JOIN dfr
               WHERE pf > 0)
        SELECT row_number() OVER (ORDER BY round(s, 4) DESC, doc_id) AS rank,
               doc_id, round(s, 4) AS score
        FROM sc ORDER BY rank LIMIT {k}
    """


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def q_transcripts_derive(spark, sf_dir):
    tr = transcripts_from_documents(spark, sf_dir)
    return tr.select("conv_id", "turn_idx", "role", "tool", "ts",
                     F.md5("text").alias("text_md5"))


def q_tf_table(spark, sf_dir):
    """SURVEY §2.3 E7 + §2.4 A2: analyzed term frequencies per document."""
    docs = _docs(spark, sf_dir)
    return (docs.select("doc_id", F.explode(tokenize_col("text", CFG)).alias("term"))
                .groupBy("doc_id", "term")
                .agg(F.count(F.lit(1)).cast("long").alias("tf")))


def q_term_stats(spark, sf_dir):
    """SURVEY §2.4 A4: global document/collection frequency per term."""
    return (q_tf_table(spark, sf_dir)
            .groupBy("term")
            .agg(F.count(F.lit(1)).cast("long").alias("df"),
                 F.sum("tf").cast("long").alias("cf")))


def q_corpus_stats(spark, sf_dir):
    """SURVEY §2.4 A4: BM25 global stats (N, avgdl, total tokens)."""
    docs = _docs(spark, sf_dir)
    dl = docs.select(F.size(tokenize_col("text", CFG)).alias("dl"))
    return dl.agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                  F.round(F.avg("dl"), 6).alias("avgdl"),
                  F.sum("dl").cast("long").alias("total_tokens"))


def q_doclen_hist(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    return (docs.select(F.size(tokenize_col("text", CFG)).cast("long").alias("doc_len"))
                .groupBy("doc_len")
                .agg(F.count(F.lit(1)).cast("long").alias("n_docs")))


def q_dedup_latest(spark, sf_dir):
    """SURVEY §2.5 D1 (retain-most-recent) on the events table keyed by
    (user_id, event_type), ordered by (ts, event_id)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id", "event_type") \
              .orderBy(F.desc("ts"), F.desc("event_id"))
    return (ev.withColumn("_rn", F.row_number().over(w))
              .where(F.col("_rn") == 1)
              .select("user_id", "event_type", "event_id", "ts", "value"))


def q_update_order(spark, sf_dir):
    """SURVEY §2.5 D2 (sorting resolver): all updates kept, ordered within
    key — surfaced as an explicit seq column."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id", "event_type") \
              .orderBy(F.asc("ts"), F.asc("event_id"))
    return ev.select("user_id", "event_type", "event_id",
                     F.row_number().over(w).alias("seq"))


def q_conflict_metrics(spark, sf_dir):
    """SURVEY §2.4 A3 + §2.5 counters: duplicate-key metrics."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    per = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("c"))
    return per.agg(F.sum("c").cast("long").alias("n_rows"),
                   F.count(F.lit(1)).cast("long").alias("n_keys"),
                   (F.sum("c") - F.count(F.lit(1))).cast("long").alias("n_duplicates"))


def q_routing_counts(spark, sf_dir):
    """SURVEY §2.2 P2: murmur3 micro-shard routing histogram. Full oracle:
    the DuckDB twin computes murmur3_x86_32 + hash-range routing in pure SQL
    (functions/oracle_sql.murmur3_cte); an independent scalar murmur3 is also
    pytest-oracled in tests/test_routing.py."""
    tr = transcripts_from_documents(spark, sf_dir)
    route = routing_pandas_udf(shards=2, partitions=8)
    key = F.concat_ws("#", "conv_id", F.col("turn_idx").cast("string"))
    return (tr.withColumn("shard_id", route(key))
              .groupBy("shard_id")
              .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
              .orderBy("shard_id"))


def q_bm25_and(spark, sf_dir):
    """SURVEY §2.7 Q1/Q2/Q4/Q6: conjunctive BM25 top-10 via the index."""
    return _bm25(spark, sf_dir, BM25_AND_TERMS, "AND")


def q_bm25_or(spark, sf_dir):
    """SURVEY §2.7 Q3/Q4/Q6: disjunctive BM25 top-10 via the index."""
    return _bm25(spark, sf_dir, BM25_OR_TERMS, "OR")


def q_bm25_phrase(spark, sf_dir):
    """Exact-phrase BM25 top-10 via a positional index (positions=True):
    Lucene PhraseQuery semantics — tf = consecutive-occurrence count,
    weight = Σ idf of the phrase terms. The reference's Lucene 7.7.2 output
    stores positions and serves exactly these queries (pom.xml:36-37)."""
    return _bm25(spark, sf_dir, BM25_AND_TERMS, "PHRASE")


def q_exact_dedup(spark, sf_dir):
    return exact_dedup(_docs(spark, sf_dir))


def q_quality(spark, sf_dir):
    qf = quality_features(_docs(spark, sf_dir))
    return qf.select("doc_id", "n_tokens", "n_chars",
                     F.round("avg_token_len", 6).alias("avg_token_len"),
                     F.round("stopword_ratio", 6).alias("stopword_ratio"),
                     F.round("alpha_ratio", 6).alias("alpha_ratio"),
                     F.round("quality", 6).alias("quality"))


def q_lang_id(spark, sf_dir):
    return lang_id(_docs(spark, sf_dir))


def q_token_counts(spark, sf_dir):
    return token_counts(_docs(spark, sf_dir))


def q_fingerprint(spark, sf_dir):
    return fingerprint(_docs(spark, sf_dir))


def q_winnow(spark, sf_dir):
    """True winnowing fingerprints (Schleimer et al. SIGMOD'03): md5-60
    k-gram hashes, per-window rightmost-min selection — full DuckDB oracle."""
    return winnow_fingerprints(_docs(spark, sf_dir), k=3, w=4)


def q_ngram_jaccard(spark, sf_dir):
    return (ngram_jaccard_pairs(_docs(spark, sf_dir), n=3, threshold=0.8)
            .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard")))


def q_minhash_pairs(spark, sf_dir):
    """MinHash+LSH near-dup pairs, md5 hash family (DuckDB-replayable:
    28-bit shingle hashes keep (a*h+b)%p exact in BIGINT → full oracle)."""
    return minhash_lsh_pairs(_docs(spark, sf_dir), num_perm=64, bands=16,
                             jaccard_threshold=0.8, hash_family="md5")


def q_simhash_pairs(spark, sf_dir):
    """SimHash near-dup pairs, md5 hash family (60-bit signatures, 4×15-bit
    pigeonhole bands → full DuckDB oracle)."""
    return simhash_near_pairs(_docs(spark, sf_dir), max_hamming=3,
                              hash_family="md5")


EMB_DIM = 64  # driver testdata embeddings are 64-d at every sf


def q_embedding_pairs(spark, sf_dir):
    """Embedding-cosine near-dup pairs via banded integer-quantized RH-LSH
    (8 bands × 4 planes; exact integer bucket signs → full DuckDB oracle)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    got = embedding_near_pairs(emb, threshold=0.4, n_planes=32, bands=8,
                               seed=42, dim=EMB_DIM, quantize=1000)
    return got.select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))


def q_ivf_topk(spark, sf_dir):
    """IVF coarse-quantized ANN with nprobe=K (exhaustive probes): exercises
    the centroid assignment + probe plumbing while staying exactly equal to
    brute-force cosine — so the brute-force SQL is its oracle."""
    from solr_mapreduce_indexer_spark.operators.simsearch import (
        ivf_assign, ivf_topk, kmeans_centroids)

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = kmeans_centroids(emb, n_centroids=8, iters=3)
    assigned = ivf_assign(emb, cents)
    qrow = emb.where(F.col("vec_id") == 0).select("embedding").first()
    qv = [float(x) for x in qrow["embedding"]]
    got = ivf_topk(assigned, cents, qv, k=10, nprobe=8)
    w = Window.orderBy(F.desc("cosine_r"), F.asc("vec_id"))
    return (got.withColumn("cosine_r", F.round("cosine", 4))
               .withColumn("rank", F.row_number().over(w).cast("long"))
               .select("rank", "vec_id", F.col("cosine_r").alias("cosine")))


def q_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-10 around vec_id=0, JVM-side math."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qrow = emb.where(F.col("vec_id") == 0).select("embedding").first()
    qv = [float(x) for x in qrow["embedding"]]
    q = F.array(*[F.lit(x) for x in qv])
    import math
    qn = math.sqrt(sum(x * x for x in qv))
    v = F.col("embedding").cast("array<double>")
    cos = _dot(v, q) / (_norm(v) * F.lit(qn))
    w = Window.orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (emb.select("vec_id", F.round(cos, 4).alias("cosine"))
               .withColumn("rank", F.row_number().over(w).cast("long"))
               .where(F.col("rank") <= 10)
               .select("rank", "vec_id", "cosine"))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full index build + conjunctive BM25 top-10 at sf0.001."""
    return q_bm25_and(spark, "/root/testdata/sf0.001")


def _shipped(fn: Callable) -> Callable:
    """Ship the package zip to executors before the query runs: several
    queries pickle package functions into python workers (pandas UDFs /
    applyInPandas kernels), which unpickle only if the package is importable
    worker-side. Harmless no-op when already shipped; without it, any
    invocation from a cwd other than the repo root fails with
    ModuleNotFoundError in the worker."""
    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        from solr_mapreduce_indexer_spark.session import ensure_shipped
        ensure_shipped(spark)
        return fn(spark, sf_dir)
    wrapped.__doc__ = fn.__doc__
    return wrapped


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {k: _shipped(fn) for k, fn in {
        "transcripts_derive": q_transcripts_derive,
        "tf_table": q_tf_table,
        "term_stats": q_term_stats,
        "corpus_stats": q_corpus_stats,
        "doclen_hist": q_doclen_hist,
        "dedup_latest": q_dedup_latest,
        "update_order": q_update_order,
        "conflict_metrics": q_conflict_metrics,
        "routing_counts": q_routing_counts,
        "bm25_and": q_bm25_and,
        "bm25_or": q_bm25_or,
        "bm25_phrase": q_bm25_phrase,
        "exact_dedup": q_exact_dedup,
        "quality": q_quality,
        "lang_id": q_lang_id,
        "token_counts": q_token_counts,
        "fingerprint": q_fingerprint,
        "winnow": q_winnow,
        "ngram_jaccard": q_ngram_jaccard,
        "minhash_pairs": q_minhash_pairs,
        "simhash_pairs": q_simhash_pairs,
        "embedding_pairs": q_embedding_pairs,
        "cosine_topk": q_cosine_topk,
        "ivf_topk": q_ivf_topk,
    }.items()}


def oracle_sql() -> dict[str, str]:
    stop_list = ", ".join(f"'{s}'" for s in EN_STOP)
    langs = sorted(LANG_MARKERS)
    hit_cols = ", ".join(
        "len(list_intersect(list_distinct(toks), [{m}])) AS h_{l}".format(
            m=", ".join(f"'{x}'" for x in LANG_MARKERS[l]), l=l)
        for l in langs)
    max_expr = "greatest({})".format(", ".join(f"h_{l}" for l in langs))
    pred_case = ("CASE WHEN {m} = 0 THEN 'und' ".format(m=max_expr)
                 + " ".join(f"WHEN h_{l} = {max_expr} THEN '{l}'" for l in langs)
                 + " END")
    return {
        "transcripts_derive": f"""
            SELECT conv_id, turn_idx, role, tool, ts, md5(text) AS text_md5
            FROM ({TRANSCRIPTS_FROM_DOCUMENTS_SQL}) t
        """,
        "tf_table": f"""
            SELECT doc_id, term, count(*)::BIGINT AS tf
            FROM (SELECT doc_id, unnest({TOKENIZE_SQL}) AS term FROM documents) t
            GROUP BY doc_id, term
        """,
        "term_stats": f"""
            WITH tf AS (
              SELECT doc_id, term, count(*)::BIGINT AS tf
              FROM (SELECT doc_id, unnest({TOKENIZE_SQL}) AS term FROM documents) t
              GROUP BY doc_id, term)
            SELECT term, count(*)::BIGINT AS df, sum(tf)::BIGINT AS cf
            FROM tf GROUP BY term
        """,
        "corpus_stats": f"""
            WITH dl AS (SELECT len({TOKENIZE_SQL}) AS dl FROM documents)
            SELECT count(*)::BIGINT AS n_docs,
                   round(avg(dl), 6) AS avgdl,
                   sum(dl)::BIGINT AS total_tokens
            FROM dl
        """,
        "doclen_hist": f"""
            SELECT len({TOKENIZE_SQL}) AS doc_len, count(*)::BIGINT AS n_docs
            FROM documents GROUP BY 1
        """,
        "dedup_latest": """
            SELECT user_id, event_type, event_id, ts, value
            FROM (SELECT *, row_number() OVER (
                    PARTITION BY user_id, event_type
                    ORDER BY ts DESC, event_id DESC) AS rn
                  FROM events) t
            WHERE rn = 1
        """,
        "update_order": """
            SELECT user_id, event_type, event_id,
                   row_number() OVER (PARTITION BY user_id, event_type
                                      ORDER BY ts, event_id)::INT AS seq
            FROM events
        """,
        "conflict_metrics": """
            WITH per AS (SELECT user_id, event_type, count(*)::BIGINT AS c
                         FROM events GROUP BY 1, 2)
            SELECT sum(c)::BIGINT AS n_rows, count(*)::BIGINT AS n_keys,
                   (sum(c) - count(*))::BIGINT AS n_duplicates
            FROM per
        """,
        "bm25_and": _bm25_oracle_sql(BM25_AND_TERMS, "AND"),
        "bm25_or": _bm25_oracle_sql(BM25_OR_TERMS, "OR"),
        "bm25_phrase": _bm25_phrase_oracle_sql(BM25_AND_TERMS),
        "exact_dedup": f"""
            SELECT md5(array_to_string({TOKENIZE_SQL}, ' ')) AS content_md5,
                   min(doc_id)::BIGINT AS keep_id,
                   count(*)::BIGINT AS n_copies
            FROM documents GROUP BY 1
        """,
        "quality": f"""
            WITH t AS (SELECT doc_id, text, {TOKENIZE_SQL} AS toks FROM documents)
            SELECT doc_id,
                   len(toks)::BIGINT AS n_tokens,
                   length(text)::BIGINT AS n_chars,
                   round(CASE WHEN len(toks) > 0 THEN
                     list_sum(list_transform(toks, x -> length(x)))::DOUBLE / len(toks)
                     ELSE 0 END, 6) AS avg_token_len,
                   round(CASE WHEN len(toks) > 0 THEN
                     len(list_filter(toks, x -> x IN ({stop_list})))::DOUBLE / len(toks)
                     ELSE 0 END, 6) AS stopword_ratio,
                   round(CASE WHEN length(text) > 0 THEN
                     length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE / length(text)
                     ELSE 0 END, 6) AS alpha_ratio,
                   round(
                     least(len(toks) / 100.0, 1.0) * 0.4
                     + (CASE WHEN length(text) > 0 THEN
                          length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE / length(text)
                        ELSE 0 END) * 0.4
                     + (1.0 - CASE WHEN len(toks) > 0 THEN
                          len(list_filter(toks, x -> x IN ({stop_list})))::DOUBLE / len(toks)
                        ELSE 0 END) * 0.2, 6) AS quality
            FROM t
        """,
        "lang_id": f"""
            WITH t AS (SELECT doc_id, {TOKENIZE_SQL} AS toks FROM documents),
            h AS (SELECT doc_id, {hit_cols} FROM t)
            SELECT doc_id, {pred_case} AS lang_pred,
                   {max_expr}::INT AS marker_hits
            FROM h
        """,
        "token_counts": """
            SELECT doc_id,
                   len(regexp_split_to_array(trim(text), '\\s+'))::BIGINT AS n_ws_tokens,
                   len(regexp_extract_all(lower(text), '[a-z0-9]+'))::BIGINT AS n_word_tokens,
                   len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]'))::BIGINT AS n_bpe_tokens
            FROM documents
        """,
        "fingerprint": f"""
            SELECT doc_id, md5(array_to_string({TOKENIZE_SQL}, ' ')) AS fingerprint_md5
            FROM documents
        """,
        "ngram_jaccard": f"""
            WITH t AS (SELECT doc_id, {TOKENIZE_SQL} AS toks FROM documents),
            sh AS (SELECT doc_id,
                          list_distinct(CASE WHEN len(toks) >= 3 THEN
                            [array_to_string(toks[i:i+2], ' ')
                             for i in range(1, len(toks) - 1)]
                          ELSE [array_to_string(toks, ' ')] END) AS gs
                   FROM t),
            ex0 AS (SELECT doc_id, len(gs) AS card, unnest(gs) AS g FROM sh),
            -- mirror of the engine's max_shingle_df=100000 cap (dedupe_ops
            -- ngram_jaccard_pairs): hot shingles leave candidate generation
            -- AND intersection counting on both sides identically
            ex AS (SELECT * FROM ex0
                   QUALIFY count(*) OVER (PARTITION BY g) <= 100000),
            inter AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                     a.card AS card_a, b.card AS card_b, count(*)::DOUBLE AS i
              FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
              GROUP BY 1, 2, 3, 4)
            SELECT id_a, id_b,
                   round(i / (card_a + card_b - i), 6) AS jaccard
            FROM inter
            WHERE i / (card_a + card_b - i) >= 0.8
        """,
        "routing_counts": OSQL.routing_counts_sql(
            TRANSCRIPTS_FROM_DOCUMENTS_SQL, shards=2, partitions=8),
        "winnow": OSQL.winnow_sql(TOKENIZE_SQL, k=3, w=4),
        "minhash_pairs": OSQL.minhash_pairs_sql(
            TOKENIZE_SQL, shingle_w=3, num_perm=64, bands=16, threshold=0.8,
            a=_minhash_params(64, 42, "md5")[0],
            b=_minhash_params(64, 42, "md5")[1]),
        "simhash_pairs": OSQL.simhash_pairs_sql(TOKENIZE_SQL, max_hamming=3),
        "embedding_pairs": OSQL.embedding_pairs_sql(
            threshold=0.4, planes=_rh_planes(32, EMB_DIM, 42, 1000),
            quantize=1000, bands=8),
        "ivf_topk": """
            WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
            sc AS (SELECT vec_id,
                          list_dot_product(embedding::DOUBLE[], qv::DOUBLE[])
                          / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                             * sqrt(list_dot_product(qv::DOUBLE[], qv::DOUBLE[]))) AS c
                   FROM embeddings CROSS JOIN q)
            SELECT row_number() OVER (ORDER BY round(c, 4) DESC, vec_id) AS rank,
                   vec_id, round(c, 4) AS cosine
            FROM sc ORDER BY rank LIMIT 10
        """,
        "cosine_topk": """
            WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
            sc AS (SELECT vec_id,
                          list_dot_product(embedding::DOUBLE[], qv::DOUBLE[])
                          / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                             * sqrt(list_dot_product(qv::DOUBLE[], qv::DOUBLE[]))) AS c
                   FROM embeddings CROSS JOIN q)
            SELECT row_number() OVER (ORDER BY c DESC, vec_id) AS rank,
                   vec_id, round(c, 4) AS cosine
            FROM sc ORDER BY rank LIMIT 10
        """,
    }
