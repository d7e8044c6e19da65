"""Declared queries for the temporal-join (ops/temporal.py) and text-prep
(ops/textprep.py) operator families, each with a DuckDB oracle twin.

Engine extensions beyond the reference (whose only temporal operator is the
daily lag window, ``co2_analytical_sp/function.py:105-125``): as-of join,
bucketed range join, rolling event-time aggregates, document chunking,
sequence packing, PII redaction, TF-IDF.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..ops import temporal as T
from ..ops import textprep as TP
from .artifacts import artifact
from .util import load, seg_words_sql

# script-aware token split for the oracles (ADVICE r11): the Spark side
# tokenizes through ops.text.words_col, so every token-count oracle must
# run the same segmentation passes — identity on the ASCII documents
# fixture (hashes unchanged), parity-preserving the day non-ASCII text
# enters the corpus
_WORDS_TXT = seg_words_sql("text")

# ---------------------------------------------------------------------------
# asof_join — point-in-time lookup: for every 'view' event, the latest
# preceding 'purchase' by the same user.
# ---------------------------------------------------------------------------
ASOF_MAX_USER = 50


def asof_view_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").filter(F.col("user_id") < ASOF_MAX_USER)
    views = ev.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    out = T.asof_join(
        views, purchases, key="user_id", ts_col="ts", value_cols=["value"]
    )
    return out.select(
        "event_id",
        "user_id",
        "ts",
        "matched_ts",
        F.round("value", 6).alias("purchase_value"),
    ).orderBy("event_id")


def asof_cogrouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME as-of join through the cogrouped-map ``applyInPandas`` +
    ``pd.merge_asof`` escape hatch (ops/arrowops.py) — the per-key custom
    merge-logic surface, now oracle-checked against the identical DuckDB
    ASOF JOIN as the relational form (tie semantics pinned equal by
    tests/test_temporal_prep.py)."""
    from ..ops.arrowops import asof_join_cogrouped

    ev = load(spark, sf_dir, "events").filter(F.col("user_id") < ASOF_MAX_USER)
    views = ev.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    out = asof_join_cogrouped(
        views, purchases, key="user_id", ts_col="ts", value_cols=["value"]
    )
    return out.select(
        "event_id",
        "user_id",
        "ts",
        "matched_ts",
        F.round("value", 6).alias("purchase_value"),
    ).orderBy("event_id")


ASOF_SQL = f"""
SELECT v.event_id, v.user_id, v.ts,
       p.ts AS matched_ts,
       round(p.value, 6) AS purchase_value
FROM (SELECT event_id, user_id, ts FROM events
      WHERE user_id < {ASOF_MAX_USER} AND event_type = 'view') v
ASOF LEFT JOIN (SELECT user_id, ts, value FROM events
                WHERE user_id < {ASOF_MAX_USER} AND event_type = 'purchase') p
  ON v.user_id = p.user_id AND v.ts >= p.ts
ORDER BY v.event_id
"""


# ---------------------------------------------------------------------------
# range_join — attribute events to overlapping 2-hour windows of the first
# day (interval containment, bucket-blocked).
# ---------------------------------------------------------------------------
def range_join_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    # scalar-cache pattern (A2): day0 resolved once, then inlined as literal
    day0 = ev.agg(F.min(F.col("ts").cast("date")).alias("d")).first()["d"]
    intervals = (
        spark.range(24)
        .select(
            F.col("id").cast("int").alias("interval_id"),
            (
                F.lit(day0).cast("timestamp_ntz")
                + F.col("id") * F.expr("INTERVAL '1' HOUR")
            ).alias("w_start"),
            (
                F.lit(day0).cast("timestamp_ntz")
                + (F.col("id") + 2) * F.expr("INTERVAL '1' HOUR")
            ).alias("w_end"),
        )
        .coalesce(1)
    )
    pairs = T.range_join_buckets(
        ev.select("event_id", "ts", "value"),
        intervals,
        point_ts="ts",
        start_col="w_start",
        end_col="w_end",
        bucket_seconds=3600,
    )
    return (
        pairs.groupBy("interval_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(30,8)")).cast("double").alias("sum_value"),
        )
        .orderBy("interval_id")
    )


RANGE_JOIN_SQL = """
WITH day0 AS (SELECT min(ts)::DATE AS d FROM events),
iv AS (
  SELECT CAST(h AS INT) AS interval_id,
         d::TIMESTAMP + h * INTERVAL 1 HOUR AS w_start,
         d::TIMESTAMP + (h + 2) * INTERVAL 1 HOUR AS w_end
  FROM day0, unnest(range(0, 24)) AS t(h)
)
SELECT iv.interval_id,
       count(*) AS n_events,
       CAST(SUM(CAST(e.value AS DECIMAL(30,8))) AS DOUBLE) AS sum_value
FROM iv JOIN events e ON e.ts >= iv.w_start AND e.ts < iv.w_end
GROUP BY iv.interval_id
ORDER BY iv.interval_id
"""


# ---------------------------------------------------------------------------
# rolling_agg — trailing 1-hour event-time stats per user.
# ---------------------------------------------------------------------------
ROLL_MAX_USER = 30


def rolling_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").filter(F.col("user_id") < ROLL_MAX_USER)
    out = T.rolling_agg(
        ev.select("event_id", "user_id", "ts", "value"),
        key="user_id",
        ts_col="ts",
        window_seconds=3600,
        # aggregates only — rolling_agg applies the frame; casts happen below
        agg_cols={
            "n_1h": F.count(F.lit(1)),
            "sum_1h_dec": F.sum(F.col("value").cast("decimal(30,8)")),
        },
    )
    return out.select(
        "event_id",
        "user_id",
        "ts",
        "n_1h",
        F.col("sum_1h_dec").cast("double").alias("sum_1h"),
    ).orderBy("event_id")


ROLLING_SQL = f"""
SELECT event_id, user_id, ts,
       count(*) OVER w AS n_1h,
       CAST(SUM(CAST(value AS DECIMAL(30,8))) OVER w AS DOUBLE) AS sum_1h
FROM events
WHERE user_id < {ROLL_MAX_USER}
WINDOW w AS (PARTITION BY user_id ORDER BY epoch(ts)::BIGINT
             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
ORDER BY event_id
"""


# ---------------------------------------------------------------------------
# doc_chunking — overlapping token windows (50 tokens, stride 40).
# ---------------------------------------------------------------------------
def doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return TP.chunk_documents(docs, chunk_tokens=50, stride=40).orderBy(
        "id", "chunk_idx"
    )


CHUNKING_SQL = rf"""
WITH w AS (
  SELECT doc_id AS id, {_WORDS_TXT} AS words
  FROM documents
),
starts AS (
  SELECT id, words, CAST(s // 40 AS BIGINT) AS chunk_idx, CAST(s AS INT) AS s
  FROM w, unnest(range(0, greatest(len(words) - 1, 0) + 1, 40)) AS t(s)
)
SELECT id, chunk_idx,
       CAST(len(words[s + 1 : s + 50]) AS INT) AS chunk_tokens,
       md5(array_to_string(words[s + 1 : s + 50], ' ')) AS chunk_fp
FROM starts
ORDER BY id, chunk_idx
"""


# ---------------------------------------------------------------------------
# sequence_packing — token-budget bins per shard (budget-quantized
# contiguous packing; see ops/textprep.py:pack_sequences).
# ---------------------------------------------------------------------------
def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    packed = TP.pack_sequences(docs, budget_tokens=512, n_shards=8)
    return (
        packed.groupBy("shard", "bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("bin_tokens"),
            F.min("id").alias("first_doc"),
        )
        .orderBy("shard", "bin")
    )


# ---------------------------------------------------------------------------
# packing_efficiency (r10) — the fill/waste report a training-batch planner
# reads before committing a context length: per shard, how full the packed
# bins actually are (quantized packing lets a straddling doc overflow its
# bin, so per-shard fill can exceed 1; the LAST bin in each shard is the
# only structurally-underfull one). Composes pack_sequences (r07-green).
# ---------------------------------------------------------------------------
def packing_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    packed = TP.pack_sequences(docs, budget_tokens=512, n_shards=8)
    per_shard = packed.groupBy("shard").agg(
        F.countDistinct("bin").cast("long").alias("n_bins"),
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("tokens"),
    )
    return per_shard.select(
        "shard",
        "n_bins",
        "n_docs",
        "tokens",
        F.round(F.col("tokens") / (F.col("n_bins") * 512), 4).alias("fill_ratio"),
        F.round(
            (F.col("tokens") - (F.col("n_bins") - 1) * 512)
            / F.lit(512.0),
            4,
        ).alias("last_bin_fill"),
    ).orderBy("shard")


PACKING_EFFICIENCY_SQL = rf"""
WITH toks AS (
  SELECT doc_id AS id, doc_id % 8 AS shard,
         len({_WORDS_TXT}) AS n_tokens
  FROM documents
),
binned AS (
  SELECT id, shard, n_tokens,
         CAST(floor((sum(n_tokens) OVER (PARTITION BY shard ORDER BY id
                                         ROWS UNBOUNDED PRECEDING)
                     - n_tokens) / 512) AS BIGINT) AS bin
  FROM toks
),
per_shard AS (
  SELECT shard,
         CAST(count(DISTINCT bin) AS BIGINT) AS n_bins,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_tokens) AS BIGINT) AS tokens
  FROM binned GROUP BY shard
)
SELECT shard, n_bins, n_docs, tokens,
       round(CAST(tokens AS DOUBLE) / (n_bins * 512), 4) AS fill_ratio,
       round((tokens - (n_bins - 1) * 512) / 512.0, 4) AS last_bin_fill
FROM per_shard
ORDER BY shard
"""


PACKING_SQL = rf"""
WITH toks AS (
  SELECT doc_id AS id, doc_id % 8 AS shard,
         len({_WORDS_TXT}) AS n_tokens
  FROM documents
),
binned AS (
  SELECT id, shard, n_tokens,
         CAST(floor((sum(n_tokens) OVER (PARTITION BY shard ORDER BY id
                                         ROWS UNBOUNDED PRECEDING)
                     - n_tokens) / 512) AS BIGINT) AS bin
  FROM toks
)
SELECT shard, bin, count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS bin_tokens,
       min(id) AS first_doc
FROM binned GROUP BY shard, bin ORDER BY shard, bin
"""


# ---------------------------------------------------------------------------
# pii_redaction — planted emails/phones scrubbed; counts + redacted
# fingerprint (documents carry no natural PII, so plant deterministic ones).
# ---------------------------------------------------------------------------
def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    planted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or +1-555-01"),
            F.col("doc_id").cast("string"),
            F.lit("99."),
        ).alias("text"),
    )
    return TP.redact_pii(planted).orderBy("id")


PII_SQL = r"""
WITH planted AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@example.com or +1-555-01' || CAST(doc_id AS VARCHAR)
              || '99.' AS text
  FROM documents
),
emails AS (
  SELECT doc_id AS id,
         CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_emails,
         regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t1
  FROM planted
)
SELECT id, n_emails,
       CAST(len(regexp_extract_all(t1, '\+?\d[\d-]{7,}\d')) AS INT) AS n_phones,
       md5(regexp_replace(t1, '\+?\d[\d-]{7,}\d', '<PHONE>', 'g')) AS redacted_fp
FROM emails ORDER BY id
"""


# ---------------------------------------------------------------------------
# tfidf_terms — top-3 TF-IDF terms per document (doc_id < 100 bounds the
# compared output; the plan runs corpus-wide).
# ---------------------------------------------------------------------------
def tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    out = TP.tfidf_top_terms(docs, top_k=3)
    return out.filter(F.col("id") < 100).orderBy("id", "rank")


TFIDF_SQL = """
WITH terms AS (
  SELECT doc_id AS id, unnest(regexp_extract_all(lower(text), '[a-z]{2,}')) AS term
  FROM documents
),
tf AS (
  SELECT id, term, CAST(count(*) AS BIGINT) AS tf FROM terms GROUP BY id, term
),
dfreq AS (
  SELECT term, count(*) AS df FROM tf GROUP BY term
),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.id, tf.term, tf.tf,
         round(tf.tf * ln((n.n_docs + 1) / (dfreq.df + 1.0)), 6) AS tfidf
  FROM tf JOIN dfreq USING (term) CROSS JOIN n
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY id ORDER BY tfidf DESC, term ASC) AS rank
  FROM scored
)
SELECT id, CAST(rank AS INT) AS rank, term, tf, tfidf
FROM ranked WHERE rank <= 3 AND id < 100
ORDER BY id, rank
"""


# ---------------------------------------------------------------------------
# calendar_gapfill — resample a sparse event subset to a dense daily
# calendar per event_type (gap-free series for lag/rolling windows); the
# value>150 filter guarantees real gaps to fill.
# ---------------------------------------------------------------------------
def calendar_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .util import dsum

    ev = load(spark, sf_dir, "events").filter(F.col("value") > 150)
    out = T.calendar_gapfill(
        ev,
        "ts",
        group_cols=["event_type"],
        agg_exprs=[
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("sum_value"),
        ],
        fill={"n_events": 0, "sum_value": 0.0},
    )
    return out.select("day", "event_type", "n_events", "sum_value").orderBy(
        "day", "event_type"
    )


GAPFILL_SQL = """
WITH src AS (SELECT * FROM events WHERE value > 150),
daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n_events,
         CAST(SUM(CAST(value AS DECIMAL(30,8))) AS DOUBLE) AS sum_value
  FROM src GROUP BY 1, 2
),
bounds AS (SELECT min(CAST(ts AS DATE)) AS lo, max(CAST(ts AS DATE)) AS hi FROM src),
cal AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS day FROM bounds),
groups AS (SELECT DISTINCT event_type FROM src)
SELECT c.day, g.event_type,
       coalesce(d.n_events, 0) AS n_events,
       coalesce(d.sum_value, 0.0) AS sum_value
FROM cal c CROSS JOIN groups g
LEFT JOIN daily d ON d.day = c.day AND d.event_type = g.event_type
ORDER BY c.day, g.event_type
"""


# ---------------------------------------------------------------------------
# bm25_search — top-15 documents for a fixed 3-term query under BM25
# (Lucene's +1-smoothed idf). Narrow tf projection, scalar-cached corpus
# stats, narrow scoring, global top-k — two scans, zero joins.
# ---------------------------------------------------------------------------
BM25_TERMS = ["spark", "merge", "window"]


def bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    return TP.bm25_topk(docs, BM25_TERMS, k=15)


def _bm25_sql() -> str:
    tfs = ",\n         ".join(
        f"len(list_filter(sp, x -> x = '{t}')) AS tf_{t}" for t in BM25_TERMS
    )
    dfs = ",\n         ".join(
        f"sum(CASE WHEN tf_{t} > 0 THEN 1 ELSE 0 END) AS df_{t}" for t in BM25_TERMS
    )
    # literal arithmetic mirrors ops.textprep.bm25_topk term by term (same
    # association order) so the double trajectory is identical: idf rounded
    # to 6 dp, k1+1 = 2.2, 1-b = 0.25, score rounded to 4 dp.
    per_term = "\n    + ".join(
        f"round(ln((n - df_{t} + 0.5) / (df_{t} + 0.5) + 1), 6) * tf_{t} * 2.2"
        f" / (tf_{t} + 1.2 * (0.25 + 0.75 * dl / avgdl))"
        for t in BM25_TERMS
    )
    tf_cols = ", ".join(f"tf_{t}" for t in BM25_TERMS)
    return f"""
WITH base AS (
  SELECT doc_id, len(sp) AS dl,
         {tfs}
  FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS sp FROM documents)
),
stats AS (
  SELECT count(*) AS n, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl,
         {dfs}
  FROM base
)
SELECT * FROM (
  SELECT doc_id, {tf_cols},
         round(0.0
    + {per_term}, 4) AS bm25
  FROM base, stats
) WHERE bm25 > 0
ORDER BY bm25 DESC, doc_id
LIMIT 15
"""


# ---------------------------------------------------------------------------
# hybrid_search_rrf (r08) — hybrid retrieval, the shape every modern search
# stack ships: the BM25 lexical top-k and a dense ANN top-k (exact cosine
# here — the oracle-replayable baseline) fused by reciprocal-rank fusion.
# Rank-based fusion needs no score calibration between the two lists.
# Oracle: the bm25_search CTEs + the bruteforce-cosine CTE (both already
# hash-pinned individually) + the identical 1/(60+rank) arithmetic.
# ---------------------------------------------------------------------------
HYBRID_K = 15
HYBRID_QVEC = 0  # the query vector's id (its doc is excluded from the list)


def hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ops import similarity as S

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    lex = TP.bm25_topk(docs, BM25_TERMS, k=HYBRID_K)
    from pyspark.sql import Window as W

    lex_ranked = lex.select(
        "doc_id",
        F.row_number()
        .over(W.orderBy(F.desc("bm25"), F.asc("doc_id")))
        .alias("rank"),
    )
    emb = load(spark, sf_dir, "embeddings")
    sem = S.bruteforce_topk(
        emb, emb.filter(F.col("vec_id") == HYBRID_QVEC), k=HYBRID_K
    ).select(F.col("nbr_id").alias("doc_id"), "rank")
    return TP.rrf_fuse({"lexical": lex_ranked, "semantic": sem}).orderBy("rank")


def _hybrid_rrf_sql() -> str:
    # the bm25 CTEs verbatim (same literal arithmetic as _bm25_sql), the
    # bruteforce-cosine CTE in ANN_BRUTEFORCE_SQL's discipline, then RRF
    bm25 = _bm25_sql().strip().rstrip()
    # reuse _bm25_sql's SELECT as a subquery feeding the lexical rank
    return f"""
WITH lex AS (
  SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rank
  FROM ({bm25})
),
q AS (
  SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = {HYBRID_QVEC}
),
sem AS (
  SELECT nbr_id AS doc_id, rank FROM (
    SELECT e.vec_id AS nbr_id,
           row_number() OVER (
             ORDER BY round(list_cosine_similarity(e.embedding::DOUBLE[], q.qv), 6) DESC,
                      e.vec_id
           ) AS rank
    FROM embeddings e, q
    WHERE e.vec_id != {HYBRID_QVEC}
  ) WHERE rank <= {HYBRID_K}
),
u AS (SELECT * FROM lex UNION ALL SELECT * FROM sem),
fused AS (
  SELECT doc_id,
         round(sum(1.0 / (60 + rank)), 6) AS rrf,
         count(*) AS n_lists
  FROM u GROUP BY doc_id
)
SELECT doc_id, rrf, n_lists,
       row_number() OVER (ORDER BY rrf DESC, doc_id) AS rank
FROM fused
ORDER BY rank
"""


# ---------------------------------------------------------------------------
# bm25_index_lifecycle (r10) — persisted inverted-index retrieval through
# the REAL store (the lexical twin of ann_index_lifecycle): build postings/
# lengths/stats from 80% of the corpus, GROW by the remaining 20% with
# append_to_bm25_index (batch cost, exact integer stats update), then
# answer the fixed 3-term query from the stored index with a
# partition-pruned postings scan. The oracle is bm25_search's full-corpus
# SQL VERBATIM — the grown index must reproduce the direct computation
# exactly, proving the persisted index (and its append path) is lossless.
# ---------------------------------------------------------------------------
def bm25_index_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.table_store import TableStore
    from ..ops.textprep import (
        append_to_bm25_index,
        build_bm25_index,
        query_bm25_index,
    )

    def build(root: str) -> TableStore:
        docs = load(spark, sf_dir, "documents").select("doc_id", "text")
        store = TableStore(root=root)
        build_bm25_index(spark, store, docs.filter("doc_id % 5 != 0"), "idx.docs")
        append_to_bm25_index(
            spark, store, docs.filter("doc_id % 5 = 0"), "idx.docs"
        )
        return store

    store = artifact(spark, sf_dir, "bm25idx", build)
    return query_bm25_index(spark, store, "idx.docs", BM25_TERMS, k=15)


# ---------------------------------------------------------------------------
# length_bucket_batches (r11) — dynamic batching by length bucket: the
# report that justifies bucketed collation (each batch pads to ITS max,
# not the context length). Sibling of packing_efficiency: packing fills a
# fixed budget by concatenation; bucketing minimizes padding when docs
# must stay whole. Integer-exact bucket (length(bin(n))-1), salted-md5
# within-bucket order, per-bucket constant batch capacity.
# ---------------------------------------------------------------------------
def length_bucket_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ops.textprep import length_bucket_batches

    docs = load(spark, sf_dir, "documents")
    return length_bucket_batches(docs, batch_tokens=2048, n_shards=8).orderBy(
        "shard", "bucket", "batch_idx"
    )


LENGTH_BUCKET_SQL = rf"""
WITH toks AS (
  SELECT doc_id AS id, doc_id % 8 AS shard,
         len({_WORDS_TXT}) AS n_tokens
  FROM documents
),
b AS (
  SELECT id, shard, n_tokens,
         CAST(length(bin(n_tokens)) - 1 AS INTEGER) AS bucket,
         (('0x' || substr(md5('lenb:' || CAST(id AS VARCHAR)), 1, 15))::BIGINT) AS k
  FROM toks WHERE n_tokens >= 1
),
assigned AS (
  SELECT shard, bucket, n_tokens,
         CAST((row_number() OVER (PARTITION BY shard, bucket ORDER BY k, id) - 1)
              // greatest(1, 2048 // (1 << (bucket + 1))) AS BIGINT) AS batch_idx
  FROM b
),
agg AS (
  SELECT shard, bucket, batch_idx,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_tokens) AS BIGINT) AS tokens,
         CAST(max(n_tokens) AS BIGINT) AS batch_max
  FROM assigned GROUP BY shard, bucket, batch_idx
)
SELECT shard, bucket, batch_idx, n_docs, tokens, batch_max,
       n_docs * batch_max AS padded,
       round(1.0 - CAST(tokens AS DOUBLE) / (n_docs * batch_max), 4) AS waste_frac
FROM agg
ORDER BY shard, bucket, batch_idx
"""


QUERIES: dict = {
    "asof_view_purchase": (asof_view_purchase, ASOF_SQL),
    "asof_cogrouped": (asof_cogrouped, ASOF_SQL),
    "range_join_windows": (range_join_windows, RANGE_JOIN_SQL),
    "rolling_user_stats": (rolling_user_stats, ROLLING_SQL),
    "doc_chunking": (doc_chunking, CHUNKING_SQL),
    "sequence_packing": (sequence_packing, PACKING_SQL),
    "pii_redaction": (pii_redaction, PII_SQL),
    "tfidf_terms": (tfidf_terms, TFIDF_SQL),
    "bm25_search": (bm25_search, _bm25_sql()),
    "bm25_index_lifecycle": (bm25_index_lifecycle, _bm25_sql()),
    "packing_efficiency": (packing_efficiency, PACKING_EFFICIENCY_SQL),
    "hybrid_search_rrf": (hybrid_search_rrf, _hybrid_rrf_sql()),
    "calendar_gapfill": (calendar_gapfill, GAPFILL_SQL),
    "length_bucket_report": (length_bucket_report, LENGTH_BUCKET_SQL),
}
