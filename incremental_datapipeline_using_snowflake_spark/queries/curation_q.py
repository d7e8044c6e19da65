"""Declared query for the end-to-end incremental curation stage (r07).

``corpus_curate_append`` drives :func:`ops.curation.curate_append` through
a REAL :class:`TableStore` — bootstrap a corpus (documents with
``doc_id % 3 != 0`` plus their embeddings), then curate a planted batch:

- fresh docs (``doc_id % 3 == 0``) — mostly kept;
- exact copies of corpus docs (ids +500000, ``doc_id % 9 == 1``) →
  ``exact_dup_corpus``;
- textual near-dups (ids +600000, ``doc_id % 9 == 2``, first two words
  dropped) → ``near_dup_corpus`` via MinHash;
- semantic-only dups (ids +800000, ``doc_id % 9 == 4``, words REVERSED so
  no 3-shingle survives, embedding × 1.001) → ``embedding_dup_corpus``
  via hyperplane-LSH + cosine;
- five repetitive spam docs (ids 900001+) → ``gate_fail``.

The DuckDB oracle replays the ENTIRE sequential pipeline over
corpus ∪ batch — Gopher gate, md5 exact dedup, MinHash bands + verified
Jaccard, recursive-CTE connected components for batch-internal keeps,
pinned-plane LSH + cosine for the semantic stage — and asserts the same
per-document verdict. ``in_corpus`` is read back from the post-merge store
table (the round-trip proof); the oracle derives it as ``verdict =
'kept'`` (batch ids are disjoint from corpus ids by construction).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .artifacts import artifact, spill
from .similarity import EMB_DIM, INC_EMB_PLANES, INC_EMB_TABLES, _KNN_LSH_KEY
from .textops import _incr_side_sql
from .util import ORACLE_MD5_LONG, load

_H = ORACLE_MD5_LONG


def _with_in_corpus(verdicts: DataFrame, store, table: str) -> DataFrame:
    """``(doc_id, verdict, in_corpus)``: ``in_corpus`` is read back from
    the post-merge store table (the round-trip proof)."""
    merged = store.read(verdicts.sparkSession, table).select("doc_id")
    return verdicts.join(
        merged.withColumn("_in", F.lit(True)), "doc_id", "left"
    ).select(
        "doc_id", "verdict", F.coalesce("_in", F.lit(False)).alias("in_corpus")
    )


def _planted_batch(spark: SparkSession, sf_dir: str):
    docs = load(spark, sf_dir, "documents")
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    w = F.split(F.trim(F.col("text")), r"\s+")
    fresh = docs.filter("doc_id % 3 = 0")
    exact = docs.filter("doc_id % 9 = 1").select(
        (F.col("doc_id") + 500000).alias("doc_id"), "text", "lang", "source", "n_chars"
    )
    near = docs.filter("doc_id % 9 = 2").select(
        (F.col("doc_id") + 600000).alias("doc_id"),
        F.array_join(
            F.slice(w, 3, F.greatest(F.size(w) - 2, F.lit(0))), " "
        ).alias("text"),
        "lang", "source", "n_chars",
    )
    sem = docs.filter("doc_id % 9 = 4").select(
        (F.col("doc_id") + 800000).alias("doc_id"),
        F.array_join(F.reverse(w), " ").alias("text"),
        "lang", "source", "n_chars",
    )
    spam = spark.createDataFrame(
        [(900001 + i, "spam " * 60, "en", "synthetic", 300) for i in range(5)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    batch = (
        fresh.unionByName(exact).unionByName(near).unionByName(sem).unionByName(spam)
    )
    batch_emb = (
        emb.filter("vec_id % 3 = 0")
        .unionByName(
            emb.filter("vec_id % 9 = 2").select(
                (F.col("vec_id") + 600000).alias("vec_id"),
                F.transform("embedding", lambda x: x * 1.001).alias("embedding"),
            )
        )
        .unionByName(
            emb.filter("vec_id % 9 = 4").select(
                (F.col("vec_id") + 800000).alias("vec_id"),
                F.transform("embedding", lambda x: x * 1.001).alias("embedding"),
            )
        )
    )
    corpus = docs.filter("doc_id % 3 != 0")
    corpus_emb = emb.filter("vec_id % 3 != 0")
    return corpus, corpus_emb, batch, batch_emb


def corpus_curate_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.table_store import TableStore
    from ..ops import curation as C

    def build(root: str) -> DataFrame:
        # session hygiene before the heaviest declared query: a harness
        # running the whole inventory in ONE default-1g session (the
        # driver shape) reaches this point with dozens of queries' pinned
        # frames on the heap, so release every session frame first
        from . import release_session_frames

        release_session_frames(spark)
        corpus, corpus_emb, batch, batch_emb = _planted_batch(spark, sf_dir)
        store = TableStore(root=f"{root}/store")
        C.bootstrap_corpus(
            spark, store, corpus, "cur.docs",
            emb=corpus_emb, dim=EMB_DIM,
            n_tables=INC_EMB_TABLES, n_planes=INC_EMB_PLANES,
        )
        # auto_reindex=False: this fixture PINS n_planes for oracle replay
        # and throws the store away right after — rebuilding its index
        # post-run would be pure waste. The trigger's behavior is evidenced
        # by the corpus_curate_reindexed scale entry + tests.
        verdicts = C.curate_append(
            spark, store, batch, "cur.docs", "r07", batch_emb=batch_emb,
            auto_reindex=False,
        )
        return spill(_with_in_corpus(verdicts, store, "cur.docs"), root)

    return artifact(spark, sf_dir, "curate", build).orderBy("doc_id")


def _gate_sql(src: str) -> str:
    """Gopher-gate CTE chain over ``{src}(doc_id, text)`` → ``gate(doc_id,
    ok)`` — byte-identical thresholds to DOC_QUALITY_SQL / the hash-checked
    ``doc_quality_signals`` query."""
    return f"""g_base AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS sp FROM {src}
),
g_narrow AS (
  SELECT doc_id,
         len(sp) AS n_words,
         round(list_aggregate(list_transform(sp, w -> length(w)), 'sum')
               / greatest(len(sp), 1), 4) AS mean_word_len,
         round(len(list_distinct(sp)) / greatest(len(sp), 1), 4) AS distinct_word_frac,
         round(1.0 - len(list_distinct(tri)) / greatest(len(tri), 1), 4) AS dup_trigram_frac,
         round(len(list_filter(sp, w -> regexp_matches(w, '[A-Za-z]')))
               / greatest(len(sp), 1), 4) AS alpha_word_frac
  FROM (SELECT doc_id, sp,
               CASE WHEN len(sp) >= 3
                 THEN list_transform(range(1, len(sp) - 1),
                                     i -> array_to_string(list_slice(sp, i, i + 2), ' '))
                 ELSE [] END AS tri
        FROM g_base)
),
g_bg AS (
  SELECT doc_id,
         unnest(CASE WHEN len(sp) >= 2
           THEN list_transform(range(1, len(sp)),
                               i -> array_to_string(list_slice(sp, i, i + 1), ' '))
           ELSE [] END) AS bg
  FROM g_base
),
g_bgc AS (SELECT doc_id, bg, count(*) AS c FROM g_bg GROUP BY 1, 2),
g_top AS (SELECT doc_id, round(max(c) / sum(c), 4) AS top_bigram_frac FROM g_bgc GROUP BY doc_id),
gate AS (
  SELECT n.doc_id,
         (n_words >= 10 AND n_words <= 100000
          AND mean_word_len >= 2 AND mean_word_len <= 10
          AND distinct_word_frac >= 0.2
          AND dup_trigram_frac <= 0.85
          AND coalesce(top_bigram_frac, 0.0) <= 0.25
          AND alpha_word_frac >= 0.8) AS ok
  FROM g_narrow n LEFT JOIN g_top USING (doc_id)
)"""


def _curate_sql() -> str:
    jac = (
        "len(list_intersect(da.sh, db.sh)) "
        "/ (len(da.sh) + len(db.sh) - len(list_intersect(da.sh, db.sh)))"
    )
    return f"""
WITH RECURSIVE
corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 != 0),
w_src AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS sp, text
          FROM documents),
batch AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
  UNION ALL
  SELECT doc_id + 500000, text FROM documents WHERE doc_id % 9 = 1
  UNION ALL
  SELECT doc_id + 600000,
         array_to_string(list_slice(sp, 3, len(sp)), ' ')
  FROM w_src WHERE doc_id % 9 = 2
  UNION ALL
  SELECT doc_id + 800000, array_to_string(list_reverse(sp), ' ')
  FROM w_src WHERE doc_id % 9 = 4
  UNION ALL
  SELECT 900000 + i, repeat('spam ', 60) FROM range(1, 6) t(i)
),
{_gate_sql("batch")},
p1 AS (SELECT doc_id FROM gate WHERE ok),
bfp AS (SELECT b.doc_id, md5(b.text) AS fp FROM batch b JOIN p1 USING (doc_id)),
cfp AS (SELECT DISTINCT md5(text) AS fp FROM corpus),
exc AS (SELECT doc_id FROM bfp WHERE fp IN (SELECT fp FROM cfp)),
p2a AS (SELECT doc_id, fp FROM bfp WHERE fp NOT IN (SELECT fp FROM cfp)),
exb AS (
  SELECT doc_id FROM (
    SELECT doc_id, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rk
    FROM p2a
  ) WHERE rk > 1
),
p2 AS (SELECT doc_id FROM p2a WHERE doc_id NOT IN (SELECT doc_id FROM exb)),
s2src AS (SELECT b.doc_id, b.text FROM batch b JOIN p2 USING (doc_id)),
{_incr_side_sql("corpus", "o_")},
{_incr_side_sql("s2src", "n_")},
candc AS (
  SELECT DISTINCT x.id AS id_a, y.id AS id_b
  FROM n_bands x JOIN o_bands y ON x.band = y.band AND x.bh = y.bh
  WHERE x.id != y.id
),
nearc AS (
  SELECT DISTINCT id_a FROM candc
  JOIN n_docs2 da ON da.id = id_a
  JOIN o_docs2 db ON db.id = id_b
  WHERE {jac} >= 0.5
),
p3a AS (SELECT doc_id FROM p2 WHERE doc_id NOT IN (SELECT id_a FROM nearc)),
candb AS (
  SELECT DISTINCT x.id AS id_a, y.id AS id_b
  FROM n_bands x JOIN n_bands y ON x.band = y.band AND x.bh = y.bh
  WHERE x.id < y.id
    AND x.id IN (SELECT doc_id FROM p3a) AND y.id IN (SELECT doc_id FROM p3a)
),
pairsb AS (
  SELECT id_a, id_b FROM candb
  JOIN n_docs2 da ON da.id = id_a
  JOIN n_docs2 db ON db.id = id_b
  WHERE {jac} >= 0.5
),
edges3 AS (
  SELECT id_a AS src, id_b AS dst FROM pairsb
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairsb
),
walk3(id, r) AS (
  SELECT src, src FROM edges3
  UNION
  SELECT w.id, e.dst FROM walk3 w JOIN edges3 e ON e.src = w.r
),
comp3 AS (SELECT id, min(r) AS c FROM walk3 GROUP BY id),
nearb AS (SELECT id AS doc_id FROM comp3 WHERE id != c),
p3 AS (SELECT doc_id FROM p3a WHERE doc_id NOT IN (SELECT doc_id FROM nearb)),
bvec_raw AS (
  SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id % 3 = 0
  UNION ALL
  SELECT vec_id + 600000, list_transform(embedding::DOUBLE[], x -> x * 1.001)
  FROM embeddings WHERE vec_id % 9 = 2
  UNION ALL
  SELECT vec_id + 800000, list_transform(embedding::DOUBLE[], x -> x * 1.001)
  FROM embeddings WHERE vec_id % 9 = 4
),
bvec AS (SELECT id, v FROM bvec_raw WHERE id IN (SELECT doc_id FROM p3)),
cvec AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings
         WHERE vec_id % 3 != 0),
planes AS (
  SELECT t, p, d, ({_H.format(x=_KNN_LSH_KEY)} % 2001) - 1000 AS w
  FROM (SELECT unnest(range(0, {INC_EMB_TABLES})) AS t),
       (SELECT unnest(range(0, {INC_EMB_PLANES})) AS p),
       (SELECT unnest(range(1, {EMB_DIM + 1})) AS d)
),
e_both AS (
  SELECT id, v, TRUE AS is_new FROM bvec
  UNION ALL
  SELECT id, v, FALSE AS is_new FROM cvec
),
e_flat AS (
  SELECT id, is_new, generate_subscripts(v, 1) AS d,
         CAST(floor(unnest(v) * 1000000 + 0.5) AS BIGINT) AS xq
  FROM e_both
),
e_proj AS (
  SELECT t, id, is_new, p, sum(xq * w) AS s
  FROM e_flat JOIN planes USING (d) GROUP BY t, id, is_new, p
),
e_sig AS (
  SELECT t, id, is_new,
         CAST(sum(CASE WHEN s > 0 THEN 1 << p ELSE 0 END) AS BIGINT) AS bucket
  FROM e_proj GROUP BY t, id, is_new
),
hitc AS (
  SELECT DISTINCT a.id AS doc_id
  FROM e_sig a JOIN e_sig b ON a.t = b.t AND a.bucket = b.bucket
  JOIN bvec va ON va.id = a.id
  JOIN cvec vb ON vb.id = b.id
  WHERE a.is_new AND NOT b.is_new AND a.id != b.id
    AND round(list_cosine_similarity(va.v, vb.v), 6) >= 0.999
),
p4a AS (SELECT doc_id FROM p3 WHERE doc_id NOT IN (SELECT doc_id FROM hitc)),
pairse AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM e_sig a JOIN e_sig b ON a.t = b.t AND a.bucket = b.bucket
  JOIN bvec va ON va.id = a.id
  JOIN bvec vb ON vb.id = b.id
  WHERE a.is_new AND b.is_new AND a.id < b.id
    AND a.id IN (SELECT doc_id FROM p4a) AND b.id IN (SELECT doc_id FROM p4a)
    AND round(list_cosine_similarity(va.v, vb.v), 6) >= 0.999
),
edges4 AS (
  SELECT id_a AS src, id_b AS dst FROM pairse
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairse
),
walk4(id, r) AS (
  SELECT src, src FROM edges4
  UNION
  SELECT w.id, e.dst FROM walk4 w JOIN edges4 e ON e.src = w.r
),
comp4 AS (SELECT id, min(r) AS c FROM walk4 GROUP BY id),
embb AS (SELECT id AS doc_id FROM comp4 WHERE id != c)
SELECT b.doc_id,
       CASE
         WHEN b.doc_id NOT IN (SELECT doc_id FROM p1) THEN 'gate_fail'
         WHEN b.doc_id IN (SELECT doc_id FROM exc) THEN 'exact_dup_corpus'
         WHEN b.doc_id IN (SELECT doc_id FROM exb) THEN 'exact_dup_batch'
         WHEN b.doc_id IN (SELECT id_a FROM nearc) THEN 'near_dup_corpus'
         WHEN b.doc_id IN (SELECT doc_id FROM nearb) THEN 'near_dup_batch'
         WHEN b.doc_id IN (SELECT doc_id FROM hitc) THEN 'embedding_dup_corpus'
         WHEN b.doc_id IN (SELECT doc_id FROM embb) THEN 'embedding_dup_batch'
         ELSE 'kept'
       END AS verdict,
       CASE
         WHEN b.doc_id NOT IN (SELECT doc_id FROM p1) THEN FALSE
         WHEN b.doc_id IN (SELECT doc_id FROM exc) THEN FALSE
         WHEN b.doc_id IN (SELECT doc_id FROM exb) THEN FALSE
         WHEN b.doc_id IN (SELECT id_a FROM nearc) THEN FALSE
         WHEN b.doc_id IN (SELECT doc_id FROM nearb) THEN FALSE
         WHEN b.doc_id IN (SELECT doc_id FROM hitc) THEN FALSE
         WHEN b.doc_id IN (SELECT doc_id FROM embb) THEN FALSE
         ELSE TRUE
       END AS in_corpus
FROM batch b
ORDER BY doc_id
"""


def _materialize_ctes(sql: str) -> str:
    """Force DuckDB to materialize every non-recursive CTE: the verdict
    CASE references the stage CTEs many times, and DuckDB's default CTE
    inlining would otherwise duplicate the parquet scan per reference —
    observed as an fd blow-up ('Too many open files') before this pass.
    The recursive walks are materialized by definition and are skipped."""
    import re

    return re.sub(
        r"(?m)^(?!walk)(\w+) AS \(", r"\1 AS MATERIALIZED (", sql
    )


# ---------------------------------------------------------------------------
# corpus_delete_apply (r09 — verdict ask #3): takedown propagation through
# the REAL store. Bootstrap a corpus (documents doc_id < 300, % 3 != 0),
# DELETE the % 5 == 1 slice (ops.curation.delete_docs: corpus + bands +
# bloom purged in one transaction), then curate a batch of
#   - the DELETED texts under NEW ids (+700000) -> 'kept' again: no
#     fingerprint/band/bloom-bit survived for them (the deletion proof);
#   - exact copies of SURVIVING docs (+500000, % 9 == 1) ->
#     'exact_dup_corpus': deletion didn't damage the survivors' memory;
#   - fresh docs (% 3 == 0) -> mostly kept.
# Output = batch verdicts (+ post-merge in_corpus read back from the store)
# UNION the deleted ids as verdict='deleted', in_corpus read back FALSE.
# The DuckDB oracle replays gate -> exact -> MinHash near-dup -> CC keeps
# over (survivors ∪ batch) — the _curate_sql discipline minus the embedding
# stage (embsig purge is pinned by tests; one stage fewer keeps this
# fixture's oracle tractable). Replay idempotency is pinned in
# tests/test_curation.py.
# ---------------------------------------------------------------------------
def corpus_delete_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.table_store import TableStore
    from ..ops import curation as C

    def build(root: str) -> DataFrame:
        docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
        corpus0 = docs.filter("doc_id % 3 != 0")
        store = TableStore(root=f"{root}/store")
        C.bootstrap_corpus(spark, store, corpus0, "del.docs")
        C.delete_docs(
            spark, store, "del.docs",
            corpus0.filter("doc_id % 5 = 1").select("doc_id"),
            run_id="take-r09",
        )
        keep_cols = ["text", "lang", "source", "n_chars"]
        batch = (
            docs.filter("doc_id % 3 != 0 AND doc_id % 5 = 1")
            .select((F.col("doc_id") + 700000).alias("doc_id"), *keep_cols)
            .unionByName(
                docs.filter(
                    "doc_id % 3 != 0 AND doc_id % 5 != 1 AND doc_id % 9 = 1"
                ).select((F.col("doc_id") + 500000).alias("doc_id"), *keep_cols)
            )
            .unionByName(docs.filter("doc_id % 3 = 0"))
        )
        verdicts = C.curate_append(spark, store, batch, "del.docs", "r09-del")
        deleted = corpus0.filter("doc_id % 5 = 1").select(
            "doc_id", F.lit("deleted").alias("verdict")
        )
        return spill(
            _with_in_corpus(verdicts, store, "del.docs").unionByName(
                _with_in_corpus(deleted, store, "del.docs")
            ),
            root,
        )

    return artifact(spark, sf_dir, "delete", build).orderBy("doc_id")


def _delete_sql() -> str:
    jac = (
        "len(list_intersect(da.sh, db.sh)) "
        "/ (len(da.sh) + len(db.sh) - len(list_intersect(da.sh, db.sh)))"
    )
    return f"""
WITH RECURSIVE
sliced AS (SELECT doc_id, text FROM documents WHERE doc_id < 300),
corpus AS (SELECT doc_id, text FROM sliced WHERE doc_id % 3 != 0 AND doc_id % 5 != 1),
batch AS (
  SELECT doc_id + 700000 AS doc_id, text FROM sliced
  WHERE doc_id % 3 != 0 AND doc_id % 5 = 1
  UNION ALL
  SELECT doc_id + 500000, text FROM sliced
  WHERE doc_id % 3 != 0 AND doc_id % 5 != 1 AND doc_id % 9 = 1
  UNION ALL
  SELECT doc_id, text FROM sliced WHERE doc_id % 3 = 0
),
{_gate_sql("batch")},
p1 AS (SELECT doc_id FROM gate WHERE ok),
bfp AS (SELECT b.doc_id, md5(b.text) AS fp FROM batch b JOIN p1 USING (doc_id)),
cfp AS (SELECT DISTINCT md5(text) AS fp FROM corpus),
exc AS (SELECT doc_id FROM bfp WHERE fp IN (SELECT fp FROM cfp)),
p2a AS (SELECT doc_id, fp FROM bfp WHERE fp NOT IN (SELECT fp FROM cfp)),
exb AS (
  SELECT doc_id FROM (
    SELECT doc_id, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rk
    FROM p2a
  ) WHERE rk > 1
),
p2 AS (SELECT doc_id FROM p2a WHERE doc_id NOT IN (SELECT doc_id FROM exb)),
s2src AS (SELECT b.doc_id, b.text FROM batch b JOIN p2 USING (doc_id)),
{_incr_side_sql("corpus", "o_")},
{_incr_side_sql("s2src", "n_")},
candc AS (
  SELECT DISTINCT x.id AS id_a, y.id AS id_b
  FROM n_bands x JOIN o_bands y ON x.band = y.band AND x.bh = y.bh
  WHERE x.id != y.id
),
nearc AS (
  SELECT DISTINCT id_a FROM candc
  JOIN n_docs2 da ON da.id = id_a
  JOIN o_docs2 db ON db.id = id_b
  WHERE {jac} >= 0.5
),
p3a AS (SELECT doc_id FROM p2 WHERE doc_id NOT IN (SELECT id_a FROM nearc)),
candb AS (
  SELECT DISTINCT x.id AS id_a, y.id AS id_b
  FROM n_bands x JOIN n_bands y ON x.band = y.band AND x.bh = y.bh
  WHERE x.id < y.id
    AND x.id IN (SELECT doc_id FROM p3a) AND y.id IN (SELECT doc_id FROM p3a)
),
pairsb AS (
  SELECT id_a, id_b FROM candb
  JOIN n_docs2 da ON da.id = id_a
  JOIN n_docs2 db ON db.id = id_b
  WHERE {jac} >= 0.5
),
edges3 AS (
  SELECT id_a AS src, id_b AS dst FROM pairsb
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairsb
),
walk3(id, r) AS (
  SELECT src, src FROM edges3
  UNION
  SELECT w.id, e.dst FROM walk3 w JOIN edges3 e ON e.src = w.r
),
comp3 AS (SELECT id, min(r) AS c FROM walk3 GROUP BY id),
nearb AS (SELECT id AS doc_id FROM comp3 WHERE id != c),
verdicts AS (
  SELECT b.doc_id,
         CASE
           WHEN b.doc_id NOT IN (SELECT doc_id FROM p1) THEN 'gate_fail'
           WHEN b.doc_id IN (SELECT doc_id FROM exc) THEN 'exact_dup_corpus'
           WHEN b.doc_id IN (SELECT doc_id FROM exb) THEN 'exact_dup_batch'
           WHEN b.doc_id IN (SELECT id_a FROM nearc) THEN 'near_dup_corpus'
           WHEN b.doc_id IN (SELECT doc_id FROM nearb) THEN 'near_dup_batch'
           ELSE 'kept'
         END AS verdict
  FROM batch b
)
SELECT doc_id, verdict, verdict = 'kept' AS in_corpus FROM verdicts
UNION ALL
SELECT doc_id, 'deleted' AS verdict, FALSE AS in_corpus
FROM sliced WHERE doc_id % 3 != 0 AND doc_id % 5 = 1
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# crawl_curate_pipeline (r10 — verdict ask #5): the crawl→corpus composition
# hash-checked end to end. Pages are built IN-ENGINE around document texts
# (nav + article + footer chrome, the main_content_extraction discipline so
# the oracle can construct byte-identical HTML), then BOTH corpus and batch
# pass through ops.html.extract_main_content before curation — the exact
# plans/crawl.py shape minus the WARC byte parse (binary gzip framing has no
# SQL twin; real bytes are pinned by tests/test_crawl.py) and minus LID/CCNet
# (their own hash-checked queries: lang_id_margin, ccnet_quality_buckets).
# Planted: fresh pages (% 3 = 0), exact-dup pages (+500000, % 9 = 1),
# near-dup pages (+600000, % 9 = 2, first two words dropped), and three
# chrome-only pages (extract to '' → gate_fail). The oracle replays page
# construction, the full extraction chain (generated from the same step
# tables), and the gate → exact → MinHash near-dup → CC verdict pipeline —
# extending the corpus_delete_apply oracle, not forking a new discipline.
# ---------------------------------------------------------------------------
_CRAWL_PRE = (
    '<html><head><title>T</title></head><body>'
    '<nav><a href="/">Home</a> <a href="/a">About</a></nav><article><p>'
)
_CRAWL_POST = (
    '</p></article><footer><a href="/tos">Terms</a> '
    '<a href="/priv">Privacy</a></footer></body></html>'
)


def crawl_curate_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.table_store import TableStore
    from ..ops import curation as C
    from ..ops.html import extract_main_content

    def build(root: str) -> DataFrame:
        docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 900)

        def page(text_col):
            return F.concat(F.lit(_CRAWL_PRE), text_col, F.lit(_CRAWL_POST))

        def to_docs(df):
            txt = extract_main_content("html")
            return df.select(
                "doc_id",
                txt.alias("text"),
                F.lit("und").alias("lang"),
                F.lit("crawl").alias("source"),
                F.length(txt).cast("long").alias("n_chars"),
            )

        corpus = to_docs(
            docs.filter("doc_id % 3 != 0").select(
                "doc_id", page(F.col("text")).alias("html")
            )
        )
        w = F.split(F.trim(F.col("text")), r"\s+")
        bpages = (
            docs.filter("doc_id % 3 = 0")
            .select("doc_id", page(F.col("text")).alias("html"))
            .unionByName(
                docs.filter("doc_id % 9 = 1").select(
                    (F.col("doc_id") + 500000).alias("doc_id"),
                    page(F.col("text")).alias("html"),
                )
            )
            .unionByName(
                docs.filter("doc_id % 9 = 2").select(
                    (F.col("doc_id") + 600000).alias("doc_id"),
                    page(
                        F.array_join(
                            F.slice(w, 3, F.greatest(F.size(w) - 2, F.lit(0))),
                            " ",
                        )
                    ).alias("html"),
                )
            )
            .unionByName(
                spark.createDataFrame(
                    [(950000 + i,) for i in range(1, 4)], "doc_id long"
                ).select("doc_id", page(F.lit("")).alias("html"))
            )
        )
        batch = to_docs(bpages)
        store = TableStore(root=f"{root}/store")
        C.bootstrap_corpus(spark, store, corpus, "crawl.docs")
        verdicts = C.curate_append(spark, store, batch, "crawl.docs", "r10-crawl")
        return spill(_with_in_corpus(verdicts, store, "crawl.docs"), root)

    return artifact(spark, sf_dir, "crawl", build).orderBy("doc_id")


def _crawl_sql() -> str:
    from ..ops.html import main_content_sql

    jac = (
        "len(list_intersect(da.sh, db.sh)) "
        "/ (len(da.sh) + len(db.sh) - len(list_intersect(da.sh, db.sh)))"
    )
    pre = _CRAWL_PRE.replace("'", "''")
    post = _CRAWL_POST.replace("'", "''")
    extract = main_content_sql("html")
    near_txt = (
        "array_to_string(list_slice(string_split_regex(trim(text), '\\s+'), "
        "3, len(string_split_regex(trim(text), '\\s+'))), ' ')"
    )
    return f"""
WITH RECURSIVE
src AS (SELECT doc_id, text FROM documents WHERE doc_id < 900),
cpage AS (
  SELECT doc_id, '{pre}' || text || '{post}' AS html
  FROM src WHERE doc_id % 3 != 0
),
corpus AS (SELECT doc_id, {extract} AS text FROM cpage),
bpage AS (
  SELECT doc_id, '{pre}' || text || '{post}' AS html
  FROM src WHERE doc_id % 3 = 0
  UNION ALL
  SELECT doc_id + 500000, '{pre}' || text || '{post}'
  FROM src WHERE doc_id % 9 = 1
  UNION ALL
  SELECT doc_id + 600000, '{pre}' || {near_txt} || '{post}'
  FROM src WHERE doc_id % 9 = 2
  UNION ALL
  SELECT 950000 + i, '{pre}' || '' || '{post}' FROM range(1, 4) t(i)
),
batch AS (SELECT doc_id, {extract} AS text FROM bpage),
{_gate_sql("batch")},
p1 AS (SELECT doc_id FROM gate WHERE ok),
bfp AS (SELECT b.doc_id, md5(b.text) AS fp FROM batch b JOIN p1 USING (doc_id)),
cfp AS (SELECT DISTINCT md5(text) AS fp FROM corpus),
exc AS (SELECT doc_id FROM bfp WHERE fp IN (SELECT fp FROM cfp)),
p2a AS (SELECT doc_id, fp FROM bfp WHERE fp NOT IN (SELECT fp FROM cfp)),
exb AS (
  SELECT doc_id FROM (
    SELECT doc_id, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rk
    FROM p2a
  ) WHERE rk > 1
),
p2 AS (SELECT doc_id FROM p2a WHERE doc_id NOT IN (SELECT doc_id FROM exb)),
s2src AS (SELECT b.doc_id, b.text FROM batch b JOIN p2 USING (doc_id)),
{_incr_side_sql("corpus", "o_")},
{_incr_side_sql("s2src", "n_")},
candc AS (
  SELECT DISTINCT x.id AS id_a, y.id AS id_b
  FROM n_bands x JOIN o_bands y ON x.band = y.band AND x.bh = y.bh
  WHERE x.id != y.id
),
nearc AS (
  SELECT DISTINCT id_a FROM candc
  JOIN n_docs2 da ON da.id = id_a
  JOIN o_docs2 db ON db.id = id_b
  WHERE {jac} >= 0.5
),
p3a AS (SELECT doc_id FROM p2 WHERE doc_id NOT IN (SELECT id_a FROM nearc)),
candb AS (
  SELECT DISTINCT x.id AS id_a, y.id AS id_b
  FROM n_bands x JOIN n_bands y ON x.band = y.band AND x.bh = y.bh
  WHERE x.id < y.id
    AND x.id IN (SELECT doc_id FROM p3a) AND y.id IN (SELECT doc_id FROM p3a)
),
pairsb AS (
  SELECT id_a, id_b FROM candb
  JOIN n_docs2 da ON da.id = id_a
  JOIN n_docs2 db ON db.id = id_b
  WHERE {jac} >= 0.5
),
edges3 AS (
  SELECT id_a AS src, id_b AS dst FROM pairsb
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairsb
),
walk3(id, r) AS (
  SELECT src, src FROM edges3
  UNION
  SELECT w.id, e.dst FROM walk3 w JOIN edges3 e ON e.src = w.r
),
comp3 AS (SELECT id, min(r) AS c FROM walk3 GROUP BY id),
nearb AS (SELECT id AS doc_id FROM comp3 WHERE id != c)
SELECT b.doc_id,
       CASE
         WHEN b.doc_id NOT IN (SELECT doc_id FROM p1) THEN 'gate_fail'
         WHEN b.doc_id IN (SELECT doc_id FROM exc) THEN 'exact_dup_corpus'
         WHEN b.doc_id IN (SELECT doc_id FROM exb) THEN 'exact_dup_batch'
         WHEN b.doc_id IN (SELECT id_a FROM nearc) THEN 'near_dup_corpus'
         WHEN b.doc_id IN (SELECT doc_id FROM nearb) THEN 'near_dup_batch'
         ELSE 'kept'
       END AS verdict,
       CASE
         WHEN b.doc_id NOT IN (SELECT doc_id FROM p1) THEN FALSE
         WHEN b.doc_id IN (SELECT doc_id FROM exc) THEN FALSE
         WHEN b.doc_id IN (SELECT doc_id FROM exb) THEN FALSE
         WHEN b.doc_id IN (SELECT id_a FROM nearc) THEN FALSE
         WHEN b.doc_id IN (SELECT doc_id FROM nearb) THEN FALSE
         ELSE TRUE
       END AS in_corpus
FROM batch b
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# corpus_chain_rebase (r12, VERDICT r11 missing #4) — the publish-chain
# LIFECYCLE hash-checked end to end: bootstrap → base snapshot → two
# takedown rounds, each publishing a churn-only delete link → REBASE
# (links folded into a fresh verified base, chain length back to zero) →
# a third takedown + publish chaining off the REBASED base →
# verify_corpus_chain → materialize. Every structural claim (rebase
# fired, folded exactly 2 links, post-rebase numbering restarts at
# link-000001, chain verifies) is asserted fail-loud inside the query;
# the returned table is the materialized post-rebase chain — doc ids,
# round-tripped text lengths, and per-doc text fingerprints — which the
# oracle replays as plain set algebra over `documents`. Deletes-only by
# design: the chain machinery is what's under test (upsert links are
# pinned by test_curation's curate-driven chains), and a takedown chain
# is the lifecycle case that MUST NOT re-ship text (ids-only links).
# ---------------------------------------------------------------------------
def corpus_chain_rebase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.table_store import TableStore
    from ..ops import curation as C

    def build(root: str) -> DataFrame:
        docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 400)
        store = TableStore(root=f"{root}/store", keep_versions=8)
        C.bootstrap_corpus(spark, store, docs, "reb.docs")
        pub = f"{root}/pub"
        C.publish_corpus_delta(spark, store, "reb.docs", pub, compression=None)
        for i, cond in enumerate(
            ("doc_id % 7 = 2", "doc_id % 11 = 5"), start=1
        ):
            C.delete_docs(
                spark, store, "reb.docs",
                docs.filter(cond).select("doc_id"), run_id=f"r12-take-{i}",
            )
            info = C.publish_corpus_delta(
                spark, store, "reb.docs", pub, compression=None
            )
            if info["published"] != f"link-{i:06d}":
                raise RuntimeError(f"expected link-{i:06d}, got {info}")
        reb = C.rebase_corpus_chain(spark, pub, compression=None)
        if not reb["rebased"] or reb["links_folded"] != 2:
            raise RuntimeError(f"rebase did not fold the chain: {reb}")
        if C.rebase_corpus_chain(spark, pub, compression=None)["rebased"]:
            raise RuntimeError("rebase replay must be a no-op")
        C.delete_docs(
            spark, store, "reb.docs",
            docs.filter("doc_id % 13 = 3").select("doc_id"), run_id="r12-take-3",
        )
        info = C.publish_corpus_delta(
            spark, store, "reb.docs", pub, compression=None
        )
        if info["published"] != "link-000001":
            raise RuntimeError(
                f"post-rebase numbering must restart at link-000001: {info}"
            )
        base, link = os.path.join(pub, "base"), os.path.join(pub, "link-000001")
        C.verify_corpus_chain(spark, base, [link])
        return spill(
            C.materialize_corpus_chain(spark, base, [link]).select(
                F.col("doc_id").cast("long").alias("doc_id"),
                F.length("text").cast("long").alias("n_chars_live"),
                F.md5("text").alias("text_fp"),
            ),
            root,
        )

    return artifact(spark, sf_dir, "rebase", build).orderBy("doc_id")


CHAIN_REBASE_SQL = """
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars_live,
       md5(text) AS text_fp
FROM documents
WHERE doc_id < 400
  AND doc_id % 7 != 2
  AND doc_id % 11 != 5
  AND doc_id % 13 != 3
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# corpus_shard_export (r13, VERDICT r12 missing #1) — size-targeted
# training-shard export, hash-checked end to end: the REAL exporter
# (ops.curation.export_training_shards) writes documents as
# ~SHARD_TARGET_BYTES JSONL shards (exactly one file per shard, ids
# strictly increasing across shards) into a scratch dir, the consumer-side
# verifier re-derives every stat from the files ON DISK (fail-loud inside
# the query), and the returned table is the shard index itself — which the
# oracle replays as a pure window-cumsum over `documents` (the assignment
# is a deterministic function of (ids, byte lengths, target), so DuckDB
# reproduces docs/bytes/tokens/id-ranges/checksums without seeing the
# files). Reference anchor: S7's single-file-parity CSV sink
# (loading_data_sp/function.py:222-238) scaled to shard discipline.
# ---------------------------------------------------------------------------
SHARD_TARGET_BYTES = 16384
SHARD_TARGET_TOKENS = 2048


def _shard_index(spark: SparkSession, root: str) -> DataFrame:
    """The verified shard index under ``root/shards``, spilled to parquet
    under ``root``."""
    cols = ("shard", "n_docs", "n_bytes", "n_tokens", "min_id", "max_id",
            "content_checksum")
    index = spark.read.json(f"{root}/shards/_shard_index.jsonl")
    return spill(index.select(*(F.col(c).cast("long").alias(c) for c in cols)), root)


def _shard_export_query(spark: SparkSession, sf_dir: str, cache_tag: str,
                        **targets) -> DataFrame:
    from ..ops import curation as C

    def build(root: str) -> DataFrame:
        docs = load(spark, sf_dir, "documents").select("doc_id", "text")
        out = f"{root}/shards"
        C.export_training_shards(spark, docs, out, compression=None, **targets)
        C.verify_training_shards(spark, out)  # one-file-per-shard + stats
        return _shard_index(spark, root)

    return artifact(spark, sf_dir, cache_tag, build).orderBy("shard")


def corpus_shard_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _shard_export_query(
        spark, sf_dir, "shard_export", target_bytes=SHARD_TARGET_BYTES
    )


def corpus_shard_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sharding — the measure a training plan is actually
    written in (script-aware segmented word counts, not bytes)."""
    return _shard_export_query(
        spark, sf_dir, "shard_tokens", target_tokens=SHARD_TARGET_TOKENS
    )


def corpus_shard_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-shard lifecycle hash-checked end to end: export the id<400
    half as base shards, grow the series by the id>=400 batch through
    :func:`ops.curation.append_training_shards` (fresh shards, shipped
    files untouched), verify against the files on disk, return the
    combined index. The oracle replays both packing phases: base cumsum
    over id<400, batch cumsum over id>=400 offset to (last base
    shard + 1)."""
    from ..ops import curation as C

    def build(root: str) -> DataFrame:
        docs = load(spark, sf_dir, "documents").select("doc_id", "text")
        out = f"{root}/shards"
        C.export_training_shards(
            spark, docs.filter(F.col("doc_id") < 400), out,
            target_bytes=SHARD_TARGET_BYTES, compression=None,
        )
        C.append_training_shards(
            spark, docs.filter(F.col("doc_id") >= 400), out, compression=None
        )
        C.verify_training_shards(spark, out)
        return _shard_index(spark, root)

    return artifact(spark, sf_dir, "shard_append", build).orderBy("shard")


def _shard_append_sql() -> str:
    from .util import seg_words_sql

    rec = _H.format(x="CAST(doc_id AS VARCHAR) || ':' || md5(text)")
    return f"""
WITH base AS (
  SELECT doc_id, text, strlen(text) AS nb,
         coalesce(sum(strlen(text)) OVER (
             ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) // {SHARD_TARGET_BYTES} AS shard
  FROM documents WHERE doc_id < 400
),
batch AS (
  SELECT doc_id, text, strlen(text) AS nb,
         (SELECT max(shard) + 1 FROM base)
         + coalesce(sum(strlen(text)) OVER (
             ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) // {SHARD_TARGET_BYTES} AS shard
  FROM documents WHERE doc_id >= 400
),
assigned AS (
  SELECT * FROM base UNION ALL SELECT * FROM batch
)
SELECT CAST(shard AS BIGINT) AS shard,
       count(*) AS n_docs,
       CAST(sum(nb) AS BIGINT) AS n_bytes,
       CAST(sum(len({seg_words_sql('text')})) AS BIGINT) AS n_tokens,
       min(doc_id) AS min_id,
       max(doc_id) AS max_id,
       CAST(CAST(sum(CAST({rec} AS HUGEINT)) AS HUGEINT)
            % 2305843009213693952 AS BIGINT) AS content_checksum
FROM assigned GROUP BY shard ORDER BY shard
"""


def _shard_export_sql(measure: str = "bytes") -> str:
    from .util import seg_words_sql

    rec = _H.format(x="CAST(doc_id AS VARCHAR) || ':' || md5(text)")
    m = (
        "strlen(text)"
        if measure == "bytes"
        else f"len({seg_words_sql('text')})"
    )
    target = SHARD_TARGET_BYTES if measure == "bytes" else SHARD_TARGET_TOKENS
    return f"""
WITH assigned AS (
  SELECT doc_id, text, strlen(text) AS nb,
         coalesce(sum({m}) OVER (
             ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) // {target} AS shard
  FROM documents
)
SELECT CAST(shard AS BIGINT) AS shard,
       count(*) AS n_docs,
       CAST(sum(nb) AS BIGINT) AS n_bytes,
       CAST(sum(len({seg_words_sql('text')})) AS BIGINT) AS n_tokens,
       min(doc_id) AS min_id,
       max(doc_id) AS max_id,
       CAST(CAST(sum(CAST({rec} AS HUGEINT)) AS HUGEINT)
            % 2305843009213693952 AS BIGINT) AS content_checksum
FROM assigned GROUP BY shard ORDER BY shard
"""


QUERIES: dict = {
    "corpus_curate_append": (corpus_curate_append, _materialize_ctes(_curate_sql())),
    "corpus_shard_export": (corpus_shard_export, _shard_export_sql()),
    "corpus_shard_tokens": (corpus_shard_tokens, _shard_export_sql("tokens")),
    "corpus_shard_append": (corpus_shard_append, _shard_append_sql()),
    "corpus_delete_apply": (corpus_delete_apply, _materialize_ctes(_delete_sql())),
    "crawl_curate_pipeline": (crawl_curate_pipeline, _materialize_ctes(_crawl_sql())),
    "corpus_chain_rebase": (corpus_chain_rebase, CHAIN_REBASE_SQL),
}
