"""Text-analysis & dedup query inventory over the ``documents`` table.

The corpus has no natural duplicates (verified at sf0.01), so the dedup
queries build a deterministic augmented corpus inside the query:

    corpus = documents
           ∪ exact copies   (doc_id % 5 == 0 -> id + 100000, same text)
           ∪ near-dups      (doc_id % 7 == 0 -> id + 200000, first 2 words dropped)

giving every strategy real positives to find, in both engines identically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..ops import dedup as D
from ..ops import text as X
from ..ops.text import LANG_PRIORITY, STOPWORDS
from ..session import pin
from .artifacts import artifact, spill
from .util import ORACLE_MD5_LONG, load, md5_long, seg_words_sql


# ---------------------------------------------------------------------------
# augmented corpus (Spark + SQL twins)
# ---------------------------------------------------------------------------
def corpus_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    copies = docs.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    w = X.words_col("text")
    near = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.array_join(F.slice(w, 3, F.greatest(F.size(w) - 2, F.lit(0))), " ").alias("text"),
    )
    return docs.unionByName(copies).unionByName(near)


CORPUS_SQL = """
corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id % 5 = 0
  UNION ALL
  SELECT doc_id + 200000 AS doc_id,
         array_to_string(list_slice(string_split_regex(trim(text), '\\s+'), 3,
                          len(string_split_regex(trim(text), '\\s+'))), ' ') AS text
  FROM documents WHERE doc_id % 7 = 0
)
"""

_H = ORACLE_MD5_LONG  # portable 60-bit md5 hash, oracle side

# shingle sets as 60-bit md5 hashes (array<long>) — mirrors
# ops.dedup.hashed_shingles_col so intersects/joins are int64 on both sides
_SHINGLES_SQL = f"""
docs AS (
  SELECT id,
         list_distinct(CASE WHEN len(sp) >= 3
           THEN list_transform(range(1, len(sp) - 1),
                               i -> {_H.format(x="array_to_string(list_slice(sp, i, i + 2), ' ')")})
           ELSE [] END) AS sh
  FROM (SELECT doc_id AS id, string_split_regex(trim(text), '\\s+') AS sp FROM corpus)
),
docs2 AS (SELECT * FROM docs WHERE len(sh) > 0)
"""


# ---------------------------------------------------------------------------
# text_profile — token stats + quality + lang-id + fingerprints (one pass).
# ---------------------------------------------------------------------------
def text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    return (
        X.text_profile(docs)
        .select(
            "doc_id",
            "lang",
            "n_tokens",
            "n_bpe_tokens",
            "avg_token_len",
            "quality",
            "quality_tier",
            "pred_lang",
            "fp_md5",
            "fp_rolling",
        )
        .orderBy("doc_id")
    )


def _sw_sql(lg: str) -> str:
    lst = ", ".join(f"'{s}'" for s in STOPWORDS[lg])
    return (
        f"len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),"
        f" w -> list_contains([{lst}], w)))"
    )


def _text_profile_sql() -> str:
    hits = {lg: f"h_{lg}" for lg in LANG_PRIORITY}
    best = "greatest(" + ", ".join(hits.values()) + ")"
    lang_case = "CASE WHEN " + best + " = 0 THEN 'und' " + " ".join(
        f"WHEN {hits[lg]} = {best} THEN '{lg}'" for lg in LANG_PRIORITY
    ) + " END"
    tok_hash = _H.format(x="w") + " % 1000000007"
    return f"""
WITH base AS (
  SELECT doc_id, lang, text,
         string_split_regex(trim(text), '\\s+') AS sp,
         len(string_split_regex(trim(text), '\\s+')) AS n_tokens,
         len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^\\sA-Za-z0-9]')) AS n_bpe_tokens,
         len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS n_punct,
         {_sw_sql('en')} AS h_en, {_sw_sql('de')} AS h_de,
         {_sw_sql('es')} AS h_es, {_sw_sql('fr')} AS h_fr
  FROM documents
),
scored AS (
  SELECT *,
         round(list_aggregate(list_transform(sp, w -> length(w)), 'sum')
               / greatest(n_tokens, 1), 4) AS avg_token_len,
         round(0.4 * least(n_tokens / 50.0, 1.0)
             + 0.3 * (1.0 - least(n_punct / greatest(length(text), 1) * 4, 1.0))
             + 0.3 * least(h_en / greatest(n_tokens, 1) * 6, 1.0), 4) AS quality
  FROM base
)
SELECT doc_id, lang, n_tokens, n_bpe_tokens, avg_token_len, quality,
       CASE WHEN quality >= 0.8 THEN 'high' WHEN quality >= 0.5 THEN 'medium'
            ELSE 'low' END AS quality_tier,
       {lang_case} AS pred_lang,
       md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp_md5,
       list_reduce(
         list_prepend(0::BIGINT, list_transform(sp, w -> ({tok_hash}))),
         (a, b) -> (a * 31 + b) % 1099511627776) AS fp_rolling
FROM scored ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# ngram_logprob — CCNet-style perplexity proxy: per-doc mean bigram
# log-probability under the corpus's own bigram counts.
# ---------------------------------------------------------------------------
def ngram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    return X.ngram_logprob_scores(docs).orderBy("doc_id")


NGRAM_LOGPROB_SQL = """
WITH bg AS (
  SELECT doc_id, sp[i] AS w1, sp[i + 1] AS w2
  FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS sp FROM documents),
       LATERAL (SELECT unnest(range(1, len(sp))) AS i)
),
bgc AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY 1, 2),
ctx AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY 1)
SELECT doc_id, count(*) AS n_bigrams,
       round(CAST(sum(CAST(round(ln(c2 / c1), 6) AS DECIMAL(20,10))) AS DOUBLE)
             / count(*), 6) AS avg_logprob
FROM bg JOIN bgc USING (w1, w2) JOIN ctx USING (w1)
GROUP BY doc_id ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# corpus_curation — the capstone: one declared query composing lang-ID, the
# Gopher repetition gate, the bigram-logprob band filter, and deterministic
# split assignment into a per-(lang, split) curation manifest.
# ---------------------------------------------------------------------------
# CCNet-style percentile banding: the band sits INSIDE the corpus's observed
# logprob distribution (p5 ~= -3.44, p95 ~= -3.33 at sf0.01) so both tails
# are genuinely cut — an all-pass band would make `kept` vacuous and the
# hash gate would never notice a broken filter.
LOGPROB_LO = -3.42  # incoherent tail (rare bigrams everywhere)
LOGPROB_HI = -3.355  # degenerate tail (over-represented bigrams)


def corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r13 (VERDICT r12 ask #1): ops.text.curation_signals computes the
    # Gopher gate, bigram-LM logprob, lang-id and split in one call —
    # narrow signals + lang + split in ONE scan with the words arrays
    # materialized once (the old shape re-split per signal and joined a
    # separate base scan); the wide branches stay concurrent. The full
    # single-explode fusion was A/B-REJECTED at sf0.1 (1.13-1.35x slower,
    # stage serialization) — numbers in BASELINE.md r13.
    from ..ops.sampling import split_column

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    sig = X.curation_signals(
        docs, extra_cols={"split": split_column("doc_id")},
    )
    manifest = sig.select(
        "doc_id",
        "pred_lang",
        "split",
        (
            F.col("quality_pass")
            & F.col("avg_logprob").isNotNull()
            & (F.col("avg_logprob") >= LOGPROB_LO)
            & (F.col("avg_logprob") <= LOGPROB_HI)
        ).alias("kept"),
    )
    return (
        manifest.groupBy("pred_lang", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("kept").cast("int")).cast("long").alias("n_kept"),
        )
        .orderBy("pred_lang", "split")
    )


def _corpus_curation_sql() -> str:
    from ..ops.sampling import split_column_sql

    hits = {lg: f"h_{lg}" for lg in LANG_PRIORITY}
    best = "greatest(" + ", ".join(hits.values()) + ")"
    lang_case = "CASE WHEN " + best + " = 0 THEN 'und' " + " ".join(
        f"WHEN {hits[lg]} = {best} THEN '{lg}'" for lg in LANG_PRIORITY
    ) + " END"
    return f"""
WITH base AS (
  SELECT doc_id, text, string_split_regex(trim(text), '\\s+') AS sp,
         {_sw_sql('en')} AS h_en, {_sw_sql('de')} AS h_de,
         {_sw_sql('es')} AS h_es, {_sw_sql('fr')} AS h_fr
  FROM documents
),
narrow AS (
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
        FROM base)
),
bgr AS (
  SELECT doc_id,
         unnest(CASE WHEN len(sp) >= 2
           THEN list_transform(range(1, len(sp)),
                               i -> array_to_string(list_slice(sp, i, i + 1), ' '))
           ELSE [] END) AS bg
  FROM base
),
bgc0 AS (SELECT doc_id, bg, count(*) AS c FROM bgr GROUP BY 1, 2),
top AS (SELECT doc_id, round(max(c) / sum(c), 4) AS top_bigram_frac FROM bgc0 GROUP BY doc_id),
gate AS (
  SELECT n.doc_id,
         (n_words >= 10 AND n_words <= 100000
          AND mean_word_len >= 2 AND mean_word_len <= 10
          AND distinct_word_frac >= 0.2
          AND dup_trigram_frac <= 0.85
          AND coalesce(top_bigram_frac, 0.0) <= 0.25
          AND alpha_word_frac >= 0.8) AS quality_pass
  FROM narrow n LEFT JOIN top USING (doc_id)
),
bg AS (
  SELECT doc_id, sp[i] AS w1, sp[i + 1] AS w2
  FROM (SELECT doc_id, sp FROM base),
       LATERAL (SELECT unnest(range(1, len(sp))) AS i)
),
bgc AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY 1, 2),
ctx AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY 1),
lp AS (
  SELECT doc_id,
         round(CAST(sum(CAST(round(ln(c2 / c1), 6) AS DECIMAL(20,10))) AS DOUBLE)
               / count(*), 6) AS avg_logprob
  FROM bg JOIN bgc USING (w1, w2) JOIN ctx USING (w1)
  GROUP BY doc_id
),
manifest AS (
  SELECT b.doc_id,
         {lang_case} AS pred_lang,
         {split_column_sql("b.doc_id")} AS split,
         (quality_pass AND avg_logprob IS NOT NULL
          AND avg_logprob >= {LOGPROB_LO} AND avg_logprob <= {LOGPROB_HI}) AS kept
  FROM base b
  JOIN gate USING (doc_id)
  LEFT JOIN lp USING (doc_id)
)
SELECT pred_lang, split, count(*) AS n_docs,
       CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
FROM manifest GROUP BY 1, 2 ORDER BY pred_lang, split
"""


# ---------------------------------------------------------------------------
# dedup_exact — hash-groupBy duplicate groups on the augmented corpus.
# ---------------------------------------------------------------------------
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        D.exact_dedup_groups(corpus_df(spark, sf_dir))
        .select("canonical_id", "n_copies")
        .orderBy("canonical_id")
    )


DEDUP_EXACT_SQL = f"""
WITH {CORPUS_SQL.strip()}
SELECT canonical_id, n_copies FROM (
  SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp,
         min(doc_id) AS canonical_id, count(*) AS n_copies
  FROM corpus GROUP BY 1
) WHERE n_copies > 1 ORDER BY canonical_id
"""


# ---------------------------------------------------------------------------
# dedup_ngram_jaccard — anchor-bucketed shingle-Jaccard near-dup pairs.
# ---------------------------------------------------------------------------
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # union form (r05): anchor-verified pairs ∪ the FAMILY-SHARED MinHash
    # pair table. Verification is deterministic, so verify-each-then-union
    # ≡ union-candidates-then-verify (ops ngram_jaccard_pairs
    # candidates="union"), but this shape reuses the session-cached
    # pair table the cluster family already computes — the band/signature
    # pass costs zero when any dedup_* query ran first. The anchor path
    # reuses the family's one shingle pass too (r13 — previously a second
    # full word-split + md5-per-shingle pass over the same corpus).
    anchor = D.ngram_jaccard_pairs(
        corpus_df(spark, sf_dir),
        candidates="anchor",
        shingled=_shared_shingles(spark, sf_dir),
    )
    band_pairs = _shared_pairs(spark, sf_dir)
    return (
        anchor.unionByName(band_pairs)
        .distinct()
        .orderBy("id_a", "id_b")
    )


_NGRAM_MINS = ", ".join(
    f"min(({D.MINHASH_A[i]} * h + {D.MINHASH_B[i]}) % {D.MINHASH_MOD}) AS m{i}"
    for i in range(D.N_MINHASH)
)
_NGRAM_BANDS = " UNION ALL ".join(
    f"SELECT id, {b} AS band, md5(m{2*b} || '_' || m{2*b+1}) AS bh FROM nsigs"
    for b in range(D.N_MINHASH // 2)
)

def _anchor_cand_cte(name: str = "acand") -> str:
    """Anchor-blocking CTE chain over a preceding `docs2` shingle CTE —
    the blocking stage of ops.dedup.ngram_anchor_candidates, shared by
    the pair listing (dedup_ngram_jaccard) and the r12 referee."""
    return f"""anchors0 AS (
  SELECT id, unnest(list_filter(sh, s -> (s % 20 = 0))) AS anchor
  FROM docs2
),
rare AS (
  SELECT anchor FROM anchors0 GROUP BY anchor HAVING count(*) <= {D.MAX_ANCHOR_DF}
),
anchors AS (
  SELECT a.id, a.anchor FROM anchors0 a JOIN rare USING (anchor)
),
{name} AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM anchors a JOIN anchors b ON a.anchor = b.anchor AND a.id < b.id
)"""


# candidates = anchor buckets UNION minhash band buckets (ops default
# "union" — the band side keeps recall alive on vocabulary-saturated
# corpora where every anchor's DF exceeds the cap; see
# ops/dedup.ngram_jaccard_pairs and scripts/scale_validation.py)
DEDUP_NGRAM_SQL = f"""
WITH {CORPUS_SQL.strip()},
{_SHINGLES_SQL.strip()},
{_anchor_cand_cte('acand')},
nsigs AS (
  SELECT id, {_NGRAM_MINS}
  FROM (
    SELECT id, s % {D.MINHASH_MOD} AS h
    FROM (SELECT id, unnest(sh) AS s FROM docs2)
  ) GROUP BY id
),
nbands AS ({_NGRAM_BANDS}),
bcand AS (
  SELECT DISTINCT x.id AS id_a, y.id AS id_b
  FROM nbands x JOIN nbands y ON x.band = y.band AND x.bh = y.bh AND x.id < y.id
),
cand AS (
  SELECT id_a, id_b FROM acand UNION SELECT id_a, id_b FROM bcand
)
SELECT id_a, id_b,
       round(len(list_intersect(da.sh, db.sh))
             / (len(da.sh) + len(db.sh) - len(list_intersect(da.sh, db.sh))), 4) AS jaccard
FROM cand
JOIN docs2 da ON da.id = id_a
JOIN docs2 db ON db.id = id_b
WHERE round(len(list_intersect(da.sh, db.sh))
            / (len(da.sh) + len(db.sh) - len(list_intersect(da.sh, db.sh))), 4) >= 0.5
ORDER BY id_a, id_b
"""


# ---------------------------------------------------------------------------
# Shared MinHash pair / component subplan for the cluster-resolution family.
# dedup_minhash_lsh, dedup_clusters, dedup_keep_summary, and dedup_keep_best
# all consume the SAME banding pairs (and the latter three the same connected
# components); computing them once per (session, sf_dir) collapses four
# shingle-explode + band-join (+ three CC) runs into one. At 100 TB this is
# the difference between one dedup pass and four — the materialized pair
# table is the normal production artifact. Shingles / pairs / components
# are separate session artifacts (queries.artifacts), each built on first
# demand: the anchor generator (dedup_ngram_jaccard) shares the one shingle
# pass with the MinHash build, and pairs-only consumers never pay the
# connected-components build.
# ---------------------------------------------------------------------------
def _shared_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The family's one shingle pass over the augmented corpus."""
    return artifact(
        spark, sf_dir, "shingles",
        lambda root: spill(
            D._shingle_docs(corpus_df(spark, sf_dir), "text", "doc_id"), root
        ),
    )


def _shared_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return artifact(
        spark, sf_dir, "pairs",
        lambda root: spill(
            D.minhash_dedup_pairs(
                corpus_df(spark, sf_dir), shingled=_shared_shingles(spark, sf_dir)
            ),
            root,
        ),
    )


def _shared_pairs_components(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    from ..ops.graph import connected_components

    pairs = _shared_pairs(spark, sf_dir)
    return pairs, artifact(
        spark, sf_dir, "comp", lambda root: spill(connected_components(pairs), root)
    )


# ---------------------------------------------------------------------------
# dedup_minhash_lsh — MinHash banding candidates + true-Jaccard verify.
# ---------------------------------------------------------------------------
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _shared_pairs(spark, sf_dir).orderBy("id_a", "id_b")


def _minhash_pairs_cte(corpus_cte: str = CORPUS_SQL) -> str:
    """CTE chain ending in ``pairs(id_a, id_b, jaccard)`` — shared by
    ``dedup_minhash_lsh`` (pair listing), ``dedup_clusters`` (transitive
    closure of the same pairs), and — with a sampled ``corpus_cte`` —
    ``dedup_minhash_recall`` (banding graded against exact truth)."""
    mins = ", ".join(
        f"min(({D.MINHASH_A[i]} * h + {D.MINHASH_B[i]}) % {D.MINHASH_MOD}) AS m{i}"
        for i in range(D.N_MINHASH)
    )
    bands = " UNION ALL ".join(
        f"SELECT id, {b} AS band, md5(m{2*b} || '_' || m{2*b+1}) AS bh FROM sigs"
        for b in range(D.N_MINHASH // 2)
    )
    return f"""{corpus_cte.strip()},
{_SHINGLES_SQL.strip()},
sigs AS (
  SELECT id, {mins}
  FROM (
    SELECT id, s % {D.MINHASH_MOD} AS h
    FROM (SELECT id, unnest(sh) AS s FROM docs2)
  ) GROUP BY id
),
bands AS ({bands}),
cand AS (
  SELECT DISTINCT x.id AS id_a, y.id AS id_b
  FROM bands x JOIN bands y ON x.band = y.band AND x.bh = y.bh AND x.id < y.id
),
pairs AS (
  SELECT * FROM (
    SELECT id_a, id_b,
           round(len(list_intersect(da.sh, db.sh))
                 / (len(da.sh) + len(db.sh) - len(list_intersect(da.sh, db.sh))), 4) AS jaccard
    FROM cand
    JOIN docs2 da ON da.id = id_a
    JOIN docs2 db ON db.id = id_b
  ) WHERE jaccard >= 0.5
)"""


def _minhash_sql() -> str:
    return f"""
WITH {_minhash_pairs_cte()}
SELECT id_a, id_b, jaccard FROM pairs ORDER BY id_a, id_b
"""


# ---------------------------------------------------------------------------
# dedup_clusters — transitive closure of the MinHash near-dup pairs into
# connected components (the actual keep/drop unit of a dedup pass), via
# iterative min-label propagation + pointer jumping; oracle = recursive CTE
# reachability over the identical pair set.
# ---------------------------------------------------------------------------
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    _pairs, comp = _shared_pairs_components(spark, sf_dir)
    return (
        comp.select(F.col("id").alias("doc_id"), F.col("comp").alias("cluster_id"))
        .withColumn("n_members", F.count(F.lit(1)).over(Window.partitionBy("cluster_id")))
        .withColumn("is_canonical", F.col("doc_id") == F.col("cluster_id"))
        .orderBy("doc_id")
    )


def _dedup_clusters_sql() -> str:
    return f"""
WITH RECURSIVE {_minhash_pairs_cte()},
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
),
walk(id, r) AS (
  SELECT src, src FROM edges
  UNION
  SELECT w.id, e.dst FROM walk w JOIN edges e ON e.src = w.r
),
comp AS (SELECT id, min(r) AS cluster_id FROM walk GROUP BY id)
SELECT id AS doc_id, cluster_id,
       count(*) OVER (PARTITION BY cluster_id) AS n_members,
       id = cluster_id AS is_canonical
FROM comp ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# dedup_keep_decisions — the end product of the dedup pipeline: per-document
# keep/drop verdicts over the WHOLE corpus (cluster members beyond the
# canonical dropped, singletons kept), summarized per decision.
# ---------------------------------------------------------------------------
# ---------------------------------------------------------------------------
# html_text_extraction (r08) — HTML → text, the step between raw WARC
# response records and the documents table. Fixture: each document's text
# wrapped in a deterministic HTML page with the junk classes a real page
# carries (script with a fake close-tag inside a JS string, style, comment,
# nav boilerplate, entities, list items, self-closing br). The Spark chain
# and the DuckDB oracle are GENERATED from the same HTML_STRIP_STEPS table,
# so the hash pins the rewrite chain itself.
# ---------------------------------------------------------------------------
_HTML_PRE = (
    '<html><head><title>T</title><style>p {color: red}</style>'
    '<script type="text/javascript">var x = 1 < 2 && "</div>";</script>'
    '</head><body><!-- boilerplate --><div class="nav">Home &amp; About</div><p>'
)
_HTML_POST = '</p><ul><li>a&lt;b</li><li>c&nbsp;d</li></ul><br/></body></html>'


def html_text_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ops.html import extract_html_documents

    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 3000)
    pages = docs.select(
        "doc_id",
        F.concat(
            F.lit(_HTML_PRE),
            F.regexp_replace(F.col("text"), r"\s+", " "),
            F.lit(_HTML_POST),
        ).alias("html"),
    )
    out = extract_html_documents(pages)
    return out.select(
        "doc_id",
        "n_chars_html",
        "n_chars_text",
        F.md5(F.col("text")).alias("text_fp"),
    ).orderBy("doc_id")


def _html_extract_sql() -> str:
    from ..ops.html import html_to_text_sql

    pre = _HTML_PRE.replace("'", "''")
    post = _HTML_POST.replace("'", "''")
    page = f"'{pre}' || regexp_replace(text, '\\s+', ' ', 'g') || '{post}'"
    txt = html_to_text_sql("html")
    return f"""
WITH pages AS (
  SELECT doc_id, {page} AS html
  FROM documents WHERE doc_id < 3000
)
SELECT doc_id,
       length(html) AS n_chars_html,
       length({txt}) AS n_chars_text,
       md5({txt}) AS text_fp
FROM pages
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# leakage_safe_split (r08) — cluster-aware train/val/test assignment: the
# near-dup CLUSTER root (CC min-id; singleton = itself) is hashed, not the
# document, so paraphrase pairs can never straddle train and eval (the
# benchmark-contamination mode plain hash splitting allows ~2p(1-p) of the
# time). Oracle: recursive-CTE reachability (dedup_clusters discipline) +
# the identical md5 bucket arithmetic as dataset_split, over group_id.
# ---------------------------------------------------------------------------
def leakage_safe_split_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ops.sampling import leakage_safe_split

    corpus = corpus_df(spark, sf_dir)
    _pairs, comp = _shared_pairs_components(spark, sf_dir)
    return leakage_safe_split(
        corpus, None, id_col="doc_id", components=comp
    ).orderBy("doc_id")


def _leakage_split_sql() -> str:
    from ..ops.sampling import split_column_sql

    return f"""
WITH RECURSIVE {_minhash_pairs_cte()},
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
),
walk(id, r) AS (
  SELECT src, src FROM edges
  UNION
  SELECT w.id, e.dst FROM walk w JOIN edges e ON e.src = w.r
),
comp AS (SELECT id, min(r) AS comp FROM walk GROUP BY id),
assign AS (
  SELECT c.doc_id, coalesce(m.comp, c.doc_id) AS group_id
  FROM corpus c LEFT JOIN comp m ON m.id = c.doc_id
)
SELECT doc_id, group_id, {split_column_sql("group_id")} AS split
FROM assign ORDER BY doc_id
"""


def dedup_keep_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ops.graph import dedup_keep_decisions

    corpus = corpus_df(spark, sf_dir)
    pairs, comp = _shared_pairs_components(spark, sf_dir)
    return (
        dedup_keep_decisions(corpus, pairs, components=comp)
        .groupBy("keep")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_distinct("cluster_id").alias("n_clusters"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
        .orderBy("keep")
    )


def _dedup_keep_sql() -> str:
    return f"""
WITH RECURSIVE {_minhash_pairs_cte()},
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
),
walk(id, r) AS (
  SELECT src, src FROM edges
  UNION
  SELECT w.id, e.dst FROM walk w JOIN edges e ON e.src = w.r
),
comp AS (SELECT id, min(r) AS cluster_id FROM walk GROUP BY id),
verdicts AS (
  SELECT c.doc_id,
         coalesce(comp.cluster_id, c.doc_id) AS cluster_id,
         coalesce(comp.cluster_id, c.doc_id) = c.doc_id AS keep
  FROM corpus c LEFT JOIN comp ON comp.id = c.doc_id
)
SELECT keep, count(*) AS n_docs, count(DISTINCT cluster_id) AS n_clusters,
       min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
FROM verdicts GROUP BY keep ORDER BY keep
"""


# ---------------------------------------------------------------------------
# dedup_impact_report (r12) — the audit a data lead reads after a dedup
# pass: per power-of-two cluster-size bucket, how many near-dup clusters
# exist and what dropping non-canonical members saves (docs + chars).
# Composes the FAMILY-SHARED pair/component tables (zero extra shingle or
# banding work when any dedup_* sibling ran first) with one cluster-keyed
# and one bucket-keyed aggregation; buckets via the engine-portable
# length(bin(n))-1 idiom. The oracle replays the identical CC closure +
# folds over the augmented corpus.
# ---------------------------------------------------------------------------
def dedup_impact_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = corpus_df(spark, sf_dir)
    _pairs, comp = _shared_pairs_components(spark, sf_dir)
    members = corpus.select(
        "doc_id", F.length("text").cast("long").alias("chars")
    ).join(
        comp.select(F.col("id").alias("doc_id"), F.col("comp").alias("cluster_id")),
        "doc_id",
    )
    per = members.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.sum(
            F.when(F.col("doc_id") != F.col("cluster_id"), F.col("chars")).otherwise(
                F.lit(0)
            )
        ).alias("_chars_rm"),
    )
    bucket = (F.length(F.bin(F.col("n_members"))) - 1).cast("int")
    return (
        per.groupBy(bucket.alias("size_bucket"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_clusters"),
            F.sum(F.col("n_members") - 1).cast("long").alias("docs_removed"),
            F.sum("_chars_rm").cast("long").alias("chars_removed"),
        )
        .orderBy("size_bucket")
    )


def _dedup_impact_sql() -> str:
    return f"""
WITH RECURSIVE {_minhash_pairs_cte()},
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
),
walk(id, r) AS (
  SELECT src, src FROM edges
  UNION
  SELECT w.id, e.dst FROM walk w JOIN edges e ON e.src = w.r
),
comp AS (SELECT id, min(r) AS cluster_id FROM walk GROUP BY id),
members AS (
  SELECT comp.id AS doc_id, comp.cluster_id, length(c.text) AS chars
  FROM comp JOIN corpus c ON c.doc_id = comp.id
),
per AS (
  SELECT cluster_id, count(*) AS n_members,
         sum(CASE WHEN doc_id != cluster_id THEN chars ELSE 0 END) AS chars_rm
  FROM members GROUP BY cluster_id
)
SELECT CAST(length(bin(n_members)) - 1 AS INTEGER) AS size_bucket,
       CAST(count(*) AS BIGINT) AS n_clusters,
       CAST(sum(n_members - 1) AS BIGINT) AS docs_removed,
       CAST(sum(chars_rm) AS BIGINT) AS chars_removed
FROM per
GROUP BY 1
ORDER BY size_bucket
"""

# ---------------------------------------------------------------------------
# classifier_pr_curve (r12) — the threshold-tuning artifact a curation
# lead reads before wiring a quality classifier into the gate: the NB
# quality scorer's precision/recall at each score decile, graded against
# the fixture's own labels (lang == 'en'). Train on the FULL corpus (the
# production pass), evaluate on the fixed-size sample discipline every
# referee uses — the global score ordering (one window) runs over ~100
# rows, never the corpus, so the curve costs the same at any scale.
# ---------------------------------------------------------------------------
PR_DECILES = 10


def classifier_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    model = X.train_hashed_nb(
        docs, label_col=(F.col("lang") == "en"), n_features=CLF_FEATURES
    )
    n = docs.count()
    mod = max(10, n // 100)
    ev = docs.filter(F.col("doc_id") % mod == 0)
    scored = X.score_hashed_nb(ev, model, n_features=CLF_FEATURES).join(
        ev.select("doc_id", (F.col("lang") == "en").cast("int").alias("_y")),
        "doc_id",
    )
    w = Window.orderBy(F.desc("llr"), F.asc("doc_id"))
    ranked = scored.select(
        "llr",
        "_y",
        F.row_number().over(w).alias("_rk"),
        F.sum("_y").over(w).alias("_cum_tp"),
        F.ntile(PR_DECILES).over(w).alias("decile"),
        F.sum("_y").over(
            Window.orderBy(F.lit(1)).rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("_pos"),
    )
    return (
        ranked.groupBy("decile")
        .agg(
            F.round(F.min("llr"), 6).alias("threshold"),
            F.max("_rk").cast("long").alias("n_kept"),
            F.max_by("_cum_tp", "_rk").cast("long").alias("tp"),
            F.round(F.max_by("_cum_tp", "_rk") / F.max("_rk"), 4).alias("precision"),
            F.round(F.max_by("_cum_tp", "_rk") / F.max("_pos"), 4).alias("recall"),
        )
        .orderBy("decile")
    )


def _pr_curve_sql() -> str:
    # the NB scoring chain verbatim (model trained on the full corpus),
    # then the decile sweep over the fixed-size eval sample
    return f"""
WITH sp AS (
  SELECT doc_id, lang = 'en' AS y,
         list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                     w -> w != '') AS ws
  FROM documents
),
toks AS (
  SELECT doc_id, y, {_CLF_FEAT} AS feature
  FROM (SELECT doc_id, y, unnest(ws) AS w FROM sp)
),
model AS (
  SELECT feature,
         SUM(CASE WHEN y THEN 1 ELSE 0 END) AS c_pos,
         SUM(CASE WHEN y THEN 0 ELSE 1 END) AS c_neg
  FROM toks GROUP BY feature
),
tot AS (SELECT SUM(c_pos) AS tp, SUM(c_neg) AS tn FROM model),
evdoc AS (
  SELECT doc_id, y FROM sp
  WHERE doc_id % (SELECT greatest(10, count(*) // 100) FROM documents) = 0
),
scored0 AS (
  SELECT t.doc_id,
         CAST(round(ln((m.c_pos + 1) / (tot.tp + {CLF_FEATURES}.0))
                    - ln((m.c_neg + 1) / (tot.tn + {CLF_FEATURES}.0)), 6)
              AS DECIMAL(20,10)) AS llr1
  FROM toks t JOIN model m USING (feature) CROSS JOIN tot
  WHERE t.doc_id IN (SELECT doc_id FROM evdoc)
),
scored AS (
  SELECT s.doc_id, round(CAST(sum(llr1) AS DOUBLE), 6) AS llr,
         CAST(max(CASE WHEN e.y THEN 1 ELSE 0 END) AS INTEGER) AS y
  FROM scored0 s JOIN evdoc e USING (doc_id)
  GROUP BY s.doc_id
),
ranked AS (
  SELECT llr, y,
         row_number() OVER (ORDER BY llr DESC, doc_id) AS rk,
         sum(y) OVER (ORDER BY llr DESC, doc_id
                      ROWS UNBOUNDED PRECEDING) AS cum_tp,
         ntile({PR_DECILES}) OVER (ORDER BY llr DESC, doc_id) AS decile,
         sum(y) OVER () AS pos
  FROM scored
)
SELECT decile,
       round(min(llr), 6) AS threshold,
       CAST(max(rk) AS BIGINT) AS n_kept,
       CAST(max_by(cum_tp, rk) AS BIGINT) AS tp,
       round(max_by(cum_tp, rk) / CAST(max(rk) AS DOUBLE), 4) AS precision,
       round(max_by(cum_tp, rk) / CAST(max(pos) AS DOUBLE), 4) AS recall
FROM ranked
GROUP BY decile
ORDER BY decile
"""

# ---------------------------------------------------------------------------
# dedup_simhash — equal-16-bit-SimHash candidate groups.
# ---------------------------------------------------------------------------
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        D.simhash_groups(corpus_df(spark, sf_dir))
        .select("simhash", "canonical_id", "n_docs")
        .orderBy("canonical_id")
    )


def _simhash_sql() -> str:
    bit_sums = ", ".join(
        f"sum(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS s{j}"
        for j in range(D.SIMHASH_BITS)
    )
    combine = " + ".join(
        f"CASE WHEN s{j} > 0 THEN {1 << j} ELSE 0 END" for j in range(D.SIMHASH_BITS)
    )
    return f"""
WITH {CORPUS_SQL.strip()},
tok AS (
  SELECT doc_id AS id, {_H.format(x="w")} AS h
  FROM (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS w FROM corpus)
),
bits AS (SELECT id, {bit_sums} FROM tok GROUP BY id),
sh AS (SELECT id, {combine} AS simhash FROM bits)
SELECT simhash, canonical_id, n_docs FROM (
  SELECT simhash, min(id) AS canonical_id, count(*) AS n_docs
  FROM sh GROUP BY simhash
) WHERE n_docs > 1 ORDER BY canonical_id
"""


# ---------------------------------------------------------------------------
# doc_quality_signals — Gopher-style repetition/quality gating signals
# (Rae et al. 2021 §A.1.1 re-expressed): narrow per-doc stats plus the one
# genuinely wide signal (top-bigram fraction) via explode + two-level agg.
# ---------------------------------------------------------------------------
def doc_quality_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    return X.repetition_signals(docs).orderBy("doc_id")


DOC_QUALITY_SQL = """
WITH base AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS sp FROM documents
),
narrow AS (
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
        FROM base)
),
bg AS (
  SELECT doc_id,
         unnest(CASE WHEN len(sp) >= 2
           THEN list_transform(range(1, len(sp)),
                               i -> array_to_string(list_slice(sp, i, i + 1), ' '))
           ELSE [] END) AS bg
  FROM base
),
bgc AS (SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY 1, 2),
top AS (SELECT doc_id, round(max(c) / sum(c), 4) AS top_bigram_frac FROM bgc GROUP BY doc_id)
SELECT n.doc_id, n_words, mean_word_len, distinct_word_frac, dup_trigram_frac,
       alpha_word_frac,
       coalesce(top_bigram_frac, 0.0) AS top_bigram_frac,
       (n_words >= 10 AND n_words <= 100000
        AND mean_word_len >= 2 AND mean_word_len <= 10
        AND distinct_word_frac >= 0.2
        AND dup_trigram_frac <= 0.85
        AND coalesce(top_bigram_frac, 0.0) <= 0.25
        AND alpha_word_frac >= 0.8) AS quality_pass
FROM narrow n LEFT JOIN top USING (doc_id)
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# dataset_split — deterministic hash-based train/val/test assignment with
# per-(lang, split) counts; the last step of a training-data pipeline.
# ---------------------------------------------------------------------------
def dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ops.sampling import split_column

    docs = load(spark, sf_dir, "documents")
    return (
        docs.withColumn("split", split_column("doc_id"))
        .groupBy("lang", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("n_chars").cast("decimal(30,8)")).cast("double").alias("sum_chars"),
        )
        .orderBy("lang", "split")
    )


def _dataset_split_sql() -> str:
    from ..ops.sampling import split_column_sql

    return f"""
SELECT lang,
       {split_column_sql("doc_id")} AS split,
       count(*) AS n_docs,
       CAST(sum(CAST(n_chars AS DECIMAL(30,8))) AS DOUBLE) AS sum_chars
FROM documents
GROUP BY 1, 2
ORDER BY lang, split
"""


# ---------------------------------------------------------------------------
# passage_dedup — exact-substring duplication: k-token passages repeated
# across distinct documents (the fixed-window approximation of suffix-array
# substring dedup, Lee et al. 2022). Complements the document-level dedup
# family: near-dup finds similar DOCS, this finds shared SPANS (boilerplate,
# licenses, templates) inside otherwise-distinct docs.
# ---------------------------------------------------------------------------
PASSAGE_K = 8
PASSAGE_TOP = 50


def passage_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    return D.repeated_passages(docs, k=PASSAGE_K, min_docs=2, top=PASSAGE_TOP)


PASSAGE_DEDUP_SQL = f"""
WITH sp AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM documents
),
wins AS (
  SELECT doc_id, array_to_string(list_slice(w, i, i + {PASSAGE_K - 1}), ' ') AS passage
  FROM sp, LATERAL (SELECT unnest(range(1, len(w) - {PASSAGE_K - 2})) AS i)
)
SELECT passage,
       count(*) AS n_occurrences,
       count(DISTINCT doc_id) AS n_docs,
       min(doc_id) AS first_doc
FROM wins
GROUP BY passage
HAVING count(DISTINCT doc_id) >= 2
ORDER BY n_occurrences DESC, n_docs DESC, passage
LIMIT {PASSAGE_TOP}
"""


# ---------------------------------------------------------------------------
# passage_dedup_maximal (r07) — variable-length form: adjacent surviving
# k-windows merged into MAXIMAL repeated passages (one gaps-and-islands
# window pass over the counting-pass output); the per-doc excision spans of
# Lee et al. 2022. Oracle replays window survival by string equality and
# the same pos - row_number() island arithmetic.
# ---------------------------------------------------------------------------
def passage_dedup_maximal(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    return (
        D.maximal_repeated_passages(docs, k=PASSAGE_K, min_docs=2)
        .orderBy(F.desc("n_words"), "doc_id", "start_pos")
        .limit(PASSAGE_TOP)
    )


PASSAGE_MAXIMAL_SQL = f"""
WITH sp AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM documents
),
wins AS (
  SELECT doc_id, i - 1 AS pos,
         array_to_string(list_slice(w, i, i + {PASSAGE_K - 1}), ' ') AS passage
  FROM sp, LATERAL (SELECT unnest(range(1, len(w) - {PASSAGE_K - 2})) AS i)
),
cand AS (
  SELECT passage FROM wins GROUP BY passage HAVING count(DISTINCT doc_id) >= 2
),
surv AS (SELECT doc_id, pos FROM wins WHERE passage IN (SELECT passage FROM cand)),
isl AS (
  SELECT doc_id, pos,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM surv
),
islands AS (
  SELECT doc_id, min(pos) AS s, max(pos) AS e FROM isl GROUP BY doc_id, grp
)
SELECT i.doc_id, s AS start_pos, e - s + {PASSAGE_K} AS n_words,
       array_to_string(list_slice(d.w, s + 1, e + {PASSAGE_K}), ' ') AS passage
FROM islands i JOIN sp d USING (doc_id)
ORDER BY n_words DESC, doc_id, start_pos
LIMIT {PASSAGE_TOP}
"""


# ---------------------------------------------------------------------------
# bpe_pair_counts — corpus-wide adjacent-character-pair frequencies: the
# argmax statistic of the first BPE merge (tokenizer induction primitive).
# ---------------------------------------------------------------------------
BPE_TOP = 30


def bpe_pair_counts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ops.textprep import bpe_pair_counts

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    return bpe_pair_counts(docs, top=BPE_TOP)


BPE_PAIRS_SQL = f"""
WITH words AS (
  SELECT unnest(string_split_regex(trim(text), '\\s+')) AS w FROM documents
),
pairs AS (
  SELECT substr(w, i, 2) AS pair
  FROM (SELECT w FROM words WHERE length(w) >= 2),
       LATERAL (SELECT unnest(range(1, length(w))) AS i)
)
SELECT pair, count(*) AS n
FROM pairs
GROUP BY pair
ORDER BY n DESC, pair
LIMIT {BPE_TOP}
"""


# ---------------------------------------------------------------------------
# bpe_train_merges (r07) — the iterative BPE training loop itself: n_merges
# rounds of weighted pair argmax + greedy left-to-right merge application
# over the vocab-bounded word-count relation (the corpus is scanned once).
# Oracle: unrolled per-round CTEs; the merge fold replays via list_reduce
# over a chr(1)-joined token string (same greedy semantics, test-pinned).
# ---------------------------------------------------------------------------
BPE_MERGES = 4


def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ops.textprep import bpe_train

    docs = load(spark, sf_dir, "documents").select("text")
    return bpe_train(docs, n_merges=BPE_MERGES).orderBy("merge_rank")


def _bpe_train_sql(k: int = BPE_MERGES) -> str:
    rounds = []
    for r in range(1, k + 1):
        rounds.append(f"""pr{r} AS (
  SELECT p[1] AS lhs, p[2] AS rhs, sum(c)::BIGINT AS n
  FROM (SELECT c,
               unnest(list_transform(range(1, len(toks)),
                                     i -> [toks[i], toks[i + 1]])) AS p
        FROM v{r - 1} WHERE len(toks) >= 2)
  GROUP BY 1, 2
),
m{r} AS (SELECT lhs, rhs, n FROM pr{r} ORDER BY n DESC, lhs, rhs LIMIT 1),
v{r} AS (
  SELECT c,
         string_split(
           list_reduce(toks, (acc, t) ->
             CASE WHEN t = mr AND (acc = ml OR ends_with(acc, chr(1) || ml))
             THEN acc || t ELSE acc || chr(1) || t END),
           chr(1)) AS toks
  FROM (SELECT v.c, v.toks, m.lhs AS ml, m.rhs AS mr
        FROM v{r - 1} v CROSS JOIN m{r} m)
)""")
    finals = "\nUNION ALL ".join(
        f"SELECT {r} AS merge_rank, lhs, rhs, lhs || rhs AS merged, n FROM m{r}"
        for r in range(1, k + 1)
    )
    joined_rounds = ",\n".join(rounds)
    return f"""
WITH v0 AS (
  SELECT c, list_transform(range(1, length(w) + 1), i -> substr(w, i, 1)) AS toks
  FROM (SELECT w, count(*) AS c
        FROM (SELECT unnest(string_split_regex(trim(text), '\\s+')) AS w
              FROM documents)
        WHERE length(w) >= 2
        GROUP BY w)
),
{joined_rounds}
SELECT * FROM ({finals})
ORDER BY merge_rank
"""


# ---------------------------------------------------------------------------
# corpus_mixture — deterministic data mixing with upsampling: per-source
# target weights (epochs) materialized as exact hash-Bernoulli copy counts,
# then the mixed corpus summarized per source. The "mix CommonCrawl at 0.6,
# books at 2.5 epochs" step of a pre-training pipeline, reproducible and
# append-incremental.
# ---------------------------------------------------------------------------
MIX_WEIGHTS = {"src0": 2.5, "src1": 0.6, "src2": 1.0, "src3": 0.25}


def corpus_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ops.sampling import mixture_resample

    docs = load(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    mixed = mixture_resample(docs, MIX_WEIGHTS, source_col="source", id_col="doc_id")
    return (
        mixed.groupBy("source")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_rows_out"),
            F.sum(F.col("n_chars").cast("decimal(30,8)")).cast("double").alias("sum_chars_out"),
            F.max("copy_idx").cast("long").alias("max_copies"),
        )
        .orderBy("source")
    )


def _corpus_mixture_sql() -> str:
    from ..ops.sampling import mixture_copies_sql

    n_copies = mixture_copies_sql("source", "doc_id", MIX_WEIGHTS)
    return f"""
WITH counted AS (
  SELECT doc_id, source, n_chars, {n_copies} AS n_copies FROM documents
),
mixed AS (
  SELECT doc_id, source, n_chars, CAST(u.copy_idx AS BIGINT) AS copy_idx
  FROM counted, LATERAL (SELECT unnest(range(1, n_copies + 1)) AS copy_idx) u
  WHERE n_copies > 0
)
SELECT source,
       count(DISTINCT doc_id) AS n_docs,
       count(*) AS n_rows_out,
       CAST(sum(CAST(n_chars AS DECIMAL(30,8))) AS DOUBLE) AS sum_chars_out,
       max(copy_idx) AS max_copies
FROM mixed
GROUP BY source
ORDER BY source
"""


# ---------------------------------------------------------------------------
# dedup_keep_best — quality-aware canonical selection: per near-dup cluster
# keep the LONGEST member (the production heuristic), not the lowest id.
# ---------------------------------------------------------------------------
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ops.graph import dedup_keep_best as keep_best

    corpus = corpus_df(spark, sf_dir).withColumn("n_tokens", X.token_count(F.col("text")))
    pairs, comp = _shared_pairs_components(spark, sf_dir)
    return keep_best(corpus, pairs, "n_tokens", components=comp).orderBy("doc_id")


def _dedup_keep_best_sql() -> str:
    return f"""
WITH RECURSIVE {_minhash_pairs_cte()},
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
),
walk(id, r) AS (
  SELECT src, src FROM edges
  UNION
  SELECT w.id, e.dst FROM walk w JOIN edges e ON e.src = w.r
),
comp AS (SELECT id, min(r) AS cluster_id FROM walk GROUP BY id),
labeled AS (
  SELECT c.doc_id,
         coalesce(comp.cluster_id, c.doc_id) AS cluster_id,
         len(string_split_regex(trim(c.text), '\\s+')) AS score
  FROM corpus c LEFT JOIN comp ON comp.id = c.doc_id
)
SELECT doc_id, cluster_id, score, rn = 1 AS keep FROM (
  SELECT *, row_number() OVER (PARTITION BY cluster_id ORDER BY score DESC, doc_id) AS rn
  FROM labeled
) ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# dedup_incremental — batch-vs-corpus MinHash dedup: an incoming delta
# (exact copies + near-dups of existing docs) deduped against the full
# corpus without corpus-x-corpus pairing.
# ---------------------------------------------------------------------------
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    copies = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 300000).alias("doc_id"), "text"
    )
    w = X.words_col("text")
    near = docs.filter(F.col("doc_id") % 21 == 0).select(
        (F.col("doc_id") + 400000).alias("doc_id"),
        F.array_join(F.slice(w, 3, F.greatest(F.size(w) - 2, F.lit(0))), " ").alias("text"),
    )
    batch = copies.unionByName(near)
    return D.incremental_minhash_pairs(batch, docs).orderBy("id_a", "id_b")


def _incr_side_sql(src: str, p: str) -> str:
    """Shingle/signature/band CTE chain for one corpus side, prefixed."""
    mins = ", ".join(
        f"min(({D.MINHASH_A[i]} * h + {D.MINHASH_B[i]}) % {D.MINHASH_MOD}) AS m{i}"
        for i in range(D.N_MINHASH)
    )
    bands = " UNION ALL ".join(
        f"SELECT id, {b} AS band, md5(m{2*b} || '_' || m{2*b+1}) AS bh FROM {p}sigs"
        for b in range(D.N_MINHASH // 2)
    )
    return f"""{p}docs AS (
  SELECT id,
         list_distinct(CASE WHEN len(sp) >= 3
           THEN list_transform(range(1, len(sp) - 1),
                               i -> {_H.format(x="array_to_string(list_slice(sp, i, i + 2), ' ')")})
           ELSE [] END) AS sh
  FROM (SELECT doc_id AS id, string_split_regex(trim(text), '\\s+') AS sp FROM {src})
),
{p}docs2 AS (SELECT * FROM {p}docs WHERE len(sh) > 0),
{p}sigs AS (
  SELECT id, {mins}
  FROM (
    SELECT id, s % {D.MINHASH_MOD} AS h
    FROM (SELECT id, unnest(sh) AS s FROM {p}docs2)
  ) GROUP BY id
),
{p}bands AS ({bands})"""


def _dedup_incremental_sql() -> str:
    return f"""
WITH oldc AS (SELECT doc_id, text FROM documents),
newc AS (
  SELECT doc_id + 300000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
  UNION ALL
  SELECT doc_id + 400000 AS doc_id,
         array_to_string(list_slice(string_split_regex(trim(text), '\\s+'), 3,
                          len(string_split_regex(trim(text), '\\s+'))), ' ') AS text
  FROM documents WHERE doc_id % 21 = 0
),
{_incr_side_sql("oldc", "o_")},
{_incr_side_sql("newc", "n_")},
allb AS (
  SELECT id, band, bh, FALSE AS isnew FROM o_bands
  UNION ALL
  SELECT id, band, bh, TRUE AS isnew FROM n_bands
),
cand AS (
  SELECT DISTINCT x.id AS id_a, y.id AS id_b, NOT y.isnew AS is_corpus_pair
  FROM n_bands x JOIN allb y ON x.band = y.band AND x.bh = y.bh
  WHERE x.id != y.id AND ((NOT y.isnew) OR x.id < y.id)
),
alldocs AS (SELECT * FROM o_docs2 UNION ALL SELECT * FROM n_docs2)
SELECT id_a, id_b, jaccard, is_corpus_pair FROM (
  SELECT id_a, id_b,
         round(len(list_intersect(da.sh, db.sh))
               / (len(da.sh) + len(db.sh) - len(list_intersect(da.sh, db.sh))), 4) AS jaccard,
         is_corpus_pair
  FROM cand
  JOIN alldocs da ON da.id = id_a
  JOIN alldocs db ON db.id = id_b
) WHERE jaccard >= 0.5
ORDER BY id_a, id_b
"""


def _bpe_encode_sql(
    k: int = BPE_MERGES,
    table: str = "documents",
    words: str = "string_split_regex(trim(text), '\\s+')",
) -> str:
    """Oracle for bpe_encode_docs: the SAME train round CTEs (merge
    selection), plus an encode fold chain over ALL distinct words (the
    train chain votes with len>=2 words only; encoding touches every
    word) and per-doc ordered stream reassembly. ``table``/``words``
    parameterize the corpus relation and the word split (the CJK
    queries pass a script-aware split over a union corpus)."""
    rounds = []
    for r in range(1, k + 1):
        rounds.append(f"""pr{r} AS (
  SELECT p[1] AS lhs, p[2] AS rhs, sum(c)::BIGINT AS n
  FROM (SELECT c,
               unnest(list_transform(range(1, len(toks)),
                                     i -> [toks[i], toks[i + 1]])) AS p
        FROM v{r - 1} WHERE len(toks) >= 2)
  GROUP BY 1, 2
),
m{r} AS (SELECT lhs, rhs, n FROM pr{r} ORDER BY n DESC, lhs, rhs LIMIT 1),
v{r} AS (
  SELECT c,
         string_split(
           list_reduce(toks, (acc, t) ->
             CASE WHEN t = mr AND (acc = ml OR ends_with(acc, chr(1) || ml))
             THEN acc || t ELSE acc || chr(1) || t END),
           chr(1)) AS toks
  FROM (SELECT v.c, v.toks, m.lhs AS ml, m.rhs AS mr
        FROM v{r - 1} v CROSS JOIN m{r} m)
),
e{r} AS (
  SELECT w,
         string_split(
           list_reduce(toks, (acc, t) ->
             CASE WHEN t = mr AND (acc = ml OR ends_with(acc, chr(1) || ml))
             THEN acc || t ELSE acc || chr(1) || t END),
           chr(1)) AS toks
  FROM (SELECT e.w, e.toks, m.lhs AS ml, m.rhs AS mr
        FROM e{r - 1} e CROSS JOIN m{r} m)
)""")
    joined_rounds = ",\n".join(rounds)
    return f"""
WITH v0 AS (
  SELECT c, list_transform(range(1, length(w) + 1), i -> substr(w, i, 1)) AS toks
  FROM (SELECT w, count(*) AS c
        FROM (SELECT unnest({words}) AS w
              FROM {table})
        WHERE length(w) >= 2
        GROUP BY w)
),
e0 AS (
  SELECT w, list_transform(range(1, length(w) + 1), i -> substr(w, i, 1)) AS toks
  FROM (SELECT DISTINCT w
        FROM (SELECT unnest({words}) AS w
              FROM {table})
        WHERE w != '')
),
{joined_rounds},
exp AS (
  SELECT doc_id, i AS pos, sp[i] AS w
  FROM (SELECT doc_id, {words} AS sp
        FROM {table}),
       LATERAL (SELECT unnest(range(1, len(sp) + 1)) AS i)
  WHERE sp[i] != ''
),
doctoks AS (
  SELECT doc_id, flatten(list(toks ORDER BY pos)) AS stream
  FROM exp JOIN e{k} USING (w)
  GROUP BY doc_id
)
SELECT doc_id,
       len(stream)::BIGINT AS n_tokens,
       md5(array_to_string(stream, ' ')) AS tokens_fp
FROM doctoks
ORDER BY doc_id
"""


def bpe_encode_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ops.textprep import bpe_encode, bpe_train

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    m = [
        (r["lhs"], r["rhs"])
        for r in bpe_train(docs.select("text"), n_merges=BPE_MERGES)
        .orderBy("merge_rank")
        .collect()
    ]
    return bpe_encode(docs, m).orderBy("doc_id")



# ---------------------------------------------------------------------------
# text_normalization (r07) — byte-noise canonicalization before
# fingerprinting: control chars / zero-width marks stripped, all Unicode
# whitespace collapsed. Fixture plants deterministic noise per doc_id % 5
# (clean testdata carries none); Spark and DuckDB construct the SAME noisy
# text, normalize with the SAME two regexes, and must hash-match.
# ---------------------------------------------------------------------------
def text_normalization(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ops.text import normalize_documents

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    v = F.col("doc_id") % 5
    noisy = (
        F.when(v == 0, F.concat(F.lit("​"), F.col("text")))
        .when(v == 1, F.regexp_replace(F.col("text"), " ", "  "))
        .when(v == 2, F.concat(F.col("text"), F.lit("\r\n\t")))
        .when(v == 3, F.concat(F.lit("  "), F.col("text"), F.lit("﻿")))
        .otherwise(F.col("text"))
    )
    return normalize_documents(
        docs.select("doc_id", noisy.alias("text"))
    ).orderBy("id")


TEXT_NORM_SQL = r"""
WITH noisy AS (
  SELECT doc_id,
         CASE doc_id % 5
           WHEN 0 THEN chr(8203) || text
           WHEN 1 THEN replace(text, ' ', chr(160) || chr(160))
           WHEN 2 THEN text || chr(13) || chr(10) || chr(9)
           WHEN 3 THEN '  ' || text || chr(65279)
           ELSE text
         END AS text
  FROM documents
),
norm AS (
  SELECT doc_id, text,
         trim(regexp_replace(
           regexp_replace(text,
             '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F'
               || chr(8203) || chr(8204) || chr(8205) || chr(65279) || ']',
             '', 'g'),
           '[\s\p{Zs}]+', ' ', 'g')) AS n
  FROM noisy
)
SELECT doc_id AS id,
       md5(n) AS norm_fp,
       length(text) AS n_chars_raw,
       length(n) AS n_chars_norm,
       text != n AS changed
FROM norm
ORDER BY id
"""


# ---------------------------------------------------------------------------
# epoch_shuffle_order (r07) — reproducible global training order: md5(epoch,
# id) order key, shard = hash % n, per-shard window ranks. Same epoch ->
# identical order in any engine (resume-from-step reproducibility); new
# epoch -> full reshuffle.
# ---------------------------------------------------------------------------
EPOCH = 2
EPOCH_SHARDS = 8


def epoch_shuffle_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ops.sampling import epoch_shuffle

    docs = load(spark, sf_dir, "documents").select("doc_id")
    return epoch_shuffle(docs, EPOCH, n_shards=EPOCH_SHARDS).orderBy(
        "shard", "shard_rank"
    )


EPOCH_SHUFFLE_SQL = f"""
SELECT doc_id, shard, row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) AS shard_rank
FROM (SELECT doc_id,
             {ORACLE_MD5_LONG.format(x="('epoch" + str(EPOCH) + ":' || CAST(doc_id AS VARCHAR))")} AS h,
             {ORACLE_MD5_LONG.format(x="('epoch" + str(EPOCH) + ":' || CAST(doc_id AS VARCHAR))")} % {EPOCH_SHARDS} AS shard
      FROM documents)
ORDER BY shard, shard_rank
"""


# ---------------------------------------------------------------------------
# decontaminate_passages (r07) — eval-set decontamination at the passage
# level: the strict verbatim k-gram rule (Lee et al. / GPT-3 13-gram, k=8
# here to fit the synthetic doc lengths). Bench fixture: docs doc_id%17=3
# with first+last word dropped — every bench row plants verbatim spans
# back into the corpus. Oracle replays with pure string windows (the key
# prefilter has no false negatives, so it is invisible to the result).
# ---------------------------------------------------------------------------
DECON_K = 8


def decontaminate_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    w = F.split(F.trim(F.col("text")), r"\s+")
    bench = docs.filter("doc_id % 17 = 3").select(
        (F.col("doc_id") + 700000).alias("doc_id"),
        F.array_join(
            F.slice(w, 2, F.greatest(F.size(w) - 2, F.lit(0))), " "
        ).alias("text"),
    )
    return D.decontaminate_ngram(docs, bench, k=DECON_K).orderBy("doc_id")


DECON_SQL = f"""
WITH bench AS (
  SELECT array_to_string(list_slice(sp, 2, len(sp) - 1), ' ') AS text
  FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS sp
        FROM documents)
  WHERE doc_id % 17 = 3
),
bwin AS (
  SELECT DISTINCT array_to_string(list_slice(sp, i, i + {DECON_K - 1}), ' ') AS w
  FROM (SELECT string_split_regex(trim(text), '\\s+') AS sp FROM bench),
       LATERAL (SELECT unnest(range(1, len(sp) - {DECON_K - 2})) AS i)
),
cwin AS (
  SELECT doc_id, array_to_string(list_slice(sp, i, i + {DECON_K - 1}), ' ') AS w
  FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS sp
        FROM documents),
       LATERAL (SELECT unnest(range(1, len(sp) - {DECON_K - 2})) AS i)
)
SELECT doc_id,
       count(DISTINCT w) AS n_shared_windows,
       count(*) AS n_hit_positions
FROM cwin JOIN bwin USING (w)
GROUP BY doc_id
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# url_dedup (r07) — URL canonicalization + URL-level dedup, the pre-content
# step of a crawl pipeline (composes with sources.warc_source.target_uri).
# Fixture: deterministic URL variants per doc (case/port/fragment/tracking-
# param/param-order/trailing-slash noise) that canonicalize into groups;
# the oracle replays the SAME regex normalization chain in DuckDB.
# ---------------------------------------------------------------------------
def url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ops.urls import url_dedup_decisions

    docs = load(spark, sf_dir, "documents").select("doc_id", "source")
    base = F.concat(F.lit("page"), (F.col("doc_id") % 50).cast("string"))
    stem = F.concat(F.lit("http://"), F.col("source"), F.lit(".example.com/"), base)
    v = F.col("doc_id") % 4
    url = (
        F.when(v == 0, stem)
        .when(v == 1, F.concat(
            F.lit("HTTP://"), F.upper(F.col("source")),
            F.lit(".EXAMPLE.COM:80/"), base, F.lit("/#sec")))
        .when(v == 2, F.concat(stem, F.lit("?utm_source=tw&b=2&a=1")))
        .otherwise(F.concat(stem, F.lit("?a=1&b=2")))
    )
    return url_dedup_decisions(
        docs.select("doc_id", url.alias("url"))
    ).orderBy("doc_id")


URL_DEDUP_SQL = r"""
WITH urls AS (
  SELECT doc_id,
         CASE doc_id % 4
           WHEN 0 THEN 'http://' || source || '.example.com/page' || (doc_id % 50)
           WHEN 1 THEN 'HTTP://' || upper(source) || '.EXAMPLE.COM:80/page' || (doc_id % 50) || '/#sec'
           WHEN 2 THEN 'http://' || source || '.example.com/page' || (doc_id % 50) || '?utm_source=tw&b=2&a=1'
           ELSE 'http://' || source || '.example.com/page' || (doc_id % 50) || '?a=1&b=2'
         END AS url
  FROM documents
),
parts AS (
  SELECT doc_id,
         regexp_replace(url, '#.*$', '') AS u
  FROM urls
),
comps AS (
  SELECT doc_id,
         lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.\-]*)://', 1)) AS scheme,
         regexp_replace(u, '^[A-Za-z][A-Za-z0-9+.\-]*://', '') AS rest
  FROM parts
),
comps2 AS (
  SELECT doc_id, scheme,
         CASE scheme
           WHEN 'http'  THEN regexp_replace(lower(regexp_extract(rest, '^([^/?]+)', 1)), ':80$', '')
           WHEN 'https' THEN regexp_replace(lower(regexp_extract(rest, '^([^/?]+)', 1)), ':443$', '')
           ELSE lower(regexp_extract(rest, '^([^/?]+)', 1))
         END AS host,
         regexp_replace(rest, '^[^/?]+', '') AS pathq
  FROM comps
),
comps3 AS (
  SELECT doc_id, scheme, host,
         CASE WHEN regexp_replace(regexp_extract(pathq, '^([^?]*)', 1), '/+$', '') = ''
              THEN '/'
              ELSE regexp_replace(regexp_extract(pathq, '^([^?]*)', 1), '/+$', '') END AS path,
         array_to_string(
           list_sort(list_filter(string_split(regexp_extract(pathq, '\?(.*)$', 1), '&'),
                                 p -> p != '' AND NOT regexp_matches(p, '^(utm_[^=]*|fbclid|gclid|ref)='))),
           '&') AS qs
  FROM comps2
),
norm AS (
  SELECT doc_id,
         scheme || '://' || host || path ||
         CASE WHEN qs != '' THEN '?' || qs ELSE '' END AS url_norm
  FROM comps3
)
SELECT doc_id, url_norm,
       row_number() OVER (PARTITION BY url_norm ORDER BY doc_id) = 1 AS keep
FROM norm
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# stratified_sample_n — exactly 20 documents per language, chosen by
# deterministic salted-hash order (stable across runs/partitionings).
# ---------------------------------------------------------------------------
def stratified_sample_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ops.sampling import stratified_exact_n

    docs = load(spark, sf_dir, "documents").select("doc_id", "lang")
    return stratified_exact_n(docs, "lang", 20).orderBy("lang", "sample_rank")


STRATIFIED_N_SQL = f"""
SELECT doc_id, lang, CAST(rk AS INT) AS sample_rank FROM (
  SELECT doc_id, lang,
         row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rk
  FROM (SELECT doc_id, lang,
               {ORACLE_MD5_LONG.format(x="('exact:' || CAST(doc_id AS VARCHAR))")} AS h
        FROM documents)
) WHERE rk <= 20 ORDER BY lang, sample_rank
"""


# ---------------------------------------------------------------------------
# contamination_check — corpus docs sharing >= 3 distinct shingles with a
# held-out "benchmark" set (documents with doc_id % 15 == 0); the augmented
# corpus guarantees real hits (exact copies of every doc_id % 5 == 0).
# ---------------------------------------------------------------------------
def contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    bench = load(spark, sf_dir, "documents").filter(F.col("doc_id") % 15 == 0)
    # corpus_df unions three one-split scans, so the md5-per-shingle
    # hashing ran 3-wide on local[32] (the _docs_parallel condition, r13);
    # one narrow hash repartition spreads the row-local shingle transform
    # across the session's cores — at warehouse scale the input arrives in
    # many splits and this exchange is noise
    corpus = corpus_df(spark, sf_dir).repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    return D.cross_corpus_overlap(corpus, bench, min_shared=3).orderBy(
        "doc_id", "bench_id"
    )


CONTAMINATION_SQL = f"""
WITH {CORPUS_SQL.strip()},
{_SHINGLES_SQL.strip()},
bsh AS (
  SELECT id AS bench_id,
         list_distinct(CASE WHEN len(sp) >= 3
           THEN list_transform(range(1, len(sp) - 1),
                               i -> {_H.format(x="array_to_string(list_slice(sp, i, i + 2), ' ')")})
           ELSE [] END) AS sh
  FROM (SELECT doc_id AS id, string_split_regex(trim(text), '\\s+') AS sp
        FROM documents WHERE doc_id % 15 = 0)
),
ce AS (SELECT id, unnest(sh) AS s FROM docs2),
be AS (SELECT bench_id, unnest(sh) AS s FROM bsh WHERE len(sh) > 0)
SELECT id AS doc_id, bench_id, count(*) AS n_shared
FROM ce JOIN be USING (s)
WHERE id != bench_id
GROUP BY 1, 2
HAVING count(*) >= 3
ORDER BY doc_id, bench_id
"""


# ---------------------------------------------------------------------------
# neardup_triangles — triangle counts over the MinHash near-dup graph: how
# clique-like each duplicate neighborhood is (triangle-rich components are
# true duplicate clusters; triangle-poor chains are transitive-closure
# artifacts). Reuses the family-shared pair table; two node-keyed equi-joins
# enumerate each a<b<c triangle exactly once (ops.graph.triangle_counts).
# ---------------------------------------------------------------------------
def neardup_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ops.graph import triangle_counts

    pairs = _shared_pairs(spark, sf_dir)
    return triangle_counts(pairs).orderBy(F.desc("n_triangles"), "id").limit(100)


def _triangles_sql() -> str:
    return f"""
WITH {_minhash_pairs_cte()},
tri AS (
  SELECT e1.id_a AS a, e1.id_b AS b, e2.id_b AS c
  FROM pairs e1
  JOIN pairs e2 ON e1.id_b = e2.id_a
  JOIN pairs e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b
),
members AS (
  SELECT a AS id FROM tri UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri
)
SELECT id, count(*) AS n_triangles
FROM members GROUP BY id
ORDER BY n_triangles DESC, id
LIMIT 100
"""


# neardup_clustering_coeff (r06) — the continuous refinement of the
# triangle diagnostic: local cc = 2T / deg(deg-1) per node, ppm ints.
def neardup_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ops.graph import clustering_coefficients

    pairs = _shared_pairs(spark, sf_dir)
    return clustering_coefficients(pairs).orderBy(
        F.desc("cc_ppm"), F.desc("degree"), "id"
    ).limit(100)


def _clustering_coeff_sql() -> str:
    return f"""
WITH {_minhash_pairs_cte()},
deg AS (
  SELECT id, count(*) AS degree FROM (
    SELECT id_a AS id FROM pairs UNION ALL SELECT id_b FROM pairs
  ) GROUP BY id
),
tri AS (
  SELECT e1.id_a AS a, e1.id_b AS b, e2.id_b AS c
  FROM pairs e1
  JOIN pairs e2 ON e1.id_b = e2.id_a
  JOIN pairs e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b
),
tcnt AS (
  SELECT id, count(*) AS n_triangles FROM (
    SELECT a AS id FROM tri UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri
  ) GROUP BY id
)
SELECT d.id, CAST(d.degree AS BIGINT) AS degree,
       CAST(coalesce(t.n_triangles, 0) AS BIGINT) AS n_triangles,
       CAST(floor(coalesce(t.n_triangles, 0) * 2.0
                  / (d.degree * (d.degree - 1)) * 1000000 + 0.5) AS BIGINT) AS cc_ppm
FROM deg d LEFT JOIN tcnt t ON d.id = t.id
WHERE d.degree >= 2
ORDER BY cc_ppm DESC, degree DESC, d.id
LIMIT 100
"""


# ---------------------------------------------------------------------------
# fuzzy_name_match — entity-resolution probe: every 37th customer name,
# deterministically corrupted (one digit deleted at a key-dependent
# position), matched back against the full name corpus within edit
# distance 2. The probe set broadcasts; the corpus streams past it once
# with a length-difference prune in the join condition and Spark's
# THRESHOLDED levenshtein (banded DP, abandons past d) as the kernel.
# Corpus-vs-corpus fuzzy matching uses the blocked pair generators instead
# (see ops.dedup.fuzzy_probe_join docstring).
# ---------------------------------------------------------------------------
def fuzzy_name_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    cust = load(spark, sf_dir, "customer")
    # key-range cap: the probe set must stay FIXED-SIZE as the corpus
    # grows (a corpus-derived probe set would make the probe join
    # quadratic at scale; the ops contract is probe-side-small)
    probes = cust.filter(
        (F.col("c_custkey") % 149 == 0) & (F.col("c_custkey") < 15000)
    ).select(
        F.col("c_custkey").alias("probe_id"),
        F.concat(
            F.expr("substring(c_name, 1, 9 + CAST(c_custkey % 9 AS INT))"),
            F.expr("substring(c_name, 11 + CAST(c_custkey % 9 AS INT), 100)"),
        ).alias("probe_name"),
    )
    # customer is ONE parquet split locally, so the thresholded-levenshtein
    # kernel (the probe BNLJ streams the corpus side) ran single-threaded
    # (the _docs_parallel condition, r13); a narrow hash repartition gives
    # the banded-DP loop the session's cores — at warehouse scale the scan
    # arrives in many splits and this exchange is noise
    corpus = cust.select(
        F.col("c_custkey").alias("id"), F.col("c_name").alias("name")
    ).repartition(spark.sparkContext.defaultParallelism, "id")
    out = D.fuzzy_probe_join(
        corpus, probes, text_col="name", id_col="id",
        probe_text_col="probe_name", probe_id_col="probe_id", max_distance=2,
    )
    # ER resolution step: keep the 5 BEST candidates per probe (the
    # digit-string name space is deliberately ambiguous — hundreds of
    # names sit within 2 edits — so the useful output is the ranked
    # shortlist, not the full candidate dump)
    w = Window.partitionBy("probe_id").orderBy("distance", "id")
    return (
        out.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select("probe_id", "rnk", "id", "distance")
        .orderBy("probe_id", "rnk")
    )


FUZZY_NAME_SQL = """
WITH probes AS (
  SELECT c_custkey AS probe_id,
         substring(c_name, 1, CAST(9 + c_custkey % 9 AS INT))
         || substring(c_name, CAST(11 + c_custkey % 9 AS INT), 100) AS probe_name
  FROM customer WHERE c_custkey % 149 = 0 AND c_custkey < 15000
),
cand AS (
  SELECT probe_id, c_custkey AS id, levenshtein(c_name, probe_name) AS distance
  FROM customer JOIN probes
    ON abs(length(c_name) - length(probe_name)) <= 2
  WHERE levenshtein(c_name, probe_name) <= 2
)
SELECT probe_id, rnk, id, distance FROM (
  SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY distance, id) AS rnk
  FROM cand
) WHERE rnk <= 5
ORDER BY probe_id, rnk
"""


# weighted_sample_docs — deterministic weighted sampling without
# replacement (r06): Efraimidis–Spirakis A-ES over md5-derived uniforms;
# 5 docs per source, inclusion probability ∝ n_chars. The float key stays
# internal — compared output is ints/strings only.
def weighted_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ops.sampling import weighted_sample_k

    docs = load(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    return (
        weighted_sample_k(docs, 5, "n_chars", group_col="source")
        .select("source", "sample_rank", "doc_id", "n_chars")
        .orderBy("source", "sample_rank")
    )


def _weighted_sample_sql() -> str:
    from ..ops.sampling import weighted_sample_key_sql

    key = weighted_sample_key_sql("doc_id", "n_chars")
    return f"""
SELECT source, CAST(rk AS INT) AS sample_rank, doc_id, n_chars FROM (
  SELECT doc_id, source, n_chars,
         row_number() OVER (PARTITION BY source ORDER BY {key}, doc_id) AS rk
  FROM documents
) WHERE rk <= 5 ORDER BY source, sample_rank
"""


# doc_text_knn (r06) — model-free text similarity capstone: documents →
# sparse signed-hash vectors → cosine kNN, integer-exact until the final
# division. No dense arrays; the sparse (doc, j, val) relation is the
# vector representation.
TKNN_DIM = 256
TKNN_K = 5


def doc_text_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ops.textprep import text_knn

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    return text_knn(docs, probe_ids=list(range(5)), k=TKNN_K, dim=TKNN_DIM).orderBy(
        "query_id", "rank"
    )


def _text_knn_sql() -> str:
    hw = ORACLE_MD5_LONG.format(x="w")
    hs = ORACLE_MD5_LONG.format(x="('sgn:' || w)")
    return f"""
WITH sp AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                            w -> w != '')) AS w
  FROM documents
),
vec AS (
  SELECT doc_id, j, val FROM (
    SELECT doc_id, ({hw} % {TKNN_DIM}) AS j,
           SUM(CASE WHEN {hs} % 2 = 0 THEN 1 ELSE -1 END) AS val
    FROM sp GROUP BY doc_id, j
  ) WHERE val != 0
),
norms AS (
  SELECT doc_id, SUM(val * val) AS n2 FROM vec GROUP BY doc_id
),
probes AS (
  SELECT doc_id AS query_id, j, val AS pval FROM vec WHERE doc_id < 5
),
dots AS (
  SELECT p.query_id, v.doc_id AS nbr_id, SUM(v.val * p.pval) AS dot
  FROM vec v JOIN probes p ON v.j = p.j AND v.doc_id != p.query_id
  GROUP BY p.query_id, v.doc_id
),
scored AS (
  SELECT d.query_id, d.nbr_id,
         round(d.dot / (sqrt(CAST(n.n2 AS DOUBLE)) * sqrt(CAST(pn.n2 AS DOUBLE))), 6) AS cosine
  FROM dots d
  JOIN norms n ON n.doc_id = d.nbr_id
  JOIN norms pn ON pn.doc_id = d.query_id
)
SELECT query_id, rank, nbr_id, cosine FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, nbr_id) AS rank
  FROM scored
) WHERE rank <= {TKNN_K}
ORDER BY query_id, rank
"""


# ---------------------------------------------------------------------------
# model-based quality filtering (r06): the classifier gates a FineWeb/CCNet
# pipeline applies after the heuristic filters. Two declared forms:
#   doc_classifier_margin — linear inference over hashing-trick features,
#     integer-exact margins, ZERO exchanges (per-row array fold);
#   doc_nb_quality — TRAIN a hashed Naive Bayes on the corpus's own lang
#     labels, then score every document (train = integer count aggs, score
#     = round-6 ln-ratio DECIMAL sums per the ngram_logprob discipline).
CLF_FEATURES = 512
CLF_SEED = 7


def doc_classifier_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    return X.hashed_classifier(
        docs, n_features=CLF_FEATURES, seed=CLF_SEED
    ).orderBy("doc_id")


_CLF_FEAT = f"(({ORACLE_MD5_LONG.format(x='w')}) % {CLF_FEATURES})"
CLASSIFIER_MARGIN_SQL = f"""
WITH sp AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                     w -> w != '') AS ws
  FROM documents
),
contrib AS (
  SELECT doc_id, len(ws) AS n_terms,
         list_transform(ws, w ->
           (({ORACLE_MD5_LONG.format(x=f"'clf{CLF_SEED}_' || {_CLF_FEAT}::VARCHAR")})
            % 2001) - 1000) AS cs
  FROM sp
)
SELECT doc_id,
       CAST(n_terms AS INT) AS n_terms,
       CAST(coalesce(list_aggregate(cs, 'sum'), 0) AS BIGINT) AS margin,
       CAST(coalesce(list_aggregate(cs, 'sum'), 0) AS BIGINT) > 0 AS keep
FROM contrib
ORDER BY doc_id
"""


def doc_nb_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    model = X.train_hashed_nb(
        docs, label_col=(F.col("lang") == "en"), n_features=CLF_FEATURES
    )
    return X.score_hashed_nb(docs, model, n_features=CLF_FEATURES).orderBy(
        "doc_id"
    )


NB_QUALITY_SQL = f"""
WITH sp AS (
  SELECT doc_id, lang = 'en' AS y,
         list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                     w -> w != '') AS ws
  FROM documents
),
toks AS (
  SELECT doc_id, y, {_CLF_FEAT} AS feature
  FROM (SELECT doc_id, y, unnest(ws) AS w FROM sp)
),
model AS (
  SELECT feature,
         SUM(CASE WHEN y THEN 1 ELSE 0 END) AS c_pos,
         SUM(CASE WHEN y THEN 0 ELSE 1 END) AS c_neg
  FROM toks GROUP BY feature
),
tot AS (SELECT SUM(c_pos) AS tp, SUM(c_neg) AS tn FROM model),
scored AS (
  SELECT t.doc_id,
         CAST(round(ln((m.c_pos + 1) / (tot.tp + {CLF_FEATURES}.0))
                    - ln((m.c_neg + 1) / (tot.tn + {CLF_FEATURES}.0)), 6)
              AS DECIMAL(20,10)) AS llr1
  FROM toks t JOIN model m USING (feature) CROSS JOIN tot
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_scored,
       round(CAST(sum(llr1) AS DOUBLE), 6) AS llr
FROM scored GROUP BY doc_id
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# ccnet_quality_buckets (r09) — CCNet's signature move: per-LANGUAGE
# equal-population perplexity buckets (head/middle/tail) instead of one
# global threshold, so one language's score scale never starves another.
# Scored under the corpus's own bigram MLE (the ngram_logprob discipline);
# the oracle replays scoring AND the per-lang ntile with the identical
# (score DESC, doc_id) tie-break, so the hash pins the bucket boundaries.
# ---------------------------------------------------------------------------
def ccnet_quality_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    return X.ccnet_buckets(docs).orderBy("doc_id")


CCNET_BUCKETS_SQL = """
WITH bg AS (
  SELECT doc_id, sp[i] AS w1, sp[i + 1] AS w2
  FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS sp FROM documents),
       LATERAL (SELECT unnest(range(1, len(sp))) AS i)
),
bgc AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY 1, 2),
ctx AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY 1),
scored AS (
  SELECT doc_id, count(*) AS n_bigrams,
         round(CAST(sum(CAST(round(ln(c2 / c1), 6) AS DECIMAL(20,10))) AS DOUBLE)
               / count(*), 6) AS avg_logprob
  FROM bg JOIN bgc USING (w1, w2) JOIN ctx USING (w1)
  GROUP BY doc_id
),
labeled AS (
  SELECT s.doc_id, d.lang, CAST(s.n_bigrams AS BIGINT) AS n_bigrams,
         s.avg_logprob,
         ntile(3) OVER (PARTITION BY d.lang
                        ORDER BY s.avg_logprob DESC, s.doc_id) AS nt
  FROM scored s JOIN documents d USING (doc_id)
)
SELECT doc_id, lang, n_bigrams, avg_logprob,
       CASE nt WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket
FROM labeled
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# main_content_extraction (r09) — block-level boilerplate removal (jusText-
# shape length + integer link-density gates, ops/html.py). Fixture: each
# document's text as the article paragraph inside a page wrapped in the
# chrome a real crawl page carries — title, link-only nav, link-list
# sidebar, footer — plus a fixed second genuine paragraph so multi-block
# order is pinned. The Spark chain and the DuckDB oracle are GENERATED from
# the same step tables + constants, so the hash pins the block decisions.
# ---------------------------------------------------------------------------
_MC_PRE = (
    '<html><head><title>Chrome Title</title></head><body>'
    '<div class="nav"><a href="/">Home</a> <a href="/a">About</a> '
    '<a href="/c">Contact</a></div><p>'
)
_MC_MID = (
    '</p><div class="sidebar"><ul><li><a href="/r1">Related one</a></li>'
    '<li><a href="/r2">Related two</a></li></ul></div>'
    '<p>Second paragraph of genuine article content, long enough to keep.</p>'
)
_MC_POST = (
    '<div class="footer"><a href="/tos">Terms</a> | '
    '<a href="/priv">Privacy</a> (c) 2026</div></body></html>'
)


def main_content_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ops.html import extract_main_documents

    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 3000)
    pages = docs.select(
        "doc_id",
        F.concat(
            F.lit(_MC_PRE),
            F.regexp_replace(F.col("text"), r"\s+", " "),
            F.lit(_MC_MID + _MC_POST),
        ).alias("html"),
    )
    out = extract_main_documents(pages)
    return out.select(
        "doc_id",
        "n_chars_html",
        F.col("n_chars_text").alias("n_chars_main"),
        F.md5(F.col("text")).alias("text_fp"),
    ).orderBy("doc_id")


def _main_content_sql() -> str:
    from ..ops.html import main_content_sql

    pre = _MC_PRE.replace("'", "''")
    tail = (_MC_MID + _MC_POST).replace("'", "''")
    page = f"'{pre}' || regexp_replace(text, '\\s+', ' ', 'g') || '{tail}'"
    txt = main_content_sql("html")
    return f"""
WITH pages AS (
  SELECT doc_id, {page} AS html
  FROM documents WHERE doc_id < 3000
)
SELECT doc_id,
       length(html) AS n_chars_html,
       length({txt}) AS n_chars_main,
       md5({txt}) AS text_fp
FROM pages
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# lang_id_trained (r09) — TRAINABLE language ID: multiclass hashed NB over
# character 3-grams (fastText-LID shape), trained on the corpus's own lang
# labels (doc_id % 5 != 0) and scoring the held-out fifth. The oracle
# replays train AND score — dense langs × features grid, round-6 ln
# DECIMAL sums, argmax with lang-ascending tie-break — so the hash pins the
# whole model, not just the prediction. (The stopword lang_id stays in
# text_profile; this is the curation-gate upgrade: char n-grams need no
# per-language word lists.) Separation vs the heuristic is pinned in
# tests/test_ops.py on planted multilingual docs.
# ---------------------------------------------------------------------------
def lang_id_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    model = X.train_char_lid(docs.filter("doc_id % 5 != 0"))
    return X.score_char_lid(docs.filter("doc_id % 5 = 0"), model).orderBy(
        "doc_id"
    )


_LID_FEAT = f"(({ORACLE_MD5_LONG.format(x='g')}) % {X.LID_FEATURES})"
_LID_GRAMS = (
    "CASE WHEN length(t) >= 3 THEN "
    "list_transform(range(1, length(t) - 1), i -> substring(t, i, 3)) "
    "ELSE [] END"
)
LANG_ID_TRAINED_SQL = f"""
WITH tr AS (
  SELECT lang, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
  FROM documents WHERE doc_id % 5 != 0
),
tr_f AS (
  SELECT lang, {_LID_FEAT} AS feature
  FROM (SELECT lang, unnest({_LID_GRAMS}) AS g FROM tr)
),
counts AS (SELECT lang, feature, count(*) AS c FROM tr_f GROUP BY 1, 2),
langs AS (SELECT DISTINCT lang FROM tr),
feats AS (SELECT unnest(range({X.LID_FEATURES})) AS feature),
model AS (
  SELECT l.lang, f.feature, coalesce(c.c, 0) AS c
  FROM langs l CROSS JOIN feats f
  LEFT JOIN counts c ON c.lang = l.lang AND c.feature = f.feature
),
tot AS (SELECT lang, sum(c) AS tot FROM model GROUP BY lang),
te AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
  FROM documents WHERE doc_id % 5 = 0
),
te_f AS (
  SELECT doc_id, feature, count(*) AS n
  FROM (
    SELECT doc_id, {_LID_FEAT} AS feature
    FROM (SELECT doc_id, unnest({_LID_GRAMS}) AS g FROM te)
  ) GROUP BY 1, 2
),
scored AS (
  SELECT x.doc_id, m.lang, x.n,
         CAST(x.n AS DECIMAL(8,0))
         * CAST(round(ln((m.c + 1) / (tot.tot + {X.LID_FEATURES}.0)), 6)
                AS DECIMAL(20,10)) AS ll
  FROM te_f x JOIN model m USING (feature) JOIN tot ON tot.lang = m.lang
),
per AS (
  SELECT doc_id, lang, sum(n) AS n_grams, sum(ll) AS s
  FROM scored GROUP BY 1, 2
)
SELECT doc_id, lang AS pred_lang, CAST(n_grams AS BIGINT) AS n_grams,
       round(CAST(s AS DOUBLE), 6) AS llr
FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY s DESC, lang) AS rk
  FROM per
) WHERE rk = 1
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# lang_id_margin (r10 — verdict ask #2) — LID confidence banding: the same
# trained multiclass NB, scored WITH the top1−top2 margin (one lead() in the
# argmax window — no extra pass) and routed through the CCNet-style filter
# step (Wenzek et al. 2019): docs whose per-gram margin is below threshold,
# or that carry < LID_MIN_GRAMS of evidence, get lid_lang='unknown' instead
# of a force-label. The scoring set plants short fragments (doc_id % 7 = 0
# truncated to 9 chars -> < 8 grams -> unknown by evidence) so BOTH routing
# branches are exercised and hash-pinned; the margin branch's semantics on
# genuinely mixed-language text are pinned by the planted test in
# tests/test_ops.py (the synthetic corpus's lang labels are not
# text-correlated, so margins here pin determinism, not accuracy). All
# routing compares are integers on the ppm grid — bit-replayable in DuckDB.
# ---------------------------------------------------------------------------
def lang_id_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    model = X.train_char_lid(docs.filter("doc_id % 5 != 0"))
    held = docs.filter("doc_id % 5 = 0").select(
        "doc_id",
        F.when(F.col("doc_id") % 7 == 0, F.substring("text", 1, 9))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    scored = X.score_char_lid(held, model, margin=True)
    return X.route_lid_unknown(scored).orderBy("doc_id")


LANG_ID_MARGIN_SQL = f"""
WITH tr AS (
  SELECT lang, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
  FROM documents WHERE doc_id % 5 != 0
),
tr_f AS (
  SELECT lang, {_LID_FEAT} AS feature
  FROM (SELECT lang, unnest({_LID_GRAMS}) AS g FROM tr)
),
counts AS (SELECT lang, feature, count(*) AS c FROM tr_f GROUP BY 1, 2),
langs AS (SELECT DISTINCT lang FROM tr),
feats AS (SELECT unnest(range({X.LID_FEATURES})) AS feature),
model AS (
  SELECT l.lang, f.feature, coalesce(c.c, 0) AS c
  FROM langs l CROSS JOIN feats f
  LEFT JOIN counts c ON c.lang = l.lang AND c.feature = f.feature
),
tot AS (SELECT lang, sum(c) AS tot FROM model GROUP BY lang),
te AS (
  SELECT doc_id, trim(regexp_replace(lower(
           CASE WHEN doc_id % 7 = 0 THEN substring(text, 1, 9) ELSE text END
         ), '\\s+', ' ', 'g')) AS t
  FROM documents WHERE doc_id % 5 = 0
),
te_f AS (
  SELECT doc_id, feature, count(*) AS n
  FROM (
    SELECT doc_id, {_LID_FEAT} AS feature
    FROM (SELECT doc_id, unnest({_LID_GRAMS}) AS g FROM te)
  ) GROUP BY 1, 2
),
scored AS (
  SELECT x.doc_id, m.lang, x.n,
         CAST(x.n AS DECIMAL(8,0))
         * CAST(round(ln((m.c + 1) / (tot.tot + {X.LID_FEATURES}.0)), 6)
                AS DECIMAL(20,10)) AS ll
  FROM te_f x JOIN model m USING (feature) JOIN tot ON tot.lang = m.lang
),
per AS (
  SELECT doc_id, lang, sum(n) AS n_grams, sum(ll) AS s
  FROM scored GROUP BY 1, 2
),
ranked AS (
  SELECT *, row_number() OVER w AS rk, lead(s) OVER w AS s2
  FROM per
  WINDOW w AS (PARTITION BY doc_id ORDER BY s DESC, lang)
),
top AS (
  SELECT doc_id, lang, CAST(n_grams AS BIGINT) AS n_grams,
         round(CAST(s AS DOUBLE), 6) AS llr,
         CAST((s - s2) * 1000000 AS BIGINT) AS margin_ppm,
         CAST(floor(CAST((s - s2) * 1000000 AS BIGINT) / n_grams) AS BIGINT)
           AS margin_ppg
  FROM ranked WHERE rk = 1
)
SELECT doc_id, lang AS pred_lang, n_grams, llr, margin_ppm, margin_ppg,
       CASE WHEN n_grams >= {X.LID_MIN_GRAMS} AND margin_ppg IS NOT NULL
                 AND margin_ppg >= {X.LID_MIN_MARGIN_PPG}
            THEN lang ELSE 'unknown' END AS lid_lang
FROM top
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# dsir_selection (r10) — DSIR importance resampling (Xie et al. 2023), the
# data-mixing selection step: fit hashed uni+bigram multinomials over a
# small TARGET corpus (doc_id % 7 = 0 as the wanted-style proxy) and the
# RAW pool (the rest), weight every raw doc by its round-6 DECIMAL-summed
# log importance ratio, and Gumbel-top-k resample (md5-grid noise —
# deterministic sampling-without-replacement ∝ exp(logw)). The oracle
# replays feature hashing, both dense smoothed distributions, the weight
# sums, the Gumbel keys, and the final rank — the whole selection is
# hash-pinned end to end.
# ---------------------------------------------------------------------------
DSIR_K = 200


def dsir_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ops import sampling as SA

    # one-split scan -> the token explode + md5 feature hashing ran
    # single-threaded (the _docs_parallel condition, r13)
    docs = _docs_parallel(spark, sf_dir)
    target = docs.filter("doc_id % 7 = 0")
    raw = docs.filter("doc_id % 7 != 0")
    return SA.dsir_select(raw, target, k=DSIR_K).orderBy("rank")


_DSIR_FEAT = f"(({ORACLE_MD5_LONG.format(x='t')}) % 4096)"
_DSIR_TOKS = (
    "SELECT doc_id, unnest(ws) AS t FROM {src} "
    "UNION ALL "
    "SELECT doc_id, unnest(CASE WHEN len(ws) >= 2 THEN "
    "list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1]) "
    "ELSE [] END) FROM {src}"
)
_DSIR_GUMBEL = (
    "round(-ln(-ln((("
    + ORACLE_MD5_LONG.format(x="('dsir:' || CAST(doc_id AS VARCHAR))")
    + " % 1000000) + 0.5) / 1000000.0)), 6)"
)
DSIR_SELECTION_SQL = f"""
WITH t_ws AS (
  SELECT doc_id, list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                             w -> w != '') AS ws
  FROM documents WHERE doc_id % 7 = 0
),
r_ws AS (
  SELECT doc_id, list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                             w -> w != '') AS ws
  FROM documents WHERE doc_id % 7 != 0
),
t_tok AS ({_DSIR_TOKS.format(src="t_ws")}),
r_tok AS ({_DSIR_TOKS.format(src="r_ws")}),
t_dist AS (SELECT {_DSIR_FEAT} AS feature, count(*) AS n FROM t_tok GROUP BY 1),
r_dist AS (SELECT {_DSIR_FEAT} AS feature, count(*) AS n FROM r_tok GROUP BY 1),
r_docf AS (
  SELECT doc_id, {_DSIR_FEAT} AS feature, count(*) AS c
  FROM r_tok GROUP BY 1, 2
),
feats AS (SELECT unnest(range(4096)) AS feature),
dense AS (
  SELECT f.feature, coalesce(t.n, 0) AS nt, coalesce(r.n, 0) AS nr
  FROM feats f LEFT JOIN t_dist t USING (feature)
  LEFT JOIN r_dist r USING (feature)
),
tot AS (SELECT sum(nt) AS tt, sum(nr) AS tr FROM dense),
lr AS (
  SELECT feature,
         round(ln((nt + 1) / (tot.tt + 4096.0))
               - ln((nr + 1) / (tot.tr + 4096.0)), 6) AS lr
  FROM dense, tot
),
wts AS (
  SELECT doc_id,
         sum(CAST(c AS DECIMAL(8,0)) * CAST(lr AS DECIMAL(20,10))) AS s
  FROM r_docf JOIN lr USING (feature) GROUP BY doc_id
),
keyed AS (
  SELECT doc_id,
         round(CAST(s AS DOUBLE), 6) AS logw,
         round(round(CAST(s AS DOUBLE), 6) + {_DSIR_GUMBEL}, 6) AS key
  FROM wts
)
SELECT doc_id, CAST(rank AS INT) AS rank, logw, key FROM (
  SELECT *, row_number() OVER (ORDER BY key DESC, doc_id) AS rank
  FROM keyed
) WHERE rank <= {DSIR_K}
ORDER BY rank
"""


# ---------------------------------------------------------------------------
# dedup_bloom_membership — Bloom-filter corpus membership, the fast path of
# incremental EXACT dedup (ops/dedup.py r07). Corpus = documents with
# doc_id % 10 >= 2; the probe batch plants guaranteed members (corpus rows
# re-identified at +1000000) and guaranteed non-members (other documents
# with a suffix no corpus text carries). The sketch — md5-derived bit
# positions packed 62 per BIGINT word — replays bit-exactly in DuckDB, so
# the hash compare pins maybe_member (sketch arithmetic) AND is_corpus_dup
# (the exact verdict the Bloom merely accelerates) per row.
# ---------------------------------------------------------------------------
def dedup_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 10 >= 2)
    batch = (
        corpus.filter((F.col("doc_id") % 10).isin(2, 3))
        .select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
        .unionByName(
            docs.filter(F.col("doc_id") % 10 < 2).select(
                "doc_id", F.concat(F.col("text"), F.lit(" [novel-r07]")).alias("text")
            )
        )
    )
    out = D.incremental_exact_dedup_bloom(batch, corpus)
    return out.select(
        F.col("id").alias("doc_id"), "maybe_member", "is_corpus_dup"
    ).orderBy("doc_id")


def _bloom_sql() -> str:
    k, wb, bpm = D.BLOOM_K, D.BLOOM_WORD_BITS, D.BLOOM_BITS_PER_MEMBER
    pos = ORACLE_MD5_LONG.format(x="('bf' || i || ':' || fp)") + " % (SELECT m FROM params)"
    return f"""
WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 >= 2),
batch AS (
  SELECT doc_id + 1000000 AS doc_id, text FROM corpus WHERE doc_id % 10 IN (2, 3)
  UNION ALL
  SELECT doc_id, text || ' [novel-r07]' AS text FROM documents WHERE doc_id % 10 < 2
),
corp_fp AS (SELECT DISTINCT md5(text) AS fp FROM corpus),
params AS (
  SELECT (({bpm} * greatest(count(*), 1) + {wb - 1}) // {wb}) * {wb} AS m FROM corp_fp
),
bloom AS (
  SELECT pos // {wb} AS word, bit_or(1::BIGINT << (pos % {wb})::INT) AS bits
  FROM (
    SELECT {pos} AS pos FROM corp_fp, range({k}) t(i)
  ) GROUP BY 1
),
batch_fp AS (SELECT doc_id, md5(text) AS fp FROM batch),
probe AS (
  SELECT doc_id, pos // {wb} AS word, 1::BIGINT << (pos % {wb})::INT AS mask
  FROM (
    SELECT doc_id, {pos} AS pos FROM batch_fp, range({k}) t(i)
  )
),
probed AS (
  SELECT doc_id, bool_and((coalesce(bits, 0) & mask) = mask) AS maybe_member
  FROM probe LEFT JOIN bloom USING (word) GROUP BY doc_id
)
SELECT b.doc_id, p.maybe_member,
       (p.maybe_member AND b.fp IN (SELECT fp FROM corp_fp)) AS is_corpus_dup
FROM batch_fp b JOIN probed p USING (doc_id)
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# boilerplate_scrub (r10) — span-level dedup with text reconstruction: the
# removal half of Lee et al. 2022's ExactSubstr (repeated_passages finds the
# spans; this rewrites the corpus without them, keeping one canonical copy —
# CCNet's paragraph-dedup discipline). The clean testdata has no repeated
# 8-grams, so the query plants two 8-word boilerplate banners (footer on
# doc_id % 3, header on doc_id % 5) in BOTH engines identically; the scrub
# must strip every planted occurrence except the global first and leave the
# unique word-soup bodies untouched.
# ---------------------------------------------------------------------------
SCRUB_K = 8
_BANNER_A = "all rights reserved contact the site administrator today"
_BANNER_B = "subscribe to our newsletter for weekly updates now"


def boilerplate_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    noisy = docs.select(
        "doc_id",
        F.concat(
            F.when(F.col("doc_id") % 5 == 0, F.lit(_BANNER_B + " ")).otherwise(
                F.lit("")
            ),
            F.col("text"),
            F.when(F.col("doc_id") % 3 == 0, F.lit(" " + _BANNER_A)).otherwise(
                F.lit("")
            ),
        ).alias("text"),
    )
    return D.scrub_repeated_spans(noisy, k=SCRUB_K, min_docs=2).orderBy("doc_id")


# CTE chain shared by the ASCII and CJK scrub oracles: everything after
# a `noisy(doc_id, text)` + `w(doc_id, sp)` prefix is split-agnostic
_SCRUB_CHAIN_SQL = f"""wins AS (
  SELECT doc_id, i - 1 AS pos,
         array_to_string(list_slice(sp, i, i + {SCRUB_K} - 1), ' ') AS win
  FROM w, LATERAL (SELECT unnest(range(1, len(sp) - {SCRUB_K} + 2)) AS i)
  WHERE len(sp) >= {SCRUB_K}
),
freq AS (SELECT win, count(DISTINCT doc_id) AS nd FROM wins GROUP BY win),
ranked AS (
  SELECT doc_id, pos, win,
         row_number() OVER (PARTITION BY win ORDER BY doc_id, pos) AS rn
  FROM wins
),
drops AS (
  SELECT r.doc_id, r.pos
  FROM ranked r JOIN freq f USING (win)
  WHERE f.nd >= 2 AND r.rn > 1
),
dstarts AS (SELECT doc_id, list(pos ORDER BY pos) AS ds FROM drops GROUP BY doc_id),
joined AS (
  SELECT w.doc_id, w.sp, coalesce(d.ds, CAST([] AS BIGINT[])) AS ds0
  FROM w LEFT JOIN dstarts d USING (doc_id)
),
rebuilt AS (
  SELECT doc_id, sp,
         list_filter(
           list_transform(range(1, len(sp) + 1),
             j -> CASE WHEN len(list_filter(ds0,
                          p -> p <= j - 1 AND j - 1 < p + {SCRUB_K})) = 0
                  THEN sp[j] END),
           x -> x IS NOT NULL) AS kept
  FROM joined
)
SELECT doc_id,
       -- DuckDB's array_to_string of an empty list is NULL; Spark's
       -- array_join is '' — a fully-scrubbed doc must read '' in both
       coalesce(array_to_string(kept, ' '), '') AS clean_text,
       len(sp) AS n_words,
       len(sp) - len(kept) AS n_removed,
       round((len(sp) - len(kept)) / CAST(greatest(len(sp), 1) AS DOUBLE), 4)
         AS removed_frac
FROM rebuilt
ORDER BY doc_id
"""

BOILERPLATE_SCRUB_SQL = f"""
WITH noisy AS (
  SELECT doc_id,
         (CASE WHEN doc_id % 5 = 0 THEN '{_BANNER_B} ' ELSE '' END)
         || text
         || (CASE WHEN doc_id % 3 = 0 THEN ' {_BANNER_A}' ELSE '' END) AS text
  FROM documents
),
w AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS sp FROM noisy),
{_SCRUB_CHAIN_SQL}"""


# ---------------------------------------------------------------------------
# mixture_temperature_weights (r10) — alpha=0.5 temperature-smoothed
# sampling weights per source (Conneau & Lample 2019 eq. 1 / T5 mixing):
# exact integer aggregation + floor(sqrt()) weights, so the DuckDB twin is
# bit-identical (see ops.sampling.temperature_mixture_weights).
# ---------------------------------------------------------------------------
def mixture_temperature_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ops.sampling import temperature_mixture_weights

    docs = load(spark, sf_dir, "documents").select("source", "text")
    return temperature_mixture_weights(docs, group_col="source").orderBy("source")


def _mixture_temperature_sql() -> str:
    from ..ops.sampling import temperature_mixture_weights_sql

    return temperature_mixture_weights_sql(table="documents", group_col="source")


# ---------------------------------------------------------------------------
# tokenizer_fertility (r10) — per-language tokenizer quality metrics over
# the trained BPE (fertility = subword tokens per whitespace word,
# chars_per_token = text chars per subword token): the standard check that
# a tokenizer doesn't tax some languages with token-inflated encodings
# (fertility near 1 = word-level, high = over-fragmented). Composes
# bpe_train + bpe_encode (both r08-green); the oracle replays the full
# train+encode chain and aggregates the same exact integer sums.
# ---------------------------------------------------------------------------
def tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ops.textprep import bpe_encode, bpe_train

    docs = load(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    m = [
        (r["lhs"], r["rhs"])
        for r in bpe_train(docs.select("text"), n_merges=BPE_MERGES)
        .orderBy("merge_rank")
        .collect()
    ]
    enc = bpe_encode(docs.select("doc_id", "text"), m)
    base = docs.select(
        "doc_id",
        "lang",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("_nw"),
        F.length("text").alias("_nc"),
    )
    per = base.join(enc, "doc_id").groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("tokens"),
        F.sum("_nw").cast("long").alias("words"),
        F.sum("_nc").cast("long").alias("chars"),
    )
    return per.select(
        "lang",
        "n_docs",
        "tokens",
        "words",
        "chars",
        F.round(F.col("tokens") / F.col("words"), 4).alias("fertility"),
        F.round(F.col("chars") / F.col("tokens"), 4).alias("chars_per_token"),
    ).orderBy("lang")


def _tokenizer_fertility_sql() -> str:
    enc = _bpe_encode_sql()
    return f"""
WITH enc AS ({enc}),
base AS (
  SELECT doc_id, lang,
         len(string_split_regex(trim(text), '\\s+')) AS nw,
         length(text) AS nc
  FROM documents
),
per AS (
  SELECT lang,
         count(*) AS n_docs,
         CAST(sum(e.n_tokens) AS BIGINT) AS tokens,
         CAST(sum(b.nw) AS BIGINT) AS words,
         CAST(sum(b.nc) AS BIGINT) AS chars
  FROM base b JOIN enc e USING (doc_id)
  GROUP BY lang
)
SELECT lang, n_docs, tokens, words, chars,
       round(CAST(tokens AS DOUBLE) / words, 4) AS fertility,
       round(CAST(chars AS DOUBLE) / tokens, 4) AS chars_per_token
FROM per
ORDER BY lang
"""


# ---------------------------------------------------------------------------
# jsonl_ingest (r10) — Dolma-format JSONL roundtrip: documents reshaped to
# the {id, text, source, metadata:{...}} shape LLM-corpus releases ship as,
# written as JSONL, read back with an EXPLICIT schema (no inference pass —
# at 100 TB a schema-inference scan is a full extra read), flattened back.
# The oracle is the identity projection: a lossless roundtrip must
# hash-match the source table exactly.
# ---------------------------------------------------------------------------
def jsonl_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build(root: str) -> DataFrame:
        path = f"{root}/data"
        load(spark, sf_dir, "documents").select(
            F.col("doc_id").cast("string").alias("id"),
            "text",
            "source",
            F.struct("lang", "n_chars").alias("metadata"),
        ).write.json(path)
        schema = (
            "id string, text string, source string, "
            "metadata struct<lang:string, n_chars:long>"
        )
        return spark.read.schema(schema).json(path).select(
            F.col("id").cast("long").alias("doc_id"),
            "text",
            F.col("metadata.lang").alias("lang"),
            "source",
            F.col("metadata.n_chars").alias("n_chars"),
        )

    return artifact(spark, sf_dir, "jsonl", build).orderBy("doc_id")


JSONL_INGEST_SQL = """
SELECT doc_id, text, lang, source, n_chars
FROM documents
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# dedup_minhash_recall (r10) — the dedup analogue of ann_recall_eval: grade
# the MinHash BANDING stage (pre-verify candidates) against EXACT Jaccard
# ground truth from the shingle inverted index. Precision says how much
# verify work the bands waste; recall says what true near-dups the bands
# can never recover (the S-curve's false-negative mass, measured instead
# of assumed). Both stages run on a deterministic FIXED-SIZE base-id
# sample (~50 base docs + their planted copies at any corpus size): exact
# truth is quadratic in the hottest shingle's doc frequency, so a fixed
# RATE would grow the referee's cost with the corpus (measured alpha_B
# 1.97 on the closed-vocab scale fixture) — an eval budget must not scale
# with the thing it audits. The modulus is max(10, n_docs // 50), floor
# division in both engines; sampling keys on doc_id % 100000 — the base
# id the planted +100000/+200000 copies SHARE — so every planted dup pair
# co-samples intact instead of losing one endpoint.
# ---------------------------------------------------------------------------
def _eval_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The referees' shared fixed-size sample of the augmented corpus
    (~50 base docs + their planted copies at any corpus size), pinned
    once: truth references it 3x and each candidate side 2x — without the
    localCheckpoint the plan re-scans the corpus parquet (and re-computes
    the union's near-dup text surgery) up to 12 times, turning a
    fixed-size eval into an O(corpus)-per-branch wall (measured 34 s ->
    4 s at the 16x scale fixture)."""
    n_docs = load(spark, sf_dir, "documents").count()
    mod = max(10, n_docs // 50)
    corpus = corpus_df(spark, sf_dir).filter((F.col("doc_id") % 100000) % mod == 0)
    return pin(corpus)


def _referee_counts(truth: DataFrame, cand: DataFrame, suffix: str) -> DataFrame:
    """precision/recall/f1 of a candidate pair set vs exact truth — the
    shared metric block of the dedup-accuracy referees. count(), not
    sum(): an empty truth or candidate set must yield 0 (matching the
    oracle's count(*)), never a NULL-poisoned metric row."""
    u = truth.withColumn("_t", F.lit(1)).join(
        cand.withColumn("_c", F.lit(1)), ["id_a", "id_b"], "full_outer"
    )
    counts = u.agg(
        F.count("_t").cast("long").alias("n_true"),
        F.count("_c").cast("long").alias("n_cand"),
        F.count(F.when(F.col("_t").isNotNull() & F.col("_c").isNotNull(), 1))
        .cast("long")
        .alias("n_hit"),
    )
    return counts.select(
        "n_true",
        "n_cand",
        "n_hit",
        F.round(F.col("n_hit") / F.col("n_cand"), 4).alias(f"precision_{suffix}"),
        F.round(F.col("n_hit") / F.col("n_true"), 4).alias(f"recall_{suffix}"),
        F.round(
            (F.lit(2.0) * F.col("n_hit")) / (F.col("n_cand") + F.col("n_true")), 4
        ).alias(f"f1_{suffix}"),
    )


def dedup_minhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _eval_corpus(spark, sf_dir)
    truth = D.exact_jaccard_pairs(corpus, threshold=0.5).select("id_a", "id_b")
    sigs = D.minhash_signatures(corpus)
    cand = D.minhash_band_pairs(sigs)
    return _referee_counts(truth, cand, "band")


_EVAL_CORPUS_SQL = (
    CORPUS_SQL.strip().replace("corpus AS (", "corpus_all AS (", 1)
    + ",\ncorpus AS (SELECT * FROM corpus_all WHERE (doc_id % 100000)"
    " % (SELECT greatest(10, count(*) // 50) FROM documents) = 0)"
)


# exact-Jaccard truth over the sampled corpus's docs2, intersected with a
# preceding `cand(id_a, id_b)` CTE — shared by all three dedup referees
_TRUTH_HIT_SQL = """inter AS (
  SELECT a.id AS id_a, b.id AS id_b,
         len(list_intersect(a.sh, b.sh)) AS i,
         len(a.sh) AS na, len(b.sh) AS nb
  FROM docs2 a JOIN docs2 b ON a.id < b.id
),
truth AS (
  SELECT id_a, id_b FROM inter
  WHERE i > 0 AND round(i / (na + nb - i), 4) >= 0.5
),
hit AS (SELECT id_a, id_b FROM cand INTERSECT SELECT id_a, id_b FROM truth)"""


def _referee_metrics_sql(suffix: str) -> str:
    """Final metric SELECT over truth/cand/hit — twin of _referee_counts."""
    return f"""SELECT CAST((SELECT count(*) FROM truth) AS BIGINT) AS n_true,
       CAST((SELECT count(*) FROM cand) AS BIGINT) AS n_cand,
       CAST((SELECT count(*) FROM hit) AS BIGINT) AS n_hit,
       round((SELECT count(*) FROM hit)
             / CAST((SELECT count(*) FROM cand) AS DOUBLE), 4) AS precision_{suffix},
       round((SELECT count(*) FROM hit)
             / CAST((SELECT count(*) FROM truth) AS DOUBLE), 4) AS recall_{suffix},
       round(2.0 * (SELECT count(*) FROM hit)
             / CAST((SELECT count(*) FROM cand)
                    + (SELECT count(*) FROM truth) AS DOUBLE), 4) AS f1_{suffix}"""


def _minhash_recall_sql() -> str:
    # reuses the exact banding CTE chain (corpus/docs2/sigs/bands/cand)
    # over the SAME sampled corpus; the chain's final `pairs` CTE is
    # unreferenced here and DuckDB never materializes unreferenced CTEs
    return f"""
WITH {_minhash_pairs_cte(corpus_cte=_EVAL_CORPUS_SQL)},
{_TRUTH_HIT_SQL}
{_referee_metrics_sql("band")}
"""


# ---------------------------------------------------------------------------
# intra_doc_scrub (r10) — WITHIN-document repeated-span removal
# (RefinedWeb's intra-doc dedup / the removal act behind Gopher's
# dup-ngram gates): a planted 8-word chorus appended TWICE keeps its first
# occurrence, loses the exact second; the unique word-soup bodies are
# untouched. Strictly doc-keyed — corpus-wide hot spans never collide.
# ---------------------------------------------------------------------------
_CHORUS = "please like share comment subscribe and ring the"


def intra_doc_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ops.dedup import scrub_intra_doc_repeats

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    noisy = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 4 == 0, F.lit(" " + _CHORUS + " " + _CHORUS)
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return scrub_intra_doc_repeats(noisy, k=SCRUB_K, min_repeats=2).orderBy(
        "doc_id"
    )


INTRA_DOC_SCRUB_SQL = f"""
WITH noisy AS (
  SELECT doc_id,
         text || (CASE WHEN doc_id % 4 = 0 THEN ' {_CHORUS} {_CHORUS}'
                  ELSE '' END) AS text
  FROM documents
),
w AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS sp FROM noisy),
wins AS (
  SELECT doc_id, i - 1 AS pos,
         array_to_string(list_slice(sp, i, i + {SCRUB_K} - 1), ' ') AS win
  FROM w, LATERAL (SELECT unnest(range(1, len(sp) - {SCRUB_K} + 2)) AS i)
  WHERE len(sp) >= {SCRUB_K}
),
grp AS (
  SELECT doc_id, win, list(pos ORDER BY pos) AS poss
  FROM wins GROUP BY doc_id, win
  HAVING count(*) >= 2
),
dstarts AS (
  SELECT doc_id,
         list_sort(list_distinct(flatten(list(list_slice(poss, 2, len(poss))))))
           AS ds
  FROM grp GROUP BY doc_id
),
joined AS (
  SELECT w.doc_id, w.sp, coalesce(d.ds, CAST([] AS BIGINT[])) AS ds0
  FROM w LEFT JOIN dstarts d USING (doc_id)
),
rebuilt AS (
  SELECT doc_id, sp,
         list_filter(
           list_transform(range(1, len(sp) + 1),
             j -> CASE WHEN len(list_filter(ds0,
                          p -> p <= j - 1 AND j - 1 < p + {SCRUB_K})) = 0
                  THEN sp[j] END),
           x -> x IS NOT NULL) AS kept
  FROM joined
)
SELECT doc_id,
       coalesce(array_to_string(kept, ' '), '') AS clean_text,
       len(sp) AS n_words,
       len(sp) - len(kept) AS n_removed,
       round((len(sp) - len(kept)) / CAST(greatest(len(sp), 1) AS DOUBLE), 4)
         AS removed_frac
FROM rebuilt
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# data_schedule (r10) — epoch allocation under a token budget: temperature
# wants, max-epoch cap, capped budget redistributed to uncapped sources
# (two unrolled water-filling rounds, BIGINT-exact in both engines).
# ---------------------------------------------------------------------------
def data_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ops.sampling import token_budget_schedule

    docs = load(spark, sf_dir, "documents").select("source", "text")
    return token_budget_schedule(docs, group_col="source").orderBy("source")


def _data_schedule_sql() -> str:
    from ..ops.sampling import token_budget_schedule_sql

    return token_budget_schedule_sql(table="documents", group_col="source")


# ---------------------------------------------------------------------------
# dedup_winnowing (r10) — winnowing-fingerprint blocking (Schleimer et al.
# 2003 / MOSS) + true-Jaccard verify: the guarantee-backed alternative to
# MinHash banding (any shared (w+k-1)-word span MUST collide). Runs on the
# augmented corpus so the planted exact + near dups are the positives.
# ---------------------------------------------------------------------------
WINNOW_K, WINNOW_W = 5, 4


def dedup_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = corpus_df(spark, sf_dir)
    return D.winnow_dedup_pairs(
        corpus, k=WINNOW_K, w=WINNOW_W, threshold=0.5
    ).orderBy("id_a", "id_b")


def _winnow_cand_cte() -> str:
    """CTE chain wv/hs/fps/cand over a preceding `corpus` CTE — the
    winnowing blocking stage, shared by the pair listing and the
    referee (twin of ops.dedup.winnow_candidate_pairs)."""
    kg = _H.format(
        x=f"array_to_string(list_slice(sp, i, i + {WINNOW_K} - 1), ' ')"
    )
    return f"""wv AS (SELECT doc_id AS id, string_split_regex(trim(text), '\\s+') AS sp FROM corpus),
hs AS (
  SELECT id,
         CASE WHEN len(sp) >= {WINNOW_K}
           THEN list_transform(range(1, len(sp) - {WINNOW_K} + 2), i -> {kg})
           ELSE CAST([] AS BIGINT[]) END AS h
  FROM wv
),
fps AS (
  SELECT id, unnest(
    CASE WHEN len(h) >= {WINNOW_W} THEN
      list_distinct(list_transform(range(1, len(h) - {WINNOW_W} + 2),
                    j -> list_min(list_slice(h, j, j + {WINNOW_W} - 1))))
    WHEN len(h) > 0 THEN [list_min(h)]
    ELSE CAST([] AS BIGINT[]) END) AS fp
  FROM hs
),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM fps a JOIN fps b ON a.fp = b.fp AND a.id < b.id
)"""


def _winnowing_sql() -> str:
    return f"""
WITH {CORPUS_SQL.strip()},
{_SHINGLES_SQL.strip()},
{_winnow_cand_cte()}
SELECT * FROM (
  SELECT id_a, id_b,
         round(len(list_intersect(da.sh, db.sh))
               / (len(da.sh) + len(db.sh) - len(list_intersect(da.sh, db.sh))), 4)
           AS jaccard
  FROM cand
  JOIN docs2 da ON da.id = id_a
  JOIN docs2 db ON db.id = id_b
) WHERE jaccard >= 0.5
ORDER BY id_a, id_b
"""


# ---------------------------------------------------------------------------
# dedup_simhash_hamming (r10) — Manku/Jain/Das Sarma 2007: wide-SimHash
# near-miss pairs at hamming <= 3 via the 4-bank pigeonhole (at least one
# bank agrees exactly, so the bank join is exhaustive — no S-curve).
# dedup_simhash only buckets EQUAL 16-bit signatures; this catches the
# one-edit near-misses.
# ---------------------------------------------------------------------------
def dedup_simhash_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = corpus_df(spark, sf_dir)
    return D.simhash_hamming_pairs(corpus, max_hamming=3).orderBy("id_a", "id_b")


def _simhash_chain_sql() -> str:
    """CTE chain tok/bits/sh/banks/candh over a preceding `corpus` CTE —
    the bank-join + popcount stage, shared by the pair listing and the
    referee (twin of ops.dedup.simhash_hamming_pairs)."""
    bit_sums = ", ".join(
        f"sum(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS s{j}"
        for j in range(D.SIMHASH_WIDE_BITS)
    )
    combine = " + ".join(
        f"CASE WHEN s{j} > 0 THEN {1 << j} ELSE 0 END"
        for j in range(D.SIMHASH_WIDE_BITS)
    )
    width = D.SIMHASH_WIDE_BITS // D.SIMHASH_BANKS
    mask = (1 << width) - 1
    bank_rows = " UNION ALL ".join(
        f"SELECT id, sig, {b} AS bank_idx, (sig >> {width * b}) & {mask} AS bank_val FROM sh"
        for b in range(D.SIMHASH_BANKS)
    )
    return f"""tok AS (
  SELECT doc_id AS id, {_H.format(x="w")} AS h
  FROM (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS w FROM corpus)
),
bits AS (SELECT id, {bit_sums} FROM tok GROUP BY id),
sh AS (SELECT id, CAST({combine} AS BIGINT) AS sig FROM bits),
banks AS ({bank_rows}),
candh AS (
  SELECT id_a, id_b, bit_count(CAST(xor(sig_a, sig_b) AS BIGINT)) AS hamming
  FROM (
    SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.sig AS sig_a, b.sig AS sig_b
    FROM banks a JOIN banks b
      ON a.bank_idx = b.bank_idx AND a.bank_val = b.bank_val AND a.id < b.id
  )
)"""


def _simhash_hamming_sql() -> str:
    return f"""
WITH {CORPUS_SQL.strip()},
{_simhash_chain_sql()}
SELECT id_a, id_b, hamming FROM candh
WHERE hamming <= 3
ORDER BY id_a, id_b
"""


# ---------------------------------------------------------------------------
# curriculum_order (r10) — the training ORDER artifact curriculum learning
# consumes: fluent documents first (CCNet head -> middle -> tail), salted-
# md5 shuffle WITHIN each bucket (diversity without a quality gradient
# inside the phase), global position = bucket offset + within-bucket rank.
# No global sort: within-bucket ranks are bucket-keyed windows; offsets
# come from the 3-row bucket-size aggregate (epoch_shuffle's
# global-order-without-global-sort discipline applied across buckets).
# ---------------------------------------------------------------------------
def curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from ..queries.util import md5_long

    docs = load(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    b = X.ccnet_buckets(docs)
    brank = (
        F.when(F.col("bucket") == "head", 1)
        .when(F.col("bucket") == "middle", 2)
        .otherwise(3)
    )
    key = md5_long(F.concat(F.lit("curr:"), F.col("doc_id").cast("string")))
    ranked = b.select(
        "doc_id",
        "lang",
        "bucket",
        brank.alias("_br"),
        F.row_number()
        .over(W.partitionBy(brank).orderBy(key, F.col("doc_id")))
        .alias("_r"),
    )
    sizes = ranked.groupBy("_br").agg(F.count(F.lit(1)).alias("_n"))
    offs = sizes.select(
        "_br",
        (
            F.sum("_n").over(
                W.partitionBy().orderBy("_br").rowsBetween(W.unboundedPreceding, -1)
            )
        ).alias("_off"),
    ).fillna(0, subset=["_off"])
    return (
        ranked.join(offs, "_br")
        .select(
            "doc_id",
            "lang",
            "bucket",
            (F.col("_off") + F.col("_r")).cast("long").alias("position"),
        )
        .orderBy("position")
    )


def _curriculum_sql() -> str:
    key = _H.format(x="('curr:' || CAST(doc_id AS VARCHAR))")
    return f"""
WITH bg AS (
  SELECT doc_id, sp[i] AS w1, sp[i + 1] AS w2
  FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS sp FROM documents),
       LATERAL (SELECT unnest(range(1, len(sp))) AS i)
),
bgc AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY 1, 2),
ctx AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY 1),
scored AS (
  SELECT doc_id, count(*) AS n_bigrams,
         round(CAST(sum(CAST(round(ln(c2 / c1), 6) AS DECIMAL(20,10))) AS DOUBLE)
               / count(*), 6) AS avg_logprob
  FROM bg JOIN bgc USING (w1, w2) JOIN ctx USING (w1)
  GROUP BY doc_id
),
labeled AS (
  SELECT s.doc_id, d.lang,
         ntile(3) OVER (PARTITION BY d.lang
                        ORDER BY s.avg_logprob DESC, s.doc_id) AS nt
  FROM scored s JOIN documents d USING (doc_id)
),
ranked AS (
  SELECT doc_id, lang, nt AS br,
         row_number() OVER (PARTITION BY nt ORDER BY {key}, doc_id) AS r
  FROM labeled
),
offs AS (
  SELECT br, coalesce(sum(n) OVER (ORDER BY br
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
  FROM (SELECT br, count(*) AS n FROM ranked GROUP BY br)
)
SELECT doc_id, lang,
       CASE br WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket,
       CAST(off + r AS BIGINT) AS position
FROM ranked JOIN offs USING (br)
ORDER BY position
"""


# ---------------------------------------------------------------------------
# span_corruption_pairs (r10) — the T5 denoising objective's data transform
# (Raffel et al. 2020 §3.1.4): deterministic salted-hash span masking,
# sentinel-marked input + sentinel-prefixed target, fingerprints compared.
# The oracle replays every array stage (starts, mask, run starts, run
# index, both token streams) as staged CTE columns.
# ---------------------------------------------------------------------------
def span_corruption_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ops.textprep import span_corruption

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    return span_corruption(docs).orderBy("doc_id")


def _span_corruption_sql() -> str:
    from ..ops.textprep import SPAN_LEN, SPAN_NOISE_MOD

    fp = _H.format(x="(CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR))")
    sent = "'<extra_id_' || CAST(kc[i + 1] - 1 AS VARCHAR) || '>'"
    return f"""
WITH w AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS sp FROM documents
),
s1 AS (
  SELECT doc_id, sp,
         list_transform(range(0, len(sp)), i -> ({fp} % {SPAN_NOISE_MOD}) = 0)
           AS st
  FROM w
),
s2 AS (
  SELECT doc_id, sp, st,
         list_transform(range(0, len(st)),
           i -> len(list_filter(
                  list_slice(st, greatest(i - {SPAN_LEN} + 2, 1), i + 1),
                  x -> x)) > 0) AS mk
  FROM s1
),
s3 AS (
  SELECT doc_id, sp, mk,
         list_transform(range(0, len(mk)),
           i -> mk[i + 1] AND (i = 0 OR NOT mk[i])) AS rs
  FROM s2
),
s4 AS (
  SELECT doc_id, sp, mk, rs,
         list_transform(range(0, len(rs)),
           i -> len(list_filter(list_slice(rs, 1, i + 1), x -> x))) AS kc
  FROM s3
),
built AS (
  SELECT doc_id,
         CAST(len(sp) AS INT) AS n_tokens,
         CAST(len(list_filter(mk, x -> x)) AS INT) AS n_masked,
         CAST(len(list_filter(rs, x -> x)) AS INT) AS n_spans,
         flatten(list_transform(range(0, len(sp)),
           i -> CASE WHEN NOT mk[i + 1] THEN [sp[i + 1]]
                     WHEN rs[i + 1] THEN [{sent}]
                     ELSE CAST([] AS VARCHAR[]) END)) AS inp,
         flatten(list_transform(range(0, len(sp)),
           i -> CASE WHEN rs[i + 1] THEN [{sent}, sp[i + 1]]
                     WHEN mk[i + 1] THEN [sp[i + 1]]
                     ELSE CAST([] AS VARCHAR[]) END)) AS tgt
  FROM s4
)
SELECT doc_id, n_tokens, n_masked, n_spans,
       md5(coalesce(array_to_string(inp, ' '), '')) AS input_fp,
       md5(coalesce(array_to_string(tgt, ' '), '')) AS target_fp
FROM built
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# dedup_winnow_recall / dedup_simhash_recall (r11) — the dedup-accuracy
# referee pointed at the OTHER two candidate generators (VERDICT r10 ask
# #2): MinHash banding got a measured precision/recall row in r10; the
# SimHash bank join and the winnowing fingerprint join had their
# guarantees argued (pigeonhole, w+k-1 span), not measured. Same
# fixed-size sample, same exact-Jaccard truth, same metric block.
#  - winnowing: grades the BLOCKING stage (pre-verify candidates), like
#    the banding referee. Recall is 1.0 by the span guarantee on this
#    fixture (every true near-dup shares spans >> w+k-1 words) — asserted
#    in tests; precision (verify work wasted) is the measured part.
#  - simhash: grades the method's OUTPUT (hamming<=3 pairs — simhash has
#    no exact-Jaccard verify of its own), so the row measures how well
#    the hamming proxy is calibrated against Jaccard-0.5 truth.
# ---------------------------------------------------------------------------
def dedup_winnow_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _eval_corpus(spark, sf_dir)
    truth = D.exact_jaccard_pairs(corpus, threshold=0.5).select("id_a", "id_b")
    cand = D.winnow_candidate_pairs(corpus, k=WINNOW_K, w=WINNOW_W)
    return _referee_counts(truth, cand, "block")


def _winnow_recall_sql() -> str:
    return f"""
WITH {_EVAL_CORPUS_SQL.strip()},
{_SHINGLES_SQL.strip()},
{_winnow_cand_cte()},
{_TRUTH_HIT_SQL}
{_referee_metrics_sql("block")}
"""


def dedup_simhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _eval_corpus(spark, sf_dir)
    truth = D.exact_jaccard_pairs(corpus, threshold=0.5).select("id_a", "id_b")
    cand = D.simhash_hamming_pairs(corpus, max_hamming=3).select("id_a", "id_b")
    return _referee_counts(truth, cand, "sim")


def _simhash_recall_sql() -> str:
    return f"""
WITH {_EVAL_CORPUS_SQL.strip()},
{_SHINGLES_SQL.strip()},
{_simhash_chain_sql()},
cand AS (SELECT id_a, id_b FROM candh WHERE hamming <= 3),
{_TRUTH_HIT_SQL}
{_referee_metrics_sql("sim")}
"""


def dedup_ngram_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r12 (VERDICT r11 #2): the LAST ungraded candidate generator — the
    anchor-blocked n-gram Jaccard stage — measured against exact truth on
    the shared fixed-size sample. The DF cap drops candidates by
    construction; this row measures what that costs in recall (and what
    the blocking wastes in precision) instead of arguing it."""
    corpus = _eval_corpus(spark, sf_dir)
    truth = D.exact_jaccard_pairs(corpus, threshold=0.5).select("id_a", "id_b")
    docs = corpus.select(
        F.col("doc_id").alias("id"),
        D.hashed_shingles_col(F.col("text")).alias("sh"),
    ).filter(F.size("sh") > 0)
    cand = D.ngram_anchor_candidates(docs)
    return _referee_counts(truth, cand, "anchor")


def _ngram_recall_sql() -> str:
    return f"""
WITH {_EVAL_CORPUS_SQL.strip()},
{_SHINGLES_SQL.strip()},
{_anchor_cand_cte("cand")},
{_TRUTH_HIT_SQL}
{_referee_metrics_sql("anchor")}
"""

def _docs_parallel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents (doc_id, text) spread across the session's cores (r12):
    the sf-scale documents table is ONE parquet split locally, so the
    CJK/SEA fixture rendering — an md5-per-word transform plus the
    segmentation passes, pure CPU — ran on a single thread and its bench
    wall tracked whole-JVM GC pressure instead of its own work (measured
    2.5x round-over-round inflation with the query code at fresh-session
    parity). One hash repartition parallelizes the narrow map 32-way; at
    warehouse scale the input arrives in many splits and this exchange is
    noise. Deterministic: hash partitioning only moves rows, every
    downstream op is row-local, and outputs are sorted."""
    return (
        load(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
    )


# ===========================================================================
# CJK / whitespace-free-script family (r11) — the text stack driven through
# script-aware segmentation (ops/text.py segment_text, VERDICT r10 missing
# #1). The fixture is a deterministic UNSPACED pseudo-Chinese re-rendering
# of `documents`: every ASCII word maps to one Han codepoint by its md5
# (an injective-enough 20-char alphabet — like real Chinese, a small
# grapheme inventory with heavy reuse), concatenated with NO separators.
# Both engines replay the identical construction, so every query below is
# a full-value hash check of Java-regex-vs-RE2 segmentation parity PLUS
# the downstream operator on genuinely unsegmented text.
# ===========================================================================
HAN20 = "零一二三四五六七八九十百千万兆天地人日月"
# 20 Thai SYLLABLES — base consonant + a COMBINING vowel/tone mark
# (U+0E31/0E34-0E3A/0E47-0E4E): concatenated with no separators they
# exercise the mark-stays-attached half of the segmenter, the part the
# Han fixture cannot reach
THAI20 = [
    "กิ", "ขี", "คึ", "งื", "จุ",
    "ฉู", "ชั", "ซ่", "ญ้", "ด๊",
    "ติ", "ถี", "ทึ", "ธื", "นุ",
    "บู", "ปั", "ผ่", "ฝ้", "พ๊",
]
_CJK_BANNER_A = "天天向上好好学习日日新"  # 11 units post-segmentation
_CJK_BANNER_B = "春夏秋冬风花雪月山川湖海"  # 12 units
_CJK_OFFSET = 300000


def _cjk_text_col(text_col: str = "text", alphabet: list[str] | str = HAN20):
    """Unspaced rendering of an ASCII text column (Spark side): every
    word maps to one ``alphabet`` unit by its md5, concatenated with no
    separators."""
    units = F.array(*[F.lit(c) for c in alphabet])
    w = X.words_col(text_col)
    return F.array_join(
        F.transform(
            w, lambda t: F.element_at(units, (md5_long(t) % 20 + 1).cast("int"))
        ),
        "",
    )


_HAN20_SQL = "string_split('" + ",".join(HAN20) + "', ',')"
_THAI20_SQL = "string_split('" + ",".join(THAI20) + "', ',')"


def _cjk_text_sql(x: str = "text", alphabet_sql: str = _HAN20_SQL) -> str:
    """DuckDB twin of :func:`_cjk_text_col` — same md5-keyed mapping."""
    h = ORACLE_MD5_LONG.format(x="w")
    return (
        f"array_to_string(list_transform(string_split_regex(trim({x}), '\\s+'), "
        f"w -> list_extract({alphabet_sql}, CAST({h} % 20 + 1 AS INTEGER))), '')"
    )


# ---------------------------------------------------------------------------
# cjk_segmentation — the parity core: per-doc unit stats + an md5 over the
# exact unit sequence. doc_id % 11 rows are MIXED script (ASCII prefix
# glued to the Han body) so run-boundary handling is hash-pinned too;
# doc_id % 17 rows are UNSPACED THAI built from combining-mark syllables,
# hash-pinning the marks-stay-attached rule across Java regex and RE2.
# ---------------------------------------------------------------------------
def cjk_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs_parallel(spark, sf_dir)
    cjk = _cjk_text_col("text")
    thai = _cjk_text_col("text", alphabet=THAI20)
    mixed = F.when(
        F.col("doc_id") % 11 == 0,
        F.concat(
            F.lit("doc"), F.col("doc_id").cast("string"), F.lit(" en "), cjk
        ),
    ).when(F.col("doc_id") % 17 == 0, thai).otherwise(cjk)
    base = docs.select("doc_id", mixed.alias("text"))
    w = X.words_col("text")
    return base.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars"),
        F.size(w).cast("long").alias("n_units"),
        F.size(F.array_distinct(w)).cast("long").alias("n_distinct"),
        F.md5(F.array_join(w, " ")).alias("units_fp"),
    ).orderBy("doc_id")


def _cjk_segmentation_sql() -> str:
    return f"""
WITH base AS (
  SELECT doc_id,
         CASE WHEN doc_id % 11 = 0
              THEN 'doc' || CAST(doc_id AS VARCHAR) || ' en ' || {_cjk_text_sql("text")}
              WHEN doc_id % 17 = 0
              THEN {_cjk_text_sql("text", _THAI20_SQL)}
              ELSE {_cjk_text_sql("text")} END AS text
  FROM documents
),
w AS (SELECT doc_id, text, {seg_words_sql("text")} AS sp FROM base)
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars,
       CAST(len(sp) AS BIGINT) AS n_units,
       CAST(len(list_distinct(sp)) AS BIGINT) AS n_distinct,
       md5(array_to_string(sp, ' ')) AS units_fp
FROM w
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# sea_segmentation (r12, VERDICT r11 missing #3) — the cjk_segmentation
# parity pin extended to the OTHER whitespace-free Common-Crawl scripts:
# Lao, Myanmar, Khmer. Each doc renders unspaced in one script
# (doc_id % 3) from a 20-syllable alphabet of base consonant + COMBINING
# vowel/tone mark — concatenated with no separators they exercise the
# marks-stay-attached rule for all three new combining classes across
# Java regex and RE2. The Khmer alphabet deliberately includes two COENG
# subscript clusters (U+17D2), hash-pinning the documented
# split-after-COENG approximation. doc_id % 11 rows carry an ASCII
# prefix, pinning mixed-run boundaries per script.
# ---------------------------------------------------------------------------
LAO20 = ["ກິ", "ຂີ", "ຄຶ", "ງື", "ຈຸ", "ຊູ", "ຍັ", "ດ່", "ຕ້", "ຖ໊", "ທິ", "ນີ", "ບຶ", "ປື", "ຜຸ", "ຝູ", "ພັ", "ຟ່", "ມ້", "ຢ໊"]
MYA20 = ["ကိ", "ခီ", "ဂု", "ဃူ", "ငဲ", "စံ", "ဆ့", "ဇ်", "ဈွ", "ညှ", "ဋိ", "ဌီ", "ဍု", "ဎူ", "ဏဲ", "တံ", "ထ့", "ဒ်", "ဓွ", "နှ"]
KHM20 = ["កិ", "ខី", "គឹ", "ឃឺ", "ងុ", "ចូ", "ឆួ", "ជំ", "ឈ៉", "ញ៊", "ដិ", "ឋី", "ឌឹ", "ឍឺ", "ណុ", "តូ", "ថួ", "ទំ", "ក្រ", "ត្រ"]
_LAO20_SQL = "string_split('" + ",".join(LAO20) + "', ',')"
_MYA20_SQL = "string_split('" + ",".join(MYA20) + "', ',')"
_KHM20_SQL = "string_split('" + ",".join(KHM20) + "', ',')"


def sea_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs_parallel(spark, sf_dir)
    rendered = (
        F.when(F.col("doc_id") % 3 == 0, _cjk_text_col("text", alphabet=LAO20))
        .when(F.col("doc_id") % 3 == 1, _cjk_text_col("text", alphabet=MYA20))
        .otherwise(_cjk_text_col("text", alphabet=KHM20))
    )
    mixed = F.when(
        F.col("doc_id") % 11 == 0,
        F.concat(
            F.lit("doc"), F.col("doc_id").cast("string"), F.lit(" en "), rendered
        ),
    ).otherwise(rendered)
    script = F.element_at(
        F.array(F.lit("lao"), F.lit("myanmar"), F.lit("khmer")),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )
    base = docs.select("doc_id", script.alias("script"), mixed.alias("text"))
    w = X.words_col("text")
    return base.select(
        "doc_id",
        "script",
        F.length("text").cast("long").alias("n_chars"),
        F.size(w).cast("long").alias("n_units"),
        F.size(F.array_distinct(w)).cast("long").alias("n_distinct"),
        F.md5(F.array_join(w, " ")).alias("units_fp"),
    ).orderBy("doc_id")


def _sea_segmentation_sql() -> str:
    return f"""
WITH base AS (
  SELECT doc_id,
         CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'lao'
              WHEN 1 THEN 'myanmar' ELSE 'khmer' END AS script,
         (CASE WHEN doc_id % 11 = 0
               THEN 'doc' || CAST(doc_id AS VARCHAR) || ' en ' ELSE '' END)
         || (CASE CAST(doc_id % 3 AS INTEGER)
              WHEN 0 THEN {_cjk_text_sql("text", _LAO20_SQL)}
              WHEN 1 THEN {_cjk_text_sql("text", _MYA20_SQL)}
              ELSE {_cjk_text_sql("text", _KHM20_SQL)} END) AS text
  FROM documents
),
w AS (SELECT doc_id, script, text, {seg_words_sql("text")} AS sp FROM base)
SELECT doc_id, script,
       CAST(length(text) AS BIGINT) AS n_chars,
       CAST(len(sp) AS BIGINT) AS n_units,
       CAST(len(list_distinct(sp)) AS BIGINT) AS n_distinct,
       md5(array_to_string(sp, ' ')) AS units_fp
FROM w
ORDER BY doc_id
"""

# ---------------------------------------------------------------------------
# cjk_quality_gates — the Gopher repetition/quality signals over unspaced
# text: units are real words now (pre-segmentation every doc read
# n_words=1 and every signal was vacuous). doc_id % 13 rows are replaced
# by a 6x-repeated banner — the degenerate-repetition case the
# dup-trigram gate exists to catch. The pass gate is the CJK-adapted
# threshold set: the mean-word-len band is a spaced-script assumption
# (units are 1 char by construction) and is reported but not gated on.
# ---------------------------------------------------------------------------
def cjk_quality_gates(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs_parallel(spark, sf_dir)
    body = F.when(
        F.col("doc_id") % 13 == 0, F.repeat(F.lit(_CJK_BANNER_A), 6)
    ).otherwise(_cjk_text_col("text"))
    noisy = docs.select("doc_id", body.alias("text"))
    sig = X.repetition_signals(noisy)
    gate = (
        (F.col("n_words") >= 10)
        & (F.col("n_words") <= 100000)
        & (F.col("dup_trigram_frac") <= 0.5)
        & (F.col("alpha_word_frac") >= 0.8)
    )
    return sig.select(
        "doc_id",
        "n_words",
        "mean_word_len",
        "distinct_word_frac",
        "dup_trigram_frac",
        "alpha_word_frac",
        "top_bigram_frac",
        gate.alias("cjk_pass"),
    ).orderBy("doc_id")


def _cjk_quality_sql() -> str:
    wordlike = X.WORDLIKE_RE
    return f"""
WITH noisy AS (
  SELECT doc_id,
         CASE WHEN doc_id % 13 = 0 THEN repeat('{_CJK_BANNER_A}', 6)
              ELSE {_cjk_text_sql("text")} END AS text
  FROM documents
),
base AS (
  SELECT doc_id, {seg_words_sql("text")} AS sp FROM noisy
),
narrow AS (
  SELECT doc_id,
         len(sp) AS n_words,
         round(list_aggregate(list_transform(sp, w -> length(w)), 'sum')
               / greatest(len(sp), 1), 4) AS mean_word_len,
         round(len(list_distinct(sp)) / greatest(len(sp), 1), 4) AS distinct_word_frac,
         round(1.0 - len(list_distinct(tri)) / greatest(len(tri), 1), 4) AS dup_trigram_frac,
         round(len(list_filter(sp, w -> regexp_matches(w, '{wordlike}')))
               / greatest(len(sp), 1), 4) AS alpha_word_frac
  FROM (SELECT doc_id, sp,
               CASE WHEN len(sp) >= 3
                 THEN list_transform(range(1, len(sp) - 1),
                                     i -> array_to_string(list_slice(sp, i, i + 2), ' '))
                 ELSE [] END AS tri
        FROM base)
),
bg AS (
  SELECT doc_id,
         unnest(CASE WHEN len(sp) >= 2
           THEN list_transform(range(1, len(sp)),
                               i -> array_to_string(list_slice(sp, i, i + 1), ' '))
           ELSE [] END) AS bg
  FROM base
),
bgc AS (SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY 1, 2),
top AS (SELECT doc_id, round(max(c) / sum(c), 4) AS top_bigram_frac FROM bgc GROUP BY doc_id)
SELECT n.doc_id, n_words, mean_word_len, distinct_word_frac, dup_trigram_frac,
       alpha_word_frac,
       coalesce(top_bigram_frac, 0.0) AS top_bigram_frac,
       (n_words >= 10 AND n_words <= 100000
        AND dup_trigram_frac <= 0.5
        AND alpha_word_frac >= 0.8) AS cjk_pass
FROM narrow n LEFT JOIN top USING (doc_id)
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# cjk_boilerplate_scrub — the k-gram window scrub over UNSPACED text with
# planted cross-doc banners glued directly onto the body (no separators
# anywhere): the exact case the \s+-only split silently missed, since a
# banner inside an unspaced doc shares no "word" with any other doc.
# Reuses the ASCII scrub's oracle chain verbatim past the split.
# ---------------------------------------------------------------------------
def cjk_boilerplate_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs_parallel(spark, sf_dir)
    noisy = docs.select(
        "doc_id",
        F.concat(
            F.when(F.col("doc_id") % 5 == 0, F.lit(_CJK_BANNER_B)).otherwise(
                F.lit("")
            ),
            _cjk_text_col("text"),
            F.when(F.col("doc_id") % 3 == 0, F.lit(_CJK_BANNER_A)).otherwise(
                F.lit("")
            ),
        ).alias("text"),
    )
    return D.scrub_repeated_spans(noisy, k=SCRUB_K, min_docs=2).orderBy("doc_id")


def _cjk_scrub_sql() -> str:
    return f"""
WITH noisy AS (
  SELECT doc_id,
         (CASE WHEN doc_id % 5 = 0 THEN '{_CJK_BANNER_B}' ELSE '' END)
         || {_cjk_text_sql("text")}
         || (CASE WHEN doc_id % 3 = 0 THEN '{_CJK_BANNER_A}' ELSE '' END) AS text
  FROM documents
),
w AS (SELECT doc_id, {seg_words_sql("text")} AS sp FROM noisy),
{_SCRUB_CHAIN_SQL}"""


# ---------------------------------------------------------------------------
# fertility_by_script — tokenizer_fertility split by script over a mixed
# latin ∪ CJK corpus: one BPE trained on the union, per-script fertility /
# chars-per-token. Non-degeneracy is the point: CJK units enter BPE as
# single codepoints (char-level fallback, the GPT-style pretokenizer
# behavior), so cjk fertility reads ~1 token/unit with chars_per_token ~1
# — instead of the pre-fix vacuous 1 giant token per sentence.
# ---------------------------------------------------------------------------
def fertility_by_script(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ops.textprep import bpe_encode, bpe_train

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    # pin the rendered union ONCE (r13 opt): bpe_train's vocab build,
    # bpe_encode's word explode, and the per-script stats base each
    # re-evaluated the md5-per-word CJK render (3 renders -> 1; noop A/B
    # in OPTIMIZATION_r13.md). Values identical — the render is
    # deterministic row-local projection.
    uni = pin(
        docs.select("doc_id", "text", F.lit("latin").alias("script"))
        .unionByName(
            docs.select(
                (F.col("doc_id") + _CJK_OFFSET).alias("doc_id"),
                _cjk_text_col("text").alias("text"),
                F.lit("cjk").alias("script"),
            )
        )
    )
    m = [
        (r["lhs"], r["rhs"])
        for r in bpe_train(uni.select("text"), n_merges=BPE_MERGES)
        .orderBy("merge_rank")
        .collect()
    ]
    enc = bpe_encode(uni.select("doc_id", "text"), m)
    base = uni.select(
        "doc_id",
        "script",
        F.size(X.words_col("text")).alias("_nw"),
        F.length("text").alias("_nc"),
    )
    per = base.join(enc, "doc_id").groupBy("script").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("tokens"),
        F.sum("_nw").cast("long").alias("words"),
        F.sum("_nc").cast("long").alias("chars"),
    )
    return per.select(
        "script",
        "n_docs",
        "tokens",
        "words",
        "chars",
        F.round(F.col("tokens") / F.col("words"), 4).alias("fertility"),
        F.round(F.col("chars") / F.col("tokens"), 4).alias("chars_per_token"),
    ).orderBy("script")


def _fertility_by_script_sql() -> str:
    uni = f"""uni AS (
  SELECT doc_id, text, 'latin' AS script FROM documents
  UNION ALL
  SELECT doc_id + {_CJK_OFFSET} AS doc_id, {_cjk_text_sql("text")} AS text,
         'cjk' AS script
  FROM documents
)"""
    enc = _bpe_encode_sql(table="uni", words=seg_words_sql("text"))
    return f"""
WITH {uni},
enc AS ({enc}),
base AS (
  SELECT doc_id, script,
         len({seg_words_sql("text")}) AS nw,
         length(text) AS nc
  FROM uni
),
per AS (
  SELECT script, count(*) AS n_docs,
         CAST(sum(e.n_tokens) AS BIGINT) AS tokens,
         CAST(sum(b.nw) AS BIGINT) AS words,
         CAST(sum(b.nc) AS BIGINT) AS chars
  FROM base b JOIN enc e USING (doc_id)
  GROUP BY script
)
SELECT script, n_docs, tokens, words, chars,
       round(CAST(tokens AS DOUBLE) / words, 4) AS fertility,
       round(CAST(chars AS DOUBLE) / tokens, 4) AS chars_per_token
FROM per
ORDER BY script
"""


# ---------------------------------------------------------------------------
# gopher_char_gates (r11) — the CHAR-COVERAGE half of Gopher's repetition
# gates (Table A1: top{2,3,4}-gram and dup{5,10}-gram character
# fractions), over documents with planted repetitive rows: doc_id % 9
# rows get a 4x-repeated phrase appended so both signal families move.
# ---------------------------------------------------------------------------
_GOPHER_PHRASE = " limited time offer call now before supplies run out"


def gopher_char_gates(spark: SparkSession, sf_dir: str) -> DataFrame:
    # same single-split CPU-bound shape as the CJK renders (r12): the
    # rolling-key base build parallelizes the same way
    docs = _docs_parallel(spark, sf_dir)
    noisy = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 9 == 0,
            F.concat(F.col("text"), F.repeat(F.lit(_GOPHER_PHRASE), 4)),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return X.gopher_char_signals(noisy).orderBy("doc_id")


def _gopher_char_sql() -> str:
    def wins(n: int) -> str:
        return f"""w{n} AS (
  SELECT doc_id, i - 1 AS pos,
         array_to_string(list_slice(sp, i, i + {n} - 1), ' ') AS win,
         CAST(list_aggregate(list_transform(list_slice(sp, i, i + {n} - 1),
                                            x -> length(x)), 'sum') AS BIGINT) AS wlen
  FROM base, LATERAL (SELECT unnest(range(1, len(sp) - {n} + 2)) AS i)
  WHERE len(sp) >= {n}
)"""

    def top(n: int) -> str:
        return f"""top{n} AS (
  SELECT doc_id, CAST(max(c * l) AS BIGINT) AS cov
  FROM (SELECT doc_id, win, count(*) AS c, min(wlen) AS l
        FROM w{n} GROUP BY 1, 2 HAVING count(*) >= 2)
  GROUP BY doc_id
)"""

    def dup(n: int) -> str:
        return f"""ds{n} AS (
  SELECT doc_id, list(DISTINCT pos) AS ds
  FROM (SELECT doc_id, pos,
               count(*) OVER (PARTITION BY doc_id, win) AS c
        FROM w{n})
  WHERE c >= 2 GROUP BY doc_id
),
cov{n} AS (
  SELECT b.doc_id,
         CAST(coalesce(list_aggregate(
           list_transform(range(1, len(b.sp) + 1),
             i -> CASE WHEN len(list_filter(coalesce(d.ds, CAST([] AS BIGINT[])),
                                p -> p <= i - 1 AND i - 1 < p + {n})) > 0
                  THEN b.wl[i] ELSE 0 END), 'sum'), 0) AS BIGINT) AS cov
  FROM base b LEFT JOIN ds{n} d USING (doc_id)
)"""

    parts = [wins(n) for n in (2, 3, 4, 5, 10)]
    parts += [top(n) for n in (2, 3, 4)]
    parts += [dup(n) for n in (5, 10)]
    ctes = ",\n".join(parts)
    return f"""
WITH noisy AS (
  SELECT doc_id,
         CASE WHEN doc_id % 9 = 0
              THEN text || repeat('{_GOPHER_PHRASE}', 4)
              ELSE text END AS text
  FROM documents
),
base AS (
  SELECT doc_id, sp, list_transform(sp, x -> length(x)) AS wl,
         CAST(coalesce(list_aggregate(list_transform(sp, x -> length(x)), 'sum'), 0)
           AS BIGINT) AS total
  FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS sp FROM noisy)
),
{ctes}
SELECT b.doc_id,
       b.total AS n_word_chars,
       round(coalesce(t2.cov, 0) / CAST(greatest(b.total, 1) AS DOUBLE), 4) AS top2gram_frac,
       round(coalesce(t3.cov, 0) / CAST(greatest(b.total, 1) AS DOUBLE), 4) AS top3gram_frac,
       round(coalesce(t4.cov, 0) / CAST(greatest(b.total, 1) AS DOUBLE), 4) AS top4gram_frac,
       round(c5.cov / CAST(greatest(b.total, 1) AS DOUBLE), 4) AS dup5gram_frac,
       round(c10.cov / CAST(greatest(b.total, 1) AS DOUBLE), 4) AS dup10gram_frac,
       (round(coalesce(t2.cov, 0) / CAST(greatest(b.total, 1) AS DOUBLE), 4) <= 0.20
        AND round(coalesce(t3.cov, 0) / CAST(greatest(b.total, 1) AS DOUBLE), 4) <= 0.18
        AND round(coalesce(t4.cov, 0) / CAST(greatest(b.total, 1) AS DOUBLE), 4) <= 0.16
        AND round(c5.cov / CAST(greatest(b.total, 1) AS DOUBLE), 4) <= 0.15
        AND round(c10.cov / CAST(greatest(b.total, 1) AS DOUBLE), 4) <= 0.10)
         AS char_gates_pass
FROM base b
LEFT JOIN top2 t2 USING (doc_id)
LEFT JOIN top3 t3 USING (doc_id)
LEFT JOIN top4 t4 USING (doc_id)
JOIN cov5 c5 USING (doc_id)
JOIN cov10 c10 USING (doc_id)
ORDER BY doc_id
"""


QUERIES: dict = {
    "text_profile": (text_profile, _text_profile_sql()),
    "doc_quality_signals": (doc_quality_signals, DOC_QUALITY_SQL),
    "ngram_logprob": (ngram_logprob, NGRAM_LOGPROB_SQL),
    "corpus_curation": (corpus_curation, _corpus_curation_sql()),
    "dataset_split": (dataset_split, _dataset_split_sql()),
    "corpus_mixture": (corpus_mixture, _corpus_mixture_sql()),
    "passage_dedup": (passage_dedup, PASSAGE_DEDUP_SQL),
    "passage_dedup_maximal": (passage_dedup_maximal, PASSAGE_MAXIMAL_SQL),
    "bpe_pair_counts": (bpe_pair_counts_q, BPE_PAIRS_SQL),
    "bpe_train_merges": (bpe_train_merges, _bpe_train_sql()),
    "decontaminate_passages": (decontaminate_passages, DECON_SQL),
    "url_dedup": (url_dedup, URL_DEDUP_SQL),
    "bpe_encode_docs": (bpe_encode_docs, _bpe_encode_sql()),
    "epoch_shuffle_order": (epoch_shuffle_order, EPOCH_SHUFFLE_SQL),
    "text_normalization": (text_normalization, TEXT_NORM_SQL),
    "stratified_sample_n": (stratified_sample_n, STRATIFIED_N_SQL),
    "contamination_check": (contamination_check, CONTAMINATION_SQL),
    "dedup_exact": (dedup_exact, DEDUP_EXACT_SQL),
    "dedup_ngram_jaccard": (dedup_ngram_jaccard, DEDUP_NGRAM_SQL),
    "dedup_minhash_lsh": (dedup_minhash_lsh, _minhash_sql()),
    "dedup_clusters": (dedup_clusters, _dedup_clusters_sql()),
    "dedup_keep_summary": (dedup_keep_summary, _dedup_keep_sql()),
    "leakage_safe_split": (leakage_safe_split_q, _leakage_split_sql()),
    "html_text_extraction": (html_text_extraction, _html_extract_sql()),
    "dedup_incremental": (dedup_incremental, _dedup_incremental_sql()),
    "dedup_keep_best": (dedup_keep_best, _dedup_keep_best_sql()),
    "dedup_simhash": (dedup_simhash, _simhash_sql()),
    "neardup_triangles": (neardup_triangles, _triangles_sql()),
    "neardup_clustering_coeff": (neardup_clustering_coeff, _clustering_coeff_sql()),
    "fuzzy_name_match": (fuzzy_name_match, FUZZY_NAME_SQL),
    "doc_classifier_margin": (doc_classifier_margin, CLASSIFIER_MARGIN_SQL),
    "weighted_sample_docs": (weighted_sample_docs, _weighted_sample_sql()),
    "doc_text_knn": (doc_text_knn, _text_knn_sql()),
    "doc_nb_quality": (doc_nb_quality, NB_QUALITY_SQL),
    "dedup_bloom_membership": (dedup_bloom_membership, _bloom_sql()),
    "lang_id_trained": (lang_id_trained, LANG_ID_TRAINED_SQL),
    "lang_id_margin": (lang_id_margin, LANG_ID_MARGIN_SQL),
    "dsir_selection": (dsir_selection, DSIR_SELECTION_SQL),
    "main_content_extraction": (main_content_extraction, _main_content_sql()),
    "ccnet_quality_buckets": (ccnet_quality_buckets, CCNET_BUCKETS_SQL),
    "boilerplate_scrub": (boilerplate_scrub, BOILERPLATE_SCRUB_SQL),
    "mixture_temperature_weights": (
        mixture_temperature_weights,
        _mixture_temperature_sql(),
    ),
    "tokenizer_fertility": (tokenizer_fertility, _tokenizer_fertility_sql()),
    "jsonl_ingest": (jsonl_ingest, JSONL_INGEST_SQL),
    "dedup_minhash_recall": (dedup_minhash_recall, _minhash_recall_sql()),
    "intra_doc_scrub": (intra_doc_scrub, INTRA_DOC_SCRUB_SQL),
    "data_schedule": (data_schedule, _data_schedule_sql()),
    "dedup_winnowing": (dedup_winnowing, _winnowing_sql()),
    "dedup_simhash_hamming": (dedup_simhash_hamming, _simhash_hamming_sql()),
    "curriculum_order": (curriculum_order, _curriculum_sql()),
    "span_corruption_pairs": (span_corruption_pairs, _span_corruption_sql()),
    "cjk_segmentation": (cjk_segmentation, _cjk_segmentation_sql()),
    "sea_segmentation": (sea_segmentation, _sea_segmentation_sql()),
    "cjk_quality_gates": (cjk_quality_gates, _cjk_quality_sql()),
    "cjk_boilerplate_scrub": (cjk_boilerplate_scrub, _cjk_scrub_sql()),
    "fertility_by_script": (fertility_by_script, _fertility_by_script_sql()),
    "dedup_winnow_recall": (dedup_winnow_recall, _winnow_recall_sql()),
    "dedup_simhash_recall": (dedup_simhash_recall, _simhash_recall_sql()),
    "dedup_ngram_recall": (dedup_ngram_recall, _ngram_recall_sql()),
    "dedup_impact_report": (dedup_impact_report, _dedup_impact_sql()),
    "classifier_pr_curve": (classifier_pr_curve, _pr_curve_sql()),
    "gopher_char_gates": (gopher_char_gates, _gopher_char_sql()),
}
