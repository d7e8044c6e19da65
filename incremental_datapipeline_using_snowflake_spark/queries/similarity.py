"""Similarity-search & multimodal query inventory over ``embeddings`` /
``documents``.

- ``ann_bruteforce_topk``: exact cosine top-k baseline.
- ``ann_lsh_bucketed``: random-hyperplane-LSH bucketed variant (the scale
  path) — planes derived from md5 so the oracle reproduces them.
- ``dedup_embedding_cosine``: near-dup vectors (augmented with deterministic
  ×1.001 variants, cosine ≈ 1) detected by threshold.
- ``multimodal_meta``: the Arrow-batched ``mapInPandas`` decode pipeline
  (ops.multimodal) checked against a pure-SQL twin of its md5-derived
  metadata — a Pandas-UDF plan verified by the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..ops import multimodal as M
from ..ops import similarity as S
from ..ops.dedup import embedding_near_pairs_lsh
from ..session import pin
from .artifacts import artifact
from .util import ORACLE_MD5_LONG, load

_H = ORACLE_MD5_LONG
EMB_DIM = 64
N_QUERIES = 5
TOP_K = 5


def ann_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    return S.bruteforce_topk(emb, queries, k=TOP_K).orderBy("query_id", "rank")


ANN_BRUTEFORCE_SQL = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
  FROM embeddings WHERE vec_id < {N_QUERIES}
),
scored AS (
  SELECT query_id, vec_id AS nbr_id,
         round(list_cosine_similarity(embedding::DOUBLE[], qv), 6) AS cosine
  FROM embeddings CROSS JOIN q WHERE vec_id != query_id
)
SELECT query_id, rank, nbr_id, cosine FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, nbr_id) AS rank
  FROM scored
) WHERE rank <= {TOP_K}
ORDER BY query_id, rank
"""


# ---------------------------------------------------------------------------
# hard_negative_mining (r07) — contrastive-training data prep: for each
# positive anchor, the k nearest NON-positive vectors. The anchor set is
# FIXED-SIZE (vec_id % 40 == 0 AND vec_id < 2000 — the production contract:
# positives are a labeled set, thousands of rows, NOT a corpus fraction), so
# the pair space grows linearly with the corpus, never quadratically.
# Oracle: the bruteforce replay with the positive set excluded.
# ---------------------------------------------------------------------------
HN_K = 5
HN_ANCHOR_CAP = 2000


def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    # DataFrame positives (r09): the id set never touches the driver — the
    # op excludes it via broadcast semi/anti joins, matching the documented
    # at-scale posture (the old form collected the ids into isin literals)
    pos = emb.filter(f"vec_id % 40 = 0 AND vec_id < {HN_ANCHOR_CAP}").select(
        "vec_id"
    )
    return S.mine_hard_negatives(emb, pos, k=HN_K).orderBy("query_id", "rank")


HARD_NEG_SQL = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
  FROM embeddings WHERE vec_id % 40 = 0 AND vec_id < {HN_ANCHOR_CAP}
),
neg AS (
  SELECT vec_id AS nbr_id, embedding::DOUBLE[] AS nv
  FROM embeddings WHERE NOT (vec_id % 40 = 0 AND vec_id < {HN_ANCHOR_CAP})
),
scored AS (
  SELECT query_id, nbr_id,
         round(list_cosine_similarity(nv, qv), 6) AS cosine
  FROM neg CROSS JOIN q
)
SELECT query_id, rank, nbr_id, cosine FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, nbr_id) AS rank
  FROM scored
) WHERE rank <= {HN_K}
ORDER BY query_id, rank
"""


# ---------------------------------------------------------------------------
# hard_negative_mining_ivf (r08) — the ANN-indexed scale path for the same
# contract: anchors probe their N_PROBE nearest seed-IVF cells and score only
# those cells' members, positives excluded from candidates BEFORE ranking.
# The oracle replays the full deterministic IVF computation (seed centroids,
# nearest-centroid assignment, probe ranking) with the anchor exclusion —
# the ANN_IVF_SQL discipline composed with HARD_NEG_SQL's positive split.
# Recall vs the exact form is envelope-gated in tests/test_ops.py.
# ---------------------------------------------------------------------------
def hard_negative_mining_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    pos = emb.filter(f"vec_id % 40 = 0 AND vec_id < {HN_ANCHOR_CAP}").select(
        "vec_id"
    )
    # direct call with the PINNED cell count the oracle replays — the
    # dispatcher's ivf route auto-sizes cells (right for production,
    # wrong for a deterministic oracle)
    return S.mine_hard_negatives_ivf(
        emb, pos, k=HN_K, n_cells=S.N_IVF_CELLS
    ).orderBy("query_id", "rank")


HARD_NEG_IVF_SQL = f"""
WITH c AS (
  SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings
),
cents AS (
  SELECT id AS cell, v AS cv FROM c ORDER BY id LIMIT {S.N_IVF_CELLS}
),
assigned AS (
  SELECT id, v, cell FROM (
    SELECT c.id, c.v, cents.cell,
           row_number() OVER (
             PARTITION BY c.id
             ORDER BY list_cosine_similarity(c.v, cents.cv) DESC, cents.cell
           ) AS rk
    FROM c CROSS JOIN cents
  ) WHERE rk = 1
),
q AS (
  SELECT id AS query_id, v AS qv FROM assigned
  WHERE id % 40 = 0 AND id < {HN_ANCHOR_CAP}
),
probes AS (
  SELECT query_id, qv, cell FROM (
    SELECT q.query_id, q.qv, cents.cell,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY list_cosine_similarity(q.qv, cents.cv) DESC, cents.cell
           ) AS rk
    FROM q CROSS JOIN cents
  ) WHERE rk <= {S.N_PROBE}
),
scored AS (
  SELECT p.query_id, a.id AS nbr_id, a.cell,
         round(list_cosine_similarity(a.v, p.qv), 6) AS cosine
  FROM assigned a JOIN probes p ON a.cell = p.cell
  WHERE NOT (a.id % 40 = 0 AND a.id < {HN_ANCHOR_CAP})
)
SELECT query_id, rank, nbr_id, cell, cosine FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, nbr_id) AS rank
  FROM scored
) WHERE rank <= {HN_K}
ORDER BY query_id, rank
"""


def ann_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    return S.lsh_bucketed_topk(
        emb, query_ids=list(range(N_QUERIES)), dim=EMB_DIM, k=TOP_K
    ).orderBy("query_id", "rank")


# Signature projections are integer-exact (quantized components × integer
# weights summed in int64), so bucket bits cannot flip with summation order.
ANN_LSH_SQL = f"""
WITH planes AS (
  SELECT p, d, ({_H.format(x="p || '_' || d")} % 2001) - 1000 AS w
  FROM (SELECT unnest(range(0, {S.N_PLANES})) AS p),
       (SELECT unnest(range(1, {EMB_DIM + 1})) AS d)
),
flat AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS d,
         CAST(floor(unnest(embedding::DOUBLE[]) * 1000000 + 0.5) AS BIGINT) AS xq
  FROM embeddings
),
proj AS (
  SELECT vec_id, p, sum(xq * w) AS s
  FROM flat JOIN planes USING (d) GROUP BY vec_id, p
),
sig AS (
  -- BIGINT: DuckDB's integer SUM yields HUGEINT, which pandas renders as
  -- float64 — the value-hash would then compare "65535.0" vs Spark's 65535.
  SELECT vec_id, CAST(sum(CASE WHEN s > 0 THEN 1 << p ELSE 0 END) AS BIGINT) AS bucket
  FROM proj GROUP BY vec_id
),
q AS (
  SELECT s.vec_id AS query_id, e.embedding::DOUBLE[] AS qv, s.bucket
  FROM sig s JOIN embeddings e ON e.vec_id = s.vec_id
  WHERE s.vec_id < {N_QUERIES}
),
scored AS (
  SELECT q.query_id, s.vec_id AS nbr_id, s.bucket,
         round(list_cosine_similarity(e.embedding::DOUBLE[], q.qv), 6) AS cosine
  FROM sig s
  JOIN q ON q.bucket = s.bucket AND s.vec_id != q.query_id
  JOIN embeddings e ON e.vec_id = s.vec_id
)
SELECT query_id, rank, nbr_id, bucket, cosine FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, nbr_id) AS rank
  FROM scored
) WHERE rank <= {TOP_K}
ORDER BY query_id, rank
"""


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: deterministic seed centroids (lowest-id vectors),
    nearest-centroid assignment, n_probe-cell search. The scale path when
    hyperplane buckets skew: cell population is balanced by the data itself."""
    emb = load(spark, sf_dir, "embeddings")
    return S.ivf_topk(emb, query_ids=list(range(N_QUERIES)), k=TOP_K).orderBy(
        "query_id", "rank"
    )


ANN_IVF_SQL = f"""
WITH c AS (
  SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings
),
cents AS (
  SELECT id AS cell, v AS cv FROM c ORDER BY id LIMIT {S.N_IVF_CELLS}
),
assigned AS (
  SELECT id, v, cell FROM (
    SELECT c.id, c.v, cents.cell,
           row_number() OVER (
             PARTITION BY c.id
             ORDER BY list_cosine_similarity(c.v, cents.cv) DESC, cents.cell
           ) AS rk
    FROM c CROSS JOIN cents
  ) WHERE rk = 1
),
q AS (
  SELECT id AS query_id, v AS qv FROM c WHERE id < {N_QUERIES}
),
probes AS (
  SELECT query_id, qv, cell FROM (
    SELECT q.query_id, q.qv, cents.cell,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY list_cosine_similarity(q.qv, cents.cv) DESC, cents.cell
           ) AS rk
    FROM q CROSS JOIN cents
  ) WHERE rk <= {S.N_PROBE}
),
scored AS (
  SELECT p.query_id, a.id AS nbr_id, a.cell,
         round(list_cosine_similarity(a.v, p.qv), 6) AS cosine
  FROM assigned a JOIN probes p ON a.cell = p.cell AND a.id != p.query_id
)
SELECT query_id, rank, nbr_id, cell, cosine FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, nbr_id) AS rank
  FROM scored
) WHERE rank <= {TOP_K}
ORDER BY query_id, rank
"""


def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    variants = emb.filter(F.col("vec_id") % 5 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(F.col("embedding"), lambda x: x.cast("double") * 1.001).alias(
            "embedding"
        ),
        "label",
    )
    corpus = emb.select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("embedding"),
        "label",
    ).unionByName(variants)
    # LSH-bucketed (scale path): vectors at cosine>=0.999 share every
    # hyperplane sign, so the planted near-dups always collide; the pair
    # space is per-bucket, never |corpus|^2.
    return embedding_near_pairs_lsh(corpus, dim=EMB_DIM, threshold=0.999).orderBy(
        "id_a", "id_b"
    )


DEDUP_EMB_SQL = f"""
WITH corpus AS (
  SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings
  UNION ALL
  SELECT vec_id + 100000 AS id, list_transform(embedding::DOUBLE[], x -> x * 1.001) AS v
  FROM embeddings WHERE vec_id % 5 = 0
),
planes AS (
  SELECT p, d, ({_H.format(x="p || '_' || d")} % 2001) - 1000 AS w
  FROM (SELECT unnest(range(0, {S.N_PLANES})) AS p),
       (SELECT unnest(range(1, {EMB_DIM + 1})) AS d)
),
flat AS (
  SELECT id, generate_subscripts(v, 1) AS d,
         CAST(floor(unnest(v) * 1000000 + 0.5) AS BIGINT) AS xq
  FROM corpus
),
proj AS (
  SELECT id, p, sum(xq * w) AS s FROM flat JOIN planes USING (d) GROUP BY id, p
),
sig AS (
  SELECT id, sum(CASE WHEN s > 0 THEN 1 << p ELSE 0 END) AS bucket
  FROM proj GROUP BY id
),
bucketed AS (
  SELECT c.id, c.v, s.bucket FROM corpus c JOIN sig s USING (id)
)
SELECT id_a, id_b, cosine FROM (
  SELECT a.id AS id_a, b.id AS id_b,
         round(list_cosine_similarity(a.v, b.v), 6) AS cosine
  FROM bucketed a JOIN bucketed b ON a.bucket = b.bucket AND a.id < b.id
) WHERE cosine >= 0.999
ORDER BY id_a, id_b
"""



# dedup_emblsh_recall (r11) — the fourth and last dedup-accuracy referee:
# the hyperplane-LSH BLOCKING stage graded against exact brute-force
# cosine truth on a fixed-size sample (the textops referee discipline —
# an eval budget must not scale with the corpus it audits). The sample
# keys on vec_id % 100000 so every planted x1.001 variant co-samples with
# its base vector; truth is the all-pairs cosine over the ~100-vector
# sample (bounded by construction).
def dedup_emblsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ops import dedup as D
    from .textops import _referee_counts

    emb = load(spark, sf_dir, "embeddings")
    n = emb.count()
    mod = max(4, n // 100)
    corpus = emb.select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("embedding"),
    ).unionByName(
        emb.filter(F.col("vec_id") % 5 == 0).select(
            (F.col("vec_id") + 100000).alias("vec_id"),
            F.transform(
                F.col("embedding"), lambda x: x.cast("double") * 1.001
            ).alias("embedding"),
        )
    ).filter((F.col("vec_id") % 100000) % mod == 0)
    corpus = pin(corpus)
    truth = D.embedding_near_pairs(corpus, threshold=0.999).select("id_a", "id_b")
    cand = D.embedding_lsh_candidate_pairs(corpus, dim=EMB_DIM)
    return _referee_counts(truth, cand, "bucket")


def _emblsh_recall_sql() -> str:
    return f"""
WITH corpus AS (
  SELECT * FROM (
    SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings
    UNION ALL
    SELECT vec_id + 100000 AS id,
           list_transform(embedding::DOUBLE[], x -> x * 1.001) AS v
    FROM embeddings WHERE vec_id % 5 = 0
  )
  WHERE (id % 100000) % (SELECT greatest(4, count(*) // 100) FROM embeddings) = 0
),
planes AS (
  SELECT p, d, ({_H.format(x="p || '_' || d")} % 2001) - 1000 AS w
  FROM (SELECT unnest(range(0, {S.N_PLANES})) AS p),
       (SELECT unnest(range(1, {EMB_DIM + 1})) AS d)
),
flat AS (
  SELECT id, generate_subscripts(v, 1) AS d,
         CAST(floor(unnest(v) * 1000000 + 0.5) AS BIGINT) AS xq
  FROM corpus
),
proj AS (
  SELECT id, p, sum(xq * w) AS s FROM flat JOIN planes USING (d) GROUP BY id, p
),
sig AS (
  SELECT id, sum(CASE WHEN s > 0 THEN 1 << p ELSE 0 END) AS bucket
  FROM proj GROUP BY id
),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM sig a JOIN sig b ON a.bucket = b.bucket AND a.id < b.id
),
truth AS (
  SELECT id_a, id_b FROM (
    SELECT a.id AS id_a, b.id AS id_b,
           round(list_cosine_similarity(a.v, b.v), 6) AS cosine
    FROM corpus a JOIN corpus b ON a.id < b.id
  ) WHERE cosine >= 0.999
),
hit AS (SELECT id_a, id_b FROM cand INTERSECT SELECT id_a, id_b FROM truth)
SELECT CAST((SELECT count(*) FROM truth) AS BIGINT) AS n_true,
       CAST((SELECT count(*) FROM cand) AS BIGINT) AS n_cand,
       CAST((SELECT count(*) FROM hit) AS BIGINT) AS n_hit,
       round((SELECT count(*) FROM hit)
             / CAST((SELECT count(*) FROM cand) AS DOUBLE), 4) AS precision_bucket,
       round((SELECT count(*) FROM hit)
             / CAST((SELECT count(*) FROM truth) AS DOUBLE), 4) AS recall_bucket,
       round(2.0 * (SELECT count(*) FROM hit)
             / CAST((SELECT count(*) FROM cand)
                    + (SELECT count(*) FROM truth) AS DOUBLE), 4) AS f1_bucket
"""


def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (seed codebooks, integer-exact ADC)."""
    emb = load(spark, sf_dir, "embeddings")
    return S.pq_topk(emb, query_ids=list(range(N_QUERIES)), dim=EMB_DIM, k=TOP_K).orderBy(
        "query_id", "rank"
    )


def _pq_sql() -> str:
    sub = EMB_DIM // S.N_PQ_SUB
    d2 = (
        f"list_aggregate(list_transform(range(1, {sub + 1}),"
        " i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])), 'sum')"
    )
    return f"""
WITH quant AS (
  SELECT vec_id AS id,
         list_transform(embedding::DOUBLE[],
                        x -> CAST(floor(x * 1000000 + 0.5) AS BIGINT)) AS xq
  FROM embeddings
),
subv AS (
  SELECT id, s, list_slice(xq, s * {sub} + 1, s * {sub} + {sub}) AS v
  FROM quant, (SELECT unnest(range(0, {S.N_PQ_SUB})) AS s)
),
cb AS (
  SELECT id AS code_id, s, v AS cw FROM subv
  WHERE id IN (SELECT id FROM quant ORDER BY id LIMIT {S.N_PQ_CODES})
),
assign AS (
  SELECT id, s, code_id FROM (
    SELECT subv.id, subv.s, cb.code_id,
           row_number() OVER (
             PARTITION BY subv.id, subv.s
             ORDER BY {d2.format(a="subv.v", b="cb.cw")}, cb.code_id
           ) AS rk
    FROM subv JOIN cb ON subv.s = cb.s
  ) WHERE rk = 1
),
qsub AS (SELECT id AS query_id, s, v AS qv FROM subv WHERE id < {N_QUERIES}),
qd AS (
  SELECT query_id, qsub.s, cb.code_id, {d2.format(a="qsub.qv", b="cb.cw")} AS d
  FROM qsub JOIN cb ON qsub.s = cb.s
),
scored AS (
  SELECT query_id, a.id AS nbr_id, CAST(sum(d) AS BIGINT) AS adc_dist
  FROM assign a JOIN qd ON a.s = qd.s AND a.code_id = qd.code_id
  WHERE a.id != qd.query_id
  GROUP BY 1, 2
)
SELECT query_id, rank, nbr_id, adc_dist FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adc_dist, nbr_id) AS rank
  FROM scored
) WHERE rank <= {TOP_K}
ORDER BY query_id, rank
"""


def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed IVF coarse pruning + PQ ADC scoring (FAISS IVFPQ shape)."""
    emb = load(spark, sf_dir, "embeddings")
    return S.ivfpq_topk(
        emb, query_ids=list(range(N_QUERIES)), dim=EMB_DIM, k=TOP_K
    ).orderBy("query_id", "rank")


def _ivfpq_sql() -> str:
    sub = EMB_DIM // S.N_PQ_SUB
    d2 = (
        f"list_aggregate(list_transform(range(1, {sub + 1}),"
        " i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])), 'sum')"
    )
    return f"""
WITH c AS (
  SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings
),
cents AS (
  SELECT id AS cell, v AS cv FROM c ORDER BY id LIMIT {S.N_IVF_CELLS}
),
assigned AS (
  SELECT id, cell FROM (
    SELECT c.id, cents.cell,
           row_number() OVER (
             PARTITION BY c.id
             ORDER BY list_cosine_similarity(c.v, cents.cv) DESC, cents.cell
           ) AS rk
    FROM c CROSS JOIN cents
  ) WHERE rk = 1
),
q AS (SELECT id AS query_id, v AS qv FROM c WHERE id < {N_QUERIES}),
probes AS (
  SELECT query_id, cell FROM (
    SELECT q.query_id, cents.cell,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY list_cosine_similarity(q.qv, cents.cv) DESC, cents.cell
           ) AS rk
    FROM q CROSS JOIN cents
  ) WHERE rk <= {S.N_PROBE}
),
quant AS (
  SELECT vec_id AS id,
         list_transform(embedding::DOUBLE[],
                        x -> CAST(floor(x * 1000000 + 0.5) AS BIGINT)) AS xq
  FROM embeddings
),
subv AS (
  SELECT id, s, list_slice(xq, s * {sub} + 1, s * {sub} + {sub}) AS v
  FROM quant, (SELECT unnest(range(0, {S.N_PQ_SUB})) AS s)
),
cb AS (
  SELECT id AS code_id, s, v AS cw FROM subv
  WHERE id IN (SELECT id FROM quant ORDER BY id LIMIT {S.N_PQ_CODES})
),
assign AS (
  SELECT id, s, code_id FROM (
    SELECT subv.id, subv.s, cb.code_id,
           row_number() OVER (
             PARTITION BY subv.id, subv.s
             ORDER BY {d2.format(a="subv.v", b="cb.cw")}, cb.code_id
           ) AS rk
    FROM subv JOIN cb ON subv.s = cb.s
  ) WHERE rk = 1
),
qsub AS (SELECT id AS query_id, s, v AS qv FROM subv WHERE id < {N_QUERIES}),
qd AS (
  SELECT query_id, qsub.s, cb.code_id, {d2.format(a="qsub.qv", b="cb.cw")} AS d
  FROM qsub JOIN cb ON qsub.s = cb.s
),
scored AS (
  SELECT qd.query_id, a.id AS nbr_id, CAST(sum(d) AS BIGINT) AS adc_dist
  FROM assign a
  JOIN assigned aa ON aa.id = a.id
  JOIN probes p ON p.cell = aa.cell
  JOIN qd ON a.s = qd.s AND a.code_id = qd.code_id AND qd.query_id = p.query_id
  WHERE a.id != qd.query_id
  GROUP BY 1, 2
)
SELECT query_id, rank, nbr_id, adc_dist FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adc_dist, nbr_id) AS rank
  FROM scored
) WHERE rank <= {TOP_K}
ORDER BY query_id, rank
"""


def semdedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup pruning over the augmented embedding corpus: the planted
    1.001-scaled variants (same direction => same IVF cell, cosine ~1.0)
    must be dropped; everything else kept."""
    emb = load(spark, sf_dir, "embeddings")
    variants = emb.filter(F.col("vec_id") % 5 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(F.col("embedding"), lambda x: x.cast("double") * 1.001).alias(
            "embedding"
        ),
    )
    corpus = emb.select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("embedding"),
    ).unionByName(variants)
    return (
        S.semantic_dedup_keep(corpus, threshold=0.999, n_cells=None)
        .withColumnRenamed("id", "vec_id")
        .orderBy("vec_id")
    )


SEMDEDUP_SQL = f"""
WITH corpus AS (
  SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings
  UNION ALL
  SELECT vec_id + 100000 AS id, list_transform(embedding::DOUBLE[], x -> x * 1.001) AS v
  FROM embeddings WHERE vec_id % 5 = 0
),
cents AS (
  -- sqrt(n)-scaled cells (ops auto_n_cells): the r05 fix for the
  -- fixed-cell quadratic pair space measured in scripts/scale_validation.py
  SELECT id AS cell, v AS cv FROM corpus ORDER BY id
  LIMIT (SELECT GREATEST(16, CAST(floor(sqrt(count(*))) AS INT)) FROM corpus)
),
assigned AS (
  SELECT id, v, cell FROM (
    SELECT c.id, c.v, cents.cell,
           row_number() OVER (
             PARTITION BY c.id
             ORDER BY list_cosine_similarity(c.v, cents.cv) DESC, cents.cell
           ) AS rk
    FROM corpus c CROSS JOIN cents
  ) WHERE rk = 1
),
pairs AS (
  SELECT a.id AS id_a, b.id AS id_b
  FROM assigned a JOIN assigned b ON a.cell = b.cell AND a.id < b.id
  WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.999
),
dup AS (SELECT id_b AS id, count(*) AS n FROM pairs GROUP BY 1)
SELECT a.id AS vec_id, a.cell,
       CAST(coalesce(d.n, 0) AS BIGINT) AS n_earlier_dups,
       d.n IS NULL AS keep
FROM assigned a LEFT JOIN dup d USING (id)
ORDER BY vec_id
"""


def knn_graph_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # n_cells=None -> sqrt(n) auto-sizing (the r05 scale fix; the oracle
    # computes the same cell count from its own COUNT)
    emb = load(spark, sf_dir, "embeddings")
    return S.knn_graph(emb, k=3, n_cells=None).orderBy("src_id", "rank")


KNN_GRAPH_SQL = f"""
WITH c AS (
  SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings
),
cents AS (
  SELECT id AS cell, v AS cv FROM c ORDER BY id
  LIMIT (SELECT GREATEST(16, CAST(floor(sqrt(count(*))) AS INT)) FROM c)
),
assigned AS (
  SELECT id, v, cell FROM (
    SELECT c.id, c.v, cents.cell,
           row_number() OVER (
             PARTITION BY c.id
             ORDER BY list_cosine_similarity(c.v, cents.cv) DESC, cents.cell
           ) AS rk
    FROM c CROSS JOIN cents
  ) WHERE rk = 1
),
scored AS (
  SELECT a.id AS src_id, b.id AS nbr_id, a.cell,
         round(list_cosine_similarity(a.v, b.v), 6) AS cosine
  FROM assigned a JOIN assigned b ON a.cell = b.cell AND a.id != b.id
)
SELECT src_id, rank, nbr_id, cell, cosine FROM (
  SELECT *, row_number() OVER (PARTITION BY src_id ORDER BY cosine DESC, nbr_id) AS rank
  FROM scored
) WHERE rank <= 3
ORDER BY src_id, rank
"""


def knn_graph_ivf2_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level IVF k-NN graph (r06, Θ(n^{4/3})): cbrt(n) coarse cells ×
    cbrt(n) sub-cells, both auto-sized (the oracle replays the sizing from
    its own COUNT); every stage deterministic seed-IVF."""
    emb = load(spark, sf_dir, "embeddings")
    return S.knn_graph_ivf2(emb, k=3).orderBy("src_id", "rank")


KNN_IVF2_SQL = """
WITH c AS (
  SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings
),
nn AS (SELECT GREATEST(4, CAST(floor(cbrt(count(*)) + 0.5) AS INT)) AS side FROM c),
cents AS (
  SELECT id AS cell, v AS cv FROM c ORDER BY id LIMIT (SELECT side FROM nn)
),
a1 AS (
  SELECT id, v, cell FROM (
    SELECT c.id, c.v, cents.cell,
           row_number() OVER (
             PARTITION BY c.id
             ORDER BY list_cosine_similarity(c.v, cents.cv) DESC, cents.cell
           ) AS rk
    FROM c CROSS JOIN cents
  ) WHERE rk = 1
),
sub AS (
  SELECT cell, id AS subcell, v AS cv FROM (
    SELECT cell, id, v, row_number() OVER (PARTITION BY cell ORDER BY id) AS rk
    FROM a1
  ) WHERE rk <= (SELECT side FROM nn)
),
a2 AS (
  SELECT id, v, cell, subcell FROM (
    SELECT a1.id, a1.v, a1.cell, sub.subcell,
           row_number() OVER (
             PARTITION BY a1.id
             ORDER BY list_cosine_similarity(a1.v, sub.cv) DESC, sub.subcell
           ) AS rk
    FROM a1 JOIN sub ON a1.cell = sub.cell
  ) WHERE rk = 1
),
scored AS (
  SELECT a.id AS src_id, b.id AS nbr_id,
         round(list_cosine_similarity(a.v, b.v), 6) AS cosine
  FROM a2 a JOIN a2 b
    ON a.cell = b.cell AND a.subcell = b.subcell AND a.id != b.id
)
SELECT src_id, rank, nbr_id, cosine FROM (
  SELECT *, row_number() OVER (PARTITION BY src_id ORDER BY cosine DESC, nbr_id) AS rank
  FROM scored
) WHERE rank <= 3
ORDER BY src_id, rank
"""


# knn_graph_lsh — the LINEAR-scale kNN-graph path (r05): multi-table
# hyperplane LSH buckets instead of IVF cells. Here plane/table counts are
# fixture-pinned for oracle replay; production sizing is
# n_planes = log2(n / target_bucket) (see ops.similarity.knn_graph_lsh and
# the alpha=0.92 measurement in BASELINE.md vs 1.46 for sqrt-cell IVF).
KNN_LSH_PLANES = 5
KNN_LSH_TABLES = 2


def knn_graph_lsh_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    return S.knn_graph_lsh(
        emb, k=3, n_tables=KNN_LSH_TABLES, n_planes=KNN_LSH_PLANES
    ).orderBy("src_id", "rank")


_KNN_LSH_KEY = (
    "CASE WHEN t = 0 THEN p || '_' || d ELSE 't' || t || '_' || p || '_' || d END"
)

KNN_LSH_SQL = f"""
WITH planes AS (
  SELECT t, p, d, ({_H.format(x=_KNN_LSH_KEY)} % 2001) - 1000 AS w
  FROM (SELECT unnest(range(0, {KNN_LSH_TABLES})) AS t),
       (SELECT unnest(range(0, {KNN_LSH_PLANES})) AS p),
       (SELECT unnest(range(1, {EMB_DIM + 1})) AS d)
),
flat AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS d,
         CAST(floor(unnest(embedding::DOUBLE[]) * 1000000 + 0.5) AS BIGINT) AS xq
  FROM embeddings
),
proj AS (
  SELECT t, vec_id, p, sum(xq * w) AS s
  FROM flat JOIN planes USING (d) GROUP BY t, vec_id, p
),
sig AS (
  SELECT t, vec_id, CAST(sum(CASE WHEN s > 0 THEN 1 << p ELSE 0 END) AS BIGINT) AS bucket
  FROM proj GROUP BY t, vec_id
),
cand AS (
  SELECT DISTINCT a.vec_id AS src_id, b.vec_id AS nbr_id
  FROM sig a JOIN sig b
    ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id != b.vec_id
),
scored AS (
  SELECT src_id, nbr_id,
         round(list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]), 6) AS cosine
  FROM cand
  JOIN embeddings ea ON ea.vec_id = src_id
  JOIN embeddings eb ON eb.vec_id = nbr_id
)
SELECT src_id, rank, nbr_id, cosine FROM (
  SELECT *, row_number() OVER (PARTITION BY src_id ORDER BY cosine DESC, nbr_id) AS rank
  FROM scored
) WHERE rank <= 3
ORDER BY src_id, rank
"""


# semdedup_keep_lsh — the LINEAR-scale SemDeDup path (r06): multi-table
# hyperplane LSH buckets instead of IVF cells (removing the last Θ(n^1.5)
# default from the inventory — see ops.similarity.semantic_dedup_keep_lsh).
# Plane/table counts fixture-pinned for oracle replay, same as knn_graph_lsh;
# production sizing is n_planes = log2(n / target_bucket).
SEMDEDUP_LSH_PLANES = 5
SEMDEDUP_LSH_TABLES = 2


def semdedup_keep_lsh_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over the same augmented corpus as ``semdedup_keep`` (planted
    ×1.001 variants, cosine ≈ 1.0 with their originals) — LSH-bucketed
    candidate generation, greedy-by-id keep decisions."""
    emb = load(spark, sf_dir, "embeddings")
    variants = emb.filter(F.col("vec_id") % 5 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(F.col("embedding"), lambda x: x.cast("double") * 1.001).alias(
            "embedding"
        ),
    )
    corpus = emb.select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("embedding"),
    ).unionByName(variants)
    return (
        S.semantic_dedup_keep_lsh(
            corpus,
            threshold=0.999,
            n_tables=SEMDEDUP_LSH_TABLES,
            n_planes=SEMDEDUP_LSH_PLANES,
        )
        .withColumnRenamed("id", "vec_id")
        .orderBy("vec_id")
    )


SEMDEDUP_LSH_SQL = f"""
WITH corpus AS (
  SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings
  UNION ALL
  SELECT vec_id + 100000 AS id, list_transform(embedding::DOUBLE[], x -> x * 1.001) AS v
  FROM embeddings WHERE vec_id % 5 = 0
),
planes AS (
  SELECT t, p, d, ({_H.format(x=_KNN_LSH_KEY)} % 2001) - 1000 AS w
  FROM (SELECT unnest(range(0, {SEMDEDUP_LSH_TABLES})) AS t),
       (SELECT unnest(range(0, {SEMDEDUP_LSH_PLANES})) AS p),
       (SELECT unnest(range(1, {EMB_DIM + 1})) AS d)
),
flat AS (
  SELECT id, generate_subscripts(v, 1) AS d,
         CAST(floor(unnest(v) * 1000000 + 0.5) AS BIGINT) AS xq
  FROM corpus
),
proj AS (
  SELECT t, id, p, sum(xq * w) AS s
  FROM flat JOIN planes USING (d) GROUP BY t, id, p
),
sig AS (
  SELECT t, id, CAST(sum(CASE WHEN s > 0 THEN 1 << p ELSE 0 END) AS BIGINT) AS bucket
  FROM proj GROUP BY t, id
),
pairs AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM sig a JOIN sig b ON a.t = b.t AND a.bucket = b.bucket AND a.id < b.id
  JOIN corpus ca ON ca.id = a.id
  JOIN corpus cb ON cb.id = b.id
  WHERE round(list_cosine_similarity(ca.v, cb.v), 6) >= 0.999
),
dup AS (SELECT id_b AS id, count(*) AS n FROM pairs GROUP BY 1)
SELECT c.id AS vec_id,
       CAST(coalesce(d.n, 0) AS BIGINT) AS n_earlier_dups,
       d.n IS NULL AS keep
FROM corpus c LEFT JOIN dup d USING (id)
ORDER BY vec_id
"""


# ann_index_lifecycle — build-once/query-many IVF through the REAL store
# (r06): the index structure (centroids + cell-partitioned assignments) is
# materialized with build_ivf_index into a scratch TableStore, then queried
# by VECTOR (not id) with a partition-pruned scan of only the probed cells.
# The seed-IVF structure is deterministic, so the oracle is the SAME SQL as
# ann_ivf_topk — the lifecycle query must reproduce the direct computation
# exactly, proving the persisted index is lossless.
def ann_index_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.table_store import TableStore

    emb = load(spark, sf_dir, "embeddings")

    def build(root: str) -> TableStore:
        store = TableStore(root=root)
        S.build_ivf_index(spark, store, emb, "idx.emb", n_cells=S.N_IVF_CELLS)
        return store

    store = artifact(spark, sf_dir, "annidx", build)
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    return S.query_ivf_index(
        spark, store, "idx.emb", queries, k=TOP_K, n_probe=S.N_PROBE
    ).orderBy("query_id", "rank")


# ann_index_append — incremental index maintenance (r06): grow the stored
# IVF index by one batch (planted ×1.001 variants of every 7th vector,
# shifted ids) WITHOUT retraining: append_to_ivf_index assigns the batch
# against the FROZEN corpus centroids and appends into the cell partitions.
# Oracle replays the same rule in SQL — centroids from the CORPUS ONLY,
# assignment over corpus ∪ batch — so the grown index must answer queries
# exactly as a from-scratch computation over the union would (with frozen
# seeds), proving append cost ∝ batch loses nothing.
def ann_index_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.table_store import TableStore

    emb = load(spark, sf_dir, "embeddings")

    def build(root: str) -> TableStore:
        store = TableStore(root=root)
        S.build_ivf_index(spark, store, emb, "idx.emb", n_cells=S.N_IVF_CELLS)
        batch = emb.filter(F.col("vec_id") % 7 == 0).select(
            (F.col("vec_id") + 200000).alias("vec_id"),
            F.transform(
                F.col("embedding"), lambda x: x.cast("double") * 1.001
            ).alias("embedding"),
        )
        S.append_to_ivf_index(spark, store, batch, "idx.emb")
        return store

    store = artifact(spark, sf_dir, "annidx_append", build)
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    return S.query_ivf_index(
        spark, store, "idx.emb", queries, k=TOP_K, n_probe=S.N_PROBE
    ).orderBy("query_id", "rank")


ANN_APPEND_SQL = f"""
WITH c AS (
  SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings
),
b AS (
  SELECT vec_id + 200000 AS id,
         list_transform(embedding::DOUBLE[], x -> x * 1.001) AS v
  FROM embeddings WHERE vec_id % 7 = 0
),
cents AS (
  SELECT id AS cell, v AS cv FROM c ORDER BY id LIMIT {S.N_IVF_CELLS}
),
all_vecs AS (
  SELECT id, v FROM c UNION ALL SELECT id, v FROM b
),
assigned AS (
  SELECT id, v, cell FROM (
    SELECT a.id, a.v, cents.cell,
           row_number() OVER (
             PARTITION BY a.id
             ORDER BY list_cosine_similarity(a.v, cents.cv) DESC, cents.cell
           ) AS rk
    FROM all_vecs a CROSS JOIN cents
  ) WHERE rk = 1
),
q AS (
  SELECT id AS query_id, v AS qv FROM c WHERE id < {N_QUERIES}
),
probes AS (
  SELECT query_id, qv, cell FROM (
    SELECT q.query_id, q.qv, cents.cell,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY list_cosine_similarity(q.qv, cents.cv) DESC, cents.cell
           ) AS rk
    FROM q CROSS JOIN cents
  ) WHERE rk <= {S.N_PROBE}
),
scored AS (
  SELECT p.query_id, a.id AS nbr_id, a.cell,
         round(list_cosine_similarity(a.v, p.qv), 6) AS cosine
  FROM assigned a JOIN probes p ON a.cell = p.cell AND a.id != p.query_id
)
SELECT query_id, rank, nbr_id, cell, cosine FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, nbr_id) AS rank
  FROM scored
) WHERE rank <= {TOP_K}
ORDER BY query_id, rank
"""



# ann_index_reindex — the DRIFT POLICY exercised end-to-end (r11, VERDICT
# r10 ask #3): build the stored IVF auto-sized, grow it 4x with three
# deterministic corpus variants through the frozen-centroid append path,
# then let maybe_reindex_ivf's volume probe fire (floor(2*sqrt(n)) >=
# 2*floor(sqrt(n)) — guaranteed at any corpus size, so both engines
# deterministically replay the FIRED branch) and answer queries from the
# atomically swapped, retrained index. The oracle replays the rebuild
# from scratch in SQL — centroids re-seeded from the union's lowest ids
# at the new auto cell count, vectors assigned through the ROUTED
# Theta(n^1.25) kernel the fired rebuild uses (r12, VERDICT r11 #1) —
# proving the policy's rebuild is exactly a from-scratch routed build
# over the grown corpus.
_REINDEX_FACTORS = ["1.001", "1.002", "1.003"]


def ann_index_reindex(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.table_store import TableStore

    emb = load(spark, sf_dir, "embeddings")

    def build(root: str) -> TableStore:
        # FIXTURE PRECONDITION (ADVICE r11): the volume probe fires when
        # auto_n_cells(4n) >= 2 * auto_n_cells(n); below 256 base vectors
        # the N_IVF_CELLS floor absorbs the planted 4x growth (target
        # stays 16 < 32) and the query cannot exercise the fired branch.
        # Fail up front with the diagnosis, not after the build.
        n_base = emb.count()
        if n_base < S.N_IVF_CELLS**2:
            raise ValueError(
                f"ann_index_reindex needs >= {S.N_IVF_CELLS ** 2} base "
                f"vectors (sqrt(4n) >= 2 * {S.N_IVF_CELLS}) for the planted "
                f"4x growth to outgrow the cell floor; fixture has {n_base}"
            )
        store = TableStore(root=root)
        # routed=True throughout the growth phase (r12): the planted
        # batches are corpus-SIZED (they must be, to fire the volume
        # probe), so the flat kernel's batch x n_cells pass here is the
        # same Theta(n^1.5) the fired rebuild pays — the r12 scale row
        # measured the composition at alpha_t 1.38 with routed rebuild
        # alone because the flat build + backfill appends dominated.
        # Output-hash neutral by construction: the fired rebuild
        # re-derives every assignment from the stored (id, v) pairs, and
        # the centroid SET is kernel-independent, so only the transient
        # pre-rebuild cell layout differs.
        S.build_ivf_index(spark, store, emb, "idx.emb", n_cells=None, routed=True)
        for j, f in enumerate(_REINDEX_FACTORS, start=1):
            batch = emb.select(
                (F.col("vec_id") + 400000 * j).alias("vec_id"),
                F.expr(
                    f"transform(embedding, x -> cast(x as double) * {f})"
                ).alias("embedding"),
            )
            S.append_to_ivf_index(spark, store, batch, "idx.emb", routed=True)
        info = S.maybe_reindex_ivf(spark, store, "idx.emb")
        if info is None or not info["fired_volume"]:
            raise RuntimeError(
                "ann_index_reindex: volume-drift trigger did not fire on a "
                "4x-grown corpus — policy arithmetic regressed"
            )
        return store

    store = artifact(spark, sf_dir, "annidx_reindex", build)
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    return S.query_ivf_index(
        spark, store, "idx.emb", queries, k=TOP_K, n_probe=S.N_PROBE
    ).orderBy("query_id", "rank")


def _ann_reindex_sql() -> str:
    variants = "\n  UNION ALL ".join(
        f"SELECT vec_id + {400000 * j} AS id, "
        f"list_transform(embedding::DOUBLE[], x -> x * {f}) AS v "
        f"FROM embeddings"
        for j, f in enumerate(_REINDEX_FACTORS, start=1)
    )
    return f"""
WITH c AS (
  SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings
),
u AS (
  SELECT id, v FROM c
  UNION ALL {variants}
),
tgt AS (
  SELECT greatest({S.N_IVF_CELLS},
                  CAST(floor(sqrt(count(*))) AS BIGINT)) AS n_cells
  FROM u
),
nrt AS (
  SELECT greatest(4, CAST(floor(sqrt(n_cells) + 0.5) AS BIGINT)) AS n_route
  FROM tgt
),
cents AS (
  SELECT id AS cell, v AS cv FROM (
    SELECT id, v, row_number() OVER (ORDER BY id) AS rk FROM u
  ) WHERE rk <= (SELECT n_cells FROM tgt)
),
-- ROUTED assignment replay (r12): the fired rebuild's Theta(n^1.25)
-- kernel — route seeds = the n_route lowest-id centroids, each centroid
-- under its {S.IVF_CENT_ROUTES} nearest seeds (two-sided membership),
-- each vector probing its {S.IVF_ROUTE_PROBES} best routes, final cell =
-- nearest centroid among those routes only
seeds AS (
  SELECT cell AS route, cv AS rv FROM (
    SELECT cell, cv, row_number() OVER (ORDER BY cell) AS rk FROM cents
  ) WHERE rk <= (SELECT n_route FROM nrt)
),
crt AS (
  SELECT cell, cv, route FROM (
    SELECT c.cell, c.cv, s.route,
           row_number() OVER (
             PARTITION BY c.cell
             ORDER BY list_cosine_similarity(c.cv, s.rv) DESC, s.route
           ) AS rk
    FROM cents c CROSS JOIN seeds s
  ) WHERE rk <= {S.IVF_CENT_ROUTES}
),
vrt AS (
  SELECT id, v, route FROM (
    SELECT a.id, a.v, s.route,
           row_number() OVER (
             PARTITION BY a.id
             ORDER BY list_cosine_similarity(a.v, s.rv) DESC, s.route
           ) AS rk
    FROM u a CROSS JOIN seeds s
  ) WHERE rk <= {S.IVF_ROUTE_PROBES}
),
assigned AS (
  SELECT id, v, cell FROM (
    SELECT a.id, a.v, c.cell,
           row_number() OVER (
             PARTITION BY a.id
             ORDER BY list_cosine_similarity(a.v, c.cv) DESC, c.cell
           ) AS rk
    FROM vrt a JOIN crt c ON a.route = c.route
  ) WHERE rk = 1
),
q AS (
  SELECT id AS query_id, v AS qv FROM c WHERE id < {N_QUERIES}
),
probes AS (
  SELECT query_id, qv, cell FROM (
    SELECT q.query_id, q.qv, cents.cell,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY list_cosine_similarity(q.qv, cents.cv) DESC, cents.cell
           ) AS rk
    FROM q CROSS JOIN cents
  ) WHERE rk <= {S.N_PROBE}
),
scored AS (
  SELECT p.query_id, a.id AS nbr_id, a.cell,
         round(list_cosine_similarity(a.v, p.qv), 6) AS cosine
  FROM assigned a JOIN probes p ON a.cell = p.cell AND a.id != p.query_id
)
SELECT query_id, rank, nbr_id, cell, cosine FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, nbr_id) AS rank
  FROM scored
) WHERE rank <= {TOP_K}
ORDER BY query_id, rank
"""


# embedding_gram — distributed Gram matrix X^T X (r06): the whitening/PCA
# precursor. Arrow-batched partial matmuls emit only upper-triangle cells;
# integer quantization makes every cell an exact, order-independent int64
# sum the oracle reproduces from an n·d² unnest.
GRAM_QUANT = 1000


def embedding_gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    return S.gram_matrix(emb, dim=EMB_DIM, quant=GRAM_QUANT).orderBy("i", "j")


GRAM_SQL = f"""
WITH flat AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
         CAST(floor(unnest(embedding)::DOUBLE * {GRAM_QUANT} + 0.5) AS BIGINT) AS xq
  FROM embeddings
)
SELECT CAST(a.i AS INT) AS i, CAST(b.i AS INT) AS j,
       CAST(SUM(a.xq * b.xq) AS BIGINT) AS g
FROM flat a JOIN flat b ON a.vec_id = b.vec_id AND a.i <= b.i
GROUP BY a.i, b.i
ORDER BY i, j
"""


# dedup_embedding_incremental — batch-vs-corpus semantic dedup (r06): the
# embedding analogue of dedup_incremental. The planted ×1.001 variants play
# the incoming batch; each must pair with its corpus original
# (is_corpus_pair) without the corpus ever self-pairing.
INC_EMB_PLANES = 5
INC_EMB_TABLES = 2


def dedup_embedding_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ops.dedup import incremental_embedding_pairs

    emb = load(spark, sf_dir, "embeddings")
    corpus = emb.select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("embedding"),
    )
    batch = emb.filter(F.col("vec_id") % 5 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(F.col("embedding"), lambda x: x.cast("double") * 1.001).alias(
            "embedding"
        ),
    )
    return incremental_embedding_pairs(
        batch, corpus, dim=EMB_DIM, threshold=0.999,
        n_tables=INC_EMB_TABLES, n_planes=INC_EMB_PLANES,
    ).orderBy("id_a", "id_b")


# dedup_embedding_incremental_auto (r06) — the LINEAR declared form: the
# plane count derives from the corpus size in BOTH engines
# (max(4, ceil(log2(n/64))) — constant bucket population as n grows;
# measured alpha 0.69 vs 1.66 for the 5-plane pinned form). The oracle
# recomputes the same formula from COUNT(*), so the hash check covers the
# production configuration, not just the toy-pinned one.
def dedup_embedding_incremental_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ops.dedup import incremental_embedding_pairs

    emb = load(spark, sf_dir, "embeddings")
    corpus = emb.select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("embedding"),
    )
    batch = emb.filter(F.col("vec_id") % 5 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(F.col("embedding"), lambda x: x.cast("double") * 1.001).alias(
            "embedding"
        ),
    )
    return incremental_embedding_pairs(
        batch, corpus, dim=EMB_DIM, threshold=0.999,
        n_tables=INC_EMB_TABLES, n_planes=None,
    ).orderBy("id_a", "id_b")


def _inc_emb_auto_sql() -> str:
    return f"""
WITH np AS (
  SELECT GREATEST(4, CAST(ceil(log2(GREATEST(2.0, count(*) / 64.0))) AS INT)) AS n
  FROM embeddings
),
corpus AS (
  SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings
),
batch AS (
  SELECT vec_id + 100000 AS id, list_transform(embedding::DOUBLE[], x -> x * 1.001) AS v
  FROM embeddings WHERE vec_id % 5 = 0
),
planes AS (
  SELECT t, p, d, ({_H.format(x=_KNN_LSH_KEY)} % 2001) - 1000 AS w
  FROM (SELECT unnest(range(0, {INC_EMB_TABLES})) AS t),
       (SELECT unnest(range(0, 63)) AS p),
       (SELECT unnest(range(1, {EMB_DIM + 1})) AS d),
       np
  WHERE p < np.n
),
both_sides AS (
  SELECT id, v, FALSE AS is_new FROM corpus
  UNION ALL
  SELECT id, v, TRUE AS is_new FROM batch
),
flat AS (
  SELECT id, is_new, generate_subscripts(v, 1) AS d,
         CAST(floor(unnest(v) * 1000000 + 0.5) AS BIGINT) AS xq
  FROM both_sides
),
proj AS (
  SELECT t, id, is_new, p, sum(xq * w) AS s
  FROM flat JOIN planes USING (d) GROUP BY t, id, is_new, p
),
sig AS (
  SELECT t, id, is_new,
         CAST(sum(CASE WHEN s > 0 THEN 1 << p ELSE 0 END) AS BIGINT) AS bucket
  FROM proj GROUP BY t, id, is_new
),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b, NOT b.is_new AS is_corpus_pair
  FROM sig a JOIN sig b ON a.t = b.t AND a.bucket = b.bucket AND a.id != b.id
  WHERE a.is_new AND ((NOT b.is_new) OR a.id < b.id)
)
SELECT id_a, id_b,
       round(list_cosine_similarity(va.v, vb.v), 6) AS cosine,
       is_corpus_pair
FROM cand
JOIN both_sides va ON va.id = id_a
JOIN both_sides vb ON vb.id = id_b
WHERE round(list_cosine_similarity(va.v, vb.v), 6) >= 0.999
ORDER BY id_a, id_b
"""


INC_EMB_SQL = f"""
WITH corpus AS (
  SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings
),
batch AS (
  SELECT vec_id + 100000 AS id, list_transform(embedding::DOUBLE[], x -> x * 1.001) AS v
  FROM embeddings WHERE vec_id % 5 = 0
),
planes AS (
  SELECT t, p, d, ({_H.format(x=_KNN_LSH_KEY)} % 2001) - 1000 AS w
  FROM (SELECT unnest(range(0, {INC_EMB_TABLES})) AS t),
       (SELECT unnest(range(0, {INC_EMB_PLANES})) AS p),
       (SELECT unnest(range(1, {EMB_DIM + 1})) AS d)
),
both_sides AS (
  SELECT id, v, FALSE AS is_new FROM corpus
  UNION ALL
  SELECT id, v, TRUE AS is_new FROM batch
),
flat AS (
  SELECT id, is_new, generate_subscripts(v, 1) AS d,
         CAST(floor(unnest(v) * 1000000 + 0.5) AS BIGINT) AS xq
  FROM both_sides
),
proj AS (
  SELECT t, id, is_new, p, sum(xq * w) AS s
  FROM flat JOIN planes USING (d) GROUP BY t, id, is_new, p
),
sig AS (
  SELECT t, id, is_new,
         CAST(sum(CASE WHEN s > 0 THEN 1 << p ELSE 0 END) AS BIGINT) AS bucket
  FROM proj GROUP BY t, id, is_new
),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b, NOT b.is_new AS is_corpus_pair
  FROM sig a JOIN sig b ON a.t = b.t AND a.bucket = b.bucket AND a.id != b.id
  WHERE a.is_new AND ((NOT b.is_new) OR a.id < b.id)
)
SELECT id_a, id_b,
       round(list_cosine_similarity(va.v, vb.v), 6) AS cosine,
       is_corpus_pair
FROM cand
JOIN both_sides va ON va.id = id_a
JOIN both_sides vb ON vb.id = id_b
WHERE round(list_cosine_similarity(va.v, vb.v), 6) >= 0.999
ORDER BY id_a, id_b
"""


def pagerank_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact PageRank over the IVF-blocked k-NN graph — graph
    centrality for corpus curation (central = representative of a dense
    semantic region; peripheral = outlier). Second iterative algorithm
    with a full hash-checked oracle (same fixed-point discipline as
    k-means): every score is an int64 on the 1e-12 mass grid."""
    from ..ops.graph import pagerank

    emb = load(spark, sf_dir, "embeddings")
    edges = S.knn_graph(emb, k=3).select(
        F.col("src_id").alias("src"), F.col("nbr_id").alias("dst")
    )
    return pagerank(edges, iters=3).orderBy("id")


def _pagerank_sql() -> str:
    from ..ops.graph import PR_DAMP_DEN, PR_DAMP_NUM, PR_SCALE

    base = f"(({PR_DAMP_DEN - PR_DAMP_NUM} * {PR_SCALE}) // ({PR_DAMP_DEN} * (SELECT n FROM nn)))"
    its = []
    prev = "r0"
    for i in (1, 2, 3):
        its.append(
            f"""it{i} AS (
  SELECT nodes.id,
         CAST({base} + (({PR_DAMP_NUM} * coalesce(s.acc, 0)) // {PR_DAMP_DEN}) AS BIGINT) AS score
  FROM nodes LEFT JOIN (
    SELECT e.dst, CAST(sum(p.score // d.outdeg) AS BIGINT) AS acc
    FROM e JOIN {prev} p ON p.id = e.src JOIN deg d ON d.src = e.src
    GROUP BY e.dst
  ) s ON s.dst = nodes.id
)"""
        )
        prev = f"it{i}"
    iters_sql = ",\n".join(its)
    return f"""
WITH c AS (
  SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings
),
cents AS (
  SELECT id AS cell, v AS cv FROM c ORDER BY id LIMIT {S.N_IVF_CELLS}
),
assigned AS (
  SELECT id, v, cell FROM (
    SELECT c.id, c.v, cents.cell,
           row_number() OVER (
             PARTITION BY c.id
             ORDER BY list_cosine_similarity(c.v, cents.cv) DESC, cents.cell
           ) AS rk
    FROM c CROSS JOIN cents
  ) WHERE rk = 1
),
knn AS (
  SELECT src_id, nbr_id FROM (
    SELECT a.id AS src_id, b.id AS nbr_id,
           row_number() OVER (
             PARTITION BY a.id
             ORDER BY round(list_cosine_similarity(a.v, b.v), 6) DESC, b.id
           ) AS rank
    FROM assigned a JOIN assigned b ON a.cell = b.cell AND a.id != b.id
  ) WHERE rank <= 3
),
e AS (SELECT src_id AS src, nbr_id AS dst FROM knn),
nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
nn AS (SELECT count(*) AS n FROM nodes),
deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY 1),
r0 AS (SELECT id, CAST({PR_SCALE} // (SELECT n FROM nn) AS BIGINT) AS score FROM nodes),
{iters_sql}
SELECT id, score FROM it3 ORDER BY id
"""


def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real mapInPandas decode plumbing; output matches the SQL twin."""
    docs = load(spark, sf_dir, "documents")
    media = M.attach_payload(docs)
    return (
        M.decode_media(media)
        .select("doc_id", "media_type", "byte_len", "fp", "width", "height", "n_frames")
        .orderBy("doc_id")
    )


MULTIMODAL_SQL = f"""
WITH typed AS (
  SELECT doc_id, text,
         CASE (try_cast(regexp_extract(source, '(\\d+)', 1) AS INT) % 4)
           WHEN 0 THEN 'image' WHEN 1 THEN 'audio' WHEN 2 THEN 'text'
           ELSE 'video' END AS media_type
  FROM documents
)
SELECT doc_id, media_type,
       CAST(octet_length(encode(text)) AS INT) AS byte_len,
       md5(text) AS fp,
       CASE WHEN media_type IN ('image', 'video')
            THEN CAST(64 + {_H.format(x='text')} % 1024 AS INT) END AS width,
       CASE WHEN media_type IN ('image', 'video')
            THEN CAST(64 + {_H.format(x='text')} % 768 AS INT) END AS height,
       CASE WHEN media_type = 'video'
            THEN CAST(1 + {_H.format(x='text')} % 30 AS INT) END AS n_frames
FROM typed ORDER BY doc_id
"""


def multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1->N frame sampling inside mapInPandas (video payloads only). The
    Spark side decides output cardinality per-row inside the Python batch,
    but the fake extractor's arithmetic is SQL-expressible — n_frames =
    1 + md5_60(payload) % 30, kept frames = range(0, n_frames, nth), and a
    Python step-slice ``payload[i::n]`` has ceil((len-i)/n) bytes (min 1
    for the empty-slice sentinel) — so the mapInPandas plumbing is
    hash-checked against a full DuckDB twin."""
    docs = load(spark, sf_dir, "documents")
    media = M.attach_payload(docs)
    return (
        M.sample_frames(media, every_nth=5)
        .select("doc_id", "frame_idx", F.length("frame").alias("frame_bytes"))
        .orderBy("doc_id", "frame_idx")
    )


MULTIMODAL_FRAMES_SQL = rf"""
WITH typed AS (
  SELECT doc_id, text,
         CASE (try_cast(regexp_extract(source, '(\d+)', 1) AS INT) % 4)
           WHEN 0 THEN 'image' WHEN 1 THEN 'audio' WHEN 2 THEN 'text'
           ELSE 'video' END AS media_type
  FROM documents
),
video AS (
  SELECT doc_id,
         CAST(octet_length(encode(text)) AS BIGINT) AS blen,
         CAST(1 + {_H.format(x='text')} % 30 AS BIGINT) AS n_frames
  FROM typed WHERE media_type = 'video'
),
frames AS (
  SELECT doc_id, CAST(i // 5 AS INT) AS frame_idx,
         CAST(CASE WHEN blen > i THEN (blen - i + n_frames - 1) // n_frames
                   ELSE 1 END AS INT) AS frame_bytes
  FROM video, UNNEST(range(0, n_frames, 5)) AS t(i)
)
SELECT doc_id, frame_idx, frame_bytes FROM frames ORDER BY doc_id, frame_idx
"""


# ---------------------------------------------------------------------------
# kmeans_clusters — 2 Lloyd iterations over the embeddings, integer-exact so
# even the iterative refinement hash-matches the oracle (ops.clustering).
# ---------------------------------------------------------------------------
KMEANS_K = 8
KMEANS_ITERS = 2


def kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ops.clustering import kmeans_cluster_stats

    emb = load(spark, sf_dir, "embeddings")
    return kmeans_cluster_stats(emb, k=KMEANS_K, iters=KMEANS_ITERS)


def _kmeans_sql(k: int = KMEANS_K, iters: int = KMEANS_ITERS, dim: int = EMB_DIM) -> str:
    """Unrolled Lloyd iterations as chained CTEs — same quantization, same
    floor(sum/n) centroid grid, same tie-breaks as ops.clustering."""
    d2 = f"list_sum(list_transform(range(1, {dim+1}), i -> (q.xq[i]-{{c}}.c[i])*(q.xq[i]-{{c}}.c[i])))"
    parts = [
        f"""q AS (
  SELECT vec_id AS id,
         list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*1000000 + 0.5) AS BIGINT)) AS xq
  FROM embeddings
)""",
        f"c0 AS (SELECT id AS cell, xq AS c FROM q ORDER BY id LIMIT {k})",
    ]
    prev = "c0"
    for t in range(1, iters + 1):
        dist = d2.format(c=prev)
        parts += [
            f"""a{t} AS (
  SELECT id, xq, cell FROM (
    SELECT q.id, q.xq, {prev}.cell,
           row_number() OVER (PARTITION BY q.id ORDER BY {dist} ASC, {prev}.cell ASC) AS rk
    FROM q CROSS JOIN {prev}) WHERE rk = 1
)""",
            f"""u{t} AS (
  SELECT cell, list(CAST(floor(CAST(s AS DOUBLE)/n) AS BIGINT) ORDER BY i) AS c
  FROM (SELECT cell, i, sum(xq[i]) AS s, count(*) AS n
        FROM a{t} CROSS JOIN range(1, {dim+1}) r(i) GROUP BY cell, i)
  GROUP BY cell
)""",
            f"""c{t} AS (
  SELECT {prev}.cell, coalesce(u{t}.c, {prev}.c) AS c
  FROM {prev} LEFT JOIN u{t} USING (cell)
)""",
        ]
        prev = f"c{t}"
    dist = d2.format(c=prev)
    parts.append(
        f"""fin AS (
  SELECT id, cell, dist FROM (
    SELECT q.id, {prev}.cell, {dist} AS dist,
           row_number() OVER (PARTITION BY q.id ORDER BY {dist} ASC, {prev}.cell ASC) AS rk
    FROM q CROSS JOIN {prev}) WHERE rk = 1
)"""
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + "\nSELECT cell, count(*) AS n_vecs, min(id) AS min_vec_id,"
        # DOUBLE on both engines: the exact integer sum is identical on each
        # side, and round-to-nearest-double of the same integer is
        # deterministic — whereas DECIMAL reaches pandas as float on DuckDB
        # but Decimal on Spark, which the driver's canonicalizer hashes
        # differently (inertia ~7.7e16 also exceeds 12 significant digits).
        " CAST(sum(dist) AS DOUBLE) AS inertia FROM fin GROUP BY cell ORDER BY cell"
    )


def multimodal_embed_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-family composition: binary payloads -> Arrow mapInPandas
    feature extraction (ops.multimodal) -> cosine top-k (ops.similarity).
    The distributed plumbing is real (the fake featurizer is an injectable
    stand-in for CLIP/wav2vec); the oracle replays the md5-derived features
    INCLUDING their float32 quantization at the Arrow schema boundary."""
    docs = load(spark, sf_dir, "documents")
    feats = M.extract_features(M.attach_payload(docs))
    corpus = feats.select(
        F.col("doc_id").alias("vec_id"), F.col("features").alias("embedding")
    )
    queries = corpus.filter(F.col("vec_id") < 3)
    return S.bruteforce_topk(corpus, queries, k=5).orderBy("query_id", "rank")


MULTIMODAL_EMBED_ANN_SQL = f"""
WITH feat AS (
  SELECT doc_id AS vec_id,
         list_transform(range(0, {M.FEATURE_DIM}), i ->
           CAST(CAST(((('0x' || substr(md5(text), (4 * i) % 32 + 1, 4))::INT % 2001) - 1000)
                     / 1000.0 AS FLOAT) AS DOUBLE)) AS v
  FROM documents
),
q AS (SELECT vec_id AS query_id, v AS qv FROM feat WHERE vec_id < 3),
scored AS (
  SELECT query_id, f.vec_id AS nbr_id,
         round(list_cosine_similarity(f.v, q.qv), 6) AS cosine
  FROM feat f JOIN q ON f.vec_id != q.query_id
)
SELECT query_id, rank, nbr_id, cosine FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, nbr_id) AS rank
  FROM scored
) WHERE rank <= 5
ORDER BY query_id, rank
"""


# ---------------------------------------------------------------------------
# ann_recall_eval — index QUALITY as a first-class operator: recall@k of the
# IVF index against the exact brute-force baseline, per query. The metric
# every production ANN deployment tracks (a fast index with unmeasured
# recall is a guess); composed entirely from the two existing oracle-checked
# top-k forms, so the DuckDB twin replays both and must agree on every hit.
# ---------------------------------------------------------------------------
def ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    exact = S.bruteforce_topk(emb, queries, k=TOP_K).select(
        "query_id", "nbr_id"
    )
    approx = S.ivf_topk(emb, query_ids=list(range(N_QUERIES)), k=TOP_K).select(
        "query_id", F.col("nbr_id").alias("a_nbr_id")
    )
    hits = exact.join(
        approx,
        (exact.query_id == approx.query_id)
        & (exact.nbr_id == approx.a_nbr_id),
        "left",
    ).groupBy(exact.query_id.alias("query_id"))
    return (
        hits.agg(F.count("a_nbr_id").alias("n_hits"))
        .select(
            "query_id",
            "n_hits",
            (F.col("n_hits") / F.lit(TOP_K)).alias("recall_at_k"),
        )
        .orderBy("query_id")
    )


ANN_RECALL_SQL = f"""
WITH exact AS (
  SELECT query_id, nbr_id FROM ({ANN_BRUTEFORCE_SQL})
),
approx AS (
  SELECT query_id, nbr_id FROM ({ANN_IVF_SQL})
)
SELECT e.query_id,
       count(a.nbr_id) AS n_hits,
       count(a.nbr_id) / {TOP_K}.0 AS recall_at_k
FROM exact e
LEFT JOIN approx a ON a.query_id = e.query_id AND a.nbr_id = e.nbr_id
GROUP BY e.query_id
ORDER BY e.query_id
"""


# ---------------------------------------------------------------------------
# ivf_routed_assign (r12) — the routed Theta(n^1.25) assignment kernel
# hash-checked DIRECTLY (ann_index_reindex exercises it only inside the
# fired-rebuild composition): per-cell population, id fold, and a
# decimal-routed member→centroid cosine fold over the full routed
# assignment of the embeddings table at auto sizing. The oracle replays
# route-seed selection, centroid routing, per-vector top-r route probing,
# and the in-route argmax — the complete kernel.
# ---------------------------------------------------------------------------
def ivf_routed_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..queries.util import dsum

    emb = load(spark, sf_dir, "embeddings")
    cents, assigned = S.ivf_assignments_routed(emb, n_cells=None)
    m = assigned.join(cents, "cell").select(
        "cell",
        "id",
        F.round(
            S.dot(F.col("v"), F.col("cv"))
            / (F.sqrt(S.dot(F.col("v"), F.col("v"))) * F.col("cn")),
            6,
        ).alias("_cos"),
    )
    return (
        m.groupBy("cell")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.sum("id").cast("long").alias("id_sum"),
            F.round(dsum("_cos"), 6).alias("cos_sum"),
        )
        .orderBy("cell")
    )


IVF_ROUTED_ASSIGN_SQL = f"""
WITH u AS (
  SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings
),
tgt AS (
  SELECT greatest({S.N_IVF_CELLS},
                  CAST(floor(sqrt(count(*))) AS BIGINT)) AS n_cells
  FROM u
),
nrt AS (
  SELECT greatest(4, CAST(floor(sqrt(n_cells) + 0.5) AS BIGINT)) AS n_route
  FROM tgt
),
cents AS (
  SELECT id AS cell, v AS cv FROM (
    SELECT id, v, row_number() OVER (ORDER BY id) AS rk FROM u
  ) WHERE rk <= (SELECT n_cells FROM tgt)
),
seeds AS (
  SELECT cell AS route, cv AS rv FROM (
    SELECT cell, cv, row_number() OVER (ORDER BY cell) AS rk FROM cents
  ) WHERE rk <= (SELECT n_route FROM nrt)
),
crt AS (
  SELECT cell, cv, route FROM (
    SELECT c.cell, c.cv, s.route,
           row_number() OVER (
             PARTITION BY c.cell
             ORDER BY list_cosine_similarity(c.cv, s.rv) DESC, s.route
           ) AS rk
    FROM cents c CROSS JOIN seeds s
  ) WHERE rk <= {S.IVF_CENT_ROUTES}
),
vrt AS (
  SELECT id, v, route FROM (
    SELECT a.id, a.v, s.route,
           row_number() OVER (
             PARTITION BY a.id
             ORDER BY list_cosine_similarity(a.v, s.rv) DESC, s.route
           ) AS rk
    FROM u a CROSS JOIN seeds s
  ) WHERE rk <= {S.IVF_ROUTE_PROBES}
),
assigned AS (
  SELECT id, v, cell FROM (
    SELECT a.id, a.v, c.cell,
           row_number() OVER (
             PARTITION BY a.id
             ORDER BY list_cosine_similarity(a.v, c.cv) DESC, c.cell
           ) AS rk
    FROM vrt a JOIN crt c ON a.route = c.route
  ) WHERE rk = 1
)
SELECT a.cell,
       CAST(count(*) AS BIGINT) AS n_members,
       CAST(sum(a.id) AS BIGINT) AS id_sum,
       round(CAST(sum(CAST(round(list_cosine_similarity(a.v, c.cv), 6)
                           AS DECIMAL(30,8))) AS DOUBLE), 6) AS cos_sum
FROM assigned a JOIN cents c ON a.cell = c.cell
GROUP BY a.cell
ORDER BY a.cell
"""


# ---------------------------------------------------------------------------
# ivf_routed_agreement (r12) — the routed kernel's referee: what fraction
# of vectors the Theta(n^1.25) route-restricted assignment lands in the
# SAME cell the flat Theta(n^1.5) kernel would have chosen, at identical
# auto sizing. The approximation is by design (hierarchical IVF); this
# row turns "a small minority may move" into a measured number, the same
# discipline as the five dedup-candidate referees.
# ---------------------------------------------------------------------------
def ivf_routed_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fixed-size-sample referee (the dedup referees' discipline: the
    # flat side is the Theta(n^1.5) pass the routed kernel exists to
    # avoid — an eval budget must not scale with the thing it audits).
    # Centroids come from the FULL corpus (both kernels' real seed set);
    # only the audited vectors sample.
    emb = load(spark, sf_dir, "embeddings")
    c = emb.select(F.col("vec_id").alias("id"), S._dvec("embedding").alias("v"))
    n = c.count()
    n_cells = max(S.N_IVF_CELLS, int(n**0.5))
    cents = (
        c.orderBy("id")
        .limit(n_cells)
        .select(F.col("id").alias("cell"), F.col("v").alias("cv"))
        .withColumn("cn", F.sqrt(S.dot(F.col("cv"), F.col("cv"))))
    )
    mod = max(10, n // 100)
    ev = c.filter(F.col("id") % mod == 0)
    scored = ev.withColumn("n", F.sqrt(S.dot(F.col("v"), F.col("v")))).join(
        F.broadcast(cents)
    ).select(
        "id",
        "cell",
        (S.dot(F.col("v"), F.col("cv")) / (F.col("n") * F.col("cn"))).alias("_sim"),
    )
    from pyspark.sql import Window as _W

    wf = _W.partitionBy("id").orderBy(F.desc("_sim"), F.asc("cell"))
    flat = (
        scored.withColumn("_rk", F.row_number().over(wf))
        .filter(F.col("_rk") == 1)
        .select("id", F.col("cell").alias("_cf"))
    )
    routed = S.route_assign(ev, cents).select("id", F.col("cell").alias("_cr"))
    j = flat.join(routed, "id")
    return j.agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors"),
        F.sum((F.col("_cf") == F.col("_cr")).cast("int"))
        .cast("long")
        .alias("n_same_cell"),
        F.round(
            F.sum((F.col("_cf") == F.col("_cr")).cast("int"))
            / F.count(F.lit(1)),
            4,
        ).alias("cell_agreement"),
    )


def _routed_agreement_sql() -> str:
    # routed chain with centroids/seeds from the FULL corpus, both
    # kernels evaluated over the fixed-size sampled vectors only
    return f"""
WITH u AS (
  SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings
),
tgt AS (
  SELECT greatest({S.N_IVF_CELLS},
                  CAST(floor(sqrt(count(*))) AS BIGINT)) AS n_cells
  FROM u
),
nrt AS (
  SELECT greatest(4, CAST(floor(sqrt(n_cells) + 0.5) AS BIGINT)) AS n_route
  FROM tgt
),
cents AS (
  SELECT id AS cell, v AS cv FROM (
    SELECT id, v, row_number() OVER (ORDER BY id) AS rk FROM u
  ) WHERE rk <= (SELECT n_cells FROM tgt)
),
seeds AS (
  SELECT cell AS route, cv AS rv FROM (
    SELECT cell, cv, row_number() OVER (ORDER BY cell) AS rk FROM cents
  ) WHERE rk <= (SELECT n_route FROM nrt)
),
crt AS (
  SELECT cell, cv, route FROM (
    SELECT c.cell, c.cv, s.route,
           row_number() OVER (
             PARTITION BY c.cell
             ORDER BY list_cosine_similarity(c.cv, s.rv) DESC, s.route
           ) AS rk
    FROM cents c CROSS JOIN seeds s
  ) WHERE rk <= {S.IVF_CENT_ROUTES}
),
ev AS (
  SELECT id, v FROM u
  WHERE id % (SELECT greatest(10, count(*) // 100) FROM u) = 0
),
vrt AS (
  SELECT id, v, route FROM (
    SELECT a.id, a.v, s.route,
           row_number() OVER (
             PARTITION BY a.id
             ORDER BY list_cosine_similarity(a.v, s.rv) DESC, s.route
           ) AS rk
    FROM ev a CROSS JOIN seeds s
  ) WHERE rk <= {S.IVF_ROUTE_PROBES}
),
routed AS (
  SELECT id, cell FROM (
    SELECT a.id, c.cell,
           row_number() OVER (
             PARTITION BY a.id
             ORDER BY list_cosine_similarity(a.v, c.cv) DESC, c.cell
           ) AS rk
    FROM vrt a JOIN crt c ON a.route = c.route
  ) WHERE rk = 1
),
flat AS (
  SELECT id, cell FROM (
    SELECT a.id, cents.cell,
           row_number() OVER (
             PARTITION BY a.id
             ORDER BY list_cosine_similarity(a.v, cents.cv) DESC, cents.cell
           ) AS rk
    FROM ev a CROSS JOIN cents
  ) WHERE rk = 1
)
SELECT CAST(count(*) AS BIGINT) AS n_vectors,
       CAST(sum(CASE WHEN f.cell = r.cell THEN 1 ELSE 0 END) AS BIGINT)
         AS n_same_cell,
       round(sum(CASE WHEN f.cell = r.cell THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE), 4) AS cell_agreement
FROM flat f JOIN routed r ON f.id = r.id
"""


# ---------------------------------------------------------------------------
# SQ8 scalar quantization family (r13, VERDICT r12 missing #2): int8-per-
# dimension codes (ops.similarity.sq8_*) — brute scoring over codes, the
# IVF-pruned variant (candidate rows carry 1 byte/dim instead of 8), and a
# recall referee vs exact cosine. All integer arithmetic after the shared
# 1e-6 grid, so DuckDB replays codes and distances bit-for-bit.
# ---------------------------------------------------------------------------
def ann_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    return S.sq8_topk(emb, query_ids=list(range(N_QUERIES)), k=TOP_K).orderBy(
        "query_id", "rank"
    )


_SQ8_CODES_SQL = f"""
comp AS (
  SELECT vec_id AS id, generate_subscripts(embedding, 1) AS d,
         CAST(floor(unnest(embedding::DOUBLE[]) * 1000000 + 0.5) AS BIGINT) AS xq
  FROM embeddings
),
stats AS (
  SELECT d, min(xq) AS lo, greatest(max(xq) - min(xq), 1) AS rng
  FROM comp GROUP BY d
),
codes AS (
  SELECT id, comp.d,
         (least(greatest(xq - lo, 0), rng) * {S.SQ8_LEVELS}) // rng - 128 AS code
  FROM comp JOIN stats USING (d)
),
qcodes AS (SELECT id AS query_id, d, code AS qc FROM codes WHERE id < {N_QUERIES})
"""

ANN_SQ8_SQL = f"""
WITH {_SQ8_CODES_SQL.strip()},
scored AS (
  SELECT query_id, c.id AS nbr_id,
         CAST(sum((c.code - qc) * (c.code - qc)) AS BIGINT) AS sq8_dist
  FROM codes c JOIN qcodes q ON c.d = q.d AND c.id != q.query_id
  GROUP BY 1, 2
)
SELECT query_id, rank, nbr_id, sq8_dist FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sq8_dist, nbr_id) AS rank
  FROM scored
) WHERE rank <= {TOP_K}
ORDER BY query_id, rank
"""


def ann_ivf_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    return S.ivf_sq8_topk(
        emb, query_ids=list(range(N_QUERIES)), k=TOP_K
    ).orderBy("query_id", "rank")


ANN_IVF_SQ8_SQL = f"""
WITH c AS (
  SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings
),
cents AS (
  SELECT id AS cell, v AS cv FROM c ORDER BY id LIMIT {S.N_IVF_CELLS}
),
assigned AS (
  SELECT id, cell FROM (
    SELECT c.id, cents.cell,
           row_number() OVER (
             PARTITION BY c.id
             ORDER BY list_cosine_similarity(c.v, cents.cv) DESC, cents.cell
           ) AS rk
    FROM c CROSS JOIN cents
  ) WHERE rk = 1
),
probes AS (
  SELECT query_id, cell FROM (
    SELECT q.id AS query_id, cents.cell,
           row_number() OVER (
             PARTITION BY q.id
             ORDER BY list_cosine_similarity(q.v, cents.cv) DESC, cents.cell
           ) AS rk
    FROM (SELECT * FROM c WHERE id < {N_QUERIES}) q CROSS JOIN cents
  ) WHERE rk <= {S.N_PROBE}
),
{_SQ8_CODES_SQL.strip()},
scored AS (
  SELECT p.query_id, a.id AS nbr_id, a.cell,
         CAST(sum((cc.code - qc.qc) * (cc.code - qc.qc)) AS BIGINT) AS sq8_dist
  FROM assigned a
  JOIN probes p ON a.cell = p.cell AND a.id != p.query_id
  JOIN codes cc ON cc.id = a.id
  JOIN qcodes qc ON qc.query_id = p.query_id AND qc.d = cc.d
  GROUP BY 1, 2, 3
)
SELECT query_id, rank, nbr_id, cell, sq8_dist FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sq8_dist, nbr_id) AS rank
  FROM scored
) WHERE rank <= {TOP_K}
ORDER BY query_id, rank
"""


SQ8_SHORTLIST = 4


def ann_sq8_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage refine: SQ8-code shortlist (1 byte/dim corpus pass) +
    exact-cosine rerank of k*shortlist candidates."""
    emb = load(spark, sf_dir, "embeddings")
    return S.sq8_rerank_topk(
        emb, query_ids=list(range(N_QUERIES)), k=TOP_K, shortlist=SQ8_SHORTLIST
    ).orderBy("query_id", "rank")


ANN_SQ8_RERANK_SQL = f"""
WITH {_SQ8_CODES_SQL.strip()},
sq8_scored AS (
  SELECT query_id, c.id AS nbr_id,
         CAST(sum((c.code - qc) * (c.code - qc)) AS BIGINT) AS sq8_dist
  FROM codes c JOIN qcodes q ON c.d = q.d AND c.id != q.query_id
  GROUP BY 1, 2
),
shortlist AS (
  SELECT query_id, nbr_id FROM (
    SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY sq8_dist, nbr_id) AS rk
    FROM sq8_scored
  ) WHERE rk <= {TOP_K * SQ8_SHORTLIST}
),
vecs AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
reranked AS (
  SELECT s.query_id, s.nbr_id,
         round(list_cosine_similarity(cv.v, qv.v), 6) AS cosine
  FROM shortlist s
  JOIN vecs cv ON cv.id = s.nbr_id
  JOIN vecs qv ON qv.id = s.query_id
)
SELECT query_id, rank, nbr_id, cosine FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY cosine DESC, nbr_id) AS rank
  FROM reranked
) WHERE rank <= {TOP_K}
ORDER BY query_id, rank
"""


def sq8_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referee: recall@k vs exact double cosine for BOTH SQ8 stages —
    raw code ranking (the 8x byte cut's quantization cost, measured) and
    the two-stage refine (the cost bought back by reranking a
    k*shortlist candidate set at full precision)."""
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    exact = S.bruteforce_topk(emb, queries, k=TOP_K).select("query_id", "nbr_id")
    raw = S.sq8_topk(emb, query_ids=list(range(N_QUERIES)), k=TOP_K).select(
        "query_id", F.col("nbr_id").alias("raw_nbr")
    )
    rr = S.sq8_rerank_topk(
        emb, query_ids=list(range(N_QUERIES)), k=TOP_K, shortlist=SQ8_SHORTLIST
    ).select("query_id", F.col("nbr_id").alias("rr_nbr"))
    out = (
        exact.join(
            raw,
            (exact.query_id == raw.query_id) & (exact.nbr_id == raw.raw_nbr),
            "left",
        )
        .drop(raw.query_id)
        .join(
            rr,
            (exact.query_id == rr.query_id) & (exact.nbr_id == rr.rr_nbr),
            "left",
        )
        .drop(rr.query_id)
        .groupBy("query_id")
    )
    return (
        out.agg(
            F.count("raw_nbr").alias("n_hits_sq8"),
            F.count("rr_nbr").alias("n_hits_rerank"),
        )
        .select(
            "query_id",
            "n_hits_sq8",
            (F.col("n_hits_sq8") / F.lit(TOP_K)).alias("recall_sq8"),
            "n_hits_rerank",
            (F.col("n_hits_rerank") / F.lit(TOP_K)).alias("recall_rerank"),
        )
        .orderBy("query_id")
    )


SQ8_RECALL_SQL = f"""
WITH exact AS (
  SELECT query_id, nbr_id FROM ({ANN_BRUTEFORCE_SQL})
),
raw AS (
  SELECT query_id, nbr_id FROM ({ANN_SQ8_SQL})
),
rr AS (
  SELECT query_id, nbr_id FROM ({ANN_SQ8_RERANK_SQL})
)
SELECT e.query_id,
       count(raw.nbr_id) AS n_hits_sq8,
       count(raw.nbr_id) / {TOP_K}.0 AS recall_sq8,
       count(rr.nbr_id) AS n_hits_rerank,
       count(rr.nbr_id) / {TOP_K}.0 AS recall_rerank
FROM exact e
LEFT JOIN raw ON raw.query_id = e.query_id AND raw.nbr_id = e.nbr_id
LEFT JOIN rr ON rr.query_id = e.query_id AND rr.nbr_id = e.nbr_id
GROUP BY e.query_id
ORDER BY e.query_id
"""


# ann_index_sq8 (r13) — the SQ8 lifecycle close: build the stored IVF
# index with sq8=True (codes + persisted quantizer alongside the
# single-copy v), grow it one batch through the FROZEN-quantizer append
# path (planted x1.001 variants — components drift outside the trained
# ranges, exercising the saturating clamp), then answer queries via the
# codes-only pruned scan + exact rerank. The oracle replays centroids
# and quantizer trained on the CORPUS ONLY, assignment + codes over
# corpus ∪ batch, the int8 shortlist inside the probed cells, and the
# exact-cosine rerank — the grown sq8 index must reproduce it all.
def ann_index_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.table_store import TableStore

    emb = load(spark, sf_dir, "embeddings")

    def build(root: str) -> TableStore:
        store = TableStore(root=root)
        S.build_ivf_index(
            spark, store, emb, "idx.emb", n_cells=S.N_IVF_CELLS, sq8=True
        )
        batch = emb.filter(F.col("vec_id") % 7 == 0).select(
            (F.col("vec_id") + 200000).alias("vec_id"),
            F.transform(
                F.col("embedding"), lambda x: x.cast("double") * 1.001
            ).alias("embedding"),
        )
        S.append_to_ivf_index(spark, store, batch, "idx.emb")
        return store

    store = artifact(spark, sf_dir, "annidx_sq8", build)
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    return S.query_ivf_index(
        spark, store, "idx.emb", queries, k=TOP_K, n_probe=S.N_PROBE,
        sq8_shortlist=SQ8_SHORTLIST,
    ).orderBy("query_id", "rank")


ANN_INDEX_SQ8_SQL = f"""
WITH c AS (
  SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings
),
b AS (
  SELECT vec_id + 200000 AS id,
         list_transform(embedding::DOUBLE[], x -> x * 1.001) AS v
  FROM embeddings WHERE vec_id % 7 = 0
),
cents AS (
  SELECT id AS cell, v AS cv FROM c ORDER BY id LIMIT {S.N_IVF_CELLS}
),
all_vecs AS (
  SELECT id, v FROM c UNION ALL SELECT id, v FROM b
),
assigned AS (
  SELECT id, cell FROM (
    SELECT a.id, cents.cell,
           row_number() OVER (
             PARTITION BY a.id
             ORDER BY list_cosine_similarity(a.v, cents.cv) DESC, cents.cell
           ) AS rk
    FROM all_vecs a CROSS JOIN cents
  ) WHERE rk = 1
),
comp_c AS (
  SELECT id, generate_subscripts(v, 1) AS d,
         CAST(floor(unnest(v) * 1000000 + 0.5) AS BIGINT) AS xq
  FROM c
),
stats AS (
  SELECT d, min(xq) AS lo, greatest(max(xq) - min(xq), 1) AS rng
  FROM comp_c GROUP BY d
),
comp_all AS (
  SELECT id, generate_subscripts(v, 1) AS d,
         CAST(floor(unnest(v) * 1000000 + 0.5) AS BIGINT) AS xq
  FROM all_vecs
),
codes AS (
  SELECT id, comp_all.d,
         (least(greatest(xq - lo, 0), rng) * {S.SQ8_LEVELS}) // rng - 128 AS code
  FROM comp_all JOIN stats USING (d)
),
probes AS (
  SELECT query_id, cell FROM (
    SELECT q.id AS query_id, cents.cell,
           row_number() OVER (
             PARTITION BY q.id
             ORDER BY list_cosine_similarity(q.v, cents.cv) DESC, cents.cell
           ) AS rk
    FROM (SELECT * FROM c WHERE id < {N_QUERIES}) q CROSS JOIN cents
  ) WHERE rk <= {S.N_PROBE}
),
d8 AS (
  SELECT p.query_id, a.id AS nbr_id, a.cell,
         CAST(sum((cc.code - qc.code) * (cc.code - qc.code)) AS BIGINT) AS _d8
  FROM assigned a
  JOIN probes p ON a.cell = p.cell AND a.id != p.query_id
  JOIN codes cc ON cc.id = a.id
  JOIN codes qc ON qc.id = p.query_id AND qc.d = cc.d
  GROUP BY 1, 2, 3
),
shortlist AS (
  SELECT query_id, nbr_id, cell FROM (
    SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY _d8, nbr_id) AS rk
    FROM d8
  ) WHERE rk <= {TOP_K * SQ8_SHORTLIST}
),
reranked AS (
  SELECT s.query_id, s.nbr_id, s.cell,
         round(list_cosine_similarity(cv.v, qv.v), 6) AS cosine
  FROM shortlist s
  JOIN all_vecs cv ON cv.id = s.nbr_id
  JOIN c qv ON qv.id = s.query_id
)
SELECT query_id, rank, nbr_id, cell, cosine FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY cosine DESC, nbr_id) AS rank
  FROM reranked
) WHERE rank <= {TOP_K}
ORDER BY query_id, rank
"""


QUERIES: dict = {
    "ann_bruteforce_topk": (ann_bruteforce_topk, ANN_BRUTEFORCE_SQL),
    "ann_sq8_topk": (ann_sq8_topk, ANN_SQ8_SQL),
    "ann_index_sq8": (ann_index_sq8, ANN_INDEX_SQ8_SQL),
    "ann_ivf_sq8_topk": (ann_ivf_sq8_topk, ANN_IVF_SQ8_SQL),
    "ann_sq8_rerank": (ann_sq8_rerank, ANN_SQ8_RERANK_SQL),
    "sq8_recall": (sq8_recall, SQ8_RECALL_SQL),
    "ivf_routed_assign": (ivf_routed_assign, IVF_ROUTED_ASSIGN_SQL),
    "ivf_routed_agreement": (ivf_routed_agreement, _routed_agreement_sql()),
    "hard_negative_mining": (hard_negative_mining, HARD_NEG_SQL),
    "hard_negative_mining_ivf": (hard_negative_mining_ivf, HARD_NEG_IVF_SQL),
    "ann_recall_eval": (ann_recall_eval, ANN_RECALL_SQL),
    "kmeans_clusters": (kmeans_clusters, _kmeans_sql()),
    "ann_lsh_bucketed": (ann_lsh_bucketed, ANN_LSH_SQL),
    "ann_ivf_topk": (ann_ivf_topk, ANN_IVF_SQL),
    "ann_index_lifecycle": (ann_index_lifecycle, ANN_IVF_SQL),
    "ann_index_append": (ann_index_append, ANN_APPEND_SQL),
    "ann_index_reindex": (ann_index_reindex, _ann_reindex_sql()),
    "embedding_gram": (embedding_gram, GRAM_SQL),
    "ann_pq_topk": (ann_pq_topk, _pq_sql()),
    "ann_ivfpq_topk": (ann_ivfpq_topk, _ivfpq_sql()),
    "dedup_embedding_cosine": (dedup_embedding_cosine, DEDUP_EMB_SQL),
    "dedup_emblsh_recall": (dedup_emblsh_recall, _emblsh_recall_sql()),
    "semdedup_keep": (semdedup_keep, SEMDEDUP_SQL),
    "semdedup_keep_lsh": (semdedup_keep_lsh_q, SEMDEDUP_LSH_SQL),
    "dedup_embedding_incremental": (dedup_embedding_incremental, INC_EMB_SQL),
    "dedup_embedding_incremental_auto": (
        dedup_embedding_incremental_auto,
        _inc_emb_auto_sql(),
    ),
    "knn_graph": (knn_graph_q, KNN_GRAPH_SQL),
    "knn_graph_lsh": (knn_graph_lsh_q, KNN_LSH_SQL),
    "knn_graph_ivf2": (knn_graph_ivf2_q, KNN_IVF2_SQL),
    "pagerank_centrality": (pagerank_centrality, _pagerank_sql()),
    "multimodal_meta": (multimodal_meta, MULTIMODAL_SQL),
    "multimodal_frames": (multimodal_frames, MULTIMODAL_FRAMES_SQL),
    "multimodal_embed_ann": (multimodal_embed_ann, MULTIMODAL_EMBED_ANN_SQL),
}
