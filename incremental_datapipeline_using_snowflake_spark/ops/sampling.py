"""Deterministic dataset splitting & sampling for training-data pipelines.

Train/val/test assignment and stratified sampling are the last step of
every pre-training data pipeline. Both are expressed as pure Column
expressions over a portable 60-bit md5 hash of the row id — zero shuffle,
zero RNG state:

- **deterministic**: the split of a row depends only on (salt, id), so
  re-runs, retries, and incremental appends land every row in the same
  split — no split leakage when the corpus grows;
- **scale-free**: a narrow map at any corpus size; the assignment never
  needs a global count or a sort;
- **oracle-portable**: the same md5 arithmetic runs in any SQL engine
  (see ``split_bucket_sql``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .text import words_col

from ..queries.util import ORACLE_MD5_LONG, md5_long, seg_words_sql
from ..session import pin

N_BUCKETS = 10_000  # split resolution: 0.01% granularity


def split_bucket(id_col: Column | str, salt: str = "split") -> Column:
    """Stable bucket in [0, N_BUCKETS) from the salted md5 of the id."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    return md5_long(F.concat(F.lit(salt + ":"), c.cast("string"))) % N_BUCKETS


def split_bucket_sql(id_expr: str, salt: str = "split") -> str:
    """DuckDB twin of :func:`split_bucket`."""
    h = ORACLE_MD5_LONG.format(x=f"('{salt}:' || CAST({id_expr} AS VARCHAR))")
    return f"({h} % {N_BUCKETS})"


def split_column(
    id_col: Column | str,
    weights: dict[str, float] | None = None,
    salt: str = "split",
) -> Column:
    """Assign each row to a named split by hash-bucket ranges.

    ``weights`` maps split name -> fraction (must sum to <= 1; any
    remainder falls into the last split). Assignment is by cumulative
    bucket ranges in dict order, e.g. ``{"train": .9, "val": .05,
    "test": .05}`` -> buckets [0,9000) / [9000,9500) / [9500,10000).
    """
    weights = weights or {"train": 0.9, "val": 0.05, "test": 0.05}
    b = split_bucket(id_col, salt=salt)
    names = list(weights)
    expr = None
    cum = 0.0
    for name in names[:-1]:
        cum += weights[name]
        cond = b < int(round(cum * N_BUCKETS))
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    last = F.lit(names[-1])
    return last if expr is None else expr.otherwise(names[-1])


def split_column_sql(
    id_expr: str,
    weights: dict[str, float] | None = None,
    salt: str = "split",
) -> str:
    """DuckDB twin of :func:`split_column` (same cumulative ranges)."""
    weights = weights or {"train": 0.9, "val": 0.05, "test": 0.05}
    b = split_bucket_sql(id_expr, salt=salt)
    names = list(weights)
    parts = []
    cum = 0.0
    for name in names[:-1]:
        cum += weights[name]
        parts.append(f"WHEN {b} < {int(round(cum * N_BUCKETS))} THEN '{name}'")
    return "CASE " + " ".join(parts) + f" ELSE '{names[-1]}' END"


def mixture_copies(
    source_col: Column | str,
    id_col: Column | str,
    weights: dict[str, float],
    default_weight: float = 1.0,
    salt: str = "mix",
) -> Column:
    """Per-row copy count for deterministic corpus mixing with upsampling.

    ``weights`` maps source -> target sampling weight; a weight of 2.5
    means every doc from that source appears ``2 + Bernoulli(0.5)`` times
    (epoch-style upsampling), 0.25 means a deterministic 25% downsample.
    The Bernoulli draw is the salted md5 bucket of the id — stable across
    runs, partitionings, and engines, so the mixed corpus is reproducible
    and append-incremental (new rows don't reshuffle old decisions).
    Scale shape: a narrow map; the explode to ``n_copies`` rows happens in
    :func:`mixture_resample` without any shuffle.
    """
    s = F.col(source_col) if isinstance(source_col, str) else source_col
    b = split_bucket(id_col, salt=salt)
    expr = None
    for name, w in weights.items():
        whole = int(w)
        frac_buckets = int(round((w - whole) * N_BUCKETS))
        n = F.lit(whole) + (b < frac_buckets).cast("int")
        expr = F.when(s == name, n) if expr is None else expr.when(s == name, n)
    whole = int(default_weight)
    frac_buckets = int(round((default_weight - whole) * N_BUCKETS))
    dflt = F.lit(whole) + (b < frac_buckets).cast("int")
    return (dflt if expr is None else expr.otherwise(dflt)).cast("int")


def mixture_copies_sql(
    source_expr: str,
    id_expr: str,
    weights: dict[str, float],
    default_weight: float = 1.0,
    salt: str = "mix",
) -> str:
    """DuckDB twin of :func:`mixture_copies` (same hash, same rounding)."""
    b = split_bucket_sql(id_expr, salt=salt)

    def n_of(w: float) -> str:
        whole = int(w)
        frac_buckets = int(round((w - whole) * N_BUCKETS))
        return f"({whole} + CASE WHEN {b} < {frac_buckets} THEN 1 ELSE 0 END)"

    if not weights:
        # mirror mixture_copies' `expr is None` branch — a bare
        # "CASE ELSE ... END" with no WHEN arms is invalid SQL
        return f"CAST({n_of(default_weight)} AS INTEGER)"
    parts = [
        f"WHEN {source_expr} = '{name}' THEN {n_of(w)}"
        for name, w in weights.items()
    ]
    return "CAST(CASE " + " ".join(parts) + f" ELSE {n_of(default_weight)} END AS INTEGER)"


def mixture_resample(
    df: DataFrame,
    weights: dict[str, float],
    source_col: str = "source",
    id_col: str = "doc_id",
    default_weight: float = 1.0,
    salt: str = "mix",
) -> DataFrame:
    """Materialize the mixed corpus: each row repeated ``n_copies`` times
    with a 1-based ``copy_idx`` (so downstream shuffles spread upsampled
    duplicates instead of co-locating them). Rows with 0 copies drop out.
    Pure narrow explode — no shuffle, no RNG state."""
    n = mixture_copies(source_col, id_col, weights, default_weight, salt)
    return (
        df.withColumn("_n_copies", n)
        .filter(F.col("_n_copies") > 0)
        .withColumn("copy_idx", F.explode(F.sequence(F.lit(1), F.col("_n_copies"))))
        .drop("_n_copies")
    )


def stratified_sample(
    df: DataFrame,
    fraction: float,
    id_col: str = "doc_id",
    salt: str = "sample",
) -> DataFrame:
    """Deterministic ~``fraction`` sample: keep rows whose salted bucket
    falls under the threshold. Unlike ``df.sample`` the result is stable
    across runs/partitionings, and stratification is free — the hash is
    uniform within any stratum, so per-group rates concentrate on
    ``fraction`` without per-stratum state."""
    return df.filter(split_bucket(id_col, salt=salt) < int(round(fraction * N_BUCKETS)))


def stratified_exact_n(
    df: DataFrame,
    group_col: str,
    n: int,
    id_col: str = "doc_id",
    salt: str = "exact",
) -> DataFrame:
    """Exactly ``min(n, |group|)`` rows per group, deterministically.

    The per-group order is the salted md5 of the id (with the id itself as
    a total-order tiebreak), so the chosen sample is uniform within each
    stratum yet identical across runs, partitionings, and engines — the
    property ``df.sample`` and ``RAND()``-ordered picks both lack.

    Scale shape: ONE shuffle on the group key + a bounded per-group
    row_number; no global sort, no driver state. Groups are strata
    (languages, sources, label classes) — their cardinality is small and
    the per-group stream is cut off at n by the rank filter, so the window
    never materializes a whole stratum in memory beyond the sort spill any
    grouped operator needs. Output adds ``sample_rank`` (1-based).
    """
    from pyspark.sql import Window as W

    h = md5_long(F.concat(F.lit(salt + ":"), F.col(id_col).cast("string")))
    w = W.partitionBy(group_col).orderBy(h.asc(), F.col(id_col).asc())
    return (
        df.withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= n)
    )


WS_MOD = 1_000_000_007  # uniform grid for the weighted-sampling keys


def weighted_sample_k(
    df: DataFrame,
    k: int,
    weight_col: str,
    id_col: str = "doc_id",
    group_col: str | None = None,
    salt: str = "wsample",
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement (k per group) —
    the Efraimidis–Spirakis A-ES scheme over md5-derived uniforms.

    Each row gets the key ``-ln(u) / w`` with ``u = (md5(salt:id) % M + 1)
    / (M + 1)`` — an exponential draw with rate ``w`` — and the k SMALLEST
    keys per group win: inclusion probability is proportional to weight,
    without replacement, in one pass. Because u derives from (salt, id),
    the sample is identical across runs, partitionings, retries, and
    engines (the oracle replays the same arithmetic), and appends never
    reshuffle previously-sampled rows' keys — the same append-stability
    as :func:`stratified_sample_n`, which this generalizes (uniform = all
    weights equal).

    Scale shape: a narrow map computes keys; ONE shuffle on the group key;
    the rank filter cuts each group at k. The float key is internal —
    output adds only the integer ``sample_rank`` (1-based by ascending
    key), so compared outputs stay float-free.

    Weights must be strictly positive: a NULL/zero/negative weight yields
    a NULL or negative A-ES key that would deterministically rank FIRST
    (NULLS FIRST under ascending order) — i.e. invalid rows would always
    be sampled. The guard is inlined into the key expression
    (``raise_error`` on the bad branch), so it fails loudly inside the
    single existing pass with no extra validation scan — unlike a
    driver-side pre-check, this costs nothing at 100 TB.
    """
    from pyspark.sql import Window as W

    h = md5_long(F.concat(F.lit(salt + ":"), F.col(id_col).cast("string")))
    u = (h % WS_MOD + 1) / F.lit(float(WS_MOD + 1))
    wcol = F.col(weight_col).cast("double")
    wchecked = F.when(wcol > 0, wcol).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    f"weighted_sample_k: {weight_col!r} must be > 0 "
                    "(NULL/zero/negative weights would deterministically "
                    "rank first); offending id="
                ),
                F.col(id_col).cast("string"),
            )
        )
    )
    key = -F.log(u) / wchecked
    w = W.partitionBy(group_col or F.lit(1)).orderBy(
        key.asc(), F.col(id_col).asc()
    )
    return (
        df.withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= k)
    )


def weighted_sample_key_sql(id_expr: str, weight_expr: str, salt: str = "wsample") -> str:
    """DuckDB twin of the A-ES key: ``-ln(u) / w`` over the same md5 grid."""
    h = ORACLE_MD5_LONG.format(x=f"('{salt}:' || CAST({id_expr} AS VARCHAR))")
    return (
        f"(-ln((({h} % {WS_MOD}) + 1) / {float(WS_MOD + 1)!r}) "
        f"/ CAST({weight_expr} AS DOUBLE))"
    )


def epoch_shuffle(
    df: DataFrame,
    epoch: int,
    id_col: str = "doc_id",
    n_shards: int = 32,
) -> DataFrame:
    """Reproducible global training order for one epoch:
    ``(id_col, shard, shard_rank)`` — every run, retry, and engine
    produces the identical order for the same epoch.

    The order key is the portable md5 hash of (epoch, id): a new epoch
    reshuffles everything, the same epoch replays exactly (the data-order
    reproducibility a training run needs for resume-from-step). Shards
    are ``hash % n_shards`` — each trainer rank reads one shard and sorts
    WITHIN it, so the global pattern is a deterministic interleave and no
    stage ever needs a global sort: one shard-keyed exchange of
    (id, hash) pairs, then per-shard window ranks. At 1000 executors the
    shard count is the parallelism knob; a total order across shards
    (repartitionByRange on the hash) is the zorder_layout path, not
    needed for training order.
    """
    from pyspark.sql import Window as W

    h = md5_long(F.concat(F.lit(f"epoch{epoch}:"), F.col(id_col).cast("string")))
    keyed = df.select(F.col(id_col), h.alias("_h"), (h % n_shards).alias("shard"))
    w = W.partitionBy("shard").orderBy(F.asc("_h"), F.asc(id_col))
    return keyed.select(
        id_col,
        "shard",
        F.row_number().over(w).cast("long").alias("shard_rank"),
    )


def leakage_safe_split(
    docs: DataFrame,
    pairs: DataFrame | None,
    weights: dict[str, float] | None = None,
    id_col: str = "doc_id",
    salt: str = "split",
    components: DataFrame | None = None,
) -> DataFrame:
    """Train/val/test assignment that CANNOT leak near-duplicates across
    splits (r08): the hash unit is the near-dup CLUSTER, not the document.

    Plain hash splitting (:func:`split_column`) sends two near-identical
    documents to independent splits ~2·p·(1-p) of the time — eval rows
    that are paraphrases of training rows, the classic contamination that
    inflates benchmark scores. Here every document is keyed by its
    connected-component root (minimum reachable id over the near-dup pair
    graph; singletons root at themselves) and the ROOT is hashed, so a
    whole cluster lands in one split by construction.

    ``pairs`` is the verified near-dup edge list (``id_a``/``id_b`` —
    MinHash, SimHash, or embedding pairs all fit); pass ``components``
    (``(id, comp)`` from :func:`ops.graph.connected_components`) instead
    to reuse an already-computed labeling. Scale shape: CC is the pointer-
    jumping O(log d) labeling; the assignment itself is one left join +
    a pure Column hash — no extra shuffle beyond the join.

    Returns ``(id_col, group_id, split)`` — one row per input document.
    """
    from .graph import connected_components

    if components is None:
        if pairs is None:
            raise ValueError("leakage_safe_split: need pairs or components")
        components = connected_components(pairs)
    out = (
        docs.select(F.col(id_col))
        .join(components.withColumnRenamed("id", id_col), id_col, "left")
        .select(
            id_col,
            F.coalesce("comp", F.col(id_col)).alias("group_id"),
        )
    )
    return out.withColumn(
        "split", split_column(F.col("group_id"), weights, salt=salt)
    )


# ---------------------------------------------------------------------------
# DSIR — Data Selection via Importance Resampling (Xie et al. 2023, r10).
# The data-mixing question a pre-training pipeline actually faces: given a
# small TARGET corpus (the distribution you want) and a huge RAW pool,
# select raw documents whose hashed-n-gram distribution looks like the
# target. DSIR fits two smoothed multinomials over hashed word uni+bigram
# features, scores every raw doc with its log importance weight
# log p_target(doc) − log p_raw(doc) = Σ_f c_f · (ln p_t(f) − ln p_r(f)),
# and resamples with Gumbel-top-k (equivalent to sampling without
# replacement ∝ exp(logw)).
#
# Scale shape (the lang-ID discipline): feature extraction is one explode +
# one (doc, feature)-keyed count; the two distributions are feature-space-
# bounded aggregates densified over the n_features grid (a few thousand
# rows — broadcast); per-doc weights are one broadcast join + one doc-keyed
# DECIMAL sum; selection is one top-k rank. Nothing is ever pairwise and
# no text crosses an exchange after tokenization.
#
# Determinism: round-6 ln ratios × integer counts summed in DECIMAL
# (exact), Gumbel noise from the md5 grid (u on a 1e6 lattice, offset 0.5
# so u ∈ (0,1) exactly), one double add for the key — every step replays
# bit-for-bit in DuckDB.
# ---------------------------------------------------------------------------
DSIR_FEATURES = 4096


def dsir_ngram_features(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_features: int = DSIR_FEATURES,
) -> DataFrame:
    """Hashed word uni+bigram counts per document: ``(id, feature, c)``.
    Words = the classifier tokenizer (lowercase whitespace tokens);
    bigrams join with a single space. One explode, one count."""
    from .text import classifier_words, hashed_feature

    w = df.select(F.col(id_col), classifier_words(text_col).alias("_w"))
    bigrams = F.when(
        F.size("_w") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size("_w") - 1),
            lambda i: F.concat_ws(
                " ", F.element_at("_w", i), F.element_at("_w", i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    toks = w.select(
        id_col, F.explode(F.concat(F.col("_w"), bigrams)).alias("_t")
    )
    return (
        toks.select(id_col, hashed_feature(F.col("_t"), n_features).alias("feature"))
        .groupBy(id_col, "feature")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def dsir_log_ratios(
    target: DataFrame,
    raw: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_features: int = DSIR_FEATURES,
    raw_features: DataFrame | None = None,
) -> DataFrame:
    """Per-feature round-6 ``lr = ln p_target(f) − ln p_raw(f)`` with add-1
    smoothing, DENSE over the feature grid (both corpora contribute the
    per-corpus absent-feature term, the multiclass-LID discipline).
    Returns ``(feature, lr)`` — n_features rows, broadcastable.

    ``raw_features`` (r13): an already-computed ``dsir_ngram_features(raw)``
    relation — lets :func:`dsir_select` tokenize+hash the raw pool once
    for both the distribution and the per-doc weights."""

    def dist(df: DataFrame) -> DataFrame:
        return (
            dsir_ngram_features(df, text_col, id_col, n_features)
            .groupBy("feature")
            .agg(F.sum("c").alias("n"))
        )
    t = dist(target)
    r = (
        raw_features.groupBy("feature").agg(F.sum("c").alias("n"))
        if raw_features is not None
        else dist(raw)
    )
    spark = target.sparkSession
    feats = spark.range(n_features).select(F.col("id").alias("feature"))
    dense = (
        feats.join(t.withColumnRenamed("n", "nt"), "feature", "left")
        .join(r.withColumnRenamed("n", "nr"), "feature", "left")
        .select(
            "feature",
            F.coalesce("nt", F.lit(0)).alias("nt"),
            F.coalesce("nr", F.lit(0)).alias("nr"),
        )
    )
    tt = dense.agg(
        F.sum("nt").alias("_tt"), F.sum("nr").alias("_tr")
    )
    v = float(n_features)
    return dense.crossJoin(F.broadcast(tt)).select(
        "feature",
        F.round(
            F.log((F.col("nt") + 1) / (F.col("_tt") + v))
            - F.log((F.col("nr") + 1) / (F.col("_tr") + v)),
            6,
        ).alias("lr"),
    )


def dsir_weights(
    raw: DataFrame,
    ratios: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_features: int = DSIR_FEATURES,
    raw_features: DataFrame | None = None,
) -> DataFrame:
    """Per-document log importance weight: ``(id, n_feats, logw)`` with
    ``logw = round(Σ c_f · lr_f, 6)`` summed exactly in DECIMAL. Docs with
    zero tokens are absent (inner join — nothing to weigh)."""
    feats = (
        raw_features
        if raw_features is not None
        else dsir_ngram_features(raw, text_col, id_col, n_features)
    )
    scored = feats.join(F.broadcast(ratios), "feature").select(
        F.col(id_col),
        F.col("c"),
        (
            F.col("c").cast("decimal(8,0)")
            * F.col("lr").cast("decimal(20,10)")
        ).alias("_wl"),
    )
    return scored.groupBy(id_col).agg(
        F.sum("c").alias("n_feats"),
        F.round(F.sum("_wl").cast("double"), 6).alias("logw"),
    )


def dsir_select(
    raw: DataFrame,
    target: DataFrame,
    k: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_features: int = DSIR_FEATURES,
    salt: str = "dsir",
) -> DataFrame:
    """Gumbel-top-k importance resampling: key = logw + Gumbel(md5 grid),
    take the k largest (ties break id-ascending). Equivalent to sampling k
    docs without replacement with probability ∝ exp(logw) — the
    deterministic A-ES analogue for log-space weights. Returns
    ``(id, rank, logw, key)``."""
    from pyspark.sql import Window as W

    # tokenize + feature-hash the raw pool ONCE (r13): the per-doc feature
    # relation feeds both the raw distribution (ratios) and the per-doc
    # weights — previously two full explode+md5 passes over ~6/7 of the
    # corpus. Pinned eagerly so the two consumers share the computed rows;
    # the relation is (id, feature, c) — collapsed, not the token explode.
    raw_feats = dsir_ngram_features(raw, text_col, id_col, n_features)
    raw_feats = pin(raw_feats)
    ratios = dsir_log_ratios(
        target, raw, text_col, id_col, n_features, raw_features=raw_feats
    )
    w = dsir_weights(
        raw, ratios, text_col, id_col, n_features, raw_features=raw_feats
    )
    u = (
        md5_long(F.concat(F.lit(salt + ":"), F.col(id_col).cast("string")))
        % F.lit(1_000_000)
        + F.lit(0.5)
    ) / F.lit(1_000_000.0)
    key = F.col("logw") + F.round(-F.log(-F.log(u)), 6)
    # distributed top-k: orderBy+limit plans as TakeOrderedAndProject
    # (per-partition heaps, k rows to the driver stage) — a global
    # row_number window here would single-partition the whole raw pool
    sel = (
        w.select(F.col(id_col), F.col("logw"), F.round(key, 6).alias("key"))
        .orderBy(F.desc("key"), F.asc(id_col))
        .limit(k)
    )
    # rank assignment runs over the k survivors only — bounded window
    return sel.withColumn(
        "rank",
        F.row_number().over(W.orderBy(F.desc("key"), F.asc(id_col))),
    ).select(id_col, "rank", "logw", "key")


def temperature_mixture_weights(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Temperature-smoothed (alpha = 0.5) sampling weights per corpus
    group — the multilingual / multi-source mixing rule of Conneau &
    Lample 2019 (XLM, eq. 1) and T5's examples-proportional mixing:
    sampling probability proportional to ``tokens_g ** alpha`` instead of
    raw token share, boosting low-resource groups without flattening the
    mixture entirely. The output feeds :func:`mixture_copies` (the
    per-group ``boost`` column IS its ``weights`` dict).

    alpha is pinned at 0.5 on purpose: ``sqrt`` is IEEE-correctly-rounded
    in both the JVM and C libm, so ``floor(sqrt(tokens))`` is a bit-exact
    integer in any engine — the whole weight computation stays in exact
    integer arithmetic until two final single-op double divisions, and
    the DuckDB oracle replays it hash-identically. A tunable alpha would
    route through ``pow``, whose last-ulp behavior is libm-specific.

    Scale shape: one groupBy on the (low-cardinality) group key with
    map-side partial aggregation — token counting folds into the same
    pass (``size(split(...))``, row-local). The normalization runs as
    unpartitioned window functions over the GROUPED relation, whose
    cardinality is the number of sources/languages (tens), not rows —
    a deliberate single-partition stage over a provably tiny frame.

    Output: ``(group_col, n_docs, tokens, raw_frac, temp_frac, boost)``
    where ``boost = temp_frac / raw_frac`` (>1 = upsample), fracs rounded
    to 6 dp, boost to 4 dp.
    """
    from pyspark.sql.window import Window

    per = df.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(
            F.size(words_col(F.col(text_col)))
        ).cast("long").alias("tokens"),
    )
    w = F.floor(F.sqrt(F.col("tokens"))).cast("long")
    everything = Window.partitionBy()
    scored = per.select(
        F.col(group_col),
        "n_docs",
        "tokens",
        w.alias("_w"),
        F.sum("tokens").over(everything).alias("_tot"),
    ).withColumn("_wtot", F.sum("_w").over(everything))
    raw = F.col("tokens") / F.col("_tot")
    temp = F.col("_w") / F.col("_wtot")
    return scored.select(
        F.col(group_col),
        "n_docs",
        "tokens",
        F.round(raw, 6).alias("raw_frac"),
        F.round(temp, 6).alias("temp_frac"),
        F.round(temp / raw, 4).alias("boost"),
    )


def temperature_mixture_weights_sql(
    table: str = "documents",
    group_col: str = "source",
    text_col: str = "text",
) -> str:
    """DuckDB twin of :func:`temperature_mixture_weights`: identical
    integer aggregation, identical floor(sqrt()) weights, identical
    single-op double divisions and rounding."""
    return f"""
WITH per AS (
  SELECT {group_col},
         count(*) AS n_docs,
         CAST(sum(len({seg_words_sql(text_col)})) AS BIGINT) AS tokens
  FROM {table}
  GROUP BY {group_col}
),
scored AS (
  SELECT {group_col}, n_docs, tokens,
         CAST(floor(sqrt(tokens)) AS BIGINT) AS w,
         sum(tokens) OVER () AS tot,
         sum(CAST(floor(sqrt(tokens)) AS BIGINT)) OVER () AS wtot
  FROM per
)
SELECT {group_col}, n_docs, tokens,
       round(CAST(tokens AS DOUBLE) / tot, 6) AS raw_frac,
       round(CAST(w AS DOUBLE) / wtot, 6) AS temp_frac,
       round((CAST(w AS DOUBLE) / wtot) / (CAST(tokens AS DOUBLE) / tot), 4) AS boost
FROM scored
ORDER BY {group_col}
"""


def token_budget_schedule(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    budget_multiplier: int = 2,
    max_epochs: int = 4,
) -> DataFrame:
    """Per-source epoch allocation under a total token budget — the data
    SCHEDULE that turns mixture weights into training passes (the
    LLaMA-style "epochs over each subset" table): each source wants
    tokens proportional to its temperature weight (alpha = 0.5, same
    floor(sqrt) discipline as :func:`temperature_mixture_weights`), no
    source may exceed ``max_epochs`` passes over its own data, and budget
    freed by capped sources redistributes to uncapped ones — two unrolled
    water-filling rounds, which is exact whenever at most two cap "waves"
    occur (tens of sources; both engines replay the SAME two rounds, so
    the oracle is bit-identical regardless).

    Every allocation step is BIGINT arithmetic (integer div, least/
    greatest); the only doubles are the final single-op epoch divisions.
    Overflow posture: the naive ``(budget * w) div sumw`` product exceeds
    int64 at real corpus scale (budget ~4e13 tokens x w ~4.5e6), so both
    engines use the exact split-division identity
    ``w*(B div s) + (w*(B mod s)) div s`` — every intermediate is bounded
    by ``max(budget, w * sumw)``, which stays far inside int64 even at
    100 TB (w <= sqrt(tot), sumw <= n_sources * sqrt(tot/n_sources), so
    w * sumw <= sqrt(n_sources) * tot).
    Scale shape: one map-side-combined group pass over the corpus, then
    window functions over the grouped relation (cardinality = #sources).

    Output: ``(group_col, tokens, weight, alloc_tokens, epochs, capped)``
    where ``epochs = alloc_tokens / tokens`` rounded to 3 dp.
    """
    from pyspark.sql.window import Window

    per = df.groupBy(group_col).agg(
        F.sum(F.size(words_col(F.col(text_col))))
        .cast("long")
        .alias("tokens")
    )
    everything = Window.partitionBy()
    g = per.select(
        F.col(group_col),
        "tokens",
        F.floor(F.sqrt(F.col("tokens"))).cast("long").alias("w"),
    )
    g = g.withColumn("_tot", F.sum("tokens").over(everything)).withColumn(
        "_sumw", F.sum("w").over(everything)
    )
    budget = F.lit(budget_multiplier).cast("long") * F.col("_tot")
    cap = F.lit(max_epochs).cast("long") * F.col("tokens")
    # (B * w) div s rewritten as w*(B div s) + (w*(B mod s)) div s — exact
    # (B = q*s + r  =>  B*w div s = q*w + r*w div s) and int64-safe at
    # 100 TB where the raw triple product wraps.
    bexpr = f"CAST({budget_multiplier} AS BIGINT) * _tot"
    a1 = F.least(
        cap,
        F.expr(
            f"w * (({bexpr}) div _sumw) + (w * (({bexpr}) % _sumw)) div _sumw"
        ),
    )
    g = g.withColumn("_a1", a1)
    g = g.withColumn("_left1", budget - F.sum("_a1").over(everything)).withColumn(
        "_sumw2",
        F.sum(F.when(F.col("_a1") < cap, F.col("w")).otherwise(F.lit(0))).over(
            everything
        ),
    )
    a2 = F.when(
        (F.col("_a1") < cap) & (F.col("_sumw2") > 0),
        F.col("_a1")
        + F.least(
            cap - F.col("_a1"),
            F.expr(
                "w * (_left1 div _sumw2) + (w * (_left1 % _sumw2)) div _sumw2"
            ),
        ),
    ).otherwise(F.col("_a1"))
    g = g.withColumn("_a2", a2)
    return g.select(
        F.col(group_col),
        "tokens",
        F.col("w").alias("weight"),
        F.col("_a2").alias("alloc_tokens"),
        F.round(F.col("_a2") / F.col("tokens"), 3).alias("epochs"),
        (F.col("_a2") >= cap).alias("capped"),
    )


def token_budget_schedule_sql(
    table: str = "documents",
    group_col: str = "source",
    text_col: str = "text",
    budget_multiplier: int = 2,
    max_epochs: int = 4,
) -> str:
    """DuckDB twin of :func:`token_budget_schedule` — identical integer
    arithmetic, identical two unrolled water-filling rounds."""
    return f"""
WITH per AS (
  SELECT {group_col},
         CAST(sum(len({seg_words_sql(text_col)})) AS BIGINT)
           AS tokens
  FROM {table} GROUP BY {group_col}
),
g AS (
  SELECT {group_col}, tokens,
         CAST(floor(sqrt(tokens)) AS BIGINT) AS w,
         CAST(sum(tokens) OVER () AS BIGINT) AS tot,
         CAST(sum(CAST(floor(sqrt(tokens)) AS BIGINT)) OVER () AS BIGINT) AS sumw
  FROM per
),
r1 AS (
  -- split-division identity: (B*w)//s == w*(B//s) + (w*(B%s))//s, exact
  -- and int64-safe where the raw triple product would wrap at corpus scale
  SELECT *,
         least({max_epochs} * tokens,
               w * (({budget_multiplier} * tot) // sumw)
               + (w * (({budget_multiplier} * tot) % sumw)) // sumw)
           AS a1
  FROM g
),
r1t AS (
  SELECT *,
         CAST({budget_multiplier} * tot - sum(a1) OVER () AS BIGINT) AS left1,
         CAST(sum(CASE WHEN a1 < {max_epochs} * tokens THEN w ELSE 0 END)
              OVER () AS BIGINT) AS sumw2
  FROM r1
),
r2 AS (
  SELECT *,
         CASE WHEN a1 < {max_epochs} * tokens AND sumw2 > 0
              THEN a1 + least({max_epochs} * tokens - a1,
                              w * (left1 // sumw2)
                              + (w * (left1 % sumw2)) // sumw2)
              ELSE a1 END AS a2
  FROM r1t
)
SELECT {group_col}, tokens, w AS weight, a2 AS alloc_tokens,
       round(CAST(a2 AS DOUBLE) / tokens, 3) AS epochs,
       a2 >= {max_epochs} * tokens AS capped
FROM r2
ORDER BY {group_col}
"""
