"""Deduplication operators for training-data pipelines.

Five strategies, all shuffle-conscious for the 100 TB target:

- **exact**: hash-groupBy on the normalized-text md5 — one shuffle on a
  16-byte key, the cheapest possible grouping.
- **n-gram Jaccard**: 3-word shingle sets; candidate pairs via *anchor
  shingles* (a deterministic ~5% hash-sample of shingles) so the pair space
  is bounded — never the quadratic cross join.
- **MinHash + LSH**: k=8 signatures computed with 8 aggregate-mins over ONE
  explode (not k explodes); 4 bands of 2 rows; candidates = band-bucket
  collisions; verified with true Jaccard.
- **SimHash**: 16-bit sign-of-weighted-sum signature; equal-signature
  buckets as candidates.
- **embedding cosine**: near-dup vectors by cosine >= threshold (bucketed by
  LSH in ops.similarity for scale; brute-force across a candidate set here).

Everything is built from Column expressions (no Python UDFs); every hash is
the portable md5-based 60-bit hash so the DuckDB oracle replays it exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..queries.util import md5_long
from ..session import pin
from .text import words_col

NORM = lambda t: F.regexp_replace(F.lower(F.trim(t)), r"\s+", " ")  # noqa: E731


def shingles_col(text: Column | str, n: int = 3) -> Column:
    """Distinct n-word shingles of the text (empty array when < n words).

    Built by zipping n shifted views of the word array — n-1 slices and
    n-1 zip_withs TOTAL per document, instead of one O(len) slice per
    shingle position (~6x faster on real corpora). zip_with NULL-pads the
    shorter side, concat propagates the NULL, and the filter drops the
    padded tail — so short texts fall out as empty sets with no guard.
    """
    w = words_col(text)
    sh = w
    for j in range(1, n):
        sh = F.zip_with(
            sh,
            F.slice(w, j + 1, F.size(w)),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    return F.array_distinct(F.filter(sh, lambda x: x.isNotNull()))


def hashed_shingles_col(text: Column | str, n: int = 3) -> Column:
    """Distinct n-word shingles as 60-bit md5 hashes (``array<long>``).

    Every consumer of shingle sets (anchor blocking, MinHash permutations,
    Jaccard verification, contamination joins) only needs equality — never
    the shingle text — so hashing at construction turns all downstream
    array intersects, group-bys, and joins into int64 operations instead
    of variable-length string operations: smaller cache, cheaper shuffle
    keys, ~2x faster verify. One md5 per shingle total, reused everywhere.
    """
    w = words_col(text)
    sh = w
    for j in range(1, n):
        sh = F.zip_with(
            sh,
            F.slice(w, j + 1, F.size(w)),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    hashed = F.transform(F.filter(sh, lambda x: x.isNotNull()), lambda s: md5_long(s))
    return F.array_distinct(hashed)


def exact_dedup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Duplicate groups under normalized-md5 equality: canonical id + count."""
    return (
        df.select(F.col(id_col), F.md5(NORM(F.col(text_col))).alias("fp"))
        .groupBy("fp")
        .agg(F.min(id_col).alias("canonical_id"), F.count(F.lit(1)).alias("n_copies"))
        .filter(F.col("n_copies") > 1)
    )


def jaccard(a: Column, b: Column) -> Column:
    inter = F.size(F.array_intersect(a, b))
    return F.round(inter / (F.size(a) + F.size(b) - inter), 4)


def _shingle_docs(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, sh): the shingle relation, unmaterialized. A caller that reads
    it several times (anchor/band extraction, both pair sides of the
    verify join) materializes it once, in the form the ``ops`` package
    docstring prescribes."""
    return df.select(
        F.col(id_col).alias("id"), hashed_shingles_col(F.col(text_col)).alias("sh")
    ).filter(F.size("sh") > 0)


def _words_docs(
    df: DataFrame, text_col: str, id_col: str, id_alias: str | None = None
) -> DataFrame:
    """``(id, _w)`` with the word split pinned ONCE — the passage family's
    shared base relation (r13 opt)."""
    return pin(df.select(
        F.col(id_col).alias(id_alias or id_col),
        words_col(F.col(text_col)).alias("_w"),
    ))


def _verified_pairs(cand: DataFrame, docs: DataFrame, threshold: float) -> DataFrame:
    """Attach shingle sets to bare (id_a, id_b) candidates and keep pairs
    with true Jaccard >= threshold.

    No broadcast hint on ``docs``: the shingle table is the same order of
    magnitude as the corpus text, so forcing it into a broadcast (as round
    1 did) is an OOM at warehouse scale. Both attaches are left as plain
    equi-joins on the id — a hash-partition shuffle whose memory is bounded
    per-partition — and AQE's runtime size stats convert them to broadcast
    joins automatically whenever a side (usually the blocked candidate-pair
    table) really is small. Scale-safe by default, broadcast-fast when the
    data allows it.
    """
    return (
        cand.join(docs.withColumnsRenamed({"id": "id_a", "sh": "sh_a"}), "id_a")
        .join(docs.withColumnsRenamed({"id": "id_b", "sh": "sh_b"}), "id_b")
        .select("id_a", "id_b", jaccard(F.col("sh_a"), F.col("sh_b")).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


MAX_ANCHOR_DF = 100  # drop anchors shared by more than this many docs


def ngram_anchor_candidates(
    docs: DataFrame, anchor_mod: int = 20, max_anchor_df: int = MAX_ANCHOR_DF
) -> DataFrame:
    """The anchor BLOCKING stage of :func:`ngram_jaccard_pairs`, exposed
    (r12, VERDICT r11 #2) so the referee can grade its candidate recall
    against exact truth — the one candidate generator whose
    dropped-candidate behavior (the DF cap) was previously argued, not
    measured. ``docs`` is a shingled frame (id, sh).

    One aggregation does everything the round-1 plan spread over a
    doc-frequency aggregate + broadcast join + self-join (computing the
    anchor explode three times): collect the ids per anchor, apply the
    DF cap as a size filter, and emit the sorted upper-triangle of each
    bucket with array expressions. Safe ONLY because max_anchor_df
    bounds every bucket (<= 100 ids per collected array) — for uncapped
    buckets (MinHash bands) the self-join form remains the right plan.
    """
    anchors = docs.select(
        "id", F.explode(F.filter("sh", lambda h: h % anchor_mod == 0)).alias("anchor")
    )
    ids = F.col("ids")
    pairs = F.flatten(
        F.transform(
            ids,
            lambda a, i: F.transform(
                F.slice(ids, i + 2, F.size(ids)),
                lambda b: F.struct(a.alias("id_a"), b.alias("id_b")),
            ),
        )
    )
    return (
        anchors.groupBy("anchor")
        .agg(F.sort_array(F.collect_set("id")).alias("ids"))
        .filter((F.size("ids") >= 2) & (F.size("ids") <= max_anchor_df))
        .select(F.explode(pairs).alias("p"))
        .select("p.id_a", "p.id_b")
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    anchor_mod: int = 20,
    max_anchor_df: int = MAX_ANCHOR_DF,
    candidates: str = "union",
    shingled: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs by shingle-set Jaccard, candidates via anchor shingles.

    An anchor is a shingle whose 60-bit hash ≡ 0 (mod ``anchor_mod``) — a
    deterministic ~1/anchor_mod sample — that appears in at most
    ``max_anchor_df`` documents. Two docs become a candidate pair iff they
    share an anchor; near-identical docs share many shingles, hence almost
    surely an anchor. The document-frequency cap drops corpus-wide common
    phrases (which signal shared vocabulary, not duplication) and bounds
    every bucket's pair count to max_anchor_df² — without it one viral
    shingle makes the self-join quadratic in corpus size.

    ``candidates`` selects the blocking strategy (r05, after the shard-scale
    validation exposed a recall collapse):

    - ``"anchor"``: the capped inverted index above. Precise and cheap when
      vocabulary grows with the corpus (real text), but on a VOCABULARY-
      SATURATED corpus every anchor's document frequency grows ∝ n, so at
      some scale every bucket exceeds ``max_anchor_df`` and recall silently
      collapses to ZERO (measured: 0 pairs at 16x sf0.1 in
      scripts/scale_validation.py).
    - ``"bands"``: MinHash LSH band buckets over the same shingle table.
      Band keys live in the full hash space, so buckets stay
      similarity-driven no matter how hot individual shingles get —
      the scale-robust generator (measured alpha ~ 0.85).
    - ``"union"`` (default): both, verified once — anchor precision plus
      band recall; each side's pair space is independently bounded.

    All strategies feed the same exact-Jaccard verification, so they differ
    only in recall of TRUE pairs, never in precision.
    """
    if candidates not in ("anchor", "bands", "union"):
        raise ValueError(f"candidates must be anchor|bands|union, got {candidates!r}")
    docs = (
        shingled
        if shingled is not None
        else pin(_shingle_docs(df, text_col, id_col))
    )
    anchor_cand = ngram_anchor_candidates(docs, anchor_mod, max_anchor_df)
    if candidates == "anchor":
        cand = anchor_cand
    else:
        band_cand = minhash_band_pairs(_signatures_from_shingles(docs))
        cand = (
            band_cand
            if candidates == "bands"
            else anchor_cand.unionByName(band_cand).distinct()
        )
    return _verified_pairs(cand, docs, threshold)


N_MINHASH = 8  # signature length; 4 bands × 2 rows
MINHASH_MOD = 1_000_000_007
# deterministic permutation coefficients: perm_i(h) = (A[i]*h + B[i]) % MOD.
# a*h + b stays under 2^63 (a < 1e3, h < 1e9+7), so int64 arithmetic is
# exact and identical in Spark and the DuckDB oracle.
MINHASH_A = [3, 7, 11, 13, 17, 19, 23, 29]
MINHASH_B = [17, 131, 1009, 8191, 131071, 524287, 6700417, 2147483647]


def minhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """k MinHash values per doc — one explode, ONE md5 per shingle (done at
    shingle construction), k aggregate-mins over arithmetic permutations of
    that hash (the classic linear-perm MinHash; ~k× less hashing than
    per-perm md5)."""
    docs = df.select(
        F.col(id_col).alias("id"), hashed_shingles_col(F.col(text_col)).alias("sh")
    )
    return _signatures_from_shingles(docs)


def _signatures_from_shingles(docs: DataFrame) -> DataFrame:
    """``docs.sh`` holds 60-bit shingle hashes already — fold them into the
    permutation domain with a plain modulus, no rehashing."""
    exploded = docs.select("id", F.explode("sh").alias("s"))
    hashed = exploded.select("id", (F.col("s") % MINHASH_MOD).alias("h"))
    aggs = [
        F.min((F.lit(MINHASH_A[i]) * F.col("h") + F.lit(MINHASH_B[i])) % MINHASH_MOD).alias(f"m{i}")
        for i in range(N_MINHASH)
    ]
    return hashed.groupBy("id").agg(*aggs)


def minhash_band_pairs(sigs: DataFrame) -> DataFrame:
    """Candidate pairs sharing any of the 4 (2-row) LSH bands.

    Bands come from ONE ``posexplode`` of a per-row band-hash array. The
    round-1 form unioned 4 per-band projections of ``sigs``, which planned
    the signature aggregation (explode + groupBy over every shingle) once
    per band per self-join side — 8 full passes; this shape plans it once
    per side.
    """
    bands = _band_rows(sigs)
    x, y = bands.alias("x"), bands.alias("y")
    return (
        x.join(
            y,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bh") == F.col("y.bh"))
            & (F.col("x.id") < F.col("y.id")),
        )
        .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
        .distinct()
    )


def minhash_dedup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    shingled: DataFrame | None = None,
) -> DataFrame:
    """MinHash-LSH candidates verified with true shingle Jaccard (shingle
    pass computed once and shared between signatures and verification).

    ``shingled`` (r13): an already-materialized ``_shingle_docs`` relation
    — lets a caller running several shingle-based generators over the same
    corpus pay the shingle pass once.
    """
    docs = (
        shingled
        if shingled is not None
        else pin(_shingle_docs(df, text_col, id_col))
    )
    cand = minhash_band_pairs(_signatures_from_shingles(docs))
    return _verified_pairs(cand, docs, threshold)


def passage_windows_col(text: Column | str, k: int = 8) -> Column:
    """ALL k-word sliding windows of the text, duplicates kept (occurrence
    counting — unlike :func:`shingles_col`, which dedups for set-Jaccard).
    Same shifted-view zip construction: k-1 slices + k-1 zip_withs per
    document, not one O(len) slice per position."""
    w = words_col(text)
    sh = w
    for j in range(1, k):
        sh = F.zip_with(
            sh,
            F.slice(w, j + 1, F.size(w)),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    return F.filter(sh, lambda x: x.isNotNull())


def passage_keys_col(text: Column | str, k: int = 8) -> Column:
    """64-bit keys for ALL k-word sliding windows WITHOUT building the
    passage strings (r06 constant-shave for the narrow strategy): per-word
    ``xxhash64`` values combined by a position-dependent rotate(7)-xor
    chain over LONG arrays — k-1 zip_withs of longs instead of k-1 string
    concatenations per document, so the counting pass never allocates a
    passage string. Entry i is the key of the window starting at word i;
    windows running past the end are NULL (zip_with's shorter-side
    padding), always at the tail, so positions of valid windows are
    stable for the recovery pass. Rotation keeps the combine
    position-sensitive (non-commutative) and pure-bitwise (no ANSI-mode
    arithmetic overflow)."""
    return passage_keys_from_words(words_col(text), k)


def passage_keys_from_words(w: Column, k: int = 8) -> Column:
    """:func:`passage_keys_col` over an ALREADY-split words array — for
    callers that materialize the (possibly expensive) split/segmentation
    once and derive window keys from the stored array (r13 opt)."""
    wh = F.transform(w, lambda x: F.xxhash64(x))

    def rot_xor(a: Column, b: Column) -> Column:
        return F.shiftleft(a, 7).bitwiseOR(F.shiftrightunsigned(a, 57)).bitwiseXOR(b)

    sh = wh
    for j in range(1, k):
        sh = F.zip_with(sh, F.slice(wh, j + 1, F.size(wh)), rot_xor)
    return sh


def repeated_passages(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    min_docs: int = 2,
    top: int = 50,
    strategy: str = "narrow",
) -> DataFrame:
    """Exact-substring duplication finder: k-token passages appearing in at
    least ``min_docs`` distinct documents, ranked by total occurrences —
    the deduplicate-training-data primitive of Lee et al. 2022 ("Deduplicating
    Training Data Makes Language Models Better"), which a suffix array
    computes exactly and this approximates at fixed window length.

    Two MEASURED strategies (sf0.1, 50k docs — see scripts/shuffle_metrics.py):

    - ``"narrow"`` (default): two passes. Pass 1 groups on
      ``xxhash64(passage)`` only — counters, never strings, cross the wire
      (7.9 MB, 2.2× narrower); pass 2 re-explodes and broadcast-semi-joins
      the surviving candidate keys (≥ ``min_docs``) to recover exact
      strings for the final ordering. At 100 TB shuffle bytes are the
      bottleneck, so the shuffle-narrow shape is the default; exact — no
      top-k margin games; candidate recovery happens before the limit.
    - ``"wide"``: one explode, one groupBy shuffle keyed on the passage
      string. 17.2 MB shuffled; one pass over the text. Best when compute
      is the constraint (the explode is the expensive part) or the corpus
      fits comfortably — the two strategies are a wash at sf0.1, which is
      exactly why the local A/B can't see the scale win.

    A third shape — hash key + ``min(passage)`` carried as an aggregate —
    measured WORSE than both (21.5 MB: the carried string costs more than
    the narrow key saves) and is deliberately not offered.

    Output: (passage, n_occurrences, n_docs, first_doc), fully ordered —
    identical for both strategies (64-bit collisions aside).
    """
    if strategy == "wide":
        p = df.select(
            F.col(id_col).alias("_id"),
            F.explode(passage_windows_col(F.col(text_col), k)).alias("passage"),
        )
        return (
            p.groupBy("passage")
            .agg(
                F.count(F.lit(1)).alias("n_occurrences"),
                F.countDistinct("_id").alias("n_docs"),
                F.min("_id").alias("first_doc"),
            )
            .filter(F.col("n_docs") >= min_docs)
            .orderBy(F.desc("n_occurrences"), F.desc("n_docs"), F.asc("passage"))
            .limit(top)
        )
    if strategy != "narrow":
        raise ValueError(f"strategy must be 'wide' or 'narrow', got {strategy!r}")
    # r06 fused form: pass 1 never BUILDS a passage string — window keys
    # are rolling rotate-xor combinations of per-word xxhash64 longs
    # (passage_keys_col), so the counting pass is long-array arithmetic
    # end-to-end; pass 2 re-derives the keys (cheap) and builds the string
    # ONLY for windows surviving the broadcast candidate join, by slicing
    # the doc's word array at the window position. Measured same-session
    # A/B at sf0.1 in SHUFFLE.md.
    # split words materialized once (r13 opt): the counting pass and the
    # string-recovery pass both re-derived split + window keys from text
    # (2 full tokenizations); one pinned (id, words) relation feeds both.
    base0 = _words_docs(df, text_col, id_col, id_alias="_id")
    keys = passage_keys_from_words(F.col("_w"), k)
    hashed = base0.select(
        "_id", F.explode(keys).alias("_pkey")
    ).filter(F.col("_pkey").isNotNull())
    cand = (
        hashed.groupBy("_pkey")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("_id").alias("n_docs"),
            F.min("_id").alias("first_doc"),
        )
        .filter(F.col("n_docs") >= min_docs)
    )
    strings = (
        base0.select(
            "_w",
            F.posexplode(keys).alias("_pos", "_pkey"),
        )
        .filter(F.col("_pkey").isNotNull())
        .join(F.broadcast(cand), "_pkey")
        .select(
            "_pkey",
            "n_occurrences",
            "n_docs",
            "first_doc",
            F.array_join(
                F.slice(F.col("_w"), F.col("_pos") + F.lit(1), F.lit(k)), " "
            ).alias("passage"),
        )
        .groupBy("_pkey", "n_occurrences", "n_docs", "first_doc")
        .agg(F.min("passage").alias("passage"))
    )
    return (
        strings.select("passage", "n_occurrences", "n_docs", "first_doc")
        .orderBy(F.desc("n_occurrences"), F.desc("n_docs"), F.asc("passage"))
        .limit(top)
    )


def maximal_repeated_passages(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """VARIABLE-LENGTH passage dedup (r07): merge adjacent surviving
    fixed-k windows into MAXIMAL repeated passages — the per-document
    spans Lee et al. 2022's suffix-array pass would excise, recovered from
    the fixed-window approximation of :func:`repeated_passages`.

    A window survives if its k-word content appears in >= ``min_docs``
    distinct documents. Because :func:`passage_keys_col` emits one rolling
    key per STARTING POSITION, adjacency of surviving windows is a ``+1``
    check on the position — so maximal spans fall out of one
    gaps-and-islands pass (``pos - row_number()`` constant per
    consecutive run) over the survival table, a single window function
    over pass-1 output. A doc whose words ``s .. e+k-1`` are all covered
    by surviving windows yields ONE island ``(s, e)`` → the maximal span
    of ``e - s + k`` words.

    Scale shape: pass 1 is the narrow counting pass of
    ``repeated_passages`` (long keys only cross the wire — never passage
    strings); the survival semi-join broadcasts the candidate key set;
    the islands window shuffles only (id, pos) pairs of DUPLICATED
    regions; string recovery joins the (small) island table back to the
    word arrays once. Same 64-bit-collision caveat as the narrow
    strategy.

    Output: ``(id_col, start_pos, n_words, passage)`` — one row per
    maximal island, ``start_pos`` the 0-based word index.
    """
    from pyspark.sql import Window as W

    # split words materialized once (r13 opt) — three consumers (counting
    # pass, survival join-back, string recovery) each re-tokenized the
    # text; see repeated_passages/scrub_repeated_spans.
    base0 = _words_docs(df, text_col, id_col, id_alias="_id")
    keys = passage_keys_from_words(F.col("_w"), k)
    hashed = base0.select(
        "_id", F.posexplode(keys).alias("_pos", "_pkey")
    ).filter(F.col("_pkey").isNotNull())
    cand = (
        hashed.groupBy("_pkey")
        .agg(F.countDistinct("_id").alias("_nd"))
        .filter(F.col("_nd") >= min_docs)
        .select("_pkey")
    )
    surv = hashed.join(F.broadcast(cand), "_pkey").select("_id", "_pos")
    w = W.partitionBy("_id").orderBy("_pos")
    islands = (
        surv.withColumn("_grp", F.col("_pos") - F.row_number().over(w))
        .groupBy("_id", "_grp")
        .agg(F.min("_pos").alias("_s"), F.max("_pos").alias("_e"))
    )
    return (
        base0
        .join(islands, "_id")
        .select(
            F.col("_id").alias(id_col),
            F.col("_s").alias("start_pos"),
            (F.col("_e") - F.col("_s") + k).alias("n_words"),
            F.array_join(
                F.slice(
                    F.col("_w"),
                    F.col("_s") + F.lit(1),
                    F.col("_e") - F.col("_s") + F.lit(k),
                ),
                " ",
            ).alias("passage"),
        )
    )


def cross_corpus_overlap(
    corpus: DataFrame,
    bench: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_id_col: str = "bench_id",
    min_shared: int = 3,
) -> DataFrame:
    """Benchmark-contamination check: corpus documents sharing at least
    ``min_shared`` distinct 3-word shingles with any benchmark document.

    The standard pre-training hygiene step (decontaminating the training
    corpus against eval sets). Shape for 100 TB: the corpus side is
    exploded to (id, shingle) and joined on the shingle against the
    exploded benchmark side — the benchmark (an eval suite, thousands of
    docs, not billions) is genuinely small, so its broadcast is justified
    and the corpus is never shuffled; the per-pair distinct-shingle count
    then aggregates on (corpus_id, bench_id).
    """
    c = (
        corpus.select(
            F.col(id_col).alias("_cid"), hashed_shingles_col(F.col(text_col)).alias("sh")
        )
        .filter(F.size("sh") > 0)
        .select("_cid", F.explode("sh").alias("s"))
    )
    b = (
        bench.select(
            F.col(id_col).alias("_bid"), hashed_shingles_col(F.col(text_col)).alias("sh")
        )
        .filter(F.size("sh") > 0)
        .select("_bid", F.explode("sh").alias("s"))
    )
    return (
        c.join(F.broadcast(b), "s")
        .filter(F.col("_cid") != F.col("_bid"))
        .groupBy("_cid", "_bid")
        # count(*), not count_distinct: both explodes come from
        # array_distinct'ed shingle sets, so (corpus_id, bench_id, s) rows
        # are unique by construction — a distinct aggregation here would
        # re-shuffle the expanded pair-shingle set for nothing.
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
        .select(
            F.col("_cid").alias(id_col),
            F.col("_bid").alias(bench_id_col),
            "n_shared",
        )
    )


def decontaminate_ngram(
    corpus: DataFrame,
    bench: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 13,
) -> DataFrame:
    """Eval-set decontamination at the PASSAGE level (the Lee et al. /
    GPT-3-style 13-gram rule): corpus documents sharing ANY exact k-word
    window with any benchmark document, with per-doc evidence counts —
    ``(id_col, n_shared_windows, n_hit_positions)``. Complements
    :func:`cross_corpus_overlap` (bag-of-shingles Jaccard evidence):
    this is the strict verbatim-span rule a pretraining pipeline enforces
    before a corpus ships.

    Two-pass shape (the :func:`repeated_passages` narrow discipline):
    pass 1 explodes only 64-bit rolling window KEYS (`passage_keys_col` —
    no window strings are ever built for the full corpus) against the
    broadcast benchmark key set; pass 2 rebuilds actual window STRINGS for
    the surviving candidate docs only (|candidates| ≈ contamination rate ×
    |corpus|) and verifies by exact string equality against the broadcast
    benchmark window set — rolling-hash collisions only ever ADD
    candidates, never drop one (equal strings hash equal), so the output
    is EXACT and the DuckDB oracle replays it with pure string windows.
    The benchmark side (an eval suite — thousands of rows, not billions)
    is the justified broadcast, as in :func:`cross_corpus_overlap`.
    """
    bkeys = (
        bench.select(F.explode(passage_keys_col(F.col(text_col), k)).alias("bk"))
        .filter(F.col("bk").isNotNull())
        .distinct()
    )
    ckeys = corpus.select(
        F.col(id_col).alias("_cid"),
        F.explode(passage_keys_col(F.col(text_col), k)).alias("ck"),
    ).filter(F.col("ck").isNotNull())
    cand = (
        ckeys.join(F.broadcast(bkeys), ckeys["ck"] == bkeys["bk"], "left_semi")
        .select("_cid")
        .distinct()
    )
    bwin = (
        bench.select(F.explode(passage_windows_col(F.col(text_col), k)).alias("w"))
        .distinct()
    )
    cwin = (
        corpus.join(cand.withColumnRenamed("_cid", id_col), id_col, "left_semi")
        .select(
            F.col(id_col).alias("_cid"),
            F.explode(passage_windows_col(F.col(text_col), k)).alias("w"),
        )
    )
    return (
        cwin.join(F.broadcast(bwin), "w")
        .groupBy("_cid")
        .agg(
            F.count_distinct(F.col("w")).alias("n_shared_windows"),
            F.count(F.lit(1)).alias("n_hit_positions"),
        )
        .select(
            F.col("_cid").alias(id_col), "n_shared_windows", "n_hit_positions"
        )
    )


SIMHASH_BITS = 16


def simhash_col(text: Column | str) -> Column:
    """16-bit SimHash from per-token 60-bit hashes (sign of weighted bit sums).

    Expressed as a fold over the token array — no explode, no shuffle.
    """
    hashes = F.transform(words_col(text), lambda w: md5_long(w))
    # per-token ±1 bit vector (bit indices are Python literals — shiftright
    # requires a constant shift), then an elementwise-sum fold
    bit_vecs = F.transform(
        hashes,
        lambda h: F.array(
            *[
                F.when(F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
                for j in range(SIMHASH_BITS)
            ]
        ),
    )
    bit_sums = F.aggregate(
        bit_vecs,
        F.array(*[F.lit(0)] * SIMHASH_BITS),
        lambda acc, bv: F.zip_with(acc, bv, lambda a, b: a + b),
    )
    return F.aggregate(
        F.zip_with(
            bit_sums,
            F.array(*[F.lit(1 << j) for j in range(SIMHASH_BITS)]),
            lambda s, w: F.when(s > 0, w).otherwise(0),
        ),
        F.lit(0),
        lambda a, b: a + b,
    )


def simhash_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Docs bucketed by equal SimHash — near-dup candidate groups."""
    return (
        df.select(F.col(id_col), simhash_col(F.col(text_col)).alias("simhash"))
        .groupBy("simhash")
        .agg(F.min(id_col).alias("canonical_id"), F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") > 1)
    )


def embedding_near_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.999,
) -> DataFrame:
    """Near-dup vector pairs by cosine similarity (brute-force over the
    given candidate set; for corpus-scale use ops.similarity's LSH buckets
    first)."""
    def dot(x: Column, y: Column) -> Column:
        return F.aggregate(F.zip_with(x, y, lambda p, q: p * q), F.lit(0.0), lambda s, t: s + t)

    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    # norms once per vector, not per pair — 1 fold per pair instead of 3
    docs = df.select(F.col(id_col).alias("id"), v.alias("v")).withColumn(
        "n", F.sqrt(dot(F.col("v"), F.col("v")))
    )
    a, b = docs.alias("a"), docs.alias("b")
    cos = dot(F.col("a.v"), F.col("b.v")) / (F.col("a.n") * F.col("b.n"))
    return (
        a.join(b, F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"), F.round(cos, 6).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def embedding_near_pairs_lsh(
    df: DataFrame,
    dim: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.999,
) -> DataFrame:
    """Near-dup vector pairs via hyperplane-LSH bucketing — the scale path.

    Vectors at cosine >= 0.999 project to (near-)identical values on every
    hyperplane, so their 8-bit sign signatures collide with near-certainty;
    only same-bucket pairs are scored. The self-join is keyed on the bucket
    (shuffle on an int key, pair space = sum of per-bucket sizes squared)
    instead of the |corpus|^2 cross join of :func:`embedding_near_pairs`.
    """
    from .similarity import lsh_signatures

    def dot(x: Column, y: Column) -> Column:
        return F.aggregate(F.zip_with(x, y, lambda p, q: p * q), F.lit(0.0), lambda s, t: s + t)

    sigs = lsh_signatures(df, dim, vec_col=vec_col, id_col=id_col)
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    docs = sigs.select(
        F.col(id_col).alias("id"), v.alias("v"), "bucket"
    ).withColumn("n", F.sqrt(dot(F.col("v"), F.col("v"))))
    a, b = docs.alias("a"), docs.alias("b")
    cos = dot(F.col("a.v"), F.col("b.v")) / (F.col("a.n") * F.col("b.n"))
    return (
        a.join(b, (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"), F.round(cos, 6).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def embedding_lsh_candidate_pairs(
    df: DataFrame,
    dim: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """The hyperplane-LSH BLOCKING stage alone — distinct (id_a, id_b)
    sharing a signature bucket, before any cosine verification. Exposed
    for ``dedup_emblsh_recall``, which grades the bucket join against
    exact-cosine truth the same way the MinHash/winnowing referees grade
    their blocking stages (r11 — completing the referee family across
    all four candidate generators)."""
    from .similarity import lsh_signatures

    sigs = lsh_signatures(df, dim, vec_col=vec_col, id_col=id_col).select(
        F.col(id_col).alias("id"), "bucket"
    )
    a, b = sigs.alias("a"), sigs.alias("b")
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def incremental_minhash_pairs(
    new_docs: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
) -> DataFrame:
    """Near-dup pairs between an incoming BATCH and an existing corpus
    (plus batch-internal pairs) — the incremental form of
    :func:`minhash_dedup_pairs` for the daily-delta workflow: a new crawl
    shard is deduped against everything already ingested WITHOUT ever
    re-pairing the corpus against itself.

    Shape: band signatures are computed for both sides from one shingle
    pass each; the candidate join is new-bands x all-bands on (band,
    bucket) — |new| is the small side, so AQE broadcasts it and the corpus
    is never shuffled; corpus x corpus collisions are excluded by
    requiring the right side to be a batch row when both sides are old.
    At warehouse scale the corpus band table is precomputed once and
    stored (it is exactly ``minhash_signatures`` output), making each
    daily run's cost proportional to the batch, not the corpus.

    Output: (id_a, id_b, jaccard, is_corpus_pair) where ``is_corpus_pair``
    marks batch-vs-corpus pairs (vs batch-internal).
    """
    nd = pin(_shingle_docs(new_docs, text_col, id_col))
    cd = pin(_shingle_docs(corpus, text_col, id_col))
    nb = _band_rows(_signatures_from_shingles(nd)).withColumn("_new", F.lit(True))
    cb = _band_rows(_signatures_from_shingles(cd)).withColumn("_new", F.lit(False))
    allb = nb.unionByName(cb)
    cand = (
        nb.withColumnsRenamed({"id": "id_a", "_new": "_na"})
        .join(
            allb.withColumnsRenamed({"id": "id_b", "_new": "_nb"}),
            ["band", "bh"],
        )
        .filter(F.col("id_a") != F.col("id_b"))
        # canonicalize batch-internal pairs (_nb: right side is also new)
        # to id_a < id_b; batch-vs-corpus pairs (right side old) keep the
        # batch doc on the left regardless of id order
        .filter((~F.col("_nb")) | (F.col("id_a") < F.col("id_b")))
        .select("id_a", "id_b", (~F.col("_nb")).alias("is_corpus_pair"))
        .distinct()
    )
    docs = nd.unionByName(cd)
    verified = (
        cand.join(docs.withColumnsRenamed({"id": "id_a", "sh": "sh_a"}), "id_a")
        .join(docs.withColumnsRenamed({"id": "id_b", "sh": "sh_b"}), "id_b")
        .select(
            "id_a",
            "id_b",
            jaccard(F.col("sh_a"), F.col("sh_b")).alias("jaccard"),
            "is_corpus_pair",
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return verified


def incremental_embedding_pairs(
    new_vecs: DataFrame,
    corpus: DataFrame,
    dim: int,
    threshold: float = 0.999,
    n_tables: int = 2,
    n_planes: int | None = None,
    target_bucket: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Semantic near-dup pairs between an incoming vector BATCH and an
    existing corpus (plus batch-internal pairs) — the EMBEDDING analogue of
    :func:`incremental_minhash_pairs`, completing the incremental-dedup
    family (r06): a daily embedding shard is deduped against everything
    already ingested WITHOUT ever re-pairing the corpus against itself.

    Shape: multi-table hyperplane-LSH signatures are per-row literal folds
    on both sides (zero joins to build); the candidate join is new-sigs x
    all-sigs on the bucket — |new| is the small side, so AQE broadcasts it
    and the corpus side is never shuffled; corpus x corpus collisions are
    excluded by requiring the right side to be a batch row when both could
    be old. Cosine is computed map-side inside the bucket join and only
    (id_a, id_b, cosine, is_corpus_pair) survives into the cross-table
    dedup. At warehouse scale the corpus signature tables are precomputed
    once and stored (they are exactly ``lsh_signatures`` output), making
    each run's cost proportional to the batch.

    Output: (id_a, id_b, cosine, is_corpus_pair) where ``is_corpus_pair``
    marks batch-vs-corpus pairs (batch id on the left) vs batch-internal
    (canonicalized id_a < id_b). A pair found by several tables counts
    once (same cosine — max() is a dedup).

    Plane sizing: keep ``n_planes=None`` in production — log2(n/64) planes
    hold bucket population constant as the corpus grows (measured alpha
    0.69 at the 4x->16x step). A FIXED plane count goes quadratic (alpha
    1.66 measured at 5 planes) because every bucket's population scales
    with n; the declared query pins planes only so the DuckDB oracle can
    replay the signatures.
    """
    import math

    from .similarity import cosine as _cos
    from .similarity import lsh_signatures

    if n_planes is None:
        n = corpus.count()  # scalar probe, not a data collect
        n_planes = max(4, math.ceil(math.log2(max(2.0, n / target_bucket))))
    parts = []
    for t in range(n_tables):
        nb = lsh_signatures(
            new_vecs, dim, vec_col, id_col, n_planes=n_planes, seed=t
        ).select(
            F.col(id_col).alias("id_a"),
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("va"),
            "bucket",
            F.lit(True).alias("_na"),
        )
        cb = lsh_signatures(
            corpus, dim, vec_col, id_col, n_planes=n_planes, seed=t
        ).select(
            F.col(id_col).alias("id_b"),
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("vb"),
            "bucket",
            F.lit(False).alias("_nb"),
        )
        allb = cb.unionByName(
            nb.withColumnsRenamed({"id_a": "id_b", "va": "vb", "_na": "_nb"})
        )
        parts.append(
            nb.join(allb, "bucket")
            .filter(F.col("id_a") != F.col("id_b"))
            # canonicalize batch-internal pairs to id_a < id_b; batch-vs-
            # corpus pairs keep the batch vector on the left regardless
            .filter((~F.col("_nb")) | (F.col("id_a") < F.col("id_b")))
            .select(
                "id_a",
                "id_b",
                F.round(_cos(F.col("va"), F.col("vb")), 6).alias("cosine"),
                (~F.col("_nb")).alias("is_corpus_pair"),
            )
            .filter(F.col("cosine") >= threshold)
        )
    pairs = parts[0]
    for p in parts[1:]:
        pairs = pairs.unionByName(p)
    return pairs.groupBy("id_a", "id_b", "is_corpus_pair").agg(
        F.max("cosine").alias("cosine")
    ).select("id_a", "id_b", "cosine", "is_corpus_pair")


def _band_rows(sigs: DataFrame) -> DataFrame:
    """(id, band, bh) rows from a signature table — the exploded band form
    shared by the self-join and incremental variants."""
    band_hashes = F.array(
        *[
            F.md5(F.concat_ws("_", F.col(f"m{2*b}"), F.col(f"m{2*b+1}")))
            for b in range(N_MINHASH // 2)
        ]
    )
    return sigs.select("id", F.posexplode(band_hashes).alias("band", "bh"))


def fuzzy_probe_join(
    corpus: DataFrame,
    probes: DataFrame,
    text_col: str = "name",
    id_col: str = "id",
    probe_text_col: str = "probe_name",
    probe_id_col: str = "probe_id",
    max_distance: int = 2,
) -> DataFrame:
    """Entity-resolution probe: corpus strings within ``max_distance`` edit
    operations of each probe string.

    The probe set is the SMALL side (a watchlist, a query batch, a golden
    entity table) and is broadcast; the corpus streams past it once —
    never shuffled. Candidate pruning before the edit-distance kernel:
    ``|len(a) - len(b)| <= d`` (a length difference is a lower bound on
    edit distance) rides the join condition, and the kernel itself is
    Spark's thresholded ``levenshtein(a, b, d)`` which abandons a row as
    soon as the running minimum exceeds ``d`` (banded DP — O(d·n) per
    pair instead of O(n²)).

    For corpus-vs-corpus fuzzy matching (no small side to broadcast) this
    shape is wrong — use the blocked generators (``ngram_jaccard_pairs``,
    ``minhash_dedup_pairs``) whose candidate spaces don't grow with
    |corpus|²; this probe form is the lookup half of that pipeline.

    Output: (probe_id, probe_text, matched id, matched text, distance).
    """
    p = probes.select(
        F.col(probe_id_col).alias("probe_id"),
        F.col(probe_text_col).alias("probe_text"),
    )
    c = corpus.select(F.col(id_col).alias("id"), F.col(text_col).alias("text"))
    joined = c.join(
        F.broadcast(p),
        F.abs(F.length("text") - F.length("probe_text")) <= max_distance,
    )
    dist = F.levenshtein(F.col("text"), F.col("probe_text"), max_distance)
    return (
        joined.select("probe_id", "probe_text", "id", "text", dist.alias("distance"))
        .filter(F.col("distance") >= 0)  # thresholded form returns -1 past d
    )


# ---------------------------------------------------------------------------
# Bloom-filter corpus membership (r07): the fast path for incremental EXACT
# dedup. The incremental forms above join every batch against the corpus
# fingerprint table; at 100 TB that join touches a ~10^11-row table nightly
# even though ~99% of a typical crawl batch is new. A Bloom sketch over the
# corpus fingerprints (16 bits/member -> ~0.1-1% false positives at k=5)
# is ~1/40th the fingerprint table's bytes, is mergeable (bit_or by word,
# the HLL/CMS discipline of ops/sketches.py), and has NO false negatives —
# so "definitely new" rows skip the corpus entirely and only probable hits
# pay the exact semi-join. Bit positions derive from the portable md5 hash,
# so the whole sketch replays bit-exactly in the DuckDB oracle.
#
# Words pack 62 bits per BIGINT, not 64: DuckDB raises on 1::BIGINT << 63
# (overflow) where Spark wraps, so shifts are capped at 61 to keep the two
# engines' arithmetic identical. 97% packing density is kept.
# ---------------------------------------------------------------------------

BLOOM_K = 5
BLOOM_WORD_BITS = 62
BLOOM_BITS_PER_MEMBER = 16


def bloom_m_bits(n_members: int, bits_per_member: int = BLOOM_BITS_PER_MEMBER) -> int:
    """Word-aligned sketch width for ``n_members`` expected members.

    16 bits/member with k=5 gives a ~0.14% theoretical false-positive rate
    ((1 - e^(-5/16))^5); the width is rounded UP to a whole number of
    62-bit words so the Spark and SQL word arithmetic agree exactly.
    """
    words = (bits_per_member * max(n_members, 1) + BLOOM_WORD_BITS - 1) // BLOOM_WORD_BITS
    return words * BLOOM_WORD_BITS


def _bloom_positions(fp: Column, m_bits: int, k: int) -> list[Column]:
    """k independent bit positions in [0, m_bits) from the portable md5
    hash. Oracle twin per position i:
    ``('0x' || substr(md5('bf' || i || ':' || fp), 1, 15))::BIGINT % m``."""
    from ..queries.util import md5_long

    return [
        md5_long(F.concat(F.lit(f"bf{i}:"), fp)) % m_bits for i in range(k)
    ]


def fingerprint_bloom(
    fps: DataFrame,
    m_bits: int,
    fp_col: str = "fp",
    k: int = BLOOM_K,
) -> DataFrame:
    """Build the Bloom word table ``(word BIGINT, bits BIGINT)`` over a
    fingerprint column — the persisted form (store it next to the corpus
    like the MinHash band table ``curation.bootstrap_corpus`` keeps).

    One narrow projection -> explode(k positions) -> groupBy(word) with a
    map-side-combining ``bit_or``: the shuffle carries at most
    min(k*|fps|, m/62) word rows, never documents. Mergeable: the union
    corpus's sketch is ``bit_or`` of the parts' sketches by word — append
    batches without rebuilding (test-pinned).
    """
    pos = F.explode(
        F.array(*_bloom_positions(F.col(fp_col), m_bits, k))
    ).alias("pos")
    return (
        fps.select(pos)
        .select(
            F.floor(F.col("pos") / BLOOM_WORD_BITS).cast("long").alias("word"),
            # shiftleft's Python wrapper takes only a literal shift count;
            # the SQL form accepts a column (shift <= 61, so no overflow)
            F.expr(f"shiftleft(1L, CAST(pos % {BLOOM_WORD_BITS} AS INT))").alias(
                "mask"
            ),
        )
        .groupBy("word")
        .agg(F.bit_or("mask").alias("bits"))
    )


def bloom_maybe_member(
    batch_fps: DataFrame,
    bloom: DataFrame,
    m_bits: int,
    fp_col: str = "fp",
    id_col: str = "id",
    k: int = BLOOM_K,
) -> DataFrame:
    """Probe the sketch: ``(id, maybe_member)`` — ``maybe_member`` is TRUE
    iff ALL k bits are set. FALSE is definitive (no false negatives);
    TRUE is probabilistic at the documented ~0.1% envelope.

    Cost ∝ batch: k probe rows per batch doc join the word table on
    ``word`` (m/62 rows — at 10^11 members ~4 GB of words, a partitioned
    equi-join; at toy scale AQE broadcasts it), then an all-bits
    ``bool_and`` per id. The corpus itself is never touched.
    """
    probes = batch_fps.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.array(*_bloom_positions(F.col(fp_col), m_bits, k))
        ).alias("pos"),
    ).select(
        "id",
        F.floor(F.col("pos") / BLOOM_WORD_BITS).cast("long").alias("word"),
        F.expr(f"shiftleft(1L, CAST(pos % {BLOOM_WORD_BITS} AS INT))").alias("mask"),
    )
    hit = (
        F.coalesce(F.col("bits"), F.lit(0).cast("long")).bitwiseAND(F.col("mask"))
        == F.col("mask")
    )
    return (
        probes.join(bloom, "word", "left")
        .select("id", hit.alias("_hit"))
        .groupBy("id")
        .agg(F.bool_and("_hit").alias("maybe_member"))
    )


def incremental_exact_dedup_bloom(
    batch: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bloom: DataFrame | None = None,
    m_bits: int | None = None,
    k: int = BLOOM_K,
) -> DataFrame:
    """Exact-duplicate-of-corpus status for an incoming batch with a Bloom
    pre-filter: ``(id, maybe_member, is_corpus_dup)``.

    Rows the sketch rules out (``maybe_member`` FALSE — the ~99% fast path
    of a real crawl batch) are marked new WITHOUT ever joining the corpus;
    only probable hits pay the exact fingerprint join, so the expensive
    side is bounded by true duplicates + the ~0.1% false-positive sliver
    instead of |batch|. No false negatives means the output is EXACT —
    identical to the plain batch-vs-corpus join, just cheaper — which is
    what the oracle replay checks.

    ``bloom``/``m_bits`` default to building the sketch from the corpus in
    this call (the declared-query shape); production passes the persisted
    sketch (``fingerprint_bloom`` output, maintained by ``bit_or``-merging
    each appended batch's sketch) so per-run cost is ∝ batch.
    """
    corp_fp = corpus.select(F.md5(F.col(text_col)).alias("fp")).distinct()
    if m_bits is None:
        m_bits = bloom_m_bits(corp_fp.count())
    if bloom is None:
        bloom = fingerprint_bloom(corp_fp, m_bits, k=k)
    batch_fp = batch.select(
        F.col(id_col).alias("id"), F.md5(F.col(text_col)).alias("fp")
    )
    probed = batch_fp.join(
        bloom_maybe_member(batch_fp, bloom, m_bits, k=k), "id"
    )
    fresh = probed.filter(~F.col("maybe_member")).withColumn(
        "is_corpus_dup", F.lit(False)
    )
    checked = (
        probed.filter(F.col("maybe_member"))
        .join(corp_fp.withColumn("_in", F.lit(True)), "fp", "left")
        .select(
            "id", "maybe_member",
            F.coalesce(F.col("_in"), F.lit(False)).alias("is_corpus_dup"),
        )
    )
    return fresh.select("id", "maybe_member", "is_corpus_dup").unionByName(checked)


def lsh_plan(
    threshold: float,
    max_perms: int = 128,
) -> tuple[int, int]:
    """Choose (bands, rows_per_band) for a MinHash-LSH blocking stage at a
    target Jaccard ``threshold`` — the standard S-curve calculus
    (Leskovec/Rajaraman/Ullman ch. 3): a candidate pair at similarity s
    collides with probability ``1 - (1 - s^r)^b``, and the curve's
    steepest point sits near ``(1/b)^(1/r)``. This picks, over all
    (b, r) with b*r <= max_perms, the pair minimizing the total error
    mass (integrated false-positive area below the threshold + false-
    negative area above it, 1000-point Riemann sum) — the tuning a user
    re-derives by hand every time they change thresholds; here it is a
    pure driver-side function (no data touched) whose output feeds the
    band/signature builders.
    """
    if not 0.0 < threshold < 1.0:
        raise ValueError(f"lsh_plan: threshold must be in (0,1), got {threshold}")
    best: tuple[float, int, int] | None = None
    for r in range(1, max_perms + 1):
        for b in range(1, max_perms // r + 1):
            err = 0.0
            n = 1000
            for i in range(n):
                s = (i + 0.5) / n
                p = 1.0 - (1.0 - s**r) ** b
                err += (p if s < threshold else (1.0 - p)) / n
            cand = (err, b, r)
            if best is None or cand < best:
                best = cand
    assert best is not None
    return best[1], best[2]


def scrub_repeated_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Remove cross-document repeated spans from the text, keeping ONE
    canonical copy — the *removal* half of Lee et al. 2022 (ExactSubstr:
    deduplicating the spans, not just the documents) and the keep-one-copy
    discipline of CCNet's paragraph dedup. :func:`repeated_passages` finds
    repeated windows; this operator rewrites the corpus without them.

    Semantics: every k-word sliding window whose text occurs in at least
    ``min_docs`` distinct documents is *duplicated*; the occurrence with
    the smallest ``(doc_id, position)`` is the keeper, every other
    occurrence's k word positions are dropped, and each document's clean
    text is the original word stream minus dropped positions. A document
    that is pure boilerplate collapses to ``''``, never disappears.

    Scale shape (the 100 TB posture):

    - window keys are :func:`passage_keys_col` rolling 64-bit hashes —
      the duplicate-counting pass shuffles ``(key, id, pos)`` longs only,
      never window strings (same narrow discipline as
      ``repeated_passages(strategy='narrow')``);
    - the duplicated-key relation is the output of that aggregation,
      filtered to ``n_docs >= min_docs`` — boilerplate is a tiny fraction
      of distinct windows, so AQE broadcasts the join back onto the
      exploded keys at runtime (not forced: a pathological corpus where
      most windows repeat degrades to a sort-merge join on the 8-byte
      key, which is the right plan there);
    - reconstruction is doc-keyed: dropped start positions aggregate to
      one small array per affected document, LEFT-joined to the original
      row, and the word mask is evaluated row-locally with array
      expressions (no explode of the text in the rebuild pass).

    Output: ``(id_col, clean_text, n_words, n_removed, removed_frac)``,
    one row per input document. Hash collisions (2^-64 per distinct
    window pair) are the only divergence from exact string semantics.
    """
    # Materialize the split words ONCE (r13 opt): this plan referenced the
    # tokenized text THREE times (duplicate-counting aggregation, drops
    # join-back, rebuild), and for segmented-script / rendered inputs the
    # split is preceded by expensive per-word transforms — unpinned, the
    # whole render ran 3x (cjk_boilerplate_scrub measured 10.4s noop; the
    # pinned form halves it).
    base0 = _words_docs(df, text_col, id_col)
    keys = passage_keys_from_words(F.col("_w"), k)
    hashed = base0.select(
        F.col(id_col).alias("_id"), F.posexplode(keys).alias("_pos", "_pkey")
    ).filter(F.col("_pkey").isNotNull())
    dup = (
        hashed.groupBy("_pkey")
        .agg(
            F.countDistinct("_id").alias("_ndocs"),
            F.min(F.struct("_id", "_pos")).alias("_keeper"),
        )
        .filter(F.col("_ndocs") >= min_docs)
    )
    drops = (
        hashed.join(dup, "_pkey")
        .filter(
            ~(
                (F.col("_id") == F.col("_keeper._id"))
                & (F.col("_pos") == F.col("_keeper._pos"))
            )
        )
        .groupBy("_id")
        .agg(F.sort_array(F.collect_set("_pos")).alias("_drop_starts"))
    )
    # words stay a real column BEFORE the rebuild expressions: element_at
    # inside the transform lambda must index a bound attribute, not
    # re-embed the split() subtree per element.
    base = base0
    joined = base.join(drops, base[id_col] == drops["_id"], "left")
    w = F.col("_w")
    ds = F.coalesce(F.col("_drop_starts"), F.array().cast("array<int>"))
    idxs = F.when(F.size(w) > 0, F.sequence(F.lit(0), F.size(w) - 1)).otherwise(
        F.array().cast("array<int>")
    )
    kept = F.filter(
        F.transform(
            idxs,
            lambda i: F.when(
                ~F.exists(ds, lambda p: (p <= i) & (i < p + F.lit(k))),
                F.element_at(w, i + 1),
            ),
        ),
        lambda x: x.isNotNull(),
    )
    step = joined.select(
        F.col(id_col), kept.alias("_kept"), F.size(w).alias("n_words")
    )
    removed = F.col("n_words") - F.size("_kept")
    return step.select(
        F.col(id_col),
        F.array_join("_kept", " ").alias("clean_text"),
        F.col("n_words"),
        removed.alias("n_removed"),
        F.round(removed / F.greatest(F.col("n_words"), F.lit(1)), 4).alias(
            "removed_frac"
        ),
    )


def exact_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
) -> DataFrame:
    """EXACT Jaccard pairs at ``threshold`` via a shingle inverted index —
    the ground truth an approximate blocking stage (MinHash bands, SimHash
    buckets, anchor sampling) is graded against.

    Exactness without the cross join: a pair with Jaccard > 0 shares at
    least one shingle, so the shingle-keyed self-join enumerates EVERY
    positive pair (a cross join only adds the J=0 pairs the threshold
    discards anyway). Cost is Σ_s df(s)² over shingle document
    frequencies — quadratic in the hottest shingle, which is why this is
    the EVAL harness run on a bounded corpus or sample, not the production
    dedup path (that is :func:`minhash_dedup_pairs`; this op is its
    referee). Wire discipline: the self-join carries (shingle_hash, id)
    longs; shingle sets attach to the surviving intersection counts only.
    """
    docs = df.select(
        F.col(id_col).alias("id"), hashed_shingles_col(F.col(text_col)).alias("sh")
    ).filter(F.size("sh") > 0)
    ex = docs.select("id", F.explode("sh").alias("s"))
    inter = (
        ex.alias("a")
        .join(
            ex.alias("b"),
            (F.col("a.s") == F.col("b.s")) & (F.col("a.id") < F.col("b.id")),
        )
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("_i"))
    )
    sizes = docs.select("id", F.size("sh").alias("_n"))
    return (
        inter.join(sizes.withColumnsRenamed({"id": "id_a", "_n": "_na"}), "id_a")
        .join(sizes.withColumnsRenamed({"id": "id_b", "_n": "_nb"}), "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("_i") / (F.col("_na") + F.col("_nb") - F.col("_i")), 4
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def scrub_intra_doc_repeats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    min_repeats: int = 2,
) -> DataFrame:
    """Remove WITHIN-document repeated spans, keeping each document's first
    occurrence — the intra-doc half of repetition cleanup (RefinedWeb's
    line dedup / the removal act behind Gopher's dup_ngram gates, which
    :func:`repetition_signals` only scores). Complements
    :func:`scrub_repeated_spans`: that one needs ``min_docs`` DISTINCT
    documents; a chorus repeated five times inside one document never
    trips it.

    Semantics: a k-word window whose text occurs ``min_repeats``+ times in
    the SAME document keeps its first (lowest-position) occurrence; every
    later occurrence's k positions drop; text rebuilds from surviving
    positions.

    Scale shape: strictly doc-keyed — the occurrence count groups on
    (id, window-key) rolling-hash longs, so the one exchange is the
    id+key shuffle (bounded by document length, immune to corpus-wide hot
    windows: a million documents sharing a chorus never meet in a
    bucket). Reconstruction is the same row-local array mask as the
    cross-doc scrub.

    Output: ``(id_col, clean_text, n_words, n_removed, removed_frac)``.
    """
    # split words materialized once (r13 opt): counting pass + rebuild
    # each re-tokenized the text — see scrub_repeated_spans.
    base0 = _words_docs(df, text_col, id_col)
    keys = passage_keys_from_words(F.col("_w"), k)
    hashed = base0.select(
        F.col(id_col).alias("_id"), F.posexplode(keys).alias("_pos", "_pkey")
    ).filter(F.col("_pkey").isNotNull())
    drops = (
        hashed.groupBy("_id", "_pkey")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.sort_array(F.collect_list("_pos")).alias("_poss"),
        )
        .filter(F.col("_n") >= min_repeats)
        .select(
            "_id", F.slice("_poss", 2, F.greatest(F.size("_poss") - 1, F.lit(0))).alias("_later")
        )
        .groupBy("_id")
        .agg(
            F.sort_array(
                F.array_distinct(F.flatten(F.collect_list("_later")))
            ).alias("_drop_starts")
        )
    )
    base = base0
    joined = base.join(drops, base[id_col] == drops["_id"], "left")
    w = F.col("_w")
    ds = F.coalesce(F.col("_drop_starts"), F.array().cast("array<int>"))
    idxs = F.when(F.size(w) > 0, F.sequence(F.lit(0), F.size(w) - 1)).otherwise(
        F.array().cast("array<int>")
    )
    kept = F.filter(
        F.transform(
            idxs,
            lambda i: F.when(
                ~F.exists(ds, lambda p: (p <= i) & (i < p + F.lit(k))),
                F.element_at(w, i + 1),
            ),
        ),
        lambda x: x.isNotNull(),
    )
    step = joined.select(
        F.col(id_col), kept.alias("_kept"), F.size(w).alias("n_words")
    )
    removed = F.col("n_words") - F.size("_kept")
    return step.select(
        F.col(id_col),
        F.array_join("_kept", " ").alias("clean_text"),
        F.col("n_words"),
        removed.alias("n_removed"),
        F.round(removed / F.greatest(F.col("n_words"), F.lit(1)), 4).alias(
            "removed_frac"
        ),
    )


def winnow_fingerprints_col(
    text: Column | str, k: int = 5, w: int = 4
) -> Column:
    """Winnowing fingerprint set (Schleimer et al. 2003, the MOSS scheme):
    hash every k-gram, slide a window of ``w`` consecutive hashes, keep
    each window's MINIMUM — the selected set is position-robust and
    GUARANTEES a shared fingerprint for any common span of at least
    ``w + k - 1`` words, at an expected density of 2/(w+1) per k-gram
    (the local-algorithm optimum the paper proves). MinHash answers "how
    similar are these documents"; winnowing answers "do they share a
    span", with a hard guarantee instead of an S-curve.

    Hashes are the portable 60-bit md5 (selection depends on hash VALUES
    — the argmin must replay identically in the SQL oracle, which rules
    out xxhash here). Candidate semantics only need the selected VALUES,
    so the per-window pick is a plain ``array_min`` (the paper's
    rightmost-tie rule matters only for positional density, not for the
    fingerprint set). A document shorter than one window contributes its
    global minimum. Everything is row-local array arithmetic.
    """
    wins = passage_windows_col(text, k)
    h = F.transform(wins, lambda s: md5_long(s))

    # Bind the hash array ONCE as a lambda variable (the 1-element-array
    # wrap): referencing `h` directly inside the window-minima lambda
    # would re-embed the whole md5-transform subtree per window position
    # — a measured 10x wall blowup (the per-element slice then costs a
    # full re-hash of the document instead of an O(w) array read).
    def _select(hh: Column) -> Column:
        m = F.size(hh)
        return F.when(
            m >= w,
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(0), m - w),
                    lambda j: F.array_min(F.slice(hh, j + 1, w)),
                )
            ),
        ).otherwise(
            F.when(m > 0, F.array(F.array_min(hh))).otherwise(
                F.array().cast("array<long>")
            )
        )

    return F.element_at(F.transform(F.array(h), _select), 1)


def winnow_dedup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    w: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-dup pairs blocked by shared winnowing fingerprints, verified
    with true shingle Jaccard — the guarantee-backed alternative to
    MinHash banding: two documents sharing ANY (w+k-1)-word span become
    candidates with certainty, not with S-curve probability.

    Scale shape mirrors the MinHash path: the fingerprint explode carries
    (fp, id) longs; the fp-keyed self-join is the one data-dependent
    exchange (a corpus-viral span makes a hot fingerprint — the same
    skew story as band buckets, bounded the same way by verification
    being candidate-bounded); Jaccard verification attaches shingle sets
    to surviving pairs only (AQE broadcasts the candidate side).
    """
    cand = winnow_candidate_pairs(df, text_col, id_col, k, w)
    docs = pin(_shingle_docs(df, text_col, id_col))
    return _verified_pairs(cand, docs, threshold)


def winnow_candidate_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    w: int = 4,
) -> DataFrame:
    """The winnowing BLOCKING stage alone — distinct (id_a, id_b) sharing
    at least one fingerprint, before any Jaccard verification. Exposed
    separately so ``dedup_winnow_recall`` can grade the blocking's
    precision/recall against exact-Jaccard truth the same way the MinHash
    referee grades banding (the guarantee — any shared (w+k-1)-word span
    collides — asserted by test, the precision measured)."""
    fps = df.select(
        F.col(id_col).alias("id"),
        F.explode(winnow_fingerprints_col(F.col(text_col), k, w)).alias("fp"),
    )
    # both candidate-join sides reference this frame: materialize the md5
    # fold ONCE instead of twice — localCheckpoint (not cache) so the
    # materialization is released with the job, not parked in executor
    # storage for the session (bench reps call this repeatedly)
    fps = pin(fps)
    return (
        fps.alias("a")
        .join(
            fps.alias("b"),
            (F.col("a.fp") == F.col("b.fp")) & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


SIMHASH_WIDE_BITS = 60  # md5_long's width; 4 banks x 15 bits
SIMHASH_BANKS = 4


def simhash_wide_col(text: Column | str) -> Column:
    """60-bit SimHash (same sign-of-weighted-bit-sums fold as
    :func:`simhash_col`, at md5_long's full width) — wide enough that
    hamming distance is a meaningful near-dup metric instead of a bucket
    label. Row-local fold, no explode, no shuffle."""
    hashes = F.transform(words_col(text), lambda w: md5_long(w))
    bit_vecs = F.transform(
        hashes,
        lambda h: F.array(
            *[
                F.when(F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
                for j in range(SIMHASH_WIDE_BITS)
            ]
        ),
    )
    bit_sums = F.aggregate(
        bit_vecs,
        F.array(*[F.lit(0)] * SIMHASH_WIDE_BITS),
        lambda acc, bv: F.zip_with(acc, bv, lambda a, b: a + b),
    )
    return F.aggregate(
        F.zip_with(
            bit_sums,
            F.array(*[F.lit(1 << j) for j in range(SIMHASH_WIDE_BITS)]),
            lambda s, w: F.when(s > 0, w).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda a, b: a + b,
    )


def simhash_hamming_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs at hamming distance ≤ ``max_hamming`` over the wide
    SimHash — Manku, Jain & Das Sarma 2007 (the Google web-crawl dedup
    construction): split the signature into ``SIMHASH_BANKS`` banks; by
    pigeonhole, two signatures within hamming 3 agree EXACTLY on at least
    one of 4 banks, so the bank-keyed equi-join enumerates every such
    pair with certainty (no S-curve), and popcount(xor) verifies.
    :func:`simhash_groups` only finds EQUAL signatures; this finds the
    near-misses a one-word edit causes.

    Scale shape: signature fold is row-local; the explode ships 4
    (bank_idx, bank_val, id, sig) rows per doc — constant per doc, never
    per token; the bank join is the one data-dependent exchange (hot
    banks = near-identical boilerplate clusters, the same skew story as
    LSH buckets); verification is a row-local popcount on the surviving
    pairs. ``max_hamming`` must stay ≤ SIMHASH_BANKS - 1 for the
    pigeonhole guarantee — enforced loudly.
    """
    if max_hamming > SIMHASH_BANKS - 1:
        raise ValueError(
            f"max_hamming={max_hamming} breaks the {SIMHASH_BANKS}-bank "
            "pigeonhole guarantee (needs max_hamming <= banks - 1)"
        )
    width = SIMHASH_WIDE_BITS // SIMHASH_BANKS
    mask = (1 << width) - 1
    sigs = df.select(
        F.col(id_col).alias("id"), simhash_wide_col(F.col(text_col)).alias("sig")
    )
    banks = sigs.select(
        "id",
        "sig",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("sig"), width * b).bitwiseAND(F.lit(mask))
                    for b in range(SIMHASH_BANKS)
                ]
            )
        ).alias("bank_idx", "bank_val"),
    )
    # both join sides reference the signature fold (60 whens per token):
    # materialize it once, not twice — localCheckpoint so repeated calls
    # in one session don't accumulate unreleasable executor storage
    banks = pin(banks)
    cand = (
        banks.alias("a")
        .join(
            banks.alias("b"),
            (F.col("a.bank_idx") == F.col("b.bank_idx"))
            & (F.col("a.bank_val") == F.col("b.bank_val"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.sig").alias("sig_a"),
            F.col("b.sig").alias("sig_b"),
        )
        .distinct()
    )
    return (
        cand.select(
            "id_a",
            "id_b",
            F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )
