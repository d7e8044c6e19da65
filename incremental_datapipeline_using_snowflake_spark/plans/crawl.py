"""The composed crawl→corpus pipeline — the LLM-data product this engine
exists for, one call: raw WARC response shards → parse + quarantine →
HTML main-content extraction → trained-LID confidence routing → CCNet
perplexity tail drop → transactional curation into the versioned corpus.

Every stage is an already-shipped, individually oracle-checked operator
(`sources.warc_source`, `ops.html`, `ops.text`, `ops.curation`); this
module only composes them and reports a per-stage manifest, the way the
reference composes its individually-tested stages into task-DAG
procedures (reference `03_deploy_task_dag.py` — orchestration layer over
stage functions). Benchmarked per round as the `crawl_pipeline_e2e` wall.

Scale shape: the WARC parse is file-per-task (non-splittable .gz), the
extraction/LID/CCNet stages are row-local or (doc,feature)-bounded, and
curation's exchanges are batch-/candidate-bounded (SHUFFLE.md) — the
composition adds NO exchange beyond its stages' own, except one id-keyed
join attaching the routed language (broadcast-sized per micro-batch at
production shard sizes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import pin


def run_crawl_pipeline(
    spark: SparkSession,
    store,
    crawl_dir: str,
    corpus_table: str,
    run_id: str,
    *,
    lid_model: DataFrame | None = None,
    lid_n_features: int | None = None,
    min_margin_ppg: int | dict[str, int] | None = None,
    min_grams: int | None = None,
    main_content: bool = True,
    drop_tail: bool = True,
    id_col: str = "doc_id",
) -> dict:
    """One crawl batch end-to-end (module docstring). Returns the stage
    manifest: record/quarantine/doc counts, language routing counts, the
    CCNet bucket drop, per-verdict curation counts, and the corpus size
    after the merge.

    - ``lid_model``: a :func:`ops.text.train_char_lid` frame; when given,
      each doc's ``lang`` becomes the routed prediction and docs routed
      ``unknown`` are DROPPED (the CCNet filter step — force-labeling a
      code-switched page would poison per-language perplexity buckets).
    - ``drop_tail``: apply :func:`ops.text.ccnet_buckets` per language
      and drop the ``tail`` third (Wenzek et al. 2020 train on
      head+middle). Docs too short to score (under 2 words) drop here
      too — the Gopher gate inside curation would reject them anyway.
    - replay safety is :func:`ops.curation.curate_append`'s: the run id
      is the transactional marker, so re-running the same shard set with
      the same ``run_id`` semantics applies once.
    """
    from ..ops import curation as C
    from ..ops import text as X
    from ..sources.warc_source import read_warc, warc_html_to_documents

    raw = read_warc(spark, crawl_dir, warc_types=("response",))
    # ONE WARC parse (r14, guide §1.2): the binary parse + regex-heavy
    # extraction is the batch's most expensive pass, and the old
    # quarantine-count action (`bad.count()`) re-parsed every WARC byte a
    # second time just to count malformed records. Carry `parse_error`
    # through the single pinned extraction instead — the quarantine count
    # and the clean-docs branch are then free filters over the pin. The
    # extraction expressions over the (rare) malformed rows compute
    # garbage that the filter drops; doc_id/text values for clean rows
    # are expression-identical to the old two-pass shape.
    parsed = pin(
        warc_html_to_documents(raw, main_content=main_content, keep_cols=("parse_error",))
    )
    n_quarantined = parsed.filter(F.col("parse_error").isNotNull()).count()
    docs = parsed.filter(F.col("parse_error").isNull()).drop("parse_error")
    n_docs = docs.count()

    n_unknown = 0
    if lid_model is not None:
        kw = {}
        if min_margin_ppg is not None:
            kw["min_margin_ppg"] = min_margin_ppg
        if min_grams is not None:
            kw["min_grams"] = min_grams
        skw = {"n_features": lid_n_features} if lid_n_features else {}
        # pin the NARROW routed-language relation (id, lang): unpinned it
        # re-ran the hashed char-ngram scoring for every downstream
        # consumer — the unknown-count action, the CCNet bucket pass, and
        # the curation batch cache fill (r14, guide §1.2)
        routed = pin(
            X.route_lid_unknown(
                X.score_char_lid(docs, lid_model, id_col=id_col, margin=True, **skw),
                **kw,
            ).select(id_col, "lid_lang")
        )
        labeled = docs.drop("lang").join(routed, id_col)
        n_unknown = n_docs - labeled.filter(
            F.col("lid_lang") != "unknown"
        ).count()
        docs = (
            labeled.filter(F.col("lid_lang") != "unknown")
            .withColumnRenamed("lid_lang", "lang")
        )

    n_tail = 0
    if drop_tail:
        # same pin for the narrow (id, bucket) relation — its perplexity
        # scoring otherwise re-ran for the tail-count action AND the
        # curation batch fill
        buckets = pin(X.ccnet_buckets(docs, id_col=id_col).select(id_col, "bucket"))
        gated = docs.join(buckets, id_col).filter(F.col("bucket") != "tail")
        kept = gated.drop("bucket")
        n_before = n_docs - n_unknown
        n_after_tail = kept.count()
        n_tail = n_before - n_after_tail
        docs = kept

    verdicts = C.curate_append(spark, store, docs, corpus_table, run_id)
    by_verdict = {
        r["verdict"]: r["n"]
        for r in verdicts.groupBy("verdict").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    return {
        "n_records": n_docs + n_quarantined,
        "n_quarantined": int(n_quarantined),
        "n_docs": int(n_docs),
        "n_lang_unknown": int(n_unknown),
        "n_tail_dropped": int(n_tail),
        "verdicts": by_verdict,
        "n_kept": int(by_verdict.get("kept", 0)),
        "n_corpus_after": store.read(spark, corpus_table).count(),
    }


# ---------------------------------------------------------------------------
# Deterministic synthetic-crawl fixture (bench + scale harness + tests —
# the encode_wet "fixture encoder" discipline: real WARC bytes through the
# real parser, never a mocked stage). Three pseudo-languages with DISJOINT
# consonant inventories so the trained char-ngram LID separates them with
# wide margins; pages wear nav/sidebar/footer chrome that main-content
# extraction must drop; planted exact dups, near dups, 50/50 code-switched
# pages (route unknown) and chrome-only pages (extract to '' → gate_fail).
# Pure index arithmetic — no RNG — so every scale multiple is a superset
# structure, the scale-harness requirement.
# ---------------------------------------------------------------------------
# fully DISJOINT letter inventories (consonant set AND "vowel" set): the
# languages share no character at all, so clean pages separate with huge
# margins and 50/50 code-switched pages collapse toward zero — the
# bimodal distribution a routing threshold needs. (A shared vowel set
# left the distributions overlapping: unique-page min 98k ppg vs mixed
# max 664k in the first cut.)
_LANG_CONS = {"aa": "bdfg", "bb": "klpt", "cc": "mnrs", "zh": "一二三四五六七八九十"}
_LANG_VOWS = {"aa": "aeiou", "bb": "cghjq", "cc": "vwxyz", "zh": "天地人山川水火木金土"}
# zh (r11) is the UNSPACED pseudo-language (VERDICT r10 ask #1): words are
# Han-syllable strings concatenated with NO separators, so every word-level
# stage (LID, Gopher gates, MinHash shingles, CCNet scoring) exercises the
# script-aware segmentation path on this fixture. Its 20-char inventory is
# disjoint from the ASCII languages AND from the textops HAN20 fixture
# alphabet where it matters (construction is injective per language).
_UNSPACED = frozenset({"zh"})


def _synth_word(lang: str, i: int) -> str:
    """Word = the base-(|cons|*|vows|) digits of ``i`` as consonant+vowel
    syllables (little-endian, padded to 3 syllables) — INJECTIVE per
    language, so every word in a page is distinct and the Gopher
    repetition gates (duplicate trigrams, top-bigram mass) pass by
    construction. A periodic generator here silently collapsed to ~8
    words/language and gate-failed every page (r10 first cut). The ASCII
    languages' 4x5 inventories keep their original base-20 digits
    byte-identically; zh's 10x10 inventory gives base-100 Han syllables."""
    cons, vows = _LANG_CONS[lang], _LANG_VOWS[lang]
    base = len(cons) * len(vows)
    out = []
    v = i
    while v or len(out) < 3:
        d = v % base
        out.append(cons[d % len(cons)] + vows[d // len(cons)])
        v //= base
    if lang in _UNSPACED:
        # one word-specific ENTROPY syllable (Fibonacci-hash of the word
        # index — pure int arithmetic, injectivity preserved): without it
        # low-index unspaced pages degenerate into near-constant
        # digit-suffix repetition, and unit-level shingles make UNRELATED
        # pages measure jaccard up to 0.97 — spurious near-dup chains
        # whose transitive edges then break curation replay determinism.
        # With it, unrelated pages measure <= 0.24 vs >= 0.95 for true
        # near-dups (the separation the ASCII languages get for free from
        # whole-word injectivity).
        h = ((i ^ (i >> 7)) * 2654435761) % (1 << 32)
        out.append(cons[(h % base) % len(cons)] + vows[(h % base) // len(cons)])
    return "".join(out)


def _synth_text(lang: str, i: int, n_words: int, skip: int = 0) -> str:
    # stride 101 > any page's word count: page index ranges are DISJOINT,
    # so no two distinct pages share words (near-dup structure is exactly
    # what make_synthetic_crawl plants, nothing accidental). ``skip``
    # drops the first words — the near-dup surgery, expressed here so it
    # works for the unspaced language too (no separators to split on).
    sep = "" if lang in _UNSPACED else " "
    return sep.join(
        _synth_word(lang, i * 101 + j) for j in range(skip, n_words)
    )


def _page_html(title: str, text: str) -> str:
    paras = text.split(" ")
    if len(paras) <= 1 and len(text) > 3:
        # unspaced scripts carry no space to paragraph on: block
        # boundaries fall at character thirds instead (segmentation makes
        # the inserted block breaks unit-neutral downstream)
        tc = max(1, len(text) // 3)
        paras = [text[:tc], text[tc : 2 * tc], text[2 * tc :]]
    third = max(1, len(paras) // 3)
    blocks = "".join(
        f"<p>{' '.join(paras[k * third: (k + 1) * third if k < 2 else len(paras)])}</p>"
        for k in range(3)
    )
    nav = "".join(f'<li><a href="/s{k}">sec {k}</a></li>' for k in range(6))
    side = "".join(f'<a href="/rel{k}">related {k}</a> ' for k in range(8))
    return (
        f"<html><head><title>{title}</title><style>p{{margin:0}}</style></head>"
        f"<body><nav><ul>{nav}</ul></nav><div class=side>{side}</div>"
        f"<article>{blocks}</article>"
        f"<footer><a href='/about'>about</a> <a href='/tos'>terms</a></footer>"
        f"</body></html>"
    )


def make_synthetic_crawl(out_dir: str, scale: int = 1, n_shards: int = 8) -> dict:
    """Write ``n_shards`` .warc.gz response shards under ``out_dir``.
    Per scale unit: 300 unique pages (100/language), 45 exact-dup pages,
    30 near-dup pages, 15 code-switched pages, 12 chrome-only pages.
    Returns the planted counts."""
    import os

    from ..sources.warc_source import encode_warc_responses

    langs = sorted(_LANG_CONS)
    uniq, exact, near, mixed = [], [], [], []
    for i in range(100 * scale):
        for lg in langs:
            uniq.append((lg, i, _synth_text(lg, i, 40 + (i % 25))))
    for j in range(45 * scale):
        lg, i, t = uniq[(j * 5) % len(uniq)]
        exact.append((lg, i, t))
    for j in range(30 * scale):
        lg, i, t = uniq[(j * 7 + 1) % len(uniq)]
        near.append((lg, i, _synth_text(lg, i, 40 + (i % 25), skip=2)))
    # code-switched pages stay over the ASCII languages (j % 3 over the
    # sorted [aa, bb, cc, zh] never reaches zh): the margin-collapse
    # routing they exercise is symmetric-evidence behavior, which a
    # cross-script mix would not test
    for j in range(15 * scale):
        a = _synth_text(langs[j % 3], 9000 + j, 25)
        b = _synth_text(langs[(j + 1) % 3], 9500 + j, 25)
        mixed.append(("mix", j, a + " " + b))
    records = []
    for kind, rows in (("u", uniq), ("e", exact), ("n", near), ("m", mixed)):
        for k, (lg, i, t) in enumerate(rows):
            records.append(
                {
                    "uri": f"http://crawl.example/{kind}/{lg}/{i}/{k}",
                    "date": "2026-08-15T00:00:00Z",
                    "html": _page_html(f"{kind}-{lg}-{i}", t),
                }
            )
    for k in range(12 * scale):
        records.append(
            {
                "uri": f"http://crawl.example/chrome/{k}",
                "date": "2026-08-15T00:00:00Z",
                "html": _page_html(f"chrome-{k}", ""),
            }
        )
    os.makedirs(out_dir, exist_ok=True)
    per = max(1, len(records) // n_shards)
    for s in range(n_shards):
        chunk = records[s * per:] if s == n_shards - 1 else records[s * per: (s + 1) * per]
        if not chunk:
            continue
        with open(os.path.join(out_dir, f"shard-{s:05d}.warc.gz"), "wb") as f:
            f.write(encode_warc_responses(chunk, compress=True))
    return {
        "n_records": len(records),
        "n_unique": len(uniq),
        "n_exact": len(exact),
        "n_near": len(near),
        "n_mixed": len(mixed),
        "n_chrome_only": 12 * scale,
    }


def make_lid_seed(spark: SparkSession, per_lang: int = 40) -> DataFrame:
    """Labeled training frame for the fixture's pseudo-languages (distinct
    index range from any page, so the model never memorizes eval text)."""
    rows = [
        (100000 + li * 1000 + i, _synth_text(lg, 50000 + i, 30), lg)
        for li, lg in enumerate(sorted(_LANG_CONS))
        for i in range(per_lang)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")
