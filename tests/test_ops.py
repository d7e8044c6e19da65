"""Ops-layer tests: text analysis, dedup strategies, similarity search,
multimodal plumbing — on small canned corpora plus the sf0.001 testdata."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from incremental_datapipeline_using_snowflake_spark.ops import (
    dedup as D,
    multimodal as M,
    similarity as S,
    text as X,
)

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2, "the quick brown fox jumps over the lazy dog near the river bank today"),  # exact dup of 1
    (3, "brown fox jumps over the lazy dog near the river bank today"),  # near dup (2 words off)
    (4, "der hund ist nicht mit der katze und dem vogel auf dem dach"),
    (5, "completely different content about spark query engines and shuffles"),
]


@pytest.fixture()
def docs(spark):
    return spark.createDataFrame(DOCS, schema="doc_id long, text string")


def test_token_counts_and_quality(spark, docs):
    out = {r["doc_id"]: r for r in X.text_profile(docs).collect()}
    assert out[1]["n_tokens"] == 14
    assert out[1]["n_bpe_tokens"] == 14  # no punctuation
    assert 0.0 <= out[5]["quality"] <= 1.0
    assert out[1]["quality_tier"] in ("low", "medium", "high")
    # exact dup docs get identical fingerprints
    assert out[1]["fp_md5"] == out[2]["fp_md5"]
    assert out[1]["fp_rolling"] == out[2]["fp_rolling"]
    # rolling hash is order-sensitive: near-dup differs
    assert out[1]["fp_rolling"] != out[3]["fp_rolling"]


def test_lang_id(spark, docs):
    out = {r["doc_id"]: r["pred_lang"] for r in X.text_profile(docs).collect()}
    assert out[1] == "en"
    assert out[4] == "de"


def test_exact_dedup(spark, docs):
    groups = D.exact_dedup_groups(docs).collect()
    assert len(groups) == 1
    assert groups[0]["canonical_id"] == 1
    assert groups[0]["n_copies"] == 2


def test_ngram_jaccard_pairs(spark, docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs(docs, threshold=0.3, anchor_mod=2).collect()
    }
    assert pairs[(1, 2)] == 1.0  # exact dup
    assert (1, 3) in pairs and 0.3 <= pairs[(1, 3)] < 1.0  # near dup
    assert (1, 5) not in pairs


def test_shingled_reuse_matches_fresh_pass(spark, docs):
    """r13: passing a pre-materialized shingle relation into the two
    generators must give bit-identical pairs to the internal pass (the
    family-shared shingle path used by dedup_ngram_jaccard)."""
    sh = D._shingle_docs(docs, "text", "doc_id").localCheckpoint(eager=True)
    for fn, kw in (
        (D.ngram_jaccard_pairs, dict(candidates="anchor", anchor_mod=2)),
        (D.minhash_dedup_pairs, {}),
    ):
        fresh = sorted(map(tuple, fn(docs, threshold=0.3, **kw).collect()))
        shared = sorted(map(tuple, fn(docs, threshold=0.3, shingled=sh, **kw).collect()))
        assert fresh == shared


def test_pair_cache_disk_backed_survives_release(spark, tmp_path, monkeypatch):
    """The session artifact cache is disk-backed, so release_session_frames
    — bench.py's every-25-query memory boundary — keeps its entries
    usable: a late pair-family consumer (leakage_safe_split at sorted index
    120) re-reads files instead of rebuilding shingles+pairs+CC, and a
    curation entry keeps its verdict frame. Everything an entry writes
    lives under its root, so eviction leaves the tempdir as it found it."""
    import os
    import tempfile

    from incremental_datapipeline_using_snowflake_spark.queries import (
        artifacts as A,
        curation_q as CQ,
        memo_evict_new,
        memo_snapshot,
        release_session_frames,
    )
    from incremental_datapipeline_using_snowflake_spark.queries import textops as T

    sf = "/root/testdata/sf0.001"
    app = spark.sparkContext.applicationId
    memo_evict_new(set())
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    snap = memo_snapshot()
    pairs, comp = T._shared_pairs_components(spark, sf)
    before = sorted(map(tuple, comp.collect()))
    shards_before = sorted(map(tuple, CQ.corpus_shard_export(spark, sf).collect()))
    release_session_frames(spark)
    # entries survive the release (disk-backed, zero executor storage)...
    keys = [(app, sf, t) for t in ("shingles", "pairs", "comp", "shard_export")]
    assert all(k in A._ENTRIES for k in keys)
    # ...and the handles still serve identical rows after the RDD sweep
    _p2, comp2 = T._shared_pairs_components(spark, sf)
    assert sorted(map(tuple, comp2.collect())) == before
    shards = CQ.corpus_shard_export(spark, sf)
    assert sorted(map(tuple, shards.collect())) == shards_before
    # eviction still removes both the entry and its files (rep discipline)
    roots = [A._ENTRIES[k][0] for k in keys]
    memo_evict_new(snap)
    assert not any(k[0] == app and k[1] == sf for k in A._ENTRIES)
    assert not any(os.path.exists(r) for r in roots)
    assert os.listdir(tmp_path) == []


def test_pair_score_kernel_masks_duplicate_ids():
    """r14 (ADVICE r13 low): two bucket rows carrying the SAME id must not
    emit a spurious (x, x) pair — the old join forms filtered it by id."""
    import pandas as pd

    kern = S._pair_score_kernel(directed=False)
    pdf = pd.DataFrame(
        {
            "id": [7, 7, 9],
            "v": [[1.0, 0.0], [1.0, 0.0], [0.0, 1.0]],
            "nrm": [1.0, 1.0, 1.0],
            "_b": [0, 0, 0],
        }
    )
    out = kern(pdf)
    got = set(zip(out["src_id"], out["nbr_id"]))
    assert (7, 7) not in got
    assert got == {(7, 9)} or got == {(7, 9), (7, 9)}  # both 7-rows pair with 9


def test_connected_components_small_graph_partitioning(spark):
    """r14 (VERDICT r13 #1): CC sizes its loop shuffles from the edge
    count — a tiny dedup graph must not run session-default-width stages
    (the anti-scaling the driver measured), and the session's shuffle
    setting must be restored afterwards."""
    from incremental_datapipeline_using_snowflake_spark.ops.graph import (
        connected_components,
    )

    before = spark.conf.get("spark.sql.shuffle.partitions")
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22)], "id_a long, id_b long"
    )
    comp = connected_components(edges)
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    labels = {r["id"]: r["comp"] for r in comp.collect()}
    assert labels == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}
    # the loop's frames are sized to the graph, not the session default
    assert comp.rdd.getNumPartitions() <= max(1, 5 // 100_000 + 1)


def test_connected_components_empty_edges_one_job(spark, next_job_id):
    """No edges: the edge count rides the ``sym`` pin, and the empty
    ``(id, comp)`` frame returns before the labels pin and the loop — one
    Spark job in all."""
    from incremental_datapipeline_using_snowflake_spark.ops.graph import (
        connected_components,
    )

    edges = spark.createDataFrame([], "id_a long, id_b long")
    j0 = next_job_id()
    comp = connected_components(edges)
    assert next_job_id() - j0 == 1
    assert comp.schema.simpleString() == "struct<id:bigint,comp:bigint>"
    assert comp.collect() == []


def test_ops_has_no_broad_excepts():
    """No ``except:``, ``except Exception`` or ``except BaseException`` in
    ``ops/``: a broad handler decides what a failed read means (e.g. an
    unreadable takedown file read as "no takedowns"), so failures there
    must propagate. Narrow handlers (``except OSError`` around a hardlink)
    are fine. Spark-free: it only parses the sources."""
    import ast
    import pathlib

    ops_dir = (
        pathlib.Path(__file__).resolve().parents[1]
        / "incremental_datapipeline_using_snowflake_spark" / "ops"
    )
    broad = {"Exception", "BaseException"}
    found = []
    for path in sorted(ops_dir.glob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if not isinstance(node, ast.ExceptHandler):
                continue
            types = node.type.elts if isinstance(node.type, ast.Tuple) else [node.type]
            names = {
                t.id if isinstance(t, ast.Name) else getattr(t, "attr", None)
                for t in types if t is not None
            }
            if node.type is None or names & broad:
                found.append(f"{path.name}:{node.lineno}")
    assert found == [], found


def _os_call_sites(attr: str) -> list[tuple[str, str | None]]:
    """(file, innermost enclosing function) of every ``os.<attr>(...)``
    call in the package, read off its parsed sources."""
    import ast
    import pathlib

    pkg = (
        pathlib.Path(__file__).resolve().parents[1]
        / "incremental_datapipeline_using_snowflake_spark"
    )
    found = []
    for path in sorted(pkg.rglob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        # innermost enclosing function per node (walk is breadth-first, so
        # a nested def overwrites its parent's entry)
        owner = {
            n: fn.name
            for fn in ast.walk(tree) if isinstance(fn, ast.FunctionDef)
            for n in ast.walk(fn)
        }
        found += [
            (path.name, owner.get(node))
            for node in ast.walk(tree)
            if isinstance(node, ast.Call)
            and getattr(node.func, "attr", None) == attr
            and getattr(getattr(node.func, "value", None), "id", None) == "os"
        ]
    return found


def test_package_has_one_hardlink_loop():
    """The package calls ``os.link`` exactly once, inside
    ``table_store._link_files``: every version build, clone and chain
    rebase shares files through that one helper and its copy fallback.
    Spark-free: it only parses the sources."""
    found = _os_call_sites("link")
    assert found == [("table_store.py", "_link_files")], found


def test_package_has_one_atomic_small_file_write():
    """Every small metadata file (pointers, journals, offsets, sidecars)
    is replaced through ``table_store.write_atomic``: the package calls
    ``os.replace`` exactly once. Spark-free."""
    found = _os_call_sites("replace")
    assert found == [("table_store.py", "write_atomic")], found


def test_curation_builds_driver_rows_in_one_slice():
    """``ops/curation.py`` never calls ``createDataFrame``: driver-side
    rows (run records, manifests, meta rows, offsets) go through
    ``session.local_rows_df``, one slice, instead of one slice per core.
    Spark-free: it only parses the source."""
    import ast
    import pathlib

    path = (
        pathlib.Path(__file__).resolve().parents[1]
        / "incremental_datapipeline_using_snowflake_spark" / "ops" / "curation.py"
    )
    found = [
        node.lineno
        for node in ast.walk(ast.parse(path.read_text(), str(path)))
        if isinstance(node, ast.Call)
        and getattr(node.func, "attr", None) == "createDataFrame"
    ]
    assert found == [], found


def test_pair_cache_granular_eviction(spark):
    """The family artifacts build shingles/pairs/comp on first demand as
    separate cache entries, so a pairs-only consumer never pays the CC
    build and memo_evict_new evicts exactly what a rep added."""
    from incremental_datapipeline_using_snowflake_spark.queries import (
        artifacts as A,
        memo_evict_new,
        memo_snapshot,
    )
    from incremental_datapipeline_using_snowflake_spark.queries import textops as T

    sf = "/root/testdata/sf0.001"
    app = spark.sparkContext.applicationId
    memo_evict_new(set())
    snap = memo_snapshot()
    T._shared_pairs(spark, sf)
    assert (app, sf, "pairs") in A._ENTRIES
    assert (app, sf, "shingles") in A._ENTRIES
    assert (app, sf, "comp") not in A._ENTRIES  # CC deferred
    T._shared_pairs_components(spark, sf)
    assert (app, sf, "comp") in A._ENTRIES
    memo_evict_new(snap)
    assert not any(k[0] == app and k[1] == sf for k in A._ENTRIES)


def test_minhash_lsh_pairs(spark, docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.minhash_dedup_pairs(docs, threshold=0.3).collect()
    }
    assert pairs[(1, 2)] == 1.0
    assert (1, 5) not in pairs


def test_simhash_groups(spark, docs):
    groups = D.simhash_groups(docs).collect()
    # at minimum the exact dups collide on all 16 bits
    assert any(g["canonical_id"] == 1 and g["n_docs"] >= 2 for g in groups)


def test_embedding_near_pairs_and_topk(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.999, 0.01, 0.0]),   # near-dup of 0
        (2, [0.0, 1.0, 0.0]),
        (3, [-1.0, 0.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, schema="vec_id long, embedding array<double>")
    near = D.embedding_near_pairs(emb, threshold=0.99).collect()
    assert [(r["id_a"], r["id_b"]) for r in near] == [(0, 1)]

    topk = S.bruteforce_topk(emb, emb.filter(F.col("vec_id") == 0), k=3)
    got = [(r["rank"], r["nbr_id"]) for r in topk.orderBy("rank").collect()]
    assert got[0] == (1, 1)       # most similar
    assert got[-1] == (3, 3)      # opposite vector last

    # LSH-bucketed variant finds the same near-dup pair (near-identical
    # vectors share every hyperplane sign) and nothing spurious
    near_lsh = D.embedding_near_pairs_lsh(emb, dim=3, threshold=0.99).collect()
    assert [(r["id_a"], r["id_b"]) for r in near_lsh] == [(0, 1)]


def test_lsh_bucket_contains_self_neighbors(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    sigs = S.lsh_signatures(emb, dim=64)
    assert sigs.select("bucket").distinct().count() > 1
    buckets = sigs.agg(F.min("bucket"), F.max("bucket")).first()
    assert 0 <= buckets[0] and buckets[1] < 256  # 8-bit signatures


def test_plane_weights_deterministic():
    w1 = S.plane_weight(3, 17)
    h = int(hashlib.md5(b"3_17").hexdigest()[:15], 16)
    assert w1 == (h % 2001 - 1000) / 1000.0
    assert -1.0 <= w1 <= 1.0


def test_multimodal_decode_pipeline(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(40)
    media = M.attach_payload(docs)
    assert dict(media.dtypes)["payload"] == "binary"
    out = M.decode_media(media).collect()
    assert len(out) == 40
    by_type = {r["media_type"] for r in out}
    assert by_type <= {"image", "audio", "text", "video"}
    for r in out:
        # metadata arithmetic matches the deterministic fake decoder
        h60 = int(r["fp"][:15], 16)
        if r["media_type"] in ("image", "video"):
            assert r["width"] == 64 + h60 % 1024
            assert r["height"] == 64 + h60 % 768
        else:
            assert r["width"] is None
        if r["media_type"] == "video":
            assert r["n_frames"] == 1 + h60 % 30


def test_multimodal_strict_raises(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(2)
    media = M.attach_payload(docs)
    with pytest.raises(Exception, match="NotImplementedError|no codec"):
        M.decode_media(media, strict=True).collect()


def test_split_deterministic_and_complete(spark):
    from incremental_datapipeline_using_snowflake_spark.ops.sampling import (
        split_column,
        stratified_sample,
    )

    df = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    out = df.withColumn("split", split_column("doc_id"))
    counts = {r["split"]: r["n"] for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert set(counts) == {"train", "val", "test"}
    # ~90/5/5 within generous tolerance at n=2000
    assert counts["train"] > 1600 and counts["val"] > 40 and counts["test"] > 40

    # determinism: same assignment on recompute and under repartitioning
    again = {
        r["doc_id"]: r["split"]
        for r in df.repartition(13).withColumn("split", split_column("doc_id")).collect()
    }
    for r in out.collect():
        assert again[r["doc_id"]] == r["split"]

    # an appended row never moves existing rows between splits
    bigger = spark.range(0, 3000).withColumnRenamed("id", "doc_id")
    grown = {r["doc_id"]: r["split"] for r in bigger.withColumn("split", split_column("doc_id")).collect()}
    for k, v in again.items():
        assert grown[k] == v

    sample = stratified_sample(df, 0.1, id_col="doc_id")
    n = sample.count()
    assert 120 < n < 280  # ~200 expected
    assert sample.count() == n  # stable


def test_cross_corpus_overlap_finds_planted_contamination(spark):
    from incremental_datapipeline_using_snowflake_spark.ops.dedup import cross_corpus_overlap

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "completely different text with no shared phrases at all"),
            (3, "the quick brown fox jumps over a sleeping cat"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    hits = {
        (r["doc_id"], r["bench_id"]): r["n_shared"]
        for r in cross_corpus_overlap(corpus, bench, min_shared=3).collect()
    }
    assert (1, 100) in hits and hits[(1, 100)] >= 6  # full overlap
    assert (3, 100) in hits                          # prefix overlap
    assert (2, 100) not in hits                      # disjoint text


def test_kmeans_separates_planted_clusters(spark):
    from incremental_datapipeline_using_snowflake_spark.ops.clustering import (
        QUANT,
        kmeans_fit,
    )

    # two tight 4-d blobs around (+.4,...) and (-.4,...); seeds (the two
    # lowest ids) land one in each blob, so 2 iterations must separate them
    rows = []
    for i in range(40):
        base = 0.4 if i % 2 == 0 else -0.4
        jitter = ((i * 37) % 100) / 5000.0  # deterministic, < 0.02
        rows.append((i, [base + jitter] * 4))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    centroids, assigned = kmeans_fit(df, k=2, iters=2)
    got = {r["id"]: r["cell"] for r in assigned.collect()}
    assert all(got[i] == 0 for i in range(0, 40, 2))   # +blob -> seed 0
    assert all(got[i] == 1 for i in range(1, 40, 2))   # -blob -> seed 1
    # centroids converge to the blob centers on the 1e-6 integer grid
    assert abs(centroids[0][0] / QUANT - 0.41) < 0.02
    assert abs(centroids[1][0] / QUANT - (-0.39)) < 0.02
    # determinism: a re-run reproduces the exact same model
    again, _ = kmeans_fit(df, k=2, iters=2)
    assert again == centroids


def test_kmeans_arrow_and_expr_paths_bit_identical(spark):
    """The Arrow-vectorized assignment (default) and the pure-Column HOF
    twin must produce the same model AND the same per-row (cell, dist)."""
    from incremental_datapipeline_using_snowflake_spark.ops.clustering import kmeans_fit

    rows = [
        (i, [((i * 31 + d * 17) % 200 - 100) / 100.0 for d in range(6)])
        for i in range(50)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    c_arrow, a_arrow = kmeans_fit(df, k=3, iters=2, use_arrow=True)
    c_expr, a_expr = kmeans_fit(df, k=3, iters=2, use_arrow=False)
    assert c_arrow == c_expr
    got_a = sorted(map(tuple, a_arrow.collect()))
    got_e = sorted(map(tuple, a_expr.collect()))
    assert got_a == got_e


# ---------------------------------------------------------------------------
# connected components (ops.graph)
# ---------------------------------------------------------------------------
def test_connected_components_path_and_clique(spark):
    """A long path (worst case for plain label propagation — pointer
    jumping must converge in O(log n) rounds), a disjoint triangle, and an
    isolated pair all resolve to min-id component labels."""
    from incremental_datapipeline_using_snowflake_spark.ops.graph import connected_components

    path = [(i, i + 1) for i in range(20, 0, -1)]          # 0..21 chain, reversed order
    tri = [(100, 101), (101, 102), (100, 102)]
    pair = [(500, 400)]
    edges = spark.createDataFrame(path + tri + pair, "id_a long, id_b long")
    got = {r["id"]: r["comp"] for r in connected_components(edges).collect()}
    assert all(got[i] == 1 for i in range(1, 22))
    assert all(got[i] == 100 for i in (100, 101, 102))
    assert got[400] == 400 and got[500] == 400
    assert len(got) == 21 + 3 + 2


def test_connected_components_bridged_clusters(spark):
    """Two cliques joined by one bridge edge collapse to one component."""
    from incremental_datapipeline_using_snowflake_spark.ops.graph import connected_components

    a = [(i, j) for i in range(10, 15) for j in range(i + 1, 15)]
    b = [(i, j) for i in range(30, 35) for j in range(i + 1, 35)]
    edges = spark.createDataFrame(a + b + [(14, 30)], "id_a long, id_b long")
    got = {r["id"]: r["comp"] for r in connected_components(edges).collect()}
    assert set(got.values()) == {10}


def test_dedup_keep_decisions_singletons_kept(spark):
    from incremental_datapipeline_using_snowflake_spark.ops.graph import dedup_keep_decisions

    docs = spark.createDataFrame([(i,) for i in range(1, 8)], "doc_id long")
    pairs = spark.createDataFrame([(2, 5), (5, 7)], "id_a long, id_b long")
    rows = {r["doc_id"]: r for r in dedup_keep_decisions(docs, pairs).collect()}
    assert rows[2]["keep"] and rows[2]["cluster_id"] == 2
    assert not rows[5]["keep"] and rows[5]["cluster_id"] == 2
    assert not rows[7]["keep"] and rows[7]["cluster_id"] == 2
    for i in (1, 3, 4, 6):                                  # singletons: kept, own cluster
        assert rows[i]["keep"] and rows[i]["cluster_id"] == i


# ---------------------------------------------------------------------------
# repetition / quality signals, BM25, exact-n stratified sampling
# ---------------------------------------------------------------------------
def test_repetition_signals_flags_degenerate_docs(spark):
    from incremental_datapipeline_using_snowflake_spark.ops.text import repetition_signals

    rows = [
        (1, "spam " * 50),                                   # one word repeated
        (2, " ".join(f"w{i} x{i} y{i}" for i in range(20))), # all-distinct, healthy
        (3, "a b"),                                          # too short
    ]
    df = spark.createDataFrame([(i, t.strip()) for i, t in rows], "doc_id long, text string")
    got = {r["doc_id"]: r for r in repetition_signals(df).collect()}
    assert not got[1]["quality_pass"]                  # top_bigram_frac = 1.0
    assert got[1]["top_bigram_frac"] == 1.0 and got[1]["distinct_word_frac"] == 0.02
    assert got[2]["quality_pass"] and got[2]["dup_trigram_frac"] == 0.0
    assert not got[3]["quality_pass"] and got[3]["n_words"] == 2


def test_bm25_ranks_term_dense_docs_first(spark):
    from incremental_datapipeline_using_snowflake_spark.ops.textprep import bm25_topk

    rows = [
        (1, "spark spark spark runs fast"),
        (2, "spark appears once in this much longer document " + "pad " * 30),
        (3, "no relevant terms at all here"),
        (4, "merge merge spark"),
    ]
    df = spark.createDataFrame([(i, t.strip()) for i, t in rows], "doc_id long, text string")
    out = bm25_topk(df, ["spark", "merge"], k=10).collect()
    ids = [r["doc_id"] for r in out]
    assert 3 not in ids                      # zero-score docs filtered
    assert ids[0] == 4                       # two matching terms outranks one
    assert out[0]["bm25"] > out[-1]["bm25"] > 0
    assert ids.index(1) < ids.index(2)       # high tf + short doc beats long doc


def test_stratified_exact_n_deterministic(spark):
    from incremental_datapipeline_using_snowflake_spark.ops.sampling import stratified_exact_n

    df = spark.createDataFrame(
        [(i, "en" if i % 3 else "de") for i in range(90)], "doc_id long, lang string"
    )
    a = stratified_exact_n(df, "lang", 5).collect()
    b = stratified_exact_n(df, "lang", 5).collect()
    assert sorted((r["lang"], r["sample_rank"], r["doc_id"]) for r in a) == sorted(
        (r["lang"], r["sample_rank"], r["doc_id"]) for r in b
    )
    per = {}
    for r in a:
        per.setdefault(r["lang"], []).append(r["sample_rank"])
    assert sorted(per["en"]) == [1, 2, 3, 4, 5] and sorted(per["de"]) == [1, 2, 3, 4, 5]
    # small groups are not padded
    tiny = spark.createDataFrame([(1, "fr"), (2, "fr")], "doc_id long, lang string")
    assert stratified_exact_n(tiny, "lang", 5).count() == 2


def test_semantic_dedup_drops_planted_variants(spark):
    from incremental_datapipeline_using_snowflake_spark.ops.similarity import (
        semantic_dedup_keep,
    )

    import random

    rng = random.Random(42)
    base = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(40)]
    variants = [(i + 1000, [x * 1.001 for x in v]) for i, v in base if i % 4 == 0]
    df = spark.createDataFrame(base + variants, "vec_id long, embedding array<double>")
    rows = {r["id"]: r for r in semantic_dedup_keep(df, threshold=0.999, n_cells=4).collect()}
    # every planted variant has an earlier near-identical twin -> dropped
    for i, _ in base:
        if i % 4 == 0:
            assert not rows[i + 1000]["keep"] and rows[i + 1000]["n_earlier_dups"] >= 1
            assert rows[i]["keep"]  # the original (lower id) survives


def test_knn_graph_nearest_is_scaled_twin(spark):
    from incremental_datapipeline_using_snowflake_spark.ops.similarity import knn_graph

    import random

    rng = random.Random(7)
    base = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(30)]
    twins = [(i + 100, [x * 1.01 for x in v]) for i, v in base[:10]]
    df = spark.createDataFrame(base + twins, "vec_id long, embedding array<double>")
    got = {r["src_id"]: r for r in knn_graph(df, k=1, n_cells=4).collect()}
    hits = sum(1 for i in range(10) if got.get(i) and got[i]["nbr_id"] == i + 100)
    assert hits >= 8  # same-direction twins share a cell and rank first
    assert all(r["rank"] == 1 for r in got.values())


def test_incremental_minhash_finds_cross_and_batch_pairs(spark):
    """A new batch deduped against an existing corpus: batch-vs-corpus
    pairs carry is_corpus_pair=True, batch-internal pairs False, and
    corpus-vs-corpus pairs never appear."""
    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "one two three four five six seven eight nine"),
            (3, "totally unrelated corpus text with many different words"),
        ],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (10, "alpha beta gamma delta epsilon zeta eta theta"),   # dup of corpus 1
            (11, "fresh unique content in the incoming batch today"),
            (12, "fresh unique content in the incoming batch today"),  # dup of 11
        ],
        "doc_id long, text string",
    )
    rows = D.incremental_minhash_pairs(batch, corpus).collect()
    got = {(r["id_a"], r["id_b"]): r["is_corpus_pair"] for r in rows}
    assert got[(10, 1)] is True      # batch doc left, corpus doc right
    assert got[(11, 12)] is False    # batch-internal, canonicalized a<b
    # no corpus-x-corpus pair can appear (1,2,3 never pair together)
    assert all(a in (10, 11, 12) for a, _ in got)


def test_ngram_logprob_separates_repetitive_from_diverse(spark):
    """Repetitive text's bigrams dominate the model -> avg log-prob near 0;
    a doc of corpus-unique bigrams scores far lower."""
    from incremental_datapipeline_using_snowflake_spark.ops.text import (
        ngram_logprob_scores,
    )

    rep = " ".join(["la"] * 40)              # one bigram repeated: P(la|la)=1
    # "a u0 a u1 ...": context "a" has 20 distinct successors, each P=1/20
    div = " ".join(f"a u{i}" for i in range(20))
    df = spark.createDataFrame([(1, rep), (2, div)], "doc_id long, text string")
    got = {r["doc_id"]: r for r in ngram_logprob_scores(df).collect()}
    assert got[1]["n_bigrams"] == 39 and got[2]["n_bigrams"] == 39
    assert got[1]["avg_logprob"] == 0.0                          # ln(1) per bigram
    assert got[2]["avg_logprob"] < -1.0                          # ~20*ln(1/20)/39


def test_pq_adc_ranks_identical_vectors_first(spark):
    """A vector duplicated under another id encodes to identical codes, so
    its ADC distance to the original is 0 -> rank 1; and PQ's top-1 recall
    vs brute-force cosine on clearly-separated data is high."""
    import random

    from incremental_datapipeline_using_snowflake_spark.ops.similarity import pq_topk

    rng = random.Random(3)
    base = [(i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(24, 60)]
    twins = [(i + 500, v) for i, v in base[:5]]   # exact copies
    df = spark.createDataFrame(base + twins, "vec_id long, embedding array<double>")
    out = pq_topk(df, query_ids=[24, 25, 26, 27, 28], dim=16, k=3, n_sub=4, n_codes=8)
    rows = {(r["query_id"], r["rank"]): r for r in out.collect()}
    for q in range(24, 29):
        top = rows[(q, 1)]
        assert top["nbr_id"] == q + 500 and top["adc_dist"] == 0


def test_ivfpq_prunes_and_still_finds_twins(spark):
    """IVFPQ must (a) rank an exact twin first — it shares the query's cell
    and codes, so its ADC distance equals the query's own quantization
    error, the minimum any candidate can achieve (exactly 0 only when the
    query is itself a codeword) — and (b) return a subset of PQ's
    candidate space (cell pruning only removes candidates, never adds)."""
    import random

    from incremental_datapipeline_using_snowflake_spark.ops.similarity import (
        ivfpq_topk,
        pq_topk,
    )

    rng = random.Random(11)
    base = [(i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(40)]
    twins = [(i + 500, v) for i, v in base[5:9]]
    df = spark.createDataFrame(base + twins, "vec_id long, embedding array<double>")
    qids = [5, 6, 7, 8]
    out = ivfpq_topk(df, qids, dim=16, k=3, n_cells=4, n_probe=2, n_sub=4, n_codes=8)
    rows = {(r["query_id"], r["rank"]): r for r in out.collect()}
    for q in qids:
        assert rows[(q, 1)]["nbr_id"] == q + 500
        if q <= 7:                      # codeword queries: zero quantization error
            assert rows[(q, 1)]["adc_dist"] == 0
    # pruning: every IVFPQ result also appears in unpruned PQ's ranking space
    pq = pq_topk(df, qids, dim=16, k=len(base) + 4, n_sub=4, n_codes=8)
    pq_pairs = {(r["query_id"], r["nbr_id"]) for r in pq.collect()}
    assert all((r["query_id"], r["nbr_id"]) in pq_pairs for r in out.collect())


def test_knn_graph_leaves_no_cached_table(spark):
    """A similarity op pins its multi-consumer frame inside the call and
    registers nothing in the session's CacheManager: a cached vector table
    would otherwise stay resident until the session's memory release."""
    import random

    from incremental_datapipeline_using_snowflake_spark.ops.similarity import knn_graph

    rng = random.Random(5)
    df = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(30)],
        "vec_id long, embedding array<double>",
    )
    spark.catalog.clearCache()
    rows = knn_graph(df, k=2, n_cells=4).collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    assert len(rows) == 60


def test_dedup_keep_best_prefers_high_score(spark):
    from incremental_datapipeline_using_snowflake_spark.ops.graph import dedup_keep_best

    docs = spark.createDataFrame(
        [(1, 10), (2, 50), (3, 50), (4, 7)], "doc_id long, n_tokens long"
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    rows = {r["doc_id"]: r for r in dedup_keep_best(docs, pairs, "n_tokens").collect()}
    assert not rows[1]["keep"]                      # lowest id but lowest score
    assert rows[2]["keep"]                          # top score, id tiebreak vs 3
    assert not rows[3]["keep"]
    assert rows[4]["keep"] and rows[4]["cluster_id"] == 4   # singleton


def test_mixture_resample_copies_and_determinism(spark):
    from incremental_datapipeline_using_snowflake_spark.ops.sampling import (
        mixture_resample,
    )

    rows = [(i, "A" if i < 40 else ("B" if i < 80 else "C")) for i in range(120)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    weights = {"A": 2.0, "B": 0.0, "C": 0.5}
    out = mixture_resample(df, weights, source_col="source", id_col="doc_id")
    got = out.groupBy("source").count().collect()
    counts = {r["source"]: r["count"] for r in got}
    assert counts.get("A") == 80          # integer weight 2.0 -> exactly 2 copies
    assert "B" not in counts              # weight 0 -> dropped entirely
    assert 5 <= counts.get("C", 0) <= 35  # ~50% Bernoulli of 40
    # copy_idx enumerates copies 1..n
    idx = sorted(
        r["copy_idx"] for r in out.filter("source = 'A' AND doc_id = 0").collect()
    )
    assert idx == [1, 2]
    # deterministic: identical output on re-run
    again = mixture_resample(df, weights, source_col="source", id_col="doc_id")
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, again.collect()))


def test_morton_key_interleaves_bits(spark):
    from incremental_datapipeline_using_snowflake_spark.ops.layout import morton_key

    df = spark.createDataFrame(
        [(0, 0), (1, 0), (0, 1), (3, 1), (65535, 65535)], "a long, b long"
    )
    got = [r["m"] for r in df.select(morton_key("a", "b").alias("m")).collect()]
    # a -> even bit positions, b -> odd: m(1,0)=1, m(0,1)=2, m(3,1)=0b0111=7
    assert got == [0, 1, 2, 7, (1 << 32) - 1]


def test_zorder_by_clusters_both_dims(spark):
    """Range-partitioning on the Morton key must give each output partition
    a tighter 2-D bounding box than a 1-D sort gives its second dim."""
    from incremental_datapipeline_using_snowflake_spark.ops.layout import zorder_by

    rows = [(i, (i * 7) % 64, (i * 13) % 64) for i in range(512)]
    df = spark.createDataFrame(rows, "id long, x long, y long").repartition(8)
    z = zorder_by(df, "x", "y", num_partitions=8, bits=6)
    assert sorted(r["id"] for r in z.collect()) == list(range(512))  # lossless
    import pyspark.sql.functions as F

    spans = (
        z.withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .agg(
            (F.max("x") - F.min("x")).alias("xs"),
            (F.max("y") - F.min("y")).alias("ys"),
        )
        .collect()
    )
    avg_y_span = sum(r["ys"] for r in spans) / len(spans)
    assert avg_y_span < 63  # partitions carry sub-domain y boxes, not the full range


def test_repeated_passages_finds_planted_boilerplate(spark):
    from incremental_datapipeline_using_snowflake_spark.ops.dedup import repeated_passages

    license_text = "this work is licensed under the creative commons attribution"
    rows = [
        (1, "alpha beta " + license_text + " gamma delta"),
        (2, "unrelated words here " + license_text),
        (3, license_text + " " + license_text),   # twice in one doc
        (4, "totally different content with no shared spans at all whatsoever"),
        (5, "short doc"),                          # < k words -> no windows
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = repeated_passages(df, k=9, min_docs=2, top=10).collect()
    assert got, "planted passage not found"
    top = got[0]
    assert top["passage"] == license_text
    assert top["n_docs"] == 3
    assert top["n_occurrences"] == 4  # docs 1, 2 + twice in doc 3
    assert top["first_doc"] == 1
    # doc 4's unique spans never appear
    assert all("whatsoever" not in r["passage"] for r in got)


def test_maximal_repeated_passages_merges_adjacent_windows(spark):
    """r07: a shared 12-word run with k=8 survives as 5 adjacent windows
    that must merge into ONE maximal island per doc; a doc sharing only a
    prefix of the run gets its own shorter island."""
    from incremental_datapipeline_using_snowflake_spark.ops.dedup import (
        maximal_repeated_passages,
    )

    boiler = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12"  # 12 words
    prefix = "w1 w2 w3 w4 w5 w6 w7 w8 w9"  # first 9 -> 2 windows
    rows = [
        (1, "intro words here then " + boiler + " closing remark"),
        (2, boiler + " trailing content words"),
        (3, "other lead-in stuff goes right here " + prefix),
        (4, "nothing shared with anything else in this tiny corpus at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["doc_id"], r["start_pos"]): r
        for r in maximal_repeated_passages(df, k=8, min_docs=2).collect()
    }
    # docs 1+2: full 12-word run -> one island each, merged from 5 windows
    assert got[(1, 4)]["n_words"] == 12 and got[(1, 4)]["passage"] == boiler
    assert got[(2, 0)]["n_words"] == 12 and got[(2, 0)]["passage"] == boiler
    # doc 3: only the 9-word prefix repeats (2 windows -> one 9-word island)
    assert got[(3, 6)]["n_words"] == 9 and got[(3, 6)]["passage"] == prefix
    # doc 1 and 2 do NOT emit a separate island for the prefix — it is
    # subsumed by their maximal 12-word island
    assert len([k for k in got if k[0] == 1]) == 1
    assert len([k for k in got if k[0] == 2]) == 1
    assert all(k[0] != 4 for k in got)


def test_bpe_pair_counts_weighted_by_occurrence(spark):
    from incremental_datapipeline_using_snowflake_spark.ops.textprep import bpe_pair_counts

    df = spark.createDataFrame(
        [(1, "hello hello world"), (2, "held a b")], "doc_id long, text string"
    )
    got = {r["pair"]: r["n"] for r in bpe_pair_counts(df, top=20).collect()}
    assert got["he"] == 3      # hello x2 + held — every occurrence votes
    assert got["ll"] == 2
    assert got["ld"] == 2      # world + held
    assert "a" not in got      # single-char words contribute no pairs


def test_distributed_ntile_matches_window_ntile(spark):
    """The range-shuffle + offset form must reproduce SQL ntile exactly,
    including the first-(total % n)-buckets-larger distribution."""
    from pyspark.sql import Window as W

    from incremental_datapipeline_using_snowflake_spark.ops.layout import (
        distributed_ntile,
    )

    rows = [(i, (i * 37) % 101) for i in range(1003)]
    df = spark.createDataFrame(rows, "id long, key long").repartition(7)
    order = ["key", "id"]
    got = {
        (r["key"], r["id"]): r["bucket"]
        for r in distributed_ntile(df, 13, order).collect()
    }
    ref = {
        (r["key"], r["id"]): r["nt"]
        for r in df.withColumn("nt", F.ntile(13).over(W.orderBy("key", "id"))).collect()
    }
    assert got == ref


def test_grouped_minmax_scale_exact_integers(spark):
    from incremental_datapipeline_using_snowflake_spark.ops.arrowops import (
        grouped_minmax_scale,
    )

    rows = [(1, "en", 10), (2, "en", 110), (3, "en", 60), (4, "de", 7), (5, "de", 7)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, n_chars long")
    got = {r["doc_id"]: r["scaled"] for r in grouped_minmax_scale(df, "lang", "n_chars").collect()}
    # en: min=10 max=110 denom=101 -> (0*1000)//101=0, (100*1000)//101=990, (50*1000)//101=495
    assert got[1] == 0 and got[2] == 990 and got[3] == 495
    # degenerate group (min == max) -> all zero, no div-by-zero
    assert got[4] == 0 and got[5] == 0


def test_repeated_passages_narrow_matches_wide(spark, sf_dir):
    """The two shuffle strategies (string-key single pass vs hash-key
    two-pass with string recovery) must produce identical ordered output
    on real documents."""
    from incremental_datapipeline_using_snowflake_spark.ops.dedup import repeated_passages
    from incremental_datapipeline_using_snowflake_spark.queries.util import load

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    wide = [tuple(r) for r in repeated_passages(docs, strategy="wide").collect()]
    narrow = [tuple(r) for r in repeated_passages(docs, strategy="narrow").collect()]
    assert wide == narrow
    assert len(wide) > 0


def test_ngram_union_survives_vocab_saturation(spark):
    """r05 scale fix: on a vocabulary-saturated corpus every anchor
    shingle's DF exceeds the cap, so anchor-only candidate generation
    silently finds NOTHING (the recall collapse scripts/scale_validation.py
    measured at 16x). MinHash-band candidates are similarity-driven, so the
    default 'union' strategy still recovers the planted duplicate pair."""
    from incremental_datapipeline_using_snowflake_spark.ops.dedup import ngram_jaccard_pairs

    base = " ".join(f"w{i % 4}" for i in range(30))  # 4-word vocab, all hot
    rows = [(i, base + f" uniq{i}a uniq{i}b") for i in range(30)]
    rows += [(100, base), (101, base)]  # planted exact pair, ALL shingles hot
    df = spark.createDataFrame(rows, "doc_id long, text string")

    anchor_only = ngram_jaccard_pairs(
        df, candidates="anchor", max_anchor_df=5
    ).collect()
    assert not any(
        (r["id_a"], r["id_b"]) == (100, 101) for r in anchor_only
    ), "hot-shingle pair should be invisible to capped anchors"

    union = ngram_jaccard_pairs(df, candidates="union", max_anchor_df=5).collect()
    found = {(r["id_a"], r["id_b"]): r["jaccard"] for r in union}
    assert found.get((100, 101)) == 1.0, f"union missed the planted pair: {sorted(found)[:5]}"


def test_ivf_auto_cells_scale_with_corpus(spark):
    """r05 scale fix: n_cells=None sizes the IVF quantizer at sqrt(n), so
    within-cell pair spaces stop growing quadratically (knn_graph measured
    alpha ~1.8 under fixed cells). The auto-scaled graph keeps the same
    output contract: top-k in-cell neighbors per vector."""
    from incremental_datapipeline_using_snowflake_spark.ops import similarity as S

    n = 900
    emb = spark.createDataFrame(
        [
            (i, [float((i * 37 + d * 11) % 101 - 50) / 10 for d in range(4)])
            for i in range(n)
        ],
        "vec_id long, embedding array<float>",
    )
    assert S.auto_n_cells(emb) == 30  # sqrt(900)
    g = S.knn_graph(emb, k=2, n_cells=None)
    rows = g.collect()
    per_src = {}
    for r in rows:
        per_src.setdefault(r["src_id"], []).append(r)
    assert len(per_src) > n * 0.9  # nearly every vector has in-cell neighbors
    assert all(len(v) <= 2 for v in per_src.values())
    # assignment used ~sqrt(n) cells, not the fixed 16
    assert g.select("cell").distinct().count() > 16


def test_knn_graph_lsh_contract_and_recall(spark):
    """knn_graph_lsh (the linear-scale kNN-graph path): per-source top-k
    contract holds, and on a clustered corpus multi-table LSH recovers the
    true nearest neighbor for most vectors (recall vs bruteforce)."""
    import math

    from incremental_datapipeline_using_snowflake_spark.ops import similarity as S

    # 20 tight clusters x 10 members in 8 dims
    rows = []
    for c in range(20):
        center = [math.sin(c * 1.7 + d) * 5 for d in range(8)]
        for m in range(10):
            rows.append(
                (c * 10 + m, [center[d] + ((c * 10 + m) % 7 - 3) * 0.05 for d in range(8)])
            )
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    g = {r["src_id"]: r for r in S.knn_graph_lsh(emb, k=1, n_tables=2).collect()}
    assert all(r["rank"] == 1 for r in g.values())

    bf = {
        r["query_id"]: r["nbr_id"]
        for r in S.bruteforce_topk(emb, emb, k=1).collect()
    }
    hits = sum(1 for i, r in g.items() if bf.get(i) == r["nbr_id"])
    assert len(g) >= 190  # nearly every vector found in-bucket company
    assert hits / len(g) >= 0.5, f"recall@1 {hits}/{len(g)}"


def test_triangle_counts_on_known_graph(spark):
    """Triangles on a hand-built graph: one 4-clique (every member in 3
    triangles), one open chain (no triangles)."""
    from incremental_datapipeline_using_snowflake_spark.ops.graph import triangle_counts

    edges = [(a, b) for a in range(4) for b in range(a + 1, 4)]  # K4
    edges += [(10, 11), (11, 12), (12, 13)]  # chain — triangle-free
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r["id"]: r["n_triangles"] for r in triangle_counts(df).collect()}
    assert got == {0: 3, 1: 3, 2: 3, 3: 3}  # C(3,2)=3 per K4 member; chain absent


def test_fuzzy_probe_join_thresholds(spark):
    """fuzzy_probe_join: distances computed exactly, threshold respected,
    length prune never drops a within-threshold match."""
    from incremental_datapipeline_using_snowflake_spark.ops.dedup import fuzzy_probe_join

    corpus = spark.createDataFrame(
        [(1, "spark"), (2, "spank"), (3, "sparkle"), (4, "duck")],
        "id long, name string",
    )
    probes = spark.createDataFrame([(100, "spark")], "probe_id long, probe_name string")
    got = {
        r["id"]: r["distance"]
        for r in fuzzy_probe_join(corpus, probes, max_distance=2).collect()
    }
    assert got == {1: 0, 2: 1, 3: 2}  # duck (distance 4) excluded


def test_validate_constraints_all_rule_kinds(spark):
    """ops.quality: every rule kind fires on planted violations, exact
    counts, deterministic unique/reference samples; assert_constraints
    raises with the offending rules listed."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from incremental_datapipeline_using_snowflake_spark.ops.quality import (
        Rules,
        assert_constraints,
        validate_constraints,
    )

    df = spark.createDataFrame(
        [(1, "a", 5.0, 10), (2, None, -1.0, 10), (3, "z", 2.0, 99), (3, "a", 3.0, 10)],
        "id long, cat string, v double, fk int",
    )
    dim = spark.createDataFrame([(10,), (20,)], "k int")
    rules = Rules(
        not_null=["cat"],
        unique=[["id"]],
        accepted_values={"cat": ["a", "b"]},
        ranges={"v": (0.0, None)},
        checks={"v_lt_100": F.col("v") < 100},
        references={"fk": (dim, "k")},
    )
    rep = {
        (r["rule"], r["column"]): r
        for r in validate_constraints(df, rules, id_col="id").collect()
    }
    assert rep[("not_null", "cat")]["n_violations"] == 1
    assert rep[("accepted_values", "cat")]["n_violations"] == 2
    assert rep[("range", "v")]["n_violations"] == 1
    assert rep[("check:v_lt_100", "")]["n_violations"] == 0
    assert rep[("unique", "id")]["n_violations"] == 1
    assert rep[("unique", "id")]["sample"] == ["3"]
    assert rep[("references", "fk")]["n_violations"] == 1
    assert rep[("references", "fk")]["sample"] == ["99"]

    with _pytest.raises(ValueError, match="unique\\(id\\)"):
        assert_constraints(df, rules, id_col="id")

    # a clean table passes the hard gate
    clean = spark.createDataFrame([(1, "a", 5.0, 10)], "id long, cat string, v double, fk int")
    assert_constraints(clean, rules, id_col="id")


def test_semantic_dedup_lsh_drops_planted_variants(spark):
    """The linear LSH SemDeDup (r06 production default) makes the same keep
    decisions as the IVF form on planted x1.001 variants: every variant is
    dropped (its lower-id twin shares every hyperplane sign), every
    original kept."""
    from incremental_datapipeline_using_snowflake_spark.ops.similarity import (
        semantic_dedup_keep_lsh,
    )

    import random

    rng = random.Random(42)
    base = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(40)]
    variants = [(i + 1000, [x * 1.001 for x in v]) for i, v in base if i % 4 == 0]
    df = spark.createDataFrame(base + variants, "vec_id long, embedding array<double>")
    rows = {
        r["id"]: r
        for r in semantic_dedup_keep_lsh(
            df, threshold=0.999, n_tables=2, n_planes=3
        ).collect()
    }
    assert len(rows) == len(base) + len(variants)  # every vector reported
    for i, _ in base:
        if i % 4 == 0:
            assert not rows[i + 1000]["keep"] and rows[i + 1000]["n_earlier_dups"] >= 1
            assert rows[i]["keep"]  # the original (lower id) survives
    # non-variant vectors are random directions — none within 0.999
    dropped = [i for i, r in rows.items() if not r["keep"]]
    assert sorted(dropped) == [i + 1000 for i, _ in base if i % 4 == 0]


def test_knn_graph_ivf2_nearest_is_scaled_twin(spark):
    """Two-level IVF k-NN (r06): a x1.01-scaled twin shares its original's
    coarse cell AND sub-cell (same direction), so the nearest neighbor of
    most originals is their twin — same recall contract as the one-level
    form at Theta(n^{4/3}) cost."""
    from incremental_datapipeline_using_snowflake_spark.ops.similarity import knn_graph_ivf2

    import random

    rng = random.Random(7)
    base = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(30)]
    twins = [(i + 100, [x * 1.01 for x in v]) for i, v in base[:10]]
    df = spark.createDataFrame(base + twins, "vec_id long, embedding array<double>")
    got = {r["src_id"]: r for r in knn_graph_ivf2(df, k=1, n_cells1=4, n_cells2=3).collect()}
    hits = sum(1 for i in range(10) if got.get(i) and got[i]["nbr_id"] == i + 100)
    assert hits >= 8  # cell-boundary misses possible, not the norm
    # every vector that got a neighbor reports exactly rank 1
    assert all(r["rank"] == 1 for r in got.values())


def test_incremental_embedding_pairs_batch_vs_corpus(spark):
    """r06: the embedding analogue of incremental minhash dedup — every
    planted batch variant pairs with its corpus original (is_corpus_pair),
    corpus rows never self-pair, and batch-internal near-dups are
    canonicalized id_a < id_b."""
    from incremental_datapipeline_using_snowflake_spark.ops.dedup import (
        incremental_embedding_pairs,
    )

    import random

    rng = random.Random(11)
    corpus_rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(40)]
    # batch: variants of corpus ids %4==0 plus one pair of mutual batch twins
    batch_rows = [
        (i + 1000, [x * 1.001 for x in v]) for i, v in corpus_rows if i % 4 == 0
    ]
    twin = [rng.uniform(-1, 1) for _ in range(8)]
    batch_rows += [(2000, twin), (2001, [x * 1.001 for x in twin])]
    corpus = spark.createDataFrame(corpus_rows, "vec_id long, embedding array<double>")
    batch = spark.createDataFrame(batch_rows, "vec_id long, embedding array<double>")
    got = incremental_embedding_pairs(
        batch, corpus, dim=8, threshold=0.999, n_tables=2, n_planes=3
    ).collect()
    corpus_pairs = {(r["id_a"], r["id_b"]) for r in got if r["is_corpus_pair"]}
    internal = {(r["id_a"], r["id_b"]) for r in got if not r["is_corpus_pair"]}
    # every variant found its original; batch id on the left
    assert {(i + 1000, i) for i, _ in corpus_rows if i % 4 == 0} <= corpus_pairs
    # the mutual batch twins appear once, canonicalized
    assert (2000, 2001) in internal
    assert all(a < b for a, b in internal)
    # corpus x corpus pairs are impossible by construction: id_a is a batch id
    batch_ids = {r[0] for r in batch_rows}
    assert all(r["id_a"] in batch_ids for r in got)


def test_ann_index_lifecycle_lossless_and_pruned(spark, tmp_path):
    """r06 index lifecycle: a stored IVF index reproduces the direct
    ivf_topk computation row-for-row, and the query-side scan is
    PARTITION-PRUNED to the probed cells (the plan carries partition
    filters on `cell` — not a full-scan + filter)."""
    from incremental_datapipeline_using_snowflake_spark.operators import TableStore
    from incremental_datapipeline_using_snowflake_spark.ops import similarity as S

    import random

    rng = random.Random(3)
    vecs = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(120)]
    corpus = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    store = TableStore(root=str(tmp_path))
    meta = S.build_ivf_index(spark, store, corpus, "idx.t", n_cells=8)
    assert meta == {"n_cells": 8, "n_vectors": 120}

    queries = corpus.filter("vec_id < 4")
    via_index = S.query_ivf_index(spark, store, "idx.t", queries, k=3, n_probe=2)
    direct = S.ivf_topk(corpus, query_ids=[0, 1, 2, 3], k=3, n_cells=8, n_probe=2)
    a = sorted(tuple(r) for r in via_index.collect())
    b = sorted(tuple(r) for r in direct.collect())
    assert a == b and len(a) > 0

    plan = via_index._jdf.queryExecution().executedPlan().toString()
    # the assignment scan must prune on the partition column
    assert "PartitionFilters" in plan
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln and "cell" in ln]
    assert pf, plan


def test_ann_index_incremental_append(spark, tmp_path):
    """r06: appending a batch to a stored IVF index assigns against the
    FROZEN centroids and lands in the cell partitions; queries immediately
    see the new vectors (a planted near-twin of a query vector becomes its
    top neighbor only after the append)."""
    from incremental_datapipeline_using_snowflake_spark.operators import TableStore
    from incremental_datapipeline_using_snowflake_spark.ops import similarity as S

    import random

    rng = random.Random(5)
    vecs = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(100)]
    corpus = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    store = TableStore(root=str(tmp_path))
    S.build_ivf_index(spark, store, corpus, "idx.t", n_cells=8)

    queries = corpus.filter("vec_id = 0")
    before = {r["nbr_id"] for r in S.query_ivf_index(spark, store, "idx.t", queries, k=3).collect()}

    twin = [(500, [x * 1.001 for x in vecs[0][1]])]
    n = S.append_to_ivf_index(
        spark, store,
        spark.createDataFrame(twin, "vec_id long, embedding array<double>"),
        "idx.t",
    )
    assert n == 1
    after = S.query_ivf_index(spark, store, "idx.t", queries, k=3).collect()
    assert 500 not in before
    assert after[0]["nbr_id"] == 500 and after[0]["rank"] == 1  # twin is top-1


def test_hashed_classifier_margin_exact(spark, docs):
    """r06: hashing-trick linear inference — integer margins reproduce a
    pure-Python reimplementation bit-for-bit, and the plan is a per-row
    fold with ZERO exchanges (no explode, no vocabulary relation)."""

    def md5_long(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    res = X.hashed_classifier(docs, n_features=64, seed=3)
    out = {r["doc_id"]: r for r in res.collect()}
    for doc_id, text in DOCS:
        ws = [w for w in text.lower().split() if w]
        margin = sum(
            md5_long(f"clf3_{md5_long(w) % 64}") % 2001 - 1000 for w in ws
        )
        assert out[doc_id]["margin"] == margin
        assert out[doc_id]["n_terms"] == len(ws)
        assert out[doc_id]["keep"] == (margin > 0)
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_hashed_nb_train_score(spark, docs):
    """r06: hashed Naive Bayes — trained on doc 4 (German) vs rest, the
    German doc scores positive log-likelihood ratio and the English docs
    negative; the model is a feature-bounded integer-count relation."""
    labeled = docs.withColumn("label", F.col("doc_id") == 4)
    model = X.train_hashed_nb(labeled, n_features=128)
    assert model.count() <= 128
    tot = model.agg(F.sum("c_pos"), F.sum("c_neg")).first()
    n_words = sum(len(t.split()) for _, t in DOCS)
    assert tot[0] + tot[1] == n_words  # every token counted exactly once
    out = {r["doc_id"]: r["llr"] for r in X.score_hashed_nb(docs, model, n_features=128).collect()}
    assert out[4] > 0  # the positive-class doc
    assert out[1] < 0 and out[5] < 0  # negative-class docs


def test_gram_matrix_exact_and_whitening_roundtrip(spark):
    """r06: distributed Gram equals the single-node quantized X^T X
    bit-for-bit, and drives the intended whitening flow (driver-side eigh
    of the d×d result)."""
    import numpy as np

    rng = np.random.default_rng(9)
    X = rng.uniform(-1, 1, size=(300, 8)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(len(X))],
        "vec_id long, embedding array<float>",
    )
    out = S.gram_matrix(df, dim=8, quant=1000).collect()
    Xq = np.floor(X.astype(np.float64) * 1000 + 0.5).astype(np.int64)
    G = Xq.T @ Xq
    assert len(out) == 8 * 9 // 2
    for r in out:
        assert r["g"] == G[r["i"] - 1, r["j"] - 1], (r, G[r["i"] - 1, r["j"] - 1])
    # whitening flow: rebuild the symmetric matrix, eigh must succeed with
    # positive spectrum (full-rank random data)
    M = np.zeros((8, 8))
    for r in out:
        M[r["i"] - 1, r["j"] - 1] = r["g"]
        M[r["j"] - 1, r["i"] - 1] = r["g"]
    vals = np.linalg.eigvalsh(M)
    assert (vals > 0).all()


def test_pca_projection_matches_numpy(spark):
    """r06: distributed-Gram PCA — projections equal numpy's X @ W for the
    same quantized Gram's eigenvectors (sign-fixed), and component variance
    is non-increasing."""
    import numpy as np

    rng = np.random.default_rng(21)
    # anisotropic data so the spectrum is well separated
    X = (rng.normal(size=(400, 6)) * np.array([5, 3, 2, 1, 0.5, 0.1])).astype(
        np.float32
    )
    df = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(len(X))],
        "vec_id long, embedding array<float>",
    )
    out = S.pca_projection(df, dim=6, k=3, quant=1000)
    rows = {r["vec_id"]: [r["pc1"], r["pc2"], r["pc3"]] for r in out.collect()}

    Xq = np.floor(X.astype(np.float64) * 1000 + 0.5).astype(np.int64)
    G = Xq.T @ Xq
    vals, vecs = np.linalg.eigh(G.astype(np.float64))
    order = np.argsort(vals)[::-1][:3]
    W = vecs[:, order].copy()
    for c in range(3):
        j = int(np.argmax(np.abs(W[:, c])))
        if W[j, c] < 0:
            W[:, c] = -W[:, c]
    P = X.astype(np.float64) @ W
    got = np.array([rows[i] for i in range(len(X))])
    assert np.allclose(got, P, atol=1e-9)
    v = got.var(axis=0)
    assert v[0] >= v[1] >= v[2]


def test_weighted_sample_k_deterministic_and_biased(spark):
    """r06: A-ES weighted sampling — matches a pure-Python replay of the
    md5 key order, and weight-1000 rows dominate a mixed pool."""
    import math

    from incremental_datapipeline_using_snowflake_spark.ops.sampling import (
        WS_MOD,
        weighted_sample_k,
    )

    def md5_long(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    rows = [(i, 1000.0 if i < 20 else 1.0) for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, w double")
    got = [
        r["doc_id"]
        for r in weighted_sample_k(df, 10, "w").orderBy("sample_rank").collect()
    ]

    def key(i, w):
        u = (md5_long(f"wsample:{i}") % WS_MOD + 1) / float(WS_MOD + 1)
        return (-math.log(u) / w, i)

    expect = [i for i, w in sorted(rows, key=lambda r: key(*r))[:10]]
    assert got == expect
    assert sum(1 for i in got if i < 20) >= 8  # heavy weights dominate
    # rerun -> identical (no RNG state)
    again = [
        r["doc_id"]
        for r in weighted_sample_k(df, 10, "w").orderBy("sample_rank").collect()
    ]
    assert again == got


def test_weighted_sample_k_rejects_bad_weights(spark):
    """r07 (ADVICE): NULL/zero/negative weights would rank FIRST under the
    ascending A-ES key order (always-sampled instead of failing) — the op
    must fail loudly instead."""
    import pytest as _pytest

    from incremental_datapipeline_using_snowflake_spark.ops.sampling import weighted_sample_k

    for bad in [0.0, -3.0, None]:
        rows = [(1, 5.0), (2, 4.0), (3, bad)]
        df = spark.createDataFrame(rows, "doc_id long, w double")
        with _pytest.raises(Exception, match="weighted_sample_k"):
            weighted_sample_k(df, 2, "w").collect()


def test_clustering_coefficients_triangle_vs_chain(spark):
    """r06: local cc separates a clique (cc=1 everywhere) from a chain
    (cc=0 at the middle node); degree-1 endpoints are excluded."""
    from incremental_datapipeline_using_snowflake_spark.ops.graph import (
        clustering_coefficients,
    )

    # triangle 1-2-3 plus chain 10-11-12
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (10, 11), (11, 12)], "id_a long, id_b long"
    )
    out = {r["id"]: r for r in clustering_coefficients(pairs).collect()}
    for n in (1, 2, 3):
        assert out[n]["degree"] == 2 and out[n]["n_triangles"] == 1
        assert out[n]["cc_ppm"] == 1_000_000
    assert out[11]["degree"] == 2 and out[11]["cc_ppm"] == 0
    assert 10 not in out and 12 not in out  # degree 1: cc undefined


def test_text_knn_finds_near_duplicate(spark, docs):
    """r06: hashing-vectorizer kNN — the exact duplicate of doc 1 is its
    top neighbor at cosine 1.0; the near-dup ranks above unrelated text."""
    from incremental_datapipeline_using_snowflake_spark.ops.textprep import (
        sparse_hash_vectors,
        text_knn,
    )

    out = sorted(text_knn(docs, probe_ids=[1], k=4, dim=128).collect(), key=lambda r: r["rank"])
    ranked = [r["nbr_id"] for r in out]
    assert ranked[0] == 2 and out[0]["cosine"] == 1.0  # exact dup
    assert ranked.index(3) < ranked.index(5)  # near-dup beats unrelated
    # sparse relation: val sums signed counts; 'the' appears 3x in doc 1
    v = sparse_hash_vectors(docs.filter("doc_id = 1"), dim=128)
    assert {abs(r["val"]) for r in v.collect()} >= {1, 3}


def test_compression_ratio_separates_repetition(spark):
    """r06: the compressibility signal — boilerplate repetition compresses
    far below varied prose; ratios are exact against a local zlib replay."""
    import zlib

    rows = [
        (1, "the same line repeats " * 50),
        (2, "Entropy varies: quartz jackdaws vex my big sphinx 1974 @ once."),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in X.compression_ratio(df).collect()}
    for i, t in rows:
        raw = t.encode()
        comp = zlib.compress(raw, 6)
        assert out[i]["raw_bytes"] == len(raw)
        assert out[i]["compressed_bytes"] == len(comp)
        assert out[i]["ratio_ppm"] == int(len(comp) / len(raw) * 1e6 + 0.5)
    assert out[1]["ratio_ppm"] < 100_000  # heavy repetition
    assert out[2]["ratio_ppm"] > 500_000  # varied prose


# ---------------------------------------------------------------------------
# Bloom-filter corpus membership (r07)
# ---------------------------------------------------------------------------


def test_bloom_no_false_negatives_and_fp_envelope(spark):
    """Every planted member is flagged maybe_member (the hard Bloom
    guarantee), and the false-positive rate over planted non-members stays
    within 3x the theoretical envelope for 16 bits/member, k=5."""
    corpus = spark.createDataFrame(
        [(i, f"corpus document number {i} about topic {i % 17}") for i in range(400)],
        "doc_id long, text string",
    )
    members = spark.createDataFrame(
        [(10000 + i, f"corpus document number {i} about topic {i % 17}")
         for i in range(0, 400, 4)],
        "doc_id long, text string",
    )
    novel = spark.createDataFrame(
        [(20000 + i, f"novel probe text {i} never ingested") for i in range(2000)],
        "doc_id long, text string",
    )
    out = {
        r["id"]: (r["maybe_member"], r["is_corpus_dup"])
        for r in D.incremental_exact_dedup_bloom(
            members.unionByName(novel), corpus
        ).collect()
    }
    for i in range(0, 400, 4):  # members: flagged AND exactly confirmed
        assert out[10000 + i] == (True, True)
    fps = sum(1 for i in range(2000) if out[20000 + i][0])
    assert all(not out[20000 + i][1] for i in range(2000))  # exact verdict never lies
    # theoretical p = (1 - e^(-k/16))^k ~= 0.0014 -> 3x envelope on 2000 probes
    assert fps <= max(3 * 0.0014 * 2000, 12)


def test_bloom_mergeable_by_bit_or(spark):
    """bit_or-merging two half-corpus sketches equals the union sketch —
    the append-without-rebuild property the persisted form relies on."""
    fps_a = spark.createDataFrame([(f"fp{i}",) for i in range(100)], "fp string")
    fps_b = spark.createDataFrame([(f"fp{i}",) for i in range(100, 200)], "fp string")
    m = D.bloom_m_bits(200)
    merged = (
        D.fingerprint_bloom(fps_a, m)
        .unionByName(D.fingerprint_bloom(fps_b, m))
        .groupBy("word")
        .agg(F.bit_or("bits").alias("bits"))
    )
    union = D.fingerprint_bloom(fps_a.unionByName(fps_b), m)
    assert sorted(map(tuple, merged.collect())) == sorted(map(tuple, union.collect()))


def test_bloom_fast_path_skips_corpus_scan(spark):
    """The definitely-new branch never references the corpus relation: with
    a precomputed sketch, the plan for an all-novel batch resolved through
    the fast-path filter contains no join against corpus fingerprints."""
    corpus = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(50)], "doc_id long, text string"
    )
    m = D.bloom_m_bits(50)
    corp_fp = corpus.select(F.md5("text").alias("fp")).distinct()
    bloom = D.fingerprint_bloom(corp_fp, m).cache()
    bloom.count()
    batch = spark.createDataFrame(
        [(1000 + i, f"unseen {i}") for i in range(20)], "doc_id long, text string"
    )
    batch_fp = batch.select(F.col("doc_id").alias("id"), F.md5("text").alias("fp"))
    probed = D.bloom_maybe_member(batch_fp, bloom, m)
    rows = probed.collect()
    # the probe itself touched only the 20-row batch and the word table
    assert len(rows) == 20
    novel = [r["id"] for r in rows if not r["maybe_member"]]
    assert len(novel) >= 19  # at most the fp envelope leaks into the slow path


def test_bpe_train_classic_corpus_and_greedy_merge(spark):
    """Sennrich-style corpus with a known merge sequence, plus the greedy
    left-to-right pin: 'aaaa' under merge (a,a) yields [aa, aa], never the
    overlapping [a, aa, a] split."""
    from incremental_datapipeline_using_snowflake_spark.ops.textprep import bpe_train

    df = spark.createDataFrame(
        [(1, "low low low low low lower lower newest newest newest "
             "newest newest newest widest widest widest")],
        "doc_id long, text string",
    )
    got = [
        (r["merge_rank"], r["lhs"], r["rhs"], r["merged"], r["n"])
        for r in bpe_train(df, n_merges=4).orderBy("merge_rank").collect()
    ]
    # es: 6 (newest) + 3 (widest) = 9; est: 9; counts then 'lo' = 7
    assert got[0] == (1, "e", "s", "es", 9)
    assert got[1] == (2, "es", "t", "est", 9)
    assert got[2] == (3, "l", "o", "lo", 7)
    assert got[3] == (4, "lo", "w", "low", 7)

    df2 = spark.createDataFrame([(1, "aaaa aaaa aa")], "doc_id long, text string")
    m = bpe_train(df2, n_merges=2).orderBy("merge_rank").collect()
    # round 1: pairs in 'aaaa' = 3 aa votes x2 words + 1 in 'aa' -> (a,a) n=7
    assert (m[0]["merged"], m[0]["n"]) == ("aa", 7)
    # round 2: words are [aa,aa] x2 and [aa] -> pair (aa,aa) n=2, proving
    # greedy non-overlapping application in round 1
    assert (m[1]["lhs"], m[1]["rhs"], m[1]["n"]) == ("aa", "aa", 2)


def test_decontaminate_ngram_verbatim_spans_only(spark):
    """Only exact k-word spans count: a (k-1)-word overlap stays clean;
    multiple span positions and repeated occurrences are both counted."""
    from incremental_datapipeline_using_snowflake_spark.ops.dedup import (
        decontaminate_ngram,
    )

    b = [f"b{i}" for i in range(1, 11)]  # 10-word bench doc
    bench = spark.createDataFrame(
        [(900, " ".join(b))], "doc_id long, text string"
    )
    corpus = spark.createDataFrame(
        [
            (1, "x1 x2 " + " ".join(b[1:9]) + " x3"),          # span b2..b9
            (2, " ".join(b[0:7]) + " y1 y2 y3 y4"),            # only 7 shared
            (3, " ".join(b)),                                   # all 3 windows
            (4, " ".join(b[1:9]) + " z1 z2 " + " ".join(b[1:9])),  # 1 window, 2 hits
            (5, "clean words only nothing shared here at all"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_shared_windows"], r["n_hit_positions"])
        for r in decontaminate_ngram(corpus, bench, k=8).collect()
    }
    assert got == {1: (1, 1), 3: (3, 3), 4: (1, 2)}


def test_url_normalize_and_dedup_decisions(spark):
    from incremental_datapipeline_using_snowflake_spark.ops.urls import (
        url_dedup_decisions,
        url_normalize,
    )

    df = spark.createDataFrame(
        [
            (1, "http://Example.COM/a/b"),
            (2, "HTTP://example.com:80/a/b/#frag"),          # = 1
            (3, "https://example.com:443/a/b?utm_source=x"), # https != http
            (4, "http://example.com/a/b?b=2&a=1&utm_campaign=y&fbclid=z"),
            (5, "http://example.com/a/b?a=1&b=2"),           # = 4 (sorted params)
            (6, "http://example.com"),                       # bare host -> '/'
            (7, "http://example.com/"),                      # = 6
            (8, "http://example.com:443/a/b"),               # cross-scheme port KEPT
            (9, "https://example.com:80/a/b"),               # cross-scheme port KEPT
        ],
        "doc_id long, url string",
    )
    norm = {r["doc_id"]: r["n"] for r in df.select("doc_id", url_normalize("url").alias("n")).collect()}
    assert norm[1] == norm[2] == "http://example.com/a/b"
    assert norm[3] == "https://example.com/a/b"
    assert norm[4] == norm[5] == "http://example.com/a/b?a=1&b=2"
    assert norm[6] == norm[7] == "http://example.com/"
    # a port that is NOT the scheme's default names a distinct origin and
    # must survive canonicalization (http://h:443 != http://h)
    assert norm[8] == "http://example.com:443/a/b"
    assert norm[9] == "https://example.com:80/a/b"
    keep = {r["doc_id"]: r["keep"] for r in url_dedup_decisions(df).collect()}
    assert keep == {1: True, 2: False, 3: True, 4: True, 5: False, 6: True, 7: False,
                    8: True, 9: True}


def test_bpe_encode_applies_merges_in_rank_order(spark):
    from incremental_datapipeline_using_snowflake_spark.ops.textprep import bpe_encode

    df = spark.createDataFrame(
        [(1, "lowest low"), (2, "ow")], "doc_id long, text string"
    )
    # merges: (l,o)->lo, (lo,w)->low : 'lowest' -> [low,e,s,t], 'low' -> [low]
    got = {
        r["doc_id"]: (r["n_tokens"], r["tokens_fp"])
        for r in bpe_encode(df, [("l", "o"), ("lo", "w")]).collect()
    }
    import hashlib

    fp1 = hashlib.md5("low e s t low".encode()).hexdigest()
    fp2 = hashlib.md5("o w".encode()).hexdigest()  # no 'l' -> merges no-op
    assert got[1] == (5, fp1)
    assert got[2] == (2, fp2)


def test_epoch_shuffle_reproducible_per_epoch(spark):
    from incremental_datapipeline_using_snowflake_spark.ops.sampling import epoch_shuffle

    df = spark.createDataFrame([(i,) for i in range(200)], "doc_id long")
    a = [(r["shard"], r["shard_rank"], r["doc_id"])
         for r in epoch_shuffle(df, 1, n_shards=4).orderBy("shard", "shard_rank").collect()]
    b = [(r["shard"], r["shard_rank"], r["doc_id"])
         for r in epoch_shuffle(df, 1, n_shards=4).orderBy("shard", "shard_rank").collect()]
    c = [(r["shard"], r["shard_rank"], r["doc_id"])
         for r in epoch_shuffle(df, 2, n_shards=4).orderBy("shard", "shard_rank").collect()]
    assert a == b                      # same epoch -> identical order
    assert a != c                      # new epoch -> reshuffled
    assert {x[2] for x in a} == set(range(200))  # complete, no dup/loss
    ranks = {}
    for sh, rk, _ in a:
        ranks.setdefault(sh, []).append(rk)
    assert all(v == list(range(1, len(v) + 1)) for v in ranks.values())


def test_lsh_plan_scurve_midpoint_tracks_threshold(spark):
    from incremental_datapipeline_using_snowflake_spark.ops.dedup import lsh_plan

    import pytest as _pytest

    for t in (0.3, 0.5, 0.8):
        b, r = lsh_plan(t, 32)
        assert b * r <= 32
        # the S-curve's 50%-collision point should land near the threshold
        mid = (1.0 / b) ** (1.0 / r)
        assert abs(mid - t) < 0.15, (t, b, r, mid)
    # steeper thresholds need more rows per band
    assert lsh_plan(0.8, 32)[1] > lsh_plan(0.3, 32)[1]
    with _pytest.raises(ValueError, match="threshold"):
        lsh_plan(1.5)


def test_mine_hard_negatives_excludes_positives(spark):
    from incremental_datapipeline_using_snowflake_spark.ops.similarity import (
        mine_hard_negatives,
    )

    # anchors 0,1 point along axes; vec 10 is a near-miss of anchor 0,
    # vec 11 of anchor 1; vec 1 (a positive) is even closer to 0 but must
    # never be returned as a negative
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),        # positive, very close to anchor 0
        (10, [0.8, 0.0, 0.2]),       # hard negative for 0
        (11, [0.7, 0.3, 0.0]),       # hard negative for 1 (and 0)
        (12, [0.0, 0.0, 1.0]),       # easy negative
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        (r["query_id"], r["rank"]): r["nbr_id"]
        for r in mine_hard_negatives(df, [0, 1], k=2).collect()
    }
    assert {q for q, _ in got} == {0, 1}
    assert 1 not in got.values() and 0 not in got.values()  # positives excluded
    # anchor 0: cos(10)=0.970 > cos(11)=0.919; anchor 1: cos(10)=0.964 > cos(11)=0.957
    assert got[(0, 1)] == 10 and got[(1, 1)] == 10
    assert got[(0, 2)] == 11 and got[(1, 2)] == 11


def test_mine_hard_negatives_ivf_recall_envelope(spark):
    """r08: the IVF-indexed miner (a) never returns a positive, (b) finds
    the SAME top negative as the exact form for a deterministic clustered
    fixture (a hard negative shares its anchor's cell by construction),
    and (c) holds a recall@k envelope vs exact over the whole fixture —
    the ann_recall_eval pattern applied to mining."""
    import math

    from incremental_datapipeline_using_snowflake_spark.ops.similarity import (
        mine_hard_negatives,
        mine_hard_negatives_ivf,
    )

    # 4 well-separated direction clusters x 24 vectors; ids interleave so
    # seed centroids (lowest ids) cover all clusters
    base = [(1.0, 0.0, 0.0), (0.0, 1.0, 0.0), (0.0, 0.0, 1.0),
            (0.6, 0.6, 0.2)]
    rows = []
    for i in range(96):
        b = base[i % 4]
        eps = 0.02 * ((i // 4) % 5)
        rows.append((i, [b[0] + eps, b[1] + eps / 2, b[2]]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pos = [0, 1, 2, 3]
    exact = {
        (r["query_id"], r["nbr_id"])
        for r in mine_hard_negatives(df, pos, k=4, method="exact").collect()
    }
    approx_rows = mine_hard_negatives_ivf(df, pos, k=4, n_cells=8, n_probe=3).collect()
    approx = {(r["query_id"], r["nbr_id"]) for r in approx_rows}
    assert not {n for _, n in approx} & set(pos)      # no positive leaks
    assert {q for q, _ in approx} == set(pos)          # every anchor served
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.75, f"IVF mining recall {recall:.2f} below envelope"
    # the hardest negative (same-cluster near-twin) is never missed: for
    # each anchor the exact rank-1 neighbor appears in the IVF result
    exact_top = {
        r["query_id"]: r["nbr_id"]
        for r in mine_hard_negatives(df, pos, k=1, method="exact").collect()
    }
    for q, n in exact_top.items():
        assert (q, n) in approx, f"anchor {q} lost its hardest negative {n}"
    assert all(not math.isnan(r["cosine"]) for r in approx_rows)


def test_html_to_text_extraction(spark):
    """r08: script/style/comment content drops ENTIRELY (including fake
    close-tags inside JS strings), block boundaries become newlines so
    words never concatenate across blocks, entities decode in the right
    order (&amp;lt; -> literal '&lt;'), whitespace collapses, and an
    all-markup page extracts to ''."""
    from incremental_datapipeline_using_snowflake_spark.ops.html import (
        extract_html_documents,
        html_to_text,
    )
    from pyspark.sql import functions as F

    page = (
        '<html><head><script>if (a < b) { s = "</div>"; }</script>'
        "<style>.x{}</style></head><body><!-- hidden -->"
        "<h1>Title</h1><p>Hello &amp; welcome</p>"
        "<div>line1</div><div>line2</div>"
        "<ul><li>one</li><li>two&nbsp;three</li></ul>"
        "<p>escaped: &amp;lt; stays</p><br/>tail</body></html>"
    )
    df = spark.createDataFrame([(1, page), (2, "<p></p><script>x</script>")],
                               "doc_id long, html string")
    got = {r["doc_id"]: r for r in extract_html_documents(df).collect()}
    text = got[1]["text"]
    lines = text.split("\n")
    assert lines[0] == "Title"
    assert "Hello & welcome" in lines
    assert "line1" in lines and "line2" in lines  # blocks never concatenate
    assert "one" in lines and "two three" in lines
    assert "escaped: &lt; stays" in lines          # &amp;lt; -> literal &lt;
    assert "</div>" not in text and ".x{}" not in text and "hidden" not in text
    assert text.endswith("tail")
    assert got[1]["n_chars_text"] == len(text)
    assert got[2]["text"] == ""                    # gate owns the drop
    # idempotent on plain text (no tags, nothing to strip)
    row = spark.createDataFrame([("just words here",)], "h string").select(
        html_to_text("h").alias("t")
    ).collect()[0]
    assert row["t"] == "just words here"


def test_rrf_fuse_hybrid_ranking(spark):
    """r08: reciprocal-rank fusion — a doc ranked by BOTH lists beats a
    doc that tops only one (1/61+1/62 > 1/61), absence contributes
    nothing, ties break by id, and `top` cuts after fusing."""
    from incremental_datapipeline_using_snowflake_spark.ops.textprep import rrf_fuse

    lex = spark.createDataFrame([(10, 1), (20, 2), (30, 3)], "doc_id long, rank long")
    sem = spark.createDataFrame([(20, 1), (40, 2), (10, 3)], "doc_id long, rank long")
    out = {r["doc_id"]: r for r in rrf_fuse({"lex": lex, "sem": sem}).collect()}
    assert out[20]["n_lists"] == 2 and out[30]["n_lists"] == 1
    # 20: 1/62+1/61; 10: 1/61+1/63 -> 20 first, 10 second
    assert out[20]["rank"] == 1 and out[10]["rank"] == 2
    assert round(out[20]["rrf"], 6) == round(1 / 62 + 1 / 61, 6)
    # single-list docs rank below any double-list doc here
    assert out[30]["rank"] > 2 and out[40]["rank"] > 2
    # ties (same single-list rank) break by id: 30@rank3? no — 40@rank2
    # in sem (1/62) beats 30@rank3 in lex (1/63)
    assert out[40]["rank"] < out[30]["rank"]
    top2 = rrf_fuse({"lex": lex, "sem": sem}, top=2).collect()
    assert {r["doc_id"] for r in top2} == {20, 10}
    import pytest as _pytest

    with _pytest.raises(ValueError, match="at least one"):
        rrf_fuse({})


def test_leakage_safe_split_keeps_clusters_together(spark):
    """r08: every member of a near-dup cluster lands in the SAME split
    (the whole point — plain per-doc hashing strands paraphrases across
    train/eval), singletons hash independently, and the result covers
    every input doc exactly once."""
    from incremental_datapipeline_using_snowflake_spark.ops.sampling import (
        leakage_safe_split,
        split_column,
    )

    docs = spark.createDataFrame(
        [(i,) for i in range(200)], "doc_id long"
    )
    # clusters: {0..9} chained, {50, 150}, rest singletons
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(9)] + [(50, 150)],
        "id_a long, id_b long",
    )
    out = leakage_safe_split(docs, pairs).collect()
    assert len(out) == 200 and len({r["doc_id"] for r in out}) == 200
    by_id = {r["doc_id"]: r for r in out}
    # whole chain shares group 0 and ONE split
    assert {by_id[i]["group_id"] for i in range(10)} == {0}
    assert len({by_id[i]["split"] for i in range(10)}) == 1
    assert by_id[50]["split"] == by_id[150]["split"]
    # singleton groups = own id
    assert by_id[42]["group_id"] == 42
    # the hazard is real: plain per-doc hashing DOES strand chain members
    # in different splits (50/50 weights make the fixture deterministic —
    # the 10 chained ids hash to both sides), while the cluster-keyed
    # assignment above kept them together under the same weights
    half = {"a": 0.5, "b": 0.5}
    plain = {
        r["doc_id"]: r["split"]
        for r in docs.withColumn("split", split_column("doc_id", half)).collect()
    }
    assert len({plain[i] for i in range(10)}) > 1
    safe = {
        r["doc_id"]: r["split"]
        for r in leakage_safe_split(docs, pairs, weights=half).collect()
    }
    assert len({safe[i] for i in range(10)}) == 1
    # ratios roughly hold over groups (191 groups, train=0.9)
    n_train = sum(1 for r in out if r["split"] == "train")
    assert n_train > 120


def test_normalize_text_strips_noise_preserves_case(spark):
    from pyspark.sql import functions as F

    from incremental_datapipeline_using_snowflake_spark.ops.text import (
        normalize_documents,
        normalize_text,
    )

    rows = [
        (1, "Hello​   World\r\n"),   # ZWSP + NBSP + CRLF
        (2, "Hello World"),                     # already clean
        (3, "\t\t  　 "),                   # whitespace-only -> empty
        (4, "café \x07bell"),              # control char; é KEPT
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["n"]
           for r in df.select("doc_id", normalize_text("text").alias("n")).collect()}
    assert got[1] == "Hello World" == got[2]
    assert got[3] == ""
    assert got[4] == "café bell"   # no case folding, no transliteration
    rep = {r["id"]: (r["changed"], r["norm_fp"])
           for r in normalize_documents(df).collect()}
    assert rep[1][0] is True and rep[2][0] is False
    assert rep[1][1] == rep[2][1]       # noise variants converge to one fp


def test_trained_lid_separates_where_stopword_heuristic_cannot(spark):
    """r09 (verdict ask #5): the trained char-ngram NB classifies held-out
    multilingual docs — including a language with NO stopword list (pt),
    where the heuristic lang_id can only answer 'und' or misfire."""
    from pyspark.sql import functions as F

    from incremental_datapipeline_using_snowflake_spark.ops.text import (
        char_ngrams,
        lang_id,
        score_char_lid,
        train_char_lid,
    )

    train_rows = [
        ("en", "the quick brown fox jumps over the lazy dog in the morning light"),
        ("en", "you should know that it is for the best and that the answer is here"),
        ("en", "this is the story of the people who lived in that quiet town"),
        ("de", "der schnelle braune fuchs springt nicht über den faulen hund im wald"),
        ("de", "ich weiß dass es für dich das beste ist und die antwort hier liegt"),
        ("de", "das ist die geschichte der menschen die in dieser stillen stadt wohnten"),
        ("es", "el rápido zorro marrón salta sobre el perro perezoso por la mañana"),
        ("es", "deberías saber que es lo mejor para ti y que la respuesta está aquí"),
        ("es", "esta es la historia de la gente que vivía en aquel pueblo tranquilo"),
        ("pt", "a rápida raposa marrom salta sobre o cão preguiçoso pela manhã cedo"),
        ("pt", "você deveria saber que é o melhor para você e que a resposta está aqui"),
        ("pt", "esta é a história das pessoas que moravam naquela cidade tranquila"),
    ]
    train = spark.createDataFrame(
        [(i, lg, t) for i, (lg, t) in enumerate(train_rows)],
        "doc_id long, lang string, text string",
    )
    held_out = spark.createDataFrame(
        [
            (100, "en", "the dog and the fox know that the town is quiet in the morning"),
            (101, "de", "der hund und der fuchs wissen dass die stadt am morgen still ist"),
            (102, "es", "el perro y el zorro saben que el pueblo está tranquilo por la mañana"),
            (103, "pt", "o cão e a raposa sabem que a cidade está tranquila pela manhã"),
        ],
        "doc_id long, lang string, text string",
    )
    model = train_char_lid(train)
    got = {
        r["doc_id"]: r["pred_lang"]
        for r in score_char_lid(held_out, model).collect()
    }
    assert got == {100: "en", 101: "de", 102: "es", 103: "pt"}

    # the stopword heuristic CANNOT answer 'pt' (no list) — on the pt doc it
    # returns 'und' or a wrong language; the trained model above got it right
    heur = {
        r["doc_id"]: r["h"]
        for r in held_out.select("doc_id", lang_id("text").alias("h")).collect()
    }
    assert heur[103] != "pt"

    # char_ngrams edge: shorter-than-n text yields an EMPTY array, not a
    # descending-sequence artifact
    row = spark.createDataFrame([("ab",), ("abc",)], "text string").select(
        char_ngrams("text").alias("g")
    ).collect()
    assert row[0]["g"] == [] and row[1]["g"] == ["abc"]


def test_lid_margin_routes_ambiguous_docs_to_unknown(spark):
    """r10 (verdict ask #2): confidence banding — a clean single-language
    doc routes to its language with a wide top1−top2 margin; a planted
    50/50 code-switched doc scores a NARROW margin and routes to
    'unknown'; a sub-LID_MIN_GRAMS fragment routes to 'unknown' on the
    evidence gate regardless of margin. The argmax alone force-labels all
    three — the margin is what tells them apart (CCNet's filter step)."""
    from incremental_datapipeline_using_snowflake_spark.ops.text import (
        LID_MIN_GRAMS,
        LID_MIN_MARGIN_PPG,
        route_lid_unknown,
        score_char_lid,
        train_char_lid,
    )

    train_rows = [
        ("en", "the quick brown fox jumps over the lazy dog in the morning light"),
        ("en", "you should know that it is for the best and that the answer is here"),
        ("en", "this is the story of the people who lived in that quiet town"),
        ("de", "der schnelle braune fuchs springt nicht über den faulen hund im wald"),
        ("de", "ich weiß dass es für dich das beste ist und die antwort hier liegt"),
        ("de", "das ist die geschichte der menschen die in dieser stillen stadt wohnten"),
    ]
    train = spark.createDataFrame(
        [(i, lg, t) for i, (lg, t) in enumerate(train_rows)],
        "doc_id long, lang string, text string",
    )
    clean_en = "the dog and the fox know that the town is quiet in the morning"
    clean_de = "der hund und der fuchs wissen dass die stadt am morgen still ist"
    score_rows = [
        (100, clean_en),
        (101, clean_de),
        (102, clean_en + " " + clean_de),  # 50/50 code-switched
        (103, "the dog"),  # 7 chars -> 5 grams < LID_MIN_GRAMS
    ]
    probe = spark.createDataFrame(score_rows, "doc_id long, text string")
    model = train_char_lid(train)
    # threshold is a per-deployment calibration (CCNet tunes its fastText
    # cutoff the same way): on this model the clean docs score >=360k ppg
    # and the 50/50 mix collapses to ~175k — 250k sits between
    thr = 250_000
    out = {
        r["doc_id"]: r
        for r in route_lid_unknown(
            score_char_lid(probe, model, margin=True), min_margin_ppg=thr
        ).collect()
    }
    # clean docs: labeled, margins clear the threshold comfortably
    assert out[100]["lid_lang"] == "en" and out[101]["lid_lang"] == "de"
    assert out[100]["margin_ppg"] >= thr
    assert out[101]["margin_ppg"] >= thr
    # code-switched doc: argmax still names a language (it must), but the
    # margin collapses to less than HALF either clean doc's and routing
    # says unknown
    assert out[102]["pred_lang"] in ("en", "de")
    assert out[102]["margin_ppg"] < thr
    assert out[102]["lid_lang"] == "unknown"
    assert out[102]["margin_ppg"] * 2 < min(
        out[100]["margin_ppg"], out[101]["margin_ppg"]
    )
    # short fragment: evidence gate fires independent of margin (its tiny
    # 5-gram sample actually yields a LARGE per-gram margin — exactly why
    # a margin threshold alone cannot replace the evidence gate)
    assert out[103]["n_grams"] < LID_MIN_GRAMS
    assert out[103]["margin_ppg"] >= thr
    assert out[103]["lid_lang"] == "unknown"


def test_dsir_selects_target_like_documents(spark):
    """r10: DSIR importance resampling — raw docs sharing the TARGET
    corpus's vocabulary outscore (and outrank) off-distribution docs; the
    selection is deterministic across reruns (md5-grid Gumbel noise)."""
    from incremental_datapipeline_using_snowflake_spark.ops.sampling import (
        dsir_log_ratios,
        dsir_select,
        dsir_weights,
    )

    med = "patient doctor hospital dosage symptom diagnosis treatment nurse"
    web = "click here subscribe deal offer buy now free shipping winner"
    target = spark.createDataFrame(
        [(i, f"{med} case {i} notes on diagnosis and treatment") for i in range(6)],
        "doc_id long, text string",
    )
    raw = spark.createDataFrame(
        [(100 + i, f"{med} record {i} of symptom and dosage") for i in range(5)]
        + [(200 + i, f"{web} promo {i} limited time") for i in range(5)],
        "doc_id long, text string",
    )
    ratios = dsir_log_ratios(target, raw, n_features=512)
    w = {r["doc_id"]: r["logw"] for r in dsir_weights(raw, ratios, n_features=512).collect()}
    assert min(w[100 + i] for i in range(5)) > max(w[200 + i] for i in range(5))

    sel = dsir_select(raw, target, k=5, n_features=512)
    picked = {r["doc_id"] for r in sel.collect()}
    # the weight gap dwarfs the Gumbel noise: the medical half wins
    assert picked == {100, 101, 102, 103, 104}
    # deterministic: a second run selects identically, same keys
    again = {(r["doc_id"], r["rank"], r["key"]) for r in dsir_select(
        raw, target, k=5, n_features=512
    ).collect()}
    first = {(r["doc_id"], r["rank"], r["key"]) for r in sel.collect()}
    assert again == first


def test_extract_main_content_drops_chrome_keeps_article(spark):
    """r09 (verdict ask #4): block-level boilerplate removal — nav,
    link-list sidebar, and footer chrome drop (link density / length
    gates); multi-block article text survives in order; head/title never
    leaks (r09 ADVICE fix: html_to_text drops <head> content too)."""
    from pyspark.sql import functions as F

    from incremental_datapipeline_using_snowflake_spark.ops.html import (
        extract_main_content,
        extract_main_documents,
        html_to_text,
    )

    page = (
        '<html><head><title>Site Title Chrome</title></head><body>'
        '<div class="nav"><a href="/">Home</a> <a href="/a">About</a> <a href="/c">Contact</a></div>'
        '<p>First paragraph of the genuine article, long enough to clear the length gate, '
        'with one <a href="/ref">inline link</a> that must not sink it.</p>'
        '<div class="sidebar"><ul><li><a href="/1">Related story one</a></li>'
        '<li><a href="/2">Related story two</a></li></ul></div>'
        '<p>Second paragraph of genuine article content, also comfortably long enough.</p>'
        '<div class="footer"><a href="/tos">Terms</a> | <a href="/priv">Privacy</a></div>'
        '</body></html>'
    )
    df = spark.createDataFrame([(1, page)], "doc_id long, html string")
    got = extract_main_documents(df).collect()[0]
    lines = got["text"].split("\n")
    assert len(lines) == 2
    assert lines[0].startswith("First paragraph of the genuine article")
    assert "inline link" in lines[0]  # inline anchor TEXT is kept
    assert lines[1].startswith("Second paragraph of genuine article")
    for chrome in ("Home", "Related story", "Terms", "Privacy", "Site Title"):
        assert chrome not in got["text"]
    assert got["n_chars_text"] == len(got["text"])

    # html_to_text (conservative form) drops head/title content too now
    full = df.select(html_to_text("html").alias("t")).collect()[0]["t"]
    assert "Site Title Chrome" not in full
    assert "Related story one" in full  # conservative form KEEPS body chrome

    # an all-chrome page extracts to '' (gate owns the drop)
    chrome_only = '<div><a href="/">Home</a> <a href="/b">Back</a></div>'
    r = spark.createDataFrame([(2, chrome_only)], "doc_id long, html string")
    assert extract_main_documents(r).collect()[0]["text"] == ""


def test_ccnet_buckets_per_language_equal_population(spark):
    """r09: CCNet bucketing is PER LANGUAGE — each language's docs split
    into equal-population head/middle/tail by score, the most fluent
    (highest avg log-prob) landing in head, with deterministic id
    tie-breaks; a doc with no bigram is absent."""
    from incremental_datapipeline_using_snowflake_spark.ops.text import ccnet_buckets

    rows = []
    # lang A: 6 docs of graded fluency under the corpus bigram MLE —
    # repeating the corpus-common bigram more makes a doc score higher
    for i in range(6):
        text = " ".join(["the cat"] * (i + 1) + ["xylo" + str(i), "qzv" + str(i)])
        rows.append((i, "aa", text))
    # lang B: 3 docs, its own scale
    for i in range(3):
        rows.append((10 + i, "bb", " ".join(["big dog"] * (i + 1) + ["k" + str(i), "j" + str(i)])))
    rows.append((99, "aa", "single"))  # no bigram -> absent
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    got = {r["doc_id"]: r for r in ccnet_buckets(df).collect()}
    assert 99 not in got
    for lang, ids in (("aa", range(6)), ("bb", range(10, 13))):
        buckets = [got[i]["bucket"] for i in ids]
        # equal population per language
        n = len(list(ids)) // 3
        assert buckets.count("head") == buckets.count("middle") == buckets.count("tail") == n
        # ordering: higher avg_logprob never lands in a later bucket
        order = {"head": 0, "middle": 1, "tail": 2}
        scored = sorted((got[i]["avg_logprob"], -order[got[i]["bucket"]]) for i in ids)
        ranks = [-b for _, b in scored]
        assert ranks == sorted(ranks, reverse=True)


# ---------------------------------------------------------------------------
# scrub_repeated_spans (r10) — ExactSubstr removal with reconstruction
# ---------------------------------------------------------------------------
def test_scrub_repeated_spans_keeps_one_copy(spark):
    banner = "all rights reserved contact the site administrator today"  # 8 words
    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta " + banner),
        (2, "one two three four five six seven eight " + banner),
        (3, banner),  # pure boilerplate
        (4, "unique words only appear here and nowhere else at all"),
    ]
    df = spark.createDataFrame(rows, schema="doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in D.scrub_repeated_spans(df, k=8, min_docs=2).collect()
    }
    # doc 1 holds the canonical (earliest) copy: nothing removed
    assert out[1]["n_removed"] == 0
    assert out[1]["clean_text"].endswith(banner)
    # doc 2 loses exactly the 8 banner words, body intact
    assert out[2]["n_removed"] == 8
    assert out[2]["clean_text"] == "one two three four five six seven eight"
    # doc 3 is pure boilerplate: collapses to '' but never disappears
    assert out[3]["clean_text"] == ""
    assert out[3]["n_removed"] == 8
    assert out[3]["removed_frac"] == 1.0
    # doc 4 untouched
    assert out[4]["n_removed"] == 0
    assert len(out) == 4


def test_scrub_repeated_spans_straddle_windows_stay(spark):
    # the window straddling unique-body/banner boundaries contains unique
    # words, so it never counts as duplicated: removal is exactly the
    # planted span, not a widened hole around it
    banner = "b1 b2 b3 b4"
    rows = [
        (1, "u11 u12 u13 " + banner),
        (2, "u21 u22 u23 " + banner),
    ]
    df = spark.createDataFrame(rows, schema="doc_id long, text string")
    out = {r["doc_id"]: r for r in D.scrub_repeated_spans(df, k=4, min_docs=2).collect()}
    assert out[1]["n_removed"] == 0
    assert out[2]["clean_text"] == "u21 u22 u23"
    assert out[2]["n_removed"] == 4


def test_scrub_short_docs_survive(spark):
    # docs shorter than k have no windows: pass through untouched
    rows = [(1, "tiny doc"), (2, "tiny doc")]
    df = spark.createDataFrame(rows, schema="doc_id long, text string")
    out = {r["doc_id"]: r for r in D.scrub_repeated_spans(df, k=8, min_docs=2).collect()}
    assert out[1]["n_removed"] == 0 and out[2]["n_removed"] == 0
    assert out[2]["clean_text"] == "tiny doc"


# ---------------------------------------------------------------------------
# temperature_mixture_weights (r10) — alpha=0.5 mixing weights
# ---------------------------------------------------------------------------
def test_temperature_mixture_boosts_low_resource(spark):
    from incremental_datapipeline_using_snowflake_spark.ops.sampling import (
        temperature_mixture_weights,
    )

    rows = [("big", "w " * 400), ("small", "w " * 4)]
    df = spark.createDataFrame(rows, schema="source string, text string")
    out = {r["source"]: r for r in temperature_mixture_weights(df).collect()}
    assert out["big"]["tokens"] == 400 and out["small"]["tokens"] == 4
    # raw shares 400/404 vs 4/404; sqrt weights 20 vs 2 -> 20/22 vs 2/22
    assert out["small"]["boost"] > 1.0 > out["big"]["boost"]
    assert abs(out["small"]["temp_frac"] - 2 / 22) < 1e-6
    assert abs(out["big"]["temp_frac"] - 20 / 22) < 1e-6
    # temperature smooths, never reorders: big still outweighs small
    assert out["big"]["temp_frac"] > out["small"]["temp_frac"]


# ---------------------------------------------------------------------------
# jsonl roundtrip (r10) — Dolma-shape JSONL write/read with explicit schema
# ---------------------------------------------------------------------------
def test_jsonl_roundtrip_lossless(spark, tmp_path):
    rows = [
        (1, 'text with "quotes" and\ttabs', "en", "srcA", 27),
        (2, "unicode: naïve café — ok", "fr", "srcB", 24),
        (3, "", "de", "srcA", 0),
    ]
    df = spark.createDataFrame(
        rows, schema="doc_id long, text string, lang string, source string, n_chars long"
    )
    path = str(tmp_path / "jsonl")
    df.select(
        F.col("doc_id").cast("string").alias("id"),
        "text",
        "source",
        F.struct("lang", "n_chars").alias("metadata"),
    ).write.json(path)
    schema = (
        "id string, text string, source string, "
        "metadata struct<lang:string, n_chars:long>"
    )
    back = (
        spark.read.schema(schema)
        .json(path)
        .select(
            F.col("id").cast("long").alias("doc_id"),
            "text",
            F.col("metadata.lang").alias("lang"),
            "source",
            F.col("metadata.n_chars").alias("n_chars"),
        )
    )
    got = sorted(tuple(r) for r in back.collect())
    assert got == sorted(rows)


# ---------------------------------------------------------------------------
# exact_jaccard_pairs (r10) — inverted-index exact ground truth
# ---------------------------------------------------------------------------
def test_exact_jaccard_pairs_matches_bruteforce(spark, docs):
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.exact_jaccard_pairs(docs, threshold=0.5).collect()
    }
    # docs 1/2 identical (J=1.0), 3 a near-dup of both (2 words off)
    assert got[(1, 2)] == 1.0
    assert (1, 3) in got and got[(1, 3)] >= 0.5
    assert (2, 3) in got
    assert all(a < b for (a, b) in got)
    # unrelated docs never appear
    assert not any(4 in p or 5 in p for p in got)


def test_minhash_bands_graded_against_exact_truth(spark, docs):
    truth = {
        (r["id_a"], r["id_b"])
        for r in D.exact_jaccard_pairs(docs, threshold=0.5).collect()
    }
    cand = {
        (r["id_a"], r["id_b"])
        for r in D.minhash_band_pairs(D.minhash_signatures(docs)).collect()
    }
    # identical docs share every band: recall on the J=1.0 pair is certain
    assert (1, 2) in cand and (1, 2) in truth
    # band candidates on this corpus stay a superset check: every truth
    # pair missed by the bands is the S-curve FN mass the recall-eval
    # query measures — here the near-dup pair shares >= one band w.h.p.
    assert len(cand & truth) >= 2


# ---------------------------------------------------------------------------
# scrub_intra_doc_repeats (r10) — within-doc repeated-span removal
# ---------------------------------------------------------------------------
def test_intra_doc_scrub_keeps_first_chorus(spark):
    chorus = "c1 c2 c3 c4 c5 c6 c7 c8"
    rows = [
        (1, "body one two three " + chorus + " " + chorus),
        (2, "another unique body with no internal repeats at all here"),
        # cross-doc repetition alone must NOT trip the intra-doc scrub
        (3, "shared shared-tail a b c d e f g h"),
        (4, "other shared-tail a b c d e f g h"),
    ]
    df = spark.createDataFrame(rows, schema="doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in D.scrub_intra_doc_repeats(df, k=8, min_repeats=2).collect()
    }
    assert out[1]["clean_text"] == "body one two three " + chorus
    assert out[1]["n_removed"] == 8
    assert out[2]["n_removed"] == 0
    assert out[3]["n_removed"] == 0 and out[4]["n_removed"] == 0


def test_intra_doc_scrub_triple_repeat_keeps_one(spark):
    span = "s1 s2 s3 s4"
    df = spark.createDataFrame(
        [(1, " ".join([span] * 3))], schema="doc_id long, text string"
    )
    out = D.scrub_intra_doc_repeats(df, k=4, min_repeats=2).collect()[0]
    assert out["clean_text"] == span
    assert out["n_removed"] == 8


# ---------------------------------------------------------------------------
# token_budget_schedule (r10) — epoch water-filling under a budget
# ---------------------------------------------------------------------------
def test_token_budget_schedule_caps_and_redistributes(spark):
    from incremental_datapipeline_using_snowflake_spark.ops.sampling import (
        token_budget_schedule,
    )

    rows = [("big", "w " * 10000), ("small", "w " * 100)]
    df = spark.createDataFrame(rows, schema="source string, text string")
    out = {
        r["source"]: r
        for r in token_budget_schedule(
            df, budget_multiplier=2, max_epochs=4
        ).collect()
    }
    # sqrt weights push the small source over its 4-epoch cap
    assert out["small"]["capped"] and out["small"]["epochs"] == 4.0
    # freed budget redistributes to the uncapped big source
    assert not out["big"]["capped"]
    assert out["big"]["alloc_tokens"] > 0
    total = sum(r["alloc_tokens"] for r in out.values())
    budget = 2 * (10000 + 100)
    # two rounds land within one integer-division remainder of the budget
    assert total <= budget
    assert budget - total < budget * 0.05
    # epochs = alloc / tokens exactly
    assert abs(out["big"]["epochs"] - out["big"]["alloc_tokens"] / 10000) < 1e-3


# ---------------------------------------------------------------------------
# winnowing fingerprints (r10) — span guarantee + blocking
# ---------------------------------------------------------------------------
def test_winnowing_guarantees_shared_span_collision(spark):
    # docs share an 8-word span = w + k - 1 (k=5, w=4): the winnowing
    # guarantee says they MUST share a fingerprint
    span = "g1 g2 g3 g4 g5 g6 g7 g8"
    rows = [
        (1, "aaa bbb ccc " + span + " ddd eee"),
        (2, "xxx yyy " + span + " zzz www qqq"),
        (3, "totally unrelated words here only once ever seen now"),
    ]
    df = spark.createDataFrame(rows, schema="doc_id long, text string")
    from pyspark.sql import functions as SF

    fps = {
        r["doc_id"]: set(r["fps"])
        for r in df.select(
            "doc_id", D.winnow_fingerprints_col("text", k=5, w=4).alias("fps")
        ).collect()
    }
    assert fps[1] & fps[2], "shared >= w+k-1 span must share a fingerprint"
    assert not (fps[1] & fps[3]) and not (fps[2] & fps[3])
    # density: selected set is much smaller than the k-gram count
    n_kgrams = len(rows[0][1].split()) - 5 + 1
    assert 0 < len(fps[1]) < n_kgrams


def test_winnow_dedup_pairs_verifies_with_jaccard(spark, docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.winnow_dedup_pairs(docs, threshold=0.5).collect()
    }
    # exact dup pair guaranteed as candidate and passes verify
    assert pairs[(1, 2)] == 1.0
    assert (1, 3) in pairs  # near dup shares long spans
    # the German / unrelated docs never pair with the English ones
    assert not any(4 in p or 5 in p for p in pairs)


def test_winnow_short_doc_contributes_global_min(spark):
    df = spark.createDataFrame(
        [(1, "only six words in this doc")], schema="doc_id long, text string"
    )
    fps = df.select(
        D.winnow_fingerprints_col("text", k=5, w=4).alias("fps")
    ).collect()[0]["fps"]
    # 2 k-grams < w=4 windows -> exactly the global minimum survives
    assert len(fps) == 1


# ---------------------------------------------------------------------------
# SimHash hamming banding (r10) — Manku et al. pigeonhole guarantee
# ---------------------------------------------------------------------------
def test_simhash_hamming_finds_near_misses_groups_cannot(spark, docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in D.simhash_hamming_pairs(docs, max_hamming=3).collect()
    }
    # exact dup: hamming 0, guaranteed by any bank
    assert pairs[(1, 2)] == 0
    # equal-signature grouping (the old op) can never see hamming>0 pairs
    grp = D.simhash_groups(spark.createDataFrame(
        [(1, docs.collect()[0]["text"])], schema="doc_id long, text string"
    ))
    assert all(h <= 3 for h in pairs.values())
    # unrelated docs (4=German, 5=different topic) stay far in hamming
    assert not any((a, b) in pairs for a in (1, 2, 3) for b in (4, 5))


def test_simhash_hamming_cap_enforced(spark, docs):
    with pytest.raises(ValueError, match="pigeonhole"):
        D.simhash_hamming_pairs(docs, max_hamming=4)


def test_simhash_hamming_one_word_edit_within_reach(spark):
    base = ("w" + " w".join(str(i) for i in range(40)))
    rows = [(1, base), (2, base.replace("w7", "edited", 1))]
    df = spark.createDataFrame(rows, schema="doc_id long, text string")
    sigs = {r["doc_id"]: r["s"] for r in df.select(
        "doc_id", D.simhash_wide_col("text").alias("s")).collect()}
    ham = bin(sigs[1] ^ sigs[2]).count("1")
    # a one-word edit moves few weighted bit sums: hamming stays small
    assert ham <= 6


# ---------------------------------------------------------------------------
# BM25 index lifecycle (r10) — persisted postings, pruned queries
# ---------------------------------------------------------------------------
def test_bm25_index_matches_direct_and_prunes(spark, tmp_path):
    from incremental_datapipeline_using_snowflake_spark.operators import TableStore
    from incremental_datapipeline_using_snowflake_spark.ops import textprep as TP

    rows = [
        (1, "spark merge window spark table"),
        (2, "merge merge merge row scan"),
        (3, "window filter sort group batch"),
        (4, "no query words here at all"),
    ]
    df = spark.createDataFrame(rows, schema="doc_id long, text string")
    store = TableStore(root=str(tmp_path / "idx"))
    TP.build_bm25_index(spark, store, df.filter("doc_id <= 2"), "t.docs")
    TP.append_to_bm25_index(spark, store, df.filter("doc_id >= 3"), "t.docs")

    terms = ["spark", "merge", "window"]
    got = TP.query_bm25_index(spark, store, "t.docs", terms, k=10).collect()
    want = TP.bm25_topk(df, terms, k=10).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    # doc 4 (no query term) appears in neither path
    assert all(r["doc_id"] != 4 for r in got)

    # partition pruning: the bucket IN (...) literal reaches the scan as a
    # PartitionFilter (directory-level pruning), not a post-scan Filter
    posts_all = store.read(spark, "t.docs__postings")
    buckets = sorted({TP._portable_bucket(t) for t in terms})
    pruned = posts_all.filter(F.col("bucket").isin(*buckets))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and "bucket" in pf[0]


def test_bm25_append_updates_stats_exactly(spark, tmp_path):
    from incremental_datapipeline_using_snowflake_spark.operators import TableStore
    from incremental_datapipeline_using_snowflake_spark.ops import textprep as TP

    df = spark.createDataFrame(
        [(i, "w " * (i + 1)) for i in range(6)], schema="doc_id long, text string"
    )
    store = TableStore(root=str(tmp_path / "idx2"))
    TP.build_bm25_index(spark, store, df.filter("doc_id < 3"), "t.docs")
    TP.append_to_bm25_index(spark, store, df.filter("doc_id >= 3"), "t.docs")
    st = store.read(spark, "t.docs__stats").first()
    assert st["n_docs"] == 6
    # trim() strips the trailing space, so dl = i+1 words per doc
    assert st["sum_dl"] == sum(i + 1 for i in range(6))


def test_bm25_append_replay_is_idempotent(spark, tmp_path):
    # re-delivering an already-indexed batch must be a no-op (ADVICE r10):
    # without the id guard the duplicate postings fan out the query join
    # and double-count dl / stats
    from incremental_datapipeline_using_snowflake_spark.operators import TableStore
    from incremental_datapipeline_using_snowflake_spark.ops import textprep as TP

    rows = [
        (1, "spark merge window spark table"),
        (2, "merge merge merge row scan"),
        (3, "window filter sort group batch"),
    ]
    df = spark.createDataFrame(rows, schema="doc_id long, text string")
    store = TableStore(root=str(tmp_path / "idx3"))
    TP.build_bm25_index(spark, store, df.filter("doc_id <= 2"), "t.docs")
    batch = df.filter("doc_id = 3")
    TP.append_to_bm25_index(spark, store, batch, "t.docs")
    before = TP.query_bm25_index(spark, store, "t.docs", ["spark", "merge"], k=10)
    before = [tuple(r) for r in before.collect()]
    # replay the same batch, plus a batch overlapping build-time ids
    TP.append_to_bm25_index(spark, store, batch, "t.docs")
    TP.append_to_bm25_index(spark, store, df, "t.docs")
    st = store.read(spark, "t.docs__stats").first()
    assert st["n_docs"] == 3
    docs_rows = store.read(spark, "t.docs__docs").count()
    assert docs_rows == 3
    after = TP.query_bm25_index(spark, store, "t.docs", ["spark", "merge"], k=10)
    assert [tuple(r) for r in after.collect()] == before


def test_token_budget_split_division_int64_safe(spark):
    # the naive (B * tot * w) product wraps int64 at real corpus scale;
    # the shipped split-division identity w*(B div s) + (w*(B mod s)) div s
    # must equal Python's unbounded-int result at 100 TB magnitudes
    w, tot, sumw = 4_500_000, 20_000_000_000_000, 9_000_000
    assert 2 * tot * w > 2**63 - 1  # the overflow regime ADVICE r10 flagged
    df = spark.createDataFrame([(w, tot, sumw)], schema="w long, _tot long, _sumw long")
    bexpr = "CAST(2 AS BIGINT) * _tot"
    got = df.select(
        F.expr(
            f"w * (({bexpr}) div _sumw) + (w * (({bexpr}) % _sumw)) div _sumw"
        ).alias("a")
    ).first()["a"]
    assert got == (2 * tot * w) // sumw


# ---------------------------------------------------------------------------
# curriculum_order (r10) — fluent-first training order
# ---------------------------------------------------------------------------
def test_curriculum_order_buckets_are_contiguous_phases(spark):
    import os

    from incremental_datapipeline_using_snowflake_spark.queries.textops import (
        curriculum_order,
    )

    rows = curriculum_order(spark, "/root/testdata/sf0.001").collect()
    # positions are a dense 1..N permutation
    assert sorted(r["position"] for r in rows) == list(range(1, len(rows) + 1))
    # every head position precedes every middle, every middle every tail
    ends = {}
    starts = {}
    for r in rows:
        b = r["bucket"]
        ends[b] = max(ends.get(b, 0), r["position"])
        starts[b] = min(starts.get(b, 1 << 60), r["position"])
    assert ends["head"] < starts["middle"] < ends["middle"] < starts["tail"]
    # within a bucket the order is the salted hash, not doc_id: the id
    # sequence inside head must not be sorted
    head_ids = [r["doc_id"] for r in sorted(rows, key=lambda r: r["position"])
                if r["bucket"] == "head"]
    assert head_ids != sorted(head_ids)


# ---------------------------------------------------------------------------
# span_corruption (r10) — T5 denoising transform
# ---------------------------------------------------------------------------
def test_span_corruption_streams_reconstruct_exactly(spark):
    from incremental_datapipeline_using_snowflake_spark.ops import textprep as TP
    from incremental_datapipeline_using_snowflake_spark.queries.util import md5_long

    # reimplement the token streams inline (fingerprint-free) to check the
    # invariant: replacing each input sentinel with its target span
    # reconstructs the original document exactly
    import hashlib

    def fp(doc_id, i):
        return int(
            hashlib.md5(f"{doc_id}:{i}".encode()).hexdigest()[:15], 16
        )

    doc_id, words = 42, [f"t{j}" for j in range(40)]
    starts = [fp(doc_id, i) % TP.SPAN_NOISE_MOD == 0 for i in range(40)]
    masked = [any(starts[max(0, i - TP.SPAN_LEN + 1): i + 1]) for i in range(40)]
    rs = [masked[i] and (i == 0 or not masked[i - 1]) for i in range(40)]
    k = 0
    inp, tgt = [], []
    for i in range(40):
        if not masked[i]:
            inp.append(words[i])
        elif rs[i]:
            inp.append(f"<extra_id_{k}>")
            tgt.extend([f"<extra_id_{k}>", words[i]])
            k += 1
        else:
            tgt.append(words[i])
    df = spark.createDataFrame(
        [(doc_id, " ".join(words))], "doc_id long, text string"
    )
    row = TP.span_corruption(df).collect()[0]
    assert row["n_masked"] == sum(masked)
    assert row["n_spans"] == sum(rs) == k
    assert row["input_fp"] == hashlib.md5(" ".join(inp).encode()).hexdigest()
    assert row["target_fp"] == hashlib.md5(" ".join(tgt).encode()).hexdigest()
    # the invariant itself: splice targets back into the input
    spans = {}
    cur = None
    for t in tgt:
        if t.startswith("<extra_id_"):
            cur = t
            spans[cur] = []
        else:
            spans[cur].append(t)
    rebuilt = []
    for t in inp:
        rebuilt.extend(spans[t] if t in spans else [t])
    assert rebuilt == words


def test_span_corruption_density_near_target(spark):
    from incremental_datapipeline_using_snowflake_spark.ops import textprep as TP

    df = spark.createDataFrame(
        [(i, " ".join(f"w{j}" for j in range(200))) for i in range(50)],
        "doc_id long, text string",
    )
    rows = TP.span_corruption(df).collect()
    frac = sum(r["n_masked"] for r in rows) / sum(r["n_tokens"] for r in rows)
    # span_len/noise_mod = 3/20 = 15% expected noise density (minus overlap)
    assert 0.08 < frac < 0.22


# ---------------------------------------------------------------------------
# packing_efficiency (r10) — fill/waste report over quantized packing
# ---------------------------------------------------------------------------
def test_packing_efficiency_full_bins_high_fill(spark):
    from incremental_datapipeline_using_snowflake_spark.ops import textprep as TP
    from pyspark.sql import functions as SF

    # one shard (ids all ≡ 0 mod 8), docs of exactly 128 tokens: 4 docs
    # fill a 512 bin perfectly -> fill_ratio 1.0 everywhere
    rows = [(i * 8, " ".join(f"w{j}" for j in range(128))) for i in range(8)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    packed = TP.pack_sequences(df, budget_tokens=512, n_shards=8)
    agg = packed.groupBy("shard").agg(
        SF.countDistinct("bin").alias("n_bins"), SF.sum("n_tokens").alias("tokens")
    ).collect()[0]
    assert agg["n_bins"] == 2 and agg["tokens"] == 1024
    # and the declared query's math: 1024 / (2*512) = 1.0
    assert abs(agg["tokens"] / (agg["n_bins"] * 512) - 1.0) < 1e-9


# ---------------------------------------------------------------------------
# script-aware segmentation (r11) — whitespace-free scripts through the
# word-level stack (VERDICT r10 missing #1)
# ---------------------------------------------------------------------------
def test_segment_words_cjk_and_thai(spark):
    from incremental_datapipeline_using_snowflake_spark.ops.text import words_col

    rows = [
        (1, "hello world"),              # spaced: untouched
        (2, "你好world和平"),             # Han per codepoint, run ends bounded
        (3, "これはテストです"),            # kana per codepoint
        (4, "กินข้าว"),                   # Thai: combining marks stay attached
        (5, "你好。世界！"),               # CJK punctuation = own unit
        (6, "　ideographic　space　"),     # U+3000 is whitespace
        (7, ""),
    ]
    df = spark.createDataFrame(rows, schema="i long, t string")
    got = {r["i"]: list(r["w"]) for r in df.select("i", words_col("t").alias("w")).collect()}
    assert got[1] == ["hello", "world"]
    assert got[2] == ["你", "好", "world", "和", "平"]
    assert got[3] == ["こ", "れ", "は", "テ", "ス", "ト", "で", "す"]
    assert got[4] == ["กิ", "น", "ข้", "า", "ว"]  # ก+U+0E34, ข+U+0E49 glued
    assert got[5] == ["你", "好", "。", "世", "界", "！"]
    assert got[6] == ["ideographic", "space"]
    assert got[7] == [""]  # split('') == [''] — unchanged from the \s+ path


def test_segment_words_lao_myanmar_khmer(spark):
    """r12 (VERDICT r11 missing #3): the three remaining whitespace-free
    Common-Crawl scripts segment per base char with combining marks
    attached; Khmer COENG pins the documented split-after-COENG rule."""
    from incremental_datapipeline_using_snowflake_spark.ops.text import words_col

    rows = [
        (1, "ກິຂີຄຶ"),            # Lao: base + combining vowel glued
        (2, "ສະບາຍດີ"),           # Lao greeting: ດ+U+0EB5 glued, ະ/າ own units
        (3, "ကိခီဂု"),            # Myanmar: base + combining vowel glued
        (4, "မင်္ဂလာပါ"),          # Myanmar greeting with stacked marks
        (5, "កិខីគឹ"),            # Khmer: base + combining vowel glued
        (6, "ក្រតើ"),             # Khmer COENG cluster: ក្ + រ (approximation);
                                  # ើ (U+17BE) is a SPACING vowel -> own unit,
                                  # the Thai sara-a discipline
        (7, "lao ກິ end"),        # mixed-run boundaries per script
    ]
    df = spark.createDataFrame(rows, schema="i long, t string")
    got = {
        r["i"]: list(r["w"])
        for r in df.select("i", words_col("t").alias("w")).collect()
    }
    assert got[1] == ["ກິ", "ຂີ", "ຄຶ"]
    assert got[2] == ["ສ", "ະ", "ບ", "າ", "ຍ", "ດີ"]
    assert got[3] == ["ကိ", "ခီ", "ဂု"]
    assert got[4] == ["မ", "င်္", "ဂ", "လ", "ာ", "ပ", "ါ"]
    assert got[5] == ["កិ", "ខី", "គឹ"]
    assert got[6] == ["ក្", "រ", "ត", "ើ"]
    assert got[7] == ["lao", "ກິ", "end"]


def test_segmentation_is_identity_on_ascii(spark):
    from incremental_datapipeline_using_snowflake_spark.ops.text import segment_text

    texts = ["plain words", "  padded  ", "punct, marks! 42", "a\tb\nc"]
    df = spark.createDataFrame([(t,) for t in texts], schema="t string")
    out = df.select("t", segment_text("t").alias("s")).collect()
    assert all(r["t"] == r["s"] for r in out)


def test_bpe_nondegenerate_on_unspaced_text(spark):
    # pre-segmentation, an unspaced CJK doc is ONE word: bpe_train sees a
    # single giant unit and fertility reads vacuously. Post-segmentation,
    # encode emits ~1 token per codepoint.
    from incremental_datapipeline_using_snowflake_spark.ops.textprep import (
        bpe_encode,
        bpe_train,
    )

    rows = [(1, "一二三一二三一二三"), (2, "四五六四五六")]
    df = spark.createDataFrame(rows, schema="doc_id long, text string")
    merges = [
        (r["lhs"], r["rhs"])
        for r in bpe_train(df.select("text"), n_merges=2).orderBy("merge_rank").collect()
    ]
    enc = {r["doc_id"]: r["n_tokens"] for r in bpe_encode(df, merges).collect()}
    # single-codepoint units can't merge (len < 2 filter): 1 token/char
    assert enc[1] == 9 and enc[2] == 6


def test_scrub_matches_on_unspaced_chorus(spark):
    # the k-gram window scrub must catch a repeated span inside UNSPACED
    # text — the case the \s+-only split silently missed
    from incremental_datapipeline_using_snowflake_spark.ops.dedup import (
        scrub_repeated_spans,
    )

    chorus = "天天向上好好学习日日新"  # 11 units post-segmentation
    rows = [
        (1, "一二三四五六七八九十" + chorus),
        (2, chorus + "甲乙丙丁戊己庚辛壬癸"),
        (3, "千山万水千言万语千军万马"),
    ]
    df = spark.createDataFrame(rows, schema="doc_id long, text string")
    out = {r["doc_id"]: r for r in scrub_repeated_spans(df, k=8, min_docs=2).collect()}
    # doc 2's copy of the chorus is scrubbed (doc 1 keeps the first copy)
    assert out[1]["n_removed"] == 0
    assert out[2]["n_removed"] > 0
    assert "天" not in out[2]["clean_text"]
    assert out[3]["n_removed"] == 0


def test_gopher_signals_nondegenerate_on_cjk(spark):
    from incremental_datapipeline_using_snowflake_spark.ops.text import (
        repetition_signals,
    )

    rows = [
        (1, "一二三四五六七八九十百千万兆天地人日月星"),  # 20 distinct units
        (2, "好好好好好好好好好好好好好好好好好好好好"),  # degenerate repeat
    ]
    df = spark.createDataFrame(rows, schema="doc_id long, text string")
    out = {r["doc_id"]: r for r in repetition_signals(df).collect()}
    # pre-fix both docs read n_words=1; now units are real words
    assert out[1]["n_words"] == 20 and out[2]["n_words"] == 20
    assert out[1]["distinct_word_frac"] == 1.0
    assert out[2]["distinct_word_frac"] == 0.05
    assert out[2]["dup_trigram_frac"] > 0.9
    # the wordlike gate counts ideographs as words
    assert out[1]["alpha_word_frac"] == 1.0


# ---------------------------------------------------------------------------
# dedup-accuracy referees (r11) — SimHash + winnowing graded vs truth
# ---------------------------------------------------------------------------
def test_winnow_referee_guarantee_and_simhash_calibration(spark):
    from incremental_datapipeline_using_snowflake_spark.queries.textops import (
        dedup_simhash_recall,
        dedup_winnow_recall,
    )

    w = dedup_winnow_recall(spark, "/root/testdata/sf0.001").collect()[0]
    # the span guarantee: every true near-dup on this fixture shares spans
    # >= w+k-1 words, so the blocking stage may not miss ANY truth pair
    assert w["recall_block"] == 1.0
    assert w["n_true"] > 0 and w["n_hit"] == w["n_true"]
    s = dedup_simhash_recall(spark, "/root/testdata/sf0.001").collect()[0]
    assert s["n_true"] > 0
    assert 0.0 <= s["precision_sim"] <= 1.0 and 0.0 <= s["recall_sim"] <= 1.0
    assert s["n_hit"] <= min(s["n_true"], s["n_cand"])


def test_ngram_anchor_referee_and_blocking(spark):
    """r12 (verdict r11 #2): the anchor-blocked generator's measured row —
    planted exact dups share every shingle (hence almost surely an
    anchor), so hits must be substantial; the DF cap's recall cost is
    whatever the row reports, bounded sane."""
    from incremental_datapipeline_using_snowflake_spark.ops import dedup as D
    from incremental_datapipeline_using_snowflake_spark.queries.textops import (
        dedup_ngram_recall,
    )

    r = dedup_ngram_recall(spark, "/root/testdata/sf0.001").collect()[0]
    assert r["n_true"] > 0 and r["n_cand"] > 0
    assert 0.0 <= r["precision_anchor"] <= 1.0
    assert 0.0 <= r["recall_anchor"] <= 1.0
    assert r["n_hit"] <= min(r["n_true"], r["n_cand"])
    # exact copies share ALL shingles: with >= 1 anchor among them the
    # pair collides — on this fixture the anchor stage must recover a
    # clear majority of truth
    assert r["recall_anchor"] >= 0.5

    # blocking shape: shared rare anchor pairs, hot anchor (df > cap) drops
    rows = [
        (1, "p q r shared anchor words here now one two three four"),
        (2, "x y z shared anchor words here now five six seven eight"),
        (3, "totally different vocabulary in this document entirely"),
    ]
    df = spark.createDataFrame(rows, schema="doc_id long, text string")
    from pyspark.sql import functions as SF

    shingled = df.select(
        SF.col("doc_id").alias("id"),
        D.hashed_shingles_col(SF.col("text")).alias("sh"),
    )
    cand = {
        (r2["id_a"], r2["id_b"])
        for r2 in D.ngram_anchor_candidates(shingled, anchor_mod=1).collect()
    }
    assert (1, 2) in cand and (1, 3) not in cand and (2, 3) not in cand
    # DF cap: with the cap at 1 every shared anchor exceeds it -> no pairs
    none = D.ngram_anchor_candidates(shingled, anchor_mod=1, max_anchor_df=1)
    assert none.count() == 0

def test_winnow_candidate_pairs_matches_verified_superset(spark):
    from incremental_datapipeline_using_snowflake_spark.ops import dedup as D

    span = "s1 s2 s3 s4 s5 s6 s7 s8"  # w + k - 1 = 8 words (k=5, w=4)
    rows = [
        (1, "aa bb cc " + span + " dd"),
        (2, "xx yy " + span + " zz ww"),
        (3, "totally different words entirely here now"),
    ]
    df = spark.createDataFrame(rows, schema="doc_id long, text string")
    cand = {(r["id_a"], r["id_b"]) for r in D.winnow_candidate_pairs(df).collect()}
    assert (1, 2) in cand  # guaranteed collision
    assert (1, 3) not in cand and (2, 3) not in cand


# ---------------------------------------------------------------------------
# IVF drift policy (r11) — maybe_reindex_ivf triggers + rebuild equivalence
# ---------------------------------------------------------------------------
def _mk_vec(i, dim=8):
    # deterministic, well-spread unit-ish vectors
    return [float((i * 7 + j * 3) % 11 - 5) / 5.0 + (1.0 if j == i % dim else 0.0)
            for j in range(dim)]


def test_ivf_reindex_skew_trigger_fires_and_volume_stays_quiet(spark, tmp_path):
    from incremental_datapipeline_using_snowflake_spark.operators import TableStore
    from incremental_datapipeline_using_snowflake_spark.ops import similarity as S

    base = spark.createDataFrame(
        [(i, _mk_vec(i)) for i in range(64)], "vec_id long, embedding array<double>"
    )
    store = TableStore(root=str(tmp_path / "ivf1"))
    S.build_ivf_index(spark, store, base, "t.emb", n_cells=None)  # 16 cells
    # distribution shift: 200 near-copies of one direction pile into 1 cell
    drift = spark.createDataFrame(
        [(1000 + i, [1.0 + 0.0001 * i] * 8) for i in range(200)],
        "vec_id long, embedding array<double>",
    )
    S.append_to_ivf_index(spark, store, drift, "t.emb")
    info = S.maybe_reindex_ivf(spark, store, "t.emb")
    # 264 vectors: auto target 16 == stored 16, so volume is quiet; the
    # 200-deep cell vs mean 16.5 fires the skew probe
    assert info is not None and info["fired_skew"] and not info["fired_volume"]
    assert info["old_n_cells"] == 16 and info["max_cell_pop"] >= 200


def test_ivf_reindex_stationary_append_does_not_fire(spark, tmp_path):
    from incremental_datapipeline_using_snowflake_spark.operators import TableStore
    from incremental_datapipeline_using_snowflake_spark.ops import similarity as S
    from pyspark.sql import functions as SF

    base = spark.createDataFrame(
        [(i, _mk_vec(i)) for i in range(300)], "vec_id long, embedding array<double>"
    )
    store = TableStore(root=str(tmp_path / "ivf2"))
    S.build_ivf_index(spark, store, base, "t.emb", n_cells=None)
    # stationary growth: x1.001 variants follow the corpus distribution
    batch = base.filter("vec_id % 7 = 0").select(
        (SF.col("vec_id") + 5000).alias("vec_id"),
        SF.expr("transform(embedding, x -> x * 1.001)").alias("embedding"),
    )
    S.append_to_ivf_index(spark, store, batch, "t.emb")
    assert S.maybe_reindex_ivf(spark, store, "t.emb") is None


def test_ivf_rebuild_equals_from_scratch(spark, tmp_path):
    from incremental_datapipeline_using_snowflake_spark.operators import TableStore
    from incremental_datapipeline_using_snowflake_spark.ops import similarity as S
    from pyspark.sql import functions as SF

    # 300 base vectors: auto sizing must be sqrt-bound (n >= 256), else the
    # 16-cell floor absorbs the 4x growth and the volume probe stays quiet
    base = spark.createDataFrame(
        [(i, _mk_vec(i)) for i in range(300)], "vec_id long, embedding array<double>"
    )
    grown = base.unionByName(
        base.select(
            (SF.col("vec_id") + 1000).alias("vec_id"),
            SF.expr("transform(embedding, x -> x * 1.001)").alias("embedding"),
        )
    ).unionByName(
        base.select(
            (SF.col("vec_id") + 2000).alias("vec_id"),
            SF.expr("transform(embedding, x -> x * 1.002)").alias("embedding"),
        )
    ).unionByName(
        base.select(
            (SF.col("vec_id") + 3000).alias("vec_id"),
            SF.expr("transform(embedding, x -> x * 1.003)").alias("embedding"),
        )
    )
    # path A: build, append 3 batches, policy rebuild (4x growth fires volume)
    st_a = TableStore(root=str(tmp_path / "ivfA"))
    S.build_ivf_index(spark, st_a, base, "t.emb", n_cells=None)
    for j, f in ((1, "1.001"), (2, "1.002"), (3, "1.003")):
        b = base.select(
            (SF.col("vec_id") + 1000 * j).alias("vec_id"),
            SF.expr(f"transform(embedding, x -> x * {f})").alias("embedding"),
        )
        S.append_to_ivf_index(spark, st_a, b, "t.emb")
    info = S.maybe_reindex_ivf(spark, st_a, "t.emb")
    assert info is not None and info["fired_volume"]
    # path B: from-scratch ROUTED build over the grown corpus at the same
    # sizing — the fired rebuild runs the routed Theta(n^1.25) kernel
    # (r12), so equivalence is against the same kernel from scratch
    st_b = TableStore(root=str(tmp_path / "ivfB"))
    S.build_ivf_index(spark, st_b, grown, "t.emb", n_cells=None, routed=True)

    for tbl in ("t.emb.centroids", "t.emb.assignments"):
        a = sorted(map(tuple, st_a.read(spark, tbl).collect()))
        b = sorted(map(tuple, st_b.read(spark, tbl).collect()))
        assert a == b, f"{tbl} diverges from from-scratch rebuild"
    qa = S.query_ivf_index(spark, st_a, "t.emb", base.filter("vec_id < 3"), k=3)
    qb = S.query_ivf_index(spark, st_b, "t.emb", base.filter("vec_id < 3"), k=3)
    assert sorted(map(tuple, qa.collect())) == sorted(map(tuple, qb.collect()))


def test_ivf_routed_assignment_invariants(spark):
    """r12 routed kernel: exactly-once assignment, centroid self-assignment,
    identical centroid set to the flat kernel, and high flat-agreement (the
    r_probe route restriction may move a small minority of vectors)."""
    from incremental_datapipeline_using_snowflake_spark.ops import similarity as S

    corpus = spark.createDataFrame(
        [(i, _mk_vec(i)) for i in range(400)], "vec_id long, embedding array<double>"
    )
    cents_r, asg_r = S.ivf_assignments_routed(corpus, n_cells=20)
    cents_f, asg_f = S.ivf_assignments(corpus, n_cells=20)
    # same centroid set (the routed kernel changes assignment, never seeds)
    cr = sorted(r["cell"] for r in cents_r.select("cell").collect())
    cf = sorted(r["cell"] for r in cents_f.select("cell").collect())
    assert cr == cf and len(cr) == 20
    rows_r = {r["id"]: r["cell"] for r in asg_r.select("id", "cell").collect()}
    rows_f = {r["id"]: r["cell"] for r in asg_f.select("id", "cell").collect()}
    # exactly once, all ids covered
    assert len(rows_r) == 400 and set(rows_r) == set(rows_f)
    # a centroid vector's best cell is itself in any kernel
    for c in cr:
        assert rows_r[c] == c
    # routed is an approximation of flat — agreement must dominate
    agree = sum(1 for i in rows_r if rows_r[i] == rows_f[i])
    assert agree >= 360, f"routed/flat agreement {agree}/400 too low"

    # and the declared referee reads high agreement on the real fixture
    from incremental_datapipeline_using_snowflake_spark.queries.similarity import (
        ivf_routed_agreement,
    )

    row = ivf_routed_agreement(spark, "/root/testdata/sf0.001").collect()[0]
    assert row["n_vectors"] == row["n_same_cell"] or row["cell_agreement"] >= 0.8


def test_route_lid_unknown_per_language_thresholds(spark):
    # r11: dict thresholds key on the PREDICTED language — the CCNet
    # per-language calibration (margin scales differ across scripts)
    from incremental_datapipeline_using_snowflake_spark.ops.text import (
        route_lid_unknown,
    )

    scored = spark.createDataFrame(
        [
            (1, "en", 100, 50_000),   # en under its 900k default -> unknown
            (2, "zh", 100, 50_000),   # zh over its 20k floor -> labeled
            (3, "zh", 100, 10_000),   # zh under its floor -> unknown
            (4, "de", 100, 950_000),  # unlisted lang takes 'default'
        ],
        "doc_id long, pred_lang string, n_grams long, margin_ppg long",
    )
    out = {
        r["doc_id"]: r["lid_lang"]
        for r in route_lid_unknown(
            scored, min_margin_ppg={"default": 900_000, "zh": 20_000}
        ).collect()
    }
    assert out == {1: "unknown", 2: "zh", 3: "unknown", 4: "de"}
    # scalar form byte-identical to r10 behavior
    out2 = {
        r["doc_id"]: r["lid_lang"]
        for r in route_lid_unknown(scored, min_margin_ppg=60_000).collect()
    }
    assert out2 == {1: "unknown", 2: "unknown", 3: "unknown", 4: "de"}


# ---------------------------------------------------------------------------
# length-bucketed dynamic batching (r11)
# ---------------------------------------------------------------------------
def test_length_bucket_batches_capacity_and_waste(spark):
    from incremental_datapipeline_using_snowflake_spark.ops.textprep import (
        length_bucket_batches,
    )

    # 12 short docs (7 tokens -> bucket 2, cap = 64 div 8 = 8/batch) and
    # 3 long docs (30 tokens -> bucket 4, cap = 64 div 32 = 2/batch)
    rows = [(i, "w " * 7) for i in range(12)] + [
        (100 + i, "w " * 30) for i in range(3)
    ]
    df = spark.createDataFrame(rows, schema="doc_id long, text string")
    out = length_bucket_batches(df, batch_tokens=64, n_shards=1).collect()
    by_bucket = {}
    for r in out:
        by_bucket.setdefault(r["bucket"], []).append(r)
    assert set(by_bucket) == {2, 4}
    # bucket 2: 12 docs at cap 8 -> batches of 8 and 4
    sizes2 = sorted(r["n_docs"] for r in by_bucket[2])
    assert sizes2 == [4, 8]
    # bucket 4: 3 docs at cap 2 -> batches of 2 and 1
    sizes4 = sorted(r["n_docs"] for r in by_bucket[4])
    assert sizes4 == [1, 2]
    # equal-length docs in a batch pad nothing
    assert all(r["waste_frac"] == 0.0 for r in out)
    # bucketed padding beats padding every doc to the global max
    padded = sum(r["padded"] for r in out)
    naive = 15 * 30
    assert padded < naive


def test_length_bucket_order_is_stable_across_runs(spark):
    from incremental_datapipeline_using_snowflake_spark.ops.textprep import (
        length_bucket_batches,
    )

    rows = [(i, "w " * (5 + i % 9)) for i in range(40)]
    df = spark.createDataFrame(rows, schema="doc_id long, text string")
    a = sorted(map(tuple, length_bucket_batches(df).collect()))
    b = sorted(map(tuple, length_bucket_batches(df.repartition(7)).collect()))
    assert a == b  # salted-hash order: partitioning can't leak into batches


# ---------------------------------------------------------------------------
# Gopher char-coverage repetition gates (r11)
# ---------------------------------------------------------------------------
def test_gopher_char_signals_coverage_semantics(spark):
    from incremental_datapipeline_using_snowflake_spark.ops.text import (
        gopher_char_signals,
    )

    rows = [
        # "aa bb" repeated 5x: top-2-gram covers everything; overlapping
        # dup windows must not double-count characters (union mask)
        (1, "aa bb " * 5),
        # unique words: all signals 0, gate passes
        (2, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        # one 10-word chorus twice: dup10 covers exactly the chorus chars
        (3, " ".join(f"u{i}" for i in range(12)) + " "
            + " ".join(f"c{i}" for i in range(10)) + " "
            + " ".join(f"c{i}" for i in range(10))),
    ]
    df = spark.createDataFrame(rows, schema="doc_id long, text string")
    out = {r["doc_id"]: r for r in gopher_char_signals(df).collect()}
    # doc 1: every word is inside a duplicated 5-gram -> dup5 == 1.0
    assert out[1]["dup5gram_frac"] == 1.0
    assert not out[1]["char_gates_pass"]
    # the top 2-gram ("aa bb" or "bb aa", 4 chars x >=4 occurrences) covers
    # >= 16 of 20 chars
    assert out[1]["top2gram_frac"] >= 0.8
    assert out[2]["dup5gram_frac"] == 0.0 and out[2]["top2gram_frac"] == 0.0
    assert out[2]["char_gates_pass"]
    # doc 3: chorus = 2x10 words of 2-3 chars; dup10 counts those words'
    # chars (union over both occurrences), none of the unique prefix
    chorus_chars = 2 * sum(len(f"c{i}") for i in range(10))
    total = out[3]["n_word_chars"]
    assert abs(out[3]["dup10gram_frac"] - round(chorus_chars / total, 4)) < 1e-9


def test_emblsh_referee_recall_and_blocking(spark):
    from incremental_datapipeline_using_snowflake_spark.queries.similarity import (
        dedup_emblsh_recall,
    )

    r = dedup_emblsh_recall(spark, "/root/testdata/sf0.001").collect()[0]
    # every planted x1.001 variant shares all hyperplane signs with its
    # base vector: the bucket join may not miss ANY truth pair
    assert r["n_true"] > 0 and r["recall_bucket"] == 1.0
    # the bucket join is a real blocking stage, not all-pairs: candidates
    # stay far under the sample's pair space
    n = r["n_cand"]
    assert n < 2000  # ~120-vector sample -> all-pairs would be ~7k
def test_routed_append_exactly_once_and_flat_agreement(spark, tmp_path):
    """r12: append_to_ivf_index(routed=True) — the corpus-scale backfill
    path — assigns every batch row exactly once into stored cells and
    dominantly agrees with the flat append."""
    from incremental_datapipeline_using_snowflake_spark.operators import TableStore
    from incremental_datapipeline_using_snowflake_spark.ops import similarity as S
    from pyspark.sql import functions as SF

    base = spark.createDataFrame(
        [(i, _mk_vec(i)) for i in range(300)], "vec_id long, embedding array<double>"
    )
    batch = base.select(
        (SF.col("vec_id") + 9000).alias("vec_id"),
        SF.expr("transform(embedding, x -> x * 1.001)").alias("embedding"),
    )
    assigns = {}
    for routed in (False, True):
        st = TableStore(root=str(tmp_path / f"ap{routed}"))
        S.build_ivf_index(spark, st, base, "t.e", n_cells=None)
        n = S.append_to_ivf_index(spark, st, batch, "t.e", routed=routed)
        assert n == 300
        rows = {
            r["id"]: r["cell"]
            for r in st.read(spark, "t.e.assignments")
            .filter("id >= 9000").select("id", "cell").collect()
        }
        assert len(rows) == 300  # exactly once
        assigns[routed] = rows
    agree = sum(1 for i in assigns[True] if assigns[True][i] == assigns[False][i])
    assert agree >= 270, f"routed/flat append agreement {agree}/300 too low"


def test_pr_curve_monotone_recall_and_impact_report_conservation(spark):
    """r12 extras: the PR curve's cumulative recall is nondecreasing over
    deciles and ends at 1.0; the dedup impact report's bucketed totals
    conserve the per-cluster sums."""
    from incremental_datapipeline_using_snowflake_spark.queries.textops import (
        _shared_pairs_components,
        classifier_pr_curve,
        dedup_impact_report,
    )

    rows = classifier_pr_curve(spark, "/root/testdata/sf0.001").collect()
    assert [r["decile"] for r in rows] == list(range(1, 11))
    recalls = [r["recall"] for r in rows]
    assert all(b >= a for a, b in zip(recalls, recalls[1:]))
    assert abs(recalls[-1] - 1.0) < 1e-9
    # precision within [0,1], kept counts strictly increasing
    assert all(0.0 <= r["precision"] <= 1.0 for r in rows)
    kept = [r["n_kept"] for r in rows]
    assert all(b > a for a, b in zip(kept, kept[1:]))

    rep = dedup_impact_report(spark, "/root/testdata/sf0.001").collect()
    _pairs, comp = _shared_pairs_components(spark, "/root/testdata/sf0.001")
    n_clustered = comp.count()
    n_clusters = comp.select("comp").distinct().count()
    assert sum(r["n_clusters"] for r in rep) == n_clusters
    # every non-canonical member is removed exactly once
    assert sum(r["docs_removed"] for r in rep) == n_clustered - n_clusters
    assert all(r["chars_removed"] > 0 for r in rep)


# ---------------------------------------------------------------------------
# r13: SQ8 scalar quantization (VERDICT r12 missing #2)
# ---------------------------------------------------------------------------


def test_sq8_codes_range_and_determinism(spark):
    from pyspark.sql import functions as F

    from incremental_datapipeline_using_snowflake_spark.ops import similarity as S

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    stats = S.sq8_stats(emb)
    assert len(stats) == 64 and all(lo <= hi for lo, hi in stats)
    enc = emb.select(
        "vec_id", S.sq8_code_col("embedding", stats).alias("code")
    )
    # schema is array<tinyint> — the 1-byte/dim claim is the storage type
    assert enc.schema["code"].dataType.simpleString() == "array<tinyint>"
    row = enc.agg(
        F.min(F.array_min("code")).alias("lo"),
        F.max(F.array_max("code")).alias("hi"),
    ).first()
    assert -128 <= row["lo"] and row["hi"] <= 127
    # extremes are hit: some dim reaches the full scale on min and max
    assert row["lo"] == -128 and row["hi"] == 127
    # deterministic: two encodes agree exactly
    a = {r["vec_id"]: r["code"] for r in enc.collect()}
    b = {r["vec_id"]: r["code"] for r in enc.collect()}
    assert a == b


def test_sq8_topk_matches_reconstruction_ranking(spark):
    """The int-code L2 ranking must equal ranking by L2 over DECODED
    values (the codes ARE the stored representation — scoring them
    directly is the same ordering as reconstructing first), and recall
    vs exact cosine must be usable (> 0.5 at k=5 on unit-norm data)."""
    from pyspark.sql import functions as F

    from incremental_datapipeline_using_snowflake_spark.ops import similarity as S

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qids = [0, 1, 2]
    approx = S.sq8_topk(emb, query_ids=qids, k=5)
    got = {(r["query_id"], r["rank"]): r["nbr_id"] for r in approx.collect()}
    assert len(got) == 15

    exact = S.bruteforce_topk(
        emb, emb.filter(F.col("vec_id").isin(qids)), k=5
    )
    ex = {(r["query_id"], r["rank"]): r["nbr_id"] for r in exact.collect()}
    hits = sum(
        1 for q in qids
        for r in range(1, 6)
        if got[(q, r)] in {ex[(q, rr)] for rr in range(1, 6)}
    )
    assert hits / 15 > 0.5, f"SQ8 recall collapsed: {hits}/15"


def test_ivf_sq8_topk_agrees_with_sq8_inside_probed_cells(spark):
    """Within the probed cells the IVF+SQ8 ranking must agree with plain
    SQ8 distances: every (query, nbr) the IVF variant returns carries the
    same sq8_dist the flat scorer assigns."""
    from incremental_datapipeline_using_snowflake_spark.ops import similarity as S

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qids = [0, 1]
    flat = {
        (r["query_id"], r["nbr_id"]): r["sq8_dist"]
        for r in S.sq8_topk(emb, query_ids=qids, k=50).collect()
    }
    ivf = S.ivf_sq8_topk(emb, query_ids=qids, k=5).collect()
    assert len(ivf) == 10
    for r in ivf:
        key = (r["query_id"], r["nbr_id"])
        if key in flat:  # probed candidate also in the flat top-50
            assert flat[key] == r["sq8_dist"]


def test_sq8_rerank_recovers_exact_topk(spark):
    """Two-stage refine: with a wide-enough shortlist the reranked top-k
    must EQUAL the exact bruteforce top-k (same ranking column, same
    tie-break), not just overlap it."""
    from pyspark.sql import functions as F

    from incremental_datapipeline_using_snowflake_spark.ops import similarity as S

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qids = [0, 1, 2]
    exact = {
        (r["query_id"], r["rank"]): (r["nbr_id"], r["cosine"])
        for r in S.bruteforce_topk(
            emb, emb.filter(F.col("vec_id").isin(qids)), k=5
        ).collect()
    }
    got = {
        (r["query_id"], r["rank"]): (r["nbr_id"], r["cosine"])
        for r in S.sq8_rerank_topk(emb, query_ids=qids, k=5, shortlist=8).collect()
    }
    assert got == exact


def test_ivf_index_sq8_lifecycle(spark, tmp_path):
    """Build with sq8=True -> frozen-quantizer append -> codes+rerank
    query; a fired reindex retrains BOTH centroids and quantizer."""
    from pyspark.sql import functions as F

    from incremental_datapipeline_using_snowflake_spark.operators import TableStore
    from incremental_datapipeline_using_snowflake_spark.ops import similarity as S

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    store = TableStore(root=str(tmp_path / "idx"))
    S.build_ivf_index(spark, store, emb, "t.emb", n_cells=4, sq8=True)
    asg = store.read(spark, "t.emb.assignments")
    assert "code" in asg.columns
    assert dict(asg.dtypes)["code"] == "array<tinyint>"
    assert store.exists("t.emb.sq8_stats")

    # frozen-quantizer append: x1.01 variants drift outside trained
    # ranges -> the clamp must saturate, never wrap the int8 cast
    batch = emb.filter(F.col("vec_id") % 5 == 0).select(
        (F.col("vec_id") + 900000).alias("vec_id"),
        F.transform(F.col("embedding"), lambda x: x.cast("double") * 1.01).alias("embedding"),
    )
    n = S.append_to_ivf_index(spark, store, batch, "t.emb")
    assert n == batch.count()
    grown = store.read(spark, "t.emb.assignments")
    rng = grown.select(
        F.min(F.array_min("code")).alias("lo"), F.max(F.array_max("code")).alias("hi")
    ).first()
    assert -128 <= rng["lo"] and rng["hi"] <= 127

    q = emb.filter(F.col("vec_id") < 3)
    got = S.query_ivf_index(
        spark, store, "t.emb", q, k=5, n_probe=2, sq8_shortlist=8
    ).collect()
    assert len(got) == 15
    # wide shortlist within the probed cells == the float path's answer
    flat = S.query_ivf_index(spark, store, "t.emb", q, k=5, n_probe=2).collect()
    assert {(r["query_id"], r["rank"], r["nbr_id"]) for r in got} == \
           {(r["query_id"], r["rank"], r["nbr_id"]) for r in flat}

    # sq8_shortlist on a non-sq8 index fails loudly
    store2 = TableStore(root=str(tmp_path / "idx2"))
    S.build_ivf_index(spark, store2, emb, "t2.emb", n_cells=4)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="not built with sq8"):
        S.query_ivf_index(spark, store2, "t2.emb", q, k=5, sq8_shortlist=4)

    # grow 4x so the volume probe fires: the rebuilt index must keep the
    # sq8 structure (codes + retrained stats)
    for j in range(3):
        S.append_to_ivf_index(
            spark, store,
            emb.select((F.col("vec_id") + (j + 1) * 1000000).alias("vec_id"),
                       "embedding"),
            "t.emb",
        )
    info = S.maybe_reindex_ivf(spark, store, "t.emb")
    assert info is not None and info["fired_volume"]
    re_asg = store.read(spark, "t.emb.assignments")
    assert "code" in re_asg.columns and store.exists("t.emb.sq8_stats")
