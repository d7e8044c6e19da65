"""r07: end-to-end incremental curation stage (ops.curation)."""

import pytest

from pyspark.sql import functions as F


def _mk_doc(i, words):
    text = " ".join(words)
    return (i, text, "en", "src", len(text))


DOC_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


def _corpus_rows():
    # 12+ distinct words each -> passes the Gopher gate
    base = [
        "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima".split(),
        "mike november oscar papa quebec romeo sierra tango uniform victor whiskey xray".split(),
        "zulu apple banana cherry date elder fig grape honey iris jasmine kiwi".split(),
    ]
    return [_mk_doc(i, w) for i, w in enumerate(base)], base


@pytest.fixture()
def store(tmp_path):
    from incremental_datapipeline_using_snowflake_spark.operators import TableStore

    return TableStore(root=str(tmp_path / "store"))


def test_curate_append_verdicts_and_idempotent_replay(spark, store):
    from incremental_datapipeline_using_snowflake_spark.ops import curation as C

    rows, base = _corpus_rows()
    corpus = spark.createDataFrame(rows, DOC_SCHEMA)
    C.bootstrap_corpus(spark, store, corpus, "cur.docs")

    batch = spark.createDataFrame(
        [
            _mk_doc(100, "one two three four five six seven eight nine ten eleven twelve".split()),
            _mk_doc(101, base[0]),            # exact copy of corpus doc 0
            _mk_doc(102, base[1][2:]),        # near-dup of corpus doc 1
            _mk_doc(103, "one two three four five six seven eight nine ten eleven twelve".split()),
            # ^ batch-internal exact copy of 100 -> min-id 100 wins
            (104, "spam " * 40, "en", "src", 200),  # repetitive -> gate_fail
        ],
        DOC_SCHEMA,
    )
    v = C.curate_append(spark, store, batch, "cur.docs", "r1")
    got = {r["doc_id"]: r["verdict"] for r in v.collect()}
    assert got == {
        100: "kept",
        101: "exact_dup_corpus",
        102: "near_dup_corpus",
        103: "exact_dup_batch",
        104: "gate_fail",
    }
    assert store.read(spark, "cur.docs").count() == 4  # 3 corpus + doc 100
    run = store.read(spark, "cur.docs__runs").collect()[0]
    assert (run["n_batch"], run["n_kept"], run["n_gate_fail"]) == (5, 1, 1)
    # kept doc's bands were appended -> a later exact/near batch sees it
    assert (
        store.read(spark, "cur.docs__bands")
        .filter(F.col("id") == 100)
        .count()
        > 0
    )

    # replay the same batch: everything is now a corpus dup or gated;
    # corpus unchanged, second run row recorded
    v2 = C.curate_append(spark, store, batch, "cur.docs", "r2")
    got2 = {r["doc_id"]: r["verdict"] for r in v2.collect()}
    assert got2[100] == "exact_dup_corpus" and got2[103] == "exact_dup_corpus"
    assert "kept" not in set(got2.values())
    assert store.read(spark, "cur.docs").count() == 4
    assert store.read(spark, "cur.docs__runs").count() == 2


def test_curate_append_embedding_stage(spark, store):
    from incremental_datapipeline_using_snowflake_spark.ops import curation as C

    rows, base = _corpus_rows()
    corpus = spark.createDataFrame(rows, DOC_SCHEMA)
    dim = 8
    emb_rows = [
        (i, [float((i * 7 + d * 3) % 11 - 5) for d in range(dim)]) for i in range(3)
    ]
    emb = spark.createDataFrame(emb_rows, "vec_id long, embedding array<double>")
    C.bootstrap_corpus(
        spark, store, corpus, "cur.docs", emb=emb, dim=dim, n_tables=2, n_planes=3
    )

    # doc 200: fresh text (reversed words of corpus doc 2 -> no shared
    # 3-shingles) but embedding = corpus vec 2 scaled -> semantic dup
    batch = spark.createDataFrame(
        [
            _mk_doc(200, list(reversed(base[2]))),
            _mk_doc(201, "red orange yellow green blue indigo violet cyan magenta teal maroon navy".split()),
        ],
        DOC_SCHEMA,
    )
    batch_emb = spark.createDataFrame(
        [
            (200, [x * 1.001 for x in emb_rows[2][1]]),
            (201, [float(-((d * 5 + 1) % 9) + 4.5) for d in range(dim)]),
        ],
        "vec_id long, embedding array<double>",
    )
    v = C.curate_append(spark, store, batch, "cur.docs", "r1", batch_emb=batch_emb)
    got = {r["doc_id"]: r["verdict"] for r in v.collect()}
    assert got[200] == "embedding_dup_corpus"
    assert got[201] == "kept"
    # kept doc's signature was appended for future batches
    assert (
        store.read(spark, "cur.docs__embsig").filter(F.col("id") == 201).count() == 1
    )


def test_curate_append_rejects_duplicate_ids(spark, store):
    from incremental_datapipeline_using_snowflake_spark.ops import curation as C

    rows, _ = _corpus_rows()
    C.bootstrap_corpus(spark, store, spark.createDataFrame(rows, DOC_SCHEMA), "cur.docs")
    dup = spark.createDataFrame([rows[0], rows[0]], DOC_SCHEMA)
    spark.catalog.clearCache()
    with pytest.raises(ValueError, match="unique and non-NULL"):
        C.curate_append(spark, store, dup, "cur.docs", "bad")
    # the rejected batch's cache is released, not left for the session
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_byte_sized_partitions_follows_aqe_coalescing(spark):
    """The batch-sizing rule is AQE's shuffle-coalescing rule read from the
    session's settings, and it only ever narrows a frame."""
    from incremental_datapipeline_using_snowflake_spark.session import (
        byte_sized_partitions,
    )

    mb = 2**20
    p = spark.sparkContext.defaultParallelism
    assert byte_sized_partitions(spark, 0, 8) == 1
    assert byte_sized_partitions(spark, 5_000, 8) == 1  # under minPartitionSize
    assert byte_sized_partitions(spark, 10**12, 8) == 8  # never widens
    # parallelismFirst: one partition per core down to minPartitionSize ...
    assert byte_sized_partitions(spark, 32 * mb, 10**6) == min(p, 32)
    # ... then advisory-sized (64 MB) partitions
    assert byte_sized_partitions(spark, 2 * p * 64 * mb, 10**6) == 2 * p
    key = "spark.sql.adaptive.coalescePartitions.parallelismFirst"
    spark.conf.set(key, "false")
    try:
        assert byte_sized_partitions(spark, 32 * mb, 10**6) == 1
    finally:
        spark.conf.unset(key)


def test_curate_append_sizes_a_small_batch_to_one_partition(spark, store):
    """A KB-sized batch handed over in 4 slices yields verdicts in ONE
    partition (its bytes, not the slice or core count, size every frame),
    with every verdict kind decided as before."""
    from incremental_datapipeline_using_snowflake_spark.ops import curation as C

    rows, base = _corpus_rows()
    dim = 8
    vec = {i: [float((i * 7 + d * 3) % 11 - 5) for d in range(dim)] for i in range(3)}
    C.bootstrap_corpus(
        spark, store, spark.createDataFrame(rows, DOC_SCHEMA), "cur.docs",
        emb=spark.createDataFrame(list(vec.items()), "vec_id long, embedding array<double>"),
        dim=dim, n_tables=2, n_planes=3,
    )
    fresh = "one two three four five six seven eight nine ten eleven twelve".split()
    other = "amber bronze copper denim ebony fawn gold henna ivory jade khaki lemon".split()
    batch = spark.createDataFrame(
        spark.sparkContext.parallelize(
            [
                _mk_doc(100, fresh),
                _mk_doc(101, base[0]),                  # exact corpus dup
                _mk_doc(102, base[1][2:]),              # near corpus dup
                _mk_doc(103, list(reversed(base[2]))),  # semantic corpus dup
                (104, "spam " * 40, "en", "src", 200),  # gate fail
                _mk_doc(105, fresh),                    # exact batch dup of 100
                _mk_doc(106, fresh[2:]),                # near batch dup of 100
                _mk_doc(107, other),                    # semantic batch dup of 100
            ],
            4,
        ),
        DOC_SCHEMA,
    )
    v100 = [float(-((d * 5 + 1) % 9) + 4.5) for d in range(dim)]
    batch_emb = spark.createDataFrame(
        [(100, v100), (103, [x * 1.001 for x in vec[2]]),
         (107, [x * 1.0001 for x in v100])],
        "vec_id long, embedding array<double>",
    )
    v = C.curate_append(spark, store, batch, "cur.docs", "r1", batch_emb=batch_emb)
    assert v.rdd.getNumPartitions() == 1
    assert {(r["doc_id"], r["verdict"]) for r in v.collect()} == {
        (100, "kept"), (101, "exact_dup_corpus"), (102, "near_dup_corpus"),
        (103, "embedding_dup_corpus"), (104, "gate_fail"),
        (105, "exact_dup_batch"), (106, "near_dup_batch"),
        (107, "embedding_dup_batch"),
    }


def test_repair_aux_backfills_missing_bands(spark, store):
    from incremental_datapipeline_using_snowflake_spark.ops import curation as C

    rows, _ = _corpus_rows()
    corpus = spark.createDataFrame(rows, DOC_SCHEMA)
    C.bootstrap_corpus(spark, store, corpus, "cur.docs")
    # simulate the commit-to-aux crash window: drop doc 2's band rows
    bands = store.read(spark, "cur.docs__bands")
    store.overwrite(bands.filter(F.col("id") != 2), "cur.docs__bands")
    assert C.repair_aux(spark, store, "cur.docs") == 1
    assert store.read(spark, "cur.docs__bands").filter(F.col("id") == 2).count() > 0
    assert C.repair_aux(spark, store, "cur.docs") == 0  # converged

def test_curate_append_bloom_fast_path_parity_and_maintenance(spark, store):
    """Verdicts through the Bloom sketch are the exact ones (no false
    negatives: the corpus dup is still found), and the sketch is
    maintained per run (a later replay sees run-1's kept doc as
    exact_dup_corpus THROUGH the sketch)."""
    from incremental_datapipeline_using_snowflake_spark.ops import curation as C

    rows, base = _corpus_rows()
    C.bootstrap_corpus(spark, store, spark.createDataFrame(rows, DOC_SCHEMA), "cur.a")

    batch = spark.createDataFrame(
        [
            _mk_doc(100, "one two three four five six seven eight nine ten eleven twelve".split()),
            _mk_doc(101, base[0]),  # exact corpus dup -> must survive the sketch
        ],
        DOC_SCHEMA,
    )
    va = {r["doc_id"]: r["verdict"]
          for r in C.curate_append(spark, store, batch, "cur.a", "r1").collect()}
    assert va == {100: "kept", 101: "exact_dup_corpus"}

    # maintenance: kept doc 100's fingerprint words were appended as a
    # delta (row count grew), and a replay routes through the sketch
    assert store.read(spark, "cur.a__bloom").count() > 0
    va2 = {r["doc_id"]: r["verdict"]
           for r in C.curate_append(spark, store, batch, "cur.a", "r2").collect()}
    assert va2 == {100: "exact_dup_corpus", 101: "exact_dup_corpus"}


def test_curate_append_all_new_batch_skips_corpus_scan(spark, store):
    from incremental_datapipeline_using_snowflake_spark.ops import curation as C

    rows, _ = _corpus_rows()
    C.bootstrap_corpus(spark, store, spark.createDataFrame(rows, DOC_SCHEMA), "cur.docs")
    batch = spark.createDataFrame(
        [_mk_doc(300, "cobalt copper silver golden platinum mercury bronze nickel zinc iron lead tin".split())],
        DOC_SCHEMA,
    )
    v = {r["doc_id"]: r["verdict"]
         for r in C.curate_append(spark, store, batch, "cur.docs", "r1").collect()}
    assert v == {300: "kept"}


def test_rebuild_bloom_repairs_and_compacts(spark, store):
    """A tampered (emptied) sketch only costs verdict labels — the doc
    re-merges idempotently — and rebuild_bloom restores membership and
    compacts per-run deltas back to one row per word."""
    from incremental_datapipeline_using_snowflake_spark.ops import curation as C

    rows, base = _corpus_rows()
    C.bootstrap_corpus(spark, store, spark.createDataFrame(rows, DOC_SCHEMA), "cur.docs")
    blm = store.read(spark, "cur.docs__bloom")
    store.overwrite(blm.limit(0), "cur.docs__bloom")  # crash-window stand-in

    batch = spark.createDataFrame([_mk_doc(400, base[0])], DOC_SCHEMA)  # true corpus dup
    v = {r["doc_id"]: r["verdict"]
         for r in C.curate_append(spark, store, batch, "cur.docs", "r1").collect()}
    # sketch ruled it out (false negative by tampering), so the exact stage
    # misses — but the MinHash stage catches the identical text (Jaccard
    # 1.0) downstream: only the verdict LABEL shifts, the corpus is intact
    assert v == {400: "near_dup_corpus"}
    assert store.read(spark, "cur.docs").count() == 3

    m_bits = C.rebuild_bloom(spark, store, "cur.docs")
    assert m_bits > 0
    rebuilt = store.read(spark, "cur.docs__bloom")
    assert rebuilt.groupBy("word").count().filter(F.col("count") > 1).isEmpty()
    v2 = {r["doc_id"]: r["verdict"]
          for r in C.curate_append(spark, store, batch, "cur.docs", "r2").collect()}
    assert v2 == {400: "exact_dup_corpus"}


def test_stream_curate_drains_and_replays_idempotently(spark, store, tmp_path):
    """Streaming twin: two micro-batch files drain through curate_append
    (maxFilesPerTrigger=1 -> one transactional run each); a fresh
    checkpoint re-drain of the same files appends nothing (content-
    fingerprint run ids in the runs table are the marker); a third file
    with one new + one corpus-dup doc curates incrementally."""
    from incremental_datapipeline_using_snowflake_spark.ops import curation as C

    rows, base = _corpus_rows()
    C.bootstrap_corpus(spark, store, spark.createDataFrame(rows, DOC_SCHEMA), "cur.docs")

    src = tmp_path / "src"
    src.mkdir()
    b1 = [
        _mk_doc(500, "amber birch cedar dogwood elm fir ginkgo hazel ironwood juniper koa larch".split()),
        _mk_doc(501, base[0]),  # exact corpus dup
    ]
    b2 = [
        _mk_doc(510, "north south east west upward downward inward outward forward backward leftward rightward".split()),
    ]
    spark.createDataFrame(b1, DOC_SCHEMA).coalesce(1).write.parquet(str(src / "b1"))
    spark.createDataFrame(b2, DOC_SCHEMA).coalesce(1).write.parquet(str(src / "b2"))

    def drain(ckpt, vt=None):
        stream = (
            spark.readStream.schema(DOC_SCHEMA)
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src) + "/*")
        )
        q = C.stream_curate(
            stream, store, "cur.docs", str(tmp_path / ckpt), verdict_table=vt
        )
        q.awaitTermination()

    drain("ck1", vt="cur.verdicts")
    assert store.read(spark, "cur.docs").count() == 5  # 3 corpus + 500 + 510
    assert store.read(spark, "cur.docs__runs").count() == 2
    v = {
        (r["run_id"].split("-")[0], r["doc_id"]): r["verdict"]
        for r in store.read(spark, "cur.verdicts").collect()
    }
    assert v[("stream", 501)] == "exact_dup_corpus"
    assert v[("stream", 500)] == "kept" and v[("stream", 510)] == "kept"

    # fresh checkpoint, same files: fingerprints match -> all skipped
    drain("ck2")
    assert store.read(spark, "cur.docs").count() == 5
    assert store.read(spark, "cur.docs__runs").count() == 2

    # a later file curates incrementally against the grown corpus
    b3 = [
        _mk_doc(520, "ruby topaz opal garnet beryl zircon spinel agate onyx jasper pearl amber".split()),
        _mk_doc(521, b1[0][1].split()),  # dup of streamed-in doc 500
    ]
    spark.createDataFrame(b3, DOC_SCHEMA).coalesce(1).write.parquet(str(src / "b3"))
    drain("ck3")
    corpus_ids = {r["doc_id"] for r in store.read(spark, "cur.docs").select("doc_id").collect()}
    assert 520 in corpus_ids and 521 not in corpus_ids
    assert store.read(spark, "cur.docs__runs").count() == 3


def test_stream_curate_takedown_in_stream(spark, store, tmp_path):
    """r10 (verdict ask #4): deletion records flow through the SAME
    stream as documents (_action='DELETE', the reference's
    APPEND_ONLY=FALSE stream shape) — a mixed micro-batch deletes first
    and curates second, so the deleted text re-ingested under a new id in
    the SAME batch is 'kept'; a delete-only batch purges and marks; a
    fresh-checkpoint replay of every file changes nothing (runs marker
    for doc batches, __deletes marker for takedowns)."""
    from incremental_datapipeline_using_snowflake_spark.ops import curation as C

    rows, base = _corpus_rows()
    C.bootstrap_corpus(spark, store, spark.createDataFrame(rows, DOC_SCHEMA), "cur.docs")

    schema = DOC_SCHEMA + ", _action string"
    src = tmp_path / "src"
    src.mkdir()

    def _write(name, recs):
        spark.createDataFrame(recs, schema).coalesce(1).write.parquet(
            str(src / name)
        )

    def drain(ckpt):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src) + "/*")
        )
        q = C.stream_curate(
            stream, store, "cur.docs", str(tmp_path / ckpt),
            verdict_table="cur.verdicts",
        )
        q.awaitTermination()

    # batch 1: plain append (no DELETE rows; column present but null)
    _write("b1", [
        _mk_doc(600, "amber birch cedar dogwood elm fir ginkgo hazel ironwood juniper koa larch".split()) + (None,),
        _mk_doc(601, base[1]) + (None,),  # exact corpus dup
    ])
    drain("ck1")
    ids = {r["doc_id"] for r in store.read(spark, "cur.docs").collect()}
    assert ids == {0, 1, 2, 600}

    # batch 2 (MIXED): delete doc 1 AND re-ingest its exact text under a
    # new id in the same micro-batch -> delete-then-append makes it kept
    _write("b2", [
        (1, None, None, None, None, "DELETE"),
        _mk_doc(610, base[1]) + (None,),
    ])
    drain("ck1")
    ids = {r["doc_id"] for r in store.read(spark, "cur.docs").collect()}
    assert ids == {0, 2, 600, 610}
    v = {r["doc_id"]: r["verdict"] for r in store.read(spark, "cur.verdicts").collect()}
    assert v[610] == "kept" and v[601] == "exact_dup_corpus"
    dlog = store.read(spark, "cur.docs__deletes").collect()
    assert len(dlog) == 1 and dlog[0]["n_deleted"] == 1
    assert dlog[0]["run_id"].endswith("-del")

    # batch 3: delete-only (no documents at all)
    _write("b3", [(0, None, None, None, None, "DELETE")])
    drain("ck1")
    ids = {r["doc_id"] for r in store.read(spark, "cur.docs").collect()}
    assert ids == {2, 600, 610}
    assert store.read(spark, "cur.docs__deletes").count() == 2

    n_runs = store.read(spark, "cur.docs__runs").count()

    # fresh checkpoint, same files: content fingerprints + delete markers
    # skip every batch — corpus, runs, and delete log all unchanged
    drain("ck2")
    ids2 = {r["doc_id"] for r in store.read(spark, "cur.docs").collect()}
    assert ids2 == {2, 600, 610}
    assert store.read(spark, "cur.docs__runs").count() == n_runs
    assert store.read(spark, "cur.docs__deletes").count() == 2


def test_wet_ingest_composes_into_curation(spark, store, tmp_path):
    """Product-shaped end-to-end: WET crawl bytes -> quarantine gate ->
    documents shape -> transactional curate_append. A re-ingest of the
    same WET file resolves as pure corpus dups (deterministic doc ids)."""
    from incremental_datapipeline_using_snowflake_spark.ops import curation as C
    from incremental_datapipeline_using_snowflake_spark.sources.warc_source import (
        encode_wet,
        read_warc,
        warc_quarantine_split,
        warc_to_documents,
    )

    rows, base = _corpus_rows()
    C.bootstrap_corpus(spark, store, spark.createDataFrame(rows, DOC_SCHEMA), "cur.docs")

    crawl = tmp_path / "crawl"
    crawl.mkdir()
    recs = [
        {"uri": "http://x.example/fresh", "date": "2026-08-10T00:00:00Z",
         "text": "quartz basalt gneiss shale slate marble granite pumice chalk flint obsidian schist"},
        {"uri": "http://x.example/dup", "date": "2026-08-10T00:00:01Z",
         "text": " ".join(base[0])},  # exact copy of corpus doc 0
    ]
    (crawl / "shard0.wet.gz").write_bytes(encode_wet(recs, compress=True))

    clean, bad = warc_quarantine_split(read_warc(spark, str(crawl)))
    assert bad.isEmpty()
    docs = warc_to_documents(clean)
    v1 = {r["verdict"] for r in
          C.curate_append(spark, store, docs, "cur.docs", "wet1").collect()}
    assert v1 == {"kept", "exact_dup_corpus"}
    assert store.read(spark, "cur.docs").count() == 4

    # re-ingest the same file: same ids -> all corpus dups, corpus unchanged
    docs2 = warc_to_documents(warc_quarantine_split(read_warc(spark, str(crawl)))[0])
    v2 = {r["verdict"] for r in
          C.curate_append(spark, store, docs2, "cur.docs", "wet2").collect()}
    assert v2 == {"exact_dup_corpus"}
    assert store.read(spark, "cur.docs").count() == 4


def test_repair_aux_backfills_missing_embsig(spark, store):
    """A crash between the band append and the signature append leaves a
    kept doc without LSH signatures; repair_aux with the caller's
    embeddings restores them at the frozen bootstrap structure."""
    from incremental_datapipeline_using_snowflake_spark.ops import curation as C

    rows, _ = _corpus_rows()
    corpus = spark.createDataFrame(rows, DOC_SCHEMA)
    dim = 8
    emb = spark.createDataFrame(
        [(i, [float((i * 5 + d) % 7 - 3) for d in range(dim)]) for i in range(3)],
        "vec_id long, embedding array<double>",
    )
    C.bootstrap_corpus(spark, store, corpus, "cur.docs",
                       emb=emb, dim=dim, n_tables=2, n_planes=3)
    sigs = store.read(spark, "cur.docs__embsig")
    before = sigs.filter(F.col("id") == 1).collect()
    store.overwrite(sigs.filter(F.col("id") != 1), "cur.docs__embsig")

    assert C.repair_aux(spark, store, "cur.docs", emb=emb) == 1
    after = store.read(spark, "cur.docs__embsig").filter(F.col("id") == 1).collect()
    assert len(after) == 1 and after[0]["buckets"] == before[0]["buckets"]
    assert C.repair_aux(spark, store, "cur.docs", emb=emb) == 0  # converged


def test_stream_curate_with_inline_embeddings(spark, store, tmp_path):
    """r08: a stream whose rows CARRY their embedding column runs the
    semantic near-dup stage per micro-batch — the one-stream multimodal
    shape that was batch-API-only before. A semantic-only dup (no shared
    shingles, scaled twin vector) is caught in-stream; a NULL-vector row
    passes through stage 4; the corpus schema stays text-only."""
    from incremental_datapipeline_using_snowflake_spark.ops import curation as C

    rows, base = _corpus_rows()
    corpus = spark.createDataFrame(rows, DOC_SCHEMA)
    dim = 8
    emb_rows = [
        (i, [float((i * 7 + d * 3) % 11 - 5) for d in range(dim)]) for i in range(3)
    ]
    emb = spark.createDataFrame(emb_rows, "vec_id long, embedding array<double>")
    C.bootstrap_corpus(
        spark, store, corpus, "cur.docs", emb=emb, dim=dim, n_tables=2, n_planes=3
    )

    schema = DOC_SCHEMA + ", embedding array<double>"
    b1 = [
        # semantic-only dup: reversed words (no shared 3-shingles), vector
        # = corpus vec 2 scaled
        _mk_doc(600, list(reversed(base[2])))
        + ([x * 1.001 for x in emb_rows[2][1]],),
        # fresh doc with NO vector -> passes stage 4
        _mk_doc(601, "red orange yellow green blue indigo violet cyan magenta teal maroon navy".split())
        + (None,),
    ]
    src = tmp_path / "esrc"
    src.mkdir()
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(str(src / "b1"))

    stream = spark.readStream.schema(schema).parquet(str(src) + "/*")
    q = C.stream_curate(
        stream, store, "cur.docs", str(tmp_path / "eck"),
        verdict_table="cur.everdicts", vec_col="embedding",
    )
    q.awaitTermination()

    v = {r["doc_id"]: r["verdict"]
         for r in store.read(spark, "cur.everdicts").collect()}
    assert v == {600: "embedding_dup_corpus", 601: "kept"}
    merged = store.read(spark, "cur.docs")
    assert "embedding" not in merged.columns  # corpus schema stays text-only
    assert merged.count() == 4  # 3 corpus + 601


def test_rebuild_embsig_reindexes_and_stays_consistent(spark, store):
    """r08: the re-index discipline the module docstring prescribes has an
    operator — rebuild_embsig swaps __embsig + __curation_meta atomically
    at a new plane count; a post-rebuild curate run signs its batch with
    the NEW meta and still catches a semantic dup."""
    from incremental_datapipeline_using_snowflake_spark.ops import curation as C

    assert C.auto_n_planes(10) == 4              # floor
    assert C.auto_n_planes(64 * 2 ** 10) == 10   # n/target = 2^10
    assert C.auto_n_planes(64 * 2 ** 10 + 1) == 11

    rows, base = _corpus_rows()
    corpus = spark.createDataFrame(rows, DOC_SCHEMA)
    dim = 8
    emb_rows = [
        (i, [float((i * 7 + d * 3) % 11 - 5) for d in range(dim)]) for i in range(3)
    ]
    emb = spark.createDataFrame(emb_rows, "vec_id long, embedding array<double>")
    C.bootstrap_corpus(
        spark, store, corpus, "cur.docs", emb=emb, dim=dim, n_tables=2, n_planes=3
    )

    info = C.rebuild_embsig(spark, store, "cur.docs", emb, n_planes=5)
    assert info == {"n_planes": 5, "n_tables": 2, "n_signed": 3}
    meta = store.read(spark, "cur.docs__curation_meta").collect()[0]
    assert meta["n_planes"] == 5 and meta["n_tables"] == 2
    assert store.read(spark, "cur.docs__embsig").count() == 3

    # post-rebuild run: batch signatures come from the NEW meta, so the
    # scaled twin of corpus vec 2 still lands in its bucket and verifies
    batch = spark.createDataFrame(
        [_mk_doc(200, list(reversed(base[2])))], DOC_SCHEMA
    )
    batch_emb = spark.createDataFrame(
        [(200, [x * 1.001 for x in emb_rows[2][1]])],
        "vec_id long, embedding array<double>",
    )
    v = C.curate_append(spark, store, batch, "cur.docs", "r1", batch_emb=batch_emb)
    got = {r["doc_id"]: r["verdict"] for r in v.collect()}
    assert got[200] == "embedding_dup_corpus"

    # auto sizing path: tiny corpus floors at 4 planes
    info2 = C.rebuild_embsig(spark, store, "cur.docs", emb)
    assert info2["n_planes"] == 4


def test_curation_status_reports_aux_consistency(spark, store):
    """r08: curation_status quantifies the at-least-once repair backlog —
    missing band rows (repair_aux's job) and un-compacted bloom deltas
    (rebuild_bloom's job)."""
    from incremental_datapipeline_using_snowflake_spark.ops import curation as C

    rows, _ = _corpus_rows()
    corpus = spark.createDataFrame(rows, DOC_SCHEMA)
    C.bootstrap_corpus(spark, store, corpus, "cur.docs")
    s0 = C.curation_status(spark, store, "cur.docs")
    assert s0["n_corpus"] == 3 and s0["n_missing_bands"] == 0
    assert s0["n_runs"] == 0 and s0["bloom_delta_rows"] == 0

    batch = spark.createDataFrame(
        [_mk_doc(100, "one two three four five six seven eight nine ten eleven twelve".split())],
        DOC_SCHEMA,
    )
    C.curate_append(spark, store, batch, "cur.docs", "r1")
    s1 = C.curation_status(spark, store, "cur.docs")
    # the kept doc's band rows were appended (no backlog), its bloom delta
    # rows await compaction, and the run is recorded
    assert s1["n_corpus"] == 4 and s1["n_missing_bands"] == 0
    assert s1["n_runs"] == 1 and s1["bloom_delta_rows"] > 0

    C.rebuild_bloom(spark, store, "cur.docs")
    s2 = C.curation_status(spark, store, "cur.docs")
    assert s2["bloom_delta_rows"] == 0


def test_export_and_verify_corpus_snapshot(spark, store, tmp_path):
    """Export -> manifest (order-independent checksum + store version) ->
    consumer-side verification; a tampered shard set fails loudly."""
    from incremental_datapipeline_using_snowflake_spark.ops import curation as C

    rows, _ = _corpus_rows()
    corpus = spark.createDataFrame(rows, DOC_SCHEMA).withColumn(
        "split", F.when(F.col("doc_id") < 2, "train").otherwise("val")
    )
    C.bootstrap_corpus(spark, store, corpus, "cur.docs")

    out = tmp_path / "snap"
    man = C.export_corpus_snapshot(
        spark, store, "cur.docs", str(out), split_col="split", compression=None
    )
    rows_m = {r["split"]: r for r in man.collect()}
    assert rows_m["train"]["n_rows"] == 2 and rows_m["val"]["n_rows"] == 1
    assert rows_m["train"]["store_version"] is not None
    assert (out / "_manifest.jsonl").exists()
    assert C.verify_corpus_snapshot(spark, str(out)) is True

    # tamper: drop the val shard dir -> verification must fail
    import shutil

    shutil.rmtree(str(out / "data" / "split=val"))
    with pytest.raises(ValueError, match="val"):
        C.verify_corpus_snapshot(spark, str(out))

    # unpartitioned export round-trips too
    out2 = tmp_path / "snap2"
    C.export_corpus_snapshot(spark, store, "cur.docs", str(out2))
    assert C.verify_corpus_snapshot(spark, str(out2)) is True

    # a split column NOT named 'split' round-trips: the manifest records
    # split_col and the verifier groups by it (r08 ADVICE fix — previously
    # this raised a missing-column error instead of verifying)
    corpus3 = spark.createDataFrame(rows, DOC_SCHEMA).withColumn(
        "corpus_part", F.when(F.col("doc_id") < 2, "a").otherwise("b")
    )
    C.bootstrap_corpus(spark, store, corpus3, "cur.docs3")
    out3 = tmp_path / "snap3"
    man3 = C.export_corpus_snapshot(
        spark, store, "cur.docs3", str(out3), split_col="corpus_part",
        compression=None,
    )
    assert {r["split"] for r in man3.collect()} == {"a", "b"}
    assert (out3 / "data" / "corpus_part=a").exists()
    assert C.verify_corpus_snapshot(spark, str(out3)) is True
    shutil.rmtree(str(out3 / "data" / "corpus_part=b"))
    with pytest.raises(ValueError, match="b"):
        C.verify_corpus_snapshot(spark, str(out3))

    # a NUMERIC split column round-trips too (manifest keys are pinned to
    # STRING so JSON-number inference can't break the comparison)
    corpus4 = spark.createDataFrame(rows, DOC_SCHEMA).withColumn(
        "year", F.when(F.col("doc_id") < 2, F.lit(2023)).otherwise(F.lit(2024))
    )
    C.bootstrap_corpus(spark, store, corpus4, "cur.docs4")
    out4 = tmp_path / "snap4"
    man4 = C.export_corpus_snapshot(
        spark, store, "cur.docs4", str(out4), split_col="year", compression=None
    )
    assert {r["split"] for r in man4.collect()} == {"2023", "2024"}
    assert C.verify_corpus_snapshot(spark, str(out4)) is True


def test_delta_snapshot_export_chain(spark, store, tmp_path):
    """r10 (verdict ask #3): incremental snapshot export — base export ->
    curate_append -> delta export carries ONLY the churn, chains to the
    base by version, link-verifies O(churn), and the materialized chain
    reproduces the final manifest's full-corpus stats exactly. A second
    delta after delete_docs proves a takedown ships as ids-only removal
    (no deleted text in the delta), and a tampered delta shard fails."""
    from incremental_datapipeline_using_snowflake_spark.ops import curation as C

    rows, base = _corpus_rows()
    corpus = spark.createDataFrame(rows, DOC_SCHEMA)
    C.bootstrap_corpus(spark, store, corpus, "cur.docs")

    snap = tmp_path / "base"
    C.export_corpus_snapshot(
        spark, store, "cur.docs", str(snap), compression=None
    )
    assert C.verify_corpus_snapshot(spark, str(snap)) is True

    # nightly append: one kept doc, rest dropped
    batch = spark.createDataFrame(
        [
            _mk_doc(100, "one two three four five six seven eight nine ten eleven twelve".split()),
            _mk_doc(101, base[0]),  # exact corpus dup -> not in the delta
        ],
        DOC_SCHEMA,
    )
    C.curate_append(spark, store, batch, "cur.docs", "r1")

    d1 = tmp_path / "delta1"
    man1 = {r["split"]: r for r in C.export_corpus_delta(
        spark, store, "cur.docs", str(d1), str(snap), compression=None
    ).collect()}
    assert man1["all"]["added_n_rows"] == 1          # only the kept doc
    assert man1["all"]["removed_n_rows"] == 0
    assert man1["all"]["deleted_ids"] == 0
    assert man1["all"]["result_n_rows"] == 4
    assert C.verify_corpus_delta(spark, str(snap), str(d1)) is True
    # the delta ships ONLY the churn: one upsert row
    assert spark.read.json(f"{d1}/data").count() == 1

    # takedown: delete doc 1, then delta-export on top of delta1
    C.delete_docs(spark, store, "cur.docs", [1])
    d2 = tmp_path / "delta2"
    man2 = {r["split"]: r for r in C.export_corpus_delta(
        spark, store, "cur.docs", str(d2), str(d1), compression=None
    ).collect()}
    assert man2["all"]["added_n_rows"] == 0
    assert man2["all"]["removed_n_rows"] == 1
    assert man2["all"]["deleted_ids"] == 1
    assert man2["all"]["result_n_rows"] == 3
    assert int(man2["all"]["base_version"]) == int(man1["all"]["store_version"])
    # ids-only: the removed text appears NOWHERE in the takedown delta
    dels = spark.read.json(f"{d2}/_deletes")
    assert dels.columns == ["doc_id"] and dels.collect()[0]["doc_id"] == 1
    assert C.verify_corpus_delta(spark, str(d1), str(d2)) is True

    # end-to-end chain proof: base + d1 + d2 materializes to exactly the
    # live corpus, and the full-scan stats equal the final manifest
    assert C.verify_corpus_chain(spark, str(snap), [str(d1), str(d2)]) is True
    mat = C.materialize_corpus_chain(spark, str(snap), [str(d1), str(d2)])
    live = {r["doc_id"]: r["text"] for r in store.read(spark, "cur.docs").collect()}
    got = {r["doc_id"]: r["text"] for r in mat.collect()}
    assert got == live and 1 not in got

    # chain-break detection: d2 does not chain directly onto the base
    with pytest.raises(ValueError, match="chain break"):
        C.verify_corpus_delta(spark, str(snap), str(d2))

    # tamper: corrupt the delta1 upsert shard -> link verification fails.
    # With its .crc sidecar left stale the read itself fails loudly (it is
    # never taken for "no upserts"); with the sidecar gone the forged row
    # is read and the added_* stats catch it
    import glob as _glob
    import os as _os

    shard = _glob.glob(f"{d1}/data/part-*.json")[0]
    with open(shard, "a") as f:
        f.write('{"doc_id": 999, "text": "forged", "lang": "en", '
                '"source": "x", "n_chars": 6}\n')
    with pytest.raises(Exception, match="ChecksumException"):
        C.verify_corpus_delta(spark, str(snap), str(d1))
    crc = _os.path.join(_os.path.dirname(shard), f".{_os.path.basename(shard)}.crc")
    _os.remove(crc)
    with pytest.raises(ValueError, match="added"):
        C.verify_corpus_delta(spark, str(snap), str(d1))


def test_streaming_crawl_to_curation_end_to_end(spark, store, tmp_path):
    """The full continuous-crawl shape: format('warc') stream over
    arriving WET shards -> quarantine filter -> documents mapping ->
    stream_curate (one transactional run per micro-batch). A second shard
    arriving later curates incrementally against the grown corpus; a
    re-drain under the same checkpoint ingests nothing."""
    from incremental_datapipeline_using_snowflake_spark.ops import curation as C
    from incremental_datapipeline_using_snowflake_spark.sources.warc_datasource import (
        WarcDataSource,
    )
    from incremental_datapipeline_using_snowflake_spark.sources.warc_source import (
        encode_wet,
        warc_to_documents,
    )

    spark.dataSource.register(WarcDataSource)
    rows, base = _corpus_rows()
    C.bootstrap_corpus(spark, store, spark.createDataFrame(rows, DOC_SCHEMA), "cur.docs")

    d = tmp_path / "crawl"
    d.mkdir()
    (d / "shard-00001.wet.gz").write_bytes(encode_wet(
        [
            {"uri": "http://c.example/new1", "date": "2026-08-15T00:00:00Z",
             "text": "amber birch cedar dogwood elm fir ginkgo hazel ironwood juniper koa larch"},
            {"uri": "http://c.example/dup", "date": "2026-08-15T00:00:01Z",
             "text": " ".join(base[0])},  # exact corpus dup
        ],
        compress=True,
    ))

    def drain(ckpt="ck"):
        stream = spark.readStream.format("warc").option("path", str(d)).load()
        docs = warc_to_documents(stream.filter("parse_error IS NULL"))
        q = C.stream_curate(docs, store, "cur.docs", str(tmp_path / ckpt))
        q.awaitTermination(180)

    drain()
    assert store.read(spark, "cur.docs").count() == 4  # 3 corpus + new1
    assert store.read(spark, "cur.docs__runs").count() == 1

    # second shard arrives: one new doc + a dup of shard 1's kept doc
    (d / "shard-00002.wet.gz").write_bytes(encode_wet(
        [
            {"uri": "http://c.example/new2", "date": "2026-08-15T00:01:00Z",
             "text": "quartz basalt gneiss shale slate marble granite pumice chalk flint obsidian schist"},
            {"uri": "http://c.example/dup1", "date": "2026-08-15T00:01:01Z",
             "text": "amber birch cedar dogwood elm fir ginkgo hazel ironwood juniper koa larch"},
        ],
        compress=True,
    ))
    drain()
    assert store.read(spark, "cur.docs").count() == 5  # + new2 only
    assert store.read(spark, "cur.docs__runs").count() == 2

    drain()  # nothing new arrived: no batch fires at all
    assert store.read(spark, "cur.docs__runs").count() == 2


def _big_corpus(spark, n=300, dim=4):
    rows = [
        _mk_doc(i, [f"w{i}x{j}" for j in range(12)]) for i in range(n)
    ]
    emb_rows = [
        (i, [float((i % 7) + 1), float((i % 5) + 1), float((i % 3) + 1), 1.0])
        for i in range(n)
    ]
    return (
        spark.createDataFrame(rows, DOC_SCHEMA),
        spark.createDataFrame(emb_rows, "vec_id long, embedding array<double>"),
    )


def test_maybe_reindex_threshold_and_auto_trigger(spark, store):
    """r09 (verdict ask #2): the re-index POLICY — maybe_reindex_embsig
    fires rebuild_embsig only past the plane-drift threshold, and
    curate_append runs it automatically as its maintenance step, sourcing
    vectors from the store itself (no caller embeddings needed)."""
    from incremental_datapipeline_using_snowflake_spark.ops import curation as C

    corpus, emb = _big_corpus(spark)
    # drift 1 (auto_n_planes(300) = 4 vs frozen 3): below threshold
    C.bootstrap_corpus(
        spark, store, corpus, "cur.a", emb=emb, dim=4, n_tables=2, n_planes=3
    )
    assert C.maybe_reindex_embsig(spark, store, "cur.a") is None
    assert store.read(spark, "cur.a__curation_meta").collect()[0]["n_planes"] == 3

    # drift 2 (4 vs frozen 2): fires, re-signing every stored vector at the
    # auto-sized plane count
    C.bootstrap_corpus(
        spark, store, corpus, "cur.b", emb=emb, dim=4, n_tables=2, n_planes=2
    )
    info = C.maybe_reindex_embsig(spark, store, "cur.b")
    assert info == {"n_planes": 4, "n_tables": 2, "n_signed": 300}
    meta = store.read(spark, "cur.b__curation_meta").collect()[0]
    assert meta["n_planes"] == 4
    assert store.read(spark, "cur.b__embsig").count() == 300

    # wired into curate_append: a run against a drifted structure ends
    # with the rebuilt meta (auto_reindex defaults ON); auto_reindex=False
    # leaves the frozen structure alone
    C.bootstrap_corpus(
        spark, store, corpus, "cur.c", emb=emb, dim=4, n_tables=2, n_planes=2
    )
    batch = spark.createDataFrame(
        [_mk_doc(9000, "quark lepton boson gluon photon hadron meson baryon neutrino muon tauon pion".split())],
        DOC_SCHEMA,
    )
    batch_emb = spark.createDataFrame(
        [(9000, [9.0, -9.0, 9.0, -9.0])], "vec_id long, embedding array<double>"
    )
    v = C.curate_append(
        spark, store, batch, "cur.c", "r1", batch_emb=batch_emb,
        auto_reindex=False,
    )
    assert {r["verdict"] for r in v.collect()} == {"kept"}
    assert store.read(spark, "cur.c__curation_meta").collect()[0]["n_planes"] == 2

    batch2 = spark.createDataFrame(
        [_mk_doc(9001, "ruby topaz opal garnet beryl zircon spinel agate jade onyx pearl coral".split())],
        DOC_SCHEMA,
    )
    batch2_emb = spark.createDataFrame(
        [(9001, [-9.0, 9.0, -9.0, 9.0])], "vec_id long, embedding array<double>"
    )
    C.curate_append(spark, store, batch2, "cur.c", "r2", batch_emb=batch2_emb)
    meta2 = store.read(spark, "cur.c__curation_meta").collect()[0]
    assert meta2["n_planes"] == C.auto_n_planes(302) == 4
    # the status report shows the drift is gone
    st = C.curation_status(spark, store, "cur.c")
    assert st["reindex_plane_drift"] <= 0 and st["n_planes"] == 4


def test_delete_docs_purges_corpus_and_dedup_memory(spark, store):
    """r09 (verdict ask #3): takedown propagation — delete purges the
    corpus AND bands/signatures/bloom in one transaction, so the same text
    re-ingested under a NEW id is judged fresh (kept), and replaying the
    delete is an idempotent no-op."""
    from incremental_datapipeline_using_snowflake_spark.ops import curation as C

    rows, base = _corpus_rows()
    corpus = spark.createDataFrame(rows, DOC_SCHEMA)
    dim = 8
    emb_rows = [
        (i, [float((i * 7 + d * 3) % 11 - 5) for d in range(dim)]) for i in range(3)
    ]
    emb = spark.createDataFrame(emb_rows, "vec_id long, embedding array<double>")
    C.bootstrap_corpus(
        spark, store, corpus, "cur.docs", emb=emb, dim=dim, n_tables=2, n_planes=3
    )

    # sanity: before the delete, a re-ingest of doc 1's text is a dup
    probe = spark.createDataFrame([_mk_doc(500, base[1])], DOC_SCHEMA)
    v0 = C.curate_append(spark, store, probe, "cur.docs", "probe0")
    assert v0.collect()[0]["verdict"] == "exact_dup_corpus"

    info = C.delete_docs(spark, store, "cur.docs", [1], run_id="take1")
    assert info == {"n_keys": 1, "n_deleted": 1, "n_corpus_after": 2}
    assert store.read(spark, "cur.docs").filter("doc_id = 1").count() == 0
    assert store.read(spark, "cur.docs__bands").filter("id = 1").count() == 0
    assert store.read(spark, "cur.docs__embsig").filter("id = 1").count() == 0
    log = store.read(spark, "cur.docs__deletes").collect()
    assert [(r["run_id"], r["n_keys"], r["n_deleted"]) for r in log] == [
        ("take1", 1, 1)
    ]

    # the SAME text under a NEW id is fresh again: no fingerprint, band,
    # signature, or bloom bit survived for it
    re_ingest = spark.createDataFrame([_mk_doc(501, base[1])], DOC_SCHEMA)
    v1 = C.curate_append(spark, store, re_ingest, "cur.docs", "re1")
    assert v1.collect()[0]["verdict"] == "kept"
    assert store.read(spark, "cur.docs").filter("doc_id = 501").count() == 1

    # replaying the takedown list: idempotent, recorded, nothing re-deleted
    info2 = C.delete_docs(spark, store, "cur.docs", [1], run_id="take1-replay")
    assert info2["n_deleted"] == 0 and info2["n_corpus_after"] == 3
    assert store.read(spark, "cur.docs__deletes").count() == 2
    assert C.curation_status(spark, store, "cur.docs")["n_delete_runs"] == 2


def test_delete_docs_by_url_and_dataframe_keys(spark, store):
    """delete_docs resolves non-id key columns (URL takedown lists) and
    accepts the at-scale DataFrame form (broadcast semi-join, no driver
    collect)."""
    from incremental_datapipeline_using_snowflake_spark.ops import curation as C

    rows, base = _corpus_rows()
    corpus = spark.createDataFrame(rows, DOC_SCHEMA).withColumn(
        "url", F.concat(F.lit("http://ex.com/d"), F.col("doc_id"))
    )
    C.bootstrap_corpus(spark, store, corpus, "cur.docs")

    info = C.delete_docs(
        spark, store, "cur.docs", ["http://ex.com/d0"], key_col="url",
        run_id="url1",
    )
    assert info["n_deleted"] == 1
    assert store.read(spark, "cur.docs").filter("doc_id = 0").count() == 0

    keys_df = spark.createDataFrame([(2,)], "doc_id long")
    info2 = C.delete_docs(spark, store, "cur.docs", keys_df, run_id="df1")
    assert info2 == {"n_keys": 1, "n_deleted": 1, "n_corpus_after": 1}
    # bloom was rebuilt from survivors: deleted text probes clean
    re_ingest = spark.createDataFrame([_mk_doc(700, base[2])], DOC_SCHEMA)
    v = C.curate_append(spark, store, re_ingest, "cur.docs", "re-df")
    assert v.collect()[0]["verdict"] == "kept"


def test_delete_then_reexport_snapshot(spark, store, tmp_path):
    """r09: exported snapshots are immutable — after a takedown, a
    RE-export ships the purged corpus under a NEW store version, the fresh
    manifest verifies, and the pre-delete manifest still identifies (by
    store_version) which shipped snapshot predates the takedown."""
    from incremental_datapipeline_using_snowflake_spark.ops import curation as C

    rows, _ = _corpus_rows()
    C.bootstrap_corpus(
        spark, store, spark.createDataFrame(rows, DOC_SCHEMA), "cur.docs"
    )
    out1 = str(tmp_path / "snap1")
    man1 = C.export_corpus_snapshot(spark, store, "cur.docs", out1).collect()
    assert C.verify_corpus_snapshot(spark, out1)

    C.delete_docs(spark, store, "cur.docs", [0], run_id="take")
    out2 = str(tmp_path / "snap2")
    man2 = C.export_corpus_snapshot(spark, store, "cur.docs", out2).collect()
    assert C.verify_corpus_snapshot(spark, out2)
    assert man2[0]["n_rows"] == man1[0]["n_rows"] - 1
    # version ordering identifies pre-takedown snapshots
    assert man2[0]["store_version"] > man1[0]["store_version"]
    # the old snapshot still verifies as WHAT IT WAS (immutable artifact);
    # consumers retire it by store_version, not by mutation
    assert C.verify_corpus_snapshot(spark, out1)


def test_stream_curate_publish_chain(spark, tmp_path):
    """r11 (verdict ask #4): continuous publish — drain shards ->
    churn-only delta link -> chain verifies; an in-stream takedown ships
    a correct ids-only delete-bearing link; a fresh-checkpoint replay of
    every file appends nothing AND mints no duplicate link (version-gated
    publish no-op)."""
    from incremental_datapipeline_using_snowflake_spark.operators import TableStore
    from incremental_datapipeline_using_snowflake_spark.ops import curation as C

    # a takedown micro-batch advances TWO store versions (delete, then
    # curate); the publish cadence must stay within version retention, so
    # a continuous-publish store needs keep_versions >= versions-per-drain
    # + 1 (export_corpus_delta raises loudly past it)
    store = TableStore(root=str(tmp_path / "store"), keep_versions=8)
    rows, base = _corpus_rows()
    C.bootstrap_corpus(spark, store, spark.createDataFrame(rows, DOC_SCHEMA), "cur.docs")
    pub = str(tmp_path / "pub")

    # first publish: base snapshot of the bootstrapped corpus
    info0 = C.publish_corpus_delta(spark, store, "cur.docs", pub, compression=None)
    assert info0["published"] == "base"
    assert C.verify_corpus_snapshot(spark, f"{pub}/base") is True

    src = tmp_path / "src"
    src.mkdir()
    ACT = DOC_SCHEMA + ", _action string"
    b1 = [
        _mk_doc(600, "quark lepton boson gluon photon hadron meson baryon neutrino positron muon tauon".split()) + ("INSERT",),
        _mk_doc(601, base[0]) + ("INSERT",),  # exact corpus dup -> no churn
    ]
    spark.createDataFrame(b1, ACT).coalesce(1).write.parquet(str(src / "b1"))

    def drain(ckpt):
        stream = (
            spark.readStream.schema(ACT)
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src) + "/*")
        )
        return C.stream_curate_publish(
            stream, store, "cur.docs", str(tmp_path / ckpt), pub, compression=None
        )

    # drain shard 1 -> one churn-only link: the kept doc only
    info1 = drain("ck1")
    assert info1["published"] == "link-000001"
    man1 = {r["split"]: r for r in
            spark.read.json(f"{pub}/link-000001/_manifest.jsonl").collect()}
    assert man1["all"]["added_n_rows"] == 1 and man1["all"]["deleted_ids"] == 0
    assert spark.read.json(f"{pub}/link-000001/data").count() == 1
    assert C.verify_corpus_delta(spark, f"{pub}/base", f"{pub}/link-000001") is True

    # shard 2: in-stream takedown of doc 600 + one new doc, same batch
    b2 = [
        _mk_doc(600, ["x"]) + ("DELETE",),
        _mk_doc(610, "amber birch cedar dogwood elm fir ginkgo hazel ironwood juniper koa larch".split()) + ("INSERT",),
    ]
    spark.createDataFrame(b2, ACT).coalesce(1).write.parquet(str(src / "b2"))
    info2 = drain("ck1")  # same checkpoint continues
    assert info2["published"] == "link-000002"
    man2 = {r["split"]: r for r in
            spark.read.json(f"{pub}/link-000002/_manifest.jsonl").collect()}
    assert man2["all"]["deleted_ids"] == 1 and man2["all"]["added_n_rows"] == 1
    dels = spark.read.json(f"{pub}/link-000002/_deletes")
    assert dels.columns == ["doc_id"] and dels.collect()[0]["doc_id"] == 600
    assert C.verify_corpus_delta(
        spark, f"{pub}/link-000001", f"{pub}/link-000002") is True

    # full replay from a fresh checkpoint: curation appends nothing
    # (fingerprint + delete markers), publish is a no-op -> no new link
    info3 = drain("ck_replay")
    assert info3["published"] is None
    import os
    assert sorted(d for d in os.listdir(pub) if d.startswith("link-")) == [
        "link-000001", "link-000002",
    ]

    # end-to-end: the chain materializes to exactly the live corpus
    assert C.verify_corpus_chain(
        spark, f"{pub}/base", [f"{pub}/link-000001", f"{pub}/link-000002"]
    ) is True
    live = {r["doc_id"] for r in store.read(spark, "cur.docs").select("doc_id").collect()}
    mat = {r["doc_id"] for r in C.materialize_corpus_chain(
        spark, f"{pub}/base", [f"{pub}/link-000001", f"{pub}/link-000002"]
    ).collect()}
    assert mat == live and 600 not in mat and 610 in mat
def test_rebase_corpus_chain_lifecycle(spark, tmp_path):
    """r12 (verdict r11 missing #4): long chain -> rebase -> short chain.
    Upsert AND takedown links fold; the rebased base reproduces the head
    manifest's stats (mod-2^61 fold); verify_corpus_chain is green on the
    new chain; old links are gone; publish numbering restarts; the
    version gate survives (replayed publish after rebase is a no-op);
    rebase replay is a no-op."""
    import os

    from incremental_datapipeline_using_snowflake_spark.operators import TableStore
    from incremental_datapipeline_using_snowflake_spark.ops import curation as C

    store = TableStore(root=str(tmp_path / "store"), keep_versions=8)
    rows, _base = _corpus_rows()
    C.bootstrap_corpus(spark, store, spark.createDataFrame(rows, DOC_SCHEMA), "cur.docs")
    pub = str(tmp_path / "pub")
    assert C.publish_corpus_delta(
        spark, store, "cur.docs", pub, compression=None
    )["published"] == "base"

    # three churn rounds -> three links: two upsert batches + one takedown
    new_words = [
        "quark lepton boson gluon photon hadron meson baryon neutrino positron muon tauon".split(),
        "amber birch cedar dogwood elm fir ginkgo hazel ironwood juniper koa larch".split(),
    ]
    for j, w in enumerate(new_words):
        C.curate_append(
            spark, store,
            spark.createDataFrame([_mk_doc(600 + j, w)], DOC_SCHEMA),
            "cur.docs", f"reb-{j}",
        )
        info = C.publish_corpus_delta(spark, store, "cur.docs", pub, compression=None)
        assert info["published"] == f"link-{j + 1:06d}"
    C.delete_docs(
        spark, store, "cur.docs",
        spark.createDataFrame([(600,)], "doc_id long"), run_id="reb-take",
    )
    assert C.publish_corpus_delta(
        spark, store, "cur.docs", pub, compression=None
    )["published"] == "link-000003"

    live = {r["doc_id"] for r in store.read(spark, "cur.docs").select("doc_id").collect()}

    info = C.rebase_corpus_chain(spark, pub, compression=None)
    assert info["rebased"] is True and info["links_folded"] == 3
    # links gone, base verifies standalone, content == live corpus
    assert [d for d in os.listdir(pub) if d.startswith("link-")] == []
    assert C.verify_corpus_snapshot(spark, f"{pub}/base") is True
    assert C.verify_corpus_chain(spark, f"{pub}/base", []) is True
    mat = {r["doc_id"] for r in C.materialize_corpus_chain(spark, f"{pub}/base", []).collect()}
    assert mat == live and 600 not in mat and 601 in mat

    # rebase replay: no links -> no-op; version gate: publish is a no-op
    assert C.rebase_corpus_chain(spark, pub, compression=None)["rebased"] is False
    assert C.publish_corpus_delta(
        spark, store, "cur.docs", pub, compression=None
    )["published"] is None

    # post-rebase churn chains off the rebased base from link-000001
    C.delete_docs(
        spark, store, "cur.docs",
        spark.createDataFrame([(601,)], "doc_id long"), run_id="reb-take2",
    )
    info2 = C.publish_corpus_delta(spark, store, "cur.docs", pub, compression=None)
    assert info2["published"] == "link-000001"
    assert C.verify_corpus_chain(
        spark, f"{pub}/base", [f"{pub}/link-000001"]
    ) is True


def test_rebase_verification_rejects_corrupt_link(spark, tmp_path):
    """A tampered link (text altered post-publish) must fail the rebase's
    pre-swap verification and leave the chain untouched."""
    import glob
    import json
    import os

    import pytest as _pytest

    from incremental_datapipeline_using_snowflake_spark.operators import TableStore
    from incremental_datapipeline_using_snowflake_spark.ops import curation as C

    store = TableStore(root=str(tmp_path / "store"), keep_versions=8)
    rows, _base = _corpus_rows()
    C.bootstrap_corpus(spark, store, spark.createDataFrame(rows, DOC_SCHEMA), "cur.docs")
    pub = str(tmp_path / "pub")
    C.publish_corpus_delta(spark, store, "cur.docs", pub, compression=None)
    C.curate_append(
        spark, store,
        spark.createDataFrame(
            [_mk_doc(700, "quark lepton boson gluon photon hadron meson baryon neutrino positron muon tauon".split())],
            DOC_SCHEMA,
        ),
        "cur.docs", "reb-x",
    )
    C.publish_corpus_delta(spark, store, "cur.docs", pub, compression=None)
    # tamper with the link's shipped upsert image. Drop the stale Hadoop
    # .crc sidecar too: the tamper under test is a CONTENT substitution
    # with intact transport (the adversarial case — a bit-rot tamper is
    # already caught cheaper, by the filesystem CRC read error). Before
    # r14 this distinction was invisible: the inference read swallowed
    # the ChecksumException inside the no-upserts try/except and the
    # stats mismatch fired for the wrong reason.
    part = sorted(glob.glob(f"{pub}/link-000001/data/**/part-*.json*", recursive=True))[0]
    rec = json.loads(open(part).readline())
    rec["text"] = rec["text"] + " TAMPERED"
    open(part, "w").write(json.dumps(rec) + "\n")
    crc = os.path.join(os.path.dirname(part), f".{os.path.basename(part)}.crc")
    if os.path.exists(crc):
        os.remove(crc)

    with _pytest.raises(ValueError, match="rebase verification failed"):
        C.rebase_corpus_chain(spark, pub, compression=None)
    # chain untouched: link still discoverable, no half-swapped base
    assert os.path.exists(f"{pub}/link-000001/_manifest.jsonl")
    assert os.path.exists(f"{pub}/base/_manifest.jsonl")
    assert not os.path.exists(f"{pub}/_rebase-tmp")
def test_rebase_requires_published_base(spark, tmp_path):
    import pytest as _pytest

    from incremental_datapipeline_using_snowflake_spark.ops import curation as C

    empty = tmp_path / "pub_empty"
    empty.mkdir()
    with _pytest.raises(ValueError, match="no published base snapshot"):
        C.rebase_corpus_chain(spark, str(empty))


# ---------------------------------------------------------------------------
# r13 (ADVICE r12): rebase crash-safety — the intent-marker commit protocol.
# A crash AFTER the commit point must be completed (never reverted: reverting
# resurrects folded takedowns); a crash BEFORE it must leave the chain intact.
# ---------------------------------------------------------------------------


_CHAIN_TEMPLATE: dict = {}


def _build_chain_with_takedown(spark, tmp_path):
    """store + publish dir with base, one upsert link, one takedown link.
    Returns (store, pub, live_ids, removed_id).

    r14: the four crash/verification consumers each paid the full Spark
    build (~18 s); the chain is pure on-disk state (versioned store dirs +
    published JSONL), so it is built ONCE per session into a template and
    copied per test — every consumer still mutates its own private copy."""
    import atexit
    import shutil
    import tempfile

    from incremental_datapipeline_using_snowflake_spark.operators import TableStore
    from incremental_datapipeline_using_snowflake_spark.ops import curation as C

    key = spark.sparkContext.applicationId
    tpl = _CHAIN_TEMPLATE.get(key)
    if tpl is None:
        root = tempfile.mkdtemp(prefix="chain_tpl_")
        atexit.register(shutil.rmtree, root, ignore_errors=True)
        store = TableStore(root=f"{root}/store", keep_versions=8)
        rows, _base = _corpus_rows()
        C.bootstrap_corpus(spark, store, spark.createDataFrame(rows, DOC_SCHEMA), "cur.docs")
        pub = f"{root}/pub"
        C.publish_corpus_delta(spark, store, "cur.docs", pub, compression=None)
        C.curate_append(
            spark, store,
            spark.createDataFrame(
                [_mk_doc(800, "quark lepton boson gluon photon hadron meson baryon neutrino positron muon tauon".split())],
                DOC_SCHEMA,
            ),
            "cur.docs", "crash-0",
        )
        C.publish_corpus_delta(spark, store, "cur.docs", pub, compression=None)
        C.delete_docs(
            spark, store, "cur.docs",
            spark.createDataFrame([(0,)], "doc_id long"), run_id="crash-take",
        )
        C.publish_corpus_delta(spark, store, "cur.docs", pub, compression=None)
        live = {r["doc_id"] for r in store.read(spark, "cur.docs").select("doc_id").collect()}
        assert 0 not in live and 800 in live
        tpl = _CHAIN_TEMPLATE[key] = (root, live)
    root, live = tpl
    shutil.copytree(f"{root}/store", str(tmp_path / "store"))
    shutil.copytree(f"{root}/pub", str(tmp_path / "pub"))
    return (
        TableStore(root=str(tmp_path / "store"), keep_versions=8),
        str(tmp_path / "pub"),
        set(live),
        0,
    )


def _assert_recovered_clean(spark, pub, live, removed_id):
    import os

    from incremental_datapipeline_using_snowflake_spark.ops import curation as C

    assert C.verify_corpus_snapshot(spark, f"{pub}/base") is True
    mat = {r["doc_id"] for r in C.materialize_corpus_chain(spark, f"{pub}/base", []).collect()}
    assert mat == live and removed_id not in mat
    assert not os.path.exists(f"{pub}/_rebase-intent.json")
    assert not os.path.exists(f"{pub}/_rebase-tmp")
    assert [d for d in os.listdir(pub) if d.startswith("link-")] == []
    assert [d for d in os.listdir(pub) if d.startswith("_retired")] == []
    # post-recovery replay is the normal no-op
    assert C.rebase_corpus_chain(spark, pub, compression=None)["rebased"] is False


def test_rebase_crash_before_base_retire_recovers(spark, tmp_path, monkeypatch):
    """ADVICE r12 (medium): crash after link manifests were dropped but
    before the old base was retired. The old (pre-takedown) base is still
    in place and the links are gone from discovery — the next call must
    complete the committed swap from the verified _rebase-tmp, NOT delete
    tmp and silently revert consumers to the resurrected old base."""
    import os as _os

    import pytest as _pytest

    from incremental_datapipeline_using_snowflake_spark.ops import curation as C

    _store, pub, live, removed = _build_chain_with_takedown(spark, tmp_path)
    real_rename = _os.rename

    def boom(src, dst):
        if _os.path.basename(src) == "base":
            raise RuntimeError("simulated crash before base retire")
        return real_rename(src, dst)

    monkeypatch.setattr(_os, "rename", boom)
    with _pytest.raises(RuntimeError, match="simulated crash"):
        C.rebase_corpus_chain(spark, pub, compression=None)
    monkeypatch.undo()

    # post-crash: commit marker present, verified tmp staged, links
    # manifest-less, old base still physically present
    assert _os.path.exists(f"{pub}/_rebase-intent.json")
    assert _os.path.exists(f"{pub}/_rebase-tmp/_manifest.jsonl")
    assert _os.path.exists(f"{pub}/base/_manifest.jsonl")
    assert not _os.path.exists(f"{pub}/link-000002/_manifest.jsonl")

    info = C.rebase_corpus_chain(spark, pub, compression=None)
    assert info["rebased"] is True and info.get("recovered") is True
    assert info["links_folded"] == 2
    _assert_recovered_clean(spark, pub, live, removed)


def test_rebase_crash_between_renames_recovers(spark, tmp_path, monkeypatch):
    """ADVICE r12 (low): crash in the two-rename window — the publish dir
    transiently has NO base at all. The next call must heal it from tmp
    rather than raising 'no published base snapshot'."""
    import os as _os

    import pytest as _pytest

    from incremental_datapipeline_using_snowflake_spark.ops import curation as C

    _store, pub, live, removed = _build_chain_with_takedown(spark, tmp_path)
    real_rename = _os.rename

    def boom(src, dst):
        if _os.path.basename(src) == "_rebase-tmp":
            raise RuntimeError("simulated crash between renames")
        return real_rename(src, dst)

    monkeypatch.setattr(_os, "rename", boom)
    with _pytest.raises(RuntimeError, match="simulated crash"):
        C.rebase_corpus_chain(spark, pub, compression=None)
    monkeypatch.undo()

    # post-crash: no base dir AT ALL (the honest gap), old base retired
    assert not _os.path.exists(f"{pub}/base")
    assert _os.path.exists(f"{pub}/_rebase-intent.json")

    info = C.rebase_corpus_chain(spark, pub, compression=None)
    assert info["rebased"] is True and info.get("recovered") is True
    _assert_recovered_clean(spark, pub, live, removed)


def test_rebase_crash_mid_sweep_recovers(spark, tmp_path, monkeypatch):
    """Crash after the swap but during garbage sweep: recovery just
    finishes sweeping and clears the marker (no second swap)."""
    import os as _os
    import shutil as _shutil

    import pytest as _pytest

    from incremental_datapipeline_using_snowflake_spark.ops import curation as C

    _store, pub, live, removed = _build_chain_with_takedown(spark, tmp_path)
    real_rmtree = _shutil.rmtree

    def boom(path, *a, **kw):
        if _os.path.basename(str(path)).startswith("_retired-upto-"):
            raise RuntimeError("simulated crash mid-sweep")
        return real_rmtree(path, *a, **kw)

    monkeypatch.setattr(_shutil, "rmtree", boom)
    with _pytest.raises(RuntimeError, match="simulated crash"):
        C.rebase_corpus_chain(spark, pub, compression=None)
    monkeypatch.undo()

    # post-crash: swap done (new base in place), retired dir lingering
    assert _os.path.exists(f"{pub}/base/_manifest.jsonl")
    assert not _os.path.exists(f"{pub}/_rebase-tmp")
    assert _os.path.exists(f"{pub}/_rebase-intent.json")

    info = C.rebase_corpus_chain(spark, pub, compression=None)
    assert info["rebased"] is True and info.get("recovered") is True
    _assert_recovered_clean(spark, pub, live, removed)


def test_rebase_lossy_staging_write_caught(spark, tmp_path, monkeypatch):
    """ADVICE r12 (medium), injection point moved with the r14 file-reuse
    staging: a staged-shard write that silently loses a file must be
    caught by the disk-derived read-back stats BEFORE the links that
    could rebuild the corpus are dropped."""
    import glob
    import os as _os

    import pytest as _pytest

    from incremental_datapipeline_using_snowflake_spark.ops import curation as C
    from incremental_datapipeline_using_snowflake_spark.sources import (
        jsonl_source as J,
    )

    _store, pub, _live, _removed = _build_chain_with_takedown(spark, tmp_path)
    real_write = J.write_jsonl

    def lossy(df, path, **kw):
        real_write(df, path, **kw)
        if _os.path.basename(path) == "_staged-new":
            # simulate silent data loss: drop one NON-EMPTY data shard
            # (Spark leaves empty part files; removing one of those loses
            # nothing and proves nothing)
            parts = sorted(glob.glob(f"{path}/**/part-*.json*", recursive=True))
            parts = [p for p in parts if _os.path.getsize(p) > 0]
            assert parts, "staging wrote no non-empty data shards"
            _os.remove(parts[0])

    monkeypatch.setattr(J, "write_jsonl", lossy)
    with _pytest.raises(ValueError, match="rebase verification failed"):
        C.rebase_corpus_chain(spark, pub, compression=None)
    monkeypatch.undo()

    # chain untouched: both links still discoverable, old base intact,
    # no commit marker, tmp cleaned up
    assert _os.path.exists(f"{pub}/link-000001/_manifest.jsonl")
    assert _os.path.exists(f"{pub}/link-000002/_manifest.jsonl")
    assert _os.path.exists(f"{pub}/base/_manifest.jsonl")
    assert not _os.path.exists(f"{pub}/_rebase-intent.json")
    assert not _os.path.exists(f"{pub}/_rebase-tmp")
    # and a clean retry succeeds end-to-end
    assert C.rebase_corpus_chain(spark, pub, compression=None)["rebased"] is True


_SIDECAR_TEMPLATE: dict = {}


def _mk_sidecar_chain(spark, tmp_path, kill_ids):
    """base (many id-ranged shards via maxRecordsPerFile) + one takedown
    link over ``kill_ids``. Built once per (session, kill set) — pure
    on-disk state, copied per consumer (the _CHAIN_TEMPLATE pattern).
    Returns (store, pub)."""
    import atexit
    import shutil
    import tempfile

    from incremental_datapipeline_using_snowflake_spark.operators import TableStore
    from incremental_datapipeline_using_snowflake_spark.ops import curation as C

    key = (spark.sparkContext.applicationId, tuple(kill_ids))
    root = _SIDECAR_TEMPLATE.get(key)
    if root is None:
        root = tempfile.mkdtemp(prefix="sidecar_tpl_")
        atexit.register(shutil.rmtree, root, ignore_errors=True)
        docs = spark.createDataFrame(
            [
                (i, f"alpha beta gamma delta epsilon zeta {i} eta theta iota", "en", "s", 50)
                for i in range(200)
            ],
            "doc_id long, text string, lang string, source string, n_chars long",
        )
        store = TableStore(root=f"{root}/store", keep_versions=8)
        C.bootstrap_corpus(spark, store, docs, "sc.docs")
        pub = f"{root}/pub"
        old = spark.conf.get("spark.sql.files.maxRecordsPerFile", "0")
        spark.conf.set("spark.sql.files.maxRecordsPerFile", "25")
        try:
            C.publish_corpus_delta(spark, store, "sc.docs", pub, compression=None)
            C.delete_docs(
                spark, store, "sc.docs",
                spark.createDataFrame([(i,) for i in kill_ids], "doc_id long"),
                run_id="sc-take",
            )
            C.publish_corpus_delta(spark, store, "sc.docs", pub, compression=None)
        finally:
            spark.conf.set("spark.sql.files.maxRecordsPerFile", old)
        _SIDECAR_TEMPLATE[key] = root
    import shutil as _sh

    _sh.copytree(f"{root}/store", str(tmp_path / "store"))
    _sh.copytree(f"{root}/pub", str(tmp_path / "pub"))
    return (
        TableStore(root=str(tmp_path / "store"), keep_versions=8),
        str(tmp_path / "pub"),
    )


def test_rebase_reuses_untouched_shards(spark, tmp_path):
    """r14 (VERDICT r13 #3): with the publish-time sidecars and
    id-clustered shards, a clustered takedown rebase must REWRITE only the
    shards whose id interval holds a doomed id and HARDLINK the rest
    (same inode), with the folded base verifying and materializing
    exactly the surviving rows."""
    import os

    from incremental_datapipeline_using_snowflake_spark.ops import curation as C

    _store, pub = _mk_sidecar_chain(spark, tmp_path, kill_ids=range(30, 35))
    assert os.path.exists(f"{pub}/base/_filestats.jsonl")
    assert os.path.exists(f"{pub}/base/_schema.json")
    data = f"{pub}/base/data"
    before = {
        f: os.stat(os.path.join(data, f)).st_ino
        for f in os.listdir(data)
        if not f.startswith((".", "_"))
    }
    assert len(before) >= 4, before  # maxRecordsPerFile forced a multi-shard base
    res = C.rebase_corpus_chain(spark, pub, compression=None)
    assert res["rebased"] and res["links_folded"] == 1
    after = sorted(
        f for f in os.listdir(data) if not f.startswith((".", "_"))
    )
    rebased = [f for f in after if f.startswith("rebased-")]
    carried = [f for f in after if not f.startswith("rebased-")]
    # clustered 5-id takedown: at most 2 shards replayed, the rest carried
    assert 1 <= len(rebased) <= 2, after
    assert len(carried) >= len(before) - 2, after
    for f in carried:  # hardlinks: same inode as the pre-rebase shard
        assert os.stat(os.path.join(data, f)).st_ino == before[f], f
    # refreshed sidecars + full content verification on the folded base
    assert os.path.exists(f"{pub}/base/_filestats.jsonl")
    assert C.verify_corpus_snapshot(spark, f"{pub}/base") is True
    ids = sorted(
        r[0]
        for r in spark.read.json(data).select("doc_id").collect()
    )
    assert ids == [i for i in range(200) if i not in range(30, 35)]


@pytest.mark.parametrize("missing", ["_deletes", "data"])
def test_chain_link_missing_dir_raises(spark, tmp_path, missing):
    """A published link that lost its ``_deletes/`` or ``data/`` dir is
    broken, not empty: materialize, link verification and rebase each
    raise ``FileNotFoundError`` naming the link (read as "no takedowns",
    the taken-down ids 30-34 would come back), and the failed rebase
    leaves the chain untouched."""
    import os
    import shutil

    from incremental_datapipeline_using_snowflake_spark.ops import curation as C

    _store, pub = _mk_sidecar_chain(spark, tmp_path, kill_ids=range(30, 35))
    base, link = f"{pub}/base", f"{pub}/link-000001"
    shutil.rmtree(f"{link}/{missing}")
    match = f"link-000001.*{missing}/"
    with pytest.raises(FileNotFoundError, match=match):
        C.materialize_corpus_chain(spark, base, [link]).collect()
    with pytest.raises(FileNotFoundError, match=match):
        C.verify_corpus_delta(spark, base, link)
    with pytest.raises(FileNotFoundError, match=match):
        C.rebase_corpus_chain(spark, pub, compression=None)
    assert os.path.isdir(f"{link}/_manifest.jsonl")
    assert os.path.isdir(f"{base}/_manifest.jsonl")
    assert not os.path.exists(f"{pub}/_rebase-tmp")
    assert not os.path.exists(f"{pub}/_rebase-intent.json")


_METADATA_FAULTS = {
    # case: (the error the next reader raises, the name it must carry)
    "version/_schema.json": (FileNotFoundError, "_schema.json"),
    "version/_PARTITIONING.json": (FileNotFoundError, "_PARTITIONING.json"),
    "table/_COMMITS": (FileNotFoundError, "_COMMITS"),
    "changelog/_META.json": (FileNotFoundError, "_META.json"),
    "base/_schema.json": (FileNotFoundError, "base/_schema.json"),
    "base/_filestats.jsonl": (FileNotFoundError, "_filestats.jsonl"),
    "manifest/split_col": (ValueError, "split_col"),
    "corpus/__bloom": (FileNotFoundError, "sc.docs__bloom"),
}


@pytest.mark.parametrize("case", list(_METADATA_FAULTS))
def test_missing_metadata_raises_named_error(spark, tmp_path, case):
    """Missing-file fault matrix over the on-disk formats a release
    touches: the store's per-version and per-table metadata, the
    changelog's ``_META.json``, the published base's sidecars and manifest,
    and the corpus's Bloom sketch. Every current writer produces each of
    them, so a missing one is damage: the next reader raises a named error
    that names it — never a fallback that reads the data another way —
    and the failed call leaves every file as it was."""
    import glob
    import json
    import os
    from functools import partial

    from incremental_datapipeline_using_snowflake_spark.operators import Changelog
    from incremental_datapipeline_using_snowflake_spark.ops import curation as C
    from incremental_datapipeline_using_snowflake_spark.session import local_rows_df

    store, pub = _mk_sidecar_chain(spark, tmp_path, kill_ids=range(30, 35))
    t, base = "sc.docs", f"{pub}/base"
    vdir = store.data_path(t)
    if case == "version/_schema.json":
        os.remove(f"{vdir}/_schema.json")
        read = partial(store.read, spark, t)
    elif case == "version/_PARTITIONING.json":
        os.remove(f"{vdir}/_PARTITIONING.json")
        read = partial(store.compact, spark, t)
    elif case == "table/_COMMITS":
        os.remove(store._commits_file(t))
        read = partial(store.restore, t, store.current_version(t))
    elif case == "changelog/_META.json":
        log = Changelog(store, "sc.log")
        log.append(local_rows_df(spark, [(1,)], "k long"))
        os.remove(log._meta_path())
        read = partial(log.has_data, spark, "c")
    elif case.startswith("base/"):
        os.remove(f"{pub}/{case}")
        read = partial(C.rebase_corpus_chain, spark, pub, compression=None)
    elif case == "manifest/split_col":
        for part in glob.glob(f"{base}/_manifest.jsonl/part-*"):
            with open(part) as f:
                rows = [json.loads(ln) for ln in f if ln.strip()]
            with open(part, "w") as f:
                f.writelines(
                    json.dumps({k: v for k, v in r.items() if k != "split_col"}) + "\n"
                    for r in rows
                )
        read = partial(C.verify_corpus_snapshot, spark, base)
    else:
        store.drop(f"{t}__bloom")
        batch = spark.createDataFrame(
            [_mk_doc(900, "one two three four five six seven eight nine ten eleven twelve".split())],
            DOC_SCHEMA,
        )
        read = partial(C.curate_append, spark, store, batch, t, "r-fault")

    def files():
        return sorted(
            os.path.relpath(os.path.join(r, f), tmp_path)
            for r, _d, fs in os.walk(tmp_path) for f in fs
        )

    before = files()
    err, name = _METADATA_FAULTS[case]
    with pytest.raises(err, match=name):
        read()
    assert files() == before


def test_crashed_manifest_write_leaves_link_incomplete(spark, tmp_path, monkeypatch):
    """Fault injection: a link's manifest write that dies part-way (a full
    disk) leaves no ``_manifest.jsonl``, so the link is not part of the
    chain. The next publish takes the following link number, the chain
    verifies, and a rebase folds the chain and sweeps the torn link."""
    import builtins
    import os

    from incremental_datapipeline_using_snowflake_spark.operators import TableStore
    from incremental_datapipeline_using_snowflake_spark.ops import curation as C

    store = TableStore(root=str(tmp_path / "store"), keep_versions=8)
    rows, _base = _corpus_rows()
    C.bootstrap_corpus(spark, store, spark.createDataFrame(rows, DOC_SCHEMA), "cur.docs")
    pub = str(tmp_path / "pub")
    C.publish_corpus_delta(spark, store, "cur.docs", pub, compression=None)
    C.delete_docs(spark, store, "cur.docs", [0])

    real_open = builtins.open

    def torn_open(path, mode="r", *args, **kwargs):
        f = real_open(path, mode, *args, **kwargs)
        if "w" in mode and "_manifest" in str(path):
            f.write('{"split":"al')
            f.close()
            raise OSError(28, "No space left on device")
        return f

    monkeypatch.setattr(builtins, "open", torn_open)
    with pytest.raises(OSError, match="No space left"):
        C.publish_corpus_delta(spark, store, "cur.docs", pub, compression=None)
    monkeypatch.undo()
    assert not os.path.exists(f"{pub}/link-000001/_manifest.jsonl")
    assert C._chain_links(pub) == ([], 1)

    link = C.publish_corpus_delta(spark, store, "cur.docs", pub, compression=None)
    assert link["published"] == "link-000002"
    assert C.verify_corpus_chain(spark, f"{pub}/base", [f"{pub}/link-000002"])
    assert C.rebase_corpus_chain(spark, pub, compression=None)["links_folded"] == 1
    # the rebase sweeps the crashed publish's manifest-less link as well
    assert sorted(os.listdir(pub)) == ["base"]


def test_partitioned_chain_verifies_materializes_and_rebases(spark, tmp_path):
    """A ``split_col`` chain with an upsert link and a takedown-only link
    (whose ``data/`` holds no part file, only ``_SUCCESS``) verifies,
    materializes to exactly the live rows with the base's columns, and
    rebases into a base that verifies on its own."""
    import os

    from incremental_datapipeline_using_snowflake_spark.operators import TableStore
    from incremental_datapipeline_using_snowflake_spark.ops import curation as C

    schema = DOC_SCHEMA + ", split string"
    rows = [
        _mk_doc(i, f"w{i} alpha bravo charlie".split()) + ("train" if i % 3 else "val",)
        for i in range(9)
    ]
    store = TableStore(root=str(tmp_path / "store"), keep_versions=8)
    store.overwrite(spark.createDataFrame(rows, schema), "p.docs")
    pub = str(tmp_path / "pub")

    def publish():
        return C.publish_corpus_delta(
            spark, store, "p.docs", pub, split_col="split", compression=None
        )["published"]

    def replace(df):  # each overwrite is a new store version
        store.overwrite(df.localCheckpoint(eager=True), "p.docs")

    assert publish() == "base"
    new = spark.createDataFrame([_mk_doc(20, ["new", "doc"]) + ("val",)], schema)
    replace(store.read(spark, "p.docs").unionByName(new))
    assert publish() == "link-000001"
    replace(store.read(spark, "p.docs").filter(~F.col("doc_id").isin(1, 5)))
    assert publish() == "link-000002"
    take_data = f"{pub}/link-000002/data"
    assert not [f for _r, _d, fs in os.walk(take_data) for f in fs if f.startswith("part-")]

    links = [f"{pub}/link-000001", f"{pub}/link-000002"]
    assert C.verify_corpus_chain(spark, f"{pub}/base", links) is True
    mat = C.materialize_corpus_chain(spark, f"{pub}/base", links)
    assert mat.columns == ["doc_id", "lang", "n_chars", "source", "text", "split"]
    live_ids = sorted(r[0] for r in store.read(spark, "p.docs").select("doc_id").collect())
    assert live_ids == [0, 2, 3, 4, 6, 7, 8, 20]
    assert sorted(r["doc_id"] for r in mat.collect()) == live_ids

    res = C.rebase_corpus_chain(spark, pub, compression=None)
    assert res["rebased"] and res["links_folded"] == 2
    assert C.verify_corpus_chain(spark, f"{pub}/base", []) is True
    rebased = C.materialize_corpus_chain(spark, f"{pub}/base", [])
    assert sorted(r["doc_id"] for r in rebased.collect()) == live_ids


# ---------------------------------------------------------------------------
# r13 (VERDICT r12 missing #1): size-targeted training-shard export.
# ---------------------------------------------------------------------------


def test_training_shard_export_roundtrip(spark, tmp_path):
    """Shards hit the byte target (each starts under target, overflows by
    at most one doc), exactly one file per shard, index stats re-derivable
    from the shipped files, ids strictly increasing across shards, and the
    union of shards round-trips the corpus exactly."""
    import glob
    import json
    import os

    from incremental_datapipeline_using_snowflake_spark.ops import curation as C

    rows = [(i, f"doc {i} " + "tok " * (10 + (i * 7) % 40)) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = str(tmp_path / "shards")
    target = 4096
    idx = C.export_training_shards(spark, df, out, target_bytes=target).collect()
    assert len(idx) > 3, "target too coarse to exercise sharding"

    assert C.verify_training_shards(spark, out) is True

    by_shard = {r["shard"]: r for r in idx}
    order = sorted(by_shard)
    assert order == list(range(len(order)))
    total_docs = sum(r["n_docs"] for r in idx)
    assert total_docs == 200
    # byte-target contract: every shard except the last ends AT or past the
    # boundary (cum bytes reach (k+1)*target only via its final doc), and
    # every shard's size-minus-last-doc is under target
    cum = 0
    for k in order[:-1]:
        cum += by_shard[k]["n_bytes"]
        assert cum >= (k + 1) * target, f"shard {k} closed early"
    # id ranges strictly increasing
    for a, b in zip(order, order[1:]):
        assert by_shard[a]["max_id"] < by_shard[b]["min_id"]

    # roundtrip: union of shard files == input corpus
    back = spark.read.json(f"{out}/data").select("doc_id", "text")
    assert sorted((r["doc_id"], r["text"]) for r in back.collect()) == sorted(rows)


def test_training_shard_export_deterministic(spark, tmp_path):
    """Two exports of the same corpus produce byte-identical shard
    indexes (assignment is partitioning-invariant)."""
    from incremental_datapipeline_using_snowflake_spark.ops import curation as C

    rows = [(i, f"d{i} " + "x " * (5 + (i * 13) % 60)) for i in range(150)]
    a = C.export_training_shards(
        spark, spark.createDataFrame(rows, "doc_id long, text string").repartition(7),
        str(tmp_path / "a"), target_bytes=2048,
    ).collect()
    b = C.export_training_shards(
        spark, spark.createDataFrame(rows, "doc_id long, text string").repartition(3),
        str(tmp_path / "b"), target_bytes=2048,
    ).collect()
    key = lambda r: r["shard"]
    assert sorted([tuple(r) for r in a], key=lambda t: t[0]) == \
           sorted([tuple(r) for r in b], key=lambda t: t[0])


def test_training_shard_verify_catches_tamper(spark, tmp_path):
    import glob
    import json

    import pytest as _pytest

    from incremental_datapipeline_using_snowflake_spark.ops import curation as C

    rows = [(i, f"doc {i} body " + "w " * 30) for i in range(80)]
    out = str(tmp_path / "shards")
    C.export_training_shards(
        spark, spark.createDataFrame(rows, "doc_id long, text string"),
        out, target_bytes=1500,
    )
    part = sorted(glob.glob(f"{out}/data/shard=*/part-*.json"))[0]
    rec = json.loads(open(part).readline())
    rec["text"] += " TAMPER"
    lines = open(part).readlines()
    lines[0] = json.dumps(rec) + "\n"
    open(part, "w").writelines(lines)
    # drop the Hadoop .crc sidecar so the LocalFS checksum doesn't mask
    # the tamper — verification itself must catch it
    import os as _os

    for crc in glob.glob(f"{out}/data/shard=*/.part-*.crc"):
        _os.remove(crc)
    with _pytest.raises(ValueError, match="shard verification failed"):
        C.verify_training_shards(spark, out)


def test_training_shard_oversized_doc_gaps_numbering(spark, tmp_path):
    """A document larger than target_bytes legally skips shard indices
    (the cumulative sum jumps whole targets); the verifier accepts the
    gap while still enforcing strictly-increasing id ranges."""
    from incremental_datapipeline_using_snowflake_spark.ops import curation as C

    rows = [(1, "a " * 100), (2, "b " * 3000), (3, "c " * 100), (4, "d " * 100)]
    out = str(tmp_path / "shards")
    idx = {r["shard"]: r for r in C.export_training_shards(
        spark, spark.createDataFrame(rows, "doc_id long, text string"),
        out, target_bytes=512,
    ).collect()}
    order = sorted(idx)
    assert order != list(range(len(order))), "expected a numbering gap"
    assert C.verify_training_shards(spark, out) is True
    assert sum(r["n_docs"] for r in idx.values()) == 4


def test_training_shard_append_lifecycle(spark, tmp_path):
    """Delta shards: shipped shard files stay byte-identical, the batch
    packs into fresh shards continuing the numbering, the combined index
    verifies, and the contracts fail loudly (interleaved ids; orphan
    dirs from a crashed append)."""
    import glob
    import os

    import pytest as _pytest

    from incremental_datapipeline_using_snowflake_spark.ops import curation as C

    base_rows = [(i, f"doc {i} " + "tok " * (10 + (i * 7) % 40)) for i in range(120)]
    out = str(tmp_path / "shards")
    idx0 = C.export_training_shards(
        spark, spark.createDataFrame(base_rows, "doc_id long, text string"),
        out, target_bytes=4096,
    ).collect()
    files_before = {
        f: os.path.getsize(f)
        for f in glob.glob(f"{out}/data/shard=*/part-*.json")
    }

    batch_rows = [(200 + i, f"new {i} " + "tok " * (15 + (i * 5) % 30)) for i in range(60)]
    idx1 = C.append_training_shards(
        spark, spark.createDataFrame(batch_rows, "doc_id long, text string"), out
    ).collect()
    assert C.verify_training_shards(spark, out) is True
    # shipped files untouched byte-for-byte
    for f, sz in files_before.items():
        assert os.path.getsize(f) == sz
    # numbering continues; combined docs complete
    assert max(r["shard"] for r in idx1) > max(r["shard"] for r in idx0)
    assert sum(r["n_docs"] for r in idx1) == 180
    new_rows = [r for r in idx1 if r["min_id"] >= 200]
    assert min(r["shard"] for r in new_rows) == max(r["shard"] for r in idx0) + 1

    # interleaved ids refused
    with _pytest.raises(ValueError, match="order contract"):
        C.append_training_shards(
            spark, spark.createDataFrame([(150, "late doc " * 10)], "doc_id long, text string"), out
        )
    # crashed-append orphan dir refused by name
    orphan = max(r["shard"] for r in idx1) + 1
    os.makedirs(f"{out}/data/shard={orphan}")
    with _pytest.raises(ValueError, match="already exist"):
        C.append_training_shards(
            spark, spark.createDataFrame([(900, "more " * 40)], "doc_id long, text string"), out
        )


# Spark jobs of one small release (measured on pyspark 4.1.2: 80, twice; the
# previous engine started 170, then 121, then 113 before pins carried their
# measured size, then 89 before publish manifests were written on the
# driver, then 88 before the metadata tables were). The check allows 1
# more: asynchronous broadcast jobs vary by one.
RELEASE_JOB_BUDGET = 80


def test_release_job_budget(spark, tmp_path, next_job_id):
    """One release — curate_append with embeddings, delete_docs, then
    publish_corpus_delta onto a published base — stays within its pinned
    job budget, with the verdicts and the chain intact."""
    from incremental_datapipeline_using_snowflake_spark.operators import TableStore
    from incremental_datapipeline_using_snowflake_spark.ops import curation as C

    # deep enough history for the delta to diff against the base version
    store = TableStore(root=str(tmp_path / "store"), keep_versions=8)

    rows, base = _corpus_rows()
    dim = 8
    vec = {i: [float((i * 7 + d * 3) % 11 - 5) for d in range(dim)] for i in range(3)}
    emb = spark.createDataFrame(list(vec.items()), "vec_id long, embedding array<double>")
    C.bootstrap_corpus(
        spark, store, spark.createDataFrame(rows, DOC_SCHEMA), "cur.docs",
        emb=emb, dim=dim, n_tables=2, n_planes=3,
    )
    pub = str(tmp_path / "pub")
    assert C.publish_corpus_delta(spark, store, "cur.docs", pub)["published"] == "base"
    fresh = "one two three four five six seven eight nine ten eleven twelve".split()
    batch = spark.createDataFrame(
        [
            _mk_doc(100, fresh),
            _mk_doc(101, base[0]),                  # exact corpus dup
            _mk_doc(102, base[1][2:]),              # near corpus dup
            _mk_doc(103, list(reversed(base[2]))),  # semantic corpus dup
            (104, "spam " * 40, "en", "src", 200),  # gate fail
        ],
        DOC_SCHEMA,
    )
    batch_emb = spark.createDataFrame(
        [(100, [float(-((d * 5 + 1) % 9) + 4.5) for d in range(dim)]),
         (103, [x * 1.001 for x in vec[2]])],
        "vec_id long, embedding array<double>",
    )

    j0 = next_job_id()
    v = C.curate_append(spark, store, batch, "cur.docs", "r1", batch_emb=batch_emb)
    deleted = C.delete_docs(spark, store, "cur.docs", [0, 7])
    link = C.publish_corpus_delta(spark, store, "cur.docs", pub)
    jobs = next_job_id() - j0

    assert {r["doc_id"]: r["verdict"] for r in v.collect()} == {
        100: "kept", 101: "exact_dup_corpus", 102: "near_dup_corpus",
        103: "embedding_dup_corpus", 104: "gate_fail",
    }
    assert deleted == {"n_keys": 2, "n_deleted": 1, "n_corpus_after": 3}
    assert link["published"] == "link-000001"
    assert C.verify_corpus_chain(spark, f"{pub}/base", [f"{pub}/link-000001"])
    assert jobs <= RELEASE_JOB_BUDGET + 1, jobs
