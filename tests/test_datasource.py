"""Spark 4 Python Data Source API: the noaa_feed format must parse
identically to ``parse_feed_text`` and ``load_raw`` (S2/S4 parity) and
distribute across partitions losslessly; the one parser's coercion must
match Spark's non-ANSI CAST."""

from __future__ import annotations

FEED = """# NOAA-style comment header
# more commentary
2022 1 1 2022.001 417.12
2022 1 2 2022.004 417.43

2022 1 3 2022.007 bad_value
short line
2022 1 4 2022.010 418.02
\t2022 1 5 2022.013 418.20
x 1 2 2025.003 418.6
"""

RAW_COLS = ["YEAR", "MONTH", "DAY", "DECIMAL_DATE", "CO2_PPM"]


def test_noaa_datasource_matches_dataframe_parser(spark, store, tmp_path):
    """The data source, ``parse_feed_text`` and a first ``load_raw`` give
    the same rows: a tab-indented line is data, and a line whose YEAR
    does not coerce is dropped, in all three."""
    from incremental_datapipeline_using_snowflake_spark.plans import bootstrap, load_raw
    from incremental_datapipeline_using_snowflake_spark.plans.pipeline import RAW_TABLE
    from incremental_datapipeline_using_snowflake_spark.sources.noaa_datasource import (
        NoaaFeedDataSource,
    )
    from incremental_datapipeline_using_snowflake_spark.sources.noaa_feed import (
        parse_feed_text,
    )

    spark.dataSource.register(NoaaFeedDataSource)
    p = tmp_path / "feed.txt"
    p.write_text(FEED)

    def rows(df):  # NULL-safe order
        return sorted(map(tuple, df.collect()), key=str)

    via_ds = rows(spark.read.format("noaa_feed").option("path", str(p)).load())
    via_df = rows(parse_feed_text(spark, FEED))
    bootstrap(store)
    load_raw(spark, store, feed_text=FEED)
    via_load = rows(store.read(spark, RAW_TABLE).select(*RAW_COLS))
    assert via_ds == via_df == via_load
    assert len(via_ds) == 5
    assert (2022, 1, 5, 2022.013, 418.20) in via_ds
    # tolerant coercion: bad_value -> NULL, row kept
    assert any(r[4] is None for r in via_ds)

    # striding across 3 partitions is lossless and order-insensitive
    via_3 = rows(
        spark.read.format("noaa_feed").option("path", str(p)).option("numPartitions", 3).load()
    )
    assert via_3 == via_ds


def test_feed_coercion_matches_spark_cast(spark):
    """S4 parity: the parser's integer and double coercion equal Spark's
    non-ANSI ``CAST(tok AS INT)`` / ``CAST(tok AS DOUBLE)`` — the results
    the package produced while it parsed in Spark — over derandomized
    tokens from the numeric alphabet plus fixed edge cases. The one
    deliberate difference: Java's ``d``/``f`` suffixes, which the cast
    reads (``1d`` -> 1.0), coerce to NULL, as ``pd.to_numeric(errors=
    "coerce")`` makes them in the reference."""
    import math
    import random

    from incremental_datapipeline_using_snowflake_spark.session import local_rows_df
    from incremental_datapipeline_using_snowflake_spark.sources.noaa_feed import (
        to_float,
        to_int,
    )

    rng = random.Random(20251)
    toks = {
        "".join(rng.choice("0123456789+-.eE") for _ in range(rng.randint(1, 8)))
        for _ in range(500)
    }
    toks |= {"2025.0", "418.50", ".5", "5.", "2147483648", "-2147483648",
             "NaN", "Infinity", "-Infinity", "bad_value", "1e5", "1.5e-3"}
    suffixed = ["1d", "2.5f", "3D", "4F"]
    rows = (
        local_rows_df(spark, [(t,) for t in sorted(toks) + suffixed], "tok string")
        .selectExpr("tok", "CAST(tok AS INT) AS i", "CAST(tok AS DOUBLE) AS d")
        .collect()
    )

    def same(a, b):
        return a == b or (a is not None and b is not None and math.isnan(a) and math.isnan(b))

    bad = [
        (tok, i, d, to_int(tok), to_float(tok))
        for tok, i, d in rows
        if to_int(tok) != i or not same(to_float(tok), None if tok in suffixed else d)
    ]
    assert not bad, bad
    assert all(d is not None for tok, _, d in rows if tok in suffixed)
    # the draw reaches both sides of each cast
    assert sum(i is not None for _, i, _ in rows) > 20
    assert sum(d is not None for _, _, d in rows) > 20


def test_feed_parser_is_one_python_parser():
    """Tripwire: the data source defines no coercion of its own, and the
    feed parser builds no Spark expression. Spark-free: it only parses the
    sources."""
    import ast
    import pathlib

    src = (
        pathlib.Path(__file__).resolve().parents[1]
        / "incremental_datapipeline_using_snowflake_spark" / "sources"
    )
    ds = ast.parse((src / "noaa_datasource.py").read_text())
    defs = {n.name for n in ds.body if isinstance(n, ast.FunctionDef)}
    assert defs <= {"_parsed"}, defs
    calls = {
        n.func.id for n in ast.walk(ds)
        if isinstance(n, ast.Call) and isinstance(n.func, ast.Name)
    }
    assert "float" not in calls
    feed = ast.parse((src / "noaa_feed.py").read_text())
    imported = {
        (n.module, a.name) for n in ast.walk(feed) if isinstance(n, ast.ImportFrom)
        for a in n.names
    } | {
        (a.name, None) for n in ast.walk(feed) if isinstance(n, ast.Import)
        for a in n.names
    }
    assert not {
        m for m in imported
        if m[0] == "pyspark.sql.functions" or m == ("pyspark.sql", "functions")
    }, imported


def test_noaa_datasource_text_option(spark):
    from incremental_datapipeline_using_snowflake_spark.sources.noaa_datasource import (
        NoaaFeedDataSource,
    )

    spark.dataSource.register(NoaaFeedDataSource)
    out = spark.read.format("noaa_feed").option("text", FEED).load()
    assert out.count() == 5
    assert out.columns == RAW_COLS


def test_noaa_datasource_streaming_incremental(spark, tmp_path):
    """The streaming reader drains only APPENDED lines per micro-batch and
    resumes from the checkpointed line offset — the incremental-feed
    semantics of the reference pipeline as a custom streaming source."""
    from incremental_datapipeline_using_snowflake_spark.sources.noaa_datasource import (
        NoaaFeedDataSource,
    )

    spark.dataSource.register(NoaaFeedDataSource)
    p = tmp_path / "feed.txt"
    ckpt = str(tmp_path / "ckpt")
    p.write_text(FEED)

    stream = spark.readStream.format("noaa_feed").option("path", str(p)).load()

    def drain():
        got = []
        q = (
            stream.writeStream.foreachBatch(
                lambda df, _bid: got.append(df.count())
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return sum(got)

    assert drain() == 5
    # append one more reading; only the delta arrives in the next drain
    with open(p, "a", encoding="utf-8") as f:
        f.write("2022 1 5 2022.012 418.55\n")
    assert drain() == 1
    # nothing new -> empty drain
    assert drain() == 0


def test_jsonl_roundtrip_and_quarantine(spark, tmp_path):
    """r06: JSONL corpus export/ingest — roundtrip preserves every row and
    type; a malformed line quarantines with the raw payload intact while
    clean rows flow; strict mode aborts."""
    import os

    import pytest

    from incremental_datapipeline_using_snowflake_spark.sources import (
        quarantine_split,
        read_jsonl,
        write_jsonl,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = str(tmp_path / "corpus_jsonl")
    write_jsonl(docs, out)
    back = read_jsonl(spark, out)
    assert back.schema == docs.schema or {f.name for f in back.schema} == {
        f.name for f in docs.schema
    }
    assert back.count() == docs.count()
    a = sorted(docs.collect(), key=lambda r: r["doc_id"])
    b = sorted(back.collect(), key=lambda r: r["doc_id"])
    assert [r.asDict() for r in a] == [r.asDict() for r in b]

    # plant a malformed line among the part files
    bad_dir = str(tmp_path / "with_bad")
    os.makedirs(bad_dir)
    with open(os.path.join(bad_dir, "part-0.json"), "w") as f:
        f.write('{"doc_id": 1, "text": "ok", "lang": "en", "source": "s", "n_chars": 2}\n')
        f.write("{not json at all\n")
    good, bad = quarantine_split(read_jsonl(spark, bad_dir, keep_corrupt=True))
    assert good.count() == 1 and good.first()["doc_id"] == 1
    assert bad.count() == 1 and "not json" in bad.first()["_corrupt_record"]
    with pytest.raises(Exception):
        read_jsonl(spark, bad_dir, strict=True).collect()


def test_warc_response_records_html_to_documents(spark, tmp_path):
    """r08: raw-crawl ingestion — WARC response records (full HTTP
    response payloads carrying HTML) parse, the HTTP headers strip, the
    HTML extracts, and the result lands in the documents shape with the
    deterministic doc_id contract. WET conversion records in the same
    file are excluded by the type filter."""
    from incremental_datapipeline_using_snowflake_spark.sources.warc_source import (
        encode_warc_responses,
        encode_wet,
        read_warc,
        warc_html_to_documents,
    )

    src = tmp_path / "crawl"
    src.mkdir()
    html1 = (
        "<html><head><script>junk()</script><title>t</title></head>"
        "<body><p>Hello &amp; bye</p><div>second block</div></body></html>"
    )
    html2 = "<p>plain</p>"
    recs = [
        {"uri": "http://a.example/x", "date": "2026-01-01T00:00:00Z", "html": html1},
        {"uri": "http://b.example/y", "date": "2026-01-01T00:00:01Z", "html": html2},
    ]
    blob = encode_warc_responses(recs, compress=True)
    # a WET conversion record in the same file must NOT pass the filter
    blob2 = encode_wet(
        [{"uri": "http://c.example/z", "date": "2026-01-01T00:00:02Z",
          "text": "already extracted"}],
        compress=True,
    )
    (src / "seg1.warc.gz").write_bytes(blob)
    (src / "seg2.wet.gz").write_bytes(blob2)

    raw = read_warc(spark, str(src), warc_types=("response",))
    docs = {r["source"]: r for r in warc_html_to_documents(raw).collect()}
    assert set(docs) == {"http://a.example/x", "http://b.example/y"}
    a = docs["http://a.example/x"]
    # head content (title + script) is chrome and drops entirely (r09
    # ADVICE fix); the two body blocks never concatenate
    assert a["text"] == "Hello & bye\nsecond block"
    assert "HTTP/1.1" not in a["text"] and "Content-Type" not in a["text"]
    assert a["n_chars"] == len(a["text"])
    assert docs["http://b.example/y"]["text"] == "plain"
    # main_content=True additionally applies the block-level boilerplate
    # gates — these short fixture blocks all fall below the length gate,
    # so the production form extracts '' here (the gate owns the drop)
    mc = {r["source"]: r["text"]
          for r in warc_html_to_documents(raw, main_content=True).collect()}
    assert mc["http://b.example/y"] == ""
    # doc_id deterministic across re-reads (the curation idempotency key)
    again = {r["source"]: r["doc_id"]
             for r in warc_html_to_documents(
                 read_warc(spark, str(src), warc_types=("response",))
             ).collect()}
    assert again == {k: v["doc_id"] for k, v in docs.items()}


def test_warc_wet_roundtrip_quarantine_and_strict(spark, tmp_path):
    """Real-bytes WET ingest: plain + gzip files parse file-per-task
    through binaryFile -> mapInPandas; warcinfo preambles filter out;
    a corrupt record quarantines with position+reason while the rest of
    its file survives (re-sync on the next version line); strict mode
    fails loudly."""
    from incremental_datapipeline_using_snowflake_spark.sources.warc_source import (
        encode_wet,
        parse_warc_records,
        read_warc,
        warc_quarantine_split,
    )

    recs1 = [
        {"uri": "http://a.example/1", "date": "2026-08-01T00:00:00Z",
         "text": "alpha bravo charlie delta echo"},
        {"uri": "http://a.example/2", "date": "2026-08-01T00:00:01Z",
         "text": "naive cafe über snowman ☃ text"},
    ]
    recs2 = [
        {"uri": "http://b.example/1", "date": "2026-08-02T00:00:00Z",
         "text": "foxtrot golf hotel india juliet"},
    ]
    src = tmp_path / "crawl"
    src.mkdir()
    # file 1: warcinfo preamble + 2 conversion records, plain
    warcinfo = (
        b"WARC/1.0\r\nWARC-Type: warcinfo\r\nWARC-Record-ID: <urn:uuid:w>\r\n"
        b"Content-Length: 9\r\n\r\nrobots: x\r\n\r\n"
    )
    (src / "seg1.wet").write_bytes(warcinfo + encode_wet(recs1))
    # file 2: gzip
    (src / "seg2.wet.gz").write_bytes(encode_wet(recs2, compress=True))
    # file 3: a corrupt record (bad Content-Length) then a good one
    good_tail = encode_wet(
        [{"uri": "http://c.example/ok", "date": "2026-08-03T00:00:00Z",
          "text": "kilo lima mike november oscar"}]
    )
    (src / "seg3.wet").write_bytes(
        b"WARC/1.0\r\nWARC-Type: conversion\r\nContent-Length: nope\r\n\r\nxx\r\n\r\n"
        + good_tail
    )

    df = read_warc(spark, str(src))
    clean, bad = warc_quarantine_split(df)
    rows = {r["target_uri"]: r for r in clean.collect()}
    assert set(rows) == {
        "http://a.example/1", "http://a.example/2",
        "http://b.example/1", "http://c.example/ok",
    }
    assert rows["http://a.example/2"]["text"] == "naive cafe über snowman ☃ text"
    assert all(r["warc_type"] == "conversion" for r in rows.values())
    assert rows["http://b.example/1"]["source_file"].endswith("seg2.wet.gz")
    q = bad.collect()
    assert len(q) == 1 and "Content-Length" in q[0]["parse_error"]
    assert q[0]["source_file"].endswith("seg3.wet")

    # warc_types=None keeps the warcinfo preamble too
    all_types = read_warc(spark, str(src), warc_types=None)
    assert all_types.filter("warc_type = 'warcinfo'").count() == 1

    # strict mode: the corrupt file fails the task loudly
    import pytest as _pytest

    with _pytest.raises(Exception, match="WARC parse error"):
        read_warc(spark, str(src), strict=True).count()

    # pure-python parser unit checks: truncated payload reported, not hung
    trunc = b"WARC/1.0\r\nWARC-Type: conversion\r\nContent-Length: 100\r\n\r\nshort"
    out = list(parse_warc_records(trunc, "t"))
    assert len(out) == 1 and "truncated" in out[0]["parse_error"]


def test_warc_multimember_gzip_concatenation(spark, tmp_path):
    """Common Crawl gzips each record as its OWN member and concatenates;
    the reader must consume the whole multi-member stream, not stop at
    the first member boundary."""
    import gzip as _gzip

    from incremental_datapipeline_using_snowflake_spark.sources.warc_source import (
        encode_wet,
        read_warc,
    )

    r1 = [{"uri": "http://m.example/1", "date": "2026-08-01T00:00:00Z",
           "text": "first member record text"}]
    r2 = [{"uri": "http://m.example/2", "date": "2026-08-01T00:00:01Z",
           "text": "second member record text"}]
    src = tmp_path / "mm"
    src.mkdir()
    (src / "multi.wet.gz").write_bytes(
        _gzip.compress(encode_wet(r1)) + _gzip.compress(encode_wet(r2))
    )
    uris = {r["target_uri"] for r in read_warc(spark, str(src)).collect()}
    assert uris == {"http://m.example/1", "http://m.example/2"}


def test_warc_datasource_batch_and_streaming_watermark(spark, tmp_path):
    """format('warc'): batch reads file-per-partition; the streaming form
    ingests only files named above the committed watermark per drain
    (crawl-shard arrival semantics) and resumes from the checkpoint."""
    from incremental_datapipeline_using_snowflake_spark.sources.warc_datasource import (
        WarcDataSource,
    )
    from incremental_datapipeline_using_snowflake_spark.sources.warc_source import (
        encode_wet,
    )

    spark.dataSource.register(WarcDataSource)
    d = tmp_path / "crawl"
    d.mkdir()

    def shard(n, texts):
        (d / f"shard-{n:05d}.wet.gz").write_bytes(
            encode_wet(
                [
                    {"uri": f"http://s{n}.example/{i}",
                     "date": "2026-08-15T00:00:00Z", "text": t}
                    for i, t in enumerate(texts)
                ],
                compress=True,
            )
        )

    shard(1, ["alpha bravo charlie", "delta echo foxtrot"])
    shard(2, ["golf hotel india"])

    batch = spark.read.format("warc").option("path", str(d)).load()
    assert batch.rdd.getNumPartitions() == 2  # file-per-partition
    assert batch.count() == 3

    ckpt = str(tmp_path / "ckpt")
    got: list[set] = []

    def drain():
        uris: set = set()
        q = (
            spark.readStream.format("warc").option("path", str(d)).load()
            .writeStream.foreachBatch(
                lambda df, _b: uris.update(r["target_uri"] for r in df.collect())
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return uris

    first = drain()
    assert first == {
        "http://s1.example/0", "http://s1.example/1", "http://s2.example/0"
    }
    shard(3, ["juliet kilo lima"])
    second = drain()
    assert second == {"http://s3.example/0"}  # only the new shard
    assert drain() == set()                   # nothing new -> empty drain
