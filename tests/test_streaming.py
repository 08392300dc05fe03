"""Structured Streaming tests (SURVEY §5.4): stream == batch
equivalence for windowed aggregations, watermark-bounded dedup, and the
incremental (foreachBatch) ingest pipeline — files arriving in two
waves must produce the same index as one batch ingest, with
cross-micro-batch dedup holding."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_ingestion_tool_bakasura__spark.operators.ingest import IngestConfig, ingest_documents
from data_ingestion_tool_bakasura__spark.sources.readers import load_table
from data_ingestion_tool_bakasura__spark.streaming import pipeline as SP
from data_ingestion_tool_bakasura__spark.streaming import windows as SW
from tests.conftest import SF_SMOKE


def _batch_events(spark):
    return load_table(spark, SF_SMOKE, "events")


def test_stream_tumbling_equals_batch(spark):
    got = SW.replay_to_table(
        SW.tumbling_agg(SW.stream_events(spark, SF_SMOKE)), spark, mode="complete"
    )
    want = (
        _batch_events(spark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "sum_value")
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_stream_sliding_equals_batch(spark):
    got = SW.replay_to_table(
        SW.sliding_agg(SW.stream_events(spark, SF_SMOKE)), spark, mode="complete"
    )
    want = (
        _batch_events(spark)
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n_events"), F.round(F.avg("value"), 6).alias("avg_value"))
        .select(F.col("w.start").alias("window_start"), "n_events", "avg_value")
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_stream_dedup_key_set(spark):
    got = SW.replay_to_table(
        SW.stream_dedup_keys(SW.stream_events(spark, SF_SMOKE), ["user_id", "event_type"]),
        spark,
        mode="append",
    )
    want = _batch_events(spark).select("user_id", "event_type").distinct()
    assert sorted(map(tuple, got.distinct().collect())) == sorted(map(tuple, want.collect()))


def test_incremental_ingest_two_waves(spark, tmp_path):
    """Docs arriving in two waves through the stream -> same unique-hash
    index as a single batch ingest; second wave's duplicates of wave one
    are dropped by the foreachBatch anti-join."""
    docs = load_table(spark, SF_SMOKE, "documents").limit(40).cache()
    wave1 = docs.filter(F.col("doc_id") % 2 == 0)
    # wave2 includes half of wave1 again (replayed files) + the odd docs
    wave2 = docs.filter((F.col("doc_id") % 2 == 1) | (F.col("doc_id") % 4 == 0))

    landing = str(tmp_path / "landing")
    index_path = str(tmp_path / "index")
    cfg = IngestConfig(embedding_dim=8)

    wave1.coalesce(1).write.mode("append").parquet(landing)
    stream = SP.stream_documents(spark, landing, docs.schema)
    q = SP.start_incremental_ingest(
        stream, index_path, cfg=cfg, checkpoint=str(tmp_path / "ckpt")
    )
    q.awaitTermination()

    wave2.coalesce(1).write.mode("append").parquet(landing)
    q = SP.start_incremental_ingest(
        SP.stream_documents(spark, landing, docs.schema),
        index_path,
        cfg=cfg,
        checkpoint=str(tmp_path / "ckpt"),
    )
    q.awaitTermination()

    streamed = spark.read.parquet(index_path)
    batch = ingest_documents(docs, cfg=cfg)
    assert (
        sorted(r["text_hash"] for r in streamed.select("text_hash").distinct().collect())
        == sorted(r["text_hash"] for r in batch.select("text_hash").distinct().collect())
    )
    # cross-batch dedup: no text_hash appears twice in the streamed index
    dup = streamed.groupBy("text_hash").count().filter(F.col("count") > 1).count()
    assert dup == 0


def test_streaming_upsert_two_waves_and_replay(spark, tmp_path):
    """Key-addressed streaming upsert: two waves with overlapping keys
    converge to one row per key with the same winners as a batch-mode
    merge, and replaying wave two (fresh checkpoint, same files) leaves
    the table unchanged — the idempotence that makes restart-replays
    exactly-once at the output."""
    docs = load_table(spark, SF_SMOKE, "documents").limit(30).select(
        F.col("doc_id").alias("id"), "text", "source"
    ).cache()
    wave1 = docs.filter(F.col("id") < 20).withColumn("version", F.lit(1))
    # wave2 rewrites ids 10-19 with new text and adds 20-29
    wave2 = docs.filter(F.col("id") >= 10).withColumn(
        "text", F.concat(F.lit("v2 "), F.col("text"))
    ).withColumn("version", F.lit(2))

    landing = str(tmp_path / "landing")
    table = str(tmp_path / "table")

    from data_ingestion_tool_bakasura__spark.operators.upsert import upsert_by_key

    wave1.coalesce(1).write.mode("append").parquet(landing)
    SP.start_streaming_upsert(
        SP.stream_documents(spark, landing, wave1.schema), table, key="id",
        order_by=["version"], checkpoint=str(tmp_path / "ckpt"),
    ).awaitTermination()

    wave2.coalesce(1).write.mode("append").parquet(landing)
    SP.start_streaming_upsert(
        SP.stream_documents(spark, landing, wave1.schema), table, key="id",
        order_by=["version"], checkpoint=str(tmp_path / "ckpt"),
    ).awaitTermination()

    got = spark.read.parquet(table)
    want = upsert_by_key(wave1, wave2, key="id", order_by=["version"])
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    assert got.groupBy("id").count().filter(F.col("count") > 1).count() == 0

    # replay from a FRESH checkpoint (simulates lost offsets): ALL files
    # re-read as ONE micro-batch — winner election must be grouping-
    # insensitive (version order, not batch order), converging to the
    # identical table with no duplicate keys
    SP.start_streaming_upsert(
        SP.stream_documents(spark, landing, wave1.schema), table, key="id",
        order_by=["version"], checkpoint=str(tmp_path / "ckpt_replay"),
    ).awaitTermination()
    replayed = spark.read.parquet(table)
    assert sorted(map(tuple, replayed.collect())) == sorted(map(tuple, want.collect()))


def test_streaming_near_dedup_three_waves(spark, tmp_path):
    """Continuously near-deduplicated corpus: later waves' near- and
    exact duplicates of already-landed docs are dropped by probing the
    persisted band index; within one wave the min-id copy survives.
    Corpus text is never re-hashed — only the index rows are read."""
    base = "the quick brown fox jumps over the lazy dog again and again today"
    other = "completely different content about spark query engines and shuffles"
    third = "structured streaming joins watermarks and stateful aggregation notes"
    waves = [
        [(1, base), (3, other)],
        # 2 near-dups 1 (cross-wave); 5 is new; 7 exact-dups 5 within-wave
        [(2, base.replace("today", "tomorrow")), (5, third), (7, third)],
        # 4 exact-dups 1; 6 near-dups 5
        [(4, base), (6, third.replace("notes", "memo"))],
    ]
    landing = str(tmp_path / "landing")
    corpus = str(tmp_path / "corpus")
    index = str(tmp_path / "index")
    for rows in waves:
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(1).write.mode(
            "append"
        ).parquet(landing)
        SP.start_streaming_near_dedup(
            SP.stream_documents(
                spark, landing, spark.read.parquet(landing).schema
            ),
            corpus,
            index,
            num_hashes=16,
            bands=8,  # 2-row bands: candidate prob ~1 at J>=0.8
            checkpoint=str(tmp_path / "ckpt"),
        ).awaitTermination()

    got = sorted(r["doc_id"] for r in spark.read.parquet(corpus).collect())
    assert got == [1, 3, 5]
    # the index holds exactly the survivors' band rows
    idx_ids = {r["_id"] for r in spark.read.parquet(index).collect()}
    assert idx_ids == {1, 3, 5}

    # checkpoint-loss replay: every landing file re-read as one batch.
    # The LSH probe alone would NOT drop docs 1/3/5 (self-id pairs are
    # ignored), so without the exact-id guard they'd be appended twice.
    SP.start_streaming_near_dedup(
        SP.stream_documents(spark, landing, spark.read.parquet(landing).schema),
        corpus,
        index,
        num_hashes=16,
        bands=8,
        checkpoint=str(tmp_path / "ckpt_replay"),
    ).awaitTermination()
    replayed = spark.read.parquet(corpus)
    assert sorted(r["doc_id"] for r in replayed.collect()) == [1, 3, 5]
    assert replayed.count() == 3  # no duplicate rows, not just unique ids


def test_stream_quality_classifier_equals_batch(spark, tmp_path):
    """Stateless curation operators run unchanged on a stream (r8): the
    logistic quality filter over a file-stream replay equals its batch
    output row-for-row — no windows, no state store, append mode."""
    import os

    from data_ingestion_tool_bakasura__spark.operators.sampling import (
        quality_classifier_score,
    )

    docs = load_table(spark, SF_SMOKE, "documents")
    stage = str(tmp_path / "docs_in")
    os.makedirs(stage)
    os.symlink(os.path.join(SF_SMOKE, "documents.parquet"),
               os.path.join(stage, "documents.parquet"))
    sdf = spark.readStream.schema(docs.schema).parquet(stage)
    got = SW.replay_to_table(quality_classifier_score(sdf), spark, mode="append")
    want = quality_classifier_score(docs)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_streaming_image_dedup_three_waves(spark, tmp_path):
    """r9 C15 x C17: streaming image near-dedup. Three waves land:
    wave 1 seeds the corpus; wave 2 carries a perturbed twin of a
    corpus image (dropped), an exact within-batch duplicate pair
    (min-id kept) and a fresh image; wave 3 replays an already-seen id
    (exact-id guard) plus one new image. Payloads are hashed once —
    the index holds exactly the survivors' 65-byte hash rows — and a
    checkpoint-loss full replay appends nothing."""
    base = "IMG1|8|8|1|" + "the quick brown fox jumps over the lazy dog " * 8
    other = "IMG1|8|8|1|" + "completely different payload contents here " * 8
    third = "IMG1|8|8|1|" + "yet another unrelated media payload string " * 8

    landing = str(tmp_path / "landing")
    corpus = str(tmp_path / "media")
    index = str(tmp_path / "img_idx")
    waves = [
        [(1, base), (2, other)],
        [(10, "Z" + base[1:]),          # near-dup of corpus img 1 -> drop
         (11, third), (12, third),      # within-batch exact pair -> keep 11
         (13, "IMG1|8|8|1|" + "fresh unique content nothing like rest " * 8)],
        [(11, third),                   # replayed id -> exact-id guard
         (20, "IMG1|8|8|1|" + "final wave brand new payload bytes here " * 8)],
    ]
    for rows in waves:
        spark.createDataFrame(rows, "media_id long, payload string").coalesce(
            1
        ).write.mode("append").parquet(landing)
        SP.start_streaming_image_dedup(
            SP.stream_documents(spark, landing, spark.read.parquet(landing).schema),
            corpus,
            index,
            checkpoint=str(tmp_path / "ckpt"),
        ).awaitTermination()

    got = sorted(r["media_id"] for r in spark.read.parquet(corpus).collect())
    assert got == [1, 2, 11, 13, 20]
    idx = spark.read.parquet(index)
    assert sorted(r["media_id"] for r in idx.collect()) == [1, 2, 11, 13, 20]
    assert set(idx.columns) == {"media_id", "ahash"}

    # checkpoint-loss replay: everything re-read as one batch -> no-op
    SP.start_streaming_image_dedup(
        SP.stream_documents(spark, landing, spark.read.parquet(landing).schema),
        corpus,
        index,
        checkpoint=str(tmp_path / "ckpt_replay"),
    ).awaitTermination()
    replayed = spark.read.parquet(corpus)
    assert replayed.count() == 5
    assert sorted(r["media_id"] for r in replayed.collect()) == [1, 2, 11, 13, 20]


def test_streaming_crawl_closure(spark, tmp_path):
    """WARC stream -> start_streaming_crawl: within-batch utm-twin
    collapse, blocklist, cross-batch first-arrival-wins on norm_url."""
    from data_ingestion_tool_bakasura__spark.sources.warc import read_warc
    from data_ingestion_tool_bakasura__spark.streaming.pipeline import (
        start_streaming_crawl,
    )

    def rec(uri, html, rid):
        body = (
            f"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
            f"Content-Length: {len(html)}\r\n\r\n"
        ).encode() + html
        head = (
            f"WARC/1.0\r\nWARC-Type: response\r\nWARC-Record-ID: <urn:uuid:{rid}>\r\n"
            f"WARC-Target-URI: {uri}\r\nWARC-Date: 2026-08-14T00:00:00Z\r\n"
            f"Content-Length: {len(body)}\r\n\r\n"
        ).encode()
        return head + body + b"\r\n\r\n"

    crawl = tmp_path / "crawl"
    crawl.mkdir()
    corpus = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ckpt")

    (crawl / "w1.warc").write_bytes(
        rec("https://A.example.org/p?utm_source=x", b"<p>first copy</p>", "a1")
        + rec("https://a.example.org/p", b"<p>second copy</p>", "a2")
        + rec("http://bad.spam/x", b"<p>junk</p>", "s1")
    )

    def run_once():
        q = start_streaming_crawl(
            read_warc(spark, str(crawl), streaming=True),
            corpus,
            blocked_domains=["bad.spam"],
            checkpoint=ckpt,
        )
        q.awaitTermination(120)

    run_once()
    rows = {r["norm_url"]: r for r in spark.read.parquet(corpus).collect()}
    assert set(rows) == {"https://a.example.org/p"}
    assert rows["https://a.example.org/p"]["text"] == "first copy"  # a1 < a2
    assert rows["https://a.example.org/p"]["domain"] == "example.org"
    # schema is STABLE whether DSIR is on or off: log_weight is always
    # present (NULL when off) so toggling dsir_ratios_path across runs
    # of one corpus never writes mixed-schema parquet (r10 ADVICE)
    assert rows["https://a.example.org/p"]["log_weight"] is None
    # r12 (r11 verdict #8): pin the FULL stable append schema, not just
    # log_weight — the seen-guard/domain-count reads use plain
    # spark.read.parquet (no mergeSchema), so ANY optional stage that
    # appends with a different column set silently corrupts the corpus
    assert set(spark.read.parquet(corpus).columns) == {
        "norm_url", "url", "domain", "text", "n_chars", "lang",
        "log_weight",
    }

    (crawl / "w2.warc").write_bytes(
        rec("https://a.example.org/p?utm_medium=y", b"<p>third copy</p>", "b1")
        + rec("https://new.example.org/q", b"<p>fresh page</p>", "b2")
    )
    run_once()
    rows = {r["norm_url"]: r["text"] for r in spark.read.parquet(corpus).collect()}
    assert rows == {
        "https://a.example.org/p": "first copy",  # first arrival held
        "https://new.example.org/q": "fresh page",
    }


def test_streaming_crawl_corpus_wide_domain_cap(spark, tmp_path):
    """max_per_domain_total holds ACROSS batches: batch 1 fills the
    domain's quota, batch 2's same-domain pages are dropped while other
    domains still land."""
    from data_ingestion_tool_bakasura__spark.sources.warc import read_warc
    from data_ingestion_tool_bakasura__spark.streaming.pipeline import (
        start_streaming_crawl,
    )

    def rec(uri, html, rid):
        body = (
            f"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
            f"Content-Length: {len(html)}\r\n\r\n"
        ).encode() + html
        head = (
            f"WARC/1.0\r\nWARC-Type: response\r\nWARC-Record-ID: <urn:uuid:{rid}>\r\n"
            f"WARC-Target-URI: {uri}\r\nWARC-Date: 2026-08-14T00:00:00Z\r\n"
            f"Content-Length: {len(body)}\r\n\r\n"
        ).encode()
        return head + body + b"\r\n\r\n"

    crawl = tmp_path / "crawl"
    crawl.mkdir()
    corpus = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ckpt")

    def run_once():
        q = start_streaming_crawl(
            read_warc(spark, str(crawl), streaming=True),
            corpus,
            max_per_domain_total=2,
            checkpoint=ckpt,
        )
        q.awaitTermination(120)

    (crawl / "w1.warc").write_bytes(
        rec("https://big.example/1", b"<p>one</p>", "a1")
        + rec("https://big.example/2", b"<p>two</p>", "a2")
        + rec("https://big.example/3", b"<p>three</p>", "a3")
    )
    run_once()
    urls = sorted(r["url"] for r in spark.read.parquet(corpus).collect())
    assert urls == ["https://big.example/1", "https://big.example/2"]

    (crawl / "w2.warc").write_bytes(
        rec("https://big.example/4", b"<p>four</p>", "b1")
        + rec("https://tiny.example/1", b"<p>tiny</p>", "b2")
    )
    run_once()
    urls = sorted(r["url"] for r in spark.read.parquet(corpus).collect())
    assert urls == [
        "https://big.example/1", "https://big.example/2", "https://tiny.example/1",
    ]


def test_streaming_crawl_dsir_gate(spark, tmp_path):
    """Persisted DSIR model gates the stream: target-like pages land
    with their log_weight, off-target pages are dropped."""
    from data_ingestion_tool_bakasura__spark.operators.sampling import dsir_log_ratios
    from data_ingestion_tool_bakasura__spark.sources.warc import read_warc
    from data_ingestion_tool_bakasura__spark.streaming.pipeline import (
        start_streaming_crawl,
    )

    cat = "the cat sat on the mat and cats purred today"
    stock = "stock market prices moved on quarterly earnings data"
    raw = spark.createDataFrame(
        [(i, f"{cat} {i}") for i in range(20)]
        + [(100 + i, f"{stock} {i}") for i in range(20)],
        "doc_id long, text string",
    )
    ratios_path = str(tmp_path / "ratios")
    dsir_log_ratios(raw, raw.filter("doc_id < 20")).write.parquet(ratios_path)

    def rec(uri, html, rid):
        body = (
            f"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
            f"Content-Length: {len(html)}\r\n\r\n"
        ).encode() + html
        head = (
            f"WARC/1.0\r\nWARC-Type: response\r\nWARC-Record-ID: <urn:uuid:{rid}>\r\n"
            f"WARC-Target-URI: {uri}\r\nWARC-Date: 2026-08-14T00:00:00Z\r\n"
            f"Content-Length: {len(body)}\r\n\r\n"
        ).encode()
        return head + body + b"\r\n\r\n"

    crawl = tmp_path / "crawl"
    crawl.mkdir()
    (crawl / "w.warc").write_bytes(
        rec("https://cats.example/a", f"<p>{cat} fresh</p>".encode(), "c1")
        + rec("https://money.example/b", f"<p>{stock} fresh</p>".encode(), "m1")
    )
    corpus = str(tmp_path / "corpus")
    q = start_streaming_crawl(
        read_warc(spark, str(crawl), streaming=True),
        corpus,
        dsir_ratios_path=ratios_path,
        dsir_min_weight=-1.5,  # cat pages score near 0; stock well below
        checkpoint=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    rows = spark.read.parquet(corpus).collect()
    assert [r["url"] for r in rows] == ["https://cats.example/a"]
    assert rows[0]["log_weight"] > -1.5


def test_streaming_crawl_accepts_wet_stream(spark, tmp_path):
    """r11: a WET stream (already-extracted text, string payload) runs
    through the SAME crawl closure — dedup, domain cap and the DSIR
    gate — with no decode/html leg; text lands verbatim."""
    from data_ingestion_tool_bakasura__spark.operators.sampling import dsir_log_ratios
    from data_ingestion_tool_bakasura__spark.sources.warc import read_wet
    from data_ingestion_tool_bakasura__spark.streaming.pipeline import (
        start_streaming_crawl,
    )

    cat = "the cat sat on the mat and cats purred today"
    stock = "stock market prices moved on quarterly earnings data"
    raw = spark.createDataFrame(
        [(i, f"{cat} {i}") for i in range(20)]
        + [(100 + i, f"{stock} {i}") for i in range(20)],
        "doc_id long, text string",
    )
    ratios_path = str(tmp_path / "ratios")
    dsir_log_ratios(raw, raw.filter("doc_id < 20")).write.parquet(ratios_path)

    def wet(uri, text, rid):
        body = text.encode()
        head = (
            f"WARC/1.0\r\nWARC-Type: conversion\r\n"
            f"WARC-Record-ID: <urn:uuid:{rid}>\r\n"
            f"WARC-Target-URI: {uri}\r\n"
            f"Content-Length: {len(body)}\r\n\r\n"
        ).encode()
        return head + body + b"\r\n\r\n"

    d = tmp_path / "wet"
    d.mkdir()
    (d / "w.warc.wet").write_bytes(
        wet("https://cats.example/a", f"{cat} fresh", "c1")
        + wet("https://CATS.example/a?utm_source=x", f"{cat} dup", "c2")
        + wet("https://money.example/b", f"{stock} fresh", "m1")
    )
    corpus = str(tmp_path / "corpus")
    q = start_streaming_crawl(
        read_wet(spark, str(d), streaming=True),
        corpus,
        payload_col="text",
        dsir_ratios_path=ratios_path,
        dsir_min_weight=-1.5,
        checkpoint=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    rows = spark.read.parquet(corpus).collect()
    assert [r["url"] for r in rows] == ["https://cats.example/a"]
    assert rows[0]["text"] == f"{cat} fresh"  # verbatim, no html leg
    assert rows[0]["log_weight"] > -1.5


def test_streaming_crawl_robots_gate(spark, tmp_path):
    """r11: a persisted robots rule table gates the streaming crawl —
    disallowed paths never land, longer Allow rules win back."""
    from data_ingestion_tool_bakasura__spark.operators.crawl import robots_rules_df
    from data_ingestion_tool_bakasura__spark.sources.warc import read_wet
    from data_ingestion_tool_bakasura__spark.streaming.pipeline import (
        start_streaming_crawl,
    )

    robots = spark.createDataFrame(
        [("site.example", "User-agent: *\nDisallow: /private\nAllow: /private/ok")],
        "host string, body string",
    )
    rules_path = str(tmp_path / "rules")
    robots_rules_df(robots).write.parquet(rules_path)

    def wet(uri, text, rid):
        body = text.encode()
        head = (
            f"WARC/1.0\r\nWARC-Type: conversion\r\n"
            f"WARC-Record-ID: <urn:uuid:{rid}>\r\n"
            f"WARC-Target-URI: {uri}\r\n"
            f"Content-Length: {len(body)}\r\n\r\n"
        ).encode()
        return head + body + b"\r\n\r\n"

    d = tmp_path / "wet"
    d.mkdir()
    (d / "w.warc.wet").write_bytes(
        wet("https://site.example/public/a", "open page", "1")
        + wet("https://site.example/private/x", "secret page", "2")
        + wet("https://site.example/private/ok/y", "allowed back", "3")
    )
    corpus = str(tmp_path / "corpus")
    start_streaming_crawl(
        read_wet(spark, str(d), streaming=True),
        corpus,
        payload_col="text",
        robots_rules_path=rules_path,
        checkpoint=str(tmp_path / "ckpt"),
    ).awaitTermination(120)
    urls = sorted(r["url"] for r in spark.read.parquet(corpus).collect())
    assert urls == [
        "https://site.example/private/ok/y", "https://site.example/public/a",
    ]


def test_streaming_crawl_quality_gate(spark, tmp_path):
    """r11: quality_gate='c4+gopher' — C4 cleans each batch's text
    (boilerplate lines dropped, lorem-ipsum/code pages killed), then
    the Gopher rules judge the CLEANED text; only quality pages land,
    with the cleaned text and recomputed n_chars."""
    from data_ingestion_tool_bakasura__spark.streaming.pipeline import (
        start_streaming_crawl,
    )
    from data_ingestion_tool_bakasura__spark.sources.warc import read_wet

    good = (
        "The quick brown fox jumps over the lazy dog today. "
        "We have run the test again and again to be sure of it. "
        "It held up well! Did it break? It did not. That was the point. "
        "More words of note land here with the rest of the body text now."
    )

    def wet(uri, text, rid):
        body = text.encode()
        head = (
            f"WARC/1.0\r\nWARC-Type: conversion\r\n"
            f"WARC-Record-ID: <urn:uuid:{rid}>\r\n"
            f"WARC-Target-URI: {uri}\r\n"
            f"Content-Length: {len(body)}\r\n\r\n"
        ).encode()
        return head + body + b"\r\n\r\n"

    d = tmp_path / "wet"
    d.mkdir()
    (d / "w.warc.wet").write_bytes(
        wet("https://a.example/clean", good, "1")
        + wet("https://a.example/boiler",
              "Home | About | Contact\n" + good + "\nPlease enable javascript now.",
              "2")
        + wet("https://a.example/lorem", "Lorem ipsum dolor sit amet. " + good, "3")
        + wet("https://a.example/bullets",
              "\n".join(f"- the item number {i} sits of note here." for i in range(12)),
              "4")
    )
    corpus = str(tmp_path / "corpus")
    start_streaming_crawl(
        read_wet(spark, str(d), streaming=True),
        corpus,
        payload_col="text",
        quality_gate="c4+gopher",
        checkpoint=str(tmp_path / "ckpt"),
    ).awaitTermination(120)
    rows = {r["url"]: r for r in spark.read.parquet(corpus).collect()}
    assert sorted(rows) == ["https://a.example/boiler", "https://a.example/clean"]
    # boilerplate lines were stripped before landing; n_chars tracks
    boiler = rows["https://a.example/boiler"]
    assert boiler["text"] == good
    assert boiler["n_chars"] == len(good)


def test_streaming_crawl_quality_gate_validates(spark, tmp_path):
    import pytest as _pytest

    from data_ingestion_tool_bakasura__spark.streaming.pipeline import (
        start_streaming_crawl,
    )

    with _pytest.raises(ValueError, match="quality_gate"):
        start_streaming_crawl(
            spark.readStream.format("rate").load(),
            str(tmp_path / "c"),
            quality_gate="fineweb",
        )


def test_streaming_crawl_language_gate(spark, tmp_path):
    """r11: langid_profiles_path + allowed_langs — each batch is
    classified with the persisted char-trigram profiles and only
    allowed-language pages land, annotated with the guess; with the
    gate off the lang column is still present (NULL) so the corpus
    schema never flips."""
    from data_ingestion_tool_bakasura__spark.operators.sampling import (
        fit_lang_profiles,
    )
    from data_ingestion_tool_bakasura__spark.sources.warc import read_wet
    from data_ingestion_tool_bakasura__spark.streaming.pipeline import (
        start_streaming_crawl,
    )

    eng = ("the quick brown fox jumps over the lazy dog and then the "
           "other dog follows along the river into the town")
    zzz = ("zxq zxq vrk vrk plm plm zxq vrk plm zxqvrk plmzxq vrkplm "
           "zxq zxq vrk vrk plm plm zxqplm vrkzxq plmvrk zxq vrk plm")
    labeled = spark.createDataFrame(
        [(0, eng, "en"), (1, zzz, "zz")], "doc_id int, text string, lang string"
    )
    profiles_path = str(tmp_path / "profiles")
    fit_lang_profiles(labeled).write.parquet(profiles_path)

    def wet(uri, text, rid):
        body = text.encode()
        head = (f"WARC/1.0\r\nWARC-Type: conversion\r\n"
                f"WARC-Record-ID: <urn:uuid:{rid}>\r\n"
                f"WARC-Target-URI: {uri}\r\n"
                f"Content-Length: {len(body)}\r\n\r\n").encode()
        return head + body + b"\r\n\r\n"

    d = tmp_path / "wet"
    d.mkdir()
    (d / "w.warc.wet").write_bytes(
        wet("https://a.example/en", "the dog follows the fox into the town", "1")
        + wet("https://a.example/zz", "zxq vrk plm zxq vrk plm zxq", "2")
    )
    corpus = str(tmp_path / "corpus")
    start_streaming_crawl(
        read_wet(spark, str(d), streaming=True),
        corpus,
        payload_col="text",
        langid_profiles_path=profiles_path,
        allowed_langs=["en"],
        checkpoint=str(tmp_path / "ckpt"),
    ).awaitTermination(120)
    rows = spark.read.parquet(corpus).collect()
    assert [(r["url"], r["lang"]) for r in rows] == [("https://a.example/en", "en")]
    # gate off on a fresh corpus: lang present but NULL
    corpus2 = str(tmp_path / "corpus2")
    start_streaming_crawl(
        read_wet(spark, str(d), streaming=True),
        corpus2,
        payload_col="text",
        checkpoint=str(tmp_path / "ckpt2"),
    ).awaitTermination(120)
    rows2 = spark.read.parquet(corpus2)
    assert "lang" in rows2.columns
    assert rows2.filter("lang IS NOT NULL").count() == 0
    assert rows2.count() == 2


def test_streaming_crawl_archive_publisher(spark, tmp_path):
    """r12: archive_path makes the crawl publish Common-Crawl-layout
    per-batch .warc.gz + .cdxj alongside the corpus — the surviving
    RAW responses (post dedup/blocklist, pre extraction), readable
    back with read_warc and index-plannable with read_cdx; a replayed
    batch converges on a rewrite."""
    from data_ingestion_tool_bakasura__spark.sources.cdx import read_cdx
    from data_ingestion_tool_bakasura__spark.sources.warc import (
        read_warc,
        write_warc,  # noqa: F401 (import sanity)
    )
    from data_ingestion_tool_bakasura__spark.streaming.pipeline import (
        start_streaming_crawl,
    )

    def rec(uri, html, rid):
        body = (
            f"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
            f"Content-Length: {len(html)}\r\n\r\n"
        ).encode() + html
        head = (
            f"WARC/1.0\r\nWARC-Type: response\r\nWARC-Record-ID: <urn:uuid:{rid}>\r\n"
            f"WARC-Target-URI: {uri}\r\nWARC-Date: 2026-08-14T00:00:00Z\r\n"
            f"Content-Length: {len(body)}\r\n\r\n"
        ).encode()
        return head + body + b"\r\n\r\n"

    crawl = tmp_path / "crawl"
    crawl.mkdir()
    corpus = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ckpt")
    archive = str(tmp_path / "archive")

    (crawl / "w1.warc").write_bytes(
        rec("https://a.example.org/p?utm_source=x", b"<p>alpha</p>", "a1")
        + rec("https://a.example.org/p", b"<p>dup of alpha</p>", "a2")
        + rec("http://bad.spam/x", b"<p>junk</p>", "s1")
    )

    def run_once():
        q = start_streaming_crawl(
            read_warc(spark, str(crawl), streaming=True),
            corpus,
            blocked_domains=["bad.spam"],
            archive_path=archive,
            checkpoint=ckpt,
        )
        q.awaitTermination(120)

    run_once()
    # wave 1 archived exactly the one surviving raw response
    arch1 = read_warc(spark, archive + "/*").collect()
    assert len(arch1) == 1
    assert arch1[0]["url"] == "https://a.example.org/p?utm_source=x"
    assert bytes(arch1[0]["payload"]) == b"<p>alpha</p>"
    assert arch1[0]["warc_date"] == "2026-08-14T00:00:00Z"

    (crawl / "w2.warc").write_bytes(
        rec("https://new.example.org/q", b"<p>beta</p>", "b1")
        + rec("https://a.example.org/p", b"<p>seen</p>", "b2")  # corpus-seen
    )
    run_once()
    arch2 = {r["url"]: bytes(r["payload"])
             for r in read_warc(spark, archive + "/*").collect()}
    assert arch2 == {
        "https://a.example.org/p?utm_source=x": b"<p>alpha</p>",
        "https://new.example.org/q": b"<p>beta</p>",
    }
    # the CDX sidecars plan range-fetches over the whole archive
    caps = read_cdx(spark, archive + "/*/*.cdxj")
    assert caps.count() == 2
    assert {r["status"] for r in caps.collect()} == {200}
    # offsets are real and filenames root-relative (batch-N/part-...):
    # one read_warc_ranges over the archive root fetches them back
    from data_ingestion_tool_bakasura__spark.sources.cdx import (
        fetch_plan,
        latest_captures,
        read_warc_ranges,
    )

    rows = read_warc_ranges(
        fetch_plan(latest_captures(caps)), archive
    ).collect()
    assert sorted(r["url"] for r in rows) == [
        "https://a.example.org/p?utm_source=x",
        "https://new.example.org/q",
    ]
    assert {r["url"]: bytes(r["payload"]) for r in rows} == arch2
    # corpus landed the extracted text as usual
    got = {r["norm_url"]: r["text"]
           for r in spark.read.parquet(corpus).collect()}
    assert got == {"https://a.example.org/p": "alpha",
                   "https://new.example.org/q": "beta"}

    # replay AFTER the corpus append (fresh checkpoint = all files
    # re-read as batch 0; the seen-guard empties it): the exists-guard
    # must leave the published archive untouched — the r12 review
    # finding was a rewrite destroying it
    import shutil as _sh

    before = sorted(
        (str(p.relative_to(tmp_path / "archive")), p.stat().st_size)
        for p in (tmp_path / "archive").rglob("*") if p.is_file()
    )
    _sh.rmtree(ckpt)
    run_once()
    after = sorted(
        (str(p.relative_to(tmp_path / "archive")), p.stat().st_size)
        for p in (tmp_path / "archive").rglob("*") if p.is_file()
    )
    assert after == before
    assert read_warc(spark, archive + "/*").count() == 2


def test_crawl_checkpoint_loss_archives_new_pages(spark, tmp_path):
    """r14-late review: archive dirs / graph waves are keyed by a
    run token persisted in the checkpoint, so after CHECKPOINT LOSS a
    regrouped batch 0 no longer collides with the old batch 0 — a
    genuinely NEW page in the replayed wave is archived (under the new
    run's keys) instead of silently skipped, while the old published
    archive stays untouched and the corpus stays deduplicated."""
    import shutil as _sh

    from data_ingestion_tool_bakasura__spark.sources.warc import read_warc
    from data_ingestion_tool_bakasura__spark.streaming.pipeline import (
        start_streaming_crawl,
    )

    def rec(uri, html, rid):
        body = (
            f"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
            f"Content-Length: {len(html)}\r\n\r\n"
        ).encode() + html
        head = (
            f"WARC/1.0\r\nWARC-Type: response\r\n"
            f"WARC-Record-ID: <urn:uuid:{rid}>\r\n"
            f"WARC-Target-URI: {uri}\r\nWARC-Date: 2026-08-14T00:00:00Z\r\n"
            f"Content-Length: {len(body)}\r\n\r\n"
        ).encode()
        return head + body + b"\r\n\r\n"

    crawl = tmp_path / "crawl"
    crawl.mkdir()
    corpus = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ckpt")
    archive = str(tmp_path / "archive")
    (crawl / "w1.warc").write_bytes(
        rec("https://a.example.org/p", b"<p>alpha</p>", "a1"))

    def run_once():
        q = start_streaming_crawl(
            read_warc(spark, str(crawl), streaming=True), corpus,
            archive_path=archive, checkpoint=ckpt,
        )
        q.awaitTermination(120)

    run_once()
    assert read_warc(spark, archive + "/*").count() == 1
    # checkpoint LOST; a new page arrives; the replayed wave re-reads
    # both files as batch 0
    _sh.rmtree(ckpt)
    (crawl / "w2.warc").write_bytes(
        rec("https://new.example.org/q", b"<p>beta</p>", "b1"))
    run_once()
    arch = {r["url"]: bytes(r["payload"])
            for r in read_warc(spark, archive + "/*").collect()}
    assert arch == {
        "https://a.example.org/p": b"<p>alpha</p>",
        "https://new.example.org/q": b"<p>beta</p>",
    }
    got = sorted(r["norm_url"] for r in spark.read.parquet(corpus).collect())
    assert got == ["https://a.example.org/p", "https://new.example.org/q"]


def test_crawl_corpus_recovers_from_crashed_swap(spark, tmp_path):
    """r14-late review (the crawl twin of the upsert data-loss path):
    a crash between compact's swap renames leaves the corpus displaced
    at *_swap_old; the next batch must restore it BEFORE the seen-guard
    reads — previously the guard treated the corpus as absent,
    re-landed the batch into a fresh dir, and the next compact's
    swap-entry cleanup deleted the displaced full copy."""
    import os

    from data_ingestion_tool_bakasura__spark.sources.warc import read_warc
    from data_ingestion_tool_bakasura__spark.streaming.pipeline import (
        start_streaming_crawl,
    )

    def rec(uri, html, rid):
        body = (
            f"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
            f"Content-Length: {len(html)}\r\n\r\n"
        ).encode() + html
        head = (
            f"WARC/1.0\r\nWARC-Type: response\r\n"
            f"WARC-Record-ID: <urn:uuid:{rid}>\r\n"
            f"WARC-Target-URI: {uri}\r\nWARC-Date: 2026-08-14T00:00:00Z\r\n"
            f"Content-Length: {len(body)}\r\n\r\n"
        ).encode()
        return head + body + b"\r\n\r\n"

    crawl = tmp_path / "crawl"
    crawl.mkdir()
    corpus = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ckpt")
    (crawl / "w1.warc").write_bytes(
        rec("https://a.example.org/p", b"<p>alpha</p>", "a1"))

    def run_once():
        q = start_streaming_crawl(
            read_warc(spark, str(crawl), streaming=True), corpus,
            checkpoint=ckpt,
        )
        q.awaitTermination(120)

    run_once()
    # simulate the crash mid-swap: corpus displaced, path missing
    os.rename(corpus, corpus + "_swap_old")
    (crawl / "w2.warc").write_bytes(
        rec("https://new.example.org/q", b"<p>beta</p>", "b1"))
    run_once()
    got = sorted(r["norm_url"] for r in spark.read.parquet(corpus).collect())
    assert got == ["https://a.example.org/p", "https://new.example.org/q"]
    assert not os.path.exists(corpus + "_swap_old")


def test_sinks_refuse_remote_paths(spark, tmp_path):
    """r14-late review: every parquet sink's replay guard is a
    driver-local filesystem check, so object-store paths are REFUSED
    loudly at stream start (and in upsert_into_path's parquet leg)
    instead of silently disabling the guards — where a replayed batch
    would append duplicates and the upsert would overwrite the table
    with one batch per trigger."""
    import pytest as _pytest

    from data_ingestion_tool_bakasura__spark.operators.upsert import (
        upsert_into_path,
    )
    from data_ingestion_tool_bakasura__spark.streaming.pipeline import (
        start_incremental_ingest,
        start_streaming_near_dedup,
    )

    with _pytest.raises(ValueError, match="local or file://"):
        start_incremental_ingest(None, "s3a://bucket/index")
    with _pytest.raises(ValueError, match="local or file://"):
        start_streaming_near_dedup(
            None, "s3a://bucket/corpus", str(tmp_path / "idx"))
    with _pytest.raises(ValueError, match="local or file://"):
        upsert_into_path(
            spark, "s3a://bucket/tbl",
            spark.createDataFrame([(1, "a")], "id long, v string"),
            use_delta=False,
        )


def test_streaming_near_dedup_string_ids_first_batch(spark, tmp_path):
    """r14-late review: the first micro-batch (no index yet) derives
    the empty index's schema from the batch's own band keys — the
    hardcoded '_id long' form broke string doc ids under ANSI type
    checks before any index existed."""
    from data_ingestion_tool_bakasura__spark.streaming.pipeline import (
        start_streaming_near_dedup,
    )

    src = tmp_path / "docs"
    src.mkdir()
    spark.createDataFrame(
        [("url-a", "the quick brown fox jumps over the lazy dog"),
         ("url-b", "an entirely different document about spark plans")],
        "doc_id string, text string",
    ).write.parquet(str(src / "w1"))
    stream = spark.readStream.schema("doc_id string, text string").parquet(
        str(src / "*"))
    q = start_streaming_near_dedup(
        stream, str(tmp_path / "corpus"), str(tmp_path / "index"),
        checkpoint=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    got = sorted(
        r["doc_id"]
        for r in spark.read.parquet(str(tmp_path / "corpus")).collect()
    )
    assert got == ["url-a", "url-b"]


def test_incremental_ingest_recovers_from_crashed_first_append(spark, tmp_path):
    """A crashed FIRST append leaves the index dir holding only Spark's
    _temporary staging dir; the replayed batch must treat that as 'no
    index yet' (r15, from the r14 advice) — a bare exists-check sent it
    into spark.read.parquet of a data-less directory, wedging the
    stream until manual cleanup."""
    import os

    docs = load_table(spark, SF_SMOKE, "documents").limit(10)
    landing = str(tmp_path / "landing")
    index_path = str(tmp_path / "index")
    os.makedirs(os.path.join(index_path, "_temporary", "0"))
    docs.coalesce(1).write.mode("append").parquet(landing)
    q = SP.start_incremental_ingest(
        SP.stream_documents(spark, landing, docs.schema),
        index_path,
        cfg=IngestConfig(embedding_dim=8),
        checkpoint=str(tmp_path / "ckpt"),
    )
    q.awaitTermination()
    assert spark.read.parquet(index_path).count() > 0


def test_streaming_crawl_rejects_remote_checkpoint(spark, tmp_path):
    """start_streaming_crawl persists its run token with driver-local
    file IO inside the checkpoint dir, so a remote checkpoint scheme
    must be refused at construction (r15, from the r14 advice) — it
    would silently create a literal local 'hdfs:' directory and mint a
    fresh token per driver host."""
    import pytest

    from data_ingestion_tool_bakasura__spark.streaming.pipeline import (
        start_streaming_crawl,
    )

    stream = spark.readStream.format("rate").option("rowsPerSecond", 1).load()
    with pytest.raises(ValueError, match="checkpoint"):
        start_streaming_crawl(
            stream.selectExpr("cast(value as string) as url",
                              "cast(value as string) as payload",
                              "value as record_id"),
            corpus_path=str(tmp_path / "corpus"),
            checkpoint="hdfs://namenode:8020/ckpt/crawl",
        )


import pytest as _pt


@_pt.mark.parametrize(
    "point", ["neardedup_index_written", "neardedup_corpus_appended"])
def test_streaming_near_dedup_crash_between_writes_loses_nothing(
        spark, tmp_path, point):
    """r15 ordering sweep: the LSH closure appends the band index
    BEFORE the corpus (the image/video closures' r9 crash argument,
    adopted here) — a crash at EITHER durable edge replays the batch,
    the probe excludes the batch's own orphan index rows, and the
    double-index anti-join reconciles. The old corpus-first order
    silently LOST the survivors' band keys: a later near-dup of a
    landed doc went undetected forever."""
    base = "the quick brown fox jumps over the lazy dog again and again today"
    other = "completely different content about spark query engines and shuffles"
    landing = str(tmp_path / "landing")
    corpus = str(tmp_path / "corpus")
    index = str(tmp_path / "index")

    def run_once():
        SP.start_streaming_near_dedup(
            SP.stream_documents(
                spark, landing, spark.read.parquet(landing).schema
            ),
            corpus, index, num_hashes=16, bands=8,
            checkpoint=str(tmp_path / "ckpt"),
        ).awaitTermination(120)

    spark.createDataFrame(
        [(1, base), (3, other)], "doc_id long, text string"
    ).coalesce(1).write.mode("append").parquet(landing)

    def crash(name: str) -> None:
        if name == point:
            raise RuntimeError(f"injected crash at {name}")

    SP.CRASH_HOOK = crash
    try:
        import pytest

        with pytest.raises(Exception, match="injected crash"):
            run_once()
    finally:
        SP.CRASH_HOOK = None
    run_once()  # replay: corpus lands, index reconciles (no double rows)

    # wave 2: a near-dup of doc 1 MUST be caught — under the old
    # corpus-first order its band keys were lost and 2 landed as new
    spark.createDataFrame(
        [(2, base.replace("today", "tomorrow"))], "doc_id long, text string"
    ).coalesce(1).write.mode("append").parquet(landing)
    run_once()

    got = spark.read.parquet(corpus)
    assert sorted(r["doc_id"] for r in got.collect()) == [1, 3]
    assert got.count() == 2  # exactly-once rows, not just unique ids
    idx = spark.read.parquet(index)
    assert {r["_id"] for r in idx.collect()} == {1, 3}
    # no double-indexing: each survivor's band rows appear exactly once
    per_id = idx.groupBy("_id").count().collect()
    n_bands = {r["_id"]: r["count"] for r in per_id}
    assert n_bands == {1: 8, 3: 8}


@_pt.mark.parametrize(
    "point", ["imagededup_index_written", "imagededup_corpus_appended"])
def test_streaming_image_dedup_crash_between_writes_loses_nothing(
        spark, tmp_path, point):
    """r15 ordering sweep, image twin of the LSH test: a crash at
    either durable edge replays the batch past the corpus-id guard;
    the index anti-join reconciles without double-indexing and a later
    near-dup of the landed image is still caught."""
    base = "IMG1|8|8|1|" + "the quick brown fox jumps over the lazy dog " * 8
    landing = str(tmp_path / "landing")
    corpus = str(tmp_path / "media")
    index = str(tmp_path / "img_idx")

    def run_once():
        SP.start_streaming_image_dedup(
            SP.stream_documents(
                spark, landing, spark.read.parquet(landing).schema
            ),
            corpus, index, checkpoint=str(tmp_path / "ckpt"),
        ).awaitTermination(120)

    spark.createDataFrame(
        [(1, base)], "media_id long, payload string"
    ).coalesce(1).write.mode("append").parquet(landing)

    def crash(name: str) -> None:
        if name == point:
            raise RuntimeError(f"injected crash at {name}")

    SP.CRASH_HOOK = crash
    try:
        import pytest

        with pytest.raises(Exception, match="injected crash"):
            run_once()
    finally:
        SP.CRASH_HOOK = None
    run_once()  # replay reconciles the corpus, no double-indexing

    # wave 2: a perturbed twin of image 1 must still be dropped
    spark.createDataFrame(
        [(10, "Z" + base[1:])], "media_id long, payload string"
    ).coalesce(1).write.mode("append").parquet(landing)
    run_once()

    got = spark.read.parquet(corpus)
    assert [r["media_id"] for r in got.collect()] == [1]
    idx = spark.read.parquet(index)
    assert idx.count() == 1 and idx.collect()[0]["media_id"] == 1


@_pt.mark.parametrize(
    "point", ["videodedup_index_written", "videodedup_corpus_appended"])
def test_streaming_video_dedup_crash_between_writes_loses_nothing(
        spark, tmp_path, point):
    """r15 ordering sweep, video twin: kill at either durable edge,
    replay, and a later re-cut sharing the landed video's shots is
    still dropped."""
    from tests.test_video_incremental import F1, F2, F3, _vid

    landing = str(tmp_path / "landing")
    corpus = str(tmp_path / "media")
    index = str(tmp_path / "vid_idx")
    schema = "media_id string, media binary"

    def run_once():
        SP.start_streaming_video_dedup(
            spark.readStream.schema(schema).parquet(landing),
            corpus, index, every_k=1, min_jaccard=0.4,
            checkpoint=str(tmp_path / "ckpt"),
        ).awaitTermination(120)

    spark.createDataFrame(
        [("a", _vid(F1, F2, F3))], schema
    ).coalesce(1).write.mode("append").parquet(landing)

    def crash(name: str) -> None:
        if name == point:
            raise RuntimeError(f"injected crash at {name}")

    SP.CRASH_HOOK = crash
    try:
        with _pt.raises(Exception, match="injected crash"):
            run_once()
    finally:
        SP.CRASH_HOOK = None
    run_once()

    # a re-cut of 'a' (2 of 3 shots shared) must still be dropped
    spark.createDataFrame(
        [("b", _vid(F1, F2, "a new closing shot"))], schema
    ).coalesce(1).write.mode("append").parquet(landing)
    run_once()

    got = spark.read.parquet(corpus)
    assert [r["media_id"] for r in got.collect()] == ["a"]
    idx = spark.read.parquet(index)
    assert {r["video_id"] for r in idx.collect()} == {"a"}
    assert idx.groupBy("video_id", "fh").count().filter("count > 1").count() == 0


def test_streaming_near_dedup_crash_replay_respects_bucket_cap(spark, tmp_path):
    """r15 review (reproduced before fixing): on a replay after a crash
    at neardedup_index_written, the survivors' orphan index rows used to
    count on BOTH sides of the LSH bucket cap — a bucket at exactly
    max_bucket_size flipped over the cap, its pairs were skipped, and
    the first attempt's dup docs landed permanently. The probe now
    excludes the batch's own ids from the index side."""
    base = "the quick brown fox jumps over the lazy dog again and again today"
    landing = str(tmp_path / "landing")
    corpus = str(tmp_path / "corpus")
    index = str(tmp_path / "index")

    def run_once():
        SP.start_streaming_near_dedup(
            SP.stream_documents(
                spark, landing, spark.read.parquet(landing).schema
            ),
            corpus, index, num_hashes=16, bands=8,
            max_bucket_size=2,  # docs 1+2 fill their buckets exactly
            checkpoint=str(tmp_path / "ckpt"),
        ).awaitTermination(120)

    spark.createDataFrame(
        [(1, base), (2, base.replace("today", "tomorrow"))],
        "doc_id long, text string",
    ).coalesce(1).write.mode("append").parquet(landing)

    def crash(name: str) -> None:
        if name == "neardedup_index_written":
            raise RuntimeError(f"injected crash at {name}")

    SP.CRASH_HOOK = crash
    try:
        with _pt.raises(Exception, match="injected crash"):
            run_once()
    finally:
        SP.CRASH_HOOK = None
    run_once()
    got = sorted(r["doc_id"] for r in spark.read.parquet(corpus).collect())
    assert got == [1]  # pre-fix the replay double-counted and landed [1, 2]


@_pt.mark.parametrize(
    "point", ["semdedup_decisions_appended", "semdedup_index_appended"])
def test_streaming_semantic_dedup_crash_between_writes_loses_nothing(
        spark, tmp_path, point):
    """r15 ADVICE closure: the SemDeDup sink appends decisions FIRST
    (the sink's output must not be lost to an index-first replay
    guard), so a crash between the two appends used to replay the
    batch and append DUPLICATE decision rows — the documented residual
    pushed dedupe-by-id onto every consumer. The sink now anti-joins
    the (deterministic) recomputed decisions against decisions_path by
    id before appending, so a crash at EITHER durable edge replays to
    exactly one decision row and one index row per id."""

    def _vec(seed, bump=0.0):
        v = [0.0] * 8
        v[seed] = 1.0
        v[(seed + 1) % 8] = bump
        return v

    from data_ingestion_tool_bakasura__spark.operators import dedup as DD

    rows1 = [(1, _vec(0)), (2, _vec(0, 0.03)), (5, _vec(4))]
    rows2 = [(4, _vec(0, 0.05))]  # near-dup of 1: witness must persist
    cents = spark.createDataFrame(
        [(0, _vec(0)), (1, _vec(4))], "c_id long, embedding array<double>"
    )
    landing = str(tmp_path / "landing")
    decisions = str(tmp_path / "decisions")
    index = str(tmp_path / "index")

    def run_once():
        SP.start_streaming_semantic_dedup(
            SP.stream_documents(
                spark, landing, spark.read.parquet(landing).schema
            ),
            cents, decisions, index, eps=0.9,
            checkpoint=str(tmp_path / "ckpt"),
        ).awaitTermination(120)

    spark.createDataFrame(
        rows1, "vec_id long, embedding array<double>"
    ).coalesce(1).write.mode("append").parquet(landing)

    def crash(name: str) -> None:
        if name == point:
            raise RuntimeError(f"injected crash at {name}")

    SP.CRASH_HOOK = crash
    try:
        with _pt.raises(Exception, match="injected crash"):
            run_once()
    finally:
        SP.CRASH_HOOK = None
    run_once()  # replay: decisions reconcile by id, index guard holds

    spark.createDataFrame(
        rows2, "vec_id long, embedding array<double>"
    ).coalesce(1).write.mode("append").parquet(landing)
    run_once()

    dec_df = spark.read.parquet(decisions)
    # exactly ONE decision row per id (pre-fix: the decisions-edge
    # crash replayed wave 1's three rows twice)
    per_id = {r["vec_id"]: r["count"]
              for r in dec_df.groupBy("vec_id").count().collect()}
    assert per_id == {1: 1, 2: 1, 4: 1, 5: 1}
    # decisions equal the batch oracle on the full arrival set
    all_rows = spark.createDataFrame(
        rows1 + rows2, "vec_id long, embedding array<double>"
    )
    batch = {r["vec_id"]: r.asDict()
             for r in DD.semantic_dedup(all_rows, cents, eps=0.9).collect()}
    got = {r["vec_id"]: r.asDict() for r in dec_df.collect()}
    assert got == batch
    assert batch[4]["is_dup"]  # wave-2 near-dup caught via persisted witness
    # index holds every seen vector exactly once
    idx = spark.read.parquet(index)
    assert idx.count() == 4
    assert {r["vec_id"] for r in idx.collect()} == {1, 2, 4, 5}


@_pt.mark.parametrize(
    "point", ["spandedup_cleaned_appended", "spandedup_index_appended"])
def test_streaming_span_dedup_crash_between_writes_loses_nothing(
        spark, tmp_path, point):
    """The span sink appends cleaned rows FIRST (its gram index is
    id-less, so an index-first replay would cut every span against its
    own grams). A crash at either edge replays to exactly one cleaned
    row per doc with no self-cut. The documented residual is pinned
    too: after a crash at the cleaned edge the replayed batch is empty,
    so its novel grams never reach the index and a later doc repeating
    them is not cut; after a crash at the index edge nothing is lost."""
    run = "s1 s2 s3 s4 s5"
    wave1 = [(1, f"head {run} tail"), (2, "nothing shared at all here")]
    wave2 = [(3, f"pre {run} post")]
    landing = str(tmp_path / "landing")
    cleaned = str(tmp_path / "cleaned")
    index = str(tmp_path / "index")

    def land(rows):
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(1)\
            .write.mode("append").parquet(landing)

    def run_once():
        SP.start_streaming_span_dedup(
            SP.stream_documents(spark, landing, spark.read.parquet(landing).schema),
            cleaned, index, n=5, checkpoint=str(tmp_path / "ckpt"),
        ).awaitTermination(120)

    def crash(name: str) -> None:
        if name == point:
            raise RuntimeError(f"injected crash at {name}")

    land(wave1)
    SP.CRASH_HOOK = crash
    try:
        with _pt.raises(Exception, match="injected crash"):
            run_once()
    finally:
        SP.CRASH_HOOK = None
    run_once()  # replay: the cleaned-table guard empties the batch
    land(wave2)
    run_once()

    out = spark.read.parquet(cleaned)
    per_id = {r["doc_id"]: r["count"] for r in out.groupBy("doc_id").count().collect()}
    assert per_id == {1: 1, 2: 1, 3: 1}
    got = {r["doc_id"]: r["cleaned"] for r in out.collect()}
    assert got[1] == f"head {run} tail"  # never cut against its own grams
    assert got[2] == "nothing shared at all here"
    if point == "spandedup_cleaned_appended":
        assert got[3] == f"pre {run} post"  # wave 1's grams were never indexed
    else:
        assert got[3] == "pre post"
    idx = spark.read.parquet(index)
    assert idx.count() == idx.distinct().count()
