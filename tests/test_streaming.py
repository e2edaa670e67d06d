"""Streaming ingestion: availableNow drain must equal the batch operators."""

from reden_spark import schemas
from reden_spark.operators.mentions import detect_mentions
from reden_spark.streaming.ingest import run_available_now, stream_mentions, stream_transcripts


def test_stream_mentions_equals_batch(spark, tables, fixture_dir, tmp_path):
    import shutil

    src_dir = tmp_path / "stream_in"  # file streams read directories
    src_dir.mkdir()
    shutil.copy(fixture_dir / "transcripts.parquet", src_dir / "part-0.parquet")
    stream = stream_transcripts(spark, str(src_dir), schemas.TRANSCRIPTS)
    assert stream.isStreaming
    out = str(tmp_path / "stream_out")
    ckpt = str(tmp_path / "ckpt")
    run_available_now(stream_mentions(stream, tables["mention_terms"]), out, ckpt)

    got = {
        (r.conv_id, r.turn_idx, r.mention, r.start_pos)
        for r in spark.read.parquet(out).collect()
    }
    want = {
        (r.conv_id, r.turn_idx, r.mention, r.start_pos)
        for r in detect_mentions(tables["transcripts"], tables["mention_terms"]).collect()
    }
    assert got == want and len(got) > 50


def test_mention_rate_windowed_agg(spark, tables, fixture_dir, tmp_path):
    """Watermarked sliding-window mention counts: complete-mode drain must equal
    the equivalent batch window aggregation."""
    import shutil

    from pyspark.sql import functions as F

    from reden_spark.operators.mentions import detect_mentions
    from reden_spark.streaming.ingest import mention_rate

    src_dir = tmp_path / "rate_in"
    src_dir.mkdir()
    shutil.copy(fixture_dir / "transcripts.parquet", src_dir / "part-0.parquet")
    stream = stream_transcripts(spark, str(src_dir), schemas.TRANSCRIPTS)
    q = (
        mention_rate(stream_mentions(stream, tables["mention_terms"]))
        .writeStream.format("memory")
        .queryName("mrate")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.window.start, r.window.end, r.mention, r["count"])
        for r in spark.sql("SELECT * FROM mrate").collect()
    }
    want = {
        (r.window.start, r.window.end, r.mention, r["count"])
        for r in detect_mentions(tables["transcripts"], tables["mention_terms"])
        .join(tables["transcripts"].select("conv_id", "turn_idx", "ts"), ["conv_id", "turn_idx"])
        .groupBy(F.window("ts", "10 minutes", "5 minutes"), "mention")
        .count()
        .collect()
    }
    assert got == want and len(got) > 20


def test_conversation_progress_stateful(spark, tables, fixture_dir, tmp_path):
    """applyInPandasWithState counters after one availableNow batch must equal
    the batch aggregation over the same mentions (NoTimeout mode: AvailableNow
    terminates once the data is drained)."""
    import shutil

    from pyspark.sql import functions as F

    from reden_spark.streaming.ingest import conversation_progress

    src_dir = tmp_path / "stateful_in"
    src_dir.mkdir()
    shutil.copy(fixture_dir / "transcripts.parquet", src_dir / "part-0.parquet")
    stream = stream_transcripts(spark, str(src_dir), schemas.TRANSCRIPTS)
    mentions = stream_mentions(stream, tables["mention_terms"])
    out = str(tmp_path / "stateful_out")
    ckpt = str(tmp_path / "stateful_ckpt")
    run_available_now(conversation_progress(mentions), out, ckpt)

    got = {
        (r.conv_id, r.n_mentions, r.n_turns, r.max_turn_idx)
        for r in spark.read.parquet(out).filter(~F.col("closed")).collect()
    }
    want = {
        (r.conv_id, r.n_mentions, r.n_turns, r.max_turn_idx)
        for r in detect_mentions(tables["transcripts"], tables["mention_terms"])
        .groupBy("conv_id")
        .agg(
            F.count("*").alias("n_mentions"),
            F.countDistinct("turn_idx").alias("n_turns"),
            F.max("turn_idx").alias("max_turn_idx"),
        )
        .collect()
    }
    assert got == want and len(got) > 5


def test_conversation_progress_event_time_closing(spark, tables, fixture_dir, tmp_path):
    """EventTimeTimeout variant: conversations idle for `gap` of EVENT time are
    closed with their final counters and evicted; the newest conversation (last
    mention within gap of the final watermark) stays open. AvailableNow
    terminates — event-time timeouts fire only while the watermark advances,
    unlike the ProcessingTimeTimeout re-arm that hung round 1."""
    import shutil

    from pyspark.sql import functions as F

    from reden_spark.streaming.ingest import conversation_progress_event_time

    src_dir = tmp_path / "et_in"
    src_dir.mkdir()
    shutil.copy(fixture_dir / "transcripts.parquet", src_dir / "part-0.parquet")
    stream = stream_transcripts(spark, str(src_dir), schemas.TRANSCRIPTS)
    mentions = stream_mentions(stream, tables["mention_terms"])
    out = str(tmp_path / "et_out")
    ckpt = str(tmp_path / "et_ckpt")
    run_available_now(conversation_progress_event_time(mentions), out, ckpt)

    batch = (
        detect_mentions(tables["transcripts"], tables["mention_terms"])
        .groupBy("conv_id")
        .agg(
            F.count("*").alias("n_mentions"),
            F.countDistinct("turn_idx").alias("n_turns"),
            F.max("turn_idx").alias("max_turn_idx"),
        )
        .collect()
    )
    want = {r.conv_id: (r.n_mentions, r.n_turns, r.max_turn_idx) for r in batch}

    res = spark.read.parquet(out)
    closed = {
        r.conv_id: (r.n_mentions, r.n_turns, r.max_turn_idx)
        for r in res.filter("closed").collect()
    }
    open_rows = {r.conv_id for r in res.filter("NOT closed").collect()}
    # every mention-bearing conversation emitted an open progress row
    assert open_rows == set(want)
    # all but the newest conversation (max conv index = latest event day in the
    # datagen layout) closed with exactly the batch-final counters
    newest = max(want)
    assert set(closed) == set(want) - {newest}
    for cid, counters in closed.items():
        assert counters == want[cid], cid


def test_stream_candidates_equals_batch(spark, tables, fixture_dir, tmp_path):
    """Streaming candidate generation must be batch-faithful at occurrence
    grain: inner join (no phantom uris=NULL rows), deterministic group_idx
    (oracle D1), start_pos preserved so compaction can assign occ_idx."""
    import shutil

    from pyspark.sql import functions as F

    from reden_spark.operators.candidates import generate_candidates
    from reden_spark.streaming.ingest import stream_candidates

    src_dir = tmp_path / "cand_in"
    src_dir.mkdir()
    shutil.copy(fixture_dir / "transcripts.parquet", src_dir / "part-0.parquet")
    stream = stream_transcripts(spark, str(src_dir), schemas.TRANSCRIPTS)
    out = str(tmp_path / "cand_out")
    ckpt = str(tmp_path / "cand_ckpt")
    run_available_now(
        stream_candidates(stream_mentions(stream, tables["mention_terms"]), tables["dico"]),
        out, ckpt,
    )

    got = {
        (r.conv_id, r.turn_idx, r.mention, r.start_pos, r.group_idx, tuple(r.uris))
        for r in spark.read.parquet(out).collect()
    }
    assert all(u for *_, u in got)  # inner join: no NULL/empty uris rows
    # expected: batch detection x batch candidate groups at occurrence grain
    mentions = detect_mentions(tables["transcripts"], tables["mention_terms"])
    cands = generate_candidates(mentions, tables["dico"])
    want = {
        (r.conv_id, r.turn_idx, r.mention, r.start_pos, r.group_idx, tuple(r.uris))
        for r in mentions.join(cands, ["conv_id", "mention"]).collect()
    }
    assert got == want and len(got) > 50


def test_sessionized_streaming_links_equal_batch(spark, tables, fixture_dir, tmp_path):
    """Streaming sessionized disambiguation (the round-3 forward path): a
    drained stream's per-closed-session links must equal the batch pipeline's
    links for every conversation the watermark closed (all but the newest —
    datagen places each conversation on its own event day)."""
    import shutil

    from reden_spark import datagen
    from reden_spark.operators.candidates import conversation_cases, generate_candidates
    from reden_spark.operators.disambiguate import NELConfig
    from reden_spark.operators.grouped import disambiguate_grouped
    from reden_spark.streaming.ingest import closed_conversation_mentions, run_sessionized_links

    cfg = NELConfig(base_prefix=datagen.BASE_PREFIX, preferred_uri=datagen.BASE_PREFIX)
    src_dir = tmp_path / "sess_in"
    src_dir.mkdir()
    shutil.copy(fixture_dir / "transcripts.parquet", src_dir / "part-0.parquet")
    stream = stream_transcripts(spark, str(src_dir), schemas.TRANSCRIPTS)
    mentions_stream = stream_mentions(stream, tables["mention_terms"])
    out = str(tmp_path / "sess_links")
    run_sessionized_links(
        closed_conversation_mentions(mentions_stream),
        tables["dico"],
        tables["kb_edges"],
        tables["rel_weights"],
        cfg,
        out,
        str(tmp_path / "sess_ckpt"),
    )

    mentions = detect_mentions(tables["transcripts"], tables["mention_terms"])
    candidates = generate_candidates(mentions, tables["dico"])
    cases = conversation_cases(mentions, candidates)
    batch_links = disambiguate_grouped(
        mentions, candidates, tables["kb_edges"], tables["rel_weights"], cases, cfg
    )
    key = lambda r: (r.conv_id, r.turn_idx, r.occ_idx, r.mention)  # noqa: E731
    want = {key(r): (r.chosen_uris, r.path) for r in batch_links.collect()}
    got = {key(r): (r.chosen_uris, r.path) for r in spark.read.parquet(out).collect()}
    newest = max(r.conv_id for r in batch_links.select("conv_id").distinct().collect())
    closed_want = {k: v for k, v in want.items() if k[0] != newest}
    assert set(got) == set(closed_want)
    assert got == closed_want
    assert len(got) > 50


def test_stream_dedup_exact_first_arrival_wins(spark, tmp_path):
    """Drained stream keeps exactly one row per content key (the first
    arrival), with duplicate copies planted both within and across files;
    survivor set per key equals the batch exact_dedup key set."""
    from pyspark.sql import functions as F

    from reden_spark.streaming.ingest import run_available_now, stream_dedup_exact

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(50)
    base = docs.select(
        "doc_id", "text", F.to_timestamp(F.lit("2026-01-01 00:00:00")).alias("ts")
    )
    dupes = docs.limit(10).select(
        (F.col("doc_id") + 10_000).alias("doc_id"),
        "text",
        F.to_timestamp(F.lit("2026-01-01 00:10:00")).alias("ts"),
    )
    import shutil

    src = tmp_path / "docs_in"
    src.mkdir()
    # one flat file with originals, a second carrying the duplicate copies
    # (the file stream reads flat files, not nested part-dirs)
    for name, frame in (("f0", base), ("f1", dupes)):
        frame.coalesce(1).write.parquet(str(tmp_path / f"w_{name}"))
        part = next((tmp_path / f"w_{name}").glob("part-*.parquet"))
        shutil.copy(part, src / f"{name}.parquet")

    stream = spark.readStream.schema("doc_id long, text string, ts timestamp").parquet(str(src))
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    run_available_now(stream_dedup_exact(stream), out, ckpt)
    got = spark.read.parquet(out).collect()

    from reden_spark.operators.dedup import norm_text

    keys_in = {r[0] for r in base.unionByName(dupes).select(F.md5(norm_text(F.col("text")))).collect()}
    assert len(got) == len(keys_in)  # one survivor per distinct content key
    assert {r["content_key"] for r in got} == keys_in
    assert all(r["doc_id"] < 10_000 for r in got)  # first arrival (original) wins


def test_stream_redact_pii_equals_batch(spark, tmp_path):
    """PII redaction is a stateless codegen projection, so it runs unchanged on
    a stream: an availableNow drain must equal the batch operator row-for-row
    (with real PII planted so the redaction actually fires)."""
    import shutil

    from pyspark.sql import functions as F

    from reden_spark.operators.textstats import redact_pii
    from reden_spark.streaming.ingest import run_available_now

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(50)
    base = docs.select(
        "doc_id",
        F.concat(
            "text", F.lit(" mail a.b@x.io or ring +1 555 010 7788 from 192.168.0.1")
        ).alias("text"),
    )
    src = tmp_path / "pii_in"
    src.mkdir()
    base.coalesce(1).write.parquet(str(tmp_path / "w_pii"))
    part = next((tmp_path / "w_pii").glob("part-*.parquet"))
    shutil.copy(part, src / "f0.parquet")

    stream = spark.readStream.schema("doc_id long, text string").parquet(str(src))
    out, ckpt = str(tmp_path / "out_pii"), str(tmp_path / "ckpt_pii")
    run_available_now(redact_pii(stream), out, ckpt)

    got = sorted(map(tuple, spark.read.parquet(out).collect()))
    want = sorted(map(tuple, redact_pii(base).collect()))
    assert got == want
    assert all(r[1] >= 1 and r[2] >= 1 and r[3] >= 1 for r in want)  # email/ip/phone all fired
