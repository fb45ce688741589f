"""Structured Streaming pipeline + multimodal column plumbing."""

import json
import time

from pyspark.sql import functions as F

from social_link_prediction_spark.pipelines import multimodal as mm
from social_link_prediction_spark.streaming import events as se


def _write_event_files(tmp_path, n_files=2, per_file=5):
    for f in range(n_files):
        lines = []
        for i in range(per_file):
            eid = f * per_file + i
            lines.append(json.dumps({
                "event_id": eid,
                "ts": f"2024-01-01T0{f}:0{i}:00.000Z",
                "user_id": eid % 3,
                "event_type": "click" if eid % 2 else "view",
                "value": float(10 * eid),
                "props": "{}",
            }))
        (tmp_path / f"batch{f}.json").write_text("\n".join(lines))


def test_stream_windowed_counts(spark, tmp_path):
    _write_event_files(tmp_path)
    stream = se.read_event_stream(spark, str(tmp_path))
    assert stream.isStreaming
    agg = se.windowed_event_counts(stream, window="1 hour")
    q = se.run_to_memory_sink(agg, "win_counts")
    q.awaitTermination(60)
    out = spark.sql("select * from win_counts").collect()
    assert len(out) == 4  # 2 hours x 2 event types
    total = sum(r.n_events for r in out)
    assert total == 10


def test_stream_batch_parity(spark, tmp_path):
    """The same transformation body must produce identical results on
    batch and streaming inputs (Structured Streaming's core contract)."""
    _write_event_files(tmp_path)
    batch = spark.read.schema(se.EVENT_SCHEMA).json(str(tmp_path))
    batch_out = {
        (r.window_start, r.event_type): r.n_events
        for r in se.windowed_event_counts(batch).collect()
    }
    stream = se.read_event_stream(spark, str(tmp_path))
    q = se.run_to_memory_sink(se.windowed_event_counts(stream), "parity")
    q.awaitTermination(60)
    stream_out = {
        (r.window_start, r.event_type): r.n_events
        for r in spark.sql("select * from parity").collect()
    }
    assert batch_out == stream_out


def test_high_value_alerts_batch(spark, tmp_path):
    _write_event_files(tmp_path)
    batch = spark.read.schema(se.EVENT_SCHEMA).json(str(tmp_path))
    out = se.high_value_alerts(batch, threshold=50.0)
    assert out.count() == 4  # values 60,70,80,90


def _media_df(spark):
    rows = [
        (1, "image", "image/png", 800, 600, None, b"img-bytes-1"),
        (2, "image", "image/png", 100, 50, None, b"img-bytes-2"),
        (3, "video", "video/mp4", 1920, 1080, 3500, b"vid-bytes"),
        (4, "image", "image/png", 800, 600, None, b"img-bytes-1"),  # dup content
    ]
    return spark.createDataFrame(rows, schema=mm.MEDIA_SCHEMA)


def test_content_hash_dedup(spark):
    df = mm.content_hash(_media_df(spark))
    groups = df.groupBy("content_hash").count().filter("count > 1").collect()
    assert len(groups) == 1 and groups[0]["count"] == 2


def test_extract_features_stub(spark):
    out = mm.extract_features(_media_df(spark), fake=True)
    rows = {r.media_id: r for r in out.collect()}
    assert "content" not in out.columns
    assert len(rows[1].features) == mm.FEATURE_DIM
    assert rows[1].features == rows[4].features  # same bytes -> same features
    assert rows[1].features != rows[2].features


def _checker_rows(w, h):
    """Checkerboard RGB pixel rows: black/white 1-px squares."""
    return [
        [(255, 255, 255) if (x + y) % 2 else (0, 0, 0) for x in range(w)]
        for y in range(h)
    ]


def test_extract_features_real_png_decode(spark):
    """fake=False decodes a real PNG (in-test generated; pure-stdlib
    path since PIL is optional): an all-grey image pools to 16 cells
    of that grey level."""
    from social_link_prediction_spark.pipelines import imagecodec as ic

    grey = [[(128, 128, 128)] * 8 for _ in range(8)]
    png = ic.encode_png_rgb(grey)
    df = spark.createDataFrame(
        [(1, "image", "image/png", 8, 8, None, png)], schema=mm.MEDIA_SCHEMA
    )
    out = mm.extract_features(df, fake=False).collect()
    assert len(out) == 1
    feats = out[0].features
    assert len(feats) == mm.FEATURE_DIM
    assert all(abs(f - 128 / 255) < 1e-6 for f in feats)


def test_extract_features_real_video_rejects_garbage(spark):
    import pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PythonException

    df = spark.createDataFrame(
        [(3, "video", "video/mp4", 1920, 1080, 3500, b"vid-bytes")],
        schema=mm.MEDIA_SCHEMA,
    )
    # the real AVI decoder fails loudly on non-RIFF bytes; Spark
    # surfaces the worker's ValueError as a PythonException
    with pytest.raises((PythonException, Py4JJavaError), match="RIFF"):
        mm.extract_features(df, fake=False).collect()
    # unknown kinds stay an honest NotImplementedError
    df2 = spark.createDataFrame(
        [(4, "hologram", "x/y", 0, 0, 0, b"zz")], schema=mm.MEDIA_SCHEMA
    )
    with pytest.raises((PythonException, Py4JJavaError), match="NotImplementedError"):
        mm.extract_features(df2, fake=False).collect()


def test_avi_codec_roundtrip_and_features(spark):
    """synth_avi -> _real_decode_video round-trip: pooled features
    match the closed-form pixel arithmetic exactly (integer-exact
    accumulation), and the Spark mapInPandas path agrees."""
    import struct

    b = mm.synth_avi(seed=5, n_frames=3, width=8, height=8)
    assert b[:4] == b"RIFF" and b[8:12] == b"AVI "
    feats = mm._real_decode_video(b)
    assert len(feats) == mm.FEATURE_DIM
    sums = [0.0] * 16
    counts = [0] * 16
    for f in range(3):
        for y in range(8):
            for x in range(8):
                g = (5 * 7 + f * 31 + y * 13 + x * 5) % 256
                cell = (y // 2) * 4 + (x // 2)
                sums[cell] += g
                counts[cell] += 1
    exp = [s / c / 255.0 for s, c in zip(sums, counts)]
    assert feats == exp  # bit-exact, not approximate
    # non-square dims exercise row stride padding (9*3=27 -> stride 28)
    feats2 = mm._real_decode_video(mm.synth_avi(seed=1, n_frames=2, width=9, height=5))
    assert len(feats2) == mm.FEATURE_DIM and all(0.0 <= v <= 1.0 for v in feats2)
    # through the Arrow stage
    df = spark.createDataFrame(
        [(7, "video", bytearray(mm.synth_avi(seed=7, n_frames=2)))],
        "media_id long, kind string, content binary",
    )
    row = mm.extract_features(df, fake=False).collect()[0]
    expect = mm._real_decode_video(mm.synth_avi(seed=7, n_frames=2))
    assert [round(v, 5) for v in row.features] == [round(v, 5) for v in expect]
    # truncated stream (header only) fails loudly
    import pytest as _pytest

    with _pytest.raises(ValueError):
        mm._real_decode_video(b[:12])


def test_png_codec_roundtrip_and_filters():
    """Decoder reconstructs exact pixels from the filter-0 encoder, and
    unfilters Sub/Up/Average/Paeth scanlines (hand-built IDAT)."""
    import struct
    import zlib

    from social_link_prediction_spark.pipelines import imagecodec as ic

    rows = _checker_rows(5, 3)
    w, h, got = ic.decode_png(ic.encode_png_rgb(rows))
    assert (w, h) == (5, 3)
    assert got == rows

    # hand-filter a 2x2 RGB image with each filter type and check the
    # decoder inverts it: raw pixels row0=(10,20,30),(40,50,60)
    #                      row1=(70,80,90),(15,25,35)
    r0 = [10, 20, 30, 40, 50, 60]
    r1 = [70, 80, 90, 15, 25, 35]
    # row0 Sub filter: out[i] = raw[i] - raw[i-3] (0 for i<3)
    f0 = [1] + r0[:3] + [(r0[i] - r0[i - 3]) & 0xFF for i in range(3, 6)]
    # row1 Up filter: out[i] = raw[i] - prev_raw[i]
    f1 = [2] + [(r1[i] - r0[i]) & 0xFF for i in range(6)]
    raw = bytes(f0 + f1)

    def chunk(ctype, body):
        return (
            struct.pack(">I", len(body)) + ctype + body
            + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
        )

    png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    w, h, px = ic.decode_png(png)
    assert (w, h) == (2, 2)
    assert px == [[(10, 20, 30), (40, 50, 60)], [(70, 80, 90), (15, 25, 35)]]


def test_resize_plan(spark):
    out = {r.media_id: r for r in mm.resize_plan(_media_df(spark), max_side=400).collect()}
    assert out[1].out_width == 400 and out[1].out_height == 300
    assert out[2].scale == 1.0  # already small


def test_frame_sample_plan(spark):
    out = mm.frame_sample_plan(_media_df(spark), every_ms=1000).collect()
    assert [r.frame_ts_ms for r in out] == [0, 1000, 2000, 3000]


def test_stateful_user_sessions_stream(spark, tmp_path):
    """applyInPandasWithState: per-user running session accumulator."""
    _write_event_files(tmp_path, n_files=2, per_file=5)
    stream = se.read_event_stream(spark, str(tmp_path))
    sess = se.stateful_user_sessions(stream, gap_seconds=3600)
    q = se.run_to_memory_sink(sess, "sessions", mode="append")
    # The pending processing-time timeouts keep the query running
    # no-data batches ("cleaning up state") forever, so neither
    # awaitTermination() nor processAllAvailable() returns. A batch's
    # progress is reported after its sink commit: stop once the
    # progress log accounts for all 10 input rows.
    deadline = time.monotonic() + 120
    while sum(p["numInputRows"] for p in q.recentProgress) < 10:
        assert time.monotonic() < deadline, "stream did not process its input"
        time.sleep(0.2)
    q.stop()
    out = spark.sql("select * from sessions").collect()
    assert out, "stateful operator emitted nothing"
    # last update per user carries the cumulative totals: 10 events,
    # users 0/1/2 -> event counts 4/3/3, value = 10 * sum(event_ids)
    latest = {}
    for r in out:
        latest[r.user_id] = (r.n_events, r.total_value)
    assert sum(n for n, _ in latest.values()) == 10
    assert sum(v for _, v in latest.values()) == 10.0 * sum(range(10))


def _write_dup_event_files(tmp_path):
    """Two micro-batch files where batch1 redelivers two events of batch0."""
    rows = [
        (0, "2024-01-01T00:00:00.000Z"), (1, "2024-01-01T00:05:00.000Z"),
        (2, "2024-01-01T00:10:00.000Z"),
    ]
    redelivered = [
        (1, "2024-01-01T00:05:00.000Z"), (2, "2024-01-01T00:10:00.000Z"),
        (3, "2024-01-01T00:15:00.000Z"),
    ]
    for fname, batch in (("b0.json", rows), ("b1.json", redelivered)):
        lines = [
            json.dumps({
                "event_id": eid, "ts": ts, "user_id": eid % 2,
                "event_type": "click", "value": float(eid), "props": "{}",
            })
            for eid, ts in batch
        ]
        (tmp_path / fname).write_text("\n".join(lines))


def test_dedup_event_stream(spark, tmp_path):
    """Redelivered event_ids are dropped; state bounded by watermark."""
    _write_dup_event_files(tmp_path)
    stream = se.read_event_stream(spark, str(tmp_path))
    deduped = se.dedup_event_stream(stream, watermark="1 hour")
    q = (
        deduped.writeStream.format("memory").queryName("dedup_stream")
        .outputMode("append").option("maxFilesPerTrigger", 1)
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    out = spark.sql("select event_id from dedup_stream").collect()
    assert sorted(r.event_id for r in out) == [0, 1, 2, 3]


def test_dedup_event_stream_batch_parity(spark, tmp_path):
    _write_dup_event_files(tmp_path)
    batch = spark.read.schema(se.EVENT_SCHEMA).json(str(tmp_path))
    out = se.dedup_event_stream(batch)
    assert sorted(r.event_id for r in out.collect()) == [0, 1, 2, 3]


def test_enrich_with_dimension_stream(spark, tmp_path):
    _write_event_files(tmp_path, n_files=1, per_file=5)
    dim = spark.createDataFrame(
        [(0, "alpha"), (1, "beta"), (2, "gamma")], ["user_id", "segment"]
    )
    stream = se.read_event_stream(spark, str(tmp_path))
    q = se.run_to_memory_sink(
        se.enrich_with_dimension(stream, dim), "enriched", mode="append"
    )
    q.awaitTermination(60)
    out = spark.sql("select * from enriched").collect()
    assert len(out) == 5
    assert all(r.segment in {"alpha", "beta", "gamma"} for r in out)


def test_sliding_event_rates_stream(spark, tmp_path):
    _write_event_files(tmp_path)
    stream = se.read_event_stream(spark, str(tmp_path))
    q = se.run_to_memory_sink(se.sliding_event_rates(stream), "sliding_rates")
    q.awaitTermination(60)
    q.stop()
    out = spark.sql("select * from sliding_rates").collect()
    # every event lands in window/slide = 4 overlapping windows
    assert sum(r.n_events for r in out) == 40
    batch = spark.read.schema(se.EVENT_SCHEMA).json(str(tmp_path))
    batch_out = se.sliding_event_rates(batch).collect()
    key = lambda rows: sorted(
        (r.window_start, r.event_type, r.n_events, r.total_value) for r in rows
    )
    assert key(out) == key(batch_out)


def test_correlate_streams_stream(spark, tmp_path):
    import json as _json

    clicks, purchases = [], []
    for i in range(4):
        clicks.append(_json.dumps({
            "event_id": i, "ts": f"2024-01-01T00:0{i}:00.000Z", "user_id": i % 2,
            "event_type": "click", "value": 1.0, "props": "{}",
        }))
        purchases.append(_json.dumps({
            "event_id": 100 + i, "ts": f"2024-01-01T00:1{i}:00.000Z", "user_id": i % 2,
            "event_type": "purchase", "value": 5.0, "props": "{}",
        }))
    (tmp_path / "clicks").mkdir()
    (tmp_path / "purchases").mkdir()
    (tmp_path / "clicks" / "c.json").write_text("\n".join(clicks))
    (tmp_path / "purchases" / "p.json").write_text("\n".join(purchases))

    cs = se.read_event_stream(spark, str(tmp_path / "clicks"))
    ps = se.read_event_stream(spark, str(tmp_path / "purchases"))
    joined = se.correlate_streams(cs, ps, join_window_seconds=3600)
    q = se.run_to_memory_sink(joined, "attribution", mode="append")
    q.awaitTermination(60)
    q.stop()
    out = spark.sql("select * from attribution").collect()
    # user 0: clicks {0,2} x purchases {100,102}; user 1: {1,3} x {101,103}
    assert len(out) == 8
    assert all(r.purchase_ts >= r.click_ts for r in out)


def test_session_window_stream_batch_parity(spark, tmp_path):
    """Native session windows: same sessions from batch and streaming
    runs of the identical expression body."""
    _write_event_files(tmp_path)
    batch = spark.read.schema(se.EVENT_SCHEMA).json(str(tmp_path))
    batch_out = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in se.session_window_stats(batch, gap="10 minutes").collect()
    }
    assert batch_out  # events 5 min apart per file -> real sessions form
    stream = se.read_event_stream(spark, str(tmp_path))
    q = se.run_to_memory_sink(
        se.session_window_stats(stream, gap="10 minutes"), "sess_parity"
    )
    q.awaitTermination(60)
    stream_out = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in spark.sql("select * from sess_parity").collect()
    }
    assert batch_out == stream_out


def test_streaming_ingest_end_to_end(spark, tmp_path):
    """Continuous ETL: envelope files land -> stream cleans/appends ->
    batch compaction dedups. New files are picked up exactly once."""
    from social_link_prediction_spark.pipelines import transformer as tr
    from social_link_prediction_spark.streaming import ingest as ing

    landing = tmp_path / "landing"
    landing.mkdir()

    def envelope(rows):
        return json.dumps(
            {"head": {"vars": ["person", "personLabel", "relationshipLabel", "object", "objectLabel"]},
             "results": {"bindings": rows}}
        )

    def binding(p, rel, o):
        return {
            "person": {"value": f"http://www.wikidata.org/entity/{p}"},
            "personLabel": {"value": f"name {p}"},
            "relationshipLabel": {"value": rel},
            "object": {"value": f"http://www.wikidata.org/entity/{o}"},
            "objectLabel": {"value": f"name {o}"},
        }

    (landing / "raw_data_spouse_a.json").write_text(
        envelope([binding("Q1", "spouse", "Q2"), binding("Q2", "spouse", "Q1"),
                  binding("bogus", "spouse", "Q3")])
    )
    schema = ing.envelope_schema(spark, str(landing / "raw_data_spouse_a.json"))

    out = tmp_path / "edges_raw"
    cp = tmp_path / "cp"
    stream = ing.stream_raw_bindings(spark, str(landing), schema)
    assert stream.isStreaming
    q = ing.start_ingest(stream, str(out), str(cp))
    q.awaitTermination(60)

    appended = spark.read.parquet(str(out))
    # bogus person filtered by the Q-ID validity stage; both orientations kept
    assert appended.count() == 2

    # second landing file: replays nothing, appends only the new rows
    (landing / "raw_data_spouse_b.json").write_text(
        envelope([binding("Q5", "spouse", "Q6")])
    )
    q2 = ing.start_ingest(ing.stream_raw_bindings(spark, str(landing), schema), str(out), str(cp))
    q2.awaitTermination(60)
    appended2 = spark.read.parquet(str(out))
    assert appended2.count() == 3

    # batch compaction: D5 canonicalization collapses the reverse pair
    compacted = tr.build_edges(appended2)
    assert compacted.count() == 2


def test_pii_scrub_stream_batch_parity(spark, tmp_path):
    """scrub_pii and quality_filter are stateless projections, so the
    same body runs unchanged on a readStream source (the streaming
    ETL path scrubs before anything lands in the lake)."""
    import json as _json

    from social_link_prediction_spark.pipelines import text as ptx

    docs = [
        {"doc_id": 1, "text": "mail a@b.org and 10.0.0.1 plus " + "tok " * 20},
        {"doc_id": 2, "text": "ssn 123-45-6789 tel 555-123-4567"},
        {"doc_id": 3, "text": " ".join("w%d" % i for i in range(30))},
    ]
    p = tmp_path / "docs"
    p.mkdir()
    (p / "part0.json").write_text("\n".join(_json.dumps(d) for d in docs))
    schema = "doc_id long, text string"

    batch = spark.read.schema(schema).json(str(p))
    b_out = {
        r.doc_id: (r.n_email, r.n_ssn, r.n_phone, r.n_ipv4, r.text_scrubbed)
        for r in ptx.scrub_pii(batch).collect()
    }
    b_keep = {r.doc_id: r.keep for r in ptx.quality_filter(batch).collect()}

    stream = spark.readStream.schema(schema).json(str(p))
    scrubbed = ptx.quality_filter(
        ptx.scrub_pii(stream).drop("text").withColumnRenamed("text_scrubbed", "text")
    )
    q = (
        scrubbed.writeStream.format("memory")
        .queryName("pii_parity")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    s_rows = {r.doc_id: r for r in spark.sql("select * from pii_parity").collect()}
    assert set(s_rows) == {1, 2, 3}
    for d, (ne, ns, np_, ni, txt) in b_out.items():
        r = s_rows[d]
        assert (r.n_email, r.n_ssn, r.n_phone, r.n_ipv4) == (ne, ns, np_, ni)
        assert r.text == txt
    # quality verdict on the scrubbed stream matches batch keep for the
    # docs whose stats the scrub doesn't change
    assert s_rows[3].keep == b_keep[3] == 1


def test_streaming_curation_end_to_end(spark, tmp_path):
    """Landing-zone JSONL -> quality gate -> scrub -> watermarked
    exact dedup -> parquet append, exactly-once; duplicates and
    low-quality docs never land."""
    import datetime as _dt
    import json as _json

    from social_link_prediction_spark.streaming import curation as cur

    t0 = _dt.datetime(2024, 1, 1, 12, 0, 0)
    good = " ".join("w%d" % i for i in range(30))
    docs = [
        {"doc_id": 1, "text": good + " mail a@b.org", "lang": "en",
         "source": "s0", "event_ts": t0.isoformat()},
        # exact duplicate after scrubbing (same text, same email)
        {"doc_id": 2, "text": good + " mail a@b.org", "lang": "en",
         "source": "s1", "event_ts": (t0 + _dt.timedelta(minutes=5)).isoformat()},
        # DIFFERENT pii, same scrubbed text -> also a duplicate
        {"doc_id": 3, "text": good + " mail z@y.org", "lang": "en",
         "source": "s2", "event_ts": (t0 + _dt.timedelta(minutes=10)).isoformat()},
        # too short -> gated out
        {"doc_id": 4, "text": "tiny", "lang": "en", "source": "s3",
         "event_ts": t0.isoformat()},
        # distinct survivor
        {"doc_id": 5, "text": good + " extra tail tokens", "lang": "en",
         "source": "s4", "event_ts": t0.isoformat()},
    ]
    landing = tmp_path / "landing"; landing.mkdir()
    (landing / "drop0.json").write_text("\n".join(_json.dumps(d) for d in docs))

    q = cur.start_curation(
        spark, str(landing), str(tmp_path / "out"), str(tmp_path / "ckpt")
    )
    q.awaitTermination(90)
    out = spark.read.parquet(str(tmp_path / "out"))
    rows = {r.doc_id: r for r in out.collect()}
    # one representative of the {1,2,3} scrub-identical group; 4 gated; 5 kept
    assert len(set(rows) & {1, 2, 3}) == 1
    assert 4 not in rows
    assert 5 in rows
    surv = rows[min(set(rows) & {1, 2, 3})]
    assert "<EMAIL>" in surv.text_scrubbed and "@" not in surv.text_scrubbed.replace("<EMAIL>", "")
    assert surv.n_email == 1
    # batch path of the same call gives the same survivor count
    batch = spark.read.schema(cur.DOC_SCHEMA).json(str(landing))
    assert cur.curate_stream(batch).count() == len(rows)


def test_trending_topk_stream_parity(spark, tmp_path):
    # Stateful stage (watermarked window counts) runs as the stream;
    # the rank-k cut runs over the sink table (the foreachBatch shape).
    # Batch trending_topk over the same files must agree exactly.
    _write_event_files(tmp_path)
    stream = se.read_event_stream(spark, str(tmp_path))
    q = se.run_to_memory_sink(
        se.windowed_event_counts(stream), "trend_counts"
    )
    q.awaitTermination(60)
    q.stop()
    sink = spark.sql("select * from trend_counts")
    out = se.rank_windowed_counts(sink, k=2).collect()
    batch = spark.read.schema(se.EVENT_SCHEMA).json(str(tmp_path))
    batch_out = se.trending_topk(batch, k=2).collect()
    key = lambda rows: sorted(
        (r.window_start, r.rank, r.event_type, r.n_events) for r in rows
    )
    assert key(out) == key(batch_out)
    assert all(r.rank <= 2 for r in out) and len(out) > 0


def test_streaming_upsert_sink_latest_state(spark, tmp_path):
    import json as _json
    import time as _time

    land = tmp_path / "land"
    land.mkdir()

    def ev(eid, uid, val, minute):
        return _json.dumps({
            "event_id": eid, "ts": f"2024-01-01T00:{minute:02d}:00.000Z",
            "user_id": uid, "event_type": "score", "value": val, "props": "{}",
        })

    (land / "a.json").write_text("\n".join([ev(1, 0, 1.0, 1), ev(2, 1, 5.0, 2)]))
    stream = se.read_event_stream(spark, str(land))
    state = str(tmp_path / "state")
    q = se.start_upsert_sink(
        stream, state, key="user_id", order_col="ts",
        checkpoint=str(tmp_path / "ckpt"),
    )
    deadline = _time.time() + 60
    while _time.time() < deadline:
        try:
            if spark.read.parquet(state).count() == 2:
                break
        except Exception:
            pass
        _time.sleep(0.5)
    # a later file updates user 1 and adds user 2
    (land / "b.json").write_text("\n".join([ev(3, 1, 9.0, 3), ev(4, 2, 7.0, 4)]))
    deadline = _time.time() + 60
    while _time.time() < deadline:
        try:
            rows = {r.user_id: r.value for r in spark.read.parquet(state).collect()}
            if len(rows) == 3 and rows.get(1) == 9.0:
                break
        except Exception:
            pass
        _time.sleep(0.5)
    q.stop()
    rows = {r.user_id: r.value for r in spark.read.parquet(state).collect()}
    assert rows == {0: 1.0, 1: 9.0, 2: 7.0}


def test_streaming_upsert_sink_recovers_mid_swap_crash(spark, tmp_path):
    import json as _json
    import os as _os
    import time as _time

    land = tmp_path / "land"
    land.mkdir()

    def ev(eid, uid, val, minute):
        return _json.dumps({
            "event_id": eid, "ts": f"2024-01-01T00:{minute:02d}:00.000Z",
            "user_id": uid, "event_type": "score", "value": val, "props": "{}",
        })

    state = str(tmp_path / "state")
    # Simulate a process that died between rename(path, old) and
    # rename(tmp, path): the state table is missing, __upsert_old holds
    # the only copy, and a stale __upsert_tmp is present. (ADVICE-r3:
    # before the recovery step this lost all prior keyed state AND
    # poisoned every later swap with the leftover __upsert_old.)
    prior = spark.createDataFrame(
        [(99, "2024-01-01T00:00:00.000Z", 0, "score", 4.0, "{}")],
        "event_id long, ts string, user_id long, event_type string, value double, props string",
    )
    prior.write.parquet(state + "__upsert_old")
    _os.makedirs(state + "__upsert_tmp")
    (tmp_path / "state__upsert_tmp" / "part-junk.parquet").write_bytes(b"junk")

    (land / "a.json").write_text(ev(1, 1, 5.0, 1))
    stream = se.read_event_stream(spark, str(land))
    q = se.start_upsert_sink(
        stream, state, key="user_id", order_col="ts",
        checkpoint=str(tmp_path / "ckpt"),
    )
    deadline = _time.time() + 60
    rows = {}
    while _time.time() < deadline:
        try:
            rows = {r.user_id: r.value for r in spark.read.parquet(state).collect()}
            if len(rows) == 2:
                break
        except Exception:
            pass
        _time.sleep(0.5)
    q.stop()
    # prior state (user 0) survived the crash; the new batch merged in
    assert rows == {0: 4.0, 1: 5.0}
    assert not _os.path.exists(state + "__upsert_old")
    assert not _os.path.exists(state + "__upsert_tmp")


def test_wav_roundtrip_and_16bit_stereo(spark):
    import io
    import struct
    import wave

    from social_link_prediction_spark.pipelines import multimodal as mmod

    # 8-bit mono synth -> decode round-trip: bucket means match the
    # arithmetic definition exactly
    data = mmod.synth_wav(seed=5, n_samples=160)
    feats = mmod._real_decode_audio(data)
    assert len(feats) == mmod.FEATURE_DIM
    expected0 = sum((5 * 7 + i * 13) % 256 for i in range(10)) / 10 / 255.0
    assert abs(feats[0] - expected0) < 1e-12

    # 16-bit stereo WAV decodes too (channels averaged)
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(2)
        w.setsampwidth(2)
        w.setframerate(8000)
        frames = b"".join(
            struct.pack("<hh", (i * 321) % 30000 - 15000, (i * 123) % 30000 - 15000)
            for i in range(32)
        )
        w.writeframes(frames)
    feats2 = mmod._real_decode_audio(buf.getvalue())
    assert len(feats2) == mmod.FEATURE_DIM
    assert all(0.0 <= v <= 1.0 for v in feats2)

    # unsupported widths stay honest
    import pytest as _pytest

    buf3 = io.BytesIO()
    with wave.open(buf3, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(4)
        w.setframerate(8000)
        w.writeframes(b"\x00" * 64)
    with _pytest.raises(NotImplementedError):
        mmod._real_decode_audio(buf3.getvalue())

    # video decode is real now, but garbage bytes still fail loudly
    df = spark.createDataFrame(
        [(1, "video", bytearray(b"xx"))], "media_id long, kind string, content binary"
    )
    with _pytest.raises(Exception):
        mmod.extract_features(df, fake=False).collect()
