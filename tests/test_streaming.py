"""Structured-Streaming gate oracles: the streaming pipeline must agree with
the batch pipeline segment-for-segment, including gap-fill across
micro-batches and exactly-once emission across restarts (checkpointLocation).
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from log_aggregator_spark import chunker
from log_aggregator_spark.operators.parse import encode_envelope
from log_aggregator_spark.plans.pipeline import run_pipeline
from log_aggregator_spark.streaming import stream_reassemble

from conftest import SF_DIR, FakeGroupState


def _write_batch(df, path):
    df.write.mode("append").parquet(path)


def _drain(spark, chunks_dir, ckpt, out):
    q = (
        stream_reassemble(spark, chunks_dir)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)


def _segments(spark, out) -> pd.DataFrame:
    pdf = (
        spark.read.schema(
            "doc_id string, session long, tokens array<int>, n_tok long, "
            "source string, last_seq_out long"
        )
        .parquet(out)
        .toPandas()
    )
    pdf["tokens"] = pdf["tokens"].map(list)
    return pdf


def test_streaming_matches_batch_single_batch(spark, tmp_path):
    docs = chunker.load_documents(spark, SF_DIR).limit(60)
    chunks = chunker.chunks(docs)
    cdir = str(tmp_path / "chunks")
    _write_batch(chunks, cdir)

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    _drain(spark, cdir, ckpt, out)

    got = (
        _segments(spark, out)
        .sort_values(["doc_id", "session"])
        .reset_index(drop=True)[["doc_id", "session", "tokens", "last_seq_out"]]
    )
    want = (
        run_pipeline(chunks, chunker.routes_table(docs))
        .reassembled.select("doc_id", "session", "tokens", "last_seq_out")
        .toPandas()
        .sort_values(["doc_id", "session"])
        .reset_index(drop=True)
    )
    want["tokens"] = want["tokens"].map(list)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_streaming_gap_fill_across_microbatches(spark, tmp_path):
    rows = pd.DataFrame(
        {
            "doc_id": ["d"] * 4,
            "session": [10] * 4,
            "seq": [1, 2, 4, 3],
            "chunk_tokens": [[1], [2], [4], [3]],
            "source": ["s"] * 4,
        }
    )
    full = spark.createDataFrame(
        rows,
        schema="doc_id string, session long, seq long, chunk_tokens array<int>, source string",
    )
    env = encode_envelope(full).select("envelope", "chunk_tokens", "source")
    cdir, out, ckpt = (str(tmp_path / p) for p in ("chunks", "out", "ckpt"))

    # micro-batch 1: gap at 3 → emit [1,2], hold 4 in state
    _write_batch(env.where(F.col("chunk_tokens")[0] != 3), cdir)
    _drain(spark, cdir, ckpt, out)
    seg = _segments(spark, out)
    assert [list(t) for t in seg["tokens"]] == [[1, 2]]

    # micro-batch 2 (same checkpoint → state restored): 3 arrives → [3,4]
    _write_batch(env.where(F.col("chunk_tokens")[0] == 3), cdir)
    _drain(spark, cdir, ckpt, out)
    seg = _segments(spark, out).sort_values("last_seq_out")
    assert [list(t) for t in seg["tokens"]] == [[1, 2], [3, 4]]
    assert list(seg["last_seq_out"]) == [2, 4]

    # re-drain with no new data: nothing re-emitted (exactly-once)
    _drain(spark, cdir, ckpt, out)
    assert len(_segments(spark, out)) == 2


def test_streaming_throttle_bounds_microbatches(spark, tmp_path):
    """S16 throttle/backpressure, exercised end-to-end: Spark's pull-side
    admission control (``maxFilesPerTrigger=1``) replaces the reference's
    server-pushed throttle (``LogServerController.java:104-112`` sets it,
    ``AsyncPusher.java:88-97`` sleeps). Each micro-batch admits exactly one
    file — bounded state delta per trigger — and the throttled drain still
    produces the identical output, just across more batches."""
    rows = pd.DataFrame(
        {
            "doc_id": ["d"] * 4,
            "session": [10] * 4,
            "seq": [1, 2, 3, 4],
            "chunk_tokens": [[1], [2], [3], [4]],
            "source": ["s"] * 4,
        }
    )
    full = spark.createDataFrame(
        rows,
        schema="doc_id string, session long, seq long, chunk_tokens array<int>, source string",
    )
    env = encode_envelope(full).select("envelope", "chunk_tokens", "source")
    cdir, out, ckpt = (str(tmp_path / p) for p in ("chunks", "out", "ckpt"))
    for s in (1, 2, 3, 4):  # four files => four admission units
        env.where(F.col("chunk_tokens")[0] == s).coalesce(1).write.mode(
            "append"
        ).parquet(cdir)

    q = (
        stream_reassemble(spark, cdir, max_files_per_trigger=1)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    def _rows(p):
        return p["numInputRows"] if isinstance(p, dict) else p.numInputRows

    fed = [p for p in q.recentProgress if _rows(p) > 0]
    assert len(fed) == 4, "throttle must split the drain into 4 micro-batches"
    assert all(_rows(p) == 1 for p in fed), "each batch admits exactly 1 file"

    # output identical to an unthrottled drain: four consecutive segments
    seg = _segments(spark, out).sort_values("last_seq_out")
    assert [list(t) for t in seg["tokens"]] == [[1], [2], [3], [4]]
    assert list(seg["last_seq_out"]) == [1, 2, 3, 4]


def test_streaming_kill_restart_matches_batch(spark, tmp_path):
    """The exactly-once claim, end-to-end on a real corpus slice: deliver
    half the chunks, run the query to completion and KILL it; deliver the
    rest; restart from the same checkpointLocation; the union of routed
    output across both query incarnations must equal the batch pipeline's
    result stream-for-stream (segments concatenated in emission order)."""
    docs = chunker.load_documents(spark, SF_DIR).limit(60)
    chunks = chunker.chunks(docs)
    routes = chunker.routes_table(docs)
    seq = F.regexp_extract("envelope", r"_(\d+)\.pbData$", 1).cast("long")
    cdir, out, ckpt = (str(tmp_path / p) for p in ("chunks", "out", "ckpt"))

    def run_query():
        return (
            stream_reassemble(spark, cdir, routes=routes)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .partitionBy("sink")
            .trigger(availableNow=True)
            .start()
        )

    _write_batch(chunks.where(seq <= 2), cdir)
    q1 = run_query()
    q1.awaitTermination(300)
    q1.stop()  # the kill

    _write_batch(chunks.where(seq > 2), cdir)
    q2 = run_query()  # restart: state + progress from checkpointLocation
    q2.awaitTermination(300)

    routed = spark.read.parquet(out)
    got = (
        routed.groupBy("doc_id", "session")
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("last_seq_out", "tokens"))),
                    lambda s: s["tokens"],
                )
            ).alias("tokens"),
            F.first("sink").alias("sink"),
        )
        .toPandas()
        .sort_values(["doc_id", "session"])
        .reset_index(drop=True)
    )
    got["tokens"] = got["tokens"].map(list)
    want = (
        run_pipeline(chunks, routes)
        .enriched.select("doc_id", "session", "tokens", "sink")
        .toPandas()
        .sort_values(["doc_id", "session"])
        .reset_index(drop=True)
    )
    want["tokens"] = want["tokens"].map(list)
    pd.testing.assert_frame_equal(
        got[["doc_id", "session", "tokens", "sink"]],
        want[["doc_id", "session", "tokens", "sink"]],
        check_dtype=False,
    )


def test_streaming_rejects_dead_letter(spark, tmp_path):
    """Malformed envelopes in the stream: the gate query must not crash or
    silently drop them — good segments still emit, and the companion
    dead-letter query (stream_rejects) catches the corrupt envelopes with
    payload context preserved."""
    from log_aggregator_spark.streaming import stream_rejects

    good = spark.createDataFrame(
        [("d", 10, 1, [1], "s"), ("d", 10, 2, [2], "s")],
        schema="doc_id string, session long, seq long, chunk_tokens array<int>, source string",
    )
    corrupt = spark.createDataFrame(
        [("not-an-envelope", [9], "sX"), ("d_1_2.pbData.bak", [8], "sY")],
        schema="envelope string, chunk_tokens array<int>, source string",
    )
    cdir = str(tmp_path / "chunks")
    _write_batch(
        encode_envelope(good).select("envelope", "chunk_tokens", "source")
        .unionByName(corrupt),
        cdir,
    )

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    _drain(spark, cdir, ckpt, out)
    seg = _segments(spark, out)
    assert [list(t) for t in seg["tokens"]] == [[1, 2]]

    rej_out, rej_ckpt = str(tmp_path / "rej_out"), str(tmp_path / "rej_ckpt")
    q = (
        stream_rejects(spark, cdir)
        .writeStream.format("parquet")
        .option("path", rej_out)
        .option("checkpointLocation", rej_ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    rej = spark.read.schema("envelope string, source string").parquet(rej_out)
    assert sorted(r["envelope"] for r in rej.collect()) == [
        "d_1_2.pbData.bak", "not-an-envelope",
    ]


def test_streaming_ttl_evicts_under_processing_time_trigger(spark, tmp_path):
    """Integration twin of the kernel TTL test (VERDICT r2 #6), under the
    TTL's SUPPORTED trigger (processingTime — AvailableNow never drains
    with ProcessingTimeTimeout on Spark 4.1): an abandoned stream's state
    (gate position + held buffer) is evicted after the timeout, and the
    revived stream re-anchors via the init rule. Discriminator: after
    emitting [1] and holding 5, a later seq-7 chunk emits [7] ONLY if the
    state was dropped (a surviving last_seq=1 would hold 7 behind the
    2..4 gap forever)."""
    import time as _t

    rows = spark.createDataFrame(
        [("d", 10, 1, [1], "s"), ("d", 10, 5, [5], "s")],
        schema="doc_id string, session long, seq long, chunk_tokens array<int>, source string",
    )
    cdir, out, ckpt = (str(tmp_path / p) for p in ("chunks", "out", "ckpt"))
    _write_batch(
        encode_envelope(rows).select("envelope", "chunk_tokens", "source"), cdir
    )

    q = (
        stream_reassemble(spark, cdir, state_timeout_ms=1500)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        deadline = _t.time() + 90
        while _t.time() < deadline:
            seg = _segments(spark, out)
            if len(seg):
                break
            _t.sleep(0.5)
        assert [list(t) for t in seg["tokens"]] == [[1]]  # 5 held behind the gap

        _t.sleep(6)  # >> TTL: timeout batches fire, state evicted

        revived = spark.createDataFrame(
            [("d", 10, 7, [7], "s")],
            schema="doc_id string, session long, seq long, chunk_tokens array<int>, source string",
        )
        _write_batch(
            encode_envelope(revived).select("envelope", "chunk_tokens", "source"),
            cdir,
        )
        deadline = _t.time() + 90
        got = None
        while _t.time() < deadline:
            seg = _segments(spark, out)
            if len(seg) >= 2:
                got = sorted([list(t) for t in seg["tokens"]])
                break
            _t.sleep(0.5)
        assert got == [[1], [7]], f"state not evicted (got {got})"
    finally:
        q.stop()


def test_state_ttl_kernel_eviction():
    """The TTL eviction decision, unit-tested at the kernel level (the
    integration form is blocked: ProcessingTimeTimeout keeps scheduling
    timeout batches, so an availableNow query never drains — see
    stream_reassemble docstring). Three properties: a timed-out group's
    state (gate position + held buffer) is dropped and nothing is emitted;
    a live group re-arms its timeout after every batch; the no-TTL kernel
    never touches timeout APIs."""
    from log_aggregator_spark.streaming.stream_pipeline import _make_gate

    gate = _make_gate(500)

    # timed-out group: state dropped, nothing emitted
    st = FakeGroupState(value=(2, [4], [[4]], "s"), timed_out=True)
    out = list(gate(("d", 10), iter([]), st))
    assert out == [] and st.removed and st.timeout_set is None

    # live group with data: emits, keeps state, re-arms the TTL
    pdf = pd.DataFrame({"seq": [1, 2], "chunk_tokens": [[1], [2]], "source": ["s", "s"]})
    st2 = FakeGroupState()
    out2 = list(gate(("d", 10), iter([pdf]), st2))
    assert len(out2) == 1 and list(out2[0]["tokens"].iloc[0]) == [1, 2]
    assert st2.exists and st2.timeout_set == 500

    # after eviction, a revived stream re-anchors via the init rule:
    # fresh state, seq 3 alone is accepted (last == 0 accepts any first)
    pdf3 = pd.DataFrame({"seq": [3], "chunk_tokens": [[3]], "source": ["s"]})
    st3 = FakeGroupState()
    out3 = list(gate(("d", 10), iter([pdf3]), st3))
    assert len(out3) == 1 and list(out3[0]["tokens"].iloc[0]) == [3]

    # no-TTL kernel: timeout APIs untouched
    gate_none = _make_gate(None)
    st4 = FakeGroupState()
    list(gate_none(("d", 10), iter([pdf]), st4))
    assert st4.timeout_set is None


def test_streaming_gate_duplicate_payload_survivor():
    """Kernel-level: duplicate seqs with DIFFERING payloads in one
    micro-batch — the streaming gate must emit the lexicographically-least
    payload (the engine's survivor rule, shared with the batch gate
    plan), regardless of arrival order."""
    from log_aggregator_spark.streaming.stream_pipeline import _make_gate

    gate = _make_gate(None)
    pdf = pd.DataFrame(
        {
            "seq": [2, 1, 2, 2],
            "chunk_tokens": [[9, 9], [1], [2, 5], [2, 4]],
            "source": ["s"] * 4,
        }
    )
    st = FakeGroupState()
    out = list(gate(("d", 10), iter([pdf]), st))
    assert len(out) == 1
    assert list(out[0]["tokens"].iloc[0]) == [1, 2, 4]  # seq2 survivor = [2,4]


def test_streaming_event_windows_match_batch(spark, tmp_path):
    """Watermarked tumbling windows + session windows over the events
    stream must agree with the batch family on identical bounded input
    (complete-mode memory sink)."""
    from log_aggregator_spark.functions import events as fev
    from log_aggregator_spark.streaming import (
        stream_events,
        stream_sessionize,
        stream_tumbling_counts,
    )

    batch_events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    edir = str(tmp_path / "events")
    batch_events.write.parquet(edir)
    sev = stream_events(spark, edir)

    def drain_complete(sdf, name):
        q = (
            sdf.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        return spark.table(name).toPandas()

    # tumbling
    got = drain_complete(stream_tumbling_counts(sev), "tumb")
    want = (
        fev.tumbling_counts(batch_events)
        .select("hour_epoch", "event_type", "n_events", "sum_value_x100")
        .toPandas()
    )
    key = ["hour_epoch", "event_type"]
    pd.testing.assert_frame_equal(
        got.sort_values(key).reset_index(drop=True),
        want.sort_values(key).reset_index(drop=True),
        check_dtype=False,
    )

    # sessions: same (user, start, max-ts, count) set as the batch
    # gap-based sessionize
    gots = drain_complete(stream_sessionize(sev), "sess")
    wants = (
        fev.sessionize(batch_events)
        .select("user_id", "start_epoch",
                F.col("end_epoch").alias("end_epoch_max"), "n_events")
        .toPandas()
    )
    key = ["user_id", "start_epoch"]
    pd.testing.assert_frame_equal(
        gots[["user_id", "start_epoch", "end_epoch_max", "n_events"]]
        .sort_values(key).reset_index(drop=True),
        wants.sort_values(key).reset_index(drop=True),
        check_dtype=False,
    )


def test_streaming_enrich_broadcast(spark, tmp_path):
    docs = chunker.load_documents(spark, SF_DIR).limit(20)
    chunks = chunker.chunks(docs)
    cdir = str(tmp_path / "chunks")
    _write_batch(chunks, cdir)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = (
        stream_reassemble(spark, cdir, routes=chunker.routes_table(docs))
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .partitionBy("sink")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    routed = spark.read.parquet(out)
    assert "sink" in routed.columns
    assert routed.count() > 0
    batch = run_pipeline(chunks, chunker.routes_table(docs)).enriched
    assert routed.count() == batch.count()
