"""Structured Streaming form of the pipeline — the operationally-faithful
analog of the reference, which *is* a streaming system (file-watch triggers,
incremental tail; SURVEY.md §2 S17, §3).

    readStream(file source over the chunks table)
      → parse (Arrow UDF)
      → groupBy(doc_id, session).applyInPandasWithState(gate)
      → enrich (broadcast join)
      → writeStream (per-sink partitioned parquet, exactly-once via
        checkpointLocation)

The stateful gate holds, per (doc_id, session): ``last_seq`` plus the
held-back chunks (seqs + token arrays) — the in-state analog of the
reference leaving unconsumed ``.pbData`` files on disk
(``datadecoder/README.md:13-15``). Each micro-batch merges state-held
chunks with new arrivals and replays the SAME pure gate decision the batch
path uses (``reassemble.gate_select`` — one code path, two engines), so
batch and streaming results agree segment-for-segment (tested in
tests/test_streaming.py).

Scale notes: state lives in the state store (RocksDB on a real cluster —
``spark.sql.streaming.stateStore.providerClass``), partitioned by the group
key; a hot doc costs one group's state, not a partition. Late/out-of-order
chunks need no watermark — the seq gate IS the ordering protocol (the
reference has no event-time notion either, SURVEY.md §2 end). Rate limiting
via ``maxFilesPerTrigger`` replaces the reference's throttle control plane
(S16).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..operators.enrich import enrich
from ..operators.parse import split_rejects
from ..operators.reassemble import gate_select, payload_ranks

CHUNK_SCHEMA = StructType(
    [
        StructField("envelope", StringType()),
        StructField("chunk_tokens", ArrayType(IntegerType())),
        StructField("source", StringType()),
    ]
)

_OUT_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("session", LongType()),
        StructField("tokens", ArrayType(IntegerType())),
        StructField("n_tok", LongType()),
        StructField("source", StringType()),
        StructField("last_seq_out", LongType()),
    ]
)

# state: gate position + held chunks (the "cache grows" buffer)
_STATE_SCHEMA = StructType(
    [
        StructField("last_seq", LongType()),
        StructField("held_seqs", ArrayType(LongType())),
        StructField("held_tokens", ArrayType(ArrayType(IntegerType()))),
        StructField("source", StringType()),
    ]
)


def _make_gate(timeout_ms: int | None):
    """Build the stateful gate kernel. ``timeout_ms`` is the idle-state TTL
    (ProcessingTimeTimeout): a stream whose gap is never filled — an
    abandoned session — would otherwise hold its last_seq + held-chunk
    buffer in the state store forever. On expiry the group's state is
    dropped; if the stream later revives, the init rule re-anchors it
    (last==0 accepts any first seq), exactly as the reference would treat
    a session whose cache files were cleaned up. None = no eviction (the
    default; bounded corpora / tests)."""

    def gate(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if timeout_ms is not None and state.hasTimedOut:
            state.remove()  # abandoned stream: drop gate position + held buffer
            return
        for out in _gate_with_state(key, pdfs, state):
            yield out
        if timeout_ms is not None:
            state.setTimeoutDuration(timeout_ms)

    return gate


def _gate_with_state(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-(doc_id, session) micro-batch step: state-held chunks + new
    arrivals → gate_select → emit accepted segment, hold the rest."""
    if state.exists:
        last, held_seqs, held_tokens, source = state.get
        held_seqs = list(held_seqs)
        held_tokens = [list(t) for t in held_tokens]
    else:
        last, held_seqs, held_tokens, source = 0, [], [], None

    seqs: list[int] = list(held_seqs)
    arrays: list[Any] = list(held_tokens)
    for pdf in pdfs:
        seqs.extend(int(s) for s in pdf["seq"])
        arrays.extend(np.asarray(t, dtype=np.int32) for t in pdf["chunk_tokens"])
        if len(pdf) and source is None:
            source = str(pdf["source"].iloc[0])

    seq_arr = np.asarray(seqs, dtype=np.int64)
    ranks = payload_ranks(seq_arr, arrays)
    idx, new_last, held_idx = gate_select(seq_arr, int(last), ranks)

    # state crosses the Arrow/Pyrolite boundary — plain Python types only
    state.update(
        (
            int(new_last),
            [int(seq_arr[i]) for i in held_idx],
            [np.asarray(arrays[i]).tolist() for i in held_idx],
            source,
        )
    )

    if len(idx):
        tokens = np.concatenate(
            [np.asarray(arrays[i], dtype=np.int32) for i in idx]
        )
        yield pd.DataFrame(
            {
                "doc_id": [key[0]],
                "session": [int(key[1])],
                "tokens": [tokens],
                "n_tok": [len(tokens)],
                "source": [source],
                "last_seq_out": [new_last],
            }
        )


def stream_reassemble(
    spark: SparkSession,
    chunks_dir: str,
    routes: DataFrame | None = None,
    max_files_per_trigger: int | None = None,
    state_timeout_ms: int | None = None,
) -> DataFrame:
    """Streaming DataFrame of reassembled segments (one row per stream per
    micro-batch that emitted). Caller attaches the sink:
    ``.writeStream.option("checkpointLocation", ...).partitionBy("sink")``.

    ``state_timeout_ms``: idle TTL after which an abandoned stream's state
    (gate position + held chunks) is evicted — REQUIRED operationally on an
    unbounded deployment or the state store grows without bound; None keeps
    state forever (bounded corpora, exact batch-parity tests). Use the TTL
    only with a continuous trigger (``processingTime=...``): processing-
    time timeouts keep scheduling timeout-delivery micro-batches, which
    prevents a ``Trigger.AvailableNow`` query from ever draining (observed
    on Spark 4.1; the eviction decision itself is unit-tested kernel-side
    in tests/test_streaming.py).
    """
    reader = spark.readStream.schema(CHUNK_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    chunks = reader.parquet(chunks_dir)

    # dead-letter split: a malformed envelope would reach the stateful gate
    # as a null-keyed group and crash the kernel (int(None)); the batch path
    # quarantines these, the stream must too (see stream_rejects for the
    # companion dead-letter query).
    parsed, _rejects = split_rejects(chunks)
    segments = (
        parsed.groupBy("doc_id", "session")
        .applyInPandasWithState(
            _make_gate(state_timeout_ms),
            outputStructType=_OUT_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=(
                GroupStateTimeout.ProcessingTimeTimeout
                if state_timeout_ms is not None
                else GroupStateTimeout.NoTimeout
            ),
        )
    )
    return segments if routes is None else enrich(segments, routes)


def stream_rejects(
    spark: SparkSession,
    chunks_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """The dead-letter stream: envelopes failing the parse regex, with their
    original envelope + source preserved for audit/backfill. Run as a
    SEPARATE query over the same file source (each query tracks its own
    progress through its own checkpointLocation — the standard Structured
    Streaming fan-out form; a single query can only have one sink)."""
    reader = spark.readStream.schema(CHUNK_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    chunks = reader.parquet(chunks_dir)
    _ok, rejects = split_rejects(chunks)
    return rejects
