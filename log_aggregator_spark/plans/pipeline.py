"""The end-to-end DAG — the Spark restatement of the reference's three
processes (SURVEY.md §3.4):

    chunks → parse(envelope) → [dedupe+gate+reassemble] → enrich(broadcast)
           → per-sink fan-out → sink aggregates (+ new checkpoint state)

Shuffle inventory (the thing that matters at 10^12 rows):
  1. ONE wide shuffle on (doc_id, session) for reassembly — irreducible: the
     operator is a per-stream total order.
  2. The enrich join is broadcast — no shuffle.
  3. sink_counts is a partial-agg hash aggregate — shuffles one row per
     (task × sink).
  4. The fan-out write (``route_write``, run by the caller) adds no
     exchange; only its opt-in ``cluster_by_sink`` layout adds a salted
     repartition.
Everything before the reassembly shuffle (parse, projections) is narrow and
pipelined into the shuffle-map stage; Catalyst prunes chunk columns read from
parquet down to (envelope, chunk_tokens, source).

``after_gate`` is the one composition of the pass after the gate decision
(``_gate_flags``). ``run_pipeline`` feeds it a lazy gate, so the batch
plan of ``enriched`` is ``enrich(reassemble_sql(...))`` and exchanges the
payloads once; ``job._run_job_once`` feeds it the gate held as an eager
local checkpoint, so every state table it commits observes the same rows.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.aggregate import sink_counts
from ..operators.enrich import enrich
from ..operators.parse import split_rejects
from ..operators.reassemble import _gate_flags, held_from_flags, reassemble_from_flags


@dataclass
class PassFrames:
    reassembled: DataFrame  # (doc_id, session, tokens, n_tok, source, last_seq_out)
    enriched: DataFrame     # + (sink, priority)
    held: DataFrame         # chunks the gate did not consume, full payloads
    checkpoint_out: DataFrame  # merged next-run state: (doc_id, session, last_seq)


def after_gate(
    flagged: DataFrame, routes: DataFrame, checkpoint: DataFrame | None
) -> PassFrames:
    """Everything a pass derives from one gate decision: ``flagged`` is
    ``_gate_flags(parsed, checkpoint)``, lazy or materialized, and
    ``checkpoint`` the state it was gated against (None = empty)."""
    reassembled = reassemble_from_flags(flagged)
    enriched = enrich(reassembled, routes)
    held = held_from_flags(flagged)

    # checkpoint merge in one aggregate: an accepted seq is above its
    # stream's last_seq (or is the seq-0 init with last_seq 0), so the
    # max over the accepted seqs and the old row advances a stream that
    # emitted, keeps an idle or blocked one (SequenceTracker keeps the
    # record of a stream that did not advance) and starts a new one.
    next_ckpt = flagged.where("accepted").select(
        "doc_id", "session", F.col("seq").alias("last_seq")
    )
    if checkpoint is not None:
        next_ckpt = next_ckpt.unionByName(
            checkpoint.select("doc_id", "session", "last_seq")
        )
    next_ckpt = next_ckpt.groupBy("doc_id", "session").agg(
        F.max("last_seq").cast("long").alias("last_seq")
    )
    return PassFrames(reassembled, enriched, held, next_ckpt)


@dataclass
class PipelineResult(PassFrames):
    counts: DataFrame       # per-sink aggregates
    rejects: DataFrame      # dead-letter: envelopes that failed the parse


def run_pipeline(
    chunks: DataFrame,
    routes: DataFrame,
    checkpoint: DataFrame | None = None,
) -> PipelineResult:
    """One batch pass, the frames left lazy: the caller decides what to
    collect or write.

    Malformed envelopes go to ``result.rejects`` (dead-letter), never into
    the gate: a null doc_id/seq row would silently evaluate false in the
    gate predicates and vanish — at 100 TB, silent drop of corrupt input is
    the one failure mode a pipeline cannot have."""
    parsed, rejects = split_rejects(chunks)
    out = after_gate(_gate_flags(parsed, checkpoint), routes, checkpoint)
    return PipelineResult(**vars(out), counts=sink_counts(out.enriched), rejects=rejects)
