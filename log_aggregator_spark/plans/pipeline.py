"""The end-to-end batch DAG — the Spark restatement of the reference's three
processes (SURVEY.md §3.4):

    chunks → parse(envelope) → [dedupe+gate+reassemble] → enrich(broadcast)
           → per-sink fan-out → sink aggregates (+ new checkpoint state)

Shuffle inventory (the thing that matters at 10^12 rows):
  1. ONE wide shuffle on (doc_id, session) for reassembly — irreducible: the
     operator is a per-stream total order.
  2. The enrich join is broadcast — no shuffle.
  3. sink_counts is a partial-agg hash aggregate — shuffles one row per
     (task × sink).
  4. The fan-out write adds one salted repartition, only when writing.
Everything before the reassembly shuffle (parse, projections) is narrow and
pipelined into the shuffle-map stage; Catalyst prunes chunk columns read from
parquet down to (envelope, chunk_tokens, source).

The gate is ``reassemble_sql``, the one batch reassembly plan. This is the
stateless form of the pass: the caller supplies the checkpoint and gets
lazy frames back. ``job._run_job_once`` composes the same operators around
one materialized gate decision and commits the results to snapshot tables.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame

from ..operators.aggregate import sink_counts
from ..operators.enrich import enrich
from ..operators.parse import split_rejects
from ..operators.reassemble import held_back, reassemble_sql
from ..operators.route import route_write


@dataclass
class PipelineResult:
    reassembled: DataFrame  # (doc_id, session, tokens, n_tok, source, last_seq_out)
    enriched: DataFrame     # + (sink, priority)
    counts: DataFrame       # per-sink aggregates
    checkpoint_out: DataFrame  # (doc_id, session, last_seq) for the next run
    held: DataFrame         # chunks not consumed this run
    rejects: DataFrame      # dead-letter: envelopes that failed the parse


def run_pipeline(
    chunks: DataFrame,
    routes: DataFrame,
    checkpoint: DataFrame | None = None,
    out_dir: str | None = None,
) -> PipelineResult:
    """One batch pass, the frames left lazy: the caller decides what to
    collect or write (``out_dir`` routes the enriched streams there).

    Malformed envelopes go to ``result.rejects`` (dead-letter), never into
    the gate: a null doc_id/seq row would silently evaluate false in the
    gate predicates and vanish — at 100 TB, silent drop of corrupt input is
    the one failure mode a pipeline cannot have."""
    parsed, rejects = split_rejects(chunks)
    reassembled = reassemble_sql(parsed, checkpoint)
    enriched = enrich(reassembled, routes)
    counts = sink_counts(enriched)
    ckpt_out = reassembled.selectExpr(
        "doc_id", "session", "last_seq_out as last_seq"
    )
    held = held_back(parsed, checkpoint)

    if out_dir is not None:
        route_write(enriched, out_dir)

    return PipelineResult(
        reassembled=reassembled,
        enriched=enriched,
        counts=counts,
        checkpoint_out=ckpt_out,
        held=held,
        rejects=rejects,
    )
