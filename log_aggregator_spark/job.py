"""Resumable batch job — the ``spark-submit`` entrypoint tying the pipeline
to the snapshot-table storage layer.

Each invocation is one "directory pass" of the reference decoder
(``DataPumpDecoderSort.java:103-181``), promoted to a cluster batch job:

1. read NEW chunk rows (incremental scan of the chunks table since the last
   processed snapshot) plus the HELD cache (chunks previous runs could not
   consume — the reference's "cache grows" files, ``datadecoder/README.md:13-15``),
2. parse the new envelopes ONCE into a cached frame that both the gate
   input and the ``rejects`` member read, then run the gate against the
   persisted checkpoint table (``SequenceTracker`` analog) and MATERIALIZE
   its decision once, as an eager local checkpoint in executor storage,
3. derive routed output, new checkpoint (one max-merge aggregate over the
   accepted seqs and the old checkpoint), new held cache, rejects and
   metrics from that one materialized result, and commit them all in ONE
   atomic TableGroup manifest swap,
4. release the cached parse and the checkpoint, and return the per-sink
   counts and the rejects/held row counts read with pyarrow from the files
   that commit added — exactly what was published, at no Spark job.

Consistency: the gate plan contains an ``asNondeterministic`` Arrow UDF and
order-sensitive tie-breaks, so deriving each state table from its own
recomputation would let task retries/speculation hand different inputs to
different commits. Materializing ``_gate_flags`` once means routed,
checkpoint, held and metrics all observe the SAME physical rows. A local
checkpoint is not recomputed from its lineage: a lost block fails the pass
before the CAS, and the retry starts over from the committed state. The
cached parse under it may be recomputed after a lost block, which is safe
because the UDF is a pure function of the envelope.

Cost: at small inputs a pass is bound by fixed per-job cost. A warm pass
over new chunks starts 13 Spark jobs on perfbench's ``resume_two_pass``
input: the gate's checkpoint and the commit's member writes. It runs the
parse UDF in one of them. Every read names the schema its manifest
recorded, so none starts a parquet schema-inference job, and the lineage
rows reach the JVM as Arrow.

Crash safety: the single TableGroup commit has NO duplicate-append window —
either the CURRENT swap happened (all tables advanced together) or it
didn't (previous state fully visible; the retry reprocesses the same chunks
snapshot once; orphaned data dirs are inert). The reference's own
documented window between payload append and ``.lastSeq`` write
(``DataPumpDecoderSort.java:48-51``) is thereby closed, not just made
detectable. Concurrent committers are excluded by the manifest CAS
(``tableio.ConcurrentCommitError``); the run_id column (= chunks snapshot
processed) remains as the audit/idempotency key.

Output invariant (tested in tests/test_job_resume.py): for every
(doc_id, session), the concatenation of routed token segments in run order
equals the single-run reassembly of all chunks — byte-exact (the system
invariant of the reference's end-to-end test, ``README.md:93-104``).
"""

from __future__ import annotations

import argparse
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from .lineage import lineage_from_files, lineage_records
from .operators.enrich import enrich
from .operators.parse import split_tagged, tag_envelopes
from .operators.reassemble import (
    _gate_flags,
    held_from_flags,
    reassemble_from_flags,
)
from .session import persistent_rdd_ids, unpersist_rdds
from .tableio import SnapshotTable, TableGroup


class JobState:
    """The state a deployment owns, rooted at ``state_dir``: one TableGroup
    holding routed/checkpoint/held/metrics/rejects/quarantine, committed
    atomically together. A pass keeps its intermediate results in executor
    storage, never under ``state_dir``."""

    def __init__(self, state_dir: str) -> None:
        self.group = TableGroup(f"{state_dir}/group")
        self.routed = self.group.table("routed")
        self.checkpoint = self.group.table("checkpoint")
        self.held = self.group.table("held")
        self.metrics = self.group.table("metrics")
        self.quarantine = self.group.table("quarantine")
        self.rejects = self.group.table("rejects")


def run_job(
    spark: SparkSession,
    chunks_table: SnapshotTable,
    routes,
    state: JobState,
    held_max_age_runs: int | None = None,
    lineage_mode: str = "metadata",
    retries: int = 0,
) -> dict:
    """See ``_run_job_once``. ``retries``: on ``ConcurrentCommitError``
    (another committer won the manifest CAS) re-read the group state and
    re-run the pass up to N more times — the loser's recomputation then
    stands on the winner's committed checkpoint, so work is neither lost
    nor doubled. 0 (default) = propagate immediately."""
    from .tableio import ConcurrentCommitError

    for attempt in range(retries + 1):
        try:
            return _run_job_once(
                spark, chunks_table, routes, state,
                held_max_age_runs=held_max_age_runs,
                lineage_mode=lineage_mode,
            )
        except ConcurrentCommitError:
            if attempt == retries:
                raise
    raise AssertionError("unreachable")  # pragma: no cover


def _run_job_once(
    spark: SparkSession,
    chunks_table: SnapshotTable,
    routes,
    state: JobState,
    held_max_age_runs: int | None = None,
    lineage_mode: str = "metadata",
) -> dict:
    """One resumable pass. Returns a run summary dict.

    ``held_max_age_runs``: bound on the held cache. The reference's cache
    literally "grows" without bound when a gap is never filled
    (``datadecoder/README.md:13-15``); here each held chunk carries the
    run that first held it, and chunks older than N runs move to the
    ``quarantine`` member table (visible for audit/backfill) instead of
    being re-gated forever — the batch counterpart of the streaming state
    TTL. None (default) = keep forever (reference-faithful).

    ``lineage_mode``: 'metadata' (default — manifest diff + parquet
    footers, zero extra data I/O), 'scan' (mapInPandas pass: per-partition
    wall times, works on any input), or 'off'."""
    t_start = time.perf_counter()
    last_processed = None
    ckpt_df = None
    if state.checkpoint.exists():
        last_processed = state.checkpoint.lineage().get("chunks_snapshot")
        ckpt_df = state.checkpoint.read(spark)

    current_snap = chunks_table.current_snapshot()
    new_chunks = chunks_table.read_incremental(spark, last_processed)
    if new_chunks is None and not state.held.exists():
        return {"run_id": None, "status": "no_new_data"}

    # Everything this pass pins in executor storage (the cached parse and the
    # gate's local checkpoint) is released in the ``finally`` below, on
    # success, crash or lost CAS alike. Scoped by RDD id: pins that predate
    # the pass survive; a session runs one pass at a time.
    pinned_before = persistent_rdd_ids(spark)
    tagged = None
    try:
        parsed_parts = []
        rejects = None
        if new_chunks is not None:
            # dead-letter split: a malformed envelope parses to null fields
            # and the gate's null-evaluating predicates would silently drop
            # it — the reject stream makes corrupt input first-class data
            # instead (the reference logs-and-skips; parse.py:85-). Cached,
            # so the gate input and the rejects member read one evaluation
            # of the parse UDF.
            tagged = tag_envelopes(new_chunks).cache()
            ok, rejects = split_tagged(tagged)
            parsed_parts.append(ok)
        prev_held = None
        if state.held.exists():
            prev_held = state.held.read(spark)
            parsed_parts.append(
                prev_held.select("doc_id", "session", "seq", "chunk_tokens", "source")
            )
        parsed = parsed_parts[0]
        for p in parsed_parts[1:]:
            parsed = parsed.unionByName(p)

        # lineage over this pass's *new* input. Default 'metadata': parquet
        # footers + manifest diff — no second data scan (at 100 TB a lineage
        # scan doubles read I/O). 'scan' keeps the per-task mapInPandas pass
        # (per-partition wall times, arbitrary inputs); 'off' skips.
        if new_chunks is None or lineage_mode == "off":
            lin = lineage_from_files(spark, [])
        elif lineage_mode == "scan":
            lin = lineage_records(new_chunks)
        else:
            lin = lineage_from_files(
                spark, chunks_table.incremental_files(last_processed)
            )

        run_id = current_snap or 0
        # age unit for the held cache: the group's own pass counter (one
        # commit per pass ⇒ +1 per run_job), NOT the chunks snapshot id —
        # multiple chunk-table commits between passes would otherwise age a
        # held chunk several "runs" in one pass (ADVICE r2).
        pass_id = (state.group.current_snapshot() or 0) + 1

        # ---- the ONE computation: gate decision, materialized ------------
        flagged = _gate_flags(parsed, ckpt_df).localCheckpoint(eager=True)

        reassembled = reassemble_from_flags(flagged)
        enriched = enrich(reassembled, routes).withColumn(
            "run_id", F.lit(run_id).cast("long")
        )

        # held cache with age tracking: a chunk held before keeps its
        # original first_held_run (in group-pass units); a newly-held one is
        # stamped with this pass. Broadcast the carry-forward join only when
        # the cache is BOUNDED (held_max_age_runs set): with the unbounded
        # default the held table is exactly the one documented as growing
        # without limit, and force-broadcasting it risks driver OOM at scale
        # — let AQE choose.
        held_full = held_from_flags(flagged)
        if prev_held is not None and "first_held_run" in prev_held.columns:
            prev_ages = prev_held.select("doc_id", "session", "seq", "first_held_run")
            if held_max_age_runs is not None:
                prev_ages = F.broadcast(prev_ages)
            held_full = held_full.join(
                prev_ages, ["doc_id", "session", "seq"], "left"
            )
            held_full = held_full.withColumn(
                "first_held_run",
                F.coalesce(F.col("first_held_run"), F.lit(pass_id)).cast("long"),
            )
        else:
            held_full = held_full.withColumn(
                "first_held_run", F.lit(pass_id).cast("long")
            )
        quarantined = None
        if held_max_age_runs is not None:
            too_old = F.col("first_held_run") <= F.lit(pass_id - held_max_age_runs)
            quarantined = held_full.where(too_old).withColumn(
                "quarantined_run", F.lit(pass_id).cast("long")
            )
            held_full = held_full.where(~too_old)

        # checkpoint merge in one aggregate: an accepted seq is above its
        # stream's last_seq (or is the seq-0 init with last_seq 0), so the
        # max over the accepted seqs and the old row advances a stream that
        # emitted, keeps an idle one and starts a new one.
        new_ckpt = flagged.where("accepted").select(
            "doc_id", "session", F.col("seq").alias("last_seq")
        )
        if ckpt_df is not None:
            new_ckpt = new_ckpt.unionByName(
                ckpt_df.select("doc_id", "session", "last_seq")
            )
        new_ckpt = new_ckpt.groupBy("doc_id", "session").agg(
            F.max("last_seq").cast("long").alias("last_seq")
        )

        wall = time.perf_counter() - t_start
        summary_df = lin.withColumn("run_id", F.lit(run_id).cast("long"))

        # ---- ONE atomic commit covering all state tables -----------------
        tables = {
            "routed": (enriched, "append"),
            "checkpoint": (new_ckpt, "overwrite"),
            "held": (held_full, "overwrite"),
            "metrics": (summary_df, "append"),
        }
        if rejects is not None:
            tables["rejects"] = (
                rejects.withColumn("run_id", F.lit(run_id).cast("long")),
                "append",
            )
        if quarantined is not None:
            tables["quarantine"] = (quarantined, "append")
        snap = state.group.commit(
            tables,
            lineage={
                "chunks_snapshot": current_snap,
                "run_id": run_id,
                "pass_id": pass_id,
                "wall_sec": wall,
            },
        )
    finally:
        if tagged is not None:
            tagged.unpersist()
        unpersist_rdds(spark, exclude=pinned_before)

    return {
        "run_id": run_id,
        "status": "ok",
        "wall_sec": round(time.perf_counter() - t_start, 3),
        "sink_counts": _committed_sink_counts(state.routed.added_files(snap)),
        "rejects": (
            _footer_rows(state.rejects.added_files(snap)) if rejects is not None else 0
        ),
        "held": _footer_rows(state.held.added_files(snap)),
    }


def _committed_sink_counts(files: list[str]) -> dict:
    """Rows per sink in the routed files a commit added, read from those
    files with pyarrow: exactly what was published, at no Spark job."""
    if not files:
        return {}
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    sinks = ds.dataset(files, format="parquet").to_table(columns=["sink"])["sink"]
    vc = pc.value_counts(sinks)
    return dict(zip(vc.field("values").to_pylist(), vc.field("counts").to_pylist()))


def _footer_rows(files: list[str]) -> int:
    """Rows in parquet ``files``, summed from their footers."""
    import pyarrow.parquet as pq

    return sum(pq.read_metadata(f).num_rows for f in files)


def requeue_quarantine(spark: SparkSession, state: JobState) -> int:
    """Backfill: move every quarantined chunk back into the held cache so
    the next pass re-gates it — the operator a deployment runs after the
    root cause of a permanent gap is fixed (the missing chunks finally
    shipped, or the source was re-exported). One atomic TableGroup commit:
    held gains the rows (age reset to the current pass so they don't
    instantly re-quarantine), quarantine empties. Returns rows moved."""
    if not state.quarantine.exists():
        return 0
    q = state.quarantine.read(spark)
    n = q.count()
    if n == 0:
        return 0
    pass_id = (state.group.current_snapshot() or 0) + 1
    requeued = q.select(
        "doc_id", "session", "seq", "chunk_tokens", "source"
    ).withColumn("first_held_run", F.lit(pass_id).cast("long"))
    if state.held.exists():
        requeued = state.held.read(spark).select(*requeued.columns).unionByName(
            requeued
        )
    empty_q = spark.createDataFrame([], schema=q.schema)
    state.group.commit(
        {"held": (requeued, "overwrite"), "quarantine": (empty_q, "overwrite")},
        lineage={"requeued_quarantine_rows": n, "pass_id": pass_id},
    )
    return n


def main() -> None:  # pragma: no cover - exercised via spark-submit
    p = argparse.ArgumentParser(description="resumable log-aggregator pass")
    p.add_argument("--chunks", required=True, help="chunks SnapshotTable root")
    p.add_argument("--routes", required=True, help="routes parquet path")
    p.add_argument("--state", required=True, help="state dir (the state TableGroup)")
    args = p.parse_args()

    from .session import get_spark

    spark = get_spark("log_aggregator_job")
    summary = run_job(
        spark,
        SnapshotTable(args.chunks),
        spark.read.parquet(args.routes),
        JobState(args.state),
    )
    print(summary)
    spark.stop()


if __name__ == "__main__":  # pragma: no cover
    main()
