"""Resumable batch job — the ``spark-submit`` entrypoint tying the pipeline
to the snapshot-table storage layer.

Each invocation is one "directory pass" of the reference decoder
(``DataPumpDecoderSort.java:103-181``), promoted to a cluster batch job:

1. read NEW chunk rows (what the chunks table's appends added after the
   lineage's ``chunks_snapshot``, resolved once, so each chunk is parsed
   once, ``DataPumpDecoderSort.java:55-85``) plus the HELD cache (chunks
   previous runs could not consume — the reference's "cache grows" files,
   ``datadecoder/README.md:13-15``),
2. split the new envelopes into parsed chunks and rejects
   (``split_rejects``, the parse entry of every pipeline), then run the
   gate against the persisted checkpoint table (``SequenceTracker``
   analog) and MATERIALIZE its decision once, as an eager local
   checkpoint in executor storage,
3. derive reassembly, routed output, new checkpoint and held cache from
   that one materialized result (``plans.pipeline.after_gate``, the
   composition ``run_pipeline`` runs on a lazy gate), stamp the run id (the
   group's pass counter + 1) and the held chunks' ages, and commit them
   with rejects and metrics in ONE atomic TableGroup manifest, against the
   state snapshot step 1 read,
4. release the checkpoint, and return the per-sink counts and the
   rejects/held row counts read with pyarrow from the files that commit
   added — exactly what was published, at no Spark job.

Consistency: the gate plan contains an ``asNondeterministic`` Arrow UDF and
order-sensitive tie-breaks, so deriving each state table from its own
recomputation would let task retries/speculation hand different inputs to
different commits. Materializing ``_gate_flags`` once means routed,
checkpoint, held and metrics all observe the SAME physical rows. A local
checkpoint is not recomputed from its lineage: a lost block fails the pass
before the CAS, and the retry starts over from the committed state. No
parse is cached: the gate and the ``rejects`` write each evaluate the UDF,
and both evaluations are pure functions of the same new files, so an
envelope the gate skips as malformed is exactly one the rejects member
records. The pass reads checkpoint, held and lineage at one state snapshot
and commits against that snapshot, so the CAS covers its whole
read-to-commit window: a rival commit that lands while the pass computes
fails the pass instead of being stacked on.

Cost: at small inputs a pass is bound by fixed per-job and per-task cost.
A warm pass over new chunks starts 11 Spark jobs on perfbench's
``resume_two_pass`` input: the gate's checkpoint and the commit's member
writes. It runs the parse UDF in two of them, the gate's and the
``rejects`` write's, each in one Python task per Arrow batch of new rows
(``maxRecordsPerBatch``, counted from the new files' footers), not one per
input file: a Python UDF task costs about 0.03 CPU-s of Python-worker time
before it reads a row (0.14 when the workers import pyspark from Spark's
zips, see ``worker_daemon``; measured on a 4-vCPU VM). The held chunks'
ages ride through the gate, so no join brings them back. Every read names the schema its
manifest recorded, so none starts a parquet schema-inference job, and the
lineage rows reach the JVM as Arrow and are written as one file.

Crash safety: the single TableGroup commit has NO duplicate-append window —
either its manifest was linked in (all tables advanced together; the retry
finds that input processed) or it wasn't (previous state fully visible; the
retry reprocesses the same chunks snapshot once; orphaned data dirs are
inert). The reference's own documented window between payload append and
``.lastSeq`` write (``DataPumpDecoderSort.java:48-51``) is thereby closed,
not just made detectable. Concurrent passes are excluded by the manifest
CAS (``tableio.ConcurrentCommitError``); the run_id column (= the group's
pass counter, carried unchanged through compactions and requeues) remains
as the audit/idempotency key.

Output invariant (tested in tests/test_job_resume.py): for every
(doc_id, session), the concatenation of routed token segments in run order
(ascending ``run_id``, a distinct value per pass) equals the single-run
reassembly of all chunks — byte-exact (the system invariant of the
reference's end-to-end test, ``README.md:93-104``).
"""

from __future__ import annotations

import argparse
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from .lineage import lineage_from_files
from .operators.parse import split_rejects
from .operators.reassemble import _gate_flags
from .plans.pipeline import after_gate
from .session import persistent_rdd_ids, unpersist_rdds
from .tableio import ConcurrentCommitError, SnapshotTable, TableGroup, file_rows, read_files


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
    retries: int = 0,
) -> dict:
    """See ``_run_job_once``. ``retries``: on ``ConcurrentCommitError``
    (another committer won the manifest CAS) re-read the group state and
    re-run the pass up to N more times — the loser's recomputation then
    stands on the winner's committed checkpoint, so work is neither lost
    nor doubled. 0 (default) = propagate immediately."""
    for attempt in range(retries + 1):
        try:
            return _run_job_once(
                spark, chunks_table, routes, state,
                held_max_age_runs=held_max_age_runs,
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
) -> dict:
    """One resumable pass. Returns a run summary dict.

    ``held_max_age_runs``: bound on the held cache. The reference's cache
    literally "grows" without bound when a gap is never filled
    (``datadecoder/README.md:13-15``); here each held chunk carries the
    run that first held it, and chunks older than N runs move to the
    ``quarantine`` member table (visible for audit/backfill) instead of
    being re-gated forever — the batch counterpart of the streaming state
    TTL. None (default) = keep forever (reference-faithful).

    The pass reads and records the one chunks snapshot ``increment``
    resolved, and stamps the next value of the group's pass counter as its
    ``run_id``. Lineage rows come from metadata alone (the manifests and the
    new files' parquet footers), so they cost no second scan of the input."""
    t_start = time.perf_counter()
    # the pass reads the state at one snapshot and commits against it
    read_snap = state.group.current_snapshot()
    ckpt_df = None
    if state.checkpoint.exists(read_snap):
        ckpt_df = state.checkpoint.read(spark, read_snap)
    has_held = state.held.exists(read_snap)
    lineage = state.group.lineage(read_snap)
    chunks_snap, new_files, schema = chunks_table.increment(lineage.get("chunks_snapshot"))
    if not new_files and not has_held:
        return {"run_id": None, "status": "no_new_data"}
    # the group's pass counter, +1 per pass and carried unchanged through
    # compactions and requeues: routed segments sort in run order by it, and
    # held chunks age by passes — not by chunk commits (several may land
    # between passes, ADVICE r2) nor by state commits
    run_id = lineage.get("run_id", 0) + 1

    # The gate's local checkpoint, the one thing this pass pins in executor
    # storage, is released in the ``finally`` below, on success, crash or
    # lost CAS alike. Scoped by RDD id: pins that predate the pass survive;
    # a session runs one pass at a time.
    pinned_before = persistent_rdd_ids(spark)
    try:
        # the new files' parquet footers, read once: they size the parse
        # below and are the lineage rows' counts
        new_file_rows = file_rows(new_files)
        parsed = None
        rejects = None
        if new_files:
            # dead-letter split: a malformed envelope parses to null fields
            # and the gate's null-evaluating predicates would silently drop
            # it — the reject stream makes corrupt input first-class data
            # instead (the reference logs-and-skips; parse.py:85-). The gate
            # and the rejects write each run the UDF, the latter over the
            # envelope column alone. Sized by rows, not files: a Python task
            # costs a fixed ~0.03 CPU-s before its first row, so the new
            # chunks are parsed in one task per Arrow batch of rows.
            # ``coalesce`` never splits, so a large input keeps its splits.
            parsed, rejects = split_rejects(read_files(spark, new_files, schema).coalesce(
                _parse_tasks(spark, sum(new_file_rows))
            ))
        if has_held:
            # held chunks carry ``first_held_run`` into the gate, which keeps
            # the least one among equal seqs; new chunks carry none
            held = state.held.read(spark, read_snap)
            parsed = (
                held if parsed is None
                else parsed.unionByName(held, allowMissingColumns=True)
            )

        # lineage over this pass's *new* input, from parquet footers and
        # the manifests — no second data scan (at 100 TB a lineage scan
        # doubles read I/O)
        lin = lineage_from_files(spark, new_files, new_file_rows)

        # ---- the ONE computation: gate decision, materialized ------------
        flagged = _gate_flags(parsed, ckpt_df).localCheckpoint(eager=True)
        out = after_gate(flagged, routes, ckpt_df)
        stamp = F.lit(run_id).cast("long")
        enriched = out.enriched.withColumn("run_id", stamp)

        # held cache with age tracking: a chunk held before keeps its
        # original first_held_run, carried through the gate; a newly-held
        # one is stamped with this pass.
        first_held = stamp
        if "first_held_run" in out.held.columns:
            first_held = F.coalesce(F.col("first_held_run"), first_held)
        held_full = out.held.withColumn("first_held_run", first_held)
        quarantined = None
        if held_max_age_runs is not None:
            too_old = F.col("first_held_run") <= F.lit(run_id - held_max_age_runs)
            quarantined = held_full.where(too_old).withColumn("quarantined_run", stamp)
            held_full = held_full.where(~too_old)

        wall = time.perf_counter() - t_start
        # one metrics file per pass: a few lineage rows need no more tasks
        summary_df = lin.withColumn("run_id", stamp).coalesce(1)

        # ---- ONE atomic commit covering all state tables -----------------
        tables = {
            "routed": (enriched, "append"),
            "checkpoint": (out.checkpoint_out, "overwrite"),
            "held": (held_full, "overwrite"),
            "metrics": (summary_df, "append"),
        }
        if rejects is not None:
            tables["rejects"] = (rejects.withColumn("run_id", stamp), "append")
        if quarantined is not None:
            tables["quarantine"] = (quarantined, "append")
        snap = state.group.commit(
            tables,
            lineage={"run_id": run_id, "chunks_snapshot": chunks_snap, "wall_sec": wall},
            parent=read_snap,
        )
    finally:
        unpersist_rdds(spark, exclude=pinned_before)

    return {
        "run_id": run_id,
        "status": "ok",
        "wall_sec": round(time.perf_counter() - t_start, 3),
        "sink_counts": _committed_sink_counts(state.routed.added_files(snap)),
        "rejects": (
            sum(file_rows(state.rejects.added_files(snap)))
            if rejects is not None else 0
        ),
        "held": sum(file_rows(state.held.added_files(snap))),
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


def _parse_tasks(spark: SparkSession, rows: int) -> int:
    """Tasks for parsing ``rows`` new chunks: one per Arrow batch
    (``spark.sql.execution.arrow.maxRecordsPerBatch``), at least one."""
    batch = int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
    return max(1, -(-rows // batch))


def requeue_quarantine(spark: SparkSession, state: JobState) -> int:
    """Backfill: move every quarantined chunk back into the held cache so
    the next pass re-gates it — the operator a deployment runs after the
    root cause of a permanent gap is fixed (the missing chunks finally
    shipped, or the source was re-exported). One atomic TableGroup commit:
    held gains the rows (their age reset to the next pass, so they don't
    instantly re-quarantine), quarantine empties; the lineage carries the
    last pass's ``run_id`` and ``chunks_snapshot`` forward. Returns rows
    moved."""
    read_snap = state.group.current_snapshot()
    if not state.quarantine.exists(read_snap):
        return 0
    q = state.quarantine.read(spark, read_snap)
    n = q.count()
    if n == 0:
        return 0
    next_run = state.group.lineage(read_snap)["run_id"] + 1
    requeued = q.select(
        "doc_id", "session", "seq", "chunk_tokens", "source"
    ).withColumn("first_held_run", F.lit(next_run).cast("long"))
    if state.held.exists(read_snap):
        held = state.held.read(spark, read_snap)
        requeued = held.select(*requeued.columns).unionByName(requeued)
    empty_q = spark.createDataFrame([], schema=q.schema)
    state.group.commit(
        {"held": (requeued, "overwrite"), "quarantine": (empty_q, "overwrite")},
        lineage={"requeued_quarantine_rows": n},
        parent=read_snap,
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
