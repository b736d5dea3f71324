"""Resumable batch job — the ``spark-submit`` entrypoint tying the pipeline
to the snapshot-table storage layer.

Each invocation is one "directory pass" of the reference decoder
(``/root/reference/datadecoder/.../DataPumpDecoderSort.java:103-181``),
promoted to a cluster batch job:

1. read NEW chunk rows (incremental scan of the chunks table since the last
   processed snapshot) plus the HELD cache (chunks previous runs could not
   consume — the reference's "cache grows" files, ``datadecoder/README.md:13-15``),
2. run parse → gate against the persisted checkpoint table
   (``SequenceTracker`` analog) and MATERIALIZE the gate decision once to a
   staging snapshot,
3. derive routed output, new checkpoint, new held cache and metrics from
   that one materialized result, and commit all four in ONE atomic
   TableGroup manifest swap,
4. return the per-sink counts read with pyarrow from the routed files that
   commit added — exactly what was published, at no Spark job.

Consistency: the gate plan contains an ``asNondeterministic`` Arrow UDF and
order-sensitive tie-breaks, so deriving each state table from its own
recomputation would let task retries/speculation hand different inputs to
different commits. Materializing ``_gate_flags`` once means routed,
checkpoint, held and metrics all observe the SAME physical rows — and the
pass reads the parse output once instead of 4-5 times.

Cost: at small inputs a pass is bound by fixed per-job cost. A warm pass
over new chunks starts 14 Spark jobs on perfbench's ``resume_two_pass``
input, all of them run by the gate's staging write and the commit's member
writes. Every read names the schema its manifest (or the gate DataFrame)
recorded, so none starts a parquet schema-inference job, and the lineage
rows reach the JVM as Arrow.

Crash safety: the single TableGroup commit has NO duplicate-append window —
either the CURRENT swap happened (all four tables advanced together) or it
didn't (previous state fully visible; the retry reprocesses the same chunks
snapshot once; orphaned staging/data dirs are inert). The reference's own
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
import os
import time
import uuid

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from .lineage import lineage_from_files, lineage_records
from .operators.enrich import enrich
from .operators.reassemble import (
    _gate_flags,
    held_from_flags,
    reassemble_from_flags,
)
from .tableio import SnapshotTable, TableGroup


_STAGING_STALE_SEC = 24 * 3600


def _sweep_stale_staging(staging_root: str) -> None:
    """Reclaim staging dirs a crashed pass left behind. Age-guarded (like
    Iceberg's remove_orphan_files): a dir younger than the threshold may
    belong to a live concurrent pass, so only clearly-abandoned ones go."""
    import shutil

    try:
        entries = os.listdir(staging_root)
    except FileNotFoundError:
        return
    cutoff = time.time() - _STAGING_STALE_SEC
    for name in entries:
        path = os.path.join(staging_root, name)
        try:
            if os.path.getmtime(path) < cutoff:
                shutil.rmtree(path, ignore_errors=True)
        except OSError:
            continue


class JobState:
    """The state a deployment owns, rooted at ``state_dir``: one TableGroup
    holding routed/checkpoint/held/metrics (committed atomically together)
    plus a staging area for the per-pass materialized gate output."""

    def __init__(self, state_dir: str) -> None:
        self.group = TableGroup(f"{state_dir}/group")
        self.routed = self.group.table("routed")
        self.checkpoint = self.group.table("checkpoint")
        self.held = self.group.table("held")
        self.metrics = self.group.table("metrics")
        self.quarantine = self.group.table("quarantine")
        self.rejects = self.group.table("rejects")
        self.staging_root = f"{state_dir}/staging"


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

    from .operators.parse import split_rejects

    parsed_parts = []
    rejects = None
    if new_chunks is not None:
        # dead-letter split: a malformed envelope parses to null fields and
        # the gate's null-evaluating predicates would silently drop it —
        # the reject stream makes corrupt input first-class data instead
        # (the reference logs-and-skips; parse.py:85-).
        ok, rejects = split_rejects(new_chunks)
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
    # age unit for the held cache: the group's own pass counter (one commit
    # per pass ⇒ +1 per run_job), NOT the chunks snapshot id — multiple
    # chunk-table commits between passes would otherwise age a held chunk
    # several "runs" in one pass (ADVICE r2).
    pass_id = (state.group.current_snapshot() or 0) + 1

    # ---- the ONE computation: gate decision, materialized ----------------
    _sweep_stale_staging(state.staging_root)
    staging = f"{state.staging_root}/{uuid.uuid4().hex}"
    gate = _gate_flags(parsed, ckpt_df)
    gate.write.mode("overwrite").parquet(staging)
    flagged = spark.read.schema(gate.schema).parquet(staging)

    reassembled = reassemble_from_flags(flagged)
    enriched = enrich(reassembled, routes).withColumn(
        "run_id", F.lit(run_id).cast("long")
    )

    # held cache with age tracking: a chunk held before keeps its original
    # first_held_run (in group-pass units); a newly-held one is stamped with
    # this pass. Broadcast the carry-forward join only when the cache is
    # BOUNDED (held_max_age_runs set): with the unbounded default the held
    # table is exactly the one documented as growing without limit, and
    # force-broadcasting it risks driver OOM at scale — let AQE choose.
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

    # checkpoint merge: streams that emitted this run advance; the rest keep
    # their old state. Broadcast-friendly (one row per live stream).
    new_ckpt = reassembled.selectExpr(
        "doc_id", "session", "cast(last_seq_out as long) as last_seq"
    )
    if ckpt_df is not None:
        keep = ckpt_df.join(
            new_ckpt.select("doc_id", "session"), ["doc_id", "session"],
            "left_anti",
        )
        new_ckpt = new_ckpt.unionByName(keep)

    wall = time.perf_counter() - t_start
    summary_df = lin.withColumn("run_id", F.lit(run_id).cast("long"))

    # ---- ONE atomic commit covering all state tables ---------------------
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
    try:
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
        # the staging snapshot is pass-local scratch: committed data was
        # rewritten into the group's data dirs, and a failed/aborted commit
        # abandons the pass — either way the dir is garbage once every
        # plan rooted on it has executed (ADVICE r2: staging sits outside
        # the group root, so orphan GC never reclaims it).
        import shutil

        shutil.rmtree(staging, ignore_errors=True)

    return {
        "run_id": run_id,
        "status": "ok",
        "wall_sec": round(time.perf_counter() - t_start, 3),
        "sink_counts": _committed_sink_counts(state.routed.added_files(snap)),
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
    p.add_argument("--state", required=True, help="state dir (group/staging)")
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
