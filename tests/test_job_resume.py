"""Resumable-job oracles (SURVEY.md §5.2 item 5 + §7 hard part 1).

The system invariant (reference's end-to-end golden test, README.md:93-104):
after any sequence of incremental passes, the per-(doc_id, session)
concatenation of routed token segments in run order equals the single-run
reassembly of all chunks — and the final checkpoint/held state matches.
"""

from __future__ import annotations

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from log_aggregator_spark import chunker
from log_aggregator_spark.job import JobState, run_job
from log_aggregator_spark.operators.parse import encode_envelope
from log_aggregator_spark.plans.pipeline import run_pipeline
from log_aggregator_spark.tableio import SnapshotTable

from conftest import SF_DIR


@pytest.fixture()
def docs(spark):
    return chunker.load_documents(spark, SF_DIR)


def _routes(docs):
    return chunker.routes_table(docs)


def _segments(state: JobState, spark) -> pd.DataFrame:
    """Concatenate routed token segments per stream in run order."""
    routed = state.routed.read(spark)
    return (
        routed.groupBy("doc_id", "session")
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("run_id", "tokens"))),
                    lambda s: s["tokens"],
                )
            ).alias("tokens"),
            F.first("source").alias("source"),
            F.first("sink").alias("sink"),
        )
        .toPandas()
        .sort_values(["doc_id", "session"])
        .reset_index(drop=True)
    )


def _job_ids(spark) -> set[int]:
    """Ids of the Spark jobs the status store has recorded so far, once the
    listener bus has delivered every event already posted."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    jobs = sc.statusStore().jobsList(None)
    return {jobs.apply(i).jobId() for i in range(jobs.size())}


def _execution_ids(spark) -> set[int]:
    """Ids of the SQL executions the status store has recorded so far."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    return {execs.apply(i).executionId() for i in range(execs.size())}


def _parse_executions(spark, since: set[int]) -> list[int]:
    """SQL executions after ``since`` in which an ``ArrowEvalPython`` node
    (the parse UDF) reported output rows. A plan that reads a cached
    relation prints the relation's plan, UDF included, but its own tasks
    never run that node, so its row metric stays unset or 0 there."""
    store = spark._jsparkSession.sharedState().statusStore()
    hits = []
    for eid in sorted(_execution_ids(spark) - since):
        values = {}
        it = store.executionMetrics(eid).iterator()
        while it.hasNext():
            kv = it.next()
            values[kv._1()] = kv._2()
        nodes = store.planGraph(eid).allNodes()
        for i in range(nodes.size()):
            node = nodes.apply(i)
            if "ArrowEvalPython" not in node.name():
                continue
            metrics = node.metrics()
            for j in range(metrics.size()):
                m = metrics.apply(j)
                rows = values.get(m.accumulatorId(), "0").replace(",", "")
                if m.name() == "number of output rows" and int(rows) > 0:
                    hits.append(eid)
    return hits


def _parse_stage_tasks(spark, eid: int) -> dict[int, int]:
    """Tasks per stage of SQL execution ``eid`` that ran the parse UDF: a
    stage whose RDD graph holds an ``ArrowEvalPython`` scope and that was
    not skipped. (A later job of the execution lists the shuffle-map stage
    that parsed again, as skipped.)"""
    app = spark.sparkContext._jsc.sc().statusStore()
    store = spark._jsparkSession.sharedState().statusStore()

    def scopes(cluster) -> set[str]:
        names = set()
        children = cluster.childClusters()
        for i in range(children.size()):
            names.add(children.apply(i).name())
            names |= scopes(children.apply(i))
        return names

    tasks = {}
    it = store.execution(eid).get().stages().iterator()
    while it.hasNext():
        sid = it.next()
        names = scopes(app.operationGraphForStage(sid).rootCluster())
        stage = app.lastStageAttempt(sid)
        if "ArrowEvalPython" in names and stage.status().toString() != "SKIPPED":
            tasks[sid] = stage.numCompleteTasks()
    return tasks


def _pinned(spark) -> tuple[set[int], bool]:
    """RDDs pinned in executor storage, and whether the session's cache
    manager holds nothing."""
    from log_aggregator_spark.session import persistent_rdd_ids

    cache_empty = spark._jsparkSession.sharedState().cacheManager().isEmpty()
    return persistent_rdd_ids(spark), cache_empty


def _small_input(spark, tmp_path):
    """A chunks table with two good chunks of stream ``d`` and one
    malformed envelope, routes, and an empty state."""
    good = spark.createDataFrame(
        [("d", 10, 1, [1], "src1"), ("d", 10, 2, [2], "src1")],
        schema="doc_id string, session long, seq long, chunk_tokens array<int>, source string",
    )
    corrupt = spark.createDataFrame(
        [("totally-garbage", [7], "src1")],
        schema="envelope string, chunk_tokens array<int>, source string",
    )
    chunks = encode_envelope(good).select("envelope", "chunk_tokens", "source")
    routes = spark.createDataFrame(
        [("src1", "sinkA", 0)], schema="source string, sink string, priority int"
    )
    ct = SnapshotTable(str(tmp_path / "chunks"))
    ct.commit(chunks.unionByName(corrupt))
    return ct, routes, JobState(str(tmp_path / "state"))


def _routed_counts(state: JobState, spark, run_id) -> dict:
    """Per-sink counts of the routed rows committed under ``run_id``."""
    rows = (
        state.routed.read(spark).where(F.col("run_id") == run_id)
        .groupBy("sink").count().collect()
    )
    return {r["sink"]: r["count"] for r in rows}


def test_manifest_schema_reads_latest_columns(spark, tmp_path):
    """Reads take the schema the latest manifest recorded, not one inferred
    from a parquet footer: after a second append gains a column, the read
    has that column, null in the older file, for a SnapshotTable and a
    TableGroup member alike — and building the read starts no Spark job."""
    from log_aggregator_spark.tableio import TableGroup

    old = spark.createDataFrame([(1,)], schema="k long")
    new = spark.createDataFrame([(2, "x")], schema="k long, extra string")
    t = SnapshotTable(str(tmp_path / "t"))
    s1 = t.commit(old)
    t.commit(new)
    g = TableGroup(str(tmp_path / "g"))
    g.commit({"m": (old, "append")})
    g.commit({"m": (new, "append")})

    before = _job_ids(spark)
    reads = [t.read(spark), t.read_incremental(spark, None), g.table("m").read(spark)]
    assert _job_ids(spark) == before
    for df in reads:
        assert df.columns == ["k", "extra"]
        assert sorted(map(tuple, df.collect())) == [(1, None), (2, "x")]
    delta = t.read_incremental(spark, s1)
    assert delta.columns == ["k", "extra"] and delta.collect() == [(2, "x")]


def test_tableio_snapshot_commit_and_incremental(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    df1 = spark.range(5).select(F.col("id").alias("x"))
    df2 = spark.range(5, 8).select(F.col("id").alias("x"))
    s1 = t.commit(df1)
    s2 = t.commit(df2)
    assert (s1, s2) == (1, 2)
    assert t.read(spark).count() == 8
    assert t.read(spark, snapshot=1).count() == 5
    inc = t.read_incremental(spark, since=1)
    assert inc is not None and sorted(r["x"] for r in inc.collect()) == [5, 6, 7]
    assert t.read_incremental(spark, since=2) is None
    # overwrite replaces visible state, keeps history
    t.commit(df1, mode="overwrite", lineage={"mark": 42})
    assert t.read(spark).count() == 5
    assert t.lineage()["mark"] == 42


def test_two_pass_job_equals_single_run(spark, docs, tmp_path):
    """Split the chunk corpus into two snapshots; two job passes must
    reproduce the one-shot pipeline byte-exactly."""
    chunks = chunker.chunks(docs)
    routes = _routes(docs)

    # Prefix-respecting split (agent ships oldest-first): per stream, seqs
    # ≤ 2 arrive in snapshot 1, the rest in snapshot 2. A hash split would
    # be a DIFFERENT (also valid) history: the init rule accepts any first
    # seq when state is empty, so a batch that starts mid-stream changes
    # the output exactly as it would in the reference — that case is
    # covered by test_midstream_init_across_runs below.
    seq = F.regexp_extract("envelope", r"_(\d+)\.pbData$", 1).cast("long")
    batch1 = chunks.where(seq <= 2)
    batch2 = chunks.where(seq > 2)

    ct = SnapshotTable(str(tmp_path / "chunks"))
    state = JobState(str(tmp_path / "state"))

    ct.commit(batch1)
    r1 = run_job(spark, ct, routes, state)
    assert r1["status"] == "ok"
    ct.commit(batch2)
    r2 = run_job(spark, ct, routes, state)
    assert r2["status"] == "ok" and r2["run_id"] != r1["run_id"]

    got = _segments(state, spark)

    want = (
        run_pipeline(chunks, routes, checkpoint=None)
        .reassembled.select("doc_id", "session", "tokens", "source")
        .toPandas()
        .sort_values(["doc_id", "session"])
        .reset_index(drop=True)
    )
    assert len(got) == len(want)
    pd.testing.assert_frame_equal(
        got[["doc_id", "session", "tokens"]].reset_index(drop=True),
        want[["doc_id", "session", "tokens"]].reset_index(drop=True),
    )

    # final checkpoint equals the one-shot checkpoint_out
    final_ckpt = (
        state.checkpoint.read(spark).toPandas()
        .sort_values(["doc_id", "session"]).reset_index(drop=True)
    )
    want_ckpt = (
        run_pipeline(chunks, routes).checkpoint_out.toPandas()
        .sort_values(["doc_id", "session"]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(final_ckpt, want_ckpt, check_dtype=False)

    # held state: same streams/seqs as the one-shot held set
    held = state.held.read(spark).select("doc_id", "session", "seq")
    want_held = run_pipeline(chunks, routes).held.select("doc_id", "session", "seq")
    assert sorted(map(tuple, held.collect())) == sorted(
        map(tuple, want_held.collect())
    )


def test_resume_pass_job_budget(spark, docs, tmp_path):
    """A resume pass pays a fixed cost per Spark job, so its job count is a
    budget. On this input the second pass started 25 jobs while the counts
    were recomputed from staging and every read inferred its schema from
    parquet footers; with counts read from the committed files, schemas
    from the manifests and lineage rows sent as Arrow it started 15. With
    the gate held in a local checkpoint instead of a parquet staging copy,
    and the checkpoint member merged in one aggregate, it started 14. With
    the held chunks' ages carried through the gate instead of joined back
    in their own broadcast job, it started 13. With the parse no longer
    cached (the rejects write parses the envelopes again), it starts 12.
    A change that brings back a recount, an inferred read, a second
    reassembly aggregate or a held-age join fails here."""
    chunks = chunker.chunks(docs)
    routes = _routes(docs)
    seq = F.regexp_extract("envelope", r"_(\d+)\.pbData$", 1).cast("long")
    ct = SnapshotTable(str(tmp_path / "chunks"))
    state = JobState(str(tmp_path / "state"))
    ct.commit(chunks.where(seq <= 2))
    run_job(spark, ct, routes, state)
    ct.commit(chunks.where(seq > 2))

    before = _job_ids(spark)
    r = run_job(spark, ct, routes, state)
    n_jobs = len(_job_ids(spark) - before)
    assert r["status"] == "ok" and r["sink_counts"]
    assert n_jobs <= 12, f"second pass started {n_jobs} Spark jobs"


def _plan_text(spark, eid: int) -> str:
    """The physical plan of SQL execution ``eid``, as the status store keeps it."""
    store = spark._jsparkSession.sharedState().statusStore()
    return store.execution(eid).get().physicalPlanDescription()


def test_resume_pass_parses_once(spark, tmp_path):
    """One pass evaluates the parse UDF in exactly two Spark executions:
    the gate's materialization and the ``rejects`` write, which reads the
    envelopes alone. No other member write runs it: routed, checkpoint and
    held read the materialized gate. While the parse was cached it ran in
    one execution, but the cache held every new chunk with its payload to
    save one Python task of about 0.03 CPU-s."""
    ct, routes, state = _small_input(spark, tmp_path)
    before = _execution_ids(spark)
    assert run_job(spark, ct, routes, state)["status"] == "ok"
    hits = _parse_executions(spark, before)
    assert len(hits) == 2, f"parse UDF ran in executions {hits}"
    (rejects_file,) = state.group.snapshot().added_files("rejects")
    plans = [_plan_text(spark, eid) for eid in hits]
    writes = [p for p in plans if "InsertIntoHadoopFsRelationCommand" in p]
    assert len(writes) == 1 and os.path.dirname(rejects_file) in writes[0]
    (gate,) = [p for p in plans if p not in writes]
    assert "Window" in gate
    assert state.rejects.read(spark).count() == 1


def test_resume_pass_parses_in_one_task(spark, tmp_path):
    """The new chunks are parsed in one Python task per Arrow batch of
    rows, not one per input file: a Python UDF task costs about 0.2 CPU-s
    before its first row. The three chunk rows here sit in four files
    (one of them empty), which gave four parse tasks. Each of the two
    executions that parse (the gate's and the rejects write's) runs one
    task. The pass also writes its lineage rows as one ``metrics`` file,
    not one per input file."""
    ct, routes, state = _small_input(spark, tmp_path)
    assert len(ct.incremental_files(None)) > 1
    before = _execution_ids(spark)
    assert run_job(spark, ct, routes, state)["status"] == "ok"
    hits = _parse_executions(spark, before)
    assert len(hits) == 2
    for eid in hits:
        tasks = _parse_stage_tasks(spark, eid)
        assert list(tasks.values()) == [1], f"parse tasks per stage: {tasks}"
    assert len(state.group.snapshot().added_files("metrics")) == 1
    assert state.metrics.read(spark).count() == len(ct.incremental_files(None))


def test_repeated_pass_compiles_no_code(spark, docs, tmp_path):
    """A pass repeated from the same saved state generates the same code,
    and the session's codegen cache holds all of it: the repeat compiles
    nothing. With Spark's default 100-entry cache the repeats here
    recompiled 24 and 25 classes; how many depends on the order in which
    the concurrent member writes reach the cache, and so did the pass's
    CPU time."""
    import shutil

    chunks = chunker.chunks(docs)
    routes = _routes(docs)
    seq = F.regexp_extract("envelope", r"_(\d+)\.pbData$", 1).cast("long")
    live, saved = tmp_path / "live", tmp_path / "saved"
    ct = SnapshotTable(str(live / "chunks"))
    state = JobState(str(live / "state"))
    ct.commit(chunks.where(seq <= 2))
    run_job(spark, ct, routes, state)
    ct.commit(chunks.where(seq > 2))
    shutil.copytree(live, saved)

    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    counts = []
    for _ in range(3):
        shutil.rmtree(live)
        shutil.copytree(saved, live)
        before = compiles.getCount()
        assert run_job(spark, ct, routes, state)["status"] == "ok"
        counts.append(compiles.getCount() - before)
    assert counts[-1] == 0, f"compiles per repeated pass: {counts}"


def _plan_nodes(spark, eid: int) -> list[str]:
    """Names of the nodes of SQL execution ``eid``'s final physical plan."""
    nodes = spark._jsparkSession.sharedState().statusStore().planGraph(eid).allNodes()
    return [nodes.apply(i).name() for i in range(nodes.size())]


def test_checkpoint_join_follows_the_broadcast_threshold(spark, docs, tmp_path):
    """The gate joins the checkpoint member as the planner chooses from its
    files' size. With both broadcast thresholds off, a warm pass's gate
    plans no broadcast: the join shuffles each side once and the window
    reuses that partitioning. The pass commits the same rows as at the
    default thresholds, where the small checkpoint is broadcast. A forced
    broadcast would fail every pass once the checkpoint passes Spark's
    broadcast row or byte cap."""
    chunks = chunker.chunks(docs)
    routes = _routes(docs)
    seq = F.regexp_extract("envelope", r"_(\d+)\.pbData$", 1).cast("long")
    ct = SnapshotTable(str(tmp_path / "chunks"))
    default, no_bc = JobState(str(tmp_path / "default")), JobState(str(tmp_path / "no_bc"))
    ct.commit(chunks.where(seq <= 2))
    run_job(spark, ct, routes, default)
    run_job(spark, ct, routes, no_bc)
    ct.commit(chunks.where(seq > 2))

    def gate_nodes(since):
        (gate,) = [
            eid for eid in _parse_executions(spark, since)
            if "InsertIntoHadoopFsRelationCommand" not in _plan_text(spark, eid)
        ]
        return _plan_nodes(spark, gate)

    before = _execution_ids(spark)
    assert run_job(spark, ct, routes, default)["status"] == "ok"
    assert "BroadcastHashJoin" in gate_nodes(before)  # a small checkpoint

    keys = (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    )
    saved = {k: spark.conf.get(k, None) for k in keys}
    before = _execution_ids(spark)
    try:
        for k in keys:
            spark.conf.set(k, "-1")
        assert run_job(spark, ct, routes, no_bc)["status"] == "ok"
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    nodes = gate_nodes(before)
    assert "Window" in nodes
    assert "BroadcastHashJoin" not in nodes and "SortMergeJoin" in nodes, nodes
    assert nodes.count("Exchange") <= 2, nodes

    for member in ("routed", "checkpoint", "held"):
        want = default.group.table(member).read(spark)
        got = no_bc.group.table(member).read(spark)
        assert got.count() == want.count() and got.exceptAll(want).count() == 0, member


def test_sink_counts_are_the_committed_routed_rows(spark, tmp_path):
    """run_job's sink counts equal the per-sink counts of the routed rows it
    committed for its run_id — over a chunks table with malformed envelopes
    and two sinks, and as {} for a pass that routes nothing because every
    chunk it sees is held behind a gap."""
    schema = "doc_id string, session long, seq long, chunk_tokens array<int>, source string"
    good = spark.createDataFrame(
        [("d", 10, 1, [1], "src1"), ("d", 10, 2, [2], "src1"),
         ("e", 10, 1, [5], "src2"), ("f", 11, 1, [6], "src2")],
        schema=schema,
    )
    corrupt = spark.createDataFrame(
        [("totally-garbage", [7], "src1")],
        schema="envelope string, chunk_tokens array<int>, source string",
    )
    routes = spark.createDataFrame(
        [("src1", "sinkA", 0), ("src2", "sinkB", 0)],
        schema="source string, sink string, priority int",
    )
    ct = SnapshotTable(str(tmp_path / "chunks"))
    state = JobState(str(tmp_path / "state"))
    ct.commit(encode_envelope(good).select("envelope", "chunk_tokens", "source")
              .unionByName(corrupt))
    r1 = run_job(spark, ct, routes, state)
    assert state.rejects.read(spark).count() == 1
    assert r1["sink_counts"] == _routed_counts(state, spark, r1["run_id"])
    assert r1["sink_counts"] == {"sinkA": 1, "sinkB": 2}

    # seq 4 of stream d arrives without seq 3: held, nothing routed
    ct.commit(encode_envelope(spark.createDataFrame(
        [("d", 10, 4, [4], "src1")], schema=schema,
    )).select("envelope", "chunk_tokens", "source"))
    r2 = run_job(spark, ct, routes, state)
    assert r2["status"] == "ok" and r2["sink_counts"] == {}
    assert _routed_counts(state, spark, r2["run_id"]) == {}
    assert state.held.read(spark).count() == 1


def test_gap_fill_across_runs(spark, tmp_path):
    """A gap in run 1 is filled by run 2 → the suffix is emitted exactly
    once, in run 2 (SequenceTracker + cache-grows semantics)."""
    pdf = pd.DataFrame(
        {
            "doc_id": ["d"] * 4,
            "session": [10] * 4,
            "seq": [1, 2, 4, 3],
            "chunk_tokens": [[1], [2], [4], [3]],
            "source": ["src1"] * 4,
        }
    )
    full = spark.createDataFrame(
        pdf, schema="doc_id string, session long, seq long, chunk_tokens array<int>, source string"
    )
    routes = spark.createDataFrame(
        [("src1", "sinkA", 0)], schema="source string, sink string, priority int"
    )
    ct = SnapshotTable(str(tmp_path / "chunks"))
    state = JobState(str(tmp_path / "state"))

    ct.commit(encode_envelope(full.where(F.col("seq") != 3)).select(
        "envelope", "chunk_tokens", "source"))
    r1 = run_job(spark, ct, routes, state)
    seg1 = state.routed.read(spark).toPandas()
    assert [list(t) for t in seg1["tokens"]] == [[1, 2]]  # seq 4 held behind the gap

    ct.commit(encode_envelope(full.where(F.col("seq") == 3)).select(
        "envelope", "chunk_tokens", "source"))
    r2 = run_job(spark, ct, routes, state)
    seg2 = state.routed.read(spark).toPandas()
    seg2 = seg2[seg2["run_id"] == r2["run_id"]]
    assert [list(t) for t in seg2["tokens"]] == [[3, 4]]  # gap filled → suffix once

    # nothing held, checkpoint at 4
    assert state.held.read(spark).count() == 0
    ck = state.checkpoint.read(spark).collect()
    assert len(ck) == 1 and ck[0]["last_seq"] == 4

    # idempotent third pass: no new data → no output, no snapshot
    snap = state.group.current_snapshot()
    r3 = run_job(spark, ct, routes, state)
    assert r3["status"] == "no_new_data"
    assert state.group.current_snapshot() == snap
    seg3 = state.routed.read(spark)
    assert seg3.count() == 2  # unchanged


def test_idle_poll_publishes_nothing(spark, tmp_path):
    """A poll that finds no new chunks publishes nothing and starts no Spark
    job, with nothing held and with a held chunk but no age limit: re-gating
    the held chunk alone against the committed checkpoint cannot accept it.
    With an age limit the pass still runs, so the held chunk ages out."""
    routes = spark.createDataFrame(
        [("src1", "sinkA", 0)], schema="source string, sink string, priority int"
    )
    for name, seqs in (("none_held", [1, 2]), ("one_held", [1, 2, 5])):
        ct = SnapshotTable(str(tmp_path / name / "chunks"))
        state = JobState(str(tmp_path / name / "state"))
        ct.commit(_one_stream(spark, seqs))
        assert run_job(spark, ct, routes, state)["status"] == "ok"
        snap = state.group.current_snapshot()
        jobs = _job_ids(spark)
        r = run_job(spark, ct, routes, state)
        assert r == {"run_id": None, "status": "no_new_data"}, (name, r)
        assert _job_ids(spark) == jobs, name
        assert state.group.current_snapshot() == snap, name

    r = run_job(spark, ct, routes, state, held_max_age_runs=1)
    assert r["status"] == "ok" and r["held"] == 0
    assert [row["seq"] for row in state.quarantine.read(spark).collect()] == [5]
    assert state.group.current_snapshot() == snap + 1


def test_idle_poll_moves_cursor_past_chunks_maintenance(spark, tmp_path):
    """Compactions of the chunks table during a quiet period add no files,
    so the idle poll runs no pass, but it moves the lineage's
    ``chunks_snapshot`` forward in a zero-member commit that starts no Spark
    job. An expiry that keeps only the newest chunks snapshot then leaves
    the cursor in range, and the next pass routes only the new rows. When
    the idle poll committed nothing, that pass raised SnapshotExpiredError."""
    routes = spark.createDataFrame(
        [("src1", "sinkA", 0)], schema="source string, sink string, priority int"
    )
    ct = SnapshotTable(str(tmp_path / "chunks"))
    state = JobState(str(tmp_path / "state"))
    ct.commit(_one_stream(spark, [1, 2]))
    assert run_job(spark, ct, routes, state)["status"] == "ok"
    ct.compact(spark)
    compacted = ct.compact(spark)

    snap = state.group.current_snapshot()
    jobs = _job_ids(spark)
    assert run_job(spark, ct, routes, state) == {"run_id": None, "status": "no_new_data"}
    assert _job_ids(spark) == jobs
    assert state.group.current_snapshot() == snap + 1
    assert state.group.snapshot().lineage["chunks_snapshot"] == compacted
    # the poll again: the chunks table stood still, so nothing is published
    assert run_job(spark, ct, routes, state)["status"] == "no_new_data"
    assert state.group.current_snapshot() == snap + 1

    ct.expire_snapshots(keep_last=1)
    ct.commit(_one_stream(spark, [3]))
    r = run_job(spark, ct, routes, state)
    assert r["status"] == "ok" and r["sink_counts"] == {"sinkA": 1}
    assert [list(t) for t in _segments(state, spark)["tokens"]] == [[1, 2, 3]]


def test_midstream_init_across_runs(spark, tmp_path):
    """If the first batch starts mid-stream (seq 3), the init rule anchors
    there — a later batch delivering seqs 1-2 must be treated as stale
    (DataPumpDecoderSort.java:167-174: last==0 accepts ANY first seq; after
    that, 1-2 < last are consumed-or-stale)."""
    pdf = pd.DataFrame(
        {
            "doc_id": ["d"] * 4,
            "session": [10] * 4,
            "seq": [3, 4, 1, 2],
            "chunk_tokens": [[3], [4], [1], [2]],
            "source": ["src1"] * 4,
        }
    )
    full = spark.createDataFrame(
        pdf, schema="doc_id string, session long, seq long, chunk_tokens array<int>, source string"
    )
    routes = spark.createDataFrame(
        [("src1", "sinkA", 0)], schema="source string, sink string, priority int"
    )
    ct = SnapshotTable(str(tmp_path / "chunks"))
    state = JobState(str(tmp_path / "state"))

    ct.commit(encode_envelope(full.where(F.col("seq") >= 3)).select(
        "envelope", "chunk_tokens", "source"))
    run_job(spark, ct, routes, state)
    ct.commit(encode_envelope(full.where(F.col("seq") <= 2)).select(
        "envelope", "chunk_tokens", "source"))
    run_job(spark, ct, routes, state)

    got = _segments(state, spark)
    assert [list(t) for t in got["tokens"]] == [[3, 4]]
    ck = state.checkpoint.read(spark).collect()
    assert len(ck) == 1 and ck[0]["last_seq"] == 4
    assert state.held.read(spark).count() == 0


def test_crash_before_publish_leaves_no_partial_state(spark, tmp_path, monkeypatch):
    """Kill the job right before the TableGroup commit point: NOTHING is
    visible (no routed rows, no checkpoint advance); the retry processes
    the same chunks snapshot exactly once — no duplicate appends, no
    replayed run_id."""
    from log_aggregator_spark.tableio import TableGroup

    pdf = pd.DataFrame(
        {
            "doc_id": ["d"] * 3,
            "session": [10] * 3,
            "seq": [1, 2, 3],
            "chunk_tokens": [[1], [2], [3]],
            "source": ["src1"] * 3,
        }
    )
    full = spark.createDataFrame(
        pdf, schema="doc_id string, session long, seq long, chunk_tokens array<int>, source string"
    )
    routes = spark.createDataFrame(
        [("src1", "sinkA", 0)], schema="source string, sink string, priority int"
    )
    ct = SnapshotTable(str(tmp_path / "chunks"))
    state = JobState(str(tmp_path / "state"))
    ct.commit(encode_envelope(full).select("envelope", "chunk_tokens", "source"))

    real_publish = TableGroup._publish

    def crash(self, snap_id, manifest):
        raise RuntimeError("simulated crash before commit point")

    monkeypatch.setattr(TableGroup, "_publish", crash)
    with pytest.raises(RuntimeError, match="simulated crash"):
        run_job(spark, ct, routes, state)

    # commit point never reached → previous state (nothing) fully visible
    assert state.group.current_snapshot() is None
    assert not state.group.snapshot().members

    # retry with the crash removed: exactly-once output
    monkeypatch.setattr(TableGroup, "_publish", real_publish)
    r = run_job(spark, ct, routes, state)
    assert r["status"] == "ok"
    routed = state.routed.read(spark).toPandas()
    assert len(routed) == 1 and list(routed["tokens"].iloc[0]) == [1, 2, 3]
    assert routed["run_id"].nunique() == 1
    ck = state.checkpoint.read(spark).collect()
    assert len(ck) == 1 and ck[0]["last_seq"] == 3


def test_concurrent_commit_cas_fails_loudly(spark, tmp_path):
    """Two committers racing from the same parent: the loser gets
    ConcurrentCommitError instead of silently clobbering the winner."""
    from log_aggregator_spark.tableio import ConcurrentCommitError, TableGroup

    df = spark.range(3).select(F.col("id").alias("x"))

    t = SnapshotTable(str(tmp_path / "t"))
    t.commit(df)
    stale = SnapshotTable(str(tmp_path / "t"))
    stale.current_snapshot = lambda: None  # raced: read parent before commit 1
    with pytest.raises(ConcurrentCommitError):
        stale.commit(df)
    assert t.read(spark).count() == 3  # winner's snapshot intact

    g = TableGroup(str(tmp_path / "g"))
    g.commit({"a": (df, "overwrite")})
    stale_g = TableGroup(str(tmp_path / "g"))
    stale_g.current_snapshot = lambda: None
    with pytest.raises(ConcurrentCommitError):
        stale_g.commit({"a": (df, "overwrite")})
    assert g.table("a").read(spark).count() == 3


def test_standalone_table_crash_before_publish(spark, tmp_path, monkeypatch):
    """A standalone table commits through the group's one publish path:
    with ``TableGroup._publish`` failing, ``SnapshotTable.commit`` raises
    and the table still shows its previous snapshot and rows."""
    from log_aggregator_spark.tableio import TableGroup

    t = SnapshotTable(str(tmp_path / "t"))
    s1 = t.commit(spark.range(3).select(F.col("id").alias("x")))

    def crash(self, snap_id, manifest):
        raise RuntimeError("simulated crash before commit point")

    monkeypatch.setattr(TableGroup, "_publish", crash)
    with pytest.raises(RuntimeError, match="simulated crash"):
        t.commit(spark.range(3, 5).select(F.col("id").alias("x")))
    assert t.current_snapshot() == s1
    assert sorted(r["x"] for r in t.read(spark).collect()) == [0, 1, 2]


def test_run_job_retries_after_losing_commit_race(spark, tmp_path, monkeypatch):
    """run_job(retries=N): a committer that loses the manifest CAS re-runs
    the pass on the winner's committed state instead of dying. Simulated as
    a GENUINE race: a rival TableGroup commits from the same parent in the
    window between the loser's manifest build and its commit point."""
    from log_aggregator_spark.tableio import ConcurrentCommitError, TableGroup

    good = spark.createDataFrame(
        [("d", 10, 1, [1], "src1"), ("d", 10, 2, [2], "src1")],
        schema="doc_id string, session long, seq long, chunk_tokens array<int>, source string",
    )
    routes = spark.createDataFrame(
        [("src1", "sinkA", 0)], schema="source string, sink string, priority int"
    )
    ct = SnapshotTable(str(tmp_path / "chunks"))
    ct.commit(encode_envelope(good).select("envelope", "chunk_tokens", "source"))

    real_publish = TableGroup._publish

    def lose_race_once(self, snap_id, manifest):
        if not raced["done"]:
            raced["done"] = True
            rival = TableGroup(self.root)
            audit = spark.createDataFrame([("rival",)], schema="who string")
            rival.commit({"audit": (audit, "append")})
        return real_publish(self, snap_id, manifest)

    monkeypatch.setattr(TableGroup, "_publish", lose_race_once)

    # retries=0 (default): the loss propagates
    raced = {"done": False}
    state0 = JobState(str(tmp_path / "state0"))
    with pytest.raises(ConcurrentCommitError):
        run_job(spark, ct, routes, state0)

    # retries=1: the re-run stands on the winner's snapshot and succeeds
    raced = {"done": False}
    state = JobState(str(tmp_path / "state"))
    r = run_job(spark, ct, routes, state, retries=1)
    assert r["status"] == "ok"
    routed = state.routed.read(spark).collect()
    assert len(routed) == 1 and list(routed[0]["tokens"]) == [1, 2]
    # the rival's commit survived (snapshot 1) and the pass landed on top (2)
    assert state.group.current_snapshot() == 2
    assert state.group.table("audit").read(spark).count() == 1


def _one_stream(spark, seqs):
    """Envelopes of stream ``d`` session 10, chunk ``i`` holding ``[i]``."""
    rows = [("d", 10, i, [i], "src1") for i in seqs]
    return encode_envelope(spark.createDataFrame(
        rows,
        schema="doc_id string, session long, seq long, chunk_tokens array<int>, source string",
    )).select("envelope", "chunk_tokens", "source")


def test_crash_after_commit_point_next_pass_commits(spark, tmp_path, monkeypatch):
    """Kill the pass right after its manifest is linked in, before the
    commit returns. The linked manifest IS the commit: the group shows the
    pass, the next pass commits on top of it, and the routed rows equal the
    single-run reassembly with nothing duplicated or lost."""
    routes = spark.createDataFrame(
        [("src1", "sinkA", 0)], schema="source string, sink string, priority int"
    )
    ct = SnapshotTable(str(tmp_path / "chunks"))
    state = JobState(str(tmp_path / "state"))
    ct.commit(_one_stream(spark, [1, 2]))
    run_job(spark, ct, routes, state)
    ct.commit(_one_stream(spark, [3, 4]))

    real_link = os.link

    def link_then_crash(src, dst):
        real_link(src, dst)
        raise RuntimeError("simulated crash after the commit point")

    monkeypatch.setattr(os, "link", link_then_crash)
    with pytest.raises(RuntimeError, match="simulated crash"):
        run_job(spark, ct, routes, state)
    monkeypatch.setattr(os, "link", real_link)
    assert state.group.current_snapshot() == 2
    assert state.checkpoint.read(spark).collect()[0]["last_seq"] == 4

    ct.commit(_one_stream(spark, [5]))
    assert run_job(spark, ct, routes, state)["status"] == "ok"
    routed = state.routed.read(spark).toPandas()
    assert not routed.duplicated(["doc_id", "session", "run_id"]).any()
    assert [list(t) for t in _segments(state, spark)["tokens"]] == [[1, 2, 3, 4, 5]]
    assert all(
        n.startswith("snap-") for n in os.listdir(tmp_path / "state" / "group" / "manifests")
    )


def test_rival_pass_during_compute_loses_the_cas(spark, tmp_path, monkeypatch):
    """A rival pass over the same state commits while this pass computes,
    after its reads and before its commit. The pass commits against the
    snapshot it read, so it loses the CAS instead of stacking a second copy
    of the rival's routed rows; with ``retries=1`` it re-reads the rival's
    state, finds the input consumed and routes nothing twice."""
    from log_aggregator_spark.tableio import ConcurrentCommitError, TableGroup

    routes = spark.createDataFrame(
        [("src1", "sinkA", 0)], schema="source string, sink string, priority int"
    )
    ct = SnapshotTable(str(tmp_path / "chunks"))
    ct.commit(_one_stream(spark, [1, 2]))

    real_commit = TableGroup.commit
    rival = {"state": None}

    def rival_first(self, tables, lineage=None, **kwargs):
        st, rival["state"] = rival["state"], None
        if st is not None:
            run_job(spark, ct, routes, JobState(st))
        return real_commit(self, tables, lineage, **kwargs)

    monkeypatch.setattr(TableGroup, "commit", rival_first)

    # retries=0 (default): the loss propagates; the rival's rows stand
    rival["state"] = str(tmp_path / "state0")
    state0 = JobState(rival["state"])
    with pytest.raises(ConcurrentCommitError):
        run_job(spark, ct, routes, state0)
    assert [list(r["tokens"]) for r in state0.routed.read(spark).collect()] == [[1, 2]]

    # retries=1: the re-run stands on the rival's snapshot, which already
    # consumed the input, so it publishes nothing
    rival["state"] = str(tmp_path / "state")
    state = JobState(rival["state"])
    assert run_job(spark, ct, routes, state, retries=1)["status"] == "no_new_data"
    assert [list(r["tokens"]) for r in state.routed.read(spark).collect()] == [[1, 2]]
    assert state.group.current_snapshot() == 1


def test_warm_pass_parses_the_state_manifest_at_most_twice(spark, tmp_path, monkeypatch):
    """A warm pass (checkpoint, held chunks and rejects in its state) reads
    the state group through one snapshot view: one parse of the manifest it
    reads and commits against, one of the manifest it committed, for the
    summary. When each read resolved the current snapshot and parsed its
    manifest again, the pass parsed the state manifest 9 times."""
    from log_aggregator_spark.tableio import TableGroup

    routes = spark.createDataFrame(
        [("src1", "sinkA", 0)], schema="source string, sink string, priority int"
    )
    ct = SnapshotTable(str(tmp_path / "chunks"))
    state = JobState(str(tmp_path / "state"))
    ct.commit(_one_stream(spark, [1, 2, 5]).unionByName(_garbage(spark, "bad-1")))
    run_job(spark, ct, routes, state)
    ct.commit(_one_stream(spark, [3]).unionByName(_garbage(spark, "bad-2")))

    real_manifest = TableGroup._manifest
    parsed = []

    def counted(self, snap_id):
        if self.root == state.group.root:
            parsed.append(snap_id)
        return real_manifest(self, snap_id)

    monkeypatch.setattr(TableGroup, "_manifest", counted)
    r = run_job(spark, ct, routes, state)
    assert r["status"] == "ok" and r["rejects"] == 1 and r["held"] == 1
    assert parsed == [1, 2], parsed


def test_requeue_quarantine_backfills_held(spark, tmp_path):
    """requeue_quarantine: after the root cause of a permanent gap is fixed,
    quarantined chunks move back to the held cache (one atomic commit, age
    reset) and the next pass emits the filled suffix exactly once."""
    from log_aggregator_spark.job import requeue_quarantine

    pdf = pd.DataFrame(
        {
            "doc_id": ["d"] * 3,
            "session": [10] * 3,
            "seq": [1, 2, 5],  # 3, 4 delayed for several runs
            "chunk_tokens": [[1], [2], [5]],
            "source": ["src1"] * 3,
        }
    )
    full = spark.createDataFrame(
        pdf, schema="doc_id string, session long, seq long, chunk_tokens array<int>, source string"
    )
    routes = spark.createDataFrame(
        [("src1", "sinkA", 0)], schema="source string, sink string, priority int"
    )
    ct = SnapshotTable(str(tmp_path / "chunks"))
    state = JobState(str(tmp_path / "state"))

    ct.commit(encode_envelope(full).select("envelope", "chunk_tokens", "source"))
    run_job(spark, ct, routes, state, held_max_age_runs=2)
    for i in (2, 3):
        ct.commit(encode_envelope(spark.createDataFrame(
            [(f"x{i}", 10, 1, [i], "src1")],
            schema="doc_id string, session long, seq long, chunk_tokens array<int>, source string",
        )).select("envelope", "chunk_tokens", "source"))
        run_job(spark, ct, routes, state, held_max_age_runs=2)
    assert state.quarantine.read(spark).count() == 1  # seq 5 quarantined

    moved = requeue_quarantine(spark, state)
    assert moved == 1
    assert state.quarantine.read(spark).count() == 0
    held = state.held.read(spark).collect()
    assert len(held) == 1 and held[0]["seq"] == 5
    # age was reset to the next pass (run 4), not the original run 1
    assert held[0]["first_held_run"] == 4

    # the missing chunks finally ship → one pass emits the suffix once
    ct.commit(encode_envelope(spark.createDataFrame(
        [("d", 10, 3, [3], "src1"), ("d", 10, 4, [4], "src1")],
        schema="doc_id string, session long, seq long, chunk_tokens array<int>, source string",
    )).select("envelope", "chunk_tokens", "source"))
    r = run_job(spark, ct, routes, state, held_max_age_runs=2)
    assert r["run_id"] == 4
    seg = state.routed.read(spark).where(
        (F.col("doc_id") == "d") & (F.col("run_id") == r["run_id"])
    ).collect()
    assert len(seg) == 1 and list(seg[0]["tokens"]) == [3, 4, 5]
    ck = {r2["doc_id"]: r2["last_seq"] for r2 in state.checkpoint.read(spark).collect()}
    assert ck["d"] == 5
    assert state.held.read(spark).count() == 0

    # idempotent: empty quarantine → no-op, no commit
    snap_before = state.group.current_snapshot()
    assert requeue_quarantine(spark, state) == 0
    assert state.group.current_snapshot() == snap_before


def _garbage(spark, envelope):
    """One malformed envelope: a chunk the parse rejects."""
    return spark.createDataFrame(
        [(envelope, [7], "src1")],
        schema="envelope string, chunk_tokens array<int>, source string",
    )


def _added(ct: SnapshotTable, *snaps) -> list[str]:
    """The data files the chunk commits ``snaps`` added."""
    return [f for s in snaps for f in ct.snapshot(s).added_files(ct.MEMBER)]


def _input_files(state: JobState, spark, run_id) -> list[str]:
    """The input files the ``metrics`` rows of pass ``run_id`` list."""
    rows = state.metrics.read(spark).where(F.col("run_id") == run_id).collect()
    return sorted(r["input_file"] for r in rows)


def test_pass_after_requeue_reads_only_new_chunks(spark, tmp_path):
    """A backfill (``requeue_quarantine``) commits to the state group
    between passes. The chunks snapshot the last pass processed carries
    forward through that commit, so the next pass reads only the chunk
    files appended since: the malformed envelope is rejected once, and the
    pass's ``metrics`` rows list only the new files. When the backfill's
    commit dropped it, the next pass re-read the whole chunks table."""
    from log_aggregator_spark.job import requeue_quarantine

    routes = spark.createDataFrame(
        [("src1", "sinkA", 0)], schema="source string, sink string, priority int"
    )
    ct = SnapshotTable(str(tmp_path / "chunks"))
    state = JobState(str(tmp_path / "state"))
    s1 = ct.commit(_one_stream(spark, [1, 2, 5]).unionByName(_garbage(spark, "bad")))
    run_job(spark, ct, routes, state, held_max_age_runs=1)
    run_job(spark, ct, routes, state, held_max_age_runs=1)  # seq 5 ages out
    assert requeue_quarantine(spark, state) == 1
    requeue_snap = state.group.current_snapshot()

    s2 = ct.commit(_one_stream(spark, [3, 4]))
    r = run_job(spark, ct, routes, state, held_max_age_runs=1)
    assert r["rejects"] == 0 and state.rejects.read(spark).count() == 1
    assert _input_files(state, spark, r["run_id"]) == sorted(_added(ct, s2))
    assert state.group.snapshot(requeue_snap).lineage["chunks_snapshot"] == s1
    assert [list(t) for t in _segments(state, spark)["tokens"]] == [[1, 2, 3, 4, 5]]


def test_pass_after_chunks_compaction_reads_only_new_chunks(spark, tmp_path):
    """A compaction rewrites the chunks table between passes. The rows it
    rewrote were appended before, so the next pass reads only the files
    that appends added after the snapshot it last processed, before and
    after the compaction: the malformed envelope is rejected once. When
    every rewritten file counted as new, the next pass re-parsed the whole
    table."""
    routes = spark.createDataFrame(
        [("src1", "sinkA", 0)], schema="source string, sink string, priority int"
    )
    ct = SnapshotTable(str(tmp_path / "chunks"))
    state = JobState(str(tmp_path / "state"))
    ct.commit(_one_stream(spark, [1, 2]).unionByName(_garbage(spark, "bad")))
    run_job(spark, ct, routes, state)
    s2 = ct.commit(_one_stream(spark, [3]))
    ct.compact(spark)
    s4 = ct.commit(_one_stream(spark, [4]))

    r = run_job(spark, ct, routes, state)
    assert r["rejects"] == 0 and state.rejects.read(spark).count() == 1
    assert _input_files(state, spark, r["run_id"]) == sorted(_added(ct, s2, s4))
    assert sorted(ct.incremental_files(1)) == sorted(_added(ct, s2, s4))
    assert [list(t) for t in _segments(state, spark)["tokens"]] == [[1, 2, 3, 4]]


def test_chunk_commit_during_resolution_is_parsed_once(spark, tmp_path, monkeypatch):
    """A chunk commit lands right after the pass resolves the chunks table.
    The pass reads, records and stamps the one snapshot it resolved, so the
    next pass parses the late commit once: each malformed envelope is
    rejected once, and the ``metrics`` rows, one per input file per pass,
    number the chunk files. When the pass resolved the table three times,
    it parsed the late commit and the next pass parsed it again."""
    routes = spark.createDataFrame(
        [("src1", "sinkA", 0)], schema="source string, sink string, priority int"
    )
    ct = SnapshotTable(str(tmp_path / "chunks"))
    state = JobState(str(tmp_path / "state"))
    ct.commit(_one_stream(spark, [1, 2]).unionByName(_garbage(spark, "bad-1")))

    real_ids = ct._snapshot_ids
    late = {"pending": True}

    def ids_then_late_commit():
        ids = real_ids()
        if late.pop("pending", False):
            ct.commit(_one_stream(spark, [3]).unionByName(_garbage(spark, "bad-2")))
        return ids

    monkeypatch.setattr(ct, "_snapshot_ids", ids_then_late_commit)
    r1 = run_job(spark, ct, routes, state)
    assert not late and ct.current_snapshot() == 2
    assert r1["run_id"] == 1 and r1["rejects"] == 1
    r2 = run_job(spark, ct, routes, state)
    assert r2["run_id"] == 2 and r2["rejects"] == 1

    metrics = state.metrics.read(spark).toPandas()
    assert len(metrics) == len(ct.snapshot(2).files(ct.MEMBER))
    assert metrics["n_rows"].sum() == ct.read(spark).count() == 5
    assert sorted(r["envelope"] for r in state.rejects.read(spark).collect()) == [
        "bad-1", "bad-2",
    ]
    assert [list(t) for t in _segments(state, spark)["tokens"]] == [[1, 2, 3]]


def test_session_restart_across_runs(spark, tmp_path):
    """Truncation/rotation mid-corpus across a checkpointed run boundary
    (reference ``LogTail.java:60-82`` MOVED/TRUNCATED + ``PathProvider.
    java:36``): run 1 checkpoints session 10 at seq 2; run 2 delivers the
    old session's continuation AND a new session whose seq restarts at 1.
    The old session must resume at last+1, the new one must init-accept —
    both from the same pass."""
    pdf = pd.DataFrame(
        {
            "doc_id": ["d"] * 5,
            "session": [10, 10, 10, 20, 20],
            "seq": [1, 2, 3, 1, 2],
            "chunk_tokens": [[1], [2], [3], [10], [11]],
            "source": ["src1"] * 5,
        }
    )
    full = spark.createDataFrame(
        pdf, schema="doc_id string, session long, seq long, chunk_tokens array<int>, source string"
    )
    routes = spark.createDataFrame(
        [("src1", "sinkA", 0)], schema="source string, sink string, priority int"
    )
    ct = SnapshotTable(str(tmp_path / "chunks"))
    state = JobState(str(tmp_path / "state"))

    # run 1: session 10 seqs 1-2 only
    ct.commit(encode_envelope(
        full.where((F.col("session") == 10) & (F.col("seq") <= 2))
    ).select("envelope", "chunk_tokens", "source"))
    run_job(spark, ct, routes, state)
    ck1 = {(r["doc_id"], r["session"]): r["last_seq"]
           for r in state.checkpoint.read(spark).collect()}
    assert ck1 == {("d", 10): 2}

    # run 2: session 10 continuation + session 20 restart at seq 1
    ct.commit(encode_envelope(
        full.where((F.col("seq") == 3) | (F.col("session") == 20))
    ).select("envelope", "chunk_tokens", "source"))
    run_job(spark, ct, routes, state)

    got = _segments(state, spark)
    segs = {(r.doc_id, r.session): list(r.tokens) for r in got.itertuples()}
    assert segs == {("d", 10): [1, 2, 3], ("d", 20): [10, 11]}
    ck2 = {(r["doc_id"], r["session"]): r["last_seq"]
           for r in state.checkpoint.read(spark).collect()}
    assert ck2 == {("d", 10): 3, ("d", 20): 2}
    assert state.held.read(spark).count() == 0


def test_checkpoint_merge_cases(spark, tmp_path):
    """The checkpoint member after a second pass, one stream per case: an
    idle stream keeps its last_seq, an emitting one advances, a new one
    appears, a stream that only ever emitted seq 0 stays at 0 (idle or
    new), and a restarted session gets its own row beside the old one."""
    schema = "doc_id string, session long, seq long, chunk_tokens array<int>, source string"
    routes = spark.createDataFrame(
        [("src1", "sinkA", 0)], schema="source string, sink string, priority int"
    )
    ct = SnapshotTable(str(tmp_path / "chunks"))
    state = JobState(str(tmp_path / "state"))

    def commit(rows):
        df = spark.createDataFrame(
            [(d, s, q, [q], "src1") for d, s, q in rows], schema=schema
        )
        ct.commit(encode_envelope(df).select("envelope", "chunk_tokens", "source"))

    commit([("idle", 1, 1), ("idle", 1, 2), ("emit", 1, 1), ("zero", 1, 0),
            ("restart", 1, 1), ("restart", 1, 2), ("restart", 1, 3)])
    run_job(spark, ct, routes, state)
    commit([("emit", 1, 2), ("emit", 1, 3), ("new", 1, 4), ("new", 1, 5),
            ("zero_new", 1, 0), ("restart", 2, 1)])
    run_job(spark, ct, routes, state)

    ck = {(r["doc_id"], r["session"]): r["last_seq"]
          for r in state.checkpoint.read(spark).collect()}
    assert ck == {
        ("idle", 1): 2, ("emit", 1): 3, ("new", 1): 5, ("zero", 1): 0,
        ("zero_new", 1): 0, ("restart", 1): 3, ("restart", 2): 1,
    }
    assert state.held.read(spark).count() == 0


def test_summary_counts_are_the_committed_rows(spark, tmp_path):
    """run_job's ``rejects`` and ``held`` counts equal the rows the pass
    committed to those members: this pass's rejects, and the whole held
    cache, over a pass with malformed envelopes and a gapped stream, and
    over a pass with no malformed envelopes."""
    ct, routes, state = _small_input(spark, tmp_path)
    ct.commit(encode_envelope(spark.createDataFrame(
        [("d", 10, 4, [4], "src1"), ("e", 10, 1, [5], "src1")],
        schema="doc_id string, session long, seq long, chunk_tokens array<int>, source string",
    )).select("envelope", "chunk_tokens", "source").unionByName(
        spark.createDataFrame(
            [("also-garbage", [8], "src1"), ("d_10_x.pbData", [9], "src1")],
            schema="envelope string, chunk_tokens array<int>, source string",
        )
    ))
    # the first pass reads both commits
    r = run_job(spark, ct, routes, state)
    this_run = F.col("run_id") == r["run_id"]
    assert r["rejects"] == state.rejects.read(spark).where(this_run).count() == 3
    assert r["held"] == state.held.read(spark).count() == 1

    ct.commit(encode_envelope(spark.createDataFrame(
        [("d", 10, 3, [3], "src1")],
        schema="doc_id string, session long, seq long, chunk_tokens array<int>, source string",
    )).select("envelope", "chunk_tokens", "source"))
    r = run_job(spark, ct, routes, state)
    this_run = F.col("run_id") == r["run_id"]
    assert r["rejects"] == state.rejects.read(spark).where(this_run).count() == 0
    assert r["held"] == state.held.read(spark).count() == 0


def test_held_cache_ages_out_to_quarantine(spark, tmp_path):
    """A permanently-gapped stream must not grow the held cache forever
    (the reference's 'cache grows' failure mode): with held_max_age_runs=2
    the blocked suffix is re-gated for two runs, then moves to the
    quarantine table and stops being carried."""
    pdf = pd.DataFrame(
        {
            "doc_id": ["d"] * 3,
            "session": [10] * 3,
            "seq": [1, 2, 5],  # 5 is forever blocked (3, 4 never arrive)
            "chunk_tokens": [[1], [2], [5]],
            "source": ["src1"] * 3,
        }
    )
    full = spark.createDataFrame(
        pdf, schema="doc_id string, session long, seq long, chunk_tokens array<int>, source string"
    )
    routes = spark.createDataFrame(
        [("src1", "sinkA", 0)], schema="source string, sink string, priority int"
    )
    ct = SnapshotTable(str(tmp_path / "chunks"))
    state = JobState(str(tmp_path / "state"))

    ct.commit(encode_envelope(full).select("envelope", "chunk_tokens", "source"))
    run_job(spark, ct, routes, state, held_max_age_runs=2)  # run 1: held, age 1
    assert state.held.read(spark).count() == 1
    assert state.quarantine.read(spark).count() == 0  # member exists, empty

    # two more passes with fresh (unrelated) data to advance run_id
    for i in (2, 3):
        ct.commit(encode_envelope(
            spark.createDataFrame(
                [(f"x{i}", 10, 1, [i], "src1")],
                schema="doc_id string, session long, seq long, chunk_tokens array<int>, source string",
            )
        ).select("envelope", "chunk_tokens", "source"))
        run_job(spark, ct, routes, state, held_max_age_runs=2)

    # run 3: first_held_run=1 <= 3-2 → quarantined, held cache empty
    assert state.held.read(spark).count() == 0
    q = state.quarantine.read(spark).collect()
    assert len(q) == 1 and q[0]["seq"] == 5 and q[0]["first_held_run"] == 1
    # and the stream's accepted prefix was emitted exactly once in run 1
    routed = state.routed.read(spark)
    assert routed.where("doc_id = 'd'").count() == 1


def test_redelivered_held_chunk_keeps_its_age(spark, tmp_path):
    """A held chunk that arrives again as a new duplicate keeps the pass
    that first held it: its age is carried through the gate, so a chunk
    re-sent while its gap stays open still reaches quarantine on time."""
    schema = "doc_id string, session long, seq long, chunk_tokens array<int>, source string"
    routes = spark.createDataFrame(
        [("src1", "sinkA", 0)], schema="source string, sink string, priority int"
    )
    ct = SnapshotTable(str(tmp_path / "chunks"))
    state = JobState(str(tmp_path / "state"))

    def commit(rows):
        ct.commit(encode_envelope(spark.createDataFrame(rows, schema=schema)).select(
            "envelope", "chunk_tokens", "source"))

    commit([("d", 10, 1, [1], "src1"), ("d", 10, 2, [2], "src1"),
            ("d", 10, 5, [5], "src1")])
    run_job(spark, ct, routes, state, held_max_age_runs=2)  # pass 1 holds seq 5
    commit([("d", 10, 5, [5], "src1"), ("e", 10, 1, [1], "src1")])
    run_job(spark, ct, routes, state, held_max_age_runs=2)
    held = state.held.read(spark).collect()
    assert [(r["seq"], r["first_held_run"]) for r in held] == [(5, 1)]

    commit([("d", 10, 5, [5], "src1")])
    run_job(spark, ct, routes, state, held_max_age_runs=2)
    assert state.held.read(spark).count() == 0
    q = state.quarantine.read(spark).collect()
    assert [(r["seq"], r["first_held_run"], list(r["chunk_tokens"])) for r in q] == [
        (5, 1, [5])
    ]


def test_regate_pass_after_requeue_gets_a_new_run_id(spark, tmp_path):
    """Every pass stamps a run id above all earlier ones, also a pass that
    only re-gates held chunks: after a requeue, such a pass routes the
    requeued suffix in a later run than the segment before it, so "run
    order" orders a stream's segments. When the run id was the chunks
    snapshot, both of these passes reused the previous pass's run id."""
    from log_aggregator_spark.job import requeue_quarantine

    routes = spark.createDataFrame(
        [("src1", "sinkA", 0)], schema="source string, sink string, priority int"
    )
    ct = SnapshotTable(str(tmp_path / "chunks"))
    state = JobState(str(tmp_path / "state"))
    ct.commit(_one_stream(spark, [1, 2, 5]))
    ids = [run_job(spark, ct, routes, state, held_max_age_runs=1)["run_id"]]
    # no new chunks: re-gates seq 5 and quarantines it
    ids.append(run_job(spark, ct, routes, state, held_max_age_runs=1)["run_id"])
    assert state.quarantine.read(spark).count() == 1
    ct.commit(_one_stream(spark, [3, 4]))
    ids.append(run_job(spark, ct, routes, state, held_max_age_runs=1)["run_id"])
    assert requeue_quarantine(spark, state) == 1
    ids.append(run_job(spark, ct, routes, state, held_max_age_runs=1)["run_id"])
    assert ids == sorted(set(ids)), f"run ids per pass: {ids}"

    routed = state.routed.read(spark).toPandas().sort_values("run_id")
    assert [list(t) for t in routed["tokens"]] == [[1, 2], [3, 4], [5]]
    assert routed["run_id"].is_unique


def test_compaction_between_passes_does_not_age_held_chunks(spark, tmp_path):
    """Held chunks age by passes, not by state commits: a compaction of the
    state group between passes leaves the pass at which a held chunk is
    quarantined unchanged — the third, with ``held_max_age_runs=2``. When
    ages were counted in group snapshots, one compaction quarantined it at
    the second pass."""
    routes = spark.createDataFrame(
        [("src1", "sinkA", 0)], schema="source string, sink string, priority int"
    )
    ct = SnapshotTable(str(tmp_path / "chunks"))
    state = JobState(str(tmp_path / "state"))
    ct.commit(_one_stream(spark, [1, 2, 5]))
    run_job(spark, ct, routes, state, held_max_age_runs=2)  # pass 1 holds seq 5
    state.group.compact(spark, ["routed"])
    run_job(spark, ct, routes, state, held_max_age_runs=2)
    assert state.held.read(spark).count() == 1
    assert state.quarantine.read(spark).count() == 0

    run_job(spark, ct, routes, state, held_max_age_runs=2)
    assert state.held.read(spark).count() == 0
    q = state.quarantine.read(spark).collect()
    assert [(r["seq"], r["first_held_run"], r["quarantined_run"]) for r in q] == [(5, 1, 3)]


def test_job_routes_malformed_envelopes_to_rejects(spark, tmp_path):
    """Dead-letter wiring in the PRODUCTION path (VERDICT r2 #1): a corrupt
    envelope fed through run_job must land in the rejects member of the
    same atomic commit — never silently vanish into the gate's null
    predicates — and must not perturb routed output or the checkpoint."""
    good = spark.createDataFrame(
        [("d", 10, 1, [1], "src1"), ("d", 10, 2, [2], "src1")],
        schema="doc_id string, session long, seq long, chunk_tokens array<int>, source string",
    )
    chunks = encode_envelope(good).select("envelope", "chunk_tokens", "source")
    corrupt = spark.createDataFrame(
        [("totally-garbage", [7], "src1"), ("d_1_2.pbData.bak", [8], "src1")],
        schema="envelope string, chunk_tokens array<int>, source string",
    )
    routes = spark.createDataFrame(
        [("src1", "sinkA", 0)], schema="source string, sink string, priority int"
    )
    ct = SnapshotTable(str(tmp_path / "chunks"))
    state = JobState(str(tmp_path / "state"))
    ct.commit(chunks.unionByName(corrupt))
    summary = run_job(spark, ct, routes, state)
    assert summary["status"] == "ok"

    rej = state.rejects.read(spark).collect()
    assert sorted(r["envelope"] for r in rej) == [
        "d_1_2.pbData.bak", "totally-garbage",
    ]
    assert all(r["run_id"] == summary["run_id"] for r in rej)
    # routed output and checkpoint: exactly the good stream, token-exact
    routed = state.routed.read(spark).collect()
    assert len(routed) == 1 and list(routed[0]["tokens"]) == [1, 2]
    ck = state.checkpoint.read(spark).collect()
    assert len(ck) == 1 and ck[0]["last_seq"] == 2

    # a second pass with only-good data APPENDS nothing to rejects
    ct.commit(encode_envelope(spark.createDataFrame(
        [("d", 10, 3, [3], "src1")],
        schema="doc_id string, session long, seq long, chunk_tokens array<int>, source string",
    )).select("envelope", "chunk_tokens", "source"))
    run_job(spark, ct, routes, state)
    assert state.rejects.read(spark).count() == 2


def test_job_rejects_overflowing_digits(spark, tmp_path):
    """An envelope whose seq does not fit in int64 is a reject: the pass
    commits, and its ``rejects`` count holds the row."""
    ct, routes, state = _small_input(spark, tmp_path)
    ct.commit(spark.createDataFrame(
        [("d_10_99999999999999999999.pbData", [3], "src1")],
        schema="envelope string, chunk_tokens array<int>, source string",
    ))
    summary = run_job(spark, ct, routes, state)
    assert summary["status"] == "ok" and summary["rejects"] == 2
    assert sorted(r["envelope"] for r in state.rejects.read(spark).collect()) == [
        "d_10_99999999999999999999.pbData", "totally-garbage",
    ]
    assert [list(r["tokens"]) for r in state.routed.read(spark).collect()] == [[1, 2]]


def test_run_job_leaves_nothing_pinned(spark, tmp_path, monkeypatch):
    """A pass local-checkpoints its gate decision; the checkpoint is
    released whether the pass commits, crashes before the commit point, or
    loses the manifest CAS and retries. Pinned blocks left
    behind would fill executor storage one pass at a time."""
    from log_aggregator_spark.tableio import TableGroup

    spark.catalog.clearCache()
    before = _pinned(spark)
    assert before[1]

    ct, routes, state = _small_input(spark, tmp_path / "ok")
    assert run_job(spark, ct, routes, state)["status"] == "ok"
    assert _pinned(spark) == before

    real_publish = TableGroup._publish

    def crash(self, snap_id, manifest):
        raise RuntimeError("simulated crash before commit point")

    # the chunks table commits through the same publish, so it is built first
    ct, routes, state = _small_input(spark, tmp_path / "crash")
    monkeypatch.setattr(TableGroup, "_publish", crash)
    with pytest.raises(RuntimeError, match="simulated crash"):
        run_job(spark, ct, routes, state)
    assert state.group.current_snapshot() is None
    assert _pinned(spark) == before

    raced = {"done": False}

    def lose_race_once(self, snap_id, manifest):
        if not raced["done"]:
            raced["done"] = True
            rival = spark.createDataFrame([("rival",)], schema="who string")
            TableGroup(self.root).commit({"audit": (rival, "append")})
        return real_publish(self, snap_id, manifest)

    monkeypatch.setattr(TableGroup, "_publish", real_publish)
    ct, routes, state = _small_input(spark, tmp_path / "race")
    monkeypatch.setattr(TableGroup, "_publish", lose_race_once)
    assert run_job(spark, ct, routes, state, retries=1)["status"] == "ok"
    assert raced["done"] and state.group.current_snapshot() == 2
    assert _pinned(spark) == before


def test_iceberg_backend_capability_gate(spark):
    """The IcebergTable switch is real code behind a capability check: in
    this jar-less sandbox `available()` is False and construction raises
    with setup instructions rather than failing deep inside a write."""
    from log_aggregator_spark.tableio import IcebergTable

    assert IcebergTable.available(spark) is False
    with pytest.raises(RuntimeError, match="iceberg-spark-runtime"):
        IcebergTable(spark, "lake.db.routed")


def test_lineage_metrics_recorded(spark, docs, tmp_path):
    chunks = chunker.chunks(docs)
    ct = SnapshotTable(str(tmp_path / "chunks"))
    state = JobState(str(tmp_path / "state"))
    ct.commit(chunks)
    run_job(spark, ct, _routes(docs), state)
    m = state.metrics.read(spark).toPandas()
    assert {"partition_id", "input_file", "n_rows", "n_bytes", "wall_ms"}.issubset(m.columns)
    assert m["n_rows"].sum() == chunks.count()
    assert (m["n_bytes"] > 0).all()
    assert state.group.snapshot().lineage["wall_sec"] > 0


def test_lineage_metadata_matches_scan(spark, docs, tmp_path):
    """The metadata-only lineage (parquet footers, zero extra data I/O —
    what run_job records) must agree with Spark's own scan of the table on
    per-file row counts; files and totals identical."""
    from log_aggregator_spark.lineage import lineage_from_files

    chunks = chunker.chunks(docs)
    ct = SnapshotTable(str(tmp_path / "chunks"))
    ct.commit(chunks)
    files = ct.incremental_files(None)
    assert files
    meta = lineage_from_files(spark, files).toPandas()
    scan = ct.read(spark).groupBy(F.input_file_name().alias("f")).count().collect()
    meta_counts = dict(zip(meta["input_file"], meta["n_rows"]))
    # input_file_name() is URI-form (file://...); compare by suffix
    scan_counts = {r["f"].replace("file://", ""): r["count"] for r in scan}
    assert meta_counts == scan_counts
    assert (meta["n_bytes"] > 0).all()


def test_lineage_from_no_files_is_empty_with_schema(spark):
    """No new files → an empty DataFrame with LINEAGE_SCHEMA, built through
    Arrow like the non-empty case; partition_id stays int, not long."""
    from log_aggregator_spark.lineage import LINEAGE_SCHEMA, lineage_from_files

    df = lineage_from_files(spark, [])
    assert df.schema == LINEAGE_SCHEMA
    assert df.collect() == []
