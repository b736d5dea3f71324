"""Resumable-job oracles (SURVEY.md §5.2 item 5 + §7 hard part 1).

The system invariant (reference's end-to-end golden test, README.md:93-104):
after any sequence of incremental passes, the per-(doc_id, session)
concatenation of routed token segments in run order equals the single-run
reassembly of all chunks — and the final checkpoint/held state matches.
"""

from __future__ import annotations

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
    want_held = run_pipeline(chunks, routes).held
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
    and the checkpoint member merged in one aggregate, it starts 14. A
    change that brings back a recount, an inferred read or a second
    reassembly aggregate fails here."""
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
    assert n_jobs <= 14, f"second pass started {n_jobs} Spark jobs"


def test_resume_pass_parses_once(spark, tmp_path):
    """One pass evaluates the parse UDF in one Spark execution: the gate
    input and the rejects member read the same cached parse. Evaluated in
    the gate's materialization and again in the rejects write, the UDF
    cost two rounds of Python-worker tasks per pass."""
    ct, routes, state = _small_input(spark, tmp_path)
    before = _execution_ids(spark)
    assert run_job(spark, ct, routes, state)["status"] == "ok"
    hits = _parse_executions(spark, before)
    assert len(hits) == 1, f"parse UDF ran in executions {hits}"
    assert state.rejects.read(spark).count() == 1


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

    # idempotent third pass: no new data → no output
    r3 = run_job(spark, ct, routes, state)
    assert r3["status"] in ("no_new_data", "ok")
    seg3 = state.routed.read(spark)
    assert seg3.count() == 2  # unchanged


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
    """Kill the job right before the TableGroup CURRENT swap: NOTHING is
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
    assert not state.routed.exists() and not state.checkpoint.exists()

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


def test_run_job_retries_after_losing_commit_race(spark, tmp_path, monkeypatch):
    """run_job(retries=N): a committer that loses the manifest CAS re-runs
    the pass on the winner's committed state instead of dying. Simulated as
    a GENUINE race: a rival TableGroup commits from the same parent in the
    window between the loser's manifest build and its CURRENT swap."""
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
    # age was reset: first_held_run == the requeue pass, not the original
    assert held[0]["first_held_run"] == state.group.current_snapshot()

    # the missing chunks finally ship → one pass emits the suffix once
    ct.commit(encode_envelope(spark.createDataFrame(
        [("d", 10, 3, [3], "src1"), ("d", 10, 4, [4], "src1")],
        schema="doc_id string, session long, seq long, chunk_tokens array<int>, source string",
    )).select("envelope", "chunk_tokens", "source"))
    r = run_job(spark, ct, routes, state, held_max_age_runs=2)
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


def test_run_job_leaves_nothing_pinned(spark, tmp_path, monkeypatch):
    """A pass caches its parse and local-checkpoints its gate decision;
    both are released whether the pass commits, crashes before the commit
    point, or loses the manifest CAS and retries. Pinned blocks left
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

    monkeypatch.setattr(TableGroup, "_publish", crash)
    ct, routes, state = _small_input(spark, tmp_path / "crash")
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

    monkeypatch.setattr(TableGroup, "_publish", lose_race_once)
    ct, routes, state = _small_input(spark, tmp_path / "race")
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
    assert state.metrics.lineage()["wall_sec"] > 0


def test_lineage_metadata_matches_scan(spark, docs, tmp_path):
    """The metadata-only lineage (parquet footers, zero extra data I/O —
    the run_job default) must agree with the mapInPandas scan variant on
    per-file row counts; files and totals identical."""
    from log_aggregator_spark.lineage import lineage_from_files, lineage_records

    chunks = chunker.chunks(docs)
    ct = SnapshotTable(str(tmp_path / "chunks"))
    ct.commit(chunks)
    files = ct.incremental_files(None)
    assert files
    meta = lineage_from_files(spark, files).toPandas()
    scan = (
        lineage_records(ct.read(spark)).toPandas()
        .groupby("input_file", as_index=False)["n_rows"].sum()
    )
    meta_counts = dict(zip(meta["input_file"], meta["n_rows"]))
    # scan's input_file_name() is URI-form (file://...); compare by suffix
    scan_counts = {f.replace("file://", ""): n for f, n in zip(scan["input_file"], scan["n_rows"])}
    assert meta_counts == scan_counts
    assert (meta["n_bytes"] > 0).all()


def test_lineage_from_no_files_is_empty_with_schema(spark):
    """No new files → an empty DataFrame with LINEAGE_SCHEMA, built through
    Arrow like the non-empty case; partition_id stays int, not long."""
    from log_aggregator_spark.lineage import LINEAGE_SCHEMA, lineage_from_files

    df = lineage_from_files(spark, [])
    assert df.schema == LINEAGE_SCHEMA
    assert df.collect() == []
