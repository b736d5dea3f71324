"""E2E golden test (logCheck analog, SURVEY.md §5.2 item 4): derive chunks
from the shared documents parquet (with all perturbations), run the full
pipeline, and check per-stream token-array equality + per-sink counts against
the pure-pandas oracle.

Counter invariant: tokens are [1..n], so for an unperturbed stream
max(token) == n_tok — exactly the reference's `wc -l == last counter` check
(/root/reference/src/test/logCheck:6-14).
"""

from __future__ import annotations

import pandas as pd
import pytest

from log_aggregator_spark import chunker, spec
from log_aggregator_spark.operators.parse import split_rejects
from log_aggregator_spark.oracle_pandas import reassemble_oracle
from log_aggregator_spark.plans.pipeline import run_pipeline

from conftest import SF_DIR


@pytest.fixture(scope="module")
def docs(spark):
    return chunker.load_documents(spark, SF_DIR).cache()


@pytest.fixture(scope="module")
def oracle_frames(spark, docs):
    """Pandas-side chunks + checkpoint, derived via the Spark chunker (the
    chunker itself is validated structurally in test_chunker.py), then pushed
    through the independent pandas oracle."""
    chunks_pdf = split_rejects(chunker.chunks(docs))[0].toPandas()
    ckpt_pdf = chunker.checkpoint_table(docs).toPandas()
    oracle = reassemble_oracle(chunks_pdf, ckpt_pdf)
    return chunks_pdf, ckpt_pdf, oracle


def test_pipeline_matches_oracle(spark, docs, oracle_frames):
    _, _, oracle = oracle_frames
    res = run_pipeline(
        chunker.chunks(docs),
        chunker.routes_table(docs),
        chunker.checkpoint_table(docs),
    )
    got = res.reassembled.toPandas()
    got["tokens"] = got["tokens"].apply(lambda a: [int(x) for x in a])

    key = ["doc_id", "session"]
    got = got.sort_values(key).reset_index(drop=True)
    want = oracle.sort_values(key).reset_index(drop=True)
    assert len(got) == len(want)
    pd.testing.assert_frame_equal(
        got[["doc_id", "session", "tokens", "n_tok", "last_seq_out"]],
        want[["doc_id", "session", "tokens", "n_tok", "last_seq_out"]].astype(
            {"session": "int64", "n_tok": "int64", "last_seq_out": "int64"}
        ),
    )


def test_sink_counts_match_oracle(spark, docs, oracle_frames):
    _, _, oracle = oracle_frames
    res = run_pipeline(
        chunker.chunks(docs),
        chunker.routes_table(docs),
        chunker.checkpoint_table(docs),
    )
    got = res.counts.toPandas().set_index("sink").sort_index()

    routes = chunker.routes_table(docs).toPandas()
    want = (
        oracle.merge(routes, on="source")
        .groupby("sink")
        .agg(n_rows=("doc_id", "size"), sum_n_tok=("n_tok", "sum"), n_docs=("doc_id", "nunique"))
        .sort_index()
    )
    assert (got["n_rows"] == want["n_rows"]).all()
    assert (got["sum_n_tok"] == want["sum_n_tok"]).all()
    assert (got["n_docs"] == want["n_docs"]).all()
    # every sink present
    assert set(got.index) == {f"sink{i}" for i in range(spec.N_SINKS)}


def test_counter_invariant_unperturbed(spark, docs):
    """Docs untouched by any perturbation: single session, no gaps — the
    reassembled stream must be exactly [1..n_tok] (logCheck analog)."""
    res = run_pipeline(chunker.chunks(docs), chunker.routes_table(docs),
                       chunker.checkpoint_table(docs))
    got = res.reassembled.toPandas()
    seqs = chunker.sequences(docs).toPandas().set_index("doc_id")
    clean = seqs[
        (seqs.dnum % spec.MOD_MULTISESSION != 0)
        & (seqs.dnum % spec.MOD_DUP != 0)
        & (seqs.dnum % spec.MOD_CKPT != 0)
        & (seqs.dnum % spec.MOD_GAP != 0)
        & (seqs.dnum % spec.MOD_LOST_PREFIX != 0)
    ]
    assert len(clean) > 0
    got_clean = got[got.doc_id.isin(clean.index)]
    assert len(got_clean) == len(clean)
    for r in got_clean.itertuples(index=False):
        n = clean.loc[r.doc_id, "n_tok"]
        toks = [int(x) for x in r.tokens]
        assert toks == list(range(1, n + 1))
        assert toks[-1] == len(toks)  # wc -l == last counter


def test_gap_docs_hold_suffix(spark, docs, oracle_frames):
    """GAP docs (not multisession, not lost-prefix, no checkpoint): output is
    tokens of seqs 1..2 only; seq ≥ 4 held back."""
    chunks_pdf, _, _ = oracle_frames
    res = run_pipeline(chunker.chunks(docs), chunker.routes_table(docs),
                       chunker.checkpoint_table(docs))
    held = res.held.toPandas()
    seqs = chunker.sequences(docs).toPandas()
    pure_gap = seqs[
        (seqs.dnum % spec.MOD_GAP == 0)
        & (seqs.dnum % spec.MOD_MULTISESSION != 0)
        & (seqs.dnum % spec.MOD_CKPT != 0)
        & (seqs.dnum % spec.MOD_LOST_PREFIX != 0)
        & (seqs.n_tok > 3 * spec.CHUNK)  # has a seq-4 chunk to hold
    ]
    assert len(pure_gap) > 0
    for doc in pure_gap.doc_id:
        h = held[held.doc_id == doc]
        n_chunks = spec.expected_chunk_count(int(pure_gap.set_index("doc_id").loc[doc, "n_tok"]))
        assert sorted(h.seq) == list(range(4, n_chunks + 1))


def test_resume_second_run_emits_suffix(spark, docs):
    """Resume (SequenceTracker analog, SURVEY.md §5.2 item 5): run 1 on the
    perturbed chunks, then run 2 on the complete chunk set with run 1's
    checkpoint state. Run 2's output must equal a two-run pandas-oracle chain
    exactly — gap-filling emits held suffixes exactly once, streams whose
    init rule skipped a lost prefix stay skipped (last_seq > gap)."""
    all_chunks = chunker.chunks(docs, perturb=False)
    run1_chunks = chunker.chunks(docs)  # with dup/gap/lost-prefix
    routes = chunker.routes_table(docs)
    ckpt0 = chunker.checkpoint_table(docs)
    run1 = run_pipeline(run1_chunks, routes, ckpt0)
    run2 = run_pipeline(all_chunks, routes, run1.checkpoint_out)
    out2 = run2.reassembled.toPandas()
    out2["tokens"] = out2["tokens"].apply(lambda a: [int(x) for x in a])
    assert len(out2) > 0  # gap/blocked streams emit on run 2

    # independent oracle chain
    run1_pdf = split_rejects(run1_chunks)[0].toPandas()
    all_pdf = split_rejects(all_chunks)[0].toPandas()
    ckpt0_pdf = ckpt0.toPandas()
    o1 = reassemble_oracle(run1_pdf, ckpt0_pdf)
    o_ckpt1 = pd.concat(
        [
            o1[["doc_id", "session", "last_seq_out"]].rename(
                columns={"last_seq_out": "last_seq"}
            ),
            ckpt0_pdf.merge(
                o1[["doc_id", "session"]], on=["doc_id", "session"], how="left",
                indicator=True,
            ).query("_merge == 'left_only'")[["doc_id", "session", "last_seq"]],
        ]
    )
    o2 = reassemble_oracle(all_pdf, o_ckpt1)

    key = ["doc_id", "session"]
    got = out2.sort_values(key).reset_index(drop=True)
    want = o2.sort_values(key).reset_index(drop=True).astype(
        {"session": "int64", "n_tok": "int64", "last_seq_out": "int64"}
    )
    assert len(got) == len(want)
    pd.testing.assert_frame_equal(
        got[["doc_id", "session", "tokens", "n_tok", "last_seq_out"]],
        want[["doc_id", "session", "tokens", "n_tok", "last_seq_out"]],
    )


def test_blocked_stream_keeps_its_checkpoint(spark):
    """A stream that did not advance keeps its checkpoint row
    (``SequenceTracker.java:132-154``): resumed at last_seq 1 and blocked
    on the missing seq 2, stream ``d`` is still at 1 in ``checkpoint_out``,
    so the next run, fed that checkpoint alone, still holds seqs 3 and 4
    back. Re-initialised instead, it would emit [3, 4] with seq 2 missing."""
    from log_aggregator_spark.operators.parse import encode_envelope

    def chunks(seqs):
        return encode_envelope(spark.createDataFrame(
            [("d", 10, q, [q], "src1") for q in seqs],
            schema="doc_id string, session long, seq long, chunk_tokens array<int>, source string",
        )).select("envelope", "chunk_tokens", "source")

    routes = spark.createDataFrame(
        [("src1", "sinkA", 0)], schema="source string, sink string, priority int"
    )
    ckpt0 = spark.createDataFrame(
        [("d", 10, 1)], schema="doc_id string, session long, last_seq long"
    )
    run1 = run_pipeline(chunks([3]), routes, ckpt0)
    run2 = run_pipeline(chunks([3, 4]), routes, run1.checkpoint_out)
    emitted = run2.reassembled.where("doc_id = 'd'").collect()
    assert [list(r["tokens"]) for r in emitted] == []
    assert [tuple(r) for r in run1.checkpoint_out.collect()] == [("d", 10, 1)]
    assert sorted(r["seq"] for r in run2.held.collect()) == [3, 4]


def test_split_rejects_accepts_valid_rejects_corrupt(spark):
    """Dead-letter split of the Arrow-RE2 parse: legit chunks never reject,
    corrupt envelopes never leak into the ok stream."""
    from pyspark.sql import functions as F

    from log_aggregator_spark.operators.parse import split_rejects

    docs = chunker.load_documents(spark, SF_DIR).limit(20)
    chunks = chunker.chunks(docs)
    corrupt = spark.createDataFrame(
        [("garbage-1", [0], "srcX"), ("doc_1_nosuffix", [1], "srcY"),
         ("a_2_3.pbData.bak", [2], "srcZ")],
        schema="envelope string, chunk_tokens array<int>, source string",
    )
    # valid envelope whose doc_id group legitimately matches EMPTY — it
    # must be accepted (a regex parse that keys non-match detection on the
    # doc_id group would reject it; ADVICE r2)
    empty_doc = spark.createDataFrame(
        [("_3_7.pbData", [9], "srcE")],
        schema="envelope string, chunk_tokens array<int>, source string",
    )
    unioned = chunks.unionByName(corrupt).unionByName(empty_doc)
    n_chunks = chunks.count()
    ok, rejects = split_rejects(unioned)
    assert ok.count() == n_chunks + 1
    assert ok.where(F.col("doc_id") == "").count() == 1
    got = sorted(r["envelope"] for r in rejects.collect())
    assert got == ["a_2_3.pbData.bak", "doc_1_nosuffix", "garbage-1"]


def test_split_rejects_overflowing_digits(spark):
    """An envelope whose session or seq does not fit in int64 passes the
    regex; the parse must reject it, not fail the task on the int64 cast."""
    from log_aggregator_spark.operators.parse import split_rejects

    over = ["x_99999999999999999999_1.pbData", "x_1_99999999999999999999.pbData"]
    chunks = spark.createDataFrame(
        [(e, [1], "s") for e in over] + [("x_1_2.pbData", [2], "s")],
        schema="envelope string, chunk_tokens array<int>, source string",
    )
    ok, rejects = split_rejects(chunks)
    assert [tuple(r) for r in ok.select("doc_id", "session", "seq").collect()] == [("x", 1, 2)]
    assert sorted(r["envelope"] for r in rejects.collect()) == sorted(over)


def test_salted_layout_holds_one_sink_per_file(spark, docs, tmp_path):
    """``route_write(cluster_by_sink=True)``, the salted layout that spreads
    a hot sink over several writer tasks: every file it writes holds one
    sink, and its rows and tokens equal those of the default layout."""
    from pyspark.sql import functions as F

    from log_aggregator_spark.operators.route import route_write

    enriched = run_pipeline(chunker.chunks(docs), chunker.routes_table(docs)).enriched
    route_write(enriched, str(tmp_path / "default"))
    route_write(enriched, str(tmp_path / "salted"), cluster_by_sink=True)

    def rows(layout):
        df = spark.read.parquet(str(tmp_path / layout))
        return sorted(
            (r["doc_id"], r["session"], r["sink"], r["source"], list(r["tokens"]))
            for r in df.collect()
        )

    per_file = (
        spark.read.parquet(str(tmp_path / "salted"))
        .groupBy(F.input_file_name().alias("file"))
        .agg(F.countDistinct("sink").alias("sinks"), F.first("sink").alias("sink"))
        .collect()
    )
    assert per_file
    for r in per_file:
        assert r["sinks"] == 1 and f"/sink={r['sink']}/" in r["file"], r
    want = rows("default")
    assert want and rows("salted") == want
